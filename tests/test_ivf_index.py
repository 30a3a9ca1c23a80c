"""The saved IVF index: save_index commits it, open_index reopens one
published version of it (operators/ivf.py)."""

from __future__ import annotations

import json
import os
import re

import pytest
from pyspark.sql import functions as F

from coldata_spark import search as S
from coldata_spark.operators import ivf
from coldata_spark.tables import load
from tests.test_plans import jobs_run


def _queries(emb, n=8):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )


def committed(path, assigned, centroids, metric="COSINE"):
    """``assigned`` written, saved and opened at ``path``: the handle every
    operation on a built index takes."""
    ivf.write_ivf(assigned, path)
    ivf.save_index(path, assigned, centroids, metric)
    return ivf.open_index(assigned.sparkSession, path)


def _exhaustive(idx, qs, k=4):
    """Every cell probed: the rows of exact search over the live cells."""
    return sorted(map(tuple, ivf.search_ivf(idx, qs, k=k, nprobe=idx.nlist).collect()))


@pytest.fixture
def half_index(spark, sf_dir, tmp_path):
    """An nlist-4 index over the even vec_ids, saved; the embeddings."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assigned, centroids = ivf.build_ivf(emb.filter(F.col("vec_id") % 2 == 0), nlist=4)
    path = str(tmp_path / "index")
    ivf.write_ivf(assigned, path)
    ivf.save_index(path, assigned, centroids, "COSINE")
    return path, assigned, centroids, emb


def test_open_index_round_trips_the_saved_index(spark, half_index):
    """open_index returns what save_index stored: the centroids (as a
    local relation), nlist, metric and the written frame's schema, and
    saving runs no Spark job."""
    path, assigned, centroids, _ = half_index
    assert jobs_run(spark, lambda: ivf.save_index(path, assigned, centroids, "IP")) == 0
    idx = ivf.open_index(spark, path)
    assert (idx.path, idx.nlist, idx.metric) == (path, 4, "IP")
    assert sorted(f.name for f in idx.vectors.schema) == sorted(assigned.columns)
    assert idx.vectors.schema["vec_id"].dataType == assigned.schema["vec_id"].dataType

    def cells(frame):
        return sorted((r.centroid_id, list(r.cvec)) for r in frame.collect())

    assert cells(idx.centroids) == cells(centroids)
    assert jobs_run(spark, lambda: idx.centroids.collect()) == 0
    # renamed into place: no temporary file is left beside it
    assert [n for n in os.listdir(path) if "ivf" in n] == [ivf.INDEX_META]
    with open(os.path.join(path, ivf.INDEX_META)) as fh:
        assert json.load(fh)["metric"] == "IP"


def test_open_index_is_a_snapshot(spark, half_index):
    """A handle holds the file listing of the version it opened: vectors
    appended after the open are not searched through it.  The handle
    append_to_index returns, and a fresh open_index, see them."""
    path, _, _, emb = half_index
    idx = ivf.open_index(spark, path)
    qs = _queries(emb)
    odd_selves = {(q, q) for q in range(1, 8, 2)}
    before = _exhaustive(idx, qs)
    assert not {(r[0], r[1]) for r in before} & odd_selves
    grown = ivf.append_to_index(idx, emb.filter(F.col("vec_id") % 2 == 1))
    assert _exhaustive(idx, qs) == before
    assert idx.vectors.count() == emb.count() // 2
    # the odd queries now find their own vectors through the returned handle
    assert grown.vectors.count() == emb.count()
    assert {(r[0], r[1]) for r in _exhaustive(grown, qs)} >= odd_selves
    fresh = ivf.open_index(spark, path)
    assert _exhaustive(fresh, qs) == _exhaustive(grown, qs)


def test_open_index_without_metadata_names_the_path(spark, half_index):
    """An index written by write_ivf alone was never committed."""
    path, assigned, _, _ = half_index
    bare = path + "_bare"
    ivf.write_ivf(assigned, bare)
    with pytest.raises(FileNotFoundError, match=re.escape(bare)):
        ivf.open_index(spark, bare)


def test_renew_interrupted_before_save_leaves_no_index(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A renew overwrites the index directory, the old metadata with it;
    one that stops between the overwrite and the save leaves nothing that
    open_index would serve as an index."""
    docs = load(spark, sf_dir, "documents").orderBy("doc_id").limit(40)
    path = str(tmp_path / "renewed")
    S.build_index(docs, path, nlist=4)
    assert ivf.open_index(spark, path).nlist == 4

    def crash(*a, **kw):
        raise RuntimeError("crashed before save")

    monkeypatch.setattr(ivf, "save_index", crash)
    with pytest.raises(RuntimeError, match="crashed before save"):
        S.build_index(docs, path, nlist=4)
    with pytest.raises(FileNotFoundError, match=re.escape(path)):
        ivf.open_index(spark, path)


@pytest.fixture
def skewed_index(spark, half_index):
    """half_index with a copy of cell 0's vectors appended under fresh
    ids, opened; its queries and their exhaustive rows."""
    path, assigned, _, emb = half_index
    hot = assigned.filter(F.col("centroid_id") == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    old = ivf.append_to_index(ivf.open_index(spark, path), hot)
    qs = _queries(emb)
    return path, old, qs, _exhaustive(old, qs)


def _maintenance_pass(old, monkeypatch, crash: bool):
    """A splitting maintain_ivf pass over ``old``: (new version, report).
    With crash, its save_index raises, after the pass wrote its cells."""

    def crashed(*a, **kw):
        raise RuntimeError("crashed before save")

    with monkeypatch.context() as m:
        if crash:
            m.setattr(ivf, "save_index", crashed)
        new, report = ivf.maintain_ivf(old, max_cell_ratio=1.0, min_cell_rows=1)
    assert report["splits"]
    return new, report


def _cells(idx):
    return sorted((r.centroid_id, list(r.cvec)) for r in idx.centroids.collect())


def test_maintenance_crash_before_save_keeps_the_old_index(
    spark, skewed_index, monkeypatch
):
    """maintain_ivf writes its cells under fresh ids, then commits them
    with save_index.  A pass that stops in between leaves the committed
    index as it was: open_index returns the pre-maintenance handle and
    its exhaustive search the pre-maintenance rows.  Vacuum clears the
    pass's residue, and a completed pass answers the same rows from its
    cells.  Vacuum through the stale pre-maintenance handle reclaims only
    the cells the committed version no longer lists."""
    path, old, qs, before = skewed_index
    with pytest.raises(RuntimeError, match="crashed before save"):
        _maintenance_pass(old, monkeypatch, crash=True)
    reopened = ivf.open_index(spark, path)
    assert reopened.nlist == old.nlist
    assert _cells(reopened) == _cells(old)
    assert _exhaustive(reopened, qs) == before
    assert ivf.vacuum_ivf(reopened)  # the residue

    maintained, report = _maintenance_pass(old, monkeypatch, crash=False)
    assert _cells(maintained) != _cells(old)
    assert _cells(ivf.open_index(spark, path)) == _cells(maintained)
    assert _exhaustive(maintained, qs) == before
    superseded = set(report["splits"]) | set(report["renamed"])
    assert set(ivf.vacuum_ivf(old)) == superseded
    assert _exhaustive(ivf.open_index(spark, path), qs) == before


def test_maintenance_rerun_after_crash_writes_each_vector_once(
    spark, skewed_index, monkeypatch
):
    """A pass re-run over a crashed pass's residue, with no vacuum in
    between, numbers its cells above the residue's: the committed index
    holds every vector once and answers the pre-maintenance rows."""
    path, old, qs, before = skewed_index
    vectors = old.vectors.count()
    with pytest.raises(RuntimeError, match="crashed before save"):
        _maintenance_pass(old, monkeypatch, crash=True)
    ivf.vacuum_ivf(_maintenance_pass(old, monkeypatch, crash=False)[0])
    maintained = ivf.open_index(spark, path)
    dupes = maintained.vectors.groupBy("vec_id").count().filter("count > 1")
    assert dupes.count() == 0
    assert maintained.vectors.count() == vectors
    assert _exhaustive(maintained, qs) == before
