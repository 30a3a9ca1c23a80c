"""Scale-path gates: distributed IVF probe for large query batches, and
size gates refusing accidental O(n^2) plans (round-1 verdict items 8/9).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from coldata_spark import embed as E
from coldata_spark.operators import dedup as DD
from coldata_spark.operators import ivf
from coldata_spark.operators.similarity import knn_join
from coldata_spark.tables import load


@pytest.fixture(scope="module")
def ivf_index(spark, sf_dir, tmp_path_factory):
    emb = load(spark, sf_dir, "embeddings")
    assigned, centroids = ivf.build_ivf(emb, nlist=8)
    path = str(tmp_path_factory.mktemp("gate_ivf") / "index")
    ivf.write_ivf(assigned, path)
    return path, centroids


def _queries(spark, sf_dir, n):
    docs = load(spark, sf_dir, "documents").limit(n)
    return (
        E.embed_documents(docs)
        .select(F.col("doc_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )


def _force_side(monkeypatch, side):
    """Pin search_ivf's side: collect for any query batch, or join."""
    limit = float("inf") if side == "collect" else -1
    monkeypatch.setattr(ivf, "COLLECT_PROBE_MAX_BYTES", limit)


def test_join_probe_matches_collect_probe(spark, sf_dir, ivf_index, monkeypatch):
    path, centroids = ivf_index
    qdf = _queries(spark, sf_dir, 20).cache()
    try:
        rows = {}
        for side in ("collect", "join"):
            _force_side(monkeypatch, side)
            out = ivf.search_ivf(spark, path, qdf, centroids, k=3, nprobe=2)
            rows[side] = sorted(map(tuple, out.collect()))
        assert rows["collect"] == rows["join"]
        # k=3 x 20 queries, sparse cells may under-fill
        assert 20 <= len(rows["collect"]) <= 60
    finally:
        qdf.unpersist()


def test_join_probe_never_materializes_on_driver(spark, sf_dir, ivf_index, monkeypatch):
    """Building the join-side plan must not collect() anything: a 1e6-row
    query batch should plan exactly like a 10-row one."""
    from pyspark.sql import DataFrame

    path, centroids = ivf_index
    qdf = _queries(spark, sf_dir, 50)

    def _banned(self, *a, **kw):
        raise AssertionError("driver-side collect during join-probe planning")

    _force_side(monkeypatch, "join")
    monkeypatch.setattr(DataFrame, "collect", _banned)
    monkeypatch.setattr(DataFrame, "toPandas", _banned)
    out = ivf.search_ivf(spark, path, qdf, centroids, k=3, nprobe=2)
    monkeypatch.undo()
    assert out.count() > 0


def test_pq_search_builds_luts_in_executor(spark, sf_dir, monkeypatch):
    """search_ivf_pq no longer collects the query batch for ADC tables."""
    from pyspark.sql import DataFrame

    emb = load(spark, sf_dir, "embeddings")
    index, centroids, codebook = ivf.build_ivf_pq(emb, nlist=8, m=8, k_codes=16)
    index = index.cache()
    index.count()  # materialize before banning collect
    qdf = _queries(spark, sf_dir, 10).cache()
    qdf.count()
    try:
        def _banned(self, *a, **kw):
            raise AssertionError("driver-side collect in search_ivf_pq")

        monkeypatch.setattr(DataFrame, "collect", _banned)
        monkeypatch.setattr(DataFrame, "toPandas", _banned)
        out = ivf.search_ivf_pq(index, qdf, centroids, codebook, k=2, nprobe=4)
        n = out.count()
        monkeypatch.undo()
        assert 10 <= n <= 20  # k=2 x 10 queries, sparse cells may under-fill
        # and results match the exact searcher often enough to be sane
        exact = ivf.search_exact(qdf, index.select("vec_id", "embedding"), k=2)
        got = {(r.q_id, r.vec_id) for r in out.collect()}
        want = {(r.q_id, r.vec_id) for r in exact.collect()}
        # approximate path: set-overlap recall (PQ m=8 @ nprobe 4/8 — the
        # detailed recall curve lives in test_search.py / IVF_SWEEP.md)
        assert len(got & want) / len(want) >= 0.3
    finally:
        index.unpersist()
        qdf.unpersist()


def test_knn_join_gate_refuses_unbroadcastable_queries(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    with pytest.raises(ValueError, match="search_ivf"):
        knn_join(queries, emb, k=2, gate_bytes=1)  # tiny gate simulates huge input
    # forced: the verification path still works
    out = knn_join(queries.limit(3), emb, k=2, gate_bytes=1, force=True)
    assert out.count() == 6


def test_neardup_pairs_gate(spark, sf_dir, monkeypatch):
    from coldata_spark.operators import similarity

    emb = load(spark, sf_dir, "embeddings")
    monkeypatch.setattr(similarity, "PAIR_GATE_BYTES", 1)
    with pytest.raises(ValueError, match="embedding_neardup_lsh"):
        DD.embedding_neardup_pairs(emb)
    assert DD.embedding_neardup_pairs(emb.limit(20), force=True).count() >= 0


def test_scan_shaped_rejects_limit_plans(spark, sf_dir):
    """Round-8 ADVICE: a limit-rooted plan executes as CollectLimit with
    far fewer effective partitions than file-split arithmetic predicts,
    so _scan_shaped must send it down the exact getNumPartitions path
    instead of the planner-formula sizing."""
    from coldata_spark.operators.similarity import _scan_shaped

    emb = load(spark, sf_dir, "embeddings")
    assert _scan_shaped(emb.select("vec_id", "embedding"))
    assert not _scan_shaped(emb.select("vec_id", "embedding").limit(5))
    assert not _scan_shaped(emb.limit(5))
