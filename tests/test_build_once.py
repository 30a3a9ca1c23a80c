"""tables.build_once: the build-once protocol every derived-artifact cache
(ANN indexes, PQ codebooks, the SemDeDup census, the media fixture, the
demo index) goes through.

The protocol rows use only the filesystem, a counting fake ``build`` and a
tmp ``ARTIFACT_ROOT``; the last row checks, end to end in Spark, that a
query served from the cache follows a rewritten fixture.
"""

from __future__ import annotations

import os
import shutil

import pytest

from coldata_spark import tables


class CountingBuild:
    def __init__(self, fail: bool = False):
        self.calls = 0
        self.fail = fail

    def __call__(self, root: str) -> None:
        self.calls += 1
        with open(os.path.join(root, "artifact"), "w") as fh:
            fh.write(str(self.calls))
        if self.fail:
            raise RuntimeError("build failed")


@pytest.fixture
def artifact_root(tmp_path, monkeypatch):
    root = tmp_path / "artifacts"
    monkeypatch.setattr(tables, "ARTIFACT_ROOT", str(root))
    return root


@pytest.fixture
def fixture_dir(tmp_path):
    d = tmp_path / "sf"
    d.mkdir()
    (d / "embeddings.parquet").write_bytes(b"v1")
    return str(d)


def test_repeat_call_reuses_dir(artifact_root, fixture_dir):
    build = CountingBuild()
    first = tables.build_once("kind", build, fixture_dir)
    ok_mtime = os.stat(os.path.join(first, "_OK")).st_mtime_ns
    assert tables.build_once("kind", build, fixture_dir) == first
    assert build.calls == 1
    assert os.stat(os.path.join(first, "_OK")).st_mtime_ns == ok_mtime


def test_content_change_rebuilds_and_prunes_completed_copy(
    artifact_root, fixture_dir
):
    build = CountingBuild()
    old = tables.build_once("kind", build, fixture_dir)
    with open(os.path.join(fixture_dir, "embeddings.parquet"), "wb") as fh:
        fh.write(b"v2 with a different size")
    new = tables.build_once("kind", build, fixture_dir)
    assert new != old
    assert os.path.dirname(new) == os.path.dirname(old)
    assert build.calls == 2
    assert not os.path.exists(old)
    assert os.path.exists(os.path.join(new, "_OK"))


def test_unmarked_sibling_survives(artifact_root, fixture_dir):
    build = CountingBuild()
    root = tables.build_once("kind", build, fixture_dir)
    in_progress = os.path.join(os.path.dirname(root), "in-progress")
    os.makedirs(in_progress)
    tables.build_once("kind", build, fixture_dir)
    assert os.path.isdir(in_progress)


def test_failed_build_leaves_no_marker_and_rebuilds(artifact_root, fixture_dir):
    failing = CountingBuild(fail=True)
    with pytest.raises(RuntimeError):
        tables.build_once("kind", failing, fixture_dir)
    (group,) = os.listdir(artifact_root)
    (key,) = os.listdir(artifact_root / group)
    assert not os.path.exists(artifact_root / group / key / "_OK")
    build = CountingBuild()
    root = tables.build_once("kind", build, fixture_dir)
    assert build.calls == 1
    assert os.path.exists(os.path.join(root, "_OK"))


def test_no_sf_dir_gives_stable_dir(artifact_root):
    build = CountingBuild()
    first = tables.build_once("media-v1", build)
    assert tables.build_once("media-v1", build) == first
    assert build.calls == 1
    assert tables.build_once("media-v2", build) != first


def test_q35_follows_rewritten_embeddings(spark, sf_dir, tmp_path, monkeypatch):
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from coldata_spark import registry
    from tests.oracle_utils import compare, duck_connection

    monkeypatch.setattr(tables, "ARTIFACT_ROOT", str(tmp_path / "artifacts"))
    copy = str(tmp_path / "sf")
    shutil.copytree(sf_dir, copy)
    os.chmod(copy, 0o755)
    spec = registry.specs()["q35_ann_ivf_search"]

    def check():
        con = duck_connection(copy)
        try:
            oracle = con.execute(spec.sql).df()
        finally:
            con.close()
        problems = compare(spec.fn(spark, copy), oracle)
        assert not problems, "; ".join(problems)
        return oracle

    before = check()
    path = os.path.join(copy, "embeddings.parquet")
    os.chmod(path, 0o644)
    t = pq.read_table(path)
    dim = len(t.column("embedding")[0])
    vecs = np.random.default_rng(0).standard_normal((t.num_rows, dim))
    emb = pa.array(list(vecs.astype(np.float32)), type=t.schema.field("embedding").type)
    col = t.schema.get_field_index("embedding")
    pq.write_table(t.set_column(col, "embedding", emb), path)
    after = check()
    assert not before.equals(after)  # the rewrite really changed the answer
