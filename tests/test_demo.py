"""End-to-end drive of the demo web UI (stdlib fallback server)."""

from __future__ import annotations

import urllib.parse
import urllib.request

from coldata_spark.tables import load
from tests.test_plans import jobs_run


def test_demo_serve_search_roundtrip(spark, sf_dir, tmp_path):
    from coldata_spark import search as S
    from coldata_spark.demo import serve

    docs = load(spark, sf_dir, "documents")
    idx = S.build_index(docs, str(tmp_path / "demo_idx"), nlist=4)

    srv = serve(spark, idx, docs, k=3, nprobe=None, port=0, block=False)
    try:
        port = srv.server_address[1]
        # form page renders without a query
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/") as resp:
            assert resp.status == 200
            assert b"dataset search" in resp.read()

        # a real query returns ranked docs
        sample = docs.orderBy("doc_id").first()
        q = urllib.parse.quote(" ".join(sample.text.split()[:6]))
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/?q={q}") as resp:
            assert resp.status == 200
            body = resp.read().decode()
        assert "<ol>" in body and "doc " in body
    finally:
        srv.shutdown()


def test_load_index_hit_reuses_built_centroids(spark, sf_dir, tmp_path, monkeypatch):
    """The second load_index is a cache hit that serves the index exactly
    as built: same centroids, same nprobe-2 results.  Re-fitting KMeans
    on the stored vectors (the old reuse path) moves the centroids, so
    pruned probes miss the cells the vectors were assigned to."""
    import os
    import shutil

    from coldata_spark import demo
    from coldata_spark import search as S
    from coldata_spark import tables

    monkeypatch.setattr(tables, "ARTIFACT_ROOT", str(tmp_path / "artifacts"))
    copy = str(tmp_path / "sf")
    os.makedirs(copy)
    shutil.copy(os.path.join(sf_dir, "documents.parquet"), copy)

    built = []
    real_build_index = S.build_index

    def spy(*a, **kw):
        built.append(real_build_index(*a, **kw))
        return built[-1]

    monkeypatch.setattr(S, "build_index", spy)
    fresh = demo.load_index(spark, copy)
    ok = os.path.join(os.path.dirname(fresh.path), "_OK")
    ok_mtime = os.stat(ok).st_mtime_ns
    hit = demo.load_index(spark, copy)
    assert len(built) == 1
    assert os.stat(ok).st_mtime_ns == ok_mtime
    assert hit.path == fresh.path and hit.nlist == built[0].nlist

    def cents(idx):
        return sorted((r.centroid_id, list(r.cvec)) for r in idx.centroids.collect())

    assert cents(hit) == cents(built[0])
    # the stored centroids come back as a local relation: each search's
    # probe collects them without a Spark job
    assert jobs_run(spark, lambda: len(hit.centroids.collect())) == 0

    docs = load(spark, copy, "documents")
    queries = [
        " ".join(r.text.split()[:6])
        for r in docs.orderBy("doc_id").limit(16).collect()
    ]

    def rows(idx):
        out = S.search(spark, idx, docs, queries, k=4, nprobe=2).collect()
        return sorted((r.q_id, r.rank, r.doc_id) for r in out)

    assert rows(hit) == rows(built[0])
