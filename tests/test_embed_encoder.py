"""Encoder lifecycle tests (V1/V2): one model load per task, reuse across
Arrow batches, pluggable encoder swap with identical plan shape.

Reference bar: embed.py:16-39 — model loaded once per process, then applied
to every 128-text micro-batch.
"""

from __future__ import annotations

import uuid

import numpy as np
import pytest

from coldata_spark import embed as E
from coldata_spark.tables import load


def _marker_factory(tmpdir: str):
    """Encoder factory that drops one `init_*` file per model construction
    and one `call_*` file per batch encode — visible across local-mode
    worker processes through the shared filesystem."""

    def factory():
        import pathlib

        pathlib.Path(tmpdir, f"init_{uuid.uuid4().hex}").touch()
        model = E.TinyNumpyEncoder()

        def encode(texts):
            pathlib.Path(tmpdir, f"call_{uuid.uuid4().hex}").touch()
            return model(texts)

        return encode

    return factory


def test_one_model_init_per_task_reused_across_batches(spark, sf_dir, tmp_path):
    docs = load(spark, sf_dir, "documents")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    try:
        out = E.embed_documents(docs, encoder_factory=_marker_factory(str(tmp_path)))
        n = out.count()
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert n == docs.count()
    inits = len(list(tmp_path.glob("init_*")))
    calls = len(list(tmp_path.glob("call_*")))
    assert inits >= 1
    assert calls >= 2 * inits, (
        f"encoder must be reused across Arrow batches: {inits} inits, {calls} batches"
    )
    # one init per TASK, not per batch — tasks are bounded by fan-out width
    assert inits <= 64, f"model constructed {inits} times (once per batch?)"


def test_tiny_encoder_deterministic_and_normalized():
    a = E.TinyNumpyEncoder()
    b = E.TinyNumpyEncoder()
    va = a(["the quick brown fox", "", "jumps over"])
    vb = b(["the quick brown fox", "", "jumps over"])
    np.testing.assert_array_equal(va, vb)
    norms = np.linalg.norm(va, axis=1)
    np.testing.assert_allclose(norms[[0, 2]], 1.0, rtol=1e-5)
    assert va.shape == (3, E.DEFAULT_DIM)
    assert va.dtype == np.float32


def test_encoder_swap_keeps_contract(spark, sf_dir):
    """Swapping the hashing stub for the tiny model changes values only —
    schema, row count, and plan shape stay identical (the seam the real
    transformer drops into)."""
    docs = load(spark, sf_dir, "documents").limit(50)
    hashed = E.embed_documents(docs)
    model = E.embed_documents(docs, encoder_factory=lambda: E.TinyNumpyEncoder())
    assert hashed.schema == model.schema
    assert hashed.count() == model.count() == 50
    h = {r["doc_id"]: r["embedding"] for r in hashed.collect()}
    m = {r["doc_id"]: r["embedding"] for r in model.collect()}
    assert set(h) == set(m)
    some = next(iter(h))
    assert h[some] != pytest.approx(m[some])  # different encoders, different values


def test_query_and_doc_paths_share_encoder(spark):
    """V2 routes through the same encoder as V1 (vdb.py:88-89)."""
    out = E.embed_queries(
        spark, ["alpha beta", "gamma"], encoder_factory=lambda: E.TinyNumpyEncoder()
    ).collect()
    direct = E.TinyNumpyEncoder()(["alpha beta", "gamma"])
    by_id = {r["q_id"]: np.array(r["q_vec"], dtype=np.float32) for r in out}
    np.testing.assert_allclose(by_id[0], direct[0], rtol=1e-6)
    np.testing.assert_allclose(by_id[1], direct[1], rtol=1e-6)


def test_embed_queries_contract(spark):
    """V2 embeds on the driver: one encoder per call, and the result is a
    local relation whose exact size estimate fits one IVF scoring slice."""
    from coldata_spark.operators import ivf
    from coldata_spark.operators.joins import _estimated_bytes

    loads = []
    queries = [f"query {i} about sensor data" for i in range(32)]
    out = E.embed_queries(
        spark,
        queries,
        encoder_factory=lambda: E.TinyNumpyEncoder(init_hook=lambda: loads.append(1)),
    )
    assert out.schema.simpleString() == (
        "struct<q_id:bigint,q_text:string,q_vec:array<float>>"
    )
    optimized = out._jdf.queryExecution().optimizedPlan()
    assert optimized.getClass().getSimpleName() == "LocalRelation"
    assert 0 < _estimated_bytes(out) <= ivf.COLLECT_PROBE_MAX_BYTES
    rows = out.collect()
    assert [r.q_text for r in sorted(rows, key=lambda r: r.q_id)] == queries
    assert loads == [1]  # reading the frame does not re-embed

    wide = E.embed_queries(spark, ["alpha beta", "gamma"], dim=32).collect()
    assert [len(r.q_vec) for r in wide] == [32, 32]


def test_q124_matches_hash_encoder_buckets(spark):
    """The declarative fingerprint (q124) must reproduce the mapInPandas
    hashing encoder's pre-normalization accumulation bucket-for-bucket —
    the SQL twin verifies the V1 arithmetic itself."""
    import numpy as np

    from coldata_spark.embed import DEFAULT_DIM, hash_embed_texts
    from coldata_spark.queries.vector_queries import q124_embed_fingerprint
    from coldata_spark.tables import load

    sf = "/root/testdata/sf0.001"
    docs = {r["doc_id"]: r["text"] for r in load(spark, sf, "documents").collect()}
    got: dict[int, np.ndarray] = {d: np.zeros(DEFAULT_DIM) for d in docs}
    for r in q124_embed_fingerprint(spark, sf).collect():
        got[r["doc_id"]][r["bucket"]] = r["signed_count"]

    ids = sorted(docs)
    raw = np.stack([got[d] for d in ids])
    # re-derive the encoder's pre-norm vectors: undo the L2 normalization
    # by scaling each normalized row back up by its norm
    normed = hash_embed_texts([docs[d] for d in ids])
    norms = np.linalg.norm(raw, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    np.testing.assert_allclose(normed, (raw / norms).astype(np.float32), atol=1e-6)
