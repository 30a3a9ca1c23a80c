"""Scale-path gates: the IVF probe's and placement's one nearest-cell
rule, and size gates refusing accidental O(n^2) plans (round-1 verdict
items 8/9).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from coldata_spark.operators import dedup as DD
from coldata_spark.operators import ivf
from coldata_spark.operators.similarity import knn_join
from coldata_spark.tables import load
from tests.oracle_utils import knn_expr


def test_driver_probe_matches_expr_probe(spark):
    """The driver's numpy probe (_probe_cells) picks the cells the
    zero-Python expression reference (tests/oracle_utils.knn_expr) picks,
    per metric, and placement (assign_to_centroids) puts each query
    vector in its first probed cell: one rule.  Cell 2 duplicates cell
    0, so their tie must go to the lower id; query 11 is all-zero and
    must score 0 (never NaN) against every cell."""
    import numpy as np

    from coldata_spark.operators.similarity import _fetch_queries, _score_matrix
    from coldata_spark.tables import local_frame

    cvecs = [[1.0, 0, 0, 0], [0, 1.0, 0, 0], [1.0, 0, 0, 0],
             [0.5, 0.5, 0.5, 0.5], [-1.0, 0, 0, 0], [2.0, 1.0, 0, 0]]
    nlist = len(cvecs)
    cents = local_frame(
        spark, {"centroid_id": list(range(nlist)), "cvec": cvecs},
        "centroid_id bigint, cvec array<double>",
    )
    cells_as_vectors = cents.select(
        F.col("centroid_id").alias("vec_id"), F.col("cvec").alias("embedding")
    )
    qdf = local_frame(
        spark,
        {"q_id": [10, 11, 12],
         "q_vec": [[1.0, 0, 0, 0], [0.0, 0, 0, 0], [0.3, -0.2, 0.9, 0.1]]},
        "q_id bigint, q_vec array<double>",
    )
    q_ids, Q = _fetch_queries(qdf, "q_id", "q_vec")
    assert (_score_matrix(np.asarray(cvecs), Q, "COSINE")[:, 1] == 0).all()
    for metric in ("COSINE", "IP", "L2"):
        for nprobe in (0, 1, 2, nlist, nlist + 3):
            want = sorted(map(tuple, knn_expr(
                qdf, cells_as_vectors, k=nprobe, metric=metric, score_decimals=None,
            ).select("q_id", "vec_id").collect()))
            cells = ivf._probe_cells(q_ids, Q, cents, nprobe, metric)
            got = sorted((q, c) for q, cs in cells.items() for c in cs)
            assert got == want, (metric, nprobe)
            assert len(got) == len(q_ids) * min(nprobe, nlist), (metric, nprobe)
            if nprobe == 1:
                placed = ivf.assign_to_centroids(qdf, cents, "q_vec", metric)
                got = sorted(map(tuple, placed.select("q_id", "centroid_id").collect()))
                assert got == want, metric
        # query 10 ties cells 0 and 2 for one place: the lower id wins
        nprobe, want = {"COSINE": (1, [0]), "L2": (1, [0]), "IP": (2, [5, 0])}[metric]
        assert ivf._probe_cells(q_ids, Q, cents, nprobe, metric)[10] == want, metric
        # every cell ties for the zero query
        assert ivf._probe_cells(q_ids, Q, cents, 1, metric)[11] == [0], metric
        # probing past nlist probes every cell
        past, every = (ivf._probe_cells(q_ids, Q, cents, n, metric) for n in (nlist + 3, nlist))
        assert past == every, metric


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
