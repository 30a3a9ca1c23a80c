"""End-to-end pipeline test (SURVEY §3, §5.3): ingest -> chunk -> embed ->
index -> search -> group-best -> join-back — the whole reference dataflow
(crawl -> vdb.update -> vdb.search) on fixtures, no network, no model."""

from __future__ import annotations

from pyspark.sql import functions as F

from coldata_spark import embed as E
from coldata_spark.functions import text as TX
from coldata_spark.operators import ivf
from coldata_spark.operators.similarity import group_best, knn_join
from coldata_spark.tables import load
from tests.test_ivf_index import committed


def test_full_search_pipeline(spark, sf_dir, tmp_path):
    docs = load(spark, sf_dir, "documents")

    # 1) chunk (T5, vdb.py:68-74): fixed-stride windows, chunk_id = id_pos
    starts = TX.chunk_starts(F.length("text"))
    chunks = docs.select(
        F.col("doc_id").alias("parent_id"),
        "text",
        F.posexplode(starts).alias("_p", "i"),
    ).select(
        "parent_id",
        F.concat_ws("_", F.col("parent_id"), F.col("i")).alias("chunk_id"),
        F.expr("substring(text, 1 + i*64, 128)").alias("chunk_text"),
    )
    assert chunks.count() > docs.count()  # overlap -> more chunks than docs

    # 2) embed chunks (V1) with the deterministic encoder
    emb = E.embed_documents(chunks, text_col="chunk_text", id_col="chunk_id")
    chunk_vecs = emb.join(chunks.select("chunk_id", "parent_id"), "chunk_id").select(
        F.col("chunk_id").alias("vec_id"), "parent_id", "embedding"
    )

    # 3) build IVF index (V3) and persist partitioned by centroid
    assigned, centroids = ivf.build_ivf(chunk_vecs, nlist=8)
    index = committed(str(tmp_path / "pipeline_index"), assigned, centroids)

    # 4) embed queries (V2) — take words from a known doc so top-1 is known
    target = docs.orderBy("doc_id").first()
    queries = E.embed_queries(spark, [target.text]).select("q_id", "q_vec")

    # 5) ANN search (V4), full probe == exact
    hits = ivf.search_ivf(index, queries, k=8, nprobe=8)

    # 6) group-best per parent (A2) + join-back (J2) + project (P2)
    best = group_best(
        hits.join(index.vectors.select("vec_id", "parent_id"), "vec_id"), "parent_id"
    )
    results = (
        best.join(docs, best.parent_id == docs.doc_id)
        .select("q_id", "parent_id", "best_score", "source")
        .orderBy(F.col("best_score").desc(), "parent_id")
    )
    top, runner_up = results.take(2)
    # a real tie: the runner-up's first 128-char chunk IS the target's
    # whole text, so both score the same under the bag-of-words encoder;
    # parent_id breaks it, as search() does (rank_top_k tie="parent_id")
    assert runner_up.best_score == top.best_score
    twin = docs.filter(F.col("doc_id") == runner_up.parent_id).first()
    assert twin.text[:128] == target.text
    # querying with a document's own text must retrieve that document
    assert top.parent_id == target.doc_id < runner_up.parent_id
    assert top.best_score > 0.9


def test_exact_knn_matches_reference_semantics(spark, sf_dir):
    """Chunk-hit dedup keeps the BEST chunk score per parent (vdb.py:101-110)."""
    emb = load(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    hits = knn_join(qs, emb.select("vec_id", "embedding"), k=10, metric="COSINE")
    parents = hits.withColumn("parent", (F.col("vec_id") / 2).cast("long"))
    best = group_best(parents, "parent", metric="COSINE")
    joined = best.join(
        parents, (best.parent == parents.parent) & (best.best_score == parents.score)
    )
    # every parent's best_score equals the max of its chunk scores
    mx = parents.groupBy("parent").agg(F.max("score").alias("mx"))
    chk = best.join(mx, "parent").filter(F.col("best_score") != F.col("mx"))
    assert chk.count() == 0
    assert joined.count() >= best.count()
