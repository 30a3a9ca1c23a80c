"""End-to-end dataset search engine — the reference's public surface
(SURVEY.md §3) as one Spark-first component.

Reference dataflow (/root/reference/src/coldata/vdb/vdb.py, demo.py,
main.py):
  update:  scan document store -> record->text -> chunk -> embed ->
           (re)build Milvus IVF index           (vdb.update, vdb.py:57-86)
  search:  embed query strings -> ANN top-k -> chunk->parent group-best ->
           sort -> join-back -> project          (vdb.search, vdb.py:88-122)
  demo:    formatted results with rank + preview (main.py:48-58, demo.py)

Spark shape: build is one batch job writing a centroid-partitioned parquet
index; search is a small-broadcast plan over the pruned index.  Index
"renew" (vdb.py:199-201) = overwrite, as in the reference.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from coldata_spark import embed as E
from coldata_spark.functions import text as TX
from coldata_spark.operators import ivf
from coldata_spark.operators.similarity import group_best, rank_top_k


@dataclass
class SearchIndex:
    """Handle to a built index: path of the partitioned vector table plus
    the (tiny) centroid table, mirroring the loaded Milvus collection."""

    path: str
    centroids: DataFrame
    nlist: int


def build_index(
    documents: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    nlist: int = 16,
    encoder_factory=E._default_encoder_factory,
) -> SearchIndex:
    """vdb.update: chunk -> embed -> KMeans cells -> partitioned write."""
    starts = TX.chunk_starts(F.length(text_col))
    chunks = documents.select(
        F.col(id_col).alias("parent_id"),
        F.col(text_col),
        F.posexplode(starts).alias("_p", "i"),
    ).select(
        "parent_id",
        F.concat_ws("_", F.col("parent_id"), F.col("i")).alias("chunk_id"),
        F.expr(
            f"substring({text_col}, 1 + i*{TX.CHUNK_STRIDE}, {TX.CHUNK_SIZE})"
        ).alias("chunk_text"),
    )
    emb = E.embed_documents(
        chunks, text_col="chunk_text", id_col="chunk_id",
        encoder_factory=encoder_factory,
    )
    vectors = emb.join(chunks.select("chunk_id", "parent_id"), "chunk_id").select(
        F.col("chunk_id").alias("vec_id"), "parent_id", "embedding"
    )
    assigned, centroids = ivf.build_ivf(vectors, nlist=nlist)
    ivf.write_ivf(assigned, path)
    # EFFECTIVE nlist: build_ivf clamps k to the training-point count, so
    # a small fresh collection gets fewer cells than requested — callers
    # reasoning about nprobe fractions need the real number
    return SearchIndex(path=path, centroids=centroids, nlist=centroids.count())


def search(
    spark: SparkSession,
    index: SearchIndex,
    documents: DataFrame,
    queries: list[str],
    k: int = 4,
    nprobe: int | None = None,
    metric: str = "COSINE",
    id_col: str = "doc_id",
    text_col: str = "text",
    encoder_factory=E._default_encoder_factory,
) -> DataFrame:
    """vdb.search + demo projection: returns one row per (query, rank) with
    the parent document's fields, best chunk score, and a text preview —
    the reference's OrderedDict-of-records result (vdb.py:101-122,
    main.py:48-58) as a DataFrame."""
    # `is None`, not truthiness: an explicit nprobe=0 must not silently
    # become probe-all
    nprobe = index.nlist if nprobe is None else nprobe
    # cache: the embed stage (per-task encoder construction) would
    # otherwise re-run for the probe, the in-cell scoring AND the final
    # q_text join — three model loads per search with a real transformer
    qdf = E.embed_queries(
        spark, queries, encoder_factory=encoder_factory
    ).cache()
    hits = ivf.search_ivf(
        spark,
        index.path,
        qdf.select("q_id", "q_vec"),
        index.centroids,
        k=k * 4,  # over-fetch chunks so the parent collapse below can
        # still fill k parents; if top hits concentrate on few many-chunk
        # documents fewer than k parents can come back (raise the factor
        # for chunk-heavy corpora)
        nprobe=nprobe,
        metric=metric,
    )
    # parent_id = the chunk id minus its TRAILING "_<ordinal>" (build_index
    # writes chunk ids as "<parent>_<i>") — recovering it from the
    # already-scanned hits avoids a SECOND, unpruned full scan of the index
    # just to re-join one column.  Stripping only the trailing ordinal keeps
    # arbitrary caller-supplied parent ids intact: substring_index(_, '_', 1)
    # would truncate any parent containing '_' at its first segment, merging
    # unrelated parents (the reference shares that split('_')[0] quirk but
    # only ever sees sha256 hex ids — vdb.py:101-122).
    parents = hits.withColumn(
        "parent_id", F.regexp_replace("vec_id", "_[0-9]+$", "")
    )
    best = group_best(parents, "parent_id", metric=metric)
    ranked = rank_top_k(best, k, metric, score="best_score", tie="parent_id")
    return (
        ranked.join(qdf.select("q_id", "q_text"), "q_id")
        .join(documents, ranked.parent_id == documents[id_col])
        .select(
            "q_id",
            "q_text",
            "rank",
            F.col("best_score").alias("score"),
            F.col(id_col),
            TX.preview(F.col(text_col), 200).alias("preview"),
        )
        .orderBy("q_id", "rank")
    )
