"""End-to-end dataset search engine — the reference's public surface
(SURVEY.md §3) as one Spark-first component.

Reference dataflow (/root/reference/src/coldata/vdb/vdb.py, demo.py,
main.py):
  update:  scan document store -> record->text -> chunk -> embed ->
           (re)build Milvus IVF index           (vdb.update, vdb.py:57-86)
  search:  embed query strings -> ANN top-k -> chunk->parent group-best ->
           sort -> join-back -> project          (vdb.search, vdb.py:88-122)
  demo:    formatted results with rank + preview (main.py:48-58, demo.py)

Spark shape: build scans the store once, chunks and embeds each chunk once
(the vectors are cached between the k-means sample's top-k job and the
placement + write), writes a centroid-partitioned parquet index and saves
it.  Index "renew" (vdb.py:199-201) = overwrite, as in the reference.

Search runs two Spark jobs and finishes on the driver, as the reference
runs only the ANN probe in Milvus and the rest in process over at most k
hits per query (make_results, vdb.py:101-122):
  1. the queries are embedded on the driver into a local relation
     (embed.embed_queries) and read back with no Spark job;
  2. scoring job: ivf._score_slices, the loop search_ivf runs too, probes the batch's cells in numpy by the placement rule
     and scans the index through the scan ivf.open_index holds (no
     inference or listing job), only in the probed cells (a static
     ``centroid_id IN (...)`` partition filter) with the in-cell Arrow
     kernel, the one Python-worker stage.  A batch over ivf.COLLECT_PROBE_MAX_BYTES of
     query matrix is scored in slices, one job each;
  3. driver finish over at most 4k hits per query: global top-4k,
     chunk -> parent, group-best, rank the top k;
  4. lookup job: at most k x nq documents, by a static ``IN`` filter on
     the id column, with their previews.
The result is a local relation holding rows already computed: search()
is eager, like the reference's vdb.search.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from coldata_spark import embed as E
from coldata_spark.functions import text as TX
from coldata_spark.functions import vector as V
from coldata_spark.operators import ivf
from coldata_spark.operators.ivf import SearchIndex
from coldata_spark.tables import local_frame

# chunks scored per result: the parent collapse can still fill k parents
# when the top hits crowd into few many-chunk documents
OVERFETCH = 4
# build_index writes chunk ids as "<parent>_<i>"; the parent is the chunk
# id minus this TRAILING ordinal, in Spark (build_index) and on the driver
# (_rank_parents).  A parent id may hold '_' itself (the reference's
# split('_')[0] only ever sees sha256 hex ids, vdb.py:101-122).
_CHUNK_ORDINAL = r"_[0-9]+$"


def build_index(
    documents: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    nlist: int = 16,
    metric: str = "COSINE",
    encoder_factory=E._default_encoder_factory,
) -> SearchIndex:
    """vdb.update: chunk -> embed -> k-means cells -> write, save and open.

    The store is scanned and each chunk embedded once: a vector's
    ``parent_id`` is its chunk id minus the trailing ordinal, cast back
    to the id column's type, so no join re-reads the store.  The vectors
    are cached for the fit's sample and the placement + write, and
    released before this returns, on error too."""
    starts = TX.chunk_starts(F.length(text_col))
    chunks = documents.select(
        F.col(id_col).alias("parent_id"),
        F.col(text_col),
        F.posexplode(starts).alias("_p", "i"),
    ).select(
        F.concat_ws("_", F.col("parent_id"), F.col("i")).alias("chunk_id"),
        F.expr(
            f"substring({text_col}, 1 + i*{TX.CHUNK_STRIDE}, {TX.CHUNK_SIZE})"
        ).alias("chunk_text"),
    )
    emb = E.embed_documents(
        chunks, text_col="chunk_text", id_col="chunk_id",
        encoder_factory=encoder_factory,
    )
    chunk_id = F.col("chunk_id")
    # a null id's chunks are plain "<i>" (concat_ws skips nulls): nothing
    # to strip, and their parent stays null
    parent = F.when(
        chunk_id.rlike(_CHUNK_ORDINAL), F.regexp_replace(chunk_id, _CHUNK_ORDINAL, "")
    )
    vectors = emb.select(
        chunk_id.alias("vec_id"),
        parent.cast(documents.schema[id_col].dataType).alias("parent_id"),
        "embedding",
    ).persist()
    try:
        assigned, centroids = ivf.build_ivf(vectors, nlist=nlist, metric=metric)
        ivf.write_ivf(assigned, path)
    finally:
        vectors.unpersist()
    ivf.save_index(path, assigned, centroids, metric)
    return ivf.open_index(documents.sparkSession, path)


def search(
    spark: SparkSession,
    index: SearchIndex,
    documents: DataFrame,
    queries: list[str],
    k: int = 4,
    nprobe: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    encoder_factory=E._default_encoder_factory,
) -> DataFrame:
    """vdb.search + demo projection: returns one row per (query, rank) with
    the parent document's fields, best chunk score, and a text preview —
    the reference's OrderedDict-of-records result (vdb.py:101-122,
    main.py:48-58) as a DataFrame.

    Eager, like the reference's vdb.search: the rows are computed by this
    call (two Spark jobs, module docstring) and returned, in (q_id, rank)
    order, as a local relation, so reading the result runs no Spark job
    and a later change to the index or the store does not alter it."""
    import numpy as np

    # `is None`, not truthiness: an explicit nprobe=0 must not silently
    # become probe-all
    nprobe = index.nlist if nprobe is None else nprobe
    qdf = E.embed_queries(spark, queries, encoder_factory=encoder_factory)
    q_type = qdf.schema["q_id"].dataType
    qrows = qdf.collect()  # a local relation: no Spark job
    q_ids = [r.q_id for r in qrows]
    hits = []
    # an empty store's index has no cells and no files to scan
    if q_ids and index.nlist:
        Q = np.asarray([r.q_vec for r in qrows], dtype=np.float64)
        for frame in ivf._score_slices(index, q_ids, Q, q_type, nprobe, k * OVERFETCH):
            pdf = frame.toPandas()
            hits += zip(pdf["q_id"].tolist(), pdf["vec_id"].tolist(),
                        pdf["score"].tolist())
    ranked = _rank_parents(hits, k, index.metric)
    found = _lookup(documents, {r[3] for r in ranked}, id_col, text_col)
    q_text = {r.q_id: r.q_text for r in qrows}
    rows = [
        (q, q_text[q], rank, score, doc_id, preview)
        for q, rank, score, parent in ranked
        for doc_id, preview in found.get(parent, ())
    ]
    schema = T.StructType([
        T.StructField("q_id", q_type),
        T.StructField("q_text", T.StringType()),
        T.StructField("rank", T.IntegerType()),
        T.StructField("score", T.DoubleType()),
        T.StructField(id_col, documents.schema[id_col].dataType),
        T.StructField("preview", T.StringType()),
    ])
    columns = list(zip(*rows)) or [()] * len(schema.fields)
    return local_frame(spark, dict(zip(schema.names, columns)), schema)


def _rank_parents(hits, k: int, metric: str) -> list[tuple]:
    """(q_id, rank, best score, parent id) of each query's top-k parents,
    in (q_id, rank) order, from the scored chunk ``hits`` (q_id, vec_id,
    score).  The Spark plan ``rank_top_k(k * OVERFETCH)`` -> parent strip
    -> ``group_best`` -> ``rank_top_k(tie="parent_id")``, over at most
    k * OVERFETCH rows per query kept by the kernel: scores rank in the
    metric's direction, chunk ties to the lower vec_id, parent ties to
    the lower parent id."""
    sign = -1.0 if V.METRIC_DESCENDING[metric.upper()] else 1.0
    by_q: dict = {}
    for q, vec_id, score in hits:
        by_q.setdefault(q, []).append((sign * score, vec_id))
    out = []
    for q in sorted(by_q):
        best: dict = {}
        for key, vec_id in sorted(by_q[q])[: k * OVERFETCH]:
            # hits come best first, so a parent's first hit is its best
            best.setdefault(re.sub(_CHUNK_ORDINAL, "", vec_id), key)
        top = sorted((key, parent) for parent, key in best.items())[:k]
        out += [(q, r, sign * key, p) for r, (key, p) in enumerate(top, 1)]
    return out


def _lookup(documents: DataFrame, parents: set, id_col: str, text_col: str) -> dict:
    """{parent id: [(document id, preview), ...]} for the ranked parents,
    in one Spark job with a static ``IN`` filter on ``id_col``.  A parent
    id is the document id cast to string (build_index's chunk ids), so
    ids match on value whatever their type (the cast is a no-op on string
    ids); a duplicated id yields every matching row, as an inner join
    would."""
    if not parents:
        return {}
    key = F.col(id_col).cast("string")
    found: dict = {}
    for k, doc_id, preview in (
        documents.filter(key.isin(sorted(parents)))
        .select(key, id_col, TX.preview(F.col(text_col), 200))
        .collect()
    ):
        found.setdefault(k, []).append((doc_id, preview))
    return found
