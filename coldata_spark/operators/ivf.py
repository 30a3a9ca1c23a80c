"""IVF_FLAT vector index, Spark-first (SURVEY.md §2.8 V3/V4).

The reference builds a Milvus IVF_FLAT index (nlist=128 k-means cells,
/root/reference/src/coldata/vdb/vdb.py:196-212, config.yml:79-82) and probes
nprobe cells per search (vdb.py:88-100).  Spark-native re-expression:

  build:  numpy k-means fit on a bounded driver sample of the vectors ->
          assign every vector its metric-nearest centroid_id (the same
          rule append and probe use) -> write the vector table AS PARQUET
          PARTITIONED BY centroid_id.  Milvus's in-memory cell skip becomes
          parquet partition pruning — the scan literally never reads the
          cells a query doesn't probe.  Rebuild (renew, vdb.py:199-201) is
          mode("overwrite"); save_index commits it, open_index loads it
          as the SearchIndex handle every later operation takes: search,
          append, maintenance, vacuum and streaming ingest read the
          centroids, metric and path from it.

  search: score queries against the (tiny, collected) centroid table ->
          pick nprobe cells per query by the placement rule (_nearest)
          -> scan ONLY those partitions (pushed-down centroid_id IN (...)
          filter) -> exact distance within cells -> per-query top-k.

At 100 TB: the k-means fit reads at most SAMPLE_PER_CENTROID x nlist
vectors (not the full corpus); the assign pass is one shuffle-free map;
search IO drops by ~nprobe/nlist.
nprobe == nlist degenerates to the exact path, matching the reference's own
operating point (config.yml:81-82) — recall 1.0 by construction.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from coldata_spark.functions import vector as V
from coldata_spark.operators.similarity import (
    _fetch_queries,
    _knn_scored_arrow,
    _score_matrix,
    knn_join,
    rank_top_k,
)


# Driver sample rows per centroid a k-means fit reads at most (the Faiss
# max_points_per_centroid guideline): a fit costs O(nlist), not O(corpus).
SAMPLE_PER_CENTROID = 256


def build_ivf(
    vectors: DataFrame,
    nlist: int = 16,
    vec_col: str = "embedding",
    metric: str = "COSINE",
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Fit nlist k-means cells and return (assigned_vectors, centroids).

    assigned_vectors = input + centroid_id int column;
    centroids = (centroid_id, cvec array<double>).

    The fit reads a driver sample of at most SAMPLE_PER_CENTROID * nlist
    vectors; nlist clamps to its distinct points (none for an empty
    input).  assign_to_centroids places every vector in its
    ``metric``-nearest cell by _nearest, the rule append, maintenance
    and every probe share."""
    sample = _sample_vectors(vectors, vec_col, SAMPLE_PER_CENTROID * nlist)
    centers = dict(enumerate(_kmeans(sample, nlist, seed, metric).tolist()))
    centroids = _centroid_frame(vectors.sparkSession, centers)
    return assign_to_centroids(vectors, centroids, vec_col, metric), centroids


def _sample_vectors(vectors: DataFrame, vec_col: str, limit: int):
    """At most ``limit`` vectors as an (n, dim) float64 array: the first in
    xxhash64 order of the vector, a pseudo-random sample independent of
    partitioning, fetched by one top-k job as Arrow batches (toPandas; a
    row-serialized collect is ~6x slower on arrays, SCALE.md "q30")."""
    import numpy as np

    pdf = vectors.select(vec_col).orderBy(F.xxhash64(vec_col)).limit(limit).toPandas()
    # Pre-check raggedness directly rather than parsing np.stack's
    # exception text (numpy wording is not a stable API); np.asarray
    # conversion errors (non-numeric payloads) keep their own diagnosis
    if len({len(v) for v in pdf[vec_col]}) > 1:
        raise ValueError(f"ragged vectors in {vec_col!r} (mixed lengths)")
    if not len(pdf):
        return np.zeros((0, 0))
    return np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])


def _kmeans(x, k: int, seed: int, metric: str = "L2"):
    """k-means++ seeding, then 20 Lloyd's iterations over the rows of ``x``:
    a (min(k, distinct rows), dim) center array.  For COSINE it is
    spherical (rows and centers unit-normalized), so its squared-distance
    argmin is the cosine argmax assign_to_centroids ranks cells by."""
    import numpy as np

    def unit(a):
        return a / np.maximum(np.linalg.norm(a, axis=1, keepdims=True), 1e-12)

    spherical = metric.upper() == "COSINE"
    x = unit(x) if spherical else x
    x2 = (x * x).sum(axis=1)

    def sqdist(c):
        return np.maximum(x2[:, None] - 2.0 * x @ c.T + (c * c).sum(axis=1), 0.0)

    k = min(k, len(np.unique(x, axis=0)) if len(x) else 0)
    rng = np.random.default_rng(seed)
    centers = x[rng.integers(len(x), size=min(k, 1))]
    near = sqdist(centers).min(axis=1, initial=np.inf)
    # draws ~ squared distance to the nearest seed: never a seed's duplicate
    while len(centers) < k:
        c = x[rng.choice(len(x), p=near / near.sum())][None]
        centers = np.vstack([centers, c])
        near = np.minimum(near, sqdist(c)[:, 0])
    for _ in range(20 if len(centers) else 0):
        labels = sqdist(centers).argmin(axis=1)
        sums = np.zeros_like(centers)
        np.add.at(sums, labels, x)
        counts = np.bincount(labels, minlength=len(centers))
        hit = counts > 0  # an emptied cell keeps its previous center
        centers[hit] = sums[hit] / counts[hit, None]
        centers = unit(centers) if spherical else centers
    return centers


def _centroid_frame(spark: SparkSession, centers: dict) -> DataFrame:
    """The centroid table (centroid_id bigint, cvec array<double>) from
    {centroid id: center}, as a JVM-local relation: every probe scans it,
    and a local relation's scans start no Python worker."""
    from coldata_spark.tables import local_frame

    ids = sorted(centers)
    return local_frame(
        spark,
        {"centroid_id": ids, "cvec": [centers[i] for i in ids]},
        "centroid_id bigint, cvec array<double>",
    )


def write_ivf(assigned: DataFrame, path: str) -> None:
    """Persist the index: parquet partitioned by centroid_id (S9's Milvus
    insert+flush; renew = overwrite)."""
    _write_cells(assigned, path, "overwrite")


def _write_cells(assigned: DataFrame, path: str, mode: str) -> None:
    assigned.repartition("centroid_id").write.mode(mode).partitionBy(
        "centroid_id"
    ).parquet(path)


# save_index's file in the index directory: Spark's listing skips "_" names
INDEX_META = "_ivf.json"


@dataclass
class SearchIndex:
    """One published version of an index: the ``vectors`` scan, opened once
    so every search reuses its file listing, the centroids as a local
    relation, ``nlist`` (build_ivf may clamp it) and the cells' ``metric``."""

    path: str
    vectors: DataFrame
    centroids: DataFrame
    nlist: int
    metric: str


def save_index(path: str, vectors: DataFrame, centroids: DataFrame, metric: str) -> None:
    """Commit the index at ``path``: the centroids, the ``metric`` and the
    schema of ``vectors``, the frame written there, as one INDEX_META file,
    written aside and renamed over the old one, so a reader opens the old
    version or the new one.  Runs no Spark job when ``centroids`` is a
    local relation."""
    cids, C = _centroid_matrix(centroids)
    meta = {"metric": metric, "schema": vectors.schema.jsonValue(),
            "cells": list(zip(cids.tolist(), C.tolist()))}
    tmp = os.path.join(path, INDEX_META + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, os.path.join(path, INDEX_META))


def open_index(spark: SparkSession, path: str) -> SearchIndex:
    """The index save_index last committed at ``path``.  Raises
    FileNotFoundError naming ``path`` when it holds no committed index."""
    meta = _committed(path)
    cells = dict(meta["cells"])
    vectors = spark.read.schema(T.StructType.fromJson(meta["schema"])).parquet(path)
    centroids = _centroid_frame(spark, cells)
    return SearchIndex(path, vectors, centroids, len(cells), meta["metric"])


def _committed(path: str) -> dict:
    """The INDEX_META save_index last committed at ``path``."""
    try:
        with open(os.path.join(path, INDEX_META)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        raise FileNotFoundError(f"no IVF index at {path}: no {INDEX_META}") from None


def assign_to_centroids(
    vectors: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    metric: str = "COSINE",
    n: int = 1,
) -> DataFrame:
    """Each vector's ``n`` nearest FIXED cells (placement: 1; the probe:
    nprobe), one output row per cell and none for ``n <= 0``: one
    shuffle-free mapInArrow map that scores each Arrow batch against the
    collected centroid matrix by ``_nearest``, the driver probe's rule,
    so ties go to the lowest centroid_id.  No join, no window, no
    synthetic row ids: a stage retry recomputes a row's cells exactly.

    Input columns pass through; ``centroid_id`` (int) replaces an
    existing column of that name or is appended.  A null vector, or one
    with a null element, has no score and goes to the lowest centroid_ids;
    a vector whose length differs from the centroids' raises ValueError.
    With no centroids every row's centroid_id is null."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    cids, C = _centroid_matrix(centroids)
    if not len(cids):
        return vectors.withColumn("centroid_id", F.lit(None).cast("int"))
    dim, names, fields = C.shape[1], vectors.columns, vectors.schema.fields
    at = names.index("centroid_id") if "centroid_id" in names else len(names)
    cid_field = T.StructField("centroid_id", T.IntegerType())
    schema = T.StructType(fields[:at] + [cid_field] + fields[at + 1 :])
    v = names.index(vec_col)

    def place(batches):
        for batch in batches:
            vec = batch.column(v)
            bad = set(pc.list_value_length(vec).drop_null().to_pylist()) - {dim}
            if bad:
                raise ValueError(
                    f"{vec_col!r} holds a vector of length {min(bad)}, "
                    f"the centroids {dim}"
                )
            # null rows and null elements read as NaN: all the row's scores
            # are NaN, a tie, so the lowest centroid_ids win
            X = np.full((batch.num_rows, dim), np.nan)
            flat = pc.cast(vec.flatten(), pa.float64()).to_numpy(zero_copy_only=False)
            X[vec.is_valid().to_numpy(zero_copy_only=False)] = flat.reshape(-1, dim)
            best = _nearest(X, C, cids, n, metric)
            if best.shape[1] != 1:  # one output row per (row, cell)
                batch = batch.take(np.repeat(np.arange(batch.num_rows), best.shape[1]))
            cols = batch.columns
            cols[at : at + 1] = [pa.array(best.ravel(), pa.int32())]
            yield pa.RecordBatch.from_arrays(cols, names=schema.names)

    return vectors.mapInArrow(place, schema)


def _centroid_matrix(centroids: DataFrame):
    """The collected centroid table as (ids ascending, (nlist, dim)
    float64 matrix): no Spark job when it is a local relation, as
    build_ivf returns."""
    import numpy as np

    rows = sorted(centroids.select("centroid_id", "cvec").collect())
    cids = np.asarray([r.centroid_id for r in rows], dtype=np.int64)
    return cids, np.asarray([r.cvec for r in rows], dtype=np.float64)


def _nearest(X, C, cids, n: int, metric: str):
    """Each row of ``X``'s ``n`` best cells among ``C`` (ids ``cids``,
    ascending) as an (rows, <= n) id array: a stable sort in the metric's
    direction, ties to the lowest centroid_id.  The one rule, in one
    orientation, assign_to_centroids and _probe_cells score by."""
    import numpy as np

    S = _score_matrix(X, C, metric)
    key = -S if V.METRIC_DESCENDING[metric.upper()] else S
    return cids[np.argsort(key, axis=1, kind="stable")[:, : max(n, 0)]]


def append_to_index(index: SearchIndex, new_vectors: DataFrame) -> SearchIndex:
    """Incremental index growth: place new vectors in the index's FIXED
    cells by its metric and append them into their partitions.  Returns
    the index reopened, whose scan lists the appended files; ``index``
    stays the snapshot it was.  The reference can only drop-and-rebuild
    (renew, vdb.py:199-201); partition-append makes ingest incremental —
    cells drift only if the data distribution does, at which point
    maintain_ivf splits them or build_ivf refits (the standard IVF
    maintenance trade)."""
    _write_cells(_placed(index, new_vectors), index.path, "append")
    return open_index(new_vectors.sparkSession, index.path)


def _placed(index: SearchIndex, vectors: DataFrame) -> DataFrame:
    """``vectors`` placed in ``index``'s fixed cells by its metric."""
    return assign_to_centroids(vectors, index.centroids, metric=index.metric)


# The most query-matrix bytes one scoring job carries in its kernel's
# closure: a larger batch is scored in slices (_score_slices).
COLLECT_PROBE_MAX_BYTES = 1 << 20


def search_ivf(index: SearchIndex, queries: DataFrame, k: int = 4, nprobe: int = 4) -> DataFrame:
    """ANN top-k over ``index``: nprobe cells per query, exact inside.

    The (q_id, q_vec) batch is fetched to the driver once, then probed
    by ``_nearest``, build_ivf's placement rule, and scored by
    ``_score_slices``, search.search's loop: a static ``centroid_id IN
    (...)`` filter prunes index partitions at planning, and knn_join's
    Arrow kernel masks each query to its own cells.  No join, no shuffle
    before the per-query top-k."""
    q_ids, Q = _fetch_queries(queries, "q_id", "q_vec")
    q_type = queries.schema["q_id"].dataType
    # nothing probed: the empty scoring frame keeps the result schema
    frames = _score_slices(index, q_ids, Q, q_type, nprobe, k) or [
        _score_cells(index, q_ids, Q, q_type, {}, k)
    ]
    return rank_top_k(reduce(DataFrame.union, frames), k, index.metric)


def _score_slices(index: SearchIndex, q_ids, Q, q_type, nprobe, k) -> list:
    """The driver-held batch (``q_ids``, matrix ``Q``, id type ``q_type``)
    probed by ``_probe_cells`` and scored in its cells of ``index``: one
    (q_id, vec_id, score) frame per slice of at most
    ``COLLECT_PROBE_MAX_BYTES`` of ``Q`` (one query at least).  A slice
    that probes no cell has no frame, so it runs no job."""
    cells = _probe_cells(q_ids, Q, index.centroids, nprobe, index.metric)
    row = Q.itemsize * Q.shape[1]
    fits = Q.nbytes <= COLLECT_PROBE_MAX_BYTES  # so an inf limit is one slice
    step = max(1, len(Q) if fits else int(COLLECT_PROBE_MAX_BYTES // row))
    frames = []
    for lo in range(0, len(q_ids), step):
        ids = q_ids[lo : lo + step]
        part = {q: cells[q] for q in ids}
        if any(part.values()):
            frames.append(_score_cells(index, ids, Q[lo : lo + step], q_type, part, k))
    return frames


def _score_cells(index: SearchIndex, q_ids, Q, q_type, cells, k) -> DataFrame:
    """One slice's scoring: the driver-held batch against only the
    probed cells of ``index`` (a static ``centroid_id IN (...)`` filter
    on its scan), each query masked to its own ``cells`` in knn_join's
    Arrow kernel.  Returns (q_id, vec_id, score) with the score rounded
    to 6 decimals in Spark (HALF_UP), before the global per-query top-k:
    the kernel keeps a partial top-k per batch."""
    probed = sorted(set().union(*cells.values()))
    scored = _knn_scored_arrow(
        q_ids, Q, q_type, index.vectors.filter(F.col("centroid_id").isin(probed)),
        k, index.metric, "q_id", "vec_id", "embedding",
        score_decimals=6, exclude_self=False, cells=cells,
    )
    return scored.withColumn("score", F.round(F.col("score"), 6))


def _probe_cells(q_ids, Q, centroids, nprobe, metric) -> dict:
    """{query id: its nprobe best centroid ids}, on the driver: ``Q``
    against the collected centroid table by ``_nearest``, the rule
    assign_to_centroids places vectors by, so it returns the cells that
    assign_to_centroids(..., n=nprobe) gives the query rows."""
    cids, C = _centroid_matrix(centroids)
    if not len(cids) or not q_ids:
        return {q: [] for q in q_ids}
    return dict(zip(q_ids, _nearest(Q, C, cids, nprobe, metric).tolist()))


def search_exact(
    queries: DataFrame, vectors: DataFrame, k: int = 4, metric: str = "COSINE"
) -> DataFrame:
    """Brute-force baseline used for recall measurement."""
    return knn_join(queries, vectors.select("vec_id", "embedding"), k=k, metric=metric)


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's compression half)
# ---------------------------------------------------------------------------
def pq_train(
    vectors: DataFrame,
    m: int = 4,
    k: int = 16,
    vec_col: str = "embedding",
    sample_limit: int = 10000,
    seed: int = 42,
):
    """Train a product quantizer: split each D-dim vector into ``m``
    subvectors of D/m dims, k-means each subspace into ``k`` codes.

    Returns a numpy codebook of shape (m, k, D/m).  Training runs on a
    driver-side SAMPLE (_kmeans, deterministic seed) — at 100 TB the
    codebook is trained once on ~10k vectors and broadcast; training cost
    is O(sample), never O(corpus).  Compression: D floats -> m uint8 codes
    (e.g. 64-dim f32 = 256 B -> 4 B, 64x), which is what lets a trillion-
    vector index live in cluster RAM for ADC scanning.
    """
    import numpy as np

    sample = _sample_vectors(vectors, vec_col, sample_limit)
    if not sample.size:
        raise ValueError("pq_train: no vectors to train on")
    n, d = sample.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    # codes cannot exceed the training population (the same clamp as
    # build_ivf's cells): a fresh small collection trains a smaller
    # codebook and re-trains bigger on the next renew
    k, sub = min(k, n), d // m
    codebook = np.zeros((m, k, sub))
    for j in range(m):
        centers = _kmeans(sample[:, j * sub : (j + 1) * sub], k, seed + j)
        # a subspace with fewer distinct values than k repeats its centers:
        # a duplicate code never beats its first copy in pq_encode's argmin
        codebook[j] = centers[np.arange(k) % len(centers)]
    return codebook


def pq_encode(
    vectors: DataFrame, codebook, vec_col: str = "embedding", id_col: str = "item_id"
) -> DataFrame:
    """Encode every vector to its m uint8 PQ codes (array<int>), via an
    Arrow-batched mapInPandas with the broadcast codebook — map-only, no
    shuffle, embarrassingly parallel."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    m, k, sub = codebook.shape
    bc = vectors.sparkSession.sparkContext.broadcast(codebook)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cb = bc.value
        for pdf in batches:
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            codes = np.zeros((len(x), m), dtype=np.int64)
            for j in range(m):
                xs = x[:, j * sub : (j + 1) * sub]
                d2 = ((xs[:, None, :] - cb[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col], "pq_codes": list(codes)})

    # id type derived from the input (string/int32 ids are valid anywhere
    # else in the vector stack; hardcoding long broke them here)
    id_type = vectors.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, pq_codes array<long>"
    return vectors.select(id_col, vec_col).mapInPandas(run, schema=schema)


def pq_search(
    codes: DataFrame,
    query_vec,
    codebook,
    top_k: int = 10,
    id_col: str = "item_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: the query stays full-precision; each
    database vector's distance is approximated by summing, per subspace,
    the precomputed ||q_sub - code_center||^2 from an m x k lookup table.

    Per scanned code the cost is m table lookups + adds — no float vector
    is ever touched, which is the point: at scale the scan is memory-
    bandwidth-bound over 4-16 B/vector instead of 256-4096 B/vector.
    Returns (id, approx_l2sq) ascending — a candidate list to re-rank
    full-precision (IVF-PQ convention).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    m, k, sub = codebook.shape
    q = np.asarray(query_vec, dtype=np.float64)
    lut = np.zeros((m, k))
    for j in range(m):
        diff = codebook[j] - q[j * sub : (j + 1) * sub][None, :]
        lut[j] = (diff**2).sum(axis=1)
    spark = codes.sparkSession
    bc = spark.sparkContext.broadcast(lut)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        table = bc.value
        for pdf in batches:
            c = np.stack(pdf["pq_codes"].to_numpy())
            dist = table[np.arange(m)[None, :], c].sum(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col], "approx_l2sq": dist})

    scored = codes.mapInPandas(run, schema=f"{id_col} long, approx_l2sq double")
    return scored.orderBy(F.col("approx_l2sq").asc(), F.col(id_col)).limit(top_k)


def build_ivf_pq(
    vectors: DataFrame,
    nlist: int = 16,
    m: int = 8,
    k_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """IVF-PQ index build: coarse KMeans cells (IVF half) + per-subspace
    product codes (PQ half).  Returns (index, centroids, codebook) where
    index = (id, embedding, centroid_id, pq_codes).

    This is the production trillion-vector layout: partition pruning cuts
    WHICH rows are scanned (nprobe/nlist), PQ cuts the BYTES per scanned
    row (D*4 -> m).  The full-precision vector column stays in the parquet
    (for re-ranking) but the ADC scan never reads it — column pruning
    keeps it on disk.  write_ivf, save_index and open_index make it the
    handle search_ivf_pq takes.
    """
    assigned, centroids = build_ivf(vectors, nlist=nlist, vec_col=vec_col)
    codebook = pq_train(vectors, m=m, k=k_codes, vec_col=vec_col)
    codes = pq_encode(vectors, codebook, vec_col=vec_col, id_col=id_col)
    return assigned.join(codes, id_col), centroids, codebook


def search_ivf_pq(
    index: SearchIndex,
    queries: DataFrame,
    codebook,
    k: int = 4,
    nprobe: int = 4,
    overfetch: int = 4,
) -> DataFrame:
    """Full production ANN path over ``index``, whose scan holds each
    vector's ``pq_codes`` (build_ivf_pq): IVF cell pruning -> PQ ADC
    candidate scan -> full-precision re-rank of k*overfetch candidates.

    1. probe: assign_to_centroids with ``n = nprobe`` (rows carry q_vec;
       a broadcast semi-join of the cells prunes the index at the scan);
    2. ADC scan: per-query m x k lookup tables (dot-product tables for
       COSINE/IP, squared-distance for L2) broadcast to executors; each
       candidate costs m lookups over its codes — the embedding column is
       never read (column pruning);
    3. top k*overfetch per query by approximate score (window);
    4. re-rank: join ONLY those candidates back to full vectors, exact
       score, top-k.  PQ error affects recall, never returned scores.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    m, kc, sub = codebook.shape
    vectors, metric = index.vectors, index.metric

    probe = assign_to_centroids(
        queries.select("q_id", "q_vec"), index.centroids, "q_vec", metric, n=nprobe
    )

    # Keep the probed cell set DISTRIBUTED: a broadcast semi-join prunes the
    # index without funneling probe lists through the driver, so a 1e6-query
    # batch plans exactly like a 10-query batch.
    pruned = vectors.join(
        F.broadcast(probe.select("centroid_id").distinct()), "centroid_id", "left_semi"
    ).join(F.broadcast(probe), "centroid_id")

    # ADC lookup tables are built INSIDE the Arrow UDF from the broadcast
    # codebook and each query's own q_vec (carried by the probe rows),
    # cached per task — nothing about the query batch is ever collect()ed.
    # Cost per distinct query per task is one (m, kc, D/m) einsum: trivial
    # next to the candidate scan it feeds.
    # reconstructed-vector norm table for COSINE: ||v̂||^2 = sum_j ||c_j||^2
    norm_lut = (codebook**2).sum(axis=2)  # (m, kc)
    bc = vectors.sparkSession.sparkContext.broadcast((codebook, norm_lut, metric.upper()))

    def adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cb, nlut, met = bc.value
        mm, kk, ss = cb.shape
        js = np.arange(mm)
        luts: dict[int, np.ndarray] = {}
        qnorms: dict[int, float] = {}
        for pdf in batches:
            codes = np.stack(pdf["pq_codes"].to_numpy())
            out = np.zeros(len(pdf))
            for q_id in pdf["q_id"].unique():
                mask = (pdf["q_id"] == q_id).to_numpy()
                if q_id not in luts:
                    qv = np.asarray(
                        pdf["q_vec"][mask].iloc[0], dtype=np.float64
                    )
                    lut = np.zeros((mm, kk))
                    for j in range(mm):
                        qs = qv[j * ss : (j + 1) * ss]
                        if met == "L2":
                            lut[j] = ((cb[j] - qs[None, :]) ** 2).sum(axis=1)
                        else:  # dot-product decomposition for IP/COSINE
                            lut[j] = cb[j] @ qs
                    luts[q_id] = lut
                    qnorms[q_id] = float(np.linalg.norm(qv))
                t = luts[q_id]
                s = t[js[None, :], codes[mask]].sum(axis=1)
                if met == "COSINE":
                    vnorm = np.sqrt(nlut[js[None, :], codes[mask]].sum(axis=1))
                    s = s / np.maximum(vnorm * qnorms[q_id], 1e-12)
                out[mask] = s
            yield pd.DataFrame(
                {"q_id": pdf["q_id"], "vec_id": pdf["vec_id"], "approx": out}
            )

    # id types derived from the inputs, like the arrow scorers do — a
    # string/int32 q_id or vec_id must survive the Arrow stage unchanged
    q_id_t = queries.schema["q_id"].dataType.simpleString()
    vec_id_t = pruned.schema["vec_id"].dataType.simpleString()
    scored = pruned.select("q_id", "vec_id", "pq_codes", "q_vec").mapInPandas(
        adc, schema=f"q_id {q_id_t}, vec_id {vec_id_t}, approx double"
    )
    cands = rank_top_k(
        scored, k * overfetch, metric, score="approx", rank="_r"
    ).select("q_id", "vec_id")

    rerank = (
        cands.join(vectors.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(queries), "q_id")
    )
    exact = F.round(
        V.score_expr(
            metric, V.as_double(F.col("q_vec")), V.as_double(F.col("embedding"))
        ),
        6,
    )
    return rank_top_k(
        rerank.select("q_id", "vec_id", exact.alias("score")), k, metric
    )


# ---------------------------------------------------------------------------
# Index maintenance under sustained ingest (round-10 verdict ask #2).
#
# append_to_index / streaming vector ingest grow FIXED cells; under drift
# the hottest cells skew, and with them probe cost (a probed hot cell
# scans ~ratio x the average) and recall-per-nprobe.  The reference's only
# answer is drop-and-rebuild (renew, vdb.py:199-201) — O(corpus) writes
# per maintenance pass.  The incremental answer here is cell-level
# copy-on-write, whose writes stay O(touched cells) at 100 TB:
#
#   audit      per-cell size profile of the live cells (the q133
#              skew-profile shape applied to the index's own partitions).
#   split      each hot cell's members fit a LOCAL k-means (a bounded
#              sample of that cell, partition-pruned).  Every live row is
#              then re-assigned against the new table by the build's rule,
#              so rows of a neighbouring cell that a sub-centroid now
#              attracts move too.  The hot cells and every cell that loses
#              or gains rows are written again under FRESH centroid ids.
#              Purely additive: no live partition is touched.
#   commit     maintain_ivf's own save_index of the new centroid table
#              (untouched cells, sub-centroids, renamed touched cells) is
#              the metadata pointer swap.  Searches probe only cells
#              listed in their handle's centroid table, so readers holding
#              the OLD handle never see the new cells and readers of the
#              NEW one never probe a superseded cell — no reader ever sees
#              a vector twice, and a crash anywhere before the save leaves
#              the index exactly as it was (the part-built cells are
#              unreferenced bytes, not corruption).
#   vacuum     partition dirs not referenced by the committed table are
#              garbage — deleted post-commit, and a re-run heals any
#              crash residue (the Iceberg/Delta orphan-file pattern).
# ---------------------------------------------------------------------------


def audit_ivf_cells(index: SearchIndex) -> DataFrame:
    """Cell-size skew profile of ``index``'s live cells: (centroid_id,
    n, ratio) with ratio = n / mean-cell-size.  Scans only the partition
    column (no data pages beyond row-group metadata) of the cells its
    centroid table lists, so pre-vacuum orphan dirs from an interrupted
    or superseded maintenance pass don't skew the audit.  The global
    window is over nlist rows — bounded by configuration, not data."""
    counts = _live_vectors(index).groupBy("centroid_id").agg(F.count(F.lit(1)).alias("n"))
    return counts.withColumn("ratio", F.col("n") / F.expr("avg(n) OVER ()"))


def _live_vectors(index: SearchIndex) -> DataFrame:
    """``index``'s scan pruned to the cells of its centroid table by a
    static partition filter: superseded or part-built cells on disk are
    never read."""
    live = _centroid_matrix(index.centroids)[0].tolist()
    return index.vectors.filter(F.col("centroid_id").isin(live))


def _cell_sizes(index: SearchIndex) -> dict[int, int]:
    # nlist rows — bounded by index configuration (the same class as the
    # centroid collect assign_to_centroids and the probe make)
    return {int(r["centroid_id"]): int(r["n"]) for r in audit_ivf_cells(index).collect()}


def maintain_ivf(
    index: SearchIndex,
    max_cell_ratio: float = 4.0,
    min_cell_rows: int = 64,
    max_splits_per_pass: int = 4,
    seed: int = 42,
) -> tuple[SearchIndex, dict]:
    """One maintenance pass: split every cell whose size exceeds
    ``max_cell_ratio`` x the mean (and ``min_cell_rows`` — tiny indexes
    don't thrash) into ~size/mean sub-cells via local k-means, re-place
    every row the new table moves, append the touched cells under fresh
    ids (report['splits']: hot cell -> sub-cells, report['renamed']:
    other touched cell -> new id) and commit the new table with
    save_index.  Returns (the new version, opened; report); the caller
    reclaims superseded partitions with vacuum_ivf.  No-op (the same
    handle) when nothing is hot — safe to drive from
    scheduler.run_scheduled like layout.maintain_layout: a pass splits at
    most ``max_splits_per_pass`` cells and writes only touched ones,
    reading every live vector once to find them; an idle pass costs one
    partition-column scan."""
    import numpy as np

    sizes = _cell_sizes(index)
    report: dict = {"cells_before": len(sizes), "max_ratio_before": None,
                     "splits": {}, "renamed": {}, "rows_resharded": 0}
    if not sizes:
        return index, report
    mean = sum(sizes.values()) / len(sizes)
    report["max_ratio_before"] = round(max(sizes.values()) / mean, 2)
    floor = max_cell_ratio * mean
    hot = [c for c, n in sizes.items() if n > floor and n >= min_cell_rows]
    hot = sorted(hot, key=lambda c: -sizes[c])[:max_splits_per_pass]
    if not hot:
        return index, report

    spark, metric = index.vectors.sparkSession, index.metric
    cids, C = _centroid_matrix(index.centroids)
    cent_rows = dict(zip(cids.tolist(), C.tolist()))
    # above every committed id and every cell on disk: a crashed pass's
    # residue keeps its ids until vacuum_ivf, and appending into it would
    # commit its vectors twice
    old_ids = set(cent_rows)
    next_id = max(old_ids | set(_cell_dirs(index.path))) + 1
    for cid in hot:
        k = int(min(max(2, round(sizes[cid] / mean)), 16))
        # partition-pruned scan: only this cell's directory is read
        cell = index.vectors.filter(F.col("centroid_id") == cid)
        sample = _sample_vectors(cell, "embedding", SAMPLE_PER_CENTROID * k)
        subs = _kmeans(sample, k, seed, metric).tolist()
        report["splits"][cid] = list(range(next_id, next_id + len(subs)))
        cent_rows.update(zip(report["splits"][cid], subs))
        next_id += len(subs)
        del cent_rows[cid]
    # one pass over the live rows finds the cells the new table moves rows
    # out of or into; those are rewritten under fresh ids, the rest stay
    placed = assign_to_centroids(
        _live_vectors(index).withColumnRenamed("centroid_id", "_old"),
        _centroid_frame(spark, cent_rows),
        metric=metric,
    )
    moves = placed.filter(F.col("_old") != F.col("centroid_id"))
    moves = moves.select("_old", "centroid_id").distinct().collect()
    touched = {c for r in moves for c in r} & old_ids
    renamed = {c: next_id + i for i, c in enumerate(sorted(touched - set(hot)))}
    fresh = np.arange(next_id + len(renamed))  # old id -> written id
    for c, cid in renamed.items():
        cent_rows[cid] = cent_rows.pop(c)
        fresh[c] = cid
    rewrite = placed.filter(F.col("_old").isin(sorted(touched))).withColumn(
        "centroid_id", F.element_at(F.lit(fresh), F.col("centroid_id") + 1)
    )
    _write_cells(rewrite.drop("_old"), index.path, "append")  # fresh dirs only
    report.update(renamed=renamed, rows_resharded=sum(sizes[c] for c in touched))

    save_index(index.path, index.vectors, _centroid_frame(spark, cent_rows), metric)
    maintained = open_index(spark, index.path)
    # post-split profile for the report (the new version's live cells, so
    # the superseded hot cells don't count)
    after = _cell_sizes(maintained)
    if after:
        amean = sum(after.values()) / len(after)
        report["cells_after"] = len(after)
        report["max_ratio_after"] = round(max(after.values()) / amean, 2)
    return maintained, report


def vacuum_ivf(index: SearchIndex) -> list[int]:
    """Reclaim the partition dirs in ``index``'s directory that the
    version committed there does not reference: superseded hot cells
    after maintain_ivf, plus any part-built sub-cells a crashed pass left
    behind.  Reads the committed table, not the handle's, so a stale
    handle cannot delete live cells.  Idempotent; returns the cell ids
    removed.  A reader still holding an older version loses its probe
    targets once this runs (same reader contract as the reference's
    renew rebuild)."""
    import shutil

    live = {cid for cid, _ in _committed(index.path)["cells"]}
    removed = []
    for cid, d in _cell_dirs(index.path).items():
        if cid not in live:
            shutil.rmtree(d, ignore_errors=True)
            removed.append(cid)
    return sorted(removed)


def _cell_dirs(index_path: str) -> dict[int, str]:
    """Cell id -> its ``centroid_id=<id>`` directory, for every cell on disk."""
    import glob as _glob

    cells = {}
    for d in _glob.glob(os.path.join(index_path, "centroid_id=*")):
        try:
            cells[int(os.path.basename(d).split("=", 1)[1])] = d
        except ValueError:
            continue
    return cells
