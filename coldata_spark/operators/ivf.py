"""IVF_FLAT vector index, Spark-first (SURVEY.md §2.8 V3/V4).

The reference builds a Milvus IVF_FLAT index (nlist=128 k-means cells,
/root/reference/src/coldata/vdb/vdb.py:196-212, config.yml:79-82) and probes
nprobe cells per search (vdb.py:88-100).  Spark-native re-expression:

  build:  MLlib KMeans fit on (a sample of) the vectors -> assign every
          vector its centroid_id -> write the vector table AS PARQUET
          PARTITIONED BY centroid_id.  Milvus's in-memory cell skip becomes
          parquet partition pruning — the scan literally never reads the
          cells a query doesn't probe.  Rebuild (renew, vdb.py:199-201) is
          mode("overwrite").

  search: score queries against the (tiny, collected) centroid table ->
          pick nprobe cells per query -> scan ONLY those partitions
          (pushed-down centroid_id IN (...) filter) -> exact distance
          within cells -> per-query top-k window.

At 100 TB: the KMeans fit runs on a bounded sample (not the full corpus);
the assign pass is one shuffle-free map; search IO drops by ~nprobe/nlist.
nprobe == nlist degenerates to the exact path, matching the reference's own
operating point (config.yml:81-82) — recall 1.0 by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from coldata_spark.functions import vector as V
from coldata_spark.operators.similarity import (
    _estimated_bytes,
    _knn_scored_arrow,
    knn_join,
    rank_top_k,
)


def build_ivf(
    vectors: DataFrame,
    nlist: int = 16,
    vec_col: str = "embedding",
    sample_fraction: float = 1.0,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Fit KMeans(nlist) and return (assigned_vectors, centroids).

    assigned_vectors = input + centroid_id int column;
    centroids = (centroid_id, cvec array<double>).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    ml_df = vectors.withColumn(
        "_features", array_to_vector(V.as_double(F.col(vec_col)))
    )
    fit_df = ml_df.sample(sample_fraction, seed=seed) if sample_fraction < 1.0 else ml_df
    # k must not exceed the training-point count (KMeans aborts otherwise);
    # a config-sized nlist (e.g. the reference's 128) on a small fresh
    # collection clamps to the data and grows on the next renew.  Index
    # build is a batch maintenance job, so one count() here is fine.
    nlist = max(1, min(nlist, fit_df.count()))
    model = KMeans(
        k=nlist, seed=seed, featuresCol="_features", predictionCol="centroid_id"
    ).fit(fit_df)
    assigned = model.transform(ml_df).drop("_features")
    centers = dict(enumerate(model.clusterCenters()))
    return assigned, _centroid_frame(vectors.sparkSession, centers)


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
    (
        assigned.repartition("centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(path)
    )


def assign_to_centroids(
    vectors: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    metric: str = "COSINE",
    max_literal_cells: int = 200_000,
) -> DataFrame:
    """Assign each vector to its nearest FIXED centroid — a per-row
    argmin over the centroid set embedded as a LITERAL array of structs:
    one shuffle-free map-side projection, no join, no window, no
    synthetic row ids.  (The previous cross-join + Window(partitionBy
    monotonically_increasing_id) amplified every row nlist-fold and paid
    a full exchange per ingest; it also keyed on a non-deterministic id,
    which a stage retry can recompute differently.)

    Per-pair arithmetic is the SAME score_expr as before, so assignments
    (and the q33 oracle) are bit-identical.  Ties break toward the lowest
    centroid_id, exactly like the old (score, _cid) ordering.  Beyond
    ``max_literal_cells`` (= nlist x dim expression literals — far above
    any sane IVF configuration) the broadcast-join fallback keeps very
    large centroid sets workable."""
    cents = sorted(
        centroids.select("centroid_id", "cvec").collect(),
        key=lambda r: r["centroid_id"],
    )
    dim = len(cents[0]["cvec"]) if cents else 0
    if not cents or len(cents) * dim > max_literal_cells:
        return _assign_via_join(vectors, centroids, vec_col, metric)
    desc = V.METRIC_DESCENDING[metric.upper()]
    arr = F.array(
        *[
            F.struct(
                F.lit(int(r["centroid_id"])).alias("cid"),
                F.array(*[F.lit(float(x)) for x in r["cvec"]]).alias("cvec"),
            )
            for r in cents
        ]
    )
    vec = V.as_double(F.col(vec_col))
    # struct comparison orders by fields in sequence: (score, tiebreak) —
    # for descending metrics array_max with tiebreak=-cid picks the
    # highest score then the LOWEST cid, matching the old row_number order
    scored = F.transform(
        arr,
        lambda c: F.struct(
            V.score_expr(metric, vec, c["cvec"]).alias("s"),
            (-c["cid"] if desc else c["cid"]).alias("t"),
        ),
    )
    best = F.array_max(scored) if desc else F.array_min(scored)
    cid = (-best["t"] if desc else best["t"]).cast("int")
    return vectors.withColumn("centroid_id", cid)


def _assign_via_join(
    vectors: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    metric: str = "COSINE",
) -> DataFrame:
    """Fallback for centroid sets too large to inline as literals:
    broadcast join + per-row arg-best window (nlist-fold amplification +
    one exchange — acceptable only at extreme nlist x dim)."""
    from pyspark.sql import Window as W

    desc = V.METRIC_DESCENDING[metric.upper()]
    cents = centroids.select(
        F.col("centroid_id").alias("_cid"), F.col("cvec").alias("_cvec")
    )
    score = V.score_expr(metric, V.as_double(F.col(vec_col)), F.col("_cvec"))
    w = W.partitionBy(F.col("_row")).orderBy(
        score.desc() if desc else score.asc(), F.col("_cid")
    )
    withrow = vectors.withColumn("_row", F.monotonically_increasing_id())
    return (
        withrow.join(F.broadcast(cents))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .withColumnRenamed("_cid", "centroid_id")
        .drop("_cvec", "_rn", "_row")
    )


def append_to_index(
    new_vectors: DataFrame,
    centroids: DataFrame,
    path: str,
    vec_col: str = "embedding",
    metric: str = "COSINE",
) -> None:
    """Incremental index growth: assign new vectors to the EXISTING
    centroids and append into their partitions.  The reference can only
    drop-and-rebuild (renew, vdb.py:199-201); partition-append makes
    ingest incremental — cells drift only if the data distribution does,
    at which point build_ivf refits (the standard IVF maintenance trade)."""
    assigned = assign_to_centroids(new_vectors, centroids, vec_col, metric)
    (
        assigned.repartition("centroid_id")
        .write.mode("append")
        .partitionBy("centroid_id")
        .parquet(path)
    )


# Query batches whose optimizer size estimate is at most this many bytes
# take search_ivf's collect side; larger (or unestimated) batches take the
# join side.
COLLECT_PROBE_MAX_BYTES = 1 << 20


def search_ivf(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 4,
    nprobe: int = 4,
    metric: str = "COSINE",
) -> DataFrame:
    """ANN top-k: probe the nprobe best cells per query, exact search inside.

    The centroid probe (the first knn_join) scores the queries against the
    tiny centroid table.  The query side's size estimate then picks one of
    two plans, which return identical rows:

    * collect side (estimate <= ``COLLECT_PROBE_MAX_BYTES``): the probe
      rows are collected ONCE.  Their distinct cells become a static
      ``centroid_id IN (...)`` filter, which prunes index partitions at
      planning; the per-query cell sets feed knn_join's Arrow kernel,
      which masks each query to its own cells.  The scan never joins or
      shuffles.  search.search's query batches take this side: its
      driver-embedded local relation carries an exact estimate.
    * join side (anything larger, or with no estimate, such as an RDD
      scan): nothing touches the driver.  The probed cell set is
      broadcast-semi-joined to the index, and in-cell scores come from
      Catalyst expressions over a broadcast probe join.  Dynamic
      partition pruning does not fire on this plan, so the scan reads
      every cell (SCALE.md "IVF probe sides").

    Measured (SCALE.md "IVF probe sides"): on a pre-embedded parquet
    query side the join side is faster at sf0.1 and the collect side
    from the 64x embeddings tier up.
    """
    collect = _estimated_bytes(queries) <= COLLECT_PROBE_MAX_BYTES
    probe = knn_join(
        queries,
        centroids.select(
            F.col("centroid_id").alias("vec_id"), F.col("cvec").alias("embedding")
        ),
        k=nprobe,
        metric=metric,
        score_decimals=None,
        # the join side's contract is that NOTHING touches the driver and no
        # size gate applies, however large the query batch — so its probe
        # must take the collect-free expr engine (the arrow engine collects
        # the query side and enforces the 64 MB gate)
        strategy="auto" if collect else "expr",
        force=not collect,
    ).select(F.col("q_id"), F.col("vec_id").alias("centroid_id"))
    index = spark.read.parquet(index_path)
    if collect:
        cells: dict = {}
        for r in probe.collect():
            cells.setdefault(r.q_id, set()).add(r.centroid_id)
        probed = sorted(set().union(*cells.values()))
        scored, _ = _knn_scored_arrow(
            queries,
            index.filter(F.col("centroid_id").isin(probed)),
            k, metric, "q_id", "q_vec", "vec_id", "embedding",
            score_decimals=6, exclude_self=False, cells=cells,
        )
        scored = scored.withColumn("score", F.round(F.col("score"), 6))
    else:
        # exact distance within each query's own probed cells only: the
        # (q_id, centroid_id) probe table is tiny -> broadcast equi-join
        # keys the scan rows to exactly the queries probing that cell.
        cell_set = probe.select("centroid_id").distinct()
        pairs = (
            index.join(F.broadcast(cell_set), "centroid_id", "left_semi")
            .join(F.broadcast(probe), "centroid_id")
            .join(F.broadcast(queries), "q_id")
        )
        score = F.round(
            V.score_expr(
                metric, V.as_double(F.col("q_vec")), V.as_double(F.col("embedding"))
            ),
            6,
        )
        scored = pairs.select("q_id", "vec_id", score.alias("score"))
    return rank_top_k(scored, k, metric)


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
    driver-side SAMPLE (numpy k-means, deterministic seed) — at 100 TB the
    codebook is trained once on ~10k vectors and broadcast; training cost
    is O(sample), never O(corpus).  Compression: D floats -> m uint8 codes
    (e.g. 64-dim f32 = 256 B -> 4 B, 64x), which is what lets a trillion-
    vector index live in cluster RAM for ADC scanning.
    """
    import numpy as np

    # toPandas, not collect: limit().collect()'s row-serialized
    # CollectLimit take-ramp is the slow path for array columns (measured
    # ~6x on knn_join's 8-row query batch, SCALE.md "q30"; this sample is
    # thousands of rows), while toPandas streams one Arrow batch
    pdf = vectors.select(vec_col).limit(sample_limit).toPandas()
    # Pre-check raggedness directly rather than parsing np.stack's
    # exception text (numpy wording is not a stable API); np.asarray
    # conversion errors (non-numeric payloads) keep their own diagnosis
    if len(pdf) and len({len(v) for v in pdf[vec_col]}) > 1:
        raise ValueError(
            f"pq_train: ragged vectors in {vec_col!r} (mixed lengths)"
        )
    sample = (
        np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        if len(pdf)
        else np.zeros((0,))
    )
    if sample.ndim != 2 or sample.shape[0] == 0:
        raise ValueError("pq_train: no vectors to train on")
    n, d = sample.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    # codes cannot exceed the training population (same clamp reason as
    # build_ivf's k<=n): a fresh small collection trains a smaller
    # codebook and re-trains bigger on the next renew
    k = max(1, min(k, n))
    sub = d // m
    rng = np.random.default_rng(seed)
    codebook = np.zeros((m, k, sub))
    for j in range(m):
        x = sample[:, j * sub : (j + 1) * sub]
        # plain Lloyd's iterations, deterministic init from the sample
        centers = x[rng.choice(n, size=k, replace=False)]
        for _ in range(20):
            d2 = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
            labels = d2.argmin(axis=1)
            for c in range(k):
                pts = x[labels == c]
                if len(pts):
                    centers[c] = pts.mean(axis=0)
        codebook[j] = centers
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
    keeps it on disk.
    """
    assigned, centroids = build_ivf(vectors, nlist=nlist, vec_col=vec_col)
    codebook = pq_train(vectors, m=m, k=k_codes, vec_col=vec_col)
    codes = pq_encode(vectors, codebook, vec_col=vec_col, id_col=id_col)
    return assigned.join(codes, id_col), centroids, codebook


def search_ivf_pq(
    index: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebook,
    k: int = 4,
    nprobe: int = 4,
    overfetch: int = 4,
    metric: str = "COSINE",
) -> DataFrame:
    """Full production ANN path: IVF cell pruning -> PQ ADC candidate scan
    -> full-precision re-rank of k*overfetch candidates.

    1. probe: score queries against the centroid table, keep nprobe cells
       per query (tiny join; prunes index partitions at the scan);
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

    probe = knn_join(
        queries,
        centroids.select(
            F.col("centroid_id").alias("vec_id"), F.col("cvec").alias("embedding")
        ),
        k=nprobe,
        metric=metric,
        score_decimals=None,
        # the collect-free contract below requires the expr probe engine:
        # the arrow engine collects the query side and enforces a 64 MB
        # gate, which would cap/crash exactly the large batches this path
        # exists for
        strategy="expr",
        force=True,
    ).select("q_id", F.col("vec_id").alias("centroid_id"))

    # Keep the probed cell set DISTRIBUTED: a broadcast semi-join prunes the
    # index without funneling probe lists through the driver, so a 1e6-query
    # batch plans exactly like a 10-query batch.
    pruned = index.join(
        F.broadcast(probe.select("centroid_id").distinct()), "centroid_id", "left_semi"
    ).join(F.broadcast(probe), "centroid_id")

    # ADC lookup tables are built INSIDE the Arrow UDF from the broadcast
    # codebook and each query's own q_vec (carried by the probe join below),
    # cached per task — nothing about the query batch is ever collect()ed.
    # Cost per distinct query per task is one (m, kc, D/m) einsum: trivial
    # next to the candidate scan it feeds.
    # reconstructed-vector norm table for COSINE: ||v̂||^2 = sum_j ||c_j||^2
    norm_lut = (codebook**2).sum(axis=2)  # (m, kc)
    spark = index.sparkSession
    bc = spark.sparkContext.broadcast((codebook, norm_lut, metric.upper()))
    with_vec = pruned.join(
        F.broadcast(queries.select("q_id", "q_vec")), "q_id"
    )

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
    vec_id_t = with_vec.schema["vec_id"].dataType.simpleString()
    scored = with_vec.select("q_id", "vec_id", "pq_codes", "q_vec").mapInPandas(
        adc, schema=f"q_id {q_id_t}, vec_id {vec_id_t}, approx double"
    )
    cands = rank_top_k(
        scored, k * overfetch, metric, score="approx", rank="_r"
    ).select("q_id", "vec_id")

    rerank = (
        cands.join(index.select("vec_id", "embedding"), "vec_id")
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
# answer is drop-and-rebuild (renew, vdb.py:199-201) — O(corpus) per
# maintenance pass.  The incremental answer here is cell-level
# copy-on-write, the move that stays O(hot cells) at 100 TB:
#
#   audit      per-cell size profile (the q133 skew-profile shape applied
#              to the index's own partitions).
#   split      each hot cell re-trains a LOCAL k-means (build_ivf on just
#              that cell — sample-bounded, partition-pruned scan) and its
#              members are appended under FRESH centroid ids.  Purely
#              additive: no live partition is touched.
#   commit     the new centroid table (old minus hot plus sub-centroids)
#              is the metadata pointer swap.  search_ivf probes only
#              cells listed in the centroid table, so readers holding the
#              OLD table never see the new cells and readers of the NEW
#              table never probe the old hot cell — no reader ever sees a
#              vector twice, and a crash anywhere before the centroid
#              publish leaves the index exactly as it was (the part-built
#              sub-cells are unreferenced bytes, not corruption).
#   vacuum     partition dirs not referenced by the centroid table are
#              garbage — deleted post-commit, and a re-run heals any
#              crash residue (the Iceberg/Delta orphan-file pattern).
# ---------------------------------------------------------------------------


def audit_ivf_cells(
    spark: SparkSession, index_path: str, centroids: DataFrame | None = None
) -> DataFrame:
    """Cell-size skew profile of a live IVF index: (centroid_id, n,
    ratio) with ratio = n / mean-cell-size.  Scans only the partition
    column (no data pages beyond row-group metadata).  With ``centroids``
    given, only LIVE cells are profiled, so pre-vacuum orphan dirs from
    an interrupted maintenance pass don't skew the audit.  The global
    window is over nlist rows — bounded by configuration, not data."""
    idx = spark.read.parquet(index_path).select("centroid_id")
    if centroids is not None:
        idx = idx.join(
            F.broadcast(centroids.select("centroid_id")),
            "centroid_id",
            "left_semi",
        )
    counts = idx.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("n"))
    return counts.withColumn(
        "ratio", F.col("n") / F.expr("avg(n) OVER ()")
    )


def maintain_ivf(
    spark: SparkSession,
    index_path: str,
    centroids: DataFrame,
    vec_col: str = "embedding",
    metric: str = "COSINE",
    max_cell_ratio: float = 4.0,
    min_cell_rows: int = 64,
    max_splits_per_pass: int = 4,
    seed: int = 42,
) -> tuple[DataFrame, dict]:
    """One maintenance pass: split every cell whose size exceeds
    ``max_cell_ratio`` x the mean (and ``min_cell_rows`` — tiny indexes
    don't thrash) into ~size/mean sub-cells via local k-means, appending
    members under fresh centroid ids.  Returns (new_centroids, report);
    the CALLER commits by persisting new_centroids wherever it keeps the
    centroid table, then reclaims the superseded partitions with
    vacuum_ivf.  No-op (same centroids object, report['splits'] empty)
    when nothing is hot — safe to drive from scheduler.run_scheduled at
    the refresh cadence, exactly like layout.maintain_layout: each pass
    does bounded work (``max_splits_per_pass`` caps it; the next pass
    picks up the rest), and an idle pass costs one partition-column scan.
    """
    import numpy as np

    # nlist rows — bounded by index configuration (same justified-collect
    # class as the 128-centroid collect in _ivf_index_cached)
    sizes = {
        int(r["centroid_id"]): int(r["n"])
        for r in audit_ivf_cells(spark, index_path, centroids).collect()
    }
    report: dict = {
        "cells_before": len(sizes),
        "max_ratio_before": None,
        "splits": {},
        "rows_resharded": 0,
    }
    if not sizes:
        return centroids, report
    mean = sum(sizes.values()) / len(sizes)
    report["max_ratio_before"] = round(max(sizes.values()) / mean, 2)
    hot = sorted(
        (
            cid
            for cid, n in sizes.items()
            if n > max_cell_ratio * mean and n >= min_cell_rows
        ),
        key=lambda c: -sizes[c],
    )[:max_splits_per_pass]
    if not hot:
        return centroids, report

    cent_rows = {
        int(r["centroid_id"]): list(r["cvec"])
        for r in centroids.select("centroid_id", "cvec").collect()
    }
    next_id = max(cent_rows) + 1
    for cid in hot:
        k = int(min(max(2, round(sizes[cid] / mean)), 16))
        # partition-pruned scan: only this cell's directory is read
        cell = (
            spark.read.parquet(index_path)
            .filter(F.col("centroid_id") == cid)
            .drop("centroid_id")
        )
        sub_assigned, sub_cents = build_ivf(
            cell, nlist=k, vec_col=vec_col, seed=seed
        )
        new_ids = list(range(next_id, next_id + k))
        next_id += k
        remap = F.array(*[F.lit(i) for i in new_ids])
        (
            sub_assigned.withColumn(
                "centroid_id",
                F.element_at(remap, F.col("centroid_id") + 1),
            )
            .repartition("centroid_id")
            .write.mode("append")  # purely additive: fresh partition dirs
            .partitionBy("centroid_id")
            .parquet(index_path)
        )
        for sid, r in zip(
            new_ids, sub_cents.orderBy("centroid_id").collect()
        ):
            cent_rows[sid] = list(r["cvec"])
        del cent_rows[cid]
        report["splits"][cid] = new_ids
        report["rows_resharded"] += sizes[cid]

    new_centroids = _centroid_frame(spark, cent_rows)
    # post-split profile for the report (audit against the NEW table so
    # the superseded hot cells don't count)
    after = {
        int(r["centroid_id"]): int(r["n"])
        for r in audit_ivf_cells(spark, index_path, new_centroids).collect()
    }
    if after:
        amean = sum(after.values()) / len(after)
        report["cells_after"] = len(after)
        report["max_ratio_after"] = round(max(after.values()) / amean, 2)
    return new_centroids, report


def vacuum_ivf(
    spark: SparkSession, index_path: str, centroids: DataFrame
) -> list[int]:
    """Reclaim partition dirs not referenced by the (committed) centroid
    table: superseded hot cells after maintain_ivf, plus any part-built
    sub-cells a crashed pass left behind.  Idempotent; returns the cell
    ids removed.  Run AFTER the new centroid table is durably published —
    a reader still holding the old table loses its probe targets once
    this runs (same reader contract as the reference's renew rebuild)."""
    import glob as _glob
    import os
    import shutil

    live = {
        int(r["centroid_id"]) for r in centroids.select("centroid_id").collect()
    }
    removed = []
    for d in _glob.glob(os.path.join(index_path, "centroid_id=*")):
        try:
            cid = int(os.path.basename(d).split("=", 1)[1])
        except ValueError:
            continue
        if cid not in live:
            shutil.rmtree(d, ignore_errors=True)
            removed.append(cid)
    return sorted(removed)
