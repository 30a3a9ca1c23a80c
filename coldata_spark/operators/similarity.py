"""Similarity search operators (SURVEY.md §2.3 J5, §2.8 V3-V5).

The reference's search path (/root/reference/src/coldata/vdb/vdb.py:88-122):
embed queries -> Milvus ANN top-k per query -> collapse chunk hits to parent
docs keeping best distance -> sort by distance -> join back to the document
store.  Re-expressed Spark-first:

  * exact path  — broadcast the (small) query side against the vector table,
    score with a codegen'd higher-order function, rank with a per-query
    window.  This is the oracle-checkable baseline (nprobe == nlist in the
    reference config means it effectively did exact search anyway —
    config.yml:81-82).
  * IVF path    — MLlib KMeans fit on a sample -> assign centroid_id ->
    vectors table written partitioned by centroid_id; searches score the
    query against centroids first and scan only the nprobe best partitions
    (partition pruning does the cell skip Milvus does in-memory,
    vdb.py:209-211).

At 100 TB the exact path is a single pass over the vector table per query
batch (no shuffle of the big side: scores reduce via the top-k window on
query_id, whose cardinality = #queries); the IVF path cuts the scan itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from coldata_spark.functions import vector as V
# Above this optimizer size estimate, operators whose cost is quadratic in
# (or that must broadcast) a side refuse to run unless forced: nobody should
# ship an O(n^2) plan to a 100 TB table by accident.
QUADRATIC_GATE_BYTES = 64 * 1024 * 1024
# Tighter gate for SELF-join pair ops (n^2 in the INPUT, not in a bounded
# query side): 64 MB of parquet-compressed 64-dim vectors is ~250k rows =
# ~3e10 pairs — far past verification scale.  4 MB ~ 15k rows ~ 1e8 pairs
# is where the brute-force baseline stops being a minutes-scale check.
# Found by the round-12 registry sweep: q32 at the 16x tier (~13 MB
# estimate) sailed through the 64 MB gate into a 4.6e9-pair grind.
PAIR_GATE_BYTES = 4 * 1024 * 1024



def knn_join(
    queries: DataFrame,
    vectors: DataFrame,
    k: int = 4,
    metric: str = "COSINE",
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int | None = 6,
    exclude_self: bool = False,
    force: bool = False,
    gate_bytes: int = QUADRATIC_GATE_BYTES,
    strategy: str = "auto",
    score_range: tuple[float | None, float | None] | None = None,
) -> DataFrame:
    """Exact k-NN theta-join: top-k vectors per query under ``metric``.

    ``score_range=(lo, hi)`` restricts candidates to a (rounded-)score band
    BEFORE ranking — the hard-negative-mining shape: "most similar items
    that are not near-duplicates" is top-k under ``hi`` excluding the
    region above it.  Either bound may be None.

    Returns (query_id, vec_id, score, rank).  The query side is broadcast
    (queries are few; vectors are huge), so the big side never shuffles —
    the only exchange is the tiny per-query top-k merge.

    A query side too big to broadcast makes this plan quadratic work — the
    size gate refuses it (use the IVF index, or batch the queries) unless
    ``force`` is set.

    Scores are rounded to ``score_decimals`` BEFORE ranking, with vec_id as
    tie-break, so the ranking is deterministic and engine-independent.

    ``strategy`` picks the scoring engine:

      * ``"arrow"`` (what ``"auto"`` resolves to) — Arrow-batched numpy
        matmul against the (collected, gate-bounded) query matrix inside a
        single ``mapInPandas`` pass, with a per-batch partial top-k so each
        scan task emits only ~#queries x k candidate rows.  Same pattern as
        the IVF-PQ in-UDF ADC LUTs (ivf.py): the big side never shuffles and
        the per-pair cost is one fused BLAS op instead of a 64-step
        Catalyst fold.  Raw scores are emitted and rounded by ``F.round``
        afterwards, so the published score is bit-identical in semantics to
        the expression path.
      * ``"expr"`` — pure Catalyst higher-order-function scoring (the
        oracle-parity baseline; zero Python in the plan).

    WHY ``auto`` == ``arrow`` AT EVERY SIZE (measured, round 7 — see
    tools/bench_knn_strategy.py and SCALE.md "kNN strategy crossover"):
    the hypothesized small-input crossover to ``expr`` does not exist for
    this operator.  Warm-JVM best-of-3 at q30's shape (8 queries, 64-dim),
    expr vs arrow seconds: sf0.1 0.69/0.44, 16x 0.77/0.29, 64x 1.65/0.43,
    256x 4.85/0.52; cold-JVM single-shot runs show no expr advantage
    either.  Two reasons: (1) ``_sized_for_arrow_stage`` already coalesces
    the scan so the Python-worker round-trip is paid ~once, and (2) the
    Catalyst fold costs ~25 ns per vector ELEMENT per pair, so ``expr``
    scales with rows x queries x dim while arrow's fixed cost is flat.
    ``expr`` is kept as the zero-Python oracle-parity baseline, not as a
    performance path.  The residual small-tier ratio vs DuckDB is the
    multi-job floor (query-side collect job + two-stage main job),
    itemized in SCALE.md — not strategy-addressable.
    """
    refuse_at_scale(
        queries,
        "knn_join",
        "The query side must stay broadcastable: route large query batches "
        "through search_ivf/search_ivf_pq, or split them.",
        force,
        gate_bytes,
    )

    if strategy not in ("auto", "arrow", "expr"):
        raise ValueError(f"unknown knn_join strategy {strategy!r}")
    if strategy in ("auto", "arrow"):
        scored, nq = _knn_scored_arrow(
            queries,
            vectors,
            k,
            metric,
            query_id,
            query_vec,
            vec_id,
            vec_col,
            score_decimals,
            exclude_self,
            score_range,
        )
        if score_decimals is not None:
            scored = scored.withColumn(
                "score", F.round(F.col("score"), score_decimals)
            )
        scored = _apply_score_range(scored, score_range)
        # The Arrow stage already reduced each scan task to ~#queries x k
        # survivor rows, so the global window merges a bounded set — no
        # salting needed regardless of input size.  Pin the merge exchange
        # width EXPLICITLY (HashPartitioning(q_id, n) satisfies the
        # window's clustered distribution, so no second exchange): the
        # session's shuffle.partitions is sized for the big-side scan,
        # and letting AQE coalesce the tiny merge instead costs an extra
        # planning round per stage — measured ~0.3 s/run at the 256x tier
        # (tools/probe_q30e.py), a third of q30's latency.  Width: one
        # partition per query up to the cluster's parallelism — a window
        # partitioned by q_id can never use more reducers than distinct
        # queries, and capping at defaultParallelism keeps a 1000-query
        # batch on a big cluster fully parallel while an 8-query batch
        # locally merges in 8 cheap tasks.
        par = queries.sparkSession.sparkContext.defaultParallelism
        n_merge = max(1, min(nq, par))
        scored = scored.repartition(n_merge, F.col(query_id))
        return rank_top_k(scored, k, metric, by=query_id, tie=vec_id)

    from coldata_spark.tables import fan_out

    score = V.score_expr(
        metric, V.as_double(F.col(query_vec)), V.as_double(F.col(vec_col))
    )
    if score_decimals is not None:
        score = F.round(score, score_decimals)

    # distance evaluation is the CPU-heavy stage -> make sure the big side
    # is actually parallel before the per-row 64-dim folds
    pairs = fan_out(vectors).join(F.broadcast(queries))
    if exclude_self:
        pairs = pairs.filter(F.col(query_id) != F.col(vec_id))
    scored = _apply_score_range(
        pairs.select(query_id, vec_id, score.alias("score")), score_range
    )

    # Two-stage top-k for LARGE vector tables.  A single window on q_id
    # funnels every scored pair into #queries reducers — with few queries
    # that is catastrophic skew (a handful of reducers sort the whole
    # table).  Stage 1 ranks within (q_id, salt): same bytes shuffled but
    # spread over #queries x n_salts reducers, each sorting a bounded slice
    # and emitting at most k rows; stage 2 merges the survivors.  For small
    # inputs the extra exchange costs more than the skew it prevents, so
    # gate on the optimizer's size estimate (same spirit as AQE).
    if _estimated_bytes(vectors) > 256 * 1024 * 1024:
        n_salts = 64
        salt = F.pmod(F.hash(F.col(vec_id)), F.lit(n_salts))
        scored = rank_top_k(
            scored.withColumn("_salt", salt), k, metric,
            by=(query_id, "_salt"), tie=vec_id, rank="_lr",
        ).drop("_lr", "_salt")
    return rank_top_k(scored, k, metric, by=query_id, tie=vec_id)


def rank_top_k(
    df: DataFrame,
    k: int,
    metric: str = "COSINE",
    by: str | tuple[str, ...] = "q_id",
    score: str = "score",
    tie: str = "vec_id",
    rank: str = "rank",
) -> DataFrame:
    """Per-``by`` top-k: ``rank`` = row_number over ``score`` in the
    metric's direction (V.METRIC_DESCENDING), ``tie`` ascending breaking
    ties so the ranking is deterministic; keeps rank <= k."""
    s = F.col(score)
    order = s.desc() if V.METRIC_DESCENDING[metric.upper()] else s.asc()
    by = (by,) if isinstance(by, str) else by
    w = W.partitionBy(*by).orderBy(order, F.col(tie).asc())
    return df.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= k)


def _apply_score_range(scored: DataFrame, score_range) -> DataFrame:
    """Exact band filter on the published (rounded) score column."""
    if score_range is None:
        return scored
    lo, hi = score_range
    if lo is not None:
        scored = scored.filter(F.col("score") >= lo)
    if hi is not None:
        scored = scored.filter(F.col("score") <= hi)
    return scored


def _knn_scored_arrow(
    queries: DataFrame,
    vectors: DataFrame,
    k: int,
    metric: str,
    query_id: str,
    query_vec: str,
    vec_id: str,
    vec_col: str,
    score_decimals: int | None,
    exclude_self: bool,
    score_range=None,
    cells: dict | None = None,
) -> tuple[DataFrame, int]:
    """Score (query x vector) pairs with numpy inside mapInArrow, keeping a
    per-batch partial top-k per query.  Returns (scored, #queries) — the
    caller sizes the merge exchange from the exact query count.

    The query side is collected to the driver — bounded by the same gate
    that makes the expression path's broadcast legal — and closed over by
    the UDF (Spark ships the closure once per task, like a broadcast var).

    ``cells`` ({query id: probed centroid ids}) is the IVF form: the
    vectors then carry ``centroid_id`` and each query's candidates are
    masked to its own probed cells before the partial top-k.

    Correctness of the partial top-k under post-hoc rounding: F.round moves
    a score by at most ``0.5 * 10^-d``, so two rows can swap order after
    rounding only if their raw scores differ by <= ``10^-d``.  Each batch
    therefore keeps every row within ``10^-d`` (+ ulp slack) of its k-th
    best raw score — a superset of any possible post-rounding top-k — and
    the exact global ranking happens after F.round in the caller.
    """
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    m = metric.upper()
    desc = V.METRIC_DESCENDING[m]
    slack = (10.0 ** -score_decimals + 1e-9) if score_decimals is not None else 0.0

    # toPandas, not collect: the Arrow batch transfer returns this tiny
    # gate-bounded batch in ~40 ms where collect()'s row-serialized
    # executeTake ramp costs ~230 ms — measured at the 256x tier, it was
    # the single largest term of q30's per-run floor (SCALE.md "q30").
    q_pdf = queries.select(query_id, query_vec).toPandas()
    q_ids = q_pdf[query_id].tolist()
    Q = (
        np.stack([np.asarray(v, dtype=np.float64) for v in q_pdf[query_vec]])
        if len(q_pdf)
        else np.zeros((0, 1))
    )
    nq = len(q_ids)
    # eps floor: an all-zero vector (missing/failed embedding) must score
    # ~0 under COSINE, not NaN — NaN silently dropped a query's whole
    # candidate batch here while ranking FIRST in the expr engine
    q_norm = (
        np.maximum(np.linalg.norm(Q, axis=1), 1e-12) if nq else np.zeros(0)
    )
    q_id_arr = np.asarray(q_ids)
    q_cells = (
        None
        if cells is None
        else [np.asarray(sorted(cells.get(q, ()))) for q in q_ids]
    )
    # the exact band filter runs Spark-side on the rounded score; here the
    # slack-widened raw band only guards the partial top-k from cutting
    # boundary rows the exact filter would keep
    band_lo = (score_range[0] - slack) if score_range and score_range[0] is not None else None
    band_hi = (score_range[1] + slack) if score_range and score_range[1] is not None else None

    out_schema = T.StructType(
        [
            T.StructField(query_id, queries.schema[query_id].dataType),
            T.StructField(vec_id, vectors.schema[vec_id].dataType),
            T.StructField("score", T.DoubleType()),
        ]
    )
    # emitted Arrow columns must carry EXACTLY the declared types — numpy
    # round-trips widen int32 ids to int64, which the JVM-side accessor
    # then refuses (getInt on an Int64 vector)
    from pyspark.sql.pandas.types import to_arrow_type

    pa_types = [to_arrow_type(f.dataType) for f in out_schema.fields]

    # mapInArrow, not mapInPandas: the vector column arrives as an Arrow
    # ListArray whose flat values buffer reshapes to the (n, dim) matrix
    # with zero per-row Python objects — the pandas path's per-row
    # tolist() was the marginal cost of the whole operator.
    def score_batches(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0 or nq == 0:
                continue
            emb = batch.column(1)
            flat = emb.flatten().to_numpy(zero_copy_only=False)
            X = flat.reshape(n, -1).astype(np.float64, copy=False)
            vids = batch.column(0).to_numpy(zero_copy_only=False)
            if q_cells is not None:
                cents = batch.column(2).to_numpy(zero_copy_only=False)
            if m == "COSINE":
                S = X @ Q.T
                S /= np.maximum(
                    np.linalg.norm(X, axis=1, keepdims=True), 1e-12
                )
                S /= q_norm[None, :]
            elif m == "IP":
                S = X @ Q.T
            else:  # L2
                S = np.empty((n, nq))
                for j in range(nq):
                    d = X - Q[j]
                    S[:, j] = np.sqrt(np.einsum("ij,ij->i", d, d))
            sel_q, sel_v, sel_s = [], [], []
            for j in range(nq):
                s = S[:, j]
                if q_cells is None:
                    idx = np.arange(n)
                else:
                    idx = np.flatnonzero(np.isin(cents, q_cells[j]))
                if exclude_self:
                    idx = idx[vids != q_ids[j]]
                if band_lo is not None:
                    idx = idx[s[idx] >= band_lo]
                if band_hi is not None:
                    idx = idx[s[idx] <= band_hi]
                sv = s[idx]
                if len(sv) > k:
                    if desc:
                        kth = np.partition(sv, len(sv) - k)[len(sv) - k]
                        idx = idx[sv >= kth - slack]
                    else:
                        kth = np.partition(sv, k - 1)[k - 1]
                        idx = idx[sv <= kth + slack]
                sel_q.append(np.full(len(idx), j, dtype=np.int64))
                sel_v.append(idx)
                sel_s.append(s[idx])
            qi = np.concatenate(sel_q)
            vi = np.concatenate(sel_v)
            yield pa.record_batch(
                [
                    pa.array(q_id_arr[qi]).cast(pa_types[0]),
                    pa.array(vids[vi]).cast(pa_types[1]),
                    pa.array(np.concatenate(sel_s), type=pa_types[2]),
                ],
                names=[query_id, vec_id, "score"],
            )

    cols = [vec_id, vec_col] + ([] if cells is None else ["centroid_id"])
    scored = _sized_for_arrow_stage(vectors.select(*cols)).mapInArrow(
        score_batches, schema=out_schema
    )
    return scored, nq


def _sized_for_arrow_stage(
    df: DataFrame, bytes_per_task: int = 16 << 20
) -> DataFrame:
    """Partition a map-only Arrow stage so each task carries enough bytes
    to amortize its Python-worker round-trip (~10-15 ms/task): below
    ~16 MB/task the handshake dominates the numpy work it feeds.  Never
    exceeds the cluster's parallelism; with unknown stats falls back to
    fan_out's under-partitioning guard (single-file fixture case)."""
    from coldata_spark.tables import fan_out

    est = _estimated_bytes(df)
    if not (0 < est < _UNKNOWN_STATS_FLOOR):
        return fan_out(df)
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    want = max(1, min(target, -(-est // bytes_per_task)))
    # Approximate the scan's split count from the same size estimate the
    # split planner itself uses (est / maxPartitionBytes) instead of
    # asking df.rdd for it: .rdd compiles the full physical plan through
    # py4j (~50-100 ms) on EVERY fresh plan — pure plan-build overhead on
    # an operator whose per-run floor is plan construction (SCALE.md).
    # The formula is only VALID for scan-rooted plans (a shuffle/
    # mapInPandas/coalesce child partitions however its own plan says,
    # not by file splits) — for those, pay the .rdd compile rather than
    # silently under-parallelizing the CPU-heavy scoring stage.
    if _scan_shaped(df):
        try:
            mpb = _parse_bytes(
                spark.conf.get("spark.sql.files.maxPartitionBytes")
            )
        except Exception:
            mpb = 128 << 20
        # FilePartition.maxSplitBytes: split = min(maxPartitionBytes,
        # max(openCostInBytes, total/defaultParallelism)) — the same
        # formula the scan planner applies, so `cur` tracks the real
        # task count
        split = min(mpb, max(4 << 20, est // max(1, target)))
        cur = max(1, -(-est // split))
    else:
        cur = df.rdd.getNumPartitions()
    if cur < want:
        return df.repartition(want)
    if cur > want * 2:
        # coalesce merges splits without a shuffle; tasks then stream
        # several files each, which is exactly right for map-only scoring
        return df.coalesce(want)
    return df


# No Limit nodes: a limit-rooted plan executes as CollectLimit with far
# fewer effective partitions than the file-split arithmetic predicts, so
# limited plans must take the exact getNumPartitions path below
_SCAN_NODES = ("Project", "Filter", "Relation")


def _scan_shaped(df: DataFrame) -> bool:
    """True when the optimized plan is a plain column-pruned/filtered
    parquet scan — the only shape whose task count file-split arithmetic
    predicts.  One toString py4j call (~ms) vs df.rdd's full physical
    planning pass."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        return False
    return all(
        s.startswith(_SCAN_NODES)
        for s in (line.lstrip(" +-:") for line in plan.splitlines())
        if s
    )


def _parse_bytes(s: str) -> int:
    """'134217728b' / '128MB' / '128m' -> bytes (Spark conf spellings)."""
    s = s.strip().lower()
    for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                   ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1)):
        if s.endswith(suf):
            return int(float(s[: -len(suf)])) * m
    return int(float(s))


def _estimated_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for a plan (file sizes for scans)."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return 0


def _estimated_rows(df: DataFrame) -> int:
    """Catalyst's ROW-count estimate for a plan, or 0 when unavailable
    (rowCount is an Option — populated only when CBO stats exist, e.g.
    after ANALYZE TABLE or through aggregates with known cardinality).
    Callers that size quadratic work by occupancy should prefer this
    over a bytes/row-width heuristic, which mis-sizes frames carrying
    extra columns (round-14 advice on the LSH occupancy gate)."""
    try:
        rc = df._jdf.queryExecution().optimizedPlan().stats().rowCount()
        if rc.isDefined():
            return int(str(rc.get()))
    except Exception:
        pass
    return 0



_UNKNOWN_STATS_FLOOR = 1 << 60  # Catalyst emits absurd products when stats
# are unknown (e.g. downstream of mapInPandas); treat those as "no estimate"
# rather than refusing — the gate fires only on CONFIDENT large inputs.


def refuse_at_scale(
    df: DataFrame, what: str, hint: str, force: bool, gate_bytes: int
) -> None:
    """Size gate for scale-hostile paths.  Raises unless ``force``."""
    est = _estimated_bytes(df)
    if est >= _UNKNOWN_STATS_FLOOR:
        return
    if not force and est > gate_bytes:
        raise ValueError(
            f"{what}: optimizer size estimate {est / 1e6:.0f} MB exceeds the "
            f"{gate_bytes / 1e6:.0f} MB gate for this scale-hostile path. "
            f"{hint} Pass force=True only for verification runs."
        )


def group_best(
    hits: DataFrame,
    parent_col: str,
    score_col: str = "score",
    metric: str = "COSINE",
    group_cols: tuple[str, ...] = ("q_id",),
    payload_col: str | None = None,
) -> DataFrame:
    """Collapse chunk-level hits to parent documents keeping the best score
    per (query, parent) — the reference's make_results dedup
    (vdb.py:101-110) with its metric-dependent direction (vdb.py:155-166).

    One shuffle on (group, parent); map-side partial max/min applies.
    """
    desc = V.METRIC_DESCENDING[metric.upper()]
    best = F.max(score_col) if desc else F.min(score_col)
    aggs = [best.alias("best_score")]
    if payload_col is not None:
        pick = F.max_by if desc else F.min_by
        aggs.append(pick(payload_col, F.col(score_col)).alias(payload_col))
    return hits.groupBy(*group_cols, parent_col).agg(*aggs)
