#!/usr/bin/env python
"""Co-clustered bench tier: the storage layout the 100 TB design actually
prescribes, benchmarked against DuckDB reading the SAME files.

The flat replicated tiers measure queries against layout-oblivious parquet
— the right worst-case probe, but three headline queries are bound there by
exchanges the design itself says to remove with layout:

  * q02: lineitem JOIN orders on orderkey — THE co-bucketing case.  Both
    facts bucketed+sorted by orderkey => zero-exchange sort-merge join
    (proven by tests/test_bucketing.py::test_bucketed_join_no_shuffle).
  * q116/q83: per-user windows / time rollups over events — the hypertable
    layout (bucketed by user_id, sorted by (user_id, ts, event_id)) makes
    the q116 window exchange-AND-sort-free.

Bucketed tables carry their spec in the catalog, not the files, so a fresh
measuring session re-registers them with CREATE TABLE ... CLUSTERED BY ...
LOCATION DDL over the already-written bucket files (bucket ids live in the
file names, which the scan requires).  DuckDB reads the identical files
through views — it benefits from the sorted layout too (delta-encoded
keys), keeping the comparison symmetric.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BUCKETS = 32
_MARKER = "_CLUSTERED_OK"
_SIDECAR = "_LAYOUT_SPEC.json"

# The layout the advisor derives (kept as the DOCUMENTED expectation —
# tests/test_layout_advisor.py gates advise_layout == this, and the tier
# build below consumes the ADVISOR's output, not this dict).
_SPECS = {
    "lineitem": ("l_orderkey", ["l_orderkey"]),
    "orders": ("o_orderkey", ["o_orderkey"]),
    "events": ("user_id", ["user_id", "ts", "event_id"]),
}
_FLAT_COPY = ("customer", "supplier", "nation", "region")  # small dims stay flat (broadcast-side anyway)

# Relative size floor: an advised table an order of magnitude smaller
# than the workload's biggest fact is the broadcast side of its joins, so
# clustering it buys nothing — the _FLAT_COPY judgment, mechanized in a
# form that holds at every scale (sf0.001 fixtures AND 256x tiers, where
# only facts replicate).
CLUSTER_FLOOR_FRACTION = 0.1


def advised_specs(spark: SparkSession, tier_dir: str, buckets: int = BUCKETS):
    """Derive the tier layout from the ENGINE's advisor (round-7 verdict
    ask #5): the workload log is the three layout-bound headline queries,
    so the clustered tier's bucket/sort spec is end-to-end
    mechanism-produced, not a hand-maintained configuration."""
    from coldata_spark import registry
    from coldata_spark.operators.layout import advise_layout
    from coldata_spark.session import dir_bytes

    specs = registry.specs()
    qs = [specs[n].fn(spark, tier_dir) for n in CLUSTERED_QUERIES]
    out = advise_layout(spark, tier_dir, qs, buckets=buckets, min_bytes=0)
    sizes = {}
    for t in out:
        p = os.path.join(tier_dir, f"{t}.parquet")
        sizes[t] = dir_bytes(p) if os.path.isdir(p) else os.path.getsize(p)
    floor = CLUSTER_FLOOR_FRACTION * max(sizes.values(), default=0)
    return {t: ls for t, ls in out.items() if sizes[t] >= floor}


def build_clustered_fixture(
    spark: SparkSession, tier_dir: str, out_dir: str, buckets: int = BUCKETS
) -> str:
    """Rewrite the flat replicated tier into the ADVISOR-derived clustered
    layout.  Idempotent per (tier_dir, buckets) via marker.  The
    repartition onto the bucket key before bucketBy guarantees ONE file
    per bucket, which is what lets the scan report sortedness (no re-sort
    before windows).  The advised spec persists in a sidecar so
    register_clustered (fresh sessions) re-registers without re-running
    the advisor."""
    import json

    marker = os.path.join(out_dir, _MARKER)
    from tools.replicate import source_stamp
    from tools.spread import fixture_stamp_of

    # v4: the FLAT tier's marker content is part of this stamp — when the
    # source fixture regenerates (driver round restarts), the flat tier
    # rebuilds under a new source-versioned stamp (replicate.py v3) and
    # the clustered rewrite of the old bytes must go stale with it.
    # Marker-less inputs (a raw sf dir, as in tests) stamp their content
    # version instead — "None" would never go stale.
    stamp = f"v5|{buckets}|{fixture_stamp_of(tier_dir) or source_stamp(tier_dir)}"
    if os.path.exists(marker) and open(marker).read() == stamp:
        return out_dir
    from coldata_spark.operators.layout import write_bucketed
    from coldata_spark.tables import load

    spec = advised_specs(spark, tier_dir, buckets=buckets)
    # fail BEFORE writing anything: if the advisor (size floor, a plan
    # spelling its regexes miss) ever drops a table the clustered query
    # twins require, a marker written now would cache a broken fixture
    # that every later register/bench run trips over with no self-heal
    missing = set(_SPECS) - set(spec)
    if missing:
        raise AssertionError(
            f"advised_specs dropped required clustered tables {sorted(missing)} "
            f"(advised: {sorted(spec)}); the tier build refuses to cache a "
            "fixture CLUSTERED_QUERIES cannot run against"
        )
    os.makedirs(out_dir, exist_ok=True)
    for name, ls in spec.items():
        # tables.load (not raw spark.read) so the events ts variants are
        # normalized to TIMESTAMP_LTZ exactly like every query path does
        write_bucketed(
            load(spark, tier_dir, name),
            os.path.join(out_dir, name),
            bucket_col=ls.bucket_col,
            sort_cols=list(ls.sort_cols),
            buckets=ls.buckets,
        )
    for name in _FLAT_COPY:
        load(spark, tier_dir, name).write.mode("overwrite").parquet(
            os.path.join(out_dir, name)
        )
    with open(os.path.join(out_dir, _SIDECAR), "w") as f:
        json.dump(
            {
                t: {
                    "bucket_col": ls.bucket_col,
                    "sort_cols": list(ls.sort_cols),
                    "buckets": ls.buckets,
                }
                for t, ls in spec.items()
            },
            f,
            indent=2,
            sort_keys=True,
        )
    with open(marker, "w") as f:
        f.write(stamp)
    return out_dir


def register_clustered(
    spark: SparkSession, out_dir: str, buckets: int = BUCKETS
) -> None:
    """Re-register the bucketed tables in THIS session's catalog via DDL
    over the existing files (bucket spec is catalog metadata), reading the
    ADVISED spec from the fixture's sidecar."""
    import json

    from coldata_spark.operators.layout import register_bucketed

    with open(os.path.join(out_dir, _SIDECAR)) as f:
        spec = json.load(f)
    for name, v in spec.items():
        register_bucketed(
            spark,
            os.path.join(out_dir, name),
            f"{name}_c",
            bucket_col=v["bucket_col"],
            sort_cols=list(v["sort_cols"]),
            buckets=v["buckets"],
        )


# ---- Clustered twins of the three layout-bound headline queries ---------
# Same semantics as the registered queries (the DuckDB oracle SQL of the
# flat specs runs unchanged over views on these files); only the input
# binding differs: catalog bucketed tables instead of flat parquet.


def q02_clustered(spark: SparkSession, out_dir: str) -> DataFrame:
    """q02_top_orders_by_revenue over co-bucketed facts: the customer
    filter broadcasts onto the bucketed orders scan (broadcast preserves
    bucket distribution), lineitem joins it as a ZERO-EXCHANGE sort-merge
    join, and the aggregate reuses the join's orderkey partitioning — no
    exchange anywhere before the final top-10."""
    cutoff = F.lit("1998-01-01").cast("timestamp")
    cust = (
        spark.read.parquet(os.path.join(out_dir, "customer"))
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = spark.table("orders_c").filter(F.col("o_orderdate") < cutoff)
    o = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = spark.table("lineitem_c").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(o, li.l_orderkey == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


def q116_clustered(spark: SparkSession, out_dir: str) -> DataFrame:
    """q116_time_weighted_avg over the hypertable layout: the per-user
    lead window runs exchange-free AND sort-free (scan reports the bucket
    sort), and the per-user aggregate reuses the same distribution."""
    from pyspark.sql import Window as W

    ev = spark.table("events_c")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seg = ev.select(
        "user_id",
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("v_c"),
        (
            F.lead(F.col("ts").cast("long")).over(w) - F.col("ts").cast("long")
        ).alias("dur_s"),
    ).filter(F.col("dur_s").isNotNull())
    return (
        seg.groupBy("user_id")
        .agg(
            F.count("dur_s").cast("long").alias("n_segments"),
            F.sum("dur_s").cast("long").alias("total_s"),
            F.expr(
                "CAST((1000000 * sum(v_c * dur_s)) div sum(dur_s) AS BIGINT)"
            ).alias("twa_centi_micro"),
        )
        .filter(F.col("total_s") > 0)
    )


def q83_clustered(spark: SparkSession, out_dir: str) -> DataFrame:
    """q83_hypertable_rollup over the hypertable layout: same
    hourly-before-rollup plan; the layout's win here is scan-side (sorted
    ts delta-encodes; one 32-file table), the tiny combine exchange
    remains — recorded to show which layout-bound queries the clustering
    does and does NOT rescue."""
    ev = spark.table("events_c")
    hour_e = F.expr("(unix_micros(ts) div 3600000000) * 3600").alias("hour_e")
    hourly = (
        ev.select(hour_e, "value")
        .groupBy("hour_e")
        .agg(F.count("*").alias("_n"), F.sum("value").alias("_sv"))
    )
    day_e = (F.floor(F.col("hour_e") / 86400) * 86400).cast("long").alias("day_e")
    return (
        hourly.select(day_e, "hour_e", "_n", "_sv")
        .rollup("day_e", "hour_e")
        .agg(
            F.sum("_n").alias("n_events"),
            F.round(F.sum("_sv"), 2).alias("total_value"),
        )
        .select(
            F.coalesce(F.col("day_e"), F.lit(-1)).alias("day_epoch"),
            F.coalesce(F.col("hour_e"), F.lit(-1)).alias("hour_epoch"),
            "n_events",
            "total_value",
        )
    )


# ---- Clustered twins of the worsening-at-64x join family (round 14) -----
# VERDICT r13 ask #3/#5: q56/q77/q68 (+q148) worsen 16x -> 64x on flat
# layout and their defense leaned on q02/q116 analogies — these twins
# measure THEM on the orderkey-clustered tier, where the fact-fact join
# runs as a zero-exchange sort-merge (plan-gated in tests/test_bucketing.py
# ::test_clustered_join_twins_no_fact_exchange).  Dimension tables are flat
# copies in the fixture (they are the broadcast side at every scale).


def q56_clustered(spark: SparkSession, out_dir: str) -> DataFrame:
    """q56_priority_order_counts over co-bucketed facts: the EXISTS
    semi-join runs exchange-free on the shared orderkey bucketing."""
    orders = spark.table("orders_c").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = spark.table("lineitem_c").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def q68_clustered(spark: SparkSession, out_dir: str) -> DataFrame:
    """q68_market_share over co-bucketed facts: same round-14 plan as the
    flat spec (dims broadcast, orders pre-reduced by the ASIA customers),
    but the li ⋈ orders orderkey join is a zero-exchange sort-merge."""
    li = spark.table("lineitem_c")
    supp = spark.read.parquet(os.path.join(out_dir, "supplier"))
    n1 = spark.read.parquet(os.path.join(out_dir, "nation")).select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    region = spark.read.parquet(os.path.join(out_dir, "region")).filter(
        F.col("r_name") == "ASIA"
    )
    n2 = (
        spark.read.parquet(os.path.join(out_dir, "nation"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    cust = spark.read.parquet(os.path.join(out_dir, "customer")).join(
        F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key")
    )
    orders = (
        spark.table("orders_c")
        .select("o_orderkey", "o_custkey", "o_orderdate")
        .join(
            F.broadcast(cust.select("c_custkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("o_orderkey", "o_orderdate")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .select("l_orderkey", vol.alias("volume"), "supp_nation")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            "volume",
            "supp_nation",
        )
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(
                        F.col("supp_nation") == "NATION_3", F.col("volume")
                    ).otherwise(0.0)
                )
                / F.sum("volume"),
                6,
            ).alias("mkt_share")
        )
    )


def q77_clustered(spark: SparkSession, out_dir: str) -> DataFrame:
    """q77_local_supplier_volume over co-bucketed facts: same round-14
    early-reduction plan; the lineitem ⋈ (orders ⋈ customers) orderkey
    join side of lineitem needs no exchange.

    Round 15 (verdict ask #4, guide §3.1): the orderkey join hash-builds
    the pruned ord_eu side (shuffle_hash hint) instead of merge-joining —
    both are exchange-free on the bucketed layout (probe: 2 row-exchanges
    either way) and the bucketed sortedness already elides the sorts, but
    the merge walk pays ordering comparisons per streamed lineitem row
    and degrades far worse under heap pressure: measured 11.80 s vs
    3.14 s (noop protocol) and 3.14/3.17/3.77 vs 2.79/3.11/3.29 (bench
    protocol, warm best-of-3) — OPTIMIZATION_r15.md ask #4, value-gated
    identical first.  The verdict's named pre-aggregation lever
    (partial volume per (l_orderkey, s_nationkey) before the join) was
    probed and REJECTED: the supplier co-nation key breaks the bucket
    alignment (6 row-exchanges) and it measured 21.9 s."""
    region = spark.read.parquet(os.path.join(out_dir, "region")).filter(
        F.col("r_name") == "EUROPE"
    )
    nat = spark.read.parquet(os.path.join(out_dir, "nation")).join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    cust_eu = (
        spark.read.parquet(os.path.join(out_dir, "customer"))
        .select("c_custkey", "c_nationkey")
        .join(
            F.broadcast(nat.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
    )
    ord_eu = (
        spark.table("orders_c")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
        .join(F.broadcast(cust_eu), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "c_nationkey", "n_name")
    )
    supp = spark.read.parquet(os.path.join(out_dir, "supplier"))
    return (
        spark.table("lineitem_c")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(ord_eu.hint("shuffle_hash"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def q148_clustered(spark: SparkSession, out_dir: str) -> DataFrame:
    """q148_ship_latency_histogram over co-bucketed facts — the repo's own
    documented THE-bucketed-case (X28): the fact-fact orderkey join is a
    zero-exchange sort-merge; the count-distinct aggregate over day
    buckets is the remaining (honest) shuffle."""
    li = spark.table("lineitem_c").select("l_orderkey", "l_shipdate")
    o = spark.table("orders_c").select("o_orderkey", "o_orderdate")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    return (
        j.select(
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
            .cast("long")
            .alias("latency_days"),
            "l_orderkey",
        )
        .groupBy("latency_days")
        .agg(
            F.count("*").cast("long").alias("n_lineitems"),
            F.countDistinct("l_orderkey").cast("long").alias("n_orders"),
        )
    )


CLUSTERED_QUERIES = {
    "q02_top_orders_by_revenue": q02_clustered,
    "q83_hypertable_rollup": q83_clustered,
    "q116_time_weighted_avg": q116_clustered,
}

# benched as the SEPARATE clustered_joins_256x block so the long-standing
# replicated_256x_clustered total keeps its round-over-round comparability
CLUSTERED_JOIN_QUERIES = {
    "q56_priority_order_counts": q56_clustered,
    "q68_market_share": q68_clustered,
    "q77_local_supplier_volume": q77_clustered,
    "q148_ship_latency_histogram": q148_clustered,
}

# DuckDB view sources for the clustered files: bucketed tables are
# directories of bucket files; flat copies are plain parquet dirs.
DUCK_VIEWS = {
    "lineitem": "lineitem/*.parquet",
    "orders": "orders/*.parquet",
    "events": "events/*.parquet",
    "customer": "customer/*.parquet",
    "supplier": "supplier/*.parquet",
    "nation": "nation/*.parquet",
    "region": "region/*.parquet",
}


def build_events_tier(
    spark: SparkSession,
    tier256_dir: str,
    out_dir: str,
    replicas: int = 4,
    sf_dir: str | None = None,
) -> str:
    """Events-only deep fixture: ``replicas`` shifted copies of the 256x
    events table (4 -> 1024x ~1.6 GB, 16 -> 4096x ~6.5 GB) — the tiers
    where q83's fixed per-stage cost amortizes (at 256x, 4x more data costs
    Spark only +42% time — the rollup is still floor-dominated there).
    Events-only keeps the extra disk bounded to the one table q83 reads.
    The 256x source dependency is resolved HERE, only when this tier's own
    marker is missing/stale — with ``sf_dir`` given, an absent 256x tier is
    replicated on demand instead of unconditionally by the caller (a valid
    cached deep tier must not trigger a multi-GB source rebuild)."""
    marker = os.path.join(out_dir, "_OK")
    from tools.replicate import jitter_wrapped, source_stamp
    from tools.spread import fixture_stamp_of

    def deep_stamp() -> str:
        # v3: the SOURCE fixture's content version folded in — a
        # regenerated /root/testdata cascades staleness into this tier
        # WITHOUT requiring the (deletable, multi-GB) intermediate 256x
        # dir to exist for validation (round-9: a valid cached deep tier
        # must not trigger a source replication).  With no sf_dir, a
        # markerless tier256 stamps its content version too — a literal
        # "None" would validate forever across regenerations
        src = source_stamp(sf_dir) if sf_dir else (
            fixture_stamp_of(tier256_dir) or source_stamp(tier256_dir)
        )
        return f"v3|{replicas}|{src}"

    if os.path.exists(marker) and open(marker).read() == deep_stamp():
        return out_dir
    if sf_dir is not None:
        from tools.replicate import replicate_fixture

        replicate_fixture(spark, sf_dir, tier256_dir, times=256)
    ev = spark.read.parquet(os.path.join(tier256_dir, "events.parquet"))
    parts = [
        ev.withColumn(
            "event_id", F.col("event_id") + F.lit(i * 4_000_000_000)
        )
        .withColumn("user_id", F.col("user_id") + F.lit(i * 40_000_000))
        # per-replica jitter one step above the 256x tier's 0..255 µs so
        # every timestamp in the deep tier stays unique (see
        # replicate.events_mutate for why clone-identical ts would make
        # the tier measure a parquet-dictionary artifact); wrapped within
        # each event's second like the 256x jitter itself — combined
        # offsets j + i*256 < 4096 < 1e6 stay distinct mod 1e6
        .withColumn("ts", jitter_wrapped("ts", i * 256))
        for i in range(replicas)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(32 * max(1, replicas // 4)).write.mode("overwrite").parquet(
        os.path.join(out_dir, "events.parquet")
    )
    with open(marker, "w") as f:
        f.write(deep_stamp())
    return out_dir


def build_embeddings_tier(
    spark: SparkSession,
    tier256_dir: str,
    out_dir: str,
    replicas: int = 4,
    sf_dir: str | None = None,
) -> str:
    """Embeddings-only deep fixture (the q30 analogue of the q83 events
    tiers): ``replicas`` shifted copies of the 256x embeddings table
    (4 -> 1024x, ~344 MB) — the tier where knn_join's fixed per-run cost
    (plan build + query-side toPandas + merge stage) amortizes against
    per-row scoring work that grows in both engines.  vec_id shifts one
    step above the 256x tier's 10M-per-replica spacing so ids stay unique;
    the base vectors (vec_id < 8, the query batch) live in replica 0
    unchanged, so q30's semantics are the same query against 4x the
    corpus."""
    marker = os.path.join(out_dir, "_OK")
    from tools.replicate import source_stamp
    from tools.spread import fixture_stamp_of

    def deep_stamp() -> str:
        # v2: source content version folded in (see build_events_tier)
        # v3: deep replicas get perturb_isometry on a DISJOINT index
        # stream (r * 1_000_003) — with the plain vec_id shift, deep
        # replica r of inner replica 0 carried the SAME vector as inner
        # replica r of the same base row (both T_r(base)), re-creating
        # the verbatim-duplicate artifact one level up
        src = source_stamp(sf_dir) if sf_dir else (
            fixture_stamp_of(tier256_dir) or source_stamp(tier256_dir)
        )
        return f"v3|{replicas}|{src}"

    if os.path.exists(marker) and open(marker).read() == deep_stamp():
        return out_dir
    if sf_dir is not None:
        # source dependency resolved only on a real (re)build — see
        # build_events_tier
        from tools.replicate import replicate_fixture

        replicate_fixture(spark, sf_dir, tier256_dir, times=256)
    from tools.replicate import perturb_isometry

    emb = spark.read.parquet(os.path.join(tier256_dir, "embeddings.parquet"))
    parts = [
        emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * 4_000_000_000))
        .withColumn(
            "embedding",
            perturb_isometry("embedding", i * 1_000_003),
        )
        for i in range(replicas)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "embeddings.parquet")
    )
    with open(marker, "w") as f:
        f.write(deep_stamp())
    return out_dir


# ---- Vector-workload advised layout (round-8 verdict #1) ----------------
# The one r7 lever never pulled: the embeddings table was the last
# headline table with no advised layout.  The advisor runs over the FULL
# vector workload — exact kNN (q30/q34/q37), search-with-join-back (q31),
# filtered kNN (q89), and IVF/PQ probes (q35/q86) — and its verdict is
# what build_vector_fixture materializes, so whatever the q30@256x record
# shows, it shows it on the layout the ENGINE derives, not a hand guess.
VECTOR_QUERIES = (
    "q30_knn_cosine_topk",
    "q31_search_group_best",
    "q34_knn_l2_topk",
    "q37_knn_ip_topk",
    "q89_filtered_knn",
    "q35_ann_ivf_search",
    "q86_ivf_pq_search",
)


def advised_vector_spec(spark: SparkSession, sf_dir: str, buckets: int = BUCKETS):
    """advise_layout over the vector workload.  Runs at the BASE sf_dir,
    not the replicated tier: the advisor only reads optimized plans
    (scale-invariant), while building q35/q86's DataFrames constructs
    their IVF index fixture — cheap at sf, pointless at tier scale.
    Expected verdict (gated in tests/test_layout_advisor.py):
    embeddings bucketed+sorted by vec_id (q31's hits->vectors join-back
    and the query-batch point filter), documents by doc_id (q31's
    parent join).  q30's own top-k partitions on the COMPUTED q_id, which
    attributes to no base table — the advisor correctly claims no layout
    can remove that exchange."""
    from coldata_spark import registry
    from coldata_spark.operators.layout import advise_layout

    specs = registry.specs()
    qs = [specs[n].fn(spark, sf_dir) for n in VECTOR_QUERIES]
    return advise_layout(spark, sf_dir, qs, buckets=buckets, min_bytes=0)


def build_vector_fixture(
    spark: SparkSession,
    sf_dir: str,
    tier_dir: str,
    out_dir: str,
    buckets: int = BUCKETS,
) -> str:
    """Rewrite the replicated tier's vector-side tables (embeddings +
    documents) into the advisor-derived layout, as plain ``<name>.parquet``
    dirs so the REGISTERED flat queries (and DuckDB) read them unchanged —
    the probe is layout-only, not plan-only.  Idempotent per
    (tier_dir, buckets) via marker; advised spec persists in the sidecar."""
    import json

    marker = os.path.join(out_dir, _MARKER)
    # the stamp carries the SOURCE tier's own content stamp and the
    # advisor's workload dir: a rebuilt source tier (replicate.py stamp
    # bump) or a different advice source must invalidate this fixture,
    # not silently reuse data the flat record beside it no longer matches
    src_marker = os.path.join(tier_dir, "_REPLICATED_OK")
    src_stamp = (
        open(src_marker).read() if os.path.exists(src_marker) else "unstamped"
    )
    stamp = f"vec-v1|{tier_dir}|{buckets}|src={src_stamp}|advise={sf_dir}"
    if os.path.exists(marker) and open(marker).read() == stamp:
        return out_dir
    from coldata_spark.operators.layout import write_bucketed
    from coldata_spark.tables import load

    spec = advised_vector_spec(spark, sf_dir, buckets=buckets)
    if "embeddings" not in spec:
        raise AssertionError(
            f"vector advisor dropped embeddings (advised: {sorted(spec)}); "
            "refusing to cache a fixture the kNN queries cannot probe"
        )
    os.makedirs(out_dir, exist_ok=True)
    written = {}
    for name in ("embeddings", "documents"):
        ls = spec.get(name)
        if ls is None:
            continue
        write_bucketed(
            load(spark, tier_dir, name),
            os.path.join(out_dir, f"{name}.parquet"),
            bucket_col=ls.bucket_col,
            sort_cols=list(ls.sort_cols),
            buckets=ls.buckets,
        )
        written[name] = ls
    with open(os.path.join(out_dir, _SIDECAR), "w") as f:
        json.dump(
            {
                t: {
                    "bucket_col": ls.bucket_col,
                    "sort_cols": list(ls.sort_cols),
                    "buckets": ls.buckets,
                }
                for t, ls in written.items()
            },
            f,
            indent=2,
            sort_keys=True,
        )
    with open(marker, "w") as f:
        f.write(stamp)
    return out_dir


if __name__ == "__main__":
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from coldata_spark.session import get_spark

    tier = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.bench_cache/256x"
    out = (
        sys.argv[2]
        if len(sys.argv) > 2
        else "/root/repo/.bench_cache/256x_clustered"
    )
    spark = get_spark(app_name="clustered_build")
    build_clustered_fixture(spark, tier, out)
    print(out)
