"""Relational core: scans, projections/filters, joins, aggregations, windows,
sorts/limits, set ops (SURVEY.md §2.1-2.7).

The reference's relational surface is tiny (the Kaggle crawler's pandas joins,
/root/reference/src/coldata/crawler/kaggle.py:44-77, and the Mongo
insert-if-absent path, crawler/crawler.py:39-50); everything here declares the
full relational algebra the engine exposes on top of Spark, exercised against
the TPC-H-ish fixtures.

Scale notes (100 TB readiness):
  * fact-table plans filter + project FIRST so parquet pushdown/pruning cuts
    IO before any shuffle;
  * dimension joins use explicit broadcast() (region/nation/supplier/part are
    bounded-size at any SF — tables.BROADCAST_SAFE);
  * top-k uses Window row_number (per-partition local top-k then merge — no
    global sort) or orderBy().limit() (TakeOrderedAndProject) — never a full
    global sort materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from coldata_spark.registry import register
from coldata_spark.tables import load


# --------------------------------------------------------------------------
# Aggregations (A1-A5) over the main fact table
# --------------------------------------------------------------------------
@register(
    "q01_pricing_summary",
    survey="A3,A5,P6,S10",
    sql="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           round(avg(l_quantity), 4)                                        AS avg_qty,
           round(avg(l_extendedprice), 4)                                   AS avg_price,
           round(avg(l_discount), 6)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: filter -> partial agg -> final agg.

    One shuffle (on the 6-value group key); the shipdate filter reaches the
    parquet scan as a pushed predicate.
    """
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# Multi-way join + agg + deterministic top-k (J1, A*, O3)
# --------------------------------------------------------------------------
@register(
    "q02_top_orders_by_revenue",
    survey="J1,A2,O1,O3,P3",
    sql="""
    SELECT o_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q02_top_orders_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: selective dim filter -> two joins -> agg -> top-10.

    Join FIRST, aggregate the survivors: the customer filter restricts
    orders (broadcast join — BUILDING keeps ~1/5), and lineitem joins that
    pruned order set BEFORE any aggregation, so the agg hashes only the
    ~10% of line items whose order survives both filters.  (The previous
    pre-aggregate-by-orderkey shape did the opposite — it hash-aggregated
    every filtered line item into one row per orderkey, then threw 90% of
    those groups away at the join; measured 1.8x slower at 64x
    replication.)  The join output is already partitioned by orderkey, so
    the groupBy adds no extra exchange beyond the join's own.

    The pruned order side is broadcast only while the ORDERS SCAN estimate
    (reliable file-size stats, unlike join-output estimates) stays under
    256 MB — past that the broadcast build itself dominates (measured at
    256x replication: broadcast 5.1 s vs shuffle join 4.4 s), and at real
    fact-table scale a multi-GB broadcast is flatly wrong, so the hint
    drops out and the same plan runs as a shuffle join on orderkey, where
    joining before aggregating still wins by the same survivor argument.
    Final top-k is TakeOrderedAndProject (no global sort); tie-break on
    o_orderkey keeps the limit deterministic.

    Measured shape matrix at 256x (/tmp-scale evidence for the plan
    choice, Spark seconds): join-first broadcast 5.1 / join-first shuffle
    4.4 / pre-aggregate-then-join 6.4; the bare scan+broadcast-probe floor
    is 2.2 s, so the remaining gap to DuckDB (0.9 s) is per-probe engine
    cost, not plan shape.
    """
    from coldata_spark.operators.joins import choose_build

    cutoff = F.lit("1998-01-01").cast("timestamp")
    cust = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    o = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    # Round 15: past the broadcast gate the planner sort-merged, sorting
    # the 5x-larger lineitem stream — at 256x SMJ 7.60/7.92 s vs
    # shuffled-hash 5.02/6.08 s (tools/probe_q02_r15.py).  Runtime
    # bloom-filter injection measured NEGATIVE (9.89 s SMJ+bloom).
    o = choose_build(spark, load(spark, sf_dir, "orders"), o)
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
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


@register(
    "q03_region_nation_revenue",
    survey="J1,A5,O1",
    sql="""
    SELECT n_name, r_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name, r_name
    """,
)
def q03_region_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped star join rolled up to nation/region.

    All three dimensions are bounded-size at any SF -> explicit broadcast
    joins; the only shuffle is the final small-key aggregation.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    return (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# Anti / semi joins — the reference's insert-if-absent + $in patterns
# --------------------------------------------------------------------------
@register(
    "q04_customers_without_orders",
    survey="J3,P5,S8",
    sql="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q04_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as a left anti-join — the Spark shape of the reference's
    insert-if-absent dedup (crawler/crawler.py:39-50: find_one then insert
    only when missing)."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").select("o_custkey")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


@register(
    "q05_customers_with_urgent_orders",
    survey="J4,S11",
    sql="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
)
def q05_customers_with_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS / $in keyed filter as a left semi-join (vdb.py:114's
    find({"index": {"$in": keys}}) generalized)."""
    cust = load(spark, sf_dir, "customer")
    urgent = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "q06_kaggle_style_left_joins",
    survey="J1,T10,T11,P1",
    sql="""
    SELECT o_orderkey,
           coalesce(c_name, 'UNKNOWN')                  AS owner,
           concat_ws('/', coalesce(c_name, 'UNKNOWN'),
                     cast(o_orderkey AS VARCHAR))       AS ref,
           round(o_totalprice, 2)                       AS total
    FROM orders
    LEFT JOIN customer ON o_custkey = c_custkey AND c_acctbal > 0
    """,
)
def q06_kaggle_style_left_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's one truly relational pipeline: chained left joins +
    coalesce + concat (kaggle.py:53-74 DatasetVersions⟕Datasets⟕Users with
    owner = coalesce(UserName, OrgSlug), ref = owner + '/' + slug)."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    owner = F.coalesce(F.col("c_name"), F.lit("UNKNOWN"))
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "left")
        .select(
            "o_orderkey",
            owner.alias("owner"),
            F.concat_ws("/", owner, F.col("o_orderkey").cast("string")).alias("ref"),
            F.round(F.col("o_totalprice"), 2).alias("total"),
        )
    )


# --------------------------------------------------------------------------
# Distinct / set ops (A1, U1, U2)
# --------------------------------------------------------------------------
@register(
    "q07_distinct_order_profiles",
    survey="A1",
    sql="""
    SELECT DISTINCT o_orderstatus, o_orderpriority
    FROM orders
    """,
)
def q07_distinct_order_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """drop_duplicates over a projection (kaggle.py:50's
    drop_duplicates(subset=['DatasetId','Slug']))."""
    return load(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderpriority"
    ).distinct()


@register(
    "q08_union_except_nations",
    survey="U1,U2",
    sql="""
    SELECT n_nationkey AS natkey FROM (
        SELECT DISTINCT n_nationkey
        FROM nation JOIN customer ON c_nationkey = n_nationkey
        UNION
        SELECT DISTINCT n_nationkey
        FROM nation JOIN supplier ON s_nationkey = n_nationkey
    )
    EXCEPT
    SELECT n_nationkey FROM nation WHERE n_regionkey = 0
    """,
)
def q08_union_except_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-distinct across sources then removal of an exclusion list —
    the reference's cross-page set accumulation (pwc.py:43-60) plus
    bdsp.py:48-49's datasets.remove(...)."""
    nat = load(spark, sf_dir, "nation")
    cust_nat = (
        load(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_nationkey")
        .distinct()
    )
    sup_nat = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("n_nationkey")
        .distinct()
    )
    exclusions = nat.filter(F.col("n_regionkey") == 0).select("n_nationkey")
    return (
        cust_nat.unionByName(sup_nat)
        .distinct()
        .subtract(exclusions)
        .select(F.col("n_nationkey").alias("natkey"))
    )


# --------------------------------------------------------------------------
# Windows (W1-W3) + frame specs
# --------------------------------------------------------------------------
@register(
    "q09_topk_parts_per_brand",
    survey="W1,O1",
    sql="""
    SELECT p_brand, p_partkey, p_name, round(p_retailprice, 2) AS price, rk
    FROM (
        SELECT p_brand, p_partkey, p_name, p_retailprice,
               row_number() OVER (PARTITION BY p_brand
                                  ORDER BY round(p_retailprice, 2) DESC,
                                           p_partkey) AS rk
        FROM part
    )
    WHERE rk <= 3
    """,
)
def q09_topk_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group — the exact shape of the reference's per-query ANN
    top-k (vdb.py:94-100, limit=4 per query vector, W1).  Partition-local
    sort + rank: no global sort, scales with #groups."""
    part = load(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy(
        F.round(F.col("p_retailprice"), 2).desc(), F.col("p_partkey")
    )
    return (
        part.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "p_brand",
            "p_partkey",
            "p_name",
            F.round("p_retailprice", 2).alias("price"),
            "rk",
        )
    )


@register(
    "q10_running_totals",
    survey="W2,W3",
    sql="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
           lag(o_orderkey) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_order,
           row_number() OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS seq
    FROM orders
    """,
)
def q10_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-spec window (running sum), lag, and within-group enumeration
    (W2 — the reference's chunk counter vdb.py:69-71 generalized)."""
    orders = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum("o_totalprice").over(w.rowsBetween(W.unboundedPreceding, 0)), 2
        ).alias("running_total"),
        F.lag("o_orderkey").over(w).alias("prev_order"),
        F.row_number().over(w).alias("seq"),
    )


@register(
    "q11_group_best_customer",
    survey="A2,V5",
    sql="""
    SELECT c_nationkey, c_custkey AS best_custkey,
           round(c_acctbal, 2) AS best_bal
    FROM (
        SELECT c_nationkey, c_custkey, c_acctbal,
               row_number() OVER (PARTITION BY c_nationkey
                                  ORDER BY round(c_acctbal, 2) DESC,
                                           c_custkey) AS rn
        FROM customer
    )
    WHERE rn = 1
    """,
)
def q11_group_best_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-max per group with deterministic tie-break — the reference's
    chunk-hit -> parent-doc collapse keeping best distance (vdb.py:101-110,
    A2/V5).  max_by over a (score, -key) struct = one shuffle, no window."""
    cust = load(spark, sf_dir, "customer")
    score = F.struct(
        F.round(F.col("c_acctbal"), 2).alias("s"),
        (-F.col("c_custkey")).alias("k"),
    )
    return (
        cust.groupBy("c_nationkey")
        .agg(
            F.max_by("c_custkey", score).alias("best_custkey"),
            F.max(F.round(F.col("c_acctbal"), 2)).alias("best_bal"),
        )
    )


# --------------------------------------------------------------------------
# Grouping sets / rollup (declared built-ins, SURVEY §2.4 note)
# --------------------------------------------------------------------------
@register(
    "q12_rollup_revenue",
    survey="A5",
    sql="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_extendedprice), 2) AS sum_price,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q12_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup aggregation (subtotals + grand total) — free Catalyst built-in
    the reference lacks entirely (SURVEY §2.4).

    Round 14, examined and deliberately LEFT ALONE: the tempting rewrite
    (aggregate to the finest (flag, status) level first, rollup the ~6-row
    result — moves the Expand x3 above the heavy aggregate) reassociates
    the double sum and was MEASURED to flip round(sum, 2) at the 16x tier
    (spark 508339233977.6 vs oracle ...77.63, one subtotal off by a cent)
    while this direct form value-matches DuckDB at every fixture and tier.
    Exactness beats the ~2x expand saving; at 100 TB the money column
    should be decimal, where the rewrite is safe."""
    return (
        load(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.count("*").alias("n"),
        )
    )


# --------------------------------------------------------------------------
# Scalar functions (T6-T13) + point lookup / paged query (S11, S12)
# --------------------------------------------------------------------------
@register(
    "q13_scalar_functions",
    survey="T6,T7,T8,T11,T13,P1",
    sql="""
    SELECT c_custkey,
           sha256(c_name)                               AS pk,
           concat(substring(c_name, 1, 8), '...')       AS preview,
           replace(c_name, 'Customer', 'C')             AS short_name,
           upper(c_mktsegment)                          AS segment,
           length(c_name)                               AS name_len
    FROM customer
    """,
)
def q13_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string surface: sha256 pk (T6, uci.py:51's hashlib.sha256
    hexdigest), substring preview + '...' (T7, main.py:52-53), replace (T8),
    length/upper — all JVM-side codegen'd, no Python."""
    cust = load(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.sha2(F.col("c_name"), 256).alias("pk"),
        F.concat(F.substring("c_name", 1, 8), F.lit("...")).alias("preview"),
        F.regexp_replace("c_name", "Customer", "C").alias("short_name"),
        F.upper("c_mktsegment").alias("segment"),
        F.length("c_name").alias("name_len"),
    )


@register(
    "q16_selective_scan",
    survey="P3,A5,S10",
    sql="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q16_selective_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped selective scan-aggregate: every predicate pushes to
    the parquet reader; the aggregate is a single global partial+final —
    the pattern whose 100 TB cost is pure IO after pruning."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n"),
        )
    )


@register(
    "q17_pivot_status_by_flag",
    survey="A5",
    sql="""
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_O,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_F
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q17_pivot_status_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (declared built-in, SURVEY §2.4 note): one shuffle, the pivot
    columns are conditional partial aggregates."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .withColumnRenamed("O", "qty_O")
        .withColumnRenamed("F", "qty_F")
    )


@register(
    "q18_cube_order_stats",
    survey="A5",
    sql="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q18_cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cube over two dimensions — all four grouping sets in one pass."""
    return (
        load(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "q19_schema_inference",
    survey="A4,S5",
    sql="""
    SELECT k AS key, count(*) AS n
    FROM (
        SELECT unnest(json_keys(props)) AS k
        FROM (SELECT props FROM events ORDER BY event_id LIMIT 100)
    )
    GROUP BY k
    """,
)
def q19_schema_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema inference by sampling (A4): the reference scans a 100-doc
    sample collecting per-field type sets (mongodb.py:29-41); here the
    deterministic first-100 events' JSON keys are exploded and counted."""
    ev = load(spark, sf_dir, "events")
    sample = ev.orderBy("event_id").limit(100)
    return (
        sample.select(F.explode(F.json_object_keys("props")).alias("key"))
        .groupBy("key")
        .agg(F.count("*").alias("n"))
    )


@register(
    "q48_upsert_new_rows",
    survey="S8,R2,J3",
    sql="""
    SELECT count(*) AS inserted,
           (SELECT count(*) FROM documents) - count(*) AS skipped
    FROM documents d
    WHERE NOT EXISTS (
        SELECT 1 FROM documents e
        WHERE e.doc_id % 3 = 0 AND e.doc_id = d.doc_id
    )
    """,
)
def q48_upsert_new_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/R2 insert-if-absent merge counters: with every third document
    already present, the batch splits into inserted vs skipped via one
    anti-join (the reference's per-row find_one loop, crawler.py:39-50,
    collapsed to a set operation)."""
    from coldata_spark.operators.upsert import new_rows

    docs = load(spark, sf_dir, "documents")
    existing = docs.filter(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("index")
    )
    batch = docs.select(F.col("doc_id").alias("index"), "text")
    fresh = new_rows(batch, existing, pk="index").count()
    total = docs.count()
    return spark.createDataFrame(
        [(fresh, total - fresh)], "inserted bigint, skipped bigint"
    )


@register(
    "q49_order_count_distribution",
    survey="J1,A5",
    sql="""
    SELECT n_orders, count(*) AS n_customers
    FROM (
        SELECT c_custkey, count(o_orderkey) AS n_orders
        FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        GROUP BY c_custkey
    )
    GROUP BY n_orders
    """,
)
def q49_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped: left outer join preserving order-less customers,
    count(col) ignoring nulls, then a distribution over the counts — two
    aggregations, two (small) shuffles."""
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count("*").alias("n_customers"))


@register(
    "q53_cheapest_part_per_brand",
    survey="J1,A2",
    sql="""
    SELECT p_brand, p_partkey, p_name, round(p_retailprice, 2) AS price
    FROM part p
    WHERE p_retailprice = (SELECT min(p2.p_retailprice) FROM part p2
                           WHERE p2.p_brand = p.p_brand)
    """,
)
def q53_cheapest_part_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (TPC-H Q2's min-cost-supplier shape),
    written through the SQL API — Catalyst decorrelates it into a
    join-with-aggregate, which .explain confirms (no per-row subquery
    execution; SURVEY §4's 'subquery decorrelation: built-in')."""
    load(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(
        """
        SELECT p_brand, p_partkey, p_name, round(p_retailprice, 2) AS price
        FROM part p
        WHERE p_retailprice = (SELECT min(p2.p_retailprice) FROM part p2
                               WHERE p2.p_brand = p.p_brand)
        """
    )


@register(
    "q54_busiest_hours_per_type",
    survey="W1,A5,R6",
    sql="""
    SELECT event_type, hr, n, rk
    FROM (
        SELECT event_type, hr, n,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY n DESC, hr) AS rk
        FROM (
            SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS n
            FROM events GROUP BY event_type, date_trunc('hour', ts)
        )
    )
    WHERE rk <= 2
    """,
)
def q54_busiest_hours_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window over an aggregate: top-2 busiest hours per event type —
    aggregation shuffle then partition-local rank, no global sort."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count("*").alias("n"))
    w = W.partitionBy("event_type").orderBy(F.col("n").desc(), F.col("hr"))
    return (
        hourly.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .select("event_type", "hr", "n", "rk")
    )


@register(
    "q56_priority_order_counts",
    survey="J4,A5",
    sql="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q56_priority_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped: EXISTS with a cross-table predicate -> left semi
    join on (key, shipdate > orderdate), then a tiny aggregation."""
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    # Round-14 note: rewriting the EXISTS as a per-key max(l_shipdate)
    # aggregate + join was MEASURED SLOWER at both the 16x (1.6 -> 2.0 s)
    # and 64x (3.7 -> 4.7 s) tiers — the semi-join short-circuits on the
    # first matching line per order, while the aggregate pays a full pass
    # plus an exchange of the per-key maxima.  Kept as the semi-join; the
    # 64x ratio answer for this fact-fact family is the orderkey-clustered
    # layout (zero-exchange SMJ), measured on the clustered tier.
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
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


@register(
    "q57_shipmode_priority_matrix",
    survey="J1,A5",
    sql="""
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_returnflag
    """,
)
def q57_shipmode_priority_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped: join + conditional counts (CASE inside sum)."""
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q58_promo_revenue_share",
    survey="J1,A5,T11",
    sql="""
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
    """,
)
def q58_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped: ratio of conditional to total revenue in one
    aggregation pass; part is a broadcast-safe dimension."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-06-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_share")
        )
    )


@register(
    "q60_price_percentiles",
    survey="A5",
    sql="""
    SELECT c_mktsegment,
           round(max(CASE WHEN rn = greatest(1, cast(ceil(0.5 * n) AS BIGINT))
                          THEN o_totalprice END), 2) AS median_price,
           round(max(CASE WHEN rn = greatest(1, cast(ceil(0.9 * n) AS BIGINT))
                          THEN o_totalprice END), 2) AS p90_price,
           round(min(o_totalprice), 2) AS min_price,
           round(max(o_totalprice), 2) AS max_price
    FROM (
        SELECT c_mktsegment, o_totalprice,
               row_number() OVER (PARTITION BY c_mktsegment
                                  ORDER BY o_totalprice, o_orderkey) AS rn,
               count(*) OVER (PARTITION BY c_mktsegment) AS n
        FROM orders JOIN customer ON o_custkey = c_custkey
    )
    GROUP BY c_mktsegment
    """,
)
def q60_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete (rank-based) percentiles per group — integer index
    arithmetic, so the value is an actual group member and both engines
    agree exactly (interpolated quantiles differ in last-ulp fp and can
    flip at rounding boundaries).  At 100 TB swap to approx_percentile —
    the exact form sorts each group within its reducer."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # Round 14: the rank-at-ceil(q*n) rule IS percentile_disc(q) — the
    # smallest value whose cumulative count reaches ceil(q*n); the (price,
    # orderkey) tie-break never changed the PICKED PRICE, only which row
    # carried it, so the aggregate is value-identical.  The window form
    # sorted all rows inside 5 segment partitions (5-task bottleneck +
    # two window passes); the aggregate builds per-task partial value
    # maps in parallel and sorts only per-group distinct values once
    # (4.3 -> measured below at 16x;
    # plans/r14/q60_price_percentiles_{before,after}.txt: Window+Sort
    # pipeline -> single ObjectHashAggregate).
    joined = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select("c_mktsegment", "o_totalprice")
    return joined.groupBy("c_mktsegment").agg(
        F.round(
            F.expr(
                "percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)"
            ),
            2,
        ).alias("median_price"),
        F.round(
            F.expr(
                "percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)"
            ),
            2,
        ).alias("p90_price"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


@register(
    "q61_intersect_nations",
    survey="U1",
    sql="""
    SELECT n_nationkey AS natkey FROM nation
    JOIN customer ON c_nationkey = n_nationkey
    INTERSECT
    SELECT n_nationkey FROM nation
    JOIN supplier ON s_nationkey = n_nationkey
    """,
)
def q61_intersect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intersect (the set op the reference never needed — SURVEY §2.7
    'absent; built-in'): nations with BOTH customers and suppliers."""
    nat = load(spark, sf_dir, "nation")
    cust_nat = (
        load(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_nationkey")
    )
    sup_nat = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("n_nationkey")
    )
    return cust_nat.intersect(sup_nat).select(
        F.col("n_nationkey").alias("natkey")
    )


@register(
    "q64_returned_revenue_by_customer",
    survey="J1,A5,O1,O3",
    sql="""
    SELECT c_custkey, c_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON n_nationkey = c_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q64_returned_revenue_by_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped: lost-revenue ranking over a 4-way join with a
    wide group key; nation broadcasts, orders filter prunes before the
    fact join, top-20 via TakeOrdered."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nat = load(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "q65_large_orders",
    survey="J4,A5",
    sql="""
    SELECT o_orderkey, round(o_totalprice, 2) AS total, total_qty
    FROM orders
    JOIN (
        SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
        FROM lineitem
        GROUP BY l_orderkey
        HAVING sum(l_quantity) > 150
    ) big ON o_orderkey = big.l_orderkey
    """,
)
def q65_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped: HAVING over a fact aggregation, joined back to the
    order header — aggregate-then-join keeps the join input small."""
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_qty"))
        .filter(F.col("_qty") > 150)
        .select("l_orderkey", F.round("_qty", 2).alias("total_qty"))
    )
    orders = load(spark, sf_dir, "orders")
    return orders.join(big, orders.o_orderkey == big.l_orderkey).select(
        "o_orderkey", F.round("o_totalprice", 2).alias("total"), "total_qty"
    )


@register(
    "q14_point_lookup",
    survey="S11,P6",
    sql="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
    FROM orders
    WHERE o_orderkey IN (1, 7, 42, 99, 1000)
    """,
)
def q14_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed point lookup (find_one / $in, crawler.py:40, vdb.py:114) — an
    isin filter that pushes down to the parquet scan as an IN predicate."""
    return (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey").isin(1, 7, 42, 99, 1000))
        .select(
            "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total")
        )
    )


@register(
    "q15_filtered_page",
    survey="S12,O2,O3,P3",
    sql="""
    SELECT p_partkey, p_name, p_type
    FROM part
    WHERE p_size >= 25 AND p_type LIKE '%AR%'
    ORDER BY p_partkey
    LIMIT 100
    """,
)
def q15_filtered_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered page query — Milvus query(expr, limit=page_limit)
    (vdb.py:218-223): predicate + deterministic order + limit."""
    return (
        load(spark, sf_dir, "part")
        .filter((F.col("p_size") >= 25) & F.col("p_type").contains("AR"))
        .select("p_partkey", "p_name", "p_type")
        .orderBy("p_partkey")
        .limit(100)
    )


@register(
    "q91_right_outer_nations",
    survey="J1,A5",
    sql="""
    SELECT n_name,
           count(c_custkey) AS n_customers,
           round(coalesce(sum(c_acctbal), 0.0), 2) AS total_bal
    FROM customer
    RIGHT JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q91_right_outer_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join (SURVEY §2.3: 'free from df.join(..., how=...)'):
    every nation appears even with zero customers; count(col) skips the
    null-extended rows.  The preserved side is the broadcast-size dim —
    Spark swaps build sides so the big probe side still streams."""
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    return (
        cust.join(nat, cust.c_nationkey == nat.n_nationkey, "right")
        .groupBy("n_name")
        .agg(
            F.count("c_custkey").alias("n_customers"),
            F.round(F.coalesce(F.sum("c_acctbal"), F.lit(0.0)), 2).alias(
                "total_bal"
            ),
        )
    )


@register(
    "q92_bag_set_ops",
    survey="U1,U2",
    sql="""
    SELECT o_orderpriority, count(*) AS n
    FROM (
        SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
        EXCEPT ALL
        SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
    )
    GROUP BY o_orderpriority
    """,
)
def q92_bag_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag (multiset) set operation: EXCEPT ALL keeps multiplicity
    differences — how many MORE open orders than finished ones exist per
    priority.  Spark's exceptAll plans this as a counted anti-aggregation
    (Expand + sum of signed counts), one shuffle, no row-by-row matching."""
    orders = load(spark, sf_dir, "orders")
    open_p = orders.filter(F.col("o_orderstatus") == "O").select("o_orderpriority")
    done_p = orders.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
    return (
        open_p.exceptAll(done_p)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
