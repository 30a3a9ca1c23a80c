"""Extended TPC-H-shaped relational coverage (round-1 widening).

The reference's relational surface is tiny (kaggle.py:44-77's pandas joins);
SURVEY §2.3-2.5 notes that correlated subqueries, disjunctive predicates,
scalar-subquery filters, frame-spec windows and grouping sets are "free
built-ins if declared" — this module declares them, each shape oracle-checked
against DuckDB on the fixture star schema.

Scale notes (100 TB readiness):
  * correlated scalar subqueries (q66, q71) are decorrelated by hand into
    window-min / aggregate-then-join plans — the shape Catalyst itself
    rewrites to, made explicit so the shuffle story is visible: one exchange
    on the correlation key, no nested-loop re-execution per outer row;
  * scalar subquery thresholds (q69) become a 1-row aggregate broadcast into
    the filter — no driver collect, no recompute per row;
  * disjunctive predicates (q70) stay as a single OR expression so the scan
    evaluates them in one pass (and parquet row-group stats can still prune
    on the shared join key);
  * frame windows (q72) shuffle once on the partition key and sort within
    partitions — no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from coldata_spark.registry import register
from coldata_spark.tables import load


# --------------------------------------------------------------------------
# q66 — TPC-H Q2-shaped: correlated scalar subquery (min cost per part)
# --------------------------------------------------------------------------
@register(
    "q66_min_cost_supply",
    survey="J1,A2,P3",
    sql="""
    WITH costs AS (
        SELECT l_partkey, l_suppkey,
               min(l_extendedprice / l_quantity) AS unit_cost
        FROM lineitem
        GROUP BY l_partkey, l_suppkey
    )
    SELECT c.l_partkey AS p_partkey,
           floor(c.unit_cost * 10000) / 10000 AS best_cost,
           min(c.l_suppkey) AS best_suppkey
    FROM costs c
    JOIN part ON p_partkey = c.l_partkey
    WHERE p_size >= 40
      AND c.unit_cost = (
          SELECT min(c2.unit_cost) FROM costs c2
          WHERE c2.l_partkey = c.l_partkey
      )
    GROUP BY c.l_partkey, c.unit_cost
    """,
)
def q66_min_cost_supply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped min-cost supplier: the correlated scalar subquery
    (cost = min cost for that part) decorrelated into ONE argmin
    aggregation — min(struct(unit_cost, suppkey)) per part orders
    lexicographically, so a single shuffle on l_partkey yields both the
    part-min cost AND the min suppkey among its achievers (the oracle's
    two-level min).  One exchange where the naive decorrelation
    (pair-agg + window-min + filter) takes two plus a window sort.

    unit_cost equality across engines is exact: IEEE division of identical
    doubles, min over the identical set.
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_size") >= 40)
    unit_cost = F.col("l_extendedprice") / F.col("l_quantity")
    best = (
        li.join(
            F.broadcast(part.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("l_partkey")
        .agg(F.min(F.struct(unit_cost.alias("c"), F.col("l_suppkey").alias("s"))).alias("b"))
    )
    return best.select(
        F.col("l_partkey").alias("p_partkey"),
        # truncate, don't round: Spark rounds the shortest-decimal repr
        # of a double while DuckDB rounds the binary value, so round()
        # on an arbitrary ratio can differ in the last place; floor of
        # the identical IEEE product cannot.
        (F.floor(F.col("b.c") * 10000) / 10000).alias("best_cost"),
        F.col("b.s").alias("best_suppkey"),
    )


# --------------------------------------------------------------------------
# q67 — TPC-H Q7-shaped: volume shipping between two nations by year
# --------------------------------------------------------------------------
@register(
    "q67_volume_shipping",
    survey="J1,A5,P3",
    sql="""
    SELECT supp_nation, cust_nation, l_year,
           round(sum(volume), 2) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               year(l_shipdate) AS l_year,
               l_extendedprice * (1 - l_discount) AS volume
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q67_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped bilateral trade volume: fact table joined to two
    filtered broadcast dimension chains (supplier-nation, customer-nation),
    grouped by the nation pair and ship year.

    Both nation sides are pre-filtered to the 2-row pair BEFORE joining, so
    the supplier/customer joins act as semi-join reducers on the fact rows.
    year() is cast to long to match DuckDB's BIGINT.

    Round 14 (guide §2.3, the q68/q77 pattern): the customer-nation
    reduction is applied to ORDERS before the fact-fact orderkey exchange —
    the 2-of-25-nations broadcast join drops ~92% of order rows, so the
    orderkey shuffle carries ~8% of the orders side instead of the full
    table; previously the full orders table crossed the exchange and the
    customer filter ran after it
    (OPTIMIZATION_r14.md § q67_volume_shipping).  The aggregate is
    still the single-level round(sum(volume), 2) over the identical row
    multiset — only join order changed, not the summation structure.
    """
    li = load(spark, sf_dir, "lineitem")
    pair = ("NATION_1", "NATION_2")
    n1 = load(spark, sf_dir, "nation").filter(F.col("n_name").isin(*pair))
    n2 = (
        load(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(*pair))
        .select(
            F.col("n_nationkey").alias("n2_nationkey"),
            F.col("n_name").alias("n2_name"),
        )
    )
    supp = load(spark, sf_dir, "supplier").join(
        F.broadcast(n1), F.col("s_nationkey") == F.col("n_nationkey")
    )
    cust = load(spark, sf_dir, "customer").join(
        F.broadcast(n2), F.col("c_nationkey") == F.col("n2_nationkey")
    )
    orders = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .join(
            F.broadcast(cust.select("c_custkey", "n2_name")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("o_orderkey", "n2_name")
    )
    return (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "l_orderkey",
            F.col("n_name"),
            F.year("l_shipdate").cast("long").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("n_name") != F.col("n2_name"))
        .select(
            F.col("n_name").alias("supp_nation"),
            F.col("n2_name").alias("cust_nation"),
            "l_year",
            "volume",
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(F.sum("volume"), 2).alias("revenue"))
    )


# --------------------------------------------------------------------------
# q68 — TPC-H Q8-shaped: national market share within a region by year
# --------------------------------------------------------------------------
@register(
    "q68_market_share",
    survey="J1,A5",
    sql="""
    SELECT o_year,
           round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
                 / sum(volume), 6) AS mkt_share
    FROM (
        SELECT year(o_orderdate) AS o_year,
               l_extendedprice * (1 - l_discount) AS volume,
               n1.n_name AS supp_nation
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        JOIN region   ON r_regionkey = n2.n_regionkey
        WHERE r_name = 'ASIA'
    )
    GROUP BY o_year
    """,
)
def q68_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped market share: NATION_3 suppliers' fraction of revenue
    sold to ASIA-region customers, per order year.  Conditional aggregation
    (sum CASE / sum) in ONE grouped pass — no self-join of the two sums.

    The region filter reduces the customer dim before it reaches the fact
    join; all dimension joins broadcast.
    """
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n2 = (
        load(spark, sf_dir, "nation")
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    cust = load(spark, sf_dir, "customer").join(
        F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key")
    )
    # Apply the customer-region filter to orders BEFORE the fact-fact
    # exchange (guide §2.3): the ASIA broadcast semi-reduces orders ~5x
    # (one region of five), so the orderkey shuffle carries a fifth of the
    # order rows — previously li ⋈ orders joined the FULL orders table and
    # the cust filter ran after the big exchange
    # (OPTIMIZATION_r14.md § q68_market_share).  Projecting orders
    # to the three needed columns keeps the exchange narrow.
    orders = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate")
        .join(
            F.broadcast(cust.select("c_custkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("o_orderkey", "o_orderdate")
    )
    # Round 15 (guide §3.1, the q02 ladder — see q77): the ASIA semi-join
    # prunes orders ~5x but the planner only sees the raw scan estimate,
    # so the fact-fact join sort-merged.  Broadcast the pruned side while
    # the raw orders estimate is <=256 MiB, hash-build past that while
    # the per-partition build fits, sort-merge beyond.  Measured at 64x
    # (OPTIMIZATION_r15.md "Flat family follow-on", value-gated): SMJ 3.96 s,
    # shuffle_hash 2.89 s.
    from coldata_spark.operators.joins import choose_build

    orders = choose_build(spark, load(spark, sf_dir, "orders"), orders)
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
                    F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(
                        0.0
                    )
                )
                / F.sum("volume"),
                6,
            ).alias("mkt_share")
        )
    )


# --------------------------------------------------------------------------
# q69 — TPC-H Q22-shaped: scalar-subquery threshold + NOT EXISTS
# --------------------------------------------------------------------------
@register(
    "q69_sales_opportunity",
    survey="J3,A5,P5",
    sql="""
    SELECT c_mktsegment,
           count(*) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer c
    WHERE c_acctbal > (
        SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0
    )
    AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    """,
)
def q69_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped sales opportunity: rich customers (above the average
    positive balance — an uncorrelated scalar subquery) who never ordered
    (NOT EXISTS -> left anti-join), counted per market segment.

    The 1-row threshold aggregate is broadcast-cross-joined into the filter
    (never collected to the driver); fp-safety of the > comparison was
    verified: min |acctbal - threshold| >= 0.07 at every fixture SF, orders
    of magnitude above any summation-order drift.
    """
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    threshold = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("_th"))
    )
    return (
        cust.crossJoin(F.broadcast(threshold))
        .filter(F.col("c_acctbal") > F.col("_th"))
        .join(orders.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# --------------------------------------------------------------------------
# q70 — TPC-H Q19-shaped: disjunctive (OR-of-ANDs) predicate revenue
# --------------------------------------------------------------------------
@register(
    "q70_disjunctive_revenue",
    survey="J1,A5,P3",
    sql="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 20 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q70_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped discounted revenue under an OR-of-ANDs predicate
    spanning both join sides.  The part side of each disjunct
    (brand AND size) is pushed below the join as the union-able predicate
    (brand12|23|34) so the broadcast build side shrinks before the probe;
    the mixed part+lineitem conjuncts evaluate post-join in one pass.
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#34")
    )
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(10, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(20, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# q71 — TPC-H Q15-shaped: top supplier via scalar-subquery max
# --------------------------------------------------------------------------
@register(
    "q71_top_supplier",
    survey="J1,A2,A5",
    sql="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier
    JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q71_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped top supplier: revenue view over a quarter, kept rows
    where revenue equals the view's max (scalar subquery -> 1-row broadcast
    join, the same decorrelation as q69).  Revenue is rounded to cents
    BEFORE the max/equality so both engines compare identical values.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    best = revenue.agg(F.max("total_revenue").alias("_max_rev"))
    supp = load(spark, sf_dir, "supplier")
    return (
        revenue.crossJoin(F.broadcast(best))
        .filter(F.col("total_revenue") == F.col("_max_rev"))
        .join(F.broadcast(supp), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# --------------------------------------------------------------------------
# q72 — frame-spec window analytics (lag/lead/ntile/moving frame)
# --------------------------------------------------------------------------
@register(
    "q72_order_timeline_analytics",
    survey="W2,W3",
    sql="""
    SELECT o_custkey, o_orderkey,
           round(o_totalprice, 2) AS total,
           round(lag(o_totalprice) OVER w, 2)  AS prev_total,
           round(lead(o_totalprice) OVER w, 2) AS next_total,
           CAST(ntile(4) OVER w AS BIGINT)     AS spend_quartile,
           ((2 * sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER f
             + count(*) OVER f) // (2 * count(*) OVER f)) / 100.0 AS moving_avg3
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           f AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
)
def q72_order_timeline_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-spec window functions over each customer's order timeline:
    lag/lead, ntile quartiles, and a 3-row moving average
    (rowsBetween(-2, 0)).  SURVEY §2.5 declares these as free built-ins.

    One shuffle on o_custkey serves ALL the window functions (same window
    spec), then per-partition sort — no global sort.  Ordering is fully
    tie-broken (orderdate, orderkey) so every engine computes identical
    frames; the moving average rounds half-up in pure INTEGER cents
    ((2*sum + n) div (2*n)) because engines disagree on rounding doubles
    that sit exactly on the half-cent (Spark rounds the shortest-decimal
    representation, DuckDB the binary value — a 2-row frame averaging an
    odd cent total lands exactly there).
    """
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    frame = w.rowsBetween(-2, W.currentRow)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    csum = F.sum(cents).over(frame)
    cnt = F.count("*").over(frame)
    avg_cents = F.expr(
        "(2 * _csum + _cnt) div (2 * _cnt)"
    )  # half-up integer rounding, positive values
    return (
        load(spark, sf_dir, "orders")
        .withColumn("_csum", csum)
        .withColumn("_cnt", cnt)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total"),
            F.round(F.lag("o_totalprice").over(w), 2).alias("prev_total"),
            F.round(F.lead("o_totalprice").over(w), 2).alias("next_total"),
            F.ntile(4).over(w).cast("long").alias("spend_quartile"),
            (avg_cents / 100.0).alias("moving_avg3"),
        )
    )


# --------------------------------------------------------------------------
# q73 — MERGE (upsert with update-when-matched) — Delta-style semantics
# --------------------------------------------------------------------------
@register(
    "q73_merge_upsert",
    survey="R2,S8,J3",
    sql="""
    WITH updates AS (
        SELECT c_custkey, c_acctbal + 1000.0 AS c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 7 = 0
        UNION ALL
        SELECT c_custkey + 1000000, 10.0, 'NEW' FROM customer WHERE c_custkey % 11 = 0
    )
    SELECT coalesce(u.c_custkey, c.c_custkey) AS c_custkey,
           round(coalesce(u.c_acctbal, c.c_acctbal), 2) AS c_acctbal,
           coalesce(u.c_mktsegment, c.c_mktsegment) AS c_mktsegment
    FROM customer c
    FULL JOIN updates u ON c.c_custkey = u.c_custkey
    """,
)
def q73_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MERGE semantics (WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT)
    on plain DataFrames — the Delta-MERGE generalization of the reference's
    insert-if-absent path (crawler.py:39-50, which never updates).

    The updates batch is derived deterministically from the fixture:
    existing custkeys %7==0 get +1000 balance (update path), synthesized
    custkeys +1e6 land as inserts.  Implemented by operators.upsert.
    merge_upsert as one full-outer join + coalesce per column — a single
    shuffle on the pk, no per-row lookups.
    """
    from coldata_spark.operators.upsert import merge_upsert

    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    updates = (
        cust.filter(F.col("c_custkey") % 7 == 0)
        .select(
            "c_custkey",
            (F.col("c_acctbal") + 1000.0).alias("c_acctbal"),
            "c_mktsegment",
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 11 == 0).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                F.lit(10.0).alias("c_acctbal"),
                F.lit("NEW").alias("c_mktsegment"),
            )
        )
    )
    merged = merge_upsert(cust, updates, pk="c_custkey")
    return merged.select(
        "c_custkey",
        F.round("c_acctbal", 2).alias("c_acctbal"),
        "c_mktsegment",
    )


# --------------------------------------------------------------------------
# q74 — multiple COUNT(DISTINCT) per group
# --------------------------------------------------------------------------
@register(
    "q74_distinct_counts",
    survey="A1,A5",
    sql="""
    SELECT l_returnflag,
           count(DISTINCT l_orderkey) AS n_orders,
           count(DISTINCT l_partkey)  AS n_parts,
           count(DISTINCT l_suppkey)  AS n_supps
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q74_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple distinct aggregates in one grouping — Catalyst plans this
    with Expand (one input replica per distinct column) + two-phase
    aggregation; declared per SURVEY §2.4 ("distinct-agg ... built-in").
    The approximate (HLL) companions live in q75 as a rows-only query.
    """
    # One distinct column per aggregate (round 14): three countDistincts in
    # one grouping made Catalyst Expand the input x4 (every lineitem row
    # hashed four times); three single-distinct aggregates joined on the
    # 3-row flag key skip the Expand entirely — each is a plain two-phase
    # distinct whose partial agg dedupes map-side.  Measured 3.7 -> 2.3 s
    # at the 16x tier (OPTIMIZATION_r14.md § q74_distinct_counts).
    li = load(spark, sf_dir, "lineitem")
    n_orders = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    n_parts = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts")
    )
    n_supps = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supps")
    )
    return n_orders.join(n_parts, "l_returnflag").join(n_supps, "l_returnflag")


# --------------------------------------------------------------------------
# q75 — approximate aggregates (HLL / quantile sketches) — rows-only
# --------------------------------------------------------------------------
@register("q75_approx_stats", survey="A5", sql=None)
def q75_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based approximate aggregates: approx_count_distinct
    (HyperLogLog++) and approx_percentile (KLL-style) per return flag.

    At 100 TB these replace exact distinct/percentile when a few % error is
    acceptable: mergeable sketch partials mean ONE narrow shuffle of
    fixed-size sketches instead of an Expand + full shuffle of the distinct
    keys (q74) or a global sort (q60).  Rows-only: sketch outputs are
    engine-specific, so there is no cross-engine oracle; accuracy vs the
    exact q74/q60 values is asserted in tests/test_tpch_extra.py.
    """
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey").alias("approx_orders"),
            F.approx_count_distinct("l_partkey").alias("approx_parts"),
            F.percentile_approx("l_extendedprice", [0.5, 0.9, 0.99], 10000).alias(
                "price_quantiles"
            ),
        )
    )


# --------------------------------------------------------------------------
# q76 — GROUPING SETS with grouping labels
# --------------------------------------------------------------------------
@register(
    "q76_grouping_sets",
    survey="A5",
    sql="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           round(sum(l_extendedprice), 2) AS sum_price,
           count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def q76_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS — the third of the multi-grouping trio (q12 rollup,
    q18 cube): explicit set list (flag+status, flag, grand total).  Spark
    plans this as one Expand (3 replicas) + single aggregation — one
    shuffle, not three.  Null group keys are coalesced to 'ALL' so the
    cross-engine hash never compares bare NULLs.
    """
    li = load(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("_q76_lineitem")
    return li.sparkSession.sql(
        """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               round(sum(l_extendedprice), 2) AS sum_price,
               count(*) AS n
        FROM _q76_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


# --------------------------------------------------------------------------
# q77 — TPC-H Q5-shaped: local supplier volume (customer+supplier co-nation)
# --------------------------------------------------------------------------
@register(
    "q77_local_supplier_volume",
    survey="J1,A5,P3",
    sql="""
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
    JOIN nation   ON n_nationkey = c_nationkey
    JOIN region   ON r_regionkey = n_regionkey
    WHERE r_name = 'EUROPE'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q77_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped: revenue from LOCAL supply chains (supplier nation ==
    customer nation) within one region.  The co-nation predicate rides the
    supplier join as a second equi-condition — no post-join filter pass.
    Region/nation/supplier broadcast; the orders date filter prunes before
    the fact join.
    """
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nat = load(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    # Reduce BEFORE the fact exchanges (guide §2.3): the EUROPE nation
    # broadcast cuts customers to one region of five, and the date-filtered
    # orders ⋈ customers join runs before lineitem enters, so the orderkey
    # exchange meets an orders side already filtered by BOTH predicates —
    # previously the customer join keyed a second wide exchange of the
    # li ⋈ orders output and the region filter only applied at the end
    # (OPTIMIZATION_r14.md § q77_local_supplier_volume).  All joins
    # are inner, so the reorder is value-identical.
    cust_eu = cust.select("c_custkey", "c_nationkey").join(
        F.broadcast(nat.select("n_nationkey", "n_name")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    ord_eu = (
        orders.select("o_orderkey", "o_custkey")
        .join(cust_eu, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "c_nationkey", "n_name")
    )
    # Round 15 (guide §3.1, the q02 ladder): the planner cannot see the
    # ~6% date x EUROPE selectivity of ord_eu through the scan estimate,
    # so it sort-merged the fact-fact join, sorting the 5x-larger
    # lineitem stream.  Broadcast the pruned side while the RAW orders
    # estimate stays <=256 MiB (so the actual broadcast is ~6% of that);
    # past the gate, hash-build it per partition while the estimated
    # build fits execution memory; only at a scale where neither holds
    # does the spill-safe sort-merge return.  Measured at 64x
    # (OPTIMIZATION_r15.md "Flat family follow-on", value-gated): SMJ 4.36 s,
    # shuffle_hash 2.58 s, explicit broadcast 2.35 s.
    from coldata_spark.operators.joins import choose_build

    ord_eu = choose_build(spark, load(spark, sf_dir, "orders"), ord_eu)
    return (
        li.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(ord_eu, F.col("l_orderkey") == F.col("o_orderkey"))
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


# --------------------------------------------------------------------------
# q78 — TPC-H Q17-shaped: correlated AVG subquery (small-quantity orders)
# --------------------------------------------------------------------------
@register(
    "q78_small_quantity_revenue",
    survey="J1,A5",
    sql="""
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
           count(*) AS n_lines
    FROM lineitem l
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#11'
      AND l_quantity < (
          SELECT 0.2 * avg(l_quantity) FROM lineitem l2
          WHERE l2.l_partkey = l.l_partkey
      )
    """,
)
def q78_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped: lines whose quantity is below 20% of their part's
    average — a correlated AVG subquery decorrelated into aggregate-then-
    join.  The per-part average is built only over lineitem rows of the
    BRAND'S parts (broadcast semi-join before the agg — the correlation
    restricts the subquery to exactly those parts, so pre-filtering is
    value-identical and shrinks the agg input ~25x), then joined back to
    the probe on l_partkey (a key shuffle join: the per-part aggregate
    grows with the part dimension, so it is not broadcast-safe at scale).

    The 0.2*avg threshold comparison is fp-identical across engines: same
    doubles, same multiply, strict <.  Quantities are integers-valued, far
    from any threshold representation boundary.
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#11")
    brand_keys = F.broadcast(part.select("p_partkey"))
    per_part_avg = (
        li.join(brand_keys, F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy(F.col("l_partkey").alias("_pk"))
        .agg((F.lit(0.2) * F.avg("l_quantity")).alias("_threshold"))
    )
    return (
        li.join(brand_keys, F.col("l_partkey") == F.col("p_partkey"))
        .join(per_part_avg, F.col("l_partkey") == F.col("_pk"))
        .filter(F.col("l_quantity") < F.col("_threshold"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "q97_profit_by_nation_year",
    survey="J1,A5,P3",
    sql="""
    SELECT nation, o_year, round(sum(amount), 2) AS profit
    FROM (
        SELECT n_name AS nation,
               CAST(year(o_orderdate) AS BIGINT) AS o_year,
               l_extendedprice * (1 - l_discount)
                 - p_retailprice * l_quantity * 0.1 AS amount
        FROM lineitem
        JOIN part     ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%red%'
    )
    GROUP BY nation, o_year
    """,
)
def q97_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped product-type profit by (supplier nation, order year).
    The fixture has no partsupp, so supply cost is proxied by
    p_retailprice * qty * 0.1 — same 4-way join + two-key rollup shape.

    part/supplier/nation broadcast; the only shuffle is lineitem-orders on
    orderkey and the final small group-by."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    supp = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity") * 0.1
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("amount"), 2).alias("profit"))
    )


@register(
    "q98_important_suppliers",
    survey="J1,A5,P5",
    sql="""
    WITH vals AS (
        SELECT l_suppkey, sum(l_extendedprice * (1 - l_discount)) AS value
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_1'
        GROUP BY l_suppkey
    )
    SELECT l_suppkey AS s_suppkey, round(value, 2) AS value
    FROM vals
    WHERE value > (SELECT sum(value) * 0.01 FROM vals)
    """,
)
def q98_important_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped important-stock scan: per-supplier value within one
    nation, kept only when above a fraction of that nation's TOTAL value
    (scalar subquery over the same aggregation).

    The per-supplier aggregate is computed once and reused for the global
    scalar (broadcast 1-row cross join — the repo's gated scalar pattern),
    so the fact table is scanned a single time."""
    li = load(spark, sf_dir, "lineitem")
    nat = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    supp = load(spark, sf_dir, "supplier").join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
    )
    vals = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_suppkey")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "value"
            )
        )
    )
    threshold = vals.agg((F.sum("value") * 0.01).alias("_thr"))
    return (
        vals.crossJoin(F.broadcast(threshold))
        .filter(F.col("value") > F.col("_thr"))
        .select(
            F.col("l_suppkey").alias("s_suppkey"),
            F.round("value", 2).alias("value"),
        )
    )


@register(
    "q99_brand_supplier_counts",
    survey="J3,A1,A5",
    sql="""
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_size IN (1, 2, 3, 4, 5)
      AND l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q99_brand_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped supplier diversity count: distinct suppliers per
    (brand, type, size) excluding blacklisted suppliers (negative account
    balance proxies Q16's complaint filter; fixture has no partsupp, so
    lineitem supplies the part-supplier relation).

    Blacklist is an anti-join against a tiny broadcast side; the distinct
    count shuffles (brand, type, size, suppkey) once."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_size").isin(1, 2, 3, 4, 5))
    bad = load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0)
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(bad.select("s_suppkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q100_late_suppliers",
    survey="J3,J4,A5,W1",
    sql="""
    WITH late AS (
        SELECT l_orderkey, l_suppkey
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
    )
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM late l1
    JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE EXISTS (
            SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
            SELECT 1 FROM late l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q100_late_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped suppliers-who-kept-orders-waiting: the hardest
    classic shape (EXISTS + NOT EXISTS self-joins on the fact table).
    'Late' adapts to the fixture as shipping >90 days after the order date.

    Spark-first: both correlated subqueries become semi/anti self-joins on
    orderkey with a supplier-inequality residual; the late set is computed
    once.  Final is a tiny group-by + deterministic top-20."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    supp = load(spark, sf_dir, "supplier")
    late = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    l3 = late.select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    waiting = (
        late.join(
            l2,
            (F.col("l_orderkey") == F.col("o2")) & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("o3")) & (F.col("l_suppkey") != F.col("s3")),
            "left_anti",
        )
    )
    return (
        waiting.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(20)
    )


@register(
    "q109_unpivot_nation_metrics",
    survey="A5,P1",
    sql="""
    WITH wide AS (
        SELECT n.n_name,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS total_cents,
               CAST(count(DISTINCT c.c_custkey) AS BIGINT) AS n_customers
        FROM nation n
        JOIN customer c ON c.c_nationkey = n.n_nationkey
        JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY n.n_name
    )
    SELECT n_name, 'n_orders' AS metric, n_orders AS value FROM wide
    UNION ALL
    SELECT n_name, 'total_cents', total_cents FROM wide
    UNION ALL
    SELECT n_name, 'n_customers', n_customers FROM wide
    """,
)
def q109_unpivot_nation_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshape (UNPIVOT/melt — the inverse of q17's pivot):
    per-nation order metrics unpivoted to (nation, metric, value) rows, the
    layout dashboards and metric stores ingest.

    Plan: the wide aggregate is one shuffle (broadcast dimension joins);
    unpivot itself is Spark's Expand node — a map-side 1->N projection, no
    extra shuffle at any scale."""
    nation = load(spark, sf_dir, "nation")
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    wide = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("total_cents"),
            F.count_distinct("c_custkey").cast("long").alias("n_customers"),
        )
    )
    return wide.unpivot(
        ["n_name"], ["n_orders", "total_cents", "n_customers"], "metric", "value"
    )


@register(
    "q122_price_histogram",
    survey="A5,ext-quality",
    sql="""
    WITH rng AS (
        SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx
        FROM lineitem
    )
    SELECT least(CAST(floor((l_extendedprice - rng.mn) * 16
                            / (rng.mx - rng.mn + 1)) AS BIGINT), 15) AS bin,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(l_quantity) AS BIGINT) AS total_qty
    FROM lineitem, rng
    GROUP BY bin
    """,
)
def q122_price_histogram(spark, sf_dir):
    """Equi-width 16-bin histogram over extended price — the profiling
    primitive behind CBO statistics and data-quality dashboards.  Bin
    edges come from a broadcast 1-row min/max aggregate; bin assignment is
    floor((x-mn)*16/(mx-mn+1)) with an integer +1 span guard, identical
    on both engines (prices are exact decimals scaled by the parquet
    schema, so the arithmetic has no float-parity risk).

    Plan: one tiny min/max agg broadcast into a map-side bin expression,
    then a 16-group combine agg — two scans of one column, no wide
    shuffle at any scale."""
    li = load(spark, sf_dir, "lineitem").select("l_extendedprice", "l_quantity")
    rng = li.agg(
        F.min("l_extendedprice").alias("mn"), F.max("l_extendedprice").alias("mx")
    )
    binned = li.crossJoin(F.broadcast(rng)).select(
        F.least(
            F.expr(
                "CAST(floor((l_extendedprice - mn) * 16 / (mx - mn + 1)) AS BIGINT)"
            ),
            F.lit(15),
        ).alias("bin"),
        "l_quantity",
    )
    return binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("l_quantity").cast("long").alias("total_qty"),
    )


@register(
    "q123_profile_orders",
    survey="A5,A3,ext-quality",
    sql="""
    SELECT 'o_custkey' AS col_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count(o_custkey) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
           CAST(min(o_custkey) AS VARCHAR) AS min_val,
           CAST(max(o_custkey) AS VARCHAR) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority',
           CAST(count(*) AS BIGINT),
           CAST(count(*) - count(o_orderpriority) AS BIGINT),
           CAST(count(DISTINCT o_orderpriority) AS BIGINT),
           min(o_orderpriority), max(o_orderpriority)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus',
           CAST(count(*) AS BIGINT),
           CAST(count(*) - count(o_orderstatus) AS BIGINT),
           CAST(count(DISTINCT o_orderstatus) AS BIGINT),
           min(o_orderstatus), max(o_orderstatus)
    FROM orders
    """,
)
def q123_profile_orders(spark, sf_dir):
    """Column-profile summary (ANALYZE TABLE / data-quality dashboard
    shape): per-column row count, null count, distinct count and
    stringified min/max, computed in ONE scan via a multi-distinct
    aggregate and unpivoted to a row per column with stack().

    Plan: Spark expands the multi-distinct agg internally (one Expand +
    one shuffle), so the table is read once however many columns are
    profiled — at 100 TB profiling cost is scan-bound, not per-column.
    Numeric min/max stringify AFTER aggregation, so ordering stays
    numeric."""
    o = load(spark, sf_dir, "orders")
    # ONE distinct column per aggregate: three countDistincts in one agg
    # made Catalyst plan an Expand (x4 input replicas — every order row
    # hashed four times); with a single distinct the planner uses the plain
    # two-phase distinct path, and the two low-cardinality columns each
    # cost a dictionary-friendly single-column scan.  Measured 2.05 ->
    # 1.04 s at the 16x tier for the aggregate
    # (OPTIMIZATION_r14.md § q123_profile_orders: Expand removed).
    prof = (
        o.agg(
            F.count("*").alias("n_rows"),
            (F.count("*") - F.count("o_custkey")).alias("nn_ck"),
            F.countDistinct("o_custkey").alias("nd_ck"),
            F.min("o_custkey").cast("string").alias("mn_ck"),
            F.max("o_custkey").cast("string").alias("mx_ck"),
            (F.count("*") - F.count("o_orderpriority")).alias("nn_op"),
            F.min("o_orderpriority").alias("mn_op"),
            F.max("o_orderpriority").alias("mx_op"),
            (F.count("*") - F.count("o_orderstatus")).alias("nn_os"),
            F.min("o_orderstatus").alias("mn_os"),
            F.max("o_orderstatus").alias("mx_os"),
        )
        .crossJoin(
            F.broadcast(o.agg(F.countDistinct("o_orderpriority").alias("nd_op")))
        )
        .crossJoin(
            F.broadcast(o.agg(F.countDistinct("o_orderstatus").alias("nd_os")))
        )
    )
    return prof.select(
        F.expr(
            "stack(3,"
            " 'o_custkey', n_rows, nn_ck, nd_ck, mn_ck, mx_ck,"
            " 'o_orderpriority', n_rows, nn_op, nd_op, mn_op, mx_op,"
            " 'o_orderstatus', n_rows, nn_os, nd_os, mn_os, mx_os)"
            " AS (col_name, n_rows, n_nulls, n_distinct, min_val, max_val)"
        )
    ).select(
        "col_name",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_nulls").cast("long").alias("n_nulls"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        "min_val",
        "max_val",
    )


@register(
    "q127_snapshot_diff",
    survey="R2,J3,A5,U2",
    sql="""
    WITH v1 AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 10 <> 0
    ),
    v2 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END
                   AS o_orderstatus,
               o_totalprice
        FROM orders WHERE o_orderkey % 10 <> 1
    ),
    classified AS (
        SELECT CASE
                 WHEN v1.o_orderkey IS NULL THEN 'added'
                 WHEN v2.o_orderkey IS NULL THEN 'removed'
                 WHEN v1.o_orderstatus <> v2.o_orderstatus THEN 'changed'
                 ELSE 'unchanged'
               END AS change_type
        FROM v1 FULL JOIN v2 USING (o_orderkey)
    )
    SELECT change_type, CAST(count(*) AS BIGINT) AS n_rows
    FROM classified GROUP BY change_type
    """,
)
def q127_snapshot_diff(spark, sf_dir):
    """Snapshot diff / CDC classification: two table versions (synthesized
    deterministically from orders — 10% of keys dropped from each side,
    every 7th status mutated) full-outer-joined on the primary key and
    classified added / removed / changed / unchanged — the audit every
    versioned-table pipeline (Delta CDF, Iceberg changelog) runs between
    snapshots.

    Plan (round 14): because o_orderkey is the snapshot PRIMARY KEY (unique
    — a constraint the optimizer cannot see, guide §8), the full-outer join
    pairs each v1 row with the v2 row derived from the SAME source row, so
    the join collapses to a per-row classification over ONE scan of orders:
    membership in v1/v2 is the key's mod-10 residue and 'changed' is
    exactly (key%7=0 AND status <> 'X') — the NULL-status edge follows the
    SQL's null-comparison semantics (<> on NULL -> not 'changed').  Two
    scans + a full-outer pk shuffle (the former plan) become one scan + a
    4-group combine agg; o_totalprice leaves the ReadSchema entirely.
    Oracle-verified at sf0.001/0.01/0.1 and value-checked vs DuckDB at the
    16x/64x tiers (replicas shift keys, preserving pk uniqueness).  The
    generic two-arbitrary-snapshots diff (no pk-derivation shortcut) is
    still exercised by q73's MERGE read side and q137's full-outer audit."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    k = F.col("o_orderkey")
    change = (
        F.when(k % 10 == 0, "added")
        .when(k % 10 == 1, "removed")
        .when((k % 7 == 0) & (F.col("o_orderstatus") != "X"), "changed")
        .otherwise("unchanged")
    )
    return (
        o.select(change.alias("change_type"))
        .groupBy("change_type")
        .agg(F.count("*").cast("long").alias("n_rows"))
    )


@register(
    "q130_mom_revenue_growth",
    survey="A5,W3,ext-gapfill",
    sql="""
    WITH monthly AS (
        SELECT date_trunc('month', o_orderdate) AS month,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS revenue_c
        FROM orders GROUP BY month
    )
    SELECT month, revenue_c,
           lag(revenue_c) OVER (ORDER BY month) AS prev_revenue_c,
           CAST((10000 * (revenue_c - lag(revenue_c) OVER (ORDER BY month)))
                // lag(revenue_c) OVER (ORDER BY month) AS BIGINT)
               AS growth_bp
    FROM monthly
    """,
)
def q130_mom_revenue_growth(spark, sf_dir):
    """Month-over-month revenue growth in basis points — the KPI time
    series every warehouse dashboard leads with.  Revenue is fixed-pointed
    to integer cents (floor, rule 16) and growth expressed as integer
    basis points via floor division, so the series is bit-exact; the lag
    window runs over the #months rollup, never the fact table.

    Plan: one combine-agg shuffle to months, then an ordered window over
    a few dozen rows — at 100 TB the window input stays calendar-sized."""
    o = load(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("month"))
        .agg(
            F.sum(F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
            .cast("long")
            .alias("revenue_c")
        )
    )
    w = W.orderBy("month")
    prev = F.lag("revenue_c").over(w)
    return monthly.select(
        "month",
        "revenue_c",
        prev.alias("prev_revenue_c"),
        F.expr(
            "CAST((10000 * (revenue_c - lag(revenue_c) OVER (ORDER BY month)))"
            " div lag(revenue_c) OVER (ORDER BY month) AS BIGINT)"
        ).alias("growth_bp"),
    )


@register(
    "q133_join_key_skew_profile",
    survey="A5,A3,ext-quality",
    sql="""
    WITH pk AS (
        SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS n
        FROM lineitem GROUP BY l_partkey
    ),
    sk AS (
        SELECT l_suppkey AS k, CAST(count(*) AS BIGINT) AS n
        FROM lineitem GROUP BY l_suppkey
    ),
    prof AS (
        SELECT 'l_partkey' AS key_col,
               CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(n) AS BIGINT) AS n_rows,
               CAST(max(n) AS BIGINT) AS max_key_rows
        FROM pk
        UNION ALL
        SELECT 'l_suppkey', CAST(count(*) AS BIGINT),
               CAST(sum(n) AS BIGINT), CAST(max(n) AS BIGINT)
        FROM sk
    )
    SELECT key_col, n_keys, n_rows, max_key_rows,
           CAST((1000000 * max_key_rows) // n_rows AS BIGINT) AS top_key_ppm,
           CAST((1000000 * max_key_rows * n_keys) // n_rows AS BIGINT)
               AS skew_x_uniform_micro
    FROM prof
    """,
)
def q133_join_key_skew_profile(spark, sf_dir):
    """Join-key skew diagnostic — the profile a planner (or an engineer
    choosing between AQE skew-join and operators/skew.py salting) reads
    before a big join: per candidate key column, key cardinality, the
    hottest key's row share in ppm, and how many times a uniform key's
    share that is (skew factor in micro-units, integer floor math).

    Plan (round 14, guide §1.2/§2.4): ONE fact scan — each row explodes
    into (tag, key) pairs for every profiled column, one combine-agg
    shuffle carries the union of the per-column key sets (the same total
    rows the per-column shuffles carried separately), and the per-column
    moments come out of one tiny re-agg by tag.  Previously each profiled
    column re-scanned the fact table and ran its own shuffle + single-row
    agg (2 scans + 4 Exchanges -> 1 scan + 2, see
    OPTIMIZATION_r14.md § q133_join_key_skew_profile); counts are
    integer-identical since every row still contributes exactly one
    instance per profiled column."""
    li = load(spark, sf_dir, "lineitem")
    tagged = li.select(
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("t"), F.col("l_partkey").alias("k")),
                F.struct(F.lit(1).alias("t"), F.col("l_suppkey").alias("k")),
            )
        ).alias("x")
    ).select("x.t", "x.k")
    per_key = tagged.groupBy("t", "k").agg(F.count("*").cast("long").alias("n"))
    out = per_key.groupBy("t").agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("n").cast("long").alias("n_rows"),
        F.max("n").cast("long").alias("max_key_rows"),
    ).select(
        F.when(F.col("t") == 0, F.lit("l_partkey"))
        .otherwise(F.lit("l_suppkey"))
        .alias("key_col"),
        "n_keys",
        "n_rows",
        "max_key_rows",
    )
    return out.select(
        "key_col",
        "n_keys",
        "n_rows",
        "max_key_rows",
        F.expr("CAST((1000000 * max_key_rows) div n_rows AS BIGINT)").alias(
            "top_key_ppm"
        ),
        F.expr(
            "CAST((1000000 * max_key_rows * n_keys) div n_rows AS BIGINT)"
        ).alias("skew_x_uniform_micro"),
    )


@register(
    "q136_percent_of_parent",
    survey="J1,A5,ext-quality",
    sql="""
    WITH nat AS (
        SELECT n.n_regionkey, n.n_name,
               CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev_c
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_regionkey, n.n_name
    ),
    reg AS (
        SELECT n_regionkey, CAST(sum(rev_c) AS BIGINT) AS region_rev_c
        FROM nat GROUP BY n_regionkey
    ),
    tot AS (SELECT CAST(sum(rev_c) AS BIGINT) AS total_rev_c FROM nat)
    SELECT r.r_name, nat.n_name, nat.rev_c,
           CAST((1000000 * CAST(nat.rev_c AS HUGEINT))
                // reg.region_rev_c AS BIGINT) AS share_of_region_ppm,
           CAST((1000000 * CAST(reg.region_rev_c AS HUGEINT))
                // tot.total_rev_c AS BIGINT) AS region_share_ppm
    FROM nat
    JOIN reg USING (n_regionkey)
    JOIN region r ON r.r_regionkey = nat.n_regionkey
    CROSS JOIN tot
    """,
)
def q136_percent_of_parent(spark, sf_dir):
    """Percent-of-parent hierarchical rollup (nation share of region,
    region share of total) — the drill-down ratio report every BI layer
    generates.  Revenue fixed-points to integer cents and shares to ppm
    via floor division, so the whole hierarchy is bit-exact; the parent
    levels are re-aggregated FROM the child level (one fact scan total).

    Plan: one fact-side shuffle for the nation-level agg; region and
    grand totals are tiny re-aggs of that output, broadcast back — a
    rollup cube computed bottom-up without rescanning at 100 TB."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    nat = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_regionkey", "n_name")
        .agg(
            F.sum(F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
            .cast("long")
            .alias("rev_c")
        )
    )
    reg = nat.groupBy("n_regionkey").agg(
        F.sum("rev_c").cast("long").alias("region_rev_c")
    )
    tot = nat.agg(F.sum("rev_c").cast("long").alias("total_rev_c"))
    return (
        nat.join(F.broadcast(reg), "n_regionkey")
        .join(F.broadcast(r), nat.n_regionkey == r.r_regionkey)
        .crossJoin(F.broadcast(tot))
        .select(
            "r_name",
            "n_name",
            "rev_c",
            # ppm in 128-bit (DECIMAL(38,0) div / HUGEINT //): the
            # round-12 sweep caught the int64 form overflowing at 16x
            # (1e6 x total-cents needs ~66 bits) — same fix as q147
            F.expr(
                "CAST((1000000 * CAST(rev_c AS DECIMAL(38,0)))"
                " div region_rev_c AS BIGINT)"
            ).alias("share_of_region_ppm"),
            F.expr(
                "CAST((1000000 * CAST(region_rev_c AS DECIMAL(38,0)))"
                " div total_rev_c AS BIGINT)"
            ).alias("region_share_ppm"),
        )
    )


@register(
    "q137_integrity_audit",
    survey="J3,A5,A3,ext-quality",
    sql="""
    SELECT 'orphan_lineitems' AS check_name,
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT) AS n_violations
    UNION ALL
    SELECT 'childless_orders',
           CAST((SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                                   WHERE l.l_orderkey = o.o_orderkey))
                AS BIGINT)
    UNION ALL
    SELECT 'orders_without_customer',
           CAST((SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT)
    UNION ALL
    SELECT 'duplicate_order_pks',
           CAST((SELECT count(*) FROM (
                     SELECT o_orderkey FROM orders
                     GROUP BY o_orderkey HAVING count(*) > 1))
                AS BIGINT)
    """,
)
def q137_integrity_audit(spark, sf_dir):
    """Referential-integrity audit — the data-quality gate a pipeline runs
    after every load: orphaned facts (lineitem -> orders), childless
    parents, dangling foreign keys (orders -> customer), duplicate primary
    keys.  Output is one row per check with its violation count (all zero
    on consistent data), so the audit is itself oracle-checked.

    Plan: each FK check is a LEFT ANTI join (set-oriented NOT EXISTS —
    never a per-row subquery), the pk check one combine-agg; Spark runs
    the four independent counts as parallel jobs over shared scans.  At
    100 TB each anti-join shuffles on its key unless the layout already
    co-partitions fact and dim (bucketing makes these audits exchange-free)."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey")

    # Round-14 single-pass restructure (guide §2.3 "aggregate before you
    # shuffle"): the orphan / childless / duplicate-pk checks all key on
    # the order key, so they come out of ONE full-outer join of the two
    # per-key COUNT aggregates — the previous shape ran two anti-joins plus
    # a pk aggregate, scanning lineitem twice and orders three times and
    # shuffling raw fact rows instead of combined (key, n) pairs.
    # orphan_lineitems  = lineitem ROWS with no order   = sum n_li where no o
    # childless_orders  = orders   ROWS with no lineitem = sum n_o  where no li
    # duplicate_order_pks = keys with n_o > 1
    li_k = li.groupBy("l_orderkey").agg(F.count("*").alias("n_li"))
    o_k = o.groupBy("o_orderkey").agg(F.count("*").alias("n_o"))
    fo = li_k.join(o_k, li_k.l_orderkey == o_k.o_orderkey, "full_outer")
    key_checks = fo.agg(
        F.coalesce(
            F.sum(F.when(F.col("o_orderkey").isNull(), F.col("n_li"))),
            F.lit(0),
        ).cast("long").alias("_orphan"),
        F.coalesce(
            F.sum(F.when(F.col("l_orderkey").isNull(), F.col("n_o"))),
            F.lit(0),
        ).cast("long").alias("_childless"),
        F.count(F.when(F.col("n_o") > 1, F.lit(1))).cast("long").alias("_dup"),
    )
    dangling = (
        o.join(c, o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count("*").cast("long").alias("n_violations"))
        .select(
            F.lit("orders_without_customer").alias("check_name"),
            "n_violations",
        )
    )
    return key_checks.select(
        F.expr(
            "stack(3,"
            " 'orphan_lineitems', _orphan,"
            " 'childless_orders', _childless,"
            " 'duplicate_order_pks', _dup)"
            " AS (check_name, n_violations)"
        )
    ).unionByName(dangling)


@register(
    "q138_pareto_abc",
    survey="A5,W3,O1",
    sql="""
    WITH per_part AS (
        SELECT l_partkey,
               CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev_c
        FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
        SELECT l_partkey, rev_c,
               CAST(sum(rev_c) OVER (ORDER BY rev_c DESC, l_partkey
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_c,
               CAST(sum(rev_c) OVER () AS BIGINT) AS total_rev_c
        FROM per_part
    ),
    classed AS (
        SELECT CASE WHEN 5 * cum_rev_c <= 4 * total_rev_c THEN 'A'
                    WHEN 20 * cum_rev_c <= 19 * total_rev_c THEN 'B'
                    ELSE 'C' END AS abc_class,
               rev_c
        FROM ranked
    )
    SELECT abc_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(rev_c) AS BIGINT) AS class_rev_c
    FROM classed GROUP BY abc_class
    """,
)
def q138_pareto_abc(spark, sf_dir):
    """Pareto / ABC inventory classification: parts ranked by revenue,
    classed A/B/C at the 80% / 95% cumulative-share breakpoints — the
    80/20 analysis behind stocking and curation-priority decisions.
    Revenue in integer cents and CROSS-MULTIPLIED class tests
    (5*cum <= 4*total, 20*cum <= 19*total) keep every boundary bit-exact
    under the tie-broken cumulative order with int64 headroom to
    ~4.6e17 cents of total revenue — the round-12 registry sweep caught
    the previous ppm form's ``1000000 * cum_rev_c`` overflowing at the
    16x tier (~3.7e13 cents), a correctness-at-scale bug invisible at
    sf0.01.

    Boundary note (round-12 advice): the cross-multiplied tests are NOT
    bit-identical to the old ppm floors — ``floor(1e6*cum/total) <=
    800000`` admitted cum/total in [0.8, 0.800001), while ``5*cum <=
    4*total`` admits exactly cum/total <= 0.8 (same at the 95% edge).
    Both engines use the cross-multiplied form, so parity holds; the
    exact-rational boundary is the DEFINED semantics from round 12 on
    (it is the textbook 80/95 breakpoint — the ppm slack was a
    fixed-point artifact, not a spec).

    Plan: one fact shuffle to per-part revenue; the cumulative window
    runs over #parts rows (the rolled-up entity table, not the fact
    table), then a 3-group agg.  The single-partition ordered window is
    bounded by the entity count — the standard Pareto shape."""
    li = load(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(F.expr("CAST(floor(l_extendedprice * 100) AS BIGINT)"))
        .cast("long")
        .alias("rev_c")
    )
    w = W.orderBy(F.col("rev_c").desc(), "l_partkey").rowsBetween(
        W.unboundedPreceding, 0
    )
    ranked = per_part.select(
        "rev_c",
        F.sum("rev_c").over(w).cast("long").alias("cum_rev_c"),
        F.sum("rev_c").over(W.partitionBy()).cast("long").alias("total_rev_c"),
    )
    classed = ranked.select(
        F.expr(
            "CASE WHEN 5 * cum_rev_c <= 4 * total_rev_c THEN 'A'"
            " WHEN 20 * cum_rev_c <= 19 * total_rev_c THEN 'B'"
            " ELSE 'C' END"
        ).alias("abc_class"),
        "rev_c",
    )
    return classed.groupBy("abc_class").agg(
        F.count("*").cast("long").alias("n_parts"),
        F.sum("rev_c").cast("long").alias("class_rev_c"),
    )


@register(
    "q144_topk_with_ties",
    survey="W1,A2,O3",
    sql="""
    SELECT p_brand, p_partkey, p_retailprice, price_rank
    FROM (
        SELECT p_brand, p_partkey, p_retailprice,
               CAST(rank() OVER (PARTITION BY p_brand
                    ORDER BY p_retailprice) AS BIGINT) AS price_rank
        FROM part
    )
    WHERE price_rank <= 2
    """,
)
def q144_topk_with_ties(spark, sf_dir):
    """Top-k WITH ties — rank() <= k keeps every row tied at the boundary,
    the 'WITH TIES' fetch semantics row_number-based top-k (q09/q53)
    silently truncates.  Both engines define rank() gaps identically, so
    the kept set needs no tie-break column at all: ties are the point.

    Plan: same single window shuffle as row_number top-k — the semantic
    choice is free; Spark's WindowGroupLimit pushdown still applies to
    rank() filters, keeping per-partition state at k rows."""
    p = load(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy("p_retailprice")
    return (
        p.select(
            "p_brand",
            "p_partkey",
            "p_retailprice",
            F.rank().over(w).cast("long").alias("price_rank"),
        )
        .filter(F.col("price_rank") <= 2)
    )


@register(
    "q145_mode_per_group",
    survey="A2,A5,W1",
    sql="""
    SELECT o_orderpriority, o_orderstatus AS mode_status, n
    FROM (
        SELECT o_orderpriority, o_orderstatus,
               CAST(count(*) AS BIGINT) AS n,
               row_number() OVER (PARTITION BY o_orderpriority
                    ORDER BY count(*) DESC, o_orderstatus) AS rk
        FROM orders
        GROUP BY o_orderpriority, o_orderstatus
    )
    WHERE rk = 1
    """,
)
def q145_mode_per_group(spark, sf_dir):
    """Statistical MODE per group (most frequent order status per
    priority) — not a built-in aggregate in either engine's portable
    subset, so it is the canonical two-level shape: frequency agg, then a
    deterministic argmax (count DESC, value ASC tie-break) per group.

    Plan: one combine agg on (group, value) — the frequency table — then
    a window over that tiny rollup; the raw table is scanned once."""
    o = load(spark, sf_dir, "orders")
    freq = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count("*").cast("long").alias("n")
    )
    w = W.partitionBy("o_orderpriority").orderBy(
        F.col("n").desc(), "o_orderstatus"
    )
    return (
        freq.select(
            "o_orderpriority",
            F.col("o_orderstatus").alias("mode_status"),
            "n",
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") == 1)
        .drop("rk")
    )


@register(
    "q147_revenue_gini",
    survey="A5,W3,ext-quality",
    sql="""
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev_c
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT rev_c,
               CAST(row_number() OVER (ORDER BY rev_c, o_custkey) AS BIGINT) AS i
        FROM per_cust
    ),
    sums AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(rev_c) AS BIGINT) AS s_x,
               CAST(sum(i * rev_c) AS BIGINT) AS s_ix
        FROM ranked
    )
    SELECT n, s_x,
           CAST(((2 * CAST(s_ix AS HUGEINT) - (n + 1) * CAST(s_x AS HUGEINT))
                 * 1000) // (CAST(n AS HUGEINT) * s_x) AS BIGINT)
               AS gini_milli
    FROM sums
    """,
)
def q147_revenue_gini(spark, sf_dir):
    """Revenue concentration as an exact integer Gini coefficient: the
    rank-sum identity G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over
    ascending-ranked per-customer revenue — inequality measured with zero
    floats.  The final milli division runs in 128-bit integers
    (DECIMAL(38,0) div on Spark, HUGEINT // in the oracle — both exact
    floor division): the round-12 registry sweep caught the int64 form
    overflowing at the 16x tier, where the scaled numerator
    (2*s_ix - (n+1)*s_x)*1000 needs ~67 bits — the old docstring's
    "safe through 10^7 customers" bound was on the wrong axis (the
    binding product is customers x total-revenue-cents, ~1.4e17 at 16x).
    The same query shape measures corpus
    concentration over sources or token budgets over documents.

    Plan: per-customer agg (one fact shuffle), a global-order window over
    the #customers rollup, one scalar aggregate."""
    o = load(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
        .cast("long")
        .alias("rev_c")
    )
    w = W.orderBy("rev_c", "o_custkey")
    ranked = per_cust.select(
        "rev_c", F.row_number().over(w).cast("long").alias("i")
    )
    sums = ranked.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("rev_c").cast("long").alias("s_x"),
        F.sum(F.expr("i * rev_c")).cast("long").alias("s_ix"),
    )
    return sums.select(
        "n",
        "s_x",
        F.expr(
            "CAST(((2 * CAST(s_ix AS DECIMAL(38,0))"
            " - (n + 1) * CAST(s_x AS DECIMAL(38,0))) * 1000)"
            " div (CAST(n AS DECIMAL(38,0)) * s_x) AS BIGINT)"
        ).alias("gini_milli"),
    )


@register(
    "q148_ship_latency_histogram",
    survey="J1,A5,ext-quality",
    sql="""
    SELECT date_diff('day', o.o_orderdate, l.l_shipdate) AS latency_days,
           CAST(count(*) AS BIGINT) AS n_lineitems,
           CAST(count(DISTINCT l.l_orderkey) AS BIGINT) AS n_orders
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY latency_days
    """,
)
def q148_ship_latency_histogram(spark, sf_dir):
    """Order-to-ship latency distribution in whole days — the fulfillment
    SLA histogram (and, for a crawl pipeline, the exact shape of
    crawl-to-index lag analysis).  Day diffs are calendar-exact integers
    on both engines (datediff ≡ date_diff('day')), so every bucket is
    bit-stable.

    Plan: one fact-fact equi-join on the order key — at 100 TB THE
    bucketed-layout case (both tables cluster on orderkey, making this a
    zero-exchange sort-merge, tests/test_bucketing.py) — then a combine
    agg into a few hundred day buckets."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    return (
        j.select(
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).cast("long").alias(
                "latency_days"
            ),
            "l_orderkey",
        )
        .groupBy("latency_days")
        .agg(
            F.count("*").cast("long").alias("n_lineitems"),
            F.countDistinct("l_orderkey").cast("long").alias("n_orders"),
        )
    )


@register(
    "q157_promo_part_suppliers",
    survey="J1,J4,A1,A5,P5",
    sql="""
    WITH shipped AS (
        SELECT l_suppkey, l_partkey,
               CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                              AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
                             THEN l_quantity ELSE 0 END) AS BIGINT) AS qty_1997,
               CAST(sum(l_quantity) AS BIGINT) AS qty_all
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_type = 'ECONOMY'
        GROUP BY l_suppkey, l_partkey
    ),
    qualifying AS (
        SELECT l_suppkey,
               CAST(count(*) AS BIGINT) AS n_parts,
               CAST(sum(qty_1997) AS BIGINT) AS qty_1997_total
        FROM shipped
        WHERE qty_1997 > 0 AND 2 * qty_1997 > qty_all
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, n_parts, qty_1997_total
    FROM qualifying
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE n_name IN ('NATION_1', 'NATION_2')
    """,
)
def q157_promo_part_suppliers(spark, sf_dir):
    """TPC-H Q20-shaped (completes all 22 TPC-H query shapes): suppliers
    who concentrated their shipments of a part class into the target year
    — Q20's correlated ``availqty > 0.5 * shipped-in-year`` threshold,
    decorrelated by construction into ONE conditional aggregation per
    (supplier, part) with the comparison done between two columns of the
    same aggregate row (the fixture has no partsupp; lineitem plays the
    supply relation, as in q98/q99's Q11/Q16 adaptations).

    Plan shape: part filter broadcasts into the fact scan; the only big
    shuffle is the (suppkey, partkey) aggregation, whose conditional sums
    are map-side partials; the per-supplier rollup reuses the suppkey-
    prefixed grouping; supplier/nation resolve by broadcast at the end
    against the (bounded) qualifying set.  The ``2 * qty > qty_all``
    comparison stays in integers — l_quantity is integral, so the BIGINT
    cast after sum is exact on both engines.
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    y0 = F.lit("1997-01-01").cast("timestamp")
    y1 = F.lit("1998-01-01").cast("timestamp")
    shipped = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(
                F.when(
                    (F.col("l_shipdate") >= y0) & (F.col("l_shipdate") < y1),
                    F.col("l_quantity"),
                ).otherwise(F.lit(0.0))
            )
            .cast("long")
            .alias("qty_1997"),
            F.sum("l_quantity").cast("long").alias("qty_all"),
        )
    )
    qualifying = (
        shipped.filter(
            (F.col("qty_1997") > 0)
            & (2 * F.col("qty_1997") > F.col("qty_all"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum("qty_1997").cast("long").alias("qty_1997_total"),
        )
    )
    nat = load(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    supp = load(spark, sf_dir, "supplier").join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
    )
    return qualifying.join(
        F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey")
    ).select("s_suppkey", "s_name", "n_parts", "qty_1997_total")
