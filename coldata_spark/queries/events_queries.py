"""Event-time queries over the ``events`` stream table (SURVEY.md §2.9 R6).

The reference has no event-time semantics (its "streaming" is a wall-clock
re-crawl loop, scheduler.py:21-33); these are the declared extensions.  Each
query here is the BATCH expression of a streaming computation — the
streaming/ package runs the same logic through Structured Streaming with
watermarks, and tests assert stream == batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from coldata_spark.registry import register
from coldata_spark.tables import load


@register(
    "q40_events_hourly",
    survey="R6,A5",
    sql="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value,
           count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def q40_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation (batch form of the streaming
    windowed count; the streaming twin adds withWatermark)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@register(
    "q41_events_json_props",
    survey="S5,T12,A4",
    sql="""
    SELECT event_type,
           count(*) AS n,
           round(avg(cast(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k,
           round(avg(value), 4) AS avg_value
    FROM events
    WHERE cast(json_extract_string(props, '$.k') AS INT) > 50
    GROUP BY event_type
    """,
)
def q41_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props: JSON decode (T12, kaggle.py:126-128's
    double-decoded metadata) + filter + aggregate.  get_json_object stays
    JVM-side; at scale prefer from_json once into a struct column."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    # Parse the JSON ONCE per row: the previous withColumn + filter shape
    # let predicate pushdown clone the get_json_object under the filter, so
    # every row parsed once and every SURVIVING row twice (guide §4.4's
    # duplication, for a JVM expression).  Folding the predicate into
    # conditional aggregates keeps filter and aggregation in one operator —
    # count/avg ignore the NULLed-out non-matching rows, groups with no
    # matching row (n = 0) are dropped after the fact, exactly the original
    # group set.  Codegen CSE evaluates the shared parse once
    # (OPTIMIZATION_r14.md § q41_events_json_props: 2
    # get_json_object sites -> 1).
    # the explicit projection materializes k once per row — the aggregate
    # expressions below reference the column, not the parse, so single
    # evaluation does not depend on codegen CSE catching three clones
    parsed = ev.select("event_type", "value", k.alias("k"))
    matches = F.when(F.col("k") > 50, F.col("k"))
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(matches).alias("n"),
            F.round(F.avg(matches), 4).alias("avg_k"),
            F.round(
                F.avg(F.when(F.col("k") > 50, F.col("value"))), 4
            ).alias("avg_value"),
        )
        .filter(F.col("n") > 0)
    )


@register(
    "q42_events_sessionize",
    survey="R6,W2,W3",
    sql="""
    WITH gaps AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN date_diff('second', lag(ts) OVER w, ts) <= 1800
                    THEN 0 ELSE 1 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, event_id, ts, value,
               cast(sum(new_session) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id
                                           ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS session_id
        FROM gaps
    )
    SELECT user_id, session_id,
           count(*) AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end,
           round(sum(value), 2) AS session_value
    FROM sess
    GROUP BY user_id, session_id
    """,
)
def q42_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap — the batch equivalent
    of session_window(ts, '30 minutes'); lag + cumulative-sum session ids.
    Partition-local windows: scales with #users, no global sort."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    new_session = F.when(gap <= 1800, F.lit(0)).otherwise(F.lit(1))
    sess = ev.withColumn("new_session", new_session).withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
    )


@register(
    "q44_asof_last_click_before_purchase",
    survey="ext-asof,W3",
    sql="""
    SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
           last_click_ts,
           round((epoch_us(ts) - epoch_us(last_click_ts)) / 1000000.0, 3)
               AS secs_since_click
    FROM (
        SELECT event_id, user_id, ts, event_type,
               last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS last_click_ts
        FROM events
        WHERE event_type IN ('click', 'purchase')
    )
    WHERE event_type = 'purchase'
    """,
)
def q44_asof_last_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (backward): each purchase event matched to the same
    user's most recent STRICTLY-EARLIER click.  Spark lacks a native as-of
    join; the scalable form is a single partition-local window carrying the
    last click forward (one shuffle on user_id, no range join explosion) —
    the standard union-stream trick specialized to one table.

    Only click/purchase rows participate (other event types can neither
    match nor be output), so the type filter sits BEFORE the window and
    reaches the parquet scan — 60% of rows never enter the shuffle+sort."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    enriched = ev.withColumn(
        "last_click_ts", F.last(click_ts, ignorenulls=True).over(w)
    )
    return (
        enriched.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "last_click_ts",
            F.round(
                (F.unix_micros("ts") - F.unix_micros("last_click_ts")) / 1000000.0,
                3,
            ).alias("secs_since_click"),
        )
    )


@register(
    "q155_events_sliding_window",
    survey="R6,A5",
    sql="""
    SELECT (epoch_us(ts) // 1000000 - off) // 3600 * 3600 + off
               AS window_start_epoch,
           event_type,
           count(*) AS n_events
    FROM events, unnest([0, 1800]) AS t(off)
    WHERE epoch_us(ts) // 1000000 >= (epoch_us(ts) // 1000000 - off) // 3600 * 3600 + off
    GROUP BY 1, 2
    """,
)
def q155_events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour window, 30-minute step (batch form of
    window(ts, '1 hour', '30 minutes')): each event lands in 2 windows —
    expressed with integer epoch arithmetic so both engines agree exactly.
    The streaming twin is streaming/events.sliding_value_sum."""
    ev = load(spark, sf_dir, "events")
    secs = (F.unix_micros(F.col("ts")) / 1000000).cast("long")
    offs = F.explode(F.array(F.lit(0), F.lit(1800))).alias("off")
    w_start = ((secs - F.col("off")) / 3600).cast("long") * 3600 + F.col("off")
    return (
        ev.select("event_type", "ts", offs)
        .withColumn("ws", w_start)
        .filter(secs >= F.col("ws"))
        .groupBy(F.col("ws").alias("window_start_epoch"), "event_type")
        .agg(F.count("*").alias("n_events"))
    )


@register(
    "q43_events_latest_per_user",
    survey="A2,W1",
    sql="""
    SELECT user_id, event_id AS last_event_id, ts AS last_ts,
           event_type AS last_type
    FROM (
        SELECT user_id, event_id, ts, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    WHERE rn = 1
    """,
)
def q43_events_latest_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest event per user (arg-max on event time) — dedup-keep-latest,
    the batch twin of dropDuplicatesWithinWatermark keep-last semantics."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_type"),
        )
    )


@register(
    "q80_events_range_join",
    survey="ext-asof,J5,R6",
    sql="""
    SELECT a.user_id,
           a.event_id AS event_a, b.event_id AS event_b,
           date_diff('second', a.ts, b.ts) AS gap_s
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND date_diff('second', a.ts, b.ts) BETWEEN 1 AND 300
    """,
)
def q80_events_range_join(spark, sf_dir):
    """Bounded range join: pairs of same-user events within 300 s — the
    banded-join pattern for interval/range joins at scale.

    A naive theta-join (ts inequality only) is a per-user cross product;
    instead each left row is exploded to its TWO candidate 300 s time
    buckets, the join runs as an EQUI-join on (user_id, bucket) — hash
    shuffle, no nested loop — and the exact inequality filters the small
    candidate set.  Shuffle volume is 2x the input, and per-bucket
    cardinality bounds the quadratic term the same way LSH banding bounds
    near-dup candidate generation.
    """
    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    bucket = (F.unix_timestamp("ts") / F.lit(300)).cast("long")
    a = (
        ev.withColumn("_jb", F.explode(F.array(bucket, bucket + 1)))
        .select(
            F.col("user_id").alias("a_user"),
            F.col("event_id").alias("event_a"),
            F.col("ts").alias("a_ts"),
            "_jb",
        )
    )
    b = ev.select(
        F.col("user_id").alias("b_user"),
        F.col("event_id").alias("event_b"),
        F.col("ts").alias("b_ts"),
        bucket.alias("_bb"),
    )
    return (
        a.join(b, (F.col("a_user") == F.col("b_user")) & (F.col("_jb") == F.col("_bb")))
        # truncated-second semantics on BOTH engines (DuckDB date_diff
        # counts second-boundary crossings == unix_timestamp subtraction);
        # an exact-microsecond comparison here would disagree with the
        # oracle on pairs whose gap straddles the 300.0 s boundary
        .filter(
            (F.unix_timestamp("b_ts") - F.unix_timestamp("a_ts") >= 1)
            & (F.unix_timestamp("b_ts") - F.unix_timestamp("a_ts") <= 300)
        )
        .select(
            F.col("a_user").alias("user_id"),
            "event_a",
            "event_b",
            (F.unix_timestamp("b_ts") - F.unix_timestamp("a_ts")).alias("gap_s"),
        )
    )


@register(
    "q83_hypertable_rollup",
    survey="A5,R6",
    sql="""
    SELECT coalesce(day_e, -1)  AS day_epoch,
           coalesce(hour_e, -1) AS hour_epoch,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM (
        SELECT CAST(epoch_us(date_trunc('day', ts))  // 1000000 AS BIGINT) AS day_e,
               CAST(epoch_us(date_trunc('hour', ts)) // 1000000 AS BIGINT) AS hour_e,
               value
        FROM events
    )
    GROUP BY ROLLUP (day_e, hour_e)
    """,
)
def q83_hypertable_rollup(spark, sf_dir):
    """Hypertable-style hierarchical time rollup: hour-grain, day-grain and
    grand-total aggregates of the event stream in ONE pass (ROLLUP =
    Expand(3 replicas) + single shuffle) — the batch form of a continuous
    aggregate / materialized rollup over a time-partitioned table.

    At scale the same plan materializes incrementally: a watermarked
    streaming agg maintains the hour grain and the coarser grains roll up
    from it (each level aggregates its child, never the raw stream).  The
    batch plan here has exactly that shape: the raw stream is aggregated
    ONCE at hour grain (no Expand tripling every event through the hash
    agg — hour determines day, so coarser grains derive from the ~10^4-row
    hourly aggregate, measured 2x faster at 64x replication), then a
    ROLLUP over the tiny hourly frame adds the day and grand-total levels.
    Time keys are epoch bigints (null rollup levels -> -1): engines
    disagree on timestamp/timezone rendering but never on integers.
    """
    ev = load(spark, sf_dir, "events")
    # hour truncation as pure integer epoch math (UTC hours are exact
    # 3600 s slabs — no calendar/DST logic per row): measured 12% faster
    # than unix_timestamp(date_trunc(HOUR, ts)) at 256x and independent of
    # the session timezone, matching the oracle's UTC date_trunc exactly
    hour_e = F.expr("(unix_micros(ts) div 3600000000) * 3600").alias("hour_e")
    hourly = (
        ev.select(hour_e, "value")
        .groupBy("hour_e")
        .agg(F.count("*").alias("_n"), F.sum("value").alias("_sv"))
    )
    # UTC hour epochs truncate to day epochs arithmetically (days have no
    # DST in UTC), so the day level never touches the raw stream
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


@register(
    "q93_conversion_funnel",
    survey="A2,A5,R6",
    sql="""
    WITH firsts AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
               min(CASE WHEN event_type = 'click' AND EXISTS (
                     SELECT 1 FROM events e2 WHERE e2.user_id = e.user_id
                       AND e2.event_type = 'view' AND e2.ts < e.ts
                   ) THEN epoch_us(ts) END) AS t_click_after_view
        FROM events e
        GROUP BY user_id
    ),
    stages AS (
        SELECT f.user_id, t_view, t_click_after_view,
               (SELECT min(epoch_us(p.ts)) FROM events p
                WHERE p.user_id = f.user_id AND p.event_type = 'purchase'
                  AND epoch_us(p.ts) > t_click_after_view) AS t_purchase
        FROM firsts f
    )
    SELECT count(*) AS n_users,
           count(t_view) AS reached_view,
           count(t_click_after_view) AS reached_click,
           count(t_purchase) AS reached_purchase
    FROM stages
    """,
)
def q93_conversion_funnel(spark, sf_dir):
    """Ordered conversion funnel: users who viewed -> clicked AFTER a view
    -> purchased AFTER that click.  The correlated EXISTS/min subqueries of
    the SQL form decorrelate into ONE pass of partition-local window
    functions: running min of view-time, first click past it, first
    purchase past that — one shuffle on user_id, no self-joins at all
    (three in the naive SQL).

    Epoch-microsecond integers end to end: cross-engine-exact comparisons
    and no timestamp rendering in the hash.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("t")
    )
    w = W.partitionBy("user_id").orderBy("t", "event_type").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    # running first-view time; strictly-earlier semantics via 1-row lag
    w_prev = W.partitionBy("user_id").orderBy("t", "event_type").rowsBetween(
        W.unboundedPreceding, -1
    )
    first_view_before = F.min(
        F.when(F.col("event_type") == "view", F.col("t"))
    ).over(w_prev)
    staged = ev.withColumn(
        "t_click_av",
        F.when(
            (F.col("event_type") == "click") & first_view_before.isNotNull(),
            F.col("t"),
        ),
    )
    first_click_before = F.min("t_click_av").over(w_prev)
    staged = staged.withColumn(
        "t_purch_ac",
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("t") > first_click_before),
            F.col("t"),
        ),
    )
    per_user = staged.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("t"))).alias("t_view"),
        F.min("t_click_av").alias("t_click_after_view"),
        F.min("t_purch_ac").alias("t_purchase"),
    )
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.count("t_view").alias("reached_view"),
        F.count("t_click_after_view").alias("reached_click"),
        F.count("t_purchase").alias("reached_purchase"),
    )


@register(
    "q107_asof_join_tolerance",
    survey="ext-asof,W3",
    sql="""
    WITH clicks AS (
        SELECT user_id, ts, max(event_id) AS click_id
        FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ),
    purch AS (
        SELECT user_id, ts, event_id AS purchase_id
        FROM events WHERE event_type = 'purchase'
    ),
    u AS (
        SELECT user_id, ts, 1 AS tag, purchase_id,
               NULL::BIGINT AS click_id, NULL::TIMESTAMP AS click_ts
        FROM purch
        UNION ALL
        SELECT user_id, ts, 0, NULL, click_id, ts FROM clicks
    ),
    m AS (
        SELECT user_id, ts, tag, purchase_id,
               last_value(click_id IGNORE NULLS) OVER w AS m_click,
               last_value(click_ts IGNORE NULLS) OVER w AS m_ts
        FROM u
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, tag
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT purchase_id, user_id,
           epoch_us(ts) AS purchase_us,
           CASE WHEN epoch_us(ts) - epoch_us(m_ts) <= 600000000
                THEN m_click END AS click_id,
           CASE WHEN epoch_us(ts) - epoch_us(m_ts) <= 600000000
                THEN epoch_us(ts) - epoch_us(m_ts) END AS gap_us
    FROM m WHERE tag = 1
    """,
)
def q107_asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The generic asof_join operator (operators/asof.py) under a hard
    oracle: each purchase matched to the same user's latest click within a
    10-minute tolerance; clicks deduped deterministically to one per
    (user, ts).  The oracle reproduces the union-stream window by hand.

    Plan: one shuffle on user_id for the union-stream window — no range
    join, no candidate-pair explosion; tolerance is a post-match filter."""
    from coldata_spark.operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    joined = asof_join(
        purchases,
        clicks,
        on="ts",
        by="user_id",
        tolerance=F.expr("INTERVAL '10' MINUTE"),
    )
    return joined.select(
        "purchase_id",
        "user_id",
        F.unix_micros("ts").alias("purchase_us"),
        "click_id",
        (F.unix_micros("ts") - F.unix_micros("ts_right")).alias("gap_us"),
    )


@register(
    "q112_gapfill_locf",
    survey="R6,ext-gapfill",
    sql="""
    WITH b AS (
        SELECT event_type, date_trunc('hour', ts) AS bucket,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY event_type, date_trunc('hour', ts)
    ),
    rng AS (
        SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
        FROM b GROUP BY event_type
    ),
    grid AS (
        SELECT event_type,
               unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
        FROM rng
    ),
    f AS (
        SELECT g.event_type, g.bucket, b.n
        FROM grid g LEFT JOIN b
          ON b.event_type = g.event_type AND b.bucket = g.bucket
    )
    SELECT event_type, bucket,
           CAST(coalesce(n, 0) AS BIGINT) AS n_actual,
           CAST(last_value(n IGNORE NULLS) OVER (
                PARTITION BY event_type ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_locf,
           CAST(CASE WHEN n IS NULL THEN 1 ELSE 0 END AS INT) AS gap_filled
    FROM f
    """,
)
def q112_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly series with last-observation-carried-forward —
    TimescaleDB ``time_bucket_gapfill`` + ``locf`` re-expressed Spark-first:
    densify each event_type's hourly range with sequence+explode (map-side
    1->N, no shuffle beyond the agg), left-join the real buckets, then
    ``last(ignorenulls)`` over an unbounded-preceding window.  The carried
    metric is an integer count so both engines agree bit-exactly; the first
    bucket per key is the series min, so n_locf is never null.

    Plan: ONE scan, ONE shuffle.  Instead of densify-grid + left join
    (which scans the fact table twice — exchange reuse is defeated by the
    join's pushed null filters), each real bucket explodes forward to the
    hour before the NEXT real bucket (lead + sequence): the generated rows
    ARE the gap rows and inherit the preceding observation, so LOCF needs
    no ignorenulls window.  At 100 TB: map-side-combined agg shuffle on
    (key, hour), partition-local lead, then a 1->gap_width Generate."""
    ev = load(spark, sf_dir, "events")
    b = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(F.count("*").alias("n"))
    w = W.partitionBy("event_type").orderBy("bucket")
    hour = F.expr("INTERVAL '1' HOUR")
    stretched = b.withColumn("nxt", F.lead("bucket").over(w)).select(
        "event_type",
        "n",
        F.col("bucket").alias("src_bucket"),
        F.explode(
            F.sequence(
                "bucket",
                F.coalesce(F.col("nxt") - hour, F.col("bucket")),
                hour,
            )
        ).alias("bucket"),
    )
    is_real = F.col("bucket") == F.col("src_bucket")
    return stretched.select(
        "event_type",
        "bucket",
        F.when(is_real, F.col("n")).otherwise(F.lit(0)).cast("long").alias("n_actual"),
        F.col("n").cast("long").alias("n_locf"),
        (~is_real).cast("int").alias("gap_filled"),
    )


@register(
    "q113_cohort_retention",
    survey="R6,A1",
    sql="""
    WITH uw AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
    ),
    cohort AS (
        SELECT user_id, min(wk) AS cohort_wk FROM uw GROUP BY user_id
    )
    SELECT c.cohort_wk,
           CAST(date_diff('day', c.cohort_wk, u.wk) // 7 AS BIGINT) AS week_offset,
           CAST(count(DISTINCT u.user_id) AS BIGINT) AS n_users
    FROM uw u JOIN cohort c USING (user_id)
    GROUP BY c.cohort_wk, week_offset
    """,
)
def q113_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-active week, counted
    in each subsequent week they return.  Week offsets use integer day
    arithmetic DIV 7 (both engines truncate weeks to Monday, so day diffs
    are exact multiples — no float, no interval parity risk).

    Plan: one distinct shuffle on (user, week), a groupBy(user) for the
    cohort min, a key-colocated join back (same user_id partitioning is
    reusable), then the final small agg.  At 100 TB the distinct is the
    dominant shuffle and is map-side combinable; the cohort table is
    users-sized, joined on the already-shuffled key."""
    ev = load(spark, sf_dir, "events")
    uw = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).distinct()
    cohort = uw.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    joined = uw.join(cohort, "user_id")
    return (
        joined.groupBy(
            "cohort_wk",
            F.expr("CAST(datediff(wk, cohort_wk) DIV 7 AS BIGINT)").alias(
                "week_offset"
            ),
        )
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    )


@register(
    "q116_time_weighted_avg",
    survey="R6,A5,ext-gapfill",
    sql="""
    WITH seg AS (
        SELECT user_id,
               CAST(floor(value * 100) AS BIGINT) AS v_c,
               date_diff('second', ts,
                         lead(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id)) AS dur_s
        FROM events
    )
    SELECT user_id,
           CAST(count(dur_s) AS BIGINT) AS n_segments,
           CAST(sum(dur_s) AS BIGINT) AS total_s,
           CAST((1000000 * sum(v_c * dur_s)) // sum(dur_s) AS BIGINT)
               AS twa_centi_micro
    FROM seg
    WHERE dur_s IS NOT NULL
    GROUP BY user_id
    HAVING sum(dur_s) > 0
    """,
)
def q116_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TimescaleDB ``time_weight('LOCF', ...)``):
    each observation's value is held until the next observation, so the
    average weights values by how long they were current, not by sample
    count — the correct semantics for irregularly-sampled gauges.  Values
    are fixed-pointed to integer centi-units and durations to whole
    seconds (the engine's truncated-second rule), so the weighted mean in
    integer micro-units is bit-exact across engines.

    Plan: one partition-local lead window per user (single shuffle on
    user_id), then a map-side-combinable sum/count aggregation that reuses
    the same partitioning — no second shuffle.  Scales with #users; no
    global sort anywhere."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seg = ev.select(
        "user_id",
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("v_c"),
        (F.lead(F.col("ts").cast("long")).over(w) - F.col("ts").cast("long")).alias(
            "dur_s"
        ),
    ).filter(F.col("dur_s").isNotNull())
    return (
        seg.groupBy("user_id")
        .agg(
            F.count("dur_s").cast("long").alias("n_segments"),
            F.sum("dur_s").cast("long").alias("total_s"),
            F.expr("CAST((1000000 * sum(v_c * dur_s)) div sum(dur_s) AS BIGINT)").alias(
                "twa_centi_micro"
            ),
        )
        .filter(F.col("total_s") > 0)
    )


@register(
    "q117_scd2_history",
    survey="R6,W2,ext-asof",
    sql="""
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    changes AS (
        SELECT user_id, event_type, ts, event_id
        FROM ordered
        WHERE prev_type IS NULL OR event_type <> prev_type
    )
    SELECT user_id, event_type,
           ts AS valid_from,
           coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                    TIMESTAMP '2100-01-01 00:00:00') AS valid_to,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS BIGINT) AS version,
           CASE WHEN lead(ts) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS is_current
    FROM changes
    """,
)
def q117_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 history build: collapse each user's
    event-type sequence into contiguous validity intervals [valid_from,
    valid_to) with a version number and an is_current flag — the standard
    warehouse dimension-versioning op (Kimball SCD2), with the open
    interval closed by a far-future sentinel (2100-01-01, chosen inside
    nanosecond-timestamp range so Arrow/pandas interchange stays lossless) so the output
    is null-free.

    Plan: two partition-local window passes over the SAME user_id
    partitioning (lag to detect changes, lead/row_number to close
    intervals) — Catalyst reuses one shuffle for both.  Scales with
    #users, the run-collapse filter drops most rows before the second
    window."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type")))
    )
    # event_id rides along so the second window is TOTALLY ordered — two
    # change rows sharing an exact ts would otherwise get version/valid_to
    # assigned engine-arbitrarily (every other query here tie-breaks so)
    w2 = W.partitionBy("user_id").orderBy("ts", "event_id")
    return changes.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.coalesce(
            F.lead("ts").over(w2), F.lit("2100-01-01 00:00:00").cast("timestamp")
        ).alias("valid_to"),
        F.row_number().over(w2).cast("long").alias("version"),
        F.when(F.lead("ts").over(w2).isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_current"),
    )


@register(
    "q118_ohlc_bars",
    survey="R6,A2,W3",
    sql="""
    WITH ranked AS (
        SELECT event_type, date_trunc('hour', ts) AS bar_ts, value,
               row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                  ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events
    )
    SELECT event_type, bar_ts,
           round(max(CASE WHEN rn_a = 1 THEN value END), 2) AS open,
           round(max(value), 2) AS high,
           round(min(value), 2) AS low,
           round(max(CASE WHEN rn_d = 1 THEN value END), 2) AS close,
           CAST(count(*) AS BIGINT) AS n_ticks
    FROM ranked
    GROUP BY event_type, bar_ts
    """,
)
def q118_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick bars per event type and hour — the canonical
    financial time-series downsample (open/close = first/last tick by
    event time with id tie-break, high/low = extremes).  First/last are
    expressed as rank-1 picks under the two orderings so the choice is
    fully deterministic on both engines.

    Plan: both row_numbers ride ONE window partitioning (event_type,
    hour); the groupBy then reuses the identical keys, so the whole bar
    build is a single shuffle.  Window partitions are hour-sized — no
    per-user or global ordering bottleneck at 100 TB."""
    ev = load(spark, sf_dir, "events")
    bar = F.date_trunc("hour", F.col("ts")).alias("bar_ts")
    wa = W.partitionBy("event_type", "bar_ts").orderBy("ts", "event_id")
    wd = W.partitionBy("event_type", "bar_ts").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = ev.select("event_type", bar, "value", "ts", "event_id").select(
        "event_type",
        "bar_ts",
        "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return ranked.groupBy("event_type", "bar_ts").agg(
        F.round(F.max(F.when(F.col("rn_a") == 1, F.col("value"))), 2).alias("open"),
        F.round(F.max("value"), 2).alias("high"),
        F.round(F.min("value"), 2).alias("low"),
        F.round(F.max(F.when(F.col("rn_d") == 1, F.col("value"))), 2).alias("close"),
        F.count("*").cast("long").alias("n_ticks"),
    )


@register(
    "q119_rolling_7d_sum",
    survey="R6,A5,W3",
    sql="""
    WITH daily AS (
        SELECT user_id,
               date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day_no,
               CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS v_c
        FROM events
        GROUP BY user_id, day_no
    )
    SELECT user_id, day_no, v_c,
           CAST(sum(v_c) OVER (PARTITION BY user_id ORDER BY day_no
                RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS sum_7d,
           CAST(count(*) OVER (PARTITION BY user_id ORDER BY day_no
                RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS days_present_7d
    FROM daily
    """,
)
def q119_rolling_7d_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day window aggregate with a RANGE frame over event-time —
    the frame is value-based (6 days preceding by day NUMBER), so gaps in
    a user's activity shrink the window's row count instead of silently
    stretching it back in time, which is what a ROWS frame would get
    wrong.  Day numbers are integer day-diffs from a fixed epoch and
    values fixed-pointed to centi-units, so the frame boundaries and sums
    are bit-exact across engines.

    Plan: the daily pre-aggregation shuffles once on (user, day) with
    map-side combine, and the RANGE window then reuses a user_id-only
    repartitioning of the already-reduced daily rows — the window input
    is #active-user-days, not #events, which is the key to this op at
    100 TB (the raw-event window would be quadratic-ish in hot users)."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.select(
            "user_id",
            F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
            .cast("long")
            .alias("day_no"),
            F.expr("CAST(floor(value * 100) AS BIGINT)").alias("vc"),
        )
        .groupBy("user_id", "day_no")
        .agg(F.sum("vc").cast("long").alias("v_c"))
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("day_no")
        .rangeBetween(-6, W.currentRow)
    )
    return daily.select(
        "user_id",
        "day_no",
        "v_c",
        F.sum("v_c").over(w).cast("long").alias("sum_7d"),
        F.count("*").over(w).cast("long").alias("days_present_7d"),
    )


@register(
    "q121_session_transitions",
    survey="R6,W2,A5",
    sql="""
    WITH gaps AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN date_diff('second', lag(ts) OVER w, ts) <= 1800
                    THEN 0 ELSE 1 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts, event_id, event_type,
               CAST(sum(new_session) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM gaps
    ),
    steps AS (
        SELECT event_type AS src,
               lead(event_type) OVER (PARTITION BY user_id, session_id
                                      ORDER BY ts, event_id) AS dst
        FROM sess
    )
    SELECT src, dst,
           CAST(count(*) AS BIGINT) AS n_transitions
    FROM steps
    WHERE dst IS NOT NULL
    GROUP BY src, dst
    """,
)
def q121_session_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-session event-type transition counts (the first-order Markov
    matrix behind clickstream path analysis) — sessionize exactly as q42,
    then pair each event with its successor inside the same session and
    count (src, dst) bigrams.

    Plan: the sessionizing window, the successor lead and the final agg's
    map-side combine all run off ONE user_id shuffle (lead repartitions by
    (user, session) prefix-compatible keys); output is #type² rows.  At
    100 TB the transition matrix stays tiny while all heavy work is
    partition-local."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    sess = ev.withColumn(
        "new_session", F.when(gap <= 1800, F.lit(0)).otherwise(F.lit(1))
    ).withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    ws = W.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    steps = sess.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(ws).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    return steps.groupBy("src", "dst").agg(
        F.count("*").cast("long").alias("n_transitions")
    )


@register(
    "q125_hourly_anomalies",
    survey="R6,A5,ext-quality",
    sql="""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hr,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY event_type, hr
    ),
    stats AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n) AS BIGINT) AS s,
               CAST(sum(n * n) AS BIGINT) AS sq
        FROM hourly GROUP BY event_type
    )
    SELECT h.event_type, h.hr, h.n,
           CAST((1000000 * h.n * st.k) // st.s AS BIGINT) AS vs_mean_micro
    FROM hourly h JOIN stats st USING (event_type)
    WHERE st.k * h.n - st.s > 0
      AND (st.k * h.n - st.s) * (st.k * h.n - st.s)
          > 4 * (st.k * st.sq - st.s * st.s)
    """,
)
def q125_hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical anomaly flags on the hourly event counts: an hour is
    anomalous when its count exceeds its type's mean by more than two
    standard deviations.  The test is evaluated entirely in integers:
    x > mean + 2*sigma  <=>  k*x - S > 0  AND  (k*x - S)^2 > 4*(k*SQ - S^2)
    (k hours, S = sum of counts, SQ = sum of squares; both sides scaled by
    k^2) — no sqrt, no float variance, so the flagged set is bit-exact
    across engines.  vs_mean_micro reports the count as a ratio to the
    mean in integer micro-units.

    Plan: hourly counts (one combine-agg shuffle), per-type moment
    aggregation over #hours rows, broadcast-join back — the anomaly scan
    is over the ROLLUP, never the raw events; at 100 TB the moments ride
    the same tiny table a monitoring job would keep anyway.

    Round 15 (guide §2.2): the rollup groups on an integer epoch-hour
    instead of date_trunc'd timestamps — date_trunc runs timezone logic
    per input row, the long `div` is one integer op, and the grouping
    key narrows; the timestamp is reconstructed AFTER the aggregate
    (at most #hours rows).  In the UTC session date_trunc('hour', ts)
    == timestamp_seconds(3600 * floor(epoch / 3600)) exactly (the floor
    in integer ops: a truncating `div` put -1800 s in hour 0); value-gated
    identical at the 16x/64x tiers (OPTIMIZATION_r15.md ask #5,
    0.36 -> 0.26 s at 16x, flat at 64x) and oracle-parity green."""
    ev = load(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "event_type",
            F.expr("(cast(ts as bigint) - pmod(cast(ts as bigint), 3600)) div 3600")
            .alias("_hr_epoch"),
        ).agg(F.count("*").cast("long").alias("n"))
    )
    stats = hourly.groupBy("event_type").agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("s"),
        F.sum(F.expr("n * n")).cast("long").alias("sq"),
    )
    j = hourly.join(F.broadcast(stats), "event_type")
    dev = F.expr("k * n - s")
    return (
        j.filter((dev > 0) & (dev * dev > F.expr("4 * (k * sq - s * s)")))
        .select(
            "event_type",
            F.timestamp_seconds(F.expr("_hr_epoch * 3600")).alias("hr"),
            "n",
            F.expr("CAST((1000000 * n * k) div s AS BIGINT)").alias("vs_mean_micro"),
        )
    )


@register(
    "q126_interval_coverage",
    survey="R6,W3,A5",
    sql="""
    WITH iv AS (
        SELECT user_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS s,
               CAST(floor(epoch(ts)) AS BIGINT) + 300 AS e,
               event_id
        FROM events
    ),
    flagged AS (
        SELECT user_id, s, e, event_id,
               CASE WHEN s > coalesce(max(e) OVER (PARTITION BY user_id
                        ORDER BY s, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        -9223372036854775808)
                    THEN 1 ELSE 0 END AS new_island
        FROM iv
    ),
    islands AS (
        SELECT user_id, s, e,
               CAST(sum(new_island) OVER (PARTITION BY user_id
                    ORDER BY s, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island_id
        FROM flagged
    )
    SELECT user_id,
           CAST(count(DISTINCT island_id) AS BIGINT) AS n_islands,
           CAST(sum(len) AS BIGINT) AS covered_s
    FROM (
        SELECT user_id, island_id, max(e) - min(s) AS len
        FROM islands GROUP BY user_id, island_id
    )
    GROUP BY user_id
    """,
)
def q126_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union coverage (islands & gaps): each event opens a 5-minute
    activity interval; overlapping intervals merge, and the result is each
    user's number of activity islands and total covered seconds — the
    uptime/SLA-coverage primitive that naive sum-of-durations double-counts.
    A new island starts when an interval's start exceeds the running max of
    all previous ends (integer epoch seconds, so the flag is exact).

    Plan: one user_id shuffle powers the running-max window, the island-id
    cumulative sum AND the island aggregation (same-prefix keys); per-user
    data never leaves its partition.  The epoch arithmetic is integral, so
    no float parity risk anywhere."""
    ev = load(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.col("ts").cast("long").alias("s"),
        (F.col("ts").cast("long") + 300).alias("e"),
        "event_id",
    )
    w = W.partitionBy("user_id").orderBy("s", "event_id")
    prev_max_e = F.max("e").over(w.rowsBetween(W.unboundedPreceding, -1))
    flagged = iv.select(
        "user_id",
        "s",
        "e",
        "event_id",
        F.when(F.col("s") > F.coalesce(prev_max_e, F.lit(-(1 << 63))), 1)
        .otherwise(0)
        .alias("new_island"),
    )
    # the cumsum window must use the SAME total order as the flag window:
    # (s, e) alone is not total when a user has two events in one epoch
    # second, and a tie resolved differently would attach the un-flagged
    # twin to the previous island, stretching it across the quiet gap
    w2 = W.partitionBy("user_id").orderBy("s", "event_id")
    islands = flagged.select(
        "user_id",
        "s",
        "e",
        F.sum("new_island")
        .over(w2.rowsBetween(W.unboundedPreceding, 0))
        .cast("long")
        .alias("island_id"),
    )
    per_island = islands.groupBy("user_id", "island_id").agg(
        (F.max("e") - F.min("s")).alias("len")
    )
    # round 14: (user_id, island_id) is unique AFTER the per-island agg, so
    # count(DISTINCT island_id) == count(*) — the plain count skips the
    # distinct-aggregate rewrite's extra per-group aggregate pass (the
    # oracle keeps COUNT(DISTINCT ...) spelling; values are identical)
    return per_island.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_islands"),
        F.sum("len").cast("long").alias("covered_s"),
    )


@register(
    "q128_cumulative_distinct_users",
    survey="R6,A1,A5,W3",
    sql="""
    WITH firsts AS (
        SELECT user_id, min(date_trunc('day', ts)) AS first_day
        FROM events GROUP BY user_id
    ),
    daily_new AS (
        SELECT first_day AS day, CAST(count(*) AS BIGINT) AS new_users
        FROM firsts GROUP BY first_day
    )
    SELECT day, new_users,
           CAST(sum(new_users) OVER (ORDER BY day
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative_users
    FROM daily_new
    """,
)
def q128_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day — the growth-curve metric that is
    NOT a windowed count(DISTINCT) (unsupported as a running window in
    either engine, and quadratic if emulated).  The first-seen trick makes
    it linear: distinct is resolved ONCE (min first-active day per user),
    then the running total is a plain cumulative sum over days.

    Plan: one user groupBy (map-side combinable), a #days-sized daily agg,
    and a window over #days rows — the unbounded-ordered window runs over
    the TINY rollup, never the event stream, so the 'global order'
    bottleneck is bounded by calendar days at any data size."""
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", F.col("ts"))).alias("first_day")
    )
    daily = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").cast("long").alias("new_users")
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    return daily.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
    )


@register(
    "q131_conversion_delay_median",
    survey="ext-asof,A5,W1",
    sql="""
    WITH purchases AS (
        SELECT event_id AS purchase_id, user_id, ts
        FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
        SELECT user_id, ts, max(event_id) AS click_id
        FROM events WHERE event_type = 'click'
        GROUP BY user_id, ts
    ),
    delays AS (
        SELECT p.purchase_id,
               date_diff('second', max(c.ts), any_value(p.ts)) AS delay_s
        FROM purchases p
        JOIN clicks c ON c.user_id = p.user_id AND c.ts < p.ts
        GROUP BY p.purchase_id
    ),
    ranked AS (
        SELECT delay_s,
               row_number() OVER (ORDER BY delay_s, purchase_id) AS rn,
               count(*) OVER () AS n
        FROM delays
    )
    SELECT CAST(max(n) AS BIGINT) AS n_conversions,
           CAST(min(delay_s) AS BIGINT) AS min_delay_s,
           CAST(max(CASE WHEN rn = (n + 1) // 2 THEN delay_s END) AS BIGINT)
               AS median_delay_s,
           CAST(max(delay_s) AS BIGINT) AS max_delay_s
    FROM ranked
    """,
)
def q131_conversion_delay_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median click-to-purchase delay — the funnel-latency KPI, with
    the median as a DISCRETE middle-element pick (row_number = (n+1) div 2
    under a fully tie-broken order), not an interpolated percentile: the
    result is an actual observed integer delay, identical on both engines
    with zero float involvement.

    Plan: per-purchase last-click delay via the linear as-of join
    (operators/asof.py union-stream window — the same primitive q107/q139
    use; the previous user-keyed inequality join materialized clicks x
    purchases candidate rows per user, exactly the range-join explosion
    this module's own docstrings warn against), then the ranking runs
    over #conversions rows.  The global order is bounded by conversions,
    not events — and if even that is too large, the same middle-pick
    works per group after a salt-free two-pass count."""
    from coldata_spark.operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    matched = asof_join(
        purchases, clicks, on="ts", by="user_id", strict=True
    )
    delays = matched.filter(F.col("ts_right").isNotNull()).select(
        "purchase_id",
        (
            F.col("ts").cast("long") - F.col("ts_right").cast("long")
        ).alias("delay_s"),
    )
    # Round 14: the middle-element pick (rn = (n+1) div 2 = ceil(n/2) under
    # a tie-broken order) IS percentile_disc(0.5) — the tie-break chose
    # which ROW carried the median, never the VALUE.  The window form moved
    # every conversion into ONE partition ("No Partition Defined" global
    # sort); the aggregate builds partial value counts in parallel
    # (3.2 -> measured below at the 16x tier; OPTIMIZATION_r14.md §
    # q131_conversion_delay_median).
    return delays.agg(
        # nullif keeps the empty-input row identical to the window form
        # (max(n) over zero rows was NULL, count(*) would be 0)
        F.nullif(F.count("*"), F.lit(0)).cast("long").alias("n_conversions"),
        F.min("delay_s").cast("long").alias("min_delay_s"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY delay_s)")
        .cast("long")
        .alias("median_delay_s"),
        F.max("delay_s").cast("long").alias("max_delay_s"),
    )


@register(
    "q135_weekday_hour_heatmap",
    survey="R6,A5,W3",
    sql="""
    SELECT CAST(fmod(fdiv(floor(epoch(ts)), 86400) + 4, 7) AS BIGINT) AS dow,
           CAST(fdiv(fmod(floor(epoch(ts)), 86400), 3600) AS BIGINT) AS hour_utc,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY dow, hour_utc
    """,
)
def q135_weekday_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday x hour activity heatmap (the ops-dashboard staple).  Both
    axes come from pure integer epoch arithmetic — dow = (epoch_days + 4)
    % 7 with SUNDAY=0 (1970-01-01 was a Thursday: (0+4)%7 = 4 = Thursday
    under Sunday-first numbering), hour = seconds-of-day
    div 3600 — because the engines' calendar functions DISAGREE on
    weekday numbering (Spark dayofweek is 1=Sunday, DuckDB dayofweek is
    0=Sunday): portable epoch math instead of dialect-dependent calendars.

    Plan: map-side integer exprs + one combine agg into a fixed 168-cell
    grid; the count-distinct expands per cell but cells bound the output
    at any scale.

    Round 15 (guide §2.2 — shuffle fewer/narrower bytes): the dedup
    shuffle IS this query (64x decomposition: 0.13 s scan + 0.23 s
    rollup-without-distinct vs 0.84 s full), so the two long grid keys
    are packed into ONE int cell (dow*24+hour, 0..167) before the
    (cell, user_id) dedup exchange and unpacked after the final 168-row
    aggregate — same two-phase no-Expand plan, ~30% narrower shuffle
    keys and one int hash instead of two long hashes per row.  Explicit
    two-level form (count per (cell, user) -> sum/count per cell) keeps
    the planner from re-deriving the distinct; measured 0.84 -> 0.68 s
    at 64x, 0.43 -> 0.37 s at 16x (OPTIMIZATION_r15.md ask #5, both
    variants value-gated identical first).  Day and hour are FLOOR
    divisions in integer ops (pmod), so a pre-1970 event lands on its
    own weekday and hour, not on a truncated-toward-zero one."""
    ev = load(spark, sf_dir, "events")
    cell = F.expr(
        "cast(pmod((cast(ts as bigint) - pmod(cast(ts as bigint), 86400)) div 86400"
        " + 4, 7) * 24 + pmod(cast(ts as bigint), 86400) div 3600 as int)"
    ).alias("_cell")
    per_user = (
        ev.select(cell, "user_id")
        .groupBy("_cell", "user_id")
        .agg(F.count("*").alias("_n"))
    )
    return (
        per_user.groupBy("_cell")
        .agg(
            F.sum("_n").cast("long").alias("n_events"),
            # a NULL user_id group is no user: count(DISTINCT) skips NULLs
            F.count("user_id").cast("long").alias("n_users"),
        )
        .select(
            F.expr("cast(_cell div 24 as bigint)").alias("dow"),
            F.expr("cast(_cell % 24 as bigint)").alias("hour_utc"),
            "n_events",
            "n_users",
        )
    )


@register(
    "q139_asof_forward_next_error",
    survey="ext-asof,W3",
    sql="""
    WITH purch AS (
        SELECT user_id, ts, event_id AS purchase_id
        FROM events WHERE event_type = 'purchase'
    ),
    errs AS (
        SELECT user_id, ts, max(event_id) AS error_id
        FROM events WHERE event_type = 'error' GROUP BY user_id, ts
    ),
    u AS (
        SELECT user_id, ts, 0 AS tag, purchase_id,
               NULL::BIGINT AS error_id, NULL::TIMESTAMP AS err_ts
        FROM purch
        UNION ALL
        SELECT user_id, ts, 1, NULL, error_id, ts FROM errs
    ),
    m AS (
        SELECT user_id, ts, tag, purchase_id,
               first_value(error_id IGNORE NULLS) OVER w AS m_err,
               first_value(err_ts IGNORE NULLS) OVER w AS m_ts
        FROM u
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, tag
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    )
    SELECT purchase_id, user_id,
           epoch_us(ts) AS purchase_us,
           CASE WHEN epoch_us(m_ts) - epoch_us(ts) <= 1800000000
                THEN m_err END AS error_id,
           CASE WHEN epoch_us(m_ts) - epoch_us(ts) <= 1800000000
                THEN epoch_us(m_ts) - epoch_us(ts) END AS gap_us
    FROM m WHERE tag = 0
    """,
)
def q139_asof_forward_next_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (the operator's other direction, driver-checked:
    q107 covers backward): each purchase matched to the same user's
    EARLIEST error event strictly-or-equal after it, within a 30-minute
    tolerance — the 'did the purchase precede a failure' diagnostic.
    The oracle reproduces the union-stream with a FOLLOWING-frame
    first_value window, the mirror of the backward PRECEDING frame.

    Plan: identical single user_id shuffle as backward — direction only
    flips the frame, not the shuffle count."""
    from coldata_spark.operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    errors = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("error_id"))
    )
    joined = asof_join(
        purchases,
        errors,
        on="ts",
        by="user_id",
        direction="forward",
        tolerance=F.expr("INTERVAL '30' MINUTE"),
    )
    return joined.select(
        "purchase_id",
        "user_id",
        F.unix_micros("ts").alias("purchase_us"),
        "error_id",
        (F.unix_micros("ts_right") - F.unix_micros("ts")).alias("gap_us"),
    )


@register(
    "q142_hourly_first_dedup",
    survey="A1,W2,R6",
    sql="""
    WITH ranked AS (
        SELECT user_id, event_type, ts, event_id, value,
               row_number() OVER (
                   PARTITION BY user_id, event_type, date_trunc('hour', ts)
                   ORDER BY ts, event_id) AS rn
        FROM events
    )
    SELECT user_id, event_type,
           date_trunc('hour', ts) AS hour_start,
           event_id AS first_event_id,
           round(value, 2) AS first_value
    FROM ranked WHERE rn = 1
    """,
)
def q142_hourly_first_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granularity dedup: keep only the FIRST event per (user, type, hour)
    — the batch twin of streaming dropDuplicatesWithinWatermark with an
    hour horizon, and the dedup rule event collectors apply to repeated
    beacons.  First is a rank-1 pick under the tie-broken event order, so
    the kept set is deterministic on both engines.

    Plan: one window shuffle on the composite key, filter rn = 1 — state
    is partition-local and bounded by the hour granularity exactly like
    the streaming variant's watermark state."""
    ev = load(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts")).alias("hour_start")
    w = W.partitionBy("user_id", "event_type", hour).orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            "event_type",
            hour,
            "event_id",
            "value",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            "hour_start",
            F.col("event_id").alias("first_event_id"),
            F.round("value", 2).alias("first_value"),
        )
    )


@register(
    "q146_user_journeys",
    survey="R6,W2,A5",
    sql="""
    WITH firsts AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS step
        FROM events
    ),
    journeys AS (
        SELECT user_id,
               string_agg(event_type, '>' ORDER BY step) AS journey
        FROM firsts WHERE step <= 5
        GROUP BY user_id
    )
    SELECT journey, CAST(cnt AS BIGINT) AS n_users, rk
    FROM (
        SELECT journey, count(*) AS cnt,
               CAST(row_number() OVER (ORDER BY count(*) DESC, journey)
                    AS BIGINT) AS rk
        FROM journeys GROUP BY journey
    ) t(journey, cnt, rk)
    WHERE rk <= 10
    """,
)
def q146_user_journeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey signatures: each user's first five events as an
    ordered path string, ranked by how many users share the exact path —
    the onboarding-funnel shape product analytics mines.  Path
    construction is a seed-ordered aggregation (sort by step inside the
    group, rule: deterministic under the ts,event_id tie-break), so the
    signature strings match byte-for-byte across engines.

    Plan: one user window for step numbers, a per-user path agg on the
    SAME partitioning, then a path-frequency agg whose input is #users
    rows; the final top-10 window runs over distinct paths only."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    firsts = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("step")
    ).filter(F.col("step") <= 5)
    journeys = firsts.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(F.collect_list(F.struct("step", "event_type"))),
                lambda s: s["event_type"],
            ),
        ).alias("journey")
    )
    freq = journeys.groupBy("journey").agg(F.count("*").alias("cnt"))
    wr = W.orderBy(F.col("cnt").desc(), "journey")
    return (
        freq.select(
            "journey",
            F.col("cnt").cast("long").alias("n_users"),
            F.row_number().over(wr).cast("long").alias("rk"),
        )
        .filter(F.col("rk") <= 10)
    )
