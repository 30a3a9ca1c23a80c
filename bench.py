#!/usr/bin/env python
"""Benchmark headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "headline_queries_total", "value": <sec>, "unit": "sec",
   "queries": {"q01_...": sec, ...}, "sf": 0.1}

Each query is executed to completion into the noop sink (the whole physical
plan runs; rows are produced and discarded like a real writer, and no
measurement-only global-count exchange is appended — count() added one extra
stage per query, ~25% of total at sf0.1).  A warmup pass on the smallest SF
absorbs JVM/codegen startup so numbers reflect steady-state throughput.

The sf0.1 headline seconds are bound by Spark's scheduling latency (the
per-stage and per-job floor), not by per-row work: they track the
driver's round-over-round per-query comparison, but evidence about how a
plan SCALES comes from the replicated-tier seconds (SECTIONS below),
where per-row work dominates.

After the headline, main runs SECTIONS, one ordered table of (detail
key, section function), and writes BENCH_DETAIL.json after each section.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from coldata_spark import registry
from coldata_spark.session import dir_bytes, get_spark, tune_for_input

# module-level seam: tests point this at a temp file instead of
# monkeypatching process-global os.path functions
CACHE_ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_cache")
DETAIL_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
)

# Headline set: one per engine layer — agg scan, multi-join, window,
# chunking flatMap, minhash dedup, kNN similarity join, sessionization,
# selective scan, n-gram jaccard join, as-of join, outer-join distribution.
HEADLINE = [
    "q01_pricing_summary",
    "q02_top_orders_by_revenue",
    "q03_region_nation_revenue",
    "q09_topk_parts_per_brand",
    "q16_selective_scan",
    "q20_chunk_documents",
    "q23_exact_dedup",
    "q25_minhash_signatures",
    "q29_ngram_jaccard",
    "q30_knn_cosine_topk",
    "q31_search_group_best",
    "q42_events_sessionize",
    "q44_asof_last_click_before_purchase",
    "q49_order_count_distribution",
    # round-1 widening: correlated subquery, MERGE, banded range join,
    # hierarchical time rollup, stratified sampling
    "q66_min_cost_supply",
    "q73_merge_upsert",
    "q80_events_range_join",
    "q82_stratified_cap",
    "q83_hypertable_rollup",
]


def run_plan(df) -> None:
    """Execute the full plan into the noop sink (no driver materialization,
    no appended count stage)."""
    df.write.format("noop").mode("overwrite").save()


def fresh_exec(df):
    """Wrap a prepared Dataset so the next action runs a FRESH
    QueryExecution: a no-op filter Catalyst removes — identical optimized
    plan, new shuffle ids.  Without this, an action on the same Dataset
    reuses its RDD lineage and the DAGScheduler SKIPS shuffle map stages
    whose outputs are already materialized, so a prepared/serve loop
    measures merge-stage re-execution, not per-submission work (round-9
    correction, SCALE.md).  One py4j call per submission — the
    prepared-statement contract (client skips tree reconstruction, engine
    executes fully)."""
    from pyspark.sql import functions as F

    return df.filter(F.lit(True))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark(app_name="coldata_spark_bench")
    # size shuffle/AQE knobs to the measured input (static small plans for
    # sub-GB fixtures; AQE + proportional partitions at cluster scale)
    tune_for_input(spark, dir_bytes(sf_dir))
    specs = registry.specs()

    warmup_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warmup_dir):
        for name in HEADLINE:
            run_plan(specs[name].fn(spark, warmup_dir))

    # best-of-3: steady-state per-query time (early passes absorb codegen
    # compilation, broadcast warmup and page-cache misses not attributable
    # to the plan itself; run-to-run JVM variance at these sub-second sizes
    # is ~15%, so the min of 3 is the stable statistic)
    timings: dict[str, float] = {}
    for name in HEADLINE:
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            run_plan(specs[name].fn(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }

    # Amortized operating points: the same query plans on replicated
    # fixtures (fact tables with shifted keys), timed against DuckDB running
    # each query's own oracle SQL on the SAME files.  The sf0.1 fixtures are
    # ~15 MB — Spark's fixed per-stage latency dominates there; as the
    # replication factor grows the per-row work dominates and the ratio
    # converges to actual plan efficiency.  Fixtures are materialized up
    # front with the headline session; the marker file makes that a no-op
    # on re-runs.
    from tools.clustered import build_clustered_fixture
    from tools.replicate import replicate_fixture

    for times in (16, 64, 256):
        replicate_fixture(spark, sf_dir, _tier_dir(sf_dir, times), times=times)
    # the co-clustered layout rewrites the 256x flat tier once
    tier256 = _tier_dir(sf_dir, 256)
    build_clustered_fixture(spark, tier256, tier256 + "_clustered")
    _write_detail(result)  # progressive: a killed run still leaves a record
    spark = run_sections(spark, sf_dir, specs, result)

    # stop the JVM BEFORE printing the driver line: the JVM writes GC/alloc
    # warnings straight to fd 1, and one landing after (or inside) the JSON
    # line would corrupt the driver's stdout-tail parse
    spark.stop()
    emit(result)


def run_sections(spark, sf_dir: str, specs, result: dict):
    """Run every SECTIONS entry in order, writing the detail file after
    each so a killed run still leaves the sections it finished.  Returns
    the session the last section left running."""
    for key, section in SECTIONS:
        result[key], spark = section(spark, sf_dir, specs)
        _write_detail(result)
    return spark


# Each section gets a FRESH SparkSession (except where noted): a JVM that
# has already run a few hundred jobs carries heap pressure, shuffle files
# and broadcast refs that inflate later sections' timings by 2-3x
# (measured: q01 at 64x was 1.91 s late in a shared session vs 0.67 s in a
# clean one) — the contamination is harness state, not plan cost.  A
# section takes (spark, sf_dir, specs) and returns (record, session).
def _restart(spark, app_name: str, **kwargs):
    spark.stop()
    return get_spark(app_name=app_name, **kwargs)


def _tier_section(times: int, queries: list[str]):
    def section(spark, sf_dir, specs):
        spark = _restart(spark, f"coldata_spark_bench_{times}x")
        rec = bench_replicated(spark, sf_dir, specs, times=times, queries=queries)
        if times > 16:
            # the deeper tiers deliberately re-measure ONLY the queries that
            # were ratio-weak at 16x (the amortization curve), so their
            # aggregate ratio is a worst-case subset, not the engine ratio
            rec["note"] = (
                "weak-at-16x subset only — aggregate ratio is worst-case; "
                "see SCALE.md for the per-query amortization curve"
            )
        return rec, spark

    return section


def _clustered_section(spark, sf_dir, specs):
    spark = _restart(spark, "coldata_spark_bench_256c")
    return bench_clustered(spark, sf_dir, specs), spark


def _clustered_joins_section(spark, sf_dir, specs):
    # the worsening-at-64x join family (q56/q68/q77 + q148) on the SAME
    # clustered fixture and session, where their fact-fact orderkey join
    # runs exchange-free — kept separate so replicated_256x_clustered
    # stays composition-comparable across rounds
    return bench_clustered_joins(spark, sf_dir, specs), spark


def _q83_section(times: int):
    def section(spark, sf_dir, specs):
        spark = _restart(spark, f"coldata_spark_bench_{times}e")
        # build-before-measure: a fresh build hands back a clean session
        # (the function inside then cache-hits) — see _ensure_deep_tier
        spark = _ensure_deep_tier(spark, sf_dir, "events", times)
        return bench_q83_events_tier(spark, sf_dir, specs, times=times), spark

    return section


def _serve_section(tier: str, name: str):
    """A query under the serving entry (tools/serve.py).  measure_serve
    creates and stops its own session; the next section's _restart stop
    of the returned, already-stopped one is idempotent."""

    def section(spark, sf_dir, specs):
        from tools.serve import measure_serve

        spark.stop()
        rec = measure_serve(
            tier,
            repeats=5,
            name=name,
            tier_dir=sf_dir if tier == "headline" else _tier_dir(sf_dir, 256),
            # honest context: spark.stop() does not kill the py4j JVM
            session_note="bench-process JVM after tier sections "
            "(fresh SparkSession)",
        )
        return rec, spark

    return section


def _q30_vector_section(spark, sf_dir, specs):
    spark = _restart(spark, "coldata_spark_bench_1024v")
    spark = _ensure_deep_tier(spark, sf_dir, "emb", 1024)
    return bench_q30_embeddings_tier(spark, sf_dir, specs), spark


def _concurrent_section(spark, sf_dir, specs):
    # Batch-throughput operating point: wall-clock to complete ALL headline
    # queries with concurrent submission, each engine at its best client
    # concurrency (Spark local overlaps stage-scheduling gaps across jobs;
    # DuckDB already saturates cores per query, so its optimum is lower).
    # This is the "N concurrent users" number a serving deployment quotes —
    # the sequential per-query timings remain the primary metric.
    spark = _restart(
        spark,
        "coldata_spark_bench_concurrent",
        extra_conf={"spark.scheduler.mode": "FAIR"},
    )
    tune_for_input(spark, dir_bytes(sf_dir))
    return bench_concurrent(spark, sf_dir, specs), spark


def _write_detail(result: dict) -> None:
    """Persist the full record so far — called after every tier so a
    killed/timed-out run still leaves a usable partial record in-repo.

    Auxiliary records written by STANDALONE tools (``*_spread`` keys, e.g.
    tools/spread.py's ``q30_256x_spread``) are carried over from the
    existing file: a fresh bench run must not silently erase a
    deliberately-recorded resolution measurement.  But a spread is only
    evidence about the build it measured — each record carries a
    ``measured`` stamp plus the tier's per-query ratio at measurement
    time (``tier_ratio_at_measurement``), and a carried spread whose tier
    entry has since moved MATERIALLY (>30% relative) is dropped rather
    than published next to numbers it no longer explains.

    Absent-fixture semantics (round-10 ADVICE): a record whose tier dir
    exists but lost its marker DROPS (half-built fixture, see
    _stamp_or_marker_missing); one whose tier dir is wholly gone CARRIES
    — nothing on disk contradicts it, the ratio gate still applies, and
    dropping every record each time a /tmp-cached tier is cleaned would
    erase deliberate resolution measurements over a cache eviction."""
    path = DETAIL_PATH
    try:
        with open(path) as f:
            existing = json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        existing = {}
    merged = dict(result)
    # Section entries from a previous run are carried when THIS run has
    # not (yet) measured them: a killed or timed-out run's partial record
    # must not erase the latest full record's later sections.  They are
    # marked "carried": true so a reader can tell them from this run's
    # fresh sections; a finished run measures every section, so it
    # overwrites everything and the mark vanishes.
    for k, _ in SECTIONS:
        if k not in merged and isinstance(existing.get(k), dict):
            # same staleness rule as spreads: a section whose fixture
            # stamp no longer matches the on-disk marker (regenerated
            # source → rebuilt tier) measured vanished bytes — drop it
            # rather than carry it (stamps exist on records since r10;
            # unstamped legacy sections carry, stamping is the fix)
            if _spread_is_stale(existing[k], result):
                continue
            merged[k] = {**existing[k], "carried": True}
    for k, v in existing.items():
        if k in merged or not k.endswith("_spread"):
            continue
        if isinstance(v, dict) and not _spread_is_stale(v, result):
            merged[k] = v
    with open(path, "w") as f:
        json.dump(merged, f, indent=2)


def _headline_stamp(sf_dir: str) -> str:
    from coldata_spark.tables import data_version

    return f"headline|{sf_dir}|dv={data_version(sf_dir)}"


def _current_fixture_stamp(spread: dict) -> str | None:
    """What the record's fixture stamps TODAY: the tier marker's content,
    or the recomputed content-version line for headline records.  None
    when the fixture is absent or the record can't be located (nothing
    fresh contradicts it — the ratio gate below still applies)."""
    stamp = spread.get("fixture_stamp") or ""
    if stamp.startswith("headline|"):
        parts = stamp.split("|")
        if len(parts) < 3 or not os.path.isdir(parts[1]):
            return None
        return _headline_stamp(parts[1])
    # records since round 11 carry the RESOLVED tier_dir they measured
    # (tools/spread.py) — trust it outright; re-deriving here is exactly
    # how writer and checker used to disagree under a *X_DIR override
    recorded_dir = spread.get("tier_dir")
    if recorded_dir:
        return _stamp_or_marker_missing(recorded_dir)
    # records since round 10 name their fixture dir (fixture_name on
    # sections, tier on spreads); older records fall back to the
    # times-derived name.  The derived name is UNRELIABLE for dirs whose
    # name is not "{times}x" (a 256x_vector record carries times=256, as
    # does a 256x_clustered one): rather than compare such a record
    # against the WRONG directory and false-drop it, only trust the
    # derived name when the record's own stamp has the flat replicate
    # builder's shape — "v<N>|<src path>|<times>[|dv…]" — whose dir IS
    # "{times}x" by construction.  Vector ("vec-v1|…") and clustered
    # ("v4|<buckets>|…") stamps fail the shape check and resolve only
    # through an explicit tier/fixture_name field.
    tier = spread.get("fixture_name") or spread.get("tier")
    times = spread.get("times")
    if not tier:
        if not isinstance(times, int):
            tier = times  # spread-only tier strings ARE the dir name
        else:
            parts = stamp.split("|")
            replicate_shaped = (
                len(parts) >= 3
                and parts[0].startswith("v")
                and "/" in parts[1]
                and parts[2] == str(times)
            )
            if not replicate_shaped:
                return None
            tier = f"{times}x"
    if not tier or tier == "headline":
        return None
    # int-times flat tiers honor the same env override the measurement
    # used (_tier_dir: gate and measurement must not disagree)
    if isinstance(times, int) and tier == f"{times}x":
        tier_dir = os.environ.get(
            f"SPARK_GRAFT_{times}X_DIR", os.path.join(CACHE_ROOT, tier)
        )
    else:
        tier_dir = os.path.join(CACHE_ROOT, tier)
    return _stamp_or_marker_missing(tier_dir)


def _stamp_or_marker_missing(tier_dir: str) -> str | None:
    """Resolve a tier dir to its marker content, distinguishing the two
    absent cases (round-10 ADVICE, bench.py:76): a dir that EXISTS but
    has no marker is a half-built/interrupted fixture — return a
    sentinel that can never equal a real stamp, so the record DROPS
    (whatever bytes sit there are not what it measured).  A dir that is
    wholly GONE returns None and the record carries: nothing fresh
    contradicts it, and the ratio gate in _spread_is_stale still
    applies — the deliberate carry-on-missing choice, documented here
    and at the gate."""
    from tools.spread import fixture_stamp_of

    stamp = fixture_stamp_of(tier_dir)
    if stamp is None and os.path.isdir(tier_dir):
        return "<marker-missing>"
    return stamp


def _spread_is_stale(spread: dict, result: dict) -> bool:
    """True when a carried ``*_spread`` record contradicts the fresh tier
    record it would sit beside: the spread names its (query, tier) and the
    tier ratio it was resolving; if this run's same entry moved >30%
    relative, the spread measured a different build/fixture state and
    must be re-taken (tools/spread.py), not carried forward forever.

    Stamp inequality is checked FIRST: when the driver regenerates
    /root/testdata (round 10 did), every tier rebuilds under a new
    source-versioned marker (tools/replicate.py v3 stamps) and records
    stamped against the vanished bytes must drop even if their ratios
    happen to look stable — a carried number must always name data that
    still exists."""
    then_stamp = spread.get("fixture_stamp")
    now_stamp = _current_fixture_stamp(spread)
    if then_stamp and now_stamp and then_stamp != now_stamp:
        return True
    q, tier = spread.get("query"), spread.get("tier_key")
    then = spread.get("tier_ratio_at_measurement")
    if not q or not tier or not isinstance(then, (int, float)) or then <= 0:
        return False  # unstamped legacy record: carry, stamping is the fix
    now = (result.get(tier) or {}).get("per_query_ratio", {}).get(q)
    if not isinstance(now, (int, float)):
        return False  # tier/query not re-measured this run — nothing moved
    return abs(now - then) / then > 0.30


def emit(result: dict) -> None:
    """Write the FULL record to BENCH_DETAIL.json and print a COMPACT
    summary as the final stdout line.  The driver keeps only the tail of
    long stdout, which truncated round 3's record mid-object — the compact
    line (headline + per-tier ratios, no raw per-engine timing dicts) stays
    self-contained; the detail file carries everything."""
    _write_detail(result)

    print(json.dumps(compact_record(result)))


def compact_record(result: dict) -> dict:
    """The driver-facing summary: headline + PER-QUERY headline seconds +
    per-tier aggregate numbers.  Rounds 3 and 4 both lost their driver
    bench record because this line carried the per-query maps for EVERY
    tier (~3.4 KB) and the driver's 2 KB stdout tail truncated it
    mid-object, so rounds 5-14 dropped `queries` entirely — which left the
    driver's round-over-round machinery blind (PERF_r14 `n_common: 0`,
    empty scaling block; round-14 verdict ask #2).  Round 15 restores the
    HEADLINE `queries` map (the one the contract names and the only one
    the driver compares) and pays for it by dropping from the line what
    the committed BENCH_DETAIL.json already carries verbatim: per-tier
    spark/duckdb spreads and the redundant `times` field (the tier key
    names the multiplier).  tests/test_bench_compact.py asserts the line
    stays <1800 bytes with every block present and worst-case widths —
    still a comfortable margin under the 2 KB truncation point."""
    def _r(v):  # 3-decimal rounding keeps the line compact; full
        # precision lives in BENCH_DETAIL.json
        if isinstance(v, float):
            return round(v, 3)
        if isinstance(v, list):
            return [_r(x) for x in v]
        return v

    compact = {k: _r(result[k]) for k in ("metric", "value", "unit", "sf")}
    if isinstance(result.get("queries"), dict):
        compact["queries"] = {
            k: _r(float(v)) for k, v in result["queries"].items()
        }
    for key in (
        "replicated_16x",
        "replicated_64x",
        "replicated_256x",
        "replicated_256x_clustered",
        "q83_amortization_1024x",
        "q83_amortization_4096x",
        "q30_amortization_1024x",
        "q30_256x_serve",
    ):
        if key in result:
            # per-tier spreads and per-query maps live in
            # BENCH_DETAIL.json — the line must stay under the driver's
            # 2 KB stdout tail
            fields = ("spark_sec", "duckdb_sec", "ratio")
            compact[key] = {
                k: _r(result[key][k]) for k in fields if k in result[key]
            }
    if "concurrent_batch" in result:
        cb = result["concurrent_batch"]
        compact["concurrent_batch"] = {
            k: _r(cb[k])
            for k in (
                "prepared_sec",
                "duckdb_sec",
                "prepared_ratio",
                "serve_sec",
                "serve_ratio",
                "uncached_client_ratio",
            )
            if k in cb
        }
    compact["detail_file"] = "BENCH_DETAIL.json"
    return compact


def bench_clustered(spark, sf_dir: str, specs) -> dict:
    """The co-clustered 256x tier: lineitem/orders bucketed+sorted by
    orderkey, events in the hypertable layout (bucketed by user_id, sorted
    by (user_id, ts, event_id)) — the storage the 100 TB design prescribes
    for these queries — with DuckDB reading the IDENTICAL files.  The
    legacy sorted-scan flag is safe here: the builder guarantees one file
    per bucket, the only case the flag reports ordering for."""
    import duckdb

    from tools.clustered import (
        CLUSTERED_QUERIES,
        DUCK_VIEWS,
        register_clustered,
    )

    out = _tier_dir(sf_dir, 256) + "_clustered"
    pretouch_s = _pretouch(out)  # pinned cache protocol (see _pretouch)
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    tune_for_input(spark, dir_bytes(out))
    register_clustered(spark, out)

    repeats = 3
    spark_runs: dict[str, list[float]] = {}
    for name, fn in CLUSTERED_QUERIES.items():
        fn(spark, out).toPandas()  # warm
        spark._jvm.System.gc()
        runs = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            fn(spark, out).toPandas()
            runs.append(round(time.perf_counter() - t0, 3))
        spark_runs[name] = runs

    con = duckdb.connect()
    for t, glob in DUCK_VIEWS.items():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.abspath(out)}/{glob}')"
        )
    duck_runs: dict[str, list[float]] = {}
    for name in CLUSTERED_QUERIES:
        sql = specs[name].sql
        con.execute(sql).df()  # warm
        runs = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            con.execute(sql).df()
            runs.append(round(time.perf_counter() - t0, 3))
        duck_runs[name] = runs
    con.close()

    rec = _tier_record(256, list(CLUSTERED_QUERIES), spark_runs, duck_runs)
    rec["pretouch_s"] = pretouch_s
    rec["fixture_name"] = os.path.basename(out)
    rec["fixture_stamp"] = _marker_content(out)
    rec["layout"] = "co-clustered (orderkey-bucketed facts, hypertable events)"
    rec["note"] = (
        "same queries as the flat 256x tier, stored the way the 100 TB "
        "design lays them out; DuckDB reads the identical sorted files. "
        "q83 is fixed-cost-bound at this size on ANY layout (Spark's "
        "no-column scan floor ~= DuckDB's whole query) — its closing "
        "measurement is the q83_amortization blocks"
    )
    return rec


def bench_clustered_joins(spark, sf_dir: str, specs) -> dict:
    """Round-14 block: the join family that worsens 16x -> 64x on flat
    layout (q56/q68/q77, plus q148 — the documented THE-bucketed-case),
    measured on the SAME co-clustered fixture with DuckDB reading the
    identical files.  Same methodology as bench_clustered (warm + best of
    3, toPandas materialization both engines)."""
    import duckdb

    from tools.clustered import (
        CLUSTERED_JOIN_QUERIES,
        DUCK_VIEWS,
        register_clustered,
    )

    out = _tier_dir(sf_dir, 256) + "_clustered"
    pretouch_s = _pretouch(out)
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    tune_for_input(spark, dir_bytes(out))
    register_clustered(spark, out)

    repeats = 3
    spark_runs: dict[str, list[float]] = {}
    for name, fn in CLUSTERED_JOIN_QUERIES.items():
        fn(spark, out).toPandas()  # warm
        spark._jvm.System.gc()
        runs = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            fn(spark, out).toPandas()
            runs.append(round(time.perf_counter() - t0, 3))
        spark_runs[name] = runs

    con = duckdb.connect()
    for t, glob in DUCK_VIEWS.items():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.abspath(out)}/{glob}')"
        )
    duck_runs: dict[str, list[float]] = {}
    for name in CLUSTERED_JOIN_QUERIES:
        sql = specs[name].sql
        con.execute(sql).df()  # warm
        runs = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            con.execute(sql).df()
            runs.append(round(time.perf_counter() - t0, 3))
        duck_runs[name] = runs
    con.close()

    rec = _tier_record(256, list(CLUSTERED_JOIN_QUERIES), spark_runs, duck_runs)
    rec["pretouch_s"] = pretouch_s
    rec["fixture_name"] = os.path.basename(out)
    rec["fixture_stamp"] = _marker_content(out)
    rec["layout"] = "co-clustered (orderkey-bucketed facts, hypertable events)"
    rec["note"] = (
        "r13 verdict asks #3/#5: the flat-layout-worsening join family on "
        "the layout the 100 TB design prescribes — the fact-fact orderkey "
        "join is a zero-exchange sort-merge (plan-gated in "
        "tests/test_bucketing.py)"
    )
    return rec


# DuckDB is ALSO timed on the hourly-first algebraic rewrite the Spark q83
# plan uses (aggregate the raw stream once at hour grain, ROLLUP the tiny
# hourly frame) — the canonical oracle SQL (date_trunc + raw ROLLUP, what a
# user writes) pays date-truncation plus a 3x Expand on every event, and the
# official ratio keeps it as the denominator for consistency with every
# other query's oracle; the rewrite's number is recorded alongside so the
# ratio is never an artifact of handing one engine a better algorithm
# (value-identical to the oracle — gated by tests/test_bench_compact.py).
Q83_DUCKDB_REWRITE_SQL = """
WITH hourly AS (
    SELECT CAST((epoch_us(ts) // 3600000000) * 3600 AS BIGINT) AS hour_e,
           count(*) AS n, sum(value) AS sv
    FROM events GROUP BY 1
)
SELECT coalesce(day_e, -1) AS day_epoch,
       coalesce(hour_e, -1) AS hour_epoch,
       CAST(sum(n) AS BIGINT) AS n_events,
       round(sum(sv), 2) AS total_value
FROM (SELECT (hour_e // 86400) * 86400 AS day_e, hour_e, n, sv FROM hourly)
GROUP BY ROLLUP (day_e, hour_e)
"""


def _marker_content(tier_dir: str) -> str | None:
    from tools.spread import fixture_stamp_of

    return fixture_stamp_of(tier_dir)


def _ensure_deep_tier(spark, sf_dir: str, kind: str, times: int):
    """Pre-build a deep tier with the CURRENT session, then hand back a
    fresh measuring session if a build actually happened (marker content
    changed): the multi-GB replicate+write leaves heap pressure and
    shuffle state that contaminates timings taken right after
    (q30@emb-1024x measured 2.5 s in the building session vs 1.1 s in a
    clean one, round 10 — the same effect the per-tier fresh sessions in
    main() exist for).

    MUST be called as ``spark = _ensure_deep_tier(spark, ...)`` from the
    code that owns the session variable: a first attempt rebound a local
    inside the bench functions instead, leaving main() holding a stopped
    session whose .stop() cleared pyspark's GLOBAL singletons while the
    fresh JVM context kept running — the next get_spark then died on
    SPARK-2243 (only one SparkContext per JVM)."""
    from tools.clustered import build_embeddings_tier, build_events_tier

    name = "emb_1024x" if kind == "emb" else f"events_{times}x"
    dst = os.path.join(CACHE_ROOT, name)
    before = _marker_content(dst)
    if kind == "emb":
        build_embeddings_tier(
            spark, _tier_dir(sf_dir, 256), dst, replicas=4, sf_dir=sf_dir
        )
    else:
        build_events_tier(
            spark, _tier_dir(sf_dir, 256), dst, replicas=times // 256, sf_dir=sf_dir
        )
    if _marker_content(dst) == before:
        return spark
    spark.stop()
    return get_spark(app_name=f"coldata_spark_bench_{name}")


def bench_q30_embeddings_tier(spark, sf_dir: str, specs) -> dict:
    """q30's closing datapoint (round 8): the kNN ratio at 16x-256x is a
    per-run floor (plan construction + query-side toPandas + merge
    stage, decomposed in SCALE.md), not per-row cost.  The embeddings-
    only 1024x tier (~1.3 GB of vectors) is where per-row scoring
    dominates both engines — Spark's Arrow matmul beats DuckDB's
    list_* scoring there (0.74x best-of-7 when first recorded).
    Recording it per round keeps the amortization claim a measured,
    self-maintaining number instead of a hand-run spread."""
    import duckdb

    from tools.clustered import build_embeddings_tier

    dst = os.path.join(CACHE_ROOT, "emb_1024x")
    # sf_dir lets the builder replicate the 256x source on demand — only
    # when THIS tier's marker is missing/stale (a valid cached deep tier
    # must not trigger a multi-GB source rebuild)
    build_embeddings_tier(
        spark, _tier_dir(sf_dir, 256), dst, replicas=4, sf_dir=sf_dir
    )
    pretouch_s = _pretouch(dst)  # pinned cache protocol (see _pretouch)
    tune_for_input(spark, dir_bytes(dst))
    repeats = 3
    fn = specs["q30_knn_cosine_topk"].fn

    fn(spark, dst).toPandas()  # warm
    spark._jvm.System.gc()
    s_runs = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn(spark, dst).toPandas()
        s_runs.append(round(time.perf_counter() - t0, 3))

    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{os.path.abspath(dst)}/embeddings.parquet/*.parquet')"
    )
    sql = specs["q30_knn_cosine_topk"].sql
    con.execute(sql).df()  # warm
    d_runs = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        con.execute(sql).df()
        d_runs.append(round(time.perf_counter() - t0, 3))
    con.close()

    s_best, d_best = min(s_runs), min(d_runs)
    return {
        "times": 1024,
        "spark_sec": s_best,
        "duckdb_sec": d_best,
        "ratio": round(s_best / d_best, 2),
        "spark_spread": [min(s_runs), round(_median(s_runs), 3), max(s_runs)],
        "duckdb_spread": [min(d_runs), round(_median(d_runs), 3), max(d_runs)],
        "pretouch_s": pretouch_s,
        "fixture_name": os.path.basename(dst),
        "fixture_stamp": _marker_content(dst),
    }


def bench_q83_events_tier(spark, sf_dir: str, specs, times: int = 1024) -> dict:
    """q83's closing datapoints: at 256x the rollup is still fixed-cost
    dominated on BOTH layouts (4x more data costs Spark only +42% time),
    so the ratio there measures Spark's per-stage floor, not the plan.
    Events-only 1024x (~1.6 GB) and 4096x (~6.5 GB) tiers are where
    per-row work progressively dominates — measured ratios, not
    extrapolations.  Alongside the full query, each engine also times a
    SCAN-ONLY pass over q83's exact ReadSchema (ts, value — reduced to
    one aggregate row, no grouping, no rollup) so
    the ratio can be decomposed into scan floor vs rollup work (round-4
    verdict ask #3)."""
    import duckdb

    from tools.clustered import build_events_tier

    dst = os.path.join(CACHE_ROOT, f"events_{times}x")
    # sf_dir: 256x source replicated on demand, only on a real (re)build
    build_events_tier(
        spark, _tier_dir(sf_dir, 256), dst, replicas=times // 256, sf_dir=sf_dir
    )
    pretouch_s = _pretouch(dst)  # pinned cache protocol (see _pretouch)
    tune_for_input(spark, dir_bytes(dst))
    repeats = 3
    fn = specs["q83_hypertable_rollup"].fn

    from pyspark.sql import functions as F

    def spark_scan_only():
        # q83's exact ReadSchema (ts, value), one aggregate row out:
        # isolates parquet scan + decode cost from the rollup's work
        return (
            spark.read.parquet(os.path.join(dst, "events.parquet"))
            .agg(
                F.expr("sum(cast(unix_micros(ts) as double))"),
                F.expr("sum(value)"),
            )
            .toPandas()
        )

    fn(spark, dst).toPandas()  # warm
    spark._jvm.System.gc()
    s_runs, s_scan = [], []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn(spark, dst).toPandas()
        s_runs.append(round(time.perf_counter() - t0, 3))
    spark_scan_only()  # warm
    for _ in range(repeats):
        t0 = time.perf_counter()
        spark_scan_only()
        s_scan.append(round(time.perf_counter() - t0, 3))

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{os.path.abspath(dst)}/events.parquet/*.parquet')"
    )
    sql = specs["q83_hypertable_rollup"].sql
    best_sql = Q83_DUCKDB_REWRITE_SQL
    scan_sql = (
        "SELECT sum(epoch_us(ts)::DOUBLE), sum(value) FROM events"
    )
    con.execute(sql).df()  # warm
    d_runs, d_scan, d_rw = [], [], []
    for _ in range(repeats):
        t0 = time.perf_counter()
        con.execute(sql).df()
        d_runs.append(round(time.perf_counter() - t0, 3))
    con.execute(best_sql).df()  # warm
    for _ in range(repeats):
        t0 = time.perf_counter()
        con.execute(best_sql).df()
        d_rw.append(round(time.perf_counter() - t0, 3))
    con.execute(scan_sql).df()  # warm
    for _ in range(repeats):
        t0 = time.perf_counter()
        con.execute(scan_sql).df()
        d_scan.append(round(time.perf_counter() - t0, 3))
    con.close()

    s_best, d_best = min(s_runs), min(d_runs)
    return {
        "times": times,
        "spark_sec": round(s_best, 3),
        "duckdb_sec": round(d_best, 3),
        "ratio": round(s_best / d_best, 2),
        "spark_spread": [min(s_runs), round(_median(s_runs), 3), max(s_runs)],
        "duckdb_spread": [min(d_runs), round(_median(d_runs), 3), max(d_runs)],
        "spark_scan_only_sec": min(s_scan),
        "duckdb_scan_only_sec": min(d_scan),
        "duckdb_hourly_rewrite_sec": min(d_rw),
        "ratio_vs_duckdb_rewrite": round(s_best / min(d_rw), 2),
        "scan_runs": {"spark": s_scan, "duckdb": d_scan},
        "pretouch_s": pretouch_s,
        "fixture_name": os.path.basename(dst),
        "fixture_stamp": _marker_content(dst),
        "protocol": "page-cache-hot both engines (fixture pre-touched), "
        f"fresh JVM per tier, best-of-{repeats} after in-process warm",
        "note": "events-only tier; scan_only = same columns, one aggregate "
        "row (decomposes the ratio into scan floor vs rollup work)",
    }


def bench_concurrent(spark, sf_dir: str, specs) -> dict:
    """Wall-clock to complete ALL headline queries under concurrent
    submission, each engine at its best client concurrency.

    Three Spark modes are recorded (round-3 review found the gap is
    per-submission client-side PLAN CONSTRUCTION, ~1.3 s across the batch,
    GIL-serialized py4j — not execution; round-7 verdict ask #6 closes it
    with the engine's serving-path plan cache):

      * serve   — fresh client submissions through ``registry.serve``, the
        engine's serving entry: the plan cache (registry._PLAN_CACHE)
        builds each query's plan once per (session, sf_dir, data version)
        and reuses it — what any query service does (prepared statements /
        Thrift-server plan cache).
      * prepared — Dataset objects held by the client and re-executed
        (the round-3..7 "prepared" mode — kept for cross-round
        comparability);
      * uncached_client — every submission rebuilds its DataFrame from
        code (a client that refuses the serving entry); this is the
        adversarial number older rounds published as "cold", retained
        itemized with its plan-construction floor.

    EXECUTION IS FORCED FRESH PER SUBMISSION (round-9 self-review): an
    action on the SAME Dataset reuses its RDD lineage, and Spark's
    DAGScheduler skips shuffle map stages whose outputs are already
    materialized — so naive prepared/serve loops were partially measuring
    skipped stages, not per-submission execution.  A real concurrent
    workload submits different parameters and gets no such reuse, so both
    reuse modes wrap each submission in ``fresh_exec`` (a no-op filter
    Catalyst removes: identical optimized plan, fresh QueryExecution,
    fresh shuffle ids — one py4j call instead of full tree
    reconstruction, which is the prepared-statement contract).  Rounds
    <=8 published prepared/serve numbers WITHOUT this forcing; at sf0.1
    the flattery was ~0.1 s of the ~0.25 s batch (SCALE.md).

    DuckDB re-parses its SQL per submission, but its parse+plan is ~ms;
    the headline ratio uses the prepared mode.  The session runs FAIR
    scheduling so concurrent jobs share the cores instead of queueing FIFO
    behind the largest."""
    from concurrent.futures import ThreadPoolExecutor

    import duckdb

    from coldata_spark import registry
    from coldata_spark.tables import TABLES

    def spark_uncached(workers: int) -> float:
        # toPandas (not noop) so both engines pay client materialization
        t0 = time.perf_counter()
        with ThreadPoolExecutor(workers) as ex:
            list(ex.map(lambda n: specs[n].fn(spark, sf_dir).toPandas(), HEADLINE))
        return time.perf_counter() - t0

    def spark_cold(workers: int) -> float:
        # cold CLIENTS, warm engine: submissions route through the serving
        # entry; the engine's plan cache makes construction once-per-query
        t0 = time.perf_counter()
        with ThreadPoolExecutor(workers) as ex:
            list(
                ex.map(
                    lambda n: fresh_exec(
                        registry.serve(spark, sf_dir, n)
                    ).toPandas(),
                    HEADLINE,
                )
            )
        return time.perf_counter() - t0

    dfs = {n: specs[n].fn(spark, sf_dir) for n in HEADLINE}

    def spark_prepared(workers: int) -> float:
        t0 = time.perf_counter()
        with ThreadPoolExecutor(workers) as ex:
            list(ex.map(lambda n: fresh_exec(dfs[n]).toPandas(), HEADLINE))
        return time.perf_counter() - t0

    def duck_one(name: str) -> None:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        con.execute(specs[name].sql).df()
        con.close()

    def duck_batch(workers: int) -> float:
        t0 = time.perf_counter()
        with ThreadPoolExecutor(workers) as ex:
            list(ex.map(duck_one, HEADLINE))
        return time.perf_counter() - t0

    # warm all paths: page cache, codegen, and the serve cache's
    # build-once entries (a serving session pays construction once per
    # query, not once per submission)
    spark_uncached(4)
    spark_cold(4)
    spark_prepared(8)
    duck_batch(4)
    # itemize what the uncached client actually pays (round-5 verdict ask
    # #5): rebuild every DataFrame WITHOUT executing — pure client-side
    # plan construction (py4j expression-tree chatter, GIL-serialized
    # across submitter threads).  Engine re-analysis measures ~0.01 s for
    # the whole batch; the serving answer is registry.serve's plan cache
    # (the cold mode above).
    t0 = time.perf_counter()
    for n in HEADLINE:
        specs[n].fn(spark, sf_dir)
    plan_build_s = round(time.perf_counter() - t0, 3)
    cold_best = {w: round(spark_cold(w), 3) for w in (1, 4, 8, 16)}
    prep_best = {w: round(spark_prepared(w), 3) for w in (4, 8, 16, 32)}
    unc_best = {w: round(spark_uncached(w), 3) for w in (1, 4, 8, 16)}
    duck_best = {w: round(duck_batch(w), 3) for w in (1, 4, 8)}
    cw = min(cold_best, key=cold_best.get)
    pw = min(prep_best, key=prep_best.get)
    uw = min(unc_best, key=unc_best.get)
    dw = min(duck_best, key=duck_best.get)
    return {
        # "prepared_*", not the r3-r8 "spark_sec"/"ratio": the semantics
        # changed with fresh_exec (pre-r9 records partially measured
        # skipped stages), so the old keys must not be key-compatible —
        # same reasoning as the serve_* rename
        "prepared_sec": prep_best[pw],
        "duckdb_sec": duck_best[dw],
        "prepared_ratio": round(prep_best[pw] / duck_best[dw], 2),
        "spark_mode": "prepared plans (FAIR scheduling), fresh execution "
        "per submission",
        # "serve", not "cold": rounds <=7 published "spark_cold_sec" for
        # the uncached-client rebuild mode (now itemized below), so reusing
        # that key for the plan-cache-warm serve path would silently
        # conflate two measurements across BENCH_r0N history
        "serve_sec": cold_best[cw],
        "serve_ratio": round(cold_best[cw] / duck_best[dw], 2),
        "serve_mode": "fresh clients via registry.serve (engine plan cache)",
        "uncached_client_sec": unc_best[uw],
        "uncached_client_ratio": round(unc_best[uw] / duck_best[dw], 2),
        "uncached_plan_build_s": plan_build_s,
        "uncached_note": "uncached - prepared ~= client plan construction "
        "(py4j, GIL-serialized); engine re-analysis is ~0.01 s/batch",
        "exec_note": "fresh QueryExecution forced per submission since r9 "
        "(rounds <=8 prepared/serve re-collected the same Dataset and "
        "rode materialized shuffle map outputs — skipped stages, not "
        "execution)",
        "spark_workers": pw,
        "duckdb_workers": dw,
        "spark_serve_by_workers": cold_best,
        "spark_prepared_by_workers": prep_best,
        "spark_uncached_by_workers": unc_best,
        "duckdb_by_workers": duck_best,
        "fixture_stamp": _headline_stamp(sf_dir),
    }


REPL_QUERIES = [  # one per engine layer, all with DuckDB-runnable oracles
    "q01_pricing_summary",
    "q02_top_orders_by_revenue",
    "q25_minhash_signatures",
    "q29_ngram_jaccard",
    "q30_knn_cosine_topk",
    "q42_events_sessionize",
    "q44_asof_last_click_before_purchase",
    "q83_hypertable_rollup",
    "q114_hll_distinct",
    "q116_time_weighted_avg",
    # round-6: the data-selection ops join the recorded tiers (round-5
    # verdict ask #6) — broadcast-model topologies whose ratio IMPROVES
    # with scale (STRESS.md: DSIR 0.96x@16x -> 0.74x@64x, Bloom 1.62x ->
    # 0.61x)
    "q162_dsir_importance",
    "q163_bloom_decontaminate",
]

# The queries whose 16x ratio was >2x in round 2 — re-measured at 64x and
# 256x to show the fixed-cost amortization curve per query.  (At 16x-64x
# BOTH engines are still fixed-cost-dominated — Spark's per-execution floor
# is ~0.2-0.4 s vs DuckDB's ~0.02-0.2 s — so the ratio there measures
# harness floors, not plan efficiency; 256x (~4 GB) is the first tier where
# per-row work dominates both engines.)  q42/q162 ride the 64x tier as the
# scale-inversion reps: both are >1.5x at 16x on the stage floor and BEAT
# DuckDB at 64x (sessionize 0.23x — DuckDB's window sessionization doesn't
# parallelize; DSIR 0.72x).  q163 stays 16x-only in the recorded tiers for
# runtime budget; its hot-hot 64x point (measured under the pinned
# protocol, round-6 run 1: spark 17.8 s / duck 7.6 s = 2.35x) is recorded
# in SCALE.md — NOTE it corrects STRESS.md's earlier 0.61x, which compared
# against a page-cache-COLD DuckDB.
REPL_64X_QUERIES = [
    "q01_pricing_summary",
    "q02_top_orders_by_revenue",
    "q30_knn_cosine_topk",
    "q42_events_sessionize",
    "q83_hypertable_rollup",
    "q114_hll_distinct",
    "q116_time_weighted_avg",
    "q162_dsir_importance",
]

# the 256x tier keeps the round-2 weak-at-16x subset (adding the 64x
# newcomers there would double the tier's wall-clock for queries whose
# scale story the 64x points already settle)
REPL_256X_QUERIES = [
    "q01_pricing_summary",
    "q02_top_orders_by_revenue",
    "q30_knn_cosine_topk",
    "q83_hypertable_rollup",
    "q114_hll_distinct",
    "q116_time_weighted_avg",
]

# Every section bench.main runs after the headline, in run order, keyed by
# its BENCH_DETAIL.json entry.  _write_detail carries exactly these keys.
SECTIONS = (
    ("replicated_16x", _tier_section(16, REPL_QUERIES)),
    ("replicated_64x", _tier_section(64, REPL_64X_QUERIES)),
    ("replicated_256x", _tier_section(256, REPL_256X_QUERIES)),
    ("replicated_256x_clustered", _clustered_section),
    ("clustered_joins_256x", _clustered_joins_section),
    ("q83_amortization_1024x", _q83_section(1024)),
    ("q83_amortization_4096x", _q83_section(4096)),
    # q30 under the serving entry: the per-round record of "the 256x
    # straddle is the plan-construction floor, removed by registry.serve"
    ("q30_256x_serve", _serve_section("256x", "q30_knn_cosine_topk")),
    # the window-shape serve control, at the headline sf dir where q44 is
    # sub-second (at 256x its 3M-row client materialization would swamp
    # the floor being measured): pins the floor's query-independence
    (
        "q44_headline_serve",
        _serve_section("headline", "q44_asof_last_click_before_purchase"),
    ),
    ("q30_amortization_1024x", _q30_vector_section),
    ("concurrent_batch", _concurrent_section),
)


def _pretouch(path: str) -> float:
    """Pinned cache-state protocol for every replicated tier (round-5
    verdict ask #1): sequentially read every fixture byte into the OS page
    cache BEFORE either engine is timed, so both engines measure
    page-cache-hot — the q83 4096x record straddled 1.94-2.73x across
    rounds solely because DuckDB's denominator swung ~1.8x with whether a
    prior phase (fixture build writeback, another tier's reads) had evicted
    the files.  Returns the seconds spent touching (recorded, not timed
    into any query)."""
    t0 = time.perf_counter()
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                with open(os.path.join(root, f), "rb") as fh:
                    while fh.read(1 << 24):
                        pass
            except OSError:
                pass
    return round(time.perf_counter() - t0, 3)


def _tier_dir(sf_dir: str, times: int) -> str:
    return os.environ.get(
        f"SPARK_GRAFT_{times}X_DIR",
        os.path.join(CACHE_ROOT, f"{times}x"),
    )


def bench_replicated(
    spark, sf_dir: str, specs, times: int, queries: list[str]
) -> dict:
    import duckdb

    from coldata_spark.tables import TABLES
    from tools.replicate import replicate_fixture

    dst = _tier_dir(sf_dir, times)
    replicate_fixture(spark, sf_dir, dst, times=times)
    pretouch_s = _pretouch(dst)  # both engines measure page-cache-hot
    tune_for_input(spark, dir_bytes(dst))
    # best-of-3 at every tier: the round-6 pinned cache protocol removed
    # the variance source (page-cache state) that made deeper tiers need 5
    # repeats, and the whole bench must stay inside the driver's window
    repeats = 3

    # SYMMETRIC measurement: both engines materialize the full result set
    # into client Arrow/pandas (toPandas vs .df()) — a noop sink on one
    # side and client fetch on the other would skew, and row-at-a-time
    # py4j collect would penalize Spark for the transport, not the plan.
    spark_runs: dict[str, list[float]] = {}
    for name in queries:
        specs[name].fn(spark, dst).toPandas()  # warm (codegen + FS cache)
        # collect garbage from the warmup OUTSIDE the timing loop so prior
        # queries' shuffle/broadcast refs don't GC mid-measurement
        spark._jvm.System.gc()
        runs = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            specs[name].fn(spark, dst).toPandas()
            runs.append(round(time.perf_counter() - t0, 3))
        spark_runs[name] = runs

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{dst}/{t}.parquet/*.parquet')"
        )
    duck_runs: dict[str, list[float]] = {}
    for name in queries:
        sql = specs[name].sql
        con.execute(sql).df()  # warm
        runs = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            con.execute(sql).df()
            runs.append(round(time.perf_counter() - t0, 3))
        duck_runs[name] = runs
    con.close()

    rec = _tier_record(times, queries, spark_runs, duck_runs)
    rec["pretouch_s"] = pretouch_s
    rec["fixture_name"] = os.path.basename(dst)
    rec["fixture_stamp"] = _marker_content(dst)
    return rec


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def _tier_record(
    times: int,
    queries: list[str],
    spark_runs: dict[str, list[float]],
    duck_runs: dict[str, list[float]],
) -> dict:
    """Tier summary with per-query AND per-tier medians + spreads (round-4
    verdict ask #2: single-run tiers made a 4.1x->6.2x q02 swing
    undiagnosable as noise vs regression).  Headline stats stay min-based
    (the steady-state statistic the earlier rounds report); the median and
    [min, median, max] spreads sit alongside so any swing can be read
    against the measured run-to-run variance.  Full run lists land in
    BENCH_DETAIL.json only; compact_record forwards just the per-tier
    spreads."""
    spark_t = {n: round(min(r), 3) for n, r in spark_runs.items()}
    duck_t = {n: round(min(r), 3) for n, r in duck_runs.items()}
    s_total = round(sum(spark_t.values()), 3)
    d_total = round(sum(duck_t.values()), 3)

    def _spread(per_query: dict[str, list[float]]) -> list[float]:
        # totals per run index: run i of every query summed — the tier
        # total's run-to-run spread under one JVM/process
        k = min(len(r) for r in per_query.values())
        totals = [
            round(sum(per_query[n][i] for n in per_query), 3)
            for i in range(k)
        ]
        return [min(totals), round(_median(totals), 3), max(totals)]

    s_med = {n: round(_median(r), 3) for n, r in spark_runs.items()}
    d_med = {n: round(_median(r), 3) for n, r in duck_runs.items()}
    return {
        "times": times,
        "spark_sec": s_total,
        "duckdb_sec": d_total,
        "ratio": round(s_total / d_total, 2) if d_total else None,
        "ratio_median": (
            round(sum(s_med.values()) / sum(d_med.values()), 2)
            if sum(d_med.values())
            else None
        ),
        "spark_spread": _spread(spark_runs),
        "duckdb_spread": _spread(duck_runs),
        "per_query_ratio": {
            n: round(spark_t[n] / duck_t[n], 2) if duck_t[n] else None
            for n in queries
        },
        "per_query_median_spread": {
            n: {
                "spark": [min(spark_runs[n]), s_med[n], max(spark_runs[n])],
                "duckdb": [min(duck_runs[n]), d_med[n], max(duck_runs[n])],
            }
            for n in queries
        },
        "spark_queries": spark_t,
        "duckdb_queries": duck_t,
    }


if __name__ == "__main__":
    main()
