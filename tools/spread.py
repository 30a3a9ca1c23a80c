#!/usr/bin/env python
"""Best-of-N spread for ONE registry query at ONE replicated tier — the
generic form of the q163 spread that resolved q163's at-the-bar 16x entry
in round 6/7 (SCALE.md; `python tools/spread.py q163_bloom_decontaminate
16x` re-takes it).  A single-run tier entry near the 2x bar is noise
until a spread puts it on one side (q83@64x read 2.93 in round 7 while its
16x improved and its 256x-4096x entries stayed excellent); this tool
re-measures under the pinned protocol — fixture pre-touched so both
engines run page-cache-hot, fresh JVM, best-of-N after an in-process warm
— and merges the record into BENCH_DETAIL.json under
``q<id>_<tier>_spread``.

Each record is STAMPED (round-7 ADVICE, bench.py:206): ``measured`` date,
the (query, tier_key) it resolves, and the tier's per-query ratio at
measurement time — bench._write_detail drops a carried spread whose tier
entry has since moved >30%, so a stale spread can't be published next to
numbers it no longer explains.

Run standalone (fresh JVM, nothing else benching):
    python tools/spread.py q30_knn_cosine_topk 256x [repeats]
"""

from __future__ import annotations

import datetime
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _median, _pretouch  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DETAIL = os.path.join(REPO, "BENCH_DETAIL.json")


def fixture_stamp_of(tier_dir: str) -> str | None:
    """The fixture's build-marker content (what data a record measured);
    shared by every spread-family tool so a new marker name is added in
    ONE place."""
    for marker in ("_REPLICATED_OK", "_OK", "_CLUSTERED_OK"):
        mp = os.path.join(tier_dir, marker)
        if os.path.exists(mp):
            return open(mp).read()
    return None


def measure(spec_name: str, tier: str, repeats: int = 7) -> dict:
    import duckdb

    from coldata_spark import registry
    from coldata_spark.session import dir_bytes, get_spark, tune_for_input

    if tier == "headline":
        # the headline fixture is the sf dir itself (round-8 verdict #2:
        # spread-stamp headline movers, e.g. q44/q23, the same way tier
        # entries are)
        tier_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    elif re.fullmatch(r"\d+x", tier):
        # flat int tiers resolve through bench._tier_dir so the
        # SPARK_GRAFT_{times}X_DIR override means the same directory to
        # the writer (here) and the staleness checker (bench.py) — with
        # the override set, the old hardcoded path stamped a record
        # against a directory it never measured (round-10 ADVICE)
        from bench import _tier_dir

        # _tier_dir ignores its sf_dir param for resolution (env override
        # or CACHE_ROOT); pass the default for signature compatibility
        tier_dir = _tier_dir("/root/testdata/sf0.1", int(tier[:-1]))
    else:
        tier_dir = os.path.join(REPO, ".bench_cache", tier)
    if not os.path.isdir(tier_dir):
        raise SystemExit(
            f"tier fixture {tier_dir} missing — run bench.py first to build it"
        )
    spec = registry.specs()[spec_name]

    pretouch_s = _pretouch(tier_dir)

    spark = get_spark(app_name=f"spread_{spec_name}")
    tune_for_input(spark, dir_bytes(tier_dir))
    # headline mode must time what the headline bench times: run_plan's
    # noop sink, NOT collect() — q44/q23 emit thousands of rows at sf0.1
    # and driver row-serialization would dominate their sub-second plans
    # (first headline stamps read 2-3x the bench numbers for exactly this
    # reason).  Tier mode keeps collect(): its stamped records were taken
    # under that protocol and tier queries' output is small.
    if tier == "headline":
        from bench import run_plan

        execute = lambda df: run_plan(df)  # noqa: E731
    else:
        execute = lambda df: df.collect()  # noqa: E731
    execute(spec.fn(spark, "/root/testdata/sf0.001"))  # codegen warm
    # headline queries are SUB-second and run mid-batch in a fully warmed
    # shared session in bench.py — one tier warm leaves C2 JIT compilation
    # bleeding into all 7 measured runs (q44's first stamp decayed
    # monotonically 0.636 -> 0.389 across the repeats).  Deep-warm the
    # headline mode so the spread measures the steady state the headline
    # number approximates; tier mode keeps the pinned 1-warm protocol its
    # existing stamped records were taken under.
    warms = 6 if tier == "headline" else 1
    for _ in range(warms):
        execute(spec.fn(spark, tier_dir))  # tier warm (broadcast, cache)
    spark._jvm.System.gc()
    s_runs = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        execute(spec.fn(spark, tier_dir))
        s_runs.append(round(time.perf_counter() - t0, 3))
    spark.stop()

    d_runs = None
    if tier != "headline":
        # headline mode is SPARK-ONLY: the headline metric itself has no
        # DuckDB side, and its noop-sink protocol has no symmetric DuckDB
        # twin — pairing it with .df() client materialization would
        # publish an asymmetric ratio (the exact protocol violation
        # bench.py's tier loops document against)
        con = duckdb.connect()
        con.execute(f"SET threads TO {os.cpu_count()}")
        for name in sorted(os.listdir(tier_dir)):
            if not name.endswith(".parquet"):
                continue
            t = name[: -len(".parquet")]
            p = os.path.join(tier_dir, name)
            src = f"{p}/*.parquet" if os.path.isdir(p) else p
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')"
            )
        con.execute(spec.sql).df()  # warm
        d_runs = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            con.execute(spec.sql).df()
            d_runs.append(round(time.perf_counter() - t0, 3))
        con.close()

    s_best = min(s_runs)
    d_best = min(d_runs) if d_runs else None
    try:
        with open(DETAIL) as f:
            detail = json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        detail = {}
    # Stamp the tier_key ONLY when bench.py actually records that tier —
    # bench._spread_is_stale compares against it, and a key the bench
    # never writes would make the gate permanently inert while looking
    # armed.  Spread-only tiers (e.g. emb_1024x) instead stamp the
    # fixture's marker content: re-measurement there is by re-running
    # this tool after a fixture/build change, and the stamp records what
    # was measured.
    bench_key = f"replicated_{tier}"
    tier_ratio = (
        (detail.get(bench_key) or {}).get("per_query_ratio", {}).get(spec_name)
    )
    # the gate needs BOTH a real tier entry AND this query's ratio in it;
    # stamping a tier_key with a None ratio would leave the staleness
    # gate permanently inert while looking armed (a non-headline query
    # at a bench tier has the tier entry but no per-query row)
    tier_key = bench_key if isinstance(tier_ratio, (int, float)) else None
    fixture_stamp = fixture_stamp_of(tier_dir)
    if fixture_stamp is None and tier == "headline":
        # the sf dir has no build marker; stamp its content version so
        # the record states what data it measured — via bench's ONE
        # helper, which the staleness check recomputes with (format
        # drift between writer and checker would silently stale or
        # permanently carry every headline record)
        from bench import _headline_stamp

        fixture_stamp = _headline_stamp(tier_dir)
    return {
        "query": spec_name,
        "tier_key": tier_key,
        "tier_ratio_at_measurement": tier_ratio,
        "fixture_stamp": fixture_stamp,
        "measured": datetime.date.today().isoformat(),
        # the dir name under .bench_cache — the reliable resolution key
        # for staleness (times alone is ambiguous across 256x,
        # 256x_vector, 256x_clustered)
        "tier": tier,
        # the RESOLVED directory this record measured — the checker
        # (bench._current_fixture_stamp) prefers this over re-deriving,
        # so writer and gate can never disagree about which dir a
        # carried number describes
        "tier_dir": tier_dir,
        "times": int(re.match(r"\d+", tier).group()) if tier[0].isdigit() else tier,
        "spark_sec": s_best,
        "spark_spread": [min(s_runs), round(_median(s_runs), 3), max(s_runs)],
        "spark_runs": s_runs,
        "pretouch_s": pretouch_s,
        "protocol": (
            "page-cache-hot (fixture pre-touched), fresh JVM, "
            f"best-of-{repeats} after {warms} in-process warm run(s), "
            "noop sink, SPARK-ONLY (the headline metric has no DuckDB "
            "side and the noop sink no symmetric DuckDB twin)"
            if tier == "headline"
            else "page-cache-hot both engines (fixture pre-touched), "
            f"fresh JVM, best-of-{repeats} after {warms} in-process "
            "warm run(s)"
        ),
        **(
            {
                "duckdb_sec": d_best,
                "ratio": round(s_best / d_best, 2),
                "ratio_median": round(_median(s_runs) / _median(d_runs), 2),
                "duckdb_spread": [
                    d_best, round(_median(d_runs), 3), max(d_runs)
                ],
                "duckdb_runs": d_runs,
            }
            if d_runs
            else {}
        ),
    }


def main() -> None:
    spec_name, tier = sys.argv[1], sys.argv[2]
    repeats = int(sys.argv[3]) if len(sys.argv) > 3 else 7
    rec = measure(spec_name, tier, repeats)
    key = f"{spec_name.split('_')[0]}_{tier}_spread"
    # tolerate a truncated detail file (killed mid-dump) the same way
    # bench._write_detail does — the measurement just completed and must
    # not be discarded over a corrupt merge target
    try:
        with open(DETAIL) as f:
            detail = json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        detail = {}
    detail[key] = rec
    # indent=2 matches bench._write_detail so alternating runs don't
    # re-indent (and churn) the whole file
    with open(DETAIL, "w") as f:
        json.dump(detail, f, indent=2)
    print(key)
    print(json.dumps(rec))


if __name__ == "__main__":
    main()
