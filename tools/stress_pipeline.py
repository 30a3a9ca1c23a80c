#!/usr/bin/env python
"""Round-6 stress for q169_curation_pipeline: the full curation ladder
(clean -> langid -> quality -> exact dedup -> decontam -> minhash
near-dup -> deterministic shuffle) Spark vs DuckDB on the 16x/64x
replicated documents fixtures, under the pinned cache protocol (fixture
bytes pre-touched so both engines measure page-cache-hot).

The replicated fixture is itself a demonstration of the ladder's
ordering: clones collapse at the exact-dedup rung, so every rung after
it (gram explode, minhash signatures, band join) runs over the ~500
distinct texts regardless of replication factor — the gates and one
text groupBy are the only work that scales with corpus size, which is
precisely the 100 TB design intent.

Run standalone (fresh JVM, nothing else benching):
    python tools/stress_pipeline.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _pretouch  # noqa: E402

TIERS = {
    "16x": "/root/repo/.bench_cache/16x",
    "64x": "/root/repo/.bench_cache/64x",
    # round-7 (verdict ask #7): one tier past page-cache comfort, to show
    # whether the gates stay amortized when the corpus stops being cheap
    "256x": "/root/repo/.bench_cache/256x",
}


def duck_time(sql: str, tier_dir: str) -> float:
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tier_dir}/documents.parquet/*.parquet')"
    )
    t0 = time.monotonic()
    con.execute(sql).fetchall()
    dt = time.monotonic() - t0
    con.close()
    return dt


def main() -> None:
    wanted = sys.argv[1:] or list(TIERS)
    unknown = [t for t in wanted if t not in TIERS]
    if unknown:  # fail BEFORE the ~30 s Spark startup, with the menu
        raise SystemExit(f"unknown tier(s) {unknown}; valid: {list(TIERS)}")
    from coldata_spark import registry
    from coldata_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        master=f"local[{cpus}]",
        extra_conf={
            "spark.sql.shuffle.partitions": cpus,
            "spark.ui.enabled": "false",
            "spark.driver.memory": "24g",
        },
    )
    specs = registry.specs()
    spec = specs["q169_curation_pipeline"]
    spec.fn(spark, "/root/testdata/sf0.1").collect()  # JVM/codegen warm

    out: dict = {}
    for tier, d in ((t, TIERS[t]) for t in wanted):
        _pretouch(d)
        s_runs, n_out = [], None
        for _ in range(3):
            t0 = time.monotonic()
            n_out = len(spec.fn(spark, d).collect())
            s_runs.append(round(time.monotonic() - t0, 3))
            spark.catalog.clearCache()  # each run re-materializes honestly
        d_runs = [round(duck_time(spec.sql, d), 3) for _ in range(3)]
        out[tier] = {
            "rows_out": n_out,
            "spark_sec": min(s_runs),
            "duckdb_sec": min(d_runs),
            "ratio": round(min(s_runs) / min(d_runs), 2),
            "spark_runs": s_runs,
            "duckdb_runs": d_runs,
        }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
