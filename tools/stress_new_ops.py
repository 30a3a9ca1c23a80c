#!/usr/bin/env python
"""Round-5 stress for the new curation ops: q162 DSIR, q163 Bloom
decontamination (Spark vs DuckDB at 16x/64x documents), and SemDeDup
(Spark wall-time scaling with n_clusters ~ n/250, per the paper's
bounded-cell design).  Prints one JSON line; results land in STRESS.md.

Run standalone (fresh JVM, nothing else benching):
    python tools/stress_new_ops.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TIERS = {
    "16x": "/root/repo/.bench_cache/16x",
    "64x": "/root/repo/.bench_cache/64x",
}


def duck_time(sql: str, tier_dir: str) -> float:
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{tier_dir}/{t}.parquet/*.parquet')"
        )
    t0 = time.monotonic()
    con.execute(sql).fetchall()
    dt = time.monotonic() - t0
    con.close()
    return dt


def main() -> None:
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
    # warm the JVM + codegen caches so the first timed query doesn't carry
    # session startup (the bench harness does the same)
    specs["q162_dsir_importance"].fn(spark, "/root/testdata/sf0.1").collect()
    out: dict = {}
    for tier, d in TIERS.items():
        block = {}
        for q in ("q162_dsir_importance", "q163_bloom_decontaminate"):
            runs = []
            for _ in range(2):
                t0 = time.monotonic()
                specs[q].fn(spark, d).collect()
                runs.append(time.monotonic() - t0)
            s = min(runs)
            dk = min(duck_time(specs[q].sql, d) for _ in range(2))
            block[q] = {
                "spark_sec": round(s, 3),
                "duckdb_sec": round(dk, 3),
                "ratio": round(s / dk, 2),
            }
        out[tier] = block

    # SemDeDup scaling: n_clusters grows with n so cells stay ~250 — the
    # within-cell quadratic is then constant per cell and wall-time should
    # track n (assignment pass) not n^2.
    from coldata_spark.operators import dedup as DD
    from coldata_spark.tables import load

    sem = {}
    for tier, d, k in (
        ("16x", TIERS["16x"], 128),
        ("64x", TIERS["64x"], 512),
    ):
        emb = load(spark, d, "embeddings").select("vec_id", "embedding")
        t0 = time.monotonic()
        res = DD.semantic_dedup_exact(emb, n_clusters=k, force=True)
        n_total = res.count()
        t1 = time.monotonic()
        dropped = res.filter("kept = 0").count()
        sem[tier] = {
            "n_vectors": n_total,
            "n_clusters": k,
            "dropped": dropped,
            "spark_sec": round(t1 - t0, 3),
        }
    out["semdedup"] = sem
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
