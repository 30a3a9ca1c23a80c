#!/usr/bin/env python
"""ANN build/search split at a replicated tier (round-12 verdict #2).

The sweep's recorded ANN numbers (q86/q35/q150/q151/q173/q33) used to
measure KMeans fit + corpus encode + index write PER CALL against oracles
that replay only the search math.  The production operating point — the
reference's own split (build/renew vdb.py:196-212 vs search vdb.py:88-100)
— builds ONCE per corpus version and serves many query batches.  This tool
records BOTH halves explicitly at a tier:

  * BUILD: wall seconds and vectors/s for each index flavor (IVF KMeans,
    IVF-PQ KMeans+train+encode, the q151 deterministic quantized encode),
    measured cache-cold (the content-stamped caches are invalidated first).
  * SEARCH-ONLY: per-invocation best-of-N for each family query with the
    index prebuilt and warm, vs the SAME DuckDB oracle the sweep uses
    (which replays search math brute-force per call — that IS the
    alternative engine's serve cost, it has no index to amortize).

Output: one markdown table on stdout (paste target: SCALE.md) plus
.bench_cache/ann_bench_{times}x.json stamped with the tier marker.

Usage: python tools/ann_bench.py [--times 16]
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

REPEATS = 3

FAMILY = [
    "q35_ann_ivf_search",
    "q150_ann_ivf_pruned",
    "q86_ivf_pq_search",
    "q151_ivf_pq_ann",
    "q173_ivf_maintained_search",
    "q33_centroid_assign",  # assignment IS build work — kept for context
]


def _drop_ann_caches() -> None:
    from coldata_spark import tables

    shutil.rmtree(tables.ARTIFACT_ROOT, ignore_errors=True)


def _time_once(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return round(time.perf_counter() - t0, 3)


def _best_of(fn, n: int = REPEATS) -> float:
    best = float("inf")
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    gc.collect()
    return round(best, 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--times", type=int, default=16)
    args = ap.parse_args()

    import duckdb

    from bench import CACHE_ROOT, _marker_content, _pretouch, _tier_dir
    from coldata_spark import registry
    from coldata_spark.session import get_spark
    from coldata_spark.tables import TABLES, load
    from tools.replicate import replicate_fixture

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    tier_dir = _tier_dir(sf_dir, args.times)
    spark = get_spark(app_name="ann_bench")
    replicate_fixture(spark, sf_dir, tier_dir, times=args.times)
    stamp = _marker_content(tier_dir)
    _pretouch(tier_dir)

    from coldata_spark.queries import vector_queries as VQ

    emb = load(spark, tier_dir, "embeddings")
    n_vec = emb.count()

    # ---- BUILD half: cache-cold, each flavor once -----------------------
    _drop_ann_caches()
    builds: dict[str, dict] = {}

    def build_ivf_flavor():
        VQ._ivf_index_cached(spark, tier_dir, nlist=8)

    def build_ivf_labelmean():
        VQ._ivf_index_cached(spark, tier_dir, nlist=10, flavor="labelmean")

    def build_ivf_pq():
        VQ._ivf_pq_index_cached(spark, tier_dir, nlist=8, m=8, k_codes=16)

    def build_q151():
        VQ._quantized_pq_index_cached(spark, tier_dir)

    def build_maintained():
        VQ._maintained_ivf_cached(spark, tier_dir)

    for name, fn in [
        ("ivf_kmeans_nlist8 (q35)", build_ivf_flavor),
        ("ivf_labelmean_nlist10 (q150)", build_ivf_labelmean),
        ("ivf_pq_kmeans (q86)", build_ivf_pq),
        ("quantized_pq_encode (q151)", build_q151),
        ("maintained_ivf (q173: build+3 appends+split+vacuum)", build_maintained),
    ]:
        sec = _time_once(fn)
        builds[name] = {
            "build_sec": sec,
            "vectors_per_sec": round(n_vec / sec) if sec > 0 else None,
        }
        print(f"BUILD {name}: {sec}s ({builds[name]['vectors_per_sec']} vec/s)",
              flush=True)

    # ---- SEARCH-ONLY half: index warm, best-of-N per engine -------------
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{tier_dir}/{t}.parquet/*.parquet')"
        )
    specs = registry.specs()
    searches: dict[str, dict] = {}
    for name in FAMILY:
        fn = specs[name].fn
        fn(spark, tier_dir).toPandas()  # warm (hits the prebuilt cache)
        s_best = _best_of(lambda: fn(spark, tier_dir).toPandas())
        rec = {"spark_search_sec": s_best}
        sql = specs[name].sql
        if sql is not None:
            con.execute(sql).df()  # warm
            d_best = _best_of(lambda: con.execute(sql).df())
            rec["duck_sec"] = d_best
            rec["search_ratio"] = (
                round(s_best / d_best, 2) if d_best > 0 else None
            )
        searches[name] = rec
        print(f"SEARCH {name}: spark {s_best}s duck {rec.get('duck_sec')}s "
              f"ratio {rec.get('search_ratio')}", flush=True)
    con.close()

    out = {
        "times": args.times,
        "tier_dir": tier_dir,
        "fixture_stamp": stamp,
        "n_vectors": n_vec,
        "builds": builds,
        "searches": searches,
    }
    os.makedirs(CACHE_ROOT, exist_ok=True)
    path = os.path.join(CACHE_ROOT, f"ann_bench_{args.times}x.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(f"wrote {path}")

    # markdown table for SCALE.md
    lines = [
        f"| build ({args.times}x, {n_vec} vectors) | sec | vec/s |",
        "|---|---|---|",
    ]
    for k, v in builds.items():
        lines.append(f"| {k} | {v['build_sec']} | {v['vectors_per_sec']} |")
    lines += [
        "",
        f"| search-only ({args.times}x, index prebuilt+warm) | spark_sec "
        "| duck_sec | ratio |",
        "|---|---|---|---|",
    ]
    for k, v in searches.items():
        lines.append(
            f"| {k} | {v['spark_search_sec']} | {v.get('duck_sec', '—')} "
            f"| {v.get('search_ratio', '—')} |"
        )
    print("\n".join(lines))


if __name__ == "__main__":
    main()
