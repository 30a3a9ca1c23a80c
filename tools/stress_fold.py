#!/usr/bin/env python
"""Round-6 stress for q170's fold: the cost of folding a ~10% batch into
a curated corpus versus REBUILDING the whole corpus from scratch, at the
16x/64x replicated documents tiers — the amortization number a daily
production pipeline actually cares about (same framing as the
incremental near-dup stress: the fold should cost a fraction of the
rebuild, and the fraction should shrink as the corpus grows relative to
the batch).

Protocol: pinned cache (pretouch), fresh corpus state built once per
tier (that cost is reported separately as `state_build_sec` — it is the
day-0 cost, not the daily cost), then best-of-3 folds of the SAME batch
against that state (cache of fold-internal barriers cleared between
runs; the corpus-state checkpoints are KEPT, because production reads
persisted tables).

Run standalone (fresh JVM, nothing else benching):
    python tools/stress_fold.py
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
    # round-7: completes the curve at the tier where the corpus outgrows
    # page-cache comfort (same extension as stress_pipeline's 256x row)
    "256x": "/root/repo/.bench_cache/256x",
}


def main() -> None:
    wanted = sys.argv[1:] or list(TIERS)
    unknown = [t for t in wanted if t not in TIERS]
    if unknown:  # fail BEFORE the ~30 s Spark startup, with the menu
        raise SystemExit(f"unknown tier(s) {unknown}; valid: {list(TIERS)}")
    from pyspark.sql import functions as F

    from coldata_spark.operators.dedup import minhash_signatures_wide
    from coldata_spark.pipeline import (
        curate_corpus,
        fold_corpus_batch,
        gate_documents,
    )
    from coldata_spark.session import get_spark
    from coldata_spark.tables import load

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        master=f"local[{cpus}]",
        extra_conf={
            "spark.sql.shuffle.partitions": cpus,
            "spark.ui.enabled": "false",
            "spark.driver.memory": "24g",
        },
    )

    out: dict = {}
    for tier, d in ((t, TIERS[t]) for t in wanted):
        _pretouch(d)
        docs = load(spark, d, "documents")
        bench = docs.filter(F.col("doc_id") < 20)
        corpus_raw = docs.filter(
            (F.col("doc_id") >= 20) & (F.col("doc_id") % 10 != 9)
        )
        batch_raw = docs.filter(
            (F.col("doc_id") >= 20) & (F.col("doc_id") % 10 == 9)
        )

        # day-0: build + persist the corpus state (tables in production)
        t0 = time.monotonic()
        c_manifest = curate_corpus(
            corpus_raw, bench=bench, seed="pipe"
        ).localCheckpoint(eager=True)
        n_corpus = c_manifest.count()
        corpus_texts = (
            gate_documents(corpus_raw)
            .join(c_manifest.select("doc_id"), "doc_id")
            .localCheckpoint(eager=True)
        )
        corpus_wide = minhash_signatures_wide(
            corpus_texts, "t", "doc_id"
        ).localCheckpoint(eager=True)
        state_build = round(time.monotonic() - t0, 3)

        # daily: fold the batch against the persisted state.  clearCache
        # between runs drops the fold-internal persist barriers (so every
        # run honestly re-executes the fold) but NOT the corpus-state
        # localCheckpoints, which live as RDD blocks outside the cache
        # manager — exactly the production shape (state = tables on disk,
        # the day's fold computed fresh)
        fold_runs, n_out = [], None
        for _ in range(3):
            spark.catalog.clearCache()
            t0 = time.monotonic()
            n_out = fold_corpus_batch(
                batch_raw, corpus_texts, corpus_wide, n_corpus, bench,
                seed="pipe",
            ).count()
            fold_runs.append(round(time.monotonic() - t0, 3))

        # the alternative: rebuild everything from scratch — same
        # protocol as the folds (best-of-3, caches cleared between runs
        # so the rebuild doesn't read the fold's resident barriers and
        # the fold/rebuild ratio compares like against like)
        rebuild_runs = []
        for _ in range(3):
            spark.catalog.clearCache()
            t0 = time.monotonic()
            n_rebuild = curate_corpus(
                docs.filter(F.col("doc_id") >= 20), bench=bench, seed="pipe"
            ).count()
            rebuild_runs.append(round(time.monotonic() - t0, 3))
        rebuild = min(rebuild_runs)
        spark.catalog.clearCache()

        out[tier] = {
            "corpus_docs": n_corpus,
            "batch_survivors": n_out,
            "rebuild_survivors": n_rebuild,
            "state_build_sec": state_build,
            "fold_sec": min(fold_runs),
            "fold_runs": fold_runs,
            "rebuild_sec": rebuild,
            "rebuild_runs": rebuild_runs,
            "fold_vs_rebuild": round(min(fold_runs) / rebuild, 2),
        }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
