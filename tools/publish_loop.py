#!/usr/bin/env python
"""The composed nightly publish loop, measured at a replicated tier
(round-11 verdict ask #6): every quality-layer part exists and is
unit-tested separately — this runs them TOGETHER in the shape a
production pipeline actually strings them:

    day 0   curate corpus -> publish v0 (quality-gated)
    day 1   fold_corpus_batch (incremental curation of the new batch)
            -> audit the would-be new table -> commit_if_clean -> v1
            -> snapshot_drift(v0, v1) over n_tokens (the PSI gate)
    day 2   a DIRTY batch (nulled quality column) -> commit_if_clean
            REFUSES -> the table's latest readable version is still v1

Costs are recorded per stage; the dirty path asserts the refusal and
the unchanged latest version (the lifecycle twin of
tests/test_quality.py::test_commit_if_clean_gates_the_versioned_table,
here at tier scale and composed end-to-end).

Run standalone (fresh JVM, nothing else benching):
    python tools/publish_loop.py [16x|64x]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _pretouch  # noqa: E402

TIERS = {
    "16x": "/root/repo/.bench_cache/16x",
    "64x": "/root/repo/.bench_cache/64x",
}


def main() -> None:
    wanted = sys.argv[1:] or ["16x"]
    unknown = [t for t in wanted if t not in TIERS]
    if unknown:
        raise SystemExit(f"unknown tier(s) {unknown}; valid: {list(TIERS)}")
    from pyspark.sql import functions as F

    from coldata_spark.operators import quality as Q
    from coldata_spark.operators.dedup import minhash_signatures_wide
    from coldata_spark.operators.drift import distribution_drift, psi_total
    from coldata_spark.operators.table import VersionedTable
    from coldata_spark.pipeline import fold_corpus_batch, curate_corpus, gate_documents
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
    for tier in wanted:
        d = TIERS[tier]
        _pretouch(d)
        tbl_path = os.path.join("/tmp", f"publish_loop_{tier}")
        shutil.rmtree(tbl_path, ignore_errors=True)
        table = VersionedTable(tbl_path)

        docs = load(spark, d, "documents")
        bench = docs.filter(F.col("doc_id") < 20)
        corpus_raw = docs.filter(
            (F.col("doc_id") >= 20) & (F.col("doc_id") % 10 != 9)
        )
        batch_raw = docs.filter(
            (F.col("doc_id") >= 20) & (F.col("doc_id") % 10 == 9)
        )

        # the published-table gate: row integrity + dataset expectations.
        # quality is a [0,1] score; seq is the training order (unique);
        # the count band admits day-0 and day-1 but a truncated write
        # (e.g. one lost shard) would fall below it at real scale.
        def rules(lo_rows: int):
            return [
                Q.not_null("doc_id"),
                Q.not_null("quality"),
                Q.in_range("quality", 0.0, 1.0),
                Q.unique(["seq"]),
                Q.row_count_between(lo_rows, 1_000_000_000),
                Q.distinct_ratio_ppm_hll("doc_id", 800_000, 1_200_000),
            ]

        # ---- day 0: build + gated publish of the curated corpus -----
        t0 = time.monotonic()
        manifest0 = curate_corpus(
            corpus_raw, bench=bench, seed="pipe"
        ).localCheckpoint(eager=True)
        n0 = manifest0.count()
        day0_curate = round(time.monotonic() - t0, 3)

        t0 = time.monotonic()
        v0, report0 = Q.commit_if_clean(table, manifest0, rules(max(n0 // 2, 1)))
        day0_publish = round(time.monotonic() - t0, 3)
        assert v0 == 0, report0

        # persisted corpus state for the fold (tables in production)
        t0 = time.monotonic()
        corpus_texts = (
            gate_documents(corpus_raw)
            .join(manifest0.select("doc_id"), "doc_id")
            .localCheckpoint(eager=True)
        )
        corpus_wide = minhash_signatures_wide(
            corpus_texts, "t", "doc_id"
        ).localCheckpoint(eager=True)
        state_build = round(time.monotonic() - t0, 3)

        # ---- day 1: fold -> audit -> gated publish -> drift ----------
        spark.catalog.clearCache()
        t0 = time.monotonic()
        fold = fold_corpus_batch(
            batch_raw, corpus_texts, corpus_wide, n0, bench, seed="pipe"
        ).localCheckpoint(eager=True)
        n_fold = fold.count()
        day1_fold = round(time.monotonic() - t0, 3)

        t0 = time.monotonic()
        v1_df = table.read(spark, v0).unionByName(fold)
        v1, report1 = Q.commit_if_clean(table, v1_df, rules(n0))
        day1_publish = round(time.monotonic() - t0, 3)
        assert v1 == 1, report1

        t0 = time.monotonic()
        drift = distribution_drift(
            table.read(spark, v0), table.read(spark, v1), "n_tokens", nbins=16
        )
        psi = psi_total(drift).collect()[0]
        day1_drift = round(time.monotonic() - t0, 3)

        # ---- day 2: the dirty batch is refused ------------------------
        t0 = time.monotonic()
        dirty = table.read(spark, v1).withColumn(
            "quality",
            F.when(F.col("doc_id") % 7 == 0, None).otherwise(
                F.col("quality")
            ),
        )
        v2, report2 = Q.commit_if_clean(table, dirty, rules(n0))
        day2_refuse = round(time.monotonic() - t0, 3)
        assert v2 is None, "dirty batch must be refused"
        fired = [name for name, v, _ in report2 if v]
        assert "not_null(quality)" in fired, report2
        assert table.latest_version() == v1, "refusal must not move latest"
        n_readable = table.read(spark).count()

        out[tier] = {
            "corpus_docs": n0,
            "fold_survivors": n_fold,
            "day0_curate_sec": day0_curate,
            "day0_publish_sec": day0_publish,
            "state_build_sec": state_build,
            "day1_fold_sec": day1_fold,
            "day1_publish_sec": day1_publish,
            "day1_drift_sec": day1_drift,
            "psi_fp": int(psi.psi_fp),
            "drift_bins": int(psi.bins_present),
            "day2_refused_sec": day2_refuse,
            "day2_fired_rules": fired,
            "latest_after_refusal": table.latest_version(),
            "readable_rows_after_refusal": n_readable,
        }
        shutil.rmtree(tbl_path, ignore_errors=True)
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
