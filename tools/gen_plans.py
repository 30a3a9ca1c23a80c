#!/usr/bin/env python
"""Dump physical plans so the shuffle/broadcast/pushdown story is
reviewable without running Spark.

Run: python tools/gen_plans.py
       operator trees of the headline queries plus the curation layer,
       written to PLANS.md
     python tools/gen_plans.py --out DIR [query ...]
       the full explain("formatted") of each named query (default: the
       same set), one DIR/<query>.txt per query; dump into one dir before
       a rewrite and another after it, then diff the two
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE
from coldata_spark import registry
from coldata_spark.session import get_spark

# the curation layer rides along with the headline queries (plan-audit
# visibility for the round-2 training-pipeline ops)
EXTRA = [
    "q94_pii_redact",
    "q95_decontaminate",
    "q96_repetition_quality",
    "q101_url_canonical_dedup",
    "q102_domain_blocklist",
    "q103_quality_classifier",
    "q104_sequence_packing",
    "q105_temperature_resample",
    "q106_shard_assignment",
    "q107_asof_join_tolerance",
    "q108_fuzzy_match",
    "q109_unpivot_nation_metrics",
    "q110_pagerank",
    "q111_video_frame_sample",
    "q112_gapfill_locf",
    "q113_cohort_retention",
    "q114_hll_distinct",
    "q115_cms_heavy_hitters",
    "q116_time_weighted_avg",
    "q117_scd2_history",
    "q118_ohlc_bars",
    "q119_rolling_7d_sum",
    "q120_bm25_search",
    "q121_session_transitions",
    "q122_price_histogram",
    "q123_profile_orders",
    "q124_embed_fingerprint",
    "q125_hourly_anomalies",
    "q126_interval_coverage",
    "q127_snapshot_diff",
    "q128_cumulative_distinct_users",
    "q129_embedding_component_stats",
    "q130_mom_revenue_growth",
    "q131_conversion_delay_median",
    "q132_source_keyness",
    "q133_join_key_skew_profile",
    "q134_length_deciles",
    "q135_weekday_hour_heatmap",
    "q136_percent_of_parent",
    "q137_integrity_audit",
    "q138_pareto_abc",
    "q139_asof_forward_next_error",
    "q140_cluster_aware_split",
    "q141_shingle_containment",
    "q142_hourly_first_dedup",
    "q143_lsh_bucket_balance",
    "q144_topk_with_ties",
    "q145_mode_per_group",
    "q146_user_journeys",
    "q147_revenue_gini",
    "q148_ship_latency_histogram",
]

HEADER = (
    "# PLANS — physical plans of the bench headline queries "
    "(sf0.01, generated by tools/gen_plans.py)\n\n"
    "What to look for: predicates inside `PushedFilters`, projections\n"
    "inside `ReadSchema`, `BroadcastHashJoin` on dimension sides,\n"
    "`TakeOrderedAndProject` for top-k, a single `Exchange` per\n"
    "logical reduction.\n"
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--out", help="write one explain file per query here")
    args = ap.parse_args()
    # per-query dumps plan with AQE off, as the bench's sub-2GiB tiers run
    # (session.tune_for_input): the static planner shows ReuseExchange,
    # while AQE's initial plan prints duplicate subtrees that stage-level
    # reuse dedupes only at runtime
    spark = get_spark(
        app_name="gen_plans",
        shuffle_partitions=8,
        extra_conf={"spark.sql.adaptive.enabled": "false"} if args.out else None,
    )
    specs = registry.specs()
    names = args.queries or HEADLINE + EXTRA
    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"
    )
    if args.out:
        os.makedirs(args.out, exist_ok=True)
    sections = [HEADER]
    for name in names:
        df = specs[name].fn(spark, "/root/testdata/sf0.01")
        tree = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        if args.out:
            path = os.path.join(args.out, f"{name}.txt")
            with open(path, "w") as f:
                f.write(tree)
            print(f"wrote {path}")
        else:
            # keep the operator tree, drop the verbose per-node detail
            tree_part = tree.split("\n\n")[0]
            sections.append(f"\n## {name}\n\n```\n{tree_part}\n```\n")
    spark.stop()
    if not args.out:
        with open(out_path, "w") as f:
            f.write("".join(sections))
        print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
