"""The fact-join strategy ladder (operators/joins.py) on its real callers.

Each row fakes the raw orders estimate on sf0.001, so every strategy of
the ladder is gated on every checkout without a materialized replicated
tier.
"""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from coldata_spark.operators import joins

GIB = 1 << 30

# (raw orders estimate, shuffle partitions, expected fact-join strategy)
LADDER = [
    pytest.param(1 << 20, 8, "broadcast", id="broadcast"),
    # 1 GiB / 32 partitions = 32 MiB per hash build
    pytest.param(GIB, 32, "shuffle_hash", id="shuffle_hash"),
    # 1 GiB / 1 partition: the build no longer fits, no hint
    pytest.param(GIB, 1, "sort_merge", id="no_hint"),
]

# sort-merge joins each query plans besides its fact join once Spark's own
# size-based broadcast is off (q77's orders x customers join is unhinted)
QUERIES = {
    "q02_top_orders_by_revenue": 0,
    "q68_market_share": 0,
    "q77_local_supplier_volume": 1,
}


@pytest.mark.parametrize("est, parts, strategy", LADDER)
def test_fact_join_ladder(spark, sf_dir, monkeypatch, est, parts, strategy):
    from coldata_spark import registry

    monkeypatch.setattr(joins, "_estimated_bytes", lambda df: est)
    specs = registry.specs()
    old = {
        k: spark.conf.get(k)
        for k in ("spark.sql.shuffle.partitions", "spark.sql.autoBroadcastJoinThreshold")
    }
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    # at sf0.001 every side is tiny: without this Spark would broadcast the
    # unhinted fact join on its own and hide the no-hint row
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plans = {
            name: specs[name].fn(spark, sf_dir)._jdf.queryExecution()
            .executedPlan().toString()
            for name in QUERIES
        }
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    for name, plan in plans.items():
        smj = QUERIES[name] + (strategy == "sort_merge")
        assert plan.count("SortMergeJoin") == smj, f"{name}:\n{plan}"
        assert ("ShuffledHashJoin" in plan) == (strategy == "shuffle_hash"), (
            f"{name}:\n{plan}"
        )
        if strategy == "broadcast":
            assert "BroadcastHashJoin" in plan, f"{name}:\n{plan}"


@pytest.mark.parametrize("value, want", [("32", 32), ("0", 1), ("auto", 200)])
def test_shuffle_partitions_parse_is_guarded(value, want):
    spark = SimpleNamespace(conf=SimpleNamespace(get=lambda key, default: value))
    assert joins._shuffle_partitions(spark) == want
