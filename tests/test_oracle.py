"""Oracle parity for every registered query with SQL — mirrors the driver's
CORRECTNESS check (row count + schema + order-insensitive values)."""

from __future__ import annotations

import pytest

from coldata_spark import registry
from tests.oracle_utils import compare, duck_connection

ALL = registry.specs()
WITH_SQL = sorted(n for n, s in ALL.items() if s.sql is not None)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", WITH_SQL)
def test_oracle_parity(spark, sf_dir, duck, name):
    spec = ALL[name]
    sdf = spec.fn(spark, sf_dir)
    oracle = duck.execute(spec.sql).df()
    problems = compare(sdf, oracle)
    assert not problems, f"{name}: " + "; ".join(problems)


def _oracle_problems(spark, sf_dir, tmp_path, events, name):
    """``name``'s mismatches against its oracle on a copy of the fixture
    whose events table is ``events`` (a pyarrow Table)."""
    import os

    import pyarrow.parquet as pq

    for f in os.listdir(sf_dir):
        if f.endswith(".parquet") and f != "events.parquet":
            os.symlink(os.path.join(sf_dir, f), tmp_path / f)
    pq.write_table(events, tmp_path / "events.parquet")
    spec = ALL[name]
    con = duck_connection(str(tmp_path))
    try:
        oracle = con.execute(spec.sql).df()
    finally:
        con.close()
    return compare(spec.fn(spark, str(tmp_path)), oracle)


def test_q135_does_not_count_null_users(spark, sf_dir, tmp_path):
    """A NULL user_id is no user: q135's n_users equals the oracle's
    count(DISTINCT user_id) on a copy of the fixture with every 7th
    event's user_id nulled (the clean fixtures have no NULLs)."""
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    events = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    users = events["user_id"]
    nulled = pa.array([i % 7 == 0 for i in range(events.num_rows)])
    events = events.set_column(
        events.schema.get_field_index("user_id"), "user_id",
        pc.if_else(nulled, pa.scalar(None, users.type), users),
    )
    problems = _oracle_problems(
        spark, sf_dir, tmp_path, events, "q135_weekday_hour_heatmap"
    )
    assert not problems, "; ".join(problems)


@pytest.mark.parametrize(
    "name", ["q125_hourly_anomalies", "q135_weekday_hour_heatmap"]
)
def test_pre_1970_events_match_oracle(spark, sf_dir, tmp_path, name):
    """Hours and weekdays of pre-1970 events are floor divisions of the
    epoch: on a copy of the fixture with every 3rd event moved into
    1969-12-31 23:29:59-23:30:00 UTC (one crowded, so anomalous, hour
    -1800 s before the epoch, which a truncating division puts in hour
    0) and every 3rd one after it 2e9 s earlier (1960s events on every
    weekday and hour), both queries match their oracles."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    events = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    ts = events["ts"]
    per_s = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[ts.type.unit]
    ticks = ts.cast(pa.int64()).to_numpy().copy()
    i = np.arange(len(ticks))
    crowded = i % 3 == 0
    ticks[crowded] = -1800 * per_s - (i[crowded] % 1000) * (per_s // 1000)
    ticks[i % 3 == 1] -= 2_000_000_000 * per_s
    events = events.set_column(
        events.schema.get_field_index("ts"), "ts", pa.array(ticks).cast(ts.type)
    )
    problems = _oracle_problems(spark, sf_dir, tmp_path, events, name)
    assert not problems, "; ".join(problems)


def test_rows_only_queries_run(spark, sf_dir):
    for name, spec in ALL.items():
        if spec.sql is None:
            df = spec.fn(spark, sf_dir)
            assert df.count() >= 0, name


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"q_id", "parent_id", "best_score", "source", "snippet"}
