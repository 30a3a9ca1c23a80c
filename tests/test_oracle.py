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


def test_q135_does_not_count_null_users(spark, sf_dir, tmp_path):
    """A NULL user_id is no user: q135's n_users equals the oracle's
    count(DISTINCT user_id) on a copy of the fixture with every 7th
    event's user_id nulled (the clean fixtures have no NULLs)."""
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    for name in os.listdir(sf_dir):
        if name.endswith(".parquet") and name != "events.parquet":
            os.symlink(os.path.join(sf_dir, name), tmp_path / name)
    events = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    users = events["user_id"]
    nulled = pa.array([i % 7 == 0 for i in range(events.num_rows)])
    events = events.set_column(
        events.schema.get_field_index("user_id"), "user_id",
        pc.if_else(nulled, pa.scalar(None, users.type), users),
    )
    pq.write_table(events, tmp_path / "events.parquet")
    spec = ALL["q135_weekday_hour_heatmap"]
    con = duck_connection(str(tmp_path))
    try:
        oracle = con.execute(spec.sql).df()
    finally:
        con.close()
    problems = compare(spec.fn(spark, str(tmp_path)), oracle)
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
