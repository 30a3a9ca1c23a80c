"""Gate on the driver-facing bench line size.

Rounds 3 AND 4 both lost their BENCH_r{N}.json record (`parsed: null`)
because bench.py's final stdout line exceeded the driver's 2 KB tail and
truncated mid-object.  This test feeds compact_record a worst-case result —
every tier present, maximal realistic float widths, the per-tier per-query
maps that must NOT survive into the line — and asserts the emitted line
(which since round 15 again carries the HEADLINE per-query seconds) stays
under 1800 bytes with comfortable margin below the 2 KB truncation point.
"""

import json

import pytest

import bench


def _fat_tier(times: int) -> dict:
    return {
        "times": times,
        "layout": "lineitem/orders bucketed+sorted by orderkey, one file/bucket",
        "spark_sec": 123.456789,
        "duckdb_sec": 98.7654321,
        "ratio": 1.2345678,
        "spark_spread": [120.111111, 123.456789, 129.999999],
        "duckdb_spread": [95.555555, 98.765432, 101.111111],
        # the fields that caused the round-3/4 truncations — must be dropped
        "per_query_ratio": {f"q{i:02d}_some_query_name": 1.234567 for i in range(19)},
        "spark_queries": {f"q{i:02d}_some_query_name": 12.345678 for i in range(19)},
        "duckdb_queries": {f"q{i:02d}_some_query_name": 9.876543 for i in range(19)},
        "note": "x" * 300,
    }


def test_compact_line_under_1800_bytes():
    # worst-case widths: every headline query at 3-digit seconds (the
    # real totals are ~0.1-1 s each; 100+ s would mean the bench itself
    # broke long before the line did)
    result = {
        "metric": "headline_total_sec",
        "value": 4.4217,
        "unit": "sec",
        "sf": 0.1,
        "queries": {f"q{i:03d}_some_long_query_name": 123.456789 for i in range(19)},
        "replicated_16x": _fat_tier(16),
        "replicated_64x": _fat_tier(64),
        "replicated_256x": _fat_tier(256),
        "replicated_256x_clustered": _fat_tier(256),
        "clustered_joins_256x": _fat_tier(256),
        "q83_amortization_1024x": _fat_tier(1024),
        "q83_amortization_4096x": _fat_tier(4096),
        "q30_amortization_1024x": _fat_tier(1024),
        "q30_256x_serve": _fat_tier(256),
        "concurrent_batch": {
            "prepared_sec": 1.234567,
            "duckdb_sec": 6.543210,
            "prepared_ratio": 0.188888,
            "spark_mode": "prepared plans, FAIR scheduler, 8 workers",
            "serve_sec": 8.765432,
            "serve_ratio": 1.339999,
            "serve_mode": "fresh clients via registry.serve (engine plan cache)",
            "uncached_client_sec": 9.876543,
            "uncached_client_ratio": 1.509999,
            "uncached_plan_build_s": 1.325111,
            "uncached_note": "x" * 120,
            "spark_workers": 8,
            "duckdb_workers": 4,
            "spark_serve_by_workers": {str(w): 9.9 for w in (1, 2, 4, 8)},
            "spark_prepared_by_workers": {str(w): 1.1 for w in (1, 2, 4, 8)},
            "spark_uncached_by_workers": {str(w): 9.9 for w in (1, 2, 4, 8)},
            "duckdb_by_workers": {str(w): 6.6 for w in (1, 2, 4)},
        },
    }
    line = json.dumps(bench.compact_record(result))
    assert len(line) < 1800, f"compact line is {len(line)} bytes"
    parsed = json.loads(line)
    # the headline and every tier ratio must survive into the parsed record
    assert parsed["value"] == 4.422  # 3-decimal rounding applied
    for tier in (
        "replicated_16x",
        "replicated_64x",
        "replicated_256x",
        "replicated_256x_clustered",
        "q83_amortization_1024x",
        "q83_amortization_4096x",
        "q30_amortization_1024x",
    ):
        assert "ratio" in parsed[tier]
        assert "per_query_ratio" not in parsed[tier]
        assert "spark_queries" not in parsed[tier]
        # round-15: spreads and times moved to BENCH_DETAIL.json to make
        # byte room for the headline per-query map (verdict-14 ask #2)
        assert "spark_spread" not in parsed[tier]
        assert "times" not in parsed[tier]
    # round-15: the HEADLINE per-query seconds are back in the line — the
    # driver's round-over-round and scaling machinery reads them
    assert len(parsed["queries"]) == 19
    assert parsed["queries"]["q000_some_long_query_name"] == 123.457
    # round-14: the clustered_joins block is detail-file-only — the driver
    # line keeps its long-standing composition and byte budget
    assert "clustered_joins_256x" not in parsed
    assert "prepared_ratio" in parsed["concurrent_batch"]


def test_compact_tolerates_missing_tiers():
    result = {"metric": "headline_total_sec", "value": 1.0, "unit": "sec", "sf": 0.1}
    parsed = json.loads(json.dumps(bench.compact_record(result)))
    assert parsed["value"] == 1.0


def test_compact_of_committed_detail_under_1800_bytes():
    """The synthetic worst case above could drift from reality — also gate
    the line produced from the committed BENCH_DETAIL.json."""
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "BENCH_DETAIL.json")
    detail = json.load(open(path))
    line = json.dumps(bench.compact_record(detail))
    assert len(line) < 1800, f"compact of real detail is {len(line)} bytes"
    # the committed detail must feed the line a headline per-query map
    assert len(json.loads(line).get("queries", {})) >= 19
    assert json.loads(line)["value"] == round(detail["value"], 3)


def test_spread_staleness_gate():
    """A carried *_spread record must be dropped when the tier entry it
    was resolving has since moved materially (round-7 ADVICE): a spread
    is evidence about the build it measured, not a permanent fact."""
    from bench import _spread_is_stale

    spread = {
        "query": "q163_bloom_decontaminate",
        "tier_key": "replicated_16x",
        "tier_ratio_at_measurement": 1.61,
    }
    fresh = {"replicated_16x": {"per_query_ratio": {"q163_bloom_decontaminate": 1.70}}}
    assert not _spread_is_stale(spread, fresh)  # within 30% — still explains
    moved = {"replicated_16x": {"per_query_ratio": {"q163_bloom_decontaminate": 3.5}}}
    assert _spread_is_stale(spread, moved)  # tier moved — re-measure
    assert not _spread_is_stale({}, moved)  # unstamped legacy record: carry
    assert not _spread_is_stale(spread, {})  # tier not re-measured this run
    # the committed record must be stamped so the gate can ever fire; a
    # spread-only tier (no bench entry to compare against) must carry its
    # fixture stamp instead of a tier_key the bench never writes (which
    # would leave the gate permanently inert while looking armed)
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "BENCH_DETAIL.json")
    detail = json.load(open(path))
    for k, v in detail.items():
        if k.endswith("_spread"):
            assert v.get("query"), f"{k} unstamped"
            assert v.get("measured"), f"{k} missing measured stamp"
            tk = v.get("tier_key")
            if tk is not None:
                assert tk in detail, f"{k} stamps tier_key {tk} the bench never wrote"
            else:
                assert v.get("fixture_stamp"), f"{k} needs a fixture stamp"


def test_q83_duckdb_rewrite_value_identical():
    """The bench's 'engine-best DuckDB' q83 rewrite must compute exactly
    what the canonical oracle computes — otherwise its recorded time is a
    different query's time."""
    import duckdb

    from bench import Q83_DUCKDB_REWRITE_SQL
    from coldata_spark import registry
    from tests.conftest import SF_DIR_ORACLE

    sql = registry.specs()["q83_hypertable_rollup"].sql
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{SF_DIR_ORACLE}/events.parquet')"
    )
    a = con.execute(f"SELECT * FROM ({sql}) ORDER BY 1, 2").df()
    b = con.execute(
        f"SELECT * FROM ({Q83_DUCKDB_REWRITE_SQL}) ORDER BY 1, 2"
    ).df()
    assert a.columns.tolist() == b.columns.tolist()
    assert a.astype("float64").equals(b.astype("float64"))


def test_fresh_exec_same_plan_fresh_execution(spark):
    """Round-9 correction: an action on the SAME Dataset reuses its RDD
    lineage and skips materialized shuffle map stages, so prepared/serve
    loops must wrap submissions in bench.fresh_exec — which must (a) not
    change the optimized plan (Catalyst removes the no-op filter), (b)
    return identical results, and (c) produce a genuinely fresh RDD
    lineage so map stages re-run."""
    import re

    from pyspark.sql import functions as F

    from bench import fresh_exec
    from coldata_spark.tables import load

    df = (
        load(spark, "/root/testdata/sf0.001", "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
    )
    a = sorted(map(tuple, df.collect()))
    w = fresh_exec(df)
    strip = lambda s: re.sub(r"#\d+L?", "#x", s)  # noqa: E731
    p0 = df._jdf.queryExecution().optimizedPlan().toString()
    p1 = w._jdf.queryExecution().optimizedPlan().toString()
    assert strip(p1) == strip(p0), "no-op filter must optimize away"
    assert "Filter" not in p1
    assert sorted(map(tuple, w.collect())) == a
    assert (
        w._jdf.queryExecution().toRdd().id()
        != df._jdf.queryExecution().toRdd().id()
    ), "fresh_exec must yield a new RDD lineage (else stages are skipped)"


def test_write_detail_carries_skipped_sections(tmp_path, monkeypatch):
    """A killed or timed-out bench run writes a partial record; it must
    not erase the section entries the previous full record has and this
    run never reached.  Those sections are carried with an explicit mark;
    re-measured sections shed it."""
    import bench

    detail = tmp_path / "BENCH_DETAIL.json"
    monkeypatch.setattr(bench, "DETAIL_PATH", str(detail))
    full = {
        "metric": "headline_queries_total",
        "value": 1.0,
        "replicated_16x": {"ratio": 1.3, "spark_sec": 2.0},
        "q30_256x_serve": {"ratio": 1.5},
    }
    bench._write_detail(full)
    partial = {"metric": "headline_queries_total", "value": 1.1,
               "q30_256x_serve": {"ratio": 1.4}}
    bench._write_detail(partial)
    got = json.loads(detail.read_text())
    assert got["value"] == 1.1
    assert got["replicated_16x"]["ratio"] == 1.3
    assert got["replicated_16x"]["carried"] is True
    assert got["q30_256x_serve"] == {"ratio": 1.4}  # fresh: no mark


class _Killed(BaseException):
    """Stands in for the signal that stops a bench run mid-way."""


def test_section_loop_order_and_killed_run_carry(tmp_path, monkeypatch):
    """bench.run_sections over the SECTIONS table, every section stubbed
    and the session faked: sections land in table order, and a run killed
    after section i keeps sections i+1.. from the previous record, marked
    carried."""
    import bench

    detail = tmp_path / "BENCH_DETAIL.json"
    monkeypatch.setattr(bench, "DETAIL_PATH", str(detail))
    keys = [k for k, _ in bench.SECTIONS]
    assert len(keys) == len(set(keys)) == 11
    session = object()

    def table(run, kill_at=None):
        def stub(i):
            def section(spark, sf_dir, specs):
                assert spark is session
                if i == kill_at:
                    raise _Killed
                return {"run": run}, spark

            return section

        return tuple((k, stub(i)) for i, k in enumerate(keys))

    for i in range(len(keys)):
        detail.unlink(missing_ok=True)
        monkeypatch.setattr(bench, "SECTIONS", table(1))
        assert bench.run_sections(session, "sf", {}, {"value": 1.0}) is session
        got = json.loads(detail.read_text())
        assert [k for k in got if k in keys] == keys
        monkeypatch.setattr(bench, "SECTIONS", table(2, kill_at=i + 1))
        if i + 1 < len(keys):
            with pytest.raises(_Killed):
                bench.run_sections(session, "sf", {}, {"value": 2.0})
        else:
            bench.run_sections(session, "sf", {}, {"value": 2.0})
        got = json.loads(detail.read_text())
        assert got["value"] == 2.0
        assert [k for k in got if k in keys] == keys
        for k in keys[: i + 1]:
            assert got[k] == {"run": 2}, k
        for k in keys[i + 1 :]:
            assert got[k] == {"run": 1, "carried": True}, k


def test_stamp_inequality_drops_stale_records(tmp_path, monkeypatch):
    """Round-10 restart lesson: when the driver regenerates the source
    fixtures, every tier rebuilds under a new source-versioned marker and
    records stamped against the vanished bytes must DROP — from both the
    spread carry path and the section carry path — even when their
    ratios look stable.  Unstamped legacy records still carry."""
    import bench

    cache = tmp_path / ".bench_cache" / "16x"
    cache.mkdir(parents=True)
    (cache / "_REPLICATED_OK").write_text("v3|/src|16|dvNEW")
    # CACHE_ROOT is the module-level seam for exactly this: point the
    # stamp resolution at the tmp cache instead of the repo's real one
    monkeypatch.setattr(bench, "CACHE_ROOT", str(tmp_path / ".bench_cache"))

    old = {"query": "q01_pricing_summary", "times": 16,
           "fixture_stamp": "v2|/src|16"}
    fresh = {"query": "q01_pricing_summary", "times": 16,
             "fixture_stamp": "v3|/src|16|dvNEW"}
    unstamped = {"query": "q01_pricing_summary", "times": 16}
    assert bench._spread_is_stale(old, {})      # stamp mismatch: drop
    assert not bench._spread_is_stale(fresh, {})  # stamp matches: keep
    assert not bench._spread_is_stale(unstamped, {})  # legacy: carry
    # a record naming a tier dir that doesn't exist is unknowable: carry
    missing = {"query": "x", "times": 64, "fixture_stamp": "v2|/src|64"}
    assert not bench._spread_is_stale(missing, {})
    # section carry path applies the same rule end-to-end
    detail = tmp_path / "BENCH_DETAIL.json"
    monkeypatch.setattr(bench, "DETAIL_PATH", str(detail))
    bench._write_detail({"replicated_16x": {**old, "ratio": 9.9}})
    bench._write_detail({"metric": "m"})
    got = json.loads(detail.read_text())
    assert "replicated_16x" not in got, "stale section must not carry"


def test_recorded_tier_dir_wins_and_marker_missing_drops(tmp_path, monkeypatch):
    """Round-11 ADVICE pair: (1) a record carrying the RESOLVED tier_dir
    it measured is checked against THAT directory, not a re-derived one —
    with a SPARK_GRAFT_{times}X_DIR override set, writer and gate used to
    resolve different dirs and false-drop/false-carry; (2) a named tier
    dir that EXISTS but has no marker is a half-built fixture — the
    record drops — while a wholly-gone dir still carries."""
    import bench

    override = tmp_path / "elsewhere" / "16x"
    override.mkdir(parents=True)
    (override / "_REPLICATED_OK").write_text("v3|/src|16|dvOVR")
    # stale-looking derived dir exists too, with a DIFFERENT stamp
    derived = tmp_path / ".bench_cache" / "16x"
    derived.mkdir(parents=True)
    (derived / "_REPLICATED_OK").write_text("v3|/src|16|dvDERIVED")
    monkeypatch.setattr(bench, "CACHE_ROOT", str(tmp_path / ".bench_cache"))

    rec = {"query": "q01_pricing_summary", "times": 16,
           "fixture_stamp": "v3|/src|16|dvOVR", "tier_dir": str(override)}
    assert not bench._spread_is_stale(rec, {}), \
        "recorded tier_dir must be trusted over the derived path"
    # same record WITHOUT tier_dir re-derives .bench_cache/16x and drops
    underived = {k: v for k, v in rec.items() if k != "tier_dir"}
    assert bench._spread_is_stale(underived, {})

    # marker vanishes but the dir remains: half-built fixture — drop
    (override / "_REPLICATED_OK").unlink()
    assert bench._spread_is_stale(rec, {})
    # the dir itself vanishes: unknowable — carry (documented choice)
    (override).rmdir()
    assert not bench._spread_is_stale(rec, {})


def test_spread_tool_resolves_flat_tiers_like_bench(monkeypatch):
    """tools/spread.py must resolve a flat int tier through bench._tier_dir
    (honoring the env override) so the stamped record names the directory
    that was actually measured."""
    import os

    src = open(os.path.join(os.path.dirname(os.path.dirname(__file__)),
                            "tools", "spread.py")).read()
    assert "_tier_dir" in src and "tier_dir" in src
    # the record must carry the resolved dir
    assert '"tier_dir": tier_dir' in src
