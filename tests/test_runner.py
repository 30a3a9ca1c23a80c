"""runner.py — the config-driven main.py-equivalent pass, end to end with
an injected fetcher and the verbatim reference config fixture."""

from __future__ import annotations

from coldata_spark import config as CF
from coldata_spark import runner as R
from tests.test_config import FIXTURE

URLS = {
    "BrainDataSciencePlatform": [
        "https://bdsp.example/a",
        "https://bdsp.example/b",
        "https://bdsp.example/c",
    ],
    # disabled in the shipped config (num_attempts: 0) — must be skipped
    "UCI": ["https://uci.example/x"],
}


def _make_factory():
    # built inside a function (pickled by VALUE via cloudpickle) — a
    # module-level def in a test file would pickle by reference and fail
    # on executors that cannot import the tests package
    def fetcher_factory():
        def fetch(url: str) -> str:
            return f"dataset page for {url} with enough text to chunk " * 8

        return fetch

    return fetcher_factory


def test_run_once_crawls_enabled_sources_only(spark, tmp_path):
    fake_fetcher_factory = _make_factory()
    cfg = CF.load(FIXTURE)
    cfg.sources["BrainDataSciencePlatform"].crawl.query_interval = 0.0
    out = R.run_once(
        spark, cfg, str(tmp_path), URLS, fake_fetcher_factory
    )
    # BDSP is capped at num_attempts=1 (the reference quirk), UCI disabled
    assert out["n_new"] == 1
    docs = spark.read.parquet(out["store"])
    assert {r.website for r in docs.collect()} == {"BrainDataSciencePlatform"}
    assert out["index"]  # vdb.renew is True in the shipped config

    # second pass: the cap selects the SAME first url, the anti-join drops
    # it as existing -> zero new docs (faithful to re-running main.py)
    out2 = R.run_once(spark, cfg, str(tmp_path), URLS, fake_fetcher_factory)
    assert out2["n_existing"] == 1 and out2["n_new"] == 0


def test_run_once_uncapped_and_search(spark, tmp_path):
    fake_fetcher_factory = _make_factory()
    cfg = CF.load(FIXTURE)
    cfg.sources["BrainDataSciencePlatform"].crawl.num_attempts = 100
    cfg.sources["BrainDataSciencePlatform"].crawl.query_interval = 0.0
    out = R.run_once(
        spark,
        cfg,
        str(tmp_path),
        URLS,
        fake_fetcher_factory,
        search_queries=["dataset page"],
    )
    assert out["n_new"] == 3
    res = out["search"]
    rows = res.collect()
    assert 0 < len(rows) <= cfg.vdb.limit  # k from config.yml limit: 4
    assert rows[0].rank == 1
    # ranked-display projection mirrors the reference demo fields
    assert {"q_text", "rank", "score", "preview"} <= set(res.columns)


def test_run_once_index_reopens(spark, tmp_path):
    """The index a renew builds is saved: open_index on the summary's path
    serves the same search rows as the pass's own handle."""
    from coldata_spark import search as S
    from coldata_spark.operators import ivf

    cfg = CF.load(FIXTURE)
    cfg.sources["BrainDataSciencePlatform"].crawl.num_attempts = 100
    cfg.sources["BrainDataSciencePlatform"].crawl.query_interval = 0.0
    assert cfg.vdb.renew
    queries = ["dataset page", "bdsp.example"]
    out = R.run_once(
        spark, cfg, str(tmp_path), URLS, _make_factory(), search_queries=queries
    )
    idx = ivf.open_index(spark, out["index"])
    rows = S.search(
        spark, idx, spark.read.parquet(out["store"]), queries, k=cfg.vdb.limit,
        nprobe=cfg.vdb.nprobe, id_col=cfg.store.index_field, text_col="info",
    ).collect()
    assert rows and rows == out["search"].collect()
    assert idx.metric == cfg.vdb.metric_type


def test_run_once_renews_an_empty_store(spark, tmp_path, monkeypatch):
    """Renew over an empty store builds an index with no cells, and a
    search over it returns no rows with the usual result schema (the
    MLlib fit rejected the clamped k=1 here).  search() is eager: every
    result, an empty one too, is a local relation of computed rows."""
    from coldata_spark import search as S
    from tests.test_plans import jobs_run

    built = []
    real_build_index = S.build_index

    def spy(*a, **kw):
        built.append(real_build_index(*a, **kw))
        return built[-1]

    monkeypatch.setattr(S, "build_index", spy)
    cfg = CF.load(FIXTURE)
    cfg.sources["BrainDataSciencePlatform"].crawl.query_interval = 0.0
    runs = {
        name: R.run_once(
            spark, cfg, str(tmp_path / name), urls, _make_factory(),
            search_queries=["dataset page"],
        )
        for name, urls in (("empty", {}), ("full", URLS))
    }
    assert runs["empty"]["n_total"] == 0
    assert built[0].nlist == 0 and built[0].centroids.collect() == []
    full = runs["full"]["search"]
    no_queries = S.search(
        spark, built[1], spark.read.parquet(runs["full"]["store"]), [],
        id_col=cfg.store.index_field, text_col="info",
    )
    for res in (runs["empty"]["search"], no_queries, full):
        plan = res._jdf.queryExecution().optimizedPlan()
        assert plan.getClass().getSimpleName() == "LocalRelation"
        assert jobs_run(spark, res.collect) == 0
        assert res.schema == full.schema
    assert runs["empty"]["search"].collect() == []
    assert no_queries.collect() == []
    assert full.collect()


def test_run_on_schedule_drives_config_cadence(spark, tmp_path):
    """The config's scheduler.period/init_run drive run_once on the
    reference's cadence: init pass immediately, then one pass per day
    boundary under a fake clock."""
    from datetime import datetime, timedelta

    fake_fetcher_factory = _make_factory()
    cfg = CF.load(FIXTURE)
    assert cfg.scheduler.init_run and cfg.scheduler.period == "day"
    cfg.sources["BrainDataSciencePlatform"].crawl.num_attempts = 100
    cfg.sources["BrainDataSciencePlatform"].crawl.query_interval = 0.0

    clock = {"t": datetime(2026, 3, 1, 12, 0)}

    def now():
        return clock["t"]

    def sleep(s):
        clock["t"] = clock["t"] + timedelta(seconds=s)

    n = R.run_on_schedule(
        spark, cfg, str(tmp_path), URLS, fake_fetcher_factory,
        max_runs=3, now=now, sleep=sleep,
    )
    assert n == 3  # init pass + two day-boundary passes
    assert clock["t"] >= datetime(2026, 3, 3)  # slept across 2 midnights
    docs = spark.read.parquet(R.store_path(cfg, str(tmp_path)))
    # idempotent cadence: repeated passes insert nothing new
    assert docs.count() == 3
