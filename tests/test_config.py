"""config.py round-trip on a verbatim copy of the reference's own
config.yml (tests/fixtures/reference_config.yml = reference
src/config.yml) — a reference user's existing file must load and map onto
this repo's components without hand-translation."""

from __future__ import annotations

import os

from coldata_spark import config as CF

FIXTURE = os.path.join(
    os.path.dirname(__file__), "fixtures", "reference_config.yml"
)


def test_all_eight_sources_parse_with_reference_politeness():
    app = CF.load(FIXTURE)
    assert set(app.sources) == {
        "UCI",
        "Kaggle",
        "AWS",
        "PapersWithCode",
        "OpenDataLab",
        "IEEEDataPort",
        "HuggingFace",
        "BrainDataSciencePlatform",
    }
    assert app.sources["UCI"].crawl.query_interval == 0.1
    assert app.sources["OpenDataLab"].crawl.query_interval == 2.5
    assert app.sources["Kaggle"].crawl.interval_scaler == 2.0
    assert app.sources["OpenDataLab"].num_datasets_per_query == 20
    assert app.sources["IEEEDataPort"].init_page == 0
    assert app.sources["Kaggle"].init_page == 1


def test_num_attempts_quirk_preserved():
    """Reference crawler.py:22-25: num_attempts == 0 returns an empty
    dataset list (source disabled); N > 0 caps attempts.  The shipped
    config disables every source except BrainDataSciencePlatform."""
    app = CF.load(FIXTURE)
    enabled = {n for n, s in app.sources.items() if s.enabled}
    assert enabled == {"BrainDataSciencePlatform"}
    assert app.sources["BrainDataSciencePlatform"].crawl.num_attempts == 1
    assert not app.sources["BrainDataSciencePlatform"].use_cache
    # crawl_configs() feeds crawl_all_sources with ONLY enabled sources
    assert set(app.crawl_configs()) == {"BrainDataSciencePlatform"}


def test_vdb_chunk_model_scheduler_mapping():
    app = CF.load(FIXTURE)
    assert app.vdb.nlist == 128 and app.vdb.nprobe == 128
    assert app.vdb.metric_type == "COSINE" and app.vdb.limit == 4
    assert app.vdb.batch_size == 128 and app.vdb.renew is True
    # chunk 128 / overlap 64 == the repo's CHUNK_SIZE / CHUNK_STRIDE
    from coldata_spark.functions import text as TX

    kw = app.chunk_kwargs()
    assert kw == {"size": TX.CHUNK_SIZE, "stride": TX.CHUNK_STRIDE}
    assert app.model.model_name == "intfloat/multilingual-e5-large-instruct"
    assert app.model.max_length == 512
    assert app.model.normalize_embeddings is False
    assert app.scheduler.period == "day" and app.scheduler.init_run is True
    assert app.chromedriver_path  # selenium path surfaces for render.py
    assert app.output_format == "markdown"


def test_store_env_switch():
    app_local = CF.load(FIXTURE, env="local")
    assert app_local.store.db_name == "coldata"
    assert app_local.store.collection_name == "dataset"
    assert app_local.store.index_field == "index"
    app_remote = CF.load(FIXTURE, env="remote")
    assert app_remote.store.db_name == "Crawl-Data"


def test_config_drives_real_components(spark):
    """The mapped knobs must be directly usable: scheduler period
    validates, chunk kwargs produce the chunk grid, and the vdb knobs
    runner.run_once reads name parameters of search.build_index and
    search.search."""
    import inspect
    from datetime import datetime

    from pyspark.sql import functions as F

    from coldata_spark import scheduler as SCH
    from coldata_spark import search as S
    from coldata_spark.functions import text as TX

    app = CF.load(FIXTURE)
    nxt = SCH.next_run(datetime(2026, 1, 1), app.scheduler.period)
    assert nxt == datetime(2026, 1, 2)

    kw = app.chunk_kwargs()
    n = (
        spark.range(1)
        .select(TX.n_chunks(F.lit(300), **kw).alias("n"))
        .first()["n"]
    )
    assert n == 4  # ceil((300 - 128) / 64) + 1

    assert {"nlist", "metric"} <= set(inspect.signature(S.build_index).parameters)
    assert {"k", "nprobe"} <= set(inspect.signature(S.search).parameters)


def test_empty_and_partial_configs_fall_back_to_defaults(tmp_path):
    p = tmp_path / "partial.yml"
    p.write_text("vdb:\n  milvus:\n    nlist: 32\n")
    app = CF.load(str(p))
    assert app.vdb.nlist == 32
    assert app.vdb.nprobe == 128  # default kept
    assert app.scheduler.period == "day"
    assert app.sources == {}
    (tmp_path / "empty.yml").write_text("")
    app2 = CF.load(str(tmp_path / "empty.yml"))
    assert app2.vdb.nlist == 128
