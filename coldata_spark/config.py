"""YAML config shim — load the reference's own ``config.yml`` and map every
knob onto this repo's components, so a reference user migrates by pointing
``coldata_spark.config.load()`` at the file they already have instead of
hand-translating via MIGRATION.md.

Key map (reference src/config.yml:1-100 → here):

  crawler.website.<Site>.*      → ingest.crawl.CrawlConfig per source
      num_attempts: 0 = source DISABLED (crawler.py:22-25 returns []),
      None/absent = unlimited, N>0 = cap — the quirk is preserved;
      query_interval / query_interval_scaler → politeness + backoff;
      use_cache → checkpoint discovery lists (sources.io.checkpoint).
  crawler.selenium.chromedriver_path → ingest.render driver factory path
  crawler.parse.output_format   → html extraction flavor note
  mongodb.key.<env>.db_name, collection_name, index_field
                                → table root / table name / pk column
  vdb.milvus.nlist/nprobe/limit/metric_type
                                → runner.run_once: search.build_index
                                   nlist + metric, search.search k + nprobe
  vdb.milvus.batch_size         → embed Arrow batch hint; renew → rebuild
  vdb.text.chunk_size/chunk_overlap → functions.text chunk parameters
  vdb.model.*                   → embed encoder settings (model name,
                                   device, max_length, normalize)
  scheduler.init_run/period     → scheduler.run_scheduled parameters
                                   (period day|week|month, 30-day month
                                   quirk preserved in scheduler.py)
"""

from __future__ import annotations

from dataclasses import dataclass, field

from coldata_spark.ingest.crawl import CrawlConfig

_UNLIMITED = 1 << 31  # reference num_attempts=None → no cap


@dataclass
class SourceConfig:
    """One crawler.website entry: enablement + the repo's CrawlConfig."""

    enabled: bool
    crawl: CrawlConfig
    use_cache: bool = True
    init_page: int | None = None
    num_datasets_per_query: int | None = None


@dataclass
class VdbConfig:
    collection_name: str = "dataset"
    index_type: str = "IVF_FLAT"
    metric_type: str = "COSINE"
    nlist: int = 128
    nprobe: int = 128
    limit: int = 4  # search top-k
    renew: bool = True
    page_limit: int = 100
    batch_size: int = 128


@dataclass
class ChunkConfig:
    chunk_size: int = 128
    chunk_overlap: int = 64
    add_start_index: bool = True


@dataclass
class ModelConfig:
    model_name: str = ""
    device: str = "cpu"
    max_length: int = 512
    normalize_embeddings: bool = False


@dataclass
class StoreConfig:
    db_name: str = "coldata"
    collection_name: str = "dataset"
    index_field: str = "index"


@dataclass
class SchedulerConfig:
    init_run: bool = True
    period: str = "day"


@dataclass
class AppConfig:
    sources: dict[str, SourceConfig] = field(default_factory=dict)
    chromedriver_path: str | None = None
    output_format: str = "markdown"
    store: StoreConfig = field(default_factory=StoreConfig)
    vdb: VdbConfig = field(default_factory=VdbConfig)
    chunk: ChunkConfig = field(default_factory=ChunkConfig)
    model: ModelConfig = field(default_factory=ModelConfig)
    scheduler: SchedulerConfig = field(default_factory=SchedulerConfig)

    def crawl_configs(self) -> dict[str, CrawlConfig]:
        """Per-source configs for crawl_all_sources — ENABLED sources only
        (num_attempts=0 sources are skipped, exactly like the reference's
        early-return empty dataset list)."""
        return {
            name: src.crawl
            for name, src in self.sources.items()
            if src.enabled
        }

    def chunk_kwargs(self) -> dict[str, int]:
        return {
            "size": self.chunk.chunk_size,
            "stride": self.chunk.chunk_size - self.chunk.chunk_overlap,
        }


def _source(cfg: dict) -> SourceConfig:
    attempts = cfg.get("num_attempts")
    enabled = attempts != 0  # 0 = disabled; None = unlimited; N = cap
    cap = _UNLIMITED if attempts in (None, 0) else int(attempts)
    return SourceConfig(
        enabled=enabled,
        crawl=CrawlConfig(
            num_attempts=cap,
            query_interval=float(cfg.get("query_interval", 0.0)),
            interval_scaler=float(cfg.get("query_interval_scaler", 2.0)),
        ),
        use_cache=bool(cfg.get("use_cache", True)),
        init_page=cfg.get("init_page"),
        num_datasets_per_query=cfg.get("num_datasets_per_query"),
    )


def _take(dc, cfg: dict):
    """Fill dataclass ``dc`` from dict, keeping defaults for absent keys."""
    for k, v in (cfg or {}).items():
        if hasattr(dc, k) and v is not None:
            setattr(dc, k, type(getattr(dc, k))(v) if not isinstance(
                getattr(dc, k), bool) else bool(v))
    return dc


def load(path: str, env: str = "local") -> AppConfig:
    """Parse a reference-format config.yml into an AppConfig.

    ``env`` picks the mongodb.key.<env> entry (the reference's local/remote
    switch) for the store name mapping."""
    import yaml

    with open(path) as f:
        raw = yaml.safe_load(f) or {}

    app = AppConfig()
    crawler = raw.get("crawler") or {}
    for name, cfg in (crawler.get("website") or {}).items():
        app.sources[name] = _source(cfg or {})
    app.chromedriver_path = (crawler.get("selenium") or {}).get(
        "chromedriver_path"
    )
    app.output_format = (crawler.get("parse") or {}).get(
        "output_format", app.output_format
    )

    mongo = raw.get("mongodb") or {}
    key = (mongo.get("key") or {}).get(env) or {}
    if key.get("db_name"):
        app.store.db_name = str(key["db_name"])
    if mongo.get("collection_name"):
        app.store.collection_name = str(mongo["collection_name"])
    if mongo.get("index_field"):
        app.store.index_field = str(mongo["index_field"])

    vdb = raw.get("vdb") or {}
    _take(app.vdb, vdb.get("milvus"))
    _take(app.chunk, vdb.get("text"))
    _take(app.model, vdb.get("model"))
    _take(app.scheduler, raw.get("scheduler"))
    return app
