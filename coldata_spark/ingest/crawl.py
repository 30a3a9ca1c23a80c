"""Distributed crawl/ingest framework (SURVEY.md §2.1 S1-S3/S6-S8, §2.9 R2-R5).

The reference runs eight single-threaded crawlers (registry
/root/reference/src/coldata/crawler/__init__.py:1-9): per-site discovery
builds a URL list, then a sequential fetch loop hashes the URL to a pk,
checks existence, fetches + extracts, and inserts (e.g. uci.py:59-82).  The
Spark-native topology:

  driver:    discovery (inherently sequential pagination, R5 early-exit)
             emits the (source, url) seed list; the list is capped per
             source (P6) and deduped across sources (first source wins)
             in place, then becomes a local relation
  cluster:   seed -> anti-join existing pks (P5/J3; pruned when the store
             is an empty local relation) -> repartition(parallelism)
             -> mapInPandas fetch+extract (politeness sleep + exponential
             backoff INSIDE the UDF, R3/R4) -> project to the document
             schema (P1) -> merge_append (S8)

The fetcher is injectable (tests use recorded fixtures — no network, per
SURVEY §5.5); a real HTTP fetcher plugs into the same signature.  Fetch
parallelism is capped by repartition(n) — the per-site politeness knob
(config.yml query_interval) re-expressed as bounded concurrent workers.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# content fetcher: url -> raw text (html/markdown); raises on failure
Fetcher = Callable[[str], str]
FetcherFactory = Callable[[], Fetcher]

DOCUMENT_SCHEMA = T.StructType(
    [
        T.StructField("website", T.StringType()),
        T.StructField("index", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("info", T.StringType()),
    ]
)


@dataclass
class CrawlConfig:
    """Per-site knobs mirroring config.yml (query_interval etc.)."""

    num_attempts: int = 1000  # P6 cap per source (uci.py:62-65)
    query_interval: float = 0.0  # R3 politeness sleep seconds
    interval_scaler: float = 2.0  # R4 backoff multiplier (pwc.py:70-73)
    max_retries: int = 3
    fetch_parallelism: int = 8


def capped_seeds(
    urls_by_source: dict[str, list[str]],
    configs: dict[str, CrawlConfig],
    default: CrawlConfig = CrawlConfig(),
) -> dict[str, list[str]]:
    """The urls each source fetches, decided on the driver: its first
    ``num_attempts`` urls in url order (P6), minus the urls an earlier
    source in ``urls_by_source`` order already takes.  A url listed by two
    sites is fetched once, under the first (crawler.py:40-44's
    insert-if-absent on the url's pk)."""
    taken: set[str] = set()
    out: dict[str, list[str]] = {}
    for source, urls in urls_by_source.items():
        cap = max(0, configs.get(source, default).num_attempts)
        out[source] = []
        for url in sorted(urls)[:cap]:
            if url not in taken:
                taken.add(url)
                out[source].append(url)
    return out


def seed_dataframe(
    spark: SparkSession, urls_by_source: dict[str, list[str]]
) -> DataFrame:
    """Discovery output -> seed DataFrame (website, url), a local relation
    (tables.local_frame: no Python worker reads it back).  Discovery itself
    (paginated listing, S6) stays on the driver: it is sequential by nature
    (R5 stop detection reads each page before deciding to fetch the next)."""
    from coldata_spark.tables import local_frame

    rows = [(src, u) for src, urls in urls_by_source.items() for u in urls]
    return local_frame(
        spark,
        {"website": [r[0] for r in rows], "url": [r[1] for r in rows]},
        "website string, url string",
    )


def no_documents(spark: SparkSession) -> DataFrame:
    """An empty document table as a local relation: a join against it is
    pruned at planning, and reading it runs no Spark job."""
    from coldata_spark.tables import local_frame

    return local_frame(spark, {f: [] for f in DOCUMENT_SCHEMA.names}, DOCUMENT_SCHEMA)


def fetch_documents(
    seeds: DataFrame,
    fetcher_factory: FetcherFactory,
    config: CrawlConfig = CrawlConfig(),
) -> DataFrame:
    """mapInPandas fetch + extract: one fetcher per task (pooled like the
    per-crawler Selenium driver, opendatalab.py:27-33), politeness sleep and
    exponential backoff per request inside the UDF."""
    cfg = config

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fetch = fetcher_factory()
        for pdf in batches:
            out = {"website": [], "index": [], "url": [], "info": []}
            for website, url, pk in zip(pdf["website"], pdf["url"], pdf["index"]):
                # aggregate politeness: n parallel workers each sleeping
                # n*t request at the same 1/t rate as the reference's one
                # thread at t (a verbatim per-worker t would hammer the
                # site at n times the agreed rate)
                interval = cfg.query_interval * max(1, cfg.fetch_parallelism)
                info = None
                for _ in range(cfg.max_retries):
                    try:
                        if interval:
                            time.sleep(interval)
                        info = fetch(url)
                        break
                    except Exception:
                        interval = max(interval, 0.001) * cfg.interval_scaler
                if info is None:
                    continue  # dropped after retries — next run retries it
                out["website"].append(website)
                out["index"].append(pk)
                out["url"].append(url)
                out["info"].append(info)
            yield pd.DataFrame(out)

    with_pk = seeds.withColumn("index", F.sha2(F.col("url"), 256))
    return with_pk.repartition(cfg.fetch_parallelism).mapInPandas(
        run, schema=DOCUMENT_SCHEMA
    )


def crawl(
    spark: SparkSession,
    urls_by_source: dict[str, list[str]],
    existing: DataFrame,
    fetcher_factory: FetcherFactory,
    config: CrawlConfig = CrawlConfig(),
) -> DataFrame:
    """Full ingest pass: seed -> cap -> anti-join existing -> fetch -> docs,
    one ``config`` for every source.

    Returns the NEW documents (website, index, url, info), one per url —
    the caller appends them (operators.upsert.merge_append / Delta MERGE)."""
    seeds = seed_dataframe(spark, capped_seeds(urls_by_source, {}, config))
    # P5/J3: skip urls whose pk already exists (crawler.py:39-50)
    seeds = seeds.withColumn("index", F.sha2(F.col("url"), 256)).join(
        existing.select("index"), "index", "left_anti"
    ).drop("index")
    return fetch_documents(seeds, fetcher_factory, config)


# Per-source configurations mirroring the reference's eight crawlers
# (registry /root/reference/src/coldata/crawler/__init__.py:1-9; per-site
# knobs /root/reference/src/config.yml:3-57).  query_interval carries the
# reference's politeness values verbatim; fetch_parallelism is the Spark-side
# concurrency cap standing in for single-threaded-ness (1 worker at interval
# t == n workers at interval n*t of aggregate politeness — fetch_documents
# multiplies the per-worker sleep by fetch_parallelism, keeping the
# AGGREGATE request rate equal to the reference's single thread).
REFERENCE_SOURCES: dict[str, CrawlConfig] = {
    "UCI": CrawlConfig(query_interval=0.1),
    "Kaggle": CrawlConfig(query_interval=1.0),
    "AWS": CrawlConfig(query_interval=0.1),
    "PapersWithCode": CrawlConfig(query_interval=0.1),
    "OpenDataLab": CrawlConfig(query_interval=2.5, fetch_parallelism=2),
    "IEEEDataPort": CrawlConfig(query_interval=0.1),
    "HuggingFace": CrawlConfig(query_interval=1.0),
    "BrainDataSciencePlatform": CrawlConfig(num_attempts=1, query_interval=1.0),
}


def crawl_all_sources(
    spark: SparkSession,
    urls_by_source: dict[str, list[str]],
    existing: DataFrame,
    fetcher_factory: FetcherFactory,
    configs: dict[str, CrawlConfig] | None = None,
) -> DataFrame:
    """Multi-source ingest pass with per-source configs — main.py:14-36's
    sequential eight-crawler loop as a UNION of per-source plans Spark runs
    concurrently (scheduler pools / one job), each with its own politeness
    and cap.  Returns the union of new documents across sources, one per
    url: a url two sites list is fetched once, under the first source in
    ``urls_by_source`` order (capped_seeds; each cap applies first)."""
    configs = configs or REFERENCE_SOURCES
    parts = [
        crawl(spark, {source: urls}, existing, fetcher_factory,
              configs.get(source, CrawlConfig()))
        for source, urls in capped_seeds(urls_by_source, configs).items()
        if urls
    ]
    if not parts:
        # a discovery run that found nothing (or all sources disabled) is
        # a normal empty pass, not an IndexError for the scheduler to eat
        return no_documents(spark)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
