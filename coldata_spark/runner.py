"""Config-driven end-to-end runner — the reference's ``python main.py``
(reference src/main.py:1-45) as one function over the YAML shim.

The reference flow: load config.yml -> Mongo handle -> crawl each of the
eight sites with upload -> (if renew/update) rebuild the Milvus IVF index
from the document store -> run a demo search and print ranked results.

Here the same flow, Spark-first, driven by the SAME config file via
``coldata_spark.config.load``:

  crawl    -> ingest.crawl.crawl_all_sources over the ENABLED sources
              (the num_attempts=0 disable quirk from the reference config
              applies), per-source politeness from the config; caps and
              the cross-source url dedup run on the driver's seed list;
  upload   -> operators.upsert.merge_append on the configured pk column
              into a parquet store named by the config's db/collection
              (the first pass writes the crawl as is: an absent store is
              an empty local relation, so nothing is counted or joined);
  index    -> search.build_index (chunk -> embed -> metric k-means cells
              -> centroid-partitioned write) when ``vdb.milvus.renew``;
  search   -> search.search with the config's nprobe/limit.

The fetcher stays injectable (the same seam every crawl test uses): pass a
real HTTP fetcher factory in production, a recorded/fake one in tests —
network use is a caller decision, not something the runner hardcodes.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import SparkSession

from coldata_spark import embed as E
from coldata_spark import search as S
from coldata_spark.config import AppConfig
from coldata_spark.ingest import crawl as C
from coldata_spark.operators import upsert as U


def store_path(cfg: AppConfig, root: str) -> str:
    """mongodb.key.<env>.db_name / collection_name -> parquet table dir."""
    return os.path.join(root, cfg.store.db_name, cfg.store.collection_name)


def run_once(
    spark: SparkSession,
    cfg: AppConfig,
    root: str,
    urls_by_source: dict[str, list[str]],
    fetcher_factory: C.FetcherFactory,
    search_queries: list[str] | None = None,
    encoder_factory: Callable = E._default_encoder_factory,
) -> dict:
    """One main.py pass.  Returns a summary dict with row counts, the
    store/index paths, and (when ``search_queries``) the ranked result
    DataFrame under ``"search"``.  That search is eager, like the
    reference's vdb.search: its rows are computed during this call and
    held as a local relation, so reading them later runs no Spark job."""
    from coldata_spark.streaming.foldcommit import recover

    path = store_path(cfg, root)
    pk = cfg.store.index_field
    recover(path)  # heal crash residue before snapshotting the file listing
    if os.path.isdir(path):
        existing = spark.read.parquet(path)
        n_existing = existing.count()
    else:
        # a local relation: the crawl's anti-join against it is pruned
        existing, n_existing = C.no_documents(spark), 0

    # crawl ONLY the sources the config enables, each under its own
    # politeness/caps (main.py's eight sequential crawlers -> one unioned
    # plan; the crawl anti-joins existing pks = upsert-if-absent, and
    # yields one document per url, so the fold needs no dedup of its own)
    configs = cfg.crawl_configs()
    urls = {s: u for s, u in urls_by_source.items() if s in configs}
    new = C.crawl_all_sources(spark, urls, existing, fetcher_factory, configs)
    # crash-safe swap of the merged store (foldcommit sentinel protocol;
    # idempotent — re-merging the same crawl batch inserts nothing new;
    # RESERVED id keeps the marker out of stream-checkpoint id space)
    from coldata_spark.streaming.foldcommit import RESERVED_BATCH_ID, fold_once

    os.makedirs(os.path.dirname(path), exist_ok=True)
    fold_once(
        new,
        path,
        RESERVED_BATCH_ID,
        lambda existing_df, part: U.merge_append(part, existing_df, pk=pk),
        idempotent=True,
    )
    docs = spark.read.parquet(path)
    n_total = docs.count()

    summary: dict = {
        "store": path,
        "n_existing": n_existing,
        "n_new": n_total - n_existing,
        "n_total": n_total,
    }

    if cfg.vdb.renew:
        index_path = os.path.join(root, "index", cfg.vdb.collection_name)
        index = S.build_index(
            docs.filter(f"{pk} IS NOT NULL AND info IS NOT NULL"),
            index_path,
            id_col=pk,
            text_col="info",
            nlist=cfg.vdb.nlist,
            metric=cfg.vdb.metric_type,
            encoder_factory=encoder_factory,
        )
        summary["index"] = index_path
        if search_queries:
            summary["search"] = S.search(
                spark,
                index,
                docs,
                search_queries,
                k=cfg.vdb.limit,
                nprobe=cfg.vdb.nprobe,
                id_col=pk,
                text_col="info",
                encoder_factory=encoder_factory,
            )
    return summary


def run_on_schedule(
    spark: SparkSession,
    cfg: AppConfig,
    root: str,
    urls_by_source: dict[str, list[str]],
    fetcher_factory: C.FetcherFactory,
    max_runs: int | None = None,
    now=None,
    sleep=None,
) -> int:
    """The reference's scheduler entry (scheduler.py cadence loop driving
    the main.py pass): fire run_once at the config's cadence
    (``scheduler.period`` day|week|month, ``scheduler.init_run`` immediate
    first pass).  ``now``/``sleep`` stay injectable for tests; returns
    completed pass count."""
    from datetime import datetime
    from time import sleep as _sleep

    from coldata_spark.scheduler import run_scheduled

    return run_scheduled(
        lambda: run_once(spark, cfg, root, urls_by_source, fetcher_factory),
        period=cfg.scheduler.period,
        init_run=cfg.scheduler.init_run,
        max_runs=max_runs,
        now=now or datetime.now,
        sleep=sleep or _sleep,
    )


def main() -> None:
    """CLI: ``python -m coldata_spark.runner config.yml seeds.json out_dir``
    — seeds.json maps source name -> url list (discovery output; the
    paginated-listing drivers in ingest/discovery.py produce it).  Uses a
    plain urllib fetcher; politeness/retry/backoff come from the config."""
    import json
    import sys
    import urllib.request

    from coldata_spark.config import load
    from coldata_spark.session import get_spark

    cfg_path, seeds_path, root = sys.argv[1:4]
    cfg = load(cfg_path)
    with open(seeds_path) as f:
        urls_by_source = json.load(f)

    def fetcher():
        def fetch(url: str) -> str:
            with urllib.request.urlopen(url, timeout=30) as r:
                return r.read().decode("utf-8", "replace")

        return fetch

    spark = get_spark(app_name="coldata_spark_runner")
    summary = run_once(
        spark,
        cfg,
        root,
        urls_by_source,
        fetcher,
        search_queries=["Scene Parsing Benchmark"],  # main.py:45's demo query
    )
    res = summary.pop("search", None)
    print(json.dumps(summary))
    if res is not None:
        res.show(20, truncate=80)


if __name__ == "__main__":
    main()
