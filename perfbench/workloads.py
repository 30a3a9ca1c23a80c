"""The workloads.  Each is a closed loop with one client: the next op
starts when the previous one returns.

A workload exposes ``setup()`` (build the starting state from the seed;
timed, repeated, median reported), ``check()`` (untimed output checks run
once per run), and ``op()`` (one timed operation, returns whether its
output checks passed).  With tracing on, every other op runs under
``traced_layers``: the layer entry points that ``runner.run_once`` and
``search.search`` call are wrapped, from outside, in spans that also
materialize each lazy output at its boundary.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import tempfile
import time
import types

from coldata_spark import config as CF
from coldata_spark import embed as E
from coldata_spark import registry
from coldata_spark import runner as R
from coldata_spark import search as S
from coldata_spark.ingest import crawl as C
from coldata_spark.operators import ivf
from coldata_spark.session import dir_bytes
from coldata_spark.streaming import foldcommit
from perfbench import gen

# Corpus sizes are set by the run budget (see README.md, "Sizing").
SEARCH_PAGES = 150  # search index
NLIST = 32
NPROBE = 4  # 1/8 of the cells, the reference sizing's 16-of-128 ratio
TOP_K = 4
N_QUERIES = 32
REGISTRY_SF = 0.01
REGISTRY_TIMES = 2
JOIN_FAMILY = (
    "q01_pricing_summary",
    "q02_top_orders_by_revenue",
    "q64_returned_revenue_by_customer",
    "q67_volume_shipping",
    "q68_market_share",
    "q77_local_supplier_volume",
    "q97_profit_by_nation_year",
)
DATA_OPS_FAMILY = (
    "q23_exact_dedup",
    "q25_minhash_signatures",
    "q29_ngram_jaccard",
    "q30_knn_cosine_topk",
)


def app_config(nproc: int) -> CF.AppConfig:
    """Every gen.SOURCES source enabled, uncapped, without politeness
    sleeps; vdb knobs from the module constants."""
    cfg = CF.AppConfig()
    for name in gen.SOURCES:
        cfg.sources[name] = CF.SourceConfig(
            enabled=True,
            crawl=C.CrawlConfig(
                num_attempts=1 << 31, query_interval=0.0, fetch_parallelism=nproc
            ),
        )
    cfg.vdb.nlist = NLIST
    cfg.vdb.nprobe = NLIST
    cfg.vdb.limit = TOP_K
    return cfg


class Layers:
    """Per-op layer observations of traced ops (spans keep the times)."""

    def __init__(self):
        self.values: dict[str, list[float]] = {}

    def add(self, name: str, value: float) -> None:
        self.values.setdefault(name, []).append(float(value))

    def mean(self, name: str) -> float:
        xs = self.values.get(name)
        return statistics.fmean(xs) if xs else 0.0


class Workload:
    name = ""
    ops_per_round = 1
    min_rounds = 1  # rounds of ops a run makes even past its deadline
    # traced runs also trace the last set-up when the ops never run the
    # build layers, so those layers still get per-layer numbers
    trace_setup = False

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.layers = Layers()
        self.detail: dict = {}

    def tmpdir(self, tag: str) -> str:
        return tempfile.mkdtemp(prefix=f"{tag}-", dir=self.ctx.tmp)

    def setup(self) -> None:
        raise NotImplementedError

    def check(self) -> bool:
        return True

    def op(self, traced: bool) -> tuple[float, bool]:
        raise NotImplementedError

    def finish(self, op_times: list[float]) -> float:
        """Workload summary into ``detail``; returns the e2e ``op_s``."""
        return statistics.median(op_times)


# ---------------------------------------------------------------- tracing
@contextlib.contextmanager
def _patched(obj, name, value):
    old = getattr(obj, name)
    setattr(obj, name, value)
    try:
        yield
    finally:
        setattr(obj, name, old)


def _proxy(module, **overrides):
    ns = types.SimpleNamespace(**vars(module))
    for k, v in overrides.items():
        setattr(ns, k, v)
    return ns


@contextlib.contextmanager
def traced_layers(w: Workload, index_cells: dict, on: bool = True):
    """Wrap each layer entry point in a span that materializes its output.

    Only module attributes that ``runner``/``search`` resolve at call time
    are swapped, and all are restored on exit.  ``on=False`` swaps nothing."""
    if not on:
        yield
        return
    tr = w.ctx.tracer
    spark = w.spark
    kept = []
    orig_fold = foldcommit.fold_once  # patched below; run_once imports it per call

    def keep(df):
        df = df.cache()
        kept.append(df)
        return df

    def crawl_all_sources(*a, **k):
        with tr.span("crawl_all_sources") as v:
            df = keep(C.crawl_all_sources(*a, **k))
            v["docs"] = df.count()
        w.layers.add("crawl.docs", v["docs"])
        return df

    def fold_once(partial, table_path, *a, **k):
        # the new rows written on their own, outside the fold's span, are
        # the denominator of its write amplification
        partial = keep(partial)
        with tr.groups.group("fold.new_rows") as new:
            partial.write.parquet(os.path.join(w.tmpdir("new-rows"), "rows"))
        with tr.span("fold_once"):
            orig_fold(partial, table_path, *a, **k)
        wrote = tr.by_name("fold_once")[-1].counts  # output of the fold's own jobs
        w.layers.add("fold.rows_written", wrote.output_records)
        w.layers.add("fold.bytes_written", wrote.output_bytes)
        w.layers.add("fold.new_bytes", new.output_bytes)
        w.layers.add("corpus.bytes", dir_bytes(table_path))

    def embed_documents(df, *a, **k):
        with tr.span("chunk") as v:
            df = keep(df)
            v["chunks"] = df.count()
        with tr.span("embed_documents"):
            out = keep(E.embed_documents(df, *a, **k))
            out.count()
        w.layers.add("chunk.chunks", v["chunks"])
        return out

    def build_ivf(*a, **k):
        with tr.span("build_ivf"):
            assigned, cents = ivf.build_ivf(*a, **k)
            assigned = keep(assigned)
            assigned.count()
        return assigned, cents

    def write_ivf(assigned, path):
        with tr.span("write_ivf"):
            ivf.write_ivf(assigned, path)
        w.layers.add("index.bytes", dir_bytes(path))
        index_cells.clear()
        for r in spark.read.parquet(path).groupBy("centroid_id").count().collect():
            index_cells[r[0]] = r[1]

    def embed_queries(*a, **k):
        with tr.span("embed_queries"):
            out = keep(E.embed_queries(*a, **k))
            out.count()
        return out

    def search_ivf(*a, **k):
        probed = []

        def knn_join(*ka, **kk):  # search_ivf's first knn_join is its probe
            out = keep(orig_knn(*ka, **kk))
            if not probed:
                probed.extend(r[0] for r in out.select("vec_id").distinct().collect())
            return out

        orig_knn = ivf.knn_join
        with tr.span("search_ivf"), _patched(ivf, "knn_join", knn_join):
            hits = keep(ivf.search_ivf(*a, **k))
            n_hits = hits.count()
        w.layers.add("ivf_search.cells_probed", len(probed))
        w.layers.add("ivf_search.rows_scanned", sum(index_cells.get(c, 0) for c in probed))
        w.layers.add("ivf_search.hits", n_hits)
        return hits

    with contextlib.ExitStack() as stack:
        stack.enter_context(_patched(R, "C", _proxy(C, crawl_all_sources=crawl_all_sources)))
        stack.enter_context(_patched(foldcommit, "fold_once", fold_once))
        stack.enter_context(_patched(
            S, "E", _proxy(E, embed_documents=embed_documents, embed_queries=embed_queries)
        ))
        stack.enter_context(_patched(
            S, "ivf", _proxy(ivf, build_ivf=build_ivf, write_ivf=write_ivf, search_ivf=search_ivf)
        ))
        try:
            yield
        finally:
            for df in kept:
                df.unpersist()


def _collect_search(w: Workload, res, traced: bool):
    """Run the lazy ranked result; traced, this is the join_back span
    (group_best, rank window and the document join)."""
    with w.ctx.tracer.span("join_back", on=traced):
        return res.collect()


def _search_ok(rows, stored_ids: set, n_queries: int) -> bool:
    """Every hit is a stored page, ranks run 1..k, scores never improve."""
    by_q: dict = {}
    for r in rows:
        if r["index"] not in stored_ids:
            return False
        by_q.setdefault(r["q_id"], []).append((r["rank"], r["score"]))
    if len(by_q) != n_queries:
        return False
    for hits in by_q.values():
        hits.sort()
        if [h[0] for h in hits] != list(range(1, len(hits) + 1)) or len(hits) > TOP_K:
            return False
        if any(a[1] < b[1] for a, b in zip(hits, hits[1:])):  # COSINE: desc
            return False
    return True


# ------------------------------------------------------------ workloads
class Search(Workload):
    """One op: one ``search.search`` call with 32 queries, results collected."""

    name = "search"
    trace_setup = True
    # an odd count, so the median is one op's time, not the mean of two
    min_rounds = 3

    def setup(self):
        cfg = app_config(self.ctx.nproc)
        cfg.vdb.renew = False  # the index handle comes from build_index below
        self.crawl = gen.make_crawl(self.ctx.seed, SEARCH_PAGES)
        root = self.tmpdir("search")
        acc = self.spark.sparkContext.accumulator(0)
        out = R.run_once(
            self.spark, cfg, root, self.crawl.urls_by_source,
            gen.make_fetcher_factory(self.crawl, acc), encoder_factory=E.TinyNumpyEncoder,
        )
        self.layers.add("crawl.fetch_attempts", acc.value)
        self.layers.add("embed.new_docs", out["n_new"])
        self.docs = self.spark.read.parquet(out["store"])
        self.index = S.build_index(
            self.docs, os.path.join(root, "index"), id_col="index", text_col="info",
            nlist=NLIST, encoder_factory=E.TinyNumpyEncoder,
        )
        self.queries = gen.make_queries(self.ctx.seed, self.crawl, N_QUERIES)
        self.texts = [q.text for q in self.queries]
        self.cells: dict = {}  # index rows per cell, for rows scanned

    def _search(self, nprobe: int):
        return S.search(
            self.spark, self.index, self.docs, self.texts, k=TOP_K, nprobe=nprobe,
            id_col="index", text_col="info", encoder_factory=E.TinyNumpyEncoder,
        )

    @staticmethod
    def _top(rows) -> dict:
        out: dict = {}
        for r in rows:
            out.setdefault(r["q_id"], set()).add(r["index"])
        return out

    def check(self) -> bool:
        """The store holds each crawled page once; exhaustive answers
        (nprobe = nlist), where every known-item query must find its own
        page first."""
        rows = self._search(self.index.nlist).collect()
        self.exact = self._top(rows)
        self.url_of = {r[0]: r[1] for r in self.docs.select("index", "url").collect()}
        self.stored = set(self.url_of)
        first = {r["q_id"]: r["index"] for r in rows if r["rank"] == 1}
        found = all(
            self.url_of.get(first.get(i)) == q.page_url
            for i, q in enumerate(self.queries) if q.page_url
        )
        # the store: every distinct url once, minus the always-failing ones
        deduped = sorted(self.url_of.values()) == sorted(
            set(self.crawl.distinct_urls()) - set(self.crawl.always_fail)
        )
        return deduped and found and _search_ok(rows, self.stored, len(self.queries))

    def op(self, traced):
        if traced and not self.cells:
            for r in self.spark.read.parquet(self.index.path).groupBy("centroid_id").count().collect():
                self.cells[r[0]] = r[1]
        t0 = time.perf_counter()
        with traced_layers(self, self.cells, on=traced), self.ctx.tracer.span("search", on=traced):
            rows = _collect_search(self, self._search(NPROBE), traced)
        dt = time.perf_counter() - t0
        got = self._top(rows)
        recall = statistics.fmean(
            len(got.get(q, set()) & ex) / len(ex) for q, ex in self.exact.items()
        )
        self.layers.add("ivf_search.recall_at_4", recall)
        if traced:
            self.layers.add("ivf_search.results", len(rows))
        return dt, _search_ok(rows, self.stored, len(self.queries))

    def finish(self, op_times):
        self.detail["recall_at_4"] = self.layers.mean("ivf_search.recall_at_4")
        return statistics.median(op_times)


class RegistryMix(Workload):
    """One op: one pinned registry query into the noop sink, round-robin."""

    name = "registry_mix"
    QUERIES = JOIN_FAMILY + DATA_OPS_FAMILY
    ops_per_round = len(QUERIES)
    # query times still fall over the first rounds (JIT warm-up), and a
    # second round halves a host slowdown's share: IQR/median of op_s over
    # ten seeds was 0.26 with one round a run, 0.19-0.21 with two.  A third
    # round cost 7 s a run and gave 0.27: the spread comes from bursts of
    # stolen host CPU longer than a run's rounds, which no round count
    # within the run budget outlasts.
    min_rounds = 2

    def setup(self):
        from perfbench.fixture import write_fixture
        from tools.replicate import replicate_fixture

        base = write_fixture(self.tmpdir("base"), self.ctx.seed, REGISTRY_SF)
        self.tier = replicate_fixture(
            self.spark, base, os.path.join(self.tmpdir("tier"), "tier"), REGISTRY_TIMES
        )
        self.specs = registry.specs()
        self.next = 0
        self.per_query: dict[str, list[float]] = {q: [] for q in self.QUERIES}

    def check(self) -> bool:
        """Each query matches its DuckDB oracle under the tests' comparison.
        The Spark sides run from a few threads at once: one query alone
        leaves most task slots idle."""
        from concurrent.futures import ThreadPoolExecutor

        import duckdb
        import pandas as pd

        from coldata_spark.tables import TABLES
        from tests.oracle_utils import compare

        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.tier, f"{t}.parquet")
            src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
        oracles = {}
        for q in self.QUERIES:
            oracle = con.execute(self.specs[q].sql).df()
            for c in oracle.columns:
                # Spark writes the tier's timestamps UTC-adjusted, so DuckDB
                # returns them tz-aware; toPandas gives them naive in the
                # session's UTC
                if isinstance(oracle[c].dtype, pd.DatetimeTZDtype):
                    oracle[c] = oracle[c].dt.tz_convert("UTC").dt.tz_localize(None)
            oracles[q] = oracle
        con.close()
        with ThreadPoolExecutor(self.ctx.nproc) as pool:
            problems = pool.map(
                lambda q: compare(self.specs[q].fn(self.spark, self.tier), oracles[q]),
                self.QUERIES,
            )
            bad = {q: p for q, p in zip(self.QUERIES, problems) if p}
        self.detail["oracle_mismatch"] = bad
        return not bad

    def op(self, traced):
        q = self.QUERIES[self.next % len(self.QUERIES)]
        self.next += 1
        t0 = time.perf_counter()
        with self.ctx.tracer.span(q, on=traced):
            self.specs[q].fn(self.spark, self.tier).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        if not traced:  # per-query times come from plain ops only
            self.per_query[q].append(dt)
        return dt, True

    def family_s(self, family) -> float:
        return sum(statistics.median(self.per_query[q]) for q in family if self.per_query[q])

    def finish(self, op_times):
        self.detail["joins_s"] = self.family_s(JOIN_FAMILY)
        self.detail["data_ops_s"] = self.family_s(DATA_OPS_FAMILY)
        return self.family_s(self.QUERIES)


WORKLOADS = {w.name: w for w in (Search, RegistryMix)}
