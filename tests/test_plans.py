"""Physical-plan quality gates (SURVEY §4): predicate pushdown, column
pruning, broadcast join selection, whole-stage codegen, partition pruning.

These are the properties that decide whether a plan survives a 100x
scale-up; asserting them here prevents silent regressions (e.g. a refactor
that swaps a broadcast join for a sort-merge of a dimension table, or a
filter that stops reaching the parquet scan).
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from coldata_spark import registry
from coldata_spark.tables import load


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def executed_plan(df) -> str:
    """The simple-mode executed plan: one line per node, with each node's
    expressions on its own line (formatted mode splits them apart)."""
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """q01's shipdate predicate must appear in PushedFilters of the scan."""
    q = registry.specs()["q01_pricing_summary"]
    plan = plan_of(q.fn(spark, sf_dir))
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1].splitlines()[0]


def test_column_pruning(spark, sf_dir):
    """A 2-column projection must not read the full lineitem schema."""
    df = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = plan_of(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema
    assert "l_shipdate" not in read_schema


def test_dimension_joins_broadcast(spark, sf_dir):
    """q03's region/nation/supplier joins must be broadcast, never
    sort-merge (they are bounded-size at any scale factor)."""
    q = registry.specs()["q03_region_nation_revenue"]
    plan = plan_of(q.fn(spark, sf_dir))
    # tree section lists each join once more in the detail section
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_knn_big_side_never_shuffles_before_topk(spark, sf_dir):
    """q30 (arrow strategy): the vector table flows from the scan straight
    into the Arrow scoring stage — no join, no exchange of the big side;
    the only shuffle is the bounded per-query top-k merge window."""
    q = registry.specs()["q30_knn_cosine_topk"]
    plan = plan_of(q.fn(spark, sf_dir))
    assert "MapInArrow" in plan
    assert "SortMergeJoin" not in plan
    # nothing between the scan and the Arrow stage may shuffle ON A KEY —
    # the only exchange allowed there is fan_out's round-robin rebalance of
    # the single-file test fixture (absent at scale, where the scan already
    # has thousands of splits).  A hash/range exchange would mean the big
    # side is being co-partitioned for a join — the shape this test bans.
    import re

    tree = plan.split("\n\n")[0]
    mip_id = int(re.search(r"MapInArrow \((\d+)\)", tree).group(1))
    for m in re.finditer(r"Exchange \((\d+)\)", tree):
        ex_id = int(m.group(1))
        if ex_id < mip_id:  # below MapInPandas in the tree = before it
            detail = plan.split(f"({ex_id}) Exchange")[1].split("\n\n")[0]
            assert "RoundRobinPartitioning" in detail, detail


def test_anti_join_used_for_not_exists(spark, sf_dir):
    q = registry.specs()["q04_customers_without_orders"]
    plan = plan_of(q.fn(spark, sf_dir))
    assert "LeftAnti" in plan


def test_semi_join_used_for_exists(spark, sf_dir):
    q = registry.specs()["q05_customers_with_urgent_orders"]
    plan = plan_of(q.fn(spark, sf_dir))
    assert "LeftSemi" in plan


def test_whole_stage_codegen_on_hot_path(spark, sf_dir):
    """The pricing-summary agg pipeline must run inside WholeStageCodegen
    (no interpreted row-at-a-time stages).  Codegen stage markers (*(n))
    only appear in the simple-mode executed plan."""
    q = registry.specs()["q01_pricing_summary"]
    df = q.fn(spark, sf_dir)
    # AQE wraps the plan until execution; run it, then inspect the final plan
    df.collect()
    executed = executed_plan(df)
    assert "isFinalPlan=true" in executed
    assert "*(" in executed  # WholeStageCodegen stage markers


def test_topk_is_take_ordered(spark, sf_dir):
    """q02's ORDER BY + LIMIT must compile to TakeOrderedAndProject, not a
    global sort."""
    q = registry.specs()["q02_top_orders_by_revenue"]
    plan = plan_of(q.fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def jobs_run(spark, action) -> int:
    """Number of Spark jobs ``action()`` starts."""
    sc = spark.sparkContext
    # a group no earlier call used: id(action) repeats once an earlier
    # action is freed, and a module counter repeats too, because this
    # module is imported twice (as test_plans and as tests.test_plans);
    # a reused group's count includes the earlier call's jobs
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events arrive async
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_jobs_run_counts_each_action_alone(spark):
    """Two lambdas made one after the other can share an id(); the second
    count must still hold only its own jobs."""
    assert jobs_run(spark, lambda: spark.range(3).collect()) > 0
    assert jobs_run(spark, lambda: None) == 0


def _build_ivf_and_assign(spark, sf_dir, fixture):
    from coldata_spark.operators import ivf

    emb = load(spark, sf_dir, "embeddings")
    return lambda: (
        ivf.build_ivf(emb, nlist=8)[0].write.format("noop").mode("overwrite").save()
    )


def _append_to_index(spark, sf_dir, fixture):
    from coldata_spark.operators import ivf
    from tests.test_ivf_index import committed

    emb = load(spark, sf_dir, "embeddings")
    assigned, centroids = ivf.build_ivf(emb.filter(F.col("vec_id") % 2 == 0), nlist=8)
    idx = committed(str(fixture("tmp_path") / "append_index"), assigned, centroids)
    return lambda: ivf.append_to_index(idx, emb.filter(F.col("vec_id") % 2 == 1))


def _maintain_ivf(split: bool):
    """A maintain_ivf pass over an nlist-4 index of the embeddings: idle,
    or, with ``split``, over cell 0's vectors appended again under fresh
    ids with every above-average cell split."""

    def setup(spark, sf_dir, fixture):
        from coldata_spark.operators import ivf
        from tests.test_ivf_index import committed

        emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        assigned, centroids = ivf.build_ivf(emb, nlist=4)
        idx = committed(str(fixture("tmp_path") / "maintain_index"), assigned, centroids)
        if not split:
            return lambda: ivf.maintain_ivf(idx)
        hot = assigned.filter(F.col("centroid_id") == 0).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
        )
        idx = ivf.append_to_index(idx, hot)
        return lambda: ivf.maintain_ivf(idx, max_cell_ratio=1.0, min_cell_rows=1)

    return setup


def _search(spark, sf_dir, fixture):
    from coldata_spark import search as S

    docs, idx = fixture("search_index")
    texts = [r.text for r in docs.orderBy("doc_id").limit(4).collect()]
    return lambda: S.search(spark, idx, docs, texts, k=3, nprobe=2).collect()


def _search_nlist48(spark, sf_dir, fixture):
    """search() over an index with more cell directories than Spark lists
    without a job (spark.sql.sources.parallelPartitionDiscovery.threshold,
    32)."""
    from coldata_spark import search as S

    docs = load(spark, sf_dir, "documents")
    idx = S.build_index(docs, str(fixture("tmp_path") / "wide_index"), nlist=48)
    assert idx.nlist == 48
    texts = [r.text for r in docs.orderBy("doc_id").limit(4).collect()]
    return lambda: S.search(spark, idx, docs, texts, k=3, nprobe=2).collect()


def _warm_query(name):
    """A registry query planned and collected again, once its cached index
    is built."""

    def setup(spark, sf_dir, fixture):
        fn = registry.specs()[name].fn
        fn(spark, sf_dir).collect()
        return lambda: fn(spark, sf_dir).collect()

    return setup


def _cold_run_once(spark, sf_dir, fixture):
    """A first run_once over two sources that share a url, renew off."""
    from coldata_spark import config as CF
    from coldata_spark import runner as R
    from coldata_spark.ingest import crawl as C

    cfg = CF.AppConfig()
    for source in ("UCI", "AWS"):
        cfg.sources[source] = CF.SourceConfig(
            enabled=True, crawl=C.CrawlConfig(fetch_parallelism=2)
        )
    cfg.vdb.renew = False
    urls = {
        "UCI": [f"https://uci.example/{i}" for i in range(12)] + ["https://x/shared"],
        "AWS": [f"https://aws.example/{i}" for i in range(9)] + ["https://x/shared"],
    }

    def fetcher_factory():  # nested: cloudpickle ships it by value
        return lambda url: f"dataset page for {url} " * 8

    root = str(fixture("tmp_path") / "cold")
    return lambda: R.run_once(spark, cfg, root, urls, fetcher_factory)


def _build_index(spark, sf_dir, fixture):
    from coldata_spark import search as S

    docs = load(spark, sf_dir, "documents")
    path = str(fixture("tmp_path") / "build_index")
    return lambda: S.build_index(docs, path, nlist=8)


# (gate, setup(spark, sf_dir, fixture) -> the action to count, most jobs it
# may run; ``fixture`` is request.getfixturevalue)
JOB_GATES = [
    # the two sources' fetch shuffles, the store write and the stored row
    # count: caps and the cross-source dedup run on the driver's seed list
    # and the anti-join against the absent store is pruned.  A row_number
    # seed window, a count of the absent store and post-fetch dedups ran
    # 12 to 14
    ("run_once_cold", _cold_run_once, 6),
    # the embed input's fan-out shuffle (the one-file fixture scans as one
    # partition), the sample's top-k (2), then the placement's shuffle by
    # cell and the write, over vectors embedded once and cached.  A chunk
    # re-join, its broadcast of the embedded side and a second embed pass
    # ran 7
    ("build_index", _build_index, 5),
    # the driver-sample fit's one top-k job plus the assignment's map;
    # MLlib KMeans ran ~25 at sf0.001
    ("build_ivf", _build_ivf_and_assign, 3),
    # the placed rows' shuffle by cell and their partitioned write: the
    # centroids are a local relation, so placing runs no job of its own
    ("append_to_index", _append_to_index, 2),
    # the audit's scan-and-count, its window's shuffle and the collect,
    # over the held scan pruned to the live cells by a static partition
    # filter.  Reading the index again by path (a schema-inference job)
    # and a broadcast semi-join against the centroids ran 5
    ("maintain_ivf_idle", _maintain_ivf(split=False), 3),
    # the audit, the split cell's sample, the moved-cell collect, the
    # rewrite's shuffle and write, and the audit of the new version: the
    # three path reads and their semi-joins ran 18
    ("maintain_ivf_split", _maintain_ivf(split=True), 11),
    # the in-cell scoring and the document lookup; the rest runs on the
    # driver.  The Spark-side finish (schema inference, query fetch,
    # group-best and rank stages, range sort) ran 8
    ("search", _search, 2),
    # the same two past 32 cells: the index's scan is held by the handle,
    # so its file listing is not a job per search.  Opening the index per
    # search ran 3
    ("search_nlist48", _search_nlist48, 2),
    # the query fetch, the in-cell scoring and the top-k's shuffle: the
    # opened index holds its centroids as a local relation and its stored
    # schema.  Parquet centroids (a schema-inference job and a collect
    # job) and schema inference on the index ran 6
    ("q35_warm", _warm_query("q35_ann_ivf_search"), 3),
    ("q150_warm", _warm_query("q150_ann_ivf_pruned"), 3),
    # as q35; count() on parquet centroids for nprobe ran 8
    ("q173_warm", _warm_query("q173_ivf_maintained_search"), 3),
    # the query fetch, the ADC scan and the re-rank's fetch of the
    # candidates' vectors; the probe, the candidate cut and the ranking
    # run on the driver.  The distributed probe plan (probe rows joined to
    # the index, a rank window, the re-rank's joins) ran 7; parquet
    # centroids and an inferred index scan before it ran 10
    ("q86_warm", _warm_query("q86_ivf_pq_search"), 3),
    ("q151_warm", _warm_query("q151_ivf_pq_ann"), 3),
]


@pytest.mark.parametrize(
    "setup,max_jobs", [g[1:] for g in JOB_GATES], ids=[g[0] for g in JOB_GATES]
)
def test_job_count_gates(spark, sf_dir, request, setup, max_jobs):
    action = setup(spark, sf_dir, request.getfixturevalue)
    assert jobs_run(spark, action) <= max_jobs


def _cold_crawl(spark, sf_dir, fixture):
    """The new-document frame a cold run_once crawls."""
    from coldata_spark.ingest import crawl as C

    seen = []
    real = C.crawl_all_sources

    def spy(*a, **kw):
        seen.append(real(*a, **kw))
        return seen[-1]

    fixture("monkeypatch").setattr(C, "crawl_all_sources", spy)
    _cold_run_once(spark, sf_dir, fixture)()
    return seen[0]


def _index_vectors(spark, sf_dir, fixture):
    """The vectors build_index fits and places."""
    from coldata_spark.operators import ivf

    seen = []
    real = ivf.build_ivf

    def spy(vectors, *a, **kw):
        seen.append(vectors)
        return real(vectors, *a, **kw)

    fixture("monkeypatch").setattr(ivf, "build_ivf", spy)
    _build_index(spark, sf_dir, fixture)()
    return seen[0]


def _ivf_pq_adc(spark, sf_dir, fixture):
    """The ADC scoring frame of q86's IVF-PQ search (cached index, 5
    queries) at nprobe 4: the one frame of the search that scores."""
    from coldata_spark.operators import ivf
    from coldata_spark.queries import vector_queries as VQ

    scored = []
    real_score_cells = ivf._score_cells

    def spy(*a, **kw):
        scored.append(real_score_cells(*a, **kw))
        return scored[-1]

    fixture("monkeypatch").setattr(ivf, "_score_cells", spy)
    idx, codebook, _ = VQ._ivf_pq_index_cached(spark, sf_dir)
    ivf.search_ivf_pq(idx, VQ._queries_df(spark, sf_dir, n=5), codebook, k=4, nprobe=4)
    (frame,) = scored
    return frame


# (gate, setup(spark, sf_dir, fixture) -> a frame, {node name: how many
# times its executed plan names it})
PLAN_GATES = [
    # seeds are a local relation, capped and deduped on the driver, and
    # the anti-join against the absent store (an empty local relation) is
    # pruned, where a row_number window, the join and RDD scans of the
    # seeds and of the empty store were planned
    ("run_once_cold_crawl", _cold_crawl, {"Window": 0, "Join": 0, "ExistingRDD": 0}),
    # a vector's parent comes from its chunk id: no join, one store scan
    # (re-joining the chunks scanned the store twice)
    ("build_index_vectors", _index_vectors, {"Join": 0, "FileScan": 1}),
    # the probed cells' codes through the Arrow kernel: the probe, the
    # candidate cut and the re-rank's ranking run on the driver.  The
    # distributed probe (assign_to_centroids rows carrying q_vec,
    # broadcast-semi-joined and joined to the index), its rank window and
    # the re-rank's joins planned BroadcastHashJoin 4 and Window 5
    ("search_ivf_pq", _ivf_pq_adc, {"Join": 0, "Window": 0}),
]


@pytest.mark.parametrize(
    "setup,counts", [g[1:] for g in PLAN_GATES], ids=[g[0] for g in PLAN_GATES]
)
def test_plan_gates(spark, sf_dir, request, setup, counts):
    plan = executed_plan(setup(spark, sf_dir, request.getfixturevalue))
    assert {node: plan.count(node) for node in counts} == counts, plan


def _file_scans(node):
    """FileSourceScanExec nodes of an executed physical plan, descending
    through AQE wrappers and query stages."""
    name = node.getClass().getSimpleName()
    if name == "FileSourceScanExec":
        return [node]
    if name == "AdaptiveSparkPlanExec":
        return _file_scans(node.executedPlan())
    if name.endswith("QueryStageExec"):
        return _file_scans(node.plan())
    kids = node.children()
    return [s for i in range(kids.size()) for s in _file_scans(kids.apply(i))]


def test_ivf_pq_adc_scan_reads_codes_not_vectors(spark, sf_dir, request):
    """Column pruning is build_ivf_pq's reason for PQ: search_ivf_pq's
    ADC scan reads ``pq_codes`` and never the ``embedding`` column."""
    frame = _ivf_pq_adc(spark, sf_dir, request.getfixturevalue)
    (scan,) = _file_scans(frame._jdf.queryExecution().executedPlan())
    read_schema = scan.toString().split("ReadSchema: ")[1]
    assert "pq_codes" in read_schema, read_schema
    assert "embedding" not in read_schema, read_schema


def test_partition_pruning_on_ivf_index(spark, sf_dir, tmp_path):
    """search_ivf must prune the index scan to the probed cells: a static
    centroid_id IN (...) partition filter, and fewer partitions read than
    the index has cells."""
    from coldata_spark.operators import ivf
    from tests.test_ivf_index import committed

    nlist = 8
    emb = load(spark, sf_dir, "embeddings")
    assigned, centroids = ivf.build_ivf(emb, nlist=nlist)
    idx = committed(str(tmp_path / "prune_index"), assigned, centroids)
    qs = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = ivf.search_ivf(idx, qs, k=4, nprobe=2)
    assert out.collect()  # the metrics below are this execution's
    (scan,) = [
        s
        for s in _file_scans(out._jdf.queryExecution().executedPlan())
        if "centroid_id" in s.toString()
    ]
    filters = scan.toString().split("PartitionFilters: [")[1].split("]")[0]
    assert "centroid_id" in filters and " IN (" in filters, filters
    read = scan.metrics().apply("numPartitions").value()
    assert 0 < read < nlist, f"read {read} of {nlist} cells"


SEARCH_NLIST = 8


@pytest.fixture(scope="module")
def search_index(spark, sf_dir, tmp_path_factory):
    from coldata_spark import search as S

    docs = load(spark, sf_dir, "documents")
    path = str(tmp_path_factory.mktemp("search_plan") / "index")
    idx = S.build_index(docs, path, nlist=SEARCH_NLIST)
    assert idx.nlist == SEARCH_NLIST
    return docs, idx


def test_search_prunes_index_scan_without_python_rdd_stages(
    spark, search_index, monkeypatch
):
    """search() embeds its queries on the driver and scores only the
    probed cells: the scoring execution's index scan carries a static
    centroid_id IN (...) partition filter and reads fewer cells than the
    index has.  Its plan has no pandas UDF, no row-at-a-time Python UDF
    and no RDD scan, the call leaves no RDD persisted, and the returned
    rows are already computed: collecting them runs no Spark job."""
    from coldata_spark import search as S
    from coldata_spark.operators import ivf

    docs, idx = search_index
    texts = [r.text for r in docs.orderBy("doc_id").limit(4).collect()]
    scored = []
    real_score_cells = ivf._score_cells

    def spy(*a, **kw):
        scored.append(real_score_cells(*a, **kw))
        return scored[-1]

    monkeypatch.setattr(ivf, "_score_cells", spy)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    out = S.search(spark, idx, docs, texts, k=3, nprobe=2)
    assert jobs_run(spark, out.collect) == 0
    assert out.collect()
    assert persistent().size() == before
    # the scoring frame's own execution ran inside search()
    (frame,) = scored
    plan = executed_plan(frame)
    for node in ("MapInPandas", "BatchEvalPython", "ExistingRDD"):
        assert node not in plan, node
    (scan,) = [
        s
        for s in _file_scans(frame._jdf.queryExecution().executedPlan())
        if "centroid_id" in s.toString()
    ]
    filters = scan.toString().split("PartitionFilters: [")[1].split("]")[0]
    assert "centroid_id" in filters and " IN (" in filters, filters
    read = scan.metrics().apply("numPartitions").value()
    assert 0 < read < SEARCH_NLIST, f"read {read} of {SEARCH_NLIST} cells"


def test_search_empty_query_batch(spark, search_index):
    """No queries -> an empty frame with the result schema."""
    from coldata_spark import search as S

    docs, idx = search_index
    empty = S.search(spark, idx, docs, [], k=3, nprobe=2)
    assert empty.collect() == []
    assert empty.schema == S.search(spark, idx, docs, ["x"], k=3, nprobe=2).schema


def test_no_cartesian_in_oracle_queries(spark, sf_dir):
    """No registered query may compile to an unbounded CartesianProduct —
    the one pattern guaranteed to die at scale.  (Broadcast nested-loop
    against a bounded side is acceptable; a shuffled cartesian is not.)"""
    for name, spec in registry.specs().items():
        if spec.sql is None:
            continue
        plan = plan_of(spec.fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, name


def test_scalar_subquery_broadcasts_not_recomputes(spark, sf_dir):
    """q69/q71: the 1-row threshold aggregate must reach the filter as a
    broadcast nested-loop join — never a per-row recompute or a shuffled
    join."""
    for name in ("q69_sales_opportunity", "q71_top_supplier"):
        plan = plan_of(registry.specs()[name].fn(spark, sf_dir))
        # Catalyst may even turn crossJoin+equality-filter into an
        # equi-broadcast join (q71) — any broadcast form is acceptable
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name


def test_not_exists_is_anti_join_q69(spark, sf_dir):
    plan = plan_of(registry.specs()["q69_sales_opportunity"].fn(spark, sf_dir))
    assert "LeftAnti" in plan


def test_disjunctive_part_filter_pushed_below_join(spark, sf_dir):
    """q70: the brand disjunction must shrink the part build side BEFORE the
    join (In(p_brand, ...) pushed to the part scan), and the join must
    broadcast."""
    plan = plan_of(registry.specs()["q70_disjunctive_revenue"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    scan_sections = plan.split("PushedFilters")
    assert any("p_brand" in s.splitlines()[0] for s in scan_sections[1:])


def test_merge_upsert_single_shuffle_join(spark, sf_dir):
    """q73: MERGE compiles to ONE full-outer join on the pk — no per-row
    lookups, no extra exchanges beyond the join's own."""
    plan = plan_of(registry.specs()["q73_merge_upsert"].fn(spark, sf_dir))
    assert "FullOuter" in plan


def test_window_analytics_single_window_exchange(spark, sf_dir):
    """q72: all five window functions share one partitioning — the plan
    must contain exactly one hashpartitioning exchange on o_custkey."""
    plan = plan_of(registry.specs()["q72_order_timeline_analytics"].fn(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    n_exchanges = tree.count("Exchange")
    assert n_exchanges == 1, f"expected 1 exchange, plan tree has {n_exchanges}"


def test_date_partitioned_events_prunes(spark, sf_dir, tmp_path):
    """The canonical 100 TB fact layout: events written partitioned by event
    date; a single-day predicate must prune partitions at the source (read
    one directory, not 30)."""
    from coldata_spark.tables import load as _load

    p = str(tmp_path / "events_by_day")
    ev = _load(spark, sf_dir, "events")
    ev.withColumn("event_date", F.to_date("ts")).write.partitionBy(
        "event_date"
    ).parquet(p)

    one_day = (
        spark.read.parquet(p)
        .filter(F.col("event_date") == "2024-01-03")
    )
    plan = plan_of(one_day)
    assert "PartitionFilters" in plan
    assert "event_date" in plan.split("PartitionFilters")[1].splitlines()[0]
    # and correctness: matches a ts-range filter on the unpartitioned table
    want = ev.filter(F.to_date("ts") == "2024-01-03").count()
    assert one_day.count() == want and want > 0


def test_q02_joins_before_aggregating(spark, sf_dir):
    """q02 must aggregate only join survivors: the plan's aggregate sits
    ABOVE the lineitem-orders join (pre-aggregating every filtered line
    item wastes 90% of the agg work on groups the join discards), and at
    fixture scale the pruned order side is broadcast so the lineitem side
    never shuffles before the aggregate's own exchange."""
    q = registry.specs()["q02_top_orders_by_revenue"]
    plan = plan_of(q.fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # the formatted tree prints parents above children, so an aggregate
    # that consumes the join output appears on an EARLIER line than the
    # orderkey join (the old pre-aggregate shape printed the join first)
    tree = plan.split("\n\n")[0].splitlines()
    agg_idx = next(i for i, l in enumerate(tree) if "HashAggregate" in l)
    join_idx = max(i for i, l in enumerate(tree) if "BroadcastHashJoin" in l)
    assert agg_idx < join_idx, "q02 aggregate must sit above the orderkey join"


def test_q83_aggregates_hourly_before_rollup(spark, sf_dir):
    """q83's Expand (ROLLUP) must sit above the hour-grain aggregate, so
    only ~10^4 hourly rows are tripled — never the raw event stream."""
    q = registry.specs()["q83_hypertable_rollup"]
    plan = plan_of(q.fn(spark, sf_dir))
    assert "Expand" in plan
    # formatted explain lists operators leaves-last in the numbered tree;
    # walk the indented tree text instead: the Expand node's subtree must
    # contain a HashAggregate (hourly) below it
    tree = plan.split("\n\n")[0]
    lines = tree.splitlines()
    expand_idx = next(i for i, l in enumerate(lines) if "Expand" in l)
    below = "\n".join(lines[expand_idx:])
    assert "HashAggregate" in below, "hourly aggregate missing below Expand"


def _node_depth(line: str) -> int:
    """Depth of a formatted-explain tree line = offset of the node label
    (first char that is not tree-drawing punctuation or the codegen *)."""
    import re

    m = re.search(r"[A-Za-z]", line.replace("* ", "  "))
    return m.start() if m else -1


def test_incremental_neardup_corpus_never_shuffles(spark, sf_dir, tmp_path):
    """The incremental near-dup contract (dedup.py minhash_signatures_wide
    docstring): matching a new batch against the persisted corpus signature
    table must not exchange the corpus — band keys derive map-side and
    every corpus-touching join broadcasts the batch/candidate side.  This
    walks each corpus scan's ancestors in the formatted plan tree and
    asserts NO Exchange (hash, range, OR broadcast — the corpus must not be
    broadcast either) appears before the first consuming join.  Gated for
    both the default path and the max_bucket_size cap path (which once
    windowed over every corpus band row)."""
    from coldata_spark.operators import dedup as DD

    docs = load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < 450)
    new = docs.filter(F.col("doc_id") >= 450).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    cpath = str(tmp_path / "corpus_wide")
    DD.minhash_signatures_wide(corpus, "text", "doc_id").write.parquet(cpath)
    corpus_wide = spark.read.parquet(cpath)

    for cap in (None, 256):
        pairs, _ = DD.minhash_neardup_incremental(
            new, corpus_wide, "text", "doc_id", max_bucket_size=cap
        )
        plan = plan_of(pairs)
        assert "SortMergeJoin" not in plan, f"cap={cap}"
        tree = plan.split("\n\n")[0].splitlines()
        # map scan node ids -> location, keep the corpus ones
        import re

        # detail blocks are blank-line separated; match Location within the
        # SAME scan's block (a multiline regex would leak into the next one)
        corpus_ids = {
            m.group(1)
            for block in plan.split("\n\n")
            for m in [re.match(r"\((\d+)\) Scan parquet", block)]
            if m and "corpus_wide" in block.split("Location:")[-1].splitlines()[0]
        }
        assert corpus_ids, "corpus scan not found in plan"
        for sid in corpus_ids:
            idx = next(
                i for i, l in enumerate(tree) if f"Scan parquet  ({sid})" in l
                or (f"({sid})" in l and "Scan parquet" in l)
            )
            depth = _node_depth(tree[idx])
            # walk ancestors upward until the first join
            for i in range(idx - 1, -1, -1):
                d = _node_depth(tree[i])
                if d < depth:
                    depth = d
                    node = tree[i]
                    if "Join" in node:
                        break
                    assert "Exchange" not in node, (
                        f"cap={cap}: corpus scan ({sid}) is exchanged "
                        f"before its join: {node.strip()}"
                    )


def test_semantic_dedup_assignment_shuffle_free(spark, sf_dir):
    """semantic_dedup_exact's centroid assignment must stay a map-side
    literal-array projection: no Window (the old n x k explode + per-vector
    row_number), no nested-loop join against a centroid table.  The only
    exchanges allowed are the algorithmic ones — the within-cell pair join
    and the losers dedup/join-back."""
    from coldata_spark.operators import dedup as DD
    from coldata_spark.queries.vector_queries import _planted_base

    plan = plan_of(
        DD.semantic_dedup_exact(_planted_base(spark, sf_dir), vec_col="e")
    )
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3


def test_dsir_weight_table_broadcasts(spark, sf_dir):
    """q162's 4096-bucket weight table must come back as a broadcast: the
    corpus-side bigram stream is never shuffled on bucket."""
    plan = plan_of(
        registry.specs()["q162_dsir_importance"].fn(spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan


def test_bloom_probe_is_literal_bitmap(spark, sf_dir):
    """q163's Bloom probe must be the literal long[] bitmap filter (bit
    arithmetic in a codegen'd Filter — no position explode, no probe
    join); the exact-gram classification set still broadcasts.  The
    candidate gram stream must never exchange on pos."""
    plan = plan_of(
        registry.specs()["q163_bloom_decontaminate"].fn(spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan  # exact-gram classification join
    assert "shiftright" in plan  # the bitmap bit-test filter
    assert "hashpartitioning(pos" not in plan


def test_semdedup_incremental_corpus_never_shuffles(spark, sf_dir, tmp_path):
    """semantic_dedup_incremental's contract: the persisted census is
    scanned once and never exchanged — the batch side assigns cells
    map-side and broadcasts into the corpus's cells.  Same ancestor-walk
    gate as the minhash incremental one."""
    import re

    from coldata_spark.functions import vector as V
    from coldata_spark.operators import dedup as DD

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", V.as_double(F.col("embedding")).alias("e")
    )
    cpath = str(tmp_path / "semdedup_census")
    DD.semdedup_census(emb, vec_col="e").write.partitionBy("cell").parquet(
        cpath
    )
    census = spark.read.parquet(cpath)
    batch = emb.filter("vec_id % 50 = 0").select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "e"
    )
    out = DD.semantic_dedup_incremental(census, batch, vec_col="e")
    plan = plan_of(out)
    assert "SortMergeJoin" not in plan
    tree = plan.split("\n\n")[0].splitlines()
    corpus_ids = {
        m.group(1)
        for block in plan.split("\n\n")
        for m in [re.match(r"\((\d+)\) Scan parquet", block)]
        if m and "semdedup_census" in block.split("Location:")[-1].splitlines()[0]
    }
    assert corpus_ids, "census scan not found in plan"
    for sid in corpus_ids:
        idx = next(
            i for i, l in enumerate(tree)
            if (f"({sid})" in l and "Scan parquet" in l)
        )
        depth = _node_depth(tree[idx])
        for i in range(idx - 1, -1, -1):
            d = _node_depth(tree[i])
            if d < depth:
                depth = d
                node = tree[i]
                # boundaries past which rows are no longer CENSUS rows:
                # a join (the batch broadcast-joins in), or the
                # vectorized loser engine's Arrow projection (round 13 —
                # mapInPandas folds census x batch pairs to loser ids
                # in-task; the ids may legitimately exchange for their
                # distinct, the census rows still never do)
                if "Join" in node or "InPandas" in node:
                    break
                assert "Exchange" not in node, (
                    f"census scan ({sid}) is exchanged before its "
                    f"join/fold boundary: {node.strip()}"
                )


def test_curation_pipeline_materializes_once(spark, sf_dir):
    """q169: the output plan must read the persisted manifest (one ladder
    evaluation end-to-end, not a re-derivation per self-reference), stay
    entirely JVM-side, and use only partitioned windows (the
    deterministic-shuffle bucket form, never a global funnel).
    Measured: the barriers cut the sf0.01 run ~10x (20.5 s -> 2 s)."""
    df = registry.specs()["q169_curation_pipeline"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan
    for marker in ("MapInArrow", "MapInPandas", "ArrowEval", "BatchEval"):
        assert marker not in plan
    # window check needs SIMPLE explain: formatted mode puts the node name
    # and its windowspecdefinition arguments on different lines, which
    # would make a line-wise co-occurrence check vacuously pass
    simple = executed_plan(df)
    saw_window = False
    for line in simple.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            saw_window = True
            assert "_bucket" in line, f"global window in plan: {line}"
    assert saw_window, "expected the deterministic-shuffle window in plan"


def test_drift_plans_stay_bounded(spark, sf_dir):
    """Drift plans (round 11): the numeric path's only wide shuffle is
    the 2 x nbins-group combine agg (stats ride a broadcast), and the
    categorical path's top-k window runs over the already-shrunk
    distinct-value COUNT table, never over data rows — the properties
    that keep snapshot monitoring scan-bound at 100 TB."""
    q177 = registry.specs()["q177_snapshot_drift"]
    plan = plan_of(q177.fn(spark, sf_dir))
    # the 1-row stats aggregate must arrive via broadcast, and no
    # sort-merge join (a SMJ would mean the stats side shuffled data)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    # no Window operator anywhere in the numeric path
    assert "Window" not in plan

    q178 = registry.specs()["q178_categorical_drift"]
    plan178 = plan_of(q178.fn(spark, sf_dir))
    # the top-k Window exists, and its input is the count table: the
    # formatted tree lists children under their parent, so the node
    # DIRECTLY under the Window's Sort must be an Aggregate, not a scan
    assert "Window" in plan178
    tree = plan178.split("\n\n")[0].splitlines()
    w_line = next(i for i, l in enumerate(tree) if "Window" in l)
    below = "\n".join(tree[w_line + 1 : w_line + 4])
    assert "HashAggregate" in below or "Sort" in below, below
    assert "SortMergeJoin" not in plan178


# Gates for the operator rewrites of optimization rounds 14 and 15
# (OPTIMIZATION_r14.md, OPTIMIZATION_r15.md): each pins the structure a
# rewrite bought, so a later refactor can't silently bring back the term
# it removed.  Value parity stays pinned by tests/test_oracle.py.

PY_NODES = ("BatchEvalPython", "ArrowEvalPython", "MapInArrow", "MapInPandas")


def test_cms_build_has_no_python_boundary(spark, sf_dir):
    """cms_build's distinct-first engine is all-JVM, and its digest
    expressions sit ABOVE the per-key aggregate (hash distinct keys, not
    rows)."""
    from coldata_spark.operators.sketches import cms_build

    li = load(spark, sf_dir, "lineitem")
    plan = executed_plan(cms_build(li, "l_partkey"))
    for node in PY_NODES:
        assert node not in plan, f"{node} reappeared in cms_build's plan"
    # distinct-first: md5 runs above an aggregate, so the expression must
    # reference the aggregate's key alias (_k), not the raw fact column
    import re

    assert re.search(r"md5\(cast\(cast\(_k#\d+", plan), (
        "cms digest no longer computed over the distinct-key alias _k — "
        "the per-row hashing term is back"
    )
    assert "md5(cast(cast(l_partkey" not in plan.replace(" ", "")


def test_q143_bands_derive_map_side(spark, sf_dir):
    """q143's band keys derive map-side from the wide signature frame."""
    df = registry.specs()["q143_lsh_bucket_balance"].fn(spark, sf_dir)
    plan = executed_plan(df)
    assert "collect_list" not in plan, (
        "q143's groupBy(doc_id, band) + collect_list re-aggregation is back"
    )


def test_minhash_pairs_reuse_one_signature_pipeline(spark, sf_dir):
    """The q26 engine's band self-join: both sides are one reused
    exchange, not two builds of the signature pipeline."""
    from coldata_spark.operators.dedup import minhash_neardup_pairs

    docs = load(spark, sf_dir, "documents")
    # ReuseExchange is applied by the STATIC planner; with AQE on, the
    # initial plan prints duplicate subtrees that stage-level reuse dedupes
    # only at runtime (the tools/gen_plans.py --out rationale) — so gate
    # with AQE off, like the sub-2GiB bench tiers run anyway
    # (tune_for_input).
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = executed_plan(minhash_neardup_pairs(docs, "text", "doc_id"))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert plan.count("shingle") > 0
    assert "ReusedExchange" in plan, (
        "the band self-join no longer shares one exchange — the signature "
        "pipeline is being built once per side again"
    )


def test_q133_profiles_all_columns_from_one_scan(spark, sf_dir):
    """q133: one fact scan feeds every profiled column's moments."""
    df = registry.specs()["q133_join_key_skew_profile"].fn(spark, sf_dir)
    plan = executed_plan(df)
    # one exploded scan: the lineitem parquet relation appears once
    assert plan.count("Scan parquet") == 1, (
        f"q133 re-grew a per-column scan: {plan.count('Scan parquet')} scans"
    )


def _q141_shingles(spark, sf_dir):
    from coldata_spark.tables import fan_out

    docs = load(spark, sf_dir, "documents")
    return fan_out(docs).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, greatest(1, length(text) - 4)),"
                    " i -> substring(text, i, 5))"
                )
            )
        ).alias("shingle"),
    )


def test_q141_count_prefilter_feeds_collect(spark, sf_dir):
    """q141's bucket build decides the <=64 doc-frequency cap with a
    WINDOW COUNT (disk-spillable per-key state) BEFORE any collect_list —
    collecting every shingle's full doc list first is an unbounded
    in-memory buffer on a hot (boilerplate) shingle at scale."""
    from coldata_spark.queries.text_queries import _q141_capped_buckets

    plan = executed_plan(_q141_capped_buckets(_q141_shingles(spark, sf_dir)))
    # the Window count must appear BELOW the collect_list aggregate: the
    # plan string prints top-down, so the aggregate's collect_list must
    # come before (above) the Window node
    i_collect = plan.find("collect_list")
    i_window = plan.find("Window")
    assert i_collect != -1, "bucket build lost its collect_list aggregate"
    assert i_window != -1, (
        "the window count prefilter is gone — collect_list is buffering "
        "uncapped doc lists again (r14 OOM-risk shape)"
    )
    assert i_collect < i_window, (
        "collect_list no longer sits above the window count prefilter"
    )
    # exactly one row exchange between the explode and the collect: the
    # collect aggregation must REUSE the window's shingle partitioning
    gen = plan.find("Generate explode")
    assert gen != -1
    assert plan[:gen].count("Exchange") <= 1, (
        "the collect aggregation stopped reusing the window's exchange"
    )


def test_q141_capped_buckets_value_identity(spark, sf_dir):
    """The prefilter must compute exactly the r14 collect-then-filter
    buckets (order-insensitively within each doc list)."""
    from coldata_spark.queries.text_queries import _q141_capped_buckets

    sh0 = _q141_shingles(spark, sf_dir)
    new = {
        r["shingle"]: sorted(r["ds"])
        for r in _q141_capped_buckets(sh0).collect()
    }
    old = {
        r["shingle"]: sorted(r["ds"])
        for r in (
            sh0.groupBy("shingle")
            .agg(F.collect_list("doc_id").alias("ds"))
            .filter(F.size("ds") <= 64)
        ).collect()
    }
    assert new == old
