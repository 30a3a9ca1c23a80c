"""Unit tests: embedding, IVF, upsert, crawl framework, metric semantics
(SURVEY §5.2-5.5)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from coldata_spark import embed as E
from coldata_spark.operators import ivf, upsert
from coldata_spark.operators.similarity import knn_join
from coldata_spark.tables import load
from tests.oracle_utils import knn_expr
from tests.test_ivf_index import committed


def test_hash_embed_deterministic_and_normalized():
    a = E.hash_embed_texts(["hello world", "spark engine", ""])
    b = E.hash_embed_texts(["hello world", "spark engine", ""])
    assert np.array_equal(a, b)
    norms = np.linalg.norm(a.astype(np.float64), axis=1)
    assert norms[0] == pytest.approx(1.0, abs=1e-6)
    assert norms[2] == 0.0  # empty text -> zero vector


def test_embed_documents_mapinpandas(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").limit(50)
    emb = E.embed_documents(docs).collect()
    assert len(emb) == 50
    local = E.hash_embed_texts(
        [r.text for r in docs.select("doc_id", "text").collect()]
    )
    by_id = {r.doc_id: r.embedding for r in emb}
    rows = docs.select("doc_id", "text").collect()
    for i, r in enumerate(rows):
        assert np.allclose(by_id[r.doc_id], local[i], atol=1e-6)


def test_metric_ordering_semantics(spark):
    """V5 (vdb.py:155-166): COSINE/IP rank descending, L2 ascending."""
    qs = spark.createDataFrame([(0, [1.0, 0.0])], ["q_id", "q_vec"])
    vs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [-1.0, 0.0])],
        ["vec_id", "embedding"],
    )
    cos = knn_join(qs, vs, k=3, metric="COSINE").orderBy("rank").collect()
    assert [r.vec_id for r in cos] == [1, 2, 3]
    l2 = knn_join(qs, vs, k=3, metric="L2").orderBy("rank").collect()
    assert [r.vec_id for r in l2] == [1, 2, 3]
    assert l2[0].score == 0.0
    ip = knn_join(qs, vs, k=3, metric="IP").orderBy("rank").collect()
    assert ip[0].vec_id == 1


@pytest.mark.parametrize("metric", ["COSINE", "L2", "IP"])
def test_knn_arrow_matches_expr_strategy(spark, sf_dir, metric):
    """knn_join's Arrow-matmul kernel must return the exact rows+rounded
    scores of the Catalyst-expression reference for every metric."""
    emb = load(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    vs = emb.select("vec_id", "embedding")
    kw = dict(k=6, metric=metric, exclude_self=True)
    arrow = knn_join(qs, vs, **kw).collect()
    expr = knn_expr(qs, vs, **kw).collect()
    key = lambda r: (r.q_id, r.rank)
    a = {key(r): (r.vec_id, r.score) for r in arrow}
    e = {key(r): (r.vec_id, r.score) for r in expr}
    assert a == e


def test_knn_join_empty_query_batch(spark):
    """nq = 0 must degrade to an empty result, not a crash: the merge
    width derives from the collected query count (max(1, min(0, par)))
    and the Arrow stage emits no batches."""
    qs = spark.createDataFrame([], "q_id long, q_vec array<double>")
    vs = spark.createDataFrame([(1, [1.0, 0.0])], ["vec_id", "embedding"])
    assert knn_join(qs, vs, k=2).count() == 0


def test_topk_subset_of_full_ranking(spark, sf_dir):
    """Property: top-2 is a prefix of top-4 (SURVEY §5.4)."""
    emb = load(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    k4 = knn_join(qs, emb.select("vec_id", "embedding"), k=4).collect()
    k2 = knn_join(qs, emb.select("vec_id", "embedding"), k=2).collect()
    top4 = {(r.q_id, r.rank): r.vec_id for r in k4}
    for r in k2:
        assert top4[(r.q_id, r.rank)] == r.vec_id


def test_ivf_build_search_recall(spark, sf_dir, tmp_path):
    emb = load(spark, sf_dir, "embeddings")
    assigned, centroids = ivf.build_ivf(emb, nlist=8)
    assert assigned.select("centroid_id").distinct().count() <= 8
    index = committed(str(tmp_path / "ivf_index"), assigned, centroids)

    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = knn_join(qs, emb.select("vec_id", "embedding"), k=4).collect()
    # full probe == exact search (the reference's nprobe == nlist config)
    full = ivf.search_ivf(index, qs, k=4, nprobe=8).collect()
    exact_set = {(r.q_id, r.vec_id) for r in exact}
    full_set = {(r.q_id, r.vec_id) for r in full}
    assert exact_set == full_set
    # pruned probe: recall against exact must be reasonable on clustered data
    pruned = ivf.search_ivf(index, qs, k=4, nprobe=2).collect()
    pruned_set = {(r.q_id, r.vec_id) for r in pruned}
    recall = len(pruned_set & exact_set) / len(exact_set)
    assert recall >= 0.5, f"nprobe=2 recall {recall}"


def test_grouped_map_centering(spark, sf_dir):
    """applyInPandas per-label centering: group means become ~zero."""
    from coldata_spark.functions.vector import center_vectors_per_group

    emb = load(spark, sf_dir, "embeddings").limit(300)
    centered = center_vectors_per_group(emb, "label")
    # per-group mean of centered vectors ~ 0 in every dimension
    agg = (
        centered.select("label", F.posexplode("centered").alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.abs(F.avg("x")).alias("m"))
        .agg(F.max("m").alias("worst"))
        .collect()[0]
    )
    assert agg.worst < 1e-12
    assert centered.count() == 300


def test_stream_source_throttling(spark, sf_dir, tmp_path):
    """R3 as source throttling: maxFilesPerTrigger=4 with 8 files -> at
    least 2 micro-batches in one availableNow run."""
    import shutil

    from coldata_spark.streaming import events as SE

    d = tmp_path / "throttle_in"
    d.mkdir()
    for i in range(8):
        shutil.copy(f"{sf_dir}/events.parquet", d / f"f{i}.parquet")
    batches = []

    def sink(batch_df, batch_id):
        batches.append(batch_df.count())

    q = (
        SE.read_events_stream(spark, str(d))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_throttle"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(batches) >= 2
    assert sum(batches) == spark.read.parquet(str(d)).count()


def _half_appended_ivf(spark, sf_dir, tmp_path):
    """Index built on the even vec_ids, grown by appending the odd ones:
    (the grown index, first half's row count, second half)."""
    emb = load(spark, sf_dir, "embeddings")
    first = emb.filter(F.col("vec_id") % 2 == 0)
    second = emb.filter(F.col("vec_id") % 2 == 1)
    assigned, centroids = ivf.build_ivf(first, nlist=4)
    half = committed(str(tmp_path / "inc_index"), assigned, centroids)
    return ivf.append_to_index(half, second), half.vectors.count(), second


def test_ivf_incremental_append(spark, sf_dir, tmp_path):
    """Index built on half the corpus, grown by append: searches must find
    appended vectors.  (That appended rows sit in the cells the build's
    rule picks is test_ivf_rows_sit_in_their_nearest_cell's "append".)"""
    total, n1, second = _half_appended_ivf(spark, sf_dir, tmp_path)
    assert total.vectors.count() == n1 + second.count()

    # a query equal to an APPENDED vector must surface it at rank 1
    target = second.orderBy("vec_id").first()
    qs = spark.createDataFrame(
        [(0, target.embedding)], ["q_id", "q_vec"]
    )
    hits = ivf.search_ivf(total, qs, k=1, nprobe=4).collect()
    assert hits and hits[0].vec_id == target.vec_id
    assert hits[0].score == 1.0


def test_upsert_merge_idempotent(spark, sf_dir):
    """R2 (crawler.py:40-50): re-running the same batch inserts 0."""
    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("index"), "text"
    )
    existing = docs.filter(F.col("index").cast("long") % 3 == 0)
    merged = upsert.merge_append(docs, existing, pk="index")
    assert merged.count() == docs.count()
    again = upsert.new_rows(docs, merged, pk="index")
    assert again.count() == 0
    stats = upsert.upsert_stats(docs, existing, pk="index").collect()[0]
    assert stats.inserted + stats.skipped == stats.batch_size


def test_crawl_framework_no_network(spark):
    from coldata_spark.ingest import crawl as C

    pages = {
        f"https://site{s}.example/ds/{i}": f"dataset {s}-{i} description text"
        for s in range(2)
        for i in range(20)
    }
    flaky: dict[str, int] = {}

    def fetcher_factory():
        def fetch(url: str) -> str:
            # every 7th url fails twice before succeeding (R4 backoff path)
            n = flaky.get(url, 0)
            flaky[url] = n + 1
            if hash(url) % 7 == 0 and n < 2:
                raise OSError("transient")
            return pages[url]

        return fetch

    urls = {
        "site0": [u for u in pages if "site0" in u],
        "site1": [u for u in pages if "site1" in u],
    }
    existing = spark.createDataFrame([], "index string, website string")
    cfg = C.CrawlConfig(num_attempts=15, fetch_parallelism=2, max_retries=3)
    docs = C.crawl(spark, urls, existing, fetcher_factory, cfg).cache()
    n = docs.count()
    assert n == 30  # 15 per source cap (P6)
    assert docs.select("index").distinct().count() == n
    row = docs.filter(F.col("url").endswith("/ds/3")).first()
    assert "description" in row.info
    # idempotence: second crawl against the now-populated store fetches 0
    again = C.crawl(spark, urls, docs.select("index", "website"), fetcher_factory, cfg)
    # capped seeds minus already-crawled = 0 (the same first-15 are chosen)
    assert again.count() == 0
    docs.unpersist()


def test_crawl_all_sources_dedups_across_sources(spark):
    """Multi-source crawl: per-source configs apply, and a url listed by TWO
    sources is fetched once and lands once, under the first source listed
    (cross-source pk dedup, crawler.py:40-44 semantics).  Each source's
    cap applies before the dedup."""
    from coldata_spark.ingest.crawl import CrawlConfig, crawl_all_sources

    urls = {
        "UCI": ["http://x/a", "http://x/b", "http://x/shared"],
        "AWS": ["http://x/c", "http://x/shared"],
    }
    existing = spark.createDataFrame([("seen", )], ["index"])

    def run(order, caps=None):
        fetches = spark.sparkContext.accumulator(0)

        def fetcher_factory():
            def fetch(url):
                fetches.add(1)
                return f"content of {url}"

            return fetch

        cfgs = {
            s: CrawlConfig(num_attempts=(caps or {}).get(s, 1000), fetch_parallelism=2)
            for s in urls
        }
        rows = crawl_all_sources(
            spark, {s: urls[s] for s in order}, existing, fetcher_factory, cfgs
        ).collect()
        assert sorted(r["url"] for r in rows) == sorted(
            ["http://x/a", "http://x/b", "http://x/c", "http://x/shared"]
        )
        assert all(r["info"] == f"content of {r['url']}" for r in rows)
        assert fetches.value == len(rows)  # the shared url is fetched once
        return {r["url"]: r["website"] for r in rows}["http://x/shared"]

    assert run(["UCI", "AWS"]) == "UCI"
    assert run(["AWS", "UCI"]) == "AWS"
    # UCI's first 2 urls in url order leave "shared" out: AWS takes it
    assert run(["UCI", "AWS"], caps={"UCI": 2}) == "AWS"


def test_knn_zero_vector_scores_zero_not_nan(spark, tmp_path):
    """Round-4 review fix: an all-zero embedding under COSINE must score
    ~0 in knn_join's Arrow kernel and in the expression reference —
    previously NaN silently dropped the query's candidates in the kernel
    and ranked zero vectors FIRST in expressions.  search_ivf over a
    2-cell index of the same vectors must agree (its Arrow side once
    scored these NaN)."""
    import math

    from coldata_spark.operators import ivf

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    qs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (9, [0.0, 0.0])],
        "q_id long, q_vec array<double>",
    )
    centroids = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "centroid_id int, cvec array<double>"
    )
    index = committed(
        str(tmp_path / "zero_ivf"), ivf.assign_to_centroids(vecs, centroids), centroids
    )
    runs = {
        "arrow": knn_join(qs, vecs, k=3, metric="COSINE").collect(),
        "expr": knn_expr(qs, vecs, k=3, metric="COSINE").collect(),
    }
    runs["ivf"] = ivf.search_ivf(index, qs, k=3, nprobe=2).collect()
    for strategy, rows in runs.items():
        assert all(math.isfinite(r.score) for r in rows), f"{strategy}: {rows}"
        by_q = {}
        for r in rows:
            by_q.setdefault(r.q_id, []).append(r)
        # the zero QUERY still gets its k candidates, all finite ~0 scores
        assert len(by_q[9]) == 3, f"{strategy}: zero query lost candidates"
        assert all(abs(r.score) < 1e-6 for r in by_q[9])
        # the zero VECTOR never outranks real matches for a real query
        best = sorted(by_q[0], key=lambda r: r.rank)[0]
        assert best.vec_id == 1, f"{strategy}: zero vector outranked match"


def _probed_cell(rows, centroids, metric="COSINE"):
    """{vec_id: the cell _probe_cells(..., nprobe=1) picks for its vector}."""
    ids = [r.vec_id for r in rows]
    Q = np.asarray([r.embedding for r in rows], dtype=np.float64)
    return {q: c[0] for q, c in ivf._probe_cells(ids, Q, centroids, 1, metric).items()}


def test_assign_to_centroids_shuffle_free_and_deterministic(spark, sf_dir):
    """The assignment is one map: NO exchange and NO window in its plan
    (the input is a filter, not a limit, whose global limit would bring
    its own exchange).  Every row lands in the cell the probe ranks first
    for its vector, and placing the placed rows again changes nothing."""
    from tests.test_plans import executed_plan

    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    _assigned, centroids = ivf.build_ivf(emb, nlist=4)

    assigned = ivf.assign_to_centroids(emb, centroids)
    plan = executed_plan(assigned)
    assert "Exchange" not in plan and "Window" not in plan
    rows = assigned.collect()
    assert {r.vec_id: r.centroid_id for r in rows} == _probed_cell(rows, centroids)
    # an existing centroid_id column is replaced in place, as withColumn did
    stale = assigned.withColumn("centroid_id", F.lit(-1))
    again = ivf.assign_to_centroids(stale, centroids)
    assert again.columns == assigned.columns
    assert sorted(again.collect()) == sorted(rows)


@pytest.mark.parametrize("metric", ["COSINE", "IP", "L2"])
def test_assign_to_centroids_places_null_and_zero_vectors(spark, metric):
    """A null vector and a vector with a null element have no score and
    go to the lowest centroid_id under every metric (ignoring the null
    element would pick cell 2).  An all-zero vector ties every cell under
    COSINE (it scores 0, not NaN) and IP, so it goes to the lowest id
    too; under L2 it goes to the centroid nearest the origin."""
    centroids = spark.createDataFrame(
        [(0, [3.0, 4.0]), (1, [-1.0, 0.5]), (2, [0.5, -2.0])],
        "centroid_id bigint, cvec array<double>",
    )
    vecs = spark.createDataFrame(
        [(1, None), (2, [None, -1.0]), (3, [0.0, 0.0]), (4, [-2.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    got = ivf.assign_to_centroids(vecs, centroids, metric=metric).collect()
    zero = 1 if metric == "L2" else 0
    assert {r.vec_id: r.centroid_id for r in got} == {1: 0, 2: 0, 3: zero, 4: 1}


def test_assign_to_centroids_rejects_a_vector_of_another_length(spark):
    """A vector whose length differs from the centroids' has no cell: the
    assignment fails naming the column and both lengths."""
    from pyspark.errors import PythonException

    centroids = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "centroid_id bigint, cvec array<double>"
    )
    vecs = spark.createDataFrame(
        [(1, [0.0, 1.0]), (2, [1.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(PythonException, match="ValueError") as err:
        ivf.assign_to_centroids(vecs, centroids).collect()
    assert "'embedding' holds a vector of length 3, the centroids 2" in str(err.value)


def _built_ivf(spark, sf_dir, tmp_path):
    emb = load(spark, sf_dir, "embeddings")
    assigned, centroids = ivf.build_ivf(emb, nlist=8)
    return (committed(str(tmp_path / "built_index"), assigned, centroids),)


def _split_ivf(spark, sf_dir, tmp_path):
    index, _live = _skewed_ivf(spark, sf_dir, tmp_path)
    maintained, report = ivf.maintain_ivf(index, max_cell_ratio=3.0)
    assert report["splits"]
    return (maintained,)


@pytest.mark.parametrize(
    "make",
    [_built_ivf, _half_appended_ivf, _split_ivf],
    ids=["build", "append", "maintain_split"],
)
def test_ivf_rows_sit_in_their_nearest_cell(spark, sf_dir, tmp_path, make):
    """Build, append and a maintenance split all place every stored row in
    the cell assign_to_centroids picks against the published centroids,
    which is the cell the probe ranks first for that vector.  (MLlib's
    Euclidean fit left 64 of 500 sf0.001 vectors outside their
    cosine-nearest of 8 cells.)"""
    index = make(spark, sf_dir, tmp_path)[0]
    centroids = index.centroids
    stored = (
        index.vectors
        .join(F.broadcast(centroids.select("centroid_id")), "centroid_id", "left_semi")
        .withColumnRenamed("centroid_id", "stored")
    )
    again = ivf.assign_to_centroids(stored, centroids)
    off = again.filter(F.col("stored") != F.col("centroid_id"))
    assert stored.count() > 0
    assert off.count() == 0, off.select("vec_id", "stored", "centroid_id").collect()[:5]
    rows = stored.collect()
    assert {r.vec_id: r.stored for r in rows} == _probed_cell(rows, centroids)


# ---------------------------------------------------------------------------
# Round-10: IVF maintenance under sustained skewed ingest (verdict ask #2).
# ---------------------------------------------------------------------------


def _skewed_ivf(spark, sf_dir, tmp_path, appends=10):
    """Index on the fixture + ``appends`` batches of copies of one cell's
    vectors (fresh vec_ids): the realistic drift where new data keeps
    landing in one region of embedding space."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assigned, centroids = ivf.build_ivf(emb, nlist=4)
    index = committed(str(tmp_path / "maint_index"), assigned, centroids)
    hot_cid = (
        assigned.groupBy("centroid_id").count().orderBy(F.desc("count")).first()
    ).centroid_id
    hot_vecs = assigned.filter(F.col("centroid_id") == hot_cid).select(
        "vec_id", "embedding"
    )
    live = emb
    for i in range(1, appends + 1):
        batch = hot_vecs.select(
            (F.col("vec_id") + 100_000 * i).alias("vec_id"), "embedding"
        )
        index = ivf.append_to_index(index, batch)
        live = live.unionByName(batch)
    return index, live


def test_maintain_ivf_splits_hot_cell_and_keeps_search_exact(
    spark, sf_dir, tmp_path
):
    """The full maintenance lifecycle: audit flags the hot cell, the pass
    splits it copy-on-write, full-probe search over the maintained index
    equals exact search (q35's operating point), and vacuum reclaims the
    superseded partitions without changing results."""
    index, live = _skewed_ivf(spark, sf_dir, tmp_path)
    before = {r.centroid_id: r.ratio for r in ivf.audit_ivf_cells(index).collect()}
    assert max(before.values()) > 3.0  # the audit sees the skew

    maintained, report = ivf.maintain_ivf(index, max_cell_ratio=3.0)
    assert report["splits"], f"no split despite ratio {max(before.values())}"
    assert report["max_ratio_after"] < report["max_ratio_before"]

    # invariant: every vector exactly once across LIVE cells (the old hot
    # partition still exists on disk but is unreferenced)
    live_rows = maintained.vectors.join(
        F.broadcast(maintained.centroids.select("centroid_id")), "centroid_id", "left_semi"
    )
    assert live_rows.count() == live.count()
    assert live_rows.select("vec_id").distinct().count() == live.count()

    # parity at the q35 operating point: full probe == exact search
    qs = live.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {
        (r.q_id, r.vec_id)
        for r in knn_join(qs, live.select("vec_id", "embedding"), k=4).collect()
    }

    def full_probe(idx):
        return {
            (r.q_id, r.vec_id)
            for r in ivf.search_ivf(idx, qs, k=4, nprobe=idx.nlist).collect()
        }

    assert full_probe(maintained) == exact

    # vacuum reclaims the superseded hot cell; results unchanged
    removed = ivf.vacuum_ivf(maintained)
    assert set(report["splits"]) <= set(removed)
    vacuumed = ivf.open_index(spark, maintained.path)
    assert full_probe(vacuumed) == exact
    # disk now holds exactly the live cells
    assert vacuumed.vectors.count() == live.count()


def test_maintain_ivf_noop_on_balanced_index(spark, sf_dir, tmp_path):
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assigned, centroids = ivf.build_ivf(emb, nlist=4)
    index = committed(str(tmp_path / "balanced_index"), assigned, centroids)
    same, report = ivf.maintain_ivf(index)
    assert report["splits"] == {} and same is index


def test_vacuum_ivf_heals_crash_residue(spark, sf_dir, tmp_path):
    """A pass that crashed after appending sub-cells but before the
    centroid publish leaves unreferenced partition dirs — vacuum against
    the OLD (still-committed) centroids removes exactly those, and the
    index answers as if the crash never happened."""
    import os

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assigned, centroids = ivf.build_ivf(emb, nlist=4)
    path = str(tmp_path / "crash_index")
    index = committed(path, assigned, centroids)
    n = index.vectors.count()
    # simulate the crash residue: a part-built sub-cell under a fresh id
    orphan = assigned.filter(F.col("centroid_id") == 0).withColumn(
        "centroid_id", F.lit(99)
    )
    orphan.write.mode("append").partitionBy("centroid_id").parquet(path)
    assert ivf.open_index(spark, path).vectors.count() > n

    removed = ivf.vacuum_ivf(index)
    assert removed == [99]
    assert not os.path.exists(os.path.join(path, "centroid_id=99"))
    assert ivf.open_index(spark, path).vectors.count() == n


def test_maintain_ivf_drives_from_scheduler_cadence(spark, sf_dir, tmp_path):
    """The maintain_layout scheduling pattern applied to the index: a
    scheduler cadence interleaves skewed ingest passes with maintenance
    passes (each pass: maintain_ivf, which commits its cells, -> vacuum), and
    the max cell-size ratio stays bounded across the whole run while the
    unreferenced-partition count returns to zero after every pass."""
    from datetime import datetime, timedelta

    from coldata_spark import scheduler as S

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assigned, centroids = ivf.build_ivf(emb, nlist=4)
    path = str(tmp_path / "sched_index")
    index = committed(path, assigned, centroids)
    hot_cid = (
        assigned.groupBy("centroid_id").count().orderBy(F.desc("count")).first()
    ).centroid_id
    seed = assigned.filter(F.col("centroid_id") == hot_cid).select(
        "vec_id", "embedding"
    )
    state = {"index": index, "i": 0, "ratios": []}

    def refresh_pass():
        # one cadence tick = ingest a skewed batch, then maintain
        state["i"] += 1
        batch = seed.select(
            (F.col("vec_id") + 1_000_000 * state["i"]).alias("vec_id"),
            "embedding",
        )
        grown = ivf.append_to_index(state["index"], batch)
        state["index"], _ = ivf.maintain_ivf(grown, max_cell_ratio=2.0, min_cell_rows=8)
        ivf.vacuum_ivf(state["index"])
        audit = ivf.audit_ivf_cells(state["index"]).collect()
        state["ratios"].append(max(r.ratio for r in audit))

    t = {"now": datetime(2026, 1, 1, 12, 0)}
    S.run_scheduled(
        refresh_pass,
        "day",
        max_runs=4,
        now=lambda: t["now"],
        sleep=lambda s: t.__setitem__("now", t["now"] + timedelta(seconds=s)),
    )
    assert len(state["ratios"]) == 4
    # bounded under continuous skewed ingest (vs ~4-5x unmaintained by
    # the 4th batch — STRESS.md curve)
    assert max(state["ratios"]) < 3.5
    # vacuum after every pass: disk partitions == live cells exactly
    import glob as g

    live = {r.centroid_id for r in state["index"].centroids.collect()}
    on_disk = {
        int(d.split("=")[1]) for d in map(
            lambda p: p.rsplit("/", 1)[1], g.glob(f"{path}/centroid_id=*")
        )
    }
    assert on_disk == live
