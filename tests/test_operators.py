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
    """The Arrow-matmul scoring path must return the exact rows+rounded
    scores of the expression-scored baseline for every metric."""
    emb = load(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    vs = emb.select("vec_id", "embedding")
    kw = dict(k=6, metric=metric, exclude_self=True)
    arrow = knn_join(qs, vs, strategy="arrow", **kw).collect()
    expr = knn_join(qs, vs, strategy="expr", **kw).collect()
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
    path = str(tmp_path / "ivf_index")
    ivf.write_ivf(assigned, path)

    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = ivf.search_exact(qs, emb, k=4).collect()
    # full probe == exact search (the reference's nprobe == nlist config)
    full = ivf.search_ivf(spark, path, qs, centroids, k=4, nprobe=8).collect()
    exact_set = {(r.q_id, r.vec_id) for r in exact}
    full_set = {(r.q_id, r.vec_id) for r in full}
    assert exact_set == full_set
    # pruned probe: recall against exact must be reasonable on clustered data
    pruned = ivf.search_ivf(spark, path, qs, centroids, k=4, nprobe=2).collect()
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


def test_ivf_incremental_append(spark, sf_dir, tmp_path):
    """Index built on half the corpus, grown by append: searches must find
    appended vectors, and assignments must agree with the KMeans model's."""
    emb = load(spark, sf_dir, "embeddings")
    first = emb.filter(F.col("vec_id") % 2 == 0)
    second = emb.filter(F.col("vec_id") % 2 == 1)
    assigned, centroids = ivf.build_ivf(first, nlist=4)
    path = str(tmp_path / "inc_index")
    ivf.write_ivf(assigned, path)
    n1 = spark.read.parquet(path).count()

    ivf.append_to_index(second, centroids, path)
    total = spark.read.parquet(path)
    assert total.count() == n1 + second.count()

    # a query equal to an APPENDED vector must surface it at rank 1
    target = second.orderBy("vec_id").first()
    qs = spark.createDataFrame(
        [(0, target.embedding)], ["q_id", "q_vec"]
    )
    hits = ivf.search_ivf(spark, path, qs, centroids, k=1, nprobe=4).collect()
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
    sources lands once (cross-source pk dedup, crawler.py:40-44 semantics)."""
    from coldata_spark.ingest.crawl import CrawlConfig, crawl_all_sources

    urls = {
        "UCI": ["http://x/a", "http://x/b", "http://x/shared"],
        "AWS": ["http://x/c", "http://x/shared"],
    }
    existing = spark.createDataFrame([("seen", )], ["index"])
    cfgs = {s: CrawlConfig(fetch_parallelism=2) for s in urls}
    docs = crawl_all_sources(
        spark, urls, existing, lambda: (lambda u: f"content of {u}"), cfgs
    )
    rows = docs.collect()
    got_urls = sorted(r["url"] for r in rows)
    assert got_urls == sorted(
        ["http://x/a", "http://x/b", "http://x/c", "http://x/shared"]
    )
    assert all(r["info"] == f"content of {r['url']}" for r in rows)


def test_knn_zero_vector_scores_zero_not_nan(spark, tmp_path, monkeypatch):
    """Round-4 review fix: an all-zero embedding under COSINE must score
    ~0 on BOTH engines — previously NaN silently dropped the query's
    candidates in the arrow path and ranked zero vectors FIRST in expr.
    search_ivf's collect and join sides over a 2-cell index of the same
    vectors must agree (its Arrow side once scored these NaN)."""
    import math

    from coldata_spark.operators import ivf
    from coldata_spark.operators.similarity import knn_join

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
    path = str(tmp_path / "zero_ivf")
    ivf.write_ivf(ivf.assign_to_centroids(vecs, centroids), path)

    def ivf_side(max_bytes):
        monkeypatch.setattr(ivf, "COLLECT_PROBE_MAX_BYTES", max_bytes)
        return ivf.search_ivf(spark, path, qs, centroids, k=3, nprobe=2).collect()

    runs = {
        strategy: knn_join(qs, vecs, k=3, metric="COSINE", strategy=strategy)
        .collect()
        for strategy in ("arrow", "expr")
    }
    runs["ivf collect"] = ivf_side(math.inf)
    runs["ivf join"] = ivf_side(-1)
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


def test_assign_to_centroids_shuffle_free_and_deterministic(spark, sf_dir):
    """Round-4 review fix: the literal-array argmin assign has NO exchange
    and NO window in its plan, and agrees exactly with the join-fallback
    path (same score expression, same lowest-cid tie-break)."""
    from coldata_spark.operators import ivf

    emb = load(spark, sf_dir, "embeddings").limit(200)
    _assigned, centroids = ivf.build_ivf(emb, nlist=4)

    fast = ivf.assign_to_centroids(emb, centroids)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Window" not in plan

    slow = ivf._assign_via_join(emb, centroids)
    got = {r.vec_id: r.centroid_id for r in fast.collect()}
    want = {r.vec_id: r.centroid_id for r in slow.collect()}
    assert got == want


# ---------------------------------------------------------------------------
# Round-10: IVF maintenance under sustained skewed ingest (verdict ask #2).
# ---------------------------------------------------------------------------


def _skewed_ivf(spark, sf_dir, tmp_path, appends=10):
    """Index on the fixture + ``appends`` batches of copies of one cell's
    vectors (fresh vec_ids): the realistic drift where new data keeps
    landing in one region of embedding space."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assigned, centroids = ivf.build_ivf(emb, nlist=4)
    path = str(tmp_path / "maint_index")
    ivf.write_ivf(assigned, path)
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
        ivf.append_to_index(batch, centroids, path)
        live = live.unionByName(batch)
    return path, centroids, live


def test_maintain_ivf_splits_hot_cell_and_keeps_search_exact(
    spark, sf_dir, tmp_path
):
    """The full maintenance lifecycle: audit flags the hot cell, the pass
    splits it copy-on-write, full-probe search over the maintained index
    equals exact search (q35's operating point), and vacuum reclaims the
    superseded partitions without changing results."""
    path, centroids, live = _skewed_ivf(spark, sf_dir, tmp_path)
    before = {
        r.centroid_id: r.ratio
        for r in ivf.audit_ivf_cells(spark, path, centroids).collect()
    }
    assert max(before.values()) > 3.0  # the audit sees the skew

    new_cents, report = ivf.maintain_ivf(
        spark, path, centroids, max_cell_ratio=3.0
    )
    assert report["splits"], f"no split despite ratio {max(before.values())}"
    assert report["max_ratio_after"] < report["max_ratio_before"]

    # invariant: every vector exactly once across LIVE cells (the old hot
    # partition still exists on disk but is unreferenced)
    live_rows = spark.read.parquet(path).join(
        F.broadcast(new_cents.select("centroid_id")), "centroid_id", "left_semi"
    )
    assert live_rows.count() == live.count()
    assert live_rows.select("vec_id").distinct().count() == live.count()

    # parity at the q35 operating point: full probe == exact search
    qs = live.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    nlist_new = new_cents.count()
    exact = {
        (r.q_id, r.vec_id)
        for r in ivf.search_exact(qs, live, k=4).collect()
    }
    maintained = {
        (r.q_id, r.vec_id)
        for r in ivf.search_ivf(
            spark, path, qs, new_cents, k=4, nprobe=nlist_new
        ).collect()
    }
    assert maintained == exact

    # vacuum reclaims the superseded hot cell; results unchanged
    removed = ivf.vacuum_ivf(spark, path, new_cents)
    assert set(report["splits"]) <= set(removed)
    after_vacuum = {
        (r.q_id, r.vec_id)
        for r in ivf.search_ivf(
            spark, path, qs, new_cents, k=4, nprobe=nlist_new
        ).collect()
    }
    assert after_vacuum == exact
    # disk now holds exactly the live cells
    assert spark.read.parquet(path).count() == live.count()


def test_maintain_ivf_noop_on_balanced_index(spark, sf_dir, tmp_path):
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assigned, centroids = ivf.build_ivf(emb, nlist=4)
    path = str(tmp_path / "balanced_index")
    ivf.write_ivf(assigned, path)
    new_cents, report = ivf.maintain_ivf(spark, path, centroids)
    assert report["splits"] == {} and new_cents is centroids


def test_vacuum_ivf_heals_crash_residue(spark, sf_dir, tmp_path):
    """A pass that crashed after appending sub-cells but before the
    centroid publish leaves unreferenced partition dirs — vacuum against
    the OLD (still-committed) centroids removes exactly those, and the
    index answers as if the crash never happened."""
    import os

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assigned, centroids = ivf.build_ivf(emb, nlist=4)
    path = str(tmp_path / "crash_index")
    ivf.write_ivf(assigned, path)
    n = spark.read.parquet(path).count()
    # simulate the crash residue: a part-built sub-cell under a fresh id
    orphan = assigned.filter(F.col("centroid_id") == 0).withColumn(
        "centroid_id", F.lit(99)
    )
    orphan.write.mode("append").partitionBy("centroid_id").parquet(path)
    assert spark.read.parquet(path).count() > n

    removed = ivf.vacuum_ivf(spark, path, centroids)
    assert removed == [99]
    assert not os.path.exists(os.path.join(path, "centroid_id=99"))
    assert spark.read.parquet(path).count() == n


def test_maintain_ivf_drives_from_scheduler_cadence(spark, sf_dir, tmp_path):
    """The maintain_layout scheduling pattern applied to the index: a
    scheduler cadence interleaves skewed ingest passes with maintenance
    passes (each pass: maintain_ivf -> commit centroids -> vacuum), and
    the max cell-size ratio stays bounded across the whole run while the
    unreferenced-partition count returns to zero after every pass."""
    from datetime import datetime, timedelta

    from coldata_spark import scheduler as S

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assigned, centroids = ivf.build_ivf(emb, nlist=4)
    path = str(tmp_path / "sched_index")
    ivf.write_ivf(assigned, path)
    hot_cid = (
        assigned.groupBy("centroid_id").count().orderBy(F.desc("count")).first()
    ).centroid_id
    seed = assigned.filter(F.col("centroid_id") == hot_cid).select(
        "vec_id", "embedding"
    )
    state = {"centroids": centroids, "i": 0, "ratios": []}

    def refresh_pass():
        # one cadence tick = ingest a skewed batch, then maintain
        state["i"] += 1
        batch = seed.select(
            (F.col("vec_id") + 1_000_000 * state["i"]).alias("vec_id"),
            "embedding",
        )
        ivf.append_to_index(batch, state["centroids"], path)
        new_cents, _ = ivf.maintain_ivf(
            spark, path, state["centroids"], max_cell_ratio=2.0, min_cell_rows=8
        )
        state["centroids"] = new_cents
        ivf.vacuum_ivf(spark, path, new_cents)
        audit = ivf.audit_ivf_cells(spark, path, new_cents).collect()
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

    live = {r.centroid_id for r in state["centroids"].collect()}
    on_disk = {
        int(d.split("=")[1]) for d in map(
            lambda p: p.rsplit("/", 1)[1], g.glob(f"{path}/centroid_id=*")
        )
    }
    assert on_disk == live
