"""End-to-end search engine API (the reference's update/search surface)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from coldata_spark import search as S
from coldata_spark.tables import load
from tests.test_ivf_index import committed
from tests.test_plans import jobs_run


def test_build_and_search(spark, sf_dir, tmp_path):
    docs = load(spark, sf_dir, "documents")
    idx = S.build_index(docs, str(tmp_path / "search_idx"), nlist=8)

    # query with each document's FIRST CHUNK (the indexed unit): the parent
    # must appear in the top-k with a ~perfect score (another doc can tie
    # only with an identical chunk)
    targets = docs.orderBy("doc_id").limit(2).collect()
    queries = [t.text[:128] for t in targets]
    results = S.search(spark, idx, docs, queries, k=4).collect()
    by_q = {}
    for r in results:
        by_q.setdefault(r.q_id, []).append(r)
    assert set(by_q) == {0, 1}
    for qid, target in enumerate(targets):
        rows = sorted(by_q[qid], key=lambda r: r.rank)
        assert len(rows) <= 4
        assert rows[0].score > 0.99, f"query {qid}"
        assert target.doc_id in [r.doc_id for r in rows], f"query {qid}"
        assert rows[0].preview.endswith("...")
        # ranks are contiguous from 1 and scores non-increasing
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        scores = [r.score for r in rows]
        assert scores == sorted(scores, reverse=True)


def test_streaming_ingest_feeds_index(spark, sf_dir, tmp_path):
    """The full refresh loop (scheduler.py:21-33 re-crawl -> vdb.update
    rebuild) as INCREMENTAL streaming: new document files arrive -> embed ->
    append to the existing IVF index via foreachBatch; appended docs are
    immediately searchable."""
    import shutil

    from pyspark.sql import functions as F

    from coldata_spark import embed as E
    from coldata_spark.operators import ivf

    docs = load(spark, sf_dir, "documents")
    half = docs.filter(F.col("doc_id") < 250)
    rest = docs.filter(F.col("doc_id") >= 250)

    # initial index over half the corpus (doc-level vectors for simplicity)
    emb_half = E.embed_documents(half).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    assigned, centroids = ivf.build_ivf(emb_half, nlist=4)
    path = str(tmp_path / "stream_index")
    idx = committed(path, assigned, centroids)

    # the other half arrives as a stream of parquet files
    in_dir = tmp_path / "incoming"
    in_dir.mkdir()
    rest.write.parquet(str(in_dir / "batch0"))
    stream = (
        spark.readStream.schema(rest.schema).parquet(str(in_dir) + "/*")
    )

    def absorb(batch_df, batch_id):
        vecs = E.embed_documents(batch_df).select(
            F.col("doc_id").alias("vec_id"), "embedding"
        )
        ivf.append_to_index(idx, vecs)

    q = (
        stream.writeStream.foreachBatch(absorb)
        .option("checkpointLocation", str(tmp_path / "ckpt_ingest"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    grown = ivf.open_index(spark, path)
    assert grown.vectors.count() == docs.count()
    # a late-arriving document is searchable
    target = rest.orderBy("doc_id").first()
    qdf = E.embed_queries(spark, [target.text]).select("q_id", "q_vec")
    hits = ivf.search_ivf(grown, qdf, k=1, nprobe=4).collect()
    assert hits and hits[0].vec_id == target.doc_id


def test_search_pruned_probe_still_finds_self(spark, sf_dir, tmp_path):
    docs = load(spark, sf_dir, "documents")
    idx = S.build_index(docs, str(tmp_path / "search_idx2"), nlist=8)
    target = docs.orderBy("doc_id").first()
    res = S.search(spark, idx, docs, [target.text[:128]], k=2, nprobe=2).collect()
    # the probed cell containing the query's own chunk must surface a
    # perfect-score hit (the chunk's own cell is always the best-scoring one)
    assert res and res[0].score > 0.99


def test_pq_encode_compresses_and_recalls(spark, sf_dir):
    """PQ: codes are m small ints; ADC candidate list at 5x over-fetch must
    recover most of the exact L2 top-10 (the IVF-PQ re-rank contract)."""
    import numpy as np

    from coldata_spark.operators import ivf
    from coldata_spark.tables import load

    emb = load(spark, sf_dir, "embeddings").withColumnRenamed("vec_id", "item_id")
    codebook = ivf.pq_train(emb, m=8, k=16, sample_limit=500)
    assert codebook.shape == (8, 16, 8)

    codes = ivf.pq_encode(emb, codebook)
    row = codes.first()
    assert len(row["pq_codes"]) == 8
    assert all(0 <= c < 16 for c in row["pq_codes"])

    q = np.array(emb.select("embedding").first()[0], dtype=np.float64)
    cands = {
        r["item_id"]
        for r in ivf.pq_search(codes, q, codebook, top_k=50).collect()
    }
    # exact L2 top-10, numpy-side (500 rows at sf0.001)
    import pandas as pd

    pdf = emb.select("item_id", "embedding").toPandas()
    x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    d2 = ((x - q[None, :]) ** 2).sum(axis=1)
    exact10 = set(pdf["item_id"].to_numpy()[np.argsort(d2, kind="stable")[:10]])
    hit = len(cands & exact10)
    assert hit >= 6, f"PQ candidates recovered only {hit}/10 exact neighbors"


def test_pq_search_keeps_string_ids(spark, sf_dir):
    """pq_search returns the id type pq_encode derived from its input: a
    string item_id comes back as strings with the same ADC distances
    (a hardcoded long id column failed its Arrow conversion)."""
    import numpy as np

    from coldata_spark.operators import ivf

    emb = load(spark, sf_dir, "embeddings").withColumnRenamed("vec_id", "item_id")
    named = emb.withColumn("item_id", F.concat(F.lit("v"), F.col("item_id").cast("string")))
    codebook = ivf.pq_train(emb, m=8, k=16, sample_limit=200)
    q = np.array(emb.select("embedding").first()[0], dtype=np.float64)
    by_long, by_name = (
        ivf.pq_search(ivf.pq_encode(df, codebook), q, codebook, top_k=10)
        for df in (emb, named)
    )
    assert by_name.schema["item_id"].dataType.simpleString() == "string"
    rows = by_name.collect()
    assert all(r.item_id.startswith("v") for r in rows)
    assert [r.approx_l2sq for r in rows] == [r.approx_l2sq for r in by_long.collect()]


def test_ivf_pq_end_to_end_recall(spark, sf_dir, tmp_path):
    """IVF-PQ with full probe + re-rank must recover most of the exact
    top-4 (PQ error is confined to candidate selection; re-rank restores
    exact scores)."""
    from coldata_spark.operators import ivf
    from coldata_spark.operators.similarity import knn_join
    from coldata_spark.tables import load

    emb = load(spark, sf_dir, "embeddings")
    queries = (
        emb.limit(5)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )
    index, centroids, codebook = ivf.build_ivf_pq(emb, nlist=8, m=8, k_codes=16)
    idx = committed(str(tmp_path / "pq"), index, centroids)

    got = ivf.search_ivf_pq(idx, queries, codebook, k=4, nprobe=8, overfetch=8)
    exact = knn_join(queries, emb, k=4, metric="COSINE")

    got_pairs = {(r["q_id"], r["vec_id"]) for r in got.collect()}
    exact_pairs = {(r["q_id"], r["vec_id"]) for r in exact.collect()}
    recall = len(got_pairs & exact_pairs) / len(exact_pairs)
    assert recall >= 0.75, f"IVF-PQ recall {recall}"
    # returned scores are exact (re-ranked), so overlapping pairs agree
    got_scores = {(r["q_id"], r["vec_id"]): r["score"] for r in got.collect()}
    for r in exact.collect():
        key = (r["q_id"], r["vec_id"])
        if key in got_scores:
            assert abs(got_scores[key] - r["score"]) < 1e-9


def test_ivf_pq_mean_recall_over_100_queries(spark, sf_dir, tmp_path):
    """IVF-PQ's mean recall@4 over every 5th of the 500 sf0.001 vectors
    (100 queries, nprobe 8 of 8 cells, overfetch 8): five queries decide
    test_ivf_pq_end_to_end_recall by one pair, this check by 16.
    build_ivf_pq's k-means and PQ training use their default seed 42;
    measured 0.77 (308 of 400 pairs), before and after the probe moved
    to assign_to_centroids."""
    from coldata_spark.operators import ivf
    from coldata_spark.operators.similarity import knn_join
    from coldata_spark.tables import load

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    index, centroids, codebook = ivf.build_ivf_pq(emb, nlist=8, m=8, k_codes=16)
    idx = committed(str(tmp_path / "pq"), index, centroids)
    got = ivf.search_ivf_pq(idx, queries, codebook, k=4, nprobe=8, overfetch=8)
    exact = knn_join(queries, emb, k=4, metric="COSINE")
    got_pairs = {(r.q_id, r.vec_id) for r in got.collect()}
    exact_pairs = {(r.q_id, r.vec_id) for r in exact.collect()}
    assert len({q for q, _ in exact_pairs}) == 100
    assert len(exact_pairs) == 400  # 4 neighbours each: the mean is the ratio
    recall = len(got_pairs & exact_pairs) / len(exact_pairs)
    assert recall >= 0.75, f"IVF-PQ mean recall@4 {recall}"


def test_search_parent_ids_with_underscores(spark, sf_dir, tmp_path):
    """Round-4 ADVICE (medium): parent recovery used
    substring_index(vec_id, '_', 1), truncating any caller-supplied parent
    id at its FIRST underscore — "web_001" and "web_002" merged into "web"
    and their rows vanished at the documents join.  Only the trailing chunk
    ordinal may be stripped."""
    docs = (
        load(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .limit(6)
        .select(
            F.concat(F.lit("web_00"), F.col("doc_id")).alias("doc_id"),
            "text",
        )
    )
    idx = S.build_index(docs, str(tmp_path / "us_idx"), nlist=4)
    targets = docs.orderBy("doc_id").limit(2).collect()
    queries = [t.text[:128] for t in targets]
    rows = S.search(spark, idx, docs, queries, k=3).collect()
    assert rows, "underscored parents dropped every result"
    ids = {r.doc_id for r in rows}
    # every returned id must be a REAL document id, not a truncated prefix
    real = {r.doc_id for r in docs.collect()}
    assert ids <= real, f"truncated parent ids leaked: {ids - real}"
    # and each query's own parent must be findable
    for qid, t in enumerate(targets):
        got = [r.doc_id for r in rows if r.q_id == qid]
        assert t.doc_id in got, f"query {qid}: {t.doc_id} not in {got}"
    # the driver's parent strip keeps every segment, as the composed plan's
    for nprobe in (1, 2, idx.nlist):
        _assert_same_as_composed(spark, idx, docs, queries, 3, nprobe)


def _composed_search(spark, idx, docs, texts, k, nprobe, id_col="doc_id",
                     text_col="text"):
    """The oracle: search() as one composed Spark plan, the shape it had
    before its driver finish (search_ivf -> group_best -> rank_top_k ->
    inner join to the documents -> orderBy)."""
    from coldata_spark import embed as E
    from coldata_spark.functions import text as TX
    from coldata_spark.operators import ivf
    from coldata_spark.operators.similarity import group_best, rank_top_k

    qdf = E.embed_queries(spark, texts)
    hits = ivf.search_ivf(idx, qdf.select("q_id", "q_vec"), k=k * 4, nprobe=nprobe)
    parents = hits.withColumn("parent_id", F.regexp_replace("vec_id", "_[0-9]+$", ""))
    best = group_best(parents, "parent_id", metric=idx.metric)
    ranked = rank_top_k(best, k, idx.metric, score="best_score", tie="parent_id")
    return (
        ranked.join(qdf.select("q_id", "q_text"), "q_id")
        .join(docs, ranked.parent_id == docs[id_col])
        .select(
            "q_id", "q_text", "rank", F.col("best_score").alias("score"),
            F.col(id_col), TX.preview(F.col(text_col), 200).alias("preview"),
        )
        .orderBy("q_id", "rank")
    )


@pytest.fixture(scope="module")
def metric_indexes(spark, sf_dir, tmp_path_factory):
    docs = load(spark, sf_dir, "documents")
    root = tmp_path_factory.mktemp("metric_indexes")
    return docs, {
        m: S.build_index(docs, str(root / m), nlist=8, metric=m)
        for m in ("COSINE", "IP", "L2")
    }


def _assert_same_as_composed(spark, idx, docs, texts, k, nprobe, **cols):
    got = S.search(spark, idx, docs, texts, k=k, nprobe=nprobe, **cols)
    want = _composed_search(spark, idx, docs, texts, k, nprobe, **cols)
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in want.schema
    ]
    rows = got.collect()
    assert rows == want.collect(), (idx.metric, nprobe)
    return rows


@pytest.mark.parametrize("metric", ["COSINE", "IP", "L2"])
def test_search_driver_finish_matches_composed_plan(spark, metric_indexes, metric):
    """search()'s driver finish (global top-4k, parent strip, group-best,
    rank with ties to parent_id, inner join to the documents) returns the
    composed Spark plan's rows, in (q_id, rank) order.  Doc 0's text
    scores 1.0 against docs 0 and 82 (the same first chunk), so the tie
    goes to parent_id; a duplicated document id repeats its row."""
    docs, indexes = metric_indexes
    idx = indexes[metric]
    firsts = docs.orderBy("doc_id").limit(3).collect()
    texts = [firsts[0].text, firsts[1].text[:128], firsts[2].text[40:200],
             "spark join window"]
    for nprobe in (1, 2, idx.nlist):
        rows = _assert_same_as_composed(spark, idx, docs, texts, 3, nprobe)
        assert {r.q_id for r in rows} == {0, 1, 2, 3}
    top = [r.doc_id for r in rows if r.q_id == 0][:2]
    if metric == "COSINE":
        assert top == [0, 82]
    doubled = docs.unionByName(docs.filter(F.col("doc_id").isin(top)))
    rows = _assert_same_as_composed(spark, idx, doubled, texts, 3, idx.nlist)
    assert [r.doc_id for r in rows if r.q_id == 0][:4] == [top[0]] * 2 + [top[1]] * 2


def test_search_scores_large_batches_in_slices(spark, metric_indexes, monkeypatch):
    """A query matrix over COLLECT_PROBE_MAX_BYTES is scored in slices,
    one scoring job each, on the same path: the rows do not change."""
    from coldata_spark.operators import ivf

    docs, indexes = metric_indexes
    idx = indexes["COSINE"]
    texts = [r.text[:128] for r in docs.orderBy("doc_id").limit(5).collect()]
    whole = S.search(spark, idx, docs, texts, k=3, nprobe=2).collect()
    monkeypatch.setattr(ivf, "COLLECT_PROBE_MAX_BYTES", 1)  # one query a slice
    jobs = jobs_run(
        spark, lambda: S.search(spark, idx, docs, texts, k=3, nprobe=2).collect()
    )
    assert jobs == len(texts) + 1  # the slices' scoring, then the lookup
    assert S.search(spark, idx, docs, texts, k=3, nprobe=2).collect() == whole


def test_search_ivf_pq_scores_large_batches_in_slices(spark, sf_dir, tmp_path, monkeypatch):
    """search_ivf_pq runs search_ivf's slice loop: a query matrix over
    COLLECT_PROBE_MAX_BYTES takes one ADC scoring job per slice, and the
    rows do not change.  They overlap exact search by at least 0.3 (PQ
    m=8 at nprobe 4 of 8: the recall tests above hold the curve)."""
    from coldata_spark import embed as E
    from coldata_spark.operators import ivf
    from coldata_spark.operators.similarity import knn_join
    from coldata_spark.tables import local_frame

    emb = load(spark, sf_dir, "embeddings")
    assigned, centroids, codebook = ivf.build_ivf_pq(emb, nlist=8, m=8, k_codes=16)
    index = committed(str(tmp_path / "pq_index"), assigned, centroids)
    docs = load(spark, sf_dir, "documents").limit(10)
    embedded = E.embed_documents(docs).select(
        F.col("doc_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    rows = embedded.collect()
    # a local relation, so fetching the batch is one job with no embedding
    qdf = local_frame(
        spark, {"q_id": [r.q_id for r in rows], "q_vec": [r.q_vec for r in rows]},
        embedded.schema,
    )

    def run():
        return ivf.search_ivf_pq(index, qdf, codebook, k=2, nprobe=4).collect()

    whole = run()
    assert 10 <= len(whole) <= 20  # k=2 x 10 queries, sparse cells may under-fill
    monkeypatch.setattr(ivf, "COLLECT_PROBE_MAX_BYTES", 1)  # one query a slice
    # the batch's fetch, one ADC scan per slice, the re-rank's fetch
    assert jobs_run(spark, run) == 1 + len(rows) + 1
    assert run() == whole
    exact = knn_join(qdf, emb.select("vec_id", "embedding"), k=2).collect()
    got = {(r.q_id, r.vec_id) for r in whole}
    want = {(r.q_id, r.vec_id) for r in exact}
    assert len(got & want) / len(want) >= 0.3


def test_build_index_effective_nlist_without_spark_job(spark, sf_dir, tmp_path):
    """build_ivf clamps nlist to the distinct sample points (3 chunks here), and
    build_index reads the effective nlist from the centroid table's local
    rows, which costs no Spark job (count() costs two)."""
    docs = (
        load(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .limit(3)
        .select("doc_id", F.substring("text", 1, 60).alias("text"))  # 1 chunk each
    )
    idx = S.build_index(docs, str(tmp_path / "tiny_idx"), nlist=16)
    assert idx.nlist == 3
    assert jobs_run(spark, lambda: len(idx.centroids.collect())) == 0
    assert jobs_run(spark, idx.centroids.count) > 0  # the counter counts


@pytest.mark.parametrize("fails", [False, True], ids=["returns", "raises"])
def test_build_index_releases_its_vector_cache(spark, sf_dir, tmp_path, monkeypatch, fails):
    """build_index caches the embedded vectors for the fit's sample and the
    placement + write, and releases them before it returns, on error
    too: it leaves no RDD of its own persisted and the vectors uncached.
    (Earlier tests in the session may hold caches of their own.)"""
    from coldata_spark.operators import ivf

    docs = load(spark, sf_dir, "documents")
    jsc = spark.sparkContext._jsc

    def persisted():
        return set(jsc.getPersistentRDDs().keySet())

    before = persisted()
    seen = []
    real_build_ivf = ivf.build_ivf

    def spy(vectors, *a, **kw):
        vectors.count()  # fills the cache
        seen.append((vectors, len(persisted() - before)))
        if fails:
            raise RuntimeError("fit failed")
        return real_build_ivf(vectors, *a, **kw)

    monkeypatch.setattr(ivf, "build_ivf", spy)
    if fails:
        with pytest.raises(RuntimeError, match="fit failed"):
            S.build_index(docs, str(tmp_path / "idx"), nlist=8)
    else:
        S.build_index(docs, str(tmp_path / "idx"), nlist=8)
    ((vectors, n_cached),) = seen
    assert n_cached == 1
    assert persisted() <= before
    assert not vectors._jdf.storageLevel().useMemory()
    assert not vectors._jdf.storageLevel().useDisk()


def test_build_index_null_id_chunks_keep_a_null_parent(spark, sf_dir, tmp_path):
    """A document with a null id chunks into plain "<i>" ids (concat_ws
    skips nulls); deriving parents from chunk ids must leave those chunks
    a null parent_id, not hand them to the documents whose ids read "<i>"."""
    base = load(spark, sf_dir, "documents").orderBy("doc_id").limit(4)
    ids = [r.doc_id for r in base.select("doc_id").collect()]
    docs = base.withColumn("doc_id", F.when(F.col("doc_id") != ids[-1], F.col("doc_id")))
    idx = S.build_index(docs, str(tmp_path / "null_idx"), nlist=2)
    rows = spark.read.parquet(idx.path).select("vec_id", "parent_id").collect()
    orphans = [r.vec_id for r in rows if r.parent_id is None]
    assert orphans and all("_" not in v for v in orphans)
    assert {r.parent_id for r in rows} == set(ids[:-1]) | {None}


def test_pq_train_ragged_vectors_clear_error(spark):
    """Round-8 ADVICE: np.stack raises numpy's bare 'all input arrays must
    have the same shape' on mixed-length vectors, losing the guarded
    pq_train error the old np.array object-array path produced."""
    import pytest

    from coldata_spark.operators import ivf

    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0]), (2, [1.0, 2.0])], ["id", "embedding"]
    )
    with pytest.raises(ValueError, match="ragged"):
        ivf.pq_train(ragged, m=2, k=4, sample_limit=10)
    # non-numeric payloads keep numpy's own conversion diagnosis — the
    # ragged relabel must not swallow a different defect
    bad = spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["c", "d"])], ["id", "embedding"]
    )
    with pytest.raises(ValueError) as ei:
        ivf.pq_train(bad, m=2, k=4, sample_limit=10)
    assert "ragged" not in str(ei.value)
