"""Streaming == batch parity on the events fixture (SURVEY §2.9 R1/R6)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from coldata_spark.streaming import events as SE
from coldata_spark.tables import load


@pytest.fixture()
def events_dir(tmp_path, sf_dir):
    # copy the single fixture parquet into a directory usable as a file source
    d = tmp_path / "events_in"
    d.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", d / "part-000.parquet")
    return str(d)


def _run(spark, stream_df, name, tmp_path, mode="complete"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def test_hourly_counts_stream_equals_batch(spark, sf_dir, events_dir, tmp_path):
    stream = SE.hourly_counts(SE.read_events_stream(spark, events_dir))
    got = _run(spark, stream, "hourly_counts_t", tmp_path).toPandas()

    batch = (
        load(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    ).toPandas()

    key = ["window_start", "event_type"]
    got = got.sort_values(key).reset_index(drop=True)
    batch = batch.sort_values(key).reset_index(drop=True)
    assert got.equals(batch)


def test_session_window_stream_runs(spark, events_dir, tmp_path):
    stream = SE.session_windows(SE.read_events_stream(spark, events_dir))
    got = _run(spark, stream, "session_windows_t", tmp_path)
    assert got.count() > 0
    # session windows must not overlap per user
    pdf = got.toPandas().sort_values(["user_id", "session_start"])
    for _, g in pdf.groupby("user_id"):
        starts = g["session_start"].tolist()
        ends = g["session_end"].tolist()
        for i in range(1, len(starts)):
            assert starts[i] >= ends[i - 1]


def test_dedup_within_watermark(spark, events_dir, tmp_path):
    stream = SE.dedup_within_watermark(SE.read_events_stream(spark, events_dir))
    got = _run(spark, stream, "dedup_t", tmp_path, mode="append")
    n_in = spark.read.parquet(events_dir).count()
    n_out = got.count()
    distinct_ids = got.select("event_id").distinct().count()
    assert n_out == distinct_ids  # no duplicate ids survive
    assert n_out <= n_in


def test_stateful_running_user_stats(spark, sf_dir, events_dir, tmp_path):
    """applyInPandasWithState totals must equal the batch groupBy at the end
    of the stream; a second batch of files must CONTINUE the state."""
    collected: list = []

    def sink(batch_df, batch_id):
        collected.extend(batch_df.collect())

    def run(ckpt):
        stream = SE.running_user_stats(SE.read_events_stream(spark, events_dir))
        q = (
            stream.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    ckpt = str(tmp_path / "ckpt_stateful")
    run(ckpt)
    # last emitted row per user = final state
    got = (
        spark.createDataFrame(collected)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_value").alias("total_value"),
        )
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    batch = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    assert got["n_events"].equals(batch["n_events"])
    assert (got["total_value"] - batch["total_value"]).abs().max() < 0.05

    # feed the same file again as a NEW batch: state must CONTINUE (counts
    # double) because the checkpoint carries the per-user state forward
    shutil.copy(f"{sf_dir}/events.parquet", f"{events_dir}/part-001.parquet")
    collected.clear()
    run(ckpt)
    got2 = (
        spark.createDataFrame(collected)
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    assert (got2["n_events"] == 2 * batch["n_events"]).all()


def test_stream_to_parquet_sink(spark, sf_dir, events_dir, tmp_path):
    """File sink (append) — the streaming S9 path: watermarked hourly aggs
    land as parquet the batch engine can read back."""
    stream = SE.hourly_counts(SE.read_events_stream(spark, events_dir))
    out = str(tmp_path / "hourly_out")
    q = (
        stream.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt_sink"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.parquet(out)
    # append mode only emits windows the watermark has closed; with a
    # 2-hour watermark over a 30-day fixture, all but the tail are final
    assert back.count() > 0
    assert set(back.columns) == {"window_start", "event_type", "n_events", "total_value"}


def test_available_now_incremental(spark, sf_dir, tmp_path):
    """R1: second availableNow run over the same files processes nothing new;
    adding a file processes only the delta (exactly-once refresh)."""
    d = tmp_path / "inc_in"
    d.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", d / "a.parquet")
    ckpt = str(tmp_path / "inc_ckpt")

    def run_once():
        stream = SE.read_events_stream(spark, str(d)).groupBy().count()
        q = (
            stream.writeStream.format("memory")
            .queryName("inc_t")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table("inc_t").collect()[0][0]

    n1 = run_once()
    assert n1 == spark.read.parquet(str(d)).count()
    shutil.copy(f"{sf_dir}/events.parquet", d / "b.parquet")
    n2 = run_once()
    assert n2 == 2 * n1


def test_stream_merge_into_upserts(spark, tmp_path):
    """CDC streaming merge: batch 2 must UPDATE an existing pk and INSERT a
    new one (full merge semantics, not insert-only)."""
    src = tmp_path / "merge_src"
    src.mkdir()
    table = str(tmp_path / "merge_table")
    ckpt = str(tmp_path / "merge_ckpt")
    schema = "pk bigint, val string"

    spark.createDataFrame(
        [(1, "a"), (2, "b")], schema
    ).coalesce(1).write.parquet(str(src / "batch1"))
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src / "*"))
    SE.stream_merge_into(stream, table, ckpt, pk="pk")
    got = {r["pk"]: r["val"] for r in spark.read.parquet(table).collect()}
    assert got == {1: "a", 2: "b"}

    spark.createDataFrame(
        [(2, "B2"), (3, "c")], schema
    ).coalesce(1).write.parquet(str(src / "batch2"))
    SE.stream_merge_into(stream, table, ckpt, pk="pk")
    got = {r["pk"]: r["val"] for r in spark.read.parquet(table).collect()}
    assert got == {1: "a", 2: "B2", 3: "c"}


def test_stream_stream_interval_join_equals_batch(spark, sf_dir, events_dir, tmp_path):
    """Stream-stream interval join (purchase <- preceding clicks within 5 min)
    must produce exactly the batch join's pairs."""
    stream_ev = SE.read_events_stream(spark, events_dir)
    joined = SE.clicks_joined_to_purchases(stream_ev)
    q = (
        joined.writeStream.format("memory")
        .queryName("ssjoin_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ssjoin_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["purchase_id"], r["click_id"])
        for r in spark.table("ssjoin_t").collect()
    }

    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    want = {
        (r["purchase_id"], r["click_id"])
        for r in purchases.join(
            clicks,
            F.expr(
                "p_user = c_user AND click_ts < purchase_ts "
                "AND click_ts >= purchase_ts - INTERVAL 5 minutes"
            ),
        ).collect()
    }
    assert got == want and len(want) > 0


def test_stream_vector_ingest_exactly_once(spark, sf_dir, tmp_path):
    """streaming/vectors.py: periodic availableNow runs grow the IVF index
    incrementally; a restart with an unchanged source appends NOTHING
    (checkpoint exactly-once), and files arriving between runs are picked
    up by the next run."""
    from pyspark.sql import functions as F

    from coldata_spark.operators import ivf
    from coldata_spark.streaming import vectors as SV
    from coldata_spark.tables import load
    from tests.test_ivf_index import committed

    emb = load(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    late = emb.filter(F.col("vec_id") % 3 == 0)
    n_base, n_late = base.count(), late.count()

    assigned, centroids = ivf.build_ivf(base, nlist=4)
    index = committed(str(tmp_path / "vec_index"), assigned, centroids)

    in_dir = tmp_path / "vec_incoming"
    in_dir.mkdir()
    ckpt = str(tmp_path / "vec_ckpt")
    first = late.filter(F.col("vec_id") % 2 == 0)
    second = late.filter(F.col("vec_id") % 2 == 1)
    first.write.parquet(str(in_dir / "drop0"))

    src = str(in_dir) + "/*"

    def ingest(idx):
        return SV.stream_vector_ingest(SV.read_vectors_stream(spark, src), idx, ckpt)

    index = ingest(index)
    assert index.vectors.count() == n_base + first.count()

    # restart with no new files: exactly-once means zero re-appends
    index = ingest(index)
    assert index.vectors.count() == n_base + first.count()

    # a new drop between runs is absorbed by the next run
    second.write.parquet(str(in_dir / "drop1"))
    index = ingest(index)
    assert index.vectors.count() == n_base + n_late

    # an appended vector is immediately searchable as its own 1-NN
    target = late.orderBy("vec_id").first()
    qdf = spark.createDataFrame(
        [(0, [float(x) for x in target.embedding])], "q_id long, q_vec array<double>"
    )
    hits = ivf.search_ivf(index, qdf, k=1, nprobe=4).collect()
    assert hits and hits[0].vec_id == target.vec_id


def test_stream_rollup_continuous_aggregate(spark, sf_dir, tmp_path):
    """streaming/rollup.py: periodic runs fold new event files into the
    hourly rollup; result equals the batch aggregate over everything
    ingested; replayed batches are no-ops (additive merge stays exact)."""
    from pyspark.sql import functions as F

    from coldata_spark.streaming import rollup as SR
    from coldata_spark.tables import load

    ev = load(spark, sf_dir, "events")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)

    in_dir = tmp_path / "roll_in"
    in_dir.mkdir()
    table = str(tmp_path / "hourly_rollup")
    ckpt = str(tmp_path / "roll_ckpt")

    def batch_expected(df):
        return {
            (r.hour_start, r.event_type, r.n_events, round(r.total_value, 2))
            for r in SR.hourly_partial(df).withColumn(
                "total_value", F.round("total_value", 2)
            ).collect()
        }

    def src():
        return spark.readStream.schema(first.schema).parquet(str(in_dir) + "/*")

    first.write.parquet(str(in_dir / "drop0"))
    SR.stream_rollup_maintain(src(), table, ckpt)
    got = {
        (r.hour_start, r.event_type, r.n_events, round(r.total_value, 2))
        for r in spark.read.parquet(table).collect()
    }
    assert got == batch_expected(first)

    # replayed batch id is a no-op (idempotent fold)
    SR.fold_into_rollup(SR.hourly_partial(first), table, batch_id=0)
    got2 = {
        (r.hour_start, r.event_type, r.n_events, round(r.total_value, 2))
        for r in spark.read.parquet(table).collect()
    }
    assert got2 == got

    # a later drop accumulates additively into the same buckets
    second.write.parquet(str(in_dir / "drop1"))
    SR.stream_rollup_maintain(src(), table, ckpt)
    got3 = {
        (r.hour_start, r.event_type, r.n_events, round(r.total_value, 2))
        for r in spark.read.parquet(table).collect()
    }
    assert got3 == batch_expected(ev)


def test_stream_cardinality_hll_rollup(spark, sf_dir, tmp_path):
    """streaming/cardinality.py: periodic runs max-merge per-hour HLL
    registers; the estimate equals the batch sketch over everything
    ingested, and replaying a partial is a no-op (max is idempotent)."""
    from pyspark.sql import functions as F

    from coldata_spark.operators import sketches as SK
    from coldata_spark.streaming import cardinality as SC
    from coldata_spark.tables import load

    ev = load(spark, sf_dir, "events")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)

    in_dir = tmp_path / "card_in"
    in_dir.mkdir()
    table = str(tmp_path / "user_hll")
    ckpt = str(tmp_path / "card_ckpt")

    def src():
        return spark.readStream.schema(first.schema).parquet(str(in_dir) + "/*")

    def estimates():
        return {
            (r.hour_start, r.n_registers, r.hll_estimate)
            for r in SC.distinct_users_estimate(spark, table).collect()
        }

    def batch_expected(df):
        return {
            (r.hour_start, r.n_registers, r.hll_estimate)
            for r in SK.hll_estimate(
                SC.hourly_user_registers(df), SC.BUCKET_KEYS
            ).collect()
        }

    first.write.parquet(str(in_dir / "drop0"))
    SC.stream_cardinality_maintain(src(), table, ckpt)
    assert estimates() == batch_expected(first)

    # replaying the same partial changes nothing (max-merge idempotence)
    SC.merge_into_registers(SC.hourly_user_registers(first), table)
    assert estimates() == batch_expected(first)

    # second drop: estimates now equal the batch sketch over the union —
    # the per-hour distinct estimate is NOT the sum of per-batch
    # estimates, which is exactly why registers (not counts) are stored
    second.write.parquet(str(in_dir / "drop1"))
    SC.stream_cardinality_maintain(src(), table, ckpt)
    assert estimates() == batch_expected(ev)


def test_stream_quantiles_hist_sketch(spark, sf_dir, tmp_path):
    """streaming/quantiles.py: periodic runs fold new event files into the
    per-hour histogram sketch; quantile read-outs equal the batch sketch
    over everything ingested; replayed batch ids are no-ops (marker-gated
    additive fold)."""
    from pyspark.sql import functions as F

    from coldata_spark.operators import sketches as SK
    from coldata_spark.streaming import quantiles as SQ
    from coldata_spark.tables import load

    ev = load(spark, sf_dir, "events")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)

    in_dir = tmp_path / "q_in"
    in_dir.mkdir()
    table = str(tmp_path / "hist_sketch")
    ckpt = str(tmp_path / "q_ckpt")

    def src():
        return spark.readStream.schema(first.schema).parquet(str(in_dir) + "/*")

    def sketch_rows(df):
        return {
            (r.hour_start, r.bin, r.cnt)
            for r in SQ.hourly_value_hist(df).collect()
        }

    first.write.parquet(str(in_dir / "drop0"))
    SQ.stream_quantiles_maintain(src(), table, ckpt)
    assert {
        (r.hour_start, r.bin, r.cnt)
        for r in spark.read.parquet(table).collect()
    } == sketch_rows(first)

    # replayed batch id is a no-op (marker gates the additive fold)
    SQ.fold_into_hist(SQ.hourly_value_hist(first), table, batch_id=0)
    assert {
        (r.hour_start, r.bin, r.cnt)
        for r in spark.read.parquet(table).collect()
    } == sketch_rows(first)

    # later drop accumulates; quantile read-out equals the batch sketch's
    second.write.parquet(str(in_dir / "drop1"))
    SQ.stream_quantiles_maintain(src(), table, ckpt)
    assert {
        (r.hour_start, r.bin, r.cnt)
        for r in spark.read.parquet(table).collect()
    } == sketch_rows(ev)

    got_q = {
        (r.hour_start, r.q_ppm, r.est)
        for r in SQ.read_quantiles(spark, table).collect()
    }
    want_q = {
        (r.hour_start, r.q_ppm, r.est)
        for r in SK.hist_quantile(
            SQ.hourly_value_hist(ev),
            SQ.BUCKET_KEYS,
            [500000, 900000, 990000],
            lo=SQ.LO,
            hi=SQ.HI,
            n_bins=SQ.N_BINS,
        ).collect()
    }
    assert got_q == want_q and len(got_q) > 0


def test_stream_incremental_neardup(spark, sf_dir, tmp_path):
    """streaming/neardup.py: batch 1 seeds the signature table; batch 2
    contains an exact re-crawl of a batch-1 doc (shifted id) and must
    surface it as a new_corpus pair at est_jaccard 1.0 WITHOUT re-signing
    batch 1; replaying a batch id is a no-op for the signature table and
    rewrites (not duplicates) that batch's pairs."""
    from pyspark.sql import functions as F

    from coldata_spark.streaming import neardup as SN
    from coldata_spark.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    first = docs.filter("doc_id % 2 = 0")
    # second batch: odd docs + one exact copy of an even (batch-1) doc
    copy_src = first.orderBy("doc_id").limit(1)
    planted_src = copy_src.first()["doc_id"]
    second = docs.filter("doc_id % 2 = 1").unionByName(
        copy_src.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )

    in_dir = tmp_path / "nd_in"
    in_dir.mkdir()
    sig = str(tmp_path / "corpus_sigs")
    pairs = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "nd_ckpt")

    def src():
        return spark.readStream.schema(first.schema).parquet(str(in_dir) + "/*")

    first.write.parquet(str(in_dir / "drop0"))
    SN.stream_neardup_maintain(src(), sig, pairs, ckpt)
    n_sigs_1 = spark.read.parquet(sig).count()
    assert n_sigs_1 == first.count()

    second.write.parquet(str(in_dir / "drop1"))
    SN.stream_neardup_maintain(src(), sig, pairs, ckpt)
    assert spark.read.parquet(sig).count() == n_sigs_1 + second.count()

    got = {
        (r.doc_a, r.doc_b): (r.est_jaccard, r.pair_type)
        for r in SN.read_pairs(spark, pairs).collect()
    }
    planted = (planted_src + 1000000, planted_src)
    assert planted in got, f"planted re-crawl pair missing: {got.keys()}"
    assert got[planted] == (1.0, "new_corpus")

    # replay of batch 1 (same id, same data): sig table unchanged, pairs
    # rewritten not duplicated
    SN.process_batch(second, sig, pairs, batch_id=1)
    assert spark.read.parquet(sig).count() == n_sigs_1 + second.count()
    replay = {
        (r.doc_a, r.doc_b)
        for r in SN.read_pairs(spark, pairs).collect()
    }
    assert len(replay) == len(got)


def test_vector_append_replay_does_not_duplicate(spark, sf_dir, tmp_path):
    """append_batch_idempotent: re-running the SAME batch id (the crash
    window between the parquet append and the checkpoint commit) appends
    nothing — the hole a bare mode('append') write has under foreachBatch
    at-least-once.  A partially-moved stage (crash mid-move) also replays
    to the exact same file set."""
    import os

    from pyspark.sql import functions as F

    from coldata_spark.operators import ivf
    from coldata_spark.streaming import vectors as SV
    from coldata_spark.tables import load
    from tests.test_ivf_index import committed

    emb = load(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    batch = emb.filter(F.col("vec_id") % 3 == 0)
    assigned, centroids = ivf.build_ivf(base, nlist=4)
    index = committed(str(tmp_path / "idx"), assigned, centroids)
    n0 = index.vectors.count()

    grown = SV.append_batch_idempotent(batch, index, batch_id=7)
    n1 = grown.vectors.count()
    assert n1 == n0 + batch.count()
    assert index.vectors.count() == n0  # the input handle is its snapshot

    # full replay (marker present): pure no-op
    assert SV.append_batch_idempotent(batch, index, batch_id=7).vectors.count() == n1

    # crash-mid-move simulation: remove the marker and re-apply — the
    # deterministic batch-file names overwrite in place, never duplicate
    os.remove(os.path.join(index.path + ".applied", "batch-7"))
    SV.append_batch_idempotent(batch, index, batch_id=7)
    assert ivf.open_index(spark, index.path).vectors.count() == n1
    batch_files = [
        f
        for root, _d, fs in os.walk(index.path)
        for f in fs
        if f.startswith("batch-00007-")
    ]
    assert len(batch_files) > 0
