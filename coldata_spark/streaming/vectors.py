"""Streaming vector ingest — the reference's crawl-then-insert loop
(/root/reference/src/coldata/vdb/vdb.py insert path, driven by the
scheduler's periodic re-crawl) re-expressed as Structured Streaming.

New embedding batches land as parquet files; a file-source stream picks up
exactly the new files each trigger and appends them into an opened IVF
index (operators/ivf.py SearchIndex), placed in its fixed cells by its
metric.  Checkpointing makes ingest exactly-once across restarts: a
replayed batch re-appends only if the batch never committed, matching the
reference's insert-if-absent semantics at the file granularity.

Scale notes: each micro-batch is one shuffle-free placement map
(ivf.assign_to_centroids scores each Arrow batch against the collected
centroid matrix) plus a partition-append write — no shuffle of the index
itself, no rebuild.  Cells drift only if the data distribution does;
ivf.maintain_ivf splits the skewed ones then (the comment block above
ivf.audit_ivf_cells), or build_ivf refits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from coldata_spark.operators import ivf
from coldata_spark.operators.ivf import SearchIndex

EMBEDDINGS_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)


def read_vectors_stream(
    spark: SparkSession, dir_path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-source stream over a directory receiving embedding parquet
    files (the crawler's per-run output drop)."""
    return (
        spark.readStream.schema(EMBEDDINGS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(dir_path)
    )


def append_batch_idempotent(
    batch_df: DataFrame, index: SearchIndex, batch_id: int
) -> SearchIndex:
    """Exactly-once incremental index append under foreachBatch's
    at-least-once contract.  A bare ``mode("append")`` parquet write
    duplicates the batch when a crash lands between the write and the
    checkpoint commit; here the batch, placed in ``index``'s cells, is
    staged (overwrite per batch id = rebuildable), then its files are
    moved into the live centroid partitions under DETERMINISTIC names
    (``batch-<id>-<seq>.parquet``, ``os.replace``) — a replay regenerates
    the same names and overwrites in place instead of appending again —
    and the applied marker finally makes replays pure no-ops.  Returns
    the index reopened.  Single writer assumed (the availableNow
    scheduler cadence)."""
    import glob
    import os
    import shutil

    from coldata_spark.streaming import foldcommit as FC

    base = index.path.rstrip("/")
    if not FC.is_applied(base, batch_id):
        stage = f"{base}.batchstage-{batch_id}"
        ivf.write_ivf(ivf._placed(index, batch_df), stage)
        for part_dir in sorted(glob.glob(os.path.join(stage, "centroid_id=*"))):
            dst_dir = os.path.join(base, os.path.basename(part_dir))
            os.makedirs(dst_dir, exist_ok=True)
            files = sorted(f for f in os.listdir(part_dir) if f.endswith(".parquet"))
            for i, f in enumerate(files):
                os.replace(
                    os.path.join(part_dir, f),
                    os.path.join(dst_dir, f"batch-{batch_id:05d}-{i:04d}.parquet"),
                )
        shutil.rmtree(stage, ignore_errors=True)
        FC.mark_applied(base, batch_id)
    return ivf.open_index(batch_df.sparkSession, index.path)


def stream_vector_ingest(
    stream_df: DataFrame, index: SearchIndex, checkpoint: str
) -> SearchIndex:
    """Continuously grow ``index``: every micro-batch is placed in its
    fixed cells and appended into their parquet partitions exactly once
    (append_batch_idempotent — a replayed batch cannot duplicate
    vectors).  Runs with availableNow (process all new files, then stop)
    so a scheduler can invoke it periodically exactly like the
    reference's re-crawl loop.  Returns the index reopened after the
    run."""

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            append_batch_idempotent(batch_df, index, batch_id)

    q = (
        stream_df.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return ivf.open_index(stream_df.sparkSession, index.path)
