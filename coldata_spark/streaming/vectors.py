"""Streaming vector ingest — the reference's crawl-then-insert loop
(/root/reference/src/coldata/vdb/vdb.py insert path, driven by the
scheduler's periodic re-crawl) re-expressed as Structured Streaming.

New embedding batches land as parquet files; a file-source stream picks up
exactly the new files each trigger and appends them into the partitioned
IVF index via the incremental assign+append path (operators/ivf.py
append_to_index).  Checkpointing makes ingest exactly-once across restarts:
a replayed batch re-appends only if the batch never committed, matching the
reference's insert-if-absent semantics at the file granularity.

Scale notes: each micro-batch is one broadcast join (tiny centroid table)
plus a partition-append write — no shuffle of the index itself, no rebuild.
Cells drift only if the data distribution does; build_ivf refits then (the
standard IVF maintenance trade, documented at ivf.py:102-113).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

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
    batch_df: DataFrame,
    centroids: DataFrame,
    index_path: str,
    batch_id: int,
    vec_col: str = "embedding",
    metric: str = "COSINE",
) -> None:
    """Exactly-once incremental index append under foreachBatch's
    at-least-once contract.  A bare ``mode("append")`` parquet write
    duplicates the batch when a crash lands between the write and the
    checkpoint commit; here the assigned batch is staged (overwrite per
    batch id = rebuildable), then its files are moved into the live
    centroid partitions under DETERMINISTIC names
    (``batch-<id>-<seq>.parquet``, ``os.replace``) — a replay regenerates
    the same names and overwrites in place instead of appending again —
    and the applied marker finally makes replays pure no-ops.  Single
    writer assumed (the availableNow scheduler cadence)."""
    import glob
    import os
    import shutil

    from coldata_spark.operators.ivf import assign_to_centroids, write_ivf
    from coldata_spark.streaming import foldcommit as FC

    base = index_path.rstrip("/")
    if FC.is_applied(base, batch_id):
        return
    stage = f"{base}.batchstage-{batch_id}"
    write_ivf(assign_to_centroids(batch_df, centroids, vec_col, metric), stage)
    for part_dir in sorted(glob.glob(os.path.join(stage, "centroid_id=*"))):
        dst_dir = os.path.join(base, os.path.basename(part_dir))
        os.makedirs(dst_dir, exist_ok=True)
        files = sorted(
            f for f in os.listdir(part_dir) if f.endswith(".parquet")
        )
        for i, f in enumerate(files):
            os.replace(
                os.path.join(part_dir, f),
                os.path.join(
                    dst_dir, f"batch-{batch_id:05d}-{i:04d}.parquet"
                ),
            )
    shutil.rmtree(stage, ignore_errors=True)
    FC.mark_applied(base, batch_id)


def stream_vector_ingest(
    stream_df: DataFrame,
    centroids: DataFrame,
    index_path: str,
    checkpoint: str,
    vec_col: str = "embedding",
    metric: str = "COSINE",
):
    """Continuously grow the IVF index: every micro-batch is assigned to
    the existing centroids and appended into their parquet partitions
    exactly once (append_batch_idempotent — a replayed batch cannot
    duplicate vectors).  Runs with availableNow (process all new files,
    then stop) so a scheduler can invoke it periodically exactly like the
    reference's re-crawl loop.  Returns the finished StreamingQuery."""

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_batch_idempotent(
            batch_df, centroids, index_path, batch_id, vec_col, metric
        )

    q = (
        stream_df.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
