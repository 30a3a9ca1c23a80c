"""SparkSession factory.

Local testing runs on local[N] (single JVM); production target is a
multi-executor cluster reading ~100 TB, so every default here is chosen to
survive that scale-up: AQE on (runtime re-plan, skew-join splitting,
partition coalescing), Arrow enabled for the pandas-UDF slow path, UTC
session timezone so timestamp semantics match the DuckDB oracle and any
downstream engine.  Python workers fork from ``coldata_spark.pyworker``,
a daemon that stops every task from rereading the unchanged zip archives
on its path (about 0.2 s per task before its first line), so executors'
Python must be able to import ``coldata_spark``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "coldata_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    # In local mode, shuffle partitions should match cores, not the 200
    # default; on a real cluster this is overridden per-job (AQE coalesces
    # down from a high initial number anyway).
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce post-shuffle partitions by SIZE, not up to defaultParallelism:
        # small reductions collapse to few tasks instead of cores-many tasks
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # parquet scans: allow splitting + vectorized reader (defaults, but
        # pinned so a misconfigured environment can't silently regress them)
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        # write modern INT64 micros, not Spark's legacy INT96 default:
        # INT96 is deprecated in the parquet spec, and its 12-byte
        # julian-day decode costs ~3x on every later scan of the column
        # (measured on a 410M-row events table: sum-over-ts 1.38 s INT96
        # vs 0.46 s INT64 at local[32]) — at 100 TB the write format IS
        # the scan cost of every downstream consumer
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # fork Python workers from a daemon that stops rereading unchanged
        # zip archives at every task start (coldata_spark/pyworker.py)
        .config("spark.python.daemon.module", "coldata_spark.pyworker")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Below this input size, AQE's per-query replanning rounds (each shuffle
# stage materializes, re-optimizes, reschedules — ~100ms+ per round) cannot
# pay for themselves: a static small plan is strictly faster.  Above it,
# runtime re-planning (skew splits, coalescing, join demotion) is what makes
# the 100 TB case work.  2 GiB ≈ where a single shuffle stage's useful work
# starts to dominate its scheduling latency at local[32].
SMALL_INPUT_BYTES = 2 << 30
TARGET_SHUFFLE_BYTES = 128 << 20  # aim ~128 MiB per reduce partition


def dir_bytes(path: str) -> int:
    """Total bytes under a fixture dir (driver-side os.walk — cheap, local)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def tune_for_input(spark: SparkSession, input_bytes: int) -> None:
    """Size the shuffle/AQE knobs to the data, per the scale design rule
    'size spark.sql.shuffle.partitions so partitions fit in executor memory
    at the target SF':

      * tiny inputs  -> AQE OFF, reduce partitions ~ cores/2 (static plan,
        no replanning latency, tasks big enough to amortize scheduling);
      * large inputs -> AQE ON, initial reduce partitions ~ bytes/128MiB
        clamped to [cores, 2000] (AQE coalesces down from there at runtime).

    Shuffled data is usually smaller than the scan (filters/projections run
    first), so bytes/128MiB is an upper bound AQE can shrink — never a
    too-few-partitions OOM.
    """
    cpus = spark.sparkContext.defaultParallelism
    if input_bytes < SMALL_INPUT_BYTES:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        # scale reduce partitions with the input (~32 MiB each), floored at 8:
        # sub-GB inputs schedule 8 tasks/stage (scheduling latency is the
        # bottleneck there, measured ~17% total win over cores/2), growing
        # back to cores/2 as the small-input ceiling approaches
        parts = max(8, min(cpus // 2, input_bytes // (32 << 20)))
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    else:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        parts = min(2000, max(cpus, input_bytes // TARGET_SHUFFLE_BYTES))
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
