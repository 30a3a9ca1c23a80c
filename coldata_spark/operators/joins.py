"""Join-strategy decisions shared by the fact-join query family."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from coldata_spark.operators.similarity import _estimated_bytes

# Broadcast the pruned build side while the RAW scan estimate is at most
# this: past it the broadcast build itself dominates (q02 at 256x:
# broadcast 5.1 s vs shuffle join 4.4 s).
BROADCAST_MAX_BYTES = 256 << 20
# Hash-build per partition while estimate / shuffle partitions is at most
# this (fits execution memory); beyond it the spill-safe sort-merge runs.
HASH_BUILD_MAX_BYTES = 64 << 20


def _shuffle_partitions(spark: SparkSession) -> int:
    """spark.sql.shuffle.partitions, or Spark's default 200 when the conf
    is not a positive integer (some platforms set e.g. ``auto``)."""
    try:
        return max(1, int(spark.conf.get("spark.sql.shuffle.partitions", "200")))
    except ValueError:
        return 200


def choose_build(
    spark: SparkSession, raw_df: DataFrame, build_df: DataFrame
) -> DataFrame:
    """Hint ``build_df`` (a filtered/joined reduction of ``raw_df``) for
    its fact join: broadcast, else shuffle_hash, else no hint (sort-merge).

    The planner only sees ``raw_df``'s scan estimate, not the selectivity
    of the filters that pruned it, so it would sort-merge the fact join
    and sort the larger streamed side.  The gates read the raw estimate:
    reliable file-size stats, and an upper bound on ``build_df``.  The
    per-partition gate assumes every configured shuffle partition gets a
    share; AQE coalescing can merge partitions, so the real hash build
    may exceed the budget — the price of deciding at plan time.
    """
    est = _estimated_bytes(raw_df)
    if 0 < est <= BROADCAST_MAX_BYTES:
        return F.broadcast(build_df)
    if 0 < est // _shuffle_partitions(spark) <= HASH_BUILD_MAX_BYTES:
        return build_df.hint("shuffle_hash")
    return build_df
