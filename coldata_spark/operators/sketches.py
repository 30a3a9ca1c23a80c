"""Engine-portable probabilistic sketches as reusable operators.

Unlike Spark's built-in ``approx_count_distinct`` / ``approx_percentile``
(HLL++ / KLL with engine-internal layouts), these sketches are defined by
pure integer column expressions over md5 — any engine (the DuckDB oracle,
a downstream warehouse) can rebuild or merge them bit-for-bit.  That makes
them safe to persist as table artifacts: build registers per partition/day,
store them, and merge across arbitrary slices later without rescanning.

Both are algebraic (register max / counter sum), i.e. valid map-side
partials — the property tests in tests/test_sketches.py assert
split-merge == whole.

Used by queries/sketch_queries.py (q114/q115), whose DuckDB oracle SQL
mirrors these expressions literally.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---- HyperLogLog (p=8, m=256 registers, 32-bit integer-mixed hash) --------
# Estimate alpha_m * m^2 / sum(2^-M_j) in pure integers: scale 2^-M_j by
# 2^25 (max rank 25, so every term 2^(25-M_j) is integral) and divide the
# precomputed constant C = floor(alpha * m^2 * 2^25).
HLL_P = 8
HLL_M = 1 << HLL_P
HLL_C = 1_579_498_136_381  # floor(0.7213/(1+1.079/256) * 256^2 * 2^25)
_W_BITS = 32 - HLL_P  # 24-bit rank field
_W_MOD = 1 << _W_BITS
_MAX_RANK = _W_BITS + 1  # 25

# The row hash is the murmur3 32-bit finalizer (public avalanche constants)
# over the key's folded 64 bits — pure integer xor/div/mul/mod steps that
# every SQL engine evaluates bit-identically, unlike an engine-native
# hash().  Each 32-bit multiply is split into 16-bit halves so no
# intermediate exceeds 2^49 (exact under ANSI bigint semantics):
#   (h * c) mod 2^32 = (((h div 2^16) * c mod 2^16) * 2^16 + (h mod 2^16) * c) mod 2^32
# This replaced the r2 md5-hex-substring chain, which cost ~5x the
# surrounding scan per row in BOTH engines (digest + string conv).
_MIX_C1 = 2246822507  # 0x85EBCA6B
_MIX_C2 = 3266489909  # 0xC2B2AE35


def _mix32_steps(xor, idiv: str) -> list[str]:
    """The 5 finalizer steps as SQL templates over the prior value ``{h}``.

    ``xor(a, b)`` renders the engine's bitwise xor; ``idiv`` its integer
    division operator.  Keeping ONE step per projection stage (not one
    nested expression) bounds expression-tree size and lets both engines
    evaluate each 32-bit intermediate exactly once."""

    def mul(c: int) -> str:
        return (
            f"((((({{h}}) {idiv} 65536) * {c}) % 65536) * 65536"
            f" + (({{h}}) % 65536) * {c}) % 4294967296"
        )

    return [
        xor("{h}", f"({{h}}) {idiv} 65536"),
        mul(_MIX_C1),
        xor("{h}", f"({{h}}) {idiv} 8192"),
        mul(_MIX_C2),
        xor("{h}", f"({{h}}) {idiv} 65536"),
    ]


def _spark_xor(a: str, b: str) -> str:
    return f"({a}) ^ ({b})"


def _duck_xor(a: str, b: str) -> str:
    return f"xor({a}, {b})"


def _spark_fold64(key_col: str) -> str:
    """Fold a 64-bit key to 32 bits before mixing.  pmod keeps both halves
    non-negative for any input; the cross-engine oracle twin additionally
    assumes non-negative keys (Spark ``div`` truncates toward zero, DuckDB
    ``//`` floors — they agree only for non-negative operands)."""
    return (
        f"(pmod(cast({key_col} as bigint), 4294967296))"
        f" ^ (pmod(cast({key_col} as bigint) div 4294967296, 4294967296))"
    )


def hll_h32_sql(from_sql: str, select_cols: str, key_expr: str) -> str:
    """DuckDB CTE chain computing the identical h32 for the oracle twin.

    Returns the text of chained CTEs ``m0..m5`` where ``m5`` has
    ``select_cols`` plus the mixed hash column ``h``.  Interpolate into an
    oracle's WITH clause so both engines hash bit-identically."""
    fold = (
        f"xor(({key_expr}) % 4294967296, ({key_expr}) // 4294967296)"
    )
    ctes = [
        f"m0 AS (SELECT {select_cols}, {fold} AS h FROM {from_sql}"
        f" WHERE ({key_expr}) IS NOT NULL)"
    ]
    for i, step in enumerate(_mix32_steps(_duck_xor, "//"), start=1):
        ctes.append(
            f"m{i} AS (SELECT * REPLACE ({step.format(h='h')} AS h)"
            f" FROM m{i - 1})"
        )
    return ",\n    ".join(ctes)


def hll_registers(
    df: DataFrame, group_cols: list[str], key_col: str
) -> DataFrame:
    """Per-group HLL register table: (group..., idx, mx).

    One integer-mix hash + bit-split per row map-side, then a groupBy max
    whose shuffle carries at most groups x 256 rows regardless of input
    size.  The output is the sketch artifact — persistable, mergeable
    (hll_merge).  NULL keys are excluded up front (count-distinct
    semantics ignore NULLs; an un-filtered NULL would create a phantom
    idx=NULL register that inflates n_used without adding to s_present —
    the SQL twin filters identically).

    The whole fold+mix chain is nested into ONE projection: chaining one
    .select per mix step cost ~0.14 s of per-projection overhead at the
    16x tier (register build 0.45 -> 0.31 s collapsed, identical
    registers; SCALE.md "q114-family per-row gap", round 10) — codegen
    CSE evaluates each intermediate once regardless of the textual
    nesting, so the depth-per-projection trade was pure cost on the
    Spark side.  The DuckDB twin keeps the step-per-CTE chain
    (hll_h32_sql), where each intermediate genuinely materializes once."""
    h = _spark_fold64(key_col)
    for step in _mix32_steps(_spark_xor, "div"):
        h = step.format(h=h)
    b = df.filter(F.expr(f"({key_col}) IS NOT NULL")).select(
        *group_cols, F.expr(h).alias("h32")
    )
    # rank = leading zeros in the 24-bit field + 1 = 24 - floor(log2(w)),
    # computed numerically (floor(log2(2^k)) is exact in IEEE double, and
    # no other value can cross an integer boundary) — length(bin(w)) built
    # a per-row string, ~35% of the register-build cost at 16x replication.
    b = b.select(
        *group_cols,
        F.expr(f"h32 div {_W_MOD}").alias("idx"),
        F.expr(
            f"case when h32 % {_W_MOD} = 0 then {_MAX_RANK}"
            f" else {_MAX_RANK - 1} - cast(floor(log2(h32 % {_W_MOD})) as int) end"
        ).alias("rank"),
    )
    return b.groupBy(*group_cols, "idx").agg(F.max("rank").alias("mx"))


def hll_merge(regs: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge register tables (from unions of per-slice sketches): max wins."""
    return regs.groupBy(*group_cols, "idx").agg(F.max("mx").alias("mx"))


def hll_present_sum_expr() -> str:
    """SQL term a register row contributes to the estimate denominator:
    sum this over a group's `mx` registers to get `s_present`."""
    return f"shiftleft(cast(1 as bigint), {_MAX_RANK} - mx)"


def hll_estimate_sql(n_used: str = "n_used", s_present: str = "s_present") -> str:
    """The ONE place the register->estimate division lives.  Every
    consumer (batch hll_estimate, quality._hll_rule_part via it, and the
    streaming hll_verdicts read-out) formats this snippet so the integer
    math can never diverge between the paths that claim bit-for-bit
    stream==batch parity."""
    empty_term = 1 << _MAX_RANK  # empty register contributes 2^-0 scaled
    return f"{HLL_C} div ({s_present} + ({HLL_M} - {n_used}) * {empty_term})"


def hll_estimate(regs: DataFrame, group_cols: list[str]) -> DataFrame:
    """Per-group cardinality estimate from a register table."""
    per_group = regs.groupBy(*group_cols).agg(
        F.count("*").alias("n_used"),
        F.sum(F.expr(hll_present_sum_expr())).alias("s_present"),
    )
    return per_group.select(
        *group_cols,
        F.col("n_used").cast("long").alias("n_registers"),
        F.expr(hll_estimate_sql()).cast("long").alias("hll_estimate"),
    )


# ---- Count-min sketch (d rows x w buckets, md5 row-hashes) ----------------


def _cms_entries(key_col: str, depth: int, width: int) -> Column:
    """Array of (j, bucket) structs for one key — the depth row-hashes as
    DISJOINT 8-hex-char slices of a shared digest chain: slice s = j % 4
    of md5 number j // 4 (md5(key) for the first four rows, md5(key:salt)
    beyond).  One md5 per input row at the default depth=4 instead of
    four (round-12 verdict #6: the per-j ``md5(j:key)`` made the sketch
    build hash-bound — q115 spent 8.7 s at the 16x tier, ~4x of it
    computing digests).  Disjoint slices of one md5 are as pairwise-
    independent as four salted md5s for counting purposes, and the CM
    one-sided guarantee (est >= exact, asserted in tests/test_sketches)
    is hash-independent — only the error CONSTANT cares, and the
    avalanche property covers that."""
    entries = []
    for j in range(depth):
        salt, s = divmod(j, 4)
        digest = (
            f"md5(cast({key_col} as string))"
            if salt == 0
            else f"md5(concat(cast({key_col} as string), ':', '{salt}'))"
        )
        entries.append(
            f"struct({j} as j, "
            f"cast(conv(substring({digest}, {1 + 8 * s}, 8), 16, 10) "
            f"as bigint) % {width} as bucket)"
        )
    return F.expr("array(" + ", ".join(entries) + ")")


def cms_build(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Build a count-min sketch (j, bucket, cnt) over ``key_col``.

    Round-14 engine, second pass (guide §1.2 — don't compute things
    twice; guide §4.1 — prefer built-ins over the Python boundary): the
    original expression path hashed EVERY ROW (one md5 + 4x
    conv(substring) + depth-x explode per input row — 38M generated rows
    into the hash aggregate at the 16x tier); the first round-14 rewrite
    moved that into a mapInArrow task that uniqued keys before hashing,
    which was faster but shipped the whole key column across the Python
    boundary.  The missed move was to unique FIRST, in the JVM: a plain
    per-key count aggregate (map-side combinable, so the exchange carries
    at most #distinct keys per task) reduces the corpus to its key set,
    and the md5/slice/explode expression family then runs over DISTINCT
    keys only — ~30x fewer digests on a zipfian key column, zero Python.
    Buckets are bit-identical to both prior engines (same _cms_entries
    digest-slice family the lookup side and the SQL twin use); NULL keys
    group into one row whose md5(NULL) = NULL bucket carries the null
    count per depth row, exactly as before.  Counter sum is linear, so
    per-slice sketches merge by adding counts."""
    per_key = df.groupBy(F.col(key_col).alias("_k")).agg(
        F.count("*").alias("_c")
    )
    entries = per_key.select(
        F.explode(_cms_entries("_k", depth, width)).alias("e"), "_c"
    )
    return (
        entries.groupBy("e.j", "e.bucket")
        .agg(F.sum("_c").alias("cnt"))
        .select(F.col("j").cast("int").alias("j"), "bucket", "cnt")
    )


def cms_lookup(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-estimate counts for ``keys``: min over the depth row-hashes.

    The estimate is one-sided (>= true count, the CM guarantee — asserted
    in tests/test_sketches.py).  Probe rows join the depth*width-row
    sketch broadcast-side; empty buckets count as 0."""
    probes = keys.select(
        key_col, F.explode(_cms_entries(key_col, depth, width)).alias("e")
    ).select(key_col, "e.j", "e.bucket")
    return (
        probes.join(F.broadcast(sketch), ["j", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).cast("long").alias("cms_est"))
    )


# ---- Equi-width histogram quantile sketch --------------------------------


def hist_build(
    df: DataFrame,
    group_cols: list[str],
    value_expr: str,
    lo: int,
    hi: int,
    n_bins: int = 256,
) -> DataFrame:
    """Per-group equi-width histogram sketch: (group..., bin, cnt).

    ``value_expr`` must already be an integer (fixed-point the measure
    first); [lo, hi] is the closed value domain and bins split the span
    ``hi - lo + 1`` evenly, so bin assignment is ONE integer floor-division
    per row — exact on any engine.  Values outside [lo, hi] are CLAMPED to
    the edge bins (so the sketch is truly bounded by groups x n_bins rows
    however dirty the input, and the post-clamp numerator is never
    negative — Spark ``div`` truncates toward zero while DuckDB ``//``
    floors, so an unclamped negative value would diverge between the
    engines).  Edge-bin counts therefore absorb out-of-domain mass; pick
    [lo, hi] to cover the real domain when tail quantiles matter.  NULL
    values stay NULL (their own bin row, never a real bin) — the explicit
    CASE matters because least/greatest SKIP nulls on both engines, which
    would otherwise count every NULL as the top edge.  Counts are
    additive, so per-slice sketches merge by summing (the same
    streaming/mergeable artifact contract as hll_registers/cms_build).
    """
    v = (
        f"CASE WHEN CAST({value_expr} AS BIGINT) IS NULL "
        "THEN CAST(NULL AS BIGINT) "
        f"ELSE greatest(CAST({lo} AS BIGINT), least(CAST({hi} AS BIGINT), "
        f"CAST({value_expr} AS BIGINT))) END"
    )
    return (
        df.select(
            *group_cols,
            F.expr(
                f"CAST((({v} - ({lo})) * {n_bins}) div ({hi} - ({lo}) + 1)"
                " AS BIGINT)"
            ).alias("bin"),
        )
        .groupBy(*group_cols, "bin")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def hist_merge(hist: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge histogram sketches (unions of per-slice builds): counts add."""
    return hist.groupBy(*group_cols, "bin").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )


def hist_quantile(
    hist: DataFrame,
    group_cols: list[str],
    q_ppms: list[int],
    lo: int,
    hi: int,
    n_bins: int = 256,
) -> DataFrame:
    """Quantile estimates from a histogram sketch: for each q (in ppm) the
    LOWER BOUND of the first bin whose cumulative count reaches rank
    ``ceil(q * total / 1e6)`` — the standard histogram-quantile read-out,
    one-sided within a bin width of the true quantile.

    All arithmetic is integer (ceil as ``(q*total + 999999) div 1e6``), so
    estimates are bit-exact across engines.  Every stage runs over the
    sketch (groups x n_bins rows), never the raw data: cumulative counts
    are a partition-local window per group, and the rank probe joins
    sketch-side only.
    """
    from pyspark.sql import Window as W

    # the NULL-bin row (hist_build's bucket for NULL values) must not
    # enter the quantile read-out: it would inflate ranks AND sort first
    # under the cumulative window (Spark asc = NULLS FIRST), skewing
    # every estimate downward as phantom below-lo mass
    hist = hist.filter(F.col("bin").isNotNull())
    total = hist.groupBy(*group_cols).agg(
        F.sum("cnt").cast("long").alias("_total")
    )
    cum = hist.select(
        *group_cols,
        "bin",
        F.sum("cnt")
        .over(W.partitionBy(*group_cols).orderBy("bin"))
        .alias("_csum"),
    )
    qs = hist.sparkSession.createDataFrame(
        [(int(q),) for q in q_ppms], ["q_ppm"]
    )
    ranks = total.crossJoin(F.broadcast(qs)).select(
        *group_cols,
        "q_ppm",
        F.expr("(q_ppm * _total + 999999) div 1000000").alias("_rnk"),
    )
    pick = (
        ranks.join(cum, group_cols)
        .filter(F.col("_csum") >= F.col("_rnk"))
        .groupBy(*group_cols, "q_ppm")
        .agg(F.min("bin").alias("_qbin"))
    )
    return pick.select(
        *group_cols,
        "q_ppm",
        F.expr(
            f"CAST(({lo}) + (_qbin * ({hi} - ({lo}) + 1)) div {n_bins}"
            " AS BIGINT)"
        ).alias("est"),
    )
