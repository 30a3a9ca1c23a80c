"""Declarative data-quality constraints: audit + enforce (quarantine).

The Delta CHECK-constraint / Great-Expectations primitive a training-data
pipeline runs before anything downstream trusts a table.  The reference
validates records imperatively before insert (crawler.py pre-insert field
checks, one document at a time); this is the set-oriented Spark form:
rules are DATA (name + boolean Column), compiled into as few passes over
the table as their kind allows.

Plan shapes — the scale contract:

  * ROW rules (not_null / in_range / in_set / matches / expr_rule): any
    number of them folds into ONE aggregate pass (`sum(when(violated,1))`
    per rule inside a single HashAggregate over a single scan) for
    audit(), and ONE projection (a ';'-joined string of failed rule
    names via `concat_ws`, no UDF — see with_violations for why a
    string, not an array) for quarantine().  Adding a rule never adds a
    scan, a shuffle, or a Python boundary.
  * UNIQUE rules: one hash-agg on the key columns, `count > 1` — the only
    rule kind that shuffles, bounded by distinct keys (map-side combine
    does the heavy lifting at 100 TB).
  * FOREIGN-KEY rules: a left anti-join of the fact's key against the
    dim's key column — broadcast when the dim is small (TPC-H dims
    always), degrading to a shuffle join automatically when it isn't;
    the plan stays declarative either way.

audit() returns one row per rule (rule, violations, checked) so the
result is tiny at any scale; quarantine() splits clean/bad WITHOUT
re-evaluating rules twice (the violation array is computed once and both
sides filter on it).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Rule:
    """A row-level constraint: ``pred`` is TRUE when the row PASSES."""

    name: str
    pred: Column


@dataclass(frozen=True)
class UniqueRule:
    """Key-level constraint: ``cols`` must identify rows uniquely.
    A violation is EVERY row whose key occurs more than once (not just
    the excess copies) — the quarantine-friendly definition: all members
    of an ambiguous key are suspect."""

    name: str
    cols: tuple[str, ...]


@dataclass(frozen=True)
class ForeignKeyRule:
    """Referential constraint: non-null ``col`` values must appear in
    ``dim_col`` of the dimension frame."""

    name: str
    col: str
    dim: DataFrame
    dim_col: str


@dataclass(frozen=True)
class DatasetRule:
    """Table-level expectation (Great-Expectations' dataset scope): a
    single BIGINT measurement over the whole table must land in
    [lo, hi].  ``kind`` is data, not code, so the streaming monitor can
    decide additivity per kind (row_count and null_ppm fold across
    micro-batches; distinct_ppm cannot).

    Measurements are integer fixed-point (parts-per-million for the
    ratio kinds, exact integer division) so the audit row hash-matches
    any engine computing the same counts — no float fraction appears
    anywhere.  In audit() output a dataset rule reports
    ``violations`` = 0/1 (the expectation verdict, a table has one) and
    ``checked`` = the MEASUREMENT itself, so the monitored value rides
    the same tiny result row as the verdict."""

    name: str
    kind: str  # row_count | null_ppm | distinct_ppm | distinct_hll
    col: str | None
    lo: int
    hi: int


def not_null(col: str) -> Rule:
    return Rule(f"not_null({col})", F.col(col).isNotNull())


def in_range(col: str, lo, hi) -> Rule:
    """Closed interval; NULL passes (pair with not_null to forbid it) —
    the SQL three-valued-logic convention CHECK constraints use."""
    c = F.col(col)
    return Rule(
        f"in_range({col},{lo},{hi})", c.isNull() | ((c >= lo) & (c <= hi))
    )


def in_set(col: str, values: list) -> Rule:
    c = F.col(col)
    return Rule(
        f"in_set({col})", c.isNull() | c.isin(values)
    )


def matches(col: str, regex: str) -> Rule:
    c = F.col(col)
    return Rule(f"matches({col})", c.isNull() | c.rlike(regex))


def expr_rule(name: str, sql_expr: str) -> Rule:
    """Escape hatch: any boolean SQL expression (a CHECK constraint)."""
    return Rule(name, F.expr(sql_expr))


def unique(cols: list[str]) -> UniqueRule:
    return UniqueRule(f"unique({','.join(cols)})", tuple(cols))


def row_count_between(lo: int, hi: int) -> DatasetRule:
    """Table cardinality in [lo, hi] — the cheapest canary against a
    truncated ingest or a runaway duplication (the reference's blind
    daily re-crawl, scheduler.py:21-33, has no such gate)."""
    return DatasetRule(f"row_count({lo},{hi})", "row_count", None, lo, hi)


def null_fraction_ppm_max(col: str, max_ppm: int) -> DatasetRule:
    """Null fraction of ``col`` at most ``max_ppm`` parts-per-million
    (integer: (1e6 * nulls) div rows; empty table measures 0)."""
    return DatasetRule(
        f"null_ppm({col},{max_ppm})", "null_ppm", col, 0, max_ppm
    )


def distinct_ratio_ppm_hll(col: str, lo_ppm: int, hi_ppm: int) -> DatasetRule:
    """Distinct ratio via the PORTABLE HLL sketch (operators/sketches.py)
    instead of an exact multi-distinct — the scale form of
    distinct_ratio_ppm_between: the register build shuffles at most 256
    rows whatever the cardinality (vs the exact form's
    hash-table-of-every-key, the q02-family engine constant SCALE.md
    measures at ~0.9 s/1.28 M pk values), and registers MERGE by max,
    which is what makes this the one distinct expectation the STREAMING
    monitor can fold (hll_partial / fold_into_quality_hll — per-batch
    distincts don't sum, but per-batch registers max-merge exactly).
    The estimate is integer fixed-point (q114's hash-green formula), so
    the measurement stays oracle-checkable; set bounds with the sketch's
    ~6% error band in mind.  ``col`` must be integral (the portable
    fold hashes int64); derive an integer key for strings first."""
    return DatasetRule(
        f"distinct_hll({col},{lo_ppm},{hi_ppm})",
        "distinct_hll",
        col,
        lo_ppm,
        hi_ppm,
    )


def distinct_ratio_ppm_between(col: str, lo_ppm: int, hi_ppm: int) -> DatasetRule:
    """Distinct ratio of ``col`` in [lo_ppm, hi_ppm] parts-per-million —
    catches both a constant-column regression (ratio collapses) and a
    key-explosion (ratio saturates).  NULLs don't count as a distinct
    value (SQL COUNT(DISTINCT) convention)."""
    return DatasetRule(
        f"distinct_ppm({col},{lo_ppm},{hi_ppm})",
        "distinct_ppm",
        col,
        lo_ppm,
        hi_ppm,
    )


def _dataset_measure(r: DatasetRule) -> Column:
    """The BIGINT measurement aggregate for one dataset rule — pure
    integer arithmetic (div, not /) so the value is engine-exact.  The
    ratio kinds saturate int64 only past ~9.2e12 rows (1e6 * count);
    beyond that, rescale to parts-per-thousand (the intlog2 caveat)."""
    if r.kind == "row_count":
        return F.count(F.lit(1)).cast("long")
    if r.kind == "null_ppm":
        return F.expr(
            f"case when count(1) = 0 then 0 else "
            f"(1000000 * sum(case when `{r.col}` is null then 1 else 0 end))"
            f" div count(1) end"
        ).cast("long")
    if r.kind == "distinct_ppm":
        return F.expr(
            f"case when count(1) = 0 then 0 else "
            f"(1000000 * count(distinct `{r.col}`)) div count(1) end"
        ).cast("long")
    raise ValueError(f"unknown dataset rule kind {r.kind!r}")


def _hll_rule_part(
    df: DataFrame, r: DatasetRule, n: int
) -> DataFrame:
    """One (rule, violations, checked) row for a distinct_hll rule: a
    register pass (shuffle <= 256 rows) over a one-column projection;
    ``n`` is the SHARED row count, collected ONCE per audit() call and
    inlined as a literal (round-11/12 review findings: a shared count
    *DataFrame* only shared a subplan, so one physical pass depended on
    Spark exchange reuse rather than being guaranteed); checked = the
    estimated distinct ratio in ppm (the measurement, like every
    dataset rule)."""
    from coldata_spark.operators import sketches as SK

    regs = SK.hll_registers(df.select(r.col), [], r.col)
    est = SK.hll_estimate(regs, []).select(
        F.coalesce(F.col("hll_estimate"), F.lit(0)).alias("_est")
    )
    n = int(n)
    m = (
        f"cast(case when {n} = 0 then 0 else "
        f"(1000000 * _est) div {n} end as bigint)"
    )
    return est.selectExpr(
        f"'{r.name}' as rule",
        f"cast(case when {m} < {int(r.lo)} or {m} > {int(r.hi)} "
        "then 1 else 0 end as bigint) as violations",
        f"{m} as checked",
    )


def foreign_key(col: str, dim: DataFrame, dim_col: str, dim_name: str = "") -> ForeignKeyRule:
    label = dim_name or dim_col
    return ForeignKeyRule(f"fk({col}->{label})", col, dim, dim_col)


def _check_rules(rules: list) -> None:
    """Fail fast with the reason, not downstream with a parser error:
    rule names become SQL string literals and quoted identifiers in
    audit()'s stack() call, so quote/backtick characters are rejected
    rather than escaped (no rule worth having needs them); ';' is
    reserved as with_violations' list separator; duplicate names would
    alias two aggregate columns identically and die as an ambiguous
    reference three plans later."""
    if not rules:
        raise ValueError("audit/quarantine need at least one rule")
    seen: set[str] = set()
    for r in rules:
        name = getattr(r, "name", None)
        if not name:
            raise ValueError(f"rule without a name: {r!r}")
        if any(ch in name for ch in "'`;"):
            raise ValueError(
                f"rule name {name!r} contains a quote, backtick or ';' — "
                "these break the stack() literal / the violation list"
            )
        if name in seen:
            raise ValueError(
                f"duplicate rule name {name!r} (two fks on the same "
                "col->key need distinct dim_name labels)"
            )
        seen.add(name)


def audit(df: DataFrame, rules: list) -> DataFrame:
    """One (rule, violations, checked) row per rule.

    Scan budget — the number that matters at 100 TB: row rules AND fk
    rules share ONE pass (each fk left-joins its broadcast dim-key set
    with a hit indicator onto the fact ONCE, then its violation count is
    just another conditional sum in the same aggregate as the row
    rules); each unique rule is one groupBy pass whose OWN group counts
    yield both ``violations`` (members of duplicated keys) and
    ``checked`` (sum of all group counts == row count).  DATASET rules
    (row_count / null_ppm / distinct_ppm expectations) are expressions
    over counts this same aggregate already produces, so they fold into
    the one pass too — their rows report (verdict 0/1, measurement).
    distinct_hll rules each add a register pass (shuffle <= 256 rows)
    over a one-column projection, plus ONE shared count pass however
    many there are — that count is collected eagerly at audit() call
    time and inlined as a literal into every hll part, so the "+1" is
    guaranteed, not hoping for exchange reuse.  Total passes:
    1 + #unique + #distinct_hll (+1 if any distinct_hll), independent
    of how many row/fk/dataset rules are declared."""
    _check_rules(rules)
    row_rules = [r for r in rules if isinstance(r, Rule)]
    fk_rules = [r for r in rules if isinstance(r, ForeignKeyRule)]
    ds_rules = [
        r
        for r in rules
        if isinstance(r, DatasetRule) and r.kind != "distinct_hll"
    ]
    parts: list[DataFrame] = []
    if row_rules or fk_rules or ds_rules:
        base = df
        hit_cols: dict[str, str] = {}
        for i, r in enumerate(fk_rules):
            hit = f"_fk_hit_{i}"
            keys = (
                r.dim.select(F.col(r.dim_col).alias(r.col))
                .distinct()
                .withColumn(hit, F.lit(1))
            )
            base = base.join(keys, r.col, "left")
            hit_cols[r.name] = hit
        # coalesce: sum over ZERO rows is NULL — an empty table must
        # audit as 0 violations (the unique branch already does this)
        aggs = [
            F.coalesce(F.sum(F.when(~r.pred, 1).otherwise(0)), F.lit(0))
            .cast("long")
            .alias(r.name)
            for r in row_rules
        ] + [
            F.coalesce(
                F.sum(
                    F.when(
                        F.col(r.col).isNotNull()
                        & F.col(hit_cols[r.name]).isNull(),
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias(r.name)
            for r in fk_rules
        ] + [
            # dataset measurements ride the SAME aggregate — a dataset
            # rule adds an agg expression, never a scan (distinct_ppm
            # makes Spark plan the whole agg through one Expand, still
            # one pass over the table)
            _dataset_measure(r).alias(f"_ds_m_{i}")
            for i, r in enumerate(ds_rules)
        ]
        wide = base.agg(F.count(F.lit(1)).cast("long").alias("_checked"), *aggs)
        # unpivot the single wide row into (rule, violations, checked):
        # stack() is one Expand over ONE row — free.  Row/fk rules emit
        # (count, table rows); dataset rules emit (verdict 0/1, the
        # measurement) — see DatasetRule's docstring.
        names = [r.name for r in row_rules] + [r.name for r in fk_rules]
        triples = [f"'{n}', `{n}`, _checked" for n in names] + [
            f"'{r.name}', cast(case when _ds_m_{i} < {int(r.lo)} "
            f"or _ds_m_{i} > {int(r.hi)} then 1 else 0 end as bigint), "
            f"_ds_m_{i}"
            for i, r in enumerate(ds_rules)
        ]
        parts.append(
            wide.selectExpr(
                f"stack({len(triples)}, {', '.join(triples)}) "
                "as (rule, violations, checked)",
            )
        )
    # ONE count pass shared by every distinct_hll rule — collected HERE
    # (the only eager step in audit(); a shared count DataFrame would
    # embed one count subplan per rule and rely on exchange reuse to
    # dedup them) and inlined as a literal into each hll part.  The
    # count is therefore as-of audit() CALL time; re-reading a mutated
    # path between build and execute would not refresh it, which is the
    # deterministic behavior a publish gate wants anyway.
    hll_cnt: int | None = None
    # Unique rules are one full-cardinality groupBy each — measured the
    # honest floor, not a plan defect (round-13 at 64x, SCALE.md "q174
    # decomposed"): the plain groupBy is 10.6 s; repartition-by-key-first
    # reads 12.9 s; a shared-prefix exchange feeding both unique rules reads
    # 20.3 s for the pair (vs 21.3 for two plain ones); countDistinct is
    # 10.0 s.  The cost is the hash-aggregate CPU constant on ~unique
    # keys (partial agg sees no combine reduction — its worst case),
    # which no aggregation shape avoids; the scheduled-gate answer is
    # audit_table_stats (footer stats, 0.28 s at the same tier) plus the
    # q179 HLL distinct monitor, with exact unique audits reserved for
    # commit time.
    for r in rules:
        if isinstance(r, DatasetRule) and r.kind == "distinct_hll":
            if hll_cnt is None:
                hll_cnt = df.count()
            parts.append(_hll_rule_part(df, r, hll_cnt))
        if isinstance(r, UniqueRule):
            keys = df.groupBy(*r.cols).count()
            summary = keys.agg(
                F.coalesce(
                    F.sum(F.when(F.col("count") > 1, F.col("count"))), F.lit(0)
                )
                .cast("long")
                .alias("violations"),
                F.coalesce(F.sum("count"), F.lit(0))
                .cast("long")
                .alias("checked"),
            )
            parts.append(
                summary.select(
                    F.lit(r.name).alias("rule"), "violations", "checked"
                )
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # audit row order follows rule KIND (row+fk first, then unique), not
    # declaration order — the driver compare is order-insensitive and
    # consumers key on the rule name
    return out


def with_violations(df: DataFrame, rules: list[Rule], col: str = "_violations") -> DataFrame:
    """Append a ';'-joined string of failed rule names (declaration
    order, '' when clean) — ONE projection, no UDF.  A string, not an
    array, so the column hashes identically cross-engine (pandas
    stringifies numpy arrays and python lists differently); ';' as the
    separator because generated rule names legally contain commas
    (in_range(col,lo,hi), unique(a,b)) and must split back losslessly —
    _check_rules reserves ';' for exactly this."""
    _check_rules(rules)
    non_row = [r for r in rules if not isinstance(r, Rule)]
    if non_row:
        raise ValueError(
            "with_violations/quarantine take ROW rules only — "
            f"{[r.name for r in non_row]} have no per-row verdict to mark "
            "(unique/fk/dataset verdicts are properties of the table; "
            "run them through audit())"
        )
    if col in df.columns:
        raise ValueError(
            f"column {col!r} already exists — quarantining an "
            "already-marked frame would silently overwrite its markers; "
            "pass a different col="
        )
    marks = [F.when(~r.pred, F.lit(r.name)) for r in rules]
    return df.withColumn(col, F.concat_ws(";", *marks))


def quarantine(
    df: DataFrame, rules: list[Rule], col: str = "_violations"
) -> tuple[DataFrame, DataFrame]:
    """(clean, bad): rules evaluated ONCE into the violation column; both
    sides are filters over the same plan — Spark reuses the scan."""
    marked = with_violations(df, rules, col)
    return (
        marked.filter(F.col(col) == "").drop(col),
        marked.filter(F.col(col) != ""),
    )


from contextlib import contextmanager


@contextmanager
def _aggregate_pushdown(spark):
    """Enable parquet aggregate pushdown for the duration: it needs the
    DSv2 scan path (parquet off the v1 list) and the pushdown flag, both
    runtime confs consulted at planning — set around plan+action,
    restored after (the same scoped-conf device as registry.interactive,
    with the same single-threaded-session assumption: session-global
    confs, so a concurrent job on the SAME SparkSession would briefly
    plan with v1 parquet disabled — give concurrent jobs their own
    newSession())."""
    old_push = spark.conf.get("spark.sql.parquet.aggregatePushdown", "false")
    old_v1 = spark.conf.get(
        "spark.sql.sources.useV1SourceList",
        "avro,csv,json,kafka,orc,parquet,text",
    )
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set(
        "spark.sql.sources.useV1SourceList",
        ",".join(s for s in old_v1.split(",") if s and s != "parquet"),
    )
    try:
        yield
    finally:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", old_push)
        spark.conf.set("spark.sql.sources.useV1SourceList", old_v1)


STATS_ONLY_KINDS = frozenset({"row_count", "null_ppm"})


def audit_table_stats(
    spark, path: str, rules: list[DatasetRule]
) -> DataFrame:
    """METADATA-ONLY audit: row_count / null_ppm expectations answered
    from parquet FOOTER statistics via DSv2 aggregate pushdown —
    count(*) and count(col) never touch a data page (the BatchScan node
    carries ``PushedAggregation: [COUNT(*), COUNT(col)]``; gated in
    tests/test_quality.py).  Parquet null counts are exact, so the
    verdicts equal audit()'s bit-for-bit (asserted in the same test).

    The contract is BYTES, not toy-scale wall time: at the 256x fixture
    (one ~150 MB file) this path reads 0.63-0.91 s vs the scan audit's
    0.27-0.34 s, because per-call file listing + DSv2 planning dominate
    when there is one footer to read — measured and accepted.  The
    crossover is where data outweighs metadata: a 100 TB table's daily
    row_count/null gate becomes thousands of footer reads instead of a
    full-column scan, while the scan audit's cost keeps growing with
    the data.  Use audit() interactively at small scale; use this for
    scheduled gates on large tables.

    Takes a PATH, not a DataFrame: pushdown requires the aggregate to
    sit directly on the scan — any upstream filter/projection would
    silently fall back to a full read, and a fast path that sometimes
    silently scans 100 TB is worse than no fast path.  Rules outside
    row_count/null_ppm (anything needing row values or distincts) are
    refused with the reason."""
    bad = [
        r
        for r in rules
        if not (isinstance(r, DatasetRule) and r.kind in STATS_ONLY_KINDS)
    ]
    if bad:
        raise ValueError(
            "audit_table_stats answers row_count/null_ppm from parquet "
            f"footers only; {[getattr(r, 'name', r) for r in bad]} need "
            "row values — run them through audit()"
        )
    _check_rules(rules)
    null_cols = sorted({r.col for r in rules if r.kind == "null_ppm"})
    with _aggregate_pushdown(spark):
        df = spark.read.parquet(path)
        aggs = [F.count(F.lit(1)).cast("long").alias("_n")] + [
            F.count(F.col(c)).cast("long").alias(f"_nn_{i}")
            for i, c in enumerate(null_cols)
        ]
        wide = df.agg(*aggs)
        # VERIFY the pushdown actually planned before executing: a
        # nested field, an incompatible reader conf or a future Spark
        # declining the pushdown would silently fall back to a full
        # data-page scan — the one failure mode this API exists to
        # forbid (round-11 review finding; the docstring's contract is
        # enforced here, not just tested on one fixture)
        plan = wide._jdf.queryExecution().executedPlan().toString()
        if "PushedAggregation" not in plan:
            raise RuntimeError(
                "audit_table_stats: parquet aggregate pushdown did not "
                "plan (no PushedAggregation in the scan) — this call "
                "would silently read every data page; run audit() "
                "instead or fix the reader conf. Plan head: "
                + plan[:300]
            )
        # materialize INSIDE the conf scope (one tiny row) — laziness
        # would otherwise plan the scan after the confs are restored,
        # silently degrading to a full read
        row = wide.collect()[0]
    n = row["_n"]
    nulls = {
        c: n - row[f"_nn_{i}"] for i, c in enumerate(null_cols)
    }
    out = []
    for r in rules:
        if r.kind == "row_count":
            m = n
        else:
            m = 0 if n == 0 else (1_000_000 * nulls[r.col]) // n
        out.append((r.name, 1 if (m < r.lo or m > r.hi) else 0, m))
    return spark.createDataFrame(
        out, "rule string, violations long, checked long"
    )


def commit_if_clean(
    table, df: DataFrame, rules: list, mode: str = "overwrite"
):
    """Audit-then-commit: the quality gate the reference's blind daily
    re-crawl lacks (scheduler.py:21-33 republishes whatever the crawl
    produced).  Runs the full audit over ``df``; commits a new
    VersionedTable version ONLY when every rule reports zero violations,
    so a truncated ingest / constant column / broken fk never becomes
    the table's latest readable version — readers keep time-traveling
    the last clean commit.

    Returns ``(version | None, report_rows)`` where report_rows is the
    collected audit (tiny: one row per rule) — None means REFUSED, and
    the caller alerts/quarantines with the named rules.  ``df`` is
    evaluated twice (audit scan + write): hand in a checkpointed frame
    or a re-readable source for expensive pipelines, exactly like
    pipeline.py's curation stages do."""
    report = [
        (r["rule"], int(r["violations"]), int(r["checked"]))
        for r in audit(df, rules).collect()
    ]
    if any(v for _, v, _ in report):
        return None, report
    return table.commit(df, mode=mode), report
