"""Local replica of the driver's DuckDB-oracle comparison.

Runs a registered Spark query and its oracle SQL on the same parquet dir,
then compares row count, column names, and (order-insensitively) values —
exact equality, matching the driver's value-hash check.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from coldata_spark.tables import TABLES


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(spark_df, oracle_pdf: pd.DataFrame) -> list[str]:
    """Return a list of mismatch descriptions (empty == match)."""
    problems: list[str] = []
    spdf = spark_df.toPandas()
    if sorted(spdf.columns) != sorted(oracle_pdf.columns):
        problems.append(
            f"columns differ: spark={sorted(spdf.columns)} oracle={sorted(oracle_pdf.columns)}"
        )
        return problems
    if len(spdf) != len(oracle_pdf):
        problems.append(f"row count differs: spark={len(spdf)} oracle={len(oracle_pdf)}")
    # The driver's value-hash is TYPE-sensitive: DuckDB HUGEINT (-> float64
    # in pandas) vs Spark bigint hashes differently even when values match
    # numerically (round-1 q57).  Pandas elementwise == coerces 3 == 3.0, so
    # compare dtype KINDS explicitly (int-family vs float vs object vs
    # datetime); width differences within a kind are allowed.
    _KIND = {"i": "int", "u": "int", "f": "float", "b": "bool", "M": "ts", "m": "td"}
    for c in sorted(spdf.columns):
        ka = _KIND.get(spdf[c].dtype.kind, "obj")
        kb = _KIND.get(oracle_pdf[c].dtype.kind, "obj")
        if ka != kb:
            problems.append(
                f"column {c!r} dtype kind differs: spark={spdf[c].dtype} "
                f"oracle={oracle_pdf[c].dtype} — driver value-hash would mismatch"
            )
    a, b = canonicalize(spdf), canonicalize(oracle_pdf)
    if len(a) == len(b):
        for c in a.columns:
            if not a[c].equals(b[c]):
                neq = a[c] != b[c]
                # NaN == NaN for our purposes
                both_nan = a[c].isna() & b[c].isna()
                neq = neq & ~both_nan
                if neq.any():
                    i = int(neq.idxmax())
                    problems.append(
                        f"column {c!r}: {int(neq.sum())} mismatches, first at row {i}: "
                        f"spark={a[c][i]!r} oracle={b[c][i]!r}"
                    )
    return problems


def knn_expr(queries, vectors, k: int, metric: str = "COSINE",
             score_decimals: int | None = 6, exclude_self: bool = False):
    """Exact top-k per query in Catalyst expressions alone, no Python in
    the plan: the reference knn_join's Arrow kernel is checked against.
    Every (q_id, q_vec) x (vec_id, embedding) pair of a broadcast cross
    join is scored by V.score_expr, rounded to ``score_decimals`` and
    ranked by rank_top_k, ties to the lower vec_id.  Returns (q_id,
    vec_id, score, rank), as knn_join does."""
    from pyspark.sql import functions as F

    from coldata_spark.functions import vector as V
    from coldata_spark.operators.similarity import rank_top_k

    score = V.score_expr(metric, V.as_double(F.col("q_vec")), V.as_double(F.col("embedding")))
    if score_decimals is not None:
        score = F.round(score, score_decimals)
    pairs = vectors.join(F.broadcast(queries))
    if exclude_self:
        pairs = pairs.filter(F.col("q_id") != F.col("vec_id"))
    return rank_top_k(pairs.select("q_id", "vec_id", score.alias("score")), k, metric)
