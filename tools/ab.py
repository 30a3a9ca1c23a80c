#!/usr/bin/env python
"""A/B one registered query against a variant of it, value-gated.

Run: python tools/ab.py <query> <file.py:fn> [--sf-dir DIR] [--repeats N]

A is the registered query's ``fn``; B is ``fn`` loaded from ``file.py``,
with the same ``(spark, sf_dir) -> DataFrame`` signature.  Both run in
one fresh session (tools/sweep_registry.py's).  Before anything is timed,
the two results are compared after tests/oracle_utils.canonicalize; a
mismatch exits non-zero.  Each side is then timed with the sweep's warm +
best-of loop, one timed run per round, the sides alternating A, B, B, A
so neither always runs second.  Prints one JSON line.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def load_variant(ref: str):
    """``path/to/file.py:fn`` -> the function object."""
    path, _, name = ref.rpartition(":")
    spec = importlib.util.spec_from_file_location("ab_variant", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return getattr(module, name)


def value_gate(spark, fn_a, fn_b, sf_dir: str) -> str | None:
    """None when both sides return the same rows, else what differs."""
    from tests.oracle_utils import canonicalize

    a = canonicalize(fn_a(spark, sf_dir).toPandas())
    b = canonicalize(fn_b(spark, sf_dir).toPandas())
    if list(a.columns) != list(b.columns):
        return f"columns differ: A={list(a.columns)} B={list(b.columns)}"
    if len(a) != len(b):
        return f"row count differs: A={len(a)} B={len(b)}"
    if not a.equals(b):
        rows = (a != b).any(axis=1)
        return f"{int(rows.sum())} of {len(a)} rows differ; first A/B:\n" + (
            f"{a[rows].head(3)}\n{b[rows].head(3)}"
        )
    return None


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("query", help="registered query name (side A)")
    ap.add_argument("variant", help="file.py:fn (side B)")
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--repeats", type=int, default=3, help="timed runs per side")
    args = ap.parse_args()
    if args.repeats < 1:
        ap.error("--repeats must be at least 1")

    from coldata_spark import registry
    from tools.sweep_registry import _fresh_spark, _time_spark

    fns = {"a": registry.specs()[args.query].fn, "b": load_variant(args.variant)}
    spark = _fresh_spark()
    try:
        mismatch = value_gate(spark, fns["a"], fns["b"], args.sf_dir)
        if mismatch:
            print(f"value gate FAILED: {mismatch}", file=sys.stderr)
            sys.exit(1)
        runs: dict[str, list[float]] = {"a": [], "b": []}
        for i in range(args.repeats):
            for side in ("a", "b") if i % 2 == 0 else ("b", "a"):
                sec, rows = _time_spark(spark, fns[side], args.sf_dir, repeats=1)
                runs[side].append(sec)
    finally:
        spark.stop()
    a_sec, b_sec = min(runs["a"]), min(runs["b"])
    print(
        json.dumps(
            {
                "query": args.query,
                "variant": args.variant,
                "sf_dir": args.sf_dir,
                "rows": rows,
                "value_gate": "equal",
                "a_sec": a_sec,
                "b_sec": b_sec,
                "b_over_a": round(b_sec / a_sec, 3) if a_sec else None,
                "a_runs": runs["a"],
                "b_runs": runs["b"],
                "protocol": f"one fresh session; per side best of {args.repeats} "
                "rounds, each a warm + one timed toPandas, sides alternating",
            }
        )
    )


if __name__ == "__main__":
    main()
