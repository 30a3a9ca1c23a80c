#!/usr/bin/env python
"""IVF maintenance under sustained skewed ingest (round-10 verdict ask #2).

The claim under test (operators/ivf.py maintain_ivf docstring): under a
drifting ingest stream that keeps landing in one region of embedding
space, the un-maintained index's hottest cell grows without bound (probe
cost of that cell ~ ratio x mean), while a maintain_ivf pass every M
batches keeps the max cell-size ratio bounded — each pass doing work
proportional to the HOT cells only (copy-on-write split), never a
drop-and-rebuild of the corpus (the reference's only maintenance op,
renew at vdb.py:199-201).

Protocol: index on sf embeddings (nlist=8), then N skewed append batches
(each batch = copies of one seed cell's vectors under fresh ids — the
adversarial drift).  Two arms from identical state:
  unmaintained: append only; audit max ratio after each batch.
  maintained:   same appends; maintain_ivf (which commits its cells)
                then vacuum_ivf every M batches.
Recorded per batch: max cell-size ratio, live cell count, and for the
maintained arm the rows resharded by each pass (the bounded-work claim —
compare against corpus size).

Run: python tools/stress_ivf_maintain.py   (prints a table — paste into
STRESS.md)
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from coldata_spark.operators import ivf
from coldata_spark.session import get_spark
from coldata_spark.tables import load

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
N_BATCHES = int(os.environ.get("IVF_MAINT_BATCHES", "12"))
MAINT_EVERY = int(os.environ.get("IVF_MAINT_EVERY", "4"))
RATIO = 3.0


def run_arm(spark, emb, maintained: bool, workdir: str):
    assigned, centroids = ivf.build_ivf(emb, nlist=8)
    path = os.path.join(workdir, "maintained" if maintained else "plain")
    ivf.write_ivf(assigned, path)
    ivf.save_index(path, assigned, centroids, "COSINE")
    index = ivf.open_index(spark, path)
    hot_cid = (
        assigned.groupBy("centroid_id").count().orderBy(F.desc("count")).first()
    ).centroid_id
    seed = assigned.filter(F.col("centroid_id") == hot_cid).select(
        "vec_id", "embedding"
    )
    corpus_n = emb.count()
    rows = []
    for i in range(1, N_BATCHES + 1):
        batch = seed.select(
            (F.col("vec_id") + 1_000_000 * i).alias("vec_id"), "embedding"
        )
        index = ivf.append_to_index(index, batch)
        corpus_n += batch.count()
        resharded = 0
        t_m = 0.0
        if maintained and i % MAINT_EVERY == 0:
            t0 = time.perf_counter()
            index, report = ivf.maintain_ivf(index, max_cell_ratio=RATIO)
            ivf.vacuum_ivf(index)
            t_m = time.perf_counter() - t0
            resharded = report["rows_resharded"]
        audit = ivf.audit_ivf_cells(index).collect()
        maxr = max(r.ratio for r in audit)
        rows.append(
            {
                "batch": i,
                "corpus": corpus_n,
                "cells": len(audit),
                "max_ratio": round(maxr, 2),
                "resharded": resharded,
                "maint_s": round(t_m, 2),
            }
        )
    return rows


def main():
    spark = get_spark(app_name="stress_ivf_maintain")
    emb = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    with tempfile.TemporaryDirectory() as workdir:
        plain = run_arm(spark, emb, maintained=False, workdir=workdir)
        maint = run_arm(spark, emb, maintained=True, workdir=workdir)
    print(
        f"\nsf={SF_DIR} nlist=8 batches={N_BATCHES} "
        f"maintain-every={MAINT_EVERY} ratio-threshold={RATIO}"
    )
    print(
        "batch | corpus | unmaint cells | unmaint max_ratio | "
        "maint cells | maint max_ratio | resharded | maint_s"
    )
    for p, m in zip(plain, maint):
        print(
            f"{p['batch']:5d} | {p['corpus']:6d} | {p['cells']:13d} | "
            f"{p['max_ratio']:17.2f} | {m['cells']:11d} | "
            f"{m['max_ratio']:15.2f} | {m['resharded']:9d} | {m['maint_s']}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
