"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Builds the workload's inputs from the seed,
sets it up SETUP_REPS times (median reported as ``setup_s``), runs its
untimed output checks once, then runs ops in a closed loop for
``--seconds``.  The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` -- the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with ``--trace 1``.
Lines before it, prefixed ``#``, carry workload details.  All scratch
output lives under ``.perfbench_tmp/`` and is removed at exit; spans of a
traced run are written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# The first set-up pays the JVM's warm-up.  More set-ups would steady the
# median, but a search set-up is a whole cold build, and the run budget
# goes to a median over several ops instead.
SETUP_REPS = 2
_REQUIRED = (
    "coldata_spark/runner.py", "coldata_spark/search.py", "tools/replicate.py",
    "tests/oracle_utils.py",
)


class Ctx:
    """What every workload shares: session, seed, scratch dir, tracer."""

    def __init__(self, spark, seed, tmp, nproc, tracer):
        self.spark = spark
        self.seed = seed
        self.tmp = tmp
        self.nproc = nproc
        self.tracer = tracer


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _task_slots() -> int:
    """Spark task threads: half the cores.  The other half runs what every
    task waits on -- the Python workers of the pandas UDFs, the JVM's
    compiler and collector threads and this driver -- so a run measures the
    program rather than the scheduler (ops were faster and steadier this
    way than at ``local[cores]`` on a 4-core host)."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def _isolate(tmp: str, nproc: int) -> None:
    """Point every scratch location of this process, the JVM and the Python
    workers into ``tmp``; let workers import the package from any cwd."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    tempfile.tempdir = None


def _adopt_orphans() -> None:
    """Become the reaper of this process tree (Linux ``PR_SET_CHILD_SUBREAPER``):
    a Python worker whose JVM parent exits is re-parented here, not to init,
    so ``_end_processes`` can wait for it."""
    try:
        prctl = ctypes.CDLL(None, use_errno=True).prctl
    except (OSError, AttributeError):  # not Linux: orphans go to init
        return
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def _child_pids() -> list[int]:
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == me:
            out.append(int(name))
    return out


def _end_processes() -> None:
    """Stop the JVM this run launched and every process left under it, and
    wait until each has ended.  The JVM exits when its stdin closes; what
    does not end on its own is terminated, then killed."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        with contextlib.suppress(Exception):
            gw.shutdown()
        if proc is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = _child_pids()
        for pid in pids:
            with contextlib.suppress(OSError):
                os.kill(pid, sig)
        deadline = time.monotonic() + 10
        while pids and time.monotonic() < deadline:
            for pid in list(pids):
                with contextlib.suppress(ChildProcessError):
                    if os.waitpid(pid, os.WNOHANG)[0] == 0:
                        continue
                pids.remove(pid)
            time.sleep(0.05)
        if not pids:
            break


def _session(tmp: str, nproc: int):
    from coldata_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "1g",
            "spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        },
    )


def _tail(xs: list[float]) -> tuple[float, float]:
    """Highest percentile with at least 10 samples beyond it, and its value
    (the median when there are fewer than 21 samples)."""
    s = sorted(xs)
    n = len(s)
    i = max((n - 1) // 2, n - 11)
    return 100.0 * (i + 1) / n, s[i]


def _layer_metrics(w, tracer, plain: list, persisted: list[int],
                   traced_s: list[float], plain_s: list[float]) -> dict:
    L = w.layers
    busy = tracer.busy_s
    chunks = L.mean("chunk.chunks")
    attempts = L.mean("crawl.fetch_attempts")
    results = L.mean("ivf_search.results")
    embed_s = busy("embed_documents")

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    m = {
        "crawl.busy_s": busy("crawl_all_sources"),
        "crawl.fetch_attempts": attempts,
        "crawl.docs_per_attempt": ratio(L.mean("crawl.docs"), attempts),
        "fold.busy_s": busy("fold_once"),
        "fold.rows_written": L.mean("fold.rows_written"),
        "fold.bytes_written_per_new_byte": ratio(
            L.mean("fold.bytes_written"), L.mean("fold.new_bytes")
        ),
        "chunk.busy_s": busy("chunk"),
        "chunk.chunks": chunks,
        "embed.busy_s": embed_s,
        "embed.chunks_per_s": ratio(chunks, embed_s),
        "embed.chunks_per_new_doc": ratio(chunks, L.mean("embed.new_docs")),
        "embed_queries.busy_s": busy("embed_queries"),
        "ivf_build.kmeans_s": busy("build_ivf"),
        "ivf_build.write_s": busy("write_ivf"),
        "ivf_build.index_bytes_per_corpus_byte": ratio(
            L.mean("index.bytes"), L.mean("corpus.bytes")
        ),
        "ivf_search.busy_s": busy("search_ivf"),
        "ivf_search.cells_probed": L.mean("ivf_search.cells_probed"),
        "ivf_search.rows_scanned_per_result": ratio(
            L.mean("ivf_search.rows_scanned"), results
        ),
        "ivf_search.recall_at_4": L.mean("ivf_search.recall_at_4"),
        "join_back.busy_s": busy("join_back"),
        "jobs_per_op": statistics.median(c.jobs for c in plain),
        "stages_per_op": statistics.median(c.stages for c in plain),
        "tasks_per_op": statistics.median(c.tasks for c in plain),
        "persisted_rdds_after_op": max(persisted),
        "trace_overhead_s": statistics.median(traced_s) - statistics.median(plain_s),
    }
    from perfbench.workloads import DATA_OPS_FAMILY, JOIN_FAMILY

    per_query = getattr(w, "per_query", {})
    for q in JOIN_FAMILY + DATA_OPS_FAMILY:
        short = q.split("_", 1)[0]
        spans = tracer.by_name(q)
        m[f"registry_mix.{short}_s"] = (
            statistics.median(per_query[q]) if per_query.get(q) else 0.0
        )
        m[f"registry_mix.{short}.shuffle_bytes"] = (
            statistics.median(s.counts.shuffle_bytes for s in spans) if spans else 0
        )
    fam = getattr(w, "family_s", None)
    m["registry_mix.joins_s"] = fam(JOIN_FAMILY) if fam else 0.0
    m["registry_mix.data_ops_s"] = fam(DATA_OPS_FAMILY) if fam else 0.0
    return m


def run(args, tmp: str) -> dict:
    from perfbench.trace import JobGroups, PeakRss, Tracer
    from perfbench.workloads import WORKLOADS, traced_layers

    nproc = _task_slots()
    with PeakRss() as rss:
        spark = _session(tmp, nproc)
        try:
            groups = JobGroups(spark)
            tracer = Tracer(groups, enabled=bool(args.trace))
            ctx = Ctx(spark, args.seed, tmp, nproc, tracer)
            w = WORKLOADS[args.workload](ctx)
            setup_s = []
            for rep in range(SETUP_REPS):
                traced = bool(args.trace) and w.trace_setup and rep == SETUP_REPS - 1
                tracer.op = -1
                t0 = time.perf_counter()
                with traced_layers(w, {}, on=traced), tracer.span("setup", on=traced):
                    w.setup()
                setup_s.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            attempted, failed = 1, 0 if w.check() else 1
            check_s = time.perf_counter() - t0
            spark.catalog.clearCache()

            per_round = w.ops_per_round
            plain_s, traced_s, plain_counts, persisted = [], [], [], []
            deadline = time.perf_counter() + args.seconds
            i = 0
            # traced, at least a plain round and a traced one
            min_ops = max(w.min_rounds, 2 if args.trace else 1) * per_round
            while time.perf_counter() < deadline or i < min_ops:
                traced = bool(args.trace) and (i // per_round) % 2 == 1
                tracer.op = i
                try:
                    if args.trace and not traced:
                        with groups.group("op") as counts:
                            dt, ok = w.op(False)
                        plain_counts.append(counts)
                    else:
                        dt, ok = w.op(traced)
                except Exception:
                    traceback.print_exc()
                    dt, ok = None, False
                attempted += 1
                failed += not ok
                if dt is not None:
                    (traced_s if traced else plain_s).append(dt)
                persisted.append(spark.sparkContext._jsc.getPersistentRDDs().size())
                spark.catalog.clearCache()
                i += 1
            op_s = w.finish(plain_s)
            if args.trace:
                metrics = _layer_metrics(w, tracer, plain_counts, persisted, traced_s, plain_s)
                tracer.dump(os.path.join(
                    ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json"
                ))
            else:
                metrics = {"op_s": op_s}
            pct, tail = _tail(plain_s)
            w.detail.update(
                ops=len(plain_s), op_s_p50=statistics.median(plain_s),
                op_s_tail=tail, tail_percentile=pct, setup_runs_s=setup_s,
                check_s=check_s, op_times_s=plain_s,
            )
        finally:
            spark.stop()
    if not args.trace:
        metrics["setup_s"] = statistics.median(setup_s)
        metrics["peak_rss_mb"] = rss.peak / (1 << 20)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in spec}
    if set(units) != set(metrics):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {set(units) ^ set(metrics)}")
    print("# " + json.dumps({"workload": args.workload, **w.detail}), flush=True)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def main(argv=None) -> int:
    args = _args(argv)
    missing = [p for p in _REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: package sources missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=base)
    _adopt_orphans()
    # a terminated run still stops its processes and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        _isolate(tmp, _task_slots())
        result = run(args, tmp)
    finally:
        _end_processes()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
