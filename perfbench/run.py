#!/usr/bin/env python3
"""Benchmark runner for minivectordb_spark.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Runs one workload (see ``workloads.py``) as a single closed-loop client on
``local[<nproc>]`` for at least ``--seconds`` of measured operations, in
whole cycles of the workload's operation mix, checks every
result, and prints two JSON lines: the run environment, then the result
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json; ``--trace 1`` wraps the package's
public functions, reads Spark's status store after every operation and
reports the per-layer metrics instead, writing every span and job to
``.perfbench/out/``.

Everything a run writes (inputs, tables, indexes, Spark scratch, temp
files) lives under ``.perfbench/run-<pid>/`` in the checkout and is removed
at exit.  ``--smoke`` runs tiny inputs and a fixed, small number of
operations that reaches every operation kind, ignoring ``--seconds``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import re
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# input sizes per workload: (measured run, --smoke)
SIZES = {
    "docs": (5000, 500),
    "index_docs": (1000, 200),
    "pipeline_sf": (0.01, 0.001),
}


@dataclass
class Ctx:
    seed: int
    seconds: float
    max_ops: int
    work: str
    data: str
    docs: int
    index_docs: int
    pipeline_sf: float
    spark: object = None
    tracer: object = None
    oracle_compare: object = None


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    return p.parse_args(argv)


def isolate(run_dir: Path) -> None:
    """Point every temp-file user of the process and its children at the
    run's own directory, and let executor Python workers import the
    package from the checkout."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    # the short-lived JVM that spark-submit starts to build its command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def start_spark(run_dir: Path, cores: int):
    """``get_spark(cores=nproc)`` with only the run's scratch locations
    added.  The JVM's stderr goes to a log file (its ERROR lines are
    counted); Python's own stderr is left alone."""
    from minivectordb_spark.session import get_spark

    local = run_dir / "spark-local"
    local.mkdir()
    conf = {
        "spark.local.dir": str(local),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData",
    }
    log = open(run_dir / "jvm.log", "ab")
    saved = os.dup(2)
    os.dup2(log.fileno(), 2)
    try:
        t0 = time.perf_counter()
        spark = get_spark(cores=cores, extra_conf=conf)
        spark.range(1).count()
        return spark, time.perf_counter() - t0
    finally:
        os.dup2(saved, 2)
        os.close(saved)
        log.close()


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(d))
            except (OSError, IndexError, ValueError):
                continue
    return out


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for it and its Python
    workers to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in kids:
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)


def vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def source_digest() -> str:
    h = hashlib.sha256()
    files = sorted((ROOT / "minivectordb_spark").rglob("*.py")) + [ROOT / "__spark_entry__.py"]
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    """HEAD of the checkout, when the checkout is itself a git repository."""
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2 or Path(lines[0]).resolve() != ROOT:
        return None
    return lines[1]


def load_oracle_compare():
    """The canonical Spark-vs-DuckDB frame compare of tools/check_oracle.py
    (imported without letting it change ``sys.path``)."""
    saved = list(sys.path)
    try:
        sys.path.insert(0, str(ROOT / "tools"))
        import check_oracle
    finally:
        sys.path[:] = saved
    return check_oracle.compare


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _p90(xs) -> float:
    if len(xs) < 2:
        return float(xs[0]) if xs else 0.0
    return float(statistics.quantiles(xs, n=10)[8])


def end_to_end(primary_walls, ops, setup_s) -> dict:
    """Median latency of the primary operation (a run has too few for a
    higher percentile with ten samples beyond it), and the rate of every
    operation of the loop over the time they took."""
    busy_s = sum(o["wall_s"] for o in ops)
    return {
        "op_p50_ms": (_median(primary_walls) * 1000.0, "ms"),
        "ops_per_s": (len(ops) / busy_s if busy_s else 0.0, "1/s"),
        "setup_s": (setup_s, "s"),
    }


SPAN_MS = (
    "embedder.embed", "filters.compile_filters", "scoring.knn", "table.find_most_similar",
    "autocut.apply_autocut", "rerank.hybrid_rerank_results", "table.find_most_similar_batch",
    "scoring.knn_batch", "durable.store_embeddings_batch", "durable.upsert_embeddings_batch",
    "durable.delete_embeddings_batch", "table.load_durable", "operators.dedup.dedup_against_indexed",
    "operators.dedup.update_dedup_index", "fsio.publish_index_manifest",
)


def per_layer(tracer, ops, workload, log_errors, rss_mb) -> dict:
    """Per-layer metrics over the operations ``ops`` that succeeded."""
    from workloads import MODULES

    n = max(1, len(ops))
    jobs = [j for o in ops for j in o["spark"]["jobs"]]

    def total(f):
        return sum(j[f] for j in jobs)

    m = {
        "spark.jobs_per_op": (len(jobs) / n, "count"),
        "spark.stages_per_op": (total("stages") / n, "count"),
        "spark.tasks_per_op": (total("numCompleteTasks") / n, "count"),
        "spark.driver_gap_ms_per_op": (sum(o["spark"]["driver_gap_s"] for o in ops) * 1000.0 / n, "ms"),
        "spark.executor_run_ms_per_op": (total("executorRunTime") / n, "ms"),
        "spark.executor_cpu_ms_per_op": (total("executorCpuTime") / 1e6 / n, "ms"),
        "spark.gc_ms_per_op": (total("jvmGcTime") / n, "ms"),
        "spark.shuffle_read_bytes_per_op": (total("shuffleReadBytes") / n, "bytes"),
        "spark.shuffle_write_bytes_per_op": (total("shuffleWriteBytes") / n, "bytes"),
        "spark.spill_bytes_per_op": ((total("memoryBytesSpilled") + total("diskBytesSpilled")) / n, "bytes"),
        "spark.input_bytes_per_op": (total("inputBytes") / n, "bytes"),
        "spark.output_bytes_per_op": (total("outputBytes") / n, "bytes"),
        "spark.failed_tasks": (float(sum(j["numFailedTasks"] for o in tracer.ops for j in o["spark"]["jobs"])), "count"),
        "spark.log_errors": (float(log_errors), "count"),
    }

    # self time of each wrapped function, median per call
    in_ops = {o["id"] for o in ops}
    spans = [s for s in tracer.spans if s.op in in_ops]
    for name in SPAN_MS:
        selfs = [s.self_s for s in spans if s.name == name]
        m[f"{name}_ms"] = (_median(selfs) * 1000.0, "ms")

    # jobs and rows scanned inside find_most_similar, per call / per result
    by_op = {o["id"]: o for o in ops}
    fms = [s for s in spans if s.name == "table.find_most_similar"]
    fms_jobs, examined, results = 0, 0, 0
    for s in fms:
        inside = [j for j in by_op[s.op]["spark"]["jobs"]
                  if j["submit"] is not None and s.start - 0.001 <= j["submit"] <= s.end + 0.001]
        fms_jobs += len(inside)
        examined += sum(j["inputRecords"] for j in inside)
        results += by_op[s.op].get("results", 0)
    m["table.find_most_similar_jobs"] = (fms_jobs / len(fms) if fms else 0.0, "count")
    m["table.rows_examined_per_result"] = (examined / results if results else 0.0, "ratio")

    units = {"durable.buckets_rewritten_per_op": "count", "durable.bytes_written_per_user_byte": "ratio",
             "durable.bytes_per_live_byte": "ratio", "op.search_s_per_cycle": "s", "op.ingest_s_per_cycle": "s"}
    wl = dict.fromkeys(units, 0.0)
    wl.update(workload.layer_metrics(ops))
    for k, v in wl.items():
        m[k] = (v, units[k])

    # latency of each kind of operation and of each phase of one
    def p50_of(kind=None, phase=None):
        xs = [o["phases"][phase] if phase else o["wall_s"] for o in ops
              if (kind is None or o["kind"] == kind) and (phase is None or phase in o.get("phases", {}))]
        return _median(xs) * 1000.0

    m["op.query_p50_ms"] = (p50_of("query"), "ms")
    m["op.batch_search_p50_ms"] = (p50_of("batch_search"), "ms")
    for ph in ("write", "read_after_write"):
        m[f"op.{ph}_p50_ms"] = (p50_of("commit", ph), "ms")
    m["op.index_cycle_p50_ms"] = (p50_of("index_cycle"), "ms")

    # operator modules: the queries of a pass that call the module, median
    # over whole passes
    passes = workload.whole_passes(ops) if hasattr(workload, "whole_passes") else []
    for module in MODULES:
        walls, njobs, run_ms = [], [], []
        for p in passes:
            mine = [o for o in p if module in o["modules"]]
            walls.append(sum(o["wall_s"] for o in mine))
            njobs.append(sum(len(o["spark"]["jobs"]) for o in mine))
            run_ms.append(sum(j["executorRunTime"] for o in mine for j in o["spark"]["jobs"]))
        m[f"operators.{module}.wall_s"] = (_median(walls), "s")
        m[f"operators.{module}.jobs"] = (_median(njobs), "count")
        m[f"operators.{module}.executor_run_ms"] = (_median(run_ms), "ms")

    primary = workload.primary_walls(ops)
    m["trace.op_p50_ms"] = (_median(primary) * 1000.0, "ms")
    m["trace.op_p90_ms"] = (_p90(primary) * 1000.0, "ms")
    m["process.peak_rss_mb"] = (rss_mb, "MB")
    m["trace.overhead_ms_per_op"] = (tracer.overhead_s * 1000.0 / n, "ms")
    return m


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------


def execute(args, run_dir: Path, out_dir: Path, env: dict) -> dict:
    import workloads
    from spans import Tracer

    smoke = 1 if args.smoke else 0
    ctx = Ctx(
        seed=args.seed,
        seconds=args.seconds,
        max_ops=10**9,
        work=str(run_dir / "work"),
        data=str(run_dir / "data"),
        **{k: v[smoke] for k, v in SIZES.items()},
    )
    os.makedirs(ctx.work)
    os.makedirs(ctx.data)
    wl = workloads.WORKLOADS[args.workload](ctx)
    if args.smoke:
        ctx.seconds, ctx.max_ops = float("inf"), wl.smoke_ops

    t0 = time.perf_counter()
    env["inputs"] = wl.prepare()
    env["inputs_dir"] = os.path.relpath(ctx.data, ROOT)
    env["generate_s"] = time.perf_counter() - t0

    cores = len(os.sched_getaffinity(0))
    env["cores_used"] = cores
    ctx.spark, session_s = start_spark(run_dir, cores)
    try:
        ctx.oracle_compare = load_oracle_compare()
        ctx.tracer = Tracer(ctx.spark, bool(args.trace))
        ctx.tracer.install()
        env["spark_conf"] = dict(sorted(ctx.spark.sparkContext.getConf().getAll()))
        env["spark_version"] = ctx.spark.version

        reps = []
        for rep in range(wl.setup_reps):
            t0 = time.perf_counter()
            wl.setup(rep)
            reps.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t0
        ctx.tracer.reset()
        setup_s = session_s + statistics.median(reps) + warmup_s
        env["setup"] = {"session_s": session_s, "setup_reps_s": reps, "warmup_s": warmup_s}

        raised = set()
        i = 0
        t_start = time.perf_counter()
        while not wl.finished(time.perf_counter() - t_start, i):
            n_before = len(ctx.tracer.ops)
            try:
                wl.step(i)
            except Exception:  # one failed operation must not end the run
                traceback.print_exc(file=sys.stdout)
                raised.add(ctx.tracer.ops[-1]["id"] if len(ctx.tracer.ops) > n_before else f"step{i}")
            i += 1
        env["loop_s"] = time.perf_counter() - t_start
        ctx.tracer.uninstall()

        wrong = set(wl.check())
        failed = raised | wrong
        ok_ops = [o for o in ctx.tracer.ops if o["id"] not in failed]
        primary = wl.primary_walls(ok_ops)
        env["ops"] = len(ctx.tracer.ops)
        env["failed_ops"] = sorted(map(str, failed))
        if getattr(wl, "mismatches", None):
            env["oracle_mismatches"] = wl.mismatches

        rss_mb = (vm_hwm_kb("self") + vm_hwm_kb(ctx.spark.sparkContext._gateway.proc.pid)) / 1024.0
        with open(run_dir / "jvm.log", errors="replace") as f:
            log_errors = sum(1 for line in f if re.search(r"\bERROR\b", line))

        if args.trace:
            metrics = per_layer(ctx.tracer, ok_ops, wl, log_errors, rss_mb)
        else:
            metrics = end_to_end(primary, ok_ops, setup_s)
        env["primary_ops"] = len(primary)
        env["peak_rss_mb"] = rss_mb
        env["end_to_end_view"] = {k: v[0] for k, v in end_to_end(primary, ok_ops, setup_s).items()}
        result = {
            "correct": not failed,
            "attempted": i,
            "failed": len(failed),
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }
        ctx.tracer.dump(str(out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
                        {"env": env, "result": result})
        return result
    finally:
        stop_spark(ctx.spark)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "minivectordb_spark" / "__init__.py").is_file() or not (ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: no minivectordb_spark sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    base = ROOT / ".perfbench"
    run_dir = base / f"run-{os.getpid()}"
    out_dir = base / "out"
    shutil.rmtree(run_dir, ignore_errors=True)
    out_dir.mkdir(parents=True, exist_ok=True)
    isolate(run_dir)
    import numpy
    import pyarrow
    import pyspark

    env = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "smoke": args.smoke,
        "nproc": os.cpu_count(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "git_commit": git_commit(),
        "source_digest": source_digest(),
        "client": "closed loop, 1 client",
    }
    try:
        result = execute(args, run_dir, out_dir, env)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"env": {k: v for k, v in env.items() if k != "spark_conf"}}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
