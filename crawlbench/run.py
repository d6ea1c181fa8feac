"""The repository benchmark: one workload per process on local[4].

Usage (from the repository root):

    python3 crawlbench/run.py --workload wave_bench --seed 1 --seconds 10 --trace 0

Runs the workload's set-up and warm-up operations, then timed operations
until ``--seconds`` have passed (at least one). Every operation, warm-ups
included, passes a correctness gate outside its timed window;
a failed gate or an exception counts in ``failed``. With ``--trace 1`` one
more operation runs with spans and the Spark event log on, then one
without, and the per-layer metrics named in BENCHMARK.json are reported
instead of the end-to-end ones. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

Everything the run writes (Spark scratch, the store, the event log, temp
files) goes under ``.crawlbench_work/`` in the repository root and is
removed at exit. ``refs.json`` in this directory holds the committed
wave_bench outputs per seed (``make_refs.py`` writes it). Exits non-zero
without a result when the program under test (``brink_spark/``) is not next
to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REFS_PATH = os.path.join(HERE, "refs.json")


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def load_refs() -> dict:
    """Committed reference outputs: ``{workload: {seed: signature}}``."""
    if not os.path.exists(REFS_PATH):
        return {}
    with open(REFS_PATH) as fh:
        return json.load(fh)


def start_session(work: str, trace: bool, cores: int):
    from brink_spark.session import get_spark

    if trace:
        os.environ["SPARK_GRAFT_EVENTLOG"] = os.path.join(work, "eventlog")
    tmp = os.path.join(work, "tmp")
    return get_spark(
        f"local[{cores}]",
        app_name="crawlbench",
        extra={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the heap (SPARK_DRIVER_MEM) committed and touched at start, so
            # peak RSS does not depend on when the collector grows the heap
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Xms{os.environ['SPARK_DRIVER_MEM']} "
                "-XX:+AlwaysPreTouch"
            ),
            # plain JSON lines: the standard library cannot read zstd
            "spark.eventLog.compress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def run_op(wl, attempted_failed: list[int], tracer=None):
    """One operation plus its correctness gate; returns the record or None."""
    attempted_failed[0] += 1
    try:
        rec = wl.operation(tracer)
        problems = wl.check(rec)
    except Exception:
        traceback.print_exc()
        problems, rec = ["operation raised"], None
    if problems:
        attempted_failed[1] += 1
        log(f"{wl.name}: FAILED: {problems}")
        return None
    log(f"{wl.name}: op ok in {rec['wall']:.2f}s")
    return rec


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "brink_spark")):
        log(f"brink_spark/ not found next to {HERE}: nothing to benchmark")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    work = enter_workdir(args.workload)
    try:
        return _run(args, wanted, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def enter_workdir(name: str) -> str:
    """Create this process's scratch directory under ``.crawlbench_work/``,
    point temp files and Spark's local dirs at it, and make the program and
    the benchmark importable. The caller removes the directory."""
    work = os.path.join(ROOT, ".crawlbench_work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the environment's scratch dirs take precedence over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    sys.path[:0] = [HERE, ROOT]
    sys.path.append(os.path.join(ROOT, "tools"))  # check_queries' comparison rules
    return work


def _run(args, wanted, work) -> int:
    import workloads
    from tracing import EventLog, Tracer

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}")
        return 2
    t0 = time.perf_counter()
    spark = start_session(work, bool(args.trace), workloads.CORES)
    session_s = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    refs = load_refs().get(args.workload, {})
    wl = workloads.WORKLOADS[args.workload](spark, args.seed, work, refs)
    counts = [0, 0]  # attempted, failed
    metrics: dict[str, float] = {}
    try:
        setup = {"setup.session_s": session_s, **wl.setup()}
        # JIT, code generation, Python workers
        warm = [run_op(wl, counts) for _ in range(wl.WARMUP_OPS)]
        setup["setup.warmup_s"] = sum(r["wall"] for r in warm if r)
        log("set-up: " + ", ".join(f"{k}={v:.2f}s" for k, v in setup.items()))
        recs = []
        deadline = time.perf_counter() + args.seconds
        while True:
            rec = run_op(wl, counts)
            if rec is not None:
                recs.append(rec)
            if "peak_rss_mb" not in metrics:
                # after the first timed operation, so the figure does not
                # grow with the number of operations that fit in --seconds
                py_mb, jvm_mb = rss_mb(os.getpid()), rss_mb(jvm_pid)
                log(f"peak RSS: python {py_mb:.0f} MiB, JVM {jvm_mb:.0f} MiB")
                metrics["peak_rss_mb"] = py_mb + jvm_mb
            if time.perf_counter() >= deadline:
                break
        if recs:
            metrics.update(wl.end_to_end(recs))
        metrics["setup_s"] = sum(setup.values())
        metrics.update(setup)
        traced = None
        if args.trace:
            tracer = Tracer(spark)
            wl.install(tracer)
            try:
                traced = run_op(wl, counts, tracer)
            finally:
                tracer.restore()
            if traced is not None:
                # before the next operation replaces the store it read
                metrics.update(wl.layer_metrics(traced, tracer))
            # against the untraced operation right after it: the JVM is still
            # warming, so an earlier one would be slower on its own
            after = run_op(wl, counts)
            if traced and after:
                metrics["trace.overhead_frac"] = traced["wall"] / after["wall"] - 1.0
    finally:
        stop_session(spark)
    if args.trace and traced is not None:
        ev = EventLog.read(os.path.join(work, "eventlog")).window(traced["t0"], traced["t1"])
        metrics.update(wl.eventlog_metrics(ev, traced))
        metrics.update(ev.executor_metrics(traced["wall"], workloads.CORES))
        problems = wl.engagement(tracer, metrics)
        if problems:
            counts[1] += 1
            log(f"{wl.name}: mechanism check FAILED: {problems}")

    out = {}
    for m in wanted:
        # a layer the workload never touches measured nothing: 0 by definition
        value = metrics.get(m["name"], 0.0 if args.trace else None)
        if value is None:
            log(f"metric {m['name']} was not measured")
            counts[1] += 1
            value = 0.0
        out[m["name"]] = {"value": float(value), "unit": m["unit"]}
    print(
        json.dumps(
            {
                "correct": counts[1] == 0,
                "attempted": counts[0],
                "failed": counts[1],
                "metrics": out,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
