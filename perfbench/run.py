#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload refresh --seed 1 --seconds 10 --trace 0

Run from the repository root. One run starts Spark on ``local[4]``
with a 4 GiB driver heap and sets up the workload (``setup_s``: from
process start until ready), times one cold op in that fresh JVM, then
times warm ops in a closed loop for ``--seconds`` seconds (at least
one group of ``warm_ops``), checks every output against
its DuckDB reference and prints, as the last line of standard output,
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` reports the end-to-end metrics declared in
``BENCHMARK.json``; ``--trace 1`` wraps the package's layers and
reports the per-layer metrics instead. The line before it is a JSON
report with the environment, every sample and every failure.

Generated inputs and reference digests are cached in
``perfbench/.cache``; a run that finds them missing builds them first
in a child process (``--fill-cache``), whose time is not part of
``setup_s``. Per-run files live in ``perfbench/.work`` and are
deleted when the run ends.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
HEAP = "4g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fill-cache", action="store_true",
                    help="only build the cached inputs and references")
    return ap.parse_args(argv)


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def peak_rss_mb(spark) -> float:
    """High-water resident memory of this Python process plus the
    JVM it drives (VmHWM from /proc)."""

    def hwm_kb(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    jvm = spark.sparkContext._gateway.proc.pid
    return (hwm_kb("self") + hwm_kb(jvm)) / 1024.0


def start_session(work: str, trace: bool):
    from nycdb_k8s_loader_spark import session

    os.makedirs(work, exist_ok=True)
    conf = {
        "spark.driver.memory": HEAP,
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
            f"-Dderby.system.home={work} -XX:-UsePerfData"
        ),
    }
    if trace:
        # the status store must keep every job of an op for counting
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    spark = session.get_spark(
        app_name="perfbench",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        warehouse_dir=os.path.join(work, "warehouse"),
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return fields[7], sum(fields)


class JobCounter:
    """Spark jobs and completed tasks launched between two calls,
    read from the scheduler's job counter and the status tracker."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.mark = self._next()

    def _next(self) -> int:
        return self.sc._jsc.sc().dagScheduler().nextJobId()

    def take(self) -> tuple[int, int]:
        end = self._next()
        tracker = self.sc.statusTracker()
        tasks = 0
        for job in range(self.mark, end):
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                st = tracker.getStageInfo(stage)
                tasks += st.numCompletedTasks if st else 0
        jobs, self.mark = end - self.mark, end
        return jobs, tasks


def stop_spark() -> None:
    """Stop Spark and wait for the JVM (and with it the Python
    workers it forked) to exit; it exits when its stdin closes."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def environment(spark) -> dict:
    import duckdb
    import pyspark

    sc = spark.sparkContext
    return {
        "sc.master": sc.master,
        "sc.defaultParallelism": sc.defaultParallelism,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "nproc": len(os.sched_getaffinity(0)),
        "driver_heap": spark.conf.get("spark.driver.memory"),
        "spark": pyspark.__version__,
        "python": sys.version.split()[0],
        "duckdb": duckdb.__version__,
    }


def run(args, work: str) -> tuple[dict, dict]:
    from perfbench import tracing
    from perfbench.workloads import WORKLOADS, Cache

    tracer = None
    if args.trace:
        tracer = tracing.Tracer()
        tracing.install(tracer)
    cache = Cache(os.path.join(HERE, ".cache"), ROOT)
    wl = WORKLOADS[args.workload](cache, args.seed)

    fill_s = 0.0
    if not wl.cached():
        t_fill = time.perf_counter()
        fill_cache(args)
        fill_s = time.perf_counter() - t_fill
    wl.locate()
    spark = start_session(work, bool(args.trace))
    wl.prepare(spark, work)
    setup_s = time.perf_counter() - PROCESS_START - fill_s
    phases = {"ready": time.perf_counter() - PROCESS_START}

    counter = JobCounter(spark) if tracer else None
    ops = []

    # a traced run times its warm ops in blocks of four, traced,
    # untraced, untraced, traced, so warm-up and drift fall on both
    # sides of the overhead estimate (and on refresh each side holds
    # an odd and an even day)
    group = 4 if tracer else wl.warm_ops

    def one_op(index: int) -> None:
        traced = tracer is not None and (
            index == 0 or (index - 1) % 4 in (0, 3))
        if tracer is not None:
            tracer.enabled = traced
            tracer.op = str(index)
            counter.take()
        rec = {"index": index, "traced": traced, "error": None}
        t0 = time.perf_counter()
        try:
            with tracing.maybe_span(tracer, "op"):
                rec.update(wl.op(tracer))
        except Exception:  # noqa: BLE001 - a failed op is counted
            rec["error"] = traceback.format_exc(limit=3)
        rec["seconds"] = time.perf_counter() - t0
        if counter is not None:
            rec["spark_jobs"], rec["spark_tasks"] = counter.take()
            tracer.enabled = False
        if rec["error"] is None:
            try:
                problems = wl.check_op(rec)
            except Exception:  # noqa: BLE001 - a failed check is counted
                problems = [traceback.format_exc(limit=3)]
            if problems:
                rec["error"] = "; ".join(problems)
        ops.append(rec)

    steal0, total0 = cpu_jiffies()
    one_op(0)
    # whole groups only: refresh's groups pair an odd and an even day
    deadline = time.perf_counter() + args.seconds
    while len(ops) == 1 or time.perf_counter() < deadline:
        for _ in range(group):
            one_op(len(ops))
    rss = peak_rss_mb(spark)
    steal1, total1 = cpu_jiffies()
    # hypervisor steal during the timed ops: other tenants' load,
    # which moves every timing of the run
    report = {"phases_s": phases,
              "steal_share": (steal1 - steal0) / max(total1 - total0, 1)}
    phases["ops"] = time.perf_counter() - PROCESS_START

    # untimed checks run after the timed ops, so they warm nothing
    # the cold op pays for
    try:
        final = wl.final_check()
    except Exception:  # noqa: BLE001 - a failed check is counted
        final = [traceback.format_exc(limit=3)]
    if final:
        # every op ran the same code on the same inputs
        for rec in ops:
            rec["error"] = rec["error"] or "; ".join(final)
    failures = final
    phases["final_check"] = time.perf_counter() - PROCESS_START

    if tracer is not None:
        spans = os.path.join(
            HERE, ".cache", f"spans-{args.workload}-{args.seed}.json")
        tracer.dump(spans)
        report["spans_file"] = os.path.relpath(spans, ROOT)
    env = environment(spark)
    env.update(wl.environment())
    env["seed"] = args.seed
    report.update({
        "workload": args.workload,
        "environment": env,
        "setup_s": setup_s,
        "cache_fill_s": fill_s,
        "ops": ops,
        "failures": failures,
    })
    phases["environment"] = time.perf_counter() - PROCESS_START
    return report, summarize(report, tracer, setup_s, rss)


def fill_cache(args) -> None:
    """Build the cached inputs and references in a child process, so
    the JVM this run times has run nothing before its cold op."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload",
           args.workload, "--seed", str(args.seed), "--seconds", "0",
           "--fill-cache"]
    # the child's progress goes to stderr: stdout carries the result
    subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, check=True,
                   timeout=1200)


def fill_main(args, work: str) -> None:
    from perfbench.workloads import WORKLOADS, Cache

    cache = Cache(os.path.join(HERE, ".cache"), ROOT)
    wl = WORKLOADS[args.workload](cache, args.seed)
    wl.fill(start_session(work, False))


def summarize(report, tracer, setup_s, rss) -> dict:
    ops = report["ops"]
    good = [r for r in ops[1:] if r["error"] is None]
    warm = [r["seconds"] for r in good if not r["traced"]]
    report["op_samples_s"] = warm
    report["peak_rss_mb"] = rss
    if tracer is None:
        return {
            "setup_s": (setup_s, "s"),
            "cold_op_s": (ops[0]["seconds"], "s"),
            "op_p50_s": (statistics.median(warm) if warm else math.nan, "s"),
        }
    from perfbench.layers import layer_metrics

    metrics = layer_metrics(tracer, report)
    metrics["peak_rss_mb"] = (rss, "MB")
    metrics["error_rate"] = (
        sum(r["error"] is not None for r in ops) / len(ops), "ratio")
    return metrics


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = declared()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"declared: {names}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "nycdb_k8s_loader_spark")):
        print("perfbench: the nycdb_k8s_loader_spark package is not next "
              "to perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    # the launcher JVM of spark-submit would write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path.insert(0, ROOT)
    try:
        if args.fill_cache:
            fill_main(args, work)
            return 0
        report, metrics = run(args, work)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)

    ops = report["ops"]
    failed = sum(r["error"] is not None for r in ops)
    out = {}
    for m in wanted:
        value, unit = metrics[m["name"]]
        out[m["name"]] = {"value": value, "unit": unit}
    print(json.dumps(report, default=str))
    # allow_nan=False: a run with no successful warm op has no
    # op_p50_s and must fail rather than print invalid JSON
    print(json.dumps({
        "correct": not report["failures"] and failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": out,
    }, allow_nan=False))
    return 0


if __name__ == "__main__":
    sys.exit(main())
