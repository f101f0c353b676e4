"""Benchmark entry point.

    python3 perfbench/run.py --workload search|facets --seed N --seconds S --trace 0|1

Run from the root of a checkout: the engine package is imported from
the current directory, never from anywhere else, and every file the
run writes (inputs, index, Spark scratch, event log) lives under
``.perfbench_run/`` there and is removed at exit. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

PACKAGE = "elasticsearch_approx_plugin_spark"
DRIVER_MEM = "2g"  # well below the machine's memory; get_spark defaults to 48g
# set-up totals per layer; only operators launch Spark work in the
# set-up of both workloads, so only they report job counters
SETUP_COUNTERS = {
    "session": ("wall_s",),
    "sources": ("wall_s",),
    "operators": ("wall_s", "jobs", "tasks", "driver_gap_s", "executor_cpu_s"),
    "plans": ("wall_s",),
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("search", "facets"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """Keep Spark, Python workers and the JVM inside ``work``."""
    import tempfile

    for d in ("tmp", "local", "events", "data"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update(
        TZ="UTC",
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # the session's own warm-up runs an index build on two rows
        # (~16 s on 4 cores); the benchmark warms the shapes it times
        # instead, within set-up
        SPARK_GRAFT_NO_PREWARM="1",
    )
    time.tzset()
    tempfile.tempdir = os.environ["TMPDIR"]


def _alive(pid: int) -> bool:
    from perfbench.trace import _stat_fields

    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


def _stop_spark(spark) -> None:
    """Stop the session, the JVM and the JVM's Python workers, and wait
    until every one of those processes has ended."""
    from pyspark import SparkContext

    from perfbench.trace import tree_ticks

    pids = [p for p in tree_ticks() if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 20
    while any(_alive(p) for p in pids) and time.time() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(_alive(p) for p in pids) and time.time() < deadline + 10:
        time.sleep(0.1)


def _layer_metrics(run, spans, log_dir: str) -> tuple[dict, dict]:
    """Per-layer metrics: the counters of the spans behind each
    end-to-end metric (``request.*``: one request, its spans summed;
    ``batch.*``: one unit-counting call), set-up totals per layer, and
    the per-call detail."""
    from perfbench.trace import COUNTERS, attribute, read_event_log, span_counters

    by_span, unattributed = attribute(spans, read_event_log(log_dir))
    counters = {sp.sid: span_counters(sp, by_span[sp.sid]) for sp in spans}
    out: dict[str, float] = {"spark.unattributed_jobs": unattributed}
    for k in COUNTERS:
        out[f"request.{k}"] = statistics.fmean(
            sum(counters[sp.sid][k] for sp in req) for req in run.requests
        )
        out[f"batch.{k}"] = statistics.fmean(counters[sp.sid][k] for sp in run.work)
    for layer, names in SETUP_COUNTERS.items():
        mine = [counters[sp.sid] for sp in spans if sp.role == "setup" and sp.layer == layer]
        for k in names:
            out[f"setup.{layer}.{k}"] = float(sum(c[k] for c in mine))
    calls: dict[str, dict] = {}
    for sp in spans:
        d = calls.setdefault(f"{sp.role}:{sp.name}", {"calls": 0, **{k: 0.0 for k in COUNTERS}})
        d["calls"] += 1
        for k in COUNTERS:
            d[k] += counters[sp.sid][k]
    for d in calls.values():
        for k in COUNTERS:
            d[k] /= d["calls"]
    return out, calls


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package in {root}; run from a checkout root", file=sys.stderr)
        return 2
    sys.path[:0] = [root]
    from perfbench import trace, workloads

    t_start = trace.process_start_time()
    work = os.path.join(root, ".perfbench_run", str(os.getpid()))
    _environment(work)
    spark = None
    try:
        kernel_metrics = {}
        if args.trace:
            from perfbench import kernels

            kernel_metrics = kernels.run(args.seed)
        from elasticsearch_approx_plugin_spark.session import get_spark

        conf = {
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if args.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
                    "spark.eventLog.compress": "false",
                }
            )
        tracer = trace.Tracer()
        cores = len(os.sched_getaffinity(0))
        spark, _ = tracer.call(
            "session.get_spark", "setup", get_spark,
            app_name=f"perfbench-{args.workload}", master=f"local[{cores}]", extra_conf=conf,
        )
        if args.trace:
            tracer.sc = spark.sparkContext
        run = workloads.Run(spark, tracer, args.seed, args.seconds, os.path.join(work, "data"))
        workloads.WORKLOADS[args.workload](run)
        t_end = time.time()
        _stop_spark(spark)
        spark = None

        if args.trace:
            metrics, calls = _layer_metrics(run, tracer.spans, os.path.join(work, "events"))
            metrics.update(kernel_metrics)
            print("perfbench calls: " + json.dumps(calls, sort_keys=True))
        else:
            metrics = {"setup_s": run.t_timed - t_start, **run.metrics()}
        run.details.update(
            setup_s=run.t_timed - t_start,
            timed_s=t_end - run.t_timed,
            stop_s=time.time() - t_end,
            cores=cores,
            request_p50_s=statistics.median(run.request_wall),
            throughput_per_s=run.throughput_per_s(),
            setup_calls={
                n: round(sum(s.t1 - s.t0 for s in tracer.spans if s.role == "setup" and s.name == n), 2)
                for n in dict.fromkeys(s.name for s in tracer.spans if s.role == "setup")
            },
            request_walls=[round(w, 3) for w in run.request_wall],
            request_cpus=[round(c, 2) for c in run.request_cpu],
        )
        print("perfbench details: " + json.dumps(run.details, sort_keys=True))
        result = {
            "correct": not run.check_failures,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()},
        }
        print(json.dumps(result))
        return 0
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def _unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_mb_per_s"):
        return "MB/s"
    if name.endswith("_mhash_per_s"):
        return "Mhash/s"
    if name.endswith("_per_cpu_s"):
        return "1/CPU-s"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("cpu_s"):
        return "CPU-s"
    if name.endswith("_s"):
        return "s"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
