"""Skyline benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  Prints a human-readable summary, then one
JSON object as the last line of stdout: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  ``--smoke`` runs tiny inputs
on the same code path.  Workloads, metrics and sizing are described in
``BENCHMARK.json``.

Everything the run writes (inputs, engine state, Spark scratch, the
JVM's temp files) lives under ``.perfbench_work/`` in the repository
root and is removed at exit; the traced run's spans are written to
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

import procstat

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_PASSES = 3
DRIVER_MEMORY = "3g"   # fits a 16 GB host with one Python worker per core
TIME_LIMIT_S = 165  # leaves time to stop the JVM within 180 s


class Bench:
    """Settings and counters of one run, shared by the workload."""

    def __init__(self, args, work: str) -> None:
        from tracing import Tracer
        from workloads import SIZES

        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.smoke = args.smoke
        self.sizes = SIZES["smoke" if args.smoke else "full"]
        self.cores = 1 if args.local1 else len(os.sched_getaffinity(0))
        self.work = work
        self.tracer = Tracer(self.trace)
        self.spark = None
        self.attempted = 0
        self.failed = 0


def configure_env(work: str) -> None:
    """Keep Spark, the JVM and Python temp files inside `work` and size
    the driver for the host.  Takes effect at JVM launch."""
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = work
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--driver-java-options "
        + shlex.quote(f"-Djava.io.tmpdir={work} -XX:-UsePerfData")
        + " --conf spark.ui.showConsoleProgress=false pyspark-shell")
    # Python workers import the engine from the repository root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def start_session(bench: Bench) -> tuple[float, float]:
    """Start the session and warm every Arrow worker; returns the two
    durations in seconds."""
    from flink_skyline_qos_spark.session import get_spark, warm_arrow_pool

    t0 = time.perf_counter()
    with bench.tracer.span("session.get_spark", trace="setup"):
        bench.spark = get_spark(f"perfbench-{bench.workload}",
                                master=f"local[{bench.cores}]",
                                shuffle_partitions=2 * bench.cores)
    bench.spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    with bench.tracer.span("session.warm_arrow_pool", trace="setup"):
        warm_arrow_pool(bench.spark)
    return t1 - t0, time.perf_counter() - t1


def stop_session(bench: Bench) -> None:
    if bench.spark is not None:
        bench.spark.stop()
        bench.spark = None


def shutdown_jvm() -> None:
    """Stop the JVM this process launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def setup(bench: Bench, wl) -> dict:
    """SETUP_PASSES full set-ups; the first from process start (imports,
    JVM launch), the others on a fresh SparkContext in the same JVM."""
    totals, starts, warms = [], [], []
    for i in range(SETUP_PASSES):
        if i:
            stop_session(bench)
        t0 = time.perf_counter()
        s, w = start_session(bench)
        wl.make_inputs()
        totals.append(procstat.process_age_s() if i == 0
                      else time.perf_counter() - t0)
        starts.append(s)
        warms.append(w)
    return {"setup_s": statistics.median(totals), "passes": totals,
            "session.start_s": statistics.median(starts),
            "session.arrow_warm_s": statistics.median(warms)}


def run_local1(bench: Bench, wl) -> None:
    """Baseline child of a traced run: the batch query over
    ``local1_points`` points at local[1]."""
    from workloads import query_times

    start_session(bench)
    pts = wl.generate(bench.sizes["local1_points"], 3).persist()
    pts.count()
    print(json.dumps({"query_s": query_times(pts, 2 * bench.cores)}))


def summary(bench: Bench, st: dict, e2e: dict, rss: float,
            phases: dict) -> None:
    """The end-to-end metrics under the names each workload reports them
    by, with units."""
    pct, tail_ms, n = e2e["_tail"]
    print(f"workload={bench.workload} seed={bench.seed} cores={bench.cores}"
          f" seconds={bench.seconds}")
    print("phases: " + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items()))
    print("setup_s = %.3f s  (passes: %s)" % (
        st["setup_s"], ", ".join("%.2f" % x for x in st["passes"])))
    if bench.workload == "batch_anticorr_3d":
        print("query_p50_s = %.4f s  (%d queries)"
              % (e2e["latency_p50_ms"] / 1000.0, n))
        print("query_tail_s = %.4f s  (p%s)" % (tail_ms / 1000.0, pct))
    else:
        print("ingest_rows_per_s = %.1f rows/s" % e2e["rows_per_s"])
        print("batch_commit_p50_ms = %.1f ms, tail %.1f ms  (p%s of %d)"
              % (e2e["latency_p50_ms"], tail_ms, pct, n))
    print("latency_p50_ms = %.1f ms" % e2e["latency_p50_ms"])
    print("cpu_ms_p50 = %.1f ms" % e2e["cpu_ms_p50"])
    print("cpu_us_per_row = %.2f us" % e2e["cpu_us_per_row"])
    print("rows_per_s = %.1f rows/s" % e2e["rows_per_s"])
    print("failed_frac = %.4f  (%d of %d)" % (
        bench.failed / max(bench.attempted, 1), bench.failed,
        bench.attempted))
    print("peak_rss_mb = %.1f MB" % rss)


def on_alarm(signum, frame):
    raise TimeoutError(f"run exceeded {TIME_LIMIT_S} s")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs on the same code path")
    ap.add_argument("--local1", action="store_true",
                    help=argparse.SUPPRESS)  # baseline child of a traced run
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import flink_skyline_qos_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from workloads import LAYER_UNITS, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    configure_env(work)
    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(TIME_LIMIT_S)
    bench = Bench(args, work)
    wl = WORKLOADS[args.workload](bench)
    try:
        if args.local1:
            run_local1(bench, wl)
            return 0
        st = setup(bench, wl)
        phases = {"setup": sum(st["passes"])}
        for name, fn in (("oracle", wl.prepare_oracle),
                         ("warmup", wl.warmup),
                         ("measure", lambda: wl.measure(bench.seconds))):
            t = time.perf_counter()
            fn()
            phases[name] = time.perf_counter() - t
        rss = procstat.peak_rss_mb()
        if bench.trace:
            metrics = {"session.start_s": st["session.start_s"],
                       "session.arrow_warm_s": st["session.arrow_warm_s"]}
            metrics.update(wl.layers())
            units = LAYER_UNITS
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(
                out_dir, f"trace-{args.workload}-seed{args.seed}.json")
            bench.tracer.dump(path)
            for layer, s in sorted(bench.tracer.self_seconds_by_layer().items()):
                print(f"self time {layer}: {s:.3f} s")
            print(f"spans written to {os.path.relpath(path, ROOT)}")
        else:
            e2e = wl.e2e()
            summary(bench, st, e2e, rss, phases)
            # the bounded metrics; wall-clock figures and memory are only
            # printed: on a shared host their run-to-run spread is wider
            # than a useful regression bound (see README.md)
            metrics = {"setup_s": st["setup_s"],
                       "cpu_ms_p50": e2e["cpu_ms_p50"],
                       "cpu_us_per_row": e2e["cpu_us_per_row"]}
            units = {"setup_s": "s", "cpu_ms_p50": "ms",
                     "cpu_us_per_row": "us"}
    finally:
        signal.alarm(0)
        stop_session(bench)
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": bench.failed == 0 and bench.attempted > 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
