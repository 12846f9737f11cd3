"""The benchmark workloads and the traced per-layer probes.

Every workload has the same life cycle, driven by ``run.py``:

* ``make_inputs()`` — generate the seeded inputs and pin or write them
  (timed as part of set-up; repeated on every set-up pass);
* ``prepare_oracle()`` — exact answers at the fixed answer prefixes,
  computed by ``oracle.py`` outside every timed section;
* ``warmup()`` then ``step(traced)`` in a loop until the run's deadline;
* ``e2e()`` — the end-to-end figures; ``layers()`` — the traced run's
  per-layer figures.

End-to-end metrics have one meaning on every workload:
``latency_p50_ms`` is the median wall time of the workload's unit of work
(a query; a data-only micro-batch commit), ``cpu_ms_p50`` the median CPU
time the process tree spent on it, and ``rows_per_s`` input rows handled
per second of busy time.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from flink_skyline_qos_spark.operators import kernels, partitioners
from flink_skyline_qos_spark.operators.skyline import skyline_two_phase
from flink_skyline_qos_spark.plans.metrics import skyline_query_metrics
from flink_skyline_qos_spark.sources.generators import generate_points
from flink_skyline_qos_spark.streaming import wire
from flink_skyline_qos_spark.streaming.engine import SkylinePipeline

import oracle
import procstat

DOMAIN_MAX = 10000.0
GEN_PARTITIONS = 8  # fixed, so the generated values depend on the seed only

SIZES = {
    "full": {
        "batch_points": 500_000,
        "ingest_rows": 400_000,
        "ingest_file_rows": 100_000,
        "wire_rows": 100_000,
        "engine_probe_rows": 100_000,
        "local1_points": 100_000,
    },
    "smoke": {
        "batch_points": 20_000,
        "ingest_rows": 6_000,
        "ingest_file_rows": 2_000,
        "wire_rows": 2_000,
        "engine_probe_rows": 2_000,
        "local1_points": 20_000,
    },
}

#: unit of every per-layer metric the traced run reports
LAYER_UNITS = {
    "session.start_s": "s",
    "session.arrow_warm_s": "s",
    "partitioners.skew": "ratio",
    "kernels.mask_ms_max": "ms",
    "kernels.mask_ms_sum": "ms",
    "kernels.survivor_ratio": "ratio",
    "kernels.merge_ms": "ms",
    "skyline.local_ms": "ms",
    "skyline.global_ms": "ms",
    "skyline.local_cpu_ms": "ms",
    "skyline.global_cpu_ms": "ms",
    "skyline.optimality": "ratio",
    "skyline.transport_ms": "ms",
    "wire.parse_ms": "ms",
    "engine.batch_ms": "ms",
    "engine.ingest_ms": "ms",
    "engine.answer_ms": "ms",
    "engine.local_cpu_ms": "ms",
    "engine.global_cpu_ms": "ms",
    "engine.jobs_per_batch": "count",
    "engine.tasks_per_batch": "count",
    "engine.state_rows": "rows",
    "engine.state_bytes": "bytes",
    "engine.backlog_max_rows": "rows",
    "engine.generator_lag_s": "s",
    "session.speedup_local1": "ratio",
    "trace.overhead_frac": "ratio",
}


def tail(values: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least ten samples above it, as
    ``(percentile, value, sample_count)``; the maximum when the run has
    ten samples or fewer."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return 100.0, xs[-1], n
    return round(100.0 * (n - 10) / n, 1), xs[n - 11], n


def points_digest(tbl: pa.Table, cols: list[str]) -> tuple[int, int]:
    ids = tbl.column("id").to_numpy()
    vals = np.column_stack([tbl.column(c).to_numpy() for c in cols]) \
        if tbl.num_rows else np.zeros((0, len(cols)))
    return oracle.digest(ids, vals)


def sorted_arrays(tbl: pa.Table, cols: list[str]):
    tbl = tbl.sort_by("id")
    return (tbl.column("id").to_numpy(),
            np.column_stack([tbl.column(c).to_numpy() for c in cols]))


class TimedPipeline(SkylinePipeline):
    """The production pipeline, with each micro-batch timed and, on
    traced batches, wrapped in a span and a Spark job group."""

    def __init__(self, bench, *args, **kwargs) -> None:
        super().__init__(*args, **kwargs)
        self.bench = bench
        # (batch id, start, end, traced, cpu), perf_counter and CPU seconds
        self.batches: list[tuple[int, float, float, bool, float]] = []
        self.jobs: list[int] = []
        self.tasks: list[int] = []

    def process_batch(self, batch, batch_id: int) -> None:
        traced = self.bench.trace and batch_id % 2 == 1
        tracer = self.bench.tracer
        tracer.enabled = traced
        sc = self.spark.sparkContext
        group = f"perfbench-{id(self)}-{batch_id}"
        if traced:
            sc.setJobGroup(group, "perfbench batch")
        cpu0 = procstat.cpu_seconds()
        t0 = time.perf_counter()
        try:
            with tracer.span("engine.process_batch", trace=group):
                super().process_batch(batch, batch_id)
        finally:
            t1 = time.perf_counter()
            self.batches.append((batch_id, t0, t1, traced,
                                 procstat.cpu_seconds() - cpu0))
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                tracker = sc.statusTracker()
                jobs = tracker.getJobIdsForGroup(group)
                self.jobs.append(len(jobs))
                n = 0
                for j in jobs:
                    info = tracker.getJobInfo(j)
                    for s in (info.stageIds if info else []):
                        st = tracker.getStageInfo(s)
                        n += st.numTasks if st else 0
                self.tasks.append(n)

    # -- read-back helpers (outside every timed section) -------------------

    def answers(self) -> dict[str, tuple[int, int]]:
        """query_id → digest of its released answer."""
        out = {}
        for d in sorted(glob.glob(os.path.join(self.results_dir, "batch_*"))):
            tbl = pq.read_table(d)
            for qid in pc.unique(tbl.column("query_id")).to_pylist():
                sub = tbl.filter(pc.equal(tbl.column("query_id"), qid))
                out[qid] = points_digest(sub, self.cols)
        return out

    def batch_seconds(self, skip: int = 0) -> list[tuple[float, bool]]:
        """(wall seconds, traced) of every batch after the first `skip`."""
        return [(b - a, tr) for _, a, b, tr, _ in self.batches[skip:]]

    def metrics_rows(self) -> list[dict]:
        rows = []
        for d in sorted(glob.glob(os.path.join(self.metrics_dir, "batch_*"))):
            rows += pq.read_table(d).to_pylist()
        return rows

    def state_skyline(self) -> tuple[int, int]:
        """Digest of the skyline of the latest epoch's local skylines,
        computed by the oracle: the global answer the state holds."""
        tbl = pq.read_table(self.latest_epoch())
        ids, vals = sorted_arrays(tbl, self.cols)
        keep = oracle.skyline_mask(vals)
        return oracle.digest(ids[keep], vals[keep])

    def latest_epoch(self) -> str:
        return max(glob.glob(os.path.join(self.points_dir, "epoch=*")),
                   key=lambda p: int(p.rsplit("=", 1)[1]))

    def state_size(self) -> tuple[int, int]:
        files = glob.glob(os.path.join(self.latest_epoch(), "*.parquet"))
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        return rows, sum(os.path.getsize(f) for f in files)


class Workload:
    dims: int

    def __init__(self, bench) -> None:
        self.b = bench
        self.sz = bench.sizes
        self.cols = [f"d{i}" for i in range(self.dims)]
        self.lat_s: list[float] = []       # untraced unit-of-work latencies
        self.lat_traced_s: list[float] = []
        self.cpu_s: list[float] = []       # and their process-tree CPU time
        self.cpu_total_s = 0.0             # CPU time of all untraced work
        self.rows = 0
        self.busy_s = 0.0
        self.lag_max = 0.0      # latest start of a unit of work, s
        self.backlog_max = 0    # most input rows waiting at a batch start
        self.data_only: list[tuple[float, bool]] = []  # engine.batch_ms

    @property
    def spark(self):
        return self.b.spark

    def check(self, got: tuple[int, int] | None, want: tuple[int, int],
              what: str) -> None:
        self.b.attempted += 1
        if got != want:
            self.b.failed += 1
            print(f"MISMATCH {what}: got {got}, want {want}",
                  file=sys.stderr)

    def fail(self, what: str) -> None:
        """Count an operation that raised; call from its handler."""
        self.b.attempted += 1
        self.b.failed += 1
        print(f"FAILED {what}", file=sys.stderr)
        traceback.print_exc()

    def generate(self, n: int, dims: int | None = None):
        return generate_points(self.spark, n, dims or self.dims,
                               dist="anti_correlated", seed=self.b.seed,
                               num_partitions=GEN_PARTITIONS,
                               d_max=DOMAIN_MAX)

    def measure(self, seconds: float) -> None:
        """Repeat the unit of work until `seconds` have passed (at least
        once); on a traced run every second one is traced."""
        deadline = time.perf_counter() + seconds
        i = 0
        while i == 0 or time.perf_counter() < deadline:
            self.step(self.b.trace and i % 2 == 1)
            i += 1

    def e2e(self) -> dict:
        lat = self.lat_s
        pct, tail_s, n = tail(lat)
        return {
            "latency_p50_ms": statistics.median(lat) * 1000.0,
            "cpu_ms_p50": statistics.median(self.cpu_s) * 1000.0,
            "cpu_us_per_row": self.cpu_total_s / self.rows * 1e6,
            "rows_per_s": self.rows / self.busy_s,
            "_tail": (pct, tail_s * 1000.0, n),
        }

    # -- traced per-layer probes, shared by every workload -------------------

    def probe_points(self):
        """The persisted points the kernel and partitioner probes split."""
        raise NotImplementedError

    def layers(self) -> dict:
        b, tr = self.b, self.b.tracer
        tr.enabled = True
        pts = self.probe_points()
        parts = 2 * b.cores
        out: dict[str, float] = {}
        with tr.span("partitioners.tag", trace="probe"):
            pid = partitioners.partitioner_expr(
                "mr-angle", [F.col(c) for c in self.cols], parts, DOMAIN_MAX)
            tagged = pts.select(pid.alias("pid"), *self.cols).toArrow()
        pids = tagged.column("pid").to_numpy()
        vals = np.column_stack([tagged.column(c).to_numpy()
                                for c in self.cols])
        counts = np.bincount(pids, minlength=parts)
        out["partitioners.skew"] = float(counts.max() / counts.mean())
        mask_ms, survivors = [], []
        for p in range(parts):
            sub = vals[pids == p]
            with tr.span("kernels.skyline_mask", trace="probe"):
                t0 = time.perf_counter()
                keep = kernels.skyline_mask(sub)
                mask_ms.append((time.perf_counter() - t0) * 1000.0)
            survivors.append(sub[keep])
        union = np.concatenate(survivors)
        with tr.span("kernels.merge", trace="probe"):
            t0 = time.perf_counter()
            kernels.skyline_mask(union)
            out["kernels.merge_ms"] = (time.perf_counter() - t0) * 1000.0
        out["kernels.mask_ms_max"] = max(mask_ms)
        out["kernels.mask_ms_sum"] = sum(mask_ms)
        out["kernels.survivor_ratio"] = len(union) / len(vals)
        with tr.span("plans.skyline_query_metrics", trace="probe"):
            m = skyline_query_metrics(
                pts, self.cols, algo="mr-angle", num_partitions=parts,
                domain_max=DOMAIN_MAX, with_timing=True).first()
        out["skyline.local_ms"] = float(m["local_processing_time_ms"])
        out["skyline.global_ms"] = float(m["global_processing_time_ms"])
        out["skyline.local_cpu_ms"] = float(m["local_cpu_ms"])
        out["skyline.global_cpu_ms"] = float(m["global_cpu_ms"])
        out["skyline.optimality"] = float(m["optimality"])
        out["skyline.transport_ms"] = out["skyline.local_ms"] \
            - out["skyline.local_cpu_ms"]
        out["wire.parse_ms"] = self.wire_probe(pts)
        out.update(self.pipeline_layers(self.engine_probe()))
        out["engine.backlog_max_rows"] = float(self.backlog_max)
        out["engine.generator_lag_s"] = self.lag_max
        out["session.speedup_local1"] = self.local1_speedup()
        traced = self.lat_traced_s
        out["trace.overhead_frac"] = (
            statistics.median(traced) / statistics.median(self.lat_s) - 1.0
            if traced else 0.0)
        return out

    def wire_probe(self, pts) -> float:
        """ms for ``parse_service_tuples(...).count()`` over one
        wire-format batch of ``wire_rows`` lines read from a text file."""
        path = os.path.join(self.b.work, "wire_probe.csv")
        first = pts.orderBy("id").limit(self.sz["wire_rows"]).toArrow()
        write_csv(first, ["id"] + self.cols, path)
        raw = self.spark.read.text(path).persist()
        raw.count()
        times = []
        for _ in range(3):
            with self.b.tracer.span("wire.parse_service_tuples", trace="probe"):
                t0 = time.perf_counter()
                wire.parse_service_tuples(raw, self.dims).count()
                times.append((time.perf_counter() - t0) * 1000.0)
        raw.unpersist()
        return statistics.median(times)

    def engine_probe(self) -> TimedPipeline:
        """The pipeline whose batches the engine metrics describe."""
        return self.pipe

    def pipeline_layers(self, pipe: TimedPipeline) -> dict:
        rows = pipe.metrics_rows()
        state_rows, state_bytes = pipe.state_size()
        med = (lambda xs: float(statistics.median(xs)) if xs else 0.0)
        return {
            "engine.batch_ms": med([s * 1000.0 for s, _ in self.data_only]),
            "engine.ingest_ms": med([r["ingest_ms"] for r in rows]),
            "engine.answer_ms": med([r["global_ms"] for r in rows]),
            "engine.local_cpu_ms": med([r["local_cpu_ms"] for r in rows]),
            "engine.global_cpu_ms": med([r["global_cpu_ms"] for r in rows]),
            "engine.jobs_per_batch": med(pipe.jobs),
            "engine.tasks_per_batch": med(pipe.tasks),
            "engine.state_rows": float(state_rows),
            "engine.state_bytes": float(state_bytes),
        }

    def local1_speedup(self) -> float:
        """The batch query over ``local1_points`` 3-D points: its median
        time at local[1] in a separate process divided by its median time
        here."""
        pts = self.generate(self.sz["local1_points"], 3).persist()
        pts.count()
        here = query_times(pts, 2 * self.b.cores)
        pts.unpersist()
        cmd = [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
               "--workload", self.b.workload, "--seed", str(self.b.seed),
               "--local1"] + (["--smoke"] if self.b.smoke else [])
        proc = subprocess.run(cmd, stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True,
                              timeout=120, check=True)
        there = json.loads(proc.stdout.strip().splitlines()[-1])["query_s"]
        return there / here


def query_times(pts, num_partitions: int, runs: int = 2) -> float:
    """Median wall seconds of the batch query over `pts`, after one
    untimed warm-up run."""
    times = []
    for _ in range(runs + 1):
        t0 = time.perf_counter()
        skyline_two_phase(pts, ["d0", "d1", "d2"], algo="mr-angle",
                          num_partitions=num_partitions,
                          domain_max=DOMAIN_MAX).toArrow()
        times.append(time.perf_counter() - t0)
    return statistics.median(times[1:])


def write_csv(tbl: pa.Table, cols: list[str], path: str) -> None:
    """Wire-format lines ``id,v1,..,vn`` (generated values are integral)."""
    ints = pa.table({c: pc.cast(tbl.column(c), pa.int64()) for c in cols})
    pacsv.write_csv(ints, path,
                    write_options=pacsv.WriteOptions(include_header=False))


# ---------------------------------------------------------------------------


class BatchAnticorr3D(Workload):
    """Closed loop, one caller: ``skyline_two_phase`` over pinned 3-D
    anti-correlated points, each result materialised on the driver."""

    dims = 3

    def make_inputs(self) -> None:
        self.pts = self.generate(self.sz["batch_points"]).persist()
        self.pts.count()

    def prepare_oracle(self) -> None:
        self.ids, self.vals = sorted_arrays(self.pts.toArrow(), self.cols)
        keep = oracle.skyline_mask(self.vals)
        self.want = oracle.digest(self.ids[keep], self.vals[keep])
        self.last_done = None

    def query(self):
        return skyline_two_phase(self.pts, self.cols, algo="mr-angle",
                                 num_partitions=2 * self.b.cores,
                                 domain_max=DOMAIN_MAX).toArrow()

    def warmup(self) -> None:
        self.check(points_digest(self.query(), self.cols), self.want,
                   "warm-up query")

    def step(self, traced: bool) -> None:
        tr = self.b.tracer
        tr.enabled = traced
        cpu0 = procstat.cpu_seconds()
        t0 = time.perf_counter()
        if self.last_done is not None:  # due when the previous one returned
            self.lag_max = max(self.lag_max, t0 - self.last_done)
        try:
            with tr.span("skyline.two_phase", trace=f"q{len(self.lat_s)}"):
                res = self.query()
        except Exception:
            self.fail("query")
            return
        self.last_done = time.perf_counter()
        cpu = procstat.cpu_seconds() - cpu0
        dt = self.last_done - t0
        (self.lat_traced_s if traced else self.lat_s).append(dt)
        if not traced:
            self.cpu_s.append(cpu)
            self.cpu_total_s += cpu
            self.rows += self.sz["batch_points"]
            self.busy_s += dt
        self.check(points_digest(res, self.cols), self.want, "query")

    def probe_points(self):
        return self.pts

    def engine_probe(self) -> TimedPipeline:
        """Two micro-batches of the batch input through the engine: one
        data-only, then one with a trigger over everything fed."""
        n = self.sz["engine_probe_rows"]
        pipe = TimedPipeline(self.b, self.spark,
                             os.path.join(self.b.work, "engine_probe"),
                             dims=3, algo="mr-angle",
                             num_partitions=2 * self.b.cores,
                             domain_max=DOMAIN_MAX)
        for i in range(2):
            data = wire.serialize_service_tuples(
                self.pts.filter(F.col("id").between(i * n, (i + 1) * n - 1)),
                3).withColumn("kind", F.lit(0))
            if i:
                data = data.unionByName(self.spark.createDataFrame(
                    [(f"probe,{2 * n - 1}", 1)], "value string, kind int"))
            pipe.process_batch(data, 2 * i + 1)  # odd ids: traced batches
        self.backlog_max = 2 * n
        want = oracle.prefix_digests(self.ids, self.vals, [2 * n - 1])
        self.check(pipe.answers().get("probe"), want[2 * n - 1],
                   "engine probe trigger")
        self.data_only = [pipe.batch_seconds()[0]]
        return pipe


class StreamIngest2D(Workload):
    """A backlog of CSV files drained through the production file-source
    path, one file per micro-batch (a topic catching up after downtime)."""

    dims = 2

    def make_inputs(self) -> None:
        self.data_dir = os.path.join(self.b.work, "ingest", "data")
        self.trig_dir = os.path.join(self.b.work, "ingest", "triggers")
        self.warm_data = os.path.join(self.b.work, "ingest", "warm_data")
        self.warm_trig = os.path.join(self.b.work, "ingest", "warm_triggers")
        shutil.rmtree(os.path.join(self.b.work, "ingest"), ignore_errors=True)
        for d in (self.data_dir, self.trig_dir, self.warm_data, self.warm_trig):
            os.makedirs(d)
        self.table = self.generate(self.sz["ingest_rows"]).toArrow() \
            .sort_by("id")
        n, per = self.table.num_rows, self.sz["ingest_file_rows"]
        base = time.time() - 10_000.0
        for i, lo in enumerate(range(0, n, per)):
            path = os.path.join(self.data_dir, f"part-{i:05d}.csv")
            write_csv(self.table.slice(lo, per), ["id"] + self.cols, path)
            os.utime(path, (base + i, base + i))
        # one trigger, released by the first file: the later batches are
        # data-only, and the state they leave is checked directly
        self.k = per - 1
        with open(os.path.join(self.trig_dir, "triggers.csv"), "w") as fh:
            fh.write(f"q,{self.k}\n")
        # a one-file backlog and its trigger for the untimed warm-up drain
        write_csv(self.table.slice(0, 1000), ["id"] + self.cols,
                  os.path.join(self.warm_data, "part-00000.csv"))
        with open(os.path.join(self.warm_trig, "triggers.csv"), "w") as fh:
            fh.write("w,999\n")
        self.drains = 0

    def prepare_oracle(self) -> None:
        ids, vals = sorted_arrays(self.table, self.cols)
        want = oracle.prefix_digests(ids, vals, [self.k, len(ids) - 1])
        self.want, self.want_state = want[self.k], want[len(ids) - 1]

    def drain(self, data_dir: str, trig_dir: str) -> TimedPipeline:
        work = os.path.join(self.b.work, "ingest", f"run{self.drains}")
        self.drains += 1
        pipe = TimedPipeline(self.b, self.spark, work, dims=2,
                             algo="mr-angle", num_partitions=2 * self.b.cores,
                             domain_max=DOMAIN_MAX)
        pipe.run_available_now(data_dir, trig_dir, max_files_per_trigger=1)
        return pipe

    def warmup(self) -> None:
        pipe = self.drain(self.warm_data, self.warm_trig)
        shutil.rmtree(pipe.work_dir, ignore_errors=True)

    def step(self, traced: bool) -> None:
        # traced batches alternate inside the drain (TimedPipeline)
        cpu0 = procstat.cpu_seconds()
        t0 = time.perf_counter()
        try:
            pipe = self.drain(self.data_dir, self.trig_dir)
        except Exception:
            self.fail("drain")
            return
        dt = time.perf_counter() - t0
        self.cpu_total_s += procstat.cpu_seconds() - cpu0
        self.rows += self.table.num_rows
        self.busy_s += dt
        self.backlog_max = self.table.num_rows
        # each batch is due when the previous one returned (the first at
        # drain start)
        prev = t0
        for _bid, start, end, _tr, _cpu in pipe.batches:
            self.lag_max = max(self.lag_max, start - prev)
            prev = end
        # the first batch also carries the trigger, its answer and the
        # query's start-up: it counts in rows_per_s, not in the latencies
        for _bid, start, end, tr, cpu in pipe.batches[1:]:
            (self.lat_traced_s if tr else self.lat_s).append(end - start)
            if not tr:
                self.cpu_s.append(cpu)
        # an unreleased trigger has no answer and counts as a mismatch
        self.check(pipe.answers().get("q"), self.want, f"trigger K={self.k}")
        self.check(pipe.state_skyline(), self.want_state, "state at drain end")
        if self.b.trace:
            self.pipe = pipe
            self.data_only = pipe.batch_seconds(1)
        else:
            shutil.rmtree(pipe.work_dir, ignore_errors=True)

    def probe_points(self):
        pts = self.spark.createDataFrame(self.table).persist()
        pts.count()
        return pts


WORKLOADS = {
    "batch_anticorr_3d": BatchAnticorr3D,
    "stream_ingest_2d": StreamIngest2D,
}
