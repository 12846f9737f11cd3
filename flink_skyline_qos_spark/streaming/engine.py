"""Incremental streaming skyline engine (ST1-ST7), driver-resident state.

The reference keeps per-partition local skylines in Flink keyed state,
updated record-at-a-time with a 5000-row buffer, and answers triggers
behind a record-ID barrier
(`/root/reference/java/org.main/FlinkSkyline.java:219-356,407-444`).

Spark re-expression (SURVEY §4.3): **each micro-batch is one buffer
flush**, and the micro-batch boundary is a consistent prefix of the
stream (Structured Streaming, SIGMOD 2018) — so the barrier, the
pending-query replay, and the countdown-latch (ST2/ST3/A3) all
collapse into `foreachBatch` orchestration, and the state only has to
be consistent, and durable, at batch boundaries:

* Ingest = ONE Spark job: the wire parse (`streaming.wire`) and the
  pid tag (`partitioner_expr`) run in the JVM, and the batch comes to
  the driver with ``toArrow()``; the trigger rows take a second, tiny
  job.  The local skylines (a few thousand rows per partition) live in
  the driver, and each pid's new rows are folded into its skyline with
  one `kernels.skyline_mask` call — the reference's incremental BNL
  against existing keyed state.
* Commit = pyarrow + ``os.replace``: the state epoch
  (``state/points/epoch={b}/``), then its meta
  (``state/meta/epoch={b:020d}.json``, the commit marker), each staged
  under a name starting with ``_`` — which Spark's file listing and the
  readers' globs skip — and renamed into place.
* Retry-idempotent: a batch ALWAYS resumes from the newest committed
  epoch strictly below its own batch id — from memory when memory
  holds that epoch, from disk otherwise (a restart, or a retry of a
  batch whose commit already landed) — so a replay of batch B
  re-derives the identical state and replaces epoch=B; result and
  metrics rows land in per-batch-id directories that a replay
  replaces — the exactly-once property Flink gets from checkpointed
  keyed state.
* A trigger released in batch B answers the skyline over everything
  ingested through B — the reference's "skyline over all records seen
  so far at release time" (FlinkSkyline.java:303-305) — from memory,
  with no Spark job.
"""

from __future__ import annotations

import copy
import json
import os
import re
import shutil
import time
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.kernels import skyline_mask
from ..operators.partitioners import partitioner_expr
from .wire import parse_service_tuples, parse_triggers

__all__ = ["SkylinePipeline", "PIPELINE_METRICS_DDL"]

_KEEP_EPOCHS = 2  # current + previous, for retry/debug

#: Schema of the per-batch metrics rows `_answer` writes — also the
#: collector's fallback when it starts before the first batch commits.
PIPELINE_METRICS_DDL = (
    "query_id string, record_count long, skyline_size long,"
    " optimality double, batch_id long, ingest_ms long,"
    " global_ms long, total_ms long, latency_ms long,"
    " local_cpu_ms long, global_cpu_ms long"
)

_ARROW_TYPES = {"string": pa.string(), "long": pa.int64(),
                "double": pa.float64()}
_METRICS_SCHEMA = pa.schema(
    [(name, _ARROW_TYPES[typ]) for name, typ in
     (f.split() for f in PIPELINE_METRICS_DDL.split(","))])
_META_NAME = re.compile(r"epoch=(\d+)\.json")

#: per-pid local skyline: pid → (ids, (n, dims) values)
State = dict[int, tuple[np.ndarray, np.ndarray]]


def _batch_subdir(batch_id: int) -> str:
    return f"batch_{batch_id:020d}"


def _epochs(path: str) -> list[int]:
    if not os.path.isdir(path):
        return []
    out = []
    for name in os.listdir(path):
        if name.startswith("epoch="):
            try:
                out.append(int(name.split("=", 1)[1]))
            except ValueError:
                continue
    return sorted(out)


def _gc(path: str, keep: int = _KEEP_EPOCHS) -> None:
    for e in _epochs(path)[:-keep]:
        shutil.rmtree(os.path.join(path, f"epoch={e}"), ignore_errors=True)


def _remove(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.lexists(path):
        os.remove(path)


def _publish(path: str, write: Callable[[str], None]) -> None:
    """Atomically publish `path`, a file or a directory.

    `write(stage)` fills a sibling whose name starts with ``_``, which
    Spark's file listing and the readers' globs skip; ``os.replace``
    then moves it into place.  A directory being republished (a batch
    retry) is first moved aside under another ``_`` name.  The staging
    names are fixed per target, so a retry clears what a crash left."""
    parent, name = os.path.split(path)
    stage = os.path.join(parent, f"_{name}.stage")
    old = os.path.join(parent, f"_{name}.old")
    os.makedirs(parent, exist_ok=True)
    _remove(stage)
    _remove(old)
    write(stage)
    if os.path.isdir(path):
        os.replace(path, old)
    os.replace(stage, path)
    _remove(old)


def _parquet_dir(tbl: pa.Table) -> Callable[[str], None]:
    def write(stage: str) -> None:
        os.makedirs(stage)
        pq.write_table(tbl, os.path.join(stage, "part-00000.parquet"))

    return write


def _json_file(obj) -> Callable[[str], None]:
    def write(stage: str) -> None:
        with open(stage, "w") as fh:
            json.dump(obj, fh)

    return write


class SkylinePipeline:
    """The full reference pipeline: data stream + trigger stream →
    incremental local skylines → barrier-gated global skylines + metrics.

    Batch layout under ``work_dir``::

        state/points/epoch={b}/   per-partition local skylines (id, d*, pid)
        state/meta/epoch={b}.json max_seen_id, record_count, pending triggers
        results/points/           released skylines (query_id-tagged parquet)
        results/metrics/          one metrics row per released query (A7 shape)
        checkpoint/               Structured Streaming checkpoint

    Use :meth:`run_available_now` against file sources in tests; swap the
    sources for :func:`sources.kafka_stream` in production — everything
    downstream of the ``value: string`` schema is identical.
    """

    def __init__(self, spark: SparkSession, work_dir: str, *, dims: int,
                 algo: str = "mr-dim", num_partitions: int = 8,
                 domain_max: float = 10000.0) -> None:
        self.spark = spark
        self.work_dir = work_dir
        self.dims = dims
        self.cols = [f"d{i}" for i in range(dims)]
        self.algo = algo
        self.num_partitions = num_partitions
        self.domain_max = domain_max
        self.points_dir = os.path.join(work_dir, "state", "points")
        self.meta_dir = os.path.join(work_dir, "state", "meta")
        self.results_dir = os.path.join(work_dir, "results", "points")
        self.metrics_dir = os.path.join(work_dir, "results", "metrics")
        self.batches_processed = 0
        # (epoch, state, meta) of the last epoch committed or loaded
        self._mem: tuple[int, State, dict] | None = None
        os.makedirs(self.meta_dir, exist_ok=True)

    # -- state I/O ---------------------------------------------------------

    def _committed(self) -> list[int]:
        """Epochs whose meta — the commit marker — is published."""
        return sorted(int(m.group(1)) for m in
                      map(_META_NAME.fullmatch, os.listdir(self.meta_dir))
                      if m)

    def _load(self, batch_id: int | None = None) -> tuple[State, dict]:
        """State + meta to resume from: the newest committed epoch.

        With `batch_id`, only epochs STRICTLY BELOW it are eligible — on
        a foreachBatch retry of batch B (after B's commit already
        happened) this re-reads B's true predecessor instead of B's own
        output, making the replay idempotent: no double fold into
        state, no double record_count, no re-released triggers.  The
        state comes from memory when memory holds that epoch, from
        disk otherwise.  Callers may rebind the returned state's
        entries but must not modify its arrays; the meta is theirs.
        """
        es = self._committed()
        if batch_id is not None:
            es = [e for e in es if e < batch_id]
        if not es:
            return {}, {"max_seen_id": -1, "record_count": 0, "pending": []}
        e = es[-1]
        if self._mem is None or self._mem[0] != e:
            with open(os.path.join(self.meta_dir,
                                   f"epoch={e:020d}.json")) as fh:
                meta = json.load(fh)
            tbl = pq.read_table(os.path.join(self.points_dir, f"epoch={e}"))
            self._mem = (e, self._split(tbl), meta)
        return dict(self._mem[1]), copy.deepcopy(self._mem[2])

    def _split(self, tbl: pa.Table) -> State:
        """Rows ``(id, d*, pid)`` → per-pid (ids, values)."""
        pids = tbl.column("pid").to_numpy()
        order = np.argsort(pids, kind="stable")
        ids = tbl.column("id").to_numpy()[order]
        vals = np.column_stack(
            [tbl.column(c).to_numpy() for c in self.cols])[order]
        keys, starts = np.unique(pids[order], return_index=True)
        ends = [*starts[1:], len(order)]
        return {int(p): (ids[s:t], vals[s:t])
                for p, s, t in zip(keys, starts, ends)}

    def _table(self, state: State) -> pa.Table:
        """Per-pid state → rows ``(id, d*, pid)``, in pid order."""
        pids = sorted(state)
        ids = np.concatenate([np.empty(0, np.int64)]
                             + [state[p][0] for p in pids])
        vals = np.concatenate([np.empty((0, self.dims))]
                              + [state[p][1] for p in pids])
        pid = np.repeat(np.array(pids, np.int32),
                        [len(state[p][0]) for p in pids])
        return pa.table({"id": ids,
                         **{c: np.ascontiguousarray(vals[:, j])
                            for j, c in enumerate(self.cols)},
                         "pid": pid})

    def _save(self, batch_id: int, table: pa.Table, state: State,
              meta: dict) -> None:
        """Commit epoch `batch_id`: the state `table`, then the meta
        marker; memory then holds the epoch."""
        _publish(os.path.join(self.points_dir, f"epoch={batch_id}"),
                 _parquet_dir(table))
        _publish(os.path.join(self.meta_dir, f"epoch={batch_id:020d}.json"),
                 _json_file(meta))
        self._mem = (batch_id, state, copy.deepcopy(meta))
        _gc(self.points_dir)
        for e in self._committed()[:-_KEEP_EPOCHS]:
            os.remove(os.path.join(self.meta_dir, f"epoch={e:020d}.json"))

    # -- the micro-batch handler ------------------------------------------

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        """foreachBatch handler over the tagged union of both streams."""
        t_batch0 = time.perf_counter()
        pid = partitioner_expr(
            self.algo, [F.col(c) for c in self.cols],
            self.num_partitions, self.domain_max)
        rows = parse_service_tuples(
            batch.filter(F.col("kind") == 0), self.dims) \
            .withColumn("pid", pid).toArrow()
        trig = parse_triggers(batch.filter(F.col("kind") == 1)).collect()

        state, meta = self._load(batch_id)
        kernel_ns = 0
        if rows.num_rows:
            meta["max_seen_id"] = max(
                meta["max_seen_id"], int(rows.column("id").to_numpy().max()))
            meta["record_count"] += rows.num_rows
            none = (np.empty(0, np.int64), np.empty((0, self.dims)))
            for p, (ids, vals) in self._split(rows).items():
                old_ids, old_vals = state.get(p, none)
                ids = np.concatenate([old_ids, ids])
                vals = np.concatenate([old_vals, vals])
                t0 = time.perf_counter_ns()
                keep = skyline_mask(vals)
                kernel_ns += time.perf_counter_ns() - t0
                state[p] = (ids[keep], vals[keep])

        # Barrier (ST2/ST3): release pending + new triggers whose K is
        # satisfied; a partition that never saw data (max_seen_id=-1)
        # releases K=0 only (FlinkSkyline.java:334,351).
        waiting = [tuple(t) for t in meta["pending"]]
        waiting += [(r["query_id"], int(r["required_count"])) for r in trig]
        released = [(q, k) for q, k in waiting
                    if k == 0 or meta["max_seen_id"] >= k]
        meta["pending"] = [list(t) for t in waiting
                           if (t[0], t[1]) not in set(released)]

        # Commit BEFORE answering, so that a retry of this epoch resumes
        # from its predecessor and replaces what this attempt published.
        table = self._table(state)
        self._save(batch_id, table, state, meta)
        ingest_ms = int((time.perf_counter() - t_batch0) * 1000)
        if released:
            self._answer(batch_id, released, table, meta,
                         ingest_ms=ingest_ms, t_batch0=t_batch0,
                         local_cpu_ns=kernel_ns)
        # only after the epoch committed (state + answers written):
        # an aborted batch must not count as processed (ADVICE r3)
        self.batches_processed += 1

    def _answer(self, batch_id: int, released: list[tuple[str, int]],
                table: pa.Table, meta: dict, *, ingest_ms: int,
                t_batch0: float, local_cpu_ns: int) -> None:
        t_g0 = time.perf_counter()
        vals = np.column_stack([table.column(c).to_numpy()
                                for c in self.cols])
        t0 = time.perf_counter_ns()
        keep = skyline_mask(vals)
        global_cpu_ns = time.perf_counter_ns() - t0
        # A4: survivors/local per partition, averaged over ALL
        # num_partitions (empty partitions count 0 — FlinkSkyline.java:600).
        pids = table.column("pid").to_numpy()
        sizes = np.bincount(pids)
        surv = np.bincount(pids[keep], minlength=len(sizes))
        opt = float((surv[sizes > 0] / sizes[sizes > 0]).sum()) \
            / self.num_partitions
        sky = table.drop_columns(["pid"]).filter(pa.array(keep))
        out = pa.concat_tables([
            sky.add_column(0, "query_id",
                           pa.array([str(q)] * sky.num_rows, pa.string()))
            for q, _k in released])
        # Per-batch-id directory, replaced on a retry ⇒ a batch retry
        # replaces its own earlier rows instead of appending duplicates.
        _publish(os.path.join(self.results_dir, _batch_subdir(batch_id)),
                 _parquet_dir(out))
        # A5 timing shape (metrics_collector.py:60-72): ingest =
        # state update, global = merge+emit, total = batch wall,
        # latency = trigger receipt (batch start) → emission.
        # A6: {local,global}_cpu_ms = the driver's kernel time for the
        # state fold and the global merge (FlinkSkyline.java:534-539).
        global_ms = int((time.perf_counter() - t_g0) * 1000)
        total_ms = int((time.perf_counter() - t_batch0) * 1000)
        metrics = [
            (str(qid), meta["record_count"], sky.num_rows, round(opt, 4),
             batch_id, ingest_ms, global_ms, total_ms, total_ms,
             local_cpu_ns // 1_000_000, global_cpu_ns // 1_000_000)
            for qid, _k in released
        ]
        _publish(os.path.join(self.metrics_dir, _batch_subdir(batch_id)),
                 _parquet_dir(pa.Table.from_pylist(
                     [dict(zip(_METRICS_SCHEMA.names, m)) for m in metrics],
                     schema=_METRICS_SCHEMA)))

    # -- drivers -----------------------------------------------------------

    def run_available_now(self, data_dir: str, trigger_dir: str, *,
                          max_files_per_trigger: int | None = None) -> None:
        """Consume all currently-available files, then stop (test driver).

        Two text-file streams (CSV tuples / CSV triggers) tagged and
        unioned — the Spark analogue of the reference's
        ``keyedData.connect(keyedTriggers)`` (FlinkSkyline.java:162-165).
        """
        from .sources import file_stream

        data = file_stream(self.spark, data_dir,
                           max_files_per_trigger=max_files_per_trigger) \
            .withColumn("kind", F.lit(0))
        trig = file_stream(self.spark, trigger_dir,
                           max_files_per_trigger=max_files_per_trigger) \
            .withColumn("kind", F.lit(1))
        q = (
            data.unionByName(trig)
            .writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation",
                    os.path.join(self.work_dir, "checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def run_stream(self, tagged: DataFrame, *, timeout_s: float = 30.0,
                   min_batches: int = 2,
                   processing_interval: str = "1 second") -> int:
        """Run the pipeline off ANY tagged ``(value, kind)`` stream — the
        production driver shape: an unbounded source (rate, socket, or
        :func:`sources.kafka_stream`) with a processing-time trigger.

        Stops once ``min_batches`` micro-batches have been processed (or
        at ``timeout_s``, whichever first).  ``StreamingQuery.stop()``
        INTERRUPTS any in-flight micro-batch rather than draining it —
        that is safe here because each epoch commits atomically (every
        publish is a rename, retries are idempotent), so state/results
        are exactly what the completed epochs committed — the same
        any-time-stop contract a Kafka deployment has.  Returns the
        number of batches that committed during this run.
        """
        start = self.batches_processed
        q = (
            tagged.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation",
                    os.path.join(self.work_dir, "checkpoint"))
            .trigger(processingTime=processing_interval)
            .start()
        )
        try:
            deadline = time.time() + timeout_s
            while (time.time() < deadline
                   and self.batches_processed - start < min_batches):
                time.sleep(0.2)
        finally:
            q.stop()
            q.awaitTermination()
        return self.batches_processed - start

    def results(self) -> DataFrame:
        return self.spark.read.option("recursiveFileLookup", "true") \
            .parquet(self.results_dir)

    def metrics(self) -> DataFrame:
        return self.spark.read.option("recursiveFileLookup", "true") \
            .parquet(self.metrics_dir)
