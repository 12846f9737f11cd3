"""Crash consistency of the stream engine (`engine.SkylinePipeline`).

A micro-batch commits in four publishes: the state epoch, the meta
epoch, the released answers and their metrics rows.  Random streams
(batch splits, out-of-order ids, duplicate lines and vectors, malformed
lines, triggers with K = 0, K reached mid-stream and K never reached)
are driven through ``process_batch``; in every batch a failure is
injected just before or just after one of the four publishes, when the
batch makes that publish.  The batch is then recovered the way
Structured Streaming recovers it, by running the same batch id again,
either on the same instance or on a fresh ``SkylinePipeline`` over the
same ``work_dir``.

Every released answer must equal a brute-force skyline of the valid
rows of every batch up to and including the releasing one; no trigger
is released twice or lost, and there is exactly one metrics row per
release.  After each injected failure the readers (``results()``,
``metrics()``, ``_epochs()``) must see published directories only.
"""

import contextlib
import glob
import itertools
import os
import re
from collections import Counter
from unittest import mock

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import HealthCheck, event, example, given, settings
from hypothesis import strategies as st
from pyspark.errors import AnalysisException
from pyspark.sql.readwriter import DataFrameWriter

from flink_skyline_qos_spark.streaming import engine
from flink_skyline_qos_spark.streaming.engine import SkylinePipeline

POINTS = ("state", "meta", "results", "metrics")
ALGOS = ("mr-dim", "mr-grid", "mr-angle")
NEVER = 10 ** 9
MALFORMED = ("garbage", "7,abc,1", "8,1", "9,1,2,3,4", ",1,2", "", "x,1,2")
_PUBLISHED = {
    ("state", "points"): r"epoch=\d+",
    ("state", "meta"): r"epoch=\d{20}\.json",
    ("results", "points"): r"batch_\d{20}",
    ("results", "metrics"): r"batch_\d{20}",
}
_KIND = dict(zip(_PUBLISHED, POINTS))
#: (commit point, before/after it, recovery), one drawn per batch
CRASHES = list(itertools.product(POINTS, ("before", "after"),
                                 ("retry", "restart")))


class Crash(Exception):
    pass


def _publish_kind(path) -> str | None:
    """Which commit point publishing to `path` is, or None."""
    parent, name = os.path.split(os.path.normpath(str(path)))
    key = (os.path.basename(os.path.dirname(parent)), os.path.basename(parent))
    if key in _PUBLISHED and re.fullmatch(_PUBLISHED[key], name):
        return _KIND[key]
    return None


@contextlib.contextmanager
def crash_at(point: str, phase: str):
    """Raise `Crash` at the first publish of kind `point`: before it
    (``phase="before"``) or right after it lands (``"after"``).  A
    publish is an ``os.replace`` onto, or a Spark parquet write to, a
    published name."""
    fired: list[str] = []
    real_replace = os.replace
    real_parquet = DataFrameWriter.parquet

    def guard(path, publish):
        if fired or _publish_kind(path) != point:
            return publish()
        fired.append(str(path))
        if phase == "after":
            publish()
        raise Crash(f"{phase} {point} publish: {path}")

    def replace(src, dst, *a, **k):
        return guard(dst, lambda: real_replace(src, dst, *a, **k))

    def parquet(self, path, *a, **k):
        return guard(path, lambda: real_parquet(self, path, *a, **k))

    with mock.patch.object(os, "replace", replace), \
            mock.patch.object(DataFrameWriter, "parquet", parquet):
        yield fired


# ------------------------------------------------------------------ model

def brute_skyline(rows: list[tuple]) -> list[tuple]:
    """Multiset skyline of `(id, *vals)` rows, O(n²) NumPy."""
    if not rows:
        return []
    v = np.array([r[1:] for r in rows], dtype=float)
    le = (v[:, None, :] <= v[None, :, :]).all(-1)
    lt = (v[:, None, :] < v[None, :, :]).any(-1)
    dominated = (le & lt).any(0)
    return sorted(r for r, d in zip(rows, dominated) if not d)


def model(batches):
    """Expected releases `{qid: (batch, record_count, skyline)}`, the
    triggers still pending, and the skyline of every valid row."""
    rows, pending, released = [], [], {}
    max_seen = -1
    for b, (data, trigs, _lines) in enumerate(batches):
        rows += data
        if data:
            max_seen = max(max_seen, max(r[0] for r in data))
        waiting = pending + [(q, k) for q, k, _ in trigs]
        sky = None
        pending = []
        for q, k in waiting:
            if k == 0 or max_seen >= k:
                sky = sky if sky is not None else brute_skyline(rows)
                released[q] = (b, len(rows), sky)
            else:
                pending.append((q, k))
    return released, pending, brute_skyline(rows)


# ------------------------------------------------------------- strategy

def _line(row: tuple) -> str:
    return ",".join([str(row[0])] + [repr(x) for x in row[1:]])


@st.composite
def streams(draw):
    """`(dims, algo, batches, crashes)`; a batch is `(valid rows,
    triggers as (qid, K, wire), wire lines)` and its crash is drawn
    from CRASHES."""
    dims = draw(st.sampled_from([2, 3]))
    n_batches = draw(st.integers(2, 4))
    n = draw(st.integers(0, 30))
    ids = draw(st.permutations(range(n)))  # ids arrive out of order
    cuts = sorted(draw(st.lists(st.integers(0, n), min_size=n_batches - 1,
                                max_size=n_batches - 1)))
    bounds = [0, *cuts, n]
    vec = st.tuples(*[st.integers(0, 6)] * dims)  # small domain: ties
    seen: list[tuple] = []
    batches, crashes = [], []
    qn = 0
    for b in range(n_batches):
        data = [(i, *map(float, draw(vec)))
                for i in ids[bounds[b]:bounds[b + 1]]]
        if seen:  # a line delivered again, here or in a later batch
            data += draw(st.lists(st.sampled_from(seen), max_size=2))
        seen += data
        lines = [_line(r) for r in data]
        lines += draw(st.lists(st.sampled_from(MALFORMED), max_size=2))
        lines = draw(st.permutations(lines))
        trigs = []
        for kind in draw(st.lists(st.sampled_from(["zero", "mid", "never"]),
                                  max_size=2)):
            q = f"q{qn}"
            qn += 1
            if kind == "zero":
                wire = draw(st.sampled_from([q, f"{q},0", f"{q},x"]))
                trigs.append((q, 0, wire))
            else:
                k = NEVER if kind == "never" or n == 0 \
                    else draw(st.integers(1, n))
                trigs.append((q, k, f"{q},{k}"))
        batches.append((data, trigs, lines))
        crashes.append(draw(st.sampled_from(CRASHES)))
    algo = draw(st.sampled_from(ALGOS))
    return dims, algo, batches, crashes


def fixed_stream(dims: int, algo: str, crashes) -> tuple:
    """A stream whose every batch releases a trigger, so that each of
    `crashes`, one per batch, fires."""
    rng = np.random.default_rng(dims)
    ids = rng.permutation(8 * len(crashes))
    batches = []
    for b in range(len(crashes)):
        data = [(int(i), *map(float, rng.integers(0, 7, dims)))
                for i in ids[8 * b:8 * b + 8]]
        if b:
            data.append(batches[0][0][0])  # a line delivered again
        trigs = [(f"z{b}", 0, f"z{b}"), (f"m{b}", 12, f"m{b},12"),
                 (f"n{b}", NEVER, f"n{b},{NEVER}")]
        batches.append((data, trigs, [_line(r) for r in data] + ["8,1"]))
    return dims, algo, batches, list(crashes)


# ---------------------------------------------------------------- checks

def _visible(path: str) -> list[str]:
    return sorted(e for e in os.listdir(path) if e[0] not in "_.") \
        if os.path.isdir(path) else []


def assert_readers_see_published_only(pipe) -> None:
    """Every name a reader can list is a published one, and Spark's
    readers only pick up files inside published directories."""
    for (a, b), pattern in _PUBLISHED.items():
        d = os.path.join(pipe.work_dir, a, b)
        for name in _visible(d):
            assert re.fullmatch(pattern, name), (d, name)
    for e in engine._epochs(pipe.points_dir):
        epoch = os.path.join(pipe.points_dir, f"epoch={e}")
        assert glob.glob(os.path.join(epoch, "*.parquet")), epoch
    for read, d in ((pipe.results, pipe.results_dir),
                    (pipe.metrics, pipe.metrics_dir)):
        try:
            files = read().inputFiles()
        except AnalysisException:
            assert not _visible(d), d  # nothing published yet
            continue
        for f in files:
            rel = os.path.relpath(f.removeprefix("file:"), d)
            first = rel.split(os.sep)[0]
            assert re.fullmatch(r"batch_\d{20}", first), f


def _published_tables(path: str):
    for d in sorted(glob.glob(os.path.join(path, "batch_*"))):
        yield int(d.rsplit("_", 1)[1]), pq.read_table(d)


def check_outcome(pipe, dims, batches) -> None:
    cols = [f"d{i}" for i in range(dims)]
    released, pending, full_sky = model(batches)

    metrics = [r for _, t in _published_tables(pipe.metrics_dir)
               for r in t.to_pylist()]
    counts = Counter(r["query_id"] for r in metrics)
    assert set(counts) == set(released), (counts, released)
    assert all(c == 1 for c in counts.values()), counts
    for r in metrics:
        b, record_count, sky = released[r["query_id"]]
        assert (r["batch_id"], r["record_count"], r["skyline_size"]) == \
            (b, record_count, len(sky)), r

    answers: dict[str, list] = {}
    where: dict[str, set] = {}
    for b, t in _published_tables(pipe.results_dir):
        for r in t.to_pylist():
            answers.setdefault(r["query_id"], []).append(
                (r["id"], *[r[c] for c in cols]))
            where.setdefault(r["query_id"], set()).add(b)
    assert set(answers) <= set(released)
    for q, (b, _, sky) in released.items():
        assert sorted(answers.get(q, [])) == sky, q
        assert where.get(q, {b}) == {b}, (q, where[q])

    _, meta = pipe._load()
    assert sorted(map(tuple, meta["pending"])) == sorted(pending)
    assert meta["record_count"] == sum(len(b[0]) for b in batches)

    latest = max(engine._epochs(pipe.points_dir))
    state = pq.read_table(os.path.join(pipe.points_dir, f"epoch={latest}"))
    rows = [(r["id"], *[r[c] for c in cols]) for r in state.to_pylist()]
    assert brute_skyline(rows) == full_sky


# ------------------------------------------------------------------ test

@settings(max_examples=15, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.data_too_large])
@given(stream=streams())
# every (commit point, before/after, recovery) at least once
@example(stream=fixed_stream(2, "mr-grid", CRASHES[0:4]))
@example(stream=fixed_stream(3, "mr-angle", CRASHES[4:8]))
@example(stream=fixed_stream(2, "mr-dim", CRASHES[8:12]))
@example(stream=fixed_stream(3, "mr-grid", CRASHES[12:16]))
def test_pipeline_crash_at_every_commit_point(spark, tmp_path_factory, stream):
    dims, algo, batches, crashes = stream
    work = str(tmp_path_factory.mktemp("crash"))

    def fresh():
        return SkylinePipeline(spark, work, dims=dims, algo=algo,
                               num_partitions=4, domain_max=6.0)

    pipe = fresh()
    for b, ((_, trigs, lines), (point, phase, recovery)) in enumerate(
            zip(batches, crashes)):
        df = spark.createDataFrame(pa.table({
            "value": pa.array(lines + [w for _, _, w in trigs], pa.string()),
            "kind": pa.array([0] * len(lines) + [1] * len(trigs), pa.int32()),
        }))
        fired = []
        try:
            with crash_at(point, phase) as fired:
                pipe.process_batch(df, b)
        except Crash:
            pass
        if fired:
            event(f"crash {phase} {point} publish, {recovery}")
            assert_readers_see_published_only(pipe)
            if recovery == "restart":
                pipe = fresh()
            pipe.process_batch(df, b)
    check_outcome(pipe, dims, batches)
