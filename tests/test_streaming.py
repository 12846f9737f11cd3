"""Streaming suite: wire codecs (P1/P2), the incremental foreachBatch
pipeline (ST1-ST7 via engine.SkylinePipeline), its metrics, and the
Kafka and rate sources.

Reference semantics under test (SURVEY §2.5):
  * record-ID barrier — a trigger "qid,K" answers the skyline of the
    prefix ingested when max_seen_id >= K (FlinkSkyline.java:296-356)
  * K=0 / comma-less payload → immediate execution (query_trigger.py:76-82)
  * incremental local state: skyline(state ∪ batch) == skyline(all data)
"""

import os

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from flink_skyline_qos_spark.operators.skyline import skyline
from flink_skyline_qos_spark.streaming.engine import SkylinePipeline
from flink_skyline_qos_spark.streaming.wire import (
    parse_service_tuples,
    parse_triggers,
    serialize_service_tuples,
)


# ---------------------------------------------------------------- wire

def test_parse_service_tuples_drops_malformed(spark):
    raw = spark.createDataFrame(
        [("1,10.0,20.0",),       # ok
         ("2,5.5,6.5",),         # ok
         ("3,1.0",),             # wrong arity
         ("4,a,2.0",),           # non-numeric
         ("garbage",),           # no commas
         ("5,1.0,2.0,3.0",)],    # too many fields
        "value string")
    out = parse_service_tuples(raw, dims=2).orderBy("id").collect()
    assert [(r["id"], r["d0"], r["d1"]) for r in out] == [
        (1, 10.0, 20.0), (2, 5.5, 6.5)]


def test_parse_triggers_commaless_means_k0(spark):
    raw = spark.createDataFrame(
        [("q1,500",), ("q2",), ("q3,notanum",)], "value string")
    out = {r["query_id"]: r["required_count"]
           for r in parse_triggers(raw).collect()}
    assert out == {"q1": 500, "q2": 0, "q3": 0}


def test_serialize_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, 10.0, 20.5), (2, 3.25, 4.0)], "id long, d0 double, d1 double")
    back = parse_service_tuples(
        serialize_service_tuples(df, dims=2), dims=2)
    assert sorted(back.collect()) == sorted(df.collect())


# Fields on which Spark's casts and a plain pyarrow cast disagree, or
# that are not finite: whitespace and control bytes, signs, Java's
# type suffixes and hex floats, Spark's inf/nan literals, overflow,
# non-ASCII digits.
EDGE_FIELDS = (
    " 12", "\t12", "12\r", "+12", "12.0", "0x1F", "1d", "1F", "0x1p3",
    "Infinity", "inf", "NaN", "1e400", "9223372036854775808",
    "-9223372036854775808", "-9223372036854775809", "", "\u0661\u0662",
    "\uff11\uff12", "\x7f12", "\x0012", "-0", "-Infinity", "+NaN", "+nan",
    " nan ", "INF", "1.e3", ".5", "12.", "0x1.8p1", "0X1P-2f", "0x1p99999",
    "1e-400", "1e", "--1", "1_000", "1 2", "InfinityD",
    "0" * 4400 + "12", "9" * 4400,
)
TRIGGER_EDGE_LINES = ("q, 7 ", ",5", "q,1,2", "q1,500", "q2", "q3,notanum",
                      "q4,", "q5,+7", "q6,12.0", "q7,9223372036854775808",
                      "q8,0x10", "q9,-3", "", None)


def _codec_corpus() -> list:
    lines = ["1,10.0,20.0", "2,5.5,6.5", "3,1.0", "4,a,2.0", "garbage",
             "5,1.0,2.0,3.0", "6,1,2,", "7,1e5,-2.5E-3", "", None]
    for f in EDGE_FIELDS:
        lines += [f"{f},1,2", f"8,{f},2", f"9,1,{f}"]
    return lines


def _float_key(x: float) -> str:
    return x.hex()  # tells -0.0 from 0.0


def _assert_codecs_agree(spark, lines, dims=2):
    """parse_service_lines == parse_service_tuples minus NaN rows, and
    parse_trigger_lines == parse_triggers, over `lines`."""
    import math

    import pyarrow as pa

    from flink_skyline_qos_spark.streaming.wire import (
        parse_service_lines,
        parse_trigger_lines,
    )

    raw = spark.createDataFrame([(v,) for v in lines], "value string")
    cols = [f"d{i}" for i in range(dims)]
    want = sorted(
        (r["id"], *map(_float_key, (r[c] for c in cols)))
        for r in parse_service_tuples(raw, dims).collect()
        if not any(math.isnan(r[c]) for c in cols))
    half = len(lines) // 2   # the engine hands over chunked arrays
    arr = pa.chunked_array([pa.array(lines[:half], pa.string()),
                            pa.array(lines[half:], pa.string())])
    ids, vals = parse_service_lines(arr, dims)
    assert ids.dtype == np.int64 and vals.dtype == np.float64
    assert vals.shape == (len(ids), dims)
    got = sorted((int(i), *map(_float_key, v.tolist()))
                 for i, v in zip(ids, vals))
    assert got == want
    want_t = sorted((r["query_id"], r["required_count"])
                    for r in parse_triggers(raw).collect())
    assert sorted(parse_trigger_lines(arr)) == want_t


def test_driver_codec_matches_spark_on_edge_corpus(spark):
    lines = _codec_corpus()
    _assert_codecs_agree(spark, lines + list(TRIGGER_EDGE_LINES))


_NUMBER = st.one_of(
    st.integers(-(1 << 64), 1 << 64).map(str),
    st.floats().map(repr),
    st.decimals(allow_nan=False, allow_infinity=False).map(str),
)
_FIELD = st.one_of(
    _NUMBER,
    st.sampled_from(EDGE_FIELDS),
    st.text(alphabet="0123456789+-.,eExXpPdDfFaAiInNtTyY \t\r\x7f",
            max_size=8),
)
_LINE = st.one_of(
    st.none(),
    # mostly well-formed: a plain id and two numeric or edge-case dims
    st.tuples(st.integers(-10 ** 6, 10 ** 6).map(str),
              *[_NUMBER | st.sampled_from(EDGE_FIELDS)] * 2).map(",".join),
    st.lists(_FIELD, min_size=1, max_size=4).map(",".join),
)


@settings(max_examples=30, deadline=None, derandomize=True)
@given(lines=st.lists(_LINE, min_size=10, max_size=80))
def test_driver_codec_matches_spark_on_generated_lines(spark, lines):
    _assert_codecs_agree(spark, lines)


# ------------------------------------------------------------- pipeline

def _write_text(path, name, lines):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as fh:
        fh.write("\n".join(lines) + "\n")


def test_pipeline_end_to_end(spark, tmp_path, points_2d):
    work = str(tmp_path / "work")
    data_dir = str(tmp_path / "data")
    trig_dir = str(tmp_path / "trig")
    rows = points_2d.collect()
    lines = [f"{r['id']},{r['d0']},{r['d1']}" for r in rows]
    # two data files + one trigger file: trigger K = half the ids
    half = len(lines) // 2
    _write_text(data_dir, "a.csv", lines[:half])
    _write_text(data_dir, "b.csv", lines[half:])
    _write_text(trig_dir, "t.csv", [f"q_all,{len(lines)}", "q_now"])

    pipe = SkylinePipeline(spark, work, dims=2, algo="mr-dim",
                           num_partitions=4, domain_max=120000.0)
    pipe.run_available_now(data_dir, trig_dir)

    res = pipe.results()
    # q_all saw everything (K == max id): equals the batch skyline
    expect = {(r["d0"], r["d1"]) for r in
              skyline(points_2d, ["d0", "d1"]).collect()}
    got_all = {(r["d0"], r["d1"]) for r in
               res.filter(F.col("query_id") == "q_all").collect()}
    assert got_all == expect

    # q_now (K=0) answered over whatever had been ingested at its batch —
    # must be the skyline of a prefix-closed subset, i.e. every returned
    # point must be a full-data point and non-dominated within its prefix.
    got_now = res.filter(F.col("query_id") == "q_now")
    assert got_now.count() >= 1

    m = pipe.metrics()
    mrow = m.filter(F.col("query_id") == "q_all").first()
    assert mrow["record_count"] == len(lines)
    assert mrow["skyline_size"] == len(expect)
    assert 0.0 <= mrow["optimality"] <= 1.0


def test_pipeline_barrier_pending_until_satisfied(spark, tmp_path, points_2d):
    """A trigger whose K exceeds ingested ids stays pending (ST2/ST3)."""
    work = str(tmp_path / "work")
    data_dir = str(tmp_path / "data")
    trig_dir = str(tmp_path / "trig")
    rows = points_2d.collect()
    lines = [f"{r['id']},{r['d0']},{r['d1']}" for r in rows]
    _write_text(data_dir, "a.csv", lines)
    _write_text(trig_dir, "t.csv", ["q_future,999999999"])

    pipe = SkylinePipeline(spark, work, dims=2, algo="mr-grid",
                           num_partitions=4, domain_max=120000.0)
    pipe.run_available_now(data_dir, trig_dir)
    assert not os.path.isdir(pipe.results_dir) or \
        pipe.results().count() == 0

    # the pending trigger is persisted in state meta
    _, meta = pipe._load()
    assert ["q_future", 999999999] in meta["pending"]

    # more data arrives that satisfies K=400 after renumbering? Instead:
    # release via a K=0 trigger in a second run over the same state.
    _write_text(trig_dir, "t2.csv", ["q_imm"])
    pipe.run_available_now(data_dir, trig_dir)
    got = {(r["d0"], r["d1"]) for r in
           pipe.results().filter(F.col("query_id") == "q_imm").collect()}
    expect = {(r["d0"], r["d1"]) for r in
              skyline(points_2d, ["d0", "d1"]).collect()}
    assert got == expect


def _brute_skyline_mask(v):
    """O(n²) NumPy skyline membership of the rows of `v`."""
    le = (v[:, None, :] <= v[None, :, :]).all(-1)
    lt = (v[:, None, :] < v[None, :, :]).any(-1)
    return ~(le & lt).any(0)


@pytest.mark.parametrize("dims", [2, 3])
@pytest.mark.parametrize("algo", ["mr-dim", "mr-grid", "mr-angle"])
def test_pipeline_incremental_equals_batch(spark, tmp_path, algo, dims):
    """Multi-batch ingest (maxFilesPerTrigger=1) + final trigger ==
    one-shot batch skyline — the incremental-state contract (ST4) —
    and the released query's metrics row and output schemas."""
    import numpy as np
    from pyspark.sql.types import _parse_datatype_string

    from flink_skyline_qos_spark.operators.partitioners import (
        partitioner_expr,
    )
    from flink_skyline_qos_spark.sources.generators import (
        generate_points_hash,
    )
    from flink_skyline_qos_spark.streaming.engine import (
        PIPELINE_METRICS_DDL,
    )

    work = str(tmp_path / "work")
    data_dir = str(tmp_path / "data")
    trig_dir = str(tmp_path / "trig")
    cols = [f"d{i}" for i in range(dims)]
    # 2 partitions: mr-grid's raw cell ids (up to 2^dims - 1) exceed it
    parts, domain = 2, 10000.0
    rows = generate_points_hash(spark, 600, dims, dist="anti_correlated") \
        .withColumn("pid", partitioner_expr(
            algo, [F.col(c) for c in cols], parts, domain)) \
        .orderBy("id").collect()
    lines = [",".join([str(r["id"])] + [repr(r[c]) for c in cols])
             for r in rows]
    third = len(lines) // 3
    for i, name in enumerate(["a.csv", "b.csv", "c.csv"]):
        _write_text(data_dir, name, lines[i * third:(i + 1) * third])
        os.utime(os.path.join(data_dir, name), (1e9 + i, 1e9 + i))
    _write_text(trig_dir, "t.csv", [f"q,{rows[-1]['id']}"])

    pipe = SkylinePipeline(spark, work, dims=dims, algo=algo,
                           num_partitions=parts, domain_max=domain)
    pipe.run_available_now(data_dir, trig_dir, max_files_per_trigger=1)

    vals = np.array([[r[c] for c in cols] for r in rows])
    pids = np.array([r["pid"] for r in rows])
    sky = _brute_skyline_mask(vals)
    res = pipe.results()
    got = {tuple(r[c] for c in cols) for r in
           res.filter(F.col("query_id") == "q").collect()}
    assert got == {tuple(v) for v in vals[sky]}
    assert res.dtypes == [("query_id", "string"), ("id", "bigint")] \
        + [(c, "double") for c in cols]

    # A4: survivors / local skyline size per partition, averaged over
    # num_partitions; empty partitions count 0, and mr-grid cells past
    # num_partitions count like any other
    opt = sum(
        (sky & (pids == p)).sum() / _brute_skyline_mask(vals[pids == p]).sum()
        for p in np.unique(pids)) / parts
    m = pipe.metrics()
    assert [(f.name, f.dataType) for f in m.schema] == [
        (f.name, f.dataType)
        for f in _parse_datatype_string(PIPELINE_METRICS_DDL)]
    mrow = m.collect()
    assert len(mrow) == 1 and mrow[0]["query_id"] == "q"
    assert mrow[0]["record_count"] == len(rows)
    assert mrow[0]["skyline_size"] == sky.sum()
    assert mrow[0]["optimality"] == pytest.approx(round(opt, 4), abs=1e-9)


@pytest.mark.parametrize("algo", ["mr-dim", "mr-grid", "mr-angle", "mr-z"])
def test_pipeline_nonfinite_lines(spark, tmp_path, algo):
    """One batch mixing ±inf, overflowing and NaN dims with valid lines:
    the ±inf rows are kept and tagged into range, the NaN rows are
    dropped as malformed, and the answer is the skyline of the rest."""
    lines = ["1,Infinity,3", "2,1e400,4", "3,NaN,2", "4,2,-Infinity",
             "5,inf,-inf", "6,nan,1", "7,3,NaN", "8,-1e400,9"]
    rng = np.random.default_rng(3)
    lines += [f"{i},{a},{b}" for i, (a, b) in
              enumerate(rng.integers(0, 10, (40, 2)).tolist(), start=10)]
    batch = spark.createDataFrame([(v, 0) for v in lines] + [("q", 1)],
                                  "value string, kind int")
    pipe = SkylinePipeline(spark, str(tmp_path / "work"), dims=2, algo=algo,
                           num_partitions=4, domain_max=10.0)
    pipe.process_batch(batch, 0)

    rows = [(int(i), float(a), float(b))
            for i, a, b in (v.split(",") for v in lines)]
    rows = [r for r in rows if not np.isnan(r[1:]).any()]
    vals = np.array([r[1:] for r in rows])
    want = {r for r, keep in zip(rows, _brute_skyline_mask(vals)) if keep}
    got = {(r["id"], r["d0"], r["d1"]) for r in pipe.results().collect()}
    assert got == want and any(np.isinf(r[1:]).any() for r in got)
    mrow = pipe.metrics().collect()
    assert [(r["query_id"], r["record_count"]) for r in mrow] == \
        [("q", len(rows))]


def test_pipeline_batch_retry_idempotent(spark, tmp_path, points_2d):
    """Replaying a foreachBatch batch id (Spark's retry contract) must not
    double-count records, duplicate state ties, or re-append results."""
    work = str(tmp_path / "work")
    pipe = SkylinePipeline(spark, work, dims=2, algo="mr-dim",
                           num_partitions=4, domain_max=120000.0)
    rows = points_2d.collect()
    lines = [f"{r['id']},{r['d0']},{r['d1']}" for r in rows]
    half = len(lines) // 2

    def mk(ls, trigs):
        return spark.createDataFrame(
            [(line, 0) for line in ls] + [(t, 1) for t in trigs],
            "value string, kind int")

    b0 = mk(lines[:half], [])
    pipe.process_batch(b0, 0)
    pipe.process_batch(b0, 0)  # retry BEFORE any answer
    b1 = mk(lines[half:], [f"q,{len(lines)}"])
    pipe.process_batch(b1, 1)
    pipe.process_batch(b1, 1)  # retry AFTER save + answer already happened

    _, meta = pipe._load()
    assert meta["record_count"] == len(lines)

    expect = {(r["d0"], r["d1"]) for r in
              skyline(points_2d, ["d0", "d1"]).collect()}
    res = pipe.results()
    got = {(r["d0"], r["d1"]) for r in
           res.filter(F.col("query_id") == "q").collect()}
    assert got == expect
    assert res.count() == res.distinct().count()  # no retry duplicates

    m = pipe.metrics()
    assert m.count() == 1  # one released query, despite the replays
    mrow = m.first()
    assert mrow["record_count"] == len(lines)
    assert mrow["local_cpu_ms"] >= 0 and mrow["global_cpu_ms"] >= 0


def test_query_metrics_cpu_accounting(lineitem):
    """A6: kernel-measured per-partition CPU surfaces as nonzero
    local_cpu_ms/global_cpu_ms straggler metrics on a real run; A7: the
    JSON result record carries every non-null metric unchanged."""
    import json

    from flink_skyline_qos_spark.plans.metrics import (
        metrics_to_json,
        skyline_query_metrics,
    )

    df = skyline_query_metrics(
        lineitem, ["l_extendedprice", "l_discount"], query_id="cpu",
        algo="mr-dim", num_partitions=8, domain_max=120000.0,
        with_timing=True,
    )
    m = df.first()
    assert m["record_count"] > 0 and m["skyline_size"] > 0
    assert 0.0 <= m["optimality"] <= 1.0
    # perf_counter_ns totals over a 6k-row partition are sub-ms; the columns
    # must exist and be sane, and total wall-clock must dominate kernel CPU.
    assert m["local_cpu_ms"] >= 0 and m["global_cpu_ms"] >= 0
    assert m["total_processing_time_ms"] > 0
    assert m["local_processing_time_ms"] >= 0
    assert m["global_processing_time_ms"] >= 0
    # to_json drops null fields, so compare the non-null columns only
    rec = json.loads(metrics_to_json(df).first()["result_json"])
    want = {k: v for k, v in m.asDict().items() if v is not None}
    assert rec == want


def test_query_metrics_cpu_nonzero_big(spark):
    """A6 on enough data that the kernel CPU is measurably nonzero."""
    from flink_skyline_qos_spark.plans.metrics import skyline_query_metrics
    from flink_skyline_qos_spark.sources.generators import generate_points

    pts = generate_points(spark, 200_000, 3, dist="anti_correlated", seed=7)
    m = skyline_query_metrics(
        pts, ["d0", "d1", "d2"], query_id="cpu-big", algo="mr-angle",
        num_partitions=8, domain_max=10_000.0, with_timing=True,
    ).first()
    assert m["record_count"] == 200_000
    assert m["local_cpu_ms"] > 0
    assert m["global_cpu_ms"] > 0


def test_kafka_source_sink_option_plans():
    """S1-S3 plan parity, broker-free: the option dicts the builders apply
    verbatim must match the reference's source/sink configuration
    (FlinkSkyline.java:84-97,177-183)."""
    from flink_skyline_qos_spark.streaming.sources import (
        KAFKA_MAX_REQUEST_SIZE,
        kafka_sink_options,
        kafka_source_options,
    )

    data = kafka_source_options("b:9092", "input-tuples")
    assert data["startingOffsets"] == "earliest"  # FlinkSkyline.java:87
    assert data["subscribe"] == "input-tuples"
    assert data["kafka.bootstrap.servers"] == "b:9092"

    ctrl = kafka_source_options("b:9092", "queries",
                                starting_offsets="latest")
    assert ctrl["startingOffsets"] == "latest"  # FlinkSkyline.java:95

    with pytest.raises(ValueError):
        kafka_source_options("b:9092", "t", starting_offsets="bogus")

    sink = kafka_sink_options("b:9092", "output-skyline",
                              checkpoint_dir="/tmp/ck")
    assert sink["topic"] == "output-skyline"
    assert sink["kafka.max.request.size"] == str(10 * 1024 * 1024)
    assert KAFKA_MAX_REQUEST_SIZE == 10 * 1024 * 1024  # FlinkSkyline.java:179
    assert sink["checkpointLocation"] == "/tmp/ck"


def test_kafka_stream_applies_option_plan(spark, monkeypatch):
    """kafka_stream must push kafka_source_options verbatim into the
    DataStreamReader (captured via the reader's option hook — the
    container has no kafka connector, so .load() itself can't run)."""
    import flink_skyline_qos_spark.streaming.sources as S
    from pyspark.sql.streaming import DataStreamReader

    seen: dict[str, str] = {}
    orig_option = DataStreamReader.option

    def capture(self, key, value):
        seen[key] = value
        return orig_option(self, key, value)

    def fake_load(self, path=None):
        raise RuntimeError("stop-before-load")

    monkeypatch.setattr(DataStreamReader, "option", capture)
    monkeypatch.setattr(DataStreamReader, "load", fake_load)
    with pytest.raises(RuntimeError, match="stop-before-load"):
        S.kafka_stream(spark, "b:9092", "input-tuples")
    assert seen == S.kafka_source_options("b:9092", "input-tuples")


def test_kafka_sink_applies_option_plan(spark, tmp_path, monkeypatch):
    """kafka_sink pushes kafka_sink_options verbatim into the writer."""
    import flink_skyline_qos_spark.streaming.sources as S
    from pyspark.sql.streaming import DataStreamWriter

    seen: dict[str, str] = {}
    orig_option = DataStreamWriter.option

    def capture(self, key, value):
        seen[key] = value
        return orig_option(self, key, value)

    monkeypatch.setattr(DataStreamWriter, "option", capture)
    stream = spark.readStream.format("rate").load() \
        .selectExpr("cast(value as string) as value")
    S.kafka_sink(stream, "b:9092", "output-skyline",
                 checkpoint_dir=str(tmp_path / "ck"))
    assert seen == S.kafka_sink_options(
        "b:9092", "output-skyline", checkpoint_dir=str(tmp_path / "ck"))


def test_write_metrics_csv(spark, tmp_path):
    """S4: reference collector column order, zeros for absent timings."""
    from flink_skyline_qos_spark.plans.metrics import write_metrics_csv

    m = spark.createDataFrame(
        [("q1", 100, 7, 0.5)],
        "query_id string, record_count long, skyline_size long, "
        "optimality double")
    path = str(tmp_path / "metrics_csv")
    write_metrics_csv(m, path)
    back = spark.read.option("header", True).csv(path)
    assert back.columns == [
        "query_id", "record_count", "skyline_size", "optimality",
        "ingest_ms", "local_ms", "global_ms", "total_ms", "latency_ms"]
    row = back.first()
    assert row["query_id"] == "q1" and row["ingest_ms"] == "0"


# --------------------------------------------------- non-file source (S1/S2)

def test_rate_stream_pipeline_end_to_end(spark, tmp_path):
    """Drive the pipeline from Spark's rate source — a genuinely
    unbounded, non-file execution of the S1/S2 ``value: string``
    contract (the Kafka twin minus the broker): processing-time
    trigger, any-time stop, then verify the committed state skyline
    against a batch regeneration of the exact ingested prefix."""
    from flink_skyline_qos_spark.streaming.sources import (
        rate_tuple_dims,
        rate_tuples_stream,
    )

    wd = str(tmp_path / "wd")
    pipe = SkylinePipeline(spark, wd, dims=2, algo="mr-dim",
                           num_partitions=4, domain_max=10000.0)
    tagged = rate_tuples_stream(spark, 2, rows_per_second=2000,
                                trigger_every=100)
    n = pipe.run_stream(tagged, timeout_s=60.0, min_batches=2,
                        processing_interval="1 second")
    assert n >= 1

    # Last COMMITTED epoch = the newest meta file (meta is written
    # os.replace-atomically after its points epoch) — reading the max
    # points epoch directly could catch a torn write from the stop.
    import json
    metas = sorted(f for f in os.listdir(pipe.meta_dir)
                   if f.endswith(".json"))
    assert metas, "no committed epochs"
    epoch = int(metas[-1].split("=", 1)[1].split(".", 1)[0])
    with open(os.path.join(pipe.meta_dir, metas[-1])) as fh:
        meta = json.load(fh)
    max_id = meta["max_seen_id"]
    assert max_id > 0, "rate stream ingested no data"

    local = spark.read.parquet(
        os.path.join(pipe.points_dir, f"epoch={epoch}"))
    got = sorted(r["id"] for r in
                 skyline(local.drop("pid"), ["d0", "d1"]).collect())

    # Batch-regenerate the ingested prefix: ids 0..max_id minus the
    # trigger positions, dims by the same md5 derivation.
    replay = (
        spark.range(0, max_id + 1)
        .filter((F.col("id") % 100) != 99)
        .select("id", *rate_tuple_dims(2, 10000.0))
    )
    expect = sorted(r["id"] for r in
                    skyline(replay, ["d0", "d1"]).collect())
    assert got == expect
    assert meta["record_count"] == replay.count()


def test_rate_stream_pipeline_restart_resumes(spark, tmp_path):
    """Stop the pipeline mid-stream and restart it against the SAME
    work dir + checkpoint: the rate source resumes from committed
    offsets, batch ids continue, and the strictly-below epoch resume
    extends state without loss or duplication — verified by replaying
    the full ingested prefix in batch."""
    import json

    from flink_skyline_qos_spark.streaming.sources import (
        rate_tuple_dims,
        rate_tuples_stream,
    )

    wd = str(tmp_path / "wd")

    def run_once():
        pipe = SkylinePipeline(spark, wd, dims=2, algo="mr-dim",
                               num_partitions=4, domain_max=10000.0)
        tagged = rate_tuples_stream(spark, 2, rows_per_second=2000,
                                    trigger_every=100)
        pipe.run_stream(tagged, timeout_s=60.0, min_batches=2)
        metas = sorted(f for f in os.listdir(pipe.meta_dir)
                       if f.endswith(".json"))
        epoch = int(metas[-1].split("=", 1)[1].split(".", 1)[0])
        with open(os.path.join(pipe.meta_dir, metas[-1])) as fh:
            return pipe, epoch, json.load(fh)

    pipe1, epoch1, meta1 = run_once()
    assert meta1["max_seen_id"] > 0
    pipe2, epoch2, meta2 = run_once()
    # restart continued, did not restart from scratch
    assert epoch2 > epoch1
    assert meta2["max_seen_id"] > meta1["max_seen_id"]
    assert meta2["record_count"] > meta1["record_count"]

    local = spark.read.parquet(
        os.path.join(pipe2.points_dir, f"epoch={epoch2}"))
    got = sorted(r["id"] for r in
                 skyline(local.drop("pid"), ["d0", "d1"]).collect())
    replay = (
        spark.range(0, meta2["max_seen_id"] + 1)
        .filter((F.col("id") % 100) != 99)
        .select("id", *rate_tuple_dims(2, 10000.0))
    )
    expect = sorted(r["id"] for r in
                    skyline(replay, ["d0", "d1"]).collect())
    assert got == expect
    assert meta2["record_count"] == replay.count()
