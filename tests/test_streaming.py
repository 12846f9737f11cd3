"""Streaming suite: wire codecs (P1/P2), the incremental foreachBatch
pipeline (ST1-ST7 via engine.SkylinePipeline), and the non-skyline
streams of ``streaming.continuous``.

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


def test_streaming_exact_dedup_bounded_state(spark):
    """Ingest-time dedup EXECUTED from the unbounded rate source: keys
    recur every 40 rows, the watermark horizon covers the whole run, so
    each key must be emitted exactly once."""
    import time as _t

    from flink_skyline_qos_spark.streaming.continuous import (
        streaming_exact_dedup,
    )

    src = (spark.readStream.format("rate")
           .option("rowsPerSecond", 200).load()
           .select(F.col("timestamp").alias("ts"),
                   (F.col("value") % 40).alias("key"),
                   F.col("value").alias("id")))
    out = streaming_exact_dedup(src, ["key"], watermark_delay="1 hour")
    q = (out.writeStream.format("memory").queryName("dedup_sink")
         .outputMode("append").trigger(processingTime="500 milliseconds")
         .start())
    try:
        deadline = _t.time() + 60
        while _t.time() < deadline:
            n = spark.sql(
                "SELECT count(DISTINCT key) AS c FROM dedup_sink"
            ).first()["c"]
            if n >= 40:
                break
            _t.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination()
    rows = spark.sql("SELECT key, count(*) AS n FROM dedup_sink "
                     "GROUP BY key").collect()
    assert len(rows) == 40
    assert all(r["n"] == 1 for r in rows)  # no key emitted twice


def test_streaming_interval_join_executes_and_matches(spark):
    """Stream-stream interval join EXECUTED: clicks (ts = imp_ts + 3 s)
    join impressions of the same user within a 5 s band — each click
    matches exactly its paired impression (the previous one is 5 s
    older than the pair gap allows)."""
    import time as _t

    from flink_skyline_qos_spark.streaming.continuous import (
        streaming_interval_join,
    )

    BASE = 1_600_000_000
    imps = (spark.readStream.format("rate")
            .option("rowsPerSecond", 300).load()
            .select((F.col("value") % 5).alias("user_id"),
                    F.col("value").alias("imp_id"),
                    F.timestamp_seconds(
                        F.lit(BASE) + F.col("value")).alias("imp_ts")))
    clicks = (spark.readStream.format("rate")
              .option("rowsPerSecond", 300).load()
              .select((F.col("value") % 5).alias("user_id"),
                      F.col("value").alias("click_id"),
                      F.timestamp_seconds(
                          F.lit(BASE) + F.col("value") + 3).alias("ts_c")))
    out = streaming_interval_join(
        clicks, imps, key="user_id", left_ts="ts_c", right_ts="imp_ts",
        band_seconds=5, watermark_delay="5 seconds")
    q = (out.select("click_id", "imp_id")
         .writeStream.format("memory").queryName("ij")
         .outputMode("append").trigger(processingTime="1 second").start())
    try:
        # 50 rows suffice for every assertion below; the tighter
        # 200-row/120 s form flaked when host contention slowed the
        # micro-batches (stream-stream joins emit only as watermarks
        # advance, so output lags trigger starvation quadratically)
        deadline = _t.time() + 240
        while _t.time() < deadline:
            n = spark.sql("SELECT count(*) AS c FROM ij").first()["c"]
            if n >= 50:
                break
            _t.sleep(0.5)
        else:
            raise AssertionError("no joined rows before timeout")
    finally:
        q.stop()
        q.awaitTermination()
    rows = spark.sql("SELECT click_id, imp_id FROM ij").collect()
    assert rows
    # correctness: every emitted pair is the click's own impression
    for r in rows:
        assert r["imp_id"] == r["click_id"], r
    # completeness on a settled prefix: every click id below the 25th
    # percentile of emitted ids has its pair present exactly once
    ids = sorted(r["click_id"] for r in rows)
    settled = ids[: max(len(ids) // 4, 1)]
    assert len(settled) == len(set(settled))


def test_streaming_windowed_hll_matches_batch(spark):
    """Windowed distinct-cardinality sketch EXECUTED from an unbounded
    rate source: every watermark-closed window's (n_buckets_hit,
    estimate) must EQUAL the batch wide-register aggregation over that
    window's saturated key set.  Construction: ts = BASE + id % 40 and
    key = id*37 % 400, so each 10 s window's key set saturates once
    400 ids have been ingested (280·t mod 400 has period 10) — and 400
    ids arrive within the first second at 500 rows/s, long before the
    5 s watermark can close any window.  The closed window's registers
    are therefore exactly reconstructible from ids 0..399."""
    import time as _t

    from flink_skyline_qos_spark.operators.sketches import (
        hll_bucket_rho, hll_estimate_wide)
    from flink_skyline_qos_spark.streaming.continuous import (
        streaming_windowed_hll)

    BASE = 1_600_000_000
    B = 6

    def shape(df):
        return df.select(
            "id",
            F.timestamp_seconds(F.lit(BASE) + F.col("id") % 40)
            .alias("ts"),
            (F.col("id") * 37 % 400).cast("string").alias("k"))

    src = shape(spark.readStream.format("rate")
                .option("rowsPerSecond", 500).load()
                .select(F.col("value").alias("id")))
    out = streaming_windowed_hll(src, "k", window_duration="10 seconds",
                                 watermark_delay="5 seconds",
                                 bucket_bits=B)
    q = (out.writeStream.format("memory").queryName("win_hll")
         .outputMode("append").trigger(processingTime="1 second").start())
    try:
        deadline = _t.time() + 120
        while _t.time() < deadline:
            if spark.sql("SELECT count(*) c FROM win_hll").first()["c"]:
                break
            _t.sleep(0.5)
        else:
            raise AssertionError("no window closed before timeout")
    finally:
        q.stop()
        q.awaitTermination()

    bucket, rho = hll_bucket_rho(F.col("k"), B)
    wide = (shape(spark.range(400)).select(
                F.window("ts", "10 seconds").alias("__win"),
                bucket.alias("__bucket"), rho.alias("__rho"))
            .groupBy("__win")
            .agg(*[F.max(F.when(F.col("__bucket") == j, F.col("__rho")))
                   .alias(f"__r{j}") for j in range(1 << B)]))
    n_hit, est = hll_estimate_wide(
        [F.col(f"__r{j}") for j in range(1 << B)], B)
    batch = {(r[0].start, r[0].end): (r[1], float(r[2])) for r in
             wide.select("__win", n_hit.alias("n"), est.alias("e"))
             .collect()}
    exact = {(r[0].start, r[0].end): r[1] for r in
             shape(spark.range(400)).select(
                 F.window("ts", "10 seconds").alias("w"), "k")
             .groupBy("w").agg(F.countDistinct("k")).collect()}
    rows = spark.sql("SELECT * FROM win_hll").collect()
    assert rows
    for r in rows:
        w = (r.win_start, r.win_end)
        assert batch[w] == (r.n_buckets_hit, float(r.hll_estimate)), w
        # and the estimate is a real estimate of the exact cardinality
        assert abs(r.hll_estimate - exact[w]) / exact[w] < 0.35, (
            w, r.hll_estimate, exact[w])


def test_streaming_windowed_count_min_matches_batch(spark):
    """Windowed count-min heavy hitters EXECUTED from an unbounded rate
    source.  Event time advances with id (ts = BASE + id div 50), so
    the rate source fills windows strictly in order: window k contains
    EXACTLY ids [k*500, (k+1)*500) by construction, no late data.  A
    closed window's estimates must EQUAL the batch count_min build +
    probe over exactly those ids — and never undercount the exact
    per-window frequency."""
    import time as _t

    from flink_skyline_qos_spark.operators.sketches import (
        count_min,
        count_min_estimate,
    )
    from flink_skyline_qos_spark.streaming.continuous import (
        streaming_windowed_count_min,
    )

    BASE = 1_600_000_000
    CANDS = ["i0", "i1", "i5"]
    DEPTH, WIDTH = 3, 8  # narrow sketch: collisions guaranteed

    def shape(df):
        return df.select(
            "id",
            F.timestamp_seconds(F.lit(BASE) + (F.col("id") / 50)
                                .cast("long")).alias("ts"),
            F.concat(F.lit("i"), (F.col("id") % 13).cast("string"))
            .alias("item"))

    src = shape(spark.readStream.format("rate")
                .option("rowsPerSecond", 500).load()
                .select(F.col("value").alias("id")))
    out = streaming_windowed_count_min(
        src, "item", CANDS, window_duration="10 seconds",
        watermark_delay="2 seconds", depth=DEPTH, width=WIDTH)
    q = (out.writeStream.format("memory").queryName("win_cm")
         .outputMode("append").trigger(processingTime="1 second").start())
    try:
        deadline = _t.time() + 120
        while _t.time() < deadline:
            if spark.sql("SELECT count(*) c FROM win_cm").first()["c"]:
                break
            _t.sleep(0.5)
        else:
            raise AssertionError("no window closed before timeout")
    finally:
        q.stop()
        q.awaitTermination()

    rows = spark.sql("SELECT * FROM win_cm").collect()
    assert rows
    for (ws, we), grp in {
        (r.win_start, r.win_end): None for r in rows
    }.items():
        k = (int(ws.timestamp()) - BASE) // 10
        ids = shape(spark.range(k * 500, (k + 1) * 500))
        sk = count_min(ids, "item", depth=DEPTH, width=WIDTH)
        cand_df = spark.createDataFrame([(c,) for c in CANDS],
                                        "item string")
        batch = {r.item: r.cm_est for r in count_min_estimate(
            sk, cand_df, "item", depth=DEPTH, width=WIDTH).collect()}
        exact = {r.item: r.c for r in
                 ids.groupBy("item").agg(F.count(F.lit(1)).alias("c"))
                 .collect()}
        got = {r.item: r.cm_est for r in rows
               if (r.win_start, r.win_end) == (ws, we)}
        assert got == batch, (ws, we)
        for c in CANDS:
            assert got[c] >= exact.get(c, 0)  # never undercounts


def test_streaming_windowed_quantiles_matches_batch(spark):
    """Windowed quantile sketch EXECUTED from an unbounded rate source
    (ordered event time: window k contains exactly ids
    [k*500, (k+1)*500)).  Every closed window's (n, q_50, q_95) must
    EQUAL the identical wide-bin batch expression over those ids, and
    the estimates must sit within one bin width of the exact
    percentiles."""
    import time as _t

    from flink_skyline_qos_spark.operators.sketches import (
        fixed_hist_bin,
        fixed_hist_quantile_wide,
    )
    from flink_skyline_qos_spark.streaming.continuous import (
        streaming_windowed_quantiles,
    )

    BASE = 1_600_000_000
    LO, HI, B = 0.0, 1000.0, 20

    def shape(df):
        return df.select(
            "id",
            F.timestamp_seconds(F.lit(BASE) + (F.col("id") / 50)
                                .cast("long")).alias("ts"),
            ((F.col("id") * 37) % 1000).cast("double").alias("v"))

    src = shape(spark.readStream.format("rate")
                .option("rowsPerSecond", 500).load()
                .select(F.col("value").alias("id")))
    out = streaming_windowed_quantiles(
        src, "v", lo=LO, hi=HI, nbins=B, quantiles=(0.5, 0.95),
        window_duration="10 seconds", watermark_delay="2 seconds")
    q = (out.writeStream.format("memory").queryName("win_hq")
         .outputMode("append").trigger(processingTime="1 second").start())
    try:
        deadline = _t.time() + 120
        while _t.time() < deadline:
            if spark.sql("SELECT count(*) c FROM win_hq").first()["c"]:
                break
            _t.sleep(0.5)
        else:
            raise AssertionError("no window closed before timeout")
    finally:
        q.stop()
        q.awaitTermination()

    rows = spark.sql("SELECT * FROM win_hq").collect()
    assert rows
    binw = (HI - LO) / B
    for r in rows:
        k = (int(r.win_start.timestamp()) - BASE) // 10
        ids = shape(spark.range(k * 500, (k + 1) * 500))
        bcol = fixed_hist_bin(F.col("v"), LO, HI, B)
        wide = ids.select(bcol.alias("__bin")).agg(
            *[F.sum((F.col("__bin") == j).cast("long")).alias(f"__b{j}")
              for j in range(B)])
        cols = [F.col(f"__b{j}") for j in range(B)]
        n = None
        for c in cols:
            n = c if n is None else n + c
        batch = wide.select(
            n.alias("n"),
            fixed_hist_quantile_wide(cols, LO, HI, 0.5).alias("q_50"),
            fixed_hist_quantile_wide(cols, LO, HI, 0.95).alias("q_95"),
        ).first()
        assert (r.n, r.q_50, r.q_95) == (batch.n, batch.q_50, batch.q_95)
        exact = ids.agg(
            F.expr("percentile(v, 0.5)").alias("p50"),
            F.expr("percentile(v, 0.95)").alias("p95")).first()
        assert abs(r.q_50 - exact.p50) <= binw
        assert abs(r.q_95 - exact.p95) <= binw


def test_streaming_windowed_quantiles_bad_args(spark):
    from flink_skyline_qos_spark.streaming.continuous import (
        streaming_windowed_quantiles,
    )

    src = (spark.readStream.format("rate").load()
           .select(F.col("timestamp").alias("ts"),
                   F.col("value").cast("double").alias("v")))
    with pytest.raises(ValueError):
        streaming_windowed_quantiles(src, "v", lo=5.0, hi=5.0)
    with pytest.raises(ValueError):
        streaming_windowed_quantiles(src, "v", lo=0.0, hi=1.0, nbins=1)
    with pytest.raises(ValueError):
        streaming_windowed_quantiles(src, "v", lo=0.0, hi=1.0,
                                     quantiles=(0.0,))


def test_streaming_minhash_admission_end_to_end(spark, tmp_path):
    """The incremental-dedup ADMISSION loop executed as a stream: two
    micro-batches of documents; within-batch near-dups are rejected
    keep-first, cross-batch near-dups are rejected against the
    signature store built from batch 1's admissions, and a full replay
    over the same work dir admits nothing twice."""
    from flink_skyline_qos_spark.streaming.continuous import (
        run_streaming_minhash_admission,
    )

    uniq1 = "the quick brown fox jumps over the lazy dog " * 8
    uniq2 = "pack my box with five dozen liquor jugs today " * 8
    uniq3 = "sphinx of black quartz judge my vow tonight ok " * 8
    data_dir = tmp_path / "docs"
    data_dir.mkdir()
    # batch 1: 1 admitted, 2 == dup of 1 (within-batch), 3 admitted
    (data_dir / "a.txt").write_text(
        f"1|{uniq1}\n2|{uniq1}\n3|{uniq2}\n")
    # batch 2: 10 == dup of 1 (cross-batch), 11 admitted,
    # 12 == dup of 11 (within-batch)
    (data_dir / "b.txt").write_text(
        f"10|{uniq1}\n11|{uniq3}\n12|{uniq3}\n")
    # the file source orders batches by modification time: equal
    # mtimes (same-tick writes) would make batch order — and hence
    # which duplicate wins admission — nondeterministic
    import os as _os
    import time as _time

    now = _time.time()
    _os.utime(data_dir / "a.txt", (now - 10, now - 10))
    _os.utime(data_dir / "b.txt", (now, now))

    def docs_stream():
        raw = (spark.readStream.format("text")
               .option("maxFilesPerTrigger", 1)
               .load(str(data_dir)))
        parts = F.split(F.col("value"), r"\|", 2)
        return raw.select(
            parts.getItem(0).cast("long").alias("doc_id"),
            parts.getItem(1).alias("text"),
        ).where(F.col("doc_id").isNotNull())

    work = str(tmp_path / "work")
    run_streaming_minhash_admission(docs_stream(), work, threshold=0.5)
    admitted = spark.read.parquet(f"{work}/admitted/*")
    got = sorted(r.doc_id for r in admitted.collect())
    assert got == [1, 3, 11]
    # the signature store covers exactly the admitted docs
    sigs = spark.read.parquet(f"{work}/sigs/*")
    assert sorted(r.doc_id for r in sigs.collect()) == [1, 3, 11]

    # full replay (fresh checkpoint, same work dir): batch dirs exist,
    # nothing is admitted twice
    import shutil

    shutil.rmtree(f"{work}/ckpt")
    run_streaming_minhash_admission(docs_stream(), work, threshold=0.5)
    again = sorted(r.doc_id for r in
                   spark.read.parquet(f"{work}/admitted/*").collect())
    assert again == [1, 3, 11]

    # crash replay: a crash between the sigs write and the docs commit
    # marker leaves an ORPHAN sigs/batch=1 with no admitted/batch=1.
    # The replay must not cross-check batch 1's survivors against their
    # own orphaned signatures (self-match would drop doc 11 forever).
    shutil.rmtree(f"{work}/admitted/batch=1")
    shutil.rmtree(f"{work}/ckpt")
    run_streaming_minhash_admission(docs_stream(), work, threshold=0.5)
    after_crash = sorted(r.doc_id for r in
                         spark.read.parquet(f"{work}/admitted/*").collect())
    assert after_crash == [1, 3, 11]
    sigs2 = spark.read.parquet(f"{work}/sigs/*")
    assert sorted(r.doc_id for r in sigs2.collect()) == [1, 3, 11]

    # mid-write crash: the docs dir exists but the commit marker was
    # never written (Spark creates the dir when the write job STARTS)
    # and the output is truncated.  The replay gate must key on the
    # framework-owned _COMMITTED marker, not directory existence — a
    # bare isdir check would skip the batch as committed and the
    # truncated output would stand (VERDICT r5 #2).  The marker is
    # ours, not Hadoop's _SUCCESS, so the gate survives
    # mapreduce.fileoutputcommitter.marksuccessfuljobs=false
    # (ADVICE r6).
    bdir = f"{work}/admitted/batch=1"
    _os.remove(f"{bdir}/_COMMITTED")
    for part in [f for f in _os.listdir(bdir) if f.startswith("part-")]:
        _os.remove(f"{bdir}/{part}")  # simulate the truncation
    shutil.rmtree(f"{work}/ckpt")
    run_streaming_minhash_admission(docs_stream(), work, threshold=0.5)
    assert _os.path.isfile(f"{bdir}/_COMMITTED")  # re-processed + committed
    after_trunc = sorted(r.doc_id for r in
                         spark.read.parquet(f"{work}/admitted/*").collect())
    assert after_trunc == [1, 3, 11]


def test_streaming_paragraph_admission_end_to_end(spark, tmp_path):
    """Span-level streaming admission: spans deduplicate within a
    batch (first occurrence by (id, pos)), across batches (standing
    span store), documents are always emitted with surviving spans
    reassembled; replay and orphan-store crashes admit nothing twice."""
    from flink_skyline_qos_spark.streaming.continuous import (
        run_streaming_paragraph_admission,
    )

    s1 = "a1 a2 a3 a4"            # span S1 (unit_tokens=4)
    s2 = "b1 b2 b3 b4"            # span S2
    s3 = "c1 c2 c3 c4"            # span S3
    data_dir = tmp_path / "docs"
    data_dir.mkdir()
    # batch 1: doc 1 = S1+S2; doc 2 repeats S1 (within batch) + new S3
    (data_dir / "a.txt").write_text(f"1|{s1} {s2}\n2|{s1} {s3}\n")
    # batch 2: doc 10 repeats S2 (cross-batch) + brand-new span
    (data_dir / "b.txt").write_text(f"10|{s2} d1 d2 d3 d4\n")
    import os as _os
    import time as _time

    now = _time.time()
    _os.utime(data_dir / "a.txt", (now - 10, now - 10))
    _os.utime(data_dir / "b.txt", (now, now))

    def docs_stream():
        raw = (spark.readStream.format("text")
               .option("maxFilesPerTrigger", 1)
               .load(str(data_dir)))
        parts = F.split(F.col("value"), r"\|", 2)
        return raw.select(
            parts.getItem(0).cast("long").alias("doc_id"),
            parts.getItem(1).alias("text"),
        ).where(F.col("doc_id").isNotNull())

    work = str(tmp_path / "work")
    run_streaming_paragraph_admission(docs_stream(), work, unit_tokens=4)
    got = {r.id: (r.clean_text, r.n_units, r.n_dupes)
           for r in spark.read.parquet(f"{work}/cleaned/*").collect()}
    assert got[1] == (f"{s1} {s2}", 2, 0)
    assert got[2] == (s3, 2, 1)                    # S1 repeat stripped
    assert got[10] == ("d1 d2 d3 d4", 2, 1)        # S2 cross-batch strip
    spans = spark.read.parquet(f"{work}/spans/*")
    assert spans.distinct().count() == 4           # S1 S2 S3 + d-span

    # full replay (fresh checkpoint, same work dir): nothing changes
    import shutil

    shutil.rmtree(f"{work}/ckpt")
    run_streaming_paragraph_admission(docs_stream(), work, unit_tokens=4)
    again = {r.id: r.clean_text
             for r in spark.read.parquet(f"{work}/cleaned/*").collect()}
    assert again[10] == "d1 d2 d3 d4"
    assert spark.read.parquet(f"{work}/spans/*").distinct().count() == 4

    # orphan-store crash: spans/batch=1 exists but cleaned/batch=1 was
    # never committed — the replay must NOT treat batch 1's own spans
    # as already seen (that would empty doc 10 forever)
    shutil.rmtree(f"{work}/cleaned/batch=1")
    shutil.rmtree(f"{work}/ckpt")
    run_streaming_paragraph_admission(docs_stream(), work, unit_tokens=4)
    after = {r.id: r.clean_text
             for r in spark.read.parquet(f"{work}/cleaned/*").collect()}
    assert after[10] == "d1 d2 d3 d4"


def test_streaming_paragraph_admission_all_blank_batch(spark, tmp_path):
    """A micro-batch of ONLY span-less (blank) documents must still
    emit every document with ('', 0, 0) — dropping them would break
    the batch-operator oracle parity (review finding, round 7)."""
    from flink_skyline_qos_spark.streaming.continuous import (
        run_streaming_paragraph_admission,
    )

    data_dir = tmp_path / "docs"
    data_dir.mkdir()
    blanks = spark.createDataFrame([(1, ""), (2, "   ")],
                                   "doc_id long, text string")
    blanks.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "p0"))
    import glob
    import shutil

    shutil.move(glob.glob(str(tmp_path / "p0" / "part-*.parquet"))[0],
                str(data_dir / "part-0.parquet"))
    stream = (spark.readStream.schema(blanks.schema)
              .option("maxFilesPerTrigger", 1).parquet(str(data_dir)))
    work = str(tmp_path / "work")
    run_streaming_paragraph_admission(stream, work, unit_tokens=4)
    got = {r.id: (r.clean_text, r.n_units, r.n_dupes)
           for r in spark.read.parquet(f"{work}/cleaned/*").collect()}
    assert got == {1: ("", 0, 0), 2: ("", 0, 0)}


def test_streaming_paragraph_admission_compacts_span_store(spark, tmp_path):
    """ADVICE r7: with compact_every=2, the per-batch span stores fold
    into a committed compact=B snapshot, and later batches (and full
    replays) read snapshot + newer stores — same answers as the
    uncompacted run."""
    from flink_skyline_qos_spark.streaming.continuous import (
        run_streaming_paragraph_admission,
    )

    spans = [f"s{i}a s{i}b s{i}c s{i}d" for i in range(4)]
    data_dir = tmp_path / "docs"
    data_dir.mkdir()
    import os as _os
    import time as _time

    now = _time.time()
    # 3 single-doc batches; batch 3 repeats spans admitted in 1 and 2
    texts = {1: f"{spans[0]} {spans[1]}", 2: f"{spans[2]}",
             3: f"{spans[1]} {spans[2]} {spans[3]}"}
    for i, (did, text) in enumerate(sorted(texts.items())):
        p = data_dir / f"{i}.txt"
        p.write_text(f"{did}|{text}\n")
        _os.utime(p, (now - 30 + 10 * i,) * 2)

    def docs_stream():
        raw = (spark.readStream.format("text")
               .option("maxFilesPerTrigger", 1).load(str(data_dir)))
        parts = F.split(F.col("value"), r"\|", 2)
        return raw.select(
            parts.getItem(0).cast("long").alias("doc_id"),
            parts.getItem(1).alias("text"),
        ).where(F.col("doc_id").isNotNull())

    work = str(tmp_path / "work")
    run_streaming_paragraph_admission(docs_stream(), work, unit_tokens=4,
                                      compact_every=2)
    got = {r.id: (r.clean_text, r.n_units, r.n_dupes)
           for r in spark.read.parquet(f"{work}/cleaned/*").collect()}
    assert got[1] == (f"{spans[0]} {spans[1]}", 2, 0)
    assert got[2] == (spans[2], 1, 0)
    # batch 3: spans[1] (snapshot) AND spans[2] (post-snapshot store)
    # both stripped — proves the snapshot+newer read covers everything
    assert got[3] == (spans[3], 3, 2)
    import glob as _glob

    compacts = [d for d in _glob.glob(f"{work}/spans/compact=*")
                if _os.path.isfile(_os.path.join(d, "_COMMITTED"))]
    assert compacts, "no committed compaction snapshot was written"
    snap = spark.read.parquet(max(compacts,
                                  key=lambda d: int(d.rsplit("=", 1)[1])))
    assert snap.distinct().count() == snap.count()  # distinct hashes
    # full replay over the compacted store: nothing admitted twice
    import shutil

    shutil.rmtree(f"{work}/ckpt")
    run_streaming_paragraph_admission(docs_stream(), work, unit_tokens=4,
                                      compact_every=2)
    again = {r.id: r.clean_text
             for r in spark.read.parquet(f"{work}/cleaned/*").collect()}
    assert again == {k: v[0] for k, v in got.items()}


def test_streaming_c4_admission_matches_batch_operator(spark, tmp_path):
    """The streamed union of per-batch c4_rules outputs equals the
    batch operator over the whole input (stateless rules), and replays
    are idempotent via the _COMMITTED markers."""
    from flink_skyline_qos_spark.functions.corpus import c4_rules
    from flink_skyline_qos_spark.streaming.continuous import (
        run_streaming_c4_admission,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog " * 4),
        (2, "spam spam spam spam spam spam"),
        (3, ""),
        (4, "a geniunely reasonable english sentence with the usual "
            "function words that should pass most of the gates here "
            "because it is long enough and varied enough to be kept"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    data_dir = tmp_path / "docs"
    data_dir.mkdir()
    import glob as _glob
    import os as _os
    import shutil
    import time as _time

    now = _time.time()
    for i, pred in enumerate((F.col("doc_id") <= 2, F.col("doc_id") > 2)):
        tmpd = str(tmp_path / f"p{i}")
        docs.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmpd)
        dst = str(data_dir / f"part-{i}.parquet")
        shutil.move(_glob.glob(f"{tmpd}/part-*.parquet")[0], dst)
        _os.utime(dst, (now - 10 + 10 * i,) * 2)

    def stream():
        return (spark.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(data_dir)))

    work = str(tmp_path / "work")
    run_streaming_c4_admission(stream(), work)
    streamed = {tuple(r) for r in spark.read
                .option("recursiveFileLookup", "true")
                .parquet(f"{work}/scored").collect()}
    batch = {tuple(r) for r in c4_rules(docs).collect()}
    assert streamed == batch
    # replay (fresh checkpoint): committed batches are skipped, output
    # unchanged
    shutil.rmtree(f"{work}/ckpt")
    run_streaming_c4_admission(stream(), work)
    again = {tuple(r) for r in spark.read
             .option("recursiveFileLookup", "true")
             .parquet(f"{work}/scored").collect()}
    assert again == batch


def test_streaming_minhash_admission_compacts_sig_store(spark, tmp_path):
    """Signature-store compaction (ADVICE r7 parity with the span
    store): with compact_every=1 every batch folds into a committed
    compact=B snapshot, and cross-batch near-dup rejection still works
    reading snapshot + newer stores."""
    from flink_skyline_qos_spark.streaming.continuous import (
        run_streaming_minhash_admission,
    )

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark woods tonight")
    near = base + " extra"
    other = ("completely different content about spark structured "
             "streaming state stores and parquet file commit markers")
    data_dir = tmp_path / "docs"
    data_dir.mkdir()
    import os as _os
    import time as _time

    now = _time.time()
    (data_dir / "a.txt").write_text(f"1|{base}\n2|{other}\n")
    (data_dir / "b.txt").write_text(f"10|{near}\n")
    _os.utime(data_dir / "a.txt", (now - 10, now - 10))
    _os.utime(data_dir / "b.txt", (now, now))

    def docs_stream():
        raw = (spark.readStream.format("text")
               .option("maxFilesPerTrigger", 1).load(str(data_dir)))
        parts = F.split(F.col("value"), r"\|", 2)
        return raw.select(
            parts.getItem(0).cast("long").alias("doc_id"),
            parts.getItem(1).alias("text"),
        ).where(F.col("doc_id").isNotNull())

    work = str(tmp_path / "work")
    run_streaming_minhash_admission(docs_stream(), work, threshold=0.5,
                                    compact_every=1)
    admitted = sorted(r.doc_id for r in spark.read
                      .parquet(f"{work}/admitted/*").collect())
    assert admitted == [1, 2]  # doc 10 rejected via the compacted store
    import glob as _glob

    compacts = [d for d in _glob.glob(f"{work}/sigs/compact=*")
                if _os.path.isfile(_os.path.join(d, "_COMMITTED"))]
    assert compacts
    # replay over the compacted store: nothing admitted twice
    import shutil

    shutil.rmtree(f"{work}/ckpt")
    run_streaming_minhash_admission(docs_stream(), work, threshold=0.5,
                                    compact_every=1)
    again = sorted(r.doc_id for r in spark.read
                   .parquet(f"{work}/admitted/*").collect())
    assert again == [1, 2]


def test_streaming_ingest_pipeline_gate_before_dedup(spark, tmp_path):
    """The composed ingest pipeline gates BEFORE span dedup: a
    REJECTED document's spans never enter the store, so a kept
    document with the same span arriving LATER still wins it (the
    semantic that distinguishes this from plain span admission);
    kept-vs-kept spans dedup across batches as usual; replay is
    idempotent."""
    from flink_skyline_qos_spark.streaming.continuous import (
        run_streaming_ingest_pipeline,
    )

    S = "w1 w2 w3 w4"                     # the contested span
    T = "the cat sat on"                  # a second span
    data_dir = tmp_path / "docs"
    data_dir.mkdir()
    import os as _os
    import time as _time

    now = _time.time()
    # batch 1: doc 1 = S alone (4 tokens -> fails min_tokens=5,
    # REJECTED); doc 2 = T twice? no - doc 2 = T + S (kept, 8 tokens)
    (data_dir / "a.txt").write_text(f"1|{S}\n2|{T} {S}\n")
    # batch 2: doc 10 = S + new span (kept).  S was admitted by KEPT
    # doc 2, so doc 10 loses it cross-batch; had rejected doc 1's
    # spans been stored, doc 2 would already have lost S in batch 1.
    (data_dir / "b.txt").write_text(f"10|{S} n1 n2 n3 n4\n")
    _os.utime(data_dir / "a.txt", (now - 10, now - 10))
    _os.utime(data_dir / "b.txt", (now, now))

    def docs_stream():
        raw = (spark.readStream.format("text")
               .option("maxFilesPerTrigger", 1).load(str(data_dir)))
        parts = F.split(F.col("value"), r"\|", 2)
        return raw.select(
            parts.getItem(0).cast("long").alias("doc_id"),
            parts.getItem(1).alias("text"),
        ).where(F.col("doc_id").isNotNull())

    relaxed = dict(min_tokens=5, max_tokens=1000,
                   tok_len_band=(0.0, 100.0), max_repeat=1.0,
                   min_stopword=0.0)
    work = str(tmp_path / "work")
    run_streaming_ingest_pipeline(docs_stream(), work, unit_tokens=4,
                                  **relaxed)
    got = {r.id: (r.kept, r.clean_text, r.n_units, r.n_dupes)
           for r in spark.read.option("recursiveFileLookup", "true")
           .parquet(f"{work}/cleaned").collect()}
    assert got[1] == (False, "", 0, 0)          # rejected: no reassembly
    assert got[2] == (True, f"{T} {S}", 2, 0)   # S NOT stolen by doc 1
    assert got[10] == (True, "n1 n2 n3 n4", 2, 1)  # S lost to doc 2
    # replay: committed batches skipped, output identical
    import shutil

    shutil.rmtree(f"{work}/ckpt")
    run_streaming_ingest_pipeline(docs_stream(), work, unit_tokens=4,
                                  **relaxed)
    again = {r.id: r.clean_text
             for r in spark.read.option("recursiveFileLookup", "true")
             .parquet(f"{work}/cleaned").collect()}
    assert again == {k: v[1] for k, v in got.items()}


def test_compact_store_gc_removes_superseded_state(spark, tmp_path):
    """ADVICE r8: once a compaction snapshot commits, superseded
    snapshots and the batch stores it covers are DELETED — disk and
    write volume stay bounded over a long stream.  Readers only ever
    need the newest committed snapshot + newer batch stores, so the
    replay after GC must still reject the cross-batch near-dup."""
    import glob as _glob
    import os as _os
    import time as _time

    from flink_skyline_qos_spark.streaming.continuous import (
        run_streaming_minhash_admission,
    )

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark woods tonight")
    other = ("completely different content about spark structured "
             "streaming state stores and parquet file commit markers")
    data_dir = tmp_path / "docs"
    data_dir.mkdir()
    now = _time.time()
    (data_dir / "a.txt").write_text(f"1|{base}\n")
    (data_dir / "b.txt").write_text(f"2|{other}\n")
    (data_dir / "c.txt").write_text(f"10|{base} extra\n")
    for i, f in enumerate(["a.txt", "b.txt", "c.txt"]):
        _os.utime(data_dir / f, (now - 20 + 10 * i, now - 20 + 10 * i))

    def docs_stream():
        raw = (spark.readStream.format("text")
               .option("maxFilesPerTrigger", 1).load(str(data_dir)))
        parts = F.split(F.col("value"), r"\|", 2)
        return raw.select(
            parts.getItem(0).cast("long").alias("doc_id"),
            parts.getItem(1).alias("text"),
        ).where(F.col("doc_id").isNotNull())

    work = str(tmp_path / "work")
    run_streaming_minhash_admission(docs_stream(), work, threshold=0.5,
                                    compact_every=1)
    admitted = sorted(r.doc_id for r in spark.read
                      .parquet(f"{work}/admitted/*").collect())
    assert admitted == [1, 2]  # 10 rejected against the standing store

    compacts = sorted(_glob.glob(f"{work}/sigs/compact=*"),
                      key=lambda d: int(d.rsplit("=", 1)[1]))
    # exactly ONE snapshot left: every superseded one was GC'd
    assert len(compacts) == 1, compacts
    newest = int(compacts[0].rsplit("=", 1)[1])
    # and no covered batch store survived the GC
    leftover = [d for d in _glob.glob(f"{work}/sigs/batch=*")
                if int(d.rsplit("=", 1)[1]) <= newest]
    assert leftover == [], leftover


def test_streaming_embedding_admission_cross_batch_and_replay(spark, tmp_path):
    """SemDeDup at ingest (VERDICT r8 #3): a vector near-duplicating an
    ADMITTED earlier vector is rejected (cross-batch, via the standing
    hyperplane-LSH signature store), within-batch keep-first holds, the
    store compacts + GCs, and a full replay over the compacted store
    admits nothing twice."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import time as _time

    import numpy as np

    from flink_skyline_qos_spark.streaming.continuous import (
        run_streaming_embedding_admission,
    )

    rng = np.random.RandomState(7)
    base = rng.standard_normal(16)
    ortho = rng.standard_normal(16)
    ortho -= ortho @ base / (base @ base) * base  # cos(base, ortho) = 0
    near = base + 0.01 * rng.standard_normal(16)  # cos ~ 1

    def rows(vid, vec):
        return (vid, [float(x) for x in vec])

    data_dir = tmp_path / "vecs"
    data_dir.mkdir()
    schema = "vec_id long, embedding array<float>"
    # batch 0: base + its in-batch near-dup (id 2 rejected, keep-first)
    # + an orthogonal vector (admitted)
    b0 = spark.createDataFrame(
        [rows(1, base), rows(2, base + 0.01 * rng.standard_normal(16)),
         rows(3, ortho)], schema)
    # batch 1: a near-dup of ADMITTED id 1 (rejected via the store) and
    # a fresh vector (admitted)
    b1 = spark.createDataFrame(
        [rows(10, near), rows(11, rng.standard_normal(16))], schema)
    now = _time.time()
    for i, part in enumerate((b0, b1)):
        tmpd = str(tmp_path / f"tmp{i}")
        part.coalesce(1).write.mode("overwrite").parquet(tmpd)
        dst = str(data_dir / f"part-{i}.parquet")
        _shutil.move(_glob.glob(f"{tmpd}/part-*.parquet")[0], dst)
        _os.utime(dst, (now - 10 + 10 * i,) * 2)

    def stream():
        return (spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(data_dir)))

    work = str(tmp_path / "work")
    run_streaming_embedding_admission(stream(), work, threshold=0.8,
                                      n_planes=16, bands=4,
                                      compact_every=1)
    admitted = sorted(r.vec_id for r in spark.read
                      .option("recursiveFileLookup", "true")
                      .parquet(f"{work}/admitted").collect())
    assert admitted == [1, 3, 11]
    # store compacted + superseded state GC'd
    compacts = [d for d in _glob.glob(f"{work}/sigs/compact=*")
                if _os.path.isfile(_os.path.join(d, "_COMMITTED"))]
    assert len(compacts) == 1
    snap = spark.read.parquet(compacts[0])
    assert sorted(r.id for r in snap.select("id").collect()) == [1, 3, 11]
    assert set(snap.columns) == {"id", "embedding", "b0", "b1", "b2", "b3"}
    # replay over the compacted store: idempotent (nothing re-admitted)
    _shutil.rmtree(f"{work}/ckpt")
    run_streaming_embedding_admission(stream(), work, threshold=0.8,
                                      n_planes=16, bands=4,
                                      compact_every=1)
    again = sorted(r.vec_id for r in spark.read
                   .option("recursiveFileLookup", "true")
                   .parquet(f"{work}/admitted").collect())
    assert again == [1, 3, 11]


def test_embedding_admission_empty_and_zero_admit_batches(spark, tmp_path):
    """Review r9: EVERY batch commits — an empty batch still writes the
    (empty) admitted dir + sig store, and a batch whose vectors are all
    rejected still writes an empty sig store, so the final reader never
    hits a missing path and the compaction cadence counts committed
    batches.  Scenario: batch0 empty, batch1 admits v1, batch2 is a
    near-dup of v1 (zero admits)."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import time as _time

    import numpy as np

    from flink_skyline_qos_spark.streaming.continuous import (
        run_streaming_embedding_admission,
    )

    rng = np.random.RandomState(3)
    base = rng.standard_normal(16)
    schema = "vec_id long, embedding array<float>"
    b0 = spark.createDataFrame([], schema)
    b1 = spark.createDataFrame(
        [(1, [float(x) for x in base])], schema)
    b2 = spark.createDataFrame(
        [(10, [float(x) for x in base + 0.01 * rng.standard_normal(16)])],
        schema)
    data_dir = tmp_path / "vecs"
    data_dir.mkdir()
    now = _time.time()
    for i, part in enumerate((b0, b1, b2)):
        tmpd = str(tmp_path / f"tmp{i}")
        part.coalesce(1).write.mode("overwrite").parquet(tmpd)
        dst = str(data_dir / f"part-{i}.parquet")
        _shutil.move(_glob.glob(f"{tmpd}/part-*.parquet")[0], dst)
        _os.utime(dst, (now - 20 + 10 * i,) * 2)
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(data_dir)))
    work = str(tmp_path / "work")
    run_streaming_embedding_admission(stream, work, threshold=0.8,
                                      n_planes=16, bands=4,
                                      compact_every=3)
    admitted = sorted(r.vec_id for r in spark.read
                      .option("recursiveFileLookup", "true")
                      .parquet(f"{work}/admitted").collect())
    assert admitted == [1]
    # all three batches committed; with compact_every=3 the cadence
    # fires exactly once — it would NOT have, had the empty/zero-admit
    # batches skipped their sig stores
    markers = sorted(_glob.glob(f"{work}/admitted/batch=*/_COMMITTED"))
    assert len(markers) == 3
    compacts = [d for d in _glob.glob(f"{work}/sigs/compact=*")
                if _os.path.isfile(_os.path.join(d, "_COMMITTED"))]
    assert len(compacts) == 1
    snap = spark.read.parquet(compacts[0])
    assert [r.id for r in snap.select("id").collect()] == [1]


def test_compact_store_sweeps_strandlings_from_crashed_gc(spark, tmp_path):
    """Review r9: a crash between a snapshot's marker and its GC loops
    strands covered batch stores; the NEXT _compact_store call must
    sweep anything the newest committed snapshot already covers."""
    import os as _os

    from flink_skyline_qos_spark.streaming.continuous import (
        _compact_store, _latest_committed,
    )

    store = tmp_path / "store"
    owner = tmp_path / "owner"
    for b in (0, 1):
        sdir = store / f"batch={b}"
        odir = owner / f"batch={b}"
        spark.createDataFrame([(b,)], "h long").write.mode(
            "overwrite").parquet(str(sdir))
        odir.mkdir(parents=True)
        (odir / "_COMMITTED").touch()
    # simulate: snapshot compact=1 committed, but its GC crashed —
    # covered batch stores 0 and 1 still on disk
    spark.read.parquet(str(store / "batch=0"), str(store / "batch=1")) \
        .write.mode("overwrite").parquet(str(store / "compact=1"))
    (store / "compact=1" / "_COMMITTED").touch()
    snap, snap_b = _latest_committed(str(store), "compact=*")
    assert snap_b == 1
    # next batch (2) commits and calls _compact_store below cadence —
    # strandlings must be swept even though no new snapshot is written
    sdir2, odir2 = store / "batch=2", owner / "batch=2"
    spark.createDataFrame([(2,)], "h long").write.mode(
        "overwrite").parquet(str(sdir2))
    odir2.mkdir(); (odir2 / "_COMMITTED").touch()
    _compact_store(spark, str(store), str(owner), snap, snap_b,
                   batch_id=2, compact_every=99)
    assert not (store / "batch=0").exists()
    assert not (store / "batch=1").exists()
    assert (store / "batch=2").exists()       # newer than the snapshot
    assert (store / "compact=1").exists()     # the live snapshot stays


def test_minhash_admission_empty_first_batch_store_schema(spark, tmp_path):
    """Review r9 pass 2: an EMPTY first batch's committed sig store must
    carry the same column names as non-empty stores (id_col, not a
    literal 'id') — the next batch's cross-check reads all committed
    stores with one schema, and the mismatch killed the stream with an
    unresolved-column error."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import time as _time

    from flink_skyline_qos_spark.streaming.continuous import (
        run_streaming_minhash_admission,
    )

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark woods tonight")
    schema = "doc_id long, text string"
    b0 = spark.createDataFrame([], schema)             # EMPTY first batch
    b1 = spark.createDataFrame([(1, base)], schema)
    b2 = spark.createDataFrame([(10, base + " extra")], schema)
    data_dir = tmp_path / "docs"
    data_dir.mkdir()
    now = _time.time()
    for i, part in enumerate((b0, b1, b2)):
        tmpd = str(tmp_path / f"tmp{i}")
        part.coalesce(1).write.mode("overwrite").parquet(tmpd)
        dst = str(data_dir / f"part-{i}.parquet")
        _shutil.move(_glob.glob(f"{tmpd}/part-*.parquet")[0], dst)
        _os.utime(dst, (now - 20 + 10 * i,) * 2)
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(data_dir)))
    work = str(tmp_path / "work")
    # compact_every high: batch 2's cross-check reads the RAW batch=0
    # (empty) and batch=1 stores together — the schema-mismatch path
    run_streaming_minhash_admission(stream, work, threshold=0.5,
                                    compact_every=99)
    admitted = sorted(r.doc_id for r in spark.read
                      .option("recursiveFileLookup", "true")
                      .parquet(f"{work}/admitted").collect())
    assert admitted == [1]  # 10 rejected via the standing store
    s0 = spark.read.parquet(f"{work}/sigs/batch=0")
    s1 = spark.read.parquet(f"{work}/sigs/batch=1")
    assert s0.columns == s1.columns == ["doc_id", "sig"]


def test_streaming_substring_admission_end_to_end(spark, tmp_path):
    """The ExactSubstr ADMISSION loop executed as a stream: a doc is
    admitted iff it shares no >=min_span verbatim run with anything
    admitted before it — within-batch keep-first, cross-batch vs the
    positioned-shingle store; a full replay admits nothing twice.
    Crucially, a LONG QUOTE inside an otherwise-unrelated document
    (which MinHash global similarity scores ~0) is rejected."""
    from flink_skyline_qos_spark.streaming.continuous import (
        run_streaming_substring_admission,
    )

    span = " ".join(f"s{i}" for i in range(20))
    filler = lambda p, n: " ".join(f"{p}{i}" for i in range(n))  # noqa: E731
    data_dir = tmp_path / "docs"
    data_dir.mkdir()
    # batch 1: 1 admitted; 2 shares the span (within-batch dup of 1);
    # 3 admitted (clean)
    (data_dir / "a.txt").write_text(
        f"1|{filler('a', 5)} {span} {filler('b', 5)}\n"
        f"2|{filler('c', 8)} {span}\n"
        f"3|{filler('d', 40)}\n")
    # batch 2: 10 quotes the span inside 60 unrelated tokens
    # (cross-batch reject vs the store); 11 admitted
    (data_dir / "b.txt").write_text(
        f"10|{filler('e', 30)} {span} {filler('f', 30)}\n"
        f"11|{filler('g', 40)}\n")
    import os as _os
    import time as _time

    now = _time.time()
    _os.utime(data_dir / "a.txt", (now - 10, now - 10))
    _os.utime(data_dir / "b.txt", (now, now))

    def docs_stream():
        raw = (spark.readStream.format("text")
               .option("maxFilesPerTrigger", 1)
               .load(str(data_dir)))
        parts = F.split(F.col("value"), r"\|", 2)
        return raw.select(
            parts.getItem(0).cast("long").alias("doc_id"),
            parts.getItem(1).alias("text"),
        ).where(F.col("doc_id").isNotNull())

    work = str(tmp_path / "work")
    run_streaming_substring_admission(docs_stream(), work, k=8,
                                      min_span=12, max_df=50)
    admitted = spark.read.parquet(f"{work}/admitted/*")
    got = sorted(r.doc_id for r in admitted.collect())
    assert got == [1, 3, 11]
    # the shingle store covers exactly the admitted docs
    sh = spark.read.parquet(f"{work}/shingles/*")
    assert sorted(set(r.id for r in sh.collect())) == [1, 3, 11]
    # replay over the same work dir is idempotent (markers skip)
    run_streaming_substring_admission(docs_stream(), work, k=8,
                                      min_span=12, max_df=50)
    again = spark.read.parquet(f"{work}/admitted/*")
    assert sorted(r.doc_id for r in again.collect()) == [1, 3, 11]


def test_streaming_substring_admission_char_unit(spark, tmp_path):
    """The admission loop at unit='char' (round 13): a whitespace-free
    CJK quote embedded in an otherwise-unrelated later document is
    rejected cross-batch — invisible at the token unit, where each doc
    is ONE whitespace token and cannot even be shingled."""
    from flink_skyline_qos_spark.streaming.continuous import (
        run_streaming_substring_admission,
    )

    quote = "吾輩は猫である。名前はまだ無い。どこで生れたか見当がつかぬ。"
    data_dir = tmp_path / "docs"
    data_dir.mkdir()
    # batch 1: 1 admitted (carries the quote); 2 admitted (clean)
    (data_dir / "a.txt").write_text(
        f"1|序文:{quote}本文がここに続いている。\n"
        f"2|まったく独立した内容の文書であり重複を含まない。\n")
    # batch 2: 10 quotes it inside unrelated text (reject vs store);
    # 11 admitted
    (data_dir / "b.txt").write_text(
        f"10|引用の例として{quote}という一節を掲げる。\n"
        f"11|これも独立した新しい文書である。\n")
    import os as _os
    import time as _time

    now = _time.time()
    _os.utime(data_dir / "a.txt", (now - 10, now - 10))
    _os.utime(data_dir / "b.txt", (now, now))

    def docs_stream():
        raw = (spark.readStream.format("text")
               .option("maxFilesPerTrigger", 1)
               .load(str(data_dir)))
        parts = F.split(F.col("value"), r"\|", 2)
        return raw.select(
            parts.getItem(0).cast("long").alias("doc_id"),
            parts.getItem(1).alias("text"),
        ).where(F.col("doc_id").isNotNull())

    work = str(tmp_path / "work")
    run_streaming_substring_admission(docs_stream(), work, k=6,
                                      min_span=12, max_df=50,
                                      unit="char")
    admitted = spark.read.parquet(f"{work}/admitted/*")
    assert sorted(r.doc_id for r in admitted.collect()) == [1, 2, 11]
