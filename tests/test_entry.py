"""Registry contract of ``__spark_entry__`` (no Spark session needed)."""

from __future__ import annotations

import inspect

import __spark_entry__ as entrymod


def test_queries_and_oracles_pair_up():
    """Every registered query has exactly one DuckDB oracle twin."""
    assert set(entrymod.queries()) == set(entrymod.oracle_sql())


def test_stream_query_registry_guards_drift():
    """STREAM_QUERIES (the oracle gate's streaming-warmup metadata,
    ADVICE r9) must match exactly the registered queries whose source
    touches the streaming APIs — a new stream query that forgets to
    register itself would get ~5 s of engine init billed to its own
    spot-check timing."""
    qs = entrymod.queries()
    assert entrymod.STREAM_QUERIES <= set(qs)
    markers = ("readStream", "writeStream", "foreachBatch",
               "flink_skyline_qos_spark.streaming", "SkylinePipeline")
    flagged = {n for n, fn in qs.items()
               if any(m in inspect.getsource(fn) for m in markers)}
    assert flagged == set(entrymod.STREAM_QUERIES), \
        flagged ^ set(entrymod.STREAM_QUERIES)
