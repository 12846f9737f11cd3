"""Emulate the driver's correctness gate locally.

Runs every ``queries()`` entry against its ``oracle_sql()`` twin at a
given sf dir (default sf0.01), comparing row-count, column names, and an
order-insensitive multiset of values (columns sorted by name, floats
rounded).  Usage:  python tools/check_oracle.py [sf_dir] [name ...]
Set ORACLE_JSON=<path> to also write a machine-diffable JSON summary
(one object per query: rows, match booleans, wall seconds; queries
without an oracle are recorded with ``"oracle": false``).

Unknown names on the command line are an ERROR (exit 2) — a typo must
never read as a green gate (review r9).
"""

from __future__ import annotations

import math
import os
import sys
import time
from decimal import Decimal
from fractions import Fraction

import duckdb

# import the checkout this script lives in, here and in the Python workers
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

import __spark_entry__ as entrymod  # noqa: E402
from flink_skyline_qos_spark.session import (  # noqa: E402
    get_spark,
    warm_arrow_pool,
)
from flink_skyline_qos_spark.sources.tables import TABLES  # noqa: E402


def _el(v):
    """Canonical, TOTALLY-ORDERED representation of one value.

    The previous tuple-sort crashed on NULLs mixed with values and
    reported false FAILs on NaN (NaN != NaN element-wise) — review r9.
    Every value maps to a (rank, number, text) triple: NULLs sort
    first; all numeric types — bool included, preserving the old
    ``==``'s True≡1 — meet in exact Fraction space (so the
    int-vs-float and Decimal-vs-float cross-engine equalities the old
    ``==`` gave are preserved WITHOUT float-precision loss on 60-bit
    hash columns), floats rounded to 6 dp as before, NaN and ±inf
    distinct equal-to-themselves tokens (Fraction cannot represent
    them — second review pass), -0.0 ≡ 0.0; bytes compare by hex
    (Spark bytearray vs DuckDB bytes str-representations differ);
    containers recurse; everything else by str().
    """
    if v is None:
        return (0, Fraction(0), "")
    if isinstance(v, float):
        if math.isnan(v):
            return (2, Fraction(0), "nan")
        if math.isinf(v):
            return (2, Fraction(0), "inf" if v > 0 else "-inf")
        return (2, Fraction(round(v, 6)), "")
    if isinstance(v, int):  # bool is an int subtype: True canons as 1
        return (2, Fraction(v), "")
    if isinstance(v, Decimal):
        if v.is_nan():
            return (2, Fraction(0), "nan")
        if v.is_infinite():
            return (2, Fraction(0), "inf" if v > 0 else "-inf")
        return (2, Fraction(v), "")
    if isinstance(v, (bytes, bytearray)):
        return (3, Fraction(0), bytes(v).hex())
    if isinstance(v, (list, tuple)):
        return (4, Fraction(0), repr([_el(x) for x in v]))
    return (5, Fraction(0), str(v))


def _pretty(row):
    """Human form of one canonical row for FAIL diagnostics — raw
    (rank, Fraction, text) triples are unreadable (second review
    pass)."""

    def p(c):
        rank, num, text = c
        if rank == 0:
            return None
        if rank == 2:
            if text:
                return text  # nan / inf / -inf token
            f = float(num)
            return int(f) if f.is_integer() else f
        return text

    return tuple(p(c) for c in row)


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_el(r[i]) for i in order) for r in rows)


def _multiset_diff(a, b, n=3):
    """First `n` canonical rows over-represented on each side — set()
    diffs print empty for pure multiplicity mismatches (review r9)."""
    from collections import Counter

    ca, cb = Counter(a), Counter(b)
    only_a = list((ca - cb).elements())[:n]
    only_b = list((cb - ca).elements())[:n]
    return only_a, only_b


def _warmup(spark, *, streaming: bool = True) -> None:
    """One-time engine spin-up OUTSIDE any per-query timing: the Arrow
    Python worker pool (`session.warm_arrow_pool`) and — for runs
    that include streaming queries — the Structured Streaming
    machinery (state-store providers, micro-batch engine init), which
    otherwise bills ~5-6 s to whichever registered query happens to
    run a stream first — an ordering artifact, not a query cost
    (round 8: the same query measured 12.3 s cold-engine vs 4.3 s
    warm).  The temp workspace is removed afterwards (review r9: every
    run used to leak an oracle_warm_* tree)."""
    import os
    import shutil
    import tempfile

    t0 = time.time()
    warm_arrow_pool(spark)
    if streaming:
        work = tempfile.mkdtemp(prefix="oracle_warm_")
        try:
            src = os.path.join(work, "src")
            spark.range(8).selectExpr("id", "cast(id as string) s") \
                .coalesce(1).write.mode("overwrite").parquet(src)

            def _touch(batch_df, batch_id):
                batch_df.persist().count()
                batch_df.write.mode("overwrite").parquet(
                    os.path.join(work, f"out{batch_id}"))
                batch_df.unpersist()

            q = (spark.readStream.schema("id long, s string").parquet(src)
                 .writeStream.foreachBatch(_touch)
                 .option("checkpointLocation", os.path.join(work, "ckpt"))
                 .trigger(availableNow=True).start())
            q.awaitTermination()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(f"# engine warmup (Arrow pool"
          f"{' + streaming init' if streaming else ''}): "
          f"{time.time() - t0:.1f}s")


def main():
    import json
    import os

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        print(f"ERROR: unknown query name(s): {sorted(unknown)}")
        print("(a typo must not read as a green gate)")
        return 2
    spark = get_spark("oracle-check")
    # single-query spot checks skip the streaming spin-up unless they
    # actually exercise a stream — keeps the edit-check loop fast.
    # Driven by the STREAM_QUERIES registry in __spark_entry__ (ADVICE
    # r9: was a name-substring heuristic), which a pytest drift guard
    # keeps in sync with the queries that touch streaming APIs.
    stream_qs = getattr(entrymod, "STREAM_QUERIES", frozenset())
    _warmup(spark, streaming=(not only or bool(only & set(stream_qs))))
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    failures = []
    report = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        # NOTE (r10): do NOT clearCache between queries — the corpus
        # capstone chain (llm_corpus v3 → v4) deliberately
        # shares pinned localCheckpoint slices across queries, and
        # dropping them re-bills every stage to the later capstones
        # (measured: v4 18.2 s with a per-query clearCache vs ~6 s
        # without).
        t0 = time.time()
        df = fn(spark, sf_dir)
        scols = df.columns
        srows = [tuple(r) for r in df.collect()]
        t_spark = time.time() - t0
        if name not in os_:
            # by-design weaker check for non-SQL-expressible ops — but
            # RECORDED, so the JSON diff shows the query existed and
            # was never value-checked (review r9: silently green)
            report[name] = {
                "oracle": False, "rows_spark": len(srows),
                "spark_s": round(t_spark, 1),
            }
            print(f"  {name}: rows={len(srows)} (rows-only, NO ORACLE) "
                  f"[{t_spark:.1f}s]")
            continue
        t0 = time.time()
        rel = con.sql(os_[name])
        ocols = rel.columns
        orows = rel.fetchall()
        t_duck = time.time() - t0
        ok_cols = sorted(scols) == sorted(ocols)
        ca = canon(scols, srows) if ok_cols else None
        cb = canon(ocols, orows) if ok_cols else None
        ok_vals = ok_cols and ca == cb
        status = "OK" if ok_vals else "FAIL"
        report[name] = {
            "rows_spark": len(srows), "rows_duck": len(orows),
            "rows_match": len(srows) == len(orows),
            "schema_match": ok_cols, "hash_match": ok_vals,
            "spark_s": round(t_spark, 1), "duck_s": round(t_duck, 1),
        }
        print(f"  {name}: {status} spark={len(srows)} duck={len(orows)} "
              f"[spark {t_spark:.1f}s, duck {t_duck:.1f}s]")
        if not ok_vals:
            failures.append(name)
            if not ok_cols:
                print(f"    cols spark={sorted(scols)} duck={sorted(ocols)}")
            else:
                oa, ob = _multiset_diff(ca, cb)
                print(f"    over-in-spark={[_pretty(r) for r in oa]}")
                print(f"    over-in-duck={[_pretty(r) for r in ob]}")
    print("FAILURES:", failures or "none")
    out = os.environ.get("ORACLE_JSON")
    if out:
        with open(out, "w") as fh:
            json.dump({"sf_dir": sf_dir, "n_queries": len(report),
                       "failures": failures, "queries": report}, fh,
                      indent=1, sort_keys=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
