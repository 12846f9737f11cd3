"""Wire-format parsing (P1/P2) — the reference's CSV tuple/trigger codecs.

Reference (`/root/reference/java/org.main/ServiceTuple.java:89-104`): a
data record is ``"ID,Val1,...,ValN"``; malformed records (wrong arity,
non-numeric fields) parse to null and are filtered out
(`FlinkSkyline.java:103-104`).  A trigger record is
``"QueryID,RequiredRecordCount"``; a payload without a comma means
K=0 → execute immediately (`query_trigger.py:76-82`,
`FlinkSkyline.java:334`).

Two codecs with one grammar:

* Column expressions (:func:`parse_service_tuples`,
  :func:`parse_triggers`): split + ``try_cast`` in the JVM, identical on
  batch and streaming DataFrames.  The tests hold the driver codec to
  them, and perfbench's ``wire.parse_ms`` probe times the data codec.
* Driver-side (:func:`parse_service_lines`, :func:`parse_trigger_lines`):
  the same accepted grammar over a pyarrow array of lines, for the
  stream engine (`streaming.engine`), which brings each micro-batch to
  the driver as raw strings.  Lines in the canonical form a producer
  writes (``-?digits`` id, ``-?digits[.digits][e±digits]`` dims) are
  parsed by ``pyarrow.compute``; every other line goes through a Python
  re-statement of Spark's casts — ``UTF8String.toLong`` for the id and
  K, ``java.lang.Double.parseDouble`` plus Spark's ``inf``/``nan``
  literals for the dims.  Unlike the Column codec, the data codec also
  drops rows with a NaN dim, which no skyline can rank.
"""

from __future__ import annotations

import math
import re
from functools import reduce

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "parse_service_tuples",
    "parse_triggers",
    "parse_service_lines",
    "parse_trigger_lines",
    "serialize_service_tuples",
]


def parse_service_tuples(raw: DataFrame, dims: int, *,
                         value_col: str = "value") -> DataFrame:
    """``"id,v1,..,vn"`` strings → ``(id: long, d0..d{dims-1}: double)``.

    Exact reference semantics: a row is dropped unless it has exactly
    ``dims + 1`` comma-separated fields and every field casts cleanly
    (ServiceTuple.java:95-103 — arity comes from the row, but the
    partitioners assume the CLI ``dims``; we enforce it at parse).
    """
    parts = F.split(F.col(value_col), ",")
    # try_element_at + try_cast: malformed rows yield nulls (ANSI-safe),
    # which the arity/null filter below drops — reference P1+P2 semantics.
    fields = [F.try_element_at(parts, F.lit(1)).try_cast("long").alias("id")] + [
        F.try_element_at(parts, F.lit(i + 2)).try_cast("double").alias(f"d{i}")
        for i in range(dims)
    ]
    parsed = raw.select(*fields, F.size(parts).alias("__arity"))
    ok = reduce(
        lambda a, b: a & b,
        [F.col("id").isNotNull()]
        + [F.col(f"d{i}").isNotNull() for i in range(dims)]
        + [F.col("__arity") == dims + 1],
    )
    return parsed.filter(ok).drop("__arity")


def parse_triggers(raw: DataFrame, *, value_col: str = "value") -> DataFrame:
    """Trigger strings → ``(query_id: string, required_count: long)``.

    ``"qid,K"`` → (qid, K); a payload without a comma (or with a
    non-numeric K) → (payload, 0) = immediate execution, matching
    FlinkSkyline.java:330-335.
    """
    parts = F.split(F.col(value_col), ",")
    k = F.when(F.size(parts) >= 2,
               F.coalesce(
                   F.try_element_at(parts, F.lit(2)).try_cast("long"),
                   F.lit(0))) \
        .otherwise(F.lit(0))
    return raw.select(
        F.try_element_at(parts, F.lit(1)).alias("query_id"),
        k.alias("required_count"),
    ).filter(F.col("query_id").isNotNull() & (F.col("query_id") != ""))


# -- driver-side codec ------------------------------------------------------

#: A line every field of which pyarrow's cast reads exactly as Spark does.
_CANONICAL = (r"^-?[0-9]{{1,18}}"
              r"(?:,-?[0-9]+(?:\.[0-9]+)?(?:[eE][+-]?[0-9]{{1,4}})?){{{dims}}}$")
#: java.lang.String.trim strips code points <= U+0020 ...
_JAVA_TRIM = "".join(map(chr, range(0x21)))
#: ... and UTF8String.toLong also strips DEL (an ISO control)
_LONG_TRIM = _JAVA_TRIM + "\x7f"
_LONG = re.compile(r"[+-]?[0-9]+")
_DECIMAL = re.compile(r"[+-]?(?:NaN|Infinity|(?:[0-9]+\.?[0-9]*|\.[0-9]+)"
                      r"(?:[eE][+-]?[0-9]+)?[fFdD]?)")
_HEX = re.compile(r"([+-]?0[xX](?:[0-9a-fA-F]+\.?|[0-9a-fA-F]*\.[0-9a-fA-F]+)"
                  r"[pP][+-]?[0-9]+)[fFdD]?")
#: Spark's fallback literals (Cast.processFloatingPointSpecialLiterals)
_SPECIAL = {"inf": math.inf, "+inf": math.inf, "infinity": math.inf,
            "+infinity": math.inf, "-inf": -math.inf,
            "-infinity": -math.inf, "nan": math.nan}


def _to_long(field: str) -> int | None:
    """``try_cast(field as long)``: trimmed, optional sign, ASCII digits,
    no fraction, in range — else None."""
    field = field.strip(_LONG_TRIM)
    if not _LONG.fullmatch(field):
        return None
    digits = field.lstrip("+-").lstrip("0") or "0"
    if len(digits) > 19:  # overflows; also keeps int() under its digit cap
        return None
    v = -int(digits) if field[0] == "-" else int(digits)
    return v if -(1 << 63) <= v < (1 << 63) else None


def _to_double(field: str) -> float | None:
    """``try_cast(field as double)``: Java's ``Double.parseDouble``, then
    Spark's special literals — else None."""
    s = field.strip(_JAVA_TRIM)
    if _DECIMAL.fullmatch(s):
        return float(s.rstrip("fFdD"))
    hexa = _HEX.fullmatch(s)
    if hexa:
        try:
            return float.fromhex(hexa.group(1))
        except OverflowError:
            return -math.inf if s.startswith("-") else math.inf
    return _SPECIAL.get(s.lower())


def _parse_line(line: str | None, dims: int):
    """One data line → ``(id, [d0, ..])`` or None if malformed."""
    parts = line.split(",") if line is not None else []
    if len(parts) != dims + 1:
        return None
    rid = _to_long(parts[0])
    vals = [_to_double(f) for f in parts[1:]]
    if rid is None or None in vals:
        return None
    return rid, vals


def parse_service_lines(lines: pa.Array | pa.ChunkedArray, dims: int
                        ) -> tuple[np.ndarray, np.ndarray]:
    """Data lines → ``(ids int64 (n,), values float64 (n, dims))``, in
    line order.

    The rows :func:`parse_service_tuples` keeps, minus those with a NaN
    dim; ±inf dims are kept.  Canonical lines take a vectorised
    ``pyarrow.compute`` path; the rest (whitespace, ``+``, hex, type
    suffixes, ``Infinity``, malformed lines) are re-parsed one by one
    with Spark's cast rules.
    """
    n = len(lines)
    fast = pc.match_substring_regex(lines, _CANONICAL.format(dims=dims)) \
        .fill_null(False)
    ok = np.asarray(fast.to_numpy(zero_copy_only=False), dtype=bool)
    ids = np.zeros(n, np.int64)
    vals = np.zeros((n, dims))
    if ok.any():
        parts = pc.split_pattern(lines.filter(fast), ",")
        ids[ok] = pc.cast(pc.list_element(parts, 0), pa.int64()).to_numpy()
        for j in range(dims):
            vals[ok, j] = pc.cast(pc.list_element(parts, j + 1),
                                  pa.float64()).to_numpy()
    slow = np.flatnonzero(~ok)
    for i, line in zip(slow, lines.take(pa.array(slow)).to_pylist()):
        row = _parse_line(line, dims)
        if row is not None:
            ids[i], vals[i] = row
            ok[i] = True
    ok &= ~np.isnan(vals).any(axis=1)
    return ids[ok], vals[ok]


def parse_trigger_lines(lines: pa.Array | pa.ChunkedArray
                        ) -> list[tuple[str, int]]:
    """Trigger lines → ``[(query_id, required_count)]``, in line order,
    by the rules of :func:`parse_triggers`."""
    out = []
    for line in lines.to_pylist():
        parts = line.split(",") if line is not None else [""]
        if parts[0]:
            k = _to_long(parts[1]) if len(parts) >= 2 else None
            out.append((parts[0], k or 0))
    return out


def serialize_service_tuples(df: DataFrame, dims: int, *,
                             id_col: str = "id") -> DataFrame:
    """Inverse of :func:`parse_service_tuples` — one ``value`` string column.

    Mirrors the producer's CSV serialization
    (`unified_producer.py:173-175`).  Useful for Kafka sinks and for
    writing test fixtures.
    """
    cols: list[Column] = [F.col(id_col).cast("string")]
    for i in range(dims):
        cols.append(F.col(f"d{i}").cast("string"))
    return df.select(F.concat_ws(",", *cols).alias("value"))
