"""Batch table loaders for the driver's parquet testdata.

`events.parquet` is written with nanosecond timestamps, which Spark's
parquet reader rejects by default ([PARQUET_TYPE_ILLEGAL]).  We read
nanos as long (runtime conf) and normalize back to a proper
TimestampType column, so every downstream operator sees the declared
FIXTURES.md schema regardless of the file's physical type.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer DIV keeps exactness (float division of epoch-nanos loses µs)
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def write_jsonl(df: DataFrame, path: str, *,
                partition_by: "str | None" = None,
                compression: "str | None" = None) -> None:
    """Export a corpus frame as JSON Lines — the interchange format
    training loaders consume.  One JSON object per row, written
    distributed (each task streams its partition; nothing passes
    through the driver); `partition_by` lays out `key=value/`
    subdirectories so downstream readers partition-prune.
    """
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    if partition_by:
        w = w.partitionBy(partition_by)
    w.json(path)


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """Read a :func:`write_jsonl` export; pass `schema` to skip the
    inference scan (always do at 100 TB)."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)


def write_bucketed(df: DataFrame, table: str, key: str, *,
                   n_buckets: int = 8, sort: bool = True) -> None:
    """Persist `df` as a bucketed (and bucket-sorted) managed parquet
    table — the co-located-join layout for repeated large-table joins.

    Two tables bucketed (and sorted) on their join key with the same
    bucket count join with NO shuffle and NO sort: each bucket pair is
    merge-joined in place.  At 100 TB this converts the nightly
    fact-to-fact join from the dominant network cost to a scan —
    bucketing is declared once at write time, and every later join,
    aggregation, or window keyed on `key` reuses the layout for free
    (Spark's bucketing survives restarts via the catalog, unlike a
    transient `repartition`).  Overwrites any existing table of the
    same name.
    """
    # One FILE per bucket: Spark only exploits per-bucket sortedness
    # when a bucket is a single file (multi-file buckets force a Sort
    # back into the join).  repartition(n, key) uses the same Murmur3
    # hash as the bucket assignment, so each task holds exactly one
    # bucket and writes exactly one file.
    d = df.repartition(n_buckets, F.col(key))
    if sort:
        d = d.sortWithinPartitions(key)
    w = d.write.mode("overwrite").format("parquet") \
        .bucketBy(n_buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)
