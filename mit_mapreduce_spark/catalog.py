"""Fixture-table catalog.

The driver's synthetic tables (TESTDATA.md) are one parquet file per
table under ``/root/testdata/sf*/``. Loading is a plain columnar
parquet scan, so Catalyst gets predicate pushdown + column pruning for
free on every operator built on top.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession

from mit_mapreduce_spark.session import tune

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Parquet footer schema cache (r15, guide §1.2/§5 "the driver should
# do almost no data work"): ``spark.read.parquet(path)`` re-infers the
# schema from the file footer on EVERY call — measured 85 ms/call vs
# 14 ms with an explicit schema, x385 load_table calls per full bench
# pass = ~27 s of pure driver-side overhead. The schema is FILE
# METADATA, not a query result: it is keyed on (path, mtime, size) so
# any rewritten fixture re-infers, and the scan itself still reads
# the parquet fresh on every query — nothing about query evaluation
# is cached. Keyed per-file only (not per-session): the inferred
# schema depends on session confs that ``tune`` pins identically on
# every session this repo touches (nanosAsLong, inferTimestampNTZ).
_SCHEMA_CACHE: dict[tuple, object] = {}


def _cached_schema(spark: SparkSession, path: str):
    """StructType of a parquet file, inferred once per (path, mtime,
    size). Only a single regular file qualifies: a parquet DIRECTORY's
    stat does not change when a part file inside it is rewritten, so
    its schema would be served stale — raise instead."""
    tune(spark)  # idempotent; inference depends on the pinned confs
    st = os.stat(path)
    if not stat.S_ISREG(st.st_mode):
        raise ValueError(
            f"_cached_schema needs a single parquet file, not {path!r}")
    key = (path, st.st_mtime_ns, st.st_size)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one fixture table, with runtime tuning applied
    (UTC session tz, AQE, Arrow) so every operator built on a loaded
    table is oracle-comparable regardless of who owns the session."""
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; known: {TABLES}")
    tune(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    reader = spark.read
    if os.path.isfile(path):  # a table directory re-infers every scan
        reader = reader.schema(_cached_schema(spark, path))
    df = reader.parquet(path)
    if name == "events":
        df = _normalize_event_ts(df)
    return df


def _normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to a real timestamp across fixture vintages.

    Older fixtures store parquet TIMESTAMP(NANOS), surfaced as long
    nanos under nanosAsLong (session.tune): convert with exact integer
    math (a double division would lose precision above 2^53 ns) to the
    same µs truncation DuckDB applies. Newer fixtures store
    TIMESTAMP(MICROS), which both engines read natively — no-op.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    field = df.schema["ts"].dataType
    if isinstance(field, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(field, T.TimestampNTZType):
        # Session tz is UTC (session.tune), so this cast reinterprets
        # the same wall-clock instant; watermarks need TIMESTAMP.
        return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


def fan_out(df: DataFrame) -> DataFrame:
    """Rebalance a narrow scan across all cores before CPU-heavy
    per-row work (tokenize/shingle/hash pipelines).

    The fixture files are single-row-group parquet, so their scans can
    never exceed one task no matter how small
    ``spark.sql.files.maxPartitionBytes`` is — Spark assigns a row
    group to exactly one split. Without this, a shingling pipeline
    runs serially on 1 of 32 cores (measured 3x slower end-to-end on
    dedup_minhash at sf0.1).

    Gated: a no-op whenever the plan's file sources already list >=
    defaultParallelism files — i.e. on any real multi-file table at
    100 TB the repartition (and its shuffle) disappears, while locally
    it costs one tiny shuffle of raw text. The gate reads the scan's
    file metadata (``inputFiles``) rather than ``df.rdd`` — the RDD
    conversion forced plan materialization at query-construction time
    (ADVICE r3). A table with few files but many row groups would
    split further than the gate estimates; that only makes the
    repartition redundant, never wrong, and cannot happen on the
    single-row-group fixtures this exists for.
    """
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:  # non-file-based plan: nothing to rebalance
        return df
    if n_files >= n:
        return df
    return df.repartition(n)


def register_views(spark: SparkSession, sf_dir: str,
                   tables: tuple[str, ...] = TABLES) -> SparkSession:
    """Register each fixture table as a temp view (idempotent) and apply
    runtime tuning (UTC session tz, AQE) — safe on driver-owned sessions."""
    tune(spark)
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark
