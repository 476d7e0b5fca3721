"""Sources and sinks beyond the parquet fixtures.

Reproduces the reference's I/O contract on Spark:

- F1 whole-file text source (`mr/worker.go:116-130`: open + read-all,
  Map receives (filename, contents)) → ``whole_text_files``.
- line-granularity text source (`spark.read.text`) with provenance
  via ``input_file_name()`` → ``read_text_lines``.
- F8 text sink (`mr/worker.go:182-198`: one ``"<key> <value>\\n"``
  line per key into ``mr-out-<partition>``) → ``write_kv_text``,
  including the mr-out-N file naming.
- JSON / CSV round-trip helpers (ABSENT in the reference — SURVEY.md
  §2.3 scans/sources/sinks; JSON there is only a shuffle wire format,
  `mr/worker.go:143`).
"""

from __future__ import annotations

import glob as _glob
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def whole_text_files(spark: SparkSession, path_glob: str,
                     min_partitions: int | None = None) -> DataFrame:
    """(path, content) — one row per file, whole contents as one value.

    The reference feeds Map one whole file per task
    (`mr/worker.go:118-130`); Hadoop's ``wholeTextFiles`` is the Spark
    primitive with the same granularity. Its RDD is lifted to a Dataset
    on the JVM, so the rows reach Catalyst without a Python
    conversion stage; ``mapreduce.run_job`` reads through here, the
    repo's one whole-file scan for Hadoop paths.

    Not ``spark.read.text(wholetext=True)`` or ``binaryFile``: both
    silently drop zero-length files, and their file-name metadata
    percent-encodes names like ``sp ace.txt``. ``path`` here is the
    Hadoop path string, unencoded (``file:/dir/sp ace.txt``)."""
    sc = spark.sparkContext
    encoders = spark._jvm.org.apache.spark.sql.Encoders
    rdd = sc._jsc.wholeTextFiles(
        path_glob, min_partitions or sc.defaultMinPartitions).rdd()
    jdf = spark._jsparkSession.createDataset(
        rdd, encoders.tuple(encoders.STRING(), encoders.STRING())).toDF()
    return DataFrame(jdf, spark).toDF("path", "content")


def read_text_lines(spark: SparkSession, path_glob: str) -> DataFrame:
    """(path, line) — line-granularity scan with file provenance."""
    return (
        spark.read.text(path_glob)
        .select(F.input_file_name().alias("path"),
                F.col("value").alias("line"))
    )


def write_kv_text(df: DataFrame, out_dir: str, n_partitions: int = 10,
                  key: str = "key", value: str = "value") -> list[str]:
    """F8 sink: hash-partition by key into ``n_partitions`` files named
    ``mr-out-<i>``, each holding ``"<key> <value>"`` lines.

    Mirrors `mr/worker.go:182-198` / `main/mrmaster.go:23` (nReduce=10
    default) at PER-FILE fidelity: routing is the reference's own
    FNV-32a & 0x7fffffff over the key (`mr/worker.go:38-42`), so which
    key lands in which mr-out-N matches the Go output exactly — a
    DataFrame ``repartition`` would use Spark's Murmur3 and scatter
    keys differently. Keys are sorted within each output partition, as
    the reference's reduce loop emits them post-sort
    (`mr/worker.go:181`). This is where the facade's nReduce lives:
    ``run_job`` returns an unpartitioned DataFrame and the sink routes
    it. RDD-based, because a custom partition function is an RDD
    feature (this is the byte-faithful compat sink, not a scale data
    path). Returns the written file paths."""
    import shutil

    from mit_mapreduce_spark.mapreduce import fnv32a

    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    (
        df.select(F.col(key).cast("string").alias("k"),
                  F.col(value).cast("string").alias("v"))
        .rdd.map(tuple)
        .partitionBy(n_partitions, fnv32a)   # partitionFunc(k) % n
        .mapPartitions(lambda it: (f"{k} {v}" for k, v in sorted(it)))
        .saveAsTextFile(out_dir)
    )
    # Spark names shard files part-00000...; rename to the reference's
    # mr-out-<idx> contract (driver-side, local FS).
    out = []
    for part in sorted(_glob.glob(os.path.join(out_dir, "part-*"))):
        idx = int(os.path.basename(part).split("-")[1])
        dst = os.path.join(out_dir, f"mr-out-{idx}")
        os.replace(part, dst)
        out.append(dst)
    return out


def write_json(df: DataFrame, out_dir: str, n_partitions: int | None = None) -> None:
    d = df.repartition(n_partitions) if n_partitions else df
    d.write.mode("overwrite").json(out_dir)


def read_json(spark: SparkSession, path: str,
              schema: T.StructType | None = None) -> DataFrame:
    r = spark.read
    return (r.schema(schema) if schema else r).json(path)


_CSV_NULL = "\\N"  # PostgreSQL-COPY-style null sentinel


def write_csv(df: DataFrame, out_dir: str, sep: str = ",",
              header: bool = True) -> None:
    """CSV sink, round-trip-faithful with read_csv: NULL is written as
    the ``\\N`` sentinel and the empty string as a QUOTED empty field
    (fuzz find, round 6: with Spark's defaults both serialize to an
    unquoted empty field, so '' silently read back as NULL). Caveat a
    data value exactly equal to ``\\N`` — written unquoted — reads
    back as NULL; the standard COPY-format ambiguity, accepted.
    Second fuzz find: Spark's CSV WRITER defaults
    ignoreLeading/TrailingWhiteSpace to true — ' padded ' silently
    loses its spaces on the way OUT (the reader's defaults are
    already false) — so both are pinned off."""
    (df.write.mode("overwrite").option("header", header)
     .option("sep", sep)
     .option("nullValue", _CSV_NULL).option("emptyValue", '""')
     .option("ignoreLeadingWhiteSpace", False)
     .option("ignoreTrailingWhiteSpace", False)
     .csv(out_dir))


def read_csv(spark: SparkSession, path: str, sep: str = ",",
             header: bool = True,
             schema: T.StructType | None = None,
             multi_line: bool = True) -> DataFrame:
    """CSV reader paired with write_csv. ``multi_line`` defaults True
    because the writer quotes embedded newlines and the default
    line-splitting reader SILENTLY tears such records in two (fuzz
    find: one row became two, no error). The trade: multiLine parsing
    is per-file, not per-split — on a 100 TB lake of known
    newline-free CSV, pass multi_line=False to get splittable scans.
    ``nullValue`` matches write_csv's ``\\N`` sentinel, which also
    makes a QUOTED empty field parse as '' instead of NULL."""
    r = (spark.read.option("header", header).option("sep", sep)
         .option("nullValue", _CSV_NULL)
         .option("multiLine", multi_line))
    return (r.schema(schema) if schema else r.option("inferSchema", "true")).csv(path)


def write_parquet_partitioned(df: DataFrame, out_dir: str,
                              partition_cols: list[str]) -> None:
    """Hive-style partitioned parquet sink (``out/col=value/...``).

    Partition directories are what turn a 100 TB table into prunable
    slices: a reader filtering on a partition column scans only the
    matching directories (partition pruning, asserted in
    tests/test_partition_pruning.py). Dynamic overwrite mode replaces
    ONLY the partitions present in ``df`` — the idempotent daily-ingest
    pattern — instead of truncating the whole table. The mode is a
    writer option, so the session's own setting is never touched."""
    (df.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(*partition_cols)
     .parquet(out_dir))


def write_orc(df: DataFrame, out_dir: str) -> None:
    """ORC sink — the second columnar format Spark ships natively."""
    df.write.mode("overwrite").orc(out_dir)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def compact_parquet(spark: SparkSession, in_dir: str, out_dir: str,
                    target_file_bytes: int = 128 * 1024 * 1024) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ceil(input_bytes / target) files. Returns the file count written.

    Streaming sinks and fine-grained ingests leave thousands of tiny
    files; at 100 TB that is a namenode/listing bottleneck and a
    per-file task-scheduling tax on every downstream scan. Compaction
    is a zero-shuffle rewrite when shrinking (coalesce merges read
    splits without an exchange); the byte-based sizing keeps output
    files near the row-group sweet spot regardless of row width."""
    import math

    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(in_dir)
        for f in files if f.endswith(".parquet") or f.startswith("part-"))
    if total == 0:
        # nothing to compact (fresh/empty dataset): a scheduled
        # compactor must no-op, not crash on schema inference
        return 0
    n_files = max(1, math.ceil(total / target_file_bytes))
    spark.read.parquet(in_dir).coalesce(n_files).write.mode(
        "overwrite").parquet(out_dir)
    return n_files


def read_parquet_evolved(spark: SparkSession, *dirs: str) -> DataFrame:
    """Schema-evolution read: union parquet directories written with
    different (compatible) schemas; ``mergeSchema`` reconciles by
    column name, missing columns surface as NULL. The append-a-column
    migration every long-lived 100 TB table goes through — readers of
    old + new partitions must not break."""
    return spark.read.option("mergeSchema", "true").parquet(*dirs)


def read_csv_permissive(spark: SparkSession, path: str,
                        schema: T.StructType,
                        corrupt_col: str = "_corrupt_record") -> DataFrame:
    """Malformed-row-tolerant CSV scan: rows that fail the schema land
    intact in ``corrupt_col`` instead of failing the job — at pipeline
    scale a handful of bad rows must never kill a million-task read;
    they get quarantined and audited (filter corrupt_col IS NOT NULL;
    Spark requires the frame be cached — or other columns referenced —
    before a query that touches ONLY the corrupt column)."""
    full = T.StructType(schema.fields + [T.StructField(corrupt_col, T.StringType())])
    return (
        spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .schema(full)
        .csv(path)
    )


def merge_upsert(spark: SparkSession, base_dir: str, updates: DataFrame,
                 key_cols: list[str]) -> int:
    """MERGE INTO semantics on a plain parquet table: rows of
    ``updates`` replace base rows with matching keys (WHEN MATCHED
    UPDATE) and insert otherwise (WHEN NOT MATCHED INSERT). Returns
    the merged row count.

    Plan shape: one left-anti join of base against the update keyset
    plus a union — the update side is typically tiny relative to the
    table, so at 100 TB the anti join runs as a broadcast (or
    bloom-filtered shuffle) against the full scan: one pass over the
    base. The rewrite is staged to a sibling directory
    (write-audit-publish): a failed stage write is cleaned up with the
    base untouched. The publish itself is two renames; a crash in the
    window between them leaves the table renamed aside rather than
    truly lost (``<base>__old_*`` is the intact pre-merge table, and
    recovery is renaming it back). Table formats with transactional
    metadata (Iceberg/Delta/Hudi) close that window with an atomic
    metadata commit; the dataframe plan is identical.

    ``updates`` rows must be unique on ``key_cols`` — MERGE semantics
    are undefined when two update rows hit the same target key, so
    duplicates raise instead of being inserted verbatim. The check is
    FOLDED INTO the staged write (ADVICE r4): a per-key count window
    on the update leg feeds a raise_error filter, so duplicate keys
    fail the stage job itself — no separate audit job over ``updates``,
    and the base is untouched on failure. (A filter, not a projected
    assert_true column, so column pruning can't optimize it away.)

    The merged row count is computed from the staged parquet footers
    (a metadata-only scan), not a separate ``count()`` action that
    would recompute the whole merge."""
    import json
    import shutil
    import uuid

    from pyspark.sql import Window

    dupw = Window.partitionBy(*key_cols)
    checked = (
        updates.withColumn("_dupn", F.count("*").over(dupw))
        .where(F.when(
            F.col("_dupn") > 1,
            F.raise_error(F.lit(
                f"merge_upsert: updates contain duplicate keys on "
                f"{key_cols}"))).otherwise(F.lit(True)))
        .drop("_dupn")
    )

    base = spark.read.parquet(base_dir)
    merged = base.join(checked, key_cols, "left_anti").unionByName(checked)
    stage = base_dir.rstrip("/") + f"__stage_{uuid.uuid4().hex[:8]}"
    try:
        merged.write.mode("overwrite").parquet(stage)
        # Row count from parquet footers of what was actually published.
        n = spark.read.parquet(stage).count()
    except BaseException as exc:
        shutil.rmtree(stage, ignore_errors=True)
        if "merge_upsert: updates contain duplicate keys" in str(exc):
            raise ValueError(
                f"merge_upsert: updates contain duplicate keys on "
                f"{key_cols}") from exc
        raise
    old = base_dir.rstrip("/") + f"__old_{uuid.uuid4().hex[:8]}"
    # Publish marker (ADVICE r4): names the aside-dir BEFORE the rename
    # window opens, so a crash between the two renames is mechanically
    # recoverable — the marker says exactly which __old_* dir is the
    # intact pre-merge table and where it belongs.
    marker = base_dir.rstrip("/") + "__publish_marker.json"
    with open(marker, "w") as f:
        json.dump({"base": base_dir, "old": old, "stage": stage}, f)
    os.rename(base_dir, old)
    os.rename(stage, base_dir)
    shutil.rmtree(old)
    os.remove(marker)
    return n


def write_xml(df: DataFrame, out_dir: str, row_tag: str = "row",
              root_tag: str = "rows") -> None:
    """Native XML sink (built into Spark 4 — no external package):
    one <row_tag> element per record under <root_tag> per file."""
    (df.write.format("xml")
     .option("rootTag", root_tag).option("rowTag", row_tag)
     .mode("overwrite").save(out_dir))


def read_xml(spark: SparkSession, path: str, row_tag: str = "row",
             schema: T.StructType | None = None) -> DataFrame:
    """Native XML source; pass an explicit schema in production — XML
    inference is a full extra pass over the data, the same rule as
    JSON/CSV at scale. ignoreSurroundingSpaces is pinned OFF (Spark
    defaults it on — fuzz find: 'trailing ' lost its space on
    read-back, breaking writer/reader fidelity)."""
    r = (spark.read.format("xml").option("rowTag", row_tag)
         .option("ignoreSurroundingSpaces", False))
    if schema is not None:
        r = r.schema(schema)
    return r.load(path)


# --- Z-order clustered layout ---------------------------------------------

_Z_BITS = 16   # bits per dimension -> 32-bit interleaved key


def zorder_key(a: Column, b: Column,
               a_min: int, a_max: int, b_min: int, b_max: int) -> Column:
    """Morton (Z-order) key of two numeric columns: each value is
    min-max scaled to {bits} bits, then the bits are interleaved
    (a odd positions, b even). Built as an UNROLLED OR-chain of
    shiftleft/and expressions — whole-stage codegen, no HOF lambda,
    ~1 ns/row, because this runs on every row of a table rewrite.

    Rows close in BOTH dimensions land close in key order, so sorting
    by this key gives every output file a tight min/max envelope in
    BOTH columns at once — which is what makes two-predicate scans
    prunable from footer stats alone (see zorder_write)."""
    def scale(c: Column, lo: int, hi: int) -> Column:
        span = max(hi - lo, 1)
        scaled = ((c.cast("bigint") - F.lit(lo)) * ((1 << _Z_BITS) - 1)
                  / F.lit(span)).cast("bigint")
        return F.greatest(F.lit(0),
                          F.least(F.lit((1 << _Z_BITS) - 1), scaled))
    sa, sb = scale(a, a_min, a_max), scale(b, b_min, b_max)
    # disjoint bit positions, so + is the OR (Column `|` is boolean)
    key = F.lit(0).cast("bigint")
    for i in range(_Z_BITS):
        key = (key
               + F.shiftleft(F.shiftright(sa, i).bitwiseAND(1), 2 * i + 1)
               + F.shiftleft(F.shiftright(sb, i).bitwiseAND(1), 2 * i))
    return key


def zorder_write(df: DataFrame, out_dir: str, col_a: str, col_b: str,
                 n_files: int = 8) -> None:
    """Rewrite ``df`` as parquet clustered on the Z-order of two
    columns: range-partition by the Morton key (equal-frequency file
    boundaries via Spark's range sampler), sort within each file, drop
    the key. Parquet footers then carry tight min/max stats for BOTH
    columns per file, so a reader filtering on either — or both —
    prunes whole files instead of scanning them.

    This is the lakehouse data-layout move (Delta/Iceberg OPTIMIZE
    ZORDER BY) expressed with stock Spark: at 100 TB it is a one-time
    (or compaction-time) rewrite that turns two-dimensional point/range
    queries from full scans into a handful of file reads. The min/max
    bounds for scaling are taken from the frame itself in one cheap
    agg pass — on parquet input that aggregation is satisfiable from
    footer metadata (see test_parquet_aggregate_pushdown)."""
    bounds = df.agg(
        F.min(col_a).cast("bigint").alias("a_lo"),
        F.max(col_a).cast("bigint").alias("a_hi"),
        F.min(col_b).cast("bigint").alias("b_lo"),
        F.max(col_b).cast("bigint").alias("b_hi")).collect()[0]
    if any(b is None for b in bounds):
        # Empty input: min/max collect to NULLs and there is nothing to
        # cluster — write the (empty) frame as-is so the sink still
        # produces a readable table with the right schema.
        df.write.mode("overwrite").parquet(out_dir)
        return
    key = zorder_key(F.col(col_a), F.col(col_b),
                     int(bounds.a_lo), int(bounds.a_hi),
                     int(bounds.b_lo), int(bounds.b_hi))
    (df.withColumn("_zkey", key)
     .repartitionByRange(n_files, "_zkey")
     .sortWithinPartitions("_zkey")
     .drop("_zkey")
     .write.mode("overwrite").parquet(out_dir))
