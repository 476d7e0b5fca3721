"""MapReduce compatibility facade: the reference's entire public API
on Spark.

The reference's user surface is two Go closures loaded from a plugin
(`main/mrworker.go:34-51`):

    Map(filename, contents string) []KeyValue     // mr/worker.go:57
    Reduce(key string, values []string) string    // mr/worker.go:58

run through scan → map → hash-partition (FNV-32a % nReduce,
`mr/worker.go:38-42,132`) → sort → group → reduce → text sink
(`mr/worker.go:116-201`). ``run_job`` reproduces that contract so
every reference app is expressible verbatim (SURVEY.md §2.3 "must
keep"); the scheduling/fault-tolerance half of the reference
(F9-F19) is Spark's job and is not reimplemented.

``run_job`` is one Catalyst plan, so the facade gets the same
optimizer, AQE partition sizing and SQL metrics as every other query:

    whole-file scan (JVM Dataset over ``wholeTextFiles``)
    → MapInArrow (Map kernel: bounded Arrow batches of (key, value))
    → groupBy(key).agg(collect_list(value))   (one Exchange, partial agg)
    → MapInArrow (Reduce kernel)

Only the user closures run in Python. Semantics preserved
(SURVEY.md §2.4):

- whole-file inputs: Map sees every matched file, empty ones
  included, by exact basename (F1/F9);
- values are grouped per key with no cross-key order guarantee;
  apps needing in-group determinism sort inside Reduce, exactly as
  `mrapps/indexer.go:37` / `crash.go:49-51` do;
- exactly-once stage output (an upgrade over the reference's
  at-least-once intermediate dup-counting flaw, SURVEY.md §2.4.4 —
  intentionally NOT reproduced).

nReduce and the reference's FNV-32a routing live where they are
observable — in the output files: ``sources.write_kv_text(df, out,
n_partitions)`` writes ``mr-out-<fnv32a(key) % n>`` exactly like
`mr/worker.go:132,182-198`. The result DataFrame itself has no file
assignment, so the grouping shuffle is sized by AQE like any other.
"""

from __future__ import annotations

import glob as _pyglob
import os
import re
from collections.abc import Callable, Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql import types as T

from mit_mapreduce_spark.sources import whole_text_files

MapFn = Callable[[str, str], Iterable[tuple[str, str]]]
ReduceFn = Callable[[str, list[str]], str]

_FNV_OFFSET = 0x811C9DC5
_FNV_PRIME = 0x01000193


def fnv32a(key: str) -> int:
    """FNV-32a masked to 31 bits — the reference's partitioner
    (`mr/worker.go:38-42`: fnv.New32a over the key bytes, & 0x7fffffff)."""
    h = _FNV_OFFSET
    for b in key.encode("utf-8"):
        h ^= b
        h = (h * _FNV_PRIME) & 0xFFFFFFFF
    return h & 0x7FFFFFFF


OUT_SCHEMA = T.StructType([
    T.StructField("key", T.StringType(), False),
    T.StructField("value", T.StringType(), True),
])


def _escape_hadoop_glob(path: str) -> str:
    """Backslash-escape Hadoop glob metacharacters so a LITERAL
    filename like ``data [v2].txt`` addresses that file instead of
    being parsed as a character class (fuzz find: such names matched
    0 files)."""
    return re.sub(r"([\[\]{}*?])", r"\\\1", path)


def _expand_braces(pattern: str) -> list[str]:
    """Hadoop-style ``{a,b}`` alternation for driver-side local glob
    expansion (Python's glob has no brace support)."""
    m = re.search(r"\{([^{}]*)\}", pattern)
    if not m:
        return [pattern]
    out: list[str] = []
    for alt in m.group(1).split(","):
        out.extend(_expand_braces(
            pattern[:m.start()] + alt + pattern[m.end():]))
    return out


def _hadoop_hidden(path: str) -> bool:
    """Hadoop's input listing (FileInputFormat's hidden-file filter,
    which ``wholeTextFiles`` applies) skips ``_``- and ``.``-prefixed
    basenames — ``_SUCCESS``, ``_temporary``, ``.crc`` side files."""
    return os.path.basename(path.rstrip("/")).startswith(("_", "."))


def _resolve_inputs(inputs: str | list[str]) -> list[str]:
    """Hadoop path strings (glob metacharacters escaped) for ``inputs``.

    An explicit LIST is literal paths — reference semantics,
    `mrcoordinator` takes os.Args filenames — so Hadoop glob
    metacharacters in the names (``[] {} * ?``) are escaped and a
    missing file is an immediate FileNotFoundError (the reference's
    `log.Fatalf("cannot open")`, `mr/worker.go:121`). A STRING is a
    glob pattern; local patterns are expanded driver-side (with
    ``{a,b}`` brace support) so a zero-match pattern yields an EMPTY
    job — the reference would run zero map tasks — instead of Hadoop's
    InvalidInputException at first action. Hidden names are skipped by
    the glob, as Hadoop and Spark listing skip them, and rejected in a
    list, since Hadoop cannot read them as input."""
    if isinstance(inputs, (list, tuple)):
        missing = [p for p in inputs
                   if "://" not in p and not os.path.exists(p)]
        if missing:
            raise FileNotFoundError(f"cannot open {missing}")
        hidden = [p for p in inputs if _hadoop_hidden(p)]
        if hidden:
            raise ValueError(
                f"filenames starting with '_' or '.' are hidden from "
                f"Hadoop input listing: {hidden}")
        paths = [p if "://" in p else _escape_hadoop_glob(p)
                 for p in inputs]
    else:
        paths = []
        for piece in inputs.split(","):
            if "://" in piece:
                paths.append(piece)
            else:
                paths.extend(_escape_hadoop_glob(m) for pat in
                             _expand_braces(piece)
                             for m in sorted(_pyglob.glob(pat))
                             if not _hadoop_hidden(m))
    bad = [p for p in paths if "," in p]
    if bad:
        # Hadoop's path API is comma-separated; a comma filename is
        # unaddressable through it — fail with a clear message.
        raise ValueError(
            f"filenames containing ',' are not addressable: {bad}")
    return paths


_BATCH_ROWS = 8192  # pairs per Arrow batch out of the Map kernel
_ARROW_SCHEMA = to_arrow_schema(OUT_SCHEMA)


def _kv_batch(keys: list[str], values: list[str]) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array(keys, pa.string()), pa.array(values, pa.string())],
        schema=_ARROW_SCHEMA)


def _map_kernel(map_fn: MapFn):
    """mapInArrow body: (path, contents) batches → (key, value) batches
    of at most ``_BATCH_ROWS`` pairs, calling Map once per file."""
    def kernel(batches: Iterable[pa.RecordBatch]):
        keys: list[str] = []
        values: list[str] = []
        for batch in batches:
            for path, contents in zip(batch.column(0).to_pylist(),
                                      batch.column(1).to_pylist()):
                name = os.path.basename(path)
                for pair in map_fn(name, contents):
                    if not (isinstance(pair, (tuple, list))
                            and len(pair) == 2
                            and isinstance(pair[0], str)
                            and isinstance(pair[1], str)):
                        raise TypeError(
                            f"Map must emit (str, str) pairs, the "
                            f"reference's KeyValue; got {pair!r} "
                            f"from {name!r}")
                    keys.append(pair[0])
                    values.append(pair[1])
                    if len(keys) >= _BATCH_ROWS:
                        yield _kv_batch(keys, values)
                        keys, values = [], []
        if keys:
            yield _kv_batch(keys, values)
    return kernel


def _reduce_kernel(reduce_fn: ReduceFn):
    """mapInArrow body: (key, values) groups → (key, Reduce(key,
    values)), one output batch per input batch."""
    def kernel(batches: Iterable[pa.RecordBatch]):
        for batch in batches:
            keys = batch.column(0).to_pylist()
            out = []
            for key, values in zip(keys, batch.column(1).to_pylist()):
                value = reduce_fn(key, values)
                if not isinstance(value, str):
                    raise TypeError(
                        f"Reduce must return a str; got {value!r} "
                        f"for key {key!r}")
                out.append(value)
            yield _kv_batch(keys, out)
    return kernel


def run_job(
    spark: SparkSession,
    map_fn: MapFn,
    reduce_fn: ReduceFn,
    inputs: str | list[str],
) -> DataFrame:
    """Execute a reference-style MapReduce job; returns the (key,
    value) result as a DataFrame (write it with
    ``sources.write_kv_text`` for the byte-faithful mr-out files).

    ``inputs`` is a glob or explicit file list (see
    ``_resolve_inputs``); each file becomes one (basename, contents)
    Map input, mirroring `mr/worker.go:118-130` (the reference passes
    the path as given; we pass the basename so results don't depend
    on scratch-dir placement)."""
    paths = _resolve_inputs(inputs)
    if not paths:
        return spark.createDataFrame([], OUT_SCHEMA)
    return (
        whole_text_files(spark, ",".join(paths))
        .mapInArrow(_map_kernel(map_fn), OUT_SCHEMA)
        # One shuffle: group each key's values (F6/F7) with partial
        # aggregation on the map side. The Reduce contract requires
        # the full materialized value list per key (`mr/worker.go:195`)
        # — the same memory model as the reference (SURVEY.md §7.4
        # documents the skewed-key bound).
        .groupBy("key").agg(F.collect_list("value").alias("values"))
        .mapInArrow(_reduce_kernel(reduce_fn), OUT_SCHEMA)
    )
