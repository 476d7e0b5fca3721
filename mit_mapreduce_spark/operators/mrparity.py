"""Reference apps run VERBATIM through the MapReduce facade.

These queries exercise the full compatibility surface: whole-file
text inputs (F1), Python Map/Reduce closures translated line-for-line
from the Go plugins (A1 `mrapps/wc.go`, A2 `mrapps/indexer.go`,
A3 `mrapps/crash.go`/`nocrash.go` payload), grouped reduce (F7).
Input files are materialized from the `documents` fixture (one file
per `source`, texts joined by newline in doc_id order) so the DuckDB
oracle can recompute the expected output relationally.

Each query is one Catalyst plan (whole-file scan → Map kernel → one
grouping Exchange → Reduce kernel; see ``mapreduce``): only the
closures run in Python, per Arrow batch. The DataFrame operators in
operators/text.py are the all-JVM path for the same logical queries.
"""

from __future__ import annotations

import glob
import os
import re
import unicodedata
import shutil
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mit_mapreduce_spark.catalog import load_table
from mit_mapreduce_spark.mapreduce import run_job
from mit_mapreduce_spark.operators.registry import query

_SCRATCH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.dirname(os.path.abspath(__file__)))), ".scratch")

# Maximal runs of Unicode letters (Go unicode.IsLetter parity).
# [^\W\d_] alone is NOT letter-only: Python's \w covers alnum, so
# category-N characters outside \d (superscripts '²', roman numerals
# 'Ⅻ') slip through (found by tests/test_properties.py). The regex is
# the fast path; tokens containing any non-L rune are re-split
# character-wise.
_WORD_RE = re.compile(r"[^\W\d_]+", re.UNICODE)


def letter_tokens(text: str) -> list[str]:
    """Maximal runs of category-L runes — exact `unicode.IsLetter`
    split semantics (`mrapps/wc.go:23-26`)."""
    out = []
    for t in _WORD_RE.findall(text):
        if all(unicodedata.category(c).startswith("L") for c in t):
            out.append(t)
            continue
        cur = []
        for c in t:
            if unicodedata.category(c).startswith("L"):
                cur.append(c)
            elif cur:
                out.append("".join(cur))
                cur = []
        if cur:
            out.append("".join(cur))
    return out


def _materialize_inputs(spark: SparkSession, sf_dir: str) -> str:
    """One text file per documents.source (named exactly the source
    key), contents = texts in doc_id order joined by newline —
    the pg-*.txt corpus shape the reference apps consume.

    The staging is cached (three facade queries share one
    materialization): a marker stamps it with the documents parquet's
    ``(mtime_ns, size)`` — the key ``catalog._cached_schema`` uses —
    plus a layout version, so a cache hit costs one ``stat`` and no
    Spark job, and a rewritten table restages even at the same row
    count.

    The write is DISTRIBUTED (VERDICT r2 #3): rows repartition by
    source — every source lands wholly in one task — and a
    partitionBy(source) text sink writes each source's file in
    parallel; no table data transits the driver (the driver only
    renames ``source=X/part-*`` to the bare filename afterwards — a
    metadata operation). Each file ends with a terminating newline
    (text-sink convention, matching the reference's pg-*.txt Gutenberg
    files)."""
    tag = os.path.basename(sf_dir.rstrip("/"))
    out_dir = os.path.join(_SCRATCH, f"mrinput_{tag}")
    files_dir = os.path.join(out_dir, "files")
    marker = os.path.join(out_dir, ".complete")
    st = os.stat(os.path.join(sf_dir, "documents.parquet"))
    # v2 = distributed text-sink staging (trailing-newline files); the
    # version tag invalidates any cache left by the older driver-side
    # writer, whose files lacked the terminator.
    stamp = f"{st.st_mtime_ns}:{st.st_size}:v2"
    if os.path.exists(marker):
        with open(marker, encoding="utf-8") as f:
            if f.read().strip() == stamp:
                return os.path.join(files_dir, "*")
    shutil.rmtree(out_dir, ignore_errors=True)
    staged = os.path.join(out_dir, "_staged")
    (
        load_table(spark, sf_dir, "documents")
        .select("source", "doc_id", "text")
        .repartition(F.col("source"))
        .sortWithinPartitions("source", "doc_id")
        .select("source", "text")
        .write.partitionBy("source").text(staged)
    )
    os.makedirs(files_dir, exist_ok=True)
    for d in glob.glob(os.path.join(staged, "source=*")):
        source = unquote(os.path.basename(d).split("=", 1)[1])
        parts = glob.glob(os.path.join(d, "part-*"))
        # repartition(source) routes ALL of a source to one task, so
        # exactly one part file exists — doc_id order within it.
        assert len(parts) == 1, parts
        os.replace(parts[0], os.path.join(files_dir, source))
    shutil.rmtree(staged)
    with open(marker, "w", encoding="utf-8") as f:
        f.write(stamp)
    return os.path.join(files_dir, "*")


# --- A1: word count (mrapps/wc.go:21-44) ----------------------------------

def _wc_map(filename: str, contents: str):
    return [(w, "1") for w in letter_tokens(contents)]


def _wc_reduce(key: str, values: list[str]) -> str:
    return str(len(values))


_WORDS = ("SELECT unnest(regexp_split_to_array(text, '[^\\p{L}]+')) AS word,"
          " source FROM documents")


@query(
    "mr_wordcount",
    oracle=f"""
    SELECT word AS key, CAST(COUNT(*) AS VARCHAR) AS value
    FROM ({_WORDS}) WHERE word <> ''
    GROUP BY word
    """,
)
def mr_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wc.go through the facade: Map emits (word, "1") per token
    (`mrapps/wc.go:21-34`), Reduce returns len(values)
    (`mrapps/wc.go:41-44`)."""
    return run_job(spark, _wc_map, _wc_reduce,
                   _materialize_inputs(spark, sf_dir))


# --- A2: inverted index (mrapps/indexer.go:20-39) -------------------------

def _indexer_map(filename: str, contents: str):
    return [(w, filename) for w in sorted(set(letter_tokens(contents)))]


def _indexer_reduce(key: str, values: list[str]) -> str:
    values = sorted(values)
    return f"{len(values)} {','.join(values)}"


@query(
    "mr_inverted_index",
    oracle=f"""
    SELECT word AS key,
           CAST(COUNT(*) AS VARCHAR) || ' ' ||
           string_agg(source, ',' ORDER BY source) AS value
    FROM (SELECT DISTINCT word, source FROM ({_WORDS}) WHERE word <> '')
    GROUP BY word
    """,
)
def mr_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """indexer.go through the facade: per-file set dedup then
    (word, docname) pairs (`mrapps/indexer.go:20-31`); Reduce sorts and
    renders "N doc1,doc2,..." (`mrapps/indexer.go:36-39`)."""
    return run_job(spark, _indexer_map, _indexer_reduce,
                   _materialize_inputs(spark, sf_dir))


# --- A3: crash/nocrash payload (mrapps/crash.go:34-55) --------------------

def _crash_map(filename: str, contents: str):
    # mrapps/crash.go:34-43 (sans maybeCrash — Spark owns retry
    # semantics, SURVEY.md §5.3.4): fixed keys a-d carrying filename,
    # len(filename), len(contents), "xyzzy".
    return [
        ("a", filename),
        ("b", str(len(filename))),
        ("c", str(len(contents))),
        ("d", "xyzzy"),
    ]


def _crash_reduce(key: str, values: list[str]) -> str:
    # mrapps/crash.go:45-55: sort values, join with " ".
    return " ".join(sorted(values))


@query(
    "mr_sorted_concat",
    oracle="""
    WITH files AS (
      SELECT source AS fn,
             SUM(length(text)) + COUNT(*) AS content_len
      FROM documents GROUP BY source)
    SELECT 'a' AS key, string_agg(fn, ' ' ORDER BY fn) AS value FROM files
    UNION ALL
    SELECT 'b', string_agg(CAST(length(fn) AS VARCHAR), ' '
                           ORDER BY CAST(length(fn) AS VARCHAR)) FROM files
    UNION ALL
    SELECT 'c', string_agg(CAST(content_len AS VARCHAR), ' '
                           ORDER BY CAST(content_len AS VARCHAR)) FROM files
    UNION ALL
    SELECT 'd', string_agg('xyzzy', ' ') FROM files
    """,
)
def mr_sorted_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """crash.go's exact payload through the facade (VERDICT r1 item 5):
    keys a-d, values sorted byte-wise and space-joined. The oracle
    reconstructs file-level facts relationally (content length =
    Σ text lengths + newline separators)."""
    return run_job(spark, _crash_map, _crash_reduce,
                   _materialize_inputs(spark, sf_dir))
