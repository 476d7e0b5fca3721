"""Sketch-based approximate operators: a count-min sketch built from
plain aggregation expressions (fully oracle-checked — the sketch
arithmetic is engine-neutral), and mergeable DataSketches HLL
(rows-only: the binary sketch format is engine-specific; error is
bounded in pytest).

North-star scale surface (no reference analogue). Sketches are the
100 TB answer to "count everything without holding everything":
fixed-size state, map-side partial aggregation, lossless merges —
the properties exact distinct/frequency counting gives up at scale.

- ``sketch_heavy_hitters``: a real D×W count-min sketch expressed as
  one groupBy over (seed, bucket) cells; per-word estimates are the
  min over its D cells, reported against exact counts so the
  guaranteed-overcount property (cms_n >= exact_n) is visible — and
  oracle-checked, because the md5-derived bucket hash is the shared
  cross-engine hash60 (see dedup.py).
- ``sketch_hll_mergeable``: per-source HLL sketches unioned into a
  corpus-level estimate via ``hll_union_agg`` — the mergeability
  contract (sketch(A ∪ B) = merge(sketch(A), sketch(B))) that lets
  per-partition/per-day sketches roll up without re-scanning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mit_mapreduce_spark.catalog import load_table
from mit_mapreduce_spark.operators.dedup import hash60, _sql_hash60
from mit_mapreduce_spark.operators.registry import query
from mit_mapreduce_spark.session import materialize

CMS_DEPTH = 4    # hash rows (seeds)
CMS_WIDTH = 32   # buckets per row — below vocab size, so collisions
                 # (and visible overcounts) are guaranteed on fixtures

_TOKS_SQL = "list_filter(regexp_split_to_array(text, '[^\\p{L}]+'), x -> x <> '')"


def _tokens():
    return F.filter(F.split("text", r"[^\p{L}]+"), lambda x: x != "")


@query(
    "sketch_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_TOKS_SQL}) AS word FROM documents),
    seeded AS (
      SELECT word, unnest(range(0, {CMS_DEPTH})) AS seed FROM toks),
    cells AS (
      SELECT seed,
             {_sql_hash60("seed || ':' || word")} % {CMS_WIDTH} AS bucket,
             COUNT(*) AS cell_n
      FROM seeded GROUP BY 1, 2),
    exact AS (
      SELECT word, COUNT(*) AS exact_n FROM toks GROUP BY word),
    est AS (
      SELECT e.word, e.exact_n, MIN(c.cell_n) AS cms_n
      FROM exact e
      JOIN (SELECT unnest(range(0, {CMS_DEPTH})) AS seed) s ON TRUE
      JOIN cells c
        ON c.seed = s.seed
       AND c.bucket = {_sql_hash60("s.seed || ':' || e.word")} % {CMS_WIDTH}
      GROUP BY e.word, e.exact_n)
    SELECT word, exact_n, cms_n, cms_n - exact_n AS overcount
    FROM est
    """,
)
def sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimation over the token stream,
    with the exact counts alongside: estimate = min over CMS_DEPTH
    cells, never below truth (overcount >= 0 for every word — the CMS
    guarantee, checked by the oracle on every row).

    Scale shape: the sketch build is ONE aggregation over (seed,
    bucket) — D×W cells of state regardless of input size, map-side
    combined; the estimate probe joins the D×W-row sketch (broadcast)
    back to the vocabulary. Exact counts exist here only to audit the
    sketch; a production 100 TB run keeps just the sketch side."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(_tokens()).alias("word"))
    seeds = F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))

    def bucket(seed_col, word_col):
        return hash60(F.concat(seed_col.cast("string"), F.lit(":"), word_col)) \
            % CMS_WIDTH

    # one explode pass feeds all
    exact = materialize(
        toks.groupBy("word").agg(F.count("*").alias("exact_n")))
    # Cell counts derived from the per-word counts: Σ exact_n over the
    # words hashing into a cell ≡ counting token instances directly
    # (what a streaming CMS does), but hashes |vocab|×D keys instead of
    # |tokens|×D — the same partial-aggregation Spark would apply to
    # the instance stream, made explicit.
    cells = (
        exact.select("exact_n", F.explode(seeds).alias("seed"),
                     F.col("word"))
        .groupBy("seed", bucket(F.col("seed"), F.col("word")).alias("bucket"))
        .agg(F.sum("exact_n").alias("cell_n"))
    )
    probes = exact.select(
        "word", "exact_n", F.explode(seeds).alias("seed")
    ).withColumn("bucket", bucket(F.col("seed"), F.col("word")))
    return (
        probes.join(F.broadcast(cells), ["seed", "bucket"])
        .groupBy("word", "exact_n")
        .agg(F.min("cell_n").alias("cms_n"))
        .select("word", "exact_n", "cms_n",
                (F.col("cms_n") - F.col("exact_n")).alias("overcount"))
    )


@query("sketch_hll_mergeable")  # rows-only: DataSketches binaries are
                                # engine-specific; error bounded in pytest
def sketch_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches: one DataSketches HLL per
    source, plus the corpus-level estimate computed by UNIONING the
    per-source sketches (``hll_union_agg``) — never re-scanning the
    tokens. This is the rollup contract that makes per-day/per-shard
    sketches composable at 100 TB: partial sketches are small, partial
    aggregation is map-side, and merge is lossless. Exact distinct
    counts ride along per source for the pytest error bound."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(_tokens()).alias("word"))
    per_source = (
        toks.groupBy("source")
        .agg(F.hll_sketch_agg("word").alias("sk"),
             F.countDistinct("word").alias("exact_nd"))
    )
    merged = per_source.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_nd"),
        F.sum(F.lit(0)).alias("_z"))  # keep grouping-less agg shape
    union_scope = merged.select(
        F.lit("__all__").alias("scope"),
        F.col("approx_nd").cast("bigint").alias("approx_nd"),
        F.lit(None).cast("bigint").alias("exact_nd"),
    )
    per_scope = per_source.select(
        F.col("source").alias("scope"),
        F.hll_sketch_estimate("sk").cast("bigint").alias("approx_nd"),
        F.col("exact_nd").cast("bigint").alias("exact_nd"),
    )
    return per_scope.unionByName(union_scope)


# --- mergeable binned quantile sketch ---------------------------------------

QB_WIDTH_CENTS = 500   # 5.00-unit bins over value; error bound = 1 bin


def _floor_bin_expr():
    """Cent-grid bin with FLOOR division semantics, in exact integer
    arithmetic: ``(c - pmod(c, w)) div w`` equals floor(c / w) for any
    sign of c. Spark's ``div`` truncates toward zero while the DuckDB
    oracle's ``//`` floors — they differ on negative values (ADVICE r6),
    so both the batch sketch and its streaming twin bin through this
    shared expression and the oracle keeps ``//``."""
    w = QB_WIDTH_CENTS
    return F.expr(
        f"CAST((CAST(round(value * 100) AS BIGINT)"
        f" - pmod(CAST(round(value * 100) AS BIGINT), {w})) div {w}"
        f" AS BIGINT)")


@query(
    "sketch_quantile_bins",
    oracle=f"""
    WITH b AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) // {QB_WIDTH_CENTS} AS bin
      FROM events),
    c AS (
      SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM b GROUP BY event_type, bin),
    cum AS (
      SELECT event_type, bin, cnt,
             CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin)
                  AS BIGINT) AS cum,
             CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM c)
    SELECT event_type, n AS n_events,
           CAST(MIN(CASE WHEN cum >= CAST(ceil(0.50 * n) AS BIGINT)
                    THEN bin * {QB_WIDTH_CENTS} END) AS BIGINT)
             AS p50_cents,
           CAST(MIN(CASE WHEN cum >= CAST(ceil(0.90 * n) AS BIGINT)
                    THEN bin * {QB_WIDTH_CENTS} END) AS BIGINT)
             AS p90_cents,
           CAST(MIN(CASE WHEN cum >= CAST(ceil(0.99 * n) AS BIGINT)
                    THEN bin * {QB_WIDTH_CENTS} END) AS BIGINT)
             AS p99_cents
    FROM cum GROUP BY event_type, n
    """,
)
def sketch_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable binned-histogram quantiles: p50/p90/p99 of event
    value per type, answered from fixed-width integer bins (the
    fixed-grid cousin of KLL/t-digest). The sketch is just (bin →
    count), so shards MERGE by adding counters — the property exact
    percentile() lacks and the reason serving stacks precompute
    histograms; the approximation contract is one bin width
    ({QB_WIDTH_CENTS} cents), fixed a priori, not data-dependent.

    All arithmetic is integer (values are binned on a cent grid with
    one deterministic round) so the result sits under the exact hash
    gate on both engines. Plan: one (type, bin) counting aggregation —
    state bounded by bins-per-type, never by row count — one
    per-type cumulative window over the tiny counts table, one final
    rollup that reuses the window's partitioning. At 100 TB the first
    aggregation is the only pass over data; everything after runs on
    kilobytes."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    c = (
        ev.select("event_type", _floor_bin_expr().alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    wcum = (W.partitionBy("event_type").orderBy("bin")
            .rowsBetween(W.unboundedPreceding, 0))
    wall = W.partitionBy("event_type")
    cum = c.select(
        "event_type", "bin", "cnt",
        F.sum("cnt").over(wcum).cast("bigint").alias("cum"),
        F.sum("cnt").over(wall).cast("bigint").alias("n"))

    def pick(q: float, name: str):
        return F.min(
            F.when(F.col("cum") >= F.ceil(F.lit(q) * F.col("n"))
                   .cast("bigint"),
                   F.col("bin") * QB_WIDTH_CENTS)
        ).cast("bigint").alias(name)

    return (
        cum.groupBy("event_type", F.col("n").alias("n_events"))
        .agg(pick(0.50, "p50_cents"), pick(0.90, "p90_cents"),
             pick(0.99, "p99_cents"))
    )
