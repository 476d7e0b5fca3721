"""Data-profiling and deterministic-sampling operators.

North-star pipeline surface (no reference analogue — the reference
has no schema to profile, SURVEY.md §1.3): the ops a 100 TB ingest
runs before anything else — per-column statistics to catch schema
drift, and reproducible stratified sampling to build eval slices and
data mixes.

Both are single-pass scans. The profiler computes every column's
stats in ONE aggregation (no per-column re-scan); the sampler is a
stateless hash predicate, so it needs no shuffle at all and the same
rows are selected on any engine, any partitioning, any day.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mit_mapreduce_spark.catalog import fan_out, load_table
from mit_mapreduce_spark.functions.numeric import dsum, sql_dsum
from mit_mapreduce_spark.operators.dedup import hash60, _sql_hash60
from mit_mapreduce_spark.operators.registry import query
from mit_mapreduce_spark.session import materialize

# (column, kind) pairs for the orders profile. Numeric/timestamp stats
# land in min_num/max_num (timestamps as epoch-µs — engine-neutral,
# no string-formatting divergence); varchar min/max in min_str/max_str.
_ORDERS_COLS = (
    ("o_orderkey", "num"),
    ("o_custkey", "num"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "num"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
)


def _sql_profile() -> str:
    branches = []
    for c, kind in _ORDERS_COLS:
        if kind == "num":
            mn, mx = f"CAST(MIN({c}) AS DOUBLE)", f"CAST(MAX({c}) AS DOUBLE)"
        elif kind == "ts":
            mn = f"CAST(epoch_us(MIN({c})) AS DOUBLE)"
            mx = f"CAST(epoch_us(MAX({c})) AS DOUBLE)"
        else:
            mn = mx = "CAST(NULL AS DOUBLE)"
        ms = (f"CAST(MIN({c}) AS VARCHAR), CAST(MAX({c}) AS VARCHAR)"
              if kind == "str" else
              "CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)")
        branches.append(
            f"SELECT '{c}' AS column_name, COUNT(*) AS n_rows,\n"
            f"       COUNT(*) - COUNT({c}) AS n_nulls,\n"
            f"       COUNT(DISTINCT {c}) AS n_distinct,\n"
            f"       {mn} AS min_num, {mx} AS max_num,\n"
            f"       {ms.split(', ')[0]} AS min_str,"
            f" {ms.split(', ')[1]} AS max_str\n"
            f"FROM orders"
        )
    return "\nUNION ALL\n".join(branches)


@query("profile_columns", oracle=_sql_profile())
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema profiler: one row per column of `orders` with row count,
    null count, exact distinct count, and typed min/max.

    All columns' statistics are computed in a SINGLE aggregation pass
    (the oracle's UNION-ALL-per-column shape would re-scan the table
    once per column — wrong at 100 TB); the one wide aggregate row is
    then exploded driver-free into per-column rows. The count-distincts
    make Catalyst plan an expand (one shuffle per distinct domain) —
    the price of exactness; swap in approx_count_distinct when ±2%
    suffices (see agg_approx_distinct).

    r14 (guide §2.5 input skew): fan_out before the aggregate — the
    single-row-group fixture scan pinned the 6-way Expand + partial
    distinct aggregation to ONE task (measured 2.5 s vs 1.0 s with the
    spread); the gate removes the repartition on any real multi-file
    table."""
    orders = fan_out(load_table(spark, sf_dir, "orders"))

    aggs, fields = [], []
    for c, kind in _ORDERS_COLS:
        aggs += [
            F.count("*").alias(f"{c}__rows"),
            (F.count("*") - F.count(c)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__nd"),
        ]
        if kind == "num":
            aggs += [F.min(c).cast("double").alias(f"{c}__mn"),
                     F.max(c).cast("double").alias(f"{c}__mx")]
        elif kind == "ts":
            # parquet timestamps load as NTZ; cast re-tags the wall-clock
            # value as UTC (session tz), matching DuckDB's epoch_us on
            # the same naive value.
            aggs += [F.unix_micros(F.min(c).cast("timestamp"))
                     .cast("double").alias(f"{c}__mn"),
                     F.unix_micros(F.max(c).cast("timestamp"))
                     .cast("double").alias(f"{c}__mx")]
        else:
            aggs += [F.min(c).alias(f"{c}__smn"), F.max(c).alias(f"{c}__smx")]

    for c, kind in _ORDERS_COLS:
        is_str = kind == "str"
        fields.append(F.struct(
            F.lit(c).alias("column_name"),
            F.col(f"{c}__rows").alias("n_rows"),
            F.col(f"{c}__nulls").alias("n_nulls"),
            F.col(f"{c}__nd").alias("n_distinct"),
            (F.lit(None).cast("double") if is_str
             else F.col(f"{c}__mn")).alias("min_num"),
            (F.lit(None).cast("double") if is_str
             else F.col(f"{c}__mx")).alias("max_num"),
            (F.col(f"{c}__smn") if is_str
             else F.lit(None).cast("string")).alias("min_str"),
            (F.col(f"{c}__smx") if is_str
             else F.lit(None).cast("string")).alias("max_str"),
        ))

    return (
        orders.agg(*aggs)
        .select(F.explode(F.array(*fields)).alias("p"))
        .select("p.*")
    )


# Per-language sampling rates in basis points of 10_000 — a "data mix"
# recipe: downsample the dominant language, keep the rest denser.
_MIX_BPS = {"en": 2_000, "de": 5_000, "fr": 5_000, "es": 5_000}
_DEFAULT_BPS = 3_000
_SALT = "mix42#"


def _sql_sample() -> str:
    cases = " ".join(
        f"WHEN lang = '{lang}' THEN {bps}" for lang, bps in _MIX_BPS.items())
    h = _sql_hash60(f"'{_SALT}' || doc_id::VARCHAR")
    return f"""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE {h} % 10000 < CASE {cases} ELSE {_DEFAULT_BPS} END
    """


@query("sample_stratified", oracle=_sql_sample())
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified (per-language) Bernoulli sample — the
    reproducible data-mixing primitive. Membership is a pure hash
    predicate on (salt, doc_id): no RNG state, no shuffle, identical
    selection at any parallelism and on any engine (the DuckDB oracle
    picks the EXACT same rows — unlike rand()-based sampling, which is
    rows-only-checkable at best; cf. sample_corpus).

    At 100 TB this is a filter fully fused into the scan: sampling a
    petabyte corpus costs one pass, and re-running it next month with
    the same salt yields the same training mix."""
    docs = load_table(spark, sf_dir, "documents")
    bps = F.lit(_DEFAULT_BPS)
    for lang, rate in _MIX_BPS.items():
        bps = F.when(F.col("lang") == lang, rate).otherwise(bps)
    keep = (hash60(F.concat(F.lit(_SALT), F.col("doc_id").cast("string")))
            % 10_000) < bps
    return docs.where(keep).select("doc_id", "lang", "source", "n_chars")


_PIPE_SALT = "pipe#"
_MIN_TOKENS = 10
_MAX_PUNCT = 0.3
_TOKS = "list_filter(regexp_split_to_array(text, '[^\\p{L}]+'), x -> x <> '')"


def _sql_pipeline() -> str:
    cases = " ".join(
        f"WHEN lang = '{lang}' THEN {bps}" for lang, bps in _MIX_BPS.items())
    h = _sql_hash60(f"'{_PIPE_SALT}' || doc_id::VARCHAR")
    return f"""
    WITH q AS (
      SELECT doc_id, lang, source, text,
             length({_TOKS}) AS n_toks
      FROM documents
      WHERE length({_TOKS}) >= {_MIN_TOKENS}
        AND (CASE WHEN length(text) = 0 THEN 1.0
             ELSE CAST(length(regexp_replace(text, '[\\p{{L}}\\s]+', '', 'g'))
                  AS DOUBLE) / length(text) END) <= {_MAX_PUNCT}),
    kept AS (
      SELECT * FROM (
        SELECT q.*, MIN(doc_id) OVER (PARTITION BY
               md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))))
               AS keep_id
        FROM q)
      WHERE doc_id = keep_id),
    samp AS (
      SELECT * FROM kept
      WHERE {h} % 10000 < CASE {cases} ELSE {_DEFAULT_BPS} END)
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS sum_tokens,
           CAST(SUM(length(text)) AS BIGINT) AS sum_chars
    FROM samp
    GROUP BY lang, source
    """


@query("pipeline_training_mix", oracle=_sql_pipeline())
def pipeline_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline, end to end in ONE plan:
    quality gate (token floor + punctuation ceiling) → exact-normalized
    dedup keep-list (min doc_id per fingerprint) → deterministic
    stratified sample → per-(lang, source) mix summary.

    This is the flagship shape the individual operators exist for, and
    every stage is deterministic, so the whole composition hash-checks
    against DuckDB. Plan-wise: the quality gate is a scan-fused filter,
    the keep-list is one fingerprint window exchange, the sampler is a
    free filter, and the summary is one partial-aggregated shuffle —
    two exchanges total for a four-stage pipeline. At 100 TB each
    stage's posture is inherited from the operator it composes."""
    from pyspark.sql import Window

    from mit_mapreduce_spark.catalog import fan_out

    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", r"[^\p{L}]+"), lambda x: x != "")
    n_toks = F.size(toks)
    # empty text: define ratio 1.0 (fails the ceiling) instead of 0/0
    # — ANSI mode turns the bare division into DIVIDE_BY_ZERO (fuzz)
    punct_ratio = F.when(F.length("text") == 0, F.lit(1.0)).otherwise(
        F.length(F.regexp_replace("text", r"[\p{L}\s]+", ""))
        .cast("double") / F.length("text"))
    # Metrics in a projection behind a lazy-checkpoint barrier:
    # pushdown would inline the size(filter(split)) HOF into the
    # Filter, which runs interpreted (see SCALE.md, round-4 find);
    # fan_out parallelizes the single-row-group fixture scan.
    metrics = materialize(fan_out(docs).select(
        "*", n_toks.alias("n_toks"), punct_ratio.alias("_punct"),
    ))
    q = (metrics.where((F.col("n_toks") >= _MIN_TOKENS)
                       & (F.col("_punct") <= _MAX_PUNCT))
         .drop("_punct"))

    fp = F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")))
    kept = (
        q.withColumn("keep_id", F.min("doc_id").over(Window.partitionBy(fp)))
        .where(F.col("doc_id") == F.col("keep_id"))
    )

    bps = F.lit(_DEFAULT_BPS)
    for lang, rate in _MIX_BPS.items():
        bps = F.when(F.col("lang") == lang, rate).otherwise(bps)
    samp = kept.where(
        (hash60(F.concat(F.lit(_PIPE_SALT), F.col("doc_id").cast("string")))
         % 10_000) < bps)

    return (
        samp.groupBy("lang", "source")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_toks").cast("bigint").alias("sum_tokens"),
             F.sum(F.length("text")).cast("bigint").alias("sum_chars"))
    )


TOP_SKEW_KEYS = 10


@query(
    "skew_report",
    oracle=f"""
    WITH counts AS (
      SELECT l_suppkey AS key, COUNT(*) AS n_rows
      FROM lineitem GROUP BY l_suppkey),
    tot AS (
      SELECT key, n_rows,
             SUM(n_rows) OVER () AS total_rows,
             COUNT(*) OVER () AS n_keys,
             row_number() OVER (ORDER BY n_rows DESC, key) AS rnk
      FROM counts)
    SELECT key, n_rows,
           CAST(rnk AS INT) AS rnk,
           CAST(n_rows AS DOUBLE) / total_rows AS share,
           CAST(n_rows AS DOUBLE) * n_keys / total_rows AS skew_ratio
    FROM tot
    WHERE rnk <= {TOP_SKEW_KEYS}
    """,
)
def skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis: the TOP_SKEW_KEYS hottest values of a
    fact-side join key with their row share and skew ratio
    (count x n_keys / total — 1.0 = perfectly uniform). This is the
    operational pre-check behind the salted join (join_salted_skew):
    run it on the key you're about to shuffle on; ratios ≫ 1 mean the
    straggler partition exists before you pay for it. One groupBy
    shuffle on the key, then a single-partition window over the
    key-count table (|keys| rows, tiny next to the fact)."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = (
        li.groupBy(F.col("l_suppkey").alias("key"))
        .agg(F.count("*").alias("n_rows"))
    )
    from pyspark.sql import Window
    wall = Window.partitionBy()
    wrank = Window.partitionBy().orderBy(F.col("n_rows").desc(), F.col("key"))
    return (
        counts.select(
            "key", "n_rows",
            F.row_number().over(wrank).cast("int").alias("rnk"),
            (F.col("n_rows").cast("double")
             / F.sum("n_rows").over(wall)).alias("share"),
            (F.col("n_rows").cast("double")
             * F.count("*").over(wall) / F.sum("n_rows").over(wall))
            .alias("skew_ratio"),
        )
        .where(F.col("rnk") <= TOP_SKEW_KEYS)
    )


# --- deterministic per-key reservoir --------------------------------------

RESERVOIR_K = 20


@query(
    "reservoir_per_key",
    oracle=f"""
    SELECT source, doc_id, n_chars, CAST(rnk AS INT) AS rnk
    FROM (
      SELECT source, doc_id, n_chars,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {_sql_hash60('CAST(doc_id AS VARCHAR)')}, doc_id)
               AS rnk
      FROM documents)
    WHERE rnk <= {RESERVOIR_K}
    """,
)
def reservoir_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size uniform sample per key (the distributed stand-in for
    per-group reservoir sampling): rank each document inside its
    source by a 60-bit hash of its id — a deterministic uniform
    permutation — and keep the first {RESERVOIR_K}. Rerunning on any
    partitioning, engine, or day selects the SAME rows (unlike
    rand()-seeded reservoirs, whose output depends on partition
    layout), which is what makes eval-slice construction auditable.

    100 TB posture: one hash + one window shuffle on the key. When a
    single key is too hot for one partition, the standard refinement
    is a two-level cut — per-partition hash-top-K (map-side), then
    top-K of the K·P survivors — same result by associativity of
    min-K under a total order."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window
    w = (Window.partitionBy("source")
         .orderBy(hash60(F.col("doc_id").cast("string")), "doc_id"))
    return (
        docs.select("source", "doc_id", "n_chars",
                    F.row_number().over(w).cast("int").alias("rnk"))
        .where(F.col("rnk") <= RESERVOIR_K)
    )


# --- equi-width histogram -------------------------------------------------

HIST_BUCKETS = 20


@query(
    "histogram_totalprice",
    oracle=f"""
    WITH mm AS (
      SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders),
    b AS (
      SELECT CASE WHEN mm.hi = mm.lo THEN 0
                  ELSE CAST(LEAST(FLOOR((o.o_totalprice - mm.lo)
                              / ((mm.hi - mm.lo) / {HIST_BUCKETS}.0)),
                        {HIST_BUCKETS - 1}.0) AS INT) END AS bucket,
             o.o_totalprice
      FROM orders o CROSS JOIN mm)
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
           {sql_dsum('o_totalprice', 'sum_price')}
    FROM b GROUP BY bucket
    """,
)
def histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bucket histogram of order totals —
    the profiler's distribution view. Two passes: a global min/max
    (1-row broadcast cross join) and one bucketing aggregation; the
    bucket index is pinned IEEE arithmetic (identical expression
    order cross-engine, max clamped into the last bucket), so even
    the bucket boundaries are hash-exact. At 100 TB both passes are
    map-side-combined scans; the histogram itself is 20
    rows."""
    o = load_table(spark, sf_dir, "orders")
    mm = F.broadcast(o.agg(F.min("o_totalprice").alias("lo"),
                           F.max("o_totalprice").alias("hi")))
    width = (F.col("hi") - F.col("lo")) / float(HIST_BUCKETS)
    # constant column ⇒ zero width: everything is bucket 0 (fuzz-found
    # ANSI DIVIDE_BY_ZERO; mirrored in the oracle's CASE)
    bucket = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(
            F.floor((F.col("o_totalprice") - F.col("lo")) / width),
            F.lit(float(HIST_BUCKETS - 1)))).cast("int")
    return (
        o.crossJoin(mm)
        .select(bucket.alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("n"),
             dsum("o_totalprice", "sum_price"))
    )


# --- privacy: k-anonymity audit + suppression plan -------------------------

# Quasi-identifier grid for the customer table: nation x market
# segment x account-balance band. Band arithmetic is FLOOR of one
# IEEE double division — bit-identical in both engines (same caveat
# discipline as min_cost_supplier's snap idiom).
K_ANON = 5
BAL_BAND = 5000.0

_SQL_QI_CLASSES = f"""
    SELECT c_nationkey, c_mktsegment,
           CAST(FLOOR(c_acctbal / {BAL_BAND}) AS INT) AS bal_band,
           COUNT(*) AS class_size
    FROM customer
    GROUP BY c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / {BAL_BAND}) AS INT)
"""


def _qi_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / F.lit(BAL_BAND)).cast("int")
    return (
        c.groupBy("c_nationkey", "c_mktsegment", band.alias("bal_band"))
        .agg(F.count("*").cast("bigint").alias("class_size"))
    )


@query(
    "k_anonymity_audit",
    oracle=f"SELECT * FROM ({_SQL_QI_CLASSES}) WHERE class_size < {K_ANON}",
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit (Sweeney, k-anonymity, 2002): equivalence classes
    of the quasi-identifier grid (nation, segment, balance band) with
    fewer than K_ANON members — the rows re-identifiable by linking
    on those attributes. One map-side-combined groupBy over the scan
    plus a HAVING on the aggregate; the class table this produces is
    bounded by the QI grid's cardinality (|nations| x |segments| x
    bands), not by row count, so the audit output stays small at any
    corpus scale. The generalization loop a release pipeline runs
    (widen bands until every class passes) re-evaluates this same
    cheap aggregate per candidate grid."""
    return _qi_classes(spark, sf_dir).where(F.col("class_size") < K_ANON)


@query(
    "k_anonymity_suppress",
    oracle=f"""
    SELECT c.c_nationkey,
           COUNT(*) AS n_customers,
           CAST(SUM(CASE WHEN r.class_size IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_suppressed
    FROM customer c
    LEFT JOIN (SELECT * FROM ({_SQL_QI_CLASSES})
               WHERE class_size < {K_ANON}) r
      ON c.c_nationkey IS NOT DISTINCT FROM r.c_nationkey
     AND c.c_mktsegment IS NOT DISTINCT FROM r.c_mktsegment
     AND CAST(FLOOR(c.c_acctbal / {BAL_BAND}) AS INT)
         IS NOT DISTINCT FROM r.bal_band
    GROUP BY c.c_nationkey
    """,
)
def k_anonymity_suppress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The enforcement half of the audit: per nation, how many
    customer rows a k-anonymous release would suppress (rows whose QI
    class is under K_ANON). The risky-class table is bounded by the
    QI grid, so Catalyst broadcasts it and the enforcement pass is a
    broadcast hash join riding the original scan — no extra wide
    shuffle at 100 TB beyond the audit aggregate itself."""
    c = load_table(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / F.lit(BAL_BAND)).cast("int")
    risky = (
        _qi_classes(spark, sf_dir)
        .where(F.col("class_size") < K_ANON)
        .withColumnsRenamed({"c_nationkey": "r_nationkey",
                             "c_mktsegment": "r_mktsegment",
                             "bal_band": "r_bal_band"})
    )
    # Null-safe QI equality (r8 review #2): GROUP BY treats NULL QI
    # values as one class, so the enforcement join must match them
    # back the same way — plain `=` silently exempted NULL-keyed rows
    # from suppression in BOTH engines (the oracle gate can't see an
    # engine-symmetric contract bug; the crafted pytest now can).
    joined = c.withColumn("bal_band", band).join(
        F.broadcast(risky),
        F.col("c_nationkey").eqNullSafe(F.col("r_nationkey"))
        & F.col("c_mktsegment").eqNullSafe(F.col("r_mktsegment"))
        & F.col("bal_band").eqNullSafe(F.col("r_bal_band")),
        "left",
    )
    return joined.groupBy("c_nationkey").agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.sum(F.when(F.col("class_size").isNotNull(), 1).otherwise(0))
        .cast("bigint").alias("n_suppressed"),
    )


# --- referential-integrity audit -------------------------------------------

# (child table, fk column, parent table, pk column) — the fixture
# star schema's full FK edge set.
FK_EDGES = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)

_SQL_FK_AUDIT = "\nUNION ALL\n".join(
    f"""
    SELECT '{child}.{fk}' AS relationship,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN {fk} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_fk,
           CAST(SUM(CASE WHEN {fk} IS NOT NULL AND p.{pk} IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
    FROM {child} c LEFT JOIN (SELECT DISTINCT {pk} FROM {parent}) p
      ON c.{fk} = p.{pk}
    """ for child, fk, parent, pk in FK_EDGES)


@query("fk_integrity_audit", oracle=_SQL_FK_AUDIT)
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time referential-integrity audit: for every FK edge of
    the star schema, how many child rows are NULL-keyed or orphaned
    (no matching parent key). The op a 100 TB warehouse runs on every
    load before trusting joins — an orphaned fact row silently
    disappears from every inner join downstream.

    Plan shape per edge: parent keys deduped first, LEFT join +
    conditional count — no anti-join pass per relationship, one
    aggregate row out per edge. The broadcast decision is left to
    Catalyst/AQE size thresholds rather than a hard-coded parent-name
    list (VERDICT r8 ask #6: the name list broadcast `customer`
    unconditionally, which OOMs the moment the edge list is extended
    to a big parent): small deduped key sets broadcast at runtime,
    and a large parent degrades to a shuffle join — both regimes
    plan-pinned in pytest. All-integer output under the hash gate; on
    the clean fixtures every row reads 0/0, and the crafted pytest
    proves the non-zero semantics."""
    out = None
    for child, fk, parent, pk in FK_EDGES:
        c = load_table(spark, sf_dir, child)
        p = load_table(spark, sf_dir, parent).select(pk).distinct()
        joined = c.join(p, c[fk] == p[pk], "left")
        row = joined.agg(
            F.lit(f"{child}.{fk}").alias("relationship"),
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.when(F.col(fk).isNull(), 1).otherwise(0))
            .cast("bigint").alias("n_null_fk"),
            F.sum(F.when(F.col(fk).isNotNull() & F.col(pk).isNull(), 1)
                  .otherwise(0)).cast("bigint").alias("n_orphans"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# --- corpus snapshot diff (r14) --------------------------------------------
#
# Dataset versioning: a production corpus is re-snapshotted per ingest
# day, and downstream training jobs need the DELTA — which documents
# appeared, vanished, or changed — without diffing payloads. The diff
# compares the normalized-text FINGERPRINT (mmdedup's one spelling),
# so the shuffle carries 32 bytes per doc, never the text. Fixture
# snapshots are derived deterministically from the documents table:
# yesterday (A) lacks today's incoming shard (the established
# doc_id % 40 < 6 split) and carries a draft suffix on docs that were
# since revised; today (B) dropped the docs deleted overnight.

SNAP_REV_MOD = 11    # doc_id % 11 == 0  -> text revised since A
SNAP_DEL_MOD = 13    # doc_id % 13 == 5  -> removed from B
_SNAP_FP = "md5(lower(regexp_replace(trim({t}), '\\s+', ' ', 'g')))"


@query(
    "corpus_snapshot_diff",
    oracle=f"""
    WITH a AS (
      SELECT doc_id,
             {_SNAP_FP.format(t=f"CASE WHEN doc_id % {SNAP_REV_MOD} = 0"
                                f" THEN text || ' draft'"
                                f" ELSE text END")} AS a_fp
      FROM documents WHERE doc_id % 40 >= 6),
    b AS (
      SELECT doc_id, {_SNAP_FP.format(t='text')} AS b_fp
      FROM documents WHERE doc_id % {SNAP_DEL_MOD} <> 5)
    SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
           CASE WHEN a.doc_id IS NULL THEN 'added'
                WHEN b.doc_id IS NULL THEN 'removed'
                WHEN a.a_fp IS NOT DISTINCT FROM b.b_fp THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
    """,
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document delta between two corpus snapshots — added /
    removed / changed / unchanged — by comparing each snapshot's
    normalized-text fingerprint under a doc_id full outer join. The
    NULL-safe fingerprint comparison (eqNullSafe / IS NOT DISTINCT
    FROM) keeps NULL-text docs 'unchanged' when both snapshots agree
    they are NULL.

    100 TB posture: each side reduces to (doc_id, 32-byte md5)
    before the join — payload text never shuffles — and the full
    outer join is a doc_id equi-join two daily snapshots co-partition
    naturally (same writer, same bucketing); the downstream
    incremental jobs then touch only the added+changed slice, which
    is the whole point of snapshotting."""
    from mit_mapreduce_spark.operators.mmdedup import norm_fp_col

    docs = load_table(spark, sf_dir, "documents")
    a_text = F.when(F.col("doc_id") % SNAP_REV_MOD == 0,
                    F.concat(F.col("text"), F.lit(" draft"))) \
        .otherwise(F.col("text"))
    a = (docs.where(F.col("doc_id") % 40 >= 6)
         .select("doc_id", a_text.alias("text"))
         .select(F.col("doc_id").alias("a_id"),
                 norm_fp_col().alias("a_fp")))
    b = (docs.where(F.col("doc_id") % SNAP_DEL_MOD != 5)
         .select(F.col("doc_id").alias("b_id"),
                 norm_fp_col().alias("b_fp")))
    status = (
        F.when(F.col("a_id").isNull(), F.lit("added"))
        .when(F.col("b_id").isNull(), F.lit("removed"))
        .when(F.col("a_fp").eqNullSafe(F.col("b_fp")),
              F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return (
        a.join(b, F.col("a_id") == F.col("b_id"), "full_outer")
        .select(F.coalesce("a_id", "b_id").alias("doc_id"),
                status.alias("status"))
    )
