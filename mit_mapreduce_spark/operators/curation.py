"""Corpus-curation operators over `documents`: repetition-quality
signals, fixed-size chunking, benchmark-contamination detection, and
PII redaction.

North-star LLM-training-pipeline surface (no reference equivalent; the
reference's text processing stops at tokenize/count, `mrapps/wc.go:21-44`).
Like textstats.py, everything is JVM-side expression work — split /
regexp / higher-order array functions riding whole-stage codegen:

- ``quality_repetition``: Gopher-style repetition filters (duplicate
  n-gram fractions, type-token ratio) computed entirely inside array
  expressions — one scan, zero shuffles, no explode (no row blowup).
- ``chunk_documents``: overlapping fixed-token-count windows (the
  training-example chunker). One scan + one controlled posexplode
  whose fan-out is ceil(n_tokens/stride) per doc — bounded and linear.
- ``contamination_ngrams``: n-gram overlap of the corpus against a
  designated eval/benchmark set — the decontamination step every
  training pipeline runs. The eval side is tiny by construction
  (benchmarks are), so it is broadcast; the probe is an equi-join on
  the n-gram string followed by one per-doc aggregation.
- ``pii_redact``: regex scrubbing (emails, IPv4s, phones, ID
  numbers — r13) with match counts.
  The synthetic corpus carries no PII, so the query seeds
  deterministic PII derived from doc_id before scrubbing — proving
  the redaction really fires, with a DuckDB oracle agreeing on every
  byte of the redacted output.

All four are fully oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mit_mapreduce_spark.catalog import load_table
from mit_mapreduce_spark.operators.registry import query
from mit_mapreduce_spark.session import materialize, parallel_legs

# whitespace tokens (chunker/PII operate on raw whitespace words;
# the repetition signals use reference-semantics letter runs like
# textstats, so both tokenizations stay exercised)
_WS_TOKS_SQL = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')"
_LTR_TOKS_SQL = "list_filter(regexp_split_to_array(text, '[^\\p{L}]+'), x -> x <> '')"


def _ws_tokens() -> Column:
    return F.filter(F.split("text", r"\s+"), lambda x: x != "")


def _letter_tokens() -> Column:
    return F.filter(F.split("text", r"[^\p{L}]+"), lambda x: x != "")


def _ngram_arr(k: int) -> Column:
    """All k-word n-grams of the letter-token array ``_toks`` (with
    duplicates — repetition signals need multiplicity). Short-doc
    guard: < k tokens ⇒ empty array (sequence(1, 0) would descend and
    slice would throw — see dedup.shingles_df)."""
    return F.expr(
        f"""CASE WHEN size(_toks) < {k} THEN array()
                 ELSE transform(sequence(1, size(_toks) - {k - 1}),
                                i -> concat_ws(' ', slice(_toks, i, {k})))
            END"""
    )


def _sql_ngram_arr(k: int) -> str:
    """DuckDB twin of _ngram_arr (range(a, b) is empty when b <= a, so
    no short-doc guard is needed)."""
    return (f"list_transform(range(1, greatest(len(_toks) - {k - 1}, 0) + 1), "
            f"i -> array_to_string(list_slice(_toks, i, i + {k - 1}), ' '))")


# --- repetition-quality signals ------------------------------------------

MAX_DUP_BIGRAM_FRAC = 0.2   # Gopher-style thresholds (Rae et al. 2021
MIN_TTR = 0.2               # use top-2/3/4-gram + dup-5..10-gram
                            # fractions; one bigram + one trigram
                            # fraction is the same machinery)


@query(
    "quality_repetition",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_LTR_TOKS_SQL} AS _toks FROM documents),
    g AS (
      SELECT doc_id,
             CAST(len(_toks) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(_toks)) AS BIGINT) AS n_distinct,
             -- NULL-text guard (r14 fuzz find): DuckDB's greatest()
             -- SKIPS NULL args, so the unguarded range built an
             -- EMPTY list (dup fracs 0.0) where Spark's CASE
             -- propagates NULL — NULL text must yield NULL signals
             -- on both engines
             CASE WHEN _toks IS NULL THEN NULL
                  ELSE {_sql_ngram_arr(2)} END AS bi,
             CASE WHEN _toks IS NULL THEN NULL
                  ELSE {_sql_ngram_arr(3)} END AS tri
      FROM t)
    SELECT doc_id, n_tokens, n_distinct,
           CAST(CASE WHEN n_tokens = 0 THEN 0.0
                ELSE CAST(n_distinct AS DOUBLE) / n_tokens END AS DOUBLE)
             AS ttr,
           CAST(CASE WHEN len(bi) = 0 THEN 0.0
                ELSE 1.0 - CAST(len(list_distinct(bi)) AS DOUBLE) / len(bi)
                END AS DOUBLE) AS dup_bigram_frac,
           CAST(CASE WHEN len(tri) = 0 THEN 0.0
                ELSE 1.0 - CAST(len(list_distinct(tri)) AS DOUBLE) / len(tri)
                END AS DOUBLE) AS dup_trigram_frac,
           (CASE WHEN len(bi) = 0 THEN 0.0
                 ELSE 1.0 - CAST(len(list_distinct(bi)) AS DOUBLE) / len(bi)
                 END) <= {MAX_DUP_BIGRAM_FRAC}
             AND (CASE WHEN n_tokens = 0 THEN 0.0
                  ELSE CAST(n_distinct AS DOUBLE) / n_tokens END) >= {MIN_TTR}
             AS passes
    FROM g
    """,
)
def quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-quality signals per document (Gopher-rule family):
    type-token ratio and duplicate bigram/trigram fractions, plus the
    combined keep/drop verdict. Every signal is an array expression
    over the token array — one scan, zero shuffles, zero explodes, so
    the filter costs exactly one pass over the corpus at any scale."""
    from mit_mapreduce_spark.catalog import fan_out

    docs = load_table(spark, sf_dir, "documents")
    return quality_repetition_from(fan_out(docs))


def quality_repetition_from(docs: DataFrame) -> DataFrame:
    """The repetition battery over any (doc_id, text) frame — batch
    (above) or a document stream (stream_repetition_rules, r14): a
    stateless projection, so the identical column expressions run
    per micro-batch with zero streaming state."""
    staged = docs.select(
        "doc_id", _letter_tokens().alias("_toks")
    ).select(
        "doc_id",
        F.size("_toks").cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct("_toks")).cast("bigint").alias("n_distinct"),
        _ngram_arr(2).alias("bi"),
        _ngram_arr(3).alias("tri"),
    )

    def dup_frac(arr: str) -> Column:
        n = F.size(F.col(arr))
        nd = F.size(F.array_distinct(F.col(arr)))
        return (F.when(n == 0, F.lit(0.0))
                .otherwise(F.lit(1.0) - nd.cast("double") / n))

    ttr = (F.when(F.col("n_tokens") == 0, F.lit(0.0))
           .otherwise(F.col("n_distinct").cast("double") / F.col("n_tokens")))
    bi_frac = dup_frac("bi")
    return staged.select(
        "doc_id", "n_tokens", "n_distinct",
        ttr.cast("double").alias("ttr"),
        bi_frac.cast("double").alias("dup_bigram_frac"),
        dup_frac("tri").cast("double").alias("dup_trigram_frac"),
        ((bi_frac <= MAX_DUP_BIGRAM_FRAC)
         & (ttr >= MIN_TTR)).alias("passes"),
    )


# --- fixed-size overlapping chunking -------------------------------------

CHUNK_TOKENS = 40   # tokens per training chunk
CHUNK_STRIDE = 30   # 10-token overlap between consecutive chunks


@query(
    "chunk_documents",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_WS_TOKS_SQL} AS toks FROM documents),
    s AS (
      SELECT doc_id, toks,
             unnest(range(1, len(toks) + 1, {CHUNK_STRIDE})) AS start
      FROM t)
    SELECT doc_id,
           CAST((start - 1) // {CHUNK_STRIDE} AS INT) AS chunk_id,
           CAST(len(list_slice(toks, start, start + {CHUNK_TOKENS - 1}))
                AS BIGINT) AS n_chunk_tokens,
           array_to_string(list_slice(toks, start, start + {CHUNK_TOKENS - 1}),
                           ' ') AS chunk_text
    FROM s
    """,
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-example chunker: overlapping CHUNK_TOKENS-word windows
    every CHUNK_STRIDE tokens (the standard fixed-context-window prep
    step). The only fan-out is a posexplode over the per-doc start
    offsets — ceil(n_tokens/stride) rows per doc, linear in corpus
    size; the token array is built once per doc and sliced per chunk
    JVM-side."""
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select("doc_id", _ws_tokens().alias("toks"))
    # empty docs chunk to NOTHING (fuzz find: the old greatest(n, 1)
    # guard — needed because Spark's sequence(1, 0, k) throws on the
    # descending direction — emitted a phantom empty chunk instead)
    starts = F.when(F.size("toks") == 0,
                    F.array().cast("array<int>")).otherwise(
        F.sequence(F.lit(1), F.size("toks"), F.lit(CHUNK_STRIDE)))
    return (
        staged.select(
            "doc_id", "toks",
            F.posexplode(starts).alias("chunk_id", "start"))
        .select(
            "doc_id",
            F.col("chunk_id").cast("int").alias("chunk_id"),
            F.size(F.slice("toks", F.col("start"), F.lit(CHUNK_TOKENS)))
            .cast("bigint").alias("n_chunk_tokens"),
            F.array_join(
                F.slice("toks", F.col("start"), F.lit(CHUNK_TOKENS)), " ")
            .alias("chunk_text"),
        )
    )


# --- benchmark-contamination detection -----------------------------------

EVAL_MOD = 97       # docs with doc_id % EVAL_MOD == 0 stand in for the
                    # held-out benchmark set
CONTAM_NGRAM = 3    # shared-n-gram size


@query(
    "contamination_ngrams",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_LTR_TOKS_SQL} AS _toks FROM documents),
    grams AS (
      SELECT DISTINCT doc_id, unnest({_sql_ngram_arr(CONTAM_NGRAM)}) AS gram
      FROM t),
    eval_grams AS (
      SELECT doc_id AS eval_id, gram FROM grams
      WHERE doc_id % {EVAL_MOD} = 0),
    hits AS (
      SELECT g.doc_id, g.gram, e.eval_id
      FROM grams g JOIN eval_grams e ON e.gram = g.gram
      WHERE g.doc_id % {EVAL_MOD} <> 0)
    SELECT doc_id,
           COUNT(DISTINCT gram) AS n_shared_ngrams,
           COUNT(DISTINCT eval_id) AS n_eval_docs
    FROM hits
    GROUP BY doc_id
    """,
)
def contamination_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: for every training doc, how many
    distinct CONTAM_NGRAM-grams it shares with the eval set (docs with
    doc_id % EVAL_MOD == 0) and how many eval docs it collides with.
    The eval side is broadcast — benchmark suites are tiny next to a
    100 TB corpus — so the probe is a broadcast equi-join on the gram
    string over one corpus scan, then a single per-doc aggregation.
    No all-pairs comparison at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    grams = (
        docs.select("doc_id", _letter_tokens().alias("_toks"))
        .select("doc_id",
                F.explode(F.array_distinct(_ngram_arr(CONTAM_NGRAM)))
                .alias("gram"))
    )
    eval_grams = (
        grams.where(F.col("doc_id") % EVAL_MOD == 0)
        .select(F.col("doc_id").alias("eval_id"), "gram")
    )
    return (
        grams.where(F.col("doc_id") % EVAL_MOD != 0)
        .join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_shared_ngrams"),
             F.countDistinct("eval_id").alias("n_eval_docs"))
    )


# --- PII redaction --------------------------------------------------------

# ASCII-explicit patterns: identical semantics under Java regex (Spark)
# and RE2 (DuckDB). r13 (VERDICT r12 ask #4): the battery real ingest
# gates carry — phone and ID-number classes beside email + IPv4. The
# four patterns are mutually non-overlapping by construction (the ID
# shape's 3-2-4 digit groups cannot embed in the phone's 1-3-3-4 run,
# and only the phone carries the leading '+'), so count and redaction
# order cannot perturb each other.
EMAIL_RE = r"[a-zA-Z0-9._]+@[a-zA-Z0-9.]+[a-zA-Z]"
IP_RE = r"[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+"
PHONE_RE = r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
ID_RE = r"[0-9]{3}-[0-9]{2}-[0-9]{4}"

# The synthetic corpus has no PII, so seed deterministic PII from
# doc_id; the scrubber then provably fires on every row (the fixture
# text itself carries no digits — measured 0 docs at all three SFs —
# so only the seeded payload can match the numeric classes). Both
# spellings (SQL text and Spark Column) live here — the ingest
# admission's clean gate (mmdedup) reuses them on its seeded subset.
_SQL_PAYLOAD = ("text || ' contact user' || doc_id || "
                "'@mail.example from 10.' || (doc_id % 200) || '.0.' || "
                "(doc_id % 250 + 1) || ' call +1-' || "
                "(doc_id % 900 + 100) || '-555-' || "
                "(doc_id % 9000 + 1000) || ' ref ' || "
                "(doc_id % 900 + 100) || '-' || (doc_id % 90 + 10) || "
                "'-' || (doc_id % 9000 + 1000)")


def pii_payload_col() -> Column:
    """Spark twin of _SQL_PAYLOAD: the document text with one seeded
    email + IPv4 + phone + ID number appended."""
    return F.concat(
        F.col("text"), F.lit(" contact user"), F.col("doc_id"),
        F.lit("@mail.example from 10."), (F.col("doc_id") % 200),
        F.lit(".0."), (F.col("doc_id") % 250 + 1),
        F.lit(" call +1-"), (F.col("doc_id") % 900 + 100),
        F.lit("-555-"), (F.col("doc_id") % 9000 + 1000),
        F.lit(" ref "), (F.col("doc_id") % 900 + 100),
        F.lit("-"), (F.col("doc_id") % 90 + 10),
        F.lit("-"), (F.col("doc_id") % 9000 + 1000))


@query(
    "pii_redact",
    oracle=f"""
    WITH seeded AS (
      SELECT doc_id, {_SQL_PAYLOAD} AS payload FROM documents),
    red AS (
      SELECT doc_id, payload,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                 payload,
                 '{EMAIL_RE}', '<EMAIL>', 'g'),
                 '{IP_RE}', '<IP>', 'g'),
                 '{PHONE_RE}', '<PHONE>', 'g'),
                 '{ID_RE}', '<ID>', 'g') AS redacted
      FROM seeded)
    SELECT doc_id,
           CAST(len(regexp_extract_all(payload, '{EMAIL_RE}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(payload, '{IP_RE}')) AS BIGINT)
             AS n_ips,
           CAST(len(regexp_extract_all(payload, '{PHONE_RE}')) AS BIGINT)
             AS n_phones,
           CAST(len(regexp_extract_all(payload, '{ID_RE}')) AS BIGINT)
             AS n_ids,
           CAST(length(payload) - length(redacted) AS BIGINT)
             AS n_chars_removed,
           md5(redacted) AS redacted_md5
    FROM red
    """,
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count and redact email addresses, IPv4s,
    phone numbers, and ID-class numbers (r13 — the four-pattern
    battery real ingest gates carry; regexp_replace →
    '<EMAIL>'/'<IP>'/'<PHONE>'/'<ID>' placeholders). Pure regex
    expressions in one projection — codegen'd, zero shuffles; the md5
    of the redacted text keeps the checked output compact while still
    pinning every redacted byte against the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.select("doc_id", pii_payload_col().alias("payload"))
    redacted = F.regexp_replace(F.regexp_replace(F.regexp_replace(
        F.regexp_replace("payload", EMAIL_RE, "<EMAIL>"),
        IP_RE, "<IP>"), PHONE_RE, "<PHONE>"), ID_RE, "<ID>")

    def n_of(pat: str, name: str):
        return (F.size(F.regexp_extract_all("payload", F.lit(pat),
                                            F.lit(0)))
                .cast("bigint").alias(name))

    return seeded.select(
        "doc_id",
        n_of(EMAIL_RE, "n_emails"),
        n_of(IP_RE, "n_ips"),
        n_of(PHONE_RE, "n_phones"),
        n_of(ID_RE, "n_ids"),
        (F.length("payload") - F.length(redacted))
        .cast("bigint").alias("n_chars_removed"),
        F.md5(redacted).alias("redacted_md5"),
    )


# --- sequence packing: fixed-token training windows -----------------------

PACK_BUDGET = 2048  # tokens per packed training sequence


@query(
    "pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             CAST(length(list_filter(regexp_split_to_array(text, '\\s+'),
                  x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents),
    cum AS (
      SELECT doc_id, source, n_tokens,
             COALESCE(SUM(n_tokens) OVER
               (PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_excl
      FROM toks)
    SELECT doc_id, source, n_tokens,
           CAST(cum_excl // {PACK_BUDGET} AS BIGINT) AS pack_id,
           CAST(cum_excl % {PACK_BUDGET} AS BIGINT) AS pack_offset
    FROM cum
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: assign each document a
    (pack_id, pack_offset) inside its source shard so the corpus
    concatenates into back-to-back {PACK_BUDGET}-token training
    sequences (documents straddle pack boundaries exactly as a
    causal-LM data loader concatenates with EOS separators — this
    computes the deterministic placement, the loader slices bytes).

    The placement is a running exclusive prefix-sum of token counts in
    a canonical order (doc_id) WITHIN each source shard — packing is
    per-shard in every real pipeline precisely so the prefix-sum never
    becomes a global sequential dependency. The window partitions by
    source and parallelizes across shards; all arithmetic is integer,
    so the oracle match is exact.

    100 TB posture: one shuffle keyed by source. Shards are bounded
    (a crawl dump, a book collection), so per-partition state is one
    running long; if a single shard were pathologically large, the
    standard fix is sub-sharding the partition key — the plan shape
    is unchanged."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    n_tok = F.size(F.filter(F.split("text", r"\s+"),
                            lambda x: x != "")).cast("bigint")
    return (
        docs.select("doc_id", "source", n_tok.alias("n_tokens"))
        .withColumn("cum_excl",
                    F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .select("doc_id", "source", "n_tokens",
                F.expr(f"cum_excl div {PACK_BUDGET}").alias("pack_id"),
                (F.col("cum_excl") % PACK_BUDGET).alias("pack_offset"))
    )


# --- per-language length-band outlier trim --------------------------------

BAND_LO, BAND_HI = 0.05, 0.95


@query(
    "length_band_filter",
    oracle=f"""
    WITH bands AS (
      SELECT lang,
             quantile_cont(n_chars, {BAND_LO}) AS lo,
             quantile_cont(n_chars, {BAND_HI}) AS hi
      FROM documents GROUP BY lang)
    SELECT d.doc_id, d.lang, d.n_chars
    FROM documents d
    JOIN bands b ON b.lang = d.lang
    WHERE d.n_chars >= b.lo AND d.n_chars <= b.hi
    """,
)
def length_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation trim: keep documents inside the [P5, P95] length band
    OF THEIR OWN LANGUAGE — absolute length cutoffs mis-trim
    high-entropy scripts (Chinese chars ≠ English chars), so every
    serious pipeline bands per language (or per source).

    Exact interpolated percentiles (Spark percentile ≡ DuckDB
    quantile_cont) keep this oracle-checkable; the band table is
    |langs| rows and broadcast back onto the corpus scan — at 100 TB
    this is one grouped-sort pass to learn the bands plus one
    broadcast-joined filter pass, and the approx_percentile swap for
    the first pass is a one-line change when exactness stops
    mattering."""
    docs = load_table(spark, sf_dir, "documents")
    bands = docs.groupBy("lang").agg(
        F.expr(f"percentile(n_chars, {BAND_LO})").alias("lo"),
        F.expr(f"percentile(n_chars, {BAND_HI})").alias("hi"))
    return (
        docs.join(F.broadcast(bands), "lang")
        .where((F.col("n_chars") >= F.col("lo"))
               & (F.col("n_chars") <= F.col("hi")))
        .select("doc_id", "lang", "n_chars")
    )


# --- composed pipeline v2: curation → pack-ready training corpus ----------

def _sql_pack_ready() -> str:
    bi = _sql_ngram_arr(2)
    return f"""
    WITH t AS (
      SELECT doc_id, source, lang, n_chars, text,
             {_LTR_TOKS_SQL} AS _toks,
             {_WS_TOKS_SQL} AS _ws
      FROM documents),
    q AS (
      SELECT doc_id, source, lang, n_chars, text,
             CAST(len(_ws) AS BIGINT) AS n_tokens
      FROM (SELECT *, len(_toks) AS nt,
                   len(list_distinct(_toks)) AS nd,
                   {bi} AS bi
            FROM t)
      WHERE (CASE WHEN len(bi) = 0 THEN 0.0
             ELSE 1.0 - CAST(len(list_distinct(bi)) AS DOUBLE) / len(bi)
             END) <= {MAX_DUP_BIGRAM_FRAC}
        AND (CASE WHEN nt = 0 THEN 0.0
             ELSE CAST(nd AS DOUBLE) / nt END) >= {MIN_TTR}),
    bands AS (
      SELECT lang,
             quantile_cont(n_chars, {BAND_LO}) AS lo,
             quantile_cont(n_chars, {BAND_HI}) AS hi
      FROM documents GROUP BY lang),
    banded AS (
      SELECT q.* FROM q JOIN bands b ON b.lang = q.lang
      WHERE q.n_chars >= b.lo AND q.n_chars <= b.hi),
    kept AS (
      SELECT * FROM (
        SELECT banded.*, MIN(doc_id) OVER (PARTITION BY
               md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))))
               AS keep_id
        FROM banded)
      WHERE doc_id = keep_id),
    cum AS (
      SELECT doc_id, source, lang, n_tokens,
             COALESCE(SUM(n_tokens) OVER
               (PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_excl
      FROM kept)
    SELECT doc_id, source, lang, n_tokens,
           CAST(cum_excl // {PACK_BUDGET} AS BIGINT) AS pack_id,
           CAST(cum_excl % {PACK_BUDGET} AS BIGINT) AS pack_offset
    FROM cum
    """


@query("pipeline_pack_ready", oracle=_sql_pack_ready())
def pipeline_pack_ready(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation pipeline v2, end to end in ONE plan: repetition-quality
    gate (Gopher rules) → per-language [P5,P95] length band → exact
    normalized dedup keep-one → per-shard sequence packing. The output
    IS the training manifest: every surviving document with its
    (pack_id, pack_offset) slot.

    Every stage is deterministic, so the four-stage composition
    hash-checks against DuckDB end to end. Exchanges: the quality gate
    fuses into the scan (array expressions, no shuffle), the band
    table is a broadcast join (|langs| rows), the keep-list is one
    fingerprint window exchange, the packing one source-shard window
    exchange, plus the tiny band aggregation itself — the plan's
    shuffle count is asserted in test_plans. At 100 TB each stage
    inherits the posture of the operator it composes
    (quality_repetition / length_band_filter / dedup_exact_norm /
    pack_sequences)."""
    from pyspark.sql import Window as W

    from mit_mapreduce_spark.catalog import fan_out

    docs = load_table(spark, sf_dir, "documents")
    # fan_out: the quality stage's array work (tokens + bigram arrays +
    # distinct) would otherwise run on ONE core — single-row-group
    # fixture scans get exactly one task (see catalog.fan_out).
    staged = fan_out(docs).select(
        "doc_id", "source", "lang", "n_chars", "text",
        _letter_tokens().alias("_toks"),
        F.size(_ws_tokens()).cast("bigint").alias("n_tokens"),
    ).select(
        "doc_id", "source", "lang", "n_chars", "text", "n_tokens",
        F.size("_toks").alias("nt"),
        F.size(F.array_distinct("_toks")).alias("nd"),
        _ngram_arr(2).alias("bi"),
    )
    n_bi = F.size("bi")
    dup_bi = (F.when(n_bi == 0, F.lit(0.0))
              .otherwise(F.lit(1.0)
                         - F.size(F.array_distinct("bi")).cast("double")
                         / n_bi))
    ttr = (F.when(F.col("nt") == 0, F.lit(0.0))
           .otherwise(F.col("nd").cast("double") / F.col("nt")))
    # Materialization barrier: predicate pushdown would inline the
    # bigram-array expressions into the Filter condition, where
    # higher-order functions run INTERPRETED — measured ~25x slower
    # than the same expressions in a codegen projection (10.2s vs
    # 0.4s for this gate at sf0.1). Compute the two scalars in a
    # projection, checkpoint, filter on plain columns.
    metrics = materialize(staged.select(
        "doc_id", "source", "lang", "n_chars", "text", "n_tokens",
        dup_bi.alias("_dup_bi"), ttr.alias("_ttr"),
    ))
    q = (metrics.where((F.col("_dup_bi") <= MAX_DUP_BIGRAM_FRAC)
                       & (F.col("_ttr") >= MIN_TTR))
         .drop("_dup_bi", "_ttr"))

    bands = docs.groupBy("lang").agg(
        F.expr(f"percentile(n_chars, {BAND_LO})").alias("lo"),
        F.expr(f"percentile(n_chars, {BAND_HI})").alias("hi"))
    banded = (
        q.join(F.broadcast(bands), "lang")
        .where((F.col("n_chars") >= F.col("lo"))
               & (F.col("n_chars") <= F.col("hi")))
    )

    fp = F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")))
    kept = (
        banded.withColumn("keep_id", F.min("doc_id").over(W.partitionBy(fp)))
        .where(F.col("doc_id") == F.col("keep_id"))
    )

    wpack = (W.partitionBy("source").orderBy("doc_id")
             .rowsBetween(W.unboundedPreceding, -1))
    return (
        kept.select("doc_id", "source", "lang", "n_tokens")
        .withColumn("cum_excl",
                    F.coalesce(F.sum("n_tokens").over(wpack), F.lit(0)))
        .select("doc_id", "source", "lang", "n_tokens",
                F.expr(f"cum_excl div {PACK_BUDGET}").alias("pack_id"),
                (F.col("cum_excl") % PACK_BUDGET).alias("pack_offset"))
    )


# --- temperature-balanced source mixture ----------------------------------

TEMP_GRID = 1_000_000   # hash-predicate resolution (1e-6 rate steps)


@query(
    "sample_temperature_mix",
    oracle=f"""
    WITH counts AS (
      SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    mn AS (SELECT MIN(n) AS n_min FROM counts),
    thr AS (
      SELECT source, n,
             CAST(floor(sqrt(CAST(n_min AS DOUBLE) / n) * {TEMP_GRID})
                  AS BIGINT) AS sample_threshold
      FROM counts, mn),
    kept AS (
      SELECT d.source, COUNT(*) AS n_kept
      FROM documents d JOIN thr t USING (source)
      WHERE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
            % {TEMP_GRID} < t.sample_threshold
      GROUP BY d.source)
    SELECT t.source, CAST(t.n AS BIGINT) AS n_docs, t.sample_threshold,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
    FROM thr t LEFT JOIN kept k USING (source)
    """,
)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-balanced source mixture (the multilingual-corpus
    rebalancing move, α = 0.5): per-source keep-rate sqrt(n_min/n_s),
    so the biggest source is downsampled hardest and the smallest is
    kept whole — flattening the source distribution toward uniform
    while preserving relative order. sqrt and one division are the
    only float ops, both IEEE-correctly-rounded in Spark and DuckDB,
    then floored onto a {TEMP_GRID}-step integer grid, so the whole
    operator — including WHICH rows are kept — is deterministic and
    hash-gated. Row selection is a hash predicate on doc_id (stable
    under reruns/retries), never rand().

    Emitted: per-source audit (n_docs, integer keep threshold,
    n_kept). The kept rows themselves are the same filter applied to
    the corpus scan — a composed pipeline reuses `thr` as a broadcast.

    100 TB posture: pass 1 is a map-side-combined count per source
    (|sources| rows); the threshold table broadcasts back onto the
    scan, so pass 2 filters in place — no shuffle of the corpus, the
    same fused-sampling shape as sample_stratified."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("n"))
    n_min = counts.agg(F.min("n").alias("n_min"))
    thr = materialize(
        counts.crossJoin(F.broadcast(n_min))
        .select(
            "source", "n",
            F.floor(F.sqrt(F.col("n_min").cast("double")
                           / F.col("n").cast("double"))
                    * TEMP_GRID).cast("bigint").alias("sample_threshold"))
        # |sources| rows feeding the filter pass AND the final audit
        # join — checkpoint so the counts pass runs once, not thrice.
    )
    from mit_mapreduce_spark.operators.dedup import hash60
    kept = (
        docs.join(F.broadcast(thr), "source")
        .where(F.pmod(hash60(F.col("doc_id").cast("string")),
                      F.lit(TEMP_GRID)) < F.col("sample_threshold"))
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"))
    )
    return (
        thr.join(kept, "source", "left")
        .select("source", F.col("n").cast("bigint").alias("n_docs"),
                "sample_threshold",
                F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"))
    )


# --- DSIR-style importance weights ----------------------------------------

DSIR_BUCKETS = 64          # hashed n-gram feature space
DSIR_SCALE = 1_000_000_000  # 1e9 integer grid for the ratio table
_DSIR_TARGET = "src0"      # stand-in "high-quality target domain"


@query(
    "importance_weights",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, unnest(
        list_filter(regexp_split_to_array(text, '[^\\p{{L}}]+'),
                    x -> x <> '')) AS w
      FROM documents),
    feats AS (
      SELECT doc_id, source,
             (('0x' || substring(md5(w), 1, 15))::BIGINT % {DSIR_BUCKETS})
               AS bucket
      FROM toks),
    corpus AS (SELECT bucket, COUNT(*) AS sc FROM feats GROUP BY bucket),
    target AS (SELECT bucket, COUNT(*) AS tc FROM feats
               WHERE source = '{_DSIR_TARGET}' GROUP BY bucket),
    totals AS (SELECT (SELECT COUNT(*) FROM feats) AS s_total,
                      (SELECT COUNT(*) FROM feats
                       WHERE source = '{_DSIR_TARGET}') AS t_total),
    ratios AS (
      SELECT c.bucket,
             CASE WHEN t_total = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(ROUND((CAST(COALESCE(t.tc, 0) AS DOUBLE)
                                   / t_total)
                        / (CAST(c.sc AS DOUBLE) / s_total)
                        * {DSIR_SCALE}) AS BIGINT) END AS r_scaled
      FROM corpus c LEFT JOIN target t USING (bucket), totals)
    SELECT f.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(r.r_scaled) AS BIGINT) AS score_scaled,
           CAST(SUM(r.r_scaled) AS DOUBLE) / {DSIR_SCALE} / COUNT(*)
             AS importance
    FROM feats f JOIN ratios r USING (bucket)
    GROUP BY f.doc_id
    """,
)
def importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting (Xie et al. 2023, 'Data
    Selection for LMs via Importance Resampling'): score every
    document by how much its hashed-token feature distribution looks
    like a TARGET domain relative to the whole corpus — the data-
    selection move that upsamples quality-domain-like text without a
    trained classifier. Here the target is the '{_DSIR_TARGET}' source
    slice (a stand-in for e.g. a curated reference corpus); features
    are tokens hashed into {DSIR_BUCKETS} buckets; a doc's weight is
    the mean per-token likelihood ratio (target freq / corpus freq).

    Determinism: the per-bucket ratio is computed ONCE (identical IEEE
    expression both engines), rounded onto a {DSIR_SCALE} integer
    grid; per-doc scores are then INTEGER sums of grid ratios —
    exact under any aggregation order — with a single pinned division
    at the end. Fully hash-gated, unlike a log-likelihood formulation
    (ln is not bit-stable cross-engine).

    100 TB posture: the ratio table is {DSIR_BUCKETS} rows —
    broadcast; scoring is one map-side-combined agg keyed doc_id over
    the token stream. Building the corpus/target histograms is one
    shared scan. Resampling afterwards composes with
    sample_temperature_mix's hash-predicate machinery."""
    from mit_mapreduce_spark.operators.dedup import hash60

    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", r"[^\p{L}]+"), lambda x: x != "")
    from mit_mapreduce_spark.catalog import fan_out
    feats = materialize(
        fan_out(docs.select("doc_id", "source", "text"))
        .select("doc_id", "source", F.explode(toks).alias("w"))
        .select("doc_id", "source",
                F.pmod(hash60(F.col("w")), F.lit(DSIR_BUCKETS))
                .alias("bucket"))
        # one token scan feeds corpus histogram, target histogram, and
        # the final per-doc scoring pass
    )
    corpus = feats.groupBy("bucket").agg(F.count("*").alias("sc"))
    target = (feats.where(F.col("source") == _DSIR_TARGET)
              .groupBy("bucket").agg(F.count("*").alias("tc")))
    totals = feats.agg(
        F.count("*").alias("s_total"),
        F.sum((F.col("source") == _DSIR_TARGET).cast("long"))
        .alias("t_total"))
    ratios = (
        corpus.join(target, "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            # empty target domain ⇒ nothing resembles it: ratio 0 (the
            # fuzz-found ANSI DIVIDE_BY_ZERO guard, mirrored in SQL)
            F.when(F.col("t_total") == 0, F.lit(0).cast("bigint"))
            .otherwise(
                F.round((F.coalesce("tc", F.lit(0)).cast("double")
                         / F.col("t_total").cast("double"))
                        / (F.col("sc").cast("double")
                           / F.col("s_total").cast("double"))
                        * DSIR_SCALE).cast("bigint")).alias("r_scaled"))
    )
    return (
        feats.join(F.broadcast(ratios), "bucket")
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_tokens"),
             F.sum("r_scaled").cast("bigint").alias("score_scaled"))
        .select("doc_id", "n_tokens", "score_scaled",
                (F.col("score_scaled").cast("double") / DSIR_SCALE
                 / F.col("n_tokens").cast("double")).alias("importance"))
    )


# --- full Gopher rule battery ---------------------------------------------

# Document-level quality rules from Gopher (Rae et al. 2021, §A1.1),
# adapted to this corpus's scale. quality_repetition covers the
# repetition family (dup-n-gram fractions, TTR); these are the
# remaining structural rules. Numeric thresholds are the published
# ones. The stopword LIST is the rule's language/register parameter
# (Gopher's English default is the/be/to/of/and/that/have/with); this
# corpus is synthetic query-planner prose whose only function words
# are "a"/"the", so the list is set to function-word-like terms of
# that register — the ≥2-distinct-hits RULE is unchanged, and on this
# corpus it discriminates instead of rejecting everything.
G_MIN_WORDS = 50
G_MAX_WORDS = 100_000
G_MIN_WLEN = 3.0
G_MAX_WLEN = 10.0
G_MAX_SYM_RATIO = 0.1     # symbols per word
G_MIN_ALPHA_FRAC = 0.80   # words containing >= 1 letter
G_MIN_STOP_HITS = 2       # distinct stopwords present

_G_STOP = ("the", "a", "of", "and", "to", "in", "is", "with")
_G_STOP_SQL = ", ".join(f"'{w}'" for w in _G_STOP)


@query(
    "gopher_quality_rules",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, {_WS_TOKS_SQL} AS w FROM documents),
    m AS (
      SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_words,
             CASE WHEN len(w) = 0 THEN 0.0
                  ELSE CAST(list_sum(list_transform(w, x -> length(x)))
                            AS DOUBLE) / len(w) END AS mean_wlen,
             CASE WHEN len(w) = 0 THEN 0.0
                  ELSE CAST(length(regexp_replace(text, '[\\p{{L}}\\s]+',
                                                  '', 'g'))
                            AS DOUBLE) / len(w) END AS sym_ratio,
             CASE WHEN len(w) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(w,
                         x -> regexp_matches(x, '\\p{{L}}')))
                            AS DOUBLE) / len(w) END AS alpha_frac,
             CAST(len(list_intersect(list_transform(w, x -> lower(x)),
                                     [{_G_STOP_SQL}])) AS BIGINT)
               AS n_stop_hits
      FROM t)
    SELECT doc_id, n_words,
           CAST(mean_wlen AS DOUBLE) AS mean_wlen,
           CAST(sym_ratio AS DOUBLE) AS sym_ratio,
           CAST(alpha_frac AS DOUBLE) AS alpha_frac,
           n_stop_hits,
           n_words BETWEEN {G_MIN_WORDS} AND {G_MAX_WORDS} AS r_words,
           mean_wlen BETWEEN {G_MIN_WLEN} AND {G_MAX_WLEN} AS r_wlen,
           sym_ratio <= {G_MAX_SYM_RATIO} AS r_sym,
           alpha_frac >= {G_MIN_ALPHA_FRAC} AS r_alpha,
           n_stop_hits >= {G_MIN_STOP_HITS} AS r_stop,
           (n_words BETWEEN {G_MIN_WORDS} AND {G_MAX_WORDS})
             AND (mean_wlen BETWEEN {G_MIN_WLEN} AND {G_MAX_WLEN})
             AND sym_ratio <= {G_MAX_SYM_RATIO}
             AND alpha_frac >= {G_MIN_ALPHA_FRAC}
             AND n_stop_hits >= {G_MIN_STOP_HITS} AS passes
    FROM m
    """,
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural Gopher quality rules per document: word-count bounds,
    mean-word-length bounds, symbol-to-word ratio, alphabetic-word
    fraction, and distinct-stopword presence, with one flag per rule
    plus the combined verdict.

    Complements ``quality_repetition`` (the repetition family of the
    same paper). All signals are array expressions over the
    whitespace-token array of a single scan — zero shuffles, zero
    explodes, so the full battery costs one pass over the corpus at
    any scale and the filter it feeds is embarrassingly parallel."""
    return gopher_quality_rules_from(load_table(spark, sf_dir, "documents"))


def gopher_quality_rules_from(docs: DataFrame) -> DataFrame:
    """The Gopher battery over any (doc_id, text) frame — batch
    (above) or a document stream (stream_gopher_rules, r14): a
    stateless projection, so the identical column expressions run
    per micro-batch with zero streaming state."""
    staged = docs.select("doc_id", "text", _ws_tokens().alias("w"))
    n_words = F.size("w")
    wlen_sum = F.aggregate(
        F.transform(F.col("w"), F.length), F.lit(0), lambda a, x: a + x)
    n_sym = F.length(F.regexp_replace("text", r"[\p{L}\s]+", ""))
    n_alpha = F.size(F.filter(F.col("w"), lambda x: x.rlike(r"\p{L}")))
    mean_wlen = (F.when(n_words == 0, F.lit(0.0))
                 .otherwise(wlen_sum.cast("double") / n_words))
    sym_ratio = (F.when(n_words == 0, F.lit(0.0))
                 .otherwise(n_sym.cast("double") / n_words))
    alpha_frac = (F.when(n_words == 0, F.lit(0.0))
                  .otherwise(n_alpha.cast("double") / n_words))
    n_stop_hits = F.size(F.array_intersect(
        F.transform(F.col("w"), F.lower),
        F.array(*[F.lit(s) for s in _G_STOP])))
    m = staged.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        mean_wlen.cast("double").alias("mean_wlen"),
        sym_ratio.cast("double").alias("sym_ratio"),
        alpha_frac.cast("double").alias("alpha_frac"),
        n_stop_hits.cast("bigint").alias("n_stop_hits"),
    )
    r_words = F.col("n_words").between(G_MIN_WORDS, G_MAX_WORDS)
    r_wlen = F.col("mean_wlen").between(G_MIN_WLEN, G_MAX_WLEN)
    r_sym = F.col("sym_ratio") <= G_MAX_SYM_RATIO
    r_alpha = F.col("alpha_frac") >= G_MIN_ALPHA_FRAC
    r_stop = F.col("n_stop_hits") >= G_MIN_STOP_HITS
    return m.select(
        "doc_id", "n_words", "mean_wlen", "sym_ratio", "alpha_frac",
        "n_stop_hits",
        r_words.alias("r_words"), r_wlen.alias("r_wlen"),
        r_sym.alias("r_sym"), r_alpha.alias("r_alpha"),
        r_stop.alias("r_stop"),
        (r_words & r_wlen & r_sym & r_alpha & r_stop).alias("passes"),
    )


# --- staged quality funnel -------------------------------------------------

FUNNEL_MAX_NOVELTY = 0.5   # singleton-bigram fraction above this = gibberish


def _sql_funnel_verdicts() -> str:
    """CTE chain text (gm..lm, fdoc): the per-doc three-stage quality
    verdicts fdoc(doc_id, g, r, l) — factored out of the
    quality_funnel oracle (r10) so the cross-modality manifest oracle
    (mmdedup.pipeline_multimodal_manifest) composes the IDENTICAL
    quality semantics instead of a hand-synced copy."""
    return f"""gm AS (
      SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_words,
             CASE WHEN len(w) = 0 THEN 0.0
                  ELSE CAST(list_sum(list_transform(w, x -> length(x)))
                            AS DOUBLE) / len(w) END AS mean_wlen,
             CASE WHEN len(w) = 0 THEN 0.0
                  ELSE CAST(length(regexp_replace(text, '[\\p{{L}}\\s]+',
                                                  '', 'g'))
                            AS DOUBLE) / len(w) END AS sym_ratio,
             CASE WHEN len(w) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(w,
                         x -> regexp_matches(x, '\\p{{L}}')))
                            AS DOUBLE) / len(w) END AS alpha_frac,
             CAST(len(list_intersect(list_transform(w, x -> lower(x)),
                                     [{_G_STOP_SQL}])) AS BIGINT)
               AS n_stop_hits
      FROM (SELECT doc_id, text, {_WS_TOKS_SQL} AS w FROM documents)),
    gop AS (
      SELECT doc_id,
             (n_words BETWEEN {G_MIN_WORDS} AND {G_MAX_WORDS})
               AND (mean_wlen BETWEEN {G_MIN_WLEN} AND {G_MAX_WLEN})
               AND sym_ratio <= {G_MAX_SYM_RATIO}
               AND alpha_frac >= {G_MIN_ALPHA_FRAC}
               AND n_stop_hits >= {G_MIN_STOP_HITS} AS g
      FROM gm),
    rg AS (
      SELECT doc_id,
             CAST(len(_toks) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(_toks)) AS BIGINT) AS n_distinct,
             {_sql_ngram_arr(2)} AS bi
      FROM (SELECT doc_id, {_LTR_TOKS_SQL} AS _toks FROM documents)),
    rep AS (
      SELECT doc_id,
             (CASE WHEN len(bi) = 0 THEN 0.0
                   ELSE 1.0 - CAST(len(list_distinct(bi)) AS DOUBLE) / len(bi)
                   END) <= {MAX_DUP_BIGRAM_FRAC}
               AND (CASE WHEN n_tokens = 0 THEN 0.0
                    ELSE CAST(n_distinct AS DOUBLE) / n_tokens END)
                 >= {MIN_TTR} AS r
      FROM rg),
    bg AS (
      SELECT DISTINCT doc_id, arr[i] || ' ' || arr[i+1] AS bg
      FROM (SELECT doc_id, generate_subscripts(arr, 1) AS i, arr
            FROM (SELECT doc_id, {_LTR_TOKS_SQL} AS arr FROM documents))
      WHERE i + 1 <= length(arr)),
    dfreq AS (SELECT bg, COUNT(*) AS df FROM bg GROUP BY bg),
    lm AS (
      SELECT b.doc_id,
             CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS novelty
      FROM bg b JOIN dfreq d USING (bg)
      GROUP BY b.doc_id),
    fdoc AS (
      SELECT d.doc_id, gop.g, rep.r,
             lm.novelty IS NOT NULL
               AND lm.novelty <= {FUNNEL_MAX_NOVELTY} AS l
      FROM documents d
      JOIN gop ON gop.doc_id = d.doc_id
      JOIN rep ON rep.doc_id = d.doc_id
      LEFT JOIN lm ON lm.doc_id = d.doc_id)"""


@query(
    "quality_funnel",
    oracle=f"""
    WITH {_sql_funnel_verdicts()},
    f AS (
      SELECT d.source, fd.g, fd.r, fd.l
      FROM documents d JOIN fdoc fd ON fd.doc_id = d.doc_id)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN NOT g THEN 1 ELSE 0 END) AS BIGINT)
             AS n_fail_gopher,
           CAST(SUM(CASE WHEN g AND NOT r THEN 1 ELSE 0 END) AS BIGINT)
             AS n_fail_repetition,
           CAST(SUM(CASE WHEN g AND r AND NOT l THEN 1 ELSE 0 END)
                AS BIGINT) AS n_fail_lm,
           CAST(SUM(CASE WHEN g AND r AND l THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pass,
           CAST(CAST(SUM(CASE WHEN g AND r AND l THEN 1 ELSE 0 END)
                     AS DOUBLE) / COUNT(*) AS DOUBLE) AS pass_rate
    FROM f GROUP BY source
    """,
)
def quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality-filter FUNNEL: run the three document filters in
    their production order — Gopher structural rules, then repetition
    rules, then the corpus-LM novelty cut — and attribute every
    dropped document to the FIRST stage that rejected it, per source.
    This is the report a curation run publishes ("source X loses 40%
    at the repetition stage"), and the stage ordering matters: a doc
    failing both stages counts against the earlier, cheaper one.

    Pure composition: the stage verdicts come from
    ``gopher_quality_rules``, ``quality_repetition`` (this module) and
    ``quality_lm_bigram`` (textstats), joined on doc_id — three
    single-scan/one-join operators plus one aggregation, so the funnel
    costs no more than its stages. Documents too short to have bigrams
    never reach the LM stage (they fail Gopher's word floor), but the
    LEFT-join NULL is still defined as an LM fail on both engines."""
    from mit_mapreduce_spark.operators.textstats import quality_lm_bigram

    docs = load_table(spark, sf_dir, "documents")
    g = (gopher_quality_rules(spark, sf_dir)
         .select("doc_id", F.col("passes").alias("g")))
    r = (quality_repetition(spark, sf_dir)
         .select("doc_id", F.col("passes").alias("r")))
    lm = (quality_lm_bigram(spark, sf_dir)
          .select("doc_id", "novelty"))
    f = (
        docs.select("doc_id", "source")
        .join(g, "doc_id").join(r, "doc_id").join(lm, "doc_id", "left")
        .select(
            "source", "g", "r",
            (F.col("novelty").isNotNull()
             & (F.col("novelty") <= FUNNEL_MAX_NOVELTY)).alias("l"))
    )
    n_pass = F.sum((F.col("g") & F.col("r") & F.col("l")).cast("long"))
    return (
        f.groupBy("source")
        .agg(F.count("*").cast("bigint").alias("n_docs"),
             F.sum((~F.col("g")).cast("long")).cast("bigint")
             .alias("n_fail_gopher"),
             F.sum((F.col("g") & ~F.col("r")).cast("long")).cast("bigint")
             .alias("n_fail_repetition"),
             F.sum((F.col("g") & F.col("r") & ~F.col("l")).cast("long"))
             .cast("bigint").alias("n_fail_lm"),
             n_pass.cast("bigint").alias("n_pass"),
             (n_pass.cast("double") / F.count("*")).cast("double")
             .alias("pass_rate"))
    )


# --- deterministic dataset split ------------------------------------------

SPLIT_SALT = "split#1"
SPLIT_VAL_BPS = 100    # 1% validation
SPLIT_TEST_BPS = 100   # 1% test; remainder = train


def _sql_split_hash() -> str:
    from mit_mapreduce_spark.operators.dedup import _sql_hash60

    return _sql_hash60(f"'{SPLIT_SALT}' || doc_id::VARCHAR")


@query(
    "dataset_split",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, source,
             {_sql_split_hash()} % 10000 AS bucket,
             CAST(len({_LTR_TOKS_SQL}) AS BIGINT) AS n_toks
      FROM documents),
    tagged AS (
      SELECT source,
             CASE WHEN bucket < {SPLIT_VAL_BPS} THEN 'val'
                  WHEN bucket < {SPLIT_VAL_BPS + SPLIT_TEST_BPS} THEN 'test'
                  ELSE 'train' END AS split,
             n_toks
      FROM h)
    SELECT source, split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens
    FROM tagged GROUP BY source, split
    """,
)
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment: each document's split
    is a pure hash of (salt, doc_id) — {val}bps validation, {test}bps
    test, remainder train — reported as per-(source, split) doc and
    token counts. The properties that matter at 100 TB: membership is
    a scan-fused filter (no shuffle, no RNG state), the SAME document
    lands in the SAME split on every run, engine, and parallelism
    (speculative re-execution cannot flip a doc from train to test —
    the silent eval-leak rand()-splits are prone to), and changing the
    salt is an explicit, versioned re-split.

    Composes with decontamination (`contamination_ngrams`) and the
    pack/mix pipeline: filter `split = 'train'` rides the same scan."""
    from mit_mapreduce_spark.catalog import fan_out
    from mit_mapreduce_spark.operators.dedup import hash60

    docs = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(
        hash60(F.concat(F.lit(SPLIT_SALT), F.col("doc_id").cast("string"))),
        F.lit(10_000))
    split = (F.when(bucket < SPLIT_VAL_BPS, "val")
             .when(bucket < SPLIT_VAL_BPS + SPLIT_TEST_BPS, "test")
             .otherwise("train"))
    return (
        fan_out(docs)
        .select("source", split.alias("split"),
                F.size(_letter_tokens()).cast("bigint").alias("n_toks"))
        .groupBy("source", "split")
        .agg(F.count("*").cast("bigint").alias("n_docs"),
             F.sum("n_toks").cast("bigint").alias("n_tokens"))
    )


# --- group-aware k-fold: leakage-proof cross-validation splits -------------

KFOLD_K = 5
KFOLD_SALT = "kf#1"


@query(
    "group_aware_kfold",
    oracle=f"""
    WITH g AS (
      SELECT doc_id,
             md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
             CAST(len({_LTR_TOKS_SQL}) AS BIGINT) AS n_toks
      FROM documents),
    f AS (
      SELECT fp, n_toks,
             CAST({{h}} % {KFOLD_K} AS BIGINT) AS fold
      FROM g)
    SELECT fold,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_groups,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens
    FROM f GROUP BY fold
    """.replace("{h}", "('0x' || substring(md5('" + KFOLD_SALT
                + "' || fp), 1, 15))::BIGINT"),
)
def group_aware_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-aware k-fold assignment: the fold is a hash of the
    document's normalized-content FINGERPRINT, not its id — so every
    exact/whitespace-case duplicate of a document lands in the SAME
    fold by construction. This is the leakage guard naive k-fold
    lacks: with id-hashed folds, near-duplicate pairs straddle the
    train/eval boundary and the model is graded on its own training
    data (the cross-validation analogue of the train/test
    contamination `contamination_ngrams` screens for).

    Same 100 TB posture as `dataset_split`: membership is a pure
    scan-fused expression (no RNG state, no shuffle to assign;
    speculative re-execution cannot flip a fold), one aggregation
    shuffle for the report. Group granularity upgrades cleanly: swap
    the exact fingerprint for a MinHash-cluster id (`dedup_clusters`)
    and folds become near-dup-leak-proof with the identical plan."""
    from mit_mapreduce_spark.catalog import fan_out
    from mit_mapreduce_spark.operators.dedup import hash60

    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")),
                                        r"\s+", " ")))
    fold = F.pmod(hash60(F.concat(F.lit(KFOLD_SALT), fp)),
                  F.lit(KFOLD_K)).cast("bigint")
    return (
        fan_out(docs)
        .select(fold.alias("fold"), fp.alias("_fp"),
                F.size(_letter_tokens()).cast("bigint").alias("n_toks"))
        .groupBy("fold")
        .agg(F.count("*").cast("bigint").alias("n_docs"),
             F.countDistinct("_fp").cast("bigint").alias("n_groups"),
             F.sum("n_toks").cast("bigint").alias("n_tokens"))
    )


# --- packing efficiency audit ----------------------------------------------

def _sql_pack_eff() -> str:
    from mit_mapreduce_spark.operators.registry import ORACLES

    return f"""
    WITH pk AS ({ORACLES['pack_sequences']})
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST((SUM(n_tokens) + {PACK_BUDGET - 1}) // {PACK_BUDGET}
                AS BIGINT) AS n_packs,
           CAST((SUM(n_tokens) + {PACK_BUDGET - 1}) // {PACK_BUDGET}
                * {PACK_BUDGET} - SUM(n_tokens) AS BIGINT) AS tail_waste,
           CAST(SUM(CASE WHEN pack_offset + n_tokens > {PACK_BUDGET}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers,
           CAST(MAX(n_tokens) AS BIGINT) AS max_doc_tokens
    FROM pk GROUP BY source
    """


@query("pack_efficiency_report", oracle=_sql_pack_eff())
def pack_efficiency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing audit over `pack_sequences`' placement: per source
    shard — docs, tokens, packs consumed, tail waste (padding tokens
    in the final partial pack), boundary STRADDLERS (documents split
    across two training sequences — the rows that lose cross-boundary
    attention and the metric packing curricula minimize), and the
    largest document (a doc > budget necessarily straddles).

    Composes the certified placement with one per-source aggregation;
    arithmetic is all-integer so the report sits under the exact hash
    gate. At 100 TB this is the pre-flight a training launch runs to
    size its dataloader: same single source-shard window shuffle as
    pack_sequences plus a map-side-combined rollup."""
    placed = pack_sequences(spark, sf_dir)
    return (
        placed.groupBy("source")
        .agg(F.count("*").cast("bigint").alias("n_docs"),
             F.sum("n_tokens").cast("bigint").alias("n_tokens"),
             F.ceil(F.sum("n_tokens") / PACK_BUDGET).cast("bigint")
             .alias("n_packs"),
             (F.ceil(F.sum("n_tokens") / PACK_BUDGET) * PACK_BUDGET
              - F.sum("n_tokens")).cast("bigint").alias("tail_waste"),
             F.sum(F.when(F.col("pack_offset") + F.col("n_tokens")
                          > PACK_BUDGET, 1).otherwise(0))
             .cast("bigint").alias("n_straddlers"),
             F.max("n_tokens").cast("bigint").alias("max_doc_tokens"))
    )


# --- RAG chunk retrieval: sparse inverted-index search over chunks ----------

RAG_QUERY_MOD = 100   # doc_id % MOD == 0 pre-filters query candidates
RAG_N_QUERIES = 64    # constant query budget (ORDER BY doc_id LIMIT)
RAG_TOP_K = 3
RAG_DIM = 4096        # hashing dims — high enough that the (chunk, dim)
                      # postings are genuinely sparse (chunks have ~40
                      # tokens, so ≤ ~40 of 4096 dims populated) and the
                      # dim equi-join behaves like a posting-list index
RAG_Q_TOP_DIMS = 64   # impact pruning, query side: each query keeps its
                      # top-m dims by |val| (ties → lower dim), so long
                      # query docs can never blow up the join; short
                      # queries (< m populated dims) are untouched
RAG_IDF_GRID = 1000   # idf weight micro-grid: the hashed vectors are
                      # non-negative tf-idf (idf over the CHUNK corpus,
                      # +1-smoothed, snapped to this integer grid — the
                      # bm25 quantized-ln discipline). Weights are
                      # UNSIGNED by design: signed-hash dots are
                      # non-monotone under any posting truncation
                      # (dropping a negative product can inflate a
                      # score), which is why real posting-list engines
                      # are non-negative; the sign trick's collision
                      # unbiasing matters at low dims, and at
                      # {RAG_DIM} dims vs ~40-token chunks collisions
                      # are rare. OOV query words get the max (df=0)
                      # idf.
RAG_POSTING_TOP = 256 # per-dim impact-truncation depth for the PRUNED
                      # VARIANT (top-M chunk postings per dim by |val|
                      # desc, id — Anh & Moffat impact ordering). NOT
                      # the registered semantics: the candidate bound
                      # it buys (|Q| x m x M constant; measured 7.68M
                      # -> 298k matched postings at sf0.1, 26x) costs
                      # recall@3 vs exact of 3/150 on this corpus
                      # (bulk-common-vocabulary neighbors — the
                      # pruning-adversarial case), so the registered
                      # rag_chunk_retrieval serves the EXACT index and
                      # this depth sets the pruned index that
                      # retrieval_pruning_recall's audit pass scores.

def _rag_bucket(c):
    """Feature-hash dimension for a token column: pmod(hash60, RAG_DIM).
    ONE definition (r8 review: the corpus index and the query side each
    had a verbatim copy — they must bucket identically or retrieval
    silently scores against the wrong dims)."""
    from mit_mapreduce_spark.operators.dedup import hash60

    return F.pmod(hash60(c), F.lit(RAG_DIM))


def _sql_rag(posting_top: int | None = None,
             q_top_dims: int | None = None) -> str:
    """RAG oracle; ``None`` means the default pruned-TWIN depths
    (RAG_POSTING_TOP / RAG_Q_TOP_DIMS — NOT the registered semantics),
    an explicit value overrides, and 0 disables that pruning (the
    EXACT index — what `rag_chunk_retrieval` actually registers, and
    retrieval_pruning_recall's ground truth)."""
    from mit_mapreduce_spark.operators.dedup import _sql_hash60
    from mit_mapreduce_spark.operators.registry import ORACLES

    ptop = RAG_POSTING_TOP if posting_top is None else posting_top
    qtop = RAG_Q_TOP_DIMS if q_top_dims is None else q_top_dims
    bucket = f"{_sql_hash60('w')} % {RAG_DIM}"
    csparse = (
        "SELECT cdoc, chunk_id, dim, val FROM csparse_all"
        if ptop == 0 else f"""
      SELECT cdoc, chunk_id, dim, val FROM (
        SELECT cdoc, chunk_id, dim, val,
               row_number() OVER (PARTITION BY dim
                 ORDER BY abs(val) DESC, cdoc, chunk_id) AS r
        FROM csparse_all WHERE val <> 0)
      WHERE r <= {ptop}""")
    qsparse = (
        "SELECT qid, dim, val FROM qsparse_all"
        if qtop == 0 else f"""
      SELECT qid, dim, val FROM (
        SELECT qid, dim, val, row_number() OVER (PARTITION BY qid
                 ORDER BY abs(val) DESC, dim) AS r
        FROM qsparse_all WHERE val <> 0)
      WHERE r <= {qtop}""")
    return f"""
    WITH ch AS ({ORACLES['chunk_documents']}),
    ctoks AS (
      SELECT doc_id AS cdoc, chunk_id,
             unnest(regexp_split_to_array(chunk_text, ' ')) AS w
      FROM ch WHERE chunk_text <> ''),
    nch AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_chunks
      FROM ch WHERE chunk_text <> ''),
    cdf AS (
      SELECT w, CAST(COUNT(DISTINCT (cdoc, chunk_id)) AS BIGINT) AS df
      FROM ctoks GROUP BY w),
    cidf AS (
      SELECT w, CAST(round(ln((CAST(n_chunks AS DOUBLE) + 1.0)
                              / (df + 1.0)) * {RAG_IDF_GRID})
                     AS BIGINT) + 1 AS idf_i
      FROM cdf CROSS JOIN nch),
    oov AS (
      SELECT CAST(round(ln(CAST(n_chunks AS DOUBLE) + 1.0)
                        * {RAG_IDF_GRID}) AS BIGINT) + 1 AS idf_i
      FROM nch),
    csparse_all AS (
      SELECT cdoc, chunk_id, {bucket} AS dim,
             CAST(SUM(ci.idf_i) AS BIGINT) AS val
      FROM ctoks JOIN cidf ci USING (w)
      GROUP BY cdoc, chunk_id, dim),
    cnorm AS (
      SELECT cdoc, chunk_id, CAST(SUM(val * val) AS BIGINT) AS cn
      FROM csparse_all GROUP BY cdoc, chunk_id),
    csparse AS ({csparse}),
    qids AS (
      SELECT doc_id FROM documents WHERE doc_id % {RAG_QUERY_MOD} = 0
      ORDER BY doc_id LIMIT {RAG_N_QUERIES}),
    qtoks AS (
      SELECT doc_id AS qid, unnest({_WS_TOKS_SQL}) AS w
      FROM documents WHERE doc_id IN (SELECT doc_id FROM qids)),
    qsparse_all AS (
      SELECT qid, {bucket} AS dim,
             CAST(SUM(COALESCE(ci.idf_i, oov.idf_i))
                  AS BIGINT) AS val
      FROM qtoks LEFT JOIN cidf ci USING (w) CROSS JOIN oov
      GROUP BY qid, dim),
    qsparse AS ({qsparse}),
    qnorm AS (
      SELECT qid, CAST(SUM(val * val) AS BIGINT) AS qn
      FROM qsparse GROUP BY qid),
    dots AS (
      SELECT q.qid, c.cdoc, c.chunk_id,
             CAST(SUM(q.val * c.val) AS BIGINT) AS dot
      FROM qsparse q JOIN csparse c ON c.dim = q.dim
      WHERE c.cdoc <> q.qid
      GROUP BY q.qid, c.cdoc, c.chunk_id),
    scored AS (
      SELECT d.qid, d.cdoc, d.chunk_id, d.dot,
             CAST(d.dot AS DOUBLE)
               / (sqrt(CAST(qn.qn AS DOUBLE)) * sqrt(CAST(cn.cn AS DOUBLE)))
               AS cosine
      FROM dots d
      JOIN qnorm qn ON qn.qid = d.qid AND qn.qn > 0
      JOIN cnorm cn ON cn.cdoc = d.cdoc AND cn.chunk_id = d.chunk_id
                    AND cn.cn > 0)
    SELECT qid, cdoc, chunk_id, dot, cosine, CAST(rnk AS INT) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY qid
               ORDER BY cosine DESC, cdoc, chunk_id) AS rnk
          FROM scored)
    WHERE rnk <= {RAG_TOP_K}
    """


@query("rag_chunk_retrieval", oracle=_sql_rag(posting_top=0))
def rag_chunk_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG data-prep retrieval: chunk the corpus (`chunk_documents`
    windows), embed every chunk AND every query document as hashed
    tf-idf vectors (non-negative integer counts weighted by a
    quantized chunk-corpus idf — see RAG_IDF_GRID; exact integers
    throughout), and return each query's top-{RAG_TOP_K}
    most-cosine-similar chunks from OTHER documents. This is the
    chunk-level retrieval index a RAG pipeline builds, expressed end
    to end in one plan.

    The plan shape: vectors stay SPARSE as (key, dim, val) postings —
    {RAG_DIM} hashing dims against ~40-token chunks means each chunk
    populates ≲1% of dims, so the query⋈chunk dim equi-join is a true
    inverted-index/posting-list match, never a dense all-pairs cross
    join; dot products are one integer aggregation over matched
    postings. The query set is a CONSTANT budget — `% {RAG_QUERY_MOD}`
    pre-filter then ORDER BY doc_id LIMIT {RAG_N_QUERIES} in BOTH
    engines — so the broadcast query postings are bounded at any
    corpus size, never corpus-proportional; each query additionally
    keeps only its top-{RAG_Q_TOP_DIMS} dims by |val| (the pruned
    vector IS the query, SPLADE-style — a no-op for short docs,
    a hard bound for long ones). Candidate volume is therefore
    Σ_dim |q_dim|·|c_dim| with a constant query factor: LINEAR in the
    corpus, the same complexity class as the documented exact-rerank
    scan.

    Registered semantics are the EXACT posting lists. Per-dim impact
    truncation (RAG_POSTING_TOP) was implemented and MEASURED by
    `retrieval_pruning_recall`: on this synthetic corpus recall@3 vs
    exact collapses (3/150 at sf0.1) because top neighbors here share
    bulk common vocabulary — cosine's l2 normalization rewards exactly
    the mass truncation drops, and signed-hash variants are worse
    (truncation becomes non-monotone). The pruned index is scored by
    the same pass in audit mode (`_rag_ranked(…, audit=True)`) and
    kept honest by the registered recall harness. Zero-norm
    chunks/queries are excluded on both engines (the cosine-tier
    contract)."""
    return _rag_ranked(spark, sf_dir, audit=False)


def _rag_corpus(spark: SparkSession, sf_dir: str
                ) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Staged RAG corpus index — (nch, cidf, csparse, cnorm): the
    chunk+tokenize+idf-weight+posting-aggregate pipeline that every
    rag run needs before any pruning is applied. cidf/csparse are
    localCheckpoint'ed because each has two readers: cidf weights both
    the chunk postings and the query side, and csparse feeds both the
    chunk norms and the dim join."""
    ch = chunk_documents(spark, sf_dir)
    bucket = _rag_bucket
    ctoks = (
        ch.where(F.col("chunk_text") != "")
        .select(F.col("doc_id").alias("cdoc"), "chunk_id",
                F.explode(F.split("chunk_text", " ")).alias("w"))
    )
    # tf-idf weighting (see RAG_IDF_GRID): chunk-corpus df per word,
    # +1-smoothed idf on an integer grid, broadcast-joined onto the
    # token stream; the vocabulary-sized cidf table is the only state
    nch = (ch.where(F.col("chunk_text") != "")
           .agg(F.count("*").cast("bigint").alias("n_chunks")))
    cdf = (ctoks.groupBy("w")
           .agg(F.countDistinct("cdoc", "chunk_id").cast("bigint")
                .alias("df")))
    idf_expr = (F.round(F.log((F.col("n_chunks").cast("double") + 1.0)
                              / (F.col("df") + 1.0)) * RAG_IDF_GRID)
                .cast("bigint") + 1)
    cidf = materialize(cdf.crossJoin(F.broadcast(nch))
                       .select("w", idf_expr.alias("idf_i")))
    csparse = materialize(
        ctoks.join(cidf, "w")
        .select("cdoc", "chunk_id", bucket(F.col("w")).alias("dim"),
                F.col("idf_i").alias("s"))
        .groupBy("cdoc", "chunk_id", "dim")
        .agg(F.sum("s").cast("bigint").alias("val"))
    )
    cnorm = (csparse.groupBy("cdoc", "chunk_id")
             .agg(F.sum(F.col("val") * F.col("val")).cast("bigint")
                  .alias("cn")))
    return nch, cidf, csparse, cnorm


def _rag_ranked(spark: SparkSession, sf_dir: str,
                audit: bool) -> DataFrame:
    """The RAG leg's one scoring pass. Serving (``audit=False``) keeps
    each query's top-RAG_Q_TOP_DIMS dims (the pruned vector IS the
    query, so its norm sums only those dims) over the exact posting
    lists, and returns rag_chunk_retrieval's rows. Audit keeps every
    query dim and flags both sides with their impact verdicts — query
    dims by the top-RAG_Q_TOP_DIMS window, chunk postings by the
    per-dim top-RAG_POSTING_TOP window (|val| desc, id; Anh & Moffat
    impact ordering) — so one dim join yields the exact index's dot
    (all dims) and the pruned index's dot (doubly kept matches) and
    ``_top_k`` ranks both (r15: one 12.7 M-row posting join at sf0.1
    instead of one per variant). Chunk norms are exact in both
    indexes; the pruned query norm sums only the kept dims."""
    from pyspark.sql import Window as W

    from mit_mapreduce_spark.operators.textstats import _sparse_dot, _top_k

    nch, cidf, csparse, cnorm = _rag_corpus(spark, sf_dir)
    oov_idf = (F.round(F.log(F.col("n_chunks").cast("double") + 1.0)
                       * RAG_IDF_GRID).cast("bigint") + 1)
    docs = load_table(spark, sf_dir, "documents")
    qids = (docs.where(F.col("doc_id") % RAG_QUERY_MOD == 0)
            .orderBy("doc_id").limit(RAG_N_QUERIES).select("doc_id"))
    qsparse = (
        docs.join(F.broadcast(qids), "doc_id")
        .select(F.col("doc_id").alias("qid"),
                F.explode(_ws_tokens()).alias("w"))
        .join(F.broadcast(cidf), "w", "left")
        .crossJoin(F.broadcast(nch))
        .select("qid", _rag_bucket(F.col("w")).alias("dim"),
                F.coalesce(F.col("idf_i"), oov_idf).alias("s"))
        .groupBy("qid", "dim").agg(F.sum("s").cast("bigint").alias("qval"))
        # no checkpoint: the query side is ≤ RAG_N_QUERIES docs, cheap to
        # recompute, and keeping its lineage visible lets the plan test
        # assert the GlobalLimit under the broadcast
    )
    # impact rank over the val != 0 rows (they sort last on |val| desc,
    # so ranking every row gives the nonzero rows the same ranks); val
    # is a sum of positive idf integers, so the filter is vacuous on
    # this data, but the verdict stays faithful to the pruned oracle
    wq = W.partitionBy("qid").orderBy(F.abs(F.col("qval")).desc(), "dim")
    qs = qsparse.withColumn(
        "_qkeep", (F.col("qval") != 0)
        & (F.row_number().over(wq) <= RAG_Q_TOP_DIMS))
    sq = F.col("qval") * F.col("qval")
    if audit:
        wc = W.partitionBy("dim").orderBy(F.abs(F.col("val")).desc(),
                                          "cdoc", "chunk_id")
        csparse = csparse.withColumn(
            "_keep", (F.col("val") != 0)
            & (F.row_number().over(wc) <= RAG_POSTING_TOP))
        qnorm = qs.groupBy("qid").agg(
            F.sum(sq).cast("bigint").alias("qn"),
            F.sum(F.when(F.col("_qkeep"), sq)).cast("bigint").alias("qn_p"))
    else:
        qs = qs.where(F.col("_qkeep")).drop("_qkeep")
        qnorm = qs.groupBy("qid").agg(F.sum(sq).cast("bigint").alias("qn"))
    dots = _sparse_dot(csparse, qs, "dim", ["cdoc", "chunk_id"],
                       F.col("val") * F.col("qval"), "dot")

    def cosine(dot: str, qn: str):
        return (F.col(dot).cast("double")
                / (F.sqrt(F.col(qn).cast("double"))
                   * F.sqrt(F.col("cn").cast("double"))))

    cols = ["qid", "cdoc", "chunk_id", "dot",
            cosine("dot", "qn").alias("cosine")]
    if audit:
        # a _has_p pair implies its query kept >= 1 dim, so qn_p > 0
        # wherever cosine_p is consumed
        cols += ["_has_p", cosine("dot_p", "qn_p").alias("cosine_p")]
    scored = (
        dots.join(F.broadcast(qnorm.where(F.col("qn") > 0)), "qid")
        .join(cnorm.where(F.col("cn") > 0), ["cdoc", "chunk_id"])
        .select(*cols)
    )
    return _top_k(scored, "cosine", ["cdoc", "chunk_id"], RAG_TOP_K, audit)


# --- pruning-quality certification: pruned vs exact retrieval ---------------

# Rank-discount weights for the NDCG columns, on a fixed integer grid
# so the gain sums are exact integers in both engines: w(r) =
# round(1e6 / log2(r + 1)), computed ONCE here in Python and embedded
# as literals in both the Spark plan and the oracle SQL — no runtime
# log() whose last-ulp could differ between engines ever touches the
# hash gate. IDCG is the prefix sum of the same table.
NDCG_GRID = 1_000_000


def _ndcg_weights(max_k: int) -> tuple[int, ...]:
    import math

    return tuple(round(NDCG_GRID / math.log2(r + 1))
                 for r in range(1, max_k + 1))


def _sql_pruning_recall() -> str:
    from mit_mapreduce_spark.operators.textstats import BM25_TOP_K, _sql_bm25

    w = _ndcg_weights(max(BM25_TOP_K, RAG_TOP_K))
    cum = [sum(w[:i + 1]) for i in range(len(w))]
    w_case = ("CASE p.rnk "
              + " ".join(f"WHEN {r + 1} THEN {wt}" for r, wt in enumerate(w))
              + " ELSE 0 END")
    idcg_case = ("CASE k_exact "
                 + " ".join(f"WHEN {r + 1} THEN {c}"
                            for r, c in enumerate(cum))
                 + " ELSE 0 END")

    def leg(name: str, exact: str, pruned: str, keys: str) -> str:
        on = " AND ".join(f"p.{k} = e.{k}" for k in keys.split())
        return f"""
    {name}_ov AS (
      SELECT e.qid, CAST(COUNT(*) AS BIGINT) AS n_overlap,
             CAST(SUM({w_case}) AS BIGINT) AS dcg_micro
      FROM {exact} e JOIN {pruned} p ON p.qid = e.qid AND {on}
      GROUP BY e.qid),
    {name} AS (
      SELECT '{"bm25" if name == "bm" else "rag"}' AS leg, qid,
             CAST(COUNT(*) AS BIGINT) AS k_exact,
             COALESCE(ANY_VALUE(o.n_overlap), 0) AS n_overlap,
             COALESCE(ANY_VALUE(o.dcg_micro), 0) AS dcg_micro
      FROM {exact} LEFT JOIN {name}_ov o USING (qid)
      GROUP BY qid)"""

    return f"""
    WITH bm_exact AS ({_sql_bm25(posting_top=0)}),
    bm_pruned AS ({_sql_bm25()}),
    rag_exact AS ({_sql_rag(posting_top=0, q_top_dims=0)}),
    rag_pruned AS ({_sql_rag()}),
    {leg("bm", "bm_exact", "bm_pruned", "did")},
    {leg("rag", "rag_exact", "rag_pruned", "cdoc chunk_id")},
    unioned AS (
      SELECT leg, qid, k_exact, n_overlap, dcg_micro FROM bm
      UNION ALL
      SELECT leg, qid, k_exact, n_overlap, dcg_micro FROM rag)
    SELECT leg, qid, k_exact, n_overlap, dcg_micro,
           CAST({idcg_case} AS BIGINT) AS idcg_micro,
           CAST(dcg_micro AS DOUBLE) / CAST({idcg_case} AS DOUBLE) AS ndcg
    FROM unioned
    """


@query("retrieval_pruning_recall", oracle=_sql_pruning_recall())
def retrieval_pruning_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured approximation quality of impact-pruned retrieval
    indexes: per query, how many of the EXACT top-k results the
    pruned-index twin reproduces — recall@k of static index pruning,
    the number every search engine publishes before turning pruning
    on. THIS measurement is why the registered bm25_topk and
    rag_chunk_retrieval serve the exact index: on this corpus it read
    13%/2% (bm25, sf0.1/10×) and 3/150 (rag), the bulk-common-
    vocabulary adversarial case for truncation — shipping the pruned
    index as default would have been a silent quality cliff that only
    this harness catches. One row per (leg, query): leg ∈ {bm25, rag},
    k_exact = |exact top-k|, n_overlap = |exact ∩ pruned| — recall is
    n_overlap/k_exact, left as two exact integers so the row sits
    under the value-hash gate. Rank-aware quality rides the same rows
    (r8): dcg_micro = Σ w(pruned rank) over the overlap with w(r) =
    round(1e6/log2(r+1)) integer-grid discounts (weights are Python-
    computed literals embedded in BOTH engines — no runtime log in the
    gate), idcg_micro = the prefix sum at k_exact, ndcg = one IEEE
    division of the two exact integers. Recall says WHETHER the pruned
    index finds the exact top-k; NDCG says whether it keeps them in
    the right ORDER.

    Cost shape: one scoring pass per leg (`_bm25_ranked` /
    `_rag_ranked` in audit mode): each posting carries its pruning
    verdict as a flag, so one candidate join and one (query, doc)
    aggregation yield both the exact and the pruned scores, and both
    rankings ride one qid exchange. Only the impact windows that set
    the flags are extra over the serving path. At 100 TB both legs
    ride the constant query budget, so the eval stays a bounded
    fraction of a corpus scan."""
    from mit_mapreduce_spark.operators.textstats import (
        BM25_TOP_K, _bm25_ranked, _doc_tf)

    w = _ndcg_weights(max(BM25_TOP_K, RAG_TOP_K))
    cum = [sum(w[:i + 1]) for i in range(len(w))]
    w_arr = F.array(*[F.lit(x) for x in w])          # 1-indexed by rank
    idcg_arr = F.array(*[F.lit(x) for x in cum])     # 1-indexed by k_exact

    def overlap(ranked: DataFrame, top_k: int, leg: str) -> DataFrame:
        # r15: the exact top-k and the pruned top-k are both row
        # subsets of ONE ranked candidate frame (rnk_e / _in_p+rnk_p —
        # every pruned candidate is an exact candidate), so the
        # exact∩pruned stats are ONE aggregation over the exact top-k
        # rows: no exact⋈pruned self-join, no checkpoint, and the
        # candidate pipeline executes once. Same integers as the r14
        # join form (proved exceptAll-identical before adoption).
        hit = F.col("_in_p") & (F.col("rnk_p") <= top_k)
        return (
            ranked.where(F.col("rnk_e") <= top_k)
            .groupBy("qid")
            .agg(F.count("*").cast("bigint").alias("k_exact"),
                 F.coalesce(F.sum(hit.cast("bigint")), F.lit(0))
                 .cast("bigint").alias("n_overlap"),
                 F.coalesce(F.sum(F.when(
                     hit, F.element_at(w_arr, F.col("rnk_p")))), F.lit(0))
                 .cast("bigint").alias("dcg_micro"))
            .select(F.lit(leg).alias("leg"), "qid", "k_exact",
                    "n_overlap", "dcg_micro",
                    F.element_at(idcg_arr, F.col("k_exact").cast("int"))
                    .cast("bigint").alias("idcg_micro"))
            .withColumn("ndcg", F.col("dcg_micro").cast("double")
                        / F.col("idcg_micro").cast("double"))
        )

    # r14 (guide §1.2): the two legs' CONSTRUCTION (lazy-checkpointed
    # staging — Catalyst analysis + physical planning + codegen
    # compilation) ran serially in one Python thread; build them as two
    # parallel legs like the admission's. Same frames, same single
    # final action.
    bm, rag = parallel_legs(
        lambda: overlap(_bm25_ranked(spark, sf_dir, _doc_tf(spark, sf_dir),
                                     audit=True), BM25_TOP_K, "bm25"),
        lambda: overlap(_rag_ranked(spark, sf_dir, audit=True),
                        RAG_TOP_K, "rag"))
    return bm.unionByName(rag)
