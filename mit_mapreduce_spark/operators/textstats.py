"""Text-analysis operators over `documents`: per-doc statistics,
quality scoring, language-ID heuristic, fingerprinting, token counting.

These are the LLM-training-pipeline text ops (north-star surface; the
reference's only text processing is the wc/indexer tokenizer,
`mrapps/wc.go:21-34`). Everything is built from JVM-side expressions
(split / regexp / higher-order array functions) — no Python UDFs —
so the whole module rides whole-stage codegen and scales linearly:
every query is a single scan + (at most) one aggregation shuffle.

Tokenization matches the reference: maximal Unicode-letter runs,
case-sensitive (functions.text.NON_LETTER, SURVEY.md §2.4.1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mit_mapreduce_spark.catalog import fan_out, load_table
from mit_mapreduce_spark.functions.numeric import dsum, sql_dsum
from mit_mapreduce_spark.operators.registry import query
from mit_mapreduce_spark.session import materialize, parallel_legs

_TOKS = "list_filter(regexp_split_to_array(text, '[^\\p{L}]+'), x -> x <> '')"

# Marker stopwords per language for the lang-ID heuristic. The corpus
# is synthetic, so these are engine-surface demos: deterministic
# marker-count scoring with a fixed-priority argmax.
_MARKERS = {
    "en": ("the", "a", "of"),
    "de": ("der", "die", "das"),
    "fr": ("le", "la", "les"),
    "es": ("el", "los", "una"),
}

_STOP = ("the", "a", "of", "and", "to", "in", "is")


def _spark_tokens():
    return F.filter(F.split("text", r"[^\p{L}]+"), lambda x: x != "")


def _sql_in_list(words):
    return ", ".join(f"'{w}'" for w in words)


@query(
    "doc_stats",
    oracle=f"""
    SELECT doc_id, source, lang,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length({_TOKS}) AS BIGINT) AS n_tokens,
           CAST(length(list_distinct({_TOKS})) AS BIGINT) AS n_distinct_tokens,
           CAST(CASE WHEN length({_TOKS}) = 0 THEN 0.0
                ELSE CAST(list_sum(list_transform({_TOKS}, x -> length(x)))
                          AS DOUBLE) / length({_TOKS}) END AS DOUBLE)
             AS avg_token_len
    FROM documents
    """,
)
def doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document statistics: char count, token count, distinct
    tokens, mean token length — all array expressions over one scan,
    no explode (no row blowup at 100 TB)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _spark_tokens()
    n_tokens = F.size(toks)
    letter_sum = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda acc, x: acc + x)
    return docs.select(
        "doc_id", "source", "lang",
        F.length("text").cast("bigint").alias("n_chars"),
        n_tokens.cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct_tokens"),
        F.when(n_tokens == 0, F.lit(0.0))
        .otherwise(letter_sum.cast("double") / n_tokens)
        .cast("double").alias("avg_token_len"),
    )


@query(
    "lang_dist",
    oracle=f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS nd_sources,
           CAST(SUM(CAST(length(text) AS BIGINT)) AS BIGINT) AS sum_chars,
           CAST(SUM(CAST(length({_TOKS}) AS BIGINT)) AS BIGINT) AS sum_tokens
    FROM documents
    GROUP BY lang
    """,
)
def lang_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus distribution by language: docs, sources, chars, tokens.
    Integer sums — exact under any aggregation order."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("source").alias("nd_sources"),
            F.sum(F.length("text").cast("bigint")).alias("sum_chars"),
            F.sum(F.size(_spark_tokens()).cast("bigint")).alias("sum_tokens"),
        )
    )


@query(
    "quality_score",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length({_TOKS}) AS BIGINT) AS n_tokens,
           CAST(length(regexp_replace(text, '[\\p{{L}}\\s]+', '', 'g'))
                AS BIGINT) AS n_punct,
           CAST(length(list_filter({_TOKS},
                x -> x IN ({_sql_in_list(_STOP)}))) AS BIGINT) AS n_stop,
           CAST(CASE WHEN length(text) = 0 THEN 0.0
                ELSE CAST(length(regexp_replace(text, '[\\p{{L}}\\s]+', '', 'g'))
                     AS DOUBLE) / length(text) END AS DOUBLE) AS punct_ratio,
           CAST(CASE WHEN length({_TOKS}) = 0 THEN 0.0
                ELSE CAST(length(list_filter({_TOKS},
                     x -> x IN ({_sql_in_list(_STOP)})))
                     AS DOUBLE) / length({_TOKS}) END AS DOUBLE) AS stop_ratio
    FROM documents
    """,
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality signals: punctuation ratio (non-letter,
    non-space chars / chars) and stopword ratio — the standard cheap
    filters an LLM-data pipeline applies before expensive stages. Each
    ratio is one integer-count division (deterministic)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _spark_tokens()
    n_chars = F.length("text")
    n_tokens = F.size(toks)
    n_punct = F.length(F.regexp_replace("text", r"[\p{L}\s]+", ""))
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*_STOP)))
    return docs.select(
        "doc_id",
        n_chars.cast("bigint").alias("n_chars"),
        n_tokens.cast("bigint").alias("n_tokens"),
        n_punct.cast("bigint").alias("n_punct"),
        n_stop.cast("bigint").alias("n_stop"),
        F.when(n_chars == 0, F.lit(0.0))
        .otherwise(n_punct.cast("double") / n_chars)
        .cast("double").alias("punct_ratio"),
        F.when(n_tokens == 0, F.lit(0.0))
        .otherwise(n_stop.cast("double") / n_tokens)
        .cast("double").alias("stop_ratio"),
    )


def _sql_marker_score(lang: str) -> str:
    return (f"length(list_filter({_TOKS}, x -> x IN "
            f"({_sql_in_list(_MARKERS[lang])})))")


@query(
    "lang_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {_sql_marker_score('en')} AS s_en,
             {_sql_marker_score('de')} AS s_de,
             {_sql_marker_score('fr')} AS s_fr,
             {_sql_marker_score('es')} AS s_es
      FROM documents),
    predicted AS (
      SELECT doc_id, lang,
             CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                  WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                  WHEN s_fr >= s_es THEN 'fr'
                  ELSE 'es' END AS pred_lang
      FROM scored)
    SELECT lang, pred_lang, COUNT(*) AS n_docs
    FROM predicted
    GROUP BY lang, pred_lang
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic: score each doc against four
    marker lists, pick the max with a fixed priority order (en > de >
    fr > es on ties), report the confusion matrix vs the labeled lang."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _spark_tokens()
    def marker_count(words):
        return F.size(F.filter(toks, lambda x: x.isin(*words)))

    scores = {lg: marker_count(_MARKERS[lg]) for lg in _MARKERS}
    scored = docs.select(
        "doc_id", "lang",
        *[scores[lg].alias(f"s_{lg}") for lg in _MARKERS])
    pred = (
        F.when((F.col("s_en") >= F.col("s_de"))
               & (F.col("s_en") >= F.col("s_fr"))
               & (F.col("s_en") >= F.col("s_es")), "en")
        .when((F.col("s_de") >= F.col("s_fr"))
              & (F.col("s_de") >= F.col("s_es")), "de")
        .when(F.col("s_fr") >= F.col("s_es"), "fr")
        .otherwise("es")
    )
    return (
        scored.select("doc_id", "lang", pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
    )


@query(
    "fingerprint",
    oracle="""
    SELECT doc_id,
           md5(text) AS fp_md5,
           sha256(text) AS fp_sha256,
           ('0x' || substring(md5(text), 1, 15))::BIGINT AS fp60,
           md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
             AS fp_norm
    FROM documents
    """,
)
def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: raw md5/sha256, a 60-bit integer
    fingerprint (hex-prefix of md5 — identical construction in both
    engines, see dedup.py), and a whitespace/case-normalized md5 for
    near-trivial-duplicate detection."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    return docs.select(
        "doc_id",
        F.md5("text").alias("fp_md5"),
        F.sha2("text", 256).alias("fp_sha256"),
        F.conv(F.substring(F.md5("text"), 1, 15), 16, 10)
        .cast("bigint").alias("fp60"),
        F.md5(norm).alias("fp_norm"),
    )


@query(
    "token_counts",
    oracle="""
    SELECT doc_id,
           CAST(length(list_filter(regexp_split_to_array(text, '\\s+'),
                x -> x <> '')) AS BIGINT) AS ws_tokens,
           CAST(length(regexp_extract_all(text,
                '[\\p{L}]+|[0-9]+|[^\\p{L}0-9\\s]')) AS BIGINT) AS bpe_ish_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS char4_estimate
    FROM documents
    """,
)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count estimators: whitespace tokens, a BPE-ish regex
    (letter runs | digit runs | single punctuation — the shape GPT-2's
    pre-tokenizer produces), and the chars/4 rule of thumb."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.size(F.filter(F.split("text", r"\s+"), lambda x: x != ""))
    bpe = F.size(F.regexp_extract_all(
        "text", F.lit(r"[\p{L}]+|[0-9]+|[^\p{L}0-9\s]"), F.lit(0)))
    return docs.select(
        "doc_id",
        ws.cast("bigint").alias("ws_tokens"),
        bpe.cast("bigint").alias("bpe_ish_tokens"),
        F.ceil(F.length("text") / 4.0).cast("bigint").alias("char4_estimate"),
    )


@query("sample_corpus")  # rows-only: sampling is partition-layout-dependent
def sample_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Bernoulli subsample of the corpus (~20%) — the cheap
    uniform downsample every pipeline applies before expensive stages.
    Deterministic for a fixed seed AND input layout, but layout is an
    execution detail, so this is rows-only for the driver; the
    fraction tolerance is asserted in tests."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.sample(fraction=0.2, seed=42).select(
        "doc_id", "lang", "source", "n_chars")


MIX_WEIGHTS = {"en": 0.9, "de": 0.5, "fr": 0.5, "es": 0.2, "zh": 0.2}


@query("sample_mix_recipe")  # rows-only: same layout-dependence as above
def sample_mix_recipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified data-mixing recipe: per-language sampling rates
    (sampleBy) — the "data recipe" operator that reweights a corpus
    mixture before training. Summarized per language so the check is
    a distribution, not row identity."""
    docs = load_table(spark, sf_dir, "documents")
    mixed = docs.sampleBy("lang", fractions=MIX_WEIGHTS, seed=42)
    return (
        mixed.groupBy("lang")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_chars").cast("bigint").alias("sum_chars"))
    )


# --- deterministic hash-based sampler twins (VERDICT r8 ask #3) -------------

# keep iff hash60(doc_id || salt) % MOD < rate. Unlike rand()-seeded
# sampling, membership is a pure function of the ROW, not of partition
# layout or execution order — the reproducible-pipeline idiom
# (resumable, stable across retries and repartitions), and exactly
# what makes the op oracle-checkable: DuckDB recomputes the same
# md5-prefix hash. The rand() variants above stay registered as the
# engine-surface demos; these twins are what a production corpus
# pipeline should actually use.
SAMPLE_HASH_MOD = 1000
SAMPLE_HASH_KEEP = 200          # 20%, the sample_corpus fraction


def _hash60_keep(salt: str):
    """Spark column: hash60(doc_id || salt) % SAMPLE_HASH_MOD —
    non-negative 60-bit md5-prefix hash, the fp60/dedup construction."""
    h = F.conv(F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(salt))),
        1, 15), 16, 10).cast("bigint")
    return h % SAMPLE_HASH_MOD


def _sql_hash60_keep(salt: str) -> str:
    return (f"(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '{salt}'),"
            f" 1, 15))::BIGINT % {SAMPLE_HASH_MOD})")


@query(
    "sample_corpus_hash",
    oracle=f"""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE {_sql_hash60_keep('#s42')} < {SAMPLE_HASH_KEEP}
    """,
)
def sample_corpus_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform subsample (~200/1000 = 20%, the
    SAMPLE_HASH_KEEP/SAMPLE_HASH_MOD constants): keep iff
    hash60(doc_id, seed) mod 1000 clears the rate — the hash-gated twin of
    sample_corpus (VERDICT r8 ask #3). Fully distributed: the
    predicate evaluates JVM-side per row with no state, no shuffle,
    and identical membership on any cluster layout."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.where(_hash60_keep("#s42") < SAMPLE_HASH_KEEP)
        .select("doc_id", "lang", "source", "n_chars")
    )


@query(
    "sample_mix_recipe_hash",
    oracle=f"""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    WHERE {_sql_hash60_keep('#m42')} <
          CASE lang {' '.join(f"WHEN '{lg}' THEN {int(w * 1000)}"
                              for lg, w in MIX_WEIGHTS.items())}
          ELSE 0 END
    GROUP BY lang
    """,
)
def sample_mix_recipe_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified mixing recipe: per-language keep rates
    (MIX_WEIGHTS, in 1/1000 units) applied through the
    same row-pure hash predicate — the hash-gated twin of
    sample_mix_recipe (VERDICT r8 ask #3). Languages outside the
    recipe get rate 0 (sampleBy semantics: unlisted strata drop).
    Summarized per language like the rand() twin."""
    docs = load_table(spark, sf_dir, "documents")
    rate_map = F.create_map(*[
        F.lit(x) for lg, w in MIX_WEIGHTS.items()
        for x in (lg, int(w * 1000))])
    rate = F.coalesce(F.element_at(rate_map, F.col("lang")), F.lit(0))
    return (
        docs.where(_hash60_keep("#m42") < rate)
        .groupBy("lang")
        .agg(F.count("*").cast("bigint").alias("n_docs"),
             F.sum("n_chars").cast("bigint").alias("sum_chars"))
    )


@query(
    "tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS}) AS word FROM documents),
    tf AS (
      SELECT doc_id, word, COUNT(*) AS tf
      FROM toks GROUP BY doc_id, word),
    df AS (
      SELECT word, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY word),
    scored AS (
      SELECT t.doc_id, t.word,
             CAST(t.tf AS BIGINT) AS tf, CAST(d.df AS BIGINT) AS df,
             ROUND(t.tf * ln(CAST((SELECT COUNT(*) FROM documents) AS DOUBLE)
                             / d.df), 4) AS tfidf
      FROM tf t JOIN df d ON d.word = t.word)
    SELECT doc_id, word, tf, df, tfidf, CAST(rnk AS INT) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
               ORDER BY tfidf DESC, word) AS rnk
          FROM scored)
    WHERE rnk <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF feature extraction: top-3 distinguishing terms per doc.

    tf and df are one aggregation each over the exploded token stream
    (both map-side combined); df — vocabulary-sized, tiny next to the
    corpus — is broadcast back onto tf. The score is quantized at 4
    decimals BEFORE ranking: Spark's Math.log (fdlibm) and DuckDB's
    ln (libm) differ in the last ulp for some inputs (observed at
    ln(3.0)), so ranking on the raw double could flip order between
    engines; round-then-rank with a word tie-break is deterministic
    everywhere. At 100 TB the same two-aggregate shape holds — df is
    |vocabulary| rows and stays broadcastable. n_docs is a 1-row
    in-plan aggregate riding a broadcast (the bm25 stats treatment,
    VERDICT r7 wrong#2) — no driver-side count job."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(_spark_tokens()).alias("word"))
    tf = toks.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df = toks.groupBy("word").agg(
        F.countDistinct("doc_id").alias("df"))
    n_docs = docs.agg(F.count("*").cast("double").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "word")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id", "word",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4)
            .alias("tfidf"),
        )
    )
    from pyspark.sql import Window
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("word"))
    return (
        scored.select("doc_id", "word", "tf", "df", "tfidf",
                      F.row_number().over(w).cast("int").alias("rnk"))
        .where(F.col("rnk") <= 3)
    )


# --- collocation mining (PMI-style lift) ----------------------------------

COLL_MIN_COUNT = 5
COLL_TOP = 50


@query(
    "collocations_lift",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS arr FROM documents),
    big AS (
      SELECT arr[i] AS w1, arr[i+1] AS w2
      FROM (SELECT doc_id, generate_subscripts(arr, 1) AS i, arr FROM toks)
      WHERE i + 1 <= length(arr)),
    uni AS (SELECT unnest(arr) AS w FROM toks),
    bigc AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2),
    unic AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
    tot AS (SELECT CAST((SELECT COUNT(*) FROM big) AS BIGINT) AS nb,
                   CAST((SELECT COUNT(*) FROM uni) AS BIGINT) AS nu)
    SELECT w1, w2, c12, lift
    FROM (
      SELECT b.w1, b.w2, CAST(b.c12 AS BIGINT) AS c12,
             ROUND(((((CAST(b.c12 AS DOUBLE) * CAST(t.nu AS DOUBLE))
                      * CAST(t.nu AS DOUBLE)) / CAST(u1.c AS DOUBLE))
                    / CAST(u2.c AS DOUBLE)) / CAST(t.nb AS DOUBLE), 4) AS lift
      FROM bigc b
      JOIN unic u1 ON u1.w = b.w1
      JOIN unic u2 ON u2.w = b.w2
      CROSS JOIN tot t
      WHERE b.c12 >= {COLL_MIN_COUNT})
    ORDER BY lift DESC, w1, w2
    LIMIT {COLL_TOP}
    """,
)
def collocations_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-50 bigrams by PMI-style lift,
    P(w1,w2) / (P(w1)·P(w2)) — the corpus's statistically-bound word
    pairs (PMI itself is log2(lift); ranking by lift avoids the
    cross-engine last-ulp hazards of ln, so the score is exact given
    identical IEEE operation order, which both expression texts pin).

    Plan shape: one bigram explode + count, one unigram explode +
    count (both map-side combined), then bigram⋈unigram equi-joins —
    the unigram side is |vocabulary| rows, broadcast-scale even at
    100 TB corpora. The two corpus totals ride along as a broadcast
    1-row cross join, and the top-50 is a
    TakeOrderedAndProject, not a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", _spark_tokens().alias("arr"))
    bigrams = toked.select(F.explode(F.expr(
        """CASE WHEN size(arr) < 2 THEN array()
                ELSE transform(sequence(1, size(arr) - 1),
                               i -> struct(arr[i-1] AS w1, arr[i] AS w2))
           END""")).alias("bg")).select("bg.w1", "bg.w2")
    unigrams = toked.select(F.explode("arr").alias("w"))
    bigc = materialize(
        bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c12")))
    # Not checkpointed: its three readers measured faster recomputing
    # it (SCALE.md, "One materialization call").
    unic = unigrams.groupBy("w").agg(F.count("*").alias("c"))
    # Corpus totals = sums of the grouped counts — re-aggregating the
    # tiny count tables instead of re-exploding the corpus (this and
    # the bigram checkpoint cut the tokenize passes from 4 to 2).
    tot = F.broadcast(
        bigc.agg(F.sum("c12").cast("bigint").alias("nb"))
        .crossJoin(unic.agg(F.sum("c").cast("bigint").alias("nu"))))
    u1 = F.broadcast(unic.select(F.col("w").alias("_w1"), F.col("c").alias("c1")))
    u2 = F.broadcast(unic.select(F.col("w").alias("_w2"), F.col("c").alias("c2")))
    lift = F.round(
        ((((F.col("c12").cast("double") * F.col("nu").cast("double"))
           * F.col("nu").cast("double")) / F.col("c1").cast("double"))
         / F.col("c2").cast("double")) / F.col("nb").cast("double"), 4)
    return (
        bigc.where(F.col("c12") >= COLL_MIN_COUNT)
        .join(u1, F.col("w1") == F.col("_w1"))
        .join(u2, F.col("w2") == F.col("_w2"))
        .crossJoin(tot)
        .select("w1", "w2", F.col("c12").cast("bigint").alias("c12"),
                lift.alias("lift"))
        .orderBy(F.col("lift").desc(), "w1", "w2")
        .limit(COLL_TOP)
    )


# --- BPE merge-candidate mining: adjacent-pair frequencies ----------------

BPE_TOPK = 50


@query(
    "bpe_pair_counts",
    oracle=f"""
    WITH words AS (
      SELECT unnest(list_filter(
               regexp_split_to_array(lower(text), '[^a-z]+'),
               x -> x <> '')) AS w
      FROM documents),
    pairs AS (
      SELECT w[i] || w[i+1] AS pair
      FROM (SELECT w, unnest(range(1, length(w))) AS i FROM words))
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs
    GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT {BPE_TOPK}
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training prep: the frequency table of adjacent symbol
    pairs inside words — exactly the statistic the first BPE merge
    step maximizes (Sennrich et al. 2016's count table, at character
    level). A full BPE trainer iterates this count→merge loop; each
    iteration is this same job over the re-segmented corpus.

    Pairs are produced JVM-side (transform over an index sequence —
    the same no-UDF pattern as shingles_df) and the single-char guard
    mirrors the shingle guard: sequence(1, 0) is DESCENDING in Spark,
    so length-1 words must emit an empty array, not crash.

    100 TB posture: one scan, the explode fans out to ~word_len rows
    per word, and the count is a map-side-combined hash aggregation
    whose key space is bounded (≤ alphabet² distinct pairs) — the
    final top-k is a TakeOrderedAndProject, never a global sort of
    the corpus."""
    from mit_mapreduce_spark.catalog import fan_out

    docs = load_table(spark, sf_dir, "documents")
    words = fan_out(docs).select(
        F.explode(F.filter(F.split(F.lower("text"), "[^a-z]+"),
                           lambda x: x != "")).alias("w"))
    pair_arr = F.expr(
        "CASE WHEN length(w) < 2 THEN array() "
        "ELSE transform(sequence(1, length(w) - 1), "
        "               i -> substring(w, i, 2)) END")
    return (
        words.select(F.explode(pair_arr).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(BPE_TOPK)
    )


# --- cross-source overlap matrix ------------------------------------------

@query(
    "source_overlap_matrix",
    oracle="""
    WITH sh AS (
      SELECT DISTINCT source,
             arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS shingle
      FROM (SELECT source, generate_subscripts(arr, 1) AS i, arr
            FROM (SELECT source,
                         list_filter(regexp_split_to_array(text,
                                     '[^\\p{L}]+'), x -> x <> '') AS arr
                  FROM documents))
      WHERE i <= len(arr) - 2),
    sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
              FROM sh GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM sh a JOIN sh b
        ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY a.source, b.source)
    SELECT i.source_a, i.source_b, i.n_inter,
           za.n AS n_a, zb.n AS n_b,
           CAST(i.n_inter AS DOUBLE) / (za.n + zb.n - i.n_inter) AS jaccard
    FROM inter i
    JOIN sizes za ON za.source = i.source_a
    JOIN sizes zb ON zb.source = i.source_b
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus diagnostics: shingle-level Jaccard overlap between every
    PAIR of sources — the signal that tells you two crawls/dumps are
    near-copies before you pay to dedup them doc-by-doc (and the
    leakage check between a training source and a held-out one).

    Plan: distinct (source, 3-gram shingle) → self-join on the
    shingle string → per-pair counts joined with per-source set
    sizes. The self-join's fan-out per shingle key is bounded by
    |sources|² — NOT document-pair blow-up — so at 100 TB the
    exchange carries (shingle → ≤|sources|) rows and the output is
    exactly |sources|·(|sources|−1)/2 rows. Reuses dedup's shingle
    builder (one tokenize path to maintain)."""
    from mit_mapreduce_spark.operators.dedup import shingles_df

    docs = load_table(spark, sf_dir, "documents")
    # feeds sizes + both join legs
    sh = materialize(
        shingles_df(docs.select(F.col("source").alias("doc_id"), "text"))
        .withColumnRenamed("doc_id", "source")
        .distinct())
    sizes = sh.groupBy("source").agg(F.count("*").cast("bigint").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("source_a"),
                 F.col("b.source").alias("source_b"))
        .agg(F.count("*").cast("bigint").alias("n_inter"))
    )
    za, zb = sizes.alias("za"), sizes.alias("zb")
    return (
        inter.join(F.broadcast(za), F.col("za.source") == F.col("source_a"))
        .join(F.broadcast(zb), F.col("zb.source") == F.col("source_b"))
        .select("source_a", "source_b", "n_inter",
                F.col("za.n").alias("n_a"), F.col("zb.n").alias("n_b"),
                (F.col("n_inter").cast("double")
                 / (F.col("za.n") + F.col("zb.n") - F.col("n_inter")))
                .alias("jaccard"))
    )


# --- ordered array aggregation: top-N docs per group ----------------------

TOPDOCS_N = 5


@query(
    "top_docs_per_lang",
    oracle=f"""
    SELECT lang,
           array_to_string(
             (list(doc_id ORDER BY n_chars DESC, doc_id))[1:{TOPDOCS_N}],
             ',') AS top_docs
    FROM documents
    GROUP BY lang
    """,
)
def top_docs_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered ARRAY aggregation: the 5 longest documents per
    language as an ordered array column — the shape used for per-group
    exemplar lists (few-shot pools, per-domain samples). Spark has no
    ORDER BY inside collect_list, so the order is imposed by
    collecting (sort-key, value) structs and sort_array-ing the result
    — deterministic under any partitioning, matched against DuckDB's
    native ordered list() aggregate.

    100 TB posture: the window top-N prunes per group BEFORE the
    collect (WindowGroupLimit pushes the rank filter into the sort),
    so per-group state is N structs, never the whole group — the
    bounded-aggregation-state rule (SCALE.md) applied to arrays."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(F.desc("n_chars"), "doc_id")
    top = (docs.select("lang", "doc_id", "n_chars",
                       F.row_number().over(w).alias("rn"))
           .where(F.col("rn") <= TOPDOCS_N))
    # sort key: descending n_chars then ascending doc_id — encoded so
    # one ascending sort_array reproduces it ((-n_chars, doc_id))
    # CSV-serialized (not a raw array column): the external gate hashes
    # pandas cells and ndarray cells are unhashable; the ordered string
    # carries the same information.
    return (
        top.groupBy("lang")
        .agg(F.expr(
            "array_join(transform(sort_array(collect_list(struct("
            "-n_chars AS k, doc_id AS d))), s -> s.d), ',') AS top_docs"))
    )


# --- bigram-LM quality proxy (CCNet-style, log-free) ----------------------

# The per-doc distinct-bigram CTEs, factored (r14) so the mergeable
# count drain's oracle (streaming_queries.stream_lm_bigram_counts)
# composes the IDENTICAL bigram definition instead of a hand-synced
# copy.
_SQL_LM_BG_CTES = r"""toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[^\p{L}]+'),
                         x -> x <> '') AS arr
      FROM documents),
    bg AS (
      SELECT DISTINCT doc_id, arr[i] || ' ' || arr[i+1] AS bg
      FROM (SELECT doc_id, generate_subscripts(arr, 1) AS i, arr FROM toks)
      WHERE i + 1 <= length(arr))"""

_SQL_LM_COUNTS = ("WITH " + _SQL_LM_BG_CTES + """
    SELECT bg, CAST(COUNT(*) AS BIGINT) AS df FROM bg GROUP BY bg
    """)


@query(
    "quality_lm_bigram",
    oracle="WITH " + _SQL_LM_BG_CTES + """,
    dfreq AS (SELECT bg, COUNT(*) AS df FROM bg GROUP BY bg)
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_singletons,
           CAST(SUM(d.df) AS DOUBLE) / COUNT(*) AS mean_df,
           CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS novelty
    FROM bg b JOIN dfreq d USING (bg)
    GROUP BY b.doc_id
    """,
)
def quality_lm_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality proxy, CCNet-style but log-free: score each
    document by how typical its word bigrams are of the corpus itself.
    A true perplexity filter ranks docs by an external LM's mean log
    prob; ln() is not bit-stable across engines, so this emits the
    exact sufficient statistics instead — per-doc distinct-bigram
    count, singleton count (bigrams seen in NO other document — the
    gibberish/boilerplate-noise signal), mean corpus document
    frequency of the doc's bigrams (the 'typicality' rank, monotone in
    the unigram-backoff LM score), and the singleton fraction. All
    integer sums plus one pinned IEEE division each, so the whole
    operator is hash-gated.

    100 TB posture: one scan builds per-doc distinct bigrams (array
    transform, explode only at the bigram rows), one map-side-combined
    agg computes corpus df, one shuffle equi-join on the bigram key
    scores docs (never broadcast — the bigram vocabulary scales with
    the corpus), one final doc_id agg. Docs with < 2 tokens have no
    bigrams and are absent, matching the SQL inner join."""
    docs = load_table(spark, sf_dir, "documents")
    bg = materialize(
        doc_bigrams_from(fan_out(docs.select("doc_id", "text")))
        # consumed by the df aggregation AND the scoring join —
        # checkpoint so tokenization runs once, not twice.
    )
    dfreq = bg.groupBy("bg").agg(F.count("*").alias("df"))
    return lm_from_counts(bg, dfreq)


def doc_bigrams_from(docs: DataFrame) -> DataFrame:
    """(doc_id, bg) — each doc's DISTINCT word bigrams, a stateless
    per-row map + explode over any (doc_id, text) frame: the batch
    LM's first stage (above) and the per-micro-batch side of the
    mergeable count drain (streaming_queries.stream_lm_bigram_counts,
    r14)."""
    toks = _spark_tokens()
    arr = F.expr(
        """CASE WHEN size(_toks) < 2 THEN array()
                ELSE transform(sequence(1, size(_toks) - 1),
                               i -> concat_ws(' ', slice(_toks, i, 2)))
           END""")
    return (
        docs.select("doc_id", "text")
        .select("doc_id", toks.alias("_toks"))
        .select("doc_id", F.explode(F.array_distinct(arr)).alias("bg"))
    )


def lm_from_counts(bg: DataFrame, dfreq: DataFrame) -> DataFrame:
    """The LM scoring tail over a per-doc bigram frame and a (bg, df)
    corpus count table — shared by the batch query (which computes
    dfreq inline) and the REBUILD path from the stream-maintained
    mergeable count table (summed per-batch partial counts, r14):
    the one corpus-wide statistic in the admission's quality gate
    becomes maintainable without a corpus rescan — the HLL-style
    mergeable-sketch move (sketch_hll_mergeable) applied to the
    bigram LM."""
    singleton = (F.col("df") == 1).cast("long")
    return (
        bg.join(dfreq, "bg")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum(singleton).cast("bigint").alias("n_singletons"),
            F.sum("df").alias("_sum_df"),
        )
        .select(
            "doc_id", "n_bigrams", "n_singletons",
            (F.col("_sum_df").cast("double")
             / F.col("n_bigrams").cast("double")).alias("mean_df"),
            (F.col("n_singletons").cast("double")
             / F.col("n_bigrams").cast("double")).alias("novelty"),
        )
    )


# --- winnowing fingerprints (MOSS, Schleimer et al. SIGMOD'03) ------------

WIN_K = 5          # k-gram size (tokens)
WIN_W = 4          # winnowing window (consecutive k-gram hashes)
_H30 = 1 << 30     # 30-bit hash keeps h*2^21+tie inside BIGINT
_TIE = 1 << 21     # > max token position in any fixture doc


_SQL_WINNOW_FP = f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[^\\p{{L}}]+'),
                         x -> x <> '') AS toks
      FROM documents),
    kh AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(toks) - {WIN_K - 1}, 0) + 1),
               i -> (('0x' || substring(md5(
                        array_to_string(list_slice(toks, i, i + {WIN_K - 1}),
                                        ' ')), 1, 15))::BIGINT % {_H30}))
               AS hs
      FROM t),
    sel AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(hs) - {WIN_W - 1}, 0) + 1),
               j -> list_min(list_transform(range(0, {WIN_W}),
                      tt -> hs[j + tt] * {_TIE}
                            + ({_TIE} - 1 - (j + tt)))))) AS keys
      FROM kh)
    SELECT doc_id,
           CAST({_TIE} - 1 - (k.key % {_TIE}) AS BIGINT) AS pos,
           CAST(k.key // {_TIE} AS BIGINT) AS fp
    FROM sel, unnest(sel.keys) AS k(key)
"""


@query("winnow_fingerprints", oracle=_SQL_WINNOW_FP)

def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every {WIN_K}-token k-gram,
    slide a {WIN_W}-hash window, and select each window's minimum hash
    (rightmost on ties). Guarantees: any shared run of
    {WIN_K + WIN_W - 1}+ tokens yields a shared fingerprint, yet only
    ~2/(w+1) of positions are kept — the sublinear sketch that makes
    corpus-wide plagiarism/overlap detection an equi-join on O(n/w)
    rows instead of all windows (cf. dup_passages, which keeps every
    window).

    The (hash, rightmost-pos) argmin is one BIGINT min: 30-bit hash
    × 2²¹ + (2²¹−1−pos) — monotone in (hash, −pos), overflow-free,
    bit-identical in both engines. Selection is pure array
    expressions over one scan; the emitted rows are the selected
    fingerprints with their positions decoded back out.

    100 TB posture: one scan, no shuffle at all for selection (the
    explode emits ~2n/(w+1) rows per doc); every downstream use —
    overlap pairs, index build — is an equi-join on fp."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _spark_tokens()
    khashes = F.expr(
        f"""CASE WHEN size(_toks) < {WIN_K} THEN array()
                 ELSE transform(sequence(1, size(_toks) - {WIN_K - 1}),
                        i -> conv(substring(md5(
                               concat_ws(' ', slice(_toks, i, {WIN_K}))),
                             1, 15), 16, 10) % {_H30}L)
            END""")
    keys = F.expr(
        f"""CASE WHEN size(_hs) < {WIN_W} THEN array()
                 ELSE array_distinct(transform(
                        sequence(1, size(_hs) - {WIN_W - 1}),
                        j -> array_min(transform(sequence(0, {WIN_W - 1}),
                               tt -> _hs[j + tt - 1] * {_TIE}L
                                     + ({_TIE} - 1 - (j + tt))))))
            END""")
    return (
        fan_out(docs.select("doc_id", "text"))
        .select("doc_id", toks.alias("_toks"))
        .select("doc_id", khashes.alias("_hs"))
        .select("doc_id", F.explode(keys).alias("key"))
        .select(
            "doc_id",
            (F.lit(_TIE - 1) - F.col("key") % _TIE).cast("bigint")
            .alias("pos"),
            (F.col("key") / F.lit(_TIE)).cast("bigint").alias("fp"),
        )
    )


WIN_MIN_SHARED = 3   # fingerprints a pair must share to be reported


@query(
    "winnow_overlap_pairs",
    oracle=f"""
    WITH fpx AS ({_SQL_WINNOW_FP}),
    dfp AS (SELECT DISTINCT doc_id, fp FROM fpx),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM dfp GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM dfp a JOIN dfp b ON b.fp = a.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING COUNT(*) >= {WIN_MIN_SHARED})
    SELECT p.doc_a, p.doc_b,
           CAST(p.n_shared AS BIGINT) AS n_shared,
           CAST(za.n AS BIGINT) AS n_a,
           CAST(zb.n AS BIGINT) AS n_b,
           CAST(p.n_shared AS DOUBLE) / least(za.n, zb.n) AS containment
    FROM pairs p
    JOIN sizes za ON za.doc_id = p.doc_a
    JOIN sizes zb ON zb.doc_id = p.doc_b
    """,
)
def winnow_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS at corpus scale: document pairs sharing >= 3
    winnowing fingerprints, with containment (shared / smaller doc's
    fingerprint count) — the plagiarism/near-copy report built on the
    sublinear sketch instead of full windows.

    Candidate generation is an equi-self-join on the fp value over the
    ~2n/(w+1)-row fingerprint relation — Σ(per-fp doc-count²) work,
    never corpus², the same bounded-bucket argument as every LSH
    operator here (and the winnowing guarantee means recall over
    {WIN_K + WIN_W - 1}-token runs is 1, unlike probabilistic LSH).
    The fingerprint relation is built once and checkpointed for its
    three consumers (pair join legs + sizes)."""
    fps = materialize(
        winnow_fingerprints(spark, sf_dir)
        .select("doc_id", "fp").distinct()
    )
    sizes = fps.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = fps.alias("a"), fps.alias("b")
    pairs = (
        a.join(b, (F.col("b.fp") == F.col("a.fp"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= WIN_MIN_SHARED)
    )
    za = sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "n_a")
    zb = sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "n_b")
    return (
        pairs.join(za, "doc_a").join(zb, "doc_b")
        .select(
            "doc_a", "doc_b",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            (F.col("n_shared").cast("double")
             / F.least("n_a", "n_b").cast("double")).alias("containment"),
        )
    )


# --- vocabulary coverage / OOV rate ---------------------------------------

VOCAB_K = 20   # top-K corpus words form the tokenizer vocabulary


@query(
    "vocab_oov_rate",
    oracle=f"""
    WITH inst AS (
      SELECT source, lower(w) AS w
      FROM (SELECT source, unnest({_TOKS}) AS w FROM documents)),
    counts AS (SELECT w, COUNT(*) AS c FROM inst GROUP BY w),
    vocab AS (
      SELECT w FROM (
        SELECT w, row_number() OVER (ORDER BY c DESC, w) AS rnk
        FROM counts)
      WHERE rnk <= {VOCAB_K}),
    per_src AS (
      SELECT i.source,
             COUNT(*) AS n_tokens,
             SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS n_oov
      FROM inst i LEFT JOIN vocab v ON v.w = i.w
      GROUP BY i.source)
    SELECT source,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_oov AS BIGINT) AS n_oov,
           CAST(CASE WHEN n_tokens = 0 THEN 0.0
                ELSE CAST(n_oov AS DOUBLE) / n_tokens END AS DOUBLE)
             AS oov_rate
    FROM per_src
    """,
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: build the top-20 corpus
    vocabulary by frequency (count-desc, word-asc deterministic
    tie-break) and report per-source out-of-vocabulary token rates —
    the standard pre-tokenizer diagnostic for whether a training mix's
    sources are served by a shared vocabulary.

    Two aggregation shuffles (word counts; per-source rates). The
    vocabulary is K rows by construction, so the membership probe is a
    broadcast LEFT join against the token scan — no shuffle of the big
    side. The token-instance relation is built once and checkpointed
    for both consumers (vocabulary learning + coverage probe); at
    100 TB the rank step sorts only the distinct-word table (vocabulary-
    sized, millions not billions)."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    inst = materialize(
        fan_out(docs)
        .select("source", F.explode(_spark_tokens()).alias("w"))
        .select("source", F.lower("w").alias("w"))
    )
    counts = inst.groupBy("w").agg(F.count("*").alias("c"))
    vocab = (
        counts.withColumn(
            "rnk", F.row_number().over(
                W.orderBy(F.col("c").desc(), F.col("w"))))
        .where(F.col("rnk") <= VOCAB_K)
        .select("w")
    )
    per_src = (
        inst.join(F.broadcast(vocab.withColumn("_inv", F.lit(1))), "w", "left")
        .groupBy("source")
        .agg(F.count("*").alias("n_tokens"),
             F.sum(F.when(F.col("_inv").isNull(), 1).otherwise(0))
             .alias("n_oov"))
    )
    return per_src.select(
        "source",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_oov").cast("bigint").alias("n_oov"),
        F.when(F.col("n_tokens") == 0, F.lit(0.0))
        .otherwise(F.col("n_oov").cast("double") / F.col("n_tokens"))
        .cast("double").alias("oov_rate"),
    )


# --- BPE merge-table trainer ----------------------------------------------

BPE_ROUNDS = 4


def _sql_bpe_blocks(merge_last: bool) -> list[str]:
    """CTE blocks for the unrolled trainer: words → seq1, then per
    round r: positions → pair counts → best pair, plus (for r < R, or
    every r when ``merge_last``) the positionally-expressed greedy-left
    merge producing seq{{r+1}}. Shared by the trainer oracle (needs the
    best{{r}} tables) and the apply oracle (needs the final seq)."""
    parts = [f"""
    words AS (
      SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(list_filter(
              regexp_split_to_array(lower(text), '[^a-z]+'),
              x -> x <> '')) AS w FROM documents)
      GROUP BY w),
    seq1 AS (
      SELECT word, cnt, list_append(string_split(word, ''), '</w>') AS syms
      FROM words)"""]
    for r in range(1, BPE_ROUNDS + 1):
        parts.append(f"""
    pos{r} AS (
      SELECT word, cnt, syms, generate_subscripts(syms, 1) AS i
      FROM seq{r}),
    pairs{r} AS (
      SELECT syms[i] AS a, syms[i+1] AS b, SUM(cnt) AS c
      FROM pos{r} WHERE i < len(syms)
      GROUP BY a, b),
    best{r} AS (SELECT a, b, c FROM pairs{r} ORDER BY c DESC, a, b LIMIT 1)""")
        if r < BPE_ROUNDS or merge_last:
            parts.append(f"""
    cand{r} AS (
      SELECT p.word, p.i
      FROM pos{r} p, best{r} x
      WHERE p.i < len(p.syms)
        AND p.syms[p.i] = x.a AND p.syms[p.i + 1] = x.b),
    isl{r} AS (
      SELECT word, i,
             i - row_number() OVER (PARTITION BY word ORDER BY i) AS g
      FROM cand{r}),
    starts{r} AS (
      SELECT word, i FROM (
        SELECT word, i, (i - min(i) OVER (PARTITION BY word, g)) % 2 AS off
        FROM isl{r})
      WHERE off = 0),
    seq{r + 1} AS (
      SELECT word, cnt, list(sym ORDER BY i) AS syms FROM (
        SELECT p.word, p.cnt, p.i,
               CASE WHEN s.i IS NOT NULL
                    THEN p.syms[p.i] || p.syms[p.i + 1]
                    ELSE p.syms[p.i] END AS sym
        FROM pos{r} p
        LEFT JOIN starts{r} s  ON s.word = p.word AND s.i = p.i
        LEFT JOIN starts{r} s2 ON s2.word = p.word AND s2.i = p.i - 1
        WHERE s2.i IS NULL)
      GROUP BY word, cnt)""")
    return parts


def _sql_bpe_train() -> str:
    """Oracle for the iterative trainer: the round loop unrolled into
    {R} CTE blocks. Greedy-left merging is expressed positionally —
    candidate positions, consecutive-candidate islands (only a=b pairs
    can overlap), even-offset starts within each island, consumed
    successors dropped — provably the same sequence the Spark fold
    produces (see bpe_train_merges)."""
    unions = "\n      UNION ALL\n".join(
        f"      SELECT {r} AS rnk, a AS lhs, b AS rhs,"
        f" CAST(c AS BIGINT) AS pair_count FROM best{r}"
        for r in range(1, BPE_ROUNDS + 1))
    return ("WITH" + ",".join(_sql_bpe_blocks(merge_last=False))
            + f"\n    SELECT CAST(rnk AS INT) AS rnk, lhs, rhs, pair_count"
              f" FROM (\n{unions})")


def _sql_bpe_apply() -> str:
    """Oracle for tokenizer application: the same unrolled trainer,
    this time keeping the final merged sequences (seq{R+1}), joined
    against per-(source, word) counts for the corpus-level rollup."""
    final = f"seq{BPE_ROUNDS + 1}"
    return ("WITH" + ",".join(_sql_bpe_blocks(merge_last=True)) + f""",
    srcw AS (
      SELECT source, w AS word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT source, unnest(list_filter(
              regexp_split_to_array(lower(text), '[^a-z]+'),
              x -> x <> '')) AS w FROM documents)
      GROUP BY source, w)
    SELECT s.source,
           CAST(SUM(s.cnt) AS BIGINT) AS n_words,
           CAST(SUM(s.cnt * length(s.word)) AS BIGINT) AS n_chars,
           CAST(SUM(s.cnt * len(f.syms)) AS BIGINT) AS n_subwords,
           CAST(CAST(SUM(s.cnt * len(f.syms)) AS DOUBLE)
                / SUM(s.cnt) AS DOUBLE) AS subwords_per_word,
           CAST(CAST(SUM(s.cnt * len(f.syms)) AS DOUBLE)
                / SUM(s.cnt * (length(s.word) + 1)) AS DOUBLE)
             AS compression
    FROM srcw s JOIN {final} f ON f.word = s.word
    GROUP BY s.source""")


@query("bpe_train_merges", oracle=_sql_bpe_train())
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE merge-table trainer (Sennrich et al. 2016, 'Neural
    Machine Translation of Rare Words with Subword Units'): {R} rounds
    of count-adjacent-pairs → take the most frequent (count desc,
    pair asc tie-break) → greedy-left merge it across the corpus.
    ``bpe_pair_counts`` is one iteration's count table; this is the
    loop, emitting the learned merge rules (rank, lhs, rhs, count).

    The count→merge loop runs over the DISTINCT-WORD table with
    frequencies, not token instances — Heaps'-law sublinear in corpus
    size, the same reduction every production BPE trainer makes. Each
    round is one codegen pair-count aggregation plus a 1-row driver
    collect (the argmax — bounded, the same pattern as the k-means and
    connected-components driver loops), then an array-fold rewrite of
    the word sequences, checkpointed per round to cap lineage. The
    fold is an interpreted HOF, but over vocabulary-sized data (~10⁶
    rows at 100 TB, not 10¹²) that is the right trade; pair counting —
    the corpus-proportional step — stays whole-stage-codegen.

    Greedy-left fold semantics ≡ the oracle's positional formulation:
    for lhs≠rhs occurrences cannot overlap (an overlap at i, i+1 would
    need syms[i+1] = lhs = rhs); for lhs=rhs a run of k identical
    symbols merges ⌊k/2⌋ times from the left — the fold does this by
    construction, the SQL by even-offset starts within candidate
    islands."""
    merges, _seq = _bpe_learn(spark, sf_dir, merge_last=False)
    return spark.createDataFrame(
        merges, schema="rnk int, lhs string, rhs string, pair_count bigint")


def _bpe_learn(
    spark: SparkSession, sf_dir: str, merge_last: bool,
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """The trainer loop shared by bpe_train_merges (wants the merge
    table) and bpe_apply_vocab (wants the final segmented sequences):
    returns (merges, seq) where seq is (word, cnt, syms) after applying
    rounds 1..R-1 — or all R when ``merge_last``."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        fan_out(docs)
        .select(F.explode(F.filter(F.split(F.lower("text"), "[^a-z]+"),
                                   lambda x: x != "")).alias("word"))
        .groupBy("word").agg(F.count("*").cast("bigint").alias("cnt"))
    )
    seq = words.select(
        "word", "cnt",
        F.concat(F.filter(F.split("word", ""), lambda x: x != ""),
                 F.array(F.lit("</w>"))).alias("syms"))
    pairs_arr = F.expr(
        "CASE WHEN size(syms) < 2 THEN "
        "       CAST(array() AS array<struct<a string, b string>>) "
        "ELSE transform(sequence(1, size(syms) - 1), "
        "       i -> struct(element_at(syms, i) AS a, "
        "                   element_at(syms, i + 1) AS b)) END")
    merges: list[tuple[int, str, str, int]] = []
    for r in range(1, BPE_ROUNDS + 1):
        pairs = (
            seq.select("cnt", F.explode(pairs_arr).alias("p"))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("cnt").alias("c"))
        )
        top = pairs.orderBy(F.desc("c"), "a", "b").limit(1).collect()
        if not top:
            break
        a, b, c = top[0]["a"], top[0]["b"], int(top[0]["c"])
        merges.append((r, a, b, c))
        if r == BPE_ROUNDS and not merge_last:
            break
        merged = a + b
        new_syms = F.aggregate(
            "syms",
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(a)) & (x == F.lit(b)),
                F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1),
                         F.array(F.lit(merged))))
            .otherwise(F.concat(acc, F.array(x))))
        seq = materialize(seq.select("word", "cnt", new_syms.alias("syms")))
    return merges, seq


@query("bpe_apply_vocab", oracle=_sql_bpe_apply())
def bpe_apply_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION: run the learned 4-merge BPE over the
    corpus and report, per source, how well the shared vocabulary
    compresses it — words, characters, resulting subword count,
    subwords-per-word, and compression vs the unmerged char+marker
    baseline. This is the acceptance metric for a tokenizer trained on
    a mixed corpus (a source with poor compression is paying more
    sequence length per word than the mix it was trained with).

    Segmentation lives on the distinct-word table (vocabulary-sized);
    the per-source rollup joins word→n_subwords back to per-(source,
    word) counts — the corpus-proportional side carries only counts,
    never symbol arrays. One extra join + aggregation over the
    trainer's cost."""
    _merges, seq = _bpe_learn(spark, sf_dir, merge_last=True)
    docs = load_table(spark, sf_dir, "documents")
    srcw = (
        fan_out(docs)
        .select("source",
                F.explode(F.filter(F.split(F.lower("text"), "[^a-z]+"),
                                   lambda x: x != "")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    joined = srcw.join(seq.select("word", F.size("syms").alias("n_syms")),
                       "word")
    return (
        joined.groupBy("source")
        .agg(F.sum("cnt").cast("bigint").alias("n_words"),
             F.sum(F.col("cnt") * F.length("word")).cast("bigint")
             .alias("n_chars"),
             F.sum(F.col("cnt") * F.col("n_syms")).cast("bigint")
             .alias("n_subwords"),
             (F.sum(F.col("cnt") * F.col("n_syms")).cast("double")
              / F.sum("cnt")).alias("subwords_per_word"),
             (F.sum(F.col("cnt") * F.col("n_syms")).cast("double")
              / F.sum(F.col("cnt") * (F.length("word") + 1)))
             .alias("compression"))
    )


# --- feature-hashed text embeddings ---------------------------------------

FH_DIM = 64   # matches the embeddings table's dimensionality


def _sql_fh() -> str:
    from mit_mapreduce_spark.operators.dedup import _sql_hash60

    bucket = f"{_sql_hash60('w')} % {FH_DIM}"
    sgn = f"CASE WHEN {_sql_hash60(chr(39) + 'sgn#' + chr(39) + ' || w')} % 2 = 0 THEN 1 ELSE -1 END"
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS}) AS w FROM documents),
    b AS (
      SELECT doc_id, {bucket} AS dim, {sgn} AS sgn FROM toks),
    sparse AS (
      SELECT doc_id, dim, SUM(sgn) AS val FROM b GROUP BY doc_id, dim),
    dd AS (
      SELECT d.doc_id, s.i AS dim
      FROM documents d, (SELECT unnest(generate_series(0, {FH_DIM - 1})) AS i) s),
    dense AS (
      SELECT dd.doc_id, dd.dim, COALESCE(sp.val, 0) AS val
      FROM dd LEFT JOIN sparse sp USING (doc_id, dim))
    SELECT doc_id,
           list(CAST(val AS BIGINT) ORDER BY dim) AS vec,
           CAST(SUM(CASE WHEN val <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nnz,
           CAST(SUM(val * val) AS BIGINT) AS norm_sq
    FROM dense GROUP BY doc_id
    """


def _doc_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared (doc_id, w, tf) term-frequency frame — THE staged leg of
    the retrieval tier (VERDICT r7 #3): one tokenize + one map-side-
    combined aggregation, localCheckpoint'ed so `hybrid_rrf_retrieval`'s
    bm25 and kNN legs tokenize the corpus ONCE instead of once per leg.
    The BM25 leg always scores from it; `hashed_knn_search` passes no
    frame, so ``_fh_vectors`` keeps its own single-aggregation plan."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (fan_out(docs)
            .select("doc_id", F.explode(_spark_tokens()).alias("w")))
    return materialize(toks.groupBy("doc_id", "w")
                       .agg(F.count("*").cast("bigint").alias("tf")))


def _fh_vectors(spark: SparkSession, sf_dir: str,
                tf: DataFrame | None = None) -> DataFrame:
    """Feature-hashing text embeddings (Weinberger et al. 2009, 'the
    hashing trick'): each document becomes a {D}-dim signed-count
    vector — tokens hash to a dimension, a second hash bit supplies
    the ±1 sign that unbiases collisions. The model-free bridge from
    the text tier to the vector tier: these vectors feed the same
    cosine/LSH/PQ machinery as learned embeddings (and, being exact
    integers, stay under the full value-hash gate — no model weights,
    no floats until a consumer normalizes).

    One explode + one (doc, dim) map-side-combined aggregation + a
    per-doc dense assembly from a {D}-entry map — linear in corpus
    token count, the dimension bounded by construction. Docs with no
    tokens embed to the zero vector (nnz 0), which the cosine tier
    then EXCLUDES by its zero-norm rule — the two contracts compose.

    ``tf``: an optional staged (doc_id, w, tf) frame (``_doc_tf``).
    When given, the per-occurrence sign sum collapses to tf·sgn(w) per
    distinct (doc, word) — identical values (the sign is constant per
    word), one corpus tokenize saved when an audit op shares the frame
    with the bm25 leg. Default None keeps the original single-agg
    plan for the registered standalone queries."""
    from mit_mapreduce_spark.operators.dedup import hash60

    docs = load_table(spark, sf_dir, "documents")
    sgn = (F.when(F.pmod(hash60(F.concat(F.lit("sgn#"), F.col("w"))),
                         F.lit(2)) == 0, 1).otherwise(-1))
    if tf is None:
        occ = (fan_out(docs)
               .select("doc_id", F.explode(_spark_tokens()).alias("w"),
                       F.lit(1).cast("bigint").alias("n")))
    else:
        occ = tf.select("doc_id", "w", F.col("tf").cast("bigint").alias("n"))
    sparse = (
        occ.select("doc_id",
                   F.pmod(hash60(F.col("w")), F.lit(FH_DIM)).alias("dim"),
                   (sgn * F.col("n")).alias("sgn"))
        .groupBy("doc_id", "dim").agg(F.sum("sgn").alias("val"))
    )
    assembled = (
        sparse.groupBy("doc_id")
        .agg(F.map_from_entries(
            F.collect_list(F.struct("dim", "val"))).alias("_m"))
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(FH_DIM - 1)),
        lambda i: F.coalesce(F.element_at("_m", i), F.lit(0)).cast("bigint"))
    return (
        docs.select("doc_id").join(assembled, "doc_id", "left")
        .select("doc_id", vec.alias("vec"))
        .select(
            "doc_id", "vec",
            F.size(F.filter("vec", lambda x: x != 0)).cast("bigint")
            .alias("nnz"),
            F.aggregate("vec", F.lit(0).cast("bigint"),
                        lambda a, x: a + x * x).alias("norm_sq"))
    )


@query(
    "hashed_text_embeddings",
    oracle=f"""
    WITH fh AS ({_sql_fh()})
    SELECT doc_id, array_to_string(vec, ',') AS vec, nnz, norm_sq
    FROM fh
    """,
)
def hashed_text_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered boundary of ``_fh_vectors`` (see its docstring for the
    algorithm and 100 TB posture): identical rows, with the vector
    CSV-serialized (``array_join(vec, ',')``) because the external
    verification gate hashes pandas cells and raw array cells arrive as
    unhashable ndarrays. Internal consumers (``hashed_knn_search``)
    compose on the array-typed ``_fh_vectors`` directly — the string
    form exists only at the gate boundary."""
    return _fh_vectors(spark, sf_dir).select(
        "doc_id", F.array_join("vec", ",").alias("vec"), "nnz", "norm_sq")


# --- one sparse top-k core for the retrieval family ------------------------
#
# bm25_topk, rag_chunk_retrieval and retrieval_pruning_recall all score
# a sparse Q·Dᵀ over a shared key, then keep a per-query top-k; the
# two steps below are that computation, written once. hashed_knn_search
# and hybrid_rrf_retrieval rank through the same top-k step.

def _sparse_dot(postings: DataFrame, queries: DataFrame, key: str,
                ids: list[str], term: Column, name: str) -> DataFrame:
    """Σ ``term`` per (qid, *ids) over the posting ⋈ query match on
    ``key``: the query side (≤ a constant budget of rows) is broadcast,
    and self-matches (``ids[0] == qid``) are dropped. When a boolean
    ``_keep`` (posting side) and/or ``_qkeep`` (query side) column rides
    along — the impact-pruning verdict of that row — the same pass also
    sums ``term`` over the matches every flag keeps (``{name}_p``) and
    marks the pairs with at least one such match (``_has_p``): exactly
    the pruned index's candidate set and integer sum, since integer
    sums are order-independent."""
    flags = [F.col(c) for c, side in (("_keep", postings),
                                      ("_qkeep", queries))
             if c in side.columns]
    aggs = [F.sum(term).cast("bigint").alias(name)]
    if flags:
        keep = flags[0] if len(flags) == 1 else flags[0] & flags[1]
        aggs += [F.sum(F.when(keep, term)).cast("bigint").alias(f"{name}_p"),
                 F.max(keep).alias("_has_p")]
    return (postings.join(F.broadcast(queries), key)
            .where(F.col(ids[0]) != F.col("qid"))
            .groupBy("qid", *ids).agg(*aggs))


def _top_k(scored: DataFrame, score: str, ids: list[str], k: int,
           audit: bool = False) -> DataFrame:
    """Per-query top-``k`` by ``score`` desc, ties broken by ``ids``.

    Serving: every column of ``scored`` plus ``rnk``, rows ``rnk <= k``.

    Audit (``scored`` carries ``_has_p`` and ``{score}_p`` from a
    flagged ``_sparse_dot``): one row per exact candidate with
    ``rnk_e`` (exact rank), ``rnk_p`` (rank among the pruned
    candidates, valid where ``_has_p``) and ``_in_p`` (in the pruned
    top-k). Pruned rows sort first on ``_has_p`` desc, so row_number
    over the whole partition is the rank within the pruned candidate
    set, and both ranks ride ONE qid exchange on ONE frame. Every
    pruned candidate is an exact candidate, so a caller's
    exact∩pruned overlap is one aggregation over this frame, no
    self-join."""
    from pyspark.sql import Window as W

    we = W.partitionBy("qid").orderBy(F.col(score).desc(), *ids)
    if not audit:
        return (scored.select("*", F.row_number().over(we).cast("int")
                              .alias("rnk"))
                .where(F.col("rnk") <= k))
    scored = materialize(scored)
    rnk_p = F.row_number().over(
        W.partitionBy("qid").orderBy(F.col("_has_p").desc(),
                                     F.col(f"{score}_p").desc(), *ids))
    return scored.select(
        "qid", *ids,
        F.row_number().over(we).cast("int").alias("rnk_e"),
        (F.col("_has_p") & (rnk_p <= k)).alias("_in_p"),
        rnk_p.cast("int").alias("rnk_p"))


# --- text search over hashed embeddings -----------------------------------

FH_QUERY_MOD = 100   # doc_id % MOD == 0 pre-filters query candidates
FH_N_QUERIES = 64    # constant query budget (ORDER BY doc_id LIMIT)
FH_TOP_K = 3


def _sql_fh_knn() -> str:
    return f"""
    WITH fh AS ({_sql_fh()}),
    q AS (SELECT doc_id AS qid, vec AS qv, norm_sq AS qn FROM fh
          WHERE doc_id % {FH_QUERY_MOD} = 0 AND norm_sq > 0
          ORDER BY doc_id LIMIT {FH_N_QUERIES}),
    c AS (SELECT doc_id AS cid, vec AS cv, norm_sq AS cn FROM fh
          WHERE norm_sq > 0),
    dots AS (
      SELECT q.qid, c.cid,
             SUM(q.qv[i.i] * c.cv[i.i]) AS dot, ANY_VALUE(q.qn) AS qn,
             ANY_VALUE(c.cn) AS cn
      FROM q, c, (SELECT unnest(generate_series(1, {FH_DIM})) AS i) i
      WHERE c.cid <> q.qid
      GROUP BY q.qid, c.cid),
    scored AS (
      SELECT qid, cid, CAST(dot AS BIGINT) AS dot,
             CAST(dot AS DOUBLE)
               / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE)))
               AS cosine
      FROM dots)
    SELECT qid, cid, dot, cosine, CAST(rnk AS INT) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY qid
               ORDER BY cosine DESC, cid) AS rnk
          FROM scored)
    WHERE rnk <= {FH_TOP_K}
    """


@query("hashed_knn_search", oracle=_sql_fh_knn())
def hashed_knn_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-free document similarity search: exact cosine top-{k}
    over the feature-hashed vectors of ``hashed_text_embeddings`` —
    "find documents like this one" with no trained model anywhere in
    the loop, and with EXACT integer dot products (the vectors are
    signed counts, so there is no scaled-rounding contract at all —
    the dot column itself is a BIGINT under the hash gate).

    Same plan as ann_bruteforce_topk: the query set is a CONSTANT
    budget — `% {FH_QUERY_MOD}` pre-filter then ORDER BY doc_id
    LIMIT {FH_N_QUERIES} in BOTH engines — so the broadcast stays
    ≤ {FH_N_QUERIES} rows at any corpus size; candidates are a linear
    scan with a per-query top-k window. Zero-vector docs are excluded
    on both engines by the norm_sq > 0 rule (the zero-norm contract
    composing across tiers). At 100 TB the bounded-query exact scan is
    the rerank stage; candidate generation at scale is the LSH/PQ tier
    over these same vectors."""
    return _hashed_knn_impl(spark, sf_dir)


def _hashed_knn_impl(spark: SparkSession, sf_dir: str,
                     tf: DataFrame | None = None) -> DataFrame:
    """hashed_knn_search body; ``tf``: optional staged term-frequency
    frame forwarded to ``_fh_vectors`` (VERDICT r7 #3 leg staging)."""
    fh = materialize(_fh_vectors(spark, sf_dir, tf=tf))
    q = (fh.where((F.col("doc_id") % FH_QUERY_MOD == 0)
                  & (F.col("norm_sq") > 0))
         .orderBy("doc_id").limit(FH_N_QUERIES)
         .select(F.col("doc_id").alias("qid"), F.col("vec").alias("qv"),
                 F.col("norm_sq").alias("qn")))
    c = (fh.where(F.col("norm_sq") > 0)
         .select(F.col("doc_id").alias("cid"), F.col("vec").alias("cv"),
                 F.col("norm_sq").alias("cn")))
    # dense, not `_sparse_dot` over (dim, val) postings: a sparse join
    # drops the pairs with no shared dim, and under signed hashing their
    # cosine of 0 outranks every negative one, so they can be top-k
    dots = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("cid") != F.col("qid"))
        .select("qid", "cid", "qn", "cn",
                F.explode(F.arrays_zip(
                    F.col("qv").alias("x"), F.col("cv").alias("y"))).alias("_p"))
        .groupBy("qid", "cid", "qn", "cn")
        .agg(F.sum(F.col("_p.x") * F.col("_p.y")).alias("dot"))
    )
    scored = dots.select(
        "qid", "cid", F.col("dot").cast("bigint").alias("dot"),
        (F.col("dot").cast("double")
         / (F.sqrt(F.col("qn").cast("double"))
            * F.sqrt(F.col("cn").cast("double")))).alias("cosine"))
    return _top_k(scored, "cosine", ["cid"], FH_TOP_K)


# --- URL extraction + per-domain rollup (web-corpus curation) --------------

# The fixture text carries no URLs, so — exactly like pii_redact's
# synthesized PII — each document is suffixed with deterministic
# doc_id-derived URLs before extraction, proving the machinery fires.
_URL_PAYLOAD = (
    "text || ' see https://www.src-' || source || '.example.org/doc/'"
    " || CAST(doc_id % 50 AS VARCHAR)"
    " || CASE WHEN doc_id % 3 = 0 THEN"
    "      ' and http://cdn' || CAST(doc_id % 7 AS VARCHAR)"
    "      || '.example.net/a?b=1' ELSE '' END"
)
_URL_RE = r"https?://[^\s]+"
_DOMAIN_RE = r"^(https?)://([^/?#]+)"


@query(
    "url_domain_stats",
    oracle=f"""
    WITH p AS (
      SELECT doc_id, {_URL_PAYLOAD} AS payload FROM documents),
    u AS (
      SELECT doc_id,
             unnest(regexp_extract_all(payload, '{_URL_RE}')) AS url
      FROM p),
    d AS (
      SELECT doc_id,
             regexp_extract(url, '{_DOMAIN_RE}', 1) AS scheme,
             regexp_extract(url, '{_DOMAIN_RE}', 2) AS domain
      FROM u)
    SELECT domain, scheme,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM d GROUP BY domain, scheme
    """,
)
def url_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL extraction + per-domain rollup: the first step of every
    web-corpus curation stack (domain allow/deny lists, per-domain
    quality priors, domain-balanced mixtures all key off this table).
    Extraction is a JVM regexp_extract_all + one explode; domain and
    scheme parse with a single anchored regex — no Python, no UDF.

    100 TB posture: linear scan + one (domain, scheme) aggregation
    shuffle whose cardinality is the web's domain count (~10⁸ worst
    case — trivially shuffleable); the explode fan-out is bounded by
    URLs-per-document. Downstream joins against allow/deny lists are
    broadcast (list side is small by construction)."""
    from mit_mapreduce_spark.catalog import fan_out

    docs = load_table(spark, sf_dir, "documents")
    payload = F.expr(
        "concat(text, ' see https://www.src-', source,"
        " '.example.org/doc/', cast(doc_id % 50 as string),"
        " CASE WHEN doc_id % 3 = 0 THEN concat(' and http://cdn',"
        " cast(doc_id % 7 as string), '.example.net/a?b=1')"
        " ELSE '' END)")
    urls = (
        fan_out(docs)
        .select("doc_id", payload.alias("payload"))
        # pattern as a lit Column, NOT inside expr(): SQL string
        # literals eat the \s backslash (fuzz-class trap)
        .select("doc_id",
                F.explode(F.regexp_extract_all(
                    "payload", F.lit(_URL_RE), F.lit(0))).alias("url"))
    )
    return (
        urls.select(
            "doc_id",
            F.regexp_extract("url", _DOMAIN_RE, 1).alias("scheme"),
            F.regexp_extract("url", _DOMAIN_RE, 2).alias("domain"))
        .groupBy("domain", "scheme")
        .agg(F.count("*").cast("bigint").alias("n_urls"),
             F.countDistinct("doc_id").cast("bigint").alias("n_docs"))
    )


# --- vocabulary growth / hapax profile per source --------------------------

@query(
    "vocab_growth_by_source",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, unnest({_TOKS}) AS w FROM documents),
    wc AS (
      SELECT source, w, COUNT(*) AS cnt
      FROM toks GROUP BY source, w)
    SELECT source,
           CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS hapax,
           CAST(COUNT(*) AS DOUBLE) / SUM(cnt) AS ttr,
           CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS hapax_ratio
    FROM wc GROUP BY source
    """,
)
def vocab_growth_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary profile per source shard: token count, distinct
    vocabulary, hapax legomena (words seen exactly once), type-token
    ratio and hapax share. The Heaps-law inputs a tokenizer-training
    or dedup run consults first — an unusually LOW hapax share flags
    boilerplate/duplicated shards, an unusually HIGH one flags OCR
    noise or encoding damage (Baayen 2001, word-frequency
    distributions).

    Plan: explode to (source, word), one map-side-combined count
    aggregation (the wordcount shuffle), then a source-level rollup of
    the counts table — vocabulary-sized, Heaps-sublinear in corpus
    size. No text leaves the first aggregation; the rollup carries
    only counts."""
    from mit_mapreduce_spark.catalog import fan_out

    docs = load_table(spark, sf_dir, "documents")
    wc = (
        fan_out(docs)
        .select("source", F.explode(_spark_tokens()).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        wc.groupBy("source")
        .agg(F.sum("cnt").cast("bigint").alias("n_tokens"),
             F.count("*").cast("bigint").alias("vocab"),
             F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
             .cast("bigint").alias("hapax"),
             (F.count("*").cast("double") / F.sum("cnt")).alias("ttr"),
             (F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
              .cast("double") / F.count("*")).alias("hapax_ratio"))
    )


# --- BM25 lexical retrieval -------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 5
BM25_QUERY_MOD = 100   # doc_id % MOD == 0 pre-filters query candidates
BM25_N_QUERIES = 64    # constant query budget (ORDER BY doc_id LIMIT)
BM25_GRID = 1_000_000  # idf/term-score micro-grid (exact integer sums)
BM25_POSTING_TOP = 1024  # impact-sorted static index pruning depth for
                         # the PRUNED VARIANT (top-M postings per term
                         # by tf desc, doc_id — Anh & Moffat impact
                         # ordering / the static half of WAND). NOT the
                         # registered semantics: retrieval_pruning_recall
                         # measured recall@5 vs exact of 13% (sf0.1) and
                         # 1.6% (10x corpus) on this flat-vocabulary
                         # synthetic text, where rankings are decided by
                         # accumulated common-term score — exactly the
                         # mass truncation removes. The registered
                         # bm25_topk therefore serves the EXACT index;
                         # this depth sets the pruned index that the
                         # recall harness's audit pass scores.


def _sql_bm25(posting_top: int | None = None) -> str:
    """BM25 oracle; ``posting_top=None`` means the default pruned-TWIN
    depth (BM25_POSTING_TOP postings/term — NOT the registered
    semantics), an explicit value overrides, and 0 disables truncation
    (the EXACT index — what `bm25_topk` actually registers, and
    retrieval_pruning_recall's ground truth)."""
    top = BM25_POSTING_TOP if posting_top is None else posting_top
    postings = (
        "SELECT doc_id, w, tf FROM tf" if top == 0 else f"""
      SELECT doc_id, w, tf FROM (
        SELECT doc_id, w, tf,
               row_number() OVER (PARTITION BY w
                 ORDER BY tf DESC, doc_id) AS r
        FROM tf)
      WHERE r <= {top}""")
    return f"""
    WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS w FROM documents),
    tf AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY doc_id, w),
    dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
           FROM tf GROUP BY doc_id),
    stats AS (
      SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs,
             CAST((SELECT COALESCE(SUM(dl), 0) FROM dl) AS DOUBLE)
               / NULLIF((SELECT COUNT(*) FROM documents), 0) AS avgdl),
    dfreq AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY w),
    idf AS (
      SELECT w, CAST(round(ln((CAST(n_docs AS DOUBLE) - df + 0.5)
                              / (df + 0.5) + 1.0) * {BM25_GRID})
                     AS BIGINT) AS idf_micro
      FROM dfreq, stats),
    qids AS (
      SELECT doc_id FROM documents WHERE doc_id % {BM25_QUERY_MOD} = 0
      ORDER BY doc_id LIMIT {BM25_N_QUERIES}),
    q AS (SELECT doc_id AS qid, w FROM tf
          WHERE doc_id IN (SELECT doc_id FROM qids)),
    postings AS ({postings}),
    terms AS (
      SELECT q.qid, c.doc_id AS did,
             CAST(round(idf.idf_micro
                  * ((c.tf * {BM25_K1 + 1.0})
                     / (c.tf + {BM25_K1} * ({1.0 - BM25_B}
                        + {BM25_B} * (dl.dl / avgdl))))) AS BIGINT)
               AS term_score
      FROM q
      JOIN postings c ON c.w = q.w AND c.doc_id <> q.qid
      JOIN dl ON dl.doc_id = c.doc_id
      JOIN idf ON idf.w = q.w
      CROSS JOIN stats),
    scored AS (
      SELECT qid, did, CAST(SUM(term_score) AS BIGINT) AS score_micro
      FROM terms GROUP BY qid, did)
    SELECT qid, did, score_micro, CAST(rnk AS INT) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY qid
               ORDER BY score_micro DESC, did) AS rnk
          FROM scored)
    WHERE rnk <= {BM25_TOP_K}
    """


@query("bm25_topk", oracle=_sql_bm25(posting_top=0))
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (Robertson-Spärck Jones): each query
    document's terms score the corpus with the classic
    idf·tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl)) formula (k1={BM25_K1},
    b={BM25_B}) and the top-{BM25_TOP_K} documents come back — the
    lexical leg of every hybrid retrieval stack, next to the hashed/
    dense legs (`rag_chunk_retrieval`, `hashed_knn_search`).

    Determinism under the hash gate: ln() is the one libm call whose
    last bit can differ across engines, so idf is SNAPPED to a
    {BM25_GRID} integer grid immediately (the collocations/LM-quality
    log-free discipline, relaxed by one quantized ln); every per-term
    score is likewise a rounded integer, so the per-(query, doc)
    aggregation is an exact integer sum — order-independent under any
    partitioning.

    Plan shape: postings (doc, term, tf) once, df/dl side tables
    (vocabulary- and corpus-bounded), and a CONSTANT query budget —
    `% {BM25_QUERY_MOD}` pre-filter then ORDER BY doc_id
    LIMIT {BM25_N_QUERIES} in BOTH engines — so the broadcast query
    term set is genuinely bounded at any corpus size (≤ {BM25_N_QUERIES}
    docs' terms), never corpus-proportional. Candidate volume is
    Σ_term q_tf·df(term) — the inverted-index bound, LINEAR in the
    corpus with a constant query factor (the same complexity class as
    the documented exact-rerank scan), never |Q|×|D| superlinear.
    n_docs/avgdl are a 1-row in-plan aggregate riding a broadcast
    (no driver collect; an empty corpus degrades to zero rows through
    NULL avgdl, no division error).

    Registered semantics are the EXACT index. Impact-truncated posting
    lists (BM25_POSTING_TOP) looked like the obvious 100 TB candidate
    bound, but `retrieval_pruning_recall` MEASURED the quality cost on
    this corpus — recall@5 vs exact of 13% at sf0.1 and 1.6% at the
    10× corpus, because this synthetic vocabulary is flat enough that
    rankings are decided by accumulated common-term score, exactly the
    mass truncation removes. The pruned index is scored by the same
    pass in audit mode (`_bm25_ranked(…, audit=True)`) and kept honest
    by the registered recall harness — the production pattern
    (never ship static pruning without a recall eval on YOUR corpus;
    on Zipf-natural corpora the same pruning is near-lossless, see
    SCALE.md round-7)."""
    return _bm25_ranked(spark, sf_dir, _doc_tf(spark, sf_dir), audit=False)


def _bm25_ranked(spark: SparkSession, sf_dir: str, tf: DataFrame,
                 audit: bool) -> DataFrame:
    """The BM25 leg's one scoring pass over the staged (doc_id, w, tf)
    frame ``tf`` (``_doc_tf``; shared with the kNN leg by hybrid
    retrieval). Serving (``audit=False``) scores the exact index and
    returns bm25_topk's rows. Audit flags each posting with its impact
    verdict — top-BM25_POSTING_TOP per term by tf desc, doc_id, the
    pruned index's window — and returns ``_top_k``'s exact and pruned
    ranks from the same candidate pass (r15: one 4.5 M-row candidate
    join at sf0.1 instead of one per variant); df/dl/idf stay exact in
    both indexes."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dl"))
    stats = (
        docs.agg(F.count("*").cast("bigint").alias("n_docs"))
        .crossJoin(dl.agg(F.coalesce(F.sum("dl"), F.lit(0)).cast("double")
                          .alias("_total")))
        .select("n_docs",
                (F.col("_total")
                 / F.nullif(F.col("n_docs"), F.lit(0)).cast("double"))
                .alias("avgdl"))
    )
    dfreq = tf.groupBy("w").agg(F.count("*").cast("bigint").alias("df"))
    idf = (
        dfreq.crossJoin(F.broadcast(stats))
        .select(
            "w", "avgdl",
            F.round(F.log((F.col("n_docs").cast("double") - F.col("df") + 0.5)
                          / (F.col("df") + 0.5) + 1.0) * BM25_GRID)
            .cast("bigint").alias("idf_micro"))
    )
    qids = (docs.where(F.col("doc_id") % BM25_QUERY_MOD == 0)
            .orderBy("doc_id").limit(BM25_N_QUERIES).select("doc_id"))
    q = (tf.join(F.broadcast(qids), "doc_id")
         .select(F.col("doc_id").alias("qid"), "w"))
    term_score = F.round(
        F.col("idf_micro")
        * ((F.col("tf") * (BM25_K1 + 1.0))
           / (F.col("tf") + BM25_K1 * ((1.0 - BM25_B)
              + BM25_B * (F.col("dl") / F.col("avgdl")))))).cast("bigint")
    postings, keep = tf, []
    if audit:
        wp = W.partitionBy("w").orderBy(F.col("tf").desc(), "doc_id")
        postings = tf.withColumn("_r", F.row_number().over(wp))
        keep = [(F.col("_r") <= BM25_POSTING_TOP).alias("_keep")]
    # r14 (guide §2.3 "shuffle fewer bytes" / §1.2 per-task work):
    # term_score depends only on (w, doc) — never on the query — so it
    # is computed ONCE PER POSTING (|postings| rows) before the query
    # join instead of once per (posting, query) candidate (measured
    # 4.5M candidate rows vs 245k postings at sf0.1, i.e. ~18x less
    # rounding/division work, and the candidate rows that do flow into
    # the aggregation carry one bigint instead of tf+dl+avgdl+idf).
    # Identical integers: the per-(w, doc) rounding sees the same
    # inputs, and the integer sum is order-independent.
    postings_scored = (
        postings.join(dl, "doc_id").join(idf, "w")
        .select("w", F.col("doc_id").alias("did"),
                term_score.alias("term_score"), *keep)
    )
    scored = _sparse_dot(postings_scored, q, "w", ["did"],
                         F.col("term_score"), "score_micro")
    return _top_k(scored, "score_micro", ["did"], BM25_TOP_K, audit)


# --- hybrid retrieval: reciprocal-rank fusion of the two legs ---------------

RRF_K = 60            # the standard RRF damping constant (Cormack et al.)
RRF_GRID = 10 ** 9    # 1/(k+rank) on an integer micro-grid (exact sums)
RRF_TOP_K = 5


def _sql_rrf() -> str:
    from mit_mapreduce_spark.operators.registry import ORACLES

    return f"""
    WITH bm AS ({ORACLES['bm25_topk']}),
    kn AS ({ORACLES['hashed_knn_search']}),
    united AS (
      SELECT qid, did, {RRF_GRID} // ({RRF_K} + rnk) AS rrf FROM bm
      UNION ALL
      SELECT qid, cid AS did, {RRF_GRID} // ({RRF_K} + rnk) AS rrf FROM kn),
    fused AS (
      SELECT qid, did, CAST(SUM(rrf) AS BIGINT) AS rrf_micro,
             CAST(COUNT(*) AS BIGINT) AS n_legs
      FROM united GROUP BY qid, did)
    SELECT qid, did, rrf_micro, n_legs, CAST(rnk AS INT) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY qid
               ORDER BY rrf_micro DESC, did) AS rnk
          FROM fused)
    WHERE rnk <= {RRF_TOP_K}
    """


@query("hybrid_rrf_retrieval", oracle=_sql_rrf())
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion (Cormack, Clarke &
    Buettcher 2009): union the lexical leg (`bm25_topk`) and the dense
    leg (`hashed_knn_search`), score each (query, doc) hit as
    Σ_legs 1/({RRF_K}+rank), keep the top-{RRF_TOP_K} — the standard
    production recipe for combining keyword and embedding search
    without score calibration (ranks are comparable, raw scores are
    not). `n_legs` records how many legs retrieved the doc (2 = both,
    the high-confidence band).

    Determinism: 1/(k+rank) is snapped to a {RRF_GRID} integer grid
    (floor division — identical in both engines for positive ints), so
    the fusion sum is exact integer arithmetic under the hash gate.
    Scale posture: both legs already carry the constant query budget
    (ORDER BY doc_id LIMIT) and their certified plans; the fusion adds
    one union + one (qid, did) aggregation over ≤ 2·|Q|·top_k rows —
    kilobytes at any corpus size. At 100 TB this is the cheap head of
    the funnel's output, not a data-scale operator. The legs SHARE the
    staged (doc, term, tf) frame (`_doc_tf`, VERDICT r7 #3): the
    feature-hash vectors are derived from the same checkpointed tf the
    bm25 postings use (tf·sgn(w) per word — identical values), so the
    corpus is tokenized once per audit run, not once per leg."""
    # r14 (guide §1.2): the two legs' construction (analysis +
    # lazy-checkpoint planning) overlaps as two parallel legs — same
    # frames, same single fused action (see retrieval_pruning_recall).

    tf = _doc_tf(spark, sf_dir)
    rrf = lambda rnk: F.expr(f"{RRF_GRID} div ({RRF_K} + {rnk})")  # noqa: E731
    bm, kn = parallel_legs(
        lambda: _bm25_ranked(spark, sf_dir, tf, audit=False)
        .select("qid", "did", rrf("rnk").alias("rrf")),
        lambda: _hashed_knn_impl(spark, sf_dir, tf=tf)
        .select("qid", F.col("cid").alias("did"),
                rrf("rnk").alias("rrf")))
    fused = (
        bm.unionByName(kn)
        .groupBy("qid", "did")
        .agg(F.sum("rrf").cast("bigint").alias("rrf_micro"),
             F.count("*").cast("bigint").alias("n_legs"))
    )
    return _top_k(fused, "rrf_micro", ["did"], RRF_TOP_K)


# --- cross-language quantile normalization ---------------------------------

# COALESCE(text, '') keeps a NULL-text document's ratio at 0.0 in
# BOTH engines (r8 review #4: a NULL ratio sorted nulls-FIRST in
# Spark's window but nulls-LAST in DuckDB's, shifting every q_norm in
# the language partition).
_TOKS_NN = ("list_filter(regexp_split_to_array(COALESCE(text, ''),"
            " '[^\\p{L}]+'), x -> x <> '')")

_SQL_QNORM = f"""
    WITH q AS (
      SELECT doc_id, lang,
             CAST(CASE WHEN length({_TOKS_NN}) = 0 THEN 0.0
                  ELSE CAST(length(list_filter({_TOKS_NN},
                       x -> x IN ({_sql_in_list(_STOP)})))
                       AS DOUBLE) / length({_TOKS_NN}) END AS DOUBLE)
               AS stop_ratio
      FROM documents
    )
    SELECT doc_id, lang, stop_ratio,
           CAST(percent_rank() OVER (PARTITION BY lang ORDER BY stop_ratio)
                AS DOUBLE) AS q_norm
    FROM q
"""


@query("quality_quantile_norm", oracle=_SQL_QNORM)
def quality_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-language score calibration: a raw quality signal (the
    stopword ratio from `quality_score`) is NOT comparable across
    languages — stopword inventories differ — so mixing pipelines
    normalize per-language to the quantile scale first (the
    percentile transform behind "keep the top 30% of every language").
    q_norm = ANSI PERCENT_RANK within lang: (rank-1)/(n_lang-1), ties
    share a rank identically in both engines, and the ratio itself is
    one deterministic integer division, so the whole row sits under
    the hash gate.

    100 TB posture: exact quantile normalization needs a per-language
    sort — Spark plans it as one range-partitioned window per lang
    partition (languages are few, each sorts in parallel by range).
    When an approximate rank suffices at extreme scale, swap the
    window for an approx-quantile histogram lookup (the
    sketch_quantile_bins machinery); registered semantics stay the
    exact transform."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce("text", F.lit("")))
    toks = _spark_tokens()
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*_STOP)))
    ratio = (F.when(n_tokens == 0, F.lit(0.0))
             .otherwise(n_stop.cast("double") / n_tokens).cast("double"))
    q = docs.select("doc_id", "lang", ratio.alias("stop_ratio"))
    w = W.partitionBy("lang").orderBy("stop_ratio")
    return q.select("doc_id", "lang", "stop_ratio",
                    F.percent_rank().over(w).cast("double").alias("q_norm"))
