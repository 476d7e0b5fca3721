"""Shared banded-Hamming machinery for the perceptual near-dup tiers.

ONE implementation of everything the image (multimodal.py), audio,
and video (mmdedup.py) fingerprint tiers have in common — r10
consolidation of what the r9 verdict flagged as hand-synced copies,
finished after a self-review found the first pass had merely moved
the duplication (helpers lived in mmdedup, which imports multimodal,
so the image tier couldn't reach them):

Spark side
- explode_bands:            two-word signature -> (band, band_value) rows
- banded_hamming_pairs2:    pair search (the dedup_simhash_pairs shape)
- fingerprint_search_topk:  query-centric top-k over the same index
- label_with_singletons:    min-label CC + singleton fill
- keep_report_frame:        per-language keep/drop rollup

DuckDB side (oracle text builders, parameterized by the same
geometry constants the Spark ops use)
- sql_planted_hex:          planted-variant payload hex reconstruction
- sql_band_tail:            banded candidates + Hamming radius filter
- sql_search_tail:          query-side candidates + top-k window
- sql_cc_over:              recursive transitive closure over a pair query
- sql_keep_report_over:     per-language keep report over a cluster query
- sql_sigs_over:            signature-table repack (HUGEINT + wrap)

The banding argument (documented once here, cited by every tier):
a 128-bit signature cut into 8 bands of 16 bits is pigeonhole-
LOSSLESS for any radius < 8 — r flipped bits can touch at most r
bands, so every pair within the radius shares an unchanged band and
surfaces from the (band, band_value) equi-self-join. Random
collisions are ~n²/2^bits per band (times a small descent-pattern
correlation factor, measured in SCALE.md), never |assets|².
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mit_mapreduce_spark.catalog import load_table

_HEXPOS = "strpos('0123456789abcdef', substr(hex, CAST({p} AS INT), 1)) - 1"


def sql_byte_at(byte_expr: str) -> str:
    """DuckDB expression: the byte value at 0-based BYTE offset
    ``byte_expr`` of the hex column ``hex`` (two nibble lookups).
    The ONE byte-at helper for every chain-reconstruction oracle —
    byte index in, byte value out (ADVICE r10: a hex-digit-offset
    twin of this lived in multimodal.py and the two conventions
    differed by a factor of 2; consolidated here on the byte-index
    convention)."""
    return (f"(({_HEXPOS.format(p=f'2*({byte_expr}) + 1')}) * 16"
            f" + ({_HEXPOS.format(p=f'2*({byte_expr}) + 2')}))")


# --- the incoming-shard split, single-sourced --------------------------------
#
# Every incremental screen and streaming alert shares ONE split of
# the corpus into "today's incoming shard" and "the retained index":
# id % 40 < 6. It lives here (r12) because both the media tiers
# (mmdedup) and the embedding tier (similarity) consume it, and
# similarity must not import mmdedup.

INC_MOD, INC_LT = 40, 6
INC_PRED = f"{{d}} % {INC_MOD} < {INC_LT}"


def inc_col(name: str):
    """Spark twin of INC_PRED over the given id column — TRUE for
    rows in the incoming shard."""
    return F.col(name) % INC_MOD < INC_LT


# --- Spark side --------------------------------------------------------------

def explode_bands(sigs: DataFrame, n_bands: int, band_bits: int) -> DataFrame:
    """(asset_id, sig0, sig1) -> one row per (asset_id, b, bv): the
    two-word signature cut into n_bands bands of band_bits bits (low
    words first: band b lives in sig0 when b < 64/band_bits, else
    sig1). shiftright is arithmetic but the mask makes the extraction
    sign-safe — shared by the pair join and the search."""
    per_word = 64 // band_bits
    if n_bands > 2 * per_word:
        # not an assert: a violation silently drops the overflow
        # bands from the index (incomplete pair set), and asserts
        # vanish under `python -O` (ADVICE r10)
        raise ValueError(
            f"{n_bands} bands of {band_bits} bits exceed two int64 words")
    mask = (1 << band_bits) - 1
    return sigs.select(
        "asset_id", "sig0", "sig1",
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("b"),
    ).select(
        "asset_id", "sig0", "sig1", "b",
        F.expr(
            f"shiftright(if(b < {per_word}, sig0, sig1),"
            f" (b % {per_word}) * {band_bits}) & {mask}"
        ).alias("bv"),
    )


def banded_hamming_pairs2(sigs: DataFrame, n_bands: int, band_bits: int,
                          ham_max: int) -> DataFrame:
    """Near-duplicate (asset_a, asset_b, hamming) pairs from a
    two-word signature table (asset_id, sig0, sig1).

    Candidates come from an equi-self-join on (band, band_value) —
    pigeonhole-lossless for radius ham_max when ham_max < n_bands —
    and the Hamming filter sums exactly two popcounts over four
    join-output attributes: the packed form that keeps Catalyst
    constraint inference O(1) and the filter pushable into the join
    output stream (the r9 SCALE.md find). Callers localCheckpoint
    the signature frame so the kernel runs once, not once per join
    leg."""
    if ham_max >= n_bands:
        # pigeonhole losslessness needs radius < n_bands; a violating
        # caller would silently get an INCOMPLETE pair set, so this
        # must survive `python -O` (ADVICE r10)
        raise ValueError(
            f"radius {ham_max} not pigeonhole-lossless with {n_bands} bands")
    bands = explode_bands(sigs, n_bands, band_bits)
    x = bands.alias("x")
    y = bands.alias("y")
    cand = (
        x.join(y, (F.col("x.b") == F.col("y.b"))
               & (F.col("x.bv") == F.col("y.bv"))
               & (F.col("x.asset_id") < F.col("y.asset_id")))
        .select(F.col("x.asset_id").alias("asset_a"),
                F.col("y.asset_id").alias("asset_b"),
                F.col("x.sig0").alias("sa0"), F.col("x.sig1").alias("sa1"),
                F.col("y.sig0").alias("sb0"), F.col("y.sig1").alias("sb1"))
        .distinct()
    )
    ham = (F.bit_count(F.col("sa0").bitwiseXOR(F.col("sb0")))
           + F.bit_count(F.col("sa1").bitwiseXOR(F.col("sb1"))))
    return (
        cand.select("asset_a", "asset_b", ham.cast("int").alias("hamming"))
        .where(F.col("hamming") <= ham_max)
    )


def fingerprint_search_topk(sigs: DataFrame, n_bands: int, band_bits: int,
                            query_mod: int, k: int) -> DataFrame:
    """Query-centric top-k over a two-word signature table: for each
    query asset (asset_id % query_mod == 0), the k nearest assets by
    full 128-bit Hamming among its band candidates — same banding as
    banded_hamming_pairs2, query-filtered on one side, no radius
    filter, per-query window with deterministic tie order (hamming,
    cid). Callers localCheckpoint the signature frame."""
    bands = explode_bands(sigs, n_bands, band_bits)
    qb = (bands.where(F.col("asset_id") % query_mod == 0)
          .select(F.col("asset_id").alias("qid"),
                  F.col("sig0").alias("qs0"), F.col("sig1").alias("qs1"),
                  "b", "bv"))
    cb = bands.select(F.col("asset_id").alias("cid"),
                      F.col("sig0").alias("cs0"),
                      F.col("sig1").alias("cs1"), "b", "bv")
    cand = (
        qb.join(cb, ["b", "bv"])
        .where(F.col("cid") != F.col("qid"))
        .select("qid", "cid", "qs0", "qs1", "cs0", "cs1")
        .distinct()
    )
    ham = (F.bit_count(F.col("qs0").bitwiseXOR(F.col("cs0")))
           + F.bit_count(F.col("qs1").bitwiseXOR(F.col("cs1"))))
    scored = cand.select("qid", "cid", ham.cast("int").alias("hamming"))
    from pyspark.sql import Window as W
    w = W.partitionBy("qid").orderBy("hamming", "cid")
    return (
        scored.select("qid", "cid", "hamming",
                      F.row_number().over(w).cast("int").alias("rnk"))
        .where(F.col("rnk") <= k)
    )


def banded_match_scores(inc_sigs: DataFrame, idx_sigs: DataFrame,
                        n_bands: int, band_bits: int,
                        ham_max: int) -> DataFrame:
    """(asset_id, matched_id, hamming) for every banded candidate
    within ham_max between an INCOMING signature frame and an INDEX
    signature frame — the one-sided twin of banded_hamming_pairs2's
    self-join (same pigeonhole losslessness: <= ham_max flipped bits
    leave an unchanged shared band). NOT de-duplicated: a pair
    sharing k bands appears k times, with identical hamming on every
    copy — the batch screen's best-pick window and the streaming
    alert's dropDuplicates both absorb that, and skipping the
    distinct here keeps the operator a single stateless join (which
    is what lets the SAME body run inside a micro-batch against a
    static index)."""
    if ham_max >= n_bands:
        raise ValueError(
            f"radius {ham_max} not pigeonhole-lossless with {n_bands} bands")
    ib = explode_bands(inc_sigs, n_bands, band_bits).select(
        "asset_id", F.col("sig0").alias("_is0"),
        F.col("sig1").alias("_is1"), "b", "bv")
    xb = explode_bands(idx_sigs, n_bands, band_bits).select(
        F.col("asset_id").alias("matched_id"),
        F.col("sig0").alias("_xs0"), F.col("sig1").alias("_xs1"), "b", "bv")
    ham = (F.bit_count(F.col("_is0").bitwiseXOR(F.col("_xs0")))
           + F.bit_count(F.col("_is1").bitwiseXOR(F.col("_xs1"))))
    return (
        ib.join(xb, ["b", "bv"])
        .select("asset_id", "matched_id", ham.cast("int").alias("hamming"))
        .where(F.col("hamming") <= ham_max)
    )


def incremental_screen(inc_assets: DataFrame, inc_sigs: DataFrame,
                       idx_sigs: DataFrame, n_bands: int, band_bits: int,
                       ham_max: int) -> DataFrame:
    """Incremental near-dup SCREEN: for every incoming asset, the
    best (min hamming, tie min id) in-radius match in the persisted
    signature index, or NULLs when nothing in the index is within
    the radius — the media twin of dedup_incremental_bloom's
    shard-vs-corpus verdict, riding the shared band machinery
    one-sided. Returns (asset_id, matched_id, hamming, is_neardup)
    with exactly one row per incoming asset."""
    from pyspark.sql import Window as W

    scored = banded_match_scores(inc_sigs, idx_sigs, n_bands, band_bits,
                                 ham_max)
    w = W.partitionBy("asset_id").orderBy("hamming", "matched_id")
    best = (scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1).drop("rn"))
    return (
        inc_assets.join(best, "asset_id", "left")
        .select("asset_id", "matched_id", "hamming",
                F.col("matched_id").isNotNull().alias("is_neardup"))
    )


def label_with_singletons(entities: DataFrame, id_col: str,
                          pairs: DataFrame, a: str, b: str) -> DataFrame:
    """(id_col, cluster_id) over EVERY entity: min-label connected
    components over the pair graph's vertex set only (near-dup
    vertices « corpus), then one left join that defaults pair-free
    entities to singleton clusters — the shared decision step of all
    three near-dup tiers."""
    from mit_mapreduce_spark.operators.dedup import min_label_components

    labels = min_label_components(pairs, a, b)
    return (
        entities.join(labels, entities[id_col] == labels.vertex, "left")
        .select(entities[id_col].alias(id_col),
                F.coalesce("cluster_id", entities[id_col])
                .alias("cluster_id"))
    )


def keep_report_frame(spark: SparkSession, sf_dir: str,
                      clusters: DataFrame) -> DataFrame:
    """Per-language keep/drop rollup over a (asset_id, cluster_id)
    table: keep the canonical (min-id) member of every cluster — the
    Spark twin of sql_keep_report_over, shared by the image/audio/
    video keep reports (the dedup_keep_report shape)."""
    docs = load_table(spark, sf_dir, "documents") \
        .select(F.col("doc_id").alias("asset_id"), "lang")
    kept = F.col("cluster_id") == F.col("asset_id")
    per = docs.join(clusters, "asset_id")
    return (
        per.groupBy("lang")
        .agg(F.count("*").cast("bigint").alias("n_assets"),
             F.sum(kept.cast("long")).cast("bigint").alias("n_kept"),
             F.sum((~kept).cast("long")).cast("bigint").alias("n_removed"))
        .select("lang", "n_assets", "n_kept", "n_removed",
                (F.col("n_kept").cast("double")
                 / F.col("n_assets").cast("double"))
                .cast("double").alias("kept_frac"))
    )


# --- planted-variant fixture construction (Spark + oracle twins) -------------

def planted_base(docs: DataFrame, prefixes: tuple[str, ...],
                 group: int) -> DataFrame:
    """Adds the planted-group columns: _base (group chain seed),
    _v (variant 0..group-1), _pfx (this variant's overwrite hex)."""
    prefix_map = F.element_at(
        F.array(*[F.lit(p) for p in prefixes]),
        (F.col("doc_id") % group + 1).cast("int"))
    return (
        docs
        .withColumn("_base", F.col("doc_id") - F.col("doc_id") % group)
        .withColumn("_v", (F.col("doc_id") % group).cast("int"))
        .withColumn("_pfx", prefix_map)
    )


def planted_chain_expr(seed: str, need: int, unit_bytes: int) -> "F.Column":
    """Spark expr: prefix(v) ‖ chain(base)[unit_bytes·v ..] sliced to
    `need` total bytes — the planted-variant payload construction
    shared by all three perceptual fixtures (expects _base/_v/_pfx
    columns; the prefix hex must be unit_bytes·v bytes long so every
    variant's payload stays exactly `need` bytes)."""
    n_digests = (need + 31) // 32
    return F.expr(
        f"concat(unhex(_pfx), substring("
        f"substring(unhex(concat_ws('', transform(sequence(0, {n_digests - 1}),"
        f" i -> sha2(concat('{seed}', cast(_base as string), '|',"
        f" cast(i as string)), 256)))), 1, {need}),"
        f" {unit_bytes} * _v + 1, {need} - {unit_bytes} * _v))")


def sql_planted_hex(seed: str, need: int, unit_bytes: int,
                    prefixes: tuple[str, ...], group: int,
                    where: str | None = None) -> str:
    """DuckDB CTE text (p, ch, hx): rebuild each asset's payload hex
    from the group chain + variant prefix — the oracle-side twin of
    planted_chain_expr. hx carries (doc_id, hex, jmax); jmax is the
    byte index bound threaded through a COLUMN because a literal
    bound constant-folds DuckDB's list out of row context (the
    lambda-correlation gotcha). ``where`` restricts which documents
    HAVE an asset of this modality (the sparse-corpus model the r11
    manifest rides); None = every doc (the dense pair-op fixtures)."""
    n_digests = (need + 31) // 32
    cases = " ".join(
        f"WHEN {v} THEN '{p}'" for v, p in enumerate(prefixes[:-1]))
    where_sql = f" WHERE {where}" if where else ""
    return f"""
    p AS (
      SELECT doc_id, doc_id - doc_id % {group} AS base,
             CAST(doc_id % {group} AS INT) AS v
      FROM documents{where_sql}),
    ch AS (
      SELECT doc_id, v,
             substr(array_to_string(list_transform(
                      generate_series(0, {n_digests - 1}),
                      i -> sha256('{seed}' || CAST(base AS VARCHAR) || '|'
                                  || CAST(i AS VARCHAR))), ''),
                    1, {need * 2}) AS chain
      FROM p),
    hx AS (
      SELECT doc_id,
             (CASE v {cases} ELSE '{prefixes[-1]}' END)
             || substr(chain, {unit_bytes} * v * 2 + 1,
                       ({need} - {unit_bytes} * v) * 2) AS hex,
             {need - 1} AS jmax
      FROM ch)"""


# --- oracle tails ------------------------------------------------------------

def sql_band_tail(ham_max: int) -> str:
    """DuckDB tail over a CTE named `bits` (doc_id, band, bv): banded
    candidates + per-pair Hamming via summed band popcounts — shared
    verbatim by all three pair oracles."""
    return f"""
    cand AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM bits x JOIN bits y
        ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id),
    pairs AS (
      SELECT c.a, c.b,
             CAST(SUM(bit_count(xor(x.bv, y.bv))) AS INT) AS hamming
      FROM cand c
      JOIN bits x ON x.doc_id = c.a
      JOIN bits y ON y.doc_id = c.b AND y.band = x.band
      GROUP BY c.a, c.b)
    SELECT a AS asset_a, b AS asset_b, hamming
    FROM pairs WHERE hamming <= {ham_max}
    """


def sql_search_tail(query_mod: int, k: int) -> str:
    """DuckDB tail over a CTE named `bits`: query-side banded
    candidates, full-Hamming re-score, per-query top-k window
    (hamming asc, cid asc ties) — shared by the search oracles."""
    return f"""
    cand AS (
      SELECT DISTINCT x.doc_id AS qid, y.doc_id AS cid
      FROM bits x JOIN bits y
        ON x.band = y.band AND x.bv = y.bv AND y.doc_id <> x.doc_id
      WHERE x.doc_id % {query_mod} = 0),
    scored AS (
      SELECT c.qid, c.cid,
             CAST(SUM(bit_count(xor(x.bv, y.bv))) AS INT) AS hamming
      FROM cand c
      JOIN bits x ON x.doc_id = c.qid
      JOIN bits y ON y.doc_id = c.cid AND y.band = x.band
      GROUP BY c.qid, c.cid),
    ranked AS (
      SELECT qid, cid, hamming,
             CAST(row_number() OVER (PARTITION BY qid
                  ORDER BY hamming, cid) AS INT) AS rnk
      FROM scored)
    SELECT qid, cid, hamming, rnk FROM ranked WHERE rnk <= {k}
    """


def sql_screen_scored(inc_pred: str, ham_max: int) -> str:
    """DuckDB CTEs (cand, scored, inrad) over a `bits` CTE split
    asymmetrically into an incoming shard and the index: banded
    candidates between the two sides, per-pair Hamming, radius
    filter. ``inc_pred`` is a predicate template over ``{d}`` (the
    doc_id column) selecting the INCOMING side; the index is its
    complement. Shared by the incremental-screen and streaming-alert
    oracles."""
    return f"""
    cand AS (
      SELECT DISTINCT x.doc_id AS iid, y.doc_id AS cid
      FROM bits x JOIN bits y
        ON x.band = y.band AND x.bv = y.bv
      WHERE ({inc_pred.format(d='x.doc_id')})
        AND NOT ({inc_pred.format(d='y.doc_id')})),
    scored AS (
      SELECT c.iid, c.cid,
             CAST(SUM(bit_count(xor(x.bv, y.bv))) AS INT) AS hamming
      FROM cand c
      JOIN bits x ON x.doc_id = c.iid
      JOIN bits y ON y.doc_id = c.cid AND y.band = x.band
      GROUP BY c.iid, c.cid),
    inrad AS (SELECT iid, cid, hamming FROM scored
              WHERE hamming <= {ham_max})"""


def sql_incremental_tail(inc_pred: str, ham_max: int) -> str:
    """DuckDB tail over `bits`: the incremental screen's per-incoming-
    asset verdict — best in-radius index match (min hamming, tie min
    id) or NULLs, one row per incoming asset."""
    return f"""
    {sql_screen_scored(inc_pred, ham_max)},
    best AS (
      SELECT iid, cid, hamming,
             row_number() OVER (PARTITION BY iid
                                ORDER BY hamming, cid) AS rn
      FROM inrad)
    SELECT d.doc_id AS asset_id,
           CAST(b.cid AS BIGINT) AS matched_id,
           b.hamming AS hamming,
           (b.cid IS NOT NULL) AS is_neardup
    FROM documents d
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.iid = d.doc_id
    WHERE {inc_pred.format(d='d.doc_id')}
    """


def sql_alert_tail(inc_pred: str, ham_max: int) -> str:
    """DuckDB tail over `bits`: the streaming near-dup alert's pair
    rows — every (incoming asset, index asset) within the radius."""
    return f"""
    {sql_screen_scored(inc_pred, ham_max)}
    SELECT iid AS asset_id, CAST(cid AS BIGINT) AS matched_id, hamming
    FROM inrad
    """


def sql_cc_over(pairs_sql: str, where: str | None = None) -> str:
    """DuckDB recursive transitive closure over a pair query — the
    declarative check of the iterative min-label loop. ``where``
    restricts the singleton-filled vertex set to the docs that HAVE
    an asset (must match the ``where`` the pair query was built
    with); None = every doc."""
    where_sql = f" WHERE {where}" if where else ""
    return f"""
    WITH RECURSIVE base AS ({pairs_sql}),
    und AS (
      SELECT asset_a AS a, asset_b AS b FROM base
      UNION ALL
      SELECT asset_b AS a, asset_a AS b FROM base
    ),
    reach(a, b) AS (
      SELECT a, b FROM und
      UNION
      SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
    )
    SELECT d.doc_id AS asset_id,
           CAST(LEAST(d.doc_id,
                COALESCE((SELECT MIN(b) FROM reach WHERE a = d.doc_id),
                         d.doc_id)) AS BIGINT) AS cluster_id
    FROM documents d{where_sql}
    """


def sql_keep_report_over(cc_sql: str) -> str:
    """DuckDB per-language keep report over a cluster query (keeper =
    the min-id member) — shared by the three keep reports."""
    return f"""
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_assets,
           CAST(SUM(CASE WHEN c.cluster_id = d.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN c.cluster_id = d.doc_id THEN 0 ELSE 1 END)
                AS BIGINT) AS n_removed,
           CAST(CAST(SUM(CASE WHEN c.cluster_id = d.doc_id THEN 1 ELSE 0
                         END) AS DOUBLE) / COUNT(*) AS DOUBLE) AS kept_frac
    FROM documents d
    JOIN ({cc_sql}) c ON c.asset_id = d.doc_id
    GROUP BY d.lang
    """


def sql_sigs_over(bits_sql: str) -> str:
    """DuckDB twin of a SIGNATURE TABLE itself (asset_id, sig0, sig1)
    over any bits CTE chain: repack the recomputed 16-bit band values
    into the two int64 words exactly as the kernels do — band b
    contributes bv·2^(16·(b mod 4)) to word b div 4, accumulated in
    HUGEINT (the top band's contribution, up to 65535·2^48, exceeds
    int64) and wrapped to signed two's-complement. Verifies the
    kernels' PACKING step directly, which the pair/search oracles
    only exercise via the unpacked band values; gates the streaming
    ingest legs (stream_{image,audio,video}_fingerprints)."""
    def word(lo_band: int) -> str:
        return " + ".join(
            f"SUM(CASE WHEN band = {lo_band + slot} THEN"
            f" CAST(bv AS HUGEINT) * {1 << (16 * slot)}"
            f" ELSE 0 END)" for slot in range(4))

    def wrap(col: str) -> str:
        return (f"CAST(CASE WHEN {col} >= 9223372036854775808 THEN"
                f" {col} - 18446744073709551616 ELSE {col} END AS BIGINT)")

    return f"""
    WITH {bits_sql},
    sig AS (
      SELECT doc_id, {word(0)} AS s0, {word(4)} AS s1
      FROM bits GROUP BY doc_id)
    SELECT doc_id AS asset_id, {wrap('s0')} AS sig0, {wrap('s1')} AS sig1
    FROM sig
    """
