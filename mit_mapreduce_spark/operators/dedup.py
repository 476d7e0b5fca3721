"""Deduplication operators over `documents`: exact, normalized-exact,
MinHash+LSH near-dup (with exact n-gram Jaccard verification), and
SimHash signatures.

North-star LLM-pipeline surface (the reference has no dedup concept;
its nearest relative is the indexer's per-doc token dedup,
`mrapps/indexer.go:21-25`). Everything here is pure DataFrame
expression work — no Python UDFs, no cross joins:

- Exact dedup is a sha256 groupBy (one shuffle).
- MinHash-LSH: per-doc 3-word shingles → 12 md5-derived min-hashes
  (4 bands × 3 rows) → equi-self-join on (band, band_hash) to get
  candidates → exact shingle-Jaccard verification on candidates only.
  The only joins are key-equi-joins; candidate volume is bounded by
  the banding threshold ((1/4)^(1/3) ≈ 0.63), so the all-pairs
  O(n²) comparison never materializes at any scale.
- SimHash: 60-bit signature per doc from token-hash bit majorities —
  one aggregation pass with 60 integer partial sums.

Cross-engine determinism: the 60-bit hash is
``conv(substring(md5(x),1,15),16,10)`` in Spark and
``('0x' || substring(md5(x),1,15))::BIGINT`` in DuckDB — identical
values (verified bit-for-bit), so even the LSH pipeline is fully
oracle-checked, not rows-only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mit_mapreduce_spark.catalog import fan_out, load_table
from mit_mapreduce_spark.operators.registry import query
from mit_mapreduce_spark.session import materialize

N_SEEDS = 12          # minhash permutations
BAND_ROWS = 3         # rows per LSH band
N_BANDS = N_SEEDS // BAND_ROWS
JACCARD_MIN = 0.6     # final verified near-dup threshold

# --- shared hash/shingle builders (Spark + SQL twins) ---------------------


def hash60(col: Column) -> Column:
    """Deterministic 60-bit integer hash from the md5 hex prefix."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _sql_hash60(expr: str) -> str:
    return f"('0x' || substring(md5({expr}), 1, 15))::BIGINT"


def shingles_df(docs: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, shingle) — distinct k-word shingles per document.
    Tokens are reference-semantics words (SURVEY.md §2.4.1); shingles
    are built with a JVM-side transform over index sequences (no
    explode until the final distinct-shingle rows)."""
    toks = F.filter(F.split("text", r"[^\p{L}]+"), lambda x: x != "")
    # Short-doc guard: with fewer than k tokens, sequence(1, size-k+1)
    # would be DESCENDING (e.g. sequence(1, 0) = [1, 0]) and slice at
    # position 0 throws INVALID_PARAMETER_VALUE.START — any 2-token
    # document would crash the whole pipeline. Such docs simply have
    # no k-shingles: emit an empty array.
    arr = F.expr(
        f"""CASE WHEN size(_toks) < {k} THEN array()
                 ELSE transform(sequence(1, size(_toks) - {k - 1}),
                                i -> concat_ws(' ', slice(_toks, i, {k})))
            END"""
    )
    return (
        fan_out(docs.select("doc_id", "text"))
        .select("doc_id", toks.alias("_toks"))
        .select("doc_id", F.explode(F.array_distinct(arr)).alias("shingle"))
    )


_SQL_SHINGLES = """
  SELECT DISTINCT doc_id,
         arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS shingle
  FROM (SELECT doc_id, generate_subscripts(arr, 1) AS i, arr
        FROM (SELECT doc_id,
                     list_filter(regexp_split_to_array(text, '[^\\p{L}]+'),
                                 x -> x <> '') AS arr
              FROM documents))
  WHERE i + 2 <= length(arr)
"""


# --- exact dedup ----------------------------------------------------------

@query(
    "dedup_exact",
    oracle="""
    SELECT sha256(text) AS fp, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: cluster documents by content hash; the kept
    representative is the minimum doc_id per cluster. One hash-groupBy
    shuffle — the canonical 100 TB exact-dedup plan."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.sha2("text", 256).alias("fp"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_id"))
    )


@query(
    "dedup_exact_norm",
    oracle="""
    SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
           COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after case/whitespace normalization — catches the
    trivial near-dups (reformatted copies) before the expensive
    MinHash stage runs."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    return (
        docs.groupBy(F.md5(norm).alias("fp"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_id"))
    )


# --- MinHash + LSH near-dup ----------------------------------------------

def _minhash_sigs(sh: DataFrame) -> DataFrame:
    """(doc_id, n, s0..s11): shingle count + column-wise minima of
    seeded shingle hashes — one aggregation shuffle keyed on doc_id
    (the count rides along free, saving a second scan for set sizes)."""
    mins = [
        F.min(hash60(F.concat(F.col("shingle"), F.lit(f"#{seed}"))))
        .alias(f"s{seed}")
        for seed in range(N_SEEDS)
    ]
    return sh.groupBy("doc_id").agg(F.count("*").alias("n"), *mins)


def _band_hashes(sigs: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_hash): md5 over each band's signature
    slice; posexplode keeps it one row per (doc, band)."""
    bands = F.array(*[
        F.md5(F.concat_ws(",", *[
            F.col(f"s{b * BAND_ROWS + r}").cast("string")
            for r in range(BAND_ROWS)
        ]))
        for b in range(N_BANDS)
    ])
    return (
        sigs.select("doc_id", F.posexplode(bands).alias("band_idx", "band_hash"))
    )


def _sql_minhash_cte() -> str:
    """Shared CTE prefix (shingles, sigs, bands) of the MinHash
    oracles — factored (r11) so the pair pipeline and the incremental
    screen compose the IDENTICAL signature/band construction instead
    of hand-synced copies."""
    sig_cols = ", ".join(
        "MIN({h}) AS s{i}".format(
            h=_sql_hash60(f"shingle || '#{seed}'"), i=seed)
        for seed in range(N_SEEDS)
    )
    band_selects = []
    for b in range(N_BANDS):
        cols = [f"s{b * BAND_ROWS + r}::VARCHAR" for r in range(BAND_ROWS)]
        concat = " || ',' || ".join(cols)
        band_selects.append(
            f"      SELECT doc_id, {b} AS band_idx, md5({concat}) AS band_hash\n"
            f"      FROM sigs"
        )
    band_rows = "\n      UNION ALL\n".join(band_selects)
    return f"""shingles AS ({_SQL_SHINGLES}),
    sigs AS (SELECT doc_id, {sig_cols} FROM shingles GROUP BY doc_id),
    bands AS (
{band_rows}
    )"""


def _sql_minhash_pipeline() -> str:
    return f"""
    WITH {_sql_minhash_cte()},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
      FROM cand c
      JOIN shingles sa ON sa.doc_id = c.doc_a
      JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_inter AS BIGINT) AS n_inter,
           CAST(za.n AS BIGINT) AS n_a,
           CAST(zb.n AS BIGINT) AS n_b,
           CAST(i.n_inter AS DOUBLE) / (za.n + zb.n - i.n_inter) AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.doc_a
    JOIN sizes zb ON zb.doc_id = i.doc_b
    WHERE CAST(i.n_inter AS DOUBLE) / (za.n + zb.n - i.n_inter) >= {JACCARD_MIN}
    """


@query("dedup_minhash", oracle=_sql_minhash_pipeline())
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs with exact Jaccard verification.

    shingle → 12 seeded min-hashes → 4 bands × 3 rows → candidates from
    band-hash equality (equi-join, never a cross product) → exact
    3-gram Jaccard on candidates only → pairs with J ≥ 0.6.

    At 100 TB: the shingle explode is linear in corpus size; the band
    join shuffles (band_idx, band_hash) keys whose bucket sizes are the
    LSH collision groups (AQE splits the rare hot bucket); verification
    touches only candidate pairs, a vanishing fraction of n²."""
    docs = load_table(spark, sf_dir, "documents")
    # Materialize the shingle set and signatures once (lazily): sh
    # feeds the signature agg AND both verification join legs, sigs
    # feeds both band-join sides and the size lookup — without the
    # checkpoint the tokenize→shingle→md5 pipeline re-executes up to
    # six times per run (measured 2× end-to-end on dedup_clusters at
    # sf0.1). At cluster scale the same role is played by
    # persist(MEMORY_AND_DISK) with recompute lineage.
    sh = materialize(shingles_df(docs))
    sigs = materialize(_minhash_sigs(sh))
    bands = _band_hashes(sigs)

    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
               & (F.col("a.band_hash") == F.col("b.band_hash"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )

    sizes = sigs.select("doc_id", "n")
    sa = sh.alias("sa")
    sb = sh.alias("sb")
    inter = (
        cand.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, (F.col("sb.doc_id") == F.col("doc_b"))
              & (F.col("sb.shingle") == F.col("sa.shingle")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )

    za = sizes.alias("za")
    zb = sizes.alias("zb")
    jac = (F.col("n_inter").cast("double")
           / (F.col("za.n") + F.col("zb.n") - F.col("n_inter")))
    return (
        inter.join(za, F.col("za.doc_id") == F.col("doc_a"))
        .join(zb, F.col("zb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a", "doc_b",
            F.col("n_inter").cast("bigint").alias("n_inter"),
            F.col("za.n").cast("bigint").alias("n_a"),
            F.col("zb.n").cast("bigint").alias("n_b"),
            jac.alias("jaccard"),
        )
        .where(F.col("jaccard") >= JACCARD_MIN)
    )


# --- SimHash --------------------------------------------------------------

N_BITS = 60


def _sql_simhash() -> str:
    bit_sums = ", ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(N_BITS)
    )
    recompose = " + ".join(
        f"CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(N_BITS)
    )
    return f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, word
      FROM (SELECT doc_id,
                   unnest(regexp_split_to_array(text, '[^\\p{{L}}]+')) AS word
            FROM documents)
      WHERE word <> ''),
    hashed AS (SELECT doc_id, {_sql_hash60('word')} AS h FROM toks),
    bits AS (SELECT doc_id, {bit_sums} FROM hashed GROUP BY doc_id)
    SELECT doc_id, CAST({recompose} AS BIGINT) AS simhash
    FROM bits
    """


def _simhash_sigs(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) — 60-bit SimHash per document: bit j of the
    signature is the majority vote of bit j across the doc's distinct
    token hashes. One aggregation pass (60 integer partial sums —
    map-side combined)."""
    toks = (
        fan_out(docs.select("doc_id", "text"))
        .select("doc_id", F.explode(
            F.filter(F.split("text", r"[^\p{L}]+"), lambda x: x != "")
        ).alias("word"))
        .distinct()
        .select("doc_id", hash60(F.col("word")).alias("h"))
    )
    bit_sums = [
        F.sum(F.when(F.shiftright("h", j).bitwiseAND(1) == 1, 1).otherwise(-1))
        .alias(f"b{j}")
        for j in range(N_BITS)
    ]
    bits = toks.groupBy("doc_id").agg(*bit_sums)
    recompose = None
    for j in range(N_BITS):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        recompose = term if recompose is None else recompose + term
    return bits.select("doc_id", recompose.cast("bigint").alias("simhash"))


@query("dedup_simhash", oracle=_sql_simhash())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signature table; near-dup candidates are then
    signature-hamming neighbors, found by banding the signature
    exactly like MinHash (see dedup_simhash_pairs)."""
    return _simhash_sigs(load_table(spark, sf_dir, "documents"))


# --- SimHash near-dup pairs (banded Hamming join) -------------------------

SH_BANDS = 4                      # 4 bands x 15 bits
SH_BAND_BITS = N_BITS // SH_BANDS
SH_HAM_MAX = 3                    # <= 3 differing bits of 60


def _sql_simhash_pairs() -> str:
    return f"""
    WITH sigs AS ({_sql_simhash()}),
    bands AS (
      SELECT doc_id, simhash, b,
             (simhash >> (b * {SH_BAND_BITS})) & {(1 << SH_BAND_BITS) - 1} AS bv
      FROM sigs, (SELECT unnest(generate_series(0, {SH_BANDS - 1})) AS b)),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
             x.simhash AS sa, y.simhash AS sb
      FROM bands x JOIN bands y
        ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id)
    SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(sa, sb)) <= {SH_HAM_MAX}
    """


@query("dedup_simhash_pairs", oracle=_sql_simhash_pairs())
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance, found without
    any all-pairs comparison: the 60-bit signature is cut into
    {SH_BANDS} bands of {SH_BAND_BITS} bits and candidates come from an
    equi-self-join on (band, band_value).

    LOSSLESS for this radius: {SH_HAM_MAX} differing bits can touch at
    most {SH_HAM_MAX} of the {SH_BANDS} bands (pigeonhole), so every
    pair within Hamming {SH_HAM_MAX} shares at least one unchanged
    band and is guaranteed to surface as a candidate — banding here is
    an exact index, not an approximation.

    100 TB posture: signature build is one agg pass; the pair search
    is a key-equi-join on band value (shuffle bounded by band-bucket
    sizes, never n^2), then a per-candidate popcount filter — the
    same plan shape as dedup_minhash, which plan tests assert is
    CartesianProduct-free."""
    # Checkpoint: the signature build (tokenize + distinct + 60 partial
    # sums) feeds BOTH legs of the band self-join; without reuse it
    # executes twice.
    sigs = materialize(
        _simhash_sigs(load_table(spark, sf_dir, "documents")))
    mask = (1 << SH_BAND_BITS) - 1
    bands = sigs.select(
        "doc_id", "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(SH_BANDS - 1))).alias("b"),
    ).select(
        "doc_id", "simhash", "b",
        F.expr(f"shiftright(simhash, b * {SH_BAND_BITS}) & {mask}")
        .alias("bv"),
    )
    x = bands.alias("x")
    y = bands.alias("y")
    cand = (
        x.join(y, (F.col("x.b") == F.col("y.b"))
               & (F.col("x.bv") == F.col("y.bv"))
               & (F.col("x.doc_id") < F.col("y.doc_id")))
        .select(F.col("x.doc_id").alias("doc_a"),
                F.col("y.doc_id").alias("doc_b"),
                F.col("x.simhash").alias("sa"),
                F.col("y.simhash").alias("sb"))
        .distinct()
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        cand.select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
        .where(F.col("hamming") <= SH_HAM_MAX)
    )


# --- connected components over the near-dup graph -------------------------

MAX_CC_ITERS = 20


def min_label_components(pairs: DataFrame, a: str, b: str,
                         max_iters: int = MAX_CC_ITERS) -> DataFrame:
    """(vertex, cluster_id) for every vertex of the undirected pair
    graph — min-label propagation to a fixpoint: a driver loop over
    DataFrame joins with a materialize() per round to truncate
    lineage. Extracted from dedup_clusters (r9) so the image
    perceptual-hash tier composes the SAME loop instead of a third
    hand-synced copy. The loop runs ONLY over the edge graph's vertex
    set — callers left-join the full entity table and default missing
    vertices to singleton clusters. Raises if the graph's diameter
    exceeds max_iters rather than returning silently-partial labels
    (the oracles compute full transitive closures)."""
    edges = materialize(
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .union(pairs.select(F.col(b).alias("src"), F.col(a).alias("dst")))
    )
    # r15 (guide §2.2 "fewer, larger reduce partitions"): right-size
    # the LOOP's shuffles to the edge volume. Each round shuffles only
    # (vertex, label) rows — bytes-proportional work with no per-row
    # amplification — but under the session's shuffle partitioning +
    # the 64 KB AQE floor a few-MB label table fans to ~32 tiny tasks
    # per stage, x4 stages x diameter rounds of pure scheduling
    # overhead (measured: the media cluster family ran FASTER at 8
    # cores than 32). Size-adaptive, never a local constant: ~4 MB of
    # edges per task (64 B/edge estimate), capped at the session's
    # own shuffle.partitions so a big graph keeps full parallelism —
    # at production volumes the cap always wins and nothing changes.
    # The count materializes the checkpoint the first round needs
    # anyway. The size is applied by explicit repartition(n_loop, key)
    # on the loop's own frames, never through the session conf, so
    # any number of loops (the manifest build runs four at once) and
    # unrelated queries can share one session. The floor is 2: a
    # 1-partition repartition plans as SinglePartition, which the join
    # planner re-sizes to the session's shuffle partitions.
    n_edges = edges.count()
    cap = int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    n_loop = min(cap, max(2, -(-n_edges * 64 // (4 * 1024 * 1024))))
    return _min_label_loop(edges, n_loop, max_iters)


def _min_label_loop(edges: DataFrame, n_loop: int,
                    max_iters: int) -> DataFrame:
    """The propagation loop proper (see min_label_components). Every
    shuffle of a round is an explicit hash repartition into ``n_loop``
    parts on its join / grouping key. When BOTH sides of a join are
    fresh Exchanges, the planner (EnsureRequirements) re-sizes them to
    the session's shuffle partitions, so one side of each join is an
    aggregate over its Exchange: the edge side's distinct (a pair
    listed both ways is one directed edge) and, in the second join,
    the neighbour-min groupBy. The edge side is rebuilt every round: a
    checkpoint of it does not keep its hash partitioning, and a cache
    filled up front does, but its exact size turns each round's join
    into a broadcast of the edges, which measured slower at sf0.1.
    """
    by_dst = edges.repartition(n_loop, "dst").distinct()
    # symmetrized edges ⇒ every component member appears as src
    labels = materialize(
        edges.select(F.col("src").alias("vertex"))
        .repartition(n_loop, "vertex").distinct()
        .select("vertex", F.col("vertex").alias("cluster_id"))
    )
    changed = -1
    for _ in range(max_iters):
        lab = labels.repartition(n_loop, "vertex")
        nbr_min = (
            by_dst.join(lab, by_dst.dst == lab.vertex)
            .repartition(n_loop, "src")
            .groupBy("src").agg(F.min("cluster_id").alias("_nbr_min"))
        )
        joined = lab.join(nbr_min, lab.vertex == nbr_min.src, "left")
        # Carry the changed flag out of the SAME join that computes the
        # new label — the convergence check then reads the checkpointed
        # result instead of re-joining new labels against old (which
        # cost one extra shuffle join per round).
        stepped = materialize(joined.select(
            "vertex",
            F.least(F.col("cluster_id"),
                    F.coalesce("_nbr_min", "cluster_id")).alias("new_cluster"),
            (F.least(F.col("cluster_id"),
                     F.coalesce("_nbr_min", "cluster_id"))
             != F.col("cluster_id")).cast("int").alias("_chg"),
        ))
        changed = stepped.agg(F.sum("_chg")).collect()[0][0] or 0
        labels = stepped.select(
            "vertex", F.col("new_cluster").alias("cluster_id"))
        if changed == 0:
            break
    if changed != 0:
        # A component with diameter > max_iters would otherwise return
        # silently-wrong partial labels. Fail loudly instead.
        raise RuntimeError(
            f"min_label_components: propagation did not converge in "
            f"{max_iters} rounds ({changed} labels still changing); "
            f"raise max_iters for graphs with larger diameters")
    return labels


def _sql_cc() -> str:
    pairs = f"SELECT doc_a, doc_b FROM ({_sql_minhash_pipeline()})"
    return f"""
    WITH RECURSIVE und AS (
      SELECT doc_a AS a, doc_b AS b FROM ({pairs})
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM ({pairs})
    ),
    reach(a, b) AS (
      SELECT a, b FROM und
      UNION
      SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
    )
    SELECT d.doc_id,
           CAST(LEAST(d.doc_id,
                COALESCE((SELECT MIN(b) FROM reach WHERE a = d.doc_id),
                         d.doc_id)) AS BIGINT) AS cluster_id
    FROM documents d
    """


@query("dedup_clusters", oracle=_sql_cc())
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components of the verified
    MinHash pair graph — the step that turns pairs into keep/drop
    decisions (cluster_id = min doc_id in the component; docs with no
    near-dup are their own cluster).

    The iterative-algorithm surface: min-label propagation to a
    fixpoint, driver loop over DataFrame joins with a materialize()
    per round to truncate lineage. The loop runs ONLY over the edge
    graph's vertex set — every doc outside it is provably its own
    singleton cluster and joins the result once at the end. At 100 TB
    this is the difference between iterating over billions of docs
    and iterating over the near-dup graph (vertices « corpus; each
    round is one edge⋈label shuffle, rounds ≈ component diameter,
    tiny for dedup graphs — LSH finds most pairs of a duplicate
    cluster directly, making components near-cliques). The oracle is
    a DuckDB recursive-CTE transitive closure — the iterative Spark
    computation is checked against declarative reachability. The loop
    itself is the shared min_label_components helper (r9)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_minhash(spark, sf_dir).select("doc_a", "doc_b")
    labels = min_label_components(pairs, "doc_a", "doc_b")
    # docs untouched by any near-dup pair: singleton clusters, no loop
    return (
        docs.select("doc_id")
        .join(labels, docs.doc_id == labels.vertex, "left")
        .select("doc_id",
                F.coalesce("cluster_id", "doc_id").alias("cluster_id"))
    )


# --- exact n-gram Jaccard via prefix filtering ----------------------------

NGRAM_T = 0.9   # word-set Jaccard threshold (the synthetic corpus draws
# from a small shared vocabulary, so moderate thresholds match nearly
# all pairs; 0.9 keeps the candidate set — and the result — selective)
NGRAM_MOD = 5   # deterministic 1-in-5 doc sample: this corpus is
# pathologically self-similar (~8% of ALL pairs pass J>=0.9), so the
# unscoped result is ~n^2/13 rows at any sf; the sample bounds output
# volume while exercising the identical plan. Real corpora don't need it.


def _sql_ngram_bruteforce() -> str:
    """Brute-force all-pairs word-set Jaccard — deliberately naive.

    The Spark side uses AllPairs prefix filtering (Bayardo et al.,
    WWW'07), which is LOSSLESS at the threshold; hashing the filtered
    result against this exhaustive oracle proves no pair was dropped."""
    return f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(
        list_filter(regexp_split_to_array(text, '[^\\p{{L}}]+'),
                    x -> x <> '')) AS word
      FROM documents WHERE doc_id % {NGRAM_MOD} = 0),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM toks a JOIN toks b ON b.word = a.word AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_inter AS BIGINT) AS n_inter,
           CAST(za.n AS BIGINT) AS n_a,
           CAST(zb.n AS BIGINT) AS n_b,
           CAST(i.n_inter AS DOUBLE) / (za.n + zb.n - i.n_inter) AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.doc_a
    JOIN sizes zb ON zb.doc_id = i.doc_b
    WHERE CAST(i.n_inter AS DOUBLE) / (za.n + zb.n - i.n_inter) >= {NGRAM_T}
    """


@query("dedup_ngram_jaccard", oracle=_sql_ngram_bruteforce())
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT word-set Jaccard near-dup pairs (J >= NGRAM_T) without the
    all-pairs join: AllPairs prefix + size filtering.

    Unlike MinHash-LSH (probabilistic recall), this is exact: order
    the vocabulary by ascending document frequency (rarest first; ties
    broken by word, a total order), and for a doc with n tokens keep
    only its first n - ceil(t*n) + 1 ordered tokens as its "prefix".
    Two sets with Jaccard >= t MUST share a prefix token under a
    common global order, and their sizes must satisfy
    t*max(|a|,|b|) <= min(|a|,|b|) — both filters are lossless, and
    the oracle is the NAIVE all-pairs computation, so a hash match
    certifies that no qualifying pair was dropped.

    Verification joins each candidate pair back to the two per-doc
    sorted token arrays and takes size(array_intersect(...)) — one
    codegen expression per pair, no token re-explode and no second
    aggregation shuffle.

    At 100 TB: df (vocabulary-sized) broadcasts onto the token stream;
    the per-doc sort is local (docs are short next to partitions); the
    candidate join keys on prefix words, which the df-ascending order
    makes maximally selective — rare words first means small join
    buckets, and the frequent words that would create hot buckets are
    exactly the ones prefix filtering excludes."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % NGRAM_MOD == 0)
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(
            F.filter(F.split("text", r"[^\p{L}]+"), lambda x: x != "")
        )).alias("word"),
    )
    dfreq = toks.groupBy("word").agg(F.count("*").alias("df"))

    ordered = materialize(
        toks.join(F.broadcast(dfreq), "word")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("df", "word"))).alias("o"),
             F.count("*").alias("n"))
        .select("doc_id", "n", F.expr("transform(o, s -> s.word)").alias("words"))
        # Checkpoint: the per-doc ordered-token build feeds the prefix
        # explode (self-joined, 2 legs) AND both verification legs —
        # five executions without reuse.
    )
    prefix = ordered.select(
        "doc_id", "n",
        F.posexplode(F.expr(
            f"slice(words, 1,"
            f" cast(n - ceil({NGRAM_T} * n) + 1 as int))")).alias("pos", "word"),
    )

    # PPJoin positional filter (Xiao et al., WWW'08): a prefix token
    # matched at 0-based positions (pa, pb) of the two df-ordered
    # arrays bounds the overlap by
    #   1 + min(pa, pb) + min(n_a-pa-1, n_b-pb-1)
    # (tokens globally ordered before the match sit left of it in BOTH
    # arrays; tokens after it sit right of it in both). J >= t needs
    # overlap >= t/(1+t)*(n_a+n_b); rows whose bound already fails are
    # pruned BEFORE the distinct shuffle. Lossless: the bound is valid
    # for EVERY shared token of a qualifying pair, so such a pair keeps
    # all its candidate rows — certified by the brute-force oracle.
    a, b = prefix.alias("a"), prefix.alias("b")
    ubound = (1 + F.least(F.col("a.pos"), F.col("b.pos"))
              + F.least(F.col("a.n") - F.col("a.pos") - 1,
                        F.col("b.n") - F.col("b.pos") - 1))
    need = (F.col("a.n") + F.col("b.n")) * (NGRAM_T / (1.0 + NGRAM_T))
    cand = (
        a.join(b, (F.col("a.word") == F.col("b.word"))
               & (F.col("a.doc_id") < F.col("b.doc_id"))
               # lossless size filter: J>=t forces t*|big| <= |small|
               & (F.col("a.n") >= NGRAM_T * F.col("b.n"))
               & (F.col("b.n") >= NGRAM_T * F.col("a.n"))
               & (ubound >= need))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )

    wa, wb = ordered.alias("wa"), ordered.alias("wb")
    verified = (
        cand.join(wa, F.col("wa.doc_id") == F.col("doc_a"))
        .join(wb, F.col("wb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a", "doc_b",
            F.size(F.array_intersect("wa.words", "wb.words"))
            .cast("bigint").alias("n_inter"),
            F.col("wa.n").cast("bigint").alias("n_a"),
            F.col("wb.n").cast("bigint").alias("n_b"),
        )
    )
    jac = (F.col("n_inter").cast("double")
           / (F.col("n_a") + F.col("n_b") - F.col("n_inter")))
    return (
        verified.select("doc_a", "doc_b", "n_inter", "n_a", "n_b",
                        jac.alias("jaccard"))
        .where(F.col("jaccard") >= NGRAM_T)
    )


# --- substring-level duplicate passages -----------------------------------

P_LEN = 15   # passage window, in tokens


@query(
    "dup_passages",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[^\\p{{L}}]+'),
                         x -> x <> '') AS arr
      FROM documents),
    pas AS (
      SELECT doc_id,
             {_sql_hash60(f"array_to_string(list_slice(arr, i, i + {P_LEN - 1}), ' ')")}
               AS phash
      FROM (SELECT doc_id, generate_subscripts(arr, 1) AS i, arr FROM toks)
      WHERE i + {P_LEN - 1} <= length(arr))
    SELECT phash,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occ,
           MIN(doc_id) AS first_doc
    FROM pas
    GROUP BY phash
    HAVING COUNT(DISTINCT doc_id) > 1
    """,
)
def dup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level duplication: every 15-token window
    that recurs across documents, with its document and occurrence
    counts — the passage-granular dedup signal (C4 / RefinedWeb style)
    that document-level MinHash misses (boilerplate headers, quoted
    chunks, licence blocks shared by otherwise-distinct docs).

    The rolling windows are built JVM-side with the same
    transform-over-index-sequence shape as shingles_df (no explode
    until the hash rows), hashed to 60-bit ints so the shuffle carries
    8-byte keys, never the passage text. One groupBy shuffle; at
    100 TB this is the canonical map-side-combined agg. Downstream,
    cutting the spans out of the docs is a join back on phash."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", r"[^\p{L}]+"), lambda x: x != "")
    arr = F.expr(
        f"""CASE WHEN size(_toks) < {P_LEN} THEN array()
                 ELSE transform(sequence(1, size(_toks) - {P_LEN - 1}),
                                i -> concat_ws(' ', slice(_toks, i, {P_LEN})))
            END"""
    )
    pas = (
        fan_out(docs.select("doc_id", "text"))
        .select("doc_id", toks.alias("_toks"))
        .select("doc_id", F.explode(arr).alias("passage"))
        .select("doc_id", hash60(F.col("passage")).alias("phash"))
    )
    return (
        pas.groupBy("phash")
        .agg(F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
             F.count("*").cast("bigint").alias("n_occ"),
             F.min("doc_id").alias("first_doc"))
        .where(F.col("n_docs") > 1)
    )


# --- triangle count over the near-dup graph -------------------------------

@query(
    "graph_triangles",
    oracle=f"""
    WITH pairs AS (SELECT doc_a, doc_b FROM ({_sql_minhash_pipeline()}))
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM pairs p1
    JOIN pairs p2 ON p2.doc_a = p1.doc_b
    JOIN pairs p3 ON p3.doc_a = p1.doc_a AND p3.doc_b = p2.doc_b
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the verified near-dup graph — the clustering-
    coefficient signal that distinguishes tight duplicate cliques
    (boilerplate families) from chain-like false-positive paths.

    The edge list is oriented (doc_a < doc_b holds for every
    dedup_minhash pair), so each triangle a<b<c matches exactly one
    (p1=(a,b), p2=(b,c), p3=(a,c)) join chain — the standard
    distributed triangle enumeration, two equi-join shuffles over the
    edge relation, no direction dedup pass needed. The edge list is
    localCheckpointed once so the LSH pipeline is not re-derived per
    join leg; at 100 TB the orientation step (by degree, not id) is
    the wedge-explosion guard and changes nothing else."""
    edges = materialize(
        dedup_minhash(spark, sf_dir)
        .select("doc_a", "doc_b")
    )
    p1 = edges.alias("p1")
    p2 = edges.alias("p2")
    p3 = edges.alias("p3")
    return (
        p1.join(p2, F.col("p2.doc_a") == F.col("p1.doc_b"))
        .join(p3, (F.col("p3.doc_a") == F.col("p1.doc_a"))
              & (F.col("p3.doc_b") == F.col("p2.doc_b")))
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )


# --- incremental dedup: new shard vs corpus via a broadcast Bloom ---------

BLOOM_BITS = 1 << 16   # m: bit positions in the corpus fingerprint Bloom
BLOOM_K = 4            # hash functions per fingerprint
INC_MOD = 10           # doc_id % 10 == 0 plays the "incoming shard"


def _bloom_positions(text_col):
    """The BLOOM_K bit positions of a document's fingerprint:
    md5-derived 60-bit hashes of (text, k), mod BLOOM_BITS — the same
    salted-hash construction both engines compute bit-identically."""
    return F.array(*[
        F.pmod(hash60(F.concat(text_col, F.lit(f"|{k}"))), F.lit(BLOOM_BITS))
        for k in range(BLOOM_K)])


def _sql_bloom_inc() -> str:
    pos = (f"(('0x' || substring(md5(text || '|' || k), 1, 15))::BIGINT"
           f" % {BLOOM_BITS})")
    return f"""
    WITH ks AS (SELECT unnest(range({BLOOM_K})) AS k),
    corpus AS (SELECT * FROM documents WHERE doc_id % {INC_MOD} <> 0),
    inc AS (SELECT * FROM documents WHERE doc_id % {INC_MOD} = 0),
    cpos AS (SELECT DISTINCT {pos} AS pos FROM corpus, ks),
    ipos AS (SELECT doc_id, {pos} AS pos FROM inc, ks),
    hits AS (
      SELECT doc_id FROM ipos JOIN cpos USING (pos)
      GROUP BY doc_id HAVING COUNT(*) = {BLOOM_K}),
    exact AS (SELECT DISTINCT i.doc_id
              FROM inc i JOIN corpus c ON c.text = i.text)
    SELECT i.doc_id,
           (h.doc_id IS NOT NULL) AS maybe_dup,
           (e.doc_id IS NOT NULL) AS is_dup
    FROM inc i
    LEFT JOIN hits h ON h.doc_id = i.doc_id
    LEFT JOIN exact e ON e.doc_id = i.doc_id
    """


@query("dedup_incremental_bloom", oracle=_sql_bloom_inc())
def dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: screen an INCOMING shard against the
    standing corpus with a Bloom filter instead of joining the corpus
    per ingest — the shape that matters when the corpus is 100 TB and
    the daily shard is 100 GB.

    The corpus pass (amortized across every future shard) aggregates
    the occupied bit positions of a {BLOOM_K}-hash, {BLOOM_BITS}-bit
    Bloom over text fingerprints — ≤ {BLOOM_BITS} distinct ints, tiny,
    broadcast. Each incoming doc is "maybe_dup" iff ALL {BLOOM_K} of
    its positions are occupied (classic Bloom: no false negatives,
    quantifiable false positives); only the maybe-dups would need the
    exact corpus probe in production. Here BOTH verdicts are emitted —
    the Bloom screen and the exact semi-join truth — so the false-
    positive behavior itself is oracle-checked (every construction
    being deterministic md5 arithmetic, DuckDB reproduces the filter
    bit-for-bit; a real deployment swaps in spark's bloom_filter_agg
    sketch and keeps this exact plan shape).

    Plan: one distinct-agg over the corpus (builds the filter), a
    broadcast join on position for the screen, one broadcast semi-join
    for the truth column — the incoming shard is never shuffled."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % INC_MOD != 0)
    inc = docs.where(F.col("doc_id") % INC_MOD == 0)

    occupied = (
        corpus.select(F.explode(_bloom_positions(F.col("text"))).alias("pos"))
        .distinct()
    )
    ipos = inc.select(
        "doc_id", F.explode(_bloom_positions(F.col("text"))).alias("pos"))
    hits = (
        ipos.join(F.broadcast(occupied), "pos")
        .groupBy("doc_id")
        .agg(F.count("*").alias("_nhit"))
        .where(F.col("_nhit") == BLOOM_K)
        .select("doc_id", F.lit(True).alias("_maybe"))
    )
    exact = (
        inc.join(corpus.select("text").distinct(), "text", "left_semi")
        .select("doc_id", F.lit(True).alias("_is"))
    )
    return (
        inc.select("doc_id")
        .join(hits, "doc_id", "left")
        .join(exact, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("_maybe", F.lit(False)).alias("maybe_dup"),
            F.coalesce("_is", F.lit(False)).alias("is_dup"),
        )
    )


# --- duplicate-passage REMOVAL (C4-style span surgery) --------------------

def cleaned_token_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, kept): the surgery's cleaned token arrays —
    the reusable surface behind remove_dup_passages (pytest asserts
    the post-condition on it: no originally-flagged passage survives
    in more than one document)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", r"[^\p{L}]+"), lambda x: x != "")
    toksarr = materialize(
        fan_out(docs.select("doc_id", "text"))
        .select("doc_id", toks.alias("arr"))
        # consumed by the window build AND reconstruction
    )
    winarr = F.expr(
        f"""CASE WHEN size(arr) < {P_LEN} THEN array()
                 ELSE transform(sequence(1, size(arr) - {P_LEN - 1}),
                                i -> struct(i AS start,
                                     concat_ws(' ', slice(arr, i, {P_LEN}))
                                       AS w))
            END"""
    )
    win = (
        toksarr.select("doc_id", F.explode(winarr).alias("_w"))
        .select("doc_id", F.col("_w.start").alias("start"),
                hash60(F.col("_w.w")).alias("phash"))
    )
    dups = (
        win.groupBy("phash")
        .agg(F.countDistinct("doc_id").alias("_nd"),
             F.min("doc_id").alias("keeper"))
        .where(F.col("_nd") > 1)
        .select("phash", "keeper")
    )
    drops = (
        win.join(dups, "phash")
        .where(F.col("doc_id") != F.col("keeper"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("start")).alias("starts"))
    )
    clean = (
        toksarr.join(drops, "doc_id", "left")
        .select("doc_id", "arr",
                F.coalesce("starts", F.array().cast("array<int>"))
                .alias("starts"))
    )
    # empty docs: sequence(1, 0) is DESCENDING in Spark ([1, 0]), and
    # element_at then faults under ANSI (fuzz find) — emit no indexes
    idxs = F.when(F.size("arr") == 0, F.array().cast("array<int>")) \
        .otherwise(F.sequence(F.lit(1), F.size("arr")))
    keptidx = F.filter(
        idxs,
        lambda i: ~F.exists("starts",
                            lambda s: (i >= s) & (i <= s + (P_LEN - 1))))
    return clean.select(
        "doc_id",
        F.size("arr").cast("bigint").alias("n_tokens"),
        F.transform(keptidx, lambda i: F.element_at("arr", i)).alias("kept"),
    )


@query(
    "remove_dup_passages",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[^\\p{{L}}]+'),
                         x -> x <> '') AS arr
      FROM documents),
    win AS (
      SELECT doc_id, i AS start,
             {_sql_hash60(f"array_to_string(list_slice(arr, i, i + {P_LEN - 1}), ' ')")}
               AS phash
      FROM (SELECT doc_id, generate_subscripts(arr, 1) AS i, arr FROM toks)
      WHERE i + {P_LEN - 1} <= length(arr)),
    dups AS (
      SELECT phash, MIN(doc_id) AS keeper
      FROM win GROUP BY phash HAVING COUNT(DISTINCT doc_id) > 1),
    drops AS (
      SELECT w.doc_id, list_sort(list(DISTINCT w.start)) AS starts
      FROM win w JOIN dups d USING (phash)
      WHERE w.doc_id <> d.keeper
      GROUP BY w.doc_id),
    clean AS (
      SELECT t.doc_id, t.arr,
             COALESCE(dr.starts, CAST([] AS BIGINT[])) AS starts
      FROM toks t LEFT JOIN drops dr USING (doc_id)),
    kept AS (
      SELECT doc_id, arr, length(arr) AS n_tokens,
             list_filter(range(1, length(arr) + 1),
                         i -> len(list_filter(starts,
                              s -> i >= s AND i <= s + {P_LEN - 1})) = 0)
               AS keptidx
      FROM clean)
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_tokens - length(keptidx) AS BIGINT) AS n_removed,
           md5(COALESCE(
               array_to_string(list_transform(keptidx, i -> arr[i]), ' '),
               '')) AS cleaned_fp
    FROM kept
    """,
)
def remove_dup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span SURGERY, not just detection: cut every cross-doc duplicated
    15-token window (the dup_passages signal) out of every doc
    except the window's keeper (min doc_id) — the C4 §3.1 move
    ('discard all but one of any three-sentence span occurring more
    than once'), done corpus-consistently so exactly one copy of each
    duplicated passage survives.

    Token i of a non-keeper doc is dropped iff some flagged window
    start s covers it (s <= i < s+{P_LEN}); overlapping windows union
    naturally through the exists-predicate — no interval-merge pass.
    Output is (doc_id, n_tokens, n_removed, md5 of the cleaned text),
    so the hash gate certifies the RECONSTRUCTED text byte-for-byte
    without shipping it.

    100 TB posture: the window build is the dup_passages single scan;
    the flagged-window table is duplicate-volume-sized (small); the
    drop-list join is an equi-join on doc_id; reconstruction is pure
    per-row array expressions. One extra shuffle over detection."""
    cleaned = cleaned_token_arrays(spark, sf_dir)
    return cleaned.select(
        "doc_id", "n_tokens",
        (F.col("n_tokens") - F.size("kept")).cast("bigint")
        .alias("n_removed"),
        F.md5(F.concat_ws(" ", F.col("kept"))).alias("cleaned_fp"),
    )


# --- per-document n-gram novelty (memorization exposure) ------------------

NOVEL_K = 5   # window length, in tokens


def _sql_novelty() -> str:
    win = _sql_hash60(
        f"array_to_string(list_slice(arr, i, i + {NOVEL_K - 1}), ' ')")
    return f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[^\\p{{L}}]+'),
                         x -> x <> '') AS arr
      FROM documents),
    wins AS (
      SELECT DISTINCT doc_id, {win} AS whash
      FROM (SELECT doc_id, generate_subscripts(arr, 1) AS i, arr FROM toks)
      WHERE i + {NOVEL_K - 1} <= length(arr)),
    df AS (SELECT whash, COUNT(*) AS n_docs FROM wins GROUP BY whash),
    per_doc AS (
      SELECT w.doc_id,
             COUNT(*) AS n_windows,
             SUM(CASE WHEN d.n_docs = 1 THEN 1 ELSE 0 END) AS n_novel
      FROM wins w JOIN df d ON d.whash = w.whash
      GROUP BY w.doc_id)
    SELECT t.doc_id,
           CAST(COALESCE(p.n_windows, 0) AS BIGINT) AS n_windows,
           CAST(COALESCE(p.n_novel, 0) AS BIGINT) AS n_novel,
           CAST(CASE WHEN COALESCE(p.n_windows, 0) = 0 THEN 1.0
                ELSE CAST(p.n_novel AS DOUBLE) / p.n_windows END AS DOUBLE)
             AS novelty_rate
    FROM toks t LEFT JOIN per_doc p ON p.doc_id = t.doc_id
    """


@query("ngram_novelty", oracle=_sql_novelty())
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    distinct {K}-token windows that occur in NO other document — the
    document-level memorization-exposure metric behind train-data
    dedup studies (Lee et al. 2022): a low novelty rate means the
    document is largely assembled from corpus-repeated passages.

    Same machinery as ``dup_passages`` but inverted to a per-document
    score: windows travel as 60-bit hashes (never strings), document
    frequency is one groupBy over the distinct (doc, window) relation,
    and the per-doc rollup joins the window relation against the tiny
    df table on the hash. Two aggregation shuffles + one equi-join —
    linear in corpus token count at any scale. Docs shorter than the
    window score 1.0 (fully novel) via the LEFT join."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", r"[^\p{L}]+"), lambda x: x != "")
    staged = fan_out(docs).select("doc_id", toks.alias("arr"))
    wins = materialize(
        staged.select(
            "doc_id",
            F.explode(F.expr(f"""
                CASE WHEN size(arr) < {NOVEL_K} THEN array()
                     ELSE transform(sequence(1, size(arr) - {NOVEL_K - 1}),
                                    i -> concat_ws(' ', slice(arr, i, {NOVEL_K})))
                END""")).alias("w"))
        .select("doc_id", hash60(F.col("w")).alias("whash"))
        .distinct()
    )
    df_tab = wins.groupBy("whash").agg(F.count("*").alias("n_docs"))
    per_doc = (
        wins.join(df_tab, "whash")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_windows"),
             F.sum((F.col("n_docs") == 1).cast("long")).alias("n_novel"))
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).cast("bigint").alias("n_windows"),
            F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
            F.when(F.coalesce("n_windows", F.lit(0)) == 0, F.lit(1.0))
            .otherwise(F.col("n_novel").cast("double") / F.col("n_windows"))
            .cast("double").alias("novelty_rate"),
        )
    )


# --- MinHash-LSH document similarity search -------------------------------

SEARCH_MOD = 50   # doc_id % MOD == 0 plays the query set
SEARCH_K = 3      # results per query


def _sql_minhash_search() -> str:
    sig_cols = ", ".join(
        "MIN({h}) AS s{i}".format(
            h=_sql_hash60(f"shingle || '#{seed}'"), i=seed)
        for seed in range(N_SEEDS)
    )
    band_selects = []
    for b in range(N_BANDS):
        cols = [f"s{b * BAND_ROWS + r}::VARCHAR" for r in range(BAND_ROWS)]
        concat = " || ',' || ".join(cols)
        band_selects.append(
            f"      SELECT doc_id, {b} AS band_idx, md5({concat}) AS band_hash\n"
            f"      FROM sigs"
        )
    band_rows = "\n      UNION ALL\n".join(band_selects)
    return f"""
    WITH shingles AS ({_SQL_SHINGLES}),
    sigs AS (SELECT doc_id, {sig_cols} FROM shingles GROUP BY doc_id),
    bands AS (
{band_rows}
    ),
    cand AS (
      SELECT DISTINCT q.doc_id AS qid, c.doc_id AS cid
      FROM bands q JOIN bands c
        ON c.band_idx = q.band_idx AND c.band_hash = q.band_hash
       AND c.doc_id <> q.doc_id
      WHERE q.doc_id % {SEARCH_MOD} = 0
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT c.qid, c.cid, COUNT(*) AS n_inter
      FROM cand c
      JOIN shingles sq ON sq.doc_id = c.qid
      JOIN shingles sc ON sc.doc_id = c.cid AND sc.shingle = sq.shingle
      GROUP BY c.qid, c.cid
    ),
    scored AS (
      SELECT i.qid, i.cid,
             CAST(i.n_inter AS DOUBLE) / (zq.n + zc.n - i.n_inter) AS jaccard
      FROM inter i
      JOIN sizes zq ON zq.doc_id = i.qid
      JOIN sizes zc ON zc.doc_id = i.cid
    ),
    ranked AS (
      SELECT qid, cid, jaccard,
             CAST(row_number() OVER (PARTITION BY qid
                  ORDER BY jaccard DESC, cid) AS INT) AS rnk
      FROM scored)
    SELECT qid, cid, jaccard, rnk FROM ranked WHERE rnk <= {SEARCH_K}
    """


@query("minhash_search_topk", oracle=_sql_minhash_search())
def minhash_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document similarity SEARCH on the MinHash-LSH index: for each
    query document, the top-{k} most-Jaccard-similar documents among
    its LSH-band candidates — the retrieval twin of ``dedup_minhash``
    (same index, query-centric instead of pair-centric; the "find me
    docs like this one" primitive used for corpus exploration and
    retrieval-based filtering).

    The band index is built once over the corpus; the query side is a
    filtered slice of the same relation, so candidate generation is a
    band-hash equi-join whose volume is per-bucket, never |Q|×|C|.
    Exact Jaccard re-scoring touches candidates only, and the final
    top-k is a per-query window. Recall is what the band parameters
    give (r={BAND_ROWS}, b={N_BANDS}) — the standard LSH trade, tuned
    by re-banding, never by widening the join."""
    docs = load_table(spark, sf_dir, "documents")
    sh = materialize(shingles_df(fan_out(docs)))
    bands = materialize(_band_hashes(_minhash_sigs(sh)))
    qb = (bands.where(F.col("doc_id") % SEARCH_MOD == 0)
          .select(F.col("doc_id").alias("qid"), "band_idx", "band_hash"))
    cb = (bands.select(F.col("doc_id").alias("cid"), "band_idx", "band_hash"))
    cand = (
        qb.join(cb, ["band_idx", "band_hash"])
        .where(F.col("cid") != F.col("qid"))
        .select("qid", "cid").distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    sq = sh.select(F.col("doc_id").alias("qid"), "shingle")
    sc = sh.select(F.col("doc_id").alias("cid"), "shingle")
    inter = (
        cand.join(sq, "qid").join(sc, ["cid", "shingle"])
        .groupBy("qid", "cid").agg(F.count("*").alias("n_inter"))
    )
    zq = sizes.withColumnRenamed("doc_id", "qid").withColumnRenamed("n", "nq")
    zc = sizes.withColumnRenamed("doc_id", "cid").withColumnRenamed("n", "nc")
    scored = (
        inter.join(zq, "qid").join(zc, "cid")
        .select("qid", "cid",
                (F.col("n_inter").cast("double")
                 / (F.col("nq") + F.col("nc") - F.col("n_inter")))
                .alias("jaccard"))
    )
    from pyspark.sql import Window as W
    w = W.partitionBy("qid").orderBy(F.col("jaccard").desc(), F.col("cid"))
    return (
        scored.select("qid", "cid", "jaccard",
                      F.row_number().over(w).cast("int").alias("rnk"))
        .where(F.col("rnk") <= SEARCH_K)
    )


# --- keep-one-per-cluster corpus report -----------------------------------

_KEEP_TOKS = "list_filter(regexp_split_to_array(text, '[^\\p{L}]+'), x -> x <> '')"


@query(
    "dedup_keep_report",
    oracle=f"""
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN c.cluster_id = d.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN c.cluster_id = d.doc_id THEN 0 ELSE 1 END)
                AS BIGINT) AS n_removed,
           CAST(SUM(len(d.toks)) AS BIGINT) AS tokens_total,
           CAST(SUM(CASE WHEN c.cluster_id = d.doc_id THEN len(d.toks)
                    ELSE 0 END) AS BIGINT) AS tokens_kept,
           CAST(CASE WHEN SUM(len(d.toks)) = 0 THEN 1.0
                ELSE CAST(SUM(CASE WHEN c.cluster_id = d.doc_id
                              THEN len(d.toks) ELSE 0 END) AS DOUBLE)
                     / SUM(len(d.toks)) END AS DOUBLE) AS kept_frac
    FROM (SELECT doc_id, source, {_KEEP_TOKS} AS toks FROM documents) d
    JOIN ({_sql_cc()}) c ON c.doc_id = d.doc_id
    GROUP BY d.source
    """,
)
def dedup_keep_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION made material: keep the canonical (min-id)
    document of every near-dup cluster, drop the rest, and report per
    source what survives — docs kept/removed and token mass retained.
    This is the number a data curator actually signs off on before a
    training run ("MinHash dedup removes X% of source Y").

    Composes ``dedup_clusters`` (iterative CC over the verified
    MinHash graph) with one broadcast-sized join back to the corpus
    scan and a per-source aggregation — the cluster table is
    (doc_id, cluster_id) longs, tiny next to the text it describes,
    and the keep predicate `cluster_id = doc_id` needs no second scan
    of any cluster's members. One extra shuffle over dedup_clusters
    at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    clusters = dedup_clusters(spark, sf_dir)
    toks_len = F.size(F.filter(F.split("text", r"[^\p{L}]+"),
                               lambda x: x != ""))
    kept = F.col("cluster_id") == F.col("doc_id")
    per_doc = (
        fan_out(docs).select("doc_id", "source", toks_len.alias("n_toks"))
        .join(clusters, "doc_id")
    )
    agg = (
        per_doc.groupBy("source")
        .agg(F.count("*").cast("bigint").alias("n_docs"),
             F.sum(kept.cast("long")).cast("bigint").alias("n_kept"),
             F.sum((~kept).cast("long")).cast("bigint").alias("n_removed"),
             F.sum("n_toks").cast("bigint").alias("tokens_total"),
             F.sum(F.when(kept, F.col("n_toks")).otherwise(0))
             .cast("bigint").alias("tokens_kept"))
    )
    return agg.select(
        "source", "n_docs", "n_kept", "n_removed", "tokens_total",
        "tokens_kept",
        F.when(F.col("tokens_total") == 0, F.lit(1.0))
        .otherwise(F.col("tokens_kept").cast("double")
                   / F.col("tokens_total"))
        .cast("double").alias("kept_frac"),
    )


# --- asymmetric containment join (quote / sub-document detection) ----------

CONT_T = 0.98    # containment threshold |A∩B| / |A| — "≥98% of A's
                 # vocabulary appears in B". Asymmetric by design:
                 # containment catches a small doc quoted/absorbed by a
                 # large one, which symmetric Jaccard MISSES (a 40-word
                 # doc inside a 4000-word doc has J ≈ 0.01 but C = 1.0)
                 # — the sub-document duplication signal of Lee et al.
                 # 2022 ("Deduplicating Training Data Makes LMs
                 # Better") at word-set granularity.
CONT_MOD = 50    # deterministic 1-in-50 suspect sample for the
                 # REGISTERED audit query (this corpus is
                 # pathologically self-similar — see NGRAM_MOD; real
                 # corpora run unscoped with the identical plan).
                 # Full-population containment is `_containment_impl
                 # (spark, sf_dir, mod=1)` — certified hash-green vs
                 # the mod=1 brute-force oracle at sf0.1 and per-
                 # residue at the 10x corpus (SCALE.md r8, VERDICT r7
                 # missing#3); the prefix-filter math never depended
                 # on the sample (suspect prefixes are ~(1-t) of token
                 # volume at any population).


def _sql_containment_bruteforce(mod: int = CONT_MOD,
                                residue: int = 0) -> str:
    """Brute-force all-pairs containment — deliberately naive; hashing
    the prefix-filtered Spark result against it proves losslessness.
    ``mod=1`` is the full population; (mod, residue) selects any
    deterministic suspect slice (the 10x certification checks the
    full-population Spark sweep one residue at a time, because the
    brute-force oracle's token join is Σ_w df(w)² rows — fine per
    slice, quadratic-infeasible for DuckDB at the full 10x corpus)."""
    return f"""
    WITH atoks AS (
      SELECT DISTINCT doc_id, unnest(
        list_filter(regexp_split_to_array(text, '[^\\p{{L}}]+'),
                    x -> x <> '')) AS word
      FROM documents WHERE doc_id % {mod} = {residue}),
    btoks AS (
      SELECT DISTINCT doc_id, unnest(
        list_filter(regexp_split_to_array(text, '[^\\p{{L}}]+'),
                    x -> x <> '')) AS word
      FROM documents),
    asizes AS (SELECT doc_id, COUNT(*) AS n FROM atoks GROUP BY doc_id),
    bsizes AS (SELECT doc_id, COUNT(*) AS n FROM btoks GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM atoks a JOIN btoks b ON b.word = a.word
                               AND b.doc_id <> a.doc_id
      GROUP BY 1, 2)
    SELECT i.doc_a, i.doc_b,
           CAST(za.n AS BIGINT) AS n_a,
           CAST(zb.n AS BIGINT) AS n_b,
           CAST(i.n_inter AS BIGINT) AS n_inter,
           CAST(i.n_inter AS DOUBLE) / za.n AS containment
    FROM inter i
    JOIN asizes za ON za.doc_id = i.doc_a
    JOIN bsizes zb ON zb.doc_id = i.doc_b
    WHERE i.n_inter >= CAST(ceil({CONT_T} * za.n) AS BIGINT)
    """


@query("dedup_containment", oracle=_sql_containment_bruteforce())
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT asymmetric containment pairs (|A∩B|/|A| ≥ 0.98)
    without the all-pairs join — the quote/sub-document detector that
    completes the dedup tier: Jaccard (symmetric near-dup), MinHash
    (probabilistic), SimHash, dup passages (positional) … and now
    containment, which is the only one that flags a small document
    absorbed verbatim into a much larger one.

    Lossless candidate filter: if C(A→B) ≥ t, then at most
    n_a − ceil(t·n_a) of A's tokens are missing from B, so among ANY
    fixed n_a − ceil(t·n_a) + 1 of A's tokens at least one is shared —
    A's prefix under the global df-ascending order (rarest first, the
    dedup_ngram_jaccard order) therefore must hit B, and rare-first
    makes the candidate join buckets maximally selective. Unlike the
    Jaccard AllPairs there is NO symmetric size bound (that's the
    point: n_b may be huge), so the B side joins its full posting
    list; verification is one array_intersect per candidate pair
    against the oracle's brute-force all-pairs.

    At 100 TB: suspect-side prefixes are (1−t)·|doc| tokens — ~2% of
    the sample's token volume at t={CONT_T} — joined against the
    corpus posting lists on rare words; df broadcasts; the per-doc
    word arrays are the same corpus-linear state an inverted index
    carries. The registered query is the 1-in-{CONT_MOD} audit sample
    (see CONT_MOD); the FULL-population sweep is the same plan with
    ``mod=1`` (`_containment_impl`), certified at sf0.1 + the 10x
    corpus in SCALE.md."""
    return _containment_impl(spark, sf_dir, CONT_MOD)


def _containment_impl(spark: SparkSession, sf_dir: str, mod: int,
                      residue: int = 0) -> DataFrame:
    """dedup_containment body with the suspect-sample modulus as a
    parameter: ``mod=1`` runs every document as a suspect (the
    full-population quote/sub-doc sweep), ``(mod, residue)`` any
    deterministic slice. The prefix-filter candidate bound is
    population-independent — suspect prefixes are always
    n − ceil(t·n) + 1 ≈ (1−t)·n tokens per suspect doc."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    words_expr = F.array_distinct(
        F.filter(F.split("text", r"[^\p{L}]+"), lambda x: x != ""))
    toks_all = (fan_out(docs)
                .select("doc_id", F.explode(words_expr).alias("word")))
    dfreq = toks_all.groupBy("word").agg(F.count("*").alias("df"))
    # Dense integer word IDs in the global rarest-first order (df asc,
    # word asc — an exact bijection, row_number over the vocabulary-
    # sized df table): the per-doc arrays, the prefix-candidate join
    # key, and the verification intersections all run on ints instead
    # of strings (~3x lighter shuffles + intersects at full
    # population; the output never needs the word text back). The
    # single-partition window is over |vocabulary| rows — Heaps-
    # sublinear, broadcast-scale by construction.
    wid_tab = dfreq.select(
        "word", F.row_number().over(W.orderBy("df", "word")).alias("wid"))
    itoks = toks_all.join(F.broadcast(wid_tab), "word").select("doc_id", "wid")
    ordered_b = materialize(
        itoks.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("wid")).alias("wids"),
             F.count("*").cast("bigint").alias("n"))
    )
    ordered_a = (ordered_b if mod == 1
                 else ordered_b.where(F.col("doc_id") % mod == residue))
    prefix_a = ordered_a.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"),
        F.explode(F.expr(
            f"slice(wids, 1,"
            f" cast(n - ceil({CONT_T} * n) + 1 as int))")).alias("wid"),
    )
    cands = (
        prefix_a.join(itoks.withColumnRenamed("doc_id", "doc_b"), "wid")
        .where(F.col("doc_b") != F.col("doc_a"))
        .select("doc_a", "doc_b").distinct()
    )
    a_side = ordered_a.select(F.col("doc_id").alias("doc_a"),
                              F.col("n").alias("n_a"),
                              F.col("wids").alias("wa"))
    b_side = ordered_b.select(F.col("doc_id").alias("doc_b"),
                              F.col("n").alias("n_b"),
                              F.col("wids").alias("wb"))
    verified = (
        cands.join(a_side, "doc_a").join(b_side, "doc_b")
        .withColumn("n_inter",
                    F.size(F.array_intersect("wa", "wb")).cast("bigint"))
        .where(F.col("n_inter")
               >= F.ceil(F.lit(CONT_T) * F.col("n_a")).cast("bigint"))
    )
    return verified.select(
        "doc_a", "doc_b", "n_a", "n_b", "n_inter",
        (F.col("n_inter").cast("double") / F.col("n_a"))
        .alias("containment"))


# --- incremental MinHash screen: near-dup at the door for TEXT -------------

def _sql_minhash_incremental(inc_pred: str | None = None) -> str:
    """DuckDB twin of the incremental MinHash screen: the shared
    signature/band CTEs, a one-sided band equi-join (incoming shard
    vs retained corpus), exact-Jaccard re-score on candidates only,
    per-incoming-doc best in-threshold match. ``inc_pred`` is a
    predicate template over ``{d}`` selecting the incoming side
    (default: the registered screen's doc_id % 10 = 0 split; the
    ingest-admission composition passes the media screens' split)."""
    inc_pred = inc_pred or f"{{d}} % {INC_MOD} = 0"
    return f"""
    WITH {_sql_minhash_cte()},
    cand AS (
      SELECT DISTINCT a.doc_id AS iid, b.doc_id AS cid
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
      WHERE ({inc_pred.format(d='a.doc_id')})
        AND NOT ({inc_pred.format(d='b.doc_id')})),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT c.iid, c.cid, COUNT(*) AS n_inter
      FROM cand c
      JOIN shingles sa ON sa.doc_id = c.iid
      JOIN shingles sb ON sb.doc_id = c.cid AND sb.shingle = sa.shingle
      GROUP BY c.iid, c.cid),
    scored AS (
      SELECT i.iid, i.cid,
             CAST(i.n_inter AS DOUBLE) / (za.n + zb.n - i.n_inter)
               AS jaccard
      FROM inter i
      JOIN sizes za ON za.doc_id = i.iid
      JOIN sizes zb ON zb.doc_id = i.cid),
    inrad AS (SELECT * FROM scored WHERE jaccard >= {JACCARD_MIN}),
    best AS (
      SELECT iid, cid, jaccard,
             row_number() OVER (PARTITION BY iid
                                ORDER BY jaccard DESC, cid) AS rn
      FROM inrad)
    SELECT d.doc_id,
           CAST(b.cid AS BIGINT) AS matched_id,
           b.jaccard AS jaccard,
           (b.cid IS NOT NULL) AS is_neardup
    FROM documents d
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.iid = d.doc_id
    WHERE {inc_pred.format(d='d.doc_id')}
    """


@query("dedup_minhash_incremental", oracle=_sql_minhash_incremental())
def dedup_minhash_incremental(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Incremental MinHash screen: for every document of the incoming
    shard (doc_id % 10 == 0 — the SAME split as
    dedup_incremental_bloom, so the two are the exact and near-dup
    gates of one daily-ingest story), the best (max Jaccard, tie min
    id) retained-corpus document within J >= 0.6, or NULLs when the
    shard doc is genuinely new — NEAR-dup at the door, the text twin
    of the media fingerprint screens (dedup_audio_incremental et
    al.): the Bloom/exact gate catches reposts, this one catches
    light edits.

    100 TB posture: candidates come from a ONE-SIDED band equi-join —
    the shard's band hashes against the persisted corpus band index
    (4 md5s per retained doc, maintained incrementally; the corpus
    text is never re-shingled in production — here both sides build
    from the fixture for the oracle's sake); exact-Jaccard
    verification touches candidates only, and the best-pick window
    runs over in-threshold candidates. The oracle composes the SAME
    signature/band CTEs as dedup_minhash (factored builder), so the
    screen and the batch pair op cannot drift."""
    return minhash_screen_frame(
        spark, sf_dir, F.col("doc_id") % INC_MOD == 0)


def minhash_bands_expr_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_hash) via ONE stateless per-row
    expression chain — the STREAMING maintenance leg's form
    (stream_minhash_bands): shingle array, 12 seeded column minima
    (array_min over a transform instead of the batch groupBy-MIN,
    which would be a stateful streaming aggregate), band md5s,
    posexplode. Same integers/strings as _band_hashes(_minhash_sigs(
    shingles_df(docs))) — pytest-pinned row-for-row. The interpreted
    higher-order lambdas are the right trade per micro-batch (the
    embed-index precedent, SCALE.md r12): 12 array passes per doc on
    small per-batch volumes, while the batch pipeline keeps the
    explode + codegen-aggregate shape."""
    sigs = _expr_shingle_frame(docs).select(
        "doc_id", *_expr_seed_mins())
    return sigs.select(
        "doc_id", F.posexplode(_expr_band_array())
        .alias("band_idx", "band_hash"))


def _expr_shingle_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, _sh) — each doc's DISTINCT shingle ARRAY as one
    stateless select (the expression family's shared first stage):
    per-row, no explode, no shuffle."""
    k = 3
    toks = _expr_kit()["toks"]
    # identical short-doc guard as shingles_df — see that docstring
    arr = F.expr(
        f"""CASE WHEN size(_toks) < {k} THEN array()
                 ELSE transform(sequence(1, size(_toks) - {k - 1}),
                                i -> concat_ws(' ', slice(_toks, i, {k})))
            END"""
    )
    return (docs.select("doc_id", toks.alias("_toks"))
            .select("doc_id", F.array_distinct(arr).alias("_sh"))
            .where(F.size("_sh") > 0))


# Column-kit cache (r14 cadence surgery): the seeded-min transforms
# are LAMBDA columns — each lambda-to-Catalyst conversion costs
# ~20-70 ms of py4j/driver work, so rebuilding the 12-seed kit per
# micro-batch burned ~0.5 s/batch. Columns are immutable expression
# trees, reusable across any number of plans; the cache is keyed by
# applicationId so a bounced session rebuilds against its own JVM.
_EXPR_KIT_CACHE: dict = {}


def _expr_kit() -> dict:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    key = sc.applicationId if sc is not None else None
    kit = _EXPR_KIT_CACHE.get(key)
    if kit is None:
        for k in [k for k in _EXPR_KIT_CACHE if k != key]:
            _EXPR_KIT_CACHE.pop(k, None)

        def _seed_min(seed: int):
            # NB: closing over the seed via a default arg (lambda x,
            # s=seed: ...) would make PySpark see a TWO-parameter
            # lambda and bind s to the element INDEX column instead
            tag = F.lit(f"#{seed}")
            return F.array_min(
                F.transform("_sh", lambda x: hash60(F.concat(x, tag))))

        kit = _EXPR_KIT_CACHE[key] = {
            "mins": [_seed_min(seed).alias(f"s{seed}")
                     for seed in range(N_SEEDS)],
            "bands": F.array(*[
                F.md5(F.concat_ws(",", *[
                    F.col(f"s{b * BAND_ROWS + r}").cast("string")
                    for r in range(BAND_ROWS)
                ]))
                for b in range(N_BANDS)
            ]),
            "toks": F.filter(F.split("text", r"[^\p{L}]+"),
                             lambda x: x != ""),
        }
    return kit


def _expr_seed_mins() -> list:
    """The 12 seeded per-row signature minima over ``_sh`` (columns
    s0..s11) — ONE spelling shared by the maintenance leg and the
    per-batch screen (cached per session, see _expr_kit)."""
    return _expr_kit()["mins"]


def _expr_band_array():
    """The 4 band md5s over the s0..s11 signature columns."""
    return _expr_kit()["bands"]


def _sql_minhash_bands() -> str:
    """DuckDB twin of the MinHash band-index TABLE itself (doc_id,
    band_idx, band_hash) — gates the streaming maintenance leg the
    way _sql_embed_index gates the embedding-index drain."""
    return f"""
    WITH {_sql_minhash_cte()}
    SELECT doc_id, band_idx, band_hash FROM bands
    """


def minhash_screen_frame(spark: SparkSession, sf_dir: str,
                         inc_pred,
                         bands: DataFrame | None = None) -> DataFrame:
    """dedup_minhash_incremental's body over an arbitrary incoming-
    shard predicate Column: the corpus is shingled and signed once,
    split into incoming and retained sides by ``inc_pred``, and
    screened by the explicit-sides verdict tail
    minhash_screen_expr_over also runs. ``bands`` overrides the
    band-hash table (doc_id, band_idx, band_hash) — the
    persisted-index round-trip pytest passes the table the streaming
    maintenance leg drained to parquet, proving the candidate
    generator is a pure function of the maintained index
    (exact-Jaccard verification still reads the candidates' shingle
    sets, the corpus-side table a production deployment persists
    alongside)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = materialize(shingles_df(docs))
    sigs = materialize(_minhash_sigs(sh))
    if bands is None:
        bands = _band_hashes(sigs)
    sizes = sigs.select("doc_id", "n")
    return _screen_verdict_tail(docs.where(inc_pred), bands.where(inc_pred),
                                sh, sizes, sh, sizes, bands.where(~inc_pred))


def minhash_screen_expr_over(inc_docs: DataFrame, corpus_sh: DataFrame,
                             corpus_sizes: DataFrame,
                             corpus_bands: DataFrame) -> DataFrame:
    """The incremental MinHash screen with EXPLICIT sides (r13), the
    streaming admission's text near-dup leg: the incoming docs frame
    (doc_id, text — e.g. one admission micro-batch) is shingled,
    signed and banded on the spot by the stateless EXPRESSION family
    (r14): shingle sets, set sizes and band hashes all come from ONE
    per-row select (_expr_shingle_frame + the shared seed-min/band
    builders — the exact spellings stream_minhash_bands drains), so a
    micro-batch pays zero shuffles before the candidate equi-join
    against the PERSISTED corpus band index; exact-Jaccard
    verification reads the incoming shingles and the corpus shingle
    table (both maintainable at ingest — the corpus text is never
    re-shingled). Returns minhash_screen_frame's verdict contract
    (doc_id, matched_id, jaccard, is_neardup), pinned equal by the
    admission oracle and the expr/batch band-parity pytest."""
    staged = materialize(_expr_shingle_frame(inc_docs)
                         .select("doc_id", "_sh", *_expr_seed_mins()))
    ib = staged.select(
        "doc_id",
        F.posexplode(_expr_band_array()).alias("band_idx", "band_hash"))
    sh_i = staged.select("doc_id", F.explode("_sh").alias("shingle"))
    sizes_i = staged.select(
        "doc_id", F.size("_sh").cast("bigint").alias("n"))
    return _screen_verdict_tail(inc_docs, ib, sh_i, sizes_i,
                                corpus_sh, corpus_sizes, corpus_bands)


def _screen_verdict_tail(inc_docs: DataFrame, inc_bands: DataFrame,
                         sh_i: DataFrame, sizes_i: DataFrame,
                         corpus_sh: DataFrame, corpus_sizes: DataFrame,
                         corpus_bands: DataFrame) -> DataFrame:
    """The ONE MinHash screen verdict tail (batch and per-micro-batch
    forms): band-hash candidate equi-join of the two (doc_id,
    band_idx, band_hash) sides, exact-Jaccard verification over the
    two shingle tables, best-match window, left-join verdict."""
    from pyspark.sql import Window as W

    ib = inc_bands.select(
        F.col("doc_id").alias("iid"), "band_idx", "band_hash")
    xb = corpus_bands.select(
        F.col("doc_id").alias("cid"), "band_idx", "band_hash")
    cand = (ib.join(xb, ["band_idx", "band_hash"])
            .select("iid", "cid").distinct())
    sa = sh_i.alias("sa")
    sb = corpus_sh.alias("sb")
    inter = (
        cand.join(sa, F.col("sa.doc_id") == F.col("iid"))
        .join(sb, (F.col("sb.doc_id") == F.col("cid"))
              & (F.col("sb.shingle") == F.col("sa.shingle")))
        .groupBy("iid", "cid")
        .agg(F.count("*").alias("n_inter"))
    )
    za = sizes_i.alias("za")
    zb = corpus_sizes.alias("zb")
    jac = (F.col("n_inter").cast("double")
           / (F.col("za.n") + F.col("zb.n") - F.col("n_inter")))
    inrad = (
        inter.join(za, F.col("za.doc_id") == F.col("iid"))
        .join(zb, F.col("zb.doc_id") == F.col("cid"))
        .select("iid", "cid", jac.alias("jaccard"))
        .where(F.col("jaccard") >= JACCARD_MIN)
    )
    w = W.partitionBy("iid").orderBy(F.col("jaccard").desc(), "cid")
    best = (inrad.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1).drop("rn"))
    return (
        inc_docs.select("doc_id")
        .join(best, F.col("iid") == F.col("doc_id"), "left")
        .select("doc_id",
                F.col("cid").cast("bigint").alias("matched_id"),
                "jaccard",
                F.col("cid").isNotNull().alias("is_neardup"))
    )
