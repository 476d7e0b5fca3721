"""Record linkage / entity resolution over the part catalog.

The classic curation problem the reference's exact-key joins cannot
express: the "same" real-world entity appears under slightly different
surface strings ("cold bolt" vs "old bolt"), so matching needs an
EDIT-DISTANCE predicate — which is not an equi-join and therefore not
shuffle-plannable as written. The standard fix (Fellegi–Sunter via
blocking; see also Christen, "Data Matching", 2012) is implemented
here Spark-first:

1. collapse rows to DISTINCT surface strings first (vocabulary is
   Heaps-sublinear in corpus size, so the pairing universe is bounded
   by the VOCABULARY, not the row count — at 100 TB the groupBy is a
   map-side-combined aggregation and everything after it runs on a
   table many orders of magnitude smaller);
2. generate candidates with a BLOCKING equi-join (last token of the
   name) so Catalyst plans a hash join, never a cartesian product;
3. apply the expensive predicate (levenshtein) only inside blocks;
4. resolve entities as connected components of the match graph via
   min-label propagation (same fixpoint discipline as
   ``dedup_clusters``), checked against a DuckDB recursive-CTE
   transitive closure.

Reference parity: the reference engine (mr/*.go) has no fuzzy-match
operator at all; this module is part of the §2.3 ABSENT list / LLM
training-data tier (entity resolution is the catalog-dedup analogue
of document near-dup dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mit_mapreduce_spark.catalog import load_table
from mit_mapreduce_spark.operators.dedup import min_label_components
from mit_mapreduce_spark.operators.registry import query
from mit_mapreduce_spark.session import materialize

# Match predicate shared by both engines: candidates must share the
# final token (the "noun" block), differ as strings, and sit within
# LK_MAX_DIST edits of the CANONICAL form. Canonicalization exists
# because the engines' levenshtein units differ on non-ASCII text
# (fuzz find, r8): Spark counts CODEPOINTS while DuckDB counts UTF-8
# BYTES ('müller'→'muller' is 1 vs 2; '名'→'图' is 1 vs 2), so the
# distance runs on a form where every non-ASCII codepoint folds to a
# single '?' — one byte, one codepoint, identical distances in both
# engines. The fold coarsens: distinct non-ASCII characters compare
# equal (pinned in the crafted pytest); unit-cost insert/delete/
# substitute without transposition is otherwise identical in both
# implementations (ASCII parity pinned in pytest too).
# \z, not $: Java's $ matches BEFORE a trailing newline while RE2's
# matches only end-of-text (r8 review #5 — 'bolt\n' blocked as 'bolt'
# vs ''); \z means end-of-text in both.
LK_BLOCK_RE = r"([a-z]+)\z"
LK_MAX_DIST = 2

_SQL_NAMES = """
    SELECT p_name AS name,
           regexp_replace(p_name, '[^[:ascii:]]', '?', 'g') AS cname,
           regexp_extract(regexp_replace(p_name, '[^[:ascii:]]', '?', 'g'),
                          '([a-z]+)\\z', 1) AS block,
           COUNT(*) AS n_parts
    FROM part
    GROUP BY p_name
"""

_SQL_PAIRS = f"""
    SELECT a.block AS block, a.name AS name_a, b.name AS name_b,
           levenshtein(a.cname, b.cname) AS dist,
           a.n_parts AS parts_a, b.n_parts AS parts_b
    FROM ({_SQL_NAMES}) a JOIN ({_SQL_NAMES}) b
      ON a.block = b.block AND a.name < b.name
    WHERE levenshtein(a.cname, b.cname) <= {LK_MAX_DIST}
"""


def _names_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    cname = F.regexp_replace("name", r"[^\p{ASCII}]", "?")
    return (
        part.groupBy(F.col("p_name").alias("name"))
        .agg(F.count("*").alias("n_parts"))
        .withColumn("cname", cname)
        .withColumn("block", F.regexp_extract("cname", LK_BLOCK_RE, 1))
    )


def _pairs_df(names: DataFrame) -> DataFrame:
    a = names.alias("a")
    b = names.alias("b")
    return (
        a.join(b, (F.col("a.block") == F.col("b.block"))
               & (F.col("a.name") < F.col("b.name")))
        .withColumn("dist", F.levenshtein(F.col("a.cname"), F.col("b.cname")))
        .where(F.col("dist") <= LK_MAX_DIST)
        .select(F.col("a.block").alias("block"),
                F.col("a.name").alias("name_a"),
                F.col("b.name").alias("name_b"),
                F.col("dist").cast("int").alias("dist"),
                F.col("a.n_parts").alias("parts_a"),
                F.col("b.n_parts").alias("parts_b"))
    )


@query(
    "fuzzy_blocked_match",
    oracle=f"SELECT block, name_a, name_b, CAST(dist AS INT) AS dist,"
           f" parts_a, parts_b FROM ({_SQL_PAIRS})",
)
def fuzzy_blocked_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy match: part-name pairs within edit distance
    LK_MAX_DIST that share a last-token block.

    Scale posture: the self-join runs over DISTINCT names (vocabulary,
    not rows — Heaps-sublinear), the block key makes it an equi-join
    (hash-partitionable; no cartesian — pinned in test_plans), and
    levenshtein evaluates only inside blocks. The quadratic factor is
    per-block distinct-name count, bounded by vocabulary shape rather
    than corpus size; a skewed block would be handled the same way as
    any skewed join key (salting / AQE), not by changing the operator.
    """
    names = _names_df(spark, sf_dir)
    return _pairs_df(names)


# --- entity resolution: components of the match graph ---------------------

_SQL_ER = f"""
    WITH RECURSIVE names AS ({_SQL_NAMES}),
    pairs AS (SELECT name_a, name_b FROM ({_SQL_PAIRS})),
    und AS (
      SELECT name_a AS a, name_b AS b FROM pairs
      UNION ALL
      SELECT name_b AS a, name_a AS b FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM und
      UNION
      SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
    ),
    labeled AS (
      SELECT n.name, n.n_parts,
             LEAST(n.name,
                   COALESCE((SELECT MIN(b) FROM reach WHERE a = n.name),
                            n.name)) AS entity_id
      FROM names n
    )
    SELECT entity_id,
           COUNT(*) AS n_names,
           CAST(SUM(n_parts) AS BIGINT) AS n_parts,
           MIN(name) AS first_name,
           MAX(name) AS last_name
    FROM labeled
    GROUP BY entity_id
"""


@query("entity_resolution", oracle=_SQL_ER)
def entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution: collapse fuzzy-matching part names into
    canonical entities (connected components of the blocked-match
    graph; entity_id = lexicographic min name in the component), with
    per-entity name and row counts.

    The fixpoint loop is ``dedup.min_label_components`` over the match
    graph (the ``dedup_clusters`` loop; its vertex set is the names that
    matched something — vocabulary-bounded, « corpus). Names with no
    fuzzy neighbor join the result once at the end as singleton
    entities.
    The oracle is a DuckDB recursive-CTE transitive closure, so the
    iterative computation is checked against declarative reachability.
    """
    names = materialize(_names_df(spark, sf_dir))
    labels = min_label_components(
        _pairs_df(names), "name_a", "name_b"
    ).withColumnsRenamed({"vertex": "name", "cluster_id": "entity_id"})

    resolved = (
        names.join(labels, "name", "left")
        .select("name", "n_parts",
                F.coalesce("entity_id", "name").alias("entity_id"))
    )
    return (
        resolved.groupBy("entity_id")
        .agg(F.count("*").alias("n_names"),
             F.sum("n_parts").cast("bigint").alias("n_parts"),
             F.min("name").alias("first_name"),
             F.max("name").alias("last_name"))
    )
