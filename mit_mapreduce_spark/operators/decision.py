"""Decision-support queries, second tranche: the classic TPC-H shapes
not yet covered by ``analytics.py`` (Q6, Q10, Q14, Q15, Q17, Q19) plus
two shapes adapted to the fixture star schema, which has no partsupp
table (Q2's min-cost supplier and Q21's waiting-supplier exists/anti
pattern re-keyed onto lineitem's l_suppkey).

The reference has no relational tier at all (SURVEY.md §2.3 ABSENT
list — joins/aggregations beyond the three mrapps are absent by
design, `mrapps/wc.go:21-44` being the deepest "query"); this module
exists to close the decision-support surface a warehouse user expects.

Scale notes (100 TB posture):
- Dimension joins (part, supplier, nation) are explicit broadcasts;
  fact-side filters are expressed on the base columns before any join
  so they reach the parquet scan as PushedFilters.
- Fact⋈fact joins (lineitem⋈orders) shuffle on their natural key
  only after both sides are pre-filtered.
- Every double aggregate goes through functions.numeric dsum/davg
  (exact decimal partials) so results are bit-identical under any
  parallelism — which is what lets Q15's ``revenue = MAX(revenue)``
  double-equality predicate work cross-engine at all.
- Top-k outputs carry explicit tie-breaks so LIMIT is deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mit_mapreduce_spark.catalog import load_table
from mit_mapreduce_spark.functions.numeric import (
    davg, dsum, sql_davg, sql_dsum,
)
from mit_mapreduce_spark.operators.registry import query
from mit_mapreduce_spark.session import materialize


# --- Q6-shaped: pure scan-aggregate revenue forecast ----------------------

@query(
    "forecast_revenue",
    oracle=f"""
    SELECT {sql_dsum("l_extendedprice * l_discount", "revenue")},
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped: revenue increase if discounts in a band were
    dropped. The cheapest possible plan — a single scan with every
    predicate pushed to parquet (date range, discount band, quantity
    cap are all min/max-prunable), a map-side partial sum, and a
    1-row final agg. At 100 TB this is the query shape that proves
    pushdown works: no join, no wide shuffle, bytes read bounded by
    row-group pruning."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24))
    return li.agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
        F.count(F.lit(1)).alias("n_lines"))


# --- Q10-shaped: returned-item top customers ------------------------------

@query(
    "returned_item_customers",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped: top 20 customers by revenue lost to returns
    in one quarter. Orders are filtered to the quarter and lineitem to
    returnflag='R' BEFORE the orderkey shuffle join, so the join input
    is a small fraction of either table; nation is a broadcast.
    Tie-break on c_custkey makes the LIMIT deterministic."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp")))
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                  "revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# --- Q14-shaped: promotion revenue share ----------------------------------

@query(
    "promo_revenue_share",
    oracle=f"""
    SELECT {sql_dsum(
        "CASE WHEN p.p_type = 'PROMO' "
        "THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END",
        "promo_revenue")},
           {sql_dsum("l.l_extendedprice * (1 - l.l_discount)",
                     "total_revenue")}
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
      AND l.l_shipdate <  TIMESTAMP '1996-12-01'
    """,
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped: promotional revenue vs total in a quarter.
    part is a pure dimension here — broadcast — so the plan is one
    pushed-down lineitem scan, a broadcast hash join, and a 1-row agg;
    zero wide shuffles at any scale. Returns both numerator and total
    (the ratio is one deterministic client-side division; emitting the
    two exact decimals keeps the hash gate byte-stable)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-12-01").cast("timestamp")))
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            dsum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0),
                 "promo_revenue"),
            dsum(rev, "total_revenue"))
    )


# --- Q15-shaped: top supplier(s) by quarterly revenue ---------------------

_Q15_REV = """
    SELECT l_suppkey AS supplier_no,
           {rev}
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1996-04-01'
    GROUP BY l_suppkey
"""


@query(
    "top_supplier_revenue",
    oracle=f"""
    WITH rev AS ({_Q15_REV.format(
        rev=sql_dsum("l_extendedprice * (1 - l_discount)",
                     "total_revenue"))})
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN rev r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
    ORDER BY s.s_suppkey
    """,
)
def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped: the supplier(s) achieving the maximum revenue
    in a quarter. The revenue view aggregates once (map-side partials,
    shuffle keyed on l_suppkey); the scalar MAX is a 1-row broadcast
    joined back — the classic decorrelation of Q15's scalar subquery.
    The double-equality predicate is safe cross-engine because both
    sides compute the identical exact-decimal sum (functions.numeric),
    so the max and the per-supplier value are bit-identical doubles."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp")))
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                  "total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == mx._mx)
        .join(s, rev.supplier_no == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# --- Q17-shaped: small-quantity-order revenue -----------------------------

@query(
    "small_qty_revenue",
    oracle=f"""
    WITH aq AS (SELECT l_partkey, {sql_davg("l_quantity", "avg_qty")}
                FROM lineitem GROUP BY l_partkey)
    SELECT {sql_dsum("l.l_extendedprice", "total_price")},
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN aq    ON aq.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23'
      AND l.l_quantity < 0.5 * aq.avg_qty
    """,
)
def small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped: revenue from orders of less than half the
    part's average quantity, for one brand. The correlated scalar
    subquery is decorrelated into a per-part aggregate joined back on
    l_partkey; the brand filter lives on the broadcast part dimension.
    At scale the aggregate and the probe co-shuffle on l_partkey, so
    Catalyst can reuse one exchange for both; avg is exact-decimal so
    the half-average threshold is the same double in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#23")
    aq = li.groupBy("l_partkey").agg(davg("l_quantity", "avg_qty"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(aq.withColumnRenamed("l_partkey", "_pk"),
              F.col("l_partkey") == F.col("_pk"))
        .where(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(dsum("l_extendedprice", "total_price"),
             F.count(F.lit(1)).alias("n_lines"))
    )


# --- Q19-shaped: disjunctive brand/size/quantity predicates ---------------

@query(
    "disjunctive_revenue",
    oracle=f"""
    SELECT {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped: disjunction of brand/size/quantity bands.
    Classic OR-predicate join: the join key stays a pure equi-join on
    p_partkey (broadcast — part is the dimension) with the disjunction
    as a residual filter, so no nested-loop appears. Catalyst also
    derives the implied superset filters (quantity 1-30, size 1-15,
    brand IN (...)) which prune both scans before the join."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    band = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30))
    )
    return j.where(band).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
             "revenue"),
        F.count(F.lit(1)).alias("n_lines"))


# --- Q2-adapted: min-cost supplier per part (no partsupp fixture) ---------

@query(
    "min_cost_supplier",
    oracle=f"""
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(FLOOR(l_extendedprice / l_quantity * 10000
                                 + 0.5) AS BIGINT)) AS DOUBLE)
               / 10000 / COUNT(*) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    ranked AS (
      SELECT l_partkey, l_suppkey, unit_cost,
             ROW_NUMBER() OVER (PARTITION BY l_partkey
                                ORDER BY unit_cost, l_suppkey) AS rn
      FROM cost
    )
    SELECT p.p_partkey, p.p_name, s.s_name, r.unit_cost
    FROM ranked r
    JOIN part p     ON p.p_partkey = r.l_partkey
    JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.rn = 1 AND p.p_size <= 5
    ORDER BY p.p_partkey
    """,
)
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-adapted: cheapest supplier per small part. The fixture
    schema has no partsupp (TESTDATA.md), so supply cost is the
    observed average unit price per (part, supplier) in lineitem —
    same query skeleton as Q2: aggregate → min-per-group → join names.
    min-per-group is a ROW_NUMBER window over the aggregate: the
    partial agg shrinks lineitem to one row per (part, supplier)
    BEFORE any shuffle, so the window's re-partition on l_partkey
    moves only aggregate-sized rows, and Spark's WindowGroupLimit
    pushes the rn=1 cutoff below the sort. part and supplier join as
    broadcasts. The
    p_size filter applies AFTER rank (rank is per-part, unaffected),
    letting the optimizer semi-join-prune ranked rows via the
    broadcast part side."""
    li = load_table(spark, sf_dir, "lineitem")
    # Cross-SF fuzz find: engine ROUND(x, 4) disagrees by 1e-4 on rare
    # half-way quotients (Spark rounds the exact binary value, DuckDB
    # the scaled double). floor(x*1e4 + 0.5) is the same two IEEE ops
    # on both engines — bit-identical snapping, then exact BIGINT sums.
    snapped = F.floor(F.col("l_extendedprice") / F.col("l_quantity")
                      * 10000 + 0.5).cast("bigint")
    cost = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg((F.sum(snapped).cast("double") / 10000 / F.count("*"))
             .alias("unit_cost"))
    )
    w = Window.partitionBy("l_partkey").orderBy("unit_cost", "l_suppkey")
    ranked = cost.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1)
    p = load_table(spark, sf_dir, "part").where(F.col("p_size") <= 5)
    s = load_table(spark, sf_dir, "supplier")
    return (
        ranked.join(F.broadcast(p), ranked.l_partkey == p.p_partkey)
        .join(F.broadcast(s), ranked.l_suppkey == s.s_suppkey)
        .select("p_partkey", "p_name", "s_name", "unit_cost")
        .orderBy("p_partkey")
    )


# --- Q21-adapted: sole-returning supplier in multi-supplier orders --------

@query(
    "sole_return_suppliers",
    oracle="""
    WITH r AS (SELECT DISTINCT l_orderkey, l_suppkey
               FROM lineitem WHERE l_returnflag = 'R'),
         a AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
    SELECT s.s_suppkey, s.s_name, COUNT(*) AS numwait
    FROM r
    JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE EXISTS (SELECT 1 FROM a
                  WHERE a.l_orderkey = r.l_orderkey
                    AND a.l_suppkey <> r.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM r r2
                      WHERE r2.l_orderkey = r.l_orderkey
                        AND r2.l_suppkey <> r.l_suppkey)
    GROUP BY s.s_suppkey, s.s_name
    ORDER BY numwait DESC, s.s_suppkey
    LIMIT 10
    """,
)
def sole_return_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-adapted: suppliers who were the ONLY one with returned
    lines in orders served by several suppliers. The fixture lineitem
    has no receipt/commit dates, so 'kept waiting' is re-keyed on
    l_returnflag with the exact Q21 EXISTS / NOT-EXISTS skeleton:
    a left-semi join (some other supplier in the order) composed with
    a left-anti join (no other supplier returned). Both run as
    shuffle joins keyed on l_orderkey over DISTINCT (order, supplier)
    pairs — three aggregations and two joins sharing one key, so AQE
    coalesces them onto one exchange lineage; supplier is a broadcast.
    Tie-break on s_suppkey makes the LIMIT deterministic."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag")
    r = (li.where(F.col("l_returnflag") == "R")
         .select("l_orderkey", "l_suppkey").distinct())
    a = li.select("l_orderkey", "l_suppkey").distinct()

    other = a.select(F.col("l_orderkey").alias("_ok"),
                     F.col("l_suppkey").alias("_sk"))
    r_other = r.select(F.col("l_orderkey").alias("_ok"),
                       F.col("l_suppkey").alias("_sk"))
    cond = (F.col("l_orderkey") == F.col("_ok")) & (
        F.col("l_suppkey") != F.col("_sk"))
    kept = (
        r.join(other, cond, "left_semi")
        .join(r_other, cond, "left_anti")
    )
    s = load_table(spark, sf_dir, "supplier")
    return (
        kept.join(F.broadcast(s), kept.l_suppkey == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_suppkey")
        .limit(10)
    )


# --- skyline (Pareto frontier) ---------------------------------------------

# Price bands partition the sort dimension so the skyline sweep never
# needs a single-partition global window: bands interact only through
# a bands-count-sized prefix-max table.
SKY_BAND = 10.0

_SQL_SKYLINE = f"""
    WITH pts AS (
      SELECT p_retailprice AS price, p_size AS size,
             CAST(COUNT(*) AS BIGINT) AS n_parts
      FROM part
      WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
      GROUP BY p_retailprice, p_size
    )
    SELECT price, size, n_parts
    FROM pts p
    WHERE NOT EXISTS (
      SELECT 1 FROM pts q
      WHERE q.price <= p.price AND q.size >= p.size
        AND (q.price < p.price OR q.size > p.size))
"""


@query("skyline_parts", oracle=_SQL_SKYLINE)
def skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier (Börzsönyi, Kossmann & Stocker, ICDE
    2001) of parts under "cheaper AND bigger is better": the (price,
    size) value pairs no other pair dominates.

    Spark-first plan instead of the textbook quadratic NOT EXISTS:
    (1) collapse rows to DISTINCT value pairs first (value-pair
    cardinality, not row count — the same vocabulary trick as the
    linkage tier); (2) sweep each PRICE BAND independently with a
    window ordered (price asc, size desc) taking the running max size
    of strictly-preceding pairs — within a band, a preceding pair has
    lower price (or equal price and larger size), so "running max >=
    my size" is exactly dominance; (3) bands interact only through a
    bands-count-sized prefix-max side table (earlier band => strictly
    lower price, so its max size dominates at >=), broadcast back.
    No global single-partition window, no cartesian: at 100 TB the
    cost is one distinct-pair aggregation plus banded windows. The
    oracle is the declarative quadratic dominance predicate, so the
    sweep's tie handling is checked against the definition itself."""
    part = load_table(spark, sf_dir, "part")
    from pyspark.sql import Window as W

    # NULL-valued points are excluded in BOTH engines (r8 review #1:
    # a point with unknown price/size cannot be dominance-ranked, and
    # NULL comparisons made the two engines disagree three ways —
    # dropped by the equi-join, failed by the sweep predicate, and
    # sorted nulls-FIRST into prev_max on the Spark side only).
    pts = (
        part.where(F.col("p_retailprice").isNotNull()
                   & F.col("p_size").isNotNull())
        .groupBy(F.col("p_retailprice").alias("price"),
                 F.col("p_size").alias("size"))
        .agg(F.count("*").cast("bigint").alias("n_parts"))
        .withColumn("band", F.floor(F.col("price") / F.lit(SKY_BAND))
                    .cast("int"))
    )
    in_band = W.partitionBy("band").orderBy(
        F.col("price").asc(), F.col("size").desc()
    ).rowsBetween(W.unboundedPreceding, -1)
    swept = pts.withColumn("run_max", F.max("size").over(in_band))
    band_max = (
        pts.groupBy("band").agg(F.max("size").alias("bmax"))
        .withColumn("prev_max", F.max("bmax").over(
            W.orderBy("band").rowsBetween(W.unboundedPreceding, -1)))
        .select("band", "prev_max")
    )
    # Null-aware survival predicate (ADVICE r8 #2): run_max/prev_max
    # are NULL when no preceding point exists, and NULL means "nothing
    # dominates from that side" — a coalesce(-1) sentinel wrongly
    # dropped first-in-band points with size <= -1 (negative sizes are
    # legal inputs; the NULL filter above excludes only unknowns).
    no_dom = ((F.col("run_max").isNull() | (F.col("run_max") < F.col("size")))
              & (F.col("prev_max").isNull()
                 | (F.col("prev_max") < F.col("size"))))
    return (
        swept.join(F.broadcast(band_max), "band")
        .where(no_dom)
        .select("price", "size", "n_parts")
    )


# --- market basket: association pairs ---------------------------------------

MB_TOP = 50

_SQL_BASKET = f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS okey, l_partkey AS part
      FROM lineitem
    ),
    n_orders AS (
      SELECT CAST(COUNT(DISTINCT okey) AS BIGINT) AS n FROM items
    ),
    item_n AS (
      SELECT part, CAST(COUNT(*) AS BIGINT) AS n_item
      FROM items GROUP BY part
    ),
    pairs AS (
      SELECT a.part AS part_a, b.part AS part_b,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM items a JOIN items b
        ON a.okey = b.okey AND a.part < b.part
      GROUP BY a.part, b.part
    ),
    scored AS (
      SELECT p.part_a, p.part_b, p.n_ab,
             ia.n_item AS n_a, ib.n_item AS n_b, o.n AS n_orders,
             CAST(p.n_ab AS DOUBLE) / CAST(ia.n_item AS DOUBLE)
               AS confidence,
             CAST(p.n_ab AS DOUBLE) * CAST(o.n AS DOUBLE)
               / (CAST(ia.n_item AS DOUBLE) * CAST(ib.n_item AS DOUBLE))
               AS lift
      FROM pairs p
      JOIN item_n ia ON ia.part = p.part_a
      JOIN item_n ib ON ib.part = p.part_b
      CROSS JOIN n_orders o
    )
    SELECT * FROM scored
    ORDER BY n_ab DESC, part_a, part_b
    LIMIT {MB_TOP}
"""


@query("market_basket_pairs", oracle=_SQL_BASKET)
def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining (the Apriori/FP-growth pair
    step, Agrawal & Srikant 1994): the top-{MB_TOP} co-ordered part
    pairs with exact support counts plus confidence P(b|a) and lift —
    each one IEEE division of exact integers, so the whole row sits
    under the hash gate.

    100 TB posture: the pair expansion is a WITHIN-ORDER self-join —
    candidate volume is Σ_orders |items|², bounded by the basket size
    (≤7 lineitems in this schema), never |parts|² — and the pair
    aggregation is map-side combined on the (a, b) key. Per-item and
    corpus totals are side aggregates (the 1-row order count rides a
    broadcast cross join, the same in-plan-scalar discipline as
    bm25's stats fold). Top-k is TakeOrderedAndProject, not a global
    sort."""
    li = load_table(spark, sf_dir, "lineitem")
    # r15 (guide §2.4 "two operations keyed the same way can share one
    # exchange"): hash-repartition the item rows by okey BEFORE the
    # distinct — HashPartitioning(okey) satisfies the distinct's
    # ClusteredDistribution(okey, part) (subset rule) AND the pair
    # self-join's okey requirement, so the checkpointed table feeds
    # both join sides with ZERO further exchanges (was: distinct
    # exchanged on (okey, part), then BOTH self-join legs re-exchanged
    # on okey — 3 row-scale shuffles where 1 suffices; same rows at
    # any scale, the repartition just picks the reusable key).
    items = materialize(li.select(F.col("l_orderkey").alias("okey"),
                                  F.col("l_partkey").alias("part"))
                        .repartition("okey").distinct())
    n_orders = items.agg(
        F.countDistinct("okey").cast("bigint").alias("n_orders"))
    item_n = items.groupBy("part").agg(
        F.count("*").cast("bigint").alias("n_item"))
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(b, (F.col("a.okey") == F.col("b.okey"))
               & (F.col("a.part") < F.col("b.part")))
        .groupBy(F.col("a.part").alias("part_a"),
                 F.col("b.part").alias("part_b"))
        .agg(F.count("*").cast("bigint").alias("n_ab"))
    )
    ia = item_n.withColumnsRenamed({"part": "pa", "n_item": "n_a"})
    ib = item_n.withColumnsRenamed({"part": "pb", "n_item": "n_b"})
    scored = (
        pairs.join(ia, pairs.part_a == ia.pa)
        .join(ib, pairs.part_b == ib.pb)
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a", "part_b", "n_ab", "n_a", "n_b", "n_orders",
            (F.col("n_ab").cast("double") / F.col("n_a").cast("double"))
            .alias("confidence"),
            (F.col("n_ab").cast("double") * F.col("n_orders").cast("double")
             / (F.col("n_a").cast("double") * F.col("n_b").cast("double")))
            .alias("lift"),
        )
    )
    return scored.orderBy(F.col("n_ab").desc(), "part_a", "part_b") \
        .limit(MB_TOP)
