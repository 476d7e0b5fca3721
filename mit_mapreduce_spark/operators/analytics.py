"""Decision-support app queries over the TPC-H-ish fixture tables.

The reference ships three MapReduce apps (`mrapps/wc.go`,
`mrapps/indexer.go`, `mrapps/crash.go`) and no relational app tier at
all (SURVEY.md §2.3 ABSENT list); this module is the app-level
counterpart a warehouse user expects, shaped after the classic
public TPC-H decision-support patterns (Q4/Q7/Q8/Q13/Q18) plus an
iterative graph analytic (PageRank) the reference's DAG-less engine
could never express.

Scale notes (100 TB posture):
- Every filter is expressed on the base table before the join so it
  reaches the parquet scan (PushedFilters), and every dimension join
  (`nation`, `region`) is an explicit broadcast.
- Fact⋈fact joins shuffle on their natural keys; AQE handles skew.
- Double aggregates go through functions.numeric dsum (exact decimal
  partial aggregation) so results are bit-identical under any
  parallelism.
- PageRank runs in fixed-point integer arithmetic (see below), so
  even an iterative float-free algorithm is exactly oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mit_mapreduce_spark.catalog import load_table
from mit_mapreduce_spark.functions.numeric import davg, dsum, sql_davg, sql_dsum
from mit_mapreduce_spark.operators.registry import query
from mit_mapreduce_spark.session import materialize


# --- Q4-shaped: EXISTS decorrelated to a left-semi join -------------------

@query(
    "exists_order_priority",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_returnflag = 'R')
    GROUP BY o.o_orderpriority
    """,
)
def exists_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped: orders in a 6-month window having at least one
    returned lineitem, counted by priority. The EXISTS is a left-semi
    join — Catalyst never materializes the full orders⋈lineitem
    product, and both filters reach their scans."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp")))
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


# --- Q7-shaped: bidirectional two-nation trade volume by year -------------

@query(
    "volume_shipping_pair",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           {sql_dsum('volume', 'revenue')}
    FROM (
      SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
             CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation ns ON ns.n_nationkey = s.s_nationkey
      JOIN nation nc ON nc.n_nationkey = c.c_nationkey
      WHERE ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
             OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
        AND l.l_shipdate >= TIMESTAMP '1995-01-01'
        AND l.l_shipdate < TIMESTAMP '2002-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def volume_shipping_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped: shipped revenue between a pair of nations, both
    directions, per ship-year. The two nation lookups are broadcast;
    the disjunctive nation predicate runs after them (25-row dims make
    it nearly free), while the shipdate range is pushed to the
    lineitem scan — the one filter that matters at 100 TB."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2002-01-01").cast("timestamp")))
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    ns = F.broadcast(n.select(F.col("n_nationkey").alias("s_nk"),
                              F.col("n_name").alias("supp_nation")))
    nc = F.broadcast(n.select(F.col("n_nationkey").alias("c_nk"),
                              F.col("n_name").alias("cust_nation")))
    pair = ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")) | \
           ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(ns, F.col("s_nationkey") == F.col("s_nk"))
        .join(nc, F.col("c_nationkey") == F.col("c_nk"))
        .where(pair)
        .select("supp_nation", "cust_nation",
                F.year("l_shipdate").cast("int").alias("l_year"),
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum("volume", "revenue"))
    )


# --- Q8-shaped: national market share within a region's market ------------

@query(
    "market_share_yearly",
    oracle=f"""
    SELECT o_year,
           nation_rev / total_rev AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
             {sql_dsum("CASE WHEN ns.n_name = 'NATION_3' "
                       "THEN l.l_extendedprice * (1 - l.l_discount) "
                       "ELSE 0.0 END", 'nation_rev')},
             {sql_dsum('l.l_extendedprice * (1 - l.l_discount)', 'total_rev')}
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation ncust ON ncust.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = ncust.n_regionkey
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation ns ON ns.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
      GROUP BY o_year
    ) shares
    """,
)
def market_share_yearly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped: NATION_3 suppliers' share of the ASIA-customer
    PROMO-part market per order-year — a 7-table join with conditional
    aggregation. `part` is filtered then joined on partkey (at 100 TB
    the selective p_type filter makes it the natural broadcast/semi
    reduction of lineitem); dims are broadcast. The share is one IEEE
    division of two exact decimal sums — deterministic cross-engine."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    ncust = F.broadcast(n.select(F.col("n_nationkey").alias("c_nk"),
                                 F.col("n_regionkey").alias("c_rk")))
    nsupp = F.broadcast(n.select(F.col("n_nationkey").alias("s_nk"),
                                 F.col("n_name").alias("supp_nation")))
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount")))
    grouped = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(ncust, F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(r), F.col("c_rk") == F.col("r_regionkey"))
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(nsupp, F.col("s_nationkey") == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            dsum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0),
                 "nation_rev"),
            dsum(vol, "total_rev"),
        )
    )
    return grouped.select(
        "o_year", (F.col("nation_rev") / F.col("total_rev")).alias("mkt_share"))


# --- Q13-shaped: distribution of orders-per-customer ----------------------

@query(
    "custdist_order_counts",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def custdist_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped: how many customers placed how many (non-urgent)
    orders, zero included. The filtered LEFT join keeps every customer;
    COUNT(o_orderkey) counts only matches. Two shuffles (custkey join,
    c_count re-agg) — the second is over at most |distinct counts|
    groups, trivially small at any scale."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


# --- Q18-shaped: large-volume orders (HAVING over a fact agg) -------------

LARGE_QTY = 300.0


@query(
    "having_large_orders",
    oracle=f"""
    SELECT c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           t.sum_qty
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN (SELECT l_orderkey, {sql_dsum('l_quantity', 'sum_qty')}
          FROM lineitem GROUP BY l_orderkey
          HAVING SUM(l_quantity) > {LARGE_QTY}) t
      ON t.l_orderkey = o.o_orderkey
    """,
)
def having_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped: orders whose total quantity exceeds
    {LARGE_QTY}. The HAVING aggregation reduces lineitem to a tiny
    keyset FIRST (map-side combined), and only that keyset joins back
    to orders/customer — at 100 TB the selective aggregate, not the
    join, carries the cost."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity", "sum_qty"),
             F.sum("l_quantity").alias("_raw"))
        .where(F.col("_raw") > LARGE_QTY)
        .drop("_raw")
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice",
                "sum_qty")
    )


# --- fixed-point PageRank over the nation trade graph ---------------------

PR_SCALE = 1_000_000_000_000   # rank unit: parts-per-10^12
PR_SHARE = 1_000_000           # edge-share unit: parts-per-10^6
PR_ITERS = 3


def _sql_pagerank() -> str:
    tele = f"(15 * ({PR_SCALE} // nn)) // 100"
    iters = []
    prev = "r0"
    for k in range(1, PR_ITERS + 1):
        iters.append(f"""
    r{k} AS (
      SELECT n.v,
             CAST({tele} + (85 * COALESCE(c.contrib, 0)) // 100 AS BIGINT) AS r
      FROM nodes n CROSS JOIN cnt
      LEFT JOIN (
        SELECT sh.dst AS v,
               CAST(SUM((p.r * sh.p) // {PR_SHARE}) AS BIGINT) AS contrib
        FROM {prev} p JOIN share sh ON sh.src = p.v
        GROUP BY sh.dst) c ON c.v = n.v)""")
        prev = f"r{k}"
    return f"""
    WITH edges AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
             COUNT(*) AS w
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY src, dst),
    outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM edges GROUP BY src),
    share AS (SELECT e.src, e.dst, (e.w * {PR_SHARE}) // o.ow AS p
              FROM edges e JOIN outw o ON o.src = e.src),
    nodes AS (SELECT n_nationkey AS v FROM nation),
    cnt AS (SELECT COUNT(*) AS nn FROM nation),
    r0 AS (SELECT v, CAST({PR_SCALE} // nn AS BIGINT) AS r FROM nodes, cnt),
    {','.join(iters)}
    SELECT n.n_name AS nation, p.r AS rank_ppt
    FROM r{PR_ITERS} p JOIN nation n ON n.n_nationkey = p.v
    """


@query("pagerank_trade", oracle=_sql_pagerank())
def pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the nation trade graph (edge cust_nation →
    supp_nation weighted by lineitem count), {PR_ITERS} iterations,
    damping 0.85 — an iterative graph algorithm the reference's
    one-shot MapReduce model cannot express.

    Exactly oracle-checked despite being iterative: ranks are
    fixed-point integers (parts-per-10^12) and edge shares are
    parts-per-10^6, so every update is integer multiply/floor-divide —
    bit-identical in any engine and under any execution order, with no
    float accumulation drift. The share pre-scaling also bounds
    products at rank×share ≈ 10^18 < 2^63 regardless of absolute edge
    weights, so the arithmetic never overflows at any data scale.

    100 TB posture: the expensive part is the edge derivation — two
    key-partitioned fact joins aggregated (map-side combined) down to
    ≤ |nations|² = 625 edges; the iteration itself runs on that tiny
    aggregated graph via broadcast joins. For billion-node graphs the
    identical loop is the standard DataFrame-Pregel shape used by
    dedup_clusters (per-round localCheckpoint, edge-restricted
    updates)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")

    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("c_nationkey").alias("src"),
                 F.col("s_nationkey").alias("dst"))
        .agg(F.count("*").alias("w"))
    )
    outw = edges.groupBy("src").agg(F.sum("w").cast("bigint").alias("ow"))
    # cut the fact-join lineage before iterating
    share = materialize(
        edges.join(outw, "src")
        .select("src", "dst", F.expr(f"(w * {PR_SHARE}) div ow").alias("p"))
    )
    nodes = n.select(F.col("n_nationkey").alias("v"))
    cnt = F.broadcast(n.agg(F.count("*").alias("nn")))
    base = nodes.crossJoin(cnt)
    r = base.select("v", F.expr(f"{PR_SCALE} div nn").cast("bigint").alias("r"))
    tele = F.expr(f"(15 * ({PR_SCALE} div nn)) div 100")
    for _ in range(PR_ITERS):
        contrib = (
            r.join(F.broadcast(share), r.v == share.src)
            .select("dst", F.expr(f"(r * p) div {PR_SHARE}").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").cast("bigint").alias("contrib"))
        )
        r = (
            base.join(contrib, base.v == contrib.dst, "left")
            .select("v",
                    (tele + F.expr("(85 * COALESCE(contrib, 0)) div 100"))
                    .cast("bigint").alias("r"))
        )
    return (
        r.join(F.broadcast(n), r.v == n.n_nationkey)
        .select(F.col("n_name").alias("nation"), F.col("r").alias("rank_ppt"))
    )


# --- Q11-shaped: groups exceeding a global-share threshold ----------------

SHARE_MIN = 0.004


@query(
    "important_stock_share",
    oracle=f"""
    SELECT supp_nation, p_brand, brand_rev
    FROM (
      SELECT n.n_name AS supp_nation, p.p_brand,
             {sql_dsum('l.l_extendedprice * l.l_quantity', 'brand_rev')}
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY supp_nation, p.p_brand)
    WHERE brand_rev > {SHARE_MIN} * (
      SELECT {sql_dsum('l2.l_extendedprice * l2.l_quantity', 'x')}
      FROM lineitem l2)
    """,
)
def important_stock_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped: (supplier-nation, brand) groups holding more
    than {SHARE_MIN:.1%} of global inventory value — a grouped
    aggregate HAVING-filtered against a global scalar aggregate. The
    global total is a 1-row broadcast cross join; both aggregations
    are map-side combined, so at 100 TB this is two passes over
    lineitem (Catalyst cannot share them across the differing keys)
    and nothing else."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    p = load_table(spark, sf_dir, "part")
    val = F.col("l_extendedprice") * F.col("l_quantity")
    grouped = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.col("n_name").alias("supp_nation"), "p_brand")
        .agg(dsum(val, "brand_rev"))
    )
    total = F.broadcast(li.agg(dsum(val, "_total")))
    return (
        grouped.crossJoin(total)
        .where(F.col("brand_rev") > SHARE_MIN * F.col("_total"))
        .select("supp_nation", "p_brand", "brand_rev")
    )


# --- Q22-shaped: anti join + global-average scalar subquery ---------------

@query(
    "global_sales_opportunity",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           {sql_dsum('c.c_acctbal', 'totacctbal')}
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE c.c_acctbal > (SELECT {sql_davg('c2.c_acctbal', 'x')}
                         FROM customer c2 WHERE c2.c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-07-01')
    GROUP BY n.n_name
    """,
)
def global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped: per nation, the count and balance-mass of
    above-average-balance customers gone DORMANT (no order in the
    fixture's final year — the synthetic data gives every customer at
    least one all-time order, so the classic never-ordered predicate
    would be vacuously empty). The average is
    an uncorrelated scalar (1-row broadcast); the "never ordered" is
    a left-anti join against orders — at 100 TB the anti join
    shuffles on custkey like any fact join and AQE handles its skew;
    no correlated per-row subquery survives planning."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    avg_bal = F.broadcast(
        c.where(F.col("c_acctbal") > 0.0)
        .agg(davg("c_acctbal", "_avg")))
    return (
        c.crossJoin(avg_bal)
        .where(F.col("c_acctbal") > F.col("_avg"))
        .join(o.where(F.col("o_orderdate")
                      >= F.lit("2000-07-01").cast("timestamp")),
              c.c_custkey == o.o_custkey, "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("*").cast("bigint").alias("numcust"),
             dsum("c_acctbal", "totacctbal"))
    )


# --- Q12-shaped: conditional priority counts over late shipments ----------

@query(
    "late_line_priority",
    oracle="""
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND l.l_shipdate >= TIMESTAMP '2000-01-01'
      AND l.l_shipdate < TIMESTAMP '2001-01-01'
    GROUP BY l.l_linestatus
    """,
)
def late_line_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped: lines shipped >60 days after their order date
    in one year, counted by line status and split into urgent-vs-other
    order priorities (the fixture schema has no l_shipmode /
    l_commitdate, so l_linestatus stands in for the grouping column
    and order-to-ship lag for the late-delivery predicate — the plan
    shape is identical: fact⋈fact equi-join with a non-equi residual,
    CASE-WHEN conditional aggregation).

    100 TB posture: the shipdate year-window is pushed to the lineitem
    scan; the lag predicate (spanning both sides) evaluates as the
    join residual; both conditional sums are map-side combined
    long partials — no second pass, no distinct."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2001-01-01").cast("timestamp")))
    o = load_table(spark, sf_dir, "orders")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .where(F.col("l_shipdate")
               > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
        .groupBy("l_linestatus")
        .agg(F.sum(F.when(is_high, 1).otherwise(0)).cast("bigint")
             .alias("high_line_count"),
             F.sum(F.when(~is_high, 1).otherwise(0)).cast("bigint")
             .alias("low_line_count"))
    )


# --- Q16-shaped: supplier variety per part class, bad suppliers excluded --

@query(
    "supplier_part_variety",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 22, 25)
      AND l.l_suppkey NOT IN (
        SELECT s.s_suppkey FROM supplier s WHERE s.s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped: how many distinct suppliers ship each
    (brand, type, size) part class, excluding a blacklisted supplier
    set (negative account balance stands in for the complaints LIKE —
    the fixture has no partsupp/s_comment, so lineitem is the
    part⋈supplier relation). Shape preserved: NOT IN decorrelated to
    a left-anti join + COUNT(DISTINCT) grouped aggregate.

    100 TB posture: part filters (brand/size) reach the part scan and
    prune the join's build side; the blacklist is a tiny broadcast
    anti join; the count-distinct runs as Spark's two-phase
    partial-distinct aggregation (dedup before the final shuffle), so
    the wide fact never funnels through one reducer."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22, 25))
    bad = load_table(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint")
             .alias("supplier_cnt"))
    )


# --- Q20-shaped: dominant suppliers of a part family ----------------------

@query(
    "excess_stock_suppliers",
    oracle="""
    SELECT s.s_name, n.n_name AS nation
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE s.s_suppkey IN (
      SELECT d.l_suppkey
      FROM (
        SELECT l.l_partkey, l.l_suppkey,
               SUM(CAST(l.l_quantity AS BIGINT)) AS sup_qty
        FROM lineitem l
        WHERE l.l_shipdate >= TIMESTAMP '2000-01-01'
          AND l.l_partkey IN (
            SELECT p.p_partkey FROM part p WHERE p.p_name LIKE 'small%')
        GROUP BY l.l_partkey, l.l_suppkey) d
      JOIN (
        SELECT l2.l_partkey,
               SUM(CAST(l2.l_quantity AS BIGINT)) AS part_qty
        FROM lineitem l2
        WHERE l2.l_shipdate >= TIMESTAMP '2000-01-01'
          AND l2.l_partkey IN (
            SELECT p.p_partkey FROM part p WHERE p.p_name LIKE 'small%')
        GROUP BY l2.l_partkey) t ON t.l_partkey = d.l_partkey
      WHERE 10 * d.sup_qty > 3 * t.part_qty)
    """,
)
def excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped: suppliers shipping >30% of the recent volume
    of any 'small%'-named part (the fixture has no partsupp, so
    "availqty > half a year's shipments" becomes "dominant share of a
    part's shipments" — the same nested-subquery pyramid: part-family
    filter → per-(part,supplier) aggregate → compare against a
    per-part aggregate → IN-list into the supplier table).

    Quantities are integral doubles; both engines sum them as BIGINT
    and the share test is exact integer cross-multiplication
    (10·sup > 3·part) — no float threshold ambiguity.

    100 TB posture: the name LIKE prunes part before a broadcast
    semi-join onto the filtered lineitem scan; ONE shuffle on
    (partkey, suppkey) computes the fine grain, the per-part total is
    a map-side-combined re-aggregation of that (already tiny) result
    — not a second lineitem pass; the final IN is a semi join
    broadcast into supplier."""
    small = (load_table(spark, sf_dir, "part")
             .where(F.col("p_name").like("small%"))
             .select("p_partkey"))
    li = (load_table(spark, sf_dir, "lineitem")
          .where(F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp"))
          .join(F.broadcast(small),
                F.col("l_partkey") == F.col("p_partkey"), "left_semi"))
    fine = (li.groupBy("l_partkey", "l_suppkey")
            .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("sup_qty")))
    part_tot = (fine.groupBy("l_partkey")
                .agg(F.sum("sup_qty").alias("part_qty")))
    dominant = (
        fine.join(part_tot, "l_partkey")
        .where(10 * F.col("sup_qty") > 3 * F.col("part_qty"))
        .select("l_suppkey").distinct())
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(dominant), s.s_suppkey == dominant.l_suppkey,
               "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", F.col("n_name").alias("nation"))
    )


# --- recursive CTE surface: month spine with zero-filled revenue ----------

_SQL_RECURSIVE_MONTHS = f"""
WITH RECURSIVE spine(month_start, mx) AS (
  SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS TIMESTAMP),
         CAST(date_trunc('month', MAX(o_orderdate)) AS TIMESTAMP)
  FROM orders
  UNION ALL
  SELECT month_start + INTERVAL '1' MONTH, mx
  FROM spine WHERE month_start < mx),
monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m,
         {sql_dsum('o_totalprice', 'rev')},
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders
  GROUP BY 1)
SELECT s.month_start,
       COALESCE(mo.rev, 0.0) AS revenue,
       COALESCE(mo.n_orders, 0) AS n_orders
FROM spine s LEFT JOIN monthly mo ON mo.m = s.month_start
"""


@query("recursive_month_revenue", oracle=_SQL_RECURSIVE_MONTHS)
def recursive_month_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE surface (Spark 4's WITH RECURSIVE): a month spine
    generated by bounded UNION ALL recursion — anchor carries the max
    bound as a column, so the recursion terminates without the
    UNION-distinct form Spark doesn't support yet — left-joined with
    monthly revenue, zero-filled. ONE SQL string runs verbatim on both
    engines (like sql_frontdoor_revenue), so the recursion itself is
    under the hash gate; gapfill_hourly is the sequence()-based
    DataFrame twin of the same spine idea.

    100 TB posture: the recursion materializes |months| rows — driver-
    trivial; the real work (the monthly aggregate) is one map-side-
    combined shuffle of orders, and the spine join broadcasts."""
    from mit_mapreduce_spark.catalog import register_views
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(_SQL_RECURSIVE_MONTHS)


# --- closed-form OLS trend per nation --------------------------------------

# Monthly revenue is converted to exact BIGINT units of 1e-4 dollars
# (the decimal sum is integral at scale 4, so the cast is lossless),
# making every regression moment an exact integer aggregate: the
# slope's numerator/denominator are bit-identical in both engines and
# hash-gateable, with one deterministic IEEE division at the end.
# The monthly/fit construction is SHARED between the trend and the
# residual ops (code-review r8 #8: two hand-synced copies would
# silently de-sync on a unit tweak). Months whose revenue sum is NULL
# (only NULL-priced orders) are EXCLUDED from the fit in both engines
# (r8 review #3: keeping them made n/sx/sxx count a month that
# sy/sxy skipped — a slope of no point set). Likewise NULL-orderdate
# orders (ADVICE r8 #1): a NULL date yields x = NULL, which n/sy
# counted while sx/sxy/sxx skipped (SQL SUM ignores NULL) — the same
# no-coherent-point-set bug class on the other axis — and the NULL
# residual it produced entered the ABS DESC rank window where the two
# engines' null ordering diverges. Both coordinates must be known for
# a point to exist: WHERE x IS NOT NULL AND y IS NOT NULL.
_SQL_OLS_MONTHLY_FIT = """
    monthly AS (
      SELECT * FROM (
        SELECT c.c_nationkey AS nationkey,
               (YEAR(o.o_orderdate) - 1995) * 12
                 + MONTH(o.o_orderdate) - 1 AS x,
               CAST(SUM(CAST(ROUND(o.o_totalprice, 4) AS DECIMAL(28,4)))
                    * 10000 AS BIGINT) AS y
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_nationkey,
                 (YEAR(o.o_orderdate) - 1995) * 12 + MONTH(o.o_orderdate) - 1
      ) WHERE x IS NOT NULL AND y IS NOT NULL
    ),
    fit AS (
      SELECT nationkey,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM monthly GROUP BY nationkey
    )
"""

_SQL_OLS_TREND = f"""
    WITH {_SQL_OLS_MONTHLY_FIT}
    SELECT n.n_name,
           f.n AS n_months,
           CAST(f.n * f.sxy - f.sx * f.sy AS BIGINT) AS slope_num,
           CAST(f.n * f.sxx - f.sx * f.sx AS BIGINT) AS slope_den,
           CASE WHEN f.n * f.sxx - f.sx * f.sx = 0 THEN NULL
                ELSE CAST(f.n * f.sxy - f.sx * f.sy AS DOUBLE)
                     / CAST(f.n * f.sxx - f.sx * f.sx AS DOUBLE)
                     / 10000.0
           END AS slope_dollars_per_month
    FROM fit f JOIN nation n ON f.nationkey = n.n_nationkey
"""


def _ols_monthly_fit(spark: SparkSession, sf_dir: str):
    """Shared stage-1/stage-2 frames for the OLS pair: (monthly, fit).
    monthly = exact BIGINT revenue units per (nation, month), NULL-x
    (NULL o_orderdate) and NULL-sum months excluded (both coordinates
    must exist — see _SQL_OLS_MONTHLY_FIT); fit = the five integer
    moments per nation (the fit frame's nation key is aliased
    f_nationkey so callers can join it back against monthly without
    ambiguity).

    A caller that reads BOTH frames (ols_residual_outliers joins
    monthly against fit) plans the orders⋈customer aggregate twice;
    that measured faster than a checkpoint of monthly (SCALE.md, "One
    materialization call").
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    x = ((F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1)
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"), x.alias("x"))
        .agg((F.sum(F.round("o_totalprice", 4).cast("decimal(28,4)"))
              * 10000).cast("bigint").alias("y"))
        .where(F.col("x").isNotNull() & F.col("y").isNotNull())
    )
    fit = monthly.groupBy("nationkey").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    ).withColumnsRenamed({"nationkey": "f_nationkey"})
    return monthly, fit


def _ols_num_den():
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    return num, den


@query("ols_trend_by_nation", oracle=_SQL_OLS_TREND)
def ols_trend_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue trend: closed-form simple linear regression
    of monthly order revenue on the month index, slope = (n·Sxy −
    Sx·Sy) / (n·Sxx − Sx²). The regression-aggregate surface (SQL
    REGR_SLOPE family) expressed as exact integer moments: monthly
    revenue becomes BIGINT units of 1e-4 dollars (lossless — the
    scale-4 decimal sum is integral), so Sx/Sy/Sxy/Sxx are plain
    integer sums, mergeable map-side and bit-identical under any
    partial-aggregation order; numerator and denominator are emitted
    exactly and the slope is one IEEE division.

    100 TB posture: stage 1 is the only row-scale shuffle (a groupBy
    on (nation, month) — map-side combined); stage 2 runs over
    |nations|·|months| rows, thousands at any corpus size, and the
    nation dim joins broadcast. Integer headroom: the num/den products
    stay in BIGINT for monthly cells up to ~1e14 units (~$10 B/month
    per nation); beyond that, swap units (cents) or DECIMAL(38,0)
    moments — the shape is unchanged. A single-month group (den = 0)
    yields NULL slope instead of a div-by-zero artifact; NULL-revenue
    months are excluded from the fit (see _SQL_OLS_MONTHLY_FIT)."""
    n = load_table(spark, sf_dir, "nation")
    _, fit = _ols_monthly_fit(spark, sf_dir)
    num, den = _ols_num_den()
    return (
        fit.join(F.broadcast(n), fit.f_nationkey == n.n_nationkey)
        .select(
            "n_name",
            F.col("n").alias("n_months"),
            num.cast("bigint").alias("slope_num"),
            den.cast("bigint").alias("slope_den"),
            F.when(den == 0, F.lit(None).cast("double"))
            .otherwise(num.cast("double") / den.cast("double") / 10000.0)
            .alias("slope_dollars_per_month"),
        )
    )


# --- regression diagnostics: residual outliers ------------------------------

OLS_RESID_TOP = 3

_SQL_OLS_RESID = f"""
    WITH {_SQL_OLS_MONTHLY_FIT},
    resid AS (
      SELECT m.nationkey, m.x, m.y,
             (CAST(m.y AS DOUBLE)
              - ((CAST(f.sy AS DOUBLE)
                  - (CAST(f.n * f.sxy - f.sx * f.sy AS DOUBLE)
                     / CAST(f.n * f.sxx - f.sx * f.sx AS DOUBLE))
                    * CAST(f.sx AS DOUBLE))
                 / CAST(f.n AS DOUBLE))
              - (CAST(f.n * f.sxy - f.sx * f.sy AS DOUBLE)
                 / CAST(f.n * f.sxx - f.sx * f.sx AS DOUBLE))
                * CAST(m.x AS DOUBLE)) / 10000.0 AS residual
      FROM monthly m JOIN fit f ON m.nationkey = f.nationkey
      WHERE f.n * f.sxx - f.sx * f.sx <> 0
    ),
    ranked AS (
      SELECT nationkey, x, y, residual,
             row_number() OVER (PARTITION BY nationkey
                                ORDER BY ABS(residual) DESC, x) AS rnk
      FROM resid
    )
    SELECT n.n_name, r.x AS month_idx, r.y AS revenue_units,
           CAST(r.residual AS DOUBLE) AS residual_dollars,
           CAST(r.rnk AS INT) AS rnk
    FROM ranked r JOIN nation n ON r.nationkey = n.n_nationkey
    WHERE r.rnk <= {OLS_RESID_TOP}
"""


@query("ols_residual_outliers", oracle=_SQL_OLS_RESID)
def ols_residual_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regression diagnostics composing `ols_trend_by_nation`: the
    {OLS_RESID_TOP} months per nation that deviate most from the
    nation's fitted revenue trend — anomaly-on-trend, the report that
    separates "revenue is seasonal/growing" from "March was genuinely
    weird". The residual y − a − bx is evaluated as ONE fixed
    parenthesized IEEE expression over the exact integer moments
    (every input to every double op is an exact BIGINT cast, so both
    engines produce bit-identical doubles — the min_cost_supplier
    discipline extended to an expression chain); ranking breaks
    |residual| ties on the month index. Nations with a degenerate fit
    (single month, den = 0) are excluded rather than emitting an
    artifact. The monthly/fit stages are the same helper the trend op
    uses — one definition, two registered views of it.

    100 TB posture: identical to the trend op — one row-scale
    (nation, month) aggregate, then windows over |nations|·|months|
    rows; the nation dim broadcasts."""
    nat = load_table(spark, sf_dir, "nation")
    from pyspark.sql import Window as W

    monthly, fit = _ols_monthly_fit(spark, sf_dir)
    num, den = _ols_num_den()
    b = num.cast("double") / den.cast("double")
    a = (F.col("sy").cast("double") - b * F.col("sx").cast("double")) \
        / F.col("n").cast("double")
    resid = (
        monthly.join(fit, monthly.nationkey == fit.f_nationkey)
        .where(den != 0)
        .select("nationkey", "x", "y",
                ((F.col("y").cast("double") - a - b * F.col("x")
                  .cast("double")) / 10000.0).alias("residual"))
    )
    w = W.partitionBy("nationkey").orderBy(
        F.abs(F.col("residual")).desc(), "x")
    ranked = resid.select(
        "nationkey", "x", "y", "residual",
        F.row_number().over(w).cast("int").alias("rnk"),
    ).where(F.col("rnk") <= OLS_RESID_TOP)
    return (
        ranked.join(F.broadcast(nat), ranked.nationkey == nat.n_nationkey)
        .select("n_name", F.col("x").alias("month_idx"),
                F.col("y").alias("revenue_units"),
                F.col("residual").cast("double").alias("residual_dollars"),
                "rnk")
    )
