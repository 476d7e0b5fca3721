"""Hand-checkable property tests for the round-8 session-2 operators
(record linkage / entity resolution, k-anonymity, OLS trend), plus
their live oracle gates on crafted corpora. The sf0.01 differential
runs in selfcheck/driver."""

import os
import tempfile

from mit_mapreduce_spark import operators
from mit_mapreduce_spark.testing import compare

operators.load_all()


def _stage_parts(spark, names, td):
    """Crafted part.parquet (one row per name occurrence); every other
    table symlinks to the sf0.001 fixtures."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tab = pa.table({
        "p_partkey": pa.array(range(len(names)), pa.int64()),
        "p_name": pa.array(names, pa.string()),
        "p_brand": pa.array(["Brand#1"] * len(names), pa.string()),
        "p_type": pa.array(["ECONOMY"] * len(names), pa.string()),
        "p_size": pa.array([1] * len(names), pa.int64()),
        "p_retailprice": pa.array([100.0] * len(names), pa.float64()),
    })
    pq.write_table(tab, os.path.join(td, "part.parquet"))
    for t in ["region", "nation", "customer", "supplier", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        os.symlink(f"/root/testdata/sf0.001/{t}.parquet",
                   os.path.join(td, f"{t}.parquet"))


def test_fuzzy_match_crafted_graph(spark):
    """cold bolt ~1~ old bolt ~1~ bold bolt (cold~bold also dist 1,
    one substitution); hot gear matches nothing (different block); big
    gear is in gear's block but 3 edits from hot gear. Duplicate rows
    of one name collapse to a single vocabulary node with n_parts
    support."""
    names = ["cold bolt", "old bolt", "bold bolt", "bold bolt",
             "hot gear", "big gear"]
    with tempfile.TemporaryDirectory() as td:
        _stage_parts(spark, names, td)
        df = operators.QUERIES["fuzzy_blocked_match"](spark, td)
        rows = {(r.name_a, r.name_b): (r.dist, r.parts_a, r.parts_b)
                for r in df.collect()}
        assert rows == {
            ("cold bolt", "old bolt"): (1, 1, 1),
            ("bold bolt", "old bolt"): (1, 2, 1),
            ("bold bolt", "cold bolt"): (1, 2, 1),
        }
        ok, msg = compare(df, operators.ORACLES["fuzzy_blocked_match"], td)
        assert ok, msg


def test_entity_resolution_crafted_components(spark):
    """The three bolt variants resolve to one entity labeled by the
    lexicographic min name; the two gears stay singletons (distance 3
    exceeds the cap). n_parts aggregates row support, not name count."""
    names = ["cold bolt", "old bolt", "bold bolt", "bold bolt",
             "hot gear", "big gear"]
    with tempfile.TemporaryDirectory() as td:
        _stage_parts(spark, names, td)
        df = operators.QUERIES["entity_resolution"](spark, td)
        ents = {r.entity_id: (r.n_names, r.n_parts, r.first_name,
                              r.last_name) for r in df.collect()}
        assert ents == {
            "bold bolt": (3, 4, "bold bolt", "old bolt"),
            "hot gear": (1, 1, "hot gear", "hot gear"),
            "big gear": (1, 1, "big gear", "big gear"),
        }
        ok, msg = compare(df, operators.ORACLES["entity_resolution"], td)
        assert ok, msg


def test_levenshtein_parity_spark_vs_duckdb(spark):
    """The fuzzy predicate is only portable if both engines implement
    identical unit-cost Levenshtein (no transposition discount):
    pinned on empty strings, pure inserts, substitutions, and the
    transposition case (abcd→abdc is 2, not Damerau's 1)."""
    import duckdb

    cases = [("", "abc"), ("abc", ""), ("abcd", "abdc"),
             ("kitten", "sitting"), ("small ring", "small king"),
             ("bolt", "bolt"), ("a", "b"), ("flaw", "lawn")]
    sdf = spark.createDataFrame(cases, "a string, b string")
    from pyspark.sql import functions as F
    got = {(r.a, r.b): r.d for r in
           sdf.select("a", "b", F.levenshtein("a", "b").alias("d")).collect()}
    con = duckdb.connect()
    for a, b in cases:
        want = con.execute("SELECT levenshtein(?, ?)", [a, b]).fetchone()[0]
        assert got[(a, b)] == want, (a, b, got[(a, b)], want)


def test_fuzzy_match_plan_no_cartesian(spark, sf_dir):
    """Blocking must make the candidate join an equi-join: no
    CartesianProduct, no BroadcastNestedLoopJoin anywhere in the
    physical plan."""
    from mit_mapreduce_spark import plans

    df = operators.QUERIES["fuzzy_blocked_match"](spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def _stage_customers(spark, rows, td):
    """Crafted customer.parquet: rows = (custkey, nationkey, acctbal,
    mktsegment); every other table symlinks to sf0.001."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tab = pa.table({
        "c_custkey": pa.array([r[0] for r in rows], pa.int64()),
        "c_name": pa.array([f"Customer#{r[0]:09d}" for r in rows],
                           pa.string()),
        "c_nationkey": pa.array([r[1] for r in rows], pa.int64()),
        "c_acctbal": pa.array([r[2] for r in rows], pa.float64()),
        "c_mktsegment": pa.array([r[3] for r in rows], pa.string()),
    })
    pq.write_table(tab, os.path.join(td, "customer.parquet"))
    for t in ["region", "nation", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        os.symlink(f"/root/testdata/sf0.001/{t}.parquet",
                   os.path.join(td, f"{t}.parquet"))


def test_k_anonymity_crafted(spark):
    """Five identical-QI customers form a k=5-safe class; a lone
    customer in a different segment is risky; a negative balance lands
    in band -1 (FLOOR, not truncation). Suppression counts only the
    risky rows, per nation."""
    rows = ([(i, 1, 2500.0, "AUTO") for i in range(5)]     # class of 5: safe
            + [(10, 1, 2500.0, "BUILDING"),                # singleton: risky
               (11, 2, -100.0, "AUTO")])                   # band -1 singleton
    with tempfile.TemporaryDirectory() as td:
        _stage_customers(spark, rows, td)
        audit = operators.QUERIES["k_anonymity_audit"](spark, td)
        got = {(r.c_nationkey, r.c_mktsegment, r.bal_band): r.class_size
               for r in audit.collect()}
        assert got == {(1, "BUILDING", 0): 1, (2, "AUTO", -1): 1}
        ok, msg = compare(audit, operators.ORACLES["k_anonymity_audit"], td)
        assert ok, msg

        sup = operators.QUERIES["k_anonymity_suppress"](spark, td)
        got = {r.c_nationkey: (r.n_customers, r.n_suppressed)
               for r in sup.collect()}
        assert got == {1: (6, 1), 2: (1, 1)}
        ok, msg = compare(sup, operators.ORACLES["k_anonymity_suppress"], td)
        assert ok, msg


def test_k_anonymity_suppress_plan_broadcast(spark, sf_dir):
    """The risky-class side must ride a broadcast hash join (the class
    table is QI-grid-bounded), and nothing in the plan may be a
    cartesian product."""
    from mit_mapreduce_spark import plans

    df = operators.QUERIES["k_anonymity_suppress"](spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ols_trend_crafted_exact_slope(spark):
    """Three months of revenue 10/20/30 for one customer in nation 0:
    closed form gives num=600000, den=6 (1e-4-dollar units), slope
    exactly 10 $/month. A second nation with a single month must
    report NULL slope (den=0), not a division artifact."""
    import datetime
    import pyarrow as pa
    import pyarrow.parquet as pq

    with tempfile.TemporaryDirectory() as td:
        cust = pa.table({
            "c_custkey": pa.array([1, 2], pa.int64()),
            "c_name": pa.array(["Customer#1", "Customer#2"], pa.string()),
            "c_nationkey": pa.array([0, 1], pa.int64()),
            "c_acctbal": pa.array([0.0, 0.0], pa.float64()),
            "c_mktsegment": pa.array(["AUTO", "AUTO"], pa.string()),
        })
        pq.write_table(cust, os.path.join(td, "customer.parquet"))
        dt = datetime.datetime
        orders = pa.table({
            "o_orderkey": pa.array([1, 2, 3, 4], pa.int64()),
            "o_custkey": pa.array([1, 1, 1, 2], pa.int64()),
            "o_orderstatus": pa.array(["F"] * 4, pa.string()),
            "o_totalprice": pa.array([10.0, 20.0, 30.0, 7.0], pa.float64()),
            "o_orderdate": pa.array(
                [dt(1995, 1, 15), dt(1995, 2, 15), dt(1995, 3, 15),
                 dt(1995, 5, 1)], pa.timestamp("us")),
            "o_orderpriority": pa.array(["1-URGENT"] * 4, pa.string()),
        })
        pq.write_table(orders, os.path.join(td, "orders.parquet"))
        for t in ["region", "nation", "supplier", "part", "lineitem",
                  "events", "documents", "embeddings"]:
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet",
                       os.path.join(td, f"{t}.parquet"))

        df = operators.QUERIES["ols_trend_by_nation"](spark, td)
        got = {r.n_name: (r.n_months, r.slope_num, r.slope_den,
                          r.slope_dollars_per_month) for r in df.collect()}
        trend = [v for k, v in got.items()]
        assert len(got) == 2
        by_months = {v[0]: v for v in trend}
        assert by_months[3] == (3, 600000, 6, 10.0)
        assert by_months[1][1:] == (0, 0, None)
        ok, msg = compare(df, operators.ORACLES["ols_trend_by_nation"], td)
        assert ok, msg


def test_ndcg_weight_grid_exact_values():
    """The rank-discount table is Python-computed once and embedded in
    both engines; pin its exact integers so a platform/libm change in
    the build environment cannot silently move the gate."""
    from mit_mapreduce_spark.operators.curation import _ndcg_weights

    assert _ndcg_weights(5) == (1000000, 630930, 500000, 430677, 386853)


def test_pruning_recall_ndcg_invariants(spark, sf_dir):
    """Per (leg, qid) row: idcg is the weight prefix sum at k_exact,
    0 <= dcg <= idcg, ndcg = dcg/idcg in [0,1], and an empty overlap
    zeroes the gain. Full-ranking parity (dcg == idcg) iff the pruned
    ranking reproduces the exact top-k in order."""
    from mit_mapreduce_spark.operators.curation import _ndcg_weights

    w = _ndcg_weights(5)
    cum = [sum(w[:i + 1]) for i in range(len(w))]
    rows = operators.QUERIES["retrieval_pruning_recall"](
        spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.idcg_micro == cum[r.k_exact - 1]
        assert 0 <= r.dcg_micro <= r.idcg_micro
        assert abs(r.ndcg - r.dcg_micro / r.idcg_micro) < 1e-12
        if r.n_overlap == 0:
            assert r.dcg_micro == 0
        if r.n_overlap < r.k_exact:
            assert r.dcg_micro < r.idcg_micro


def test_audit_ranks_match_exact_and_pruned_oracles(spark, sf_dir,
                                                    monkeypatch):
    """Each retrieval leg's audit pass, row for row: its exact top-k
    (rnk_e <= k) equals the exact-index oracle, and its pruned top-k
    (_in_p, ranked by rnk_p) equals the pruned-index oracle. The
    pruning depths are shrunk until they bind at sf0.001, so the two
    row sets differ and a drift in either mode of the shared scoring
    core shows."""
    from pyspark.sql import functions as F

    from mit_mapreduce_spark.operators import curation, textstats

    monkeypatch.setattr(textstats, "BM25_POSTING_TOP", 3)
    monkeypatch.setattr(curation, "RAG_POSTING_TOP", 3)
    monkeypatch.setattr(curation, "RAG_Q_TOP_DIMS", 4)
    tf = textstats._doc_tf(spark, sf_dir)
    legs = [
        (textstats._bm25_ranked(spark, sf_dir, tf, audit=True), ["did"],
         textstats.BM25_TOP_K, textstats._sql_bm25(posting_top=0),
         textstats._sql_bm25(posting_top=3)),
        (curation._rag_ranked(spark, sf_dir, audit=True),
         ["cdoc", "chunk_id"], curation.RAG_TOP_K,
         curation._sql_rag(posting_top=0, q_top_dims=0),
         curation._sql_rag(posting_top=3, q_top_dims=4)),
    ]
    for ranked, ids, k, exact_sql, pruned_sql in legs:
        keys = ", ".join(["qid", *ids])
        exact = ranked.where(F.col("rnk_e") <= k).select(
            "qid", *ids, F.col("rnk_e").alias("rnk"))
        pruned = ranked.where(F.col("_in_p")).select(
            "qid", *ids, F.col("rnk_p").alias("rnk"))
        for df, sql in ((exact, exact_sql), (pruned, pruned_sql)):
            ok, msg = compare(df, f"SELECT {keys}, rnk FROM ({sql})", sf_dir)
            assert ok, (ids, msg)
        hits = [{tuple(r)[:-1] for r in df.collect()}
                for df in (exact, pruned)]
        assert hits[0] != hits[1], f"pruning does not bind for {ids}"


def test_skyline_crafted_and_random_vs_bruteforce(spark):
    """Skyline semantics pinned two ways: a crafted set exercising
    same-price, same-size, and band-boundary ties, then a seeded
    random set checked against the quadratic dominance definition in
    plain Python. Dominance: cheaper-or-equal AND bigger-or-equal,
    strict somewhere."""
    import random

    def brute(pairs):
        out = set()
        for p in pairs:
            if not any(q[0] <= p[0] and q[1] >= p[1] and q != p
                       for q in pairs):
                out.add(p)
        return out

    crafted = [(1.0, 5), (1.0, 3), (2.0, 5), (2.0, 6), (3.0, 6),
               (0.5, 1), (10.0, 7), (9.99, 7)]  # 10.0 loses across band edge
    # ADVICE r8 #2: negative sizes are legal — the cheapest point with
    # size -5 is first in its band, undominated, and the old
    # coalesce(-1) sentinel (greatest(-1,-1) < -5 fails) dropped it.
    negatives = [(0.25, -5), (0.5, -1), (1.0, -1), (2.0, 3)]
    rng = random.Random(8)
    rand = list({(round(rng.uniform(900, 1000), 2), rng.randint(-10, 50))
                 for _ in range(120)})
    for pairs in (crafted, negatives, rand):
        with tempfile.TemporaryDirectory() as td:
            names = [f"part {i}" for i in range(len(pairs))]
            import pyarrow as pa
            import pyarrow.parquet as pq
            tab = pa.table({
                "p_partkey": pa.array(range(len(pairs)), pa.int64()),
                "p_name": pa.array(names, pa.string()),
                "p_brand": pa.array(["Brand#1"] * len(pairs), pa.string()),
                "p_type": pa.array(["ECONOMY"] * len(pairs), pa.string()),
                "p_size": pa.array([s for _, s in pairs], pa.int64()),
                "p_retailprice": pa.array([p for p, _ in pairs],
                                          pa.float64()),
            })
            pq.write_table(tab, os.path.join(td, "part.parquet"))
            for t in ["region", "nation", "customer", "supplier",
                      "orders", "lineitem", "events", "documents",
                      "embeddings"]:
                os.symlink(f"/root/testdata/sf0.001/{t}.parquet",
                           os.path.join(td, f"{t}.parquet"))
            df = operators.QUERIES["skyline_parts"](spark, td)
            got = {(r.price, r.size) for r in df.collect()}
            assert got == brute(set(pairs))
            ok, msg = compare(df, operators.ORACLES["skyline_parts"], td)
            assert ok, msg


def test_event_transitions_crafted(spark):
    """Two users' sequences give exact counts and conditionals; a
    timestamp tie within user 3 is ordered by event_id, so x->y (not
    y->x) is the recorded transition."""
    import datetime
    import pyarrow as pa
    import pyarrow.parquet as pq

    dt = datetime.datetime
    t0 = dt(2024, 1, 1)
    rows = [  # (event_id, ts, user_id, event_type)
        (1, t0, 1, "a"), (2, dt(2024, 1, 1, 1), 1, "b"),
        (3, dt(2024, 1, 1, 2), 1, "a"), (4, dt(2024, 1, 1, 3), 1, "c"),
        (5, t0, 2, "a"), (6, dt(2024, 1, 1, 1), 2, "b"),
        (7, dt(2024, 1, 2), 3, "x"), (8, dt(2024, 1, 2), 3, "y"),
    ]
    with tempfile.TemporaryDirectory() as td:
        tab = pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        })
        pq.write_table(tab, os.path.join(td, "events.parquet"))
        for t in ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "documents", "embeddings"]:
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet",
                       os.path.join(td, f"{t}.parquet"))
        df = operators.QUERIES["event_transitions"](spark, td)
        got = {(r.prev_type, r.event_type): (r.n_transitions, r.p_next)
               for r in df.collect()}
        assert got == {
            ("a", "b"): (2, 2 / 3), ("a", "c"): (1, 1 / 3),
            ("b", "a"): (1, 1.0), ("x", "y"): (1, 1.0),
        }
        ok, msg = compare(df, operators.ORACLES["event_transitions"], td)
        assert ok, msg


def test_fk_integrity_audit_crafted_orphans(spark):
    """Stage orders with one NULL FK and one orphaned custkey: the
    audit must separate the two defect classes exactly; the oracle
    agrees on the whole 7-edge report over the same mixed tables."""
    import datetime
    import pyarrow as pa
    import pyarrow.parquet as pq

    with tempfile.TemporaryDirectory() as td:
        cust = pa.table({
            "c_custkey": pa.array([1], pa.int64()),
            "c_name": pa.array(["Customer#1"], pa.string()),
            "c_nationkey": pa.array([0], pa.int64()),
            "c_acctbal": pa.array([0.0], pa.float64()),
            "c_mktsegment": pa.array(["AUTO"], pa.string()),
        })
        pq.write_table(cust, os.path.join(td, "customer.parquet"))
        dt = datetime.datetime
        orders = pa.table({
            "o_orderkey": pa.array([1, 2, 3], pa.int64()),
            "o_custkey": pa.array([1, 999, None], pa.int64()),
            "o_orderstatus": pa.array(["F"] * 3, pa.string()),
            "o_totalprice": pa.array([1.0] * 3, pa.float64()),
            "o_orderdate": pa.array([dt(1995, 1, 1)] * 3,
                                    pa.timestamp("us")),
            "o_orderpriority": pa.array(["1-URGENT"] * 3, pa.string()),
        })
        pq.write_table(orders, os.path.join(td, "orders.parquet"))
        for t in ["region", "nation", "supplier", "part", "lineitem",
                  "events", "documents", "embeddings"]:
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet",
                       os.path.join(td, f"{t}.parquet"))
        df = operators.QUERIES["fk_integrity_audit"](spark, td)
        got = {r.relationship: (r.n_rows, r.n_null_fk, r.n_orphans)
               for r in df.collect()}
        assert got["orders.o_custkey"] == (3, 1, 1)
        assert got["customer.c_nationkey"] == (1, 0, 0)
        ok, msg = compare(df, operators.ORACLES["fk_integrity_audit"], td)
        assert ok, msg


def test_fk_integrity_audit_broadcast_both_regimes(spark, sf_dir):
    """VERDICT r8 ask #6: the broadcast decision is Catalyst/AQE's, not
    a hard-coded parent-name list. Regime 1 (fixture sizes): small
    deduped parent key sets broadcast. Regime 2 (broadcast disabled —
    the stand-in for a parent too big to fit executor memory): every
    edge must degrade to a non-broadcast join instead of OOMing a
    forced broadcast. A leftover F.broadcast hint would keep
    BroadcastHashJoin in the plan even at threshold -1."""
    from mit_mapreduce_spark import operators as ops, plans

    df = ops.QUERIES["fk_integrity_audit"](spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "BroadcastHashJoin" in plan  # regime 1: dims broadcast

    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df2 = ops.QUERIES["fk_integrity_audit"](spark, sf_dir)
        plan2 = plans.formatted_plan(df2)
        assert "BroadcastHashJoin" not in plan2  # regime 2: all shuffle
        rows = {r.relationship for r in df2.collect()}
        assert len(rows) == 7  # and it still computes the full report
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)


def test_quality_quantile_norm_crafted(spark):
    """Three docs with stopword ratios 0 < 1/2 < 1 within one language
    map to percent ranks 0, 0.5, 1; two docs TIED on a ratio share a
    rank (ANSI PERCENT_RANK) in both engines."""
    rows = [
        (1, "xx yy zz", "s", "en"),          # 0/3 stopwords
        (2, "the a xx yy", "s", "en"),       # 2/4
        (3, "the a of", "s", "en"),          # 3/3
        (4, "the xx", "s", "de"),            # de: tie pair at 1/2
        (5, "a yy", "s", "de"),
    ]
    with tempfile.TemporaryDirectory() as td:
        _stage_docs(spark, [(r[0], r[1], r[2]) for r in rows], td,
                    langs=[r[3] for r in rows])
        df = operators.QUERIES["quality_quantile_norm"](spark, td)
        got = {r.doc_id: (r.lang, round(r.stop_ratio, 6), r.q_norm)
               for r in df.collect()}
        assert got[1] == ("en", 0.0, 0.0)
        assert got[2] == ("en", 0.5, 0.5)
        assert got[3] == ("en", 1.0, 1.0)
        assert got[4] == ("de", 0.5, 0.0) and got[5] == ("de", 0.5, 0.0)
        ok, msg = compare(df, operators.ORACLES["quality_quantile_norm"], td)
        assert ok, msg


def _stage_docs(spark, rows, td, langs=None):
    import pyarrow as pa
    import pyarrow.parquet as pq

    tab = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "source": pa.array([r[2] for r in rows], pa.string()),
        "lang": pa.array(langs or ["en"] * len(rows), pa.string()),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    })
    pq.write_table(tab, os.path.join(td, "documents.parquet"))
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"]:
        os.symlink(f"/root/testdata/sf0.001/{t}.parquet",
                   os.path.join(td, f"{t}.parquet"))


def test_user_journey_paths_crafted(spark):
    """A 4-event day keeps only its first three types in (ts,
    event_id) order; a 1-event day reports NULL tail slots; two days
    with the same opening triple aggregate."""
    import datetime
    import pyarrow as pa
    import pyarrow.parquet as pq

    dt = datetime.datetime
    rows = [  # (event_id, ts, user_id, event_type)
        (1, dt(2024, 1, 1, 0), 1, "a"), (2, dt(2024, 1, 1, 1), 1, "b"),
        (3, dt(2024, 1, 1, 2), 1, "c"), (4, dt(2024, 1, 1, 3), 1, "d"),
        (5, dt(2024, 1, 2, 0), 1, "a"), (6, dt(2024, 1, 2, 1), 1, "b"),
        (7, dt(2024, 1, 2, 2), 1, "c"),
        (8, dt(2024, 1, 1, 0), 2, "x"),
    ]
    with tempfile.TemporaryDirectory() as td:
        tab = pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        })
        pq.write_table(tab, os.path.join(td, "events.parquet"))
        for t in ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "documents", "embeddings"]:
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet",
                       os.path.join(td, f"{t}.parquet"))
        df = operators.QUERIES["user_journey_paths"](spark, td)
        got = {(r.e1, r.e2, r.e3): r.n_journeys for r in df.collect()}
        assert got == {("a", "b", "c"): 2, ("x", None, None): 1}
        ok, msg = compare(df, operators.ORACLES["user_journey_paths"], td)
        assert ok, msg


def test_ols_residuals_crafted_exact(spark):
    """Months 0..3 with revenue 10/20/30/100 fit slope 28 $/mo,
    intercept -2: residuals are exactly 12, -6, -24, 18 dollars, so
    the top-3 by |residual| are months 2, 3, 0 in that rank order —
    every value a closed-form double both engines must hit exactly."""
    import datetime
    import pyarrow as pa
    import pyarrow.parquet as pq

    dt = datetime.datetime
    with tempfile.TemporaryDirectory() as td:
        cust = pa.table({
            "c_custkey": pa.array([1], pa.int64()),
            "c_name": pa.array(["Customer#1"], pa.string()),
            "c_nationkey": pa.array([0], pa.int64()),
            "c_acctbal": pa.array([0.0], pa.float64()),
            "c_mktsegment": pa.array(["AUTO"], pa.string()),
        })
        pq.write_table(cust, os.path.join(td, "customer.parquet"))
        orders = pa.table({
            "o_orderkey": pa.array([1, 2, 3, 4], pa.int64()),
            "o_custkey": pa.array([1] * 4, pa.int64()),
            "o_orderstatus": pa.array(["F"] * 4, pa.string()),
            "o_totalprice": pa.array([10.0, 20.0, 30.0, 100.0],
                                     pa.float64()),
            "o_orderdate": pa.array(
                [dt(1995, 1, 15), dt(1995, 2, 15), dt(1995, 3, 15),
                 dt(1995, 4, 15)], pa.timestamp("us")),
            "o_orderpriority": pa.array(["1-URGENT"] * 4, pa.string()),
        })
        pq.write_table(orders, os.path.join(td, "orders.parquet"))
        for t in ["region", "nation", "supplier", "part", "lineitem",
                  "events", "documents", "embeddings"]:
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet",
                       os.path.join(td, f"{t}.parquet"))
        df = operators.QUERIES["ols_residual_outliers"](spark, td)
        got = [(r.month_idx, r.residual_dollars, r.rnk)
               for r in df.orderBy("rnk").collect()]
        assert got == [(2, -24.0, 1), (3, 18.0, 2), (0, 12.0, 3)]
        ok, msg = compare(df, operators.ORACLES["ols_residual_outliers"], td)
        assert ok, msg


def test_linkage_unicode_fold_and_adversarial_names(spark):
    """Fuzz-found r8: Spark levenshtein counts CODEPOINTS, DuckDB
    counts UTF-8 BYTES ('müller'~'muller' read 1 vs 2). The operator
    therefore folds every non-ASCII codepoint to '?' in BOTH engines
    before the distance. Pin the fold (distinct non-ASCII chars
    compare equal: '中文 名' ~ '中文 图' is dist 0 on canonical forms)
    and the adversarial classes: NULL names, empty strings, names
    ending in digits (empty block), all-NULL, and empty tables — all
    oracle-green."""
    cases = {
        "nulls_digits": [None, "bolt2", "bolt3", "", "x9",
                         "müller bolt", "muller bolt", None],
        "empty": [],
        "all_null": [None, None],
        "unicode": ["börte gerät", "börtx gerät", "中文 名", "中文 图"],
    }
    for label, names in cases.items():
        with tempfile.TemporaryDirectory() as td:
            _stage_parts(spark, names, td)
            for op in ("fuzzy_blocked_match", "entity_resolution",
                       "skyline_parts"):
                df = operators.QUERIES[op](spark, td)
                ok, msg = compare(df, operators.ORACLES[op], td)
                assert ok, f"{label}/{op}: {msg}"
    # the fold semantics, concretely: the two CJK names share a
    # canonical form ('?? ?'), so they pair at dist 0
    with tempfile.TemporaryDirectory() as td:
        _stage_parts(spark, ["中文 名", "中文 图"], td)
        rows = operators.QUERIES["fuzzy_blocked_match"](spark, td).collect()
        assert len(rows) == 1 and rows[0].dist == 0


def _stage_events_tbl(td, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    tab = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
        "value": pa.array([1.0] * len(rows), pa.float64()),
        "props": pa.array(["{}"] * len(rows), pa.string()),
    })
    pq.write_table(tab, os.path.join(td, "events.parquet"))
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "documents", "embeddings"]:
        os.symlink(f"/root/testdata/sf0.001/{t}.parquet",
                   os.path.join(td, f"{t}.parquet"))


def test_sequence_ops_adversarial_events(spark):
    """Fuzz classes for the sequence tier, permanent: empty table,
    single-event users (no transition, a 1-slot journey), NULL event
    types (the (a, NULL) transition groups identically in both
    engines; the leading NULL lag is excluded), six same-timestamp
    events (event_id tiebreak), and pre-epoch timestamps."""
    import datetime

    dt = datetime.datetime
    cases = {
        "empty": [],
        "single": [(1, dt(2024, 1, 1), 7, "a")],
        "null_types": [(1, dt(2024, 1, 1), 7, None),
                       (2, dt(2024, 1, 1, 1), 7, "a"),
                       (3, dt(2024, 1, 1, 2), 7, None)],
        "same_ts": [(i, dt(2024, 1, 1), 5, t)
                    for i, t in enumerate(["c", "b", "a", "b", "a", "c"])],
        "pre_epoch": [(1, dt(1969, 12, 31, 23), 9, "a"),
                      (2, dt(1970, 1, 1, 1), 9, "b")],
    }
    for label, rows in cases.items():
        with tempfile.TemporaryDirectory() as td:
            _stage_events_tbl(td, rows)
            for op in ("event_transitions", "stream_event_transitions",
                       "user_journey_paths"):
                df = operators.QUERIES[op](spark, td)
                ok, msg = compare(df, operators.ORACLES[op], td)
                assert ok, f"{label}/{op}: {msg}"


def test_regression_privacy_ops_adversarial(spark):
    """Fuzz classes for the regression/privacy tier, permanent: empty
    orders (zero fit rows; the QI audit keeps its customer classes),
    a single month (NULL slope by contract, residuals excluded), NULL
    prices and NULL balances/segments (NULL QI keys group identically;
    NULL-priced months propagate NULL moments without artifacts), and
    orphaned custkeys (inner-join drop, consistent in both engines)."""
    import datetime
    import pyarrow as pa
    import pyarrow.parquet as pq

    dt = datetime.datetime
    cases = {
        "empty_orders": ([], [(1, 0, 100.0, "AUTO")]),
        "single_month": ([(1, 1, 50.0, dt(1995, 1, 1))],
                         [(1, 0, 100.0, "AUTO")]),
        "nulls": ([(1, 1, None, dt(1995, 1, 1)),
                   (2, 1, 20.0, dt(1995, 2, 1))],
                  [(1, 0, None, "AUTO"), (2, 1, None, None)]),
        "orphans": ([(1, 999, 10.0, dt(1995, 1, 1))],
                    [(1, 0, 100.0, "AUTO")]),
        # ADVICE r8 #1: a NULL o_orderdate yields x = NULL — it must
        # not enter the fit (n/sy counting a month sx/sxy/sxx skip)
        # nor the residual rank window (NULL residuals order
        # differently across engines).
        "null_orderdate": ([(1, 1, 30.0, None),
                            (2, 1, 10.0, dt(1995, 1, 1)),
                            (3, 1, 20.0, dt(1995, 2, 1)),
                            (4, 1, 40.0, dt(1995, 3, 1))],
                           [(1, 0, 100.0, "AUTO")]),
    }
    for label, (orows, crows) in cases.items():
        with tempfile.TemporaryDirectory() as td:
            pq.write_table(pa.table({
                "o_orderkey": pa.array([r[0] for r in orows], pa.int64()),
                "o_custkey": pa.array([r[1] for r in orows], pa.int64()),
                "o_orderstatus": pa.array(["F"] * len(orows), pa.string()),
                "o_totalprice": pa.array([r[2] for r in orows],
                                         pa.float64()),
                "o_orderdate": pa.array([r[3] for r in orows],
                                        pa.timestamp("us")),
                "o_orderpriority": pa.array(["1"] * len(orows),
                                            pa.string()),
            }), os.path.join(td, "orders.parquet"))
            pq.write_table(pa.table({
                "c_custkey": pa.array([r[0] for r in crows], pa.int64()),
                "c_name": pa.array(["C"] * len(crows), pa.string()),
                "c_nationkey": pa.array([r[1] for r in crows], pa.int64()),
                "c_acctbal": pa.array([r[2] for r in crows], pa.float64()),
                "c_mktsegment": pa.array([r[3] for r in crows],
                                         pa.string()),
            }), os.path.join(td, "customer.parquet"))
            for t in ["region", "nation", "supplier", "part", "lineitem",
                      "events", "documents", "embeddings"]:
                os.symlink(f"/root/testdata/sf0.001/{t}.parquet",
                           os.path.join(td, f"{t}.parquet"))
            for op in ("ols_trend_by_nation", "ols_residual_outliers",
                       "k_anonymity_audit", "k_anonymity_suppress"):
                df = operators.QUERIES[op](spark, td)
                ok, msg = compare(df, operators.ORACLES[op], td)
                assert ok, f"{label}/{op}: {msg}"
            if label == "null_orderdate":
                # Engine-symmetric bug class: the oracle compare above
                # cannot catch an x-less order leaking into the fit on
                # BOTH sides, so pin the VALUE — the moments must be
                # exactly those of the three dated months (x = 0,1,2;
                # y = 10,20,40 in 1e-4 units), as if order 1 (NULL
                # date) never existed.
                row = operators.QUERIES["ols_trend_by_nation"](
                    spark, td).collect()[0]
                assert row.n_months == 3
                # slope_num = n*Sxy - Sx*Sy = 3*(0+20+80)e4 - 3*70e4
                assert row.slope_num == (3 * 100 - 3 * 70) * 10000
                assert row.slope_den == 3 * 5 - 3 * 3
                resid = operators.QUERIES["ols_residual_outliers"](
                    spark, td).collect()
                assert {r.month_idx for r in resid} == {0, 1, 2}


def test_review_r8_null_and_anchor_semantics(spark):
    """Pins for the r8 code-review findings the oracle gate could not
    see on its own:
    1. skyline excludes NULL-valued points in both engines;
    2. a NULL-QI singleton row IS counted as suppressed (null-safe
       join) — previously silently exempted in both engines;
    3. NULL-ts events are excluded from the sequence ops (they cannot
       be ordered) and no longer crash the streaming stepper;
    4. a trailing-newline name blocks as '' in both engines (\\z, not
       $: Java's $ matches before a final newline);
    5. NULL-revenue months are excluded from the OLS fit, so a nation
       with one real month reports NULL slope, not a 1-point line."""
    import datetime

    dt = datetime.datetime
    # 1. skyline: NULL price / NULL size points must not exist or kill
    pairs_tbl = [(None, 5), (50.0, None), (100.0, 3), (90.0, 3)]
    with tempfile.TemporaryDirectory() as td:
        import pyarrow as pa
        import pyarrow.parquet as pq
        pq.write_table(pa.table({
            "p_partkey": pa.array(range(4), pa.int64()),
            "p_name": pa.array(["a b"] * 4, pa.string()),
            "p_brand": pa.array(["B"] * 4, pa.string()),
            "p_type": pa.array(["T"] * 4, pa.string()),
            "p_size": pa.array([s for _, s in pairs_tbl], pa.int64()),
            "p_retailprice": pa.array([p for p, _ in pairs_tbl],
                                      pa.float64()),
        }), os.path.join(td, "part.parquet"))
        for t in ["region", "nation", "customer", "supplier", "orders",
                  "lineitem", "events", "documents", "embeddings"]:
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet",
                       os.path.join(td, f"{t}.parquet"))
        df = operators.QUERIES["skyline_parts"](spark, td)
        assert {(r.price, r.size) for r in df.collect()} == {(90.0, 3)}
        ok, msg = compare(df, operators.ORACLES["skyline_parts"], td)
        assert ok, msg

    # 2. k-anonymity: NULL-QI singleton counts as suppressed
    with tempfile.TemporaryDirectory() as td:
        _stage_customers(spark, [(1, 1, None, None)]
                         + [(i, 1, 2500.0, "AUTO") for i in range(2, 7)], td)
        sup = operators.QUERIES["k_anonymity_suppress"](spark, td)
        got = {r.c_nationkey: (r.n_customers, r.n_suppressed)
               for r in sup.collect()}
        assert got == {1: (6, 1)}
        ok, msg = compare(sup, operators.ORACLES["k_anonymity_suppress"], td)
        assert ok, msg

    # 3. NULL-ts events excluded, streaming stepper survives
    with tempfile.TemporaryDirectory() as td:
        _stage_events_tbl(td, [(1, None, 7, "a"), (2, dt(2024, 1, 1), 7, "b"),
                               (3, dt(2024, 1, 1, 1), 7, "c")])
        for op in ("event_transitions", "stream_event_transitions",
                   "user_journey_paths"):
            df = operators.QUERIES[op](spark, td)
            ok, msg = compare(df, operators.ORACLES[op], td)
            assert ok, f"{op}: {msg}"
        got = {(r.prev_type, r.event_type): r.n_transitions
               for r in operators.QUERIES["event_transitions"](
                   spark, td).collect()}
        assert got == {("b", "c"): 1}

    # 4. trailing-newline name: block '' in both engines
    with tempfile.TemporaryDirectory() as td:
        _stage_parts(spark, ["bolt\n", "colt\n", "bolt x"], td)
        df = operators.QUERIES["fuzzy_blocked_match"](spark, td)
        rows = [(r.block, r.name_a, r.name_b, r.dist) for r in df.collect()]
        assert rows == [("", "bolt\n", "colt\n", 1)]
        ok, msg = compare(df, operators.ORACLES["fuzzy_blocked_match"], td)
        assert ok, msg

    # 5. NULL-revenue months excluded from the fit
    import pyarrow as pa
    import pyarrow.parquet as pq
    with tempfile.TemporaryDirectory() as td:
        _stage_customers(spark, [(1, 0, 0.0, "AUTO")], td)
        os.remove(os.path.join(td, "orders.parquet"))
        pq.write_table(pa.table({
            "o_orderkey": pa.array([1, 2], pa.int64()),
            "o_custkey": pa.array([1, 1], pa.int64()),
            "o_orderstatus": pa.array(["F"] * 2, pa.string()),
            "o_totalprice": pa.array([None, 20.0], pa.float64()),
            "o_orderdate": pa.array([dt(1995, 1, 1), dt(1995, 2, 1)],
                                    pa.timestamp("us")),
            "o_orderpriority": pa.array(["1"] * 2, pa.string()),
        }), os.path.join(td, "orders.parquet"))
        df = operators.QUERIES["ols_trend_by_nation"](spark, td)
        rows = df.collect()
        assert len(rows) == 1
        assert rows[0].n_months == 1
        assert rows[0].slope_dollars_per_month is None
        ok, msg = compare(df, operators.ORACLES["ols_trend_by_nation"], td)
        assert ok, msg


def test_market_basket_crafted(spark):
    """Two orders {1,2,3} and {1,2}: pair (1,2) has support 2,
    confidence 2/2 from part 1, lift 2*2/(2*2)=1; pairs (1,3),(2,3)
    have support 1 and lift 2*1/(2*1)=1. Duplicate lineitems of one
    part in one order collapse (DISTINCT) before pairing."""
    import datetime
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [(1, 1), (1, 2), (1, 3), (2, 1), (2, 2), (2, 2)]
    with tempfile.TemporaryDirectory() as td:
        n = len(rows)
        dt = datetime.datetime
        pq.write_table(pa.table({
            "l_orderkey": pa.array([r[0] for r in rows], pa.int64()),
            "l_partkey": pa.array([r[1] for r in rows], pa.int64()),
            "l_suppkey": pa.array([1] * n, pa.int64()),
            "l_linenumber": pa.array(range(n), pa.int64()),
            "l_quantity": pa.array([1.0] * n, pa.float64()),
            "l_extendedprice": pa.array([1.0] * n, pa.float64()),
            "l_discount": pa.array([0.0] * n, pa.float64()),
            "l_tax": pa.array([0.0] * n, pa.float64()),
            "l_returnflag": pa.array(["N"] * n, pa.string()),
            "l_linestatus": pa.array(["O"] * n, pa.string()),
            "l_shipdate": pa.array([dt(1996, 1, 1)] * n,
                                   pa.timestamp("us")),
        }), os.path.join(td, "lineitem.parquet"))
        for t in ["region", "nation", "customer", "supplier", "part",
                  "orders", "events", "documents", "embeddings"]:
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet",
                       os.path.join(td, f"{t}.parquet"))
        df = operators.QUERIES["market_basket_pairs"](spark, td)
        got = {(r.part_a, r.part_b): (r.n_ab, r.n_a, r.n_b, r.n_orders,
                                      r.confidence, r.lift)
               for r in df.collect()}
        assert got == {
            (1, 2): (2, 2, 2, 2, 1.0, 1.0),
            (1, 3): (1, 2, 1, 2, 0.5, 1.0),
            (2, 3): (1, 2, 1, 2, 0.5, 1.0),
        }
        ok, msg = compare(df, operators.ORACLES["market_basket_pairs"], td)
        assert ok, msg


def test_codec_quarantine_hardening():
    """r8 review findings on the codec quarantine contract, pinned:
    negative Y4M dimensions must quarantine instead of infinite-looping
    the manifest walk (frame_size -6 exactly cancelled the FRAME-marker
    advance); a RIFF with TWO data chunks must quarantine in BOTH the
    meta and decode paths (meta validated the last chunk while decode
    returned the first — a non-frame-aligned buffer crashed the DSP
    kernel); a JPEG SOF with zero height must quarantine like the
    BMP/PNG branches; and the PPM manifest scan must agree with the
    full decode without copying pixels."""
    import signal
    import struct

    from mit_mapreduce_spark.functions.audiocodec import (
        decode_wav, encode_wav, parse_wav_meta)
    from mit_mapreduce_spark.functions.imagecodec import parse_image_meta
    from mit_mapreduce_spark.functions.videocodec import parse_y4m_meta

    def on_timeout(sig, frm):
        raise TimeoutError("parse_y4m_meta hung on negative dims")

    signal.signal(signal.SIGALRM, on_timeout)
    signal.alarm(10)
    try:
        assert parse_y4m_meta(
            b"YUV4MPEG2 W-1 H2 F25:1 C444\n" + b"FRAME\n") is None
    finally:
        signal.alarm(0)

    def chunk(cid, payload):
        pad = b"\x00" if len(payload) % 2 else b""
        return cid + struct.pack("<I", len(payload)) + payload + pad

    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = (chunk(b"fmt ", fmt) + chunk(b"data", b"\x01\x02\x03")
            + chunk(b"data", b"\x01\x02\x03\x04"))
    two_data = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    assert parse_wav_meta(two_data) is None
    assert decode_wav(two_data) is None
    good = encode_wav(8000, 1, b"\x01\x02\x03\x04")
    assert parse_wav_meta(good) is not None
    assert decode_wav(good) is not None

    soi = b"\xff\xd8"
    sof0h = (b"\xff\xc0" + struct.pack(">H", 11) + bytes([8])
             + struct.pack(">HH", 0, 10) + bytes([1, 1, 0x11, 0]))
    assert parse_image_meta(soi + sof0h + b"\xff\xd9") is None

    ppm = b"P6\n2 2\n255\n" + b"\x01" * 12
    assert parse_image_meta(ppm) == ("ppm", 2, 2)
    assert parse_image_meta(ppm + b"x") is None  # trailing bytes: exact


def test_basket_fk_qnorm_degenerate_inputs(spark):
    """Degenerate-input classes for the last session ops: an EMPTY
    lineitem (basket empty, FK audit reports 0/0 on its three edges),
    a single-document language (ANSI PERCENT_RANK of one row is 0.0 in
    both engines — the (rank-1)/(n-1) 0/0 case is defined, not an
    artifact), and an EMPTY parent table (every child row an orphan,
    counted identically by both engines)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    with tempfile.TemporaryDirectory() as td:
        pq.write_table(pa.table({
            "l_orderkey": pa.array([], pa.int64()),
            "l_partkey": pa.array([], pa.int64()),
            "l_suppkey": pa.array([], pa.int64()),
            "l_linenumber": pa.array([], pa.int64()),
            "l_quantity": pa.array([], pa.float64()),
            "l_extendedprice": pa.array([], pa.float64()),
            "l_discount": pa.array([], pa.float64()),
            "l_tax": pa.array([], pa.float64()),
            "l_returnflag": pa.array([], pa.string()),
            "l_linestatus": pa.array([], pa.string()),
            "l_shipdate": pa.array([], pa.timestamp("us")),
        }), os.path.join(td, "lineitem.parquet"))
        for t in ["region", "nation", "customer", "supplier", "part",
                  "orders", "events", "documents", "embeddings"]:
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet",
                       os.path.join(td, f"{t}.parquet"))
        for op in ("market_basket_pairs", "fk_integrity_audit"):
            df = operators.QUERIES[op](spark, td)
            ok, msg = compare(df, operators.ORACLES[op], td)
            assert ok, f"empty_lineitem/{op}: {msg}"

    with tempfile.TemporaryDirectory() as td:
        _stage_docs(spark, [(1, "the a", "s")], td, langs=["zz"])
        df = operators.QUERIES["quality_quantile_norm"](spark, td)
        rows = df.collect()
        assert [(r.doc_id, r.q_norm) for r in rows] == [(1, 0.0)]
        ok, msg = compare(df, operators.ORACLES["quality_quantile_norm"], td)
        assert ok, msg

    with tempfile.TemporaryDirectory() as td:
        pq.write_table(pa.table({
            "c_custkey": pa.array([], pa.int64()),
            "c_name": pa.array([], pa.string()),
            "c_nationkey": pa.array([], pa.int64()),
            "c_acctbal": pa.array([], pa.float64()),
            "c_mktsegment": pa.array([], pa.string()),
        }), os.path.join(td, "customer.parquet"))
        for t in ["region", "nation", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"]:
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet",
                       os.path.join(td, f"{t}.parquet"))
        df = operators.QUERIES["fk_integrity_audit"](spark, td)
        ok, msg = compare(df, operators.ORACLES["fk_integrity_audit"], td)
        assert ok, msg
        got = {r.relationship: (r.n_rows, r.n_orphans)
               for r in df.collect()}
        assert got["orders.o_custkey"] == (1500, 1500)
