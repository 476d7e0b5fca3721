"""Physical-plan assertions: the scale posture claimed in docstrings
is checked against the live plans (VERDICT r1: no all-pairs
CartesianProduct may back the LSH operators; pushdown must reach the
scans; shuffle budgets hold).
"""

import pytest

from pyspark.sql import functions as F

from mit_mapreduce_spark import operators, plans
from mit_mapreduce_spark.operators.registry import QUERIES

operators.load_all()


def plan_of(spark, sf_dir, name: str) -> str:
    return plans.formatted_plan(QUERIES[name](spark, sf_dir))


@pytest.mark.parametrize("name", ["dedup_minhash", "ann_lsh_pairs",
                                  "dedup_simhash",
                                  "embed_neardup_incremental"])
def test_no_cartesian_product(spark, sf_dir, name):
    """LSH/banded candidate generation must be equi-join based."""
    plan = plan_of(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, plan


def test_embed_screen_plane_table_broadcasts(spark, sf_dir):
    """The embed screen's bucketing joins the exploded embedding
    against the (band, plane, dim, weight) table — that side must
    BROADCAST (1,536 constant rows; shuffling the exploded vector
    stream on dim would be the wrong plan at any scale)."""
    plan = plan_of(spark, sf_dir, "embed_neardup_incremental")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bruteforce_broadcasts_queries(spark, sf_dir):
    """Exact kNN scans candidates once with the query set broadcast —
    a BroadcastNestedLoopJoin, not a shuffled cartesian."""
    plan = plan_of(spark, sf_dir, "ann_bruteforce_topk")
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ivf_probe_is_equijoin(spark, sf_dir):
    """IVF: the only nested-loop is the broadcast of C centroids /
    probe pairs; candidate generation must be an equi-join on cent_id
    (no data-dependent cartesian)."""
    plan = plan_of(spark, sf_dir, "ann_ivf_topk")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


import re


@pytest.mark.parametrize("name", [
    "ann_lsh_pairs", "ann_ivf_topk", "ann_bruteforce_topk"])
def test_ann_broadcasts_only_bounded_relations(spark, sf_dir, name):
    """VERDICT r2 #1/#2: no ANN operator may FORCE a broadcast of an
    unbounded (full-table) relation. With autoBroadcastJoinThreshold
    disabled, the only BroadcastExchanges left are hint-forced ones —
    each such build side must carry a vec_id-bounding filter (the 8-row
    query set `vec_id < 8` or the C-centroid set `vec_id % 7`). Size-
    based auto-broadcasts remain allowed: they disappear on their own
    when the table outgrows the threshold."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES[name](spark, sf_dir)
        for sub in plans.broadcast_subtrees(df):
            assert re.search(r"vec_id#\d+L?\)* (?:<|%) ", sub), \
                f"{name}: hint-forced broadcast of an unbounded relation:\n{sub}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_lsh_self_join_not_hint_broadcast(spark, sf_dir):
    """The LSH bucket self-join must shuffle on the bucket key when
    broadcast is off — both sides are the corpus; a surviving
    BroadcastExchange would mean a forced full-table ship."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(spark, sf_dir, "ann_lsh_pairs")
        assert "BroadcastExchange" not in plan, plan
        assert "CartesianProduct" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_broadcast_join_on_small_dim(spark, sf_dir):
    """nation (25 rows) must join broadcast, leaving one shuffle."""
    report = plans.plan_report(QUERIES["join_broadcast_revenue"](spark, sf_dir))
    assert report["broadcast_joins"] >= 1, report
    assert report["cartesian_products"] == 0


def test_filter_and_projection_pushdown(spark, sf_dir):
    """Predicate + column pruning must reach the parquet scan."""
    df = QUERIES["filter_pushdown"](spark, sf_dir)
    assert any("l_discount" in f for f in plans.pushed_filters(df)), \
        plans.pushed_filters(df)
    (cols,) = plans.scan_columns(df)
    assert "l_shipdate" in cols and "l_discount" in cols
    for absent in ("l_returnflag", "l_partkey", "l_tax"):
        assert absent not in cols, cols


def test_topk_is_take_ordered(spark, sf_dir):
    """ORDER BY + LIMIT must compile to TakeOrderedAndProject (per-
    partition top-k), not a global Sort."""
    plan = plan_of(spark, sf_dir, "topk_orders")
    assert "TakeOrderedAndProject" in plan, plan


@pytest.mark.parametrize("name,budget", [
    ("wordcount", 1),          # partial agg → one exchange
    ("inverted_index", 1),     # collect_set dedups: single shuffle
    ("agg_matrix", 3),         # grouped aggs + count-distinct expand
                               # + the GATED fan_out spread (r14): on
                               # any multi-file table the repartition
                               # (and its exchange) disappears, so the
                               # scale-relevant budget stays 2
    ("sessionize", 2),         # one user_id window exchange + final agg
    ("dedup_exact", 1),
    ("window_rank_variants", 1),   # five ranking fns share one window
])
def test_shuffle_budget(spark, sf_dir, name, budget):
    """Each operator's shuffle count must not regress past its design
    budget — a new Exchange in one of these plans is a 100 TB-scale
    bug even when results stay correct."""
    df = QUERIES[name](spark, sf_dir)
    n = plans.shuffle_count(df)
    assert n <= budget, f"{name}: {n} exchanges (budget {budget})"
    if name == "agg_matrix" and n == 3:
        # ADVICE r14: the 3rd exchange must be exactly the gated
        # fan_out spread (a RoundRobin repartition) — anything else
        # is a genuine new shuffle hiding inside the raised budget;
        # the effective scale budget stays 2.
        plan = plans.formatted_plan(df)
        assert plan.count("RoundRobinPartitioning") >= 1, plan
        assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_with_partitions_control(spark, sf_dir):
    """F3 parity: explicit output-partition control by key."""
    df = QUERIES["wordcount"](spark, sf_dir)
    n = plans.with_partitions(df, 7, "word").rdd.getNumPartitions()
    assert n == 7
    assert plans.coalesced(plans.with_partitions(df, 7), 2).rdd.getNumPartitions() == 2


def test_window_functions_share_single_exchange(spark, sf_dir):
    """The three sessionize window steps (lag, flag, running sum) must
    reuse one user_id exchange, not stack three."""
    df = QUERIES["window_cumsum"](spark, sf_dir)
    assert plans.shuffle_count(df) <= 1, plans.formatted_plan(df)


@pytest.mark.parametrize("name", ["dedup_ngram_jaccard", "embed_neardup_blocked"])
def test_neardup_joins_are_equijoins(spark, sf_dir, name):
    """Prefix-filtered Jaccard and blocked-cosine candidate generation
    must be equi-joins — never a materialized all-pairs product."""
    plan = plan_of(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, plan


def test_profiler_single_scan(spark, sf_dir):
    """profile_columns computes every column's stats from ONE scan of
    orders (the oracle's per-column UNION ALL re-scans; the engine
    must not)."""
    df = QUERIES["profile_columns"](spark, sf_dir)
    assert len(plans.scan_columns(df)) == 1, plans.formatted_plan(df)


def test_stratified_sample_no_shuffle(spark, sf_dir):
    """The hash-predicate sample is a pure filter: zero exchanges."""
    df = QUERIES["sample_stratified"](spark, sf_dir)
    assert plans.shuffle_count(df) == 0, plans.formatted_plan(df)


def test_curation_single_pass_ops_do_not_shuffle(spark, sf_dir):
    """pii_redact is a one-scan zero-shuffle projection;
    chunk_documents adds only its controlled posexplode (still no
    exchange); quality_repetition's single allowed exchange is the
    fan_out repartition (a no-op on real multi-file tables) — its
    aggregation-free body still never shuffles data by key."""
    for name, budget in (("quality_repetition", 1), ("pii_redact", 0),
                         ("chunk_documents", 0)):
        df = QUERIES[name](spark, sf_dir)
        n = plans.shuffle_count(df)
        assert n <= budget, (name, n, plan_of(spark, sf_dir, name))


def test_contamination_broadcasts_eval_side(spark, sf_dir):
    """The decontamination probe must broadcast the (tiny) eval-gram
    side and never cartesian: the corpus side streams once."""
    plan = plan_of(spark, sf_dir, "contamination_ngrams")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


@pytest.mark.parametrize("name", [
    "dedup_simhash_pairs", "semantic_dedup_cells", "collocations_lift"])
def test_round3_candidate_generation_is_equijoin(spark, sf_dir, name):
    """Round-3 operators: banded SimHash pairs, per-cell semantic
    dedup, and collocation mining must all be equi-join based — the
    only nested-loop allowed is the bounded centroid broadcast in
    semantic_dedup_cells (same contract as ann_ivf_topk)."""
    plan = plan_of(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, plan


def test_pagerank_iterates_on_aggregated_graph(spark, sf_dir):
    """pagerank_trade must derive the edge list by aggregation BEFORE
    the iteration: the iterating joins run on the <=625-edge share
    table (localCheckpoint leaf), never re-joining the fact tables
    each round. Detectable as: the final plan contains no lineitem
    scan (the lineage was cut after derivation)."""
    df = QUERIES["pagerank_trade"](spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "lineitem" not in plan, "iteration re-derives the edge list:\n" + plan


def test_collocations_topk_is_take_ordered(spark, sf_dir):
    """The top-50 collocation cut must be TakeOrderedAndProject."""
    plan = plan_of(spark, sf_dir, "collocations_lift")
    assert "TakeOrderedAndProject" in plan, plan


def test_runtime_bloom_filter_injects_into_shuffle_joins(spark, sf_dir):
    """100 TB posture: because every join is declared (never hand-
    wired), Spark's runtime row-level filtering can inject bloom
    filters from the selective side of a shuffle join into the fact
    scans — the cluster-scale defense when the dimension outgrows the
    broadcast threshold. Verified on the Q3-shaped query with
    broadcast off: the probe sides gain might_contain() conditions
    fed by bloom_filter_agg subqueries."""
    keep = {k: spark.conf.get(k) for k in (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0")
        plan = plan_of(spark, sf_dir, "join_shipping_priority")
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
    finally:
        for k, v in keep.items():
            spark.conf.set(k, v)


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir, tmp_path):
    """100 TB posture: joining a date-partitioned fact to a filtered
    dimension on the partition column must trigger dynamic partition
    pruning — the fact scan waits for the dim's build side and reads
    only the surviving partitions (the run-time analogue of the static
    pruning asserted in test_partition_pruning.py)."""
    out = str(tmp_path / "orders_by_year")
    from mit_mapreduce_spark.catalog import load_table
    o = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate"))
    o.write.partitionBy("o_year").mode("overwrite").parquet(out)

    dim = spark.createDataFrame(
        [(y, "keep" if y == 1997 else "drop") for y in range(1995, 2002)],
        "yr INT, tag STRING").where(F.col("tag") == "keep")
    fact = spark.read.parquet(out)
    joined = fact.join(dim, fact.o_year == dim.yr).groupBy("yr").count()
    plan = plans.formatted_plan(joined)
    assert "dynamicpruning" in plan.lower(), plan
    rows = joined.collect()
    assert len(rows) == 1 and rows[0]["yr"] == 1997



@pytest.mark.parametrize("name,budget", [
    ("ohlc_hourly", 1),        # one hash agg keyed (hour, type)
    ("pack_sequences", 1),     # one exchange keyed by source shard
    ("bpe_pair_counts", 2),    # fan_out (no-op on multi-file tables)
                               # + single map-side-combined agg
    ("length_band_filter", 1), # band learn; apply side is broadcast
    ("late_line_priority", 1), # fact⋈fact join + conditional agg
    ("pipeline_pack_ready", 6), # 4-stage curation composition: band agg
                                # + fingerprint window + pack window
    ("dedup_ngram_jaccard", 4), # ordered-doc agg + prefix self-join
                                # + pair distinct + verify join; the
                                # PPJoin positional filter must prune
                                # inside the join, not add an Exchange
    ("quality_lm_bigram", 2),   # bigram df agg + scoring doc agg; the
                                # df join is the only wide join
    ("sample_temperature_mix", 2),  # source counts + kept counts; the
                                    # corpus filter pass is broadcast-only
    ("dedup_incremental_bloom", 3),  # occupied-bits distinct + hits agg
                                     # + final assembly; corpus screen is
                                     # broadcast-only (shard not shuffled)
    ("remove_dup_passages", 3),  # dup-window agg + per-doc drop-list agg
                                 # + doc_id join; reconstruction is pure
                                 # array expressions, no extra Exchange
    ("importance_weights", 4),   # shared token scan + corpus/target
                                 # histograms + doc scoring agg; the
                                 # 64-row ratio table is broadcast
    ("winnow_fingerprints", 1),  # selection is pure array expressions;
                                 # the one exchange is the fan_out
                                 # repartition (no-op on real tables)
    ("winnow_overlap_pairs", 3), # distinct + pair agg + sizes join over
                                 # the sublinear fingerprint relation
])
def test_round4_shuffle_budgets(spark, sf_dir, name, budget):
    """Round-4 operators hold the same discipline as the originals: a
    new Exchange in any of these plans is a scale regression even if
    results stay correct."""
    n = plans.shuffle_count(QUERIES[name](spark, sf_dir))
    assert n <= budget, f"{name}: {n} exchanges (budget {budget})"


def test_length_band_filter_broadcasts_bands(spark, sf_dir):
    """The per-language band table (|langs| rows) must broadcast back
    onto the corpus scan — the apply pass may never shuffle the corpus."""
    plan = plan_of(spark, sf_dir, "length_band_filter")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_parquet_aggregate_pushdown_metadata_only(spark, sf_dir):
    """MIN/MAX/COUNT with no filter can come from parquet footers
    alone — at 100 TB that is reading a few KB of metadata per file
    instead of the column data. The v1 parquet source Spark defaults
    to doesn't implement it, so the engine's stance: flip to the DSv2
    reader for metadata-only aggregations (`PushedAggregation` must
    appear in the scan), keep v1 (bucketing etc.) everywhere else."""
    old_v1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    old_agg = spark.conf.get("spark.sql.parquet.aggregatePushdown")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try:
        df = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
              .agg(F.min("l_quantity").alias("mn"),
                   F.max("l_quantity").alias("mx"),
                   F.count("*").alias("n")))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedAggregation: [MIN(l_quantity), MAX(l_quantity), COUNT(*)]" \
            in plan, plan
        row = df.collect()[0]
        assert row.n > 0 and row.mn <= row.mx
    finally:
        spark.conf.set("spark.sql.sources.useV1SourceList", old_v1)
        spark.conf.set("spark.sql.parquet.aggregatePushdown", old_agg)


@pytest.mark.parametrize("name, budget", [
    ("gopher_quality_rules", 0),  # pure single-scan array expressions
    ("vocab_oov_rate", 2),       # word counts + per-source agg; the
                                 # vocabulary membership probe is a
                                 # broadcast join, never a shuffle
    ("ngram_novelty", 2),        # window df agg + per-doc rollup; the
                                 # df join rides the window hash key
    ("minhash_search_topk", 4),  # band agg + candidate equi-join +
                                 # Jaccard re-score agg + top-k window;
                                 # candidates are per-bucket, never QxC
    ("hard_negatives", 6),       # norms agg + two side builds + dot agg
                                 # + top-k window; query side broadcast
    ("pq_codes", 5),             # seed window + subspace fan-out + dist
                                 # agg + argmin window + code collect
    ("pq_adc_topk", 3),          # dist agg reused via checkpoint; ADC is
                                 # a broadcast (m, code) join + sum
    ("dedup_keep_report", 4),    # CC loop's edge/label machinery + one
                                 # source rollup; keep test is a
                                 # predicate, not a join
    ("quality_funnel", 4),       # three stage verdicts (0/0/2 wide) +
                                 # doc_id joins + source agg
    ("bpe_apply_vocab", 3),      # word counts + per-(source, word)
                                 # counts + rollup; segmentation join is
                                 # vocabulary-sized
    ("semantic_topics", 3),      # cell assignment + cell-term agg +
                                 # corpus-term agg; cell totals ride a
                                 # broadcast, top-k is a bounded window
    ("dataset_split", 2),        # hash-bucket split is scan-fused; the
                                 # two exchanges are per-(source, split)
                                 # aggregation legs
    ("hashed_text_embeddings", 3),  # token explode + (doc, dim) agg +
                                    # per-doc map assembly
    ("hashed_knn_search", 2),    # post-checkpoint: dot agg + top-k
                                 # window; query side broadcast
    ("ann_recall_report", 36),   # compositional: three full search
                                 # pipelines (exact/IVF/ADC) + two
                                 # hit joins — generous headroom, the
                                 # lock is against runaway growth
])
def test_round5_shuffle_budgets(spark, sf_dir, name, budget):
    """Round-5 operators: same discipline — an extra Exchange in any
    of these plans is a scale regression even with correct results.
    All are also CartesianProduct-free (asserted — the PQ/ANN tier
    must never degenerate to all-pairs)."""
    df = QUERIES[name](spark, sf_dir)
    n = plans.shuffle_count(df)
    assert n <= budget, f"{name}: {n} exchanges (budget {budget})"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, name


@pytest.mark.parametrize("name,budget", [
    ("group_aware_kfold", 3),       # fold agg with exact distinct-
                                    # groups expand (2-phase) = 3
    ("pack_efficiency_report", 1),  # the source rollup REUSES the
                                    # pack window's hash partitioning
                                    # on source — one exchange total
    ("url_domain_stats", 3),        # url explode is narrow; (domain,
                                    # scheme) agg + exact distinct-doc
                                    # expand
    ("vocab_growth_by_source", 3),  # (source, word) count + source
                                    # rollup of the counts table
    ("sketch_quantile_bins", 2),    # (type, bin) count + type window;
                                    # final rollup reuses partitioning
    ("decayed_engagement", 2),      # 1-row anchor agg broadcast +
                                    # user_id aggregation
    ("rag_chunk_retrieval", 10),    # chunk+query posting aggs, the
                                    # dim equi-join's dot agg, norms,
                                    # top-k window; queries broadcast.
                                    # r7: +2 for the tf-idf weighting
                                    # side tables (chunk-df agg + 1-row
                                    # n_chunks agg, both broadcast) and
                                    # +1 for the per-query top-m-dims
                                    # window that bounds long queries
    ("bm25_topk", 7),               # postings + df/dl stats + the term
                                    # equi-join's score agg + top-k
                                    # window; query terms broadcast.
                                    # +1 r7: the 1-row n_docs/avgdl
                                    # stats agg folded IN-PLAN (replaced
                                    # two driver collects)
])
def test_round6_shuffle_budgets(spark, sf_dir, name, budget):
    """Round-6 operators: same exchange-budget discipline."""
    df = QUERIES[name](spark, sf_dir)
    n = plans.shuffle_count(df)
    assert n <= budget, f"{name}: {n} exchanges (budget {budget})"
    assert "CartesianProduct" not in plans.formatted_plan(df)


@pytest.mark.parametrize("name,budget", [
    ("hybrid_rrf_retrieval", 10),   # both legs' certified plans (7 + 2)
                                    # + the one (qid, did) fusion agg
                                    # over ≤ 2·|Q|·top_k rows
    ("retrieval_pruning_recall", 2),  # one audit scoring pass per
                                    # leg, each checkpointed before its
                                    # ranks, so only the two qid window
                                    # exchanges (exact + pruned ranks
                                    # share one) show; the per-qid
                                    # overlap agg reuses them
    ("dedup_containment", 5),       # df agg + vocab-sized word-id
                                    # window (r8: dense int IDs make
                                    # the arrays/joins int-typed, 15x
                                    # faster full-population verify) +
                                    # per-doc id-array agg (checkpoint-
                                    # shared by suspect prefixes and
                                    # both verify legs) + candidate
                                    # distinct; the prefix join keys
                                    # on rare ids, never all-pairs
])
def test_round7_shuffle_budgets(spark, sf_dir, name, budget):
    """Round-7 operators: same exchange-budget discipline."""
    df = QUERIES[name](spark, sf_dir)
    n = plans.shuffle_count(df)
    assert n <= budget, f"{name}: {n} exchanges (budget {budget})"
    assert "CartesianProduct" not in plans.formatted_plan(df)


@pytest.mark.parametrize("name", [
    "bm25_topk", "rag_chunk_retrieval", "hashed_knn_search",
])
def test_retrieval_query_side_is_bounded_broadcast(spark, sf_dir, name):
    """The retrieval tier's scale contract (VERDICT r6 #2): the query
    side must be a CONSTANT budget — a LIMIT under the `% MOD`
    pre-filter — and it must ride a broadcast. A corpus-proportional
    broadcast would pin ~1 TB of postings into every executor at
    100 TB; the LIMIT is what makes the broadcast hint honest."""
    df = QUERIES[name](spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "GlobalLimit" in plan or "TakeOrderedAndProject" in plan, name
    assert "BroadcastExchange" in plan, name


@pytest.mark.parametrize("name", [
    "multimodal_image_meta", "multimodal_audio_meta",
    "multimodal_audio_features", "multimodal_video_meta",
    "multimodal_video_frames",
])
def test_round8_multimodal_single_exchange(spark, sf_dir, name):
    """Round-8 multimodal queries: exactly ONE exchange — the gated
    fan_out of the narrow text scan BEFORE the encode kernel. The
    built payload bytes must never ride a shuffle (the parse kernels
    consume the encode kernel's output partition-locally); at 100 TB
    the payload column is the bill, so a second exchange here would
    be the plan bug this test exists to catch."""
    df = QUERIES[name](spark, sf_dir)
    n = plans.shuffle_count(df)
    assert n <= 1, f"{name}: {n} exchanges (payloads must not shuffle)"
    assert "CartesianProduct" not in plans.formatted_plan(df)


@pytest.mark.parametrize("name,budget", [
    ("fuzzy_blocked_match", 2),     # distinct-name agg + the blocked
                                    # candidate equi-join (AQE may
                                    # broadcast the name table away)
    ("entity_resolution", 4),       # the post-fixpoint assembly: name
                                    # agg + label join + entity rollup
                                    # (loop rounds are checkpoint-
                                    # truncated out of this plan)
    ("k_anonymity_audit", 1),       # one map-side-combined QI groupBy
    ("k_anonymity_suppress", 2),    # QI class agg (broadcast back) +
                                    # per-nation rollup
    ("ols_trend_by_nation", 3),     # orders x customer equi-join +
                                    # (nation, month) agg + the moment
                                    # agg over |nations|·|months| rows
    ("skyline_parts", 4),           # distinct-pair agg + banded sweep
                                    # window + the bands-sized prefix-
                                    # max window (broadcast back)
    ("event_transitions", 3),       # per-user LAG window + pair count
                                    # + the |types|²-sized conditional
                                    # window
    ("fk_integrity_audit", 16),     # 7 FK edges: parent-key distinct +
                                    # left join each (dims broadcast,
                                    # the fact edge shuffles); 1-row
                                    # agg per edge
    ("quality_quantile_norm", 1),   # ONE lang-keyed window exchange
    ("user_journey_paths", 3),      # (user, day) window (plans a
                                    # WindowGroupLimit for rn<=3) +
                                    # path pivot + triple count
    ("ols_residual_outliers", 3),   # monthly agg + moment agg + the
                                    # per-nation residual rank window
    ("market_basket_pairs", 6),     # distinct items + within-order
                                    # pair self-join + pair agg + the
                                    # item-count side agg (1-row order
                                    # count broadcasts); top-k is a
                                    # TakeOrderedAndProject
])
def test_round8_shuffle_budgets(spark, sf_dir, name, budget):
    """Round-8 session-2 operators: same exchange-budget discipline."""
    df = QUERIES[name](spark, sf_dir)
    n = plans.shuffle_count(df)
    assert n <= budget, f"{name}: {n} exchanges (budget {budget})"
    assert "CartesianProduct" not in plans.formatted_plan(df)


@pytest.mark.parametrize("name,budget", [
    ("dedup_image_phash", 2),       # post-checkpoint: the banded
                                    # candidate equi-self-join; the
                                    # decode+hash stage is lineage-
                                    # truncated and only 8 band bytes
                                    # per asset reach the join
    ("sample_corpus_hash", 0),      # pure row-local hash filter
    ("sample_mix_recipe_hash", 1),  # one lang groupBy
    ("multimodal_decode", 2),       # narrow-input fan_out + the
                                    # (lang, decoded) agg — encoded
                                    # payloads never shuffle (an r9
                                    # audit caught a redundant fan_out
                                    # re-shuffling payload bytes)
    ("multimodal_resize", 3),       # fan_out + the two-phase exact
                                    # distinct-content agg
    ("multimodal_framesample", 3),  # same shape over text payloads
])
def test_round9_shuffle_budgets(spark, sf_dir, name, budget):
    """Round-9 operators: exchange budgets; the pixel-kernel queries
    additionally must never put encoded payload bytes on a shuffle."""
    df = QUERIES[name](spark, sf_dir)
    n = plans.shuffle_count(df)
    assert n <= budget, f"{name}: {n} exchanges (budget {budget})"
    assert "CartesianProduct" not in plans.formatted_plan(df)


@pytest.mark.parametrize("name,budget", [
    ("quality_audio_screen", 1),    # fan_out of the fixture scan only:
                                    # the screen itself is a pure map
    ("quality_image_screen", 1),
    ("quality_video_screen", 1),
    ("quality_media_report", 6),    # 3 screen legs (fan_out each) +
                                    # the 3-row union rollup's partial/
                                    # final agg exchanges
])
def test_round11_quality_shuffle_budgets(spark, sf_dir, name, budget):
    """Round-11 quality screens: the plan must stay a map over the
    asset scan — the only allowed exchange is fan_out's deliberate
    repartition of the single-row-group fixture scan (payload bytes
    must never shuffle; there is no join to put them on one)."""
    df = QUERIES[name](spark, sf_dir)
    n = plans.shuffle_count(df)
    assert n <= budget, f"{name}: {n} exchanges (budget {budget})"
    assert "CartesianProduct" not in plans.formatted_plan(df)
    if name != "quality_media_report":
        # the one exchange carries doc_id alone, pre-payload-build
        fp = plans.formatted_plan(df)
        assert "SortMergeJoin" not in fp and "BroadcastHashJoin" not in fp


@pytest.mark.parametrize("name,budget", [
    ("pipeline_ingest_admission", 16),   # 10 doc_id joins over
                                         # checkpointed screen legs
                                         # (incl. the r12 semantic +
                                         # contamination legs, which
                                         # broadcast) + the text-gate
                                         # semi-join and funnel aggs
    ("pipeline_ingest_report", 17),      # + the rollup's agg exchange
])
def test_round11_admission_shuffle_budgets(spark, sf_dir, name, budget):
    """The admission pair composes checkpointed screen legs over
    doc_id equi-joins — a budget breach means a leg started
    re-shuffling inside the composition; no cartesian anywhere.
    Audits a FRESH build: the admission frame is memoized per
    session (r12), and explaining an already-EXECUTED AQE frame
    (test_parity runs every query first in a full-suite run) shows
    the final adaptive plan, not the static shape this pins."""
    from mit_mapreduce_spark.operators import mmdedup

    mmdedup._ADMISSION_MEMO.pop(
        (spark.sparkContext.applicationId, sf_dir), None)
    df = QUERIES[name](spark, sf_dir)
    n = plans.shuffle_count(df)
    assert n <= budget, f"{name}: {n} exchanges (budget {budget})"
    assert "CartesianProduct" not in plans.formatted_plan(df)


def test_minhash_bands_expr_frame_is_shuffle_free(spark, sf_dir):
    """The streaming band-index leg's expression form (r13) is a pure
    per-row map — zero exchanges (the point of the form: a streaming
    append drain needs no aggregate), no cartesian."""
    from mit_mapreduce_spark.catalog import load_table
    from mit_mapreduce_spark.operators.dedup import minhash_bands_expr_frame

    df = minhash_bands_expr_frame(
        load_table(spark, sf_dir, "documents"))
    n = plans.shuffle_count(df)
    assert n == 0, plans.formatted_plan(df)
    assert "CartesianProduct" not in plans.formatted_plan(df)


def test_minhash_screen_over_no_cartesian(spark, sf_dir):
    """The per-micro-batch MinHash screen (r13, the streaming
    admission's text near-dup leg): candidates come from a
    (band_idx, band_hash) equi-join against the persisted corpus
    band index — never an all-pairs product, whatever frames are
    passed for the two sides."""
    from mit_mapreduce_spark.catalog import load_table
    from mit_mapreduce_spark.operators.dedup import (
        _band_hashes, _minhash_sigs, minhash_screen_over, shingles_df,
    )

    docs = load_table(spark, sf_dir, "documents")
    inc = docs.where(F.col("doc_id") % 40 < 6)
    corpus = docs.where(~(F.col("doc_id") % 40 < 6))
    sh_c = shingles_df(corpus)
    sigs_c = _minhash_sigs(sh_c)
    df = minhash_screen_over(inc, sh_c, sigs_c.select("doc_id", "n"),
                             _band_hashes(sigs_c))
    assert "CartesianProduct" not in plans.formatted_plan(df)


def test_mapreduce_facade_is_one_catalyst_plan(spark, sf_dir):
    """run_job is one visible plan: whole-file scan lifted to a JVM
    Dataset, Map and Reduce as Arrow kernels, and a single grouping
    Exchange that AQE sizes. An opaque ``Scan ExistingRDD`` (a Python
    RDD converted by createDataFrame) would hide the facade from
    Catalyst and the SQL metrics."""
    plan = plan_of(spark, sf_dir, "mr_wordcount")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) MapInArrow", plan)) == 2, plan
    assert "Scan ExistingRDD" not in plan, plan
