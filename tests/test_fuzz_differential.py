"""Randomized differential fuzz: adversarial crafted corpora (unicode
letters, empty docs, whitespace-only docs, 40-char words, tabs,
apostrophes) through the REAL oracle gate — the live check for
SURVEY §7.4 risk #2 (tokenization parity `\\p{L}` vs DuckDB's regex
engine). Seeded, so failures reproduce."""

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from mit_mapreduce_spark import operators
from mit_mapreduce_spark.testing import compare

operators.load_all()

_ALPH = ["the", "a", "of", "and", "fox", "données", "müller", "中文",
         "Ωmega", "x" * 40, "don't", "e-mail", "123", "..", " ",
         "tab\tsep"]
_OPS = ["doc_stats", "token_counts", "fingerprint", "quality_repetition",
        "ngram_novelty", "vocab_oov_rate", "lang_id", "dedup_exact_norm"]


def _write_corpus(td: str, rng: random.Random) -> None:
    rows = []
    for i in range(rng.randint(3, 12)):
        kind = rng.random()
        if kind < 0.1:
            text = ""
        elif kind < 0.2:
            text = "   \t\n  "
        else:
            text = " ".join(rng.choice(_ALPH)
                            for _ in range(rng.randint(1, 120)))
        rows.append((i, text, rng.choice(["s1", "s2"]),
                     rng.choice(["en", "de"])))
    tab = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "source": pa.array([r[2] for r in rows], pa.string()),
        "lang": pa.array([r[3] for r in rows], pa.string()),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    })
    pq.write_table(tab, os.path.join(td, "documents.parquet"))
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"]:
        os.symlink(f"/root/testdata/sf0.001/{t}.parquet",
                   os.path.join(td, f"{t}.parquet"))


def test_differential_fuzz_text_ops(spark, tmp_path):
    rng = random.Random(42)
    for trial in range(3):
        td = str(tmp_path / f"t{trial}")
        os.makedirs(td)
        _write_corpus(td, rng)
        for op in _OPS:
            df = operators.QUERIES[op](spark, td)
            ok, msg = compare(df, operators.ORACLES[op], td)
            assert ok, f"trial {trial} {op}: {msg}"


def test_zero_norm_and_duplicate_vectors(spark, tmp_path):
    """Degenerate embeddings — an all-zero vector (undefined cosine;
    crashed three operators with DIVIDE_BY_ZERO under ANSI mode before
    the zero-norm exclusion) and an exact duplicate vector (cosine 1
    ties) — through the live oracle gate for the whole cosine tier.
    Zero-norm vectors are EXCLUDED from cosine scoring on both engines
    (norms HAVING <> 0 / .where(nsq > 0)); PQ/quantize keep them (L2
    is defined at zero)."""
    import pyarrow as pa

    rng = random.Random(7)
    dim = 64
    vecs = []
    for i in range(40):
        if i == 3:
            v = [0.0] * dim
        elif i == 9:
            v = vecs[2][1][:]
        else:
            v = [round(rng.uniform(-0.5, 0.5), 4) for _ in range(dim)]
        vecs.append((i, v))
    td = str(tmp_path / "emb")
    os.makedirs(td)
    tab = pa.table({
        "vec_id": pa.array([v[0] for v in vecs], pa.int64()),
        "embedding": pa.array([v[1] for v in vecs], pa.list_(pa.float32())),
        "label": pa.array([v[0] % 4 for v in vecs], pa.int32()),
    })
    pq.write_table(tab, os.path.join(td, "embeddings.parquet"))
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents"]:
        os.symlink(f"/root/testdata/sf0.001/{t}.parquet",
                   os.path.join(td, f"{t}.parquet"))
    for op in ["ann_bruteforce_topk", "pq_codes", "pq_adc_topk",
               "hard_negatives", "ann_lsh_pairs", "kmeans_update_step",
               "ann_ivf_topk", "embed_neardup_blocked",
               "semantic_dedup_cells"]:
        df = operators.QUERIES[op](spark, td)
        ok, msg = compare(df, operators.ORACLES[op], td)
        assert ok, f"{op}: {msg}"


def test_events_edge_cases(spark, tmp_path):
    """Adversarial events through the oracle gate: six simultaneous
    same-type events (OHLC open/close selector ties — broken by
    event_id on both engines), pre-1970 timestamps (negative epoch;
    the r4 advice fix), single-event users (degenerate sessions), and
    a sparse long-range spine for gapfill."""
    import datetime
    import pyarrow as pa

    rng = random.Random(11)
    base = datetime.datetime(2024, 1, 1)
    rows, eid = [], 0
    tie_ts = base + datetime.timedelta(hours=2, minutes=3)
    for _ in range(6):
        rows.append((eid, tie_ts, 5, "click",
                     round(rng.uniform(1, 100), 2), '{"k": 1}')); eid += 1
    for k in range(4):
        rows.append((eid, datetime.datetime(1969, 12, 31, 23, 30)
                     + datetime.timedelta(minutes=k * 7), 7, "purchase",
                     round(rng.uniform(1, 50), 2), '{"k": 2}')); eid += 1
    for u in (20, 21, 22):
        rows.append((eid, base + datetime.timedelta(hours=u), u,
                     "signup", 10.0, '{"k": 3}')); eid += 1
    for _ in range(120):
        rows.append((eid, base + datetime.timedelta(
            minutes=rng.randint(0, 60 * 50)), rng.randint(1, 9),
            rng.choice(["click", "purchase", "signup", "error"]),
            round(rng.uniform(1, 200), 2),
            f'{{"k": {rng.randint(0, 99)}}}')); eid += 1
    td = str(tmp_path / "ev")
    os.makedirs(td)
    tab = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
        "value": pa.array([r[4] for r in rows], pa.float64()),
        "props": pa.array([r[5] for r in rows], pa.string()),
    })
    pq.write_table(tab, os.path.join(td, "events.parquet"))
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "documents", "embeddings"]:
        os.symlink(f"/root/testdata/sf0.001/{t}.parquet",
                   os.path.join(td, f"{t}.parquet"))
    for op in ["sessionize", "tumbling_hourly", "ohlc_hourly",
               "locf_fill", "anomaly_events", "retention_cohorts",
               "funnel_conversion", "snapshot_latest", "json_props",
               "map_event_profile", "sketch_quantile_bins",
               "decayed_engagement"]:
        df = operators.QUERIES[op](spark, td)
        ok, msg = compare(df, operators.ORACLES[op], td)
        assert ok, f"{op}: {msg}"


def test_null_join_keys(spark, tmp_path):
    """NULL-injected join keys (5% NULL o_custkey, some NULL
    l_suppkey) through representative join/agg/window oracles — the
    ANSI NULL semantics parity check: equi-joins drop NULL keys, outer
    joins preserve the row, GROUP BY treats NULL as a group, on BOTH
    engines identically."""
    import duckdb

    src = "/root/testdata/sf0.001"
    td = str(tmp_path / "nulls")
    os.makedirs(td)
    con = duckdb.connect()
    con.sql(f"""COPY (SELECT * REPLACE (CASE WHEN o_orderkey % 19 = 0
                THEN NULL ELSE o_custkey END AS o_custkey)
                FROM '{src}/orders.parquet')
                TO '{td}/orders.parquet' (FORMAT PARQUET)""")
    con.sql(f"""COPY (SELECT * REPLACE (CASE WHEN l_orderkey % 23 = 0
                THEN NULL ELSE l_suppkey END AS l_suppkey)
                FROM '{src}/lineitem.parquet')
                TO '{td}/lineitem.parquet' (FORMAT PARQUET)""")
    for t in ["region", "nation", "customer", "supplier", "part",
              "events", "documents", "embeddings"]:
        os.symlink(f"{src}/{t}.parquet", os.path.join(td, f"{t}.parquet"))
    for op in ["join_broadcast_revenue", "join_left_order_counts",
               "join_full_outer_daily", "join_semi_big_spenders",
               "join_anti_no_big_order", "custdist_order_counts",
               "agg_rollup", "window_rank_topn", "topk_orders",
               "min_cost_supplier"]:
        df = operators.QUERIES[op](spark, td)
        ok, msg = compare(df, operators.ORACLES[op], td)
        assert ok, f"{op}: {msg}"


def test_curation_empty_and_giant_docs(spark, tmp_path):
    """Empty docs, one-word docs, 3000-word docs and PII-dense docs
    through the curation oracles. This class found FOUR real bugs:
    chunk_documents emitted a phantom empty chunk for empty docs,
    pipeline_training_mix and importance_weights hit ANSI
    DIVIDE_BY_ZERO (0-length text / absent target domain), and
    remove_dup_passages faulted on Spark's descending sequence(1, 0)
    for empty token arrays."""
    import pyarrow as pa

    rng = random.Random(5)
    words = ["alpha", "beta", "gamma", "delta", "mail", "to", "john",
             "doe", "example", "com"]
    rows = []
    for i in range(12):
        k = rng.random()
        if k < 0.15:
            text = ""
        elif k < 0.3:
            text = "single"
        elif k < 0.45:
            text = " ".join(rng.choice(words) for _ in range(3000))
        elif k < 0.6:
            text = ("contact john.doe@example.com or call 555-123-4567 "
                    "ssn 123-45-6789")
        else:
            text = " ".join(rng.choice(words)
                            for _ in range(rng.randint(5, 200)))
        rows.append((i, text, rng.choice(["s1", "s2"]),
                     rng.choice(["en", "de"])))
    td = str(tmp_path / "cur")
    os.makedirs(td)
    tab = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "source": pa.array([r[2] for r in rows], pa.string()),
        "lang": pa.array([r[3] for r in rows], pa.string()),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    })
    pq.write_table(tab, os.path.join(td, "documents.parquet"))
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"]:
        os.symlink(f"/root/testdata/sf0.001/{t}.parquet",
                   os.path.join(td, f"{t}.parquet"))
    for op in ["chunk_documents", "pipeline_training_mix",
               "importance_weights", "remove_dup_passages", "pii_redact",
               "pack_sequences", "pipeline_pack_ready", "quality_funnel"]:
        df = operators.QUERIES[op](spark, td)
        ok, msg = compare(df, operators.ORACLES[op], td)
        assert ok, f"{op}: {msg}"


def test_pathological_repetition_and_constant_columns(spark, tmp_path):
    """Two degenerate-distribution classes: (a) maximally repetitive
    text (one token x500, a two-token cycle, plus a verbatim dup) —
    identical shingles/windows stress every winnowing/minhash tie
    path; (b) a constant numeric column — zero histogram width (the
    fuzz-found DIVIDE_BY_ZERO: all mass lands in bucket 0 now)."""
    import duckdb
    import pyarrow as pa

    td = str(tmp_path / "rep")
    os.makedirs(td)
    rows = [(0, " ".join(["spam"] * 500), "s1", "en"),
            (1, " ".join(["tic", "tac"] * 250), "s1", "en"),
            (2, " ".join(["spam"] * 500), "s2", "en"),
            (3, "normal words in a brief document about nothing much",
             "s2", "en")]
    tab = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "source": pa.array([r[2] for r in rows], pa.string()),
        "lang": pa.array([r[3] for r in rows], pa.string()),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    })
    pq.write_table(tab, os.path.join(td, "documents.parquet"))
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"]:
        os.symlink(f"/root/testdata/sf0.001/{t}.parquet",
                   os.path.join(td, f"{t}.parquet"))
    for op in ["winnow_fingerprints", "winnow_overlap_pairs",
               "dup_passages", "remove_dup_passages", "dedup_minhash",
               "quality_repetition", "ngram_novelty", "bpe_train_merges"]:
        df = operators.QUERIES[op](spark, td)
        ok, msg = compare(df, operators.ORACLES[op], td)
        assert ok, f"{op}: {msg}"

    tc = str(tmp_path / "const")
    os.makedirs(tc)
    src = "/root/testdata/sf0.001"
    duckdb.connect().sql(
        f"COPY (SELECT * REPLACE (CAST(100.0 AS DOUBLE) AS o_totalprice)"
        f" FROM '{src}/orders.parquet')"
        f" TO '{tc}/orders.parquet' (FORMAT PARQUET)")
    for t in ["region", "nation", "customer", "supplier", "part",
              "lineitem", "events", "documents", "embeddings"]:
        os.symlink(f"{src}/{t}.parquet", os.path.join(tc, f"{t}.parquet"))
    for op in ["histogram_totalprice", "profile_columns",
               "agg_percentiles", "skew_report"]:
        df = operators.QUERIES[op](spark, tc)
        ok, msg = compare(df, operators.ORACLES[op], tc)
        assert ok, f"{op}: {msg}"

    # constant event values: all quantile-sketch mass in one bin, all
    # reported percentiles equal; decay unaffected by the value column
    te = str(tmp_path / "constev")
    os.makedirs(te)
    duckdb.connect().sql(
        f"COPY (SELECT * REPLACE (CAST(7.5 AS DOUBLE) AS value)"
        f" FROM '{src}/events.parquet')"
        f" TO '{te}/events.parquet' (FORMAT PARQUET)")
    for t in ["region", "nation", "customer", "supplier", "part",
              "lineitem", "orders", "documents", "embeddings"]:
        os.symlink(f"{src}/{t}.parquet", os.path.join(te, f"{t}.parquet"))
    for op in ["sketch_quantile_bins", "decayed_engagement"]:
        df = operators.QUERIES[op](spark, te)
        ok, msg = compare(df, operators.ORACLES[op], te)
        assert ok, f"{op}: {msg}"
    qs = operators.QUERIES["sketch_quantile_bins"](spark, te).collect()
    assert all(r.p50_cents == r.p90_cents == r.p99_cents for r in qs)


def test_facade_empty_and_unicode_files(spark, tmp_path):
    """The MapReduce facade and its DataFrame twins on adversarial
    file contents: an entirely EMPTY input file (a source with one
    empty doc), Go-IsLetter traps (category-N runes '²' and 'Ⅻ' that
    Python's \\w would wrongly keep), CJK, and tab/multi-space
    separators — byte parity with the relational oracle throughout."""
    import pyarrow as pa

    rows = [(0, "", "s_empty", "en"),
            (1, "the fox² and Ⅻ legions of müller 中文 text", "s_uni", "en"),
            (2, "plain words here", "s_plain", "en"),
            (3, "tab\tsep and   spaces", "s_plain", "en")]
    td = str(tmp_path / "mr")
    os.makedirs(td)
    tab = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "source": pa.array([r[2] for r in rows], pa.string()),
        "lang": pa.array([r[3] for r in rows], pa.string()),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    })
    pq.write_table(tab, os.path.join(td, "documents.parquet"))
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"]:
        os.symlink(f"/root/testdata/sf0.001/{t}.parquet",
                   os.path.join(td, f"{t}.parquet"))
    for op in ["mr_wordcount", "mr_inverted_index", "mr_sorted_concat",
               "wordcount", "inverted_index", "sorted_concat"]:
        df = operators.QUERIES[op](spark, td)
        ok, msg = compare(df, operators.ORACLES[op], td)
        assert ok, f"{op}: {msg}"


def test_csv_roundtrip_embedded_newlines(spark, tmp_path):
    """write_csv quotes embedded newlines; read_csv must parse them
    back as ONE record (fuzz find: the default line-splitting reader
    silently tore such rows in two). Quotes, commas, backslashes and
    unicode ride along."""
    from pyspark.sql import types as T

    from mit_mapreduce_spark import sources

    rows = [(1, "line1\nline2"), (2, 'has "quotes" and, commas'),
            (3, "plain"), (4, "trailing backslash \\"),
            (5, "unicode ü中")]
    df = spark.createDataFrame(rows, "id long, text string")
    out = str(tmp_path / "c")
    sources.write_csv(df, out)
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("text", T.StringType())])
    back = sources.read_csv(spark, out, schema=schema)
    assert sorted((r.id, r.text) for r in back.collect()) == sorted(rows)


def test_json_xml_roundtrip_special_values(spark, tmp_path):
    """JSON and XML sinks round-trip NaN/Infinity doubles, embedded
    newlines, markup characters (< & >), backslashes and NULLs — byte
    semantics preserved through both text formats."""
    import math

    from pyspark.sql import types as T

    from mit_mapreduce_spark import sources

    rows = [(1, "line1\nline2", 1.5),
            (2, 'quote " backslash \\ slash /', float("nan")),
            (3, "<tag> & ampersand", float("inf")),
            (4, "unicode ü中   seps", -0.0),
            (5, None, None)]
    df = spark.createDataFrame(rows, "id long, text string, v double")
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("text", T.StringType()),
                           T.StructField("v", T.DoubleType())])

    def canon(t):
        return [(r[0], r[1],
                 "nan" if (r[2] is not None and isinstance(r[2], float)
                           and math.isnan(r[2])) else r[2])
                for r in sorted(t, key=lambda r: r[0])]

    want = canon(rows)
    sources.write_json(df, str(tmp_path / "j"))
    back = sources.read_json(spark, str(tmp_path / "j"), schema=schema)
    assert canon([(r.id, r.text, r.v) for r in back.collect()]) == want
    sources.write_xml(df, str(tmp_path / "x"))
    backx = sources.read_xml(spark, str(tmp_path / "x"), schema=schema)
    assert canon([(r.id, r.text, r.v) for r in backx.collect()]) == want


def test_merge_upsert_null_keys_and_empty_compaction(spark, tmp_path):
    """ANSI MERGE semantics under NULL keys: a NULL key never matches,
    so the NULL-key base row survives AND the NULL-key update row
    inserts (both kept). And compacting an empty dataset is a no-op
    returning 0, not a schema-inference crash."""
    from mit_mapreduce_spark import sources

    base_dir = str(tmp_path / "base")
    spark.createDataFrame([(1, "a"), (2, "b"), (None, "n")],
                          "k long, v string").write.parquet(base_dir)
    upd = spark.createDataFrame([(2, "B"), (3, "c"), (None, "N")],
                                "k long, v string")
    n = sources.merge_upsert(spark, base_dir, upd, key_cols=["k"])
    back = sorted(((r.k if r.k is not None else -99), r.v)
                  for r in spark.read.parquet(base_dir).collect())
    assert back == [(-99, "N"), (-99, "n"), (1, "a"), (2, "B"), (3, "c")]
    assert n == 5

    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    assert sources.compact_parquet(spark, empty,
                                   str(tmp_path / "cout")) == 0


def test_wholefile_sources_empty_and_unicode_names(spark, tmp_path):
    """The facade's whole-file reader lists and reads empty files and
    unicode/space filenames."""
    from mit_mapreduce_spark import sources

    td = str(tmp_path / "files")
    os.makedirs(td)
    open(os.path.join(td, "empty.txt"), "w").close()
    with open(os.path.join(td, "uni ü 中.txt"), "w",
              encoding="utf-8") as f:
        f.write("hello world\nsecond line")
    with open(os.path.join(td, "normal.txt"), "w") as f:
        f.write("plain")
    want = [("empty.txt", 0), ("normal.txt", 5), ("uni ü 中.txt", 23)]

    df = sources.whole_text_files(spark, os.path.join(td, "*.txt"))
    got = sorted((os.path.basename(r[0]), len(r[1]))
                 for r in df.collect())
    assert got == want


def test_semistructured_malformed_props(spark, tmp_path):
    """Garbage in the semi-structured column must degrade to NULL, not
    fail the scan (fuzz find: ANSI CAST crashed json_props on a
    non-numeric value; parse_json crashed variant_props on a malformed
    record). Duplicate-key objects are excluded — RFC 8259 leaves them
    undefined and the engines legitimately differ (documented in
    variant_props)."""
    import datetime
    import pyarrow as pa

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (0, base, 1, "click", 1.0, '{"k": 5}'),
        (1, base, 1, "click", 1.0, "not json at all"),
        (2, base, 2, "click", 1.0, None),
        (3, base, 2, "click", 1.0, '{"k": "string-not-int"}'),
        (4, base, 3, "click", 1.0, '{"other": 1}'),
        (5, base, 3, "click", 1.0, '{"k": null}'),
        (6, base, 4, "click", 1.0, "[1,2,3]"),
    ]
    td = str(tmp_path / "props")
    os.makedirs(td)
    tab = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
        "value": pa.array([r[4] for r in rows], pa.float64()),
        "props": pa.array([r[5] for r in rows], pa.string()),
    })
    pq.write_table(tab, os.path.join(td, "events.parquet"))
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "documents", "embeddings"]:
        os.symlink(f"/root/testdata/sf0.001/{t}.parquet",
                   os.path.join(td, f"{t}.parquet"))
    for op in ["json_props", "variant_props"]:
        df = operators.QUERIES[op](spark, td)
        ok, msg = compare(df, operators.ORACLES[op], td)
        assert ok, f"{op}: {msg}"


def test_null_lang_and_source_metadata(spark, tmp_path):
    """NULL lang/source metadata (crawls always have them) through the
    per-language and per-source report operators: NULL groups behave
    identically on both engines — no dropped rows, no crashes."""
    import pyarrow as pa

    rows = [(0, "words here in document zero", None, None),
            (1, "more words in document one", "s1", "en"),
            (2, "third document has words too", None, "de"),
            (3, "fourth document rounds it out", "s1", None)]
    td = str(tmp_path / "nullmeta")
    os.makedirs(td)
    tab = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "source": pa.array([r[2] for r in rows], pa.string()),
        "lang": pa.array([r[3] for r in rows], pa.string()),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    })
    pq.write_table(tab, os.path.join(td, "documents.parquet"))
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"]:
        os.symlink(f"/root/testdata/sf0.001/{t}.parquet",
                   os.path.join(td, f"{t}.parquet"))
    for op in ["lang_dist", "lang_id", "top_docs_per_lang", "doc_stats",
               "vocab_oov_rate", "dataset_split", "dedup_keep_report",
               "group_aware_kfold", "vocab_growth_by_source",
               "url_domain_stats"]:
        df = operators.QUERIES[op](spark, td)
        ok, msg = compare(df, operators.ORACLES[op], td)
        assert ok, f"{op}: {msg}"


def test_empty_corpus_everything_degrades_to_zero_rows(spark, tmp_path):
    """A filtered-to-empty lake partition through the whole text tier:
    every operator — including the iterative BPE trainer and the CC
    fixpoint loop — must return zero rows, never crash."""
    import duckdb

    src = "/root/testdata/sf0.001"
    td = str(tmp_path / "emptycorpus")
    os.makedirs(td)
    duckdb.connect().sql(
        f"COPY (SELECT * FROM '{src}/documents.parquet' WHERE 1=0)"
        f" TO '{td}/documents.parquet' (FORMAT PARQUET)")
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"]:
        os.symlink(f"{src}/{t}.parquet", os.path.join(td, f"{t}.parquet"))
    for op in ["doc_stats", "dedup_minhash", "dedup_clusters",
               "quality_funnel", "bpe_train_merges", "dataset_split",
               "pack_sequences", "chunk_documents", "ngram_novelty",
               "hashed_text_embeddings", "remove_dup_passages",
               "group_aware_kfold", "pack_efficiency_report",
               "url_domain_stats", "vocab_growth_by_source",
               "bm25_topk", "rag_chunk_retrieval", "hashed_knn_search",
               "hybrid_rrf_retrieval", "retrieval_pruning_recall"]:
        df = operators.QUERIES[op](spark, td)
        ok, msg = compare(df, operators.ORACLES[op], td)
        assert ok, f"{op}: {msg}"
        assert df.count() == 0


# --- round-6 fuzz: facade file ops ----------------------------------------

def _seq_mapreduce(files: dict[str, str], map_fn, reduce_fn) -> dict:
    """Sequential oracle for the facade (mrsequential.go analogue):
    map every (basename, contents), group by key, reduce."""
    groups: dict[str, list] = {}
    for name in sorted(files):
        for k, v in map_fn(name, files[name]):
            groups.setdefault(k, []).append(v)
    return {k: reduce_fn(k, vs) for k, vs in groups.items()}


def test_fuzz_facade_adversarial_files(spark, tmp_path):
    """Facade file-op fuzz (round-5 verdict ask #6): adversarial
    filenames (glob metacharacters, spaces, unicode), empty files,
    CRLF/unicode/NUL-adjacent contents, empty dirs and zero-match
    globs — run_job vs the sequential oracle. Before the round-6
    input-resolution fix, '[name].txt' matched 0 files and an empty
    glob threw InvalidInputException from deep inside Hadoop."""
    import random as _random

    import pytest as _pytest

    from mit_mapreduce_spark.mapreduce import run_job

    rng = _random.Random(2026)
    wc_map = lambda fn, c: [(w, "1") for w in c.split()]  # noqa: E731
    wc_red = lambda k, vs: str(len(vs))  # noqa: E731
    idx_map = lambda fn, c: [(w, fn) for w in set(c.split())]  # noqa: E731
    idx_red = lambda k, vs: ",".join(sorted(set(vs)))  # noqa: E731

    names = ["plain.txt", "sp ace.txt", "uni-é中.txt", "[brackets].txt",
             "br{ace}.txt", "st*ar.txt", "qu?mark.txt", "empty.txt",
             "dots..txt"]
    contents_pool = ["a b a\nc", "", "  \t \n", "x\r\ny x", "中 文 中",
                     "don't stop", "a " * 200 + "rare"]
    for trial in range(3):
        td = tmp_path / f"mr{trial}"
        td.mkdir()
        files = {}
        for name in rng.sample(names, rng.randint(2, len(names))):
            text = "" if name == "empty.txt" else rng.choice(contents_pool)
            (td / name).write_text(text)
            files[name] = text
        # Hadoop-hidden names (a Spark output dir's _SUCCESS, .crc
        # files): the glob form must skip them, not crash the scan
        hidden = ["_under.txt", ".hidden.txt"]
        for name in hidden:
            (td / name).write_text("hidden words")
        for map_fn, red_fn in ((wc_map, wc_red), (idx_map, idx_red)):
            want = _seq_mapreduce(files, map_fn, red_fn)
            # literal-list addressing (reference os.Args semantics)
            got_df = run_job(spark, map_fn, red_fn,
                             [str(td / n) for n in files])
            got = {r.key: r.value for r in got_df.collect()}
            assert got == want, f"trial {trial} list-form diff"
            # glob addressing
            got2 = {r.key: r.value for r in run_job(
                spark, map_fn, red_fn, str(td / "*.txt")).collect()}
            assert got2 == want, f"trial {trial} glob-form diff"
        assert run_job(spark, wc_map, wc_red, str(td / ".*")).count() == 0
        # ...and a literal list naming one is a clear error
        for name in hidden:
            with _pytest.raises(ValueError, match="hidden"):
                run_job(spark, wc_map, wc_red,
                        [str(td / n) for n in files] + [str(td / name)])

    # zero-match glob and empty dir -> empty job, not an exception
    empty = tmp_path / "emptydir"
    empty.mkdir()
    assert run_job(spark, wc_map, wc_red, str(empty / "*.txt")).count() == 0
    assert run_job(spark, wc_map, wc_red, []).count() == 0
    # missing literal file -> the reference's "cannot open" crash,
    # as a clear FileNotFoundError (not a deep Hadoop stack)
    with _pytest.raises(FileNotFoundError):
        run_job(spark, wc_map, wc_red, [str(empty / "nope.txt")])


def test_facade_map_sees_every_file_exactly(spark, tmp_path):
    """Map must see every input file with its exact basename and
    contents: a zero-length file and names a DataFrame file source
    percent-encodes (space, '%20', brackets). Guards the scan choice —
    ``spark.read.text(wholetext=True)`` and ``binaryFile`` drop the
    empty file and encode the names."""
    from mit_mapreduce_spark.mapreduce import run_job

    files = {"empty.txt": "", "sp ace.txt": "a b\n", "pct%20x.txt": "pct",
             "[b].txt": "brackets\r\nhere"}
    for name, text in files.items():
        (tmp_path / name).write_bytes(text.encode("utf-8"))

    # crash.go's payload shape: the file's name and content length
    def crash_map(fn, c):
        return [("a", fn), ("c", f"{fn}={len(c)}"), ("t", f"{fn}={c!r}")]

    def crash_red(k, vs):
        return " | ".join(sorted(vs))

    want = _seq_mapreduce(files, crash_map, crash_red)
    for inputs in (str(tmp_path / "*"), [str(tmp_path / n) for n in files]):
        got = {r.key: r.value for r in run_job(
            spark, crash_map, crash_red, inputs).collect()}
        assert got == want, inputs


# --- round-6 fuzz: sources round-trips ------------------------------------

_ADV_STRINGS = ["", None, "plain", "with,comma", 'with"quote', "tab\there",
                "line\nbreak", "crlf\r\nbreak", "unicode-é中Ω",
                " leading", "trailing ", "'", "<xml>&amp;</xml>",
                "a" * 500, "sép;arator", "0", "-1.5", "true", "NULL"]


def _adv_frame(spark, rng):
    import pyspark.sql.types as T

    rows = []
    for i in range(rng.randint(3, 15)):
        rows.append((i, rng.choice(_ADV_STRINGS),
                     rng.choice([None, -(2**62), -1, 0, 7, 2**62]),
                     rng.choice([None, -0.0, 1.5, 1e300, -1e-300])))
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("sv", T.StringType()),
        T.StructField("iv", T.LongType()),
        T.StructField("dv", T.DoubleType()),
    ])
    return spark.createDataFrame(rows, schema), schema


def _canon_rows(df):
    out = []
    for r in df.collect():
        out.append((r.id, r.sv, r.iv,
                    None if r.dv is None else round(float(r.dv), 12)))
    return sorted(out, key=repr)


def test_fuzz_sources_roundtrips(spark, tmp_path):
    """Writer/reader round-trip fuzz (round-5 verdict ask #6) over
    adversarial values: embedded separators/quotes/newlines/CRLF,
    unicode, empty-string-vs-NULL, extreme numerics — through the
    CSV, JSON, ORC and XML sinks. Fuzz find fixed this round: CSV
    wrote '' and NULL identically, so empty strings silently became
    NULLs on read-back (now: quoted-empty + \\N sentinel)."""
    import random as _random

    from mit_mapreduce_spark import sources

    rng = _random.Random(99)
    for trial in range(3):
        df, schema = _adv_frame(spark, rng)
        want = _canon_rows(df)
        base = tmp_path / f"rt{trial}"

        sources.write_csv(df, str(base / "csv"))
        got = _canon_rows(sources.read_csv(
            spark, str(base / "csv"), schema=schema))
        assert got == want, f"trial {trial} CSV diff"

        sources.write_json(df, str(base / "json"))
        got = _canon_rows(sources.read_json(
            spark, str(base / "json"), schema=schema))
        assert got == want, f"trial {trial} JSON diff"

        sources.write_orc(df, str(base / "orc"))
        got = _canon_rows(sources.read_orc(spark, str(base / "orc")))
        assert got == want, f"trial {trial} ORC diff"

        sources.write_xml(df, str(base / "xml"))
        got = _canon_rows(sources.read_xml(
            spark, str(base / "xml"), schema=schema))
        assert got == want, f"trial {trial} XML diff"


# --- round-7 fuzz: retrieval tier (bm25 / RAG / hashed kNN) -----------------

_RETRIEVAL_OPS = ["bm25_topk", "rag_chunk_retrieval", "hashed_knn_search",
                  "hybrid_rrf_retrieval", "retrieval_pruning_recall"]


def _stage_retrieval_docs(td: str, rows) -> None:
    """Stage a documents table (doc_id, text, source) as a SINGLE
    parquet file (the DuckDB oracle reads one file) + symlink the rest."""
    tab = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "source": pa.array([r[2] for r in rows], pa.string()),
        "lang": pa.array(["en"] * len(rows), pa.string()),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    })
    pq.write_table(tab, os.path.join(td, "documents.parquet"))
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"]:
        os.symlink(f"/root/testdata/sf0.001/{t}.parquet",
                   os.path.join(td, f"{t}.parquet"))


def test_retrieval_empty_query_set(spark, tmp_path):
    """No doc survives the `% MOD == 0` query pre-filter (all doc_ids
    are non-multiples of 100) → the bounded query set is empty and all
    three retrieval ops must return zero rows on BOTH engines, never
    crash."""
    rows = [(i, f"some words number {i} repeated here", "s")
            for i in (1, 2, 3, 57, 99, 101, 199)]
    td = str(tmp_path / "noq")
    os.makedirs(td)
    _stage_retrieval_docs(td, rows)
    for op in _RETRIEVAL_OPS:
        df = operators.QUERIES[op](spark, td)
        ok, msg = compare(df, operators.ORACLES[op], td)
        assert ok, f"{op}: {msg}"
        assert df.count() == 0, op


def test_retrieval_zero_norm_corpus(spark, tmp_path):
    """Every document is empty or whitespace-only → every vector is
    zero-norm and every tf profile empty; the zero-norm exclusion must
    fire on both engines and all retrieval ops degrade to zero rows
    (this is also the bm25 empty/degenerate-avgdl path — ADVICE r6:
    the old driver-side avgdl divide crashed here)."""
    rows = [(0, "", "s"), (100, "   \t ", "s"), (1, "", "s"),
            (2, " \n ", "s")]
    td = str(tmp_path / "zn")
    os.makedirs(td)
    _stage_retrieval_docs(td, rows)
    for op in _RETRIEVAL_OPS:
        df = operators.QUERIES[op](spark, td)
        ok, msg = compare(df, operators.ORACLES[op], td)
        assert ok, f"{op}: {msg}"
        assert df.count() == 0, op


def test_retrieval_single_doc_corpus(spark, tmp_path):
    """A single document that IS the only query: the self-match
    exclusion (did <> qid / cdoc <> qid) leaves no candidates — zero
    rows, both engines."""
    rows = [(0, "the only document in the whole corpus", "s")]
    td = str(tmp_path / "one")
    os.makedirs(td)
    _stage_retrieval_docs(td, rows)
    for op in _RETRIEVAL_OPS:
        df = operators.QUERIES[op](spark, td)
        ok, msg = compare(df, operators.ORACLES[op], td)
        assert ok, f"{op}: {msg}"
        assert df.count() == 0, op


def test_retrieval_tie_break_determinism(spark, tmp_path):
    """Many verbatim duplicates → identical scores/cosines across
    candidates; rank must be tie-broken by id on both engines (the
    oracle hash gate catches any nondeterministic ordering). Runs the
    compare TWICE to catch partition-order flakiness."""
    base = "alpha beta gamma delta epsilon"
    rows = ([(0, base, "s"), (100, base, "s")]
            + [(i, base, "s") for i in range(1, 9)]
            + [(9, "unrelated disjoint vocabulary entirely", "s")])
    td = str(tmp_path / "ties")
    os.makedirs(td)
    _stage_retrieval_docs(td, rows)
    for op in _RETRIEVAL_OPS:
        for attempt in range(2):
            df = operators.QUERIES[op](spark, td)
            ok, msg = compare(df, operators.ORACLES[op], td)
            assert ok, f"{op} attempt {attempt}: {msg}"


def test_quantile_bins_negative_values(spark, tmp_path):
    """Negative event values cross the floor-vs-truncate divide
    (ADVICE r6: Spark `div` truncates toward zero, DuckDB `//`
    floors — bins differ for values in (-width, 0)); the shared
    floor-division expression must agree with the oracle exactly."""
    import duckdb

    src = "/root/testdata/sf0.001"
    td = str(tmp_path / "negev")
    os.makedirs(td)
    duckdb.connect().sql(
        f"COPY (SELECT * REPLACE (CASE WHEN event_id % 3 = 0"
        f" THEN -value - 0.01 ELSE value END AS value)"
        f" FROM '{src}/events.parquet')"
        f" TO '{td}/events.parquet' (FORMAT PARQUET)")
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "documents", "embeddings"]:
        os.symlink(f"{src}/{t}.parquet", os.path.join(td, f"{t}.parquet"))
    df = operators.QUERIES["sketch_quantile_bins"](spark, td)
    ok, msg = compare(df, operators.ORACLES["sketch_quantile_bins"], td)
    assert ok, msg


def test_differential_fuzz_r9_multimodal_and_samplers(spark, tmp_path):
    """r9 fuzz class: corpora with NULL texts, empty texts, NULL
    langs, unicode, and tiny doc counts (partial phash groups) through
    the pixel kernels, the image dedup tier, and the hash sampler
    twins — every op must stay hash-green against its oracle on every
    corpus (the NULL-text rows quarantine; the samplers treat NULL
    lang as rate 0; partial variant groups pair among themselves)."""
    import random

    rng = random.Random(99)
    ops = ["multimodal_image_meta", "multimodal_decode",
           "multimodal_resize", "multimodal_framesample",
           "multimodal_quarantine_report", "dedup_image_phash",
           "dedup_image_clusters", "dedup_image_keep_report",
           "sample_corpus_hash", "sample_mix_recipe_hash"]
    for trial in range(3):
        td = str(tmp_path / f"r9t{trial}")
        os.makedirs(td)
        rows = []
        for i in range(rng.randint(2, 10)):
            kind = rng.random()
            if kind < 0.2:
                text = None
            elif kind < 0.3:
                text = ""
            else:
                text = " ".join(rng.choice(_ALPH)
                                for _ in range(rng.randint(1, 40)))
            rows.append((i, text,
                         rng.choice(["s1", "s2"]),
                         rng.choice(["en", "de", None])))
        tab = pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "source": pa.array([r[2] for r in rows], pa.string()),
            "lang": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([len(r[1] or "") for r in rows],
                                pa.int64()),
        })
        pq.write_table(tab, os.path.join(td, "documents.parquet"))
        for t in ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "embeddings"]:
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet",
                       os.path.join(td, f"{t}.parquet"))
        for op in ops:
            df = operators.QUERIES[op](spark, td)
            ok, msg = compare(df, operators.ORACLES[op], td)
            assert ok, f"trial {trial}/{op}: {msg}"


def test_differential_fuzz_r10_media_dedup_and_manifest(spark, tmp_path):
    """r10 fuzz class: the same hostile corpora (NULL/empty texts,
    NULL langs, unicode, tiny doc counts = partial variant groups)
    through the audio/video near-dup tiers, the fingerprint search,
    and the cross-modality manifest — every op must stay hash-green
    against its oracle on every corpus. The audio/video fixtures are
    text-independent (group chains seed from doc_id), so NULL-text
    rows still produce assets; the manifest's quality stages handle
    the NULL/empty texts and the composition must agree end to end."""
    import random

    rng = random.Random(1010)
    ops = ["dedup_audio_fingerprint", "dedup_audio_clusters",
           "dedup_audio_keep_report", "dedup_video_phash",
           "dedup_video_clusters", "dedup_video_keep_report",
           "audio_fingerprint_search", "image_phash_search",
           "video_phash_search", "stream_audio_fingerprints",
           "pipeline_multimodal_manifest", "pipeline_multimodal_ready"]
    # trial 3 (r11): the EMPTY corpus — every tier and the manifest
    # must emit zero rows on both engines, not error or diverge
    for trial in range(4):
        td = str(tmp_path / f"r10t{trial}")
        os.makedirs(td)
        rows = []
        for i in range(0 if trial == 3 else rng.randint(2, 10)):
            kind = rng.random()
            if kind < 0.2:
                text = None
            elif kind < 0.3:
                text = ""
            else:
                text = " ".join(rng.choice(_ALPH)
                                for _ in range(rng.randint(1, 40)))
            rows.append((i, text,
                         rng.choice(["s1", "s2"]),
                         rng.choice(["en", "de", None])))
        tab = pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "source": pa.array([r[2] for r in rows], pa.string()),
            "lang": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([len(r[1] or "") for r in rows],
                                pa.int64()),
        })
        pq.write_table(tab, os.path.join(td, "documents.parquet"))
        for t in ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "embeddings"]:
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet",
                       os.path.join(td, f"{t}.parquet"))
        for op in ops:
            df = operators.QUERIES[op](spark, td)
            ok, msg = compare(df, operators.ORACLES[op], td)
            assert ok, f"trial {trial}/{op}: {msg}"


def test_differential_fuzz_r11_incremental_and_alerts(spark, tmp_path):
    """r11 fuzz class: the incremental media screens and the
    stream-static alert over hostile corpora — RANDOM NON-CONTIGUOUS
    doc_ids (partial variant groups, irregular shard splits,
    presence-predicate gaps) including degenerate splits where the
    incoming shard or the index side is EMPTY, plus the usual
    NULL/empty-text rows. Every op must stay hash-green against its
    chain oracle on every corpus (the manifest pair rides the r10
    class, which fuzzes whatever semantics are current — now the
    sparse ones)."""
    import random

    rng = random.Random(1111)
    ops = ["dedup_audio_incremental", "dedup_image_incremental",
           "dedup_video_incremental", "stream_fingerprint_alerts",
           "pipeline_ingest_admission", "dedup_minhash_incremental"]
    id_pools = [
        list(range(0, 4)),                 # all incoming, EMPTY index
        list(range(6, 14)),                # all index, EMPTY shard
        None,                              # random non-contiguous
        None,
    ]
    for trial, pool in enumerate(id_pools):
        td = str(tmp_path / f"r11t{trial}")
        os.makedirs(td)
        if pool is None:
            pool = sorted(rng.sample(range(500), rng.randint(3, 12)))
        rows = []
        for i in pool:
            kind = rng.random()
            text = (None if kind < 0.2 else "" if kind < 0.3
                    else " ".join(rng.choice(_ALPH)
                                  for _ in range(rng.randint(1, 40))))
            rows.append((i, text, rng.choice(["s1", "s2"]),
                         rng.choice(["en", "de", None])))
        tab = pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "source": pa.array([r[2] for r in rows], pa.string()),
            "lang": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([len(r[1] or "") for r in rows],
                                pa.int64()),
        })
        pq.write_table(tab, os.path.join(td, "documents.parquet"))
        for t in ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "embeddings"]:
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet",
                       os.path.join(td, f"{t}.parquet"))
        for op in ops:
            df = operators.QUERIES[op](spark, td)
            ok, msg = compare(df, operators.ORACLES[op], td)
            assert ok, f"trial {trial}/{op}: {msg}"


def test_differential_fuzz_r11_quality_screens(spark, tmp_path):
    """r11 fuzz class #2: the media quality screens over hostile
    corpora — RANDOM NON-CONTIGUOUS doc_ids (irregular degenerate-
    class coverage: a corpus may be all-silent, all-healthy, or miss
    entire classes), tiny doc counts, and the usual NULL/empty-text
    rows (the quality fixtures seed from doc_id, so NULL-text docs
    still own assets). Every screen and the composed report must stay
    hash-green against its chain oracle on every corpus."""
    import random

    rng = random.Random(1112)
    ops = ["quality_audio_screen", "quality_image_screen",
           "quality_video_screen", "quality_media_report",
           "stream_audio_quality"]
    id_pools = [
        [],                                # EMPTY corpus: both engines
        #                                    must emit zero report rows
        [0, 8, 16],                        # one class only (all silent)
        [4, 5, 6, 7, 12, 13],              # healthy chain classes only
        None,                              # random non-contiguous
        None,
    ]
    for trial, pool in enumerate(id_pools):
        td = str(tmp_path / f"r11q{trial}")
        os.makedirs(td)
        if pool is None:
            pool = sorted(rng.sample(range(500), rng.randint(2, 12)))
        rows = []
        for i in pool:
            kind = rng.random()
            text = (None if kind < 0.2 else "" if kind < 0.3
                    else " ".join(rng.choice(_ALPH)
                                  for _ in range(rng.randint(1, 40))))
            rows.append((i, text, rng.choice(["s1", "s2"]),
                         rng.choice(["en", "de", None])))
        tab = pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "source": pa.array([r[2] for r in rows], pa.string()),
            "lang": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([len(r[1] or "") for r in rows],
                                pa.int64()),
        })
        pq.write_table(tab, os.path.join(td, "documents.parquet"))
        for t in ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "embeddings"]:
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet",
                       os.path.join(td, f"{t}.parquet"))
        for op in ops:
            df = operators.QUERIES[op](spark, td)
            ok, msg = compare(df, operators.ORACLES[op], td)
            assert ok, f"trial {trial}/{op}: {msg}"


def test_differential_fuzz_r12_embedding_screen(spark, tmp_path):
    """r12 fuzz class: the embedding incremental screen and the
    streaming bucket-index leg over hostile VECTOR corpora — random
    non-contiguous vec_ids (irregular shard splits, empty shard or
    empty index), all-zero vectors (nsq = 0 must yield a NULL-match
    verdict, never a division), exact-duplicate vectors (cosine 1.0
    ties exercise the min-id tiebreak), sign-boundary components, and
    (r13, ADVICE r12) NULL components — SQL-SUM semantics everywhere:
    a NULL dim's product is ignored by the oracles' SUM, so the Spark
    folds must skip it too (the pre-r13 F.aggregate forms propagated
    it, flipping sign bits / nulling dots), and an all-NULL vector's
    dot is NULL on both engines. Both ops must stay hash-green
    against their chain oracles on every corpus."""
    import random

    rng = random.Random(1212)
    ops = ["embed_neardup_incremental", "stream_embedding_index"]
    id_pools = [
        list(range(0, 4)),                 # all incoming, EMPTY index
        list(range(6, 14)),                # all index, EMPTY shard
        None,
        None,
    ]
    for trial, pool in enumerate(id_pools):
        td = str(tmp_path / f"r12e{trial}")
        os.makedirs(td)
        if pool is None:
            pool = sorted(rng.sample(range(500), rng.randint(3, 14)))
        vecs = []
        for i in pool:
            kind = rng.random()
            if kind < 0.15:
                v = [0.0] * 64                       # zero vector
            elif kind < 0.3 and vecs:
                v = list(vecs[-1][1])                # exact duplicate
            elif kind < 0.4:
                # NULL components (r13): a lossy feed dropped dims
                v = [None if rng.random() < 0.2
                     else round(rng.uniform(-1, 1), 3)
                     for _ in range(64)]
            elif kind < 0.45:
                v = [None] * 64                      # all-NULL vector
            else:
                v = [round(rng.uniform(-1, 1), 3) for _ in range(64)]
            vecs.append((i, v, rng.randint(0, 9)))
        tab = pa.table({
            "vec_id": pa.array([r[0] for r in vecs], pa.int64()),
            "embedding": pa.array([r[1] for r in vecs],
                                  pa.list_(pa.float32())),
            "label": pa.array([r[2] for r in vecs], pa.int32()),
        })
        pq.write_table(tab, os.path.join(td, "embeddings.parquet"))
        for t in ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents"]:
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet",
                       os.path.join(td, f"{t}.parquet"))
        for op in ops:
            df = operators.QUERIES[op](spark, td)
            ok, msg = compare(df, operators.ORACLES[op], td)
            assert ok, f"trial {trial}/{op}: {msg}"


def test_differential_fuzz_r13_stream_admission_and_bands(spark, tmp_path):
    """r13 fuzz class: the streaming admission twin and the MinHash
    band-index maintenance leg over hostile corpora — NULL/empty
    texts (no shingles, no fingerprint), random non-contiguous
    doc_ids (irregular shard splits, partial variant groups), and
    the degenerate all-index pool where the incoming shard is EMPTY
    (the foreachBatch drain must still produce a readable zero-row
    verdict table). Both ops must stay hash-green against their
    chain oracles on every corpus; embeddings ride the sf0.001
    symlink, so the semantic gate sees vectors whose doc rows may
    not exist — presence stays data-driven."""
    import random

    rng = random.Random(1313)
    ops = ["stream_minhash_bands", "stream_ingest_admission"]
    id_pools = [
        list(range(6, 14)),                # all index, EMPTY shard
        None,                              # random non-contiguous
    ]
    for trial, pool in enumerate(id_pools):
        td = str(tmp_path / f"r13t{trial}")
        os.makedirs(td)
        if pool is None:
            pool = sorted(rng.sample(range(500), rng.randint(4, 12)))
        rows = []
        for i in pool:
            kind = rng.random()
            text = (None if kind < 0.2 else "" if kind < 0.3
                    else " ".join(rng.choice(_ALPH)
                                  for _ in range(rng.randint(1, 40))))
            rows.append((i, text, rng.choice(["s1", "s2"]),
                         rng.choice(["en", "de", None])))
        tab = pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "source": pa.array([r[2] for r in rows], pa.string()),
            "lang": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([len(r[1] or "") for r in rows],
                                pa.int64()),
        })
        pq.write_table(tab, os.path.join(td, "documents.parquet"))
        for t in ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "embeddings"]:
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet",
                       os.path.join(td, f"{t}.parquet"))
        for op in ops:
            df = operators.QUERIES[op](spark, td)
            ok, msg = compare(df, operators.ORACLES[op], td)
            assert ok, f"trial {trial}/{op}: {msg}"


def test_differential_fuzz_r14_maintenance_drains(spark, tmp_path):
    """r14 fuzz class: the five new maintenance drains — the quality
    verdict pair, the asset manifest, the mergeable LM count table,
    and the eval-gram feed — over hostile corpora: NULL/empty/
    single-token texts (no bigrams, no grams, NULL token arrays on
    both engines), random non-contiguous doc_ids (irregular eval-set
    membership and modality ownership), and an all-eval pool
    (doc_id % 97 == 0 rows only — the eval-gram drain's whole input,
    the LM table's densest df). Every drain must stay hash-green
    against its chain oracle on every corpus; embeddings ride the
    sf0.001 symlink, so has_embedding stays data-driven over vec_ids
    that may not match any doc."""
    import random

    rng = random.Random(1414)
    ops = ["stream_gopher_rules", "stream_repetition_rules",
           "stream_asset_manifest", "stream_lm_bigram_counts",
           "stream_eval_grams"]
    id_pools = [
        [0, 97, 194, 291],                 # all-eval pool
        None,                              # random non-contiguous
    ]
    for trial, pool in enumerate(id_pools):
        td = str(tmp_path / f"r14t{trial}")
        os.makedirs(td)
        if pool is None:
            pool = sorted(rng.sample(range(500), rng.randint(4, 12)))
        rows = []
        for i in pool:
            kind = rng.random()
            text = (None if kind < 0.2 else "" if kind < 0.3
                    else rng.choice(_ALPH) if kind < 0.4
                    else " ".join(rng.choice(_ALPH)
                                  for _ in range(rng.randint(1, 40))))
            rows.append((i, text, rng.choice(["s1", "s2"]),
                         rng.choice(["en", "de", None])))
        tab = pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "source": pa.array([r[2] for r in rows], pa.string()),
            "lang": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([len(r[1] or "") for r in rows],
                                pa.int64()),
        })
        pq.write_table(tab, os.path.join(td, "documents.parquet"))
        for t in ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "embeddings"]:
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet",
                       os.path.join(td, f"{t}.parquet"))
        for op in ops:
            df = operators.QUERIES[op](spark, td)
            ok, msg = compare(df, operators.ORACLES[op], td)
            assert ok, f"trial {trial}/{op}: {msg}"
