"""Round-13 operators: the MinHash band-index maintenance leg (the
last static gate side to gain one), alert dedup-state TTL expiry in
code, and the streaming admission twin's supporting invariants."""

import pyspark.sql.functions as F
import pytest

from mit_mapreduce_spark import operators
from mit_mapreduce_spark.catalog import load_table
from mit_mapreduce_spark.operators import dedup
from mit_mapreduce_spark.operators.banding import inc_col

operators.load_all()


# --- MinHash band-index maintenance (VERDICT r12 ask #1) --------------------

def test_minhash_bands_expr_form_matches_batch(spark, sf_dir):
    """The stateless expression form (the streaming leg's shape) must
    equal the batch groupBy-MIN signature pipeline row-for-row — two
    implementations of one band-table definition."""
    docs = load_table(spark, sf_dir, "documents")
    expr_rows = {tuple(r) for r in
                 dedup.minhash_bands_expr_frame(docs).collect()}
    batch_rows = {tuple(r) for r in dedup._band_hashes(
        dedup._minhash_sigs(dedup.shingles_df(docs))).collect()}
    assert expr_rows == batch_rows and expr_rows


def test_minhash_band_index_roundtrip_reproduces_screen(
        spark, sf_dir, tmp_path):
    """Close the text near-dup tier's continuous-ingest loop (the
    r11 media / r12 embedding pattern): the STREAMED band index
    drained to a parquet sink must, when the incremental screen's
    candidate generator re-runs FROM the persisted table, reproduce
    the registered dedup_minhash_incremental verdicts exactly — the
    gate is a pure function of the maintained index, and a
    production deployment never re-shingles the corpus to find
    candidates."""
    drained = operators.QUERIES["stream_minhash_bands"](spark, sf_dir)
    out = str(tmp_path / "minhash_bands")
    drained.write.mode("overwrite").parquet(out)
    persisted = spark.read.parquet(out)

    via_index = dedup.minhash_screen_frame(
        spark, sf_dir, F.col("doc_id") % dedup.INC_MOD == 0,
        bands=persisted).collect()
    registered = operators.QUERIES["dedup_minhash_incremental"](
        spark, sf_dir).collect()
    as_map = lambda rows: {  # noqa: E731
        r.doc_id: (r.matched_id, r.jaccard, r.is_neardup) for r in rows}
    assert as_map(via_index) == as_map(registered)
    # both verdicts present on the fixture
    verdicts = {r.is_neardup for r in registered}
    assert verdicts == {True, False}


# --- alert dedup-state TTL: expiry demonstrated, not documented -------------

def test_alert_ttl_state_expires(spark, tmp_path):
    """VERDICT r12 ask #3: the alert legs' docstring promises 'a
    production deployment adds a watermark TTL on the dedup state if
    alert keys must expire' — demonstrate the EXPIRY itself, in code.
    Four micro-batches of alert pair rows (maxFilesPerTrigger=1,
    event-time ingest_ts) flow through the TTL'd dedup tail
    (withWatermark + dropDuplicatesWithinWatermark — the exact shape
    test_round11_ops pins for same-drain equivalence):

      batch 1: pair P at t0            -> emitted, state holds P
      batch 2: pair P again at t0+5m   -> inside the TTL, deduped
      batch 3: pair Q at t0+3h         -> emitted; the watermark
               advances to t0+2h, past P's ~t0+1h expiry
      batch 4: pair P again at t0+3h   -> STILL deduped: the state
               lookup precedes the eviction pass, which removes P's
               expired row at this batch's commit (numRowsRemoved=1
               in the progress metrics — the eviction made visible)
      batch 5: pair P again at t0+3h   -> state EXPIRED -> emitted
               AGAIN

    The duplicate re-emission after the horizon is the observable
    proof the state row was dropped (unbounded dropDuplicates would
    have suppressed it forever), and the final state-store row count
    is 2 (the fresh P + Q) — bounded by live keys inside the TTL
    window, not by alert history."""
    import os

    from mit_mapreduce_spark.operators.streaming_queries import tune

    tune(spark)
    stage = str(tmp_path / "alerts_in")
    os.makedirs(stage)
    ckpt = str(tmp_path / "ckpt")
    schema = ("asset_id BIGINT, matched_id BIGINT, hamming INT, "
              "ingest_ts TIMESTAMP")

    def write_batch(seq: int, pair: tuple, ts: str):
        name = f"b{seq}"
        spark.createDataFrame(
            [pair], "asset_id BIGINT, matched_id BIGINT, hamming INT"
        ).withColumn("ingest_ts", F.lit(ts).cast("timestamp")) \
            .coalesce(1).write.mode("overwrite") \
            .parquet(str(tmp_path / f"stage_{name}"))
        src = [f for f in os.listdir(str(tmp_path / f"stage_{name}"))
               if f.endswith(".parquet")][0]
        dst = os.path.join(stage, f"{name}.parquet")
        os.rename(os.path.join(str(tmp_path / f"stage_{name}"), src), dst)
        # the file source orders by modification time — pin it so
        # "one file per trigger" replays the scenario's batch order
        os.utime(dst, (1_700_000_000 + seq, 1_700_000_000 + seq))

    P, Q = (7, 13, 2), (8, 21, 3)
    write_batch(1, P, "2026-01-01 00:00:00")
    write_batch(2, P, "2026-01-01 00:05:00")
    write_batch(3, Q, "2026-01-01 03:00:00")
    write_batch(4, P, "2026-01-01 03:00:00")
    write_batch(5, P, "2026-01-01 03:00:00")

    ttl = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(stage)
        .withWatermark("ingest_ts", "1 hour")
        .dropDuplicatesWithinWatermark(["asset_id", "matched_id"])
        .select("asset_id", "matched_id", "hamming", "ingest_ts")
    )
    q = (ttl.writeStream.format("memory").queryName("ttl_expiry")
         .outputMode("append").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    state_rows, n_evicted = None, 0
    for p in q.recentProgress:
        if p["stateOperators"]:
            state_rows = p["stateOperators"][0]["numRowsTotal"]
            n_evicted += p["stateOperators"][0]["numRowsRemoved"]
    rows = sorted((r.asset_id, r.matched_id, str(r.ingest_ts))
                  for r in spark.table("ttl_expiry").collect())
    # P at t0 (fresh), Q, and P again at t0+3h (state expired);
    # the t0+5m and first-t0+3h repeats were deduped
    assert rows == [(7, 13, "2026-01-01 00:00:00"),
                    (7, 13, "2026-01-01 03:00:00"),
                    (8, 21, "2026-01-01 03:00:00")], rows
    assert n_evicted == 1, "P's expired state row must be removed"
    assert state_rows == 2, "live keys only: the fresh P + Q"


# --- streaming admission twin (VERDICT r12 ask #2) ---------------------------

def test_stream_admission_multibatch_equals_batch(spark, sf_dir, tmp_path):
    """The capstone invariant: the streaming admission drain equals
    the BATCH admission table row-for-row REGARDLESS of micro-batch
    boundaries — every gate is a pure per-doc function of (the doc's
    payload, the persisted static sides), so slicing the shard into
    three files drained one per trigger cannot change any verdict.
    This is the multi-batch leg the registered query's single
    availableNow batch doesn't exercise."""
    import os

    from mit_mapreduce_spark.operators import mmdedup
    from mit_mapreduce_spark.operators.streaming_queries import tune

    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    inc = docs.where(inc_col("doc_id"))
    stage = str(tmp_path / "shard_in")
    os.makedirs(stage)
    # three files of interleaved doc_ids -> three micro-batches
    for i in range(3):
        inc.where(F.col("doc_id") % 3 == i).coalesce(1) \
            .write.mode("overwrite").parquet(str(tmp_path / f"s{i}"))
        src = [f for f in os.listdir(str(tmp_path / f"s{i}"))
               if f.endswith(".parquet")][0]
        dst = os.path.join(stage, f"b{i}.parquet")
        os.rename(os.path.join(str(tmp_path / f"s{i}"), src), dst)
        os.utime(dst, (1_700_000_000 + i,) * 2)

    ctx = mmdedup.admission_static_ctx(spark, sf_dir)
    out = str(tmp_path / "admitted")
    schema = spark.read.parquet(stage).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(stage))
    n_batches = []

    def _admit(batch_df, batch_id):
        n_batches.append(batch_df.count())
        mmdedup.admission_batch_frame(spark, sf_dir, batch_df, ctx) \
            .write.mode("append").parquet(out)

    q = (stream.writeStream.foreachBatch(_admit)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert len(n_batches) == 3 and all(n > 0 for n in n_batches)

    as_map = lambda rows: {r.doc_id: tuple(r)[1:] for r in rows}  # noqa: E731
    drained = as_map(spark.read.parquet(out).collect())
    registered = as_map(operators.QUERIES["pipeline_ingest_admission"](
        spark, sf_dir).collect())
    assert drained == registered and drained


def test_stream_admission_drain_equals_batch_table(spark, sf_dir):
    """The registered streaming twin's drain (whatever staging gives)
    equals the batch admission table — the two surfaces of one
    decision."""
    as_map = lambda rows: {r.doc_id: tuple(r)[1:] for r in rows}  # noqa: E731
    drained = as_map(operators.QUERIES["stream_ingest_admission"](
        spark, sf_dir).collect())
    registered = as_map(operators.QUERIES["pipeline_ingest_admission"](
        spark, sf_dir).collect())
    assert drained == registered and drained


def test_admission_runs_from_drained_index_tables(spark, sf_dir, tmp_path):
    """The capstone's full loop closure: build the admission's static
    sides ENTIRELY from the tables the streaming maintenance legs
    drain — the text fingerprint set (stream_text_fingerprints), the
    MinHash band index (stream_minhash_bands), the embedding bucket
    index (stream_embedding_index), the three media signature
    tables (stream_*_fingerprints), and — r14 — the per-doc quality
    verdict tables (stream_gopher_rules / stream_repetition_rules)
    and the asset manifest (stream_asset_manifest) — persisted to
    parquet and read back; run the per-batch admission over the
    whole shard against THOSE tables — including the shingle table
    (stream_doc_shingles), whose per-doc counts supply the exact-
    Jaccard set sizes, (r14) the LM novelty table REBUILT from
    the mergeable count drain (stream_lm_bigram_counts +
    lm_from_counts), and (r14) the eval gram table
    (stream_eval_grams); reproduce the registered verdicts exactly.
    This is the production deployment made material: the gate never
    re-fingerprints, re-shingles, re-buckets, re-decodes, or
    re-quality-scans the corpus — EVERY static side now comes from
    a stream-maintained table (the count-merge invariant itself is
    pinned in test_round14_ops)."""
    import os

    from mit_mapreduce_spark.operators import mmdedup
    from mit_mapreduce_spark.operators.banding import inc_col
    from mit_mapreduce_spark.operators.streaming_queries import tune

    tune(spark)

    def persist(name):
        df = operators.QUERIES[name](spark, sf_dir)
        out = str(tmp_path / name)
        df.write.mode("overwrite").parquet(out)
        return spark.read.parquet(out)

    fps = persist("stream_text_fingerprints")
    bands = persist("stream_minhash_bands")
    shingles = persist("stream_doc_shingles")
    ebk = persist("stream_embedding_index")
    gq = persist("stream_gopher_rules")
    rq = persist("stream_repetition_rules")
    manifest = persist("stream_asset_manifest")
    media_sigs = {
        "has_audio": persist("stream_audio_fingerprints"),
        "has_image": persist("stream_image_fingerprints"),
        "has_video": persist("stream_video_fingerprints"),
    }

    inc_pred = inc_col("doc_id")
    ctx = dict(mmdedup.admission_static_ctx(spark, sf_dir))
    ctx["corpus_fps"] = (fps.where(~inc_pred)
                         .select(F.col("fingerprint").alias("_fp"))
                         .distinct())
    ctx["corpus_bands"] = bands.where(~inc_pred)
    ctx["corpus_sh"] = shingles.where(~inc_pred)
    ctx["corpus_sizes"] = (shingles.where(~inc_pred)
                           .groupBy("doc_id")
                           .agg(F.count("*").alias("n")))
    ctx["emb_bk"] = ebk
    ctx["g"] = gq.select("doc_id", F.col("passes").alias("_g"))
    ctx["r"] = rq.select("doc_id", F.col("passes").alias("_r"))
    ctx["manifest"] = manifest.select(
        "doc_id", "has_image", "has_audio", "has_video")
    from mit_mapreduce_spark.operators.textstats import (
        doc_bigrams_from, lm_from_counts,
    )

    lm_counts = persist("stream_lm_bigram_counts")
    ctx["lm"] = lm_from_counts(
        doc_bigrams_from(load_table(spark, sf_dir, "documents")),
        lm_counts).select("doc_id", "novelty")
    ctx["eval_grams"] = (persist("stream_eval_grams")
                         .select("gram").distinct())
    owners = {
        flag: manifest
        .where(F.col(flag)).select(F.col("doc_id").alias("asset_id"))
        for flag in media_sigs
    }
    ctx["media"] = {
        m: media_sigs[m.flag].where(~inc_col("asset_id"))
        .join(owners[m.flag], "asset_id", "left_semi")
        for m in ctx["media"]
    }

    shard = load_table(spark, sf_dir, "documents").where(inc_pred)
    via_tables = mmdedup.admission_batch_frame(spark, sf_dir, shard, ctx)
    as_map = lambda rows: {r.doc_id: tuple(r)[1:] for r in rows}  # noqa: E731
    assert as_map(via_tables.collect()) == as_map(
        operators.QUERIES["pipeline_ingest_admission"](
            spark, sf_dir).collect())
