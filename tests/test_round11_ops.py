"""Round-11 operators: sparse-modality manifest semantics, the
incremental media dedup screens, and the stream-static near-dup
alert at ingest."""

import pytest

from pyspark.sql import functions as F

from mit_mapreduce_spark import operators, plans

operators.load_all()

from mit_mapreduce_spark.operators import mmdedup  # noqa: E402
from mit_mapreduce_spark.operators.banding import (  # noqa: E402
    banded_match_scores, inc_col, incremental_screen,
)
from mit_mapreduce_spark.operators.multimodal import (  # noqa: E402
    _PHASH_SCHEMA, _phash_batch, _phash_image_assets_from,
)


# --- sparse-modality manifest -------------------------------------------------

def test_manifest_covers_every_document(spark, sf_dir):
    """No document may be inner-join-dropped: the manifest has
    exactly one row per doc, whether or not it owns media assets."""
    from mit_mapreduce_spark.catalog import load_table

    n_docs = load_table(spark, sf_dir, "documents").count()
    m = operators.QUERIES["pipeline_multimodal_manifest"](spark, sf_dir)
    assert m.count() == n_docs


def test_manifest_text_only_doc_can_be_ready(spark, sf_dir):
    """The r10 regression this round fixes: a document owning NO
    media assets (doc_id ≡ 28 mod 210 misses all three presence
    predicates) must pass every media bit and be ready iff its text
    and quality bits pass — modality absence never blocks
    readiness."""
    rows = operators.QUERIES["pipeline_multimodal_manifest"](
        spark, sf_dir).where((F.col("doc_id") % 210) == 28).collect()
    assert rows, "fixture must contain text-only docs"
    for r in rows:
        assert r.keep_image == 1 and r.keep_audio == 1 \
            and r.keep_video == 1
        assert r.ready == (r.keep_text & r.keep_quality)


def test_manifest_ready_with_absent_modality_exists(spark, sf_dir):
    """The sparse semantics must be live in the data, not just the
    schema: some doc missing at least one modality is ready."""
    imod, irem = mmdedup.MM_IMAGE_ABSENT
    amod, arem = mmdedup.MM_AUDIO_ABSENT
    vmod, vrem = mmdedup.MM_VIDEO_ABSENT
    absent_any = ((F.col("doc_id") % imod == irem)
                  | (F.col("doc_id") % amod == arem)
                  | (F.col("doc_id") % vmod == vrem))
    m = operators.QUERIES["pipeline_multimodal_manifest"](spark, sf_dir)
    assert m.where((F.col("ready") == 1) & absent_any).count() > 0


def test_sparse_clusters_cover_present_docs_only(spark, sf_dir):
    """Each sparse media leg labels exactly the docs that own the
    asset — absent docs have no cluster row (they pass by predicate,
    not by a synthetic singleton)."""
    from mit_mapreduce_spark.catalog import load_table

    mod, rem = mmdedup.MM_AUDIO_ABSENT
    docs = load_table(spark, sf_dir, "documents")
    n_present = docs.where(F.col("doc_id") % mod != rem).count()
    cl = mmdedup._sparse_clusters(
        spark, sf_dir, mmdedup._fingerprint_audio_assets_from,
        mmdedup._afp_batch, mmdedup.MM_AUDIO_ABSENT)
    got = cl.select("asset_id").collect()
    assert len(got) == n_present
    assert all(r.asset_id % mod != rem for r in got)


# --- incremental media dedup screens -------------------------------------------

def _collect_sigs(assets_df, kernel):
    m64 = (1 << 64) - 1
    rows = assets_df.mapInPandas(kernel, _PHASH_SCHEMA).collect()
    return {r.asset_id: (r.sig0 & m64) | ((r.sig1 & m64) << 64)
            for r in rows}


def _bruteforce_screen(sig: dict, ham_max: int):
    """Quadratic truth: per incoming asset the best (min hamming,
    tie min id) in-radius index match."""
    inc = {a for a in sig if a % 40 < 6}
    idx = {a for a in sig if a % 40 >= 6}
    out = {}
    for a in inc:
        best = None
        for b in sorted(idx):
            ham = bin(sig[a] ^ sig[b]).count("1")
            if ham <= ham_max and (best is None or (ham, b) < best):
                best = (ham, b)
        out[a] = best
    return out


@pytest.mark.parametrize(
    "m", mmdedup.MEDIA,
    ids=lambda m: (f"dedup_{m.name}_incremental-{m.fixture_from.__name__}"
                   f"-{m.kernel.__name__}"))
def test_incremental_vs_python_bruteforce(spark, sf_dir, m):
    """The one-sided banded screen must equal a quadratic brute force
    over the same fingerprints (banding losslessness, one-sided), for
    all three modalities."""
    from mit_mapreduce_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    sig = _collect_sigs(m.fixture_from(docs), m.kernel)
    want = _bruteforce_screen(sig, mmdedup.FP_HAM_MAX)
    got = {r.asset_id: r for r in
           operators.QUERIES[f"dedup_{m.name}_incremental"](
               spark, sf_dir).collect()}
    assert set(got) == set(want)
    for a, best in want.items():
        r = got[a]
        if best is None:
            assert r.matched_id is None and r.hamming is None \
                and r.is_neardup is False
        else:
            assert (r.hamming, r.matched_id) == best
            assert r.is_neardup is True


def test_incremental_exercises_both_verdicts(spark, sf_dir):
    """The doc_id % 40 < 6 shard split plants both outcomes: fully-
    incoming 40-aligned groups (no index match) and split groups
    (guaranteed match)."""
    df = operators.QUERIES["dedup_audio_incremental"](spark, sf_dir)
    by = {r.is_neardup: r["count"] for r in
          df.groupBy("is_neardup").count().collect()}
    assert by.get(True, 0) > 0 and by.get(False, 0) > 0


def test_incremental_plans(spark, sf_dir):
    """Candidates must come from the band equi-join (no cartesian)
    and the post-checkpoint plan stays within the screen's exchange
    budget: band join + best-pick window + verdict join."""
    for name in ("dedup_audio_incremental", "dedup_image_incremental",
                 "dedup_video_incremental"):
        df = operators.QUERIES[name](spark, sf_dir)
        plan = plans.formatted_plan(df)
        assert "CartesianProduct" not in plan, (name, plan)
        n = plans.shuffle_count(df)
        assert n <= 5, f"{name}: {n} exchanges"


def test_incremental_screen_crafted_corner_cases(spark):
    """Crafted signatures: an incoming asset equidistant from two
    index assets must pick the min id; radius boundary (hamming ==
    FP_HAM_MAX) matches, radius+1 does not."""
    # each case sits on its own sig1 base (pairwise Hamming >= 31) so
    # cross-case pairs can never fall inside the radius
    b2 = (1 << 32) - 1
    b3 = ((1 << 32) - 1) << 31
    rows = [
        # case 1 (base 0): incoming 0 ties at hamming 1 vs index 46, 86
        (0, 1, 0), (46, 3, 0), (86, 0, 0),
        # case 2 (base b2): index 126 at exactly FP_HAM_MAX from inc 2
        (2, (1 << mmdedup.FP_HAM_MAX) - 1, b2), (126, 0, b2),
        # case 3 (base b3): index 166 at FP_HAM_MAX + 1 from inc 3
        (3, (1 << (mmdedup.FP_HAM_MAX + 1)) - 1, b3), (166, 0, b3),
    ]
    sigs = spark.createDataFrame(rows, "asset_id long, sig0 long, sig1 long")
    inc_pred = F.col("asset_id") % 40 < 6
    out = {r.asset_id: r for r in incremental_screen(
        sigs.where(inc_pred).select("asset_id"),
        sigs.where(inc_pred), sigs.where(~inc_pred),
        mmdedup.FP_BANDS, mmdedup.FP_BAND_BITS,
        mmdedup.FP_HAM_MAX).collect()}
    assert out[0].matched_id == 46 and out[0].hamming == 1  # tie -> min id
    assert out[2].matched_id == 126 \
        and out[2].hamming == mmdedup.FP_HAM_MAX   # boundary in
    assert out[3].matched_id is None               # boundary + 1 out


# --- stream-static near-dup alert ----------------------------------------------

def test_stream_alert_equals_batch(spark, sf_dir):
    """The availableNow drain of stream_fingerprint_alerts must equal
    the batch-side screen pairs exactly (stateless stages + append
    mode + per-pair dedup). r13: both sides restricted to the asset
    manifest's audio OWNERS — presence is data."""
    drained = {(r.asset_id, r.matched_id, r.hamming) for r in
               operators.QUERIES["stream_fingerprint_alerts"](
                   spark, sf_dir).collect()}
    docs = mmdedup._present_docs(spark, sf_dir, mmdedup.MM_AUDIO_ABSENT)
    inc_pred = F.col("doc_id") % 40 < 6
    sigs = (mmdedup._fingerprint_audio_assets_from(docs)
            .mapInPandas(mmdedup._afp_batch, _PHASH_SCHEMA)
            .localCheckpoint(eager=False))
    p = F.col("asset_id") % 40 < 6
    batch = {(r.asset_id, r.matched_id, r.hamming) for r in
             banded_match_scores(sigs.where(p), sigs.where(~p),
                                 mmdedup.FP_BANDS, mmdedup.FP_BAND_BITS,
                                 mmdedup.FP_HAM_MAX)
             .dropDuplicates(["asset_id", "matched_id"]).collect()}
    assert drained == batch
    assert drained, "fixture must produce alerts"
    # and the presence filter is REAL on the fixture: some alert of
    # the unfiltered composition must involve a non-owner doc, else
    # this test can't distinguish the two semantics
    all_docs = mmdedup.load_table(spark, sf_dir, "documents") \
        .select("doc_id")
    usigs = (mmdedup._fingerprint_audio_assets_from(all_docs)
             .mapInPandas(mmdedup._afp_batch, _PHASH_SCHEMA)
             .localCheckpoint(eager=False))
    unfiltered = {(r.asset_id, r.matched_id, r.hamming) for r in
                  banded_match_scores(usigs.where(p), usigs.where(~p),
                                      mmdedup.FP_BANDS,
                                      mmdedup.FP_BAND_BITS,
                                      mmdedup.FP_HAM_MAX)
                  .dropDuplicates(["asset_id", "matched_id"]).collect()}
    assert drained < unfiltered, \
        "fixture must exercise the ownership filter"


def test_alert_matches_incremental_verdicts(spark, sf_dir):
    """Consistency across the two surfaces: the set of alerted
    incoming assets equals the set the OWNER-RESTRICTED batch screen
    marks is_neardup (r13: the alert leg reads ownership from the
    asset manifest, so its batch twin is the admission's screen-leg
    composition — incremental_screen over the manifest-flagged owner
    set — not the unfiltered registered incremental), and the
    screen's best match appears among that asset's alert pairs."""
    from mit_mapreduce_spark.operators.banding import incremental_screen

    alerts = operators.QUERIES["stream_fingerprint_alerts"](
        spark, sf_dir).collect()
    owners = mmdedup._present_docs(spark, sf_dir, mmdedup.MM_AUDIO_ABSENT)
    sigs = (mmdedup._fingerprint_audio_assets_from(owners)
            .mapInPandas(mmdedup._afp_batch, _PHASH_SCHEMA)
            .localCheckpoint(eager=False))
    inc = F.col("asset_id") % 40 < 6
    screen = {r.asset_id: r for r in incremental_screen(
        owners.select(F.col("doc_id").alias("asset_id"))
        .where(F.col("asset_id") % 40 < 6),
        sigs.where(inc), sigs.where(~inc),
        mmdedup.FP_BANDS, mmdedup.FP_BAND_BITS,
        mmdedup.FP_HAM_MAX).collect()}
    alerted = {}
    for r in alerts:
        alerted.setdefault(r.asset_id, set()).add((r.matched_id, r.hamming))
    assert set(alerted) == {a for a, r in screen.items() if r.is_neardup}
    for a, pairs in alerted.items():
        assert (screen[a].matched_id, screen[a].hamming) in pairs


def test_alert_dedup_state_ttl_variant(spark, sf_dir):
    """Production-posture check, in code rather than prose: the alert
    body with an ingest-time watermark + dropDuplicatesWithinWatermark
    — the bounded-state form a deployment runs so alert keys EXPIRE
    instead of accumulating forever — drains the same alert set as
    the registered unbounded-dedup query in the availableNow case
    (every pair's first occurrence is inside the watermark window, so
    the TTL can only change steady-state memory, never the drain)."""
    from mit_mapreduce_spark.catalog import load_table
    from mit_mapreduce_spark.operators.streaming_queries import tune
    from mit_mapreduce_spark.streaming import docs_stream, run_stream_to_table

    tune(spark)
    inc_pred = F.col("doc_id") % 40 < 6
    owners = mmdedup._present_docs(spark, sf_dir, mmdedup.MM_AUDIO_ABSENT)
    idx_sigs = (
        mmdedup._fingerprint_audio_assets_from(owners.where(~inc_pred))
        .mapInPandas(mmdedup._afp_batch, _PHASH_SCHEMA)
        .localCheckpoint(eager=False)
    )
    inc_sigs = (
        mmdedup._fingerprint_audio_assets_from(
            docs_stream(spark, sf_dir).where(inc_pred)
            .join(owners, "doc_id", "left_semi"))
        .mapInPandas(mmdedup._afp_batch, _PHASH_SCHEMA)
    )
    ttl = (
        banded_match_scores(inc_sigs, idx_sigs, mmdedup.FP_BANDS,
                            mmdedup.FP_BAND_BITS, mmdedup.FP_HAM_MAX)
        .withColumn("ingest_ts", F.current_timestamp())
        .withWatermark("ingest_ts", "1 hour")
        .dropDuplicatesWithinWatermark(["asset_id", "matched_id"])
        .select("asset_id", "matched_id", "hamming")
    )
    drained = {(r.asset_id, r.matched_id, r.hamming)
               for r in run_stream_to_table(ttl, "append").collect()}
    registered = {(r.asset_id, r.matched_id, r.hamming)
                  for r in operators.QUERIES["stream_fingerprint_alerts"](
                      spark, sf_dir).collect()}
    assert drained == registered and drained


def test_streamed_signature_index_feeds_the_screen(spark, sf_dir, tmp_path):
    """The 100 TB story made material end to end: the signature rows
    drained by the streaming fingerprint-at-ingest leg, PERSISTED to
    a real parquet signature table (writeStream parquet sink +
    checkpoint), are the index the incremental screen consumes —
    screening the incoming shard against the persisted table, with no
    corpus re-decode anywhere, yields exactly the registered
    dedup_audio_incremental verdicts."""
    from mit_mapreduce_spark.catalog import load_table
    from mit_mapreduce_spark.operators.streaming_queries import tune
    from mit_mapreduce_spark.streaming import docs_stream

    tune(spark)
    inc_pred = inc_col("doc_id")
    dst, ckpt = str(tmp_path / "sigidx"), str(tmp_path / "ckpt")
    idx_leg = (
        mmdedup._fingerprint_audio_assets_from(
            docs_stream(spark, sf_dir).where(~inc_pred))
        .mapInPandas(mmdedup._afp_batch, _PHASH_SCHEMA)
    )
    q = (idx_leg.writeStream.format("parquet")
         .option("path", dst).option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    persisted_index = spark.read.parquet(dst)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    inc_docs = docs.where(inc_pred)
    inc_sigs = (
        mmdedup._fingerprint_audio_assets_from(inc_docs)
        .mapInPandas(mmdedup._afp_batch, _PHASH_SCHEMA)
        .localCheckpoint(eager=False)
    )
    screened = incremental_screen(
        inc_docs.select(F.col("doc_id").alias("asset_id")),
        inc_sigs, persisted_index,
        mmdedup.FP_BANDS, mmdedup.FP_BAND_BITS, mmdedup.FP_HAM_MAX)
    got = {tuple(r) for r in screened.collect()}
    want = {tuple(r) for r in operators.QUERIES[
        "dedup_audio_incremental"](spark, sf_dir).collect()}
    assert got == want and got


def test_screen_degenerate_single_bucket(spark):
    """Hostile-corpus worst case for the ONE-SIDED join: every asset
    has the IDENTICAL signature, so all candidates fall into one
    (band, value) bucket per band — the screen must still produce
    exactly one verdict per incoming asset (best = min index id,
    hamming 0), the same skew story as the pair join's degenerate
    bucket (AQE handles the volume; correctness must not depend on
    bucket spread)."""
    rows = [(i, 123456789, -987654321) for i in range(200)]
    sigs = spark.createDataFrame(rows, "asset_id long, sig0 long, sig1 long")
    inc_pred = F.col("asset_id") % 40 < 6
    out = {r.asset_id: r for r in incremental_screen(
        sigs.where(inc_pred).select("asset_id"),
        sigs.where(inc_pred), sigs.where(~inc_pred),
        mmdedup.FP_BANDS, mmdedup.FP_BAND_BITS,
        mmdedup.FP_HAM_MAX).collect()}
    incoming = [i for i in range(200) if i % 40 < 6]
    min_idx = min(i for i in range(200) if i % 40 >= 6)
    assert set(out) == set(incoming)
    for r in out.values():
        assert r.matched_id == min_idx and r.hamming == 0 \
            and r.is_neardup is True


def test_banding_invariant_violations_raise(spark):
    """ADVICE r10: invariant violations that would yield silently
    INCOMPLETE results must raise (and survive `python -O`), not
    assert."""
    from mit_mapreduce_spark.operators.banding import (
        banded_hamming_pairs2, explode_bands,
    )

    sigs = spark.createDataFrame([(1, 0, 0)],
                                 "asset_id long, sig0 long, sig1 long")
    with pytest.raises(ValueError):
        banded_hamming_pairs2(sigs, n_bands=8, band_bits=16, ham_max=8)
    with pytest.raises(ValueError):
        banded_match_scores(sigs, sigs, n_bands=8, band_bits=16,
                            ham_max=8)
    with pytest.raises(ValueError):
        explode_bands(sigs, n_bands=9, band_bits=16)  # > two words


def test_alert_body_is_modality_generic(spark, sf_dir):
    """The registered alert is the audio leg; the body is modality-
    generic (banded_match_scores doesn't know what a signature
    hashes). Pin that by running the IMAGE composition — stream-side
    phash per micro-batch against the static image index — and
    checking the drain equals the batch pair set, so an r12 image/
    video alert registration is a naming decision, not new code."""
    from mit_mapreduce_spark.catalog import load_table
    from mit_mapreduce_spark.operators.multimodal import (
        PH_BAND_BITS, PH_BANDS, PH_HAM_MAX,
    )
    from mit_mapreduce_spark.operators.streaming_queries import tune
    from mit_mapreduce_spark.streaming import docs_stream, run_stream_to_table

    tune(spark)
    inc_pred = inc_col("doc_id")
    idx_sigs = (
        _phash_image_assets_from(
            load_table(spark, sf_dir, "documents")
            .select("doc_id").where(~inc_pred))
        .mapInPandas(_phash_batch, _PHASH_SCHEMA)
        .localCheckpoint(eager=False)
    )
    inc_stream = (
        _phash_image_assets_from(docs_stream(spark, sf_dir).where(inc_pred))
        .mapInPandas(_phash_batch, _PHASH_SCHEMA)
    )
    alerts = banded_match_scores(
        inc_stream, idx_sigs, PH_BANDS, PH_BAND_BITS, PH_HAM_MAX
    ).dropDuplicates(["asset_id", "matched_id"])
    drained = {tuple(r) for r in
               run_stream_to_table(alerts, "append").collect()}

    inc_batch = (
        _phash_image_assets_from(
            load_table(spark, sf_dir, "documents")
            .select("doc_id").where(inc_pred))
        .mapInPandas(_phash_batch, _PHASH_SCHEMA)
    )
    batch = {tuple(r) for r in
             banded_match_scores(inc_batch, idx_sigs, PH_BANDS,
                                 PH_BAND_BITS, PH_HAM_MAX)
             .dropDuplicates(["asset_id", "matched_id"]).collect()}
    assert drained == batch and drained


# --- daily-ingest admission table ----------------------------------------------

def test_admission_covers_exactly_the_shard_and_admits_consistently(
        spark, sf_dir):
    """One row per incoming-shard doc; admit must be the AND of the
    five gate bits; every keep bit is exercised in both directions on
    the fixture."""
    from mit_mapreduce_spark.catalog import load_table

    rows = operators.QUERIES["pipeline_ingest_admission"](
        spark, sf_dir).collect()
    shard = {r.doc_id for r in load_table(spark, sf_dir, "documents")
             .select("doc_id").where(F.col("doc_id") % 40 < 6).collect()}
    assert {r.doc_id for r in rows} == shard and rows
    for r in rows:
        assert r.admit == (r.keep_text & r.keep_semantic
                           & r.keep_quality & r.keep_clean
                           & r.keep_image & r.keep_audio & r.keep_video)
    for bit in ("keep_text", "keep_semantic", "keep_quality",
                "keep_clean", "keep_image", "keep_audio", "keep_video"):
        vals = {getattr(r, bit) for r in rows}
        assert vals == {0, 1}, (bit, vals)


def test_admission_absent_modality_is_pass(spark, sf_dir):
    """A shard doc owning no audio (doc_id % 7 == 0) must pass the
    audio gate regardless of any screen — absence is keep-pass, by
    the explicit presence predicate."""
    rows = operators.QUERIES["pipeline_ingest_admission"](
        spark, sf_dir).where(F.col("doc_id") % 7 == 0).collect()
    assert rows
    for r in rows:
        assert r.keep_audio == 1


def test_admission_audio_gate_matches_component_legs(spark, sf_dir):
    """The audio gate must equal the independently-run presence-
    filtered incremental screen AND quality screen — the admission
    table composes, never re-derives."""
    from mit_mapreduce_spark.operators.banding import incremental_screen
    from mit_mapreduce_spark.operators.mmquality import _audio_screen_from

    owners = mmdedup._present_docs(spark, sf_dir, mmdedup.MM_AUDIO_ABSENT)
    sigs = (mmdedup._fingerprint_audio_assets_from(owners)
            .mapInPandas(mmdedup._afp_batch, _PHASH_SCHEMA)
            .localCheckpoint(eager=False))
    inc = inc_col("asset_id")
    nd = {r.asset_id: r.is_neardup for r in incremental_screen(
        owners.select(F.col("doc_id").alias("asset_id")).where(inc),
        sigs.where(inc), sigs.where(~inc), mmdedup.FP_BANDS,
        mmdedup.FP_BAND_BITS, mmdedup.FP_HAM_MAX).collect()}
    qp = {r.asset_id: r.passes for r in _audio_screen_from(
        owners.where(inc_col("doc_id"))).collect()}
    mod, rem = mmdedup.MM_AUDIO_ABSENT
    rows = operators.QUERIES["pipeline_ingest_admission"](
        spark, sf_dir).collect()
    for r in rows:
        if r.doc_id % mod == rem:
            assert r.keep_audio == 1
        else:
            assert r.keep_audio == int((not nd[r.doc_id])
                                       and qp[r.doc_id])


def test_admission_report_matches_table(spark, sf_dir):
    """The rollup's totals must re-add to the admission table's bits,
    and the oracle must agree."""
    agg = operators.QUERIES["pipeline_ingest_report"](
        spark, sf_dir).collect()
    tab = operators.QUERIES["pipeline_ingest_admission"](
        spark, sf_dir).collect()
    assert sum(r.n_docs for r in agg) == len(tab)
    assert sum(r.n_admitted for r in agg) == sum(r.admit for r in tab)
    assert sum(r.n_audio_pass for r in agg) == sum(
        r.keep_audio for r in tab)
    for r in agg:
        assert 0.0 <= r.admit_frac <= 1.0


def test_minhash_incremental_consistent_with_pair_op(spark, sf_dir):
    """The text near-dup screen must agree with the batch pair op
    restricted to shard-corpus pairs: an incoming doc is flagged iff
    dedup_minhash finds it an in-threshold cross-split pair, and the
    recorded match is the max-Jaccard (tie min id) such mate."""
    pairs = operators.QUERIES["dedup_minhash"](spark, sf_dir).collect()
    by_inc = {}
    for p in pairs:
        for inc, other in ((p.doc_a, p.doc_b), (p.doc_b, p.doc_a)):
            if inc % 10 == 0 and other % 10 != 0:
                by_inc.setdefault(inc, []).append((other, p.jaccard))
    # the fixture must actually produce cross-split near-dup pairs —
    # without this the is_neardup=True branch below is vacuous
    # (ADVICE r11)
    assert by_inc
    screen = {r.doc_id: r for r in operators.QUERIES[
        "dedup_minhash_incremental"](spark, sf_dir).collect()}
    assert set(k for k, v in screen.items() if v.is_neardup) \
        == set(by_inc)
    for inc, mates in by_inc.items():
        want = max(mates, key=lambda m: (m[1], -m[0]))
        assert (screen[inc].matched_id, screen[inc].jaccard) == want
