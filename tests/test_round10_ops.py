"""Round-10 operators: the audio energy-sign fingerprint and video
frame-sequence dHash near-dup tiers (sharing the image tier's banded
machinery), and the cross-modality keep manifest."""

from pyspark.sql import functions as F

from mit_mapreduce_spark import operators, plans
from mit_mapreduce_spark.testing import compare

operators.load_all()


def _collect_sigs(spark, assets_df, kernel, schema):
    m64 = (1 << 64) - 1
    rows = assets_df.mapInPandas(kernel, schema).collect()
    return {r.asset_id: (r.sig0 & m64) | ((r.sig1 & m64) << 64)
            for r in rows}


def _bruteforce_pairs(sig: dict, ham_max: int) -> set:
    ids = sorted(sig)
    out = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            ham = bin(sig[a] ^ sig[b]).count("1")
            if ham <= ham_max:
                out.add((a, b, ham))
    return out


# --- audio fingerprint tier --------------------------------------------------

def test_audio_fingerprint_vs_python_bruteforce(spark, sf_dir):
    """The banded join must equal a quadratic brute force over the
    same fingerprints — the banding-losslessness check the SQL oracle
    (which also bands) cannot provide by itself."""
    from mit_mapreduce_spark.operators.mmdedup import (
        FP_HAM_MAX, _afp_batch, fingerprint_audio_assets,
    )
    from mit_mapreduce_spark.operators.multimodal import _PHASH_SCHEMA

    sig = _collect_sigs(spark, fingerprint_audio_assets(spark, sf_dir),
                        _afp_batch, _PHASH_SCHEMA)
    assert sig
    expected = _bruteforce_pairs(sig, FP_HAM_MAX)
    got = {(r.asset_a, r.asset_b, r.hamming)
           for r in operators.QUERIES["dedup_audio_fingerprint"](
               spark, sf_dir).collect()}
    assert got == expected
    assert expected  # planted groups must actually produce pairs


def test_audio_fingerprint_planted_group_structure(spark, sf_dir):
    """Construction guarantees: variant v overwrites the first v
    energy windows, so an intra-group pair (a < b) differs in windows
    a..b-1 -> comparison bits a-1..b of band 0 -> Hamming <= 5 <=
    radius 7: every full group of 4 contributes all 6 pairs and no
    cross-group pair collides on the fixture corpus."""
    from mit_mapreduce_spark.operators.mmdedup import FP_GROUP

    rows = operators.QUERIES["dedup_audio_fingerprint"](
        spark, sf_dir).collect()
    assert rows
    n_docs = 0
    for r in rows:
        assert r.asset_a // FP_GROUP == r.asset_b // FP_GROUP, \
            f"cross-group pair {r.asset_a},{r.asset_b}"
        assert r.hamming <= 5
        n_docs = max(n_docs, r.asset_b + 1)
    full_groups = n_docs // FP_GROUP
    assert len(rows) >= full_groups * 6 - 6
    ok, msg = compare(
        operators.QUERIES["dedup_audio_fingerprint"](spark, sf_dir),
        operators.ORACLES["dedup_audio_fingerprint"], sf_dir)
    assert ok, msg


def test_audio_fingerprint_false_positive_control(spark, sf_dir):
    """Negative control on the REAL mixed-format audio corpus:
    audio_assets' PCM chains are independent per doc (and formats
    vary — 4 rates, 1-2 channels, 400-1000 frames), so fingerprints
    are 128-bit coins and NO pair may fall within the radius."""
    from mit_mapreduce_spark.operators.mmdedup import FP_HAM_MAX, _afp_batch
    from mit_mapreduce_spark.operators.multimodal import (
        _PHASH_SCHEMA, audio_assets,
    )

    sig = _collect_sigs(
        spark, audio_assets(spark, sf_dir).select("asset_id", "payload"),
        _afp_batch, _PHASH_SCHEMA)
    assert len(sig) >= 400  # NULL-text rows quarantine (dropped)
    assert not _bruteforce_pairs(sig, FP_HAM_MAX)


def test_audio_fingerprint_kernel_semantics():
    """Energy-sign bit semantics pinned on crafted PCM: monotonically
    rising window energies -> all bits 0 (left < right), falling ->
    all 128 bits set (sig0 = sig1 = -1), constant -> ties -> 0; and
    undecodable payloads are dropped, not erroring."""
    import struct

    import pandas as pd

    from mit_mapreduce_spark.functions.audiocodec import encode_wav
    from mit_mapreduce_spark.operators.mmdedup import (
        AF_WIN, AF_WINDOWS, _afp_batch,
    )

    def pcm_of(amp_per_window):
        samples = []
        for amp in amp_per_window:
            samples.extend([amp] * AF_WIN)
        return struct.pack(f"<{len(samples)}h", *samples)

    rising = pcm_of([17 * ((w % 17) + 1) for w in range(AF_WINDOWS)])
    falling = pcm_of([17 * (17 - w % 17) for w in range(AF_WINDOWS)])
    flat = pcm_of([100] * AF_WINDOWS)
    out = list(_afp_batch(iter([pd.DataFrame({
        "asset_id": [1, 2, 3],
        "payload": [encode_wav(16000, 1, rising),
                    encode_wav(16000, 1, falling),
                    encode_wav(16000, 1, flat)],
    })])))[0]
    by_id = {int(r.asset_id): (int(r.sig0), int(r.sig1))
             for _, r in out.iterrows()}
    assert by_id[1] == (0, 0)
    assert by_id[2] == (-1, -1)
    assert by_id[3] == (0, 0)
    out2 = list(_afp_batch(iter([pd.DataFrame({
        "asset_id": [9], "payload": [b"not audio"]})])))[0]
    assert len(out2) == 0
    # non-16-bit PCM quarantines too (the fingerprint is defined over
    # int16 samples; an 8-bit payload must drop, not crash or be
    # silently mis-read as int16)
    eight = encode_wav(16000, 1, bytes(range(101)), bits=8)
    out3 = list(_afp_batch(iter([pd.DataFrame({
        "asset_id": [10], "payload": [eight]})])))[0]
    assert len(out3) == 0


def test_audio_clusters_and_keep_report(spark, sf_dir):
    """CC recovers the planted groups (cluster_id = group min for
    full groups); both downstream ops match their oracles."""
    from mit_mapreduce_spark.operators.mmdedup import FP_GROUP

    df = operators.QUERIES["dedup_audio_clusters"](spark, sf_dir)
    rows = {r.asset_id: r.cluster_id for r in df.collect()}
    assert rows
    n = max(rows) + 1
    for aid, cid in rows.items():
        group_min = aid - aid % FP_GROUP
        if group_min + FP_GROUP <= n:
            assert cid == group_min, (aid, cid)
    ok, msg = compare(df, operators.ORACLES["dedup_audio_clusters"],
                      sf_dir)
    assert ok, msg
    ok, msg = compare(
        operators.QUERIES["dedup_audio_keep_report"](spark, sf_dir),
        operators.ORACLES["dedup_audio_keep_report"], sf_dir)
    assert ok, msg


# --- video frame-sequence tier ------------------------------------------------

def test_video_phash_vs_python_bruteforce(spark, sf_dir):
    from mit_mapreduce_spark.operators.mmdedup import (
        FP_HAM_MAX, _vfp_batch, fingerprint_video_assets,
    )
    from mit_mapreduce_spark.operators.multimodal import _PHASH_SCHEMA

    sig = _collect_sigs(spark, fingerprint_video_assets(spark, sf_dir),
                        _vfp_batch, _PHASH_SCHEMA)
    assert sig
    expected = _bruteforce_pairs(sig, FP_HAM_MAX)
    got = {(r.asset_a, r.asset_b, r.hamming)
           for r in operators.QUERIES["dedup_video_phash"](
               spark, sf_dir).collect()}
    assert got == expected
    assert expected


def test_video_phash_planted_group_structure(spark, sf_dir):
    """Variant v overwrites the first v Y pixels of frame 0 -> an
    intra-group pair differs in <= 3 pixels -> <= 4 dHash bits, all
    in band 0; every full group contributes all 6 pairs and no
    cross-group pair collides on the fixture corpus."""
    from mit_mapreduce_spark.operators.mmdedup import FP_GROUP

    rows = operators.QUERIES["dedup_video_phash"](spark, sf_dir).collect()
    assert rows
    n_docs = 0
    for r in rows:
        assert r.asset_a // FP_GROUP == r.asset_b // FP_GROUP, \
            f"cross-group pair {r.asset_a},{r.asset_b}"
        assert r.hamming <= 4
        n_docs = max(n_docs, r.asset_b + 1)
    full_groups = n_docs // FP_GROUP
    assert len(rows) >= full_groups * 6 - 6
    ok, msg = compare(
        operators.QUERIES["dedup_video_phash"](spark, sf_dir),
        operators.ORACLES["dedup_video_phash"], sf_dir)
    assert ok, msg


def test_video_phash_false_positive_control(spark, sf_dir):
    """Negative control on the REAL video corpus (dims 8-16 x 6-8,
    3-6 frames — also exercises the kernel's nearest-neighbor frame
    and column sampling on non-fixture geometry): chains are
    independent per doc, so no pair may fall within the radius."""
    from mit_mapreduce_spark.operators.mmdedup import FP_HAM_MAX, _vfp_batch
    from mit_mapreduce_spark.operators.multimodal import (
        _PHASH_SCHEMA, video_assets,
    )

    sig = _collect_sigs(
        spark, video_assets(spark, sf_dir).select("asset_id", "payload"),
        _vfp_batch, _PHASH_SCHEMA)
    assert len(sig) >= 400
    assert not _bruteforce_pairs(sig, FP_HAM_MAX)


def test_video_clusters_and_keep_report(spark, sf_dir):
    from mit_mapreduce_spark.operators.mmdedup import FP_GROUP

    df = operators.QUERIES["dedup_video_clusters"](spark, sf_dir)
    rows = {r.asset_id: r.cluster_id for r in df.collect()}
    assert rows
    n = max(rows) + 1
    for aid, cid in rows.items():
        group_min = aid - aid % FP_GROUP
        if group_min + FP_GROUP <= n:
            assert cid == group_min, (aid, cid)
    ok, msg = compare(df, operators.ORACLES["dedup_video_clusters"],
                      sf_dir)
    assert ok, msg
    ok, msg = compare(
        operators.QUERIES["dedup_video_keep_report"](spark, sf_dir),
        operators.ORACLES["dedup_video_keep_report"], sf_dir)
    assert ok, msg


# --- plan discipline ----------------------------------------------------------

def test_mmdedup_plans_no_cartesian(spark, sf_dir):
    """Candidate generation must be the banded equi-join, never an
    all-pairs product, for both new pair ops."""
    for name in ("dedup_audio_fingerprint", "dedup_video_phash"):
        plan = plans.formatted_plan(operators.QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, (name, plan)


def test_mmdedup_shuffle_budgets(spark, sf_dir):
    """Post-checkpoint exchange budgets: the banded candidate
    equi-self-join only (the decode+fingerprint stage is lineage-
    truncated; only the 16-byte signature per asset reaches it) —
    the same budget as dedup_image_phash."""
    for name in ("dedup_audio_fingerprint", "dedup_video_phash"):
        df = operators.QUERIES[name](spark, sf_dir)
        n = plans.shuffle_count(df)
        assert n <= 2, f"{name}: {n} exchanges"


# --- cross-modality keep manifest ---------------------------------------------

def test_multimodal_manifest_semantics(spark, sf_dir):
    """ready must be the AND of the five pillar bits, and each pillar
    bit must agree with the pillar legs it composes (spot-checked
    against the independently-run SPARSE image cluster leg AND the
    sparse image quality leg — since r11 the manifest's media legs
    cover only the docs that OWN an asset of the modality, absence
    is keep-pass, and an owned asset must be BOTH its cluster's
    canonical member and a quality-screen pass)."""
    from mit_mapreduce_spark.catalog import load_table
    from mit_mapreduce_spark.operators.mmdedup import (
        MM_IMAGE_ABSENT, _sparse_clusters,
    )
    from mit_mapreduce_spark.operators.mmquality import _image_screen_from
    from mit_mapreduce_spark.operators.multimodal import (
        _phash_batch, _phash_image_assets_from,
    )

    m = {r.doc_id: r for r in operators.QUERIES[
        "pipeline_multimodal_manifest"](spark, sf_dir).collect()}
    assert m
    for r in m.values():
        assert r.ready == (r.keep_text & r.keep_quality & r.keep_image
                           & r.keep_audio & r.keep_video)
    img = {r.asset_id: r.cluster_id for r in _sparse_clusters(
        spark, sf_dir, _phash_image_assets_from, _phash_batch,
        MM_IMAGE_ABSENT).collect()}
    mod, rem = MM_IMAGE_ABSENT
    present = load_table(spark, sf_dir, "documents") \
        .select("doc_id").where(F.col("doc_id") % mod != rem)
    iq = {r.asset_id: r.passes
          for r in _image_screen_from(present).collect()}
    for doc_id, r in m.items():
        if doc_id % mod == rem:
            assert doc_id not in img          # no image asset, no row
            assert r.keep_image == 1          # absence is keep-pass
        else:
            assert r.keep_image == int(img[doc_id] == doc_id
                                       and iq[doc_id])
    ok, msg = compare(
        operators.QUERIES["pipeline_multimodal_manifest"](spark, sf_dir),
        operators.ORACLES["pipeline_multimodal_manifest"], sf_dir)
    assert ok, msg


def test_multimodal_ready_accounting(spark, sf_dir):
    """The rollup's totals must re-add to the manifest's bits, and
    the oracle must agree."""
    agg = operators.QUERIES["pipeline_multimodal_ready"](
        spark, sf_dir).collect()
    man = operators.QUERIES["pipeline_multimodal_manifest"](
        spark, sf_dir).collect()
    assert sum(r.n_docs for r in agg) == len(man)
    assert sum(r.n_ready for r in agg) == sum(r.ready for r in man)
    assert sum(r.n_audio_kept for r in agg) == sum(
        r.keep_audio for r in man)
    for r in agg:
        assert 0.0 <= r.ready_frac <= 1.0
    ok, msg = compare(
        operators.QUERIES["pipeline_multimodal_ready"](spark, sf_dir),
        operators.ORACLES["pipeline_multimodal_ready"], sf_dir)
    assert ok, msg


def test_multimodal_manifest_plan_no_cartesian(spark, sf_dir):
    plan = plans.formatted_plan(
        operators.QUERIES["pipeline_multimodal_ready"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan


# --- fingerprint search (all three modalities) --------------------------------

import pytest


@pytest.mark.parametrize("opname", ["audio_fingerprint_search",
                                    "image_phash_search",
                                    "video_phash_search"])
def test_fingerprint_search_recall(spark, sf_dir, opname):
    """On the planted fixtures every query asset's 3 group-mates sit
    at low Hamming while random assets sit far away, so the top-3
    must be exactly the group-mates (full groups); the oracle must
    agree and the plan must stay equi-join-only. One shared Spark
    body (fingerprint_search_topk) serves all three modalities."""
    from mit_mapreduce_spark.operators.mmdedup import FPS_K, FPS_MOD, FP_GROUP

    rows = operators.QUERIES[opname](spark, sf_dir).collect()
    assert rows
    by_q = {}
    for r in rows:
        assert r.qid % FPS_MOD == 0
        by_q.setdefault(r.qid, []).append(r)
    n_docs = max(max(r.cid for r in rows), max(by_q)) + 1
    for qid, hits in by_q.items():
        group = {qid - qid % FP_GROUP + k for k in range(FP_GROUP)}
        if max(group) < n_docs:  # full group
            assert len(hits) == FPS_K
            assert {h.cid for h in hits} == group - {qid}
            assert [h.rnk for h in sorted(hits, key=lambda h: h.rnk)] \
                == list(range(1, FPS_K + 1))
    ok, msg = compare(
        operators.QUERIES[opname](spark, sf_dir),
        operators.ORACLES[opname], sf_dir)
    assert ok, msg
    plan = plans.formatted_plan(
        operators.QUERIES[opname](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan


def test_multimodal_manifest_shuffle_budget(spark, sf_dir):
    """Exchange budget for the composition (VERDICT r9 ask #5): the
    manifest is ten doc_id-keyed joins over checkpoint-truncated
    pillar outputs plus the quality-stage aggregations — 11 exchanges
    post-checkpoint measured at the r10 pin, +2 when the three media
    quality legs folded in late in r11 (each screen is a pure map
    whose only exchange is its fan_out; the joins ride the existing
    doc_id partitioning); the rollup adds exactly one more. A budget
    breach means a pillar started re-shuffling inside the
    composition."""
    budgets = {"pipeline_multimodal_manifest": 14,
               "pipeline_multimodal_ready": 15,
               "audio_fingerprint_search": 2,
               "dedup_audio_clusters": 2,
               "dedup_video_clusters": 2}
    for name, budget in budgets.items():
        df = operators.QUERIES[name](spark, sf_dir)
        n = plans.shuffle_count(df)
        assert n <= budget, f"{name}: {n} exchanges (budget {budget})"


def test_stream_audio_fingerprints_equals_batch(spark, sf_dir):
    """The streaming fingerprint-at-ingest drain must equal the batch
    signature table row-for-row (every stage stateless, append mode:
    one output row per input exactly once), and match its
    packing-verification oracle."""
    from mit_mapreduce_spark.operators.mmdedup import (
        _afp_batch, _fingerprint_audio_assets_from,
    )
    from mit_mapreduce_spark.operators.multimodal import _PHASH_SCHEMA
    from mit_mapreduce_spark.catalog import load_table

    got = {(r.asset_id, r.sig0, r.sig1) for r in operators.QUERIES[
        "stream_audio_fingerprints"](spark, sf_dir).collect()}
    want = {(r.asset_id, r.sig0, r.sig1) for r in
            _fingerprint_audio_assets_from(
                load_table(spark, sf_dir, "documents"))
            .mapInPandas(_afp_batch, _PHASH_SCHEMA).collect()}
    assert got == want
    ok, msg = compare(
        operators.QUERIES["stream_audio_fingerprints"](spark, sf_dir),
        operators.ORACLES["stream_audio_fingerprints"], sf_dir)
    assert ok, msg


def test_banded_join_degenerate_bucket(spark):
    """Pathological-corpus correctness for the shared banded join: a
    corpus where EVERY asset has the same signature degenerates to
    one bucket per band — the join must still return exactly C(n,2)
    pairs at Hamming 0 (the skew case SCALE.md hands to AQE), and a
    corpus of all-distinct random signatures must return none."""
    from mit_mapreduce_spark.operators.banding import banded_hamming_pairs2
    from mit_mapreduce_spark.operators.mmdedup import (
        FP_BANDS, FP_BAND_BITS, FP_HAM_MAX,
    )

    n = 200
    same = spark.createDataFrame(
        [(i, 0x0123456789ABCDEF - (1 << 63), 77) for i in range(n)],
        "asset_id long, sig0 long, sig1 long")
    got = banded_hamming_pairs2(same, FP_BANDS, FP_BAND_BITS,
                                FP_HAM_MAX).collect()
    assert len(got) == n * (n - 1) // 2
    assert all(r.hamming == 0 for r in got)
    import random
    rng = random.Random(7)
    def sig():
        v = rng.getrandbits(64)
        return v - (1 << 64) if v >= 1 << 63 else v
    distinct = spark.createDataFrame(
        [(i, sig(), sig()) for i in range(n)],
        "asset_id long, sig0 long, sig1 long")
    assert not banded_hamming_pairs2(distinct, FP_BANDS, FP_BAND_BITS,
                                     FP_HAM_MAX).take(1)


def test_stream_image_video_fingerprints_equal_batch(spark, sf_dir):
    """The image/video streaming signature drains must equal their
    batch signature tables row-for-row and match the packing-gated
    oracles (same argument as the audio leg)."""
    from mit_mapreduce_spark.catalog import load_table
    from mit_mapreduce_spark.operators.mmdedup import (
        _fingerprint_video_assets_from, _vfp_batch,
    )
    from mit_mapreduce_spark.operators.multimodal import (
        _PHASH_SCHEMA, _phash_batch, _phash_image_assets_from,
    )

    docs = load_table(spark, sf_dir, "documents")
    for opname, build, kernel in (
            ("stream_image_fingerprints", _phash_image_assets_from,
             _phash_batch),
            ("stream_video_fingerprints", _fingerprint_video_assets_from,
             _vfp_batch)):
        got = {(r.asset_id, r.sig0, r.sig1) for r in
               operators.QUERIES[opname](spark, sf_dir).collect()}
        want = {(r.asset_id, r.sig0, r.sig1) for r in
                build(docs).mapInPandas(kernel, _PHASH_SCHEMA).collect()}
        assert got == want, opname
        ok, msg = compare(operators.QUERIES[opname](spark, sf_dir),
                          operators.ORACLES[opname], sf_dir)
        assert ok, (opname, msg)
