"""Round-11 media QUALITY screens: kernel differentials against
pure-Python brute force on crafted payloads, verdict boundary pins,
quarantine contracts, planted-class semantics on the live fixture,
and report/screen consistency."""

import struct

import pandas as pd
import pytest

from pyspark.sql import functions as F

from mit_mapreduce_spark import operators

operators.load_all()

from mit_mapreduce_spark.functions.audiocodec import encode_wav  # noqa: E402
from mit_mapreduce_spark.functions.imagecodec import encode_ppm  # noqa: E402
from mit_mapreduce_spark.functions.videocodec import encode_y4m  # noqa: E402
from mit_mapreduce_spark.operators import mmquality  # noqa: E402
from mit_mapreduce_spark.operators.mmquality import (  # noqa: E402
    _aq_stats_batch, _iq_stats_batch, _vq_stats_batch,
    AQ_CLIP_T, AQ_SIL_T,
)


def _drain(kernel, rows):
    out = list(kernel(iter([pd.DataFrame(rows)])))
    return pd.concat(out).set_index("asset_id") if out else pd.DataFrame()


# --- kernel differentials on crafted payloads ---------------------------------

def test_audio_stats_kernel_brute_force():
    """The Arrow kernel's four stats equal a struct-unpack brute force
    over crafted PCM covering zero, rail, near-rail, and sign-mixed
    samples."""
    samples = [0, 1, -1, AQ_SIL_T, -AQ_SIL_T, AQ_SIL_T + 1,
               AQ_CLIP_T - 1, AQ_CLIP_T, -AQ_CLIP_T, 32767, -32768,
               12345, -20000]
    pcm = b"".join(struct.pack("<h", s) for s in samples)
    payload = encode_wav(16000, 1, pcm)
    got = _drain(_aq_stats_batch,
                 {"asset_id": [7], "payload": [payload]}).loc[7]
    assert got["n_samples"] == len(samples)
    assert got["silence_count"] == sum(abs(s) <= AQ_SIL_T for s in samples)
    assert got["clip_count"] == sum(abs(s) >= AQ_CLIP_T for s in samples)
    assert got["dc_sum"] == sum(samples)


def test_video_stats_kernel_brute_force():
    """Frame stats equal a brute force over a crafted stream mixing a
    black frame, a frozen pair, and distinct noise frames."""
    w, h = 4, 2
    fsz = 3 * w * h
    black = bytes(fsz)
    noise = bytes(range(fsz))
    other = bytes(reversed(range(fsz)))
    frames = [black, noise, noise, other]
    payload = encode_y4m(w, h, frames)
    got = _drain(_vq_stats_batch,
                 {"asset_id": [3], "payload": [payload]}).loc[3]
    assert got["n_frames"] == 4
    assert got["n_black"] == 1
    assert got["n_frozen_pairs"] == 1           # the noise/noise pair
    assert got["y_total"] == sum(sum(f[:w * h]) for f in frames)


def test_image_stats_kernel_brute_force():
    """Byte stats equal a brute force over crafted RGB pixels."""
    w, h = 3, 2
    rgb = bytes([0, 255, 128, 7, 9, 200, 14, 15, 16,
                 1, 2, 3, 250, 251, 252, 100, 99, 98])
    payload = encode_ppm(w, h, rgb)
    got = _drain(_iq_stats_batch,
                 {"asset_id": [9], "payload": [payload]}).loc[9]
    assert got["n_bytes"] == len(rgb)
    assert got["min_byte"] == min(rgb)
    assert got["max_byte"] == max(rgb)
    assert got["sum_bytes"] == sum(rgb)


def test_quality_kernels_quarantine_undecodable():
    """Garbage payloads are dropped, never mis-scored — the
    fingerprint tiers' quarantine contract."""
    junk = {"asset_id": [1, 2], "payload": [b"not a container",
                                            b"\x00" * 11]}
    assert _drain(_aq_stats_batch, junk).empty
    assert _drain(_vq_stats_batch, junk).empty
    assert _drain(_iq_stats_batch, junk).empty
    # 8-bit WAV: parseable but not the fingerprint/screen contract
    payload8 = encode_wav(8000, 1, b"\x01\x02\x03\x04", bits=8)
    got = _drain(_aq_stats_batch, {"asset_id": [5], "payload": [payload8]})
    assert got.empty


# --- verdict boundary pins -----------------------------------------------------

def test_audio_silent_verdict_half_boundary(spark):
    """is_silent uses >= half: exactly half near-zero samples IS
    silent, one fewer is not."""
    rows = [(1, 10, 5, 0, 0), (2, 10, 4, 0, 0)]
    df = spark.createDataFrame(
        rows, "asset_id long, n_samples long, silence_count long,"
              " clip_count long, dc_sum long")
    got = {r.asset_id: r.s for r in df.select(
        "asset_id", F.expr(mmquality.AQ_SILENT).alias("s")).collect()}
    assert got == {1: True, 2: False}


def test_audio_clip_and_dc_boundaries(spark):
    """is_clipped at exactly 1%; is_dc_biased at exactly 10% of full
    scale (n * 32768 = |dc| * 10)."""
    rows = [(1, 100, 0, 1, 0), (2, 101, 0, 1, 0),
            (3, 10, 0, 0, 32768), (4, 10, 0, 0, -32768),
            (5, 10, 0, 0, 32767)]
    df = spark.createDataFrame(
        rows, "asset_id long, n_samples long, silence_count long,"
              " clip_count long, dc_sum long")
    got = {r.asset_id: (r.c, r.d) for r in df.select(
        "asset_id", F.expr(mmquality.AQ_CLIPPED).alias("c"),
        F.expr(mmquality.AQ_DC).alias("d")).collect()}
    assert got[1] == (True, False)
    assert got[2] == (False, False)
    assert got[3][1] is True and got[4][1] is True
    assert got[5][1] is False


def test_video_black_and_static_boundaries(spark):
    """is_black at >= half; is_static only when EVERY adjacent pair
    froze, and never for a 1-frame stream."""
    rows = [(1, 4, 2, 0, 9), (2, 5, 2, 0, 9),
            (3, 4, 0, 3, 9), (4, 4, 0, 2, 9), (5, 1, 0, 0, 9)]
    df = spark.createDataFrame(
        rows, "asset_id long, n_frames long, n_black long,"
              " n_frozen_pairs long, y_total long")
    got = {r.asset_id: (r.b, r.s) for r in df.select(
        "asset_id", F.expr(mmquality.VQ_BLACK).alias("b"),
        F.expr(mmquality.VQ_STATIC).alias("s")).collect()}
    assert got[1] == (True, False)
    assert got[2] == (False, False)
    assert got[3] == (False, True)
    assert got[4] == (False, False)
    assert got[5][1] is False


# --- planted-class semantics on the live fixture --------------------------------

def test_audio_screen_planted_classes(spark, sf_dir):
    """Class 0/3 silent, 1 clipped (and DC), 2 DC-only; chain classes
    pass (any rare chance crossing would be a hash-gate matter, so
    assert on the dominant pattern per class, not every row)."""
    df = operators.QUERIES["quality_audio_screen"](spark, sf_dir)
    per = {int(r.cls): r for r in df.groupBy(
        (F.col("asset_id") % mmquality.AQ_CLS).alias("cls")).agg(
        F.count("*").alias("n"),
        F.sum(F.col("is_silent").cast("long")).alias("sil"),
        F.sum(F.col("is_clipped").cast("long")).alias("clip"),
        F.sum(F.col("is_dc_biased").cast("long")).alias("dc"),
        F.sum(F.col("passes").cast("long")).alias("p")).collect()}
    assert per[0].sil == per[0].n and per[0].p == 0
    assert per[1].clip == per[1].n and per[1].dc == per[1].n
    assert per[2].dc == per[2].n and per[2].clip == 0
    assert per[3].sil == per[3].n       # >=-half boundary, met exactly+
    for c in (4, 5, 6, 7):
        assert per[c].p >= per[c].n - 1   # chain noise passes (rare
        #                                   deterministic crossings OK)


def test_video_screen_half_black_crosses_boundary(spark, sf_dir):
    """The half-black class is black iff nf is even (nf = 4,5,6 by
    doc_id % 3): the >=-half boundary is exercised in BOTH
    directions inside one fixture."""
    df = operators.QUERIES["quality_video_screen"](spark, sf_dir) \
        .where(F.col("asset_id") % mmquality.VQ_CLS == 2)
    rows = df.collect()
    assert rows
    for r in rows:
        assert r.is_black == (r.n_frames % 2 == 0)
        assert not r.is_static


def test_image_screen_planted_classes(spark, sf_dir):
    df = operators.QUERIES["quality_image_screen"](spark, sf_dir)
    per = {int(r.cls): r for r in df.groupBy(
        (F.col("asset_id") % mmquality.IQ_CLS).alias("cls")).agg(
        F.count("*").alias("n"),
        F.sum(F.col("is_flat").cast("long")).alias("flat"),
        F.sum(F.col("is_dark").cast("long")).alias("dark"),
        F.sum(F.col("passes").cast("long")).alias("p")).collect()}
    assert per[0].flat == per[0].n and per[0].dark == 0
    assert per[1].flat == per[1].n and per[1].dark == per[1].n
    assert per[2].flat == per[2].n      # 1-step contrast <= 8
    for c in (3, 4, 5, 6, 7):
        assert per[c].p == per[c].n     # 384 chain bytes: range > 8
        #                                 and mean >= 16 always in practice


# --- report consistency ---------------------------------------------------------

def test_media_report_matches_screens(spark, sf_dir):
    rep = {r.modality: r for r in operators.QUERIES[
        "quality_media_report"](spark, sf_dir).collect()}
    assert set(rep) == {"audio", "image", "video"}
    for modality, qname in (("audio", "quality_audio_screen"),
                            ("image", "quality_image_screen"),
                            ("video", "quality_video_screen")):
        df = operators.QUERIES[qname](spark, sf_dir)
        n = df.count()
        n_pass = df.where("passes").count()
        assert rep[modality].n_assets == n
        assert rep[modality].n_pass == n_pass
        assert rep[modality].n_fail == n - n_pass
        assert rep[modality].pass_frac == pytest.approx(n_pass / n)


# --- streaming quality-at-ingest -------------------------------------------------

def test_stream_audio_quality_equals_batch_screen(spark, sf_dir):
    """Batch parity: the append-mode drain of the streaming quality
    leg equals the batch screen row-for-row (stateless stages, one
    verdict row per asset)."""
    key = lambda r: (r.asset_id, r.n_samples, r.silence_count,  # noqa: E731
                     r.clip_count, r.dc_sum, r.is_silent,
                     r.is_clipped, r.is_dc_biased, r.passes)
    drained = {key(r) for r in operators.QUERIES[
        "stream_audio_quality"](spark, sf_dir).collect()}
    batch = {key(r) for r in operators.QUERIES[
        "quality_audio_screen"](spark, sf_dir).collect()}
    assert drained == batch and drained


def test_stream_quality_modality_generic_video_leg(spark, sf_dir):
    """The registered ingest leg covers audio; the body is
    modality-agnostic (asset build -> Arrow stats kernel -> shared
    verdict expressions), proved by draining the VIDEO composition
    and matching the batch video screen exactly — an image or video
    registration is a naming decision, not new code."""
    from mit_mapreduce_spark.operators.mmquality import _video_screen_from
    from mit_mapreduce_spark.operators.streaming_queries import tune
    from mit_mapreduce_spark.streaming import docs_stream, run_stream_to_table

    tune(spark)
    drained = {(r.asset_id, r.n_frames, r.n_black, r.n_frozen_pairs,
                r.y_total, r.is_black, r.is_static, r.passes)
               for r in run_stream_to_table(
                   _video_screen_from(docs_stream(spark, sf_dir)),
                   "append").collect()}
    batch = {(r.asset_id, r.n_frames, r.n_black, r.n_frozen_pairs,
              r.y_total, r.is_black, r.is_static, r.passes)
             for r in operators.QUERIES["quality_video_screen"](
                 spark, sf_dir).collect()}
    assert drained == batch and drained
