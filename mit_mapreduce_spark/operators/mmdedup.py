"""Media near-dup dedup: one table of modalities, every family built once.

The text tier has MinHash/SimHash; the media tiers are the three rows
of the ``Media`` table below. A row holds only a modality's plugin
parts — the image dHash plugins live in multimodal.py — and this
module adds the audio and video ones:

- AUDIO: a per-asset energy-sign fingerprint over real decoded PCM —
  the time-windowed analogue of the Haitsma–Kalker "sign of energy
  differences" acoustic fingerprint (Haitsma & Kalker, "A Highly
  Robust Audio Fingerprinting System", ISMIR 2002): the channel-0
  sample stream is cut into 136 windows (8 bands x 17), each
  window's integer energy Σs² computed, and bit c of band r set when
  E[17r+c] > E[17r+c+1] — 128 comparison bits packed into two
  int64s, exactly the image tier's signature layout. (The published
  scheme differences FFT sub-band energies; the time-domain variant
  keeps every value an exact int64 so the DuckDB oracle can
  recompute the full chain in SQL, which frequency bins cannot.)
- VIDEO: a per-frame dHash sequence signature over real decoded Y4M
  frames — 8 frames sampled nearest-neighbor across the stream, each
  contributing one 16-bit band: the dHash bits of a 17-point
  block-sum profile of the frame's Y (luma) plane. Two
  near-dup videos that differ in a few frames still agree on the
  untouched frames' bands, so the banded join surfaces them.

The pair, cluster, keep-report, search and incremental-screen
families, the streaming fingerprint and alert legs
(streaming_queries.py), the manifest and the admission are each built
once over the rows, on the shared machinery of operators/banding.py:
banded_hamming_pairs2 (16-bit-band equi-join, pigeonhole-lossless at
radius 7, Hamming as two popcounts over packed words),
label_with_singletons (min-label CC + singleton fill),
fingerprint_search_topk, keep_report_frame, and the oracle text
builders.

Like the image tier, near-dup structure must be PLANTED: hashing
text destroys similarity, so the fixtures build variant groups of 4
assets sharing one sha256 payload chain seeded by the group id, with
variant v overwriting a tiny prefix (v windows of samples / v luma
pixels of frame 0) — perturbations whose Hamming effect is bounded
by construction, all inside band 0, while cross-group signatures are
independent 128-bit coins. The DuckDB oracles rebuild the payload
bytes from the chain and recompute windowing/energies/luma rows,
bit packing, banding, candidates, and Hamming entirely in SQL — the
same chain-reconstruction discipline as the image tier (reference
parity note: the reference repo, mr/*.go, has no media operators —
this is north-star surface for a 100 TB multimodal pipeline).

100 TB posture (all three tiers): one decode+fingerprint
Arrow pass per corpus — payload bytes never shuffle, only a 16-byte
signature per asset reaches the join; candidates come from
equi-joins on 16-bit band values (~n²/65536 random collisions per
band); the CC loop runs over the pair graph's vertex set only.
"""

from __future__ import annotations

import operator
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from functools import partial, reduce, update_wrapper

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mit_mapreduce_spark.catalog import fan_out, load_table
from mit_mapreduce_spark.operators import mmquality, multimodal
from mit_mapreduce_spark.operators.banding import (
    INC_PRED, banded_hamming_pairs2, fingerprint_search_topk, inc_col,
    incremental_screen, keep_report_frame, label_with_singletons,
    planted_base, planted_chain_expr, sql_band_tail, sql_byte_at,
    sql_cc_over, sql_incremental_tail, sql_keep_report_over,
    sql_planted_hex, sql_search_tail,
)
from mit_mapreduce_spark.operators.multimodal import (
    _AUDIO_SCHEMA, _VIDEO_SCHEMA, _encode_audio_batch, _encode_video_batch,
    PH_BAND_BITS, PH_BANDS, PH_GROUP, PH_HAM_MAX, _PHASH_SCHEMA,
)
from mit_mapreduce_spark.operators.registry import query
from mit_mapreduce_spark.session import materialize, parallel_legs

# --- fingerprint geometry: ONE set for all three tiers ----------------------
# Aliases of the image tier's PH_* constants, free to diverge; every
# media builder below reads these.
FP_BANDS = PH_BANDS                 # 8 bands...
FP_BAND_BITS = PH_BAND_BITS         # ...of 16 bits = 128-bit signatures
FP_HAM_MAX = PH_HAM_MAX             # radius 7: pigeonhole-lossless
FP_GROUP = PH_GROUP                 # planted variant groups of 4

# --- AUDIO fingerprint tier ------------------------------------------------

AF_WIN = 4                            # PCM samples per energy window
AF_WINDOWS = FP_BANDS * (FP_BAND_BITS + 1)   # 136 windows = 8 x 17
AF_RATE = 16000                       # fixture format: mono 16 kHz
_AF_NEED = AF_WINDOWS * AF_WIN * 2    # 1088 PCM bytes per asset
_AF_UNIT = AF_WIN * 2                 # one window = 8 bytes
# variant overwrite windows: full-scale positive (max energy), zeros
# (min energy), full-scale again — little-endian int16 hex
_AF_W1 = "ff7f" * AF_WIN
_AF_W0 = "0000" * AF_WIN
_AF_PREFIXES = ("", _AF_W1, _AF_W1 + _AF_W0, _AF_W1 + _AF_W0 + _AF_W1)


def fingerprint_audio_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate AUDIO fixture: mono 16 kHz WAVs of 544 samples
    in planted variant groups of 4 sharing one sha256 PCM chain
    (seeded by the group id); variant v overwrites its first v
    4-sample windows with fixed extreme patterns (full-scale /
    silence / full-scale). A changed window w perturbs only energy
    comparisons (w-1, w) and (w, w+1) — all in band 0 — so
    intra-group pairs sit within Hamming (v_b - v_a) + 2 <= 5 by
    construction while cross-group fingerprints are independent
    128-bit coins. PCM built with JVM expressions, RIFF-wrapped in
    the SAME Arrow encode kernel as audio_assets — the fingerprint
    kernel exercises the honest stdlib WAV decode path."""
    return _fingerprint_audio_assets_from(
        load_table(spark, sf_dir, "documents"))


def _fingerprint_audio_assets_from(docs: DataFrame) -> DataFrame:
    """fingerprint_audio_assets body over an arbitrary documents
    frame — every stage is stateless, so the same pipeline serves the
    batch fixture and the streaming ingest leg
    (stream_audio_fingerprints)."""
    docs = docs.select("doc_id")
    raw = (
        planted_base(docs, _AF_PREFIXES, FP_GROUP)
        .withColumn("_rate", F.lit(AF_RATE).cast("int"))
        .withColumn("_ch", F.lit(1).cast("int"))
        .withColumn("lang", F.lit(""))
        .select(F.col("doc_id").alias("asset_id"), "_rate", "_ch", "lang",
                planted_chain_expr("afp", _AF_NEED, _AF_UNIT).alias("pcm"))
    )
    return (
        fan_out(raw).mapInPandas(_encode_audio_batch, _AUDIO_SCHEMA)
        .select("asset_id", "payload")
    )


def _afp_batch(
        batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched audio-fingerprint kernel: REAL stdlib WAV decode,
    then 136 nearest-neighbor windows over the channel-0 int16
    sample stream, integer energy Σs² per window, and the 128
    energy-comparison sign bits packed into (sig0, sig1) exactly
    like the image kernel (bit c of band r set when E[17r+c] >
    E[17r+c+1]). Streams shorter than 136 samples zero-pad (silence
    windows tie to 0 bits); undecodable payloads are dropped — the
    quarantine AUDIT is multimodal_quarantine_report's job."""
    import numpy as np

    from mit_mapreduce_spark.functions.audiocodec import decode_wav

    weights = 1 << np.arange(FP_BAND_BITS, dtype=np.uint64)
    per_word = 64 // FP_BAND_BITS
    for pdf in batches:
        out = {"asset_id": [], "sig0": [], "sig1": []}
        for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
            dec = decode_wav(bytes(payload))
            if dec is None:
                continue
            _, channels, bits_, pcm = dec
            # the fingerprint is defined over 16-bit PCM; other bit
            # depths quarantine like undecodable payloads (an odd-size
            # 8-bit data chunk would otherwise kill the task in
            # frombuffer, and an even one would be silently
            # mis-fingerprinted as int16)
            if bits_ != 16 or len(pcm) % 2:
                continue
            a = np.frombuffer(pcm, "<i2").astype(np.int64)
            ch0 = a[::channels] if channels else a
            if len(ch0) < AF_WINDOWS:
                ch0 = np.pad(ch0, (0, AF_WINDOWS - len(ch0)))
            n = len(ch0)
            bounds = (np.arange(AF_WINDOWS) * n) // AF_WINDOWS
            e = np.add.reduceat(ch0 * ch0, bounds).reshape(
                FP_BANDS, FP_BAND_BITS + 1)
            bits = e[:, :-1] > e[:, 1:]
            sig = [0, 0]
            for r in range(FP_BANDS):
                word, slot = divmod(r, per_word)
                sig[word] |= (int((bits[r] * weights).sum())
                              << (FP_BAND_BITS * slot))
            for w_ in (0, 1):
                if sig[w_] >= 1 << 63:
                    sig[w_] -= 1 << 64
            out["asset_id"].append(asset_id)
            out["sig0"].append(sig[0])
            out["sig1"].append(sig[1])
        yield pd.DataFrame({
            "asset_id": out["asset_id"],
            "sig0": pd.Series(out["sig0"], dtype="int64"),
            "sig1": pd.Series(out["sig1"], dtype="int64")})


def _sql_audio_bits(where: str | None = None) -> str:
    """DuckDB CTE chain through `bits` (doc_id, band, bv) for the
    audio fingerprint — shared by the pair oracle and the search
    oracle."""
    lo = sql_byte_at("2*s")
    hi = sql_byte_at("2*s + 1")
    return f"""{sql_planted_hex("afp", _AF_NEED, _AF_UNIT, _AF_PREFIXES,
                                FP_GROUP, where)},
    vals AS (
      SELECT doc_id, u.s AS s,
             CASE WHEN u.vv >= 32768 THEN u.vv - 65536 ELSE u.vv END
               AS sample
      FROM hx, UNNEST(list_transform(
             generate_series(0, (jmax + 1) // 2 - 1),
             s -> struct_pack(s := s,
                              vv := ({lo}) + 256 * ({hi})))) AS t(u)),
    e AS (
      SELECT doc_id, s // {AF_WIN} AS w,
             CAST(SUM(sample * sample) AS BIGINT) AS g
      FROM vals GROUP BY doc_id, s // {AF_WIN}),
    bits AS (
      SELECT a.doc_id, a.w // {FP_BAND_BITS + 1} AS band,
             CAST(SUM(CASE WHEN a.g > b.g
                           THEN 1 << (a.w % {FP_BAND_BITS + 1})
                           ELSE 0 END) AS BIGINT) AS bv
      FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.w = a.w + 1
      WHERE a.w % {FP_BAND_BITS + 1} < {FP_BAND_BITS}
      GROUP BY a.doc_id, a.w // {FP_BAND_BITS + 1})"""


# --- VIDEO frame-sequence dHash tier ---------------------------------------

VF_W = FP_BAND_BITS + 1               # 17-pixel luma profile per frame
VF_H = 1                              # fixture frames are one Y row
VF_FRAMES = FP_BANDS                  # 8 sampled frames = 8 bands
_VF_FRAME_BYTES = 3 * VF_W * VF_H     # C444: Y+U+V planes
_VF_NEED = VF_FRAMES * _VF_FRAME_BYTES   # 408 bytes per asset
# variant v overwrites the first v Y pixels of frame 0 (the stream's
# first bytes) with extreme lumas — each flips <= 2 dHash bits of
# band 0
_VF_PREFIXES = ("", "ff", "ff00", "ff00ff")


def fingerprint_video_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate VIDEO fixture: 8-frame 17x1 C444 Y4M streams in
    planted variant groups of 4 sharing one sha256 YUV chain;
    variant v overwrites the first v Y pixels of frame 0 with fixed
    extreme lumas, so intra-group pairs differ in at most 3 pixels
    of one frame -> at most 4 dHash bits, all in band 0, while
    cross-group signatures are independent 128-bit coins. Wrapped by
    the SAME Arrow Y4M encode kernel as video_assets, so the
    fingerprint kernel exercises the honest stdlib stream parse."""
    return _fingerprint_video_assets_from(
        load_table(spark, sf_dir, "documents"))


def _fingerprint_video_assets_from(docs: DataFrame) -> DataFrame:
    """fingerprint_video_assets body over an arbitrary documents
    frame — stateless stages, shared by the batch fixture and the
    streaming ingest leg (stream_video_fingerprints)."""
    docs = docs.select("doc_id")
    raw = (
        planted_base(docs, _VF_PREFIXES, FP_GROUP)
        .withColumn("_w", F.lit(VF_W).cast("int"))
        .withColumn("_h", F.lit(VF_H).cast("int"))
        .withColumn("_nf", F.lit(VF_FRAMES).cast("int"))
        .withColumn("_fps", F.lit(25).cast("int"))
        .withColumn("lang", F.lit(""))
        .select(F.col("doc_id").alias("asset_id"), "_w", "_h", "_nf",
                "_fps", "lang",
                planted_chain_expr("vfp", _VF_NEED, 1).alias("yuv"))
    )
    return (
        fan_out(raw).mapInPandas(_encode_video_batch, _VIDEO_SCHEMA)
        .select("asset_id", "payload")
    )


def _vfp_batch(
        batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched video-fingerprint kernel: REAL stdlib Y4M parse +
    frame extraction, 8 frames sampled nearest-neighbor across the
    stream, and per sampled frame the dHash bits of a 17-point
    BLOCK-SUM profile of the frame's full Y plane (profile point c =
    integer sum of the c-th of 17 contiguous byte blocks) — one
    16-bit band per frame, packed into (sig0, sig1) exactly like the
    image kernel. Block sums, not sampled pixels: a 17-point
    nearest-neighbor sample of an 8-16-pixel-wide plane repeats
    source pixels, and the resulting structurally-tied bits made
    random same-format videos collide within the radius (caught by
    the false-positive control on the real corpus); contiguous block
    sums keep all 16 comparisons informative at ANY geometry, and on
    the 17x1 fixture the blocks are single bytes, so the SQL oracle's
    per-byte reconstruction is exactly the kernel's math. Y planes
    shorter than 17 bytes zero-pad; unparseable or frame-less
    payloads are dropped."""
    import numpy as np

    from mit_mapreduce_spark.functions.videocodec import (
        iter_y4m_frames, parse_y4m_meta,
    )

    weights = 1 << np.arange(FP_BAND_BITS, dtype=np.uint64)
    per_word = 64 // FP_BAND_BITS
    for pdf in batches:
        out = {"asset_id": [], "sig0": [], "sig1": []}
        for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
            data = bytes(payload)
            meta = parse_y4m_meta(data)
            if meta is None:
                continue
            w, h, _, _, _ = meta
            frames = list(iter_y4m_frames(data))
            nf = len(frames)
            if nf == 0 or w <= 0 or h <= 0:
                continue
            sig = [0, 0]
            for r in range(VF_FRAMES):
                frame = frames[min(nf - 1, r * nf // VF_FRAMES)]
                y = np.frombuffer(frame, np.uint8)[:w * h].astype(np.int64)
                if len(y) < VF_W:
                    y = np.pad(y, (0, VF_W - len(y)))
                bounds = (np.arange(VF_W) * len(y)) // VF_W
                prof = np.add.reduceat(y, bounds)
                bits = prof[:-1] > prof[1:]
                word, slot = divmod(r, per_word)
                sig[word] |= (int((bits * weights).sum())
                              << (FP_BAND_BITS * slot))
            for w_ in (0, 1):
                if sig[w_] >= 1 << 63:
                    sig[w_] -= 1 << 64
            out["asset_id"].append(asset_id)
            out["sig0"].append(sig[0])
            out["sig1"].append(sig[1])
        yield pd.DataFrame({
            "asset_id": out["asset_id"],
            "sig0": pd.Series(out["sig0"], dtype="int64"),
            "sig1": pd.Series(out["sig1"], dtype="int64")})


def _sql_video_bits(where: str | None = None) -> str:
    """DuckDB CTE chain through `bits` (doc_id, band, bv) for the
    video frame-sequence dHash — shared by the pair oracle and the
    search oracle."""
    wpf = FP_BAND_BITS + 1
    off = f"((j // {wpf}) * {_VF_FRAME_BYTES} + j % {wpf})"
    byte_at = sql_byte_at(off)
    return f"""{sql_planted_hex("vfp", _VF_NEED, 1, _VF_PREFIXES, FP_GROUP,
                                where)},
    g AS (
      SELECT doc_id, u.j AS j, u.g AS g
      FROM hx, UNNEST(list_transform(
             generate_series(0, (jmax + 1) // 3 - 1),
             j -> struct_pack(j := j, g := {byte_at}))) AS t(u)),
    bits AS (
      SELECT a.doc_id, a.j // {wpf} AS band,
             CAST(SUM(CASE WHEN a.g > b.g
                           THEN 1 << (a.j % {wpf})
                           ELSE 0 END) AS BIGINT) AS bv
      FROM g a JOIN g b ON b.doc_id = a.doc_id AND b.j = a.j + 1
      WHERE a.j % {wpf} < {FP_BAND_BITS}
      GROUP BY a.doc_id, a.j // {wpf})"""


# --- the MEDIA table: one row per modality ----------------------------------
#
# A modality is only its plugin parts — fixture builder, fingerprint
# kernel, DuckDB bits chain, quality screen, presence flag — the way a
# MapReduce app is only its Map and Reduce. Everything else (the seven
# family queries below, the manifest and admission legs, their
# oracles, the streaming legs) is built once over MEDIA.
#
# A real corpus is MODALITY-SPARSE: most documents own no audio or
# video asset, many own no image. Presence is DATA, read from the
# ASSET MANIFEST's has_* columns (asset_manifest below); the flags are
# GENERATED from the absent pairs (the fixture generator's role, so
# the DuckDB oracles can recompute them) and every consumer reads the
# named column. doc_id ≡ 28 (mod 210) satisfies all three absences at
# once, so the fixture always contains genuinely text-only docs.

MM_IMAGE_ABSENT = (5, 3)   # doc_id % 5 == 3  -> doc has no image
MM_AUDIO_ABSENT = (7, 0)   # doc_id % 7 == 0  -> doc has no audio
MM_VIDEO_ABSENT = (6, 4)   # doc_id % 6 == 4  -> doc has no video


@dataclass(frozen=True)
class Media:
    """What differs between image, audio and video — nothing more."""

    flag: str                     # asset-manifest column, has_<name>
    absent: tuple[int, int]       # doc_id % mod == rem: no asset
    letter: str                   # leg columns _{l}cl/_{l}qp/_{l}nd
    fixture_from: Callable[[DataFrame], DataFrame]  # docs -> payloads
    kernel: Callable              # mapInPandas fingerprint kernel
    sql_bits: Callable[..., str]  # DuckDB chain through `bits`
    screen_from: Callable[[DataFrame], DataFrame]   # quality screen
    sql_screen: Callable[..., str]  # its DuckDB twin
    pairs_name: str               # the three names with no pattern
    search_name: str
    alerts_name: str

    @property
    def name(self) -> str:
        return self.flag.removeprefix("has_")

    @property
    def present_sql(self) -> str:
        """Presence predicate over a plain ``doc_id`` column."""
        return _present_sql_t(self.flag).format(d="doc_id")

    def sigs(self, docs: DataFrame) -> DataFrame:
        """(asset_id, sig0, sig1) of the docs' assets: the fixture
        builder, then the fingerprint kernel."""
        return self.fixture_from(docs).mapInPandas(self.kernel,
                                                   _PHASH_SCHEMA)


IMAGE = Media(
    "has_image", MM_IMAGE_ABSENT, "i",
    multimodal._phash_image_assets_from, multimodal._phash_batch,
    multimodal._sql_image_bits,
    mmquality._image_screen_from, mmquality._sql_image_screen,
    "dedup_image_phash", "image_phash_search", "stream_image_alerts",
)
AUDIO = Media(
    "has_audio", MM_AUDIO_ABSENT, "a",
    _fingerprint_audio_assets_from, _afp_batch, _sql_audio_bits,
    mmquality._audio_screen_from, mmquality._sql_audio_screen,
    "dedup_audio_fingerprint", "audio_fingerprint_search",
    "stream_fingerprint_alerts",
)
VIDEO = Media(
    "has_video", MM_VIDEO_ABSENT, "v",
    _fingerprint_video_assets_from, _vfp_batch, _sql_video_bits,
    mmquality._video_screen_from, mmquality._sql_video_screen,
    "dedup_video_phash", "video_phash_search", "stream_video_alerts",
)
MEDIA = (IMAGE, AUDIO, VIDEO)

AM_MEDIA_FLAGS = {m.flag: m.absent for m in MEDIA}
_ABSENT_TO_FLAG = {v: k for k, v in AM_MEDIA_FLAGS.items()}


def media_queries(name: str, oracle: Callable[[Media], str]):
    """Register the decorated family builder ``build(spark, sf_dir, m)``
    once per MEDIA row as query ``name.format(m=row)``, gated on
    ``oracle(row)``; each registered callable carries the builder's
    docstring with ``{name}`` filled in by the row's modality."""
    def deco(build):
        for m in MEDIA:
            fn = update_wrapper(partial(build, m=m), build)
            fn.__name__ = fn.__qualname__ = name.format(m=m)
            fn.__doc__ = build.__doc__.format(name=m.name)
            query(fn.__name__, oracle(m))(fn)
        return build
    return deco


# --- the batch families: pairs, clusters, keep report --------------------
#
# All three tiers ride the SAME banding machinery (operators/banding.py):
# 16-bit-band equi-joins, pigeonhole-lossless at radius 7, Hamming as
# two popcounts over packed words. The dense families run the full
# fixture (maximal planted structure per row); sparsity is a property
# of which documents OWN assets, i.e. of the manifest's join.

def _sql_pairs(m: Media, where: str | None = None) -> str:
    """DuckDB twin of the pair family: the row's bits chain (``where``
    restricts the asset set — the sparse manifest) + the shared banded
    candidate/Hamming tail."""
    return f"""
    WITH {m.sql_bits(where)},
    {sql_band_tail(FP_HAM_MAX)}
    """


@media_queries("{m.pairs_name}", _sql_pairs)
def _pairs(spark: SparkSession, sf_dir: str, m: Media) -> DataFrame:
    """Near-duplicate {name} pairs by perceptual fingerprint: decode
    every asset with the real stdlib codec, compute its 128-bit
    signature with the row's kernel, and find the pairs within Hamming
    7 via the pigeonhole-lossless 16-bit banded equi-join (<= 7 flipped
    bits cannot touch all 8 bands) — never all-pairs.

    100 TB posture: one decode+fingerprint Arrow pass (payload bytes
    never shuffle, only the 16-byte signature per asset does), an
    equi-join bounded by band-bucket sizes (~n²/65536 random
    collisions per band), and a packed two-popcount Hamming filter
    Catalyst pushes into the join output (a 16-column popcount forest
    spun constraint inference for minutes — SCALE.md r9). No
    CartesianProduct (plan-pinned). The oracle rebuilds each payload
    from its sha256 chain and recomputes decode, signature, banding
    and Hamming in SQL; pytests check the banded result against a
    quadratic brute force, with a negative control over the real
    mixed-format corpus."""
    sigs = materialize(m.sigs(load_table(spark, sf_dir, "documents")))
    return banded_hamming_pairs2(sigs, FP_BANDS, FP_BAND_BITS, FP_HAM_MAX)


@media_queries("dedup_{m.name}_clusters",
               lambda m: sql_cc_over(_sql_pairs(m)))
def _clusters(spark: SparkSession, sf_dir: str, m: Media) -> DataFrame:
    """Near-duplicate {name} CLUSTERS: connected components of the
    fingerprint pair graph (cluster_id = min asset_id; pair-free
    assets are singletons). The min-label loop
    (dedup.min_label_components) runs over the pair graph's vertex set
    only, one edge-label shuffle per round with checkpoint-truncated
    lineage; every other asset joins once as a singleton. Oracle: a
    DuckDB recursive transitive closure — declarative reachability
    checks the iterative loop."""
    docs = load_table(spark, sf_dir, "documents") \
        .select(F.col("doc_id").alias("asset_id"))
    pairs = _pairs(spark, sf_dir, m).select("asset_a", "asset_b")
    return label_with_singletons(docs, "asset_id", pairs,
                                 "asset_a", "asset_b")


@media_queries("dedup_{m.name}_keep_report",
               lambda m: sql_keep_report_over(sql_cc_over(_sql_pairs(m))))
def _keep_report(spark: SparkSession, sf_dir: str, m: Media) -> DataFrame:
    """The {name}-dedup DECISION: keep the canonical (min-id) asset of
    every fingerprint cluster, drop the rest, and report per language
    what survives — one manifest join + rollup over the cluster table
    (two longs per asset; nothing is decoded twice)."""
    return keep_report_frame(spark, sf_dir, _clusters(spark, sf_dir, m))


# --- the asset manifest ------------------------------------------------------

def am_media_flag(m: Media) -> F.Column:
    """The ONE Spark spelling of a media presence flag — consumers
    attach it under its manifest column name and read the column from
    then on."""
    mod, rem = m.absent
    return (F.col("doc_id") % mod != rem).alias(m.flag)


def _am_media_sql() -> str:
    """The ONE SQL spelling of the media manifest generation (doc_id
    aliased to am_id so presence subqueries never shadow an outer
    doc_id)."""
    cols = ", ".join(
        f"doc_id % {mod} <> {rem} AS {flag}"
        for flag, (mod, rem) in AM_MEDIA_FLAGS.items())
    return f"SELECT doc_id AS am_id, {cols} FROM documents"


def _present_sql_t(flag: str) -> str:
    """Presence predicate TEMPLATE over ``{d}``: membership in the
    asset manifest's flagged rows — the SQL consumers read the
    manifest column, never re-spell the arithmetic."""
    return f"{{d}} IN (SELECT am_id FROM ({_am_media_sql()}) WHERE {flag})"


def asset_manifest_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, has_image, has_audio, has_video) — the media half of
    the asset manifest, one projection over documents (no join, so
    presence filters collapse to scan-level predicates exactly like
    the old arithmetic forms: plan-neutral by construction)."""
    return asset_manifest_media_from(
        load_table(spark, sf_dir, "documents"))


def asset_manifest_media_from(docs: DataFrame) -> DataFrame:
    """The media-flag projection over any (doc_id, ...) frame — batch
    (above) or a document stream (stream_asset_manifest, r14)."""
    return docs.select(
        "doc_id", *[am_media_flag(m) for m in MEDIA])


def asset_manifest_from(media: DataFrame, emb: DataFrame) -> DataFrame:
    """The full manifest tail shared by the batch query and its
    streaming maintenance leg: media flags left-joined with the
    distinct vector-id projection; a doc owns an embedding iff the
    embeddings table carries its vec_id."""
    return (
        media
        .join(emb.select(F.col("vec_id").alias("doc_id")).distinct()
              .withColumn("_e", F.lit(True)), "doc_id", "left")
        .select("doc_id", *AM_MEDIA_FLAGS,
                F.coalesce("_e", F.lit(False)).alias("has_embedding"))
    )


@query(
    "asset_manifest",
    oracle=f"""
    SELECT am.am_id AS doc_id, am.has_image, am.has_audio, am.has_video,
           (e.vec_id IS NOT NULL) AS has_embedding
    FROM ({_am_media_sql()}) am
    LEFT JOIN (SELECT DISTINCT vec_id FROM embeddings) e
      ON e.vec_id = am.am_id
    """,
)
def asset_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-doc ASSET MANIFEST (r12, VERDICT r11 ask #2): which
    modalities each document owns — the table a real corpus supplies
    alongside the payload store, and the single source every
    presence-dependent operator (the sparse multimodal manifest, the
    ingest admission, the incremental screens' owner sets) reads
    instead of re-deriving ownership arithmetic at the use site.
    Media flags are generated from the fixture predicates (so the
    oracle composes); has_embedding is genuinely data-driven — a doc
    owns a vector iff the embeddings table carries its vec_id (a
    proper subset at sf0.1).

    100 TB posture: one documents scan plus one doc_id equi-join
    against the (distinct) vector-id projection — the manifest is a
    metadata table, a few bytes per doc, the natural broadcast/bucket
    dimension for every presence filter downstream."""
    return asset_manifest_from(asset_manifest_media(spark, sf_dir),
                               load_table(spark, sf_dir, "embeddings"))


def _present_docs(spark: SparkSession, sf_dir: str,
                  absent: tuple[int, int]) -> DataFrame:
    """(doc_id) of the docs that HAVE this modality's asset — read
    from the manifest COLUMN (r12), not re-derived arithmetic."""
    flag = _ABSENT_TO_FLAG[absent]
    return (asset_manifest_media(spark, sf_dir)
            .where(F.col(flag)).select("doc_id"))


def keep_media_gate(flag: str, ok, qp: str):
    """The shared absent-is-pass media gate Column: pass outright
    when the manifest column says the modality is absent; otherwise
    the owned asset must satisfy ``ok`` (cluster-canonical for the
    batch manifest, not-near-dup for the admission) AND hold a TRUE
    quality row. A missing quality row — an undecodable asset, or a
    manifest row that LIES about a payload that never arrived — is a
    FAIL: the quarantine path, never a silent pass (pytest-pinned in
    test_round12_ops)."""
    return F.when(~F.col(flag), F.lit(True)) \
        .otherwise(ok & F.coalesce(F.col(qp), F.lit(False)))


def _sparse_clusters(spark: SparkSession, sf_dir: str,
                     fixture_from, kernel,
                     absent: tuple[int, int]) -> DataFrame:
    """(asset_id, cluster_id) over the PRESENT subset of one modality:
    the pair and cluster families' fingerprint + banded join +
    min-label CC, restricted to the docs that own an asset — the
    manifest's sparse media legs."""
    docs = _present_docs(spark, sf_dir, absent)
    sigs = materialize(
        fixture_from(docs).mapInPandas(kernel, _PHASH_SCHEMA)
    )
    pairs = banded_hamming_pairs2(sigs, FP_BANDS, FP_BAND_BITS,
                                  FP_HAM_MAX).select("asset_a", "asset_b")
    return label_with_singletons(
        docs.select(F.col("doc_id").alias("asset_id")), "asset_id",
        pairs, "asset_a", "asset_b")


def _sql_manifest() -> str:
    """DuckDB twin of the per-doc training manifest: the text-CC,
    sparse media-CC, and three-stage quality verdicts composed from
    the SAME oracle builders the pillar queries gate on (dedup._sql_cc,
    the pair family's _sql_pairs over each row's bits chain, the rows'
    quality screens, curation._sql_funnel_verdicts) — a composition,
    not a re-derivation. Media cluster tables cover only the PRESENT
    docs (the presence predicates the Spark side filters on) and are
    LEFT-joined; an absent modality is keep-pass by the explicit
    predicate, never by accident of an inner join."""
    from mit_mapreduce_spark.operators.curation import _sql_funnel_verdicts
    from mit_mapreduce_spark.operators.dedup import _sql_cc

    kt = "tc.cluster_id = d.doc_id"
    kq = "fd.g AND fd.r AND fd.l"
    # an owned asset must be its cluster's canonical member AND a
    # quality pass (COALESCE: a missing quality row, i.e. an
    # undecodable asset, fails); absence read from the manifest column
    km = [f"(NOT am.{m.flag} OR ({m.letter}c.cluster_id = d.doc_id"
          f" AND COALESCE({m.letter}q.passes, FALSE)))" for m in MEDIA]
    keep_cols = "".join(
        f"           CAST(CASE WHEN {k} THEN 1 ELSE 0 END AS INT)"
        f" AS keep_{m.name},\n" for m, k in zip(MEDIA, km))
    ready = " AND ".join([kt, kq, *km])
    joins = "".join(
        f"    LEFT JOIN ({cc}) {m.letter}c\n"
        f"      ON {m.letter}c.asset_id = d.doc_id\n"
        for m, cc in ((m, sql_cc_over(_sql_pairs(m, m.present_sql),
                                      m.present_sql)) for m in MEDIA))
    joins += "".join(
        f"    LEFT JOIN ({m.sql_screen(m.present_sql)}) {m.letter}q\n"
        f"      ON {m.letter}q.asset_id = d.doc_id\n" for m in MEDIA)
    return f"""
    WITH {_sql_funnel_verdicts()}
    SELECT d.doc_id, d.lang, d.source,
           CAST(CASE WHEN {kt} THEN 1 ELSE 0 END AS INT) AS keep_text,
           CAST(CASE WHEN {kq} THEN 1 ELSE 0 END AS INT) AS keep_quality,
{keep_cols}           CAST(CASE WHEN {ready}
                THEN 1 ELSE 0 END AS INT) AS ready
    FROM documents d
    JOIN ({_am_media_sql()}) am ON am.am_id = d.doc_id
    JOIN fdoc fd ON fd.doc_id = d.doc_id
    JOIN ({_sql_cc()}) tc ON tc.doc_id = d.doc_id
{joins}    """


@query("pipeline_multimodal_manifest", oracle=_sql_manifest())
def pipeline_multimodal_manifest(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """The CROSS-MODALITY per-doc training manifest (VERDICT r9 ask
    #5; MODALITY-SPARSE since r11 per VERDICT r10 ask #1; media
    QUALITY folded in later in r11 when the mmquality screens
    landed): one row per document with the five pillar keep
    decisions — text near-dup keeper (MinHash CC canonical member),
    three-stage quality funnel pass (Gopher -> repetition -> LM
    novelty), and per owned image/audio/video asset BOTH the
    perceptual-near-dup keeper bit AND the modality's quality-screen
    pass (silent/clipped/DC audio, black/frozen video, flat/dark
    images — quality_*_screen) — plus `ready`, the single bit a
    training run consumes: keep the doc iff its text survived dedup
    AND quality AND every asset the doc OWNS survived its modality's
    dedup AND quality screens. Docs own assets per the deterministic
    presence predicates (doc_id % 5 == 3: no image, % 7 == 0: no
    audio, % 6 == 4: no video); an absent modality is keep-PASS — a
    text-only document can be ready, which the r10 inner-join form
    silently forbade. An owned asset with no quality row
    (undecodable) is a FAIL, never a silent pass.

    One plan, no re-decode: every input is an (id, label/flag) table
    the pillar operators already produce (cluster tables are two
    longs per doc; quality verdicts are flags from single-scan
    array expressions), joined on doc_id — media cluster tables
    cover only the present docs and join LEFT. The CC fixpoint loops
    run over their pair graphs' vertex sets with checkpoint-truncated
    lineage, so composing four of them stacks checkpointed leaves,
    not plan trees. The oracle composes the SAME SQL builders the
    pillar queries gate on, presence-filtered identically."""
    from mit_mapreduce_spark.operators.curation import (
        FUNNEL_MAX_NOVELTY, gopher_quality_rules, quality_repetition,
    )
    from mit_mapreduce_spark.operators.dedup import dedup_clusters
    from mit_mapreduce_spark.operators.textstats import quality_lm_bigram

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", *[am_media_flag(m) for m in MEDIA])
    # The EAGER legs — the text CC loop, the three media
    # fingerprint+CC loops (each runs Spark jobs at construction
    # time), and the three quality screens — each underutilize the
    # executor pool (sub-second Arrow jobs over small signature/stat
    # tables), so they are submitted CONCURRENTLY as parallel_legs:
    # seven drivers' worth of small jobs overlap instead of
    # serializing, without touching any leg's plan. Spark job
    # submission is thread-safe; each leg lands in its own
    # checkpointed RDD. r14: the three per-doc quality frames build
    # as legs too — construction is driver-side analysis/planning
    # that overlaps with the CC loops' jobs.
    def _tc_leg():
        return dedup_clusters(spark, sf_dir) \
            .select("doc_id", F.col("cluster_id").alias("_tcl"))

    def _cluster_leg(m: Media):
        return _sparse_clusters(spark, sf_dir, m.fixture_from, m.kernel,
                                m.absent) \
            .select(F.col("asset_id").alias("doc_id"),
                    F.col("cluster_id").alias(f"_{m.letter}cl"))

    def _quality_leg(m: Media):
        # checkpoint: truncates the deep Arrow-pipeline lineage
        # before the 10-join composition (a measured 14 s of
        # driver-side ANALYSIS on the un-truncated plan). Eager, lazy
        # and none read within 7% of each other at sf0.1 (SCALE.md,
        # "One materialization call").
        return materialize(
            m.screen_from(_present_docs(spark, sf_dir, m.absent))
            .select(F.col("asset_id").alias("doc_id"),
                    F.col("passes").alias(f"_{m.letter}qp")))

    g, r, lm, tc, *media = parallel_legs(
        lambda: gopher_quality_rules(spark, sf_dir)
        .select("doc_id", F.col("passes").alias("_g")),
        lambda: quality_repetition(spark, sf_dir)
        .select("doc_id", F.col("passes").alias("_r")),
        lambda: quality_lm_bigram(spark, sf_dir)
        .select("doc_id", "novelty"),
        _tc_leg,
        *(partial(_cluster_leg, m) for m in MEDIA),
        *(partial(_quality_leg, m) for m in MEDIA))
    out = (docs.join(tc, "doc_id").join(g, "doc_id").join(r, "doc_id")
           .join(lm, "doc_id", "left"))
    for leg in media:
        out = out.join(leg, "doc_id", "left")
    keep_text = F.col("_tcl") == F.col("doc_id")
    keep_quality = (F.col("_g") & F.col("_r")
                    & F.col("novelty").isNotNull()
                    & (F.col("novelty") <= FUNNEL_MAX_NOVELTY))
    # absent modality = keep-pass, by the EXPLICIT manifest column
    # (presence is data; not by null-ness of the left join, so a bug
    # that dropped a present doc's cluster row would surface as a
    # keep=false mismatch, not silently pass); an OWNED asset must be
    # its cluster's canonical member AND a quality-screen pass
    keeps = [keep_media_gate(m.flag, F.col(f"_{m.letter}cl")
                             == F.col("doc_id"), f"_{m.letter}qp")
             for m in MEDIA]
    ready = reduce(operator.and_, [keep_text, keep_quality, *keeps])
    return out.select(
        "doc_id", "lang", "source",
        keep_text.cast("int").alias("keep_text"),
        keep_quality.cast("int").alias("keep_quality"),
        *[k.cast("int").alias(f"keep_{m.name}")
          for m, k in zip(MEDIA, keeps)],
        ready.cast("int").alias("ready"),
    )


@query(
    "pipeline_multimodal_ready",
    oracle=f"""
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(keep_text) AS BIGINT) AS n_text_kept,
           CAST(SUM(keep_quality) AS BIGINT) AS n_quality_pass,
           CAST(SUM(keep_image) AS BIGINT) AS n_image_kept,
           CAST(SUM(keep_audio) AS BIGINT) AS n_audio_kept,
           CAST(SUM(keep_video) AS BIGINT) AS n_video_kept,
           CAST(SUM(ready) AS BIGINT) AS n_ready,
           CAST(CAST(SUM(ready) AS DOUBLE) / COUNT(*) AS DOUBLE)
             AS ready_frac
    FROM ({{m}}) m
    GROUP BY lang, source
    """.format(m=_sql_manifest()),
)
def pipeline_multimodal_ready(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Per-(lang, source) accounting over the cross-modality manifest
    — the sign-off table of a multimodal training run ("language X
    from source Y: N docs in, M ready after text dedup + quality +
    image/audio/video dedup"). One aggregation over
    pipeline_multimodal_manifest; the keep_* sums count absent
    modalities as kept (pass-through), matching the manifest's
    sparse semantics."""
    m = pipeline_multimodal_manifest(spark, sf_dir)
    return (
        m.groupBy("lang", "source")
        .agg(F.count("*").cast("bigint").alias("n_docs"),
             F.sum("keep_text").cast("bigint").alias("n_text_kept"),
             F.sum("keep_quality").cast("bigint").alias("n_quality_pass"),
             F.sum("keep_image").cast("bigint").alias("n_image_kept"),
             F.sum("keep_audio").cast("bigint").alias("n_audio_kept"),
             F.sum("keep_video").cast("bigint").alias("n_video_kept"),
             F.sum("ready").cast("bigint").alias("n_ready"))
        .select("lang", "source", "n_docs", "n_text_kept",
                "n_quality_pass", "n_image_kept", "n_audio_kept",
                "n_video_kept", "n_ready",
                (F.col("n_ready").cast("double")
                 / F.col("n_docs").cast("double"))
                .cast("double").alias("ready_frac"))
    )


# --- the batch families: search, incremental screen ----------------------

FPS_MOD = 50     # search: asset_id % MOD == 0 plays the query set
FPS_K = 3        # search: results per query


@media_queries("{m.search_name}",
               lambda m: f"WITH {m.sql_bits()},"
                         f" {sql_search_tail(FPS_MOD, FPS_K)}")
def _search(spark: SparkSession, sf_dir: str, m: Media) -> DataFrame:
    """Similarity SEARCH on the {name} fingerprint index ("find me
    assets like this one"): for each query asset (every 50th) the
    top-3 nearest assets by full 128-bit Hamming among its band
    candidates — the query-centric twin of the pair family and the
    media analogue of minhash_search_topk. No radius filter: the
    candidates are whatever shares a band with the query (bucket
    volume, never |Q|x|C|), re-scored exactly and ranked with a
    deterministic tie order (hamming, cid); on the planted fixture
    every query's group-mates take the top ranks (pytest-pinned)."""
    sigs = materialize(m.sigs(load_table(spark, sf_dir, "documents")))
    return fingerprint_search_topk(sigs, FP_BANDS, FP_BAND_BITS,
                                   FPS_MOD, FPS_K)


# The incremental screens split the corpus into today's incoming shard
# (banding.INC_PRED: doc_id % 40 < 6) and the retained index, chosen
# so the planted groups of 4 exercise BOTH verdicts: a 40-aligned
# group's first four members are all incoming (no in-radius match,
# NULL verdict), while members 4-5 of the next group arrive with mates
# 6-7 already indexed (a guaranteed match).

@media_queries("dedup_{m.name}_incremental",
               lambda m: f"WITH {m.sql_bits()},"
                         f" {sql_incremental_tail(INC_PRED, FP_HAM_MAX)}")
def _incremental(spark: SparkSession, sf_dir: str, m: Media) -> DataFrame:
    """Incremental {name} dedup: screen an incoming shard against the
    retained corpus's fingerprint index — per incoming asset the best
    (min hamming, tie min id) index match within radius 7, or NULLs
    when the asset is genuinely new: is_neardup says "we already have
    this", matched_id which retained asset it duplicates (the media
    twin of dedup_incremental_bloom).

    100 TB posture: the index side is the persisted signature table
    (16 bytes/asset, kept current by the stream_*_fingerprints legs),
    never re-decoded per shard; the incoming side is one fingerprint
    pass over the shard; candidates come from the one-sided band
    equi-join restricted to the buckets the shard touches, with the
    pair family's pushable radius filter. The oracle recomputes both
    sides and the screen in SQL; a pytest checks the screen against a
    quadratic brute force."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    inc_pred = inc_col("asset_id")
    sigs = materialize(m.sigs(docs))
    inc_assets = docs.select(F.col("doc_id").alias("asset_id")) \
        .where(inc_pred)
    return incremental_screen(
        inc_assets, sigs.where(inc_pred), sigs.where(~inc_pred),
        FP_BANDS, FP_BAND_BITS, FP_HAM_MAX)


# --- daily-ingest ADMISSION: the at-the-door twin of the manifest -----------
#
# The batch manifest answers "which RETAINED docs are training-ready"
# after the nightly pillar runs; the admission table answers the
# operational question that precedes it: "of TODAY'S incoming shard,
# which docs do we admit at all?" Door-appropriate legs: text dedup
# against the retained corpus both EXACT (normalized-fingerprint
# semi-join — catches reposts) and NEAR (the banded MinHash screen —
# catches light edits; the full MinHash CC stays a nightly batch
# job), the three-stage text quality funnel, and per OWNED
# media asset the one-sided fingerprint screen against the persisted
# signature index AND the modality's quality screen. Same shard split
# as the media screens (doc_id % 40 < 6), same presence predicates as
# the manifest, same explicit absence-is-pass semantics.

_NORM_FP_SQL = "md5(lower(regexp_replace(trim({t}), '\\s+', ' ', 'g')))"


def norm_fp_col():
    """Spark twin of _NORM_FP_SQL over the `text` column — the ONE
    normalized-fingerprint spelling, shared by the admission's exact
    text gate and the streaming fingerprint-set maintenance leg
    (stream_text_fingerprints)."""
    return F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")),
                                          r"\s+", " ")))

# r12 gates. PII: the synthetic corpus carries none, so the fixture
# seeds one email + one IPv4 (curation's pii_redact payload, the ONE
# spelling) into a deterministic subset of the incoming shard —
# the gate's regex machinery runs over every door doc and both
# branches are exercised. Contamination: distinct CONTAM_NGRAM-gram
# overlap with the eval set (curation.EVAL_MOD docs), threshold
# chosen so both branches appear at sf0.001/0.01/0.1 (measured:
# >= 2 splits 12/76, 4/76, 620/742); an incoming doc that IS an
# eval-set doc is never admitted (it is benchmark data).
PII_SEED = (9, 5)        # doc_id % 9 == 5 arrives with seeded PII
CONTAM_MAX_SHARED = 2    # >= 2 distinct shared eval n-grams = dirty


def _sql_admission() -> str:
    """DuckDB twin of the admission table: composes the funnel
    verdict CTEs, an exact normalized-fingerprint semi-join for the
    text-dup bit, per modality the presence-filtered incremental
    screen + quality screen (each a parenthesized WITH-subquery, so
    the three bits/cand/scored CTE chains don't collide), the
    embedding screen (r12, a fourth WITH-subquery over the
    similarity builders), and the clean gate's PII + contamination
    CTEs (r12, the curation builders' spellings)."""
    from mit_mapreduce_spark.operators.curation import (
        _LTR_TOKS_SQL, _SQL_PAYLOAD, _sql_funnel_verdicts, _sql_ngram_arr,
        CONTAM_NGRAM, EMAIL_RE, EVAL_MOD, ID_RE, IP_RE, PHONE_RE,
    )
    from mit_mapreduce_spark.operators.dedup import _sql_minhash_incremental
    from mit_mapreduce_spark.operators.similarity import _sql_embed_screen

    inc_d = INC_PRED.format(d="d.doc_id")
    inc_doc = f"({INC_PRED.format(d='doc_id')})"
    # per modality: the incremental screen over the shard's owned assets
    # (a predicate template over {d}: in the shard AND owns the asset,
    # by the manifest column) and the quality screen over the same set
    media_joins = ""
    for m in MEDIA:
        owned_inc = f"({INC_PRED}) AND ({_present_sql_t(m.flag)})"
        media_joins += (
            f"    LEFT JOIN (WITH {m.sql_bits(m.present_sql)},"
            f" {sql_incremental_tail(owned_inc, FP_HAM_MAX)})"
            f" {m.letter}i ON {m.letter}i.asset_id = d.doc_id\n")
    media_joins += "".join(
        f"    LEFT JOIN ({m.sql_screen(f'{inc_doc} AND ({m.present_sql})')})"
        f" {m.letter}q\n      ON {m.letter}q.asset_id = d.doc_id\n"
        for m in MEDIA)
    km = [f"(NOT am.{m.flag}"
          f" OR (COALESCE(NOT {m.letter}i.is_neardup, FALSE)"
          f" AND COALESCE({m.letter}q.passes, FALSE)))" for m in MEDIA]
    keep_cols = "".join(
        f"           CAST(CASE WHEN {k} THEN 1 ELSE 0 END AS INT)"
        f" AS keep_{m.name},\n" for m, k in zip(MEDIA, km))

    fp = _NORM_FP_SQL
    pii_mod, pii_rem = PII_SEED
    kt = ("td.doc_id IS NULL"
          " AND COALESCE(NOT mh.is_neardup, TRUE)")
    kq = "fd.g AND fd.r AND fd.l"
    # semantic: absence (no vector in the embeddings table — data-
    # driven presence) is pass; an owned vector must not be an
    # in-threshold LSH-bucket neighbor of a retained vector
    ks = "COALESCE(NOT es.is_neardup, TRUE)"
    # clean: not an eval-set doc, zero PII matches, under the shared-
    # n-gram contamination threshold
    kc = (f"(d.doc_id % {EVAL_MOD} <> 0 AND cp.n_pii = 0"
          f" AND COALESCE(cs.n_shared, 0) < {CONTAM_MAX_SHARED})")
    gates = [kt, ks, kq, kc, *km]
    admit = (" AND ".join(gates[:5]) + "\n                      AND "
             + " AND ".join(gates[5:]))
    return f"""
    WITH {_sql_funnel_verdicts()},
    tdup AS (
      SELECT i.doc_id FROM documents i
      WHERE ({INC_PRED.format(d='i.doc_id')}) AND i.text IS NOT NULL
        AND {fp.format(t='i.text')} IN (
          SELECT {fp.format(t='c.text')} FROM documents c
          WHERE NOT ({INC_PRED.format(d='c.doc_id')})
            AND c.text IS NOT NULL)),
    cpay AS (
      SELECT doc_id,
             CASE WHEN doc_id % {pii_mod} = {pii_rem}
                  THEN {_SQL_PAYLOAD} ELSE text END AS payload
      FROM documents
      WHERE {inc_doc}),
    cpii AS (
      SELECT doc_id,
             CAST(COALESCE(len(regexp_extract_all(payload, '{EMAIL_RE}'))
                  + len(regexp_extract_all(payload, '{IP_RE}'))
                  + len(regexp_extract_all(payload, '{PHONE_RE}'))
                  + len(regexp_extract_all(payload, '{ID_RE}')), 0)
                  AS BIGINT) AS n_pii
      FROM cpay),
    ctok AS (SELECT doc_id, {_LTR_TOKS_SQL} AS _toks FROM documents),
    cgrams AS (
      SELECT DISTINCT doc_id, unnest({_sql_ngram_arr(CONTAM_NGRAM)}) AS gram
      FROM ctok),
    cshared AS (
      SELECT g.doc_id, COUNT(DISTINCT g.gram) AS n_shared
      FROM cgrams g
      JOIN (SELECT DISTINCT gram FROM cgrams
            WHERE doc_id % {EVAL_MOD} = 0) e ON e.gram = g.gram
      WHERE ({INC_PRED.format(d='g.doc_id')})
        AND g.doc_id % {EVAL_MOD} <> 0
      GROUP BY g.doc_id)
    SELECT d.doc_id, d.lang, d.source,
           CAST(CASE WHEN {kt} THEN 1 ELSE 0 END AS INT) AS keep_text,
           CAST(CASE WHEN {ks} THEN 1 ELSE 0 END AS INT) AS keep_semantic,
           CAST(CASE WHEN {kq} THEN 1 ELSE 0 END AS INT) AS keep_quality,
           CAST(CASE WHEN {kc} THEN 1 ELSE 0 END AS INT) AS keep_clean,
{keep_cols}           CAST(CASE WHEN {admit}
                THEN 1 ELSE 0 END AS INT) AS admit
    FROM documents d
    JOIN ({_am_media_sql()}) am ON am.am_id = d.doc_id
    JOIN fdoc fd ON fd.doc_id = d.doc_id
    JOIN cpii cp ON cp.doc_id = d.doc_id
    LEFT JOIN cshared cs ON cs.doc_id = d.doc_id
    LEFT JOIN tdup td ON td.doc_id = d.doc_id
    LEFT JOIN ({_sql_minhash_incremental(INC_PRED)}) mh
      ON mh.doc_id = d.doc_id
    LEFT JOIN ({_sql_embed_screen(INC_PRED)}) es
      ON es.vec_id = d.doc_id
{media_joins}    WHERE {inc_d}
    """


@query("pipeline_ingest_admission", oracle=_sql_admission())
def pipeline_ingest_admission(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """The DAILY-INGEST admission table (r11; r12 adds the semantic
    and clean gates, closing the door's blind spots): one row per
    INCOMING-shard document (doc_id % 40 < 6, the media screens'
    split) with keep_text (its normalized text does NOT already exist
    in the retained corpus AND is not a MinHash near-dup of a
    retained doc — the exact gate catches reposts, the banded MinHash
    screen catches light edits), keep_semantic (the doc's embedding —
    if it owns one; presence is the embeddings table itself — is not
    an in-threshold sign-LSH neighbor of a retained vector: the gate
    that catches a PARAPHRASED repost, embed_neardup_incremental's
    screen on this split), keep_quality (the Gopher -> repetition ->
    LM funnel), keep_clean (not an eval-set document, zero PII regex
    matches over the door text, and under the shared-n-gram
    contamination threshold vs the broadcast eval set), and per owned
    media asset keep_image/audio/video (NOT within Hamming radius of
    the persisted fingerprint index AND passes the modality's quality
    screen; ownership read from the asset manifest's columns, absence
    is pass, an undecodable asset fails), plus `admit` — the
    seven-way AND a production gate enforces before the asset ever
    reaches storage.

    ONE composition: the whole incoming shard is a single
    micro-batch of the streaming twin — admission_batch_frame over
    admission_static_ctx, the same legs stream_ingest_admission runs
    per batch — so the batch table and the drain cannot drift (the
    reference's mrsequential/mr split: one Map/Reduce pair under two
    drivers). 100 TB posture: every leg is the screen-shaped op it
    composes — the text gate is one fingerprint semi-join against the
    corpus fingerprint set, the near-dup and semantic gates are
    one-sided band/bucket equi-joins against the corpus indexes with
    exact verification on candidates only, the media screens decode
    the SHARD only against the 16-byte/asset signature indexes, the
    PII count is a pure projection and the contamination probe a
    broadcast gram join — the retained corpus is never re-decoded.
    Every call builds the static sides afresh, so no checkpointed leg
    outlives its query. Oracle: one composition of the funnel CTEs,
    IN-subqueries for the text/clean gates, and seven
    presence-filtered WITH-subqueries (screens + quality +
    embedding)."""
    docs = load_table(spark, sf_dir, "documents")
    return admission_batch_frame(spark, sf_dir,
                                 docs.where(inc_col("doc_id")),
                                 admission_static_ctx(spark, sf_dir))


def _admission_verdicts(legs: DataFrame) -> DataFrame:
    """The seven keep bits + admit over admission_batch_frame's
    joined leg frame."""
    from mit_mapreduce_spark.operators.curation import (
        EVAL_MOD, FUNNEL_MAX_NOVELTY,
    )

    keep_text = (~F.coalesce(F.col("_tdup"), F.lit(False))
                 & ~F.coalesce(F.col("_mhnd"), F.lit(False)))
    # no vector row = pass (the doc owns no embedding — presence is
    # the embeddings table itself)
    keep_semantic = ~F.coalesce(F.col("_snd"), F.lit(False))
    keep_quality = (F.col("_g") & F.col("_r")
                    & F.col("novelty").isNotNull()
                    & (F.col("novelty") <= FUNNEL_MAX_NOVELTY))
    keep_clean = ((F.col("doc_id") % EVAL_MOD != 0)
                  & (F.col("_npii") == 0)
                  & (F.coalesce(F.col("_nsh"), F.lit(0))
                     < CONTAM_MAX_SHARED))
    # presence read from the manifest column; the gate body is
    # keep_media_gate (a missing quality row = quarantine)
    keeps = [keep_media_gate(m.flag, F.coalesce(~F.col(f"_{m.letter}nd"),
                                                F.lit(False)),
                             f"_{m.letter}qp") for m in MEDIA]
    admit = reduce(operator.and_, [keep_text, keep_semantic, keep_quality,
                                   keep_clean, *keeps])
    return legs.select(
        "doc_id", "lang", "source",
        keep_text.cast("int").alias("keep_text"),
        keep_semantic.cast("int").alias("keep_semantic"),
        keep_quality.cast("int").alias("keep_quality"),
        keep_clean.cast("int").alias("keep_clean"),
        *[k.cast("int").alias(f"keep_{m.name}")
          for m, k in zip(MEDIA, keeps)],
        admit.cast("int").alias("admit"),
    )


# Never filled: bench.py still pops these before each timed run.
_ADMISSION_MEMO: dict = {}
_MANIFEST_MEMO: dict = {}
_ADMISSION_CTX_MEMO: dict = {}


# --- streaming admission twin (r13, VERDICT r12 ask #2) --------------------


def admission_static_ctx(spark: SparkSession, sf_dir: str) -> dict:
    """The admission gates' STATIC sides, built once per call: the
    corpus fingerprint set, the corpus MinHash band index + shingle
    table + set sizes, the embedding bucket index, the three media
    signature indexes, the per-doc text-quality verdict tables, the
    eval-set gram table, and the asset manifest. The verdict tables
    hold the incoming shard's rows only: every admitted doc, batch or
    stream, is a shard doc, and a checkpoint stops Catalyst from
    pushing that filter into the per-doc rules itself (the bigram LM
    is still trained on the whole table). The batch admission uses it for its one whole-shard
    frame, the streaming twin shares it across its micro-batches; in
    production each entry is a persisted table a streaming
    maintenance leg keeps current (stream_text_fingerprints,
    stream_minhash_bands, stream_embedding_index,
    stream_*_fingerprints)."""
    from mit_mapreduce_spark.operators.curation import (
        _letter_tokens, _ngram_arr, CONTAM_NGRAM, EVAL_MOD,
        gopher_quality_rules, quality_repetition,
    )
    from mit_mapreduce_spark.operators.dedup import (
        _band_hashes, _minhash_sigs, shingles_df,
    )
    from mit_mapreduce_spark.operators.similarity import _screen_buckets
    from mit_mapreduce_spark.operators.textstats import quality_lm_bigram

    docs = load_table(spark, sf_dir, "documents")
    inc_pred = inc_col("doc_id")
    corpus = docs.where(~inc_pred)
    grams_src = docs.where(F.col("doc_id") % EVAL_MOD == 0)

    # r14 (guide §1.2): each materialize() leaf forces Catalyst analysis
    # plus the toRdd PHYSICAL planning at construction — measured 8.9 s of
    # pure driver-side work when the ~15 legs built serially (no job
    # runs; the box sat idle on one core of py4j/analyzer work). The
    # independent legs now build as parallel legs — py4j releases
    # the GIL on JVM calls, so the analyzer/planner work overlaps
    # (measured 8.9 -> ~3 s). Legs
    # with real dependencies chain INSIDE one leg (sh -> sigs ->
    # bands; bk -> sides) so nothing waits on an unrelated leg.
    def _text_legs():
        sh = materialize(shingles_df(corpus))
        sigs = materialize(_minhash_sigs(sh))
        return (sh, sigs.select("doc_id", "n"),
                materialize(_band_hashes(sigs)))

    def _emb_legs():
        emb = fan_out(load_table(spark, sf_dir, "embeddings"))
        bk = materialize(_screen_buckets(emb))
        sides = materialize(
            emb.select("vec_id", "embedding")
            .join(bk.select("vec_id", "nsq").distinct(), "vec_id"))
        return bk, sides

    def _media_leg(m: Media):
        return materialize(m.sigs(
            _present_docs(spark, sf_dir, m.absent).where(~inc_pred)))

    ((corpus_sh, corpus_sizes, corpus_bands), (emb_bk, emb_sides),
     corpus_fps, eval_grams, g, r, lm, manifest, *media) = parallel_legs(
        _text_legs,
        _emb_legs,
        lambda: materialize(
            corpus.where(F.col("text").isNotNull())
            .select(norm_fp_col().alias("_fp")).distinct()),
        lambda: materialize(
            grams_src.select("doc_id", _letter_tokens().alias("_toks"))
            .select(F.explode(F.array_distinct(
                _ngram_arr(CONTAM_NGRAM))).alias("gram"))
            .distinct()),
        lambda: materialize(
            gopher_quality_rules(spark, sf_dir).where(inc_pred)
            .select("doc_id", F.col("passes").alias("_g"))),
        lambda: materialize(
            quality_repetition(spark, sf_dir).where(inc_pred)
            .select("doc_id", F.col("passes").alias("_r"))),
        lambda: materialize(
            quality_lm_bigram(spark, sf_dir).where(inc_pred)
            .select("doc_id", "novelty")),
        lambda: materialize(asset_manifest_media(spark, sf_dir)),
        *(partial(_media_leg, m) for m in MEDIA))
    return {
        "corpus_fps": corpus_fps,
        "corpus_sh": corpus_sh,
        "corpus_sizes": corpus_sizes,
        "corpus_bands": corpus_bands,
        "emb_bk": emb_bk,
        # the exact-cosine verification table, checkpointed once
        # per stream (r14): per-batch candidate verification
        # reads persisted blocks instead of re-joining
        # embeddings x norms
        "emb_sides": emb_sides,
        "eval_grams": eval_grams,
        "g": g,
        "r": r,
        "lm": lm,
        "manifest": manifest,
        # per MEDIA row: the owners' corpus signature index
        "media": dict(zip(MEDIA, media)),
    }


def admission_batch_frame(spark: SparkSession, sf_dir: str,
                          batch_docs: DataFrame, ctx: dict) -> DataFrame:
    """The admission verdicts of one frame of arriving docs (r13): a
    streaming micro-batch, or the whole incoming shard for the batch
    pipeline_ingest_admission. The docs frame (doc_id, text, lang,
    source) is fingerprinted / shingled / bucketed / decoded ON THE
    SPOT and joined against the persisted static sides in ``ctx`` —
    per-batch cost scales with the batch, the corpus is never re-read
    beyond the checkpointed index tables. The verdict tail is
    _admission_verdicts:

    - keep_text: batch fps left-semi the corpus fingerprint set +
      minhash_screen_expr_over (batch shingles vs the corpus band
      index)
    - keep_semantic: embed_screen_frame over the shared bucket index,
      incoming side restricted to the batch's vec_ids
    - keep_quality: the shard's verdict tables joined by doc_id
      (per-doc rules are pure projections; the LM novelty scores the
      doc against corpus statistics, read from the maintained table)
    - keep_clean: PII regexes on the batch's own text + batch grams
      vs the broadcast eval gram table
    - keep_{image,audio,video}: the batch's owned assets (the
      manifest columns) decoded and screened against the persisted
      signature indexes + per-asset quality screens; the keep bit's
      presence flags are the manifest generator's own projection
      (am_media_flag) on the batch rows — a join against the manifest
      would cost one more Exchange for the same columns.

    Per-batch cost surgery (r14, VERDICT r13 ask #2). Measured
    decomposition of the old ~8.6 s/batch fixture-volume floor
    (SCALE.md r14 addendum): ~5 s was PLAN CONSTRUCTION — PySpark
    analyzes eagerly on every transformation, so a ~100-op per-batch
    plan pays O(ops x tree) analyzer work plus a py4j round-trip per
    op — and only ~4 s was execution; job-submission overhead (the
    r13 hypothesis) was noise. Three changes attack the real costs:

    - heavy legs end in materialize(): the returned frame is
      a LEAF (LogicalRDD), so the verdict tail's joins analyze flat
      trees and the single write action executes shallow adaptive
      plans (~4.3 s -> ~1.7 s execution, measured);
    - the leg builds (analysis + the toRdd physical planning the lazy
      checkpoint forces) run as parallel legs, overlapping py4j
      round-trips and JVM analyzer work across legs;
    - the incoming MinHash side uses the stateless expression family
      (minhash_screen_expr_over): shingle sets, sizes, and band
      hashes in ONE per-row select — no explode+groupBy-MIN shuffle
      and a fraction of the plan ops.

    The batch pipeline_ingest_admission is this frame over the whole
    shard; it has no eager legs of its own."""
    from mit_mapreduce_spark.operators.curation import (
        EMAIL_RE, EVAL_MOD, ID_RE, IP_RE, PHONE_RE, pii_payload_col,
    )
    from mit_mapreduce_spark.operators.curation import (
        _letter_tokens, _ngram_arr, CONTAM_NGRAM,
    )
    from mit_mapreduce_spark.operators.dedup import minhash_screen_expr_over
    from mit_mapreduce_spark.operators.similarity import embed_screen_frame

    # lazy pin (r14): the batch scan materializes once, inside the
    # verdict write action itself — an eager pin would cost one extra
    # job submission per micro-batch
    batch_docs = materialize(batch_docs)
    ids = batch_docs.select("doc_id")
    # the PII count is a pure projection (regex expressions over the
    # door doc's text, PII seeded into the fixture subset); a NULL text
    # carries no PII (COALESCE on BOTH engines — without it Spark's
    # CAST keeps the NULL while DuckDB's CASE folds it to 0, a fuzz
    # find). r13: the four-pattern battery (email, IPv4, phone, ID).
    pii_mod, pii_rem = PII_SEED
    payload = F.when(F.col("doc_id") % pii_mod == pii_rem,
                     pii_payload_col()).otherwise(F.col("text"))
    n_pii = F.coalesce(
        (F.size(F.regexp_extract_all(payload, F.lit(EMAIL_RE), F.lit(0)))
         + F.size(F.regexp_extract_all(payload, F.lit(IP_RE), F.lit(0)))
         + F.size(F.regexp_extract_all(payload, F.lit(PHONE_RE),
                                       F.lit(0)))
         + F.size(F.regexp_extract_all(payload, F.lit(ID_RE), F.lit(0)))
         ).cast("bigint"),
        F.lit(0).cast("bigint"))
    inc_docs = batch_docs.select(
        "doc_id", "lang", "source", n_pii.alias("_npii"),
        *[am_media_flag(m) for m in MEDIA])

    # Only the HEAVY legs (band screens, the semantic screen) end in
    # materialize(): a leaf costs a toRdd physical planning at build,
    # which the cheap projection legs don't amortize.
    def _td():
        return (batch_docs.where(F.col("text").isNotNull())
                .select("doc_id", norm_fp_col().alias("_fp"))
                .join(ctx["corpus_fps"], "_fp", "left_semi")
                .select("doc_id", F.lit(True).alias("_tdup")))

    def _mh():
        return materialize(minhash_screen_expr_over(
            batch_docs, ctx["corpus_sh"], ctx["corpus_sizes"],
            ctx["corpus_bands"])
            .select("doc_id", F.col("is_neardup").alias("_mhnd")))

    def _sem():
        return materialize(embed_screen_frame(
            spark, sf_dir, inc_col("vec_id"), bk=ctx["emb_bk"],
            inc_ids=ids.select(F.col("doc_id").alias("vec_id")),
            sides=ctx.get("emb_sides"))
            .select(F.col("vec_id").alias("doc_id"),
                    F.col("is_neardup").alias("_snd")))

    def _ct():
        grams = (batch_docs
                 .where(F.col("doc_id") % EVAL_MOD != 0)
                 .select("doc_id", _letter_tokens().alias("_toks"))
                 .select("doc_id", F.explode(F.array_distinct(
                     _ngram_arr(CONTAM_NGRAM))).alias("gram")))
        return (grams.join(F.broadcast(ctx["eval_grams"]), "gram")
                .groupBy("doc_id")
                .agg(F.countDistinct("gram").alias("_nsh")))

    def _owned(flag: str):
        return (batch_docs.select("doc_id")
                .join(ctx["manifest"].where(F.col(flag))
                      .select("doc_id"), "doc_id", "left_semi"))

    def _scr(m: Media, idx_sigs: DataFrame):
        owned = _owned(m.flag)
        return materialize(incremental_screen(
            owned.select(F.col("doc_id").alias("asset_id")),
            m.sigs(owned), idx_sigs, FP_BANDS, FP_BAND_BITS, FP_HAM_MAX)
            .select(F.col("asset_id").alias("doc_id"),
                    F.col("is_neardup").alias(f"_{m.letter}nd")))

    def _q(m: Media):
        return (m.screen_from(_owned(m.flag))
                .select(F.col("asset_id").alias("doc_id"),
                        F.col("passes").alias(f"_{m.letter}qp")))

    td, mh, sem, ct, *media_legs = parallel_legs(
        _td, _mh, _sem, _ct,
        *(partial(_scr, m, idx) for m, idx in ctx["media"].items()),
        *(partial(_q, m) for m in ctx["media"]))
    n_media = len(ctx["media"])

    legs = (inc_docs.join(td, "doc_id", "left").join(mh, "doc_id", "left")
            .join(sem, "doc_id", "left").join(ct, "doc_id", "left")
            .join(ctx["g"], "doc_id").join(ctx["r"], "doc_id")
            .join(ctx["lm"], "doc_id", "left"))
    for scr, q in zip(media_legs[:n_media], media_legs[n_media:]):
        legs = legs.join(scr, "doc_id", "left").join(q, "doc_id", "left")
    return _admission_verdicts(legs)


@query(
    "pipeline_ingest_report",
    oracle=f"""
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(keep_text) AS BIGINT) AS n_text_new,
           CAST(SUM(keep_semantic) AS BIGINT) AS n_semantic_pass,
           CAST(SUM(keep_quality) AS BIGINT) AS n_quality_pass,
           CAST(SUM(keep_clean) AS BIGINT) AS n_clean_pass,
           CAST(SUM(keep_image) AS BIGINT) AS n_image_pass,
           CAST(SUM(keep_audio) AS BIGINT) AS n_audio_pass,
           CAST(SUM(keep_video) AS BIGINT) AS n_video_pass,
           CAST(SUM(admit) AS BIGINT) AS n_admitted,
           CAST(CAST(SUM(admit) AS DOUBLE) / COUNT(*) AS DOUBLE)
             AS admit_frac
    FROM ({{m}}) m
    GROUP BY lang, source
    """.format(m=_sql_admission()),
)
def pipeline_ingest_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) accounting over the daily-ingest admission
    table — the sign-off number of a continuous ingest run ("today's
    shard from source Y in language X: N docs arrived, M admitted
    after the text, semantic, quality, clean, and media screens"),
    the at-the-door twin of pipeline_multimodal_ready. One
    aggregation over pipeline_ingest_admission, built afresh; the
    keep_* sums count absent modalities as passes, matching the
    admission's sparse semantics."""
    m = pipeline_ingest_admission(spark, sf_dir)
    return (
        m.groupBy("lang", "source")
        .agg(F.count("*").cast("bigint").alias("n_docs"),
             F.sum("keep_text").cast("bigint").alias("n_text_new"),
             F.sum("keep_semantic").cast("bigint")
             .alias("n_semantic_pass"),
             F.sum("keep_quality").cast("bigint").alias("n_quality_pass"),
             F.sum("keep_clean").cast("bigint").alias("n_clean_pass"),
             F.sum("keep_image").cast("bigint").alias("n_image_pass"),
             F.sum("keep_audio").cast("bigint").alias("n_audio_pass"),
             F.sum("keep_video").cast("bigint").alias("n_video_pass"),
             F.sum("admit").cast("bigint").alias("n_admitted"))
        .select("lang", "source", "n_docs", "n_text_new",
                "n_semantic_pass", "n_quality_pass", "n_clean_pass",
                "n_image_pass", "n_audio_pass",
                "n_video_pass", "n_admitted",
                (F.col("n_admitted").cast("double")
                 / F.col("n_docs").cast("double"))
                .cast("double").alias("admit_frac"))
    )
