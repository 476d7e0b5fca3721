"""Round-12 operators: data-driven asset-manifest presence, the
embedding incremental screen, the image/video streaming alerts, and
the admission's semantic + clean gates."""

import pyspark.sql.functions as F
import pytest

from mit_mapreduce_spark import operators
from mit_mapreduce_spark.catalog import load_table
from mit_mapreduce_spark.operators import mmdedup
from mit_mapreduce_spark.operators.banding import inc_col

operators.load_all()


# --- asset manifest: presence is data --------------------------------------

def test_asset_manifest_matches_generators_and_embeddings(spark, sf_dir):
    """The manifest table's media flags must equal the fixture
    generators (the ONE predicate spelling) and has_embedding must
    equal actual membership in the embeddings table — presence read
    back as data agrees with the data."""
    rows = operators.QUERIES["asset_manifest"](spark, sf_dir).collect()
    vec_ids = {r.vec_id for r in load_table(spark, sf_dir, "embeddings")
               .select("vec_id").collect()}
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    for r in rows:
        for flag, (mod, rem) in mmdedup.AM_MEDIA_FLAGS.items():
            assert getattr(r, flag) == (r.doc_id % mod != rem)
        assert r.has_embedding == (r.doc_id in vec_ids)


def test_present_docs_reads_the_manifest_column(spark, sf_dir):
    """_present_docs must equal the manifest rows whose flag is set —
    the consumers read the column, never re-derive arithmetic."""
    for absent in mmdedup.AM_MEDIA_FLAGS.values():
        flag = mmdedup._ABSENT_TO_FLAG[absent]
        got = {r.doc_id for r in
               mmdedup._present_docs(spark, sf_dir, absent).collect()}
        want = {r.doc_id for r in
                operators.QUERIES["asset_manifest"](spark, sf_dir)
                .where(F.col(flag)).collect()}
        assert got == want and got


# --- embedding incremental screen ------------------------------------------

def _embed_bruteforce(sf_dir):
    """numpy brute force of the embed screen's exact contract:
    banded sign-LSH candidates (away-from-zero scaled-int rounding,
    MSB-first bits), exact scaled-int cosine >= tau, best (max
    cosine, tie min id) per incoming vector."""
    import numpy as np
    import pyarrow.parquet as pq

    from mit_mapreduce_spark.operators import similarity as sim
    from mit_mapreduce_spark.operators.banding import INC_LT, INC_MOD

    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    vid = np.array(t["vec_id"])
    emb = np.array([np.array(e, dtype=np.float64)
                    for e in t["embedding"].to_pylist()])

    def rnd(x):  # ROUND half away from zero, the Spark/DuckDB tie rule
        return np.sign(x) * np.floor(np.abs(x) + 0.5)

    planes = np.array(sim._screen_planes())  # (B, P, D)
    B, P, _ = planes.shape
    nrm2 = rnd(emb * emb * sim.SCALE).sum(axis=1)
    verdict = {}
    inc = (vid % INC_MOD) < INC_LT
    for i in np.where(inc)[0]:
        verdict[int(vid[i])] = None
    buckets = np.zeros((len(vid), B), dtype=int)
    for b in range(B):
        for p in range(P):
            s = rnd(planes[b, p][None, :] * emb * sim.SCALE).sum(axis=1)
            buckets[:, b] = buckets[:, b] * 2 + (s >= 0)
    for i in np.where(inc & (nrm2 > 0))[0]:
        best = None
        for x in np.where(~inc & (nrm2 > 0))[0]:
            if not (buckets[i] == buckets[x]).any():
                continue
            cos = rnd(emb[i] * emb[x] * sim.SCALE).sum() \
                / np.sqrt(nrm2[i] * nrm2[x])
            if cos >= sim.EMB_SCR_TAU and (
                    best is None or (cos, -vid[x]) > (best[0], -best[1])):
                best = (float(cos), int(vid[x]))
        if best is not None:
            verdict[int(vid[i])] = best
    return verdict


def test_embed_screen_matches_bruteforce(spark, sf_dir):
    """The banded one-sided LSH screen must equal a quadratic numpy
    brute force of the identical contract — candidates, exact
    cosines, and the best-pick tie order all agree."""
    want = _embed_bruteforce(sf_dir)
    rows = operators.QUERIES["embed_neardup_incremental"](
        spark, sf_dir).collect()
    assert {r.vec_id for r in rows} == set(want)
    n_hit = 0
    for r in rows:
        w = want[r.vec_id]
        if w is None:
            assert not r.is_neardup and r.matched_id is None
        else:
            n_hit += 1
            assert r.is_neardup and r.matched_id == w[1]
            assert abs(r.cosine - w[0]) < 1e-12
    # the fixture must exercise BOTH verdicts
    assert 0 < n_hit < len(rows)


# --- image/video streaming alerts ------------------------------------------

def _owner_screen(spark, sf_dir, m):
    """The admission screen-leg composition (incremental_screen over
    the manifest-flagged owner set) — the batch twin of the
    presence-filtered alert legs (r13)."""
    from mit_mapreduce_spark.operators.banding import incremental_screen
    from mit_mapreduce_spark.operators.multimodal import _PHASH_SCHEMA

    owners = mmdedup._present_docs(spark, sf_dir, m.absent)
    sigs = (m.fixture_from(owners)
            .mapInPandas(m.kernel, _PHASH_SCHEMA)
            .localCheckpoint(eager=False))
    inc = inc_col("asset_id")
    return incremental_screen(
        owners.select(F.col("doc_id").alias("asset_id"))
        .where(inc_col("asset_id")),
        sigs.where(inc), sigs.where(~inc), mmdedup.FP_BANDS,
        mmdedup.FP_BAND_BITS, mmdedup.FP_HAM_MAX)


@pytest.mark.parametrize("m", [mmdedup.IMAGE, mmdedup.VIDEO],
                         ids=["image", "video"])
def test_alert_legs_consistent_with_incremental_screens(spark, sf_dir, m):
    """An incoming OWNED asset raises an alert iff the owner-
    restricted batch screen (the admission's screen-leg composition —
    r13: the alert legs read ownership from the asset manifest, so
    their batch twin is presence-filtered too) flags it as a
    near-dup, and the alerted pair set contains the screen's best
    match."""
    alerts = operators.QUERIES[m.alerts_name](spark, sf_dir).collect()
    screen = _owner_screen(spark, sf_dir, m).collect()
    alerted = {r.asset_id for r in alerts}
    flagged = {r.asset_id for r in screen if r.is_neardup}
    assert alerted == flagged and alerted
    pairs = {(r.asset_id, r.matched_id) for r in alerts}
    for r in screen:
        if r.is_neardup:
            assert (r.asset_id, r.matched_id) in pairs


# --- semantic persisted-index loop closure ----------------------------------

def test_embedding_index_roundtrip_reproduces_screen(
        spark, sf_dir, tmp_path):
    """Close the semantic tier's continuous-ingest loop (the r11
    media pattern): the STREAMED bucket index drained to a parquet
    sink must (a) equal the batch screen's bucket table row-for-row —
    pinning the stateless expression form against the explode+join
    codegen form, two implementations of one definition — and (b)
    when the screen re-runs FROM the persisted table, reproduce the
    registered verdicts exactly."""
    from mit_mapreduce_spark.catalog import fan_out
    from mit_mapreduce_spark.operators import similarity as sim
    from mit_mapreduce_spark.operators.banding import inc_col

    drained = operators.QUERIES["stream_embedding_index"](spark, sf_dir)
    out = str(tmp_path / "embedding_index")
    drained.write.mode("overwrite").parquet(out)
    persisted = spark.read.parquet(out)

    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    batch_bk = sim._screen_buckets(emb)
    key = ["vec_id", "band_idx", "bucket", "nsq"]
    assert sorted(map(tuple, persisted.select(*key).collect())) \
        == sorted(map(tuple, batch_bk.select(*key).collect()))

    via_index = sim.embed_screen_frame(
        spark, sf_dir, inc_col("vec_id"), bk=persisted).collect()
    registered = operators.QUERIES["embed_neardup_incremental"](
        spark, sf_dir).collect()
    as_map = lambda rows: {  # noqa: E731
        r.vec_id: (r.matched_id, r.cosine, r.is_neardup) for r in rows}
    assert as_map(via_index) == as_map(registered)


def test_text_fingerprint_roundtrip_reproduces_exact_gate(
        spark, sf_dir, tmp_path):
    """The drained text-fingerprint table, persisted and read back,
    must reproduce the exact text gate's dup set when the gate's
    semi-join runs against it (the corpus fingerprint set is
    maintainable at ingest, never re-fingerprinted per shard) — and
    on a planted fixture where a shard doc's normalized text exists
    in the retained corpus, the gate fires. The real fixture carries
    no exact cross-split text dup below sf0.1 (measured 0/0/4 at the
    three SFs), so the firing branch is pinned on the planted frame,
    the equality on the real one."""
    from mit_mapreduce_spark.operators.banding import inc_col
    from mit_mapreduce_spark.operators.mmdedup import norm_fp_col

    drained = operators.QUERIES["stream_text_fingerprints"](
        spark, sf_dir)
    out = str(tmp_path / "text_fps")
    drained.write.mode("overwrite").parquet(out)
    persisted = spark.read.parquet(out)

    def dup_set(fps):
        inc = inc_col("doc_id")
        corpus = fps.where(~inc).select("fingerprint").distinct()
        return {r.doc_id for r in fps.where(inc)
                .join(corpus, "fingerprint", "left_semi")
                .select("doc_id").collect()}

    batch_fps = (load_table(spark, sf_dir, "documents")
                 .where(F.col("text").isNotNull())
                 .select("doc_id", norm_fp_col().alias("fingerprint")))
    assert dup_set(persisted) == dup_set(batch_fps)

    # planted firing branch: doc 3 (shard) reposts doc 47's (index)
    # text modulo whitespace/case — the normalized gate must flag
    # exactly it
    planted = spark.createDataFrame(
        [(3, "  The QUICK   brown fox "), (4, "something else"),
         (47, "the quick brown fox"), (48, "unrelated")],
        "doc_id long, text string"
    ).select("doc_id", norm_fp_col().alias("fingerprint"))
    assert dup_set(planted) == {3}


# --- admission r12 gates ----------------------------------------------------

def test_admission_semantic_gate_matches_embed_screen(spark, sf_dir):
    """keep_semantic must equal the independently-run embedding
    screen's NOT is_neardup for every shard doc that owns a vector,
    and pass for docs that own none — the admission composes, never
    re-derives."""
    screen = {r.vec_id: r.is_neardup for r in operators.QUERIES[
        "embed_neardup_incremental"](spark, sf_dir).collect()}
    rows = operators.QUERIES["pipeline_ingest_admission"](
        spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r.doc_id in screen:
            assert r.keep_semantic == int(not screen[r.doc_id])
        else:
            assert r.keep_semantic == 1


def test_admission_clean_gate_composes_pii_and_contamination(
        spark, sf_dir):
    """keep_clean must be: not an eval-set doc AND not PII-seeded
    (the raw corpus carries no PII, so only the seeded subset can
    fail the PII term) AND under the contamination threshold as
    counted by the registered contamination_ngrams op."""
    from mit_mapreduce_spark.operators.curation import EVAL_MOD

    contam = {r.doc_id: r.n_shared_ngrams for r in operators.QUERIES[
        "contamination_ngrams"](spark, sf_dir).collect()}
    rows = operators.QUERIES["pipeline_ingest_admission"](
        spark, sf_dir).collect()
    pii_mod, pii_rem = mmdedup.PII_SEED
    for r in rows:
        want = (r.doc_id % EVAL_MOD != 0
                and r.doc_id % pii_mod != pii_rem
                and contam.get(r.doc_id, 0) < mmdedup.CONTAM_MAX_SHARED)
        assert r.keep_clean == int(want), r.doc_id
    # both failure causes must be present on the fixture
    assert any(r.doc_id % pii_mod == pii_rem for r in rows)
    assert any(contam.get(r.doc_id, 0) >= mmdedup.CONTAM_MAX_SHARED
               for r in rows)


def test_lying_manifest_row_quarantines_not_misgates(spark):
    """A manifest row that CLAIMS an asset which never produced a
    quality verdict (undecodable payload, or the payload never
    arrived) must FAIL the media gate — quarantine, not a silent
    pass; and a row that claims absence passes regardless."""
    frame = spark.createDataFrame(
        [
            # (doc_id, has_audio, cluster_id, quality_passes)
            (10, False, None, None),   # absent -> pass outright
            (11, True, 11, True),      # owned, canonical, quality ok
            (12, True, 12, None),      # LYING row: no quality verdict
            (13, True, 99, True),      # owned, not canonical
        ],
        "doc_id long, has_audio boolean, _acl long, _aqp boolean")
    gate = mmdedup.keep_media_gate(
        "has_audio", F.col("_acl") == F.col("doc_id"), "_aqp")
    got = {r.doc_id: r.keep for r in
           frame.select("doc_id", gate.alias("keep")).collect()}
    assert got == {10: True, 11: True, 12: False, 13: False}
