"""Streaming throughput capture at bench scale (SCALE.md §Streaming).

The pytest throughput gate (tests/test_streaming.py::
test_streaming_throughput_keeps_up) proves the engine keeps up at
test scale; this module records the BENCH-scale figures the round-5
verdict asked for (#7): the two heaviest stateful plans driven over
the sf0.1 events table as a REAL multi-micro-batch stream.

Protocol: stage events as N_SPLITS parquet files, stream them with
``maxFilesPerTrigger=1`` under an availableNow trigger — so the query
runs exactly N_SPLITS data micro-batches back-to-back, the same
cadence shape as a production Kafka drain — through:

- ``sessionize``: watermark + session_window + count/min/max/
  exact-decimal sum (the native stateful session operator), and
- ``heavy_hitters``: the applyInPandasWithState space-saving sketch
  (bounded O(capacity) state per event type).

Run: ``python -m mit_mapreduce_spark.streambench [sf_dir]``
Prints one JSON line per query: rows, micro-batches, wall seconds,
rows/sec, batches/sec. Figures are pasted into SCALE.md §Streaming.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

from pyspark.sql import functions as F

from mit_mapreduce_spark.functions.numeric import dsum
from mit_mapreduce_spark.session import (
    get_spark, parallel_legs, stream_session, tune,
)
from mit_mapreduce_spark.streaming import (
    _SCRATCH, STATE_PARTITIONS, drain_via_batch, sf_key,
)

N_SPLITS = 12
SESSION_GAP = "4 hours"


def _staged_table_splits(spark, sf_dir: str, table: str) -> str:
    """<table>.parquet re-staged as N_SPLITS files (one per trigger);
    one staging helper for every leg (events; documents since r9)."""
    stage = os.path.join(_SCRATCH, f"streambench_{table}_{sf_key(sf_dir)}")
    marker = os.path.join(stage, "_STAGED")
    src = os.path.join(sf_dir, f"{table}.parquet")
    if (not os.path.exists(marker)
            or os.path.getmtime(marker) < os.path.getmtime(src)):
        shutil.rmtree(stage, ignore_errors=True)
        (spark.read.parquet(src).repartition(N_SPLITS)
         .write.mode("overwrite").parquet(stage))
        open(marker, "w").close()
    return stage


def _drive(stream_df, mode: str, name: str) -> dict:
    """availableNow drain with per-file triggers; returns the figures.
    The state stores take their count from the session the stream was
    built in (``ss``, sized STATE_PARTITIONS, in ``main``)."""
    spark = stream_df.sparkSession
    t0 = time.monotonic()
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode(mode).trigger(availableNow=True).start())
    q.awaitTermination()
    wall = time.monotonic() - t0
    progress = [json.loads(p.json) for p in q.recentProgress]
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    rows = sum(p["numInputRows"] for p in data)
    return {
        "rows": rows,
        "micro_batches": len(data),
        "wall_sec": round(wall, 2),
        "rows_per_sec": round(rows / wall),
        "batches_per_sec": round(len(data) / wall, 2),
        "out_rows": spark.table(name).count(),
    }


def main(sf_dir: str) -> dict:
    spark = get_spark("streambench")
    spark.sparkContext.setLogLevel("ERROR")
    tune(spark)
    # the state-sized streams below are built in this child (_drive);
    # the admission leg builds its own 2-partition one
    ss = stream_session(spark, STATE_PARTITIONS)
    stage = _staged_table_splits(spark, sf_dir, "events")
    from mit_mapreduce_spark.catalog import _normalize_event_ts

    schema = spark.read.parquet(stage).schema

    def source():
        raw = (ss.readStream.schema(schema)
               .option("maxFilesPerTrigger", 1).parquet(stage))
        return _normalize_event_ts(raw)

    results = {}

    ev = source().withWatermark("ts", "1 hour")
    sess = (
        ev.groupBy(F.session_window("ts", SESSION_GAP).alias("sw"),
                   "user_id")
        .agg(F.count("*").alias("n_events"),
             F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"),
             dsum("value", "sum_value"))
        .select("user_id", "n_events", "session_start", "session_end",
                "sum_value")
    )
    results["sessionize"] = _drive(sess, "complete", "sb_sessionize")

    from pyspark.sql.streaming.state import GroupStateTimeout

    from mit_mapreduce_spark.operators.streaming_queries import (
        _heavy_hitters_fn, _HH_OUT_SCHEMA, _HH_STATE_SCHEMA,
    )

    hh = (
        source().select("event_type", "user_id")
        .groupBy("event_type")
        .applyInPandasWithState(
            _heavy_hitters_fn,
            outputStructType=_HH_OUT_SCHEMA,
            stateStructType=_HH_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    results["heavy_hitters"] = _drive(hh, "update", "sb_heavy_hitters")

    dec = (
        source().select("user_id", F.to_date("ts").alias("day"))
        .groupBy("user_id", "day")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    results["decayed_counters"] = _drive(dec, "complete",
                                         "sb_decayed_counters")

    # multimodal ingest audit (r9): the documents manifest staged as
    # per-trigger splits, each micro-batch building all THREE
    # modalities' payloads (JVM chains + Arrow encode kernels),
    # corrupting every Nth asset, and probing the real parsers —
    # numInputRows counts each doc once per modality source, i.e.
    # ASSETS built, so rows_per_sec is assets/sec through the full
    # encode -> corrupt -> parse pipeline. The pipeline is the batch
    # op's own shared builders, not a third copy.
    from mit_mapreduce_spark.operators.multimodal import (
        quarantine_probes, quarantine_report_agg,
    )

    dstage = _staged_table_splits(spark, sf_dir, "documents")
    dschema = spark.read.parquet(dstage).schema
    def doc_source():
        return (ss.readStream.schema(dschema)
                .option("maxFilesPerTrigger", 1).parquet(dstage))

    mm = quarantine_report_agg(quarantine_probes(doc_source()))
    results["multimodal_ingest"] = {
        # the 3x convention travels IN the record (ADVICE r9 #2):
        # rows_per_sec counts assets (3 modality sources per doc),
        # so consumers can divide by assets_per_doc for docs/sec
        **_drive(mm, "complete", "sb_mm_ingest"),
        "assets_per_doc": 3,
    }

    # fingerprint-at-ingest (r10): per micro-batch WAV build + real
    # decode + energy-sign fingerprint, append-mode signature drain
    # (the AUDIO row's stream_audio_fingerprints pipeline); rows_per_sec
    # = docs/sec through the full build -> decode -> fingerprint path.
    from mit_mapreduce_spark.operators.banding import inc_col
    from mit_mapreduce_spark.operators.mmdedup import AUDIO, MEDIA
    from mit_mapreduce_spark.operators.streaming_queries import alert_stream

    results["audio_fingerprints"] = _drive(
        AUDIO.sigs(doc_source()), "append", "sb_audio_fp")

    # near-dup alert at ingest (r11; one leg per MEDIA row since r12):
    # the registered alert legs' own frame (streaming_queries.
    # alert_stream) over this per-file source — per micro-batch
    # fingerprint of the shard's manifest-owned assets, stream-static
    # band join against the owners' corpus signature index, radius
    # filter, per-pair dedup state. NOTE on units (review find):
    # numInputRows counts every staged manifest doc READ (the shard
    # filter runs after the file source), so rows_per_sec is
    # manifest-docs/s; the record carries shard_docs so consumers can
    # derive the per-SHARD-doc rate.
    inc_pred = inc_col("doc_id")
    shard_docs = spark.read.parquet(dstage).where(inc_pred).count()
    for m in MEDIA:
        leg = m.alerts_name.removeprefix("stream_")
        fig = _drive(alert_stream(spark, sf_dir, m, doc_source()),
                     "append", f"sb_{leg}")
        results[leg] = {
            **fig,
            "shard_docs": shard_docs,
            # un-inflated rate (ADVICE r13): rows_per_sec counts every
            # staged manifest doc the file source READ; this is the
            # per-gated-doc rate.
            "shard_rows_per_sec": round(shard_docs / fig["wall_sec"])
            if fig["wall_sec"] else None,
        }

    # semantic-index maintenance (r12): per micro-batch banded
    # sign-LSH bucketing of the vector stream, append-mode index
    # drain (stream_embedding_index's pipeline); rows_per_sec =
    # vectors/sec through the stateless expression form.
    from mit_mapreduce_spark.operators.similarity import (
        embedding_index_frame,
    )

    estage = _staged_table_splits(spark, sf_dir, "embeddings")
    eschema = spark.read.parquet(estage).schema
    e_source = (ss.readStream.schema(eschema)
                .option("maxFilesPerTrigger", 1).parquet(estage))
    results["embedding_index"] = _drive(
        embedding_index_frame(e_source), "append", "sb_embed_idx")

    # quality-at-ingest (r11): per micro-batch WAV build + real
    # decode + integer-DSP screen, append-mode verdict drain
    # (stream_audio_quality's pipeline); rows_per_sec = docs/sec
    # through the full build -> decode -> screen path.
    from mit_mapreduce_spark.operators.mmquality import _audio_screen_from

    results["audio_quality"] = _drive(
        _audio_screen_from(doc_source()), "append", "sb_audio_q")

    # streaming admission twin (r13): the composed seven-way gate per
    # micro-batch through stream_ingest_admission's drain — the number
    # the capstone's 100 TB posture rests on is PER-BATCH cost against
    # warm static sides, so the ctx (the persisted index tables a
    # production deployment maintains continuously) is materialized
    # OUTSIDE the timed window; NOTE `rows` counts every staged
    # manifest doc the source reads (the shard filter runs after the
    # file source), so the record carries shard_docs like the alert
    # legs.
    from mit_mapreduce_spark.operators.mmdedup import (
        admission_batch_frame, admission_static_ctx,
    )

    from pyspark.sql import DataFrame as _DF

    ctx = admission_static_ctx(spark, sf_dir)
    frames = [v for v in ctx.values() if isinstance(v, _DF)]
    frames += ctx["media"].values()
    parallel_legs(*(f.count for f in frames))
    # match the registered twin's per-batch sizing (r14 surgery): the
    # batches run in clones of a 2-partition child session
    a_source = (stream_session(spark, 2).readStream.schema(dschema)
                .option("maxFilesPerTrigger", 1).parquet(dstage)
                .where(inc_pred))
    batches = 0

    def _admit(batch_df):
        nonlocal batches
        batches += 1
        return admission_batch_frame(batch_df.sparkSession, sf_dir,
                                     batch_df, ctx)

    staged = spark.read.parquet(dstage)
    rows = staged.count()
    shard_docs = staged.where(inc_pred).count()
    t0 = time.monotonic()
    admitted = drain_via_batch(a_source, _admit, "sb_admit", sf_dir)
    wall = time.monotonic() - t0
    results["ingest_admission"] = {
        "rows": rows,
        "micro_batches": batches,
        "wall_sec": round(wall, 2),
        "rows_per_sec": round(rows / wall),
        "batches_per_sec": round(batches / wall, 2),
        "out_rows": admitted.count(),
        "shard_docs": shard_docs,
        # un-inflated headline (ADVICE r13): `rows` counts every
        # staged manifest doc BEFORE the shard filter (~6.7x the rows
        # actually gated); this is the per-admitted-row rate.
        "shard_rows_per_sec": round(shard_docs / wall) if wall else None,
    }

    for name, fig in results.items():
        print(json.dumps({"query": name, "sf_dir": sf_dir, **fig}))
    return results


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1")
