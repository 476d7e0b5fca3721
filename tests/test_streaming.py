"""Streaming↔batch parity: the streaming queries are oracle-exempt in
the driver contract, so their correctness gate lives here — the
streaming result must equal the corresponding batch query exactly.
"""

import json

from pyspark.sql import functions as F

from mit_mapreduce_spark import operators
from mit_mapreduce_spark.operators.registry import QUERIES

operators.load_all()


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_stream_tumbling_equals_batch(spark, sf_dir):
    stream = QUERIES["stream_tumbling_hourly"](spark, sf_dir)
    batch = QUERIES["tumbling_hourly"](spark, sf_dir)
    cols = ["window_start", "event_type", "n_events", "sum_value"]
    assert _rows(stream, cols) == _rows(batch, cols)


def test_stream_sessionize_equals_batch(spark, sf_dir):
    stream = QUERIES["stream_sessionize"](spark, sf_dir)
    batch = QUERIES["sessionize"](spark, sf_dir)
    cols = ["user_id", "n_events", "session_start", "session_end", "sum_value"]
    assert _rows(stream, cols) == _rows(batch, cols)


def test_stream_user_stats_equals_batch_groupby(spark, sf_dir):
    """applyInPandasWithState accumulators must equal a batch groupBy."""
    from mit_mapreduce_spark.catalog import load_table
    from mit_mapreduce_spark.functions.numeric import dsum

    stream = QUERIES["stream_user_stats"](spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    batch = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        dsum("value", "sum_value"),
        F.max("ts").alias("last_ts"),
    )
    cols = ["user_id", "n_events", "sum_value", "last_ts"]
    assert _rows(stream, cols) == _rows(batch, cols)


def test_stream_interval_join_equals_batch(spark, sf_dir):
    """Stream-stream interval join must equal the batch self-join."""
    from mit_mapreduce_spark.catalog import load_table

    stream = QUERIES["stream_interval_join"](spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id"),
        F.col("ts").alias("click_ts"))
    errors = ev.where(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"), F.col("ts").alias("err_ts"),
        F.col("value").alias("err_value"))
    batch = clicks.join(
        errors,
        (F.col("user_id") == F.col("e_user"))
        & (F.col("err_ts") >= F.col("click_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("err_ts") <= F.col("click_ts")),
    ).select("click_id", "user_id", "click_ts", "err_ts", "err_value")
    cols = ["click_id", "user_id", "click_ts", "err_ts", "err_value"]
    assert _rows(stream, cols) == _rows(batch, cols)


def test_watermark_drops_late_data(spark, tmp_path):
    """Late-data + recovery semantics: the watermark persisted in the
    checkpoint survives a restart, and an event arriving afterwards
    that is older than the watermark is dropped from the append-mode
    windowed aggregate (a batch query over the same files keeps it).

    Two checkpointed availableNow runs model the restart. (Within a
    SINGLE availableNow run, Spark 4.1 plans all file batches up front
    and the late-record filter does not apply a watermark advanced by
    an earlier planned batch — observed empirically; the durable-
    checkpoint restart is the documented cross-run semantics.)"""
    import pandas as pd

    d = tmp_path / "late_events"
    cp = tmp_path / "ckpt"
    out = tmp_path / "out"
    d.mkdir()

    def run_once():
        stream = (
            spark.readStream.schema("user_id BIGINT, ts TIMESTAMP")
            .parquet(str(d))
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(cp))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: three on-time events in the 10:00 window; final watermark
    # 09:45 is committed to the checkpoint.  datetime64[us]: a NANOS
    # timestamp would arrive as LONG under nanosAsLong (session.tune).
    pd.DataFrame({
        "user_id": [1, 1, 2],
        "ts": pd.to_datetime(["2024-01-01 10:05", "2024-01-01 10:15",
                              "2024-01-01 10:45"]).astype("datetime64[us]"),
    }).to_parquet(d / "a.parquet")
    run_once()

    # run 2 (restart): one event 9h older than the recovered watermark
    # plus one fresh event that advances the watermark past 11:00.
    pd.DataFrame({
        "user_id": [1, 3],
        "ts": pd.to_datetime(["2024-01-01 00:30",
                              "2024-01-01 12:30"]).astype("datetime64[us]"),
    }).to_parquet(d / "b.parquet")
    run_once()

    got = {(r.ws.hour, r.n) for r in spark.read.parquet(str(out)).collect()}
    # the 10:00 window finalized with only the on-time rows; the late
    # 00:30 row was dropped (no 00:00 window); 12:30's window is open
    assert got == {(10, 3)}, got

    batch = (
        spark.read.schema("user_id BIGINT, ts TIMESTAMP").parquet(str(d))
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    batch_hours = {r.w.start.hour for r in batch.collect()}
    assert 0 in batch_hours and 12 in batch_hours  # batch keeps both


def test_stream_dedup_equals_batch_distinct(spark, sf_dir):
    """Watermarked streaming dedup must emit exactly the distinct keys."""
    from mit_mapreduce_spark.catalog import load_table

    stream = QUERIES["stream_dedup"](spark, sf_dir)
    batch = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type").distinct()
    cols = ["user_id", "event_type"]
    assert _rows(stream, cols) == _rows(batch, cols)


def test_stream_sliding_equals_batch_window(spark, sf_dir):
    """Hopping-window streaming aggregate must equal the same batch
    window expression (every event in exactly 4 overlapping windows)."""
    from mit_mapreduce_spark.catalog import load_table
    from mit_mapreduce_spark.functions.numeric import dsum

    stream = QUERIES["stream_sliding_windows"](spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    batch = (
        ev.groupBy(F.window("ts", "2 hours", "30 minutes").alias("w"),
                   "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value", "sum_value"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "event_type", "n_events", "sum_value")
    )
    cols = ["window_start", "window_end", "event_type", "n_events", "sum_value"]
    assert _rows(stream, cols) == _rows(batch, cols)

    n_events_total = ev.count()
    per_window_sum = stream.agg(F.sum("n_events")).collect()[0][0]
    assert per_window_sum == 4 * n_events_total


def test_stream_static_enrich_equals_batch_join(spark, sf_dir):
    """Stream-static join + rollup must equal the same batch join."""
    from pyspark.sql import functions as F

    from mit_mapreduce_spark.catalog import load_table
    from mit_mapreduce_spark.functions.numeric import dsum
    from mit_mapreduce_spark.operators.streaming_queries import (
        stream_static_enrich)

    got = {tuple(r) for r in stream_static_enrich(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment")
    want = {tuple(r) for r in (
        ev.join(cust, ev.user_id == cust.c_custkey)
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count("*").alias("n_events"), dsum("value", "sum_value"))
    ).collect()}
    assert got == want


def test_stream_heavy_hitters_equals_batch_topk(spark, sf_dir):
    """With capacity > distinct users the space-saving sketch is exact:
    the streamed top-10 per event type must equal the batch groupBy
    top-10 (same (count desc, user) total order)."""
    from pyspark.sql import Window
    from mit_mapreduce_spark.catalog import load_table
    from mit_mapreduce_spark.operators.streaming_queries import (
        HH_TOP, stream_heavy_hitters)

    got = stream_heavy_hitters(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("n_events").desc(), F.col("user_id"))
    want = (
        ev.groupBy("event_type", "user_id")
        .agg(F.count("*").alias("n_events"))
        .select("event_type", "user_id", "n_events",
                F.row_number().over(w).cast("int").alias("rnk"))
        .where(F.col("rnk") <= HH_TOP)
    )
    gs = {tuple(r) for r in got.collect()}
    ws = {tuple(r) for r in want.collect()}
    assert gs == ws, (gs - ws, ws - gs)


def test_stream_foreach_batch_merge_upsert(spark, sf_dir, tmp_path):
    """Streaming CDC into a keyed table: foreachBatch + merge_upsert
    maintains per-user running aggregates across micro-batches — the
    production stream→warehouse-table pattern (Delta/Iceberg MERGE
    INTO; here the parquet write-audit-publish merge). Multiple
    micro-batches are forced with maxFilesPerTrigger=1 over a 4-file
    staging of the events fixture; the final table must equal the
    batch group-by exactly."""
    import os

    from mit_mapreduce_spark.catalog import load_table
    from mit_mapreduce_spark.sources import merge_upsert

    ev = load_table(spark, sf_dir, "events")

    stage = str(tmp_path / "ev_files")
    ev.repartition(4).write.parquet(stage)

    base_dir = str(tmp_path / "user_counts")
    (spark.createDataFrame([], "user_id bigint, n bigint, sum_value double")
     .write.parquet(base_dir))

    def upsert_batch(batch_df, batch_id):
        batch_agg = batch_df.groupBy("user_id").agg(
            F.count("*").alias("n"),
            F.sum(F.round("value", 4).cast("decimal(28,4)"))
            .alias("_sv"))
        cur = batch_df.sparkSession.read.parquet(base_dir)
        combined = (
            cur.select("user_id", "n",
                       F.round("sum_value", 4).cast("decimal(28,4)")
                       .alias("_sv"))
            .unionByName(batch_agg)
            .groupBy("user_id")
            .agg(F.sum("n").alias("n"),
                 F.sum("_sv").cast("double").alias("sum_value"))
            # merge replaces matched keys verbatim, so updates must
            # carry the already-combined row, computed BEFORE the
            # merge rewrites base_dir underneath this plan
            .localCheckpoint()
        )
        merge_upsert(batch_df.sparkSession, base_dir, combined, ["user_id"])

    q = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .writeStream.foreachBatch(upsert_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {r.user_id: (r.n, round(r.sum_value, 4))
           for r in spark.read.parquet(base_dir).collect()}
    want = {r.user_id: (r.n, round(r.sum_value, 4))
            for r in ev.groupBy("user_id").agg(
                F.count("*").alias("n"),
                F.sum(F.round("value", 4).cast("decimal(28,4)"))
                .cast("double").alias("sum_value")).collect()}
    assert got == want


def test_stream_tumbling_on_rocksdb_state_store(spark, sf_dir,
                                                monkeypatch):
    """The production state-store: RocksDB provider (bundled in Spark
    4) instead of the default in-memory HDFS-backed store — at 100 TB
    streaming state must spill off-heap and checkpoint incrementally.
    Same tumbling aggregation, same exact batch parity, state held in
    RocksDB: the drain's own progress reports RocksDB store metrics."""
    from pyspark.sql.streaming import DataStreamWriter

    from mit_mapreduce_spark.operators.events import tumbling_hourly
    from mit_mapreduce_spark.operators.streaming_queries import (
        stream_tumbling_hourly,
    )

    started = []
    start = DataStreamWriter.start

    def recording_start(self, *args, **kwargs):
        started.append(start(self, *args, **kwargs))
        return started[-1]

    monkeypatch.setattr(DataStreamWriter, "start", recording_start)
    provider = ("org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider")
    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    try:
        # drains the stream internally with the RocksDB provider active
        streamed = stream_tumbling_hourly(spark, sf_dir)
        got = sorted(map(tuple, streamed.collect()))
        cols = streamed.columns
    finally:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", old)
    want = sorted(map(tuple, tumbling_hourly(spark, sf_dir)
                      .select(*cols).collect()))
    assert got == want
    [q] = started
    metrics = [m for op in q.lastProgress["stateOperators"]
               for m in op["customMetrics"]]
    assert any(m.startswith("rocksdb") for m in metrics), metrics


def test_python_streaming_datasource_counter(spark, tmp_path):
    """The streaming half of the Python Data Source API: the counter
    source drains under availableNow into exactly its configured row
    range — offsets advance step-wise, the aggregate over all
    micro-batches equals the closed form, proving no batch was lost
    or double-read."""
    from mit_mapreduce_spark.sources.counter_stream_source import (
        CounterStreamDataSource,
    )

    import time

    spark.dataSource.register(CounterStreamDataSource)
    q = (
        spark.readStream.format("counterstream")
        .option("step", 7).option("limit", 50).load()
        .writeStream.format("memory").queryName("counter_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        # the source reaches its limit after ceil(50/7) micro-batches;
        # poll the sink instead of guessing a sleep
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.table("counter_sink").count() >= 50:
                break
            time.sleep(0.5)
        rows = spark.table("counter_sink").collect()
    finally:
        q.stop()
    assert sorted(r.n for r in rows) == list(range(50))
    assert sum(r.n for r in rows) == 49 * 50 // 2


def test_streaming_throughput_keeps_up(spark, tmp_path):
    """Latency budget (VERDICT r4 #8): drive a watermarked tumbling-
    window aggregation through the replayable counter source for
    ~a dozen micro-batches and assert the engine keeps up — every
    batch drains back-to-back and the measured cadence clears a
    conservative floor. The recorded batches/sec figure lives in
    SCALE.md §Streaming."""
    import time

    from pyspark.sql import functions as F

    from mit_mapreduce_spark.sources.counter_stream_source import (
        CounterStreamDataSource,
    )

    spark.dataSource.register(CounterStreamDataSource)
    step, limit = 50, 600  # ceil(600/50) = 12 data micro-batches
    src = (
        spark.readStream.format("counterstream")
        .option("step", step).option("limit", limit).load()
        .select(
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("n") * 60)
            .alias("ts"),
            F.col("n"),
        )
    )
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n_rows"), F.sum("n").alias("sum_n"))
    )
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    t0 = time.monotonic()
    q = (
        agg.writeStream.format("memory").queryName("tput_sink")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "tput_ckpt"))
        .start()
    )
    try:
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline:
            done = spark.sql(
                "SELECT coalesce(sum(n_rows), 0) AS n FROM tput_sink"
            ).collect()[0].n
            if done >= limit:
                break
            time.sleep(0.2)
        wall = time.monotonic() - t0
        progress = [json.loads(p.json) for p in q.recentProgress]
    finally:
        q.stop()
        spark.conf.set("spark.sql.shuffle.partitions", before)

    # correctness of the drain: every row exactly once
    total = spark.sql(
        "SELECT sum(sum_n) AS s, sum(n_rows) AS n FROM tput_sink"
    ).collect()[0]
    assert total.n == limit and total.s == limit * (limit - 1) // 2

    data_batches = [p for p in progress if p["numInputRows"] > 0]
    assert len(data_batches) >= limit // step  # no batch was skipped
    batches_per_sec = len(data_batches) / wall
    rows_per_sec = limit / wall
    # Keep-up, RELATIVE form (r10; the old absolute floor of
    # 1.0 batches/s sat inside box noise — the same code measured
    # 1.04 on one box and 0.95/0.95/0.51 on another). The property
    # that matters is keep-up, not a box constant:
    #   (a) the drain finished inside the 120 s polling deadline —
    #       the source stops feeding after ~12 data batches, so an
    #       engine that keeps up always drains well before it;
    #   (b) batch durations do not trend UP across the run — state
    #       growth or scheduling debt would show as a rising tail.
    #       Compare medians of the first vs last third with 3x +
    #       500 ms headroom so a single GC/noise spike cannot flip
    #       the verdict.
    assert wall < 120, f"drain missed the deadline: {wall:.1f}s"
    import statistics

    durs = [p["durationMs"]["triggerExecution"] for p in data_batches]
    third = max(1, len(durs) // 3)
    head_med = statistics.median(durs[:third])
    tail_med = statistics.median(durs[-third:])
    assert tail_med <= 3 * head_med + 500, (
        f"batch duration trends up: first-third median {head_med:.0f}ms"
        f" -> last-third median {tail_med:.0f}ms over {len(durs)} batches")
    print(f"\nstreaming throughput: {len(data_batches)} batches in "
          f"{wall:.1f}s = {batches_per_sec:.1f} batches/s, "
          f"{rows_per_sec:.0f} rows/s "
          f"(trend: {head_med:.0f}ms -> {tail_med:.0f}ms median)")


def test_stream_quantile_bins_equals_batch(spark, sf_dir):
    """The streaming histogram-quantile sketch must equal its batch
    twin row-for-row after the availableNow drain (counters are
    mergeable integers, so cross-batch accumulation is exact)."""
    got = {r.event_type: r for r in
           QUERIES["stream_quantile_bins"](spark, sf_dir).collect()}
    want = {r.event_type: r for r in
            QUERIES["sketch_quantile_bins"](spark, sf_dir).collect()}
    assert set(got) == set(want)
    for et in want:
        for col in ("n_events", "p50_cents", "p90_cents", "p99_cents"):
            assert got[et][col] == want[et][col], (et, col)


def test_stream_decayed_engagement_equals_batch(spark, sf_dir):
    """The streaming per-(user, day) counter design must reproduce the
    batch decayed score EXACTLY: the decay weight is constant within a
    day, so counting first and weighting at drain commutes with the
    batch per-event quantized sum."""
    got = {r.user_id: r for r in
           QUERIES["stream_decayed_engagement"](spark, sf_dir).collect()}
    want = {r.user_id: r for r in
            QUERIES["decayed_engagement"](spark, sf_dir).collect()}
    assert set(got) == set(want)
    for u in want:
        assert got[u].n_events == want[u].n_events, u
        assert got[u].score_micro == want[u].score_micro, u


def test_stream_event_transitions_equals_batch(spark, sf_dir):
    """The availableNow drain of the sequence-stepper twin must equal
    the batch LAG-window transition matrix row for row."""
    from mit_mapreduce_spark import operators

    operators.load_all()
    got = {(r.prev_type, r.event_type): (r.n_transitions, round(r.p_next, 12))
           for r in operators.QUERIES["stream_event_transitions"](
               spark, sf_dir).collect()}
    want = {(r.prev_type, r.event_type): (r.n_transitions, round(r.p_next, 12))
            for r in operators.QUERIES["event_transitions"](
                spark, sf_dir).collect()}
    assert got == want


def test_stream_transitions_state_carries_across_batches(spark, tmp_path):
    """The carried last-event state must survive a checkpointed
    restart: batch 1 delivers user 7's event 'a', batch 2 (a second
    availableNow run over the same checkpoint) delivers 'b' — the
    (a, b) transition SPANS the boundary and can only be emitted if
    the stepper restored its state."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from mit_mapreduce_spark.operators.streaming_queries import (
        _TRANS_OUT_SCHEMA, _TRANS_STATE_SCHEMA, _transitions_fn)

    import os

    src = str(tmp_path / "ev")
    cp = str(tmp_path / "ckpt")
    os.makedirs(src)
    schema = ("event_id bigint, us bigint, user_id bigint, "
              "event_type string")

    def write_file(name, rows):
        pdf = pd.DataFrame(rows, columns=["event_id", "us", "user_id",
                                          "event_type"])
        spark.createDataFrame(pdf, schema).coalesce(1).write.mode(
            "append").parquet(src)

    def drain(qname):
        stream = spark.readStream.schema(schema).parquet(src)
        out = stream.groupBy("user_id").applyInPandasWithState(
            _transitions_fn,
            outputStructType=_TRANS_OUT_SCHEMA,
            stateStructType=_TRANS_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        rows: list = []
        # memory sink cannot recover from a checkpoint; foreachBatch
        # can, and this test is ABOUT the checkpointed restart
        q = (out.writeStream
             .foreachBatch(lambda df, bid: rows.extend(df.collect()))
             .outputMode("append")
             .option("checkpointLocation", cp)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return {(r.prev_type, r.event_type): r.n for r in rows}

    write_file("f1", [(1, 1_000_000, 7, "a")])
    first = drain("trans_run1")
    assert first == {}  # a single event: no transition yet

    write_file("f2", [(2, 2_000_000, 7, "b"), (3, 3_000_000, 7, "b")])
    second = drain("trans_run2")
    assert second == {("a", "b"): 1, ("b", "b"): 1}
