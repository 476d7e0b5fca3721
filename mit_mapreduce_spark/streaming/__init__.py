"""Structured Streaming harness over the `events` fixture.

The reference is strictly batch (hard map→reduce barrier, SURVEY.md
§2.3 streaming ABSENT); this package adds the Spark-native streaming
surface: file-source streams with explicit schemas, watermarks,
tumbling and session windows, memory-sink collection for tests.

At scale the same plans run unchanged against Kafka/object-store
sources — the file source here is the fixture-compatible stand-in.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mit_mapreduce_spark.session import stream_session

_SCRATCH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.dirname(os.path.abspath(__file__)))), ".scratch")

# Stateful operators latch the shuffle partition count of the session
# the stream is built in as their state-store count; per-store
# open/commit is the dominant cost on small per-batch volumes
# (measured 5x: 32 stores 7.6 s vs 8 stores 1.4 s for
# applyInPandasWithState at sf0.1). Sized to state volume, not core
# count; a real deployment at 100 TB raises it with the checkpoint.
STATE_PARTITIONS = 8


def _stream_spark(spark: SparkSession) -> SparkSession:
    """The session a stream source is built in: the caller's own
    stream child when it passes one (the admission twin sizes its
    per-batch joins at 2), else the state-store-sized child of
    ``spark`` — never ``spark`` itself, whose sizing belongs to the
    batch queries sharing it."""
    if hasattr(spark, "_mit_parent"):
        return spark
    return stream_session(spark, STATE_PARTITIONS)


def _caller_session(spark: SparkSession) -> SparkSession:
    """The session a stream child was handed out for (``spark`` itself
    when it is not a child)."""
    return getattr(spark, "_mit_parent", spark)


def sf_key(sf_dir: str) -> str:
    """Scratch-path key of a fixture dir: its basename (readable) plus
    a short hash of the full path, so two corpora that share a
    basename never share a staging dir or sink."""
    path = os.path.abspath(sf_dir.rstrip("/"))
    digest = hashlib.sha1(path.encode()).hexdigest()[:10]
    return f"{os.path.basename(path)}_{digest}"


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet with the same ts
    normalization the batch catalog applies (catalog.load_table).

    The stream schema is taken from a batch scan of the staged file so
    the source works across fixture vintages (TIMESTAMP(NANOS)-as-long
    under nanosAsLong, or native TIMESTAMP(MICROS))."""
    # The file stream source requires a directory; stage the fixture
    # file into scratch once per scale factor (testdata is read-only).
    stage = os.path.join(_SCRATCH, f"stream_events_{sf_key(sf_dir)}")
    dst = os.path.join(stage, "events.parquet")
    src = os.path.join(sf_dir, "events.parquet")
    if not os.path.exists(dst) or os.path.getmtime(dst) < os.path.getmtime(src):
        os.makedirs(stage, exist_ok=True)
        shutil.copy2(src, dst)
    from mit_mapreduce_spark.catalog import _cached_schema, _normalize_event_ts
    spark = _stream_spark(spark)
    raw = spark.readStream.schema(_cached_schema(spark, dst)).parquet(stage)
    return _normalize_event_ts(raw)


def table_stream(spark: SparkSession, sf_dir: str,
                 table: str) -> DataFrame:
    """readStream over any timestamp-free fixture table (r12: the
    docs_stream staging shape generalized — the embedding-index
    ingest leg streams `embeddings` the same way the media legs
    stream `documents`)."""
    stage = os.path.join(_SCRATCH, f"stream_{table}_{sf_key(sf_dir)}")
    dst = os.path.join(stage, f"{table}.parquet")
    src = os.path.join(sf_dir, f"{table}.parquet")
    if not os.path.exists(dst) or os.path.getmtime(dst) < os.path.getmtime(src):
        os.makedirs(stage, exist_ok=True)
        shutil.copy2(src, dst)
    from mit_mapreduce_spark.catalog import _cached_schema
    spark = _stream_spark(spark)
    return spark.readStream.schema(_cached_schema(spark, dst)).parquet(stage)


def docs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the documents parquet — the ingest-manifest
    stream a multimodal pipeline consumes (r9). Documents carry no
    timestamp column so no normalization applies."""
    return table_stream(spark, sf_dir, "documents")


def run_stream_to_table(stream_df: DataFrame, mode: str,
                        name: str | None = None) -> DataFrame:
    """Drain the stream with a single availableNow micro-batch into an
    in-memory table and return that table. Used by tests and the
    rows-only streaming queries — production deployments swap the sink
    for kafka/delta/parquet with the identical plan.

    The state-store count of any stateful operator comes from the
    session the stream was built in (``events_stream`` /
    ``table_stream`` build it in a :func:`stream_session` child sized
    to ``STATE_PARTITIONS``); nothing here touches a session conf. The
    memory sink registers its view in that child, so the drained table
    is handed back to the caller's session as a global temp view and
    returned as a frame of that session: work on it plans with the
    caller's shuffle sizing, not the state stores'."""
    name = name or f"stream_{uuid.uuid4().hex[:12]}"
    spark = stream_df.sparkSession
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark.table(name).createOrReplaceGlobalTempView(name)
    spark.catalog.dropTempView(name)
    owner = _caller_session(spark)
    return owner.table(
        f"{owner.conf.get('spark.sql.globalTempDatabase')}.{name}")


def _register_scratch_cleanup(path: str) -> None:
    """Best-effort removal of a session-scoped scratch dir at
    interpreter exit (ADVICE r14: drain sinks accumulated one uuid
    dir per invocation, growing .scratch without bound)."""
    import atexit

    if path in _CLEANUP_REGISTERED:
        return
    _CLEANUP_REGISTERED.add(path)
    atexit.register(shutil.rmtree, path, ignore_errors=True)


_CLEANUP_REGISTERED: set = set()


# Sink dirs of the drain_via_batch calls running now.
_DRAINING: set = set()
_DRAINING_LOCK = threading.Lock()


def drain_via_batch(stream_df: DataFrame, frame_fn, name: str,
                    sf_dir: str) -> DataFrame:
    """Drain a stream through foreachBatch, applying the certified
    BATCH plan shape (``frame_fn``) to each micro-batch, into a
    per-invocation parquet sink; returns the drained table.

    Why not map the stream with the stateless expression form and a
    memory sink (the r12/r13 drain shape)? Measured at sf0.1 (r14,
    guide §1/§4): the expression drains ran their interpreted
    higher-order lambdas on ONE task — the fixture scan is a single
    row group and fan_out's ``inputFiles`` gate cannot inspect a
    streaming plan — costing 5-9 s per drain. Inside foreachBatch the
    micro-batch is a plain batch DataFrame, so the codegen batch shape
    (explode + partial aggregate, pytest-pinned row-identical to the
    expression form) runs with full scan fan-out and whole-stage
    codegen: the same drains measure 1.0-2.3 s warm.

    Correctness across batch boundaries is unchanged from the
    expression form: every source row arrives in exactly ONE
    micro-batch and ``frame_fn`` is a pure per-row/per-doc function
    (any aggregate inside it is per-doc over columns co-resident in
    that doc's row), so append-mode rows are emitted exactly once per
    doc regardless of batching.

    Sink discipline (ADVICE r14): each micro-batch OVERWRITES its own
    batch_id-keyed subdirectory, so a replayed batch — Spark's
    at-least-once foreachBatch contract after a failure — replaces
    its previous output instead of appending duplicate rows (the
    overwrite is keyed on batch_id, not on the partition values a
    batch holds). The sink path is deterministic per
    (``name``, :func:`sf_key` of ``sf_dir``, applicationId) — the
    full-path hash keeps two corpora that share a basename apart, the
    applicationId keeps two sessions on one checkout from interleaving
    (the r13-ADVICE session-scoping rule), the per-invocation reset
    keeps serial reruns bounded on disk, and the whole dir is removed
    at interpreter exit. The returned frame is read in the caller's
    session (see run_stream_to_table) and is lazy over that dir: it
    stays valid until the next drain with the same (name, sf_dir) in
    this application, or interpreter exit. Two drains of one (``name``,
    ``sf_dir``) may not overlap in one application: the second raises
    ``RuntimeError`` instead of wiping the first one's sink. The sink
    dir exists before the stream starts, and the drained table is read
    with the schema of the frame the micro-batches wrote; only when no
    micro-batch ran (a source dir with no files) does the schema come
    from ``frame_fn`` over an empty frame, which is analyzed but runs
    no job, and the empty dir then reads as 0 rows. Every invocation
    recomputes from the stream — nothing is reused across
    invocations. Production swaps the sink for a table format or Kafka
    with the identical per-batch plan."""
    spark = stream_df.sparkSession
    out = os.path.join(
        _SCRATCH,
        f"drain_{name}_{sf_key(sf_dir)}_{spark.sparkContext.applicationId}")
    with _DRAINING_LOCK:
        if out in _DRAINING:
            raise RuntimeError(
                f"drain_via_batch: a drain named {name!r} of {sf_dir!r} is "
                "already running in this application; concurrent drains "
                "need distinct names")
        _DRAINING.add(out)
    try:
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        _register_scratch_cleanup(out)
        schema = None

        def _apply(batch_df: DataFrame, batch_id: int) -> None:
            nonlocal schema
            frame = frame_fn(batch_df)
            schema = frame.schema
            frame.write.mode("overwrite").parquet(
                os.path.join(out, f"b{batch_id}"))

        q = (stream_df.writeStream.foreachBatch(_apply)
             .trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        with _DRAINING_LOCK:
            _DRAINING.discard(out)
    if schema is None:
        schema = frame_fn(spark.createDataFrame([], stream_df.schema)).schema
    return (_caller_session(spark).read
            .option("recursiveFileLookup", "true")
            .schema(schema).parquet(out))

