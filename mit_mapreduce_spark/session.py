"""SparkSession factory.

Local tests/bench run on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the
configuration below is chosen so the same plans scale to a real
multi-executor cluster: AQE for runtime re-planning and skew joins,
shuffle partitions sized to the parallelism, Arrow for every
Python<->JVM boundary, and UTC session time so results are
cluster-timezone-independent (and comparable to the DuckDB oracle).

This module is also the ONE place the package scopes a config, runs
legs concurrently or materializes an intermediate:
:func:`stream_session` hands out the child session a stream is built
in (its own shuffle sizing, never the caller's), :func:`parallel_legs`
builds independent legs on threads, and :func:`materialize` checkpoints
a frame. Nothing else in the package sets a session conf or calls
``localCheckpoint``.
"""

from __future__ import annotations

import os
import threading
from concurrent.futures import ThreadPoolExecutor
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


def _cpus() -> int:
    try:
        return max(1, int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    except ValueError:
        return 32


# The runtime-settable confs :func:`tune` applies.
_TUNING = {
    # Deterministic, oracle-comparable timestamps.
    "spark.sql.session.timeZone": "UTC",
    # events.parquet stores TIMESTAMP(NANOS), which the vectorized
    # reader rejects; read as long and convert in catalog.load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Newer fixtures store TIMESTAMP(MICROS) without the UTC-adjusted
    # flag; read as TIMESTAMP (LTZ, session tz = UTC) rather than NTZ
    # so event-time ops (watermarks require TIMESTAMP) work unchanged.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Runtime re-planning: partition coalescing, skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # r14 (guide §2.2/§2.5): AQE's coalescing floor. With the default
    # 1 MB floor, every post-shuffle stage over a small intermediate
    # (a few MB compressed — e.g. the checkpointed term-frequency
    # table) coalesces to ONE partition, so every downstream join/
    # aggregate/window runs on one core — measured 52.2 s -> 32.8 s
    # over a 20-query slice at sf0.1 just from lowering the floor.
    # This is a SIZE floor, not a parallelism override: at production
    # shuffle volumes partitions are >= 64 MB (advisory size), so a
    # 64 KB floor never binds and plans are unchanged at scale — it
    # only stops the degenerate tiny-shuffle collapse on any cluster.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    # Arrow batches for pandas UDF / mapInPandas / toPandas paths.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Split scans at 32 MB so a single-file fixture table still fans
    # out across all cores; on a real cluster the same bound keeps
    # scan tasks uniform and AQE coalesces any excess afterwards.
    "spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024),
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tuning to an existing session.

    Used both by :func:`get_spark` and on driver-provided sessions we
    don't construct ourselves (the correctness harness hands us one).
    Only runtime-mutable confs belong here.

    Idempotent per session object (r15): ``load_table`` calls this on
    every table scan, so the ~10 conf.set py4j round-trips (~2 ms)
    ran hundreds of times per bench pass for no effect. The flag
    lives on the Python session object — a new/restarted session
    never carries it. The fast path still re-reads one sentinel, the
    UTC session time zone, and re-tunes when someone changed it since:
    one round-trip instead of ten, and a session that outlives its
    owner's conf edits (a stream child lives for the application)
    cannot silently drift from the oracle-comparable settings.
    """
    if (getattr(spark, "_mit_tuned", False)
            and spark.conf.get("spark.sql.session.timeZone") == "UTC"):
        return spark
    for key, value in _TUNING.items():
        spark.conf.set(key, value)
    spark._mit_tuned = True
    return spark


def get_spark(app_name: str = "mit_mapreduce_spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a tuned local SparkSession.

    At cluster scale the same knobs apply with different values:
    shuffle partitions ~ 2-3x total cores, AQE coalesces the excess.

    Python workers start from :mod:`mit_mapreduce_spark.pyworker`,
    which runs ``pyspark.daemon`` on the installed pyspark rather than
    ``$SPARK_HOME``'s zip (~0.2 s less per Python task), whenever the
    workers can import this package (see :func:`_workers_find_package`).
    A session built elsewhere (and handed to ``tune``) keeps Spark's
    own daemon.

    The generated-code cache holds 8192 entries, above the registry's
    working set, so a repeated query reuses its compiled classes the
    way the paper's worker loads its Map and Reduce once per process.
    Like the daemon module it is a static conf: ``tune`` cannot set
    it, and a session built elsewhere keeps Spark's 100 entries.
    """
    n = cpus or _cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Generated-code cache. Spark's default of 100 entries is below
        # one stream_ingest_admission pass (~270), so the LRU evicted
        # every class before its reuse and each warm pass compiled them
        # all again (and the JIT compiled the new classes again). One
        # sf0.001 pass over the whole registry compiles 3017 distinct
        # entries; the cap is over twice that. The conf is static: only
        # the builder can set it, tune() cannot, so a session handed in
        # by the driver keeps Spark's 100.
        .config("spark.sql.codegen.cache.maxEntries", "8192")
    )
    if _workers_find_package():
        builder = builder.config("spark.python.daemon.module",
                                 f"{__package__}.pyworker")
    return tune(builder.getOrCreate())


def _workers_find_package() -> bool:
    """Whether a Python worker can import this package. Local workers
    start in the driver's working directory with its ``PYTHONPATH``
    (both inherited through the JVM); a package they cannot import
    would fail the daemon and with it every Python task, where Spark's
    own daemon still runs kernels that need no package code."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    dirs = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    return root in {os.path.abspath(d) for d in dirs if d}


# One child per (parent session, shuffle partitions), kept for the
# parent's lifetime: every session that starts a stream registers one
# listener on the SparkContext's bus and never removes it, so a fresh
# child per stream would grow the bus by one listener per drain.
_CHILD_LOCK = threading.Lock()
_SIZING = "spark.sql.shuffle.partitions"
# Legs built at once; the rest queue for a free thread.
_MAX_LEGS = 10


def stream_session(spark: SparkSession,
                   shuffle_partitions: int) -> SparkSession:
    """The tuned child of ``spark`` that streams are built in, with
    its own ``spark.sql.shuffle.partitions``.

    A stream latches its shuffle sizing — the state-store count of a
    stateful operator, the partitions of each ``foreachBatch`` body's
    joins — from the session it is built in, and every micro-batch
    runs in a clone of that session. ``spark.newSession()`` shares the
    SparkContext (and so cached blocks and checkpoints) but owns an
    isolated SQLConf, so sizing a stream here never touches the
    caller's session while other legs or queries run on it. Every
    other runtime conf follows the caller: each call copies the
    parent's current settings (a state-store provider, a harness's
    confs) into the child before handing it out.
    """
    with _CHILD_LOCK:
        children = spark.__dict__.setdefault("_mit_children", {})
        child = children.get(shuffle_partitions)
        if child is None:
            child = spark.newSession()
            child.conf.set(_SIZING, str(shuffle_partitions))
            child._mit_parent = spark
            children[shuffle_partitions] = child
        _follow_conf(child, spark)
        return tune(child)


def _follow_conf(child: SparkSession, parent: SparkSession) -> None:
    """Set ``child``'s runtime confs to ``parent``'s, except the
    child's own sizing and the tuning it keeps where the parent has
    none. A conf the parent cannot have changed at runtime (a static
    or core conf) is left alone. Reading both confs into Python costs
    ~50 ms of py4j round-trips, so an unchanged parent conf (compared
    in the JVM against the one last followed) returns at once."""
    now = parent._jsparkSession.conf().getAll()
    last = getattr(child, "_mit_followed", None)
    if last is not None and now.equals(last):
        return
    want, have = parent.conf.getAll, child.conf.getAll
    for key, value in want.items():
        if (key != _SIZING and have.get(key) != value
                and child.conf.isModifiable(key)):
            child.conf.set(key, value)
    for key in have.keys() - want.keys() - _TUNING.keys() - {_SIZING}:
        child.conf.unset(key)
    child._mit_followed = now


def parallel_legs(*fns: Callable[[], object]) -> list:
    """Run each zero-argument ``fn`` on a thread (up to ``_MAX_LEGS``
    at once) and return their results in argument order.

    Used to overlap the driver-side construction (Catalyst analysis,
    planning, eager checkpoints) of a composite's independent legs.
    It returns or raises only after every leg has finished; a failing
    leg's exception (the first in argument order) is re-raised then.
    """
    if not fns:
        return []
    with ThreadPoolExecutor(max_workers=min(len(fns), _MAX_LEGS)) as pool:
        futures = [pool.submit(fn) for fn in fns]
    return [f.result() for f in futures]


def materialize(df: DataFrame) -> DataFrame:
    """``df`` as a leaf: a lazy local checkpoint. Nothing runs until
    the first action over it, which computes ``df`` once into executor
    blocks; every consumer (and every later analysis) then starts from
    that leaf instead of ``df``'s lineage. The one place the package
    decides where an intermediate lands, the way the paper's framework
    alone writes map output."""
    return df.localCheckpoint(eager=False)
