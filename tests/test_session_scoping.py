"""One way to scope a config, one way to build legs in parallel.

Queries share one session (bench.py runs all of them on one, and the
composites build legs concurrently on it), so no query may change
that session's conf. Streams get their shuffle sizing from a child
session (``session.stream_session``), batch loops from explicit
repartitions, partitioned writers from a writer option; concurrent
legs go through ``session.parallel_legs``.
"""

import os
import re
import threading
import time

import pytest

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "mit_mapreduce_spark")
WATCHED = ("spark.sql.shuffle.partitions",
           "spark.sql.sources.partitionOverwriteMode")


def test_only_session_module_sets_conf_or_starts_pools():
    pattern = re.compile(r"\.conf\.set\(|ThreadPoolExecutor")
    hits = []
    for root, _, files in os.walk(PKG):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path == os.path.join(PKG, "session.py"):
                continue
            with open(path, encoding="utf-8") as fh:
                hits += [f"{os.path.relpath(path, PKG)}:{i}"
                         for i, line in enumerate(fh, 1)
                         if pattern.search(line)]
    assert hits == []


def test_parallel_legs_orders_results_and_waits_before_raising():
    from mit_mapreduce_spark.session import parallel_legs

    done = []

    def slow():
        time.sleep(0.2)
        done.append("slow")
        return "s"

    def boom():
        raise ValueError("leg failed")

    assert parallel_legs(lambda: 1, slow, lambda: 3) == [1, "s", 3]
    done.clear()
    with pytest.raises(ValueError, match="leg failed"):
        parallel_legs(boom, slow)
    assert done == ["slow"]  # the other leg finished before the raise
    assert parallel_legs() == []


def test_session_conf_never_changes_while_queries_run(spark, sf_dir,
                                                      tmp_path):
    """A poller on its own thread reads the two confs the package used
    to set and restore around multi-second work; none of the three
    paths that did so may change them, even for a moment."""
    from mit_mapreduce_spark import operators
    from mit_mapreduce_spark.catalog import load_table
    from mit_mapreduce_spark.sources import write_parquet_partitioned

    operators.load_all()
    before = {k: spark.conf.get(k) for k in WATCHED}
    seen = []
    stop = threading.Event()

    def poll():
        while not stop.is_set():
            seen.append(tuple(spark.conf.get(k) for k in WATCHED))
            time.sleep(0.005)

    poller = threading.Thread(target=poll, daemon=True)
    poller.start()
    try:
        assert operators.QUERIES["dedup_clusters"](spark, sf_dir).count()
        assert operators.QUERIES["stream_ingest_admission"](
            spark, sf_dir).count()
        write_parquet_partitioned(load_table(spark, sf_dir, "nation"),
                                  str(tmp_path / "nation"), ["n_regionkey"])
    finally:
        stop.set()
        poller.join(timeout=30)
    assert not poller.is_alive()
    assert len(seen) > 10
    assert set(seen) == {tuple(before[k] for k in WATCHED)}


def test_one_child_per_parent_and_size_and_no_listener_growth(spark,
                                                               sf_dir):
    """Every session that starts a stream registers a listener on the
    SparkContext's bus for good, so children are reused: a second run
    of the admission twin and of a memory-sink drain adds none."""
    from mit_mapreduce_spark import operators
    from mit_mapreduce_spark.session import stream_session

    operators.load_all()
    assert stream_session(spark, 8) is stream_session(spark, 8)
    assert stream_session(spark, 2) is not stream_session(spark, 8)
    assert stream_session(spark, 2).conf.get(
        "spark.sql.shuffle.partitions") == "2"

    bus = spark.sparkContext._jsc.sc().listenerBus()

    def run_both():
        for name in ("stream_ingest_admission", "stream_text_fingerprints"):
            assert operators.QUERIES[name](spark, sf_dir).count()
        return bus.listeners().size()

    assert run_both() == run_both()


def test_stream_child_follows_the_callers_runtime_confs(spark):
    """Only the shuffle sizing is the child's own: every other runtime
    conf the caller sets, changes or unsets after the child exists is
    the child's by the next time it is handed out."""
    from mit_mapreduce_spark.session import stream_session

    key = "spark.sql.streaming.stateStore.providerClass"
    parent = spark.newSession()
    parent.conf.set("spark.sql.shuffle.partitions", "3")
    child = stream_session(parent, 8)
    default = child.conf.get(key)
    rocksdb = ("org.apache.spark.sql.execution.streaming.state."
               "RocksDBStateStoreProvider")
    parent.conf.set(key, rocksdb)
    parent.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    assert stream_session(parent, 8) is child
    assert child.conf.get(key) == rocksdb
    assert child.conf.get("spark.sql.shuffle.partitions") == "8"
    assert child.conf.get("spark.sql.session.timeZone") == "UTC"
    parent.conf.unset(key)
    stream_session(parent, 8)
    assert child.conf.get(key) == default


def test_concurrent_callers_share_one_child_per_size(spark):
    """Many legs asking for a stream child at once (the lock's job):
    exactly one child per (parent, partitions) comes back."""
    import sys

    from mit_mapreduce_spark.session import parallel_legs, stream_session

    parent = spark.newSession()
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        got = parallel_legs(*(
            (lambda n=n: stream_session(parent, n)) for n in [2, 8] * 8))
    finally:
        sys.setswitchinterval(interval)
    assert len({id(c) for c in got[0::2]}) == 1
    assert len({id(c) for c in got[1::2]}) == 1
    assert got[0] is not got[1]
    assert parent._mit_children == {2: got[0], 8: got[1]}


def test_stateful_stream_latches_child_state_partitions(spark, sf_dir):
    """The state-store count is taken from the session the stream is
    built in — the 8-partition child, whatever the caller's session
    says (here a parent sized 3)."""
    from mit_mapreduce_spark.streaming import table_stream

    parent = spark.newSession()
    parent.conf.set("spark.sql.shuffle.partitions", "3")
    agg = table_stream(parent, sf_dir, "documents").groupBy("lang").count()
    q = (agg.writeStream.format("memory").queryName("latch_probe")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    ops = q.lastProgress["stateOperators"]
    assert [o["numShufflePartitions"] for o in ops] == [8]
    assert agg.sparkSession.table("latch_probe").count() > 0
    assert parent.conf.get("spark.sql.shuffle.partitions") == "3"


def test_drain_sinks_of_same_basename_dirs_do_not_collide(spark, sf_dir,
                                                          tmp_path):
    """Two fixture dirs named alike must stage and sink apart: the
    second drain must leave the first one's returned table intact."""
    from pyspark.sql import functions as F

    from mit_mapreduce_spark.catalog import load_table
    from mit_mapreduce_spark.streaming import (
        docs_stream, drain_via_batch, sf_key,
    )

    docs = load_table(spark, sf_dir, "documents")
    dirs = []
    for side, pred in (("a", F.col("doc_id") % 2 == 0),
                       ("b", F.col("doc_id") % 2 == 1)):
        d = tmp_path / side / "corpus"
        docs.where(pred).coalesce(1).write.parquet(str(d / "_w"))
        part = [p for p in os.listdir(d / "_w") if p.endswith(".parquet")]
        os.rename(d / "_w" / part[0], d / "documents.parquet")
        dirs.append(str(d))
    assert sf_key(dirs[0]) != sf_key(dirs[1])

    def ids(frame):
        return {r.doc_id for r in frame.collect()}

    first = drain_via_batch(docs_stream(spark, dirs[0]),
                            lambda b: b.select("doc_id"), "collide", dirs[0])
    second = drain_via_batch(docs_stream(spark, dirs[1]),
                             lambda b: b.select("doc_id"), "collide", dirs[1])
    want_a = ids(docs.where(F.col("doc_id") % 2 == 0).select("doc_id"))
    want_b = ids(docs.where(F.col("doc_id") % 2 == 1).select("doc_id"))
    assert want_a and want_b
    assert ids(second) == want_b
    assert ids(first) == want_a


def test_concurrent_drains_of_one_name_are_refused(spark, sf_dir):
    """While one drain of a (name, sf_dir) runs, every other drain of it
    must raise instead of wiping the first one's sink (eight threads on
    a shortened switch interval race for the name); once the first has
    finished, the name is free again."""
    import sys

    from mit_mapreduce_spark.catalog import load_table
    from mit_mapreduce_spark.streaming import docs_stream, drain_via_batch

    release = threading.Event()

    def held(batch):
        assert release.wait(120)
        return batch.select("doc_id")

    drained, refused = [], []

    def drain(stream):
        try:
            drained.append(drain_via_batch(stream, held, "twice", sf_dir))
        except RuntimeError as e:
            refused.append(str(e))

    threads = [threading.Thread(target=drain, args=(docs_stream(spark, sf_dir),))
               for _ in range(8)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        deadline = time.time() + 120
        while len(refused) < 7 and time.time() < deadline:
            time.sleep(0.05)
    finally:
        sys.setswitchinterval(switch)
        release.set()
        for t in threads:
            t.join(300)
    assert not any(t.is_alive() for t in threads)
    assert len(refused) == 7 and all("already running" in e for e in refused)
    want = {r.doc_id for r in load_table(spark, sf_dir, "documents")
            .select("doc_id").collect()}
    assert len(drained) == 1
    assert {r.doc_id for r in drained[0].collect()} == want
    again = drain_via_batch(docs_stream(spark, sf_dir),
                            lambda b: b.select("doc_id"), "twice", sf_dir)
    assert {r.doc_id for r in again.collect()} == want


def test_tune_fast_path_retunes_after_time_zone_flip(spark, sf_dir):
    from mit_mapreduce_spark.catalog import load_table

    load_table(spark, sf_dir, "nation")  # tuned
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        load_table(spark, sf_dir, "nation")
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_cached_schema_rejects_a_parquet_directory(spark, sf_dir, tmp_path):
    from mit_mapreduce_spark.catalog import _cached_schema, load_table
    from mit_mapreduce_spark.sources import write_parquet_partitioned

    out = str(tmp_path / "nation.parquet")
    write_parquet_partitioned(load_table(spark, sf_dir, "nation"), out,
                              ["n_regionkey"])
    with pytest.raises(ValueError, match=re.escape(out)):
        _cached_schema(spark, out)
    # a table stored as a directory still loads, inferring its schema
    assert load_table(spark, str(tmp_path), "nation").count() == \
        load_table(spark, sf_dir, "nation").count()


def test_schema_cache_holds_one_entry_per_rewritten_file(spark, tmp_path):
    """A parquet file rewritten with a new schema replaces its cache
    entry instead of adding one, and the newest schema is served."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mit_mapreduce_spark.catalog import _SCHEMA_CACHE, _cached_schema

    path = str(tmp_path / "t.parquet")
    for i, name in enumerate(["a", "bb", "ccc"]):
        pq.write_table(pa.table({name: pa.array(range(i + 1), pa.int64())}),
                       path)
        os.utime(path, ns=(10**18 + i, 10**18 + i))  # distinct mtimes
        assert _cached_schema(spark, path).fieldNames() == [name]
    assert [k for k in _SCHEMA_CACHE if path in str(k)] == [path]
    assert _cached_schema(spark, path).fieldNames() == ["ccc"]
