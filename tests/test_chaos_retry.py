"""Chaos/retry smoke (SURVEY.md §5.3.4, VERDICT r2 #5).

The reference's crash.go exists to prove a failed task is re-executed
and the job still completes with exact output (`mrapps/crash.go:20-32`
maybeCrash). On Spark, retry is the scheduler's job (F10-F13 are
"nothing to write" per SURVEY §2); this smoke injects a first-attempt
crash into an Arrow-batched kernel and asserts the job transparently
retries to an exact result.

Runs in a subprocess: task retries need a ``local[N, maxFailures]``
master, and the suite's singleton session is plain local[N] (one
SparkContext per JVM).
"""

import subprocess
import sys

_CODE = '''
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[4, 2]")   # 2 attempts/task
         .appName("chaos")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")


def flaky(batches):
    """Crash the FIRST attempt of every task (crash.go's maybeCrash,
    made deterministic); later attempts run the real kernel."""
    from pyspark import TaskContext
    if TaskContext.get().attemptNumber() == 0:
        raise RuntimeError("chaos: injected first-attempt failure")
    for pdf in batches:
        yield pdf.assign(doubled=pdf["id"] * 2)


df = spark.range(0, 1000, 1, 4).mapInPandas(flaky, "id long, doubled long")
rows = df.collect()
assert len(rows) == 1000, len(rows)
assert sorted(r.id for r in rows) == list(range(1000))
assert all(r.doubled == 2 * r.id for r in rows)
print("CHAOS_OK")
'''


def test_flaky_arrow_kernel_is_retried_to_exact_result():
    out = subprocess.run([sys.executable, "-c", _CODE],
                         capture_output=True, text=True, timeout=300)
    assert "CHAOS_OK" in out.stdout, (out.stdout[-500:], out.stderr[-2000:])


_SCREEN_CODE = '''
import os, sys
sys.path.insert(0, os.environ["SPARK_GRAFT_REPO"])
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

spark = (SparkSession.builder.master("local[4, 2]")   # 2 attempts/task
         .appName("chaos-screen")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

from mit_mapreduce_spark.catalog import load_table
from mit_mapreduce_spark.operators import mmdedup
from mit_mapreduce_spark.operators.banding import inc_col, incremental_screen
from mit_mapreduce_spark.operators.multimodal import _PHASH_SCHEMA


def flaky(batches):
    """Crash the FIRST attempt of every fingerprint task; retries run
    the real kernel (crash.go's maybeCrash, made deterministic)."""
    from pyspark import TaskContext
    if TaskContext.get().attemptNumber() == 0:
        raise RuntimeError("chaos: injected first-attempt failure")
    yield from mmdedup._afp_batch(batches)


sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
docs = load_table(spark, sf, "documents").select("doc_id")
inc_pred = inc_col("asset_id")


def screen(kernel):
    sigs = (mmdedup._fingerprint_audio_assets_from(docs)
            .mapInPandas(kernel, _PHASH_SCHEMA)
            .localCheckpoint(eager=False))
    inc_assets = (docs.select(F.col("doc_id").alias("asset_id"))
                  .where(inc_pred))
    return {tuple(r) for r in incremental_screen(
        inc_assets, sigs.where(inc_pred), sigs.where(~inc_pred),
        mmdedup.FP_BANDS, mmdedup.FP_BAND_BITS,
        mmdedup.FP_HAM_MAX).collect()}


assert screen(flaky) == screen(mmdedup._afp_batch)
print("CHAOS_SCREEN_OK")
'''


def test_flaky_fingerprint_screen_is_retried_to_exact_result():
    """r11: the incremental screen's decode+fingerprint stage is
    retry-safe end to end — crash every fingerprint task's first
    attempt and the screen still produces the exact verdict set (the
    fixture chains and the kernel are deterministic, so recovery is
    bit-identical, the crash.go guarantee at the operator level)."""
    import os

    env = dict(os.environ,
               SPARK_GRAFT_REPO=os.path.dirname(
                   os.path.dirname(os.path.abspath(__file__))))
    out = subprocess.run([sys.executable, "-c", _SCREEN_CODE],
                         capture_output=True, text=True, timeout=600,
                         env=env)
    assert "CHAOS_SCREEN_OK" in out.stdout, (
        out.stdout[-500:], out.stderr[-2000:])


_QUALITY_CODE = '''
import os, sys
sys.path.insert(0, os.environ["SPARK_GRAFT_REPO"])
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[4, 2]")   # 2 attempts/task
         .appName("chaos-quality")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

from mit_mapreduce_spark.catalog import load_table
from mit_mapreduce_spark.operators import mmquality
from mit_mapreduce_spark.operators.mmquality import (
    _AQ_STAT_SCHEMA, _aq_stats_batch, _quality_audio_assets_from,
)
from pyspark.sql import functions as F


def flaky(batches):
    """Crash the FIRST attempt of every screen task; retries run the
    real kernel (crash.go's maybeCrash, made deterministic)."""
    from pyspark import TaskContext
    if TaskContext.get().attemptNumber() == 0:
        raise RuntimeError("chaos: injected first-attempt failure")
    yield from _aq_stats_batch(batches)


sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
docs = load_table(spark, sf, "documents")


def screen(kernel):
    stats = _quality_audio_assets_from(docs).mapInPandas(
        kernel, _AQ_STAT_SCHEMA)
    silent = F.expr(mmquality.AQ_SILENT)
    clipped = F.expr(mmquality.AQ_CLIPPED)
    dc = F.expr(mmquality.AQ_DC)
    return {tuple(r) for r in stats.select(
        "asset_id", "n_samples", "silence_count", "clip_count",
        "dc_sum", silent.alias("is_silent"), clipped.alias("is_clipped"),
        dc.alias("is_dc_biased")).collect()}


assert screen(flaky) == screen(_aq_stats_batch)
print("CHAOS_QUALITY_OK")
'''


def test_flaky_quality_screen_is_retried_to_exact_result():
    """r11: the quality screen's decode+DSP stage is retry-safe —
    crash every screen task's first attempt and the verdict stats
    are bit-identical on recovery (deterministic fixture chains +
    integer kernel, the crash.go guarantee at the operator level)."""
    import os

    env = dict(os.environ,
               SPARK_GRAFT_REPO=os.path.dirname(
                   os.path.dirname(os.path.abspath(__file__))))
    out = subprocess.run([sys.executable, "-c", _QUALITY_CODE],
                         capture_output=True, text=True, timeout=600,
                         env=env)
    assert "CHAOS_QUALITY_OK" in out.stdout, (
        out.stdout[-500:], out.stderr[-2000:])
