"""Round-14 operators: the mergeable LM bigram count drain (the last
admission static side to gain a maintenance path) and the fused
per-batch admission invariants."""

import os

import pyspark.sql.functions as F

from mit_mapreduce_spark import operators
from mit_mapreduce_spark.catalog import load_table
from mit_mapreduce_spark.operators.textstats import (
    doc_bigrams_from, lm_from_counts,
)

operators.load_all()


# --- mergeable LM bigram counts (VERDICT r13 ask #3) -------------------------

def test_lm_rebuilt_from_streamed_counts_equals_registered(spark, sf_dir):
    """The maintenance path's contract: rebuild the full LM novelty
    table from the STREAM-MAINTAINED count table (the summed per-batch
    partials the registered query returns) via lm_from_counts — the
    result must equal the registered quality_lm_bigram row-for-row.
    With this, every admission static side is maintainable without a
    corpus rescan: the per-doc bigrams are a stateless per-doc map,
    and the corpus df statistic comes from the mergeable count
    table."""
    counts = operators.QUERIES["stream_lm_bigram_counts"](spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    rebuilt = lm_from_counts(doc_bigrams_from(docs), counts)
    as_map = lambda rows: {r.doc_id: tuple(r)[1:] for r in rows}  # noqa: E731
    assert as_map(rebuilt.collect()) == as_map(
        operators.QUERIES["quality_lm_bigram"](spark, sf_dir).collect())


def test_lm_count_partials_merge_across_batches(spark, sf_dir, tmp_path):
    """The MERGEABILITY invariant itself: slice the corpus into three
    files drained one per trigger; the per-batch (bg, cnt) partials
    must SUM to the batch df table exactly — counts over disjoint doc
    sets add, so no batch boundary can change the rebuilt statistic.
    Also asserts the drain really ran multiple batches (some bigram
    appears in more than one partial row — the merge did work)."""
    from mit_mapreduce_spark.operators.streaming_queries import (
        lm_bigram_partials, tune,
    )
    from mit_mapreduce_spark.streaming import drain_via_batch

    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    stage = str(tmp_path / "docs_in")
    os.makedirs(stage)
    for i in range(3):
        docs.where(F.col("doc_id") % 3 == i).coalesce(1) \
            .write.mode("overwrite").parquet(str(tmp_path / f"s{i}"))
        src = [f for f in os.listdir(str(tmp_path / f"s{i}"))
               if f.endswith(".parquet")][0]
        dst = os.path.join(stage, f"b{i}.parquet")
        os.rename(os.path.join(str(tmp_path / f"s{i}"), src), dst)
        os.utime(dst, (1_700_000_000 + i,) * 2)

    schema = spark.read.parquet(stage).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(stage))
    parts = drain_via_batch(stream, lm_bigram_partials, "lm_parts", stage)
    summed = {r.bg: r.df for r in
              parts.groupBy("bg").agg(F.sum("cnt").alias("df")).collect()}
    batch_df = {r.bg: r.df for r in
                doc_bigrams_from(docs).groupBy("bg")
                .agg(F.count("*").alias("df")).collect()}
    assert summed == batch_df and summed
    # multi-batch proof: at least one bigram was counted in 2+ batches
    assert parts.count() > len(summed)
