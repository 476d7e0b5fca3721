"""Round-7 heavy-tier certification for the retrieval ops (VERDICT r6
asks #3/#4): build the 10× per-doc-mutated corpus (the round-5
protocol — each copy's text gains a unique suffix token, so no
duplication inflation), then

  1. time bm25_topk / rag_chunk_retrieval / hashed_knn_search at
     sf0.1 and at the 10× corpus (best-of-2 each),
  2. oracle-verify all three at the 10× corpus,
  3. measure RAG posting-join candidate volume at sf0.1 for
     RAG_DIM=64 (the round-6 setting) vs 4096 (round-7).

Run: python tools_scale_retrieval.py   (writes .scratch/scale_retrieval.json)

The 10× corpus and the DuckDB oracle's spill directory live under the
checkout's ``.scratch/`` and are removed at exit.
"""

import atexit
import json
import os
import shutil

import duckdb

from mit_mapreduce_spark import operators
from mit_mapreduce_spark.session import get_spark
from mit_mapreduce_spark.testing import compare
from tools_scale_common import best2, keyed_stage_dir

operators.load_all()

SRC = "/root/testdata/sf0.1"
# n_chars is recomputed from the NEW text (ADVICE r7 #2: the old
# `n_chars + 12` approximation disagreed with length(text) for
# most rows), so the invariant n_chars = length(text) holds on the
# certification corpus exactly as it does on the source tables.
_TENX_SQL = (
    "COPY (SELECT doc_id, text, lang, source,"
    " CAST(length(text) AS BIGINT) AS n_chars FROM ({copies}))"
    " TO '{dst}/documents.parquet' (FORMAT PARQUET)")
_TENX_COPY = ("SELECT doc_id * 10 + {k} AS doc_id,"
              " text || ' uniq{k}tok' || CAST(doc_id AS VARCHAR) AS text,"
              " source, lang"
              " FROM '{src}/documents.parquet'")
SCRATCH = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".scratch")
# The staged dir is KEYED ON the generator SQL (ADVICE r8 #3): an
# edited generator can never silently re-certify against a stale
# corpus built by an older version of this script.
TENX = keyed_stage_dir(os.path.join(SCRATCH, "scale10x_docs"),
                       _TENX_SQL + _TENX_COPY)
ORACLE_TMP = os.path.join(SCRATCH, "scale_retrieval_duckdb_tmp")
OPS = ["bm25_topk", "rag_chunk_retrieval", "hashed_knn_search",
       "hybrid_rrf_retrieval", "retrieval_pruning_recall"]


def build_tenx():
    if os.path.exists(os.path.join(TENX, "documents.parquet")):
        return
    shutil.rmtree(TENX, ignore_errors=True)
    os.makedirs(TENX)
    con = duckdb.connect()
    copies = " UNION ALL ".join(
        _TENX_COPY.format(k=k, src=SRC) for k in range(10))
    con.sql(_TENX_SQL.format(copies=copies, dst=TENX))
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"]:
        os.symlink(f"{SRC}/{t}.parquet", os.path.join(TENX, f"{t}.parquet"))


def rag_candidates(spark, sf_dir, dim, prune=True):
    """Matched posting pairs in the RAG dim equi-join at a given
    hashing dimensionality (pre-aggregation candidate volume)."""
    import pyspark.sql.functions as F

    from mit_mapreduce_spark.operators.curation import (
        RAG_N_QUERIES, RAG_QUERY_MOD, chunk_documents, _ws_tokens)
    from mit_mapreduce_spark.operators.dedup import hash60
    from mit_mapreduce_spark.catalog import load_table

    from pyspark.sql import Window as W

    from mit_mapreduce_spark.operators.curation import (
        RAG_POSTING_TOP, RAG_Q_TOP_DIMS)

    ch = chunk_documents(spark, sf_dir)
    bucket = lambda c: F.pmod(hash60(c), F.lit(dim))  # noqa: E731
    csparse = (
        ch.where(F.col("chunk_text") != "")
        .select(F.col("doc_id").alias("cdoc"), "chunk_id",
                F.explode(F.split("chunk_text", " ")).alias("w"))
        .select("cdoc", "chunk_id", bucket(F.col("w")).alias("dim"))
        .distinct())
    if prune:
        wcp = W.partitionBy("dim").orderBy("cdoc", "chunk_id")
        csparse = (csparse.withColumn("_r", F.row_number().over(wcp))
                   .where(F.col("_r") <= RAG_POSTING_TOP).drop("_r"))
    docs = load_table(spark, sf_dir, "documents")
    qids = (docs.where(F.col("doc_id") % RAG_QUERY_MOD == 0)
            .orderBy("doc_id").limit(RAG_N_QUERIES).select("doc_id"))
    qsparse = (
        docs.join(F.broadcast(qids), "doc_id")
        .select(F.col("doc_id").alias("qid"),
                F.explode(_ws_tokens()).alias("w"))
        .groupBy("qid", bucket(F.col("w")).alias("dim"))
        .agg(F.count("*").alias("val")))
    if prune:
        wq = W.partitionBy("qid").orderBy(F.abs(F.col("val")).desc(), "dim")
        qsparse = (qsparse.withColumn("_r", F.row_number().over(wq))
                   .where(F.col("_r") <= RAG_Q_TOP_DIMS))
    return csparse.join(F.broadcast(qsparse.select("qid", "dim")),
                        "dim").count()


def main():
    for d in (TENX, ORACLE_TMP):
        atexit.register(shutil.rmtree, d, ignore_errors=True)
    build_tenx()
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    out = {"times": {}, "oracle_10x": {}, "rag_candidates_sf01": {}}

    for op in OPS:
        f1 = best2(lambda op=op: operators.QUERIES[op](spark, SRC).count())
        f10 = best2(lambda op=op: operators.QUERIES[op](spark, TENX).count())
        out["times"][op] = {"sf0.1": f1, "10x": f10,
                            "ratio": round(f10 / max(f1, 0.01), 2)}
        print(op, out["times"][op], flush=True)

    for op in OPS:
        ok, msg = compare(operators.QUERIES[op](spark, TENX),
                          operators.ORACLES[op], TENX, temp_dir=ORACLE_TMP)
        out["oracle_10x"][op] = bool(ok)
        print("oracle10x", op, ok, (msg or "")[:200], flush=True)

    for dim in (64, 4096):
        out["rag_candidates_sf01"][str(dim)] = rag_candidates(
            spark, SRC, dim)
        print("rag_candidates dim", dim,
              out["rag_candidates_sf01"][str(dim)], flush=True)

    with open(os.path.join(SCRATCH, "scale_retrieval.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
