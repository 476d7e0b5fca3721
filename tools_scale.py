"""10x scale certification and per-query timer.

    python tools_scale.py SUITE|QUERY [...] [--sf SF_DIR] [--reps N]
                                            [--plan-tag TAG]

A suite (see SUITES) times each of its entries on ``--sf`` and on each
of its 10x corpora, then checks every corpus result against the
entry's DuckDB oracle with ``testing.compare``. A registered query name
instead of a suite is only timed, on ``--sf``. Every timing has the
bench's shape (bench.py): a warm-up once per session, then build +
``write.format("noop")``, best of ``--reps``, build and exec reported
apart. ``.count()`` is not used: Catalyst prunes the plan under it.

The corpora (CORPORA) are staged by DuckDB from ``--sf`` under
``.scratch/``, keyed on the generator SQL and the source dir, with the
other fixture tables linked in; a staged corpus is reused. Results go
to ``.scratch/scale_<names>.json``; the exit status is 1 when any
oracle check fails. ``--plan-tag`` writes each timed frame's formatted
plan to ``plans/<name>_<tag>.txt``.
"""

from __future__ import annotations

import argparse
import hashlib
import io
import json
import os
import shutil
import sys
import time
from contextlib import redirect_stdout
from typing import Callable, NamedTuple

import duckdb

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from mit_mapreduce_spark import operators  # noqa: E402
from mit_mapreduce_spark.catalog import DEFAULT_SF_DIR, TABLES  # noqa: E402
from mit_mapreduce_spark.operators.dedup import (  # noqa: E402
    _containment_impl, _sql_containment_bruteforce,
)
from mit_mapreduce_spark.operators.mmdedup import MEDIA  # noqa: E402
from mit_mapreduce_spark.session import get_spark  # noqa: E402
from mit_mapreduce_spark.streaming import sf_key  # noqa: E402
from mit_mapreduce_spark.testing import compare  # noqa: E402

SCRATCH = os.path.join(ROOT, ".scratch")


class Corpus(NamedTuple):
    table: str    # the one table the corpus replaces
    select: str   # copy {k} of it, read from {src}
    why: str


CORPORA = {
    "docs": Corpus(
        "documents",
        "SELECT doc_id, text, lang, source,"
        " CAST(length(text) AS BIGINT) AS n_chars FROM ("
        "SELECT doc_id * 10 + {k} AS doc_id,"
        " text || ' uniq{k}tok' || CAST(doc_id AS VARCHAR) AS text,"
        " source, lang FROM {src})",
        "each copy's text gains a unique suffix token, so no copy is an"
        " exact duplicate; n_chars is recomputed from the new text"),
    "embed": Corpus(
        "embeddings",
        "SELECT vec_id * 10 + {k} AS vec_id,"
        " list_transform(list_zip(embedding,"
        "   list_transform(range(1, len(embedding) + 1), i -> i)),"
        "   z -> CAST(CASE WHEN z[2] = {k} * 7 % 64 + 1"
        "        THEN z[1] + 0.03 * ({k} - 4.5) ELSE z[1] END AS FLOAT))"
        "   AS embedding,"
        " label FROM {src}",
        "copy k moves dimension 7k mod 64 by 0.03(k - 4.5), so the copies"
        " of a vector spread over buckets instead of stacking 10 deep"),
    "events_users": Corpus(
        "events",
        "SELECT event_id * 10 + {k} AS event_id, ts,"
        " user_id * 10 + {k} AS user_id, event_type, value, props"
        " FROM {src}",
        "disjoint user ids per copy: 10x rows and window partitions,"
        " per-user sequences as long as before"),
    "events_density": Corpus(
        "events",
        "SELECT event_id * 10 + {k} AS event_id,"
        " ts + to_microseconds({k} * 1000) AS ts,"
        " user_id, event_type, value, props FROM {src}",
        "the same users, timestamps offset by k ms: per-user sequences"
        " 10x longer, the window-sort stress direction"),
    "part_rows": Corpus(
        "part",
        "SELECT p_partkey * 10 + {k} AS p_partkey, p_name,"
        " p_brand, p_type, p_size, p_retailprice FROM {src}",
        "names unchanged: 10x rows over the same vocabulary"),
    "part_vocab": Corpus(
        "part",
        "SELECT p_partkey * 10 + {k} AS p_partkey,"
        " CASE WHEN {k} = 0 THEN p_name"
        " ELSE chr(97 + {k}) || p_name END AS p_name,"
        " p_brand, p_type, p_size, p_retailprice FROM {src}",
        "copy k > 0 prepends one letter to the name: 10x vocabulary and"
        " real fuzzy pairs across copies inside one last-token block"),
}

# (label, build(spark, sf_dir) -> DataFrame, oracle SQL); a bare name is
# a registered query with its registered oracle.
Entry = tuple[str, Callable, str]


class Suite(NamedTuple):
    entries: tuple
    corpora: tuple[str, ...]
    claim: str


def _containment(mod: int, residue: int = 0) -> Entry:
    return (f"containment_mod{mod}_r{residue}",
            lambda s, d: _containment_impl(s, d, mod, residue),
            _sql_containment_bruteforce(mod, residue))


SUITES = {
    "retrieval": Suite(
        ("bm25_topk", "rag_chunk_retrieval", "hashed_knn_search",
         "hybrid_rrf_retrieval", "retrieval_pruning_recall"), ("docs",),
        "Scoring joins queries to pruned posting lists on bounded keys,"
        " so the wall grows with the postings, never queries x docs."),
    "phash": Suite(
        tuple(m.pairs_name for m in MEDIA), ("docs",),
        "Pairing is an equi-join on 16-bit band values bounded by bucket"
        " sizes, never |assets|^2, after one linear fingerprint pass."),
    "admission": Suite(
        ("pipeline_ingest_admission", "pipeline_ingest_report"), ("docs",),
        "Every leg's candidate generator is an equi-join on bounded keys"
        " and every per-doc stage a map, so the composition scales with"
        " the shard and index sizes."),
    "incremental": Suite(
        (*(f"dedup_{m.name}_incremental" for m in MEDIA),
         "dedup_minhash_incremental"), ("docs",),
        "A shard costs one fingerprint pass plus a one-sided band"
        " equi-join over the buckets it touches, never |shard| x |corpus|."),
    "quality": Suite(
        ("quality_audio_screen", "quality_image_screen",
         "quality_video_screen", "quality_media_report"), ("docs",),
        "Each screen is one linear decode pass whose payload never"
        " shuffles, with JVM verdicts: no join, no candidate term."),
    "bands": Suite(
        ("stream_doc_shingles", "stream_gopher_rules",
         "stream_repetition_rules", "stream_asset_manifest",
         "stream_lm_bigram_counts"), ("docs",),
        "Each drain is a per-row map or a map-side-combined per-batch"
        " count, so it scales linearly with the document count."),
    "embed": Suite(
        ("embed_neardup_incremental",), ("embed",),
        "A vector shard costs one bucketing pass plus a one-sided (band,"
        " bucket) equi-join, and exact cosine runs on candidates only."),
    "events": Suite(
        ("event_transitions", "user_journey_paths",
         "stream_event_transitions"), ("events_users", "events_density"),
        "After the user-keyed window shuffle every table is grid-bounded,"
        " so cost follows the shuffled rows, as more users or longer"
        " sequences."),
    "linkage": Suite(
        ("fuzzy_blocked_match", "entity_resolution", "skyline_parts"),
        ("part_rows", "part_vocab"),
        "Pairing is bounded by the vocabulary, not the rows: 10x rows"
        " stay about flat, 10x vocabulary is the in-block stress case."),
    "containment": Suite(
        (_containment(1), *(_containment(50, r) for r in (0, 7, 23))),
        ("docs",),
        "The prefix-filtered plan with every document a suspect equals"
        " the brute-force oracle; rows are independent per doc_a, so a"
        " mod-50 residue slice is checked on its own."),
}


def stage_dir(name: str, src: str, base: str = SCRATCH) -> str:
    """Where corpus ``name`` built from ``src`` lives: keyed on the
    generator SQL and on the source dir, so neither an edited generator
    nor another scale factor reuses a stale corpus."""
    digest = hashlib.md5(CORPORA[name].select.encode()).hexdigest()[:8]
    return os.path.join(base, f"scale10x_{name}_{sf_key(src)}_{digest}")


def stage(name: str, src: str, base: str = SCRATCH) -> str:
    """Build corpus ``name`` (10 copies of its table) from ``src`` once;
    every other fixture table is a link to the source's."""
    c = CORPORA[name]
    dst = stage_dir(name, src, base)
    out = os.path.join(dst, f"{c.table}.parquet")
    if os.path.exists(out):
        return dst
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    for t in TABLES:
        if t != c.table:
            os.symlink(os.path.join(os.path.abspath(src), f"{t}.parquet"),
                       os.path.join(dst, f"{t}.parquet"))
    copies = " UNION ALL ".join(
        c.select.format(k=k, src=f"'{src}/{c.table}.parquet'")
        for k in range(10))
    duckdb.connect().sql(
        f"COPY ({copies}) TO '{out}.part' (FORMAT PARQUET)")
    os.rename(f"{out}.part", out)
    return dst


def _entry(e) -> Entry:
    if isinstance(e, str):
        return e, operators.QUERIES[e], operators.ORACLES[e]
    return e


def timed(spark, label: str, build, sf_dir: str, reps: int,
          plan_tag: str | None) -> dict:
    """Best of ``reps`` cold runs of build + noop write."""
    best = None
    for rep in range(reps):
        t0 = time.monotonic()
        df = build(spark, sf_dir)
        t1 = time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.monotonic()
        rec = {"build_s": round(t1 - t0, 2), "exec_s": round(t2 - t1, 2),
               "total_s": round(t2 - t0, 2)}
        print(f"{label} rep{rep} {sf_dir}: {rec}", flush=True)
        if best is None or rec["total_s"] < best["total_s"]:
            best = rec
        if plan_tag and rep == 0:
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(ROOT, "plans",
                                   f"{label}_{plan_tag}.txt"), "w") as f:
                f.write(buf.getvalue())
    return best


def run_suite(spark, suite: Suite, src: str, reps: int,
              plan_tag: str | None, spill: str) -> tuple[dict, bool]:
    dirs = {c: stage(c, src) for c in suite.corpora}
    out = {"claim": suite.claim, "times": {}, "oracle": {},
           "corpora": {c: {"dir": d, "why": CORPORA[c].why}
                       for c, d in dirs.items()}}
    green = True
    for label, build, oracle in map(_entry, suite.entries):
        rec = {"source": timed(spark, label, build, src, reps, plan_tag)}
        for c, d in dirs.items():
            rec[c] = timed(spark, label, build, d, reps, None)
            rec[f"{c}_ratio"] = round(
                rec[c]["total_s"] / max(rec["source"]["total_s"], .01), 2)
            ok, msg = compare(build(spark, d), oracle, d, temp_dir=spill)
            out["oracle"][f"{label}@{c}"] = {"ok": bool(ok),
                                             "msg": msg[:160]}
            print("oracle", label, c, ok, msg[:160], flush=True)
            green &= bool(ok)
        out["times"][label] = rec
    return out, green


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="+",
                    help=f"suites ({', '.join(SUITES)}) or query names")
    ap.add_argument("--sf", default=DEFAULT_SF_DIR,
                    help="source fixture dir the corpora are built from")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--plan-tag", default=None,
                    help="write plans/<name>_<tag>.txt")
    args = ap.parse_args()

    operators.load_all()
    unknown = [n for n in args.names
               if n not in SUITES and n not in operators.QUERIES]
    if unknown:
        ap.error(f"neither a suite nor a query: {unknown}")

    spark = get_spark("scale")
    spark.sparkContext.setLogLevel("ERROR")
    # the bench's warm-up: JVM + parquet footers, then the Python
    # worker pool, so the first timed entry pays neither
    operators.QUERIES["wordcount"](spark, args.sf).write.format(
        "noop").mode("overwrite").save()
    spark.range(spark.sparkContext.defaultParallelism * 4) \
        .repartition(spark.sparkContext.defaultParallelism) \
        .mapInPandas(lambda it: it, "id long") \
        .write.format("noop").mode("overwrite").save()

    spill = os.path.join(SCRATCH, "scale_duckdb_tmp")
    result, green = {"sf": args.sf, "reps": args.reps}, True
    try:
        for n in args.names:
            if n in SUITES:
                result[n], ok = run_suite(spark, SUITES[n], args.sf,
                                          args.reps, args.plan_tag, spill)
                green &= ok
            else:
                result[n] = timed(spark, n, operators.QUERIES[n], args.sf,
                                  args.reps, args.plan_tag)
    finally:
        shutil.rmtree(spill, ignore_errors=True)
    os.makedirs(SCRATCH, exist_ok=True)
    path = os.path.join(SCRATCH, f"scale_{'+'.join(args.names)}.json")
    with open(path, "w") as f:
        json.dump(result, f, indent=1)
    print("wrote", path, "" if green else "(an oracle check failed)")
    return 0 if green else 1


if __name__ == "__main__":
    sys.exit(main())
