"""Certification for the COMPOSED daily-ingest admission at 10x rows
(r14): the individual gates were certified in r11-r13 (media screens,
text MinHash, embedding screen — each ~linear with oracle-green
reruns at the 10x corpus); this certifies the seven-way COMPOSITION
itself — thread-pooled legs, fingerprint semi-joins, one-sided band
equi-joins, broadcast gram join, the verdict tail — at 10x document
rows, with the DuckDB chain oracle re-verified AT scale.

Scale claim: every leg's candidate generator is an equi-join on
bounded keys and every per-doc stage is a pure map, so the composed
admission scales with the shard and index sizes — no all-pairs term
can hide in the composition.

Run: python tools_scale_admission.py   (writes /tmp/scale_admission.json)
"""

import json

from mit_mapreduce_spark import operators
from mit_mapreduce_spark.session import get_spark
from mit_mapreduce_spark.testing import compare
from tools_scale_common import best2
from tools_scale_retrieval import SRC, TENX, build_tenx

operators.load_all()

OPS = ["pipeline_ingest_admission", "pipeline_ingest_report"]


def main():
    build_tenx()
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    out = {"times": {}, "oracle": {}}
    for op in OPS:
        rec = {}
        for label, d in (("sf0.1", SRC), ("10x_rows", TENX)):
            rec[label] = best2(
                lambda d=d: operators.QUERIES[op](spark, d).count())
        rec["rows_ratio"] = round(
            rec["10x_rows"] / max(rec["sf0.1"], .01), 2)
        out["times"][op] = rec
        print(op, rec, flush=True)
        ok, msg = compare(operators.QUERIES[op](spark, TENX),
                          operators.ORACLES[op], TENX)
        out["oracle"][f"{op}@10x_rows"] = bool(ok)
        print("oracle", op, "10x_rows", ok, (msg or "")[:160], flush=True)
    with open("/tmp/scale_admission.json", "w") as f:
        json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
