"""Certification for the r11 incremental media dedup screens: the
scale claim is that screening an incoming shard against the corpus
index costs one fingerprint pass over the shard plus a one-sided
band equi-join bounded by the (band, value) buckets the shard
touches — never |shard| x |corpus| — and that the per-asset best-
pick window runs over in-radius candidates only.

Reuses the retrieval tier's 10x documents corpus (see
tools_scale_phash.py: doc_id*10+k keeps ids dense, so both the
planted groups AND the doc_id % 40 < 6 shard split cover the scaled
id space — 10x incoming assets against a 10x index). Certified =
wall ratio ~linear at 10x rows AND the DuckDB oracle value-hash
agrees AT the 10x corpus, for each of the three screens.

Run: python tools_scale_incremental.py
(writes /tmp/scale_incremental.json)
"""

import json

from mit_mapreduce_spark import operators
from mit_mapreduce_spark.operators.mmdedup import MEDIA
from mit_mapreduce_spark.session import get_spark
from mit_mapreduce_spark.testing import compare
from tools_scale_common import best2
from tools_scale_retrieval import SRC, TENX, build_tenx

operators.load_all()

OPS = (*(f"dedup_{m.name}_incremental" for m in MEDIA),
       "dedup_minhash_incremental")


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
    with open("/tmp/scale_incremental.json", "w") as f:
        json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
