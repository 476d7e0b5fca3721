"""Certification for the perceptual near-dup tiers (image r9,
widened + audio/video r10): the scale claim is that pairing cost is
bounded by BAND-BUCKET sizes (an equi-join on 16-bit band values
over two packed int64 signatures), never |assets|², and that the
decode+fingerprint stage is a single linear pass whose payload bytes
never shuffle.

Reuses the retrieval tier's 10x documents corpus (tools_scale_
retrieval.build_tenx — doc_id*10+k keeps ids dense, so the planted
variant-group-of-4 structure covers the scaled id space too: 10x
assets, 10x groups, 10x planted pairs). Certified = wall ratio ~
linear at 10x rows AND the DuckDB oracle value-hash agrees AT the
10x corpus, for each of the three pair ops.

Run: python tools_scale_phash.py   (writes /tmp/scale_phash.json)
"""

import json

from mit_mapreduce_spark import operators
from mit_mapreduce_spark.operators.mmdedup import MEDIA
from mit_mapreduce_spark.session import get_spark
from mit_mapreduce_spark.testing import compare
from tools_scale_common import best2
from tools_scale_retrieval import SRC, TENX, build_tenx

operators.load_all()

OPS = tuple(m.pairs_name for m in MEDIA)


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
    with open("/tmp/scale_phash.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
