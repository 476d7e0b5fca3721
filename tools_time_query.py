"""Standalone per-query timer + plan capture (r14 instrument).

Usage: python tools_time_query.py QUERY [QUERY...] [--sf SF_DIR] [--plan OUT]
Times each named query as build + noop write, prints seconds;
optionally writes .explain(formatted) to plans/r14/<name>_<tag>.txt.
"""
import argparse
import io
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mit_mapreduce_spark import operators
from mit_mapreduce_spark.session import get_spark


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--plan-tag", default=None,
                    help="write plans/r14/<name>_<tag>.txt")
    ap.add_argument("--reps", type=int, default=1)
    args = ap.parse_args()

    operators.load_all()
    spark = get_spark("timer")
    spark.sparkContext.setLogLevel("ERROR")
    # same warmup as bench.py
    operators.QUERIES["wordcount"](spark, args.sf).write.format(
        "noop").mode("overwrite").save()
    spark.range(spark.sparkContext.defaultParallelism * 4) \
        .repartition(spark.sparkContext.defaultParallelism) \
        .mapInPandas(lambda it: it, "id long") \
        .write.format("noop").mode("overwrite").save()

    for name in args.names:
        for rep in range(args.reps):
            t0 = time.monotonic()
            df = operators.QUERIES[name](spark, args.sf)
            t1 = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.monotonic()
            print(f"{name} rep{rep}: build={t1-t0:.2f} exec={t2-t1:.2f} "
                  f"total={t2-t0:.2f}", flush=True)
            if args.plan_tag and rep == 0:
                buf = io.StringIO()
                with redirect_stdout(buf):
                    df.explain("formatted")
                out = os.path.join("plans", "r14",
                                   f"{name}_{args.plan_tag}.txt")
                with open(out, "w") as f:
                    f.write(buf.getvalue())


if __name__ == "__main__":
    main()
