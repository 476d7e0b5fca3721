"""Round-14 optimization profiler: per-query decomposition of
plan-BUILD time (driver-side DataFrame construction = py4j + analyzer
work) vs EXECUTION time (the noop write), plus the formatted physical
plan, so each optimization targets the term that actually dominates
(guide §1: measure first; §7.2: read the plan).

Usage:
    python tools_profile.py [query ...]        # default: all
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools_profile.py

Writes PROFILE_r14.json {name: {build, exec, total}} and (optionally)
plans/r14/<name>_before.txt when --plans is given.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mit_mapreduce_spark import operators
from mit_mapreduce_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    write_plans = "--plans" in sys.argv
    plans_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "plans", "r14")
    suffix = "_before.txt"
    if "--after" in sys.argv:
        suffix = "_after.txt"
    operators.load_all()
    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")

    # same warmup as bench.py
    operators.QUERIES["wordcount"](spark, SF_DIR).write.format("noop").mode(
        "overwrite").save()
    spark.range(spark.sparkContext.defaultParallelism * 4) \
        .repartition(spark.sparkContext.defaultParallelism) \
        .mapInPandas(lambda it: it, "id long") \
        .write.format("noop").mode("overwrite").save()

    names = args or sorted(operators.QUERIES)
    out: dict[str, dict] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"profile:{name}")
        t0 = time.monotonic()
        try:
            df = operators.QUERIES[name](spark, SF_DIR)
            t1 = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.monotonic()
        except Exception as e:  # noqa: BLE001
            print(f"profile: {name} FAILED: {e}", file=sys.stderr)
            out[name] = {"build": -1.0, "exec": -1.0, "total": -1.0}
            continue
        out[name] = {"build": round(t1 - t0, 3),
                     "exec": round(t2 - t1, 3),
                     "total": round(t2 - t0, 3)}
        print(f"{name:40s} build={t1-t0:7.2f}  exec={t2-t1:7.2f}")
        if write_plans:
            os.makedirs(plans_dir, exist_ok=True)
            try:
                plan = df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution
                    .ExplainMode.fromString("formatted"))
            except Exception:  # noqa: BLE001
                import contextlib
                import io
                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    df.explain("formatted")
                plan = buf.getvalue()
            with open(os.path.join(plans_dir, name + suffix), "w") as f:
                f.write(plan)
    here = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(here, "PROFILE_r14.json")
    try:
        existing = json.load(open(path))
    except (OSError, json.JSONDecodeError):
        existing = {}
    existing.update(out)
    with open(path, "w") as f:
        json.dump(existing, f, indent=1, sort_keys=True)
    total = sum(v["total"] for v in out.values() if v["total"] >= 0)
    build = sum(v["build"] for v in out.values() if v["build"] >= 0)
    print(f"TOTAL {total:.1f}s  (build {build:.1f}s, "
          f"exec {total-build:.1f}s) over {len(out)} queries")


if __name__ == "__main__":
    main()
