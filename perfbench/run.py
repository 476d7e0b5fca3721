"""The benchmark command.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One process is one closed-loop client:
it generates the workload's inputs from ``--seed`` (outside every
metric), starts one Spark session on ``local[min(nproc, 4)]``, warms
up, then runs passes over the workload's query mix, one query at a
time, until ``--seconds`` have elapsed. Each query is timed as
build plus ``write.format("noop")``, with the admission memos popped
before every execution as ``bench.py`` does. After the timed passes
every query's last result is checked against its DuckDB oracle.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns on
the Spark event log and the layer wrappers, alternates untraced and
traced passes, and reports the per-layer metrics, the layers' self
times and the tracing overhead; its spans are written to
``.perfbench/traces/``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import tempfile
import time
import traceback

T_PROCESS = time.monotonic()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

import gen  # noqa: E402
import tracelib as tr  # noqa: E402

# Query mixes. Each is small enough that several warm passes fit in
# one run (see DESIGN.md for the sizing and why each workload exists).
WORKLOADS = {
    "mr_text": {
        "queries": ["mr_wordcount", "mr_inverted_index", "mr_sorted_concat",
                    "wordcount", "inverted_index", "sorted_concat",
                    "bm25_topk"],
        "sf": 0.001, "docs": 500, "doc_copies": 1,
    },
    "ingest_admission": {
        "queries": ["stream_ingest_admission"],
        "sf": 0.001, "docs": 500, "doc_copies": 0,
    },
}

# (name, unit, better): the end-to-end metrics of an untraced run, in
# order. BENCHMARK.json's end_to_end list is this list.
END_TO_END = (
    ("pass_s", "s", "lower"),
    ("query_p50_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("setup_s", "s", "lower"),
)

MEMOS = ("_ADMISSION_MEMO", "_MANIFEST_MEMO", "_ADMISSION_CTX_MEMO")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this process plus its direct children (the
    JVM that py4j launched)."""
    me = os.getpid()
    pids = [me]
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == me:
                        pids.append(int(d))
            except (OSError, IndexError, ValueError):
                continue
    kb = []
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb.append(int(line.split()[1]))
        except OSError:
            continue
    log(f"peak RSS by process (MB): {' '.join(f'{k / 1024:.0f}' for k in kb)}")
    return sum(kb) / 1024


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def cpu_share(before, after) -> tuple[float, float]:
    """Busy and host-stolen shares of all CPU time between two
    ``cpu_times`` readings."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    idle = d[3] + d[4]
    steal = d[7] if len(d) > 7 else 0
    return (total - idle - steal) / total, steal / total


def configure_env(work: str, trace: bool) -> None:
    """Everything Spark writes goes under ``work`` in the checkout."""
    local, tmp = os.path.join(work, "local"), os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(min(4, os.cpu_count() or 1))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    args = [f"--driver-java-options -Djava.io.tmpdir={tmp}"]
    if trace:
        elog = os.path.join(work, "eventlog")
        os.makedirs(elog, exist_ok=True)
        args += ["--conf spark.eventLog.enabled=true",
                 "--conf spark.eventLog.compress=false",
                 f"--conf spark.eventLog.dir=file://{elog}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


class Runner:
    """One closed-loop client over one workload."""

    def __init__(self, spark, sf_dir: str, queries, tracing=None):
        from mit_mapreduce_spark import operators
        from mit_mapreduce_spark.operators import mmdedup
        self.spark, self.sf_dir, self.queries = spark, sf_dir, queries
        self.ops, self.mmdedup = operators, mmdedup
        self.tracing = tracing
        self.attempted = self.failed = 0
        self.latencies: list[float] = []
        self.last_df: dict = {}

    def execute(self, name: str, timed: bool, traced: bool) -> float | None:
        key = (self.spark.sparkContext.applicationId, self.sf_dir)
        for memo in MEMOS:
            getattr(self.mmdedup, memo, {}).pop(key, None)
        tracing = self.tracing if traced else None
        if timed:
            self.attempted += 1
        t0 = time.monotonic()
        try:
            if tracing:
                df = tracing.run_query(name, lambda: self.ops.QUERIES[name](
                    self.spark, self.sf_dir))
            else:
                df = self.ops.QUERIES[name](self.spark, self.sf_dir)
                df.write.format("noop").mode("overwrite").save()
        except Exception:  # noqa: BLE001 - a failing query must not end the run
            log(f"{name} FAILED\n{traceback.format_exc()}")
            if timed:
                self.failed += 1
            return None
        dt = time.monotonic() - t0
        self.last_df[name] = df
        if timed:
            self.latencies.append(dt)
        return dt

    def run_pass(self, order, timed: bool, traced: bool = False) -> float:
        if traced:
            self.tracing.begin_pass()
        t0 = time.monotonic()
        for name in order:
            self.execute(name, timed, traced)
        dt = time.monotonic() - t0
        if traced:
            self.tracing.end_pass()
        return dt

    def check(self) -> list[str]:
        """Names of the queries whose last result disagrees with the
        DuckDB oracle (rows-only queries: returned no rows)."""
        from mit_mapreduce_spark.testing import compare
        bad = []
        for name in self.queries:
            df = self.last_df.get(name)
            try:
                if df is None:
                    ok, msg = False, "no successful execution"
                elif name in self.ops.ORACLES:
                    ok, msg = compare(df, self.ops.ORACLES[name], self.sf_dir)
                else:
                    ok, msg = df.count() > 0, "no rows"
            except Exception:  # noqa: BLE001
                ok, msg = False, traceback.format_exc()
            if not ok:
                log(f"oracle mismatch {name}: {str(msg)[:500]}")
                bad.append(name)
        return bad


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - best effort, the wait below decides
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=30)


def remove_scratch(tag: str, app_id: str) -> None:
    """Remove the program's ``.scratch`` entries made for this run."""
    scratch = os.path.join(ROOT, ".scratch")
    if not os.path.isdir(scratch):
        return
    for entry in os.listdir(scratch):
        if tag in entry or app_id in entry:
            shutil.rmtree(os.path.join(scratch, entry), ignore_errors=True)


def seed_arg(text: str) -> int:
    seed = int(text)
    if seed < 0:
        raise argparse.ArgumentTypeError("the seed must be >= 0")
    return seed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=seed_arg, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]
    trace = bool(args.trace)

    if not os.path.isdir(os.path.join(ROOT, "mit_mapreduce_spark")):
        log(f"no mit_mapreduce_spark package under {ROOT}: run from the "
            "repository root of a full checkout")
        return 2
    sys.path.insert(0, ROOT)

    # inputs: generated before the setup clock counts
    t_gen = time.monotonic()
    sf_dir = gen.write_inputs(
        gen.input_dir(os.path.join(WORK, "inputs"), args.workload, args.seed),
        args.seed, wl["sf"], wl["docs"], wl["doc_copies"])
    gen_s = time.monotonic() - t_gen
    tag = os.path.basename(sf_dir)

    work = os.path.join(WORK, "work", f"{tag}_{os.getpid()}")
    configure_env(work, trace)

    from mit_mapreduce_spark import operators
    from mit_mapreduce_spark.session import get_spark
    operators.load_all()
    t_session = time.monotonic()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.monotonic() - t_session
    app_id = spark.sparkContext.applicationId

    tracing = None
    if trace:
        import probes
        tracing = probes.Tracing()
    runner = Runner(spark, sf_dir, wl["queries"], tracing)
    rng = random.Random(args.seed)

    try:
        # One untimed pass: JVM class loading and JIT, parquet footers
        # and the Python worker pool all warm up on the mix itself.
        warm_s = runner.run_pass(wl["queries"], timed=False)
        log(f"setup: session {session_s:.2f} s, warm pass {warm_s:.2f} s")
        setup_s = time.monotonic() - T_PROCESS - gen_s

        passes: list[tuple[bool, float]] = []
        cpu0 = cpu_times()
        t0 = time.monotonic()
        # traced runs alternate untraced and traced passes, starting and
        # ending untraced, so a warming trend does not bias the overhead
        while (time.monotonic() - t0 < args.seconds
               or len(passes) < (3 if trace else 1)
               or (trace and len(passes) % 2 == 0)):
            order = list(wl["queries"])
            rng.shuffle(order)
            traced = trace and len(passes) % 2 == 1
            passes.append((traced, runner.run_pass(order, True, traced)))
            log(f"pass {len(passes)}: {passes[-1][1]:.3f} s")
        busy, steal = cpu_share(cpu0, cpu_times())
        log(f"timed passes: cpu busy {busy:.1%}, stolen by the host "
            f"{steal:.1%}")
        mismatched = runner.check()
        rss_mb = peak_rss_mb()
    finally:
        stop_spark(spark)
        remove_scratch(tag, app_id)
        shutil.rmtree(sf_dir, ignore_errors=True)

    untraced = [dt for traced, dt in passes if not traced]
    n = runner.attempted
    print(f"workload {args.workload} seed {args.seed}: {len(passes)} timed "
          f"passes of {len(wl['queries'])} queries, {n} executions, "
          f"local[{os.environ['SPARK_GRAFT_CPUS']}], inputs generated "
          f"in {gen_s:.2f} s (outside every metric)")
    print(f"failed_frac {runner.failed / max(n, 1):.4f} (of {n} executions)")
    print(f"oracle_mismatch {len(mismatched)} (of {len(wl['queries'])} "
          f"queries) {' '.join(mismatched)}".rstrip())
    tail = tr.tail_percentile(runner.latencies)
    if tail:
        print(f"query_tail_s {tail[1]:.4f} s (p{tail[0]:g}, n={tail[2]})")
    else:
        print(f"query_tail_s not reported: {len(runner.latencies)} "
              "executions leave fewer than 10 beyond any percentile")

    if trace:
        metrics, shares = tracing.report(os.path.join(work, "eventlog"),
                                         untraced, session_s)
        print("layer shares of a traced pass: " + ", ".join(
            f"{k.split('.')[1]} {v:.3f}" for k, v in shares.items()))
        path = tracing.write_spans(os.path.join(WORK, "traces"),
                                   f"{args.workload}_s{args.seed}")
        print(f"spans written to {os.path.relpath(path, ROOT)}")
    else:
        values = {"pass_s": tr.median(untraced),
                  "query_p50_s": tr.median(runner.latencies),
                  "peak_rss_mb": rss_mb, "setup_s": setup_s}
        metrics = {name: (values[name], unit) for name, unit, _ in END_TO_END}
    shutil.rmtree(work, ignore_errors=True)
    for name, (value, unit) in metrics.items():
        extra = ""
        if name == "query_p50_s":
            extra = f" (n={len(runner.latencies)})"
        elif name == "pass_s":
            extra = f" (median of {len(untraced)} passes)"
        print(f"{name} {value:.6g} {unit}{extra}")
    log(f"run wall {time.monotonic() - T_PROCESS:.1f} s")
    print(json.dumps({
        "correct": not mismatched,
        "attempted": n,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
