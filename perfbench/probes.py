"""Layer probes of the traced run.

Every probe sits outside the program: it wraps the public functions
each layer exposes, counts the py4j round trips the Python driver
makes, forces Catalyst's phases before the write, and afterwards
reads Spark's own event log. Nothing is installed during untraced
passes.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import sys
import threading
import time
from dataclasses import asdict

import tracelib as tr

# (module, function, layer): the layer entry points to wrap. Operator
# modules bind their own reference with ``from ... import``, so every
# module-level binding of the function is replaced, not only this one.
ENTRY_POINTS = (
    ("mit_mapreduce_spark.catalog", "load_table", "catalog"),
    ("mit_mapreduce_spark.mapreduce", "run_job", "mapreduce"),
    ("mit_mapreduce_spark.streaming", "run_stream_to_table", "streaming"),
    ("mit_mapreduce_spark.streaming", "drain_via_batch", "streaming"),
)
CATALYST_PHASES = ("analysis", "optimization", "planning")
PHASES = ("build", "catalyst", "exec")  # the spans of one query


class Tracing:
    def __init__(self):
        self.tracer = tr.Tracer(time.time)
        self.records: list[dict] = []  # one per traced query execution
        self.pass_spans: list[tr.Span] = []
        self.run_span = self.tracer.open("run", "run")
        self._py4j = 0
        self._py4j_lock = threading.Lock()
        self._undo: list = []

    # --- install / remove the wrappers ----------------------------------

    def _wrap(self, fn, layer: str):
        tracer = self.tracer

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sp = tracer.open(fn.__name__, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(sp)
        return traced

    def install(self) -> None:
        from py4j.java_gateway import GatewayClient
        send = GatewayClient.send_command

        def counted(client, *args, **kwargs):
            with self._py4j_lock:
                self._py4j += 1
            return send(client, *args, **kwargs)
        GatewayClient.send_command = counted
        self._undo.append((GatewayClient, "send_command", send))
        # every streaming drain, whichever program function starts it,
        # ends in awaitTermination
        from pyspark.sql.streaming.query import StreamingQuery
        wait = StreamingQuery.awaitTermination
        StreamingQuery.awaitTermination = self._wrap(wait, "streaming")
        self._undo.append((StreamingQuery, "awaitTermination", wait))
        for mod_name, attr, layer in ENTRY_POINTS:
            orig = getattr(importlib.import_module(mod_name), attr)
            wrapped = self._wrap(orig, layer)
            for name, mod in list(sys.modules.items()):
                if (name.startswith("mit_mapreduce_spark")
                        and getattr(mod, attr, None) is orig):
                    setattr(mod, attr, wrapped)
                    self._undo.append((mod, attr, orig))

    def uninstall(self) -> None:
        while self._undo:
            obj, attr, orig = self._undo.pop()
            setattr(obj, attr, orig)

    def py4j_calls(self) -> int:
        with self._py4j_lock:
            return self._py4j

    # --- one traced pass / query ------------------------------------------

    def begin_pass(self) -> None:
        self.install()
        self.pass_spans.append(self.tracer.open(
            f"pass{len(self.pass_spans)}", "pass", parent=self.run_span.id))

    def end_pass(self) -> None:
        self.tracer.close(self.pass_spans[-1])
        self.uninstall()

    def _phase(self, q: tr.Span, name: str, layer: str) -> tr.Span:
        sp = self.tracer.open(name, layer, parent=q.id)
        self.tracer.phase = sp.id
        return sp

    def run_query(self, name: str, build):
        """Build, force Catalyst's phases, then execute one query, each
        under its own span; returns the built DataFrame."""
        t = self.tracer
        q = t.open(name, "query", parent=self.pass_spans[-1].id)
        rec = {"name": name, "pass": len(self.pass_spans) - 1, "query": q}
        try:
            b = self._phase(q, "build", "operators")
            c0 = self.py4j_calls()
            try:
                df = build()
            finally:
                t.close(b)
                rec["py4j"] = self.py4j_calls() - c0
                rec["build"] = b
            c = self._phase(q, "catalyst", "catalyst")
            try:
                # After a noop write the tracker holds only `analysis`,
                # so the plan is forced here, before the write.
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                rec["phases_ms"] = read_phases(qe.tracker().phases())
            finally:
                t.close(c)
                rec["catalyst"] = c
            e = self._phase(q, "exec", "exec")
            try:
                df.write.format("noop").mode("overwrite").save()
            finally:
                t.close(e)
                rec["exec"] = e
        finally:
            t.phase = None
            t.close(q)
            self.records.append(rec)
        return df

    # --- after the run ---------------------------------------------------

    def report(self, eventlog_dir: str, untraced_passes, session_s: float):
        """Per-layer metrics (medians over the traced passes of each
        pass's totals) as ``{name: (value, unit)}``, and the layer
        shares of a traced pass."""
        t = self.tracer
        t.close(self.run_span)
        log = tr.read_event_log(tr.event_files(eventlog_dir))
        windows = []
        for i, rec in enumerate(self.records):
            for phase in PHASES:
                sp = rec.get(phase)
                if sp is not None and sp.end is not None:
                    windows.append(((i, phase), sp.start, sp.end))
        # jobs and stages each belong to the phase window they were
        # submitted in (a shuffle stage can be listed by several jobs)
        job_owner = tr.attribute(((j.id, j.submit) for j in log.jobs.values()),
                                 windows)
        stage_owner = tr.attribute(((k, st.submit) for k, st in
                                    log.stages.items() if st.submit), windows)
        jobs_of: dict[tuple, list] = {}
        job_span: dict[int, tr.Span] = {}
        for job_id, (i, phase) in sorted(job_owner.items()):
            job = log.jobs[job_id]
            jobs_of.setdefault((i, phase), []).append(job)
            phase_span = self.records[i][phase]
            job_span[job_id] = t.add(
                f"job{job_id}", "spark_job", phase_span.id, job.submit,
                job.end if job.end is not None else phase_span.end)
        stages_in: dict[tuple, list] = {}
        for key, (i, phase) in stage_owner.items():
            st = log.stages[key]
            stages_in.setdefault((i, phase), []).append(st)
            # under the latest job of its window that lists it
            owners = [j for j in jobs_of.get((i, phase), [])
                      if st.id in j.stages and j.submit <= st.submit]
            parent = (job_span[max(owners, key=lambda j: j.submit).id].id
                      if owners else self.records[i][phase].id)
            t.add(f"stage{st.id}.{st.attempt}", "spark_stage", parent,
                  st.submit, st.end if st.end is not None else st.submit)
        selfs = tr.self_times(t.spans)
        progress = sorted(log.progress)

        per_pass = []
        for p, ps in enumerate(self.pass_spans):
            recs = [(i, r) for i, r in enumerate(self.records)
                    if r["pass"] == p]
            sub = tr.subtree(t.spans, ps.id)
            build_jobs = [j for i, _ in recs for j in jobs_of.get((i, "build"), [])]
            exec_jobs = [j for i, _ in recs for j in jobs_of.get((i, "exec"), [])]
            ex = tr.stage_totals([st for i, _ in recs
                                  for st in stages_in.get((i, "exec"), [])])
            every = tr.stage_totals([st for i, _ in recs for ph in PHASES
                                     for st in stages_in.get((i, ph), [])])
            named = lambda n: [s for s in sub if s.name == n]  # noqa: E731
            drains = named("awaitTermination")
            mr = [r for _, r in recs if any(
                s.name == "run_job" for s in tr.subtree(t.spans, r["build"].id))]
            wall = ps.dur
            m = {
                "catalog.load_table_calls": len(named("load_table")),
                "catalog.load_table_s": sum(s.dur for s in named("load_table")),
                "operators.build_s": sum(r["build"].dur for _, r in recs),
                "operators.py4j_calls": sum(r["py4j"] for _, r in recs),
                "operators.build_jobs": len(build_jobs),
                "operators.build_job_s": sum(job_s(j) for j in build_jobs),
                "exec.s": sum(r["exec"].dur for _, r in recs if "exec" in r),
                "exec.jobs": len(exec_jobs),
                "exec.stages": ex["stages"],
                "exec.tasks": ex["tasks"],
                "exec.executor_run_s": ex["run_s"],
                "exec.executor_cpu_s": ex["cpu_s"],
                "exec.scheduler_overhead_s": ex["scheduler_overhead_s"],
                "exec.gc_s": ex["gc_s"],
                "exec.shuffle_bytes": ex["shuffle_bytes"],
                "exec.shuffle_records": ex["shuffle_records"],
                "exec.spill_bytes": ex["spill_bytes"],
                "exec.task_success_ratio": ex["task_success_ratio"],
                "kernels.python_run_s": every["py_run_s"],
                "kernels.python_start_s": every["py_start_s"],
                "kernels.python_init_s": every["py_init_s"],
                "kernels.python_bytes": every["py_bytes"],
                "kernels.python_rdd_run_s": every["python_rdd_run_s"],
                "mapreduce.run_job_calls": len(named("run_job")),
                "mapreduce.query_s": sum(r["query"].dur for r in mr),
                "streaming.drain_calls": len(drains),
                "streaming.drain_s": sum(s.dur for s in drains),
                "streaming.batches": sum(ps.start <= x <= ps.end
                                         for x in progress),
                "trace.pass_s": wall,
            }
            for phase in CATALYST_PHASES:
                m[f"catalyst.{phase}_ms"] = sum(
                    r.get("phases_ms", {}).get(phase, 0.0) for _, r in recs)
            for layer in SELF_LAYERS:
                m[f"self.{layer}_s"] = sum(selfs.get(s.id, 0.0) for s in sub
                                           if s.layer == layer)
            # self times of a query's subtree sum to its wall by
            # construction; this is the largest relative miss
            err = 0.0
            for _, r in recs:
                q = r["query"]
                total = selfs.get(q.id, 0.0) + sum(
                    selfs.get(s.id, 0.0) for s in tr.subtree(t.spans, q.id))
                err = max(err, abs(total - q.dur) / q.dur if q.dur else 0.0)
            m["trace.self_sum_error"] = err
            kernel = every["py_run_s"] + every["python_rdd_run_s"]
            m["share.build"] = m["operators.build_s"] / wall
            m["share.catalyst"] = sum(r["catalyst"].dur for _, r in recs
                                      if "catalyst" in r) / wall
            m["share.exec"] = m["exec.s"] / wall
            m["share.kernel"] = kernel / every["run_s"] if every["run_s"] else 0.0
            per_pass.append(m)

        def med(name):
            return tr.median(m[name] for m in per_pass)
        untraced = tr.median(untraced_passes)
        values = {"session.start_s": session_s,
                  "trace.untraced_pass_s": untraced,
                  "trace.overhead_s": med("trace.pass_s") - untraced}
        metrics = {name: (values[name] if name in values else med(name), unit)
                   for name, unit, _ in PER_LAYER}
        shares = {k: med(k) for k in SHARES}
        return metrics, shares

    def write_spans(self, out_dir: str, stem: str) -> str:
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{stem}.json")
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.tracer.spans], f)
        return path


def read_phases(phases) -> dict[str, float]:
    """Catalyst ``QueryPlanningTracker.phases()`` (a Scala map reached
    over py4j) as ``{phase: milliseconds}``."""
    out = {}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


def job_s(job: tr.Job) -> float:
    return (job.end - job.submit) if job.end is not None else 0.0


SELF_LAYERS = ("operators", "catalyst", "exec", "catalog", "mapreduce",
               "streaming", "spark_job", "spark_stage")

# Layer shares of a traced pass: build, Catalyst and exec wall over the
# pass wall; kernel = Python worker time over all executor run time.
SHARES = ("share.build", "share.catalyst", "share.exec", "share.kernel")

# (name, unit, better): every metric a traced run reports, in order.
# BENCHMARK.json's per_layer list is this list.
PER_LAYER = (
    ("session.start_s", "s", "lower"),
    ("catalog.load_table_calls", "count", "lower"),
    ("catalog.load_table_s", "s", "lower"),
    ("operators.build_s", "s", "lower"),
    ("operators.py4j_calls", "count", "lower"),
    ("operators.build_jobs", "count", "lower"),
    ("operators.build_job_s", "s", "lower"),
    ("catalyst.analysis_ms", "ms", "lower"),
    ("catalyst.optimization_ms", "ms", "lower"),
    ("catalyst.planning_ms", "ms", "lower"),
    ("exec.s", "s", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.executor_run_s", "s", "lower"),
    ("exec.executor_cpu_s", "s", "lower"),
    ("exec.scheduler_overhead_s", "s", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("exec.shuffle_bytes", "bytes", "lower"),
    ("exec.shuffle_records", "count", "lower"),
    ("exec.spill_bytes", "bytes", "lower"),
    ("exec.task_success_ratio", "ratio", "higher"),
    ("kernels.python_run_s", "s", "lower"),
    ("kernels.python_start_s", "s", "lower"),
    ("kernels.python_init_s", "s", "lower"),
    ("kernels.python_bytes", "bytes", "lower"),
    ("kernels.python_rdd_run_s", "s", "lower"),
    ("mapreduce.run_job_calls", "count", "lower"),
    ("mapreduce.query_s", "s", "lower"),
    ("streaming.drain_calls", "count", "lower"),
    ("streaming.drain_s", "s", "lower"),
    ("streaming.batches", "count", "lower"),
) + tuple((f"self.{layer}_s", "s", "lower") for layer in SELF_LAYERS) + (
    ("trace.pass_s", "s", "lower"),
    ("trace.untraced_pass_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.self_sum_error", "ratio", "lower"),
)
