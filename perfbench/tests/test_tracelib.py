"""Unit tests for the benchmark's pure logic (no Spark needed).

Run: python3 -m pytest perfbench/tests -q
"""

import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import tracelib as tr  # noqa: E402

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
# hand-built, in Spark 4.1's event schema, with round numbers to check
FIXTURE = os.path.join(FIXTURES, "eventlog")
# recorded from Spark 4.1 (local[2]): a mapInPandas noop write, an RDD
# groupByKey count and an availableNow stream; fields the reader does
# not parse were dropped to keep it small
RECORDED = os.path.join(FIXTURES, "recorded")


# --- tail percentile ----------------------------------------------------------

def test_tail_needs_ten_samples_beyond():
    assert tr.tail_percentile(range(19)) is None  # median leaves 9 beyond
    p, v, n = tr.tail_percentile(range(1, 21))
    assert (p, v, n) == (50.0, 10, 20)


def test_tail_picks_highest_supported_percentile():
    xs = list(range(1, 101))
    # p90 of 1..100 is 90, leaving exactly 10 beyond; p95 leaves 5
    assert tr.tail_percentile(xs) == (90.0, 90, 100)
    xs = list(range(1, 1001))
    assert tr.tail_percentile(xs) == (99.0, 990, 1000)


def test_tail_ignores_input_order():
    xs = [5, 1, 9, 3, 7] * 8
    assert tr.tail_percentile(xs) == tr.tail_percentile(sorted(xs))


# --- self time ----------------------------------------------------------------

def span(i, parent, start, end, layer="x"):
    return tr.Span(i, parent, f"s{i}", layer, start, end)


def test_self_time_subtracts_children():
    spans = [span(1, None, 0, 10), span(2, 1, 2, 5), span(3, 1, 6, 7),
             span(4, 2, 3, 4)]
    st = tr.self_times(spans)
    assert st[1] == pytest.approx(10 - 3 - 1)
    assert st[2] == pytest.approx(3 - 1)
    assert st[3] == pytest.approx(1)
    assert st[4] == pytest.approx(1)
    assert sum(st.values()) == pytest.approx(10)


def test_self_time_clips_children_to_parent():
    # a Spark job whose end event lands after the exec span closed
    st = tr.self_times([span(1, None, 0, 4), span(2, 1, 3, 6)])
    assert st[1] == pytest.approx(3)
    assert st[2] == pytest.approx(1)


def test_self_time_splits_overlapping_children():
    # two parallel legs overlapping on [2, 4]
    spans = [span(1, None, 0, 10), span(2, 1, 0, 4), span(3, 1, 2, 6)]
    st = tr.self_times(spans)
    assert st[1] == pytest.approx(4)
    assert st[2] == pytest.approx(2 + 1)
    assert st[3] == pytest.approx(1 + 2)
    assert sum(st.values()) == pytest.approx(10)


def test_self_time_sums_to_wall_with_nested_overlap():
    spans = [span(1, None, 0, 10), span(2, 1, 1, 8), span(3, 1, 4, 9),
             span(4, 2, 2, 6), span(5, 3, 5, 9), span(6, 4, 3, 3.5)]
    st = tr.self_times(spans)
    assert sum(st.values()) == pytest.approx(10)
    assert all(v >= -1e-12 for v in st.values())


def test_subtree():
    spans = [span(1, None, 0, 1), span(2, 1, 0, 1), span(3, 2, 0, 1),
             span(4, None, 0, 1)]
    assert {s.id for s in tr.subtree(spans, 1)} == {2, 3}


def test_tracer_parents_worker_thread_spans_to_the_phase():
    clock = iter(range(100)).__next__
    t = tr.Tracer(clock)
    q = t.open("q", "query")
    b = t.open("build", "operators", parent=q.id)
    t.phase = b.id
    seen = {}

    def leg():
        sp = t.open("load_table", "catalog")
        inner = t.open("inner", "catalog")
        seen["leg"], seen["inner"] = sp.parent, inner.parent
        t.close(inner)
        t.close(sp)

    th = threading.Thread(target=leg)
    th.start()
    th.join(timeout=10)
    assert not th.is_alive()
    main_leg = t.open("load_table", "catalog")
    assert seen["leg"] == b.id          # other thread: under the phase
    assert seen["inner"] != b.id        # nested on its own thread's stack
    assert main_leg.parent == b.id      # main thread: its own stack top


# --- job attribution ----------------------------------------------------------

def test_attribute_by_window():
    windows = [(("q0", "build"), 0.0, 5.0), (("q0", "exec"), 5.5, 9.0),
               (("q1", "build"), 10.0, 12.0)]
    jobs = [(1, 0.5), (2, 4.9), (3, 5.2), (4, 6.0), (5, 11.0), (6, 13.0)]
    got = tr.attribute(jobs, windows)
    assert got == {1: ("q0", "build"), 2: ("q0", "build"),
                   4: ("q0", "exec"), 5: ("q1", "build")}


def test_attribute_jobs_submitted_from_leg_threads():
    # Jobs submitted by ThreadPoolExecutor legs carry no job group of
    # the query, yet start inside its build window: they are build jobs.
    log = tr.read_event_log(tr.event_files(FIXTURE))
    build = (1000.0, 1003.0)
    windows = [("build", *build), ("exec", 1003.5, 1005.0)]
    got = tr.attribute(((j.id, j.submit) for j in log.jobs.values()),
                       windows)
    assert got == {0: "build", 1: "build", 2: "build", 3: "exec"}


# --- event log ----------------------------------------------------------------

def test_event_files_reads_rolled_dir_in_index_order():
    files = tr.event_files(FIXTURE)
    assert [os.path.basename(f).split("_")[1] for f in files] == ["1", "2"]


def test_read_event_log_counters():
    log = tr.read_event_log(tr.event_files(FIXTURE))
    assert sorted(log.jobs) == [0, 1, 2, 3]
    assert log.jobs[3].end == pytest.approx(1004.9)
    tot = tr.stage_totals(log.stages.values())
    assert tot["stages"] == 6
    assert tot["tasks"] == 7
    assert tot["shuffle_records"] == 300
    assert tot["shuffle_bytes"] == 4096
    assert tot["spill_bytes"] == 10
    assert tot["run_s"] == pytest.approx(0.7)
    assert tot["cpu_s"] == pytest.approx(0.35)
    assert tot["gc_s"] == pytest.approx(0.02)
    assert tot["task_success_ratio"] == pytest.approx(6 / 7)
    assert tot["py_run_s"] == pytest.approx(0.25)
    assert tot["py_start_s"] == pytest.approx(0.01)
    assert tot["py_init_s"] == pytest.approx(0.02)
    assert tot["py_bytes"] == 3000
    assert tot["python_rdd_run_s"] == pytest.approx(0.2)
    # stage 0: wall 1000.1..1000.6 = 0.5 s, longest task 0.3 s
    st0 = tr.stage_totals([log.stages[(0, 0)]])
    assert st0["scheduler_overhead_s"] == pytest.approx(0.2)
    assert len(log.progress) == 2


def test_read_recorded_event_log():
    log = tr.read_event_log(tr.event_files(RECORDED))
    assert len(log.jobs) == 5
    assert all(j.end is not None and j.end >= j.submit
               for j in log.jobs.values())
    assert all(st.tasks and st.submit <= st.end for st in log.stages.values())
    # the groupByKey stages run Python closures in PythonRDDs ...
    assert {k for k, st in log.stages.items() if st.python_rdd} == {(3, 0), (4, 0)}
    # ... and the mapInPandas stage reports Spark's Python SQL metrics
    tot = tr.stage_totals(log.stages.values())
    assert tot["tasks"] == 12
    assert tot["py_run_s"] > 0 and tot["py_bytes"] > 0
    assert tot["shuffle_records"] > 0
    assert tot["task_success_ratio"] == 1.0
    assert len(log.progress) == 1
