"""A query that raises is counted and the closed loop goes on (no JVM:
the session and the query registry are stubbed).

Run: python3 -m pytest perfbench/tests -q
"""

import os
import sys
from types import SimpleNamespace

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402


class _Sink:
    def __init__(self, log):
        self.log = log

    def format(self, _):
        return self

    def mode(self, _):
        return self

    def save(self):
        self.log.append("saved")


def test_failing_query_is_counted_and_the_pass_goes_on(monkeypatch):
    saved = []

    def ok(spark, sf_dir):
        return SimpleNamespace(write=_Sink(saved))

    def boom(spark, sf_dir):
        raise RuntimeError("broken query")

    spark = SimpleNamespace(
        sparkContext=SimpleNamespace(applicationId="local-test"))
    runner = run.Runner(spark, "/in", ["boom", "ok"])
    monkeypatch.setattr(runner.ops, "QUERIES", {"boom": boom, "ok": ok})
    runner.run_pass(["boom", "ok", "boom"], timed=True)
    assert (runner.attempted, runner.failed) == (3, 2)
    assert len(runner.latencies) == 1 and saved == ["saved"]
    assert set(runner.last_df) == {"ok"}
    # untimed (warm-up) executions count nowhere
    runner.run_pass(["boom"], timed=False)
    assert (runner.attempted, runner.failed) == (3, 2)
