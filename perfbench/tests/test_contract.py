"""BENCHMARK.json agrees with the code, and inputs are seeded and
collision-proof.

Run: python3 -m pytest perfbench/tests -q
"""

import json
import os
import re
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import probes  # noqa: E402
import run  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    BENCH = json.load(f)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_benchmark_json_lists_what_the_code_reports():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert [w["name"] for w in BENCH["workloads"]] == list(run.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in BENCH["end_to_end"]] \
        == list(run.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in BENCH["per_layer"]] \
        == list(probes.PER_LAYER)


def test_benchmark_json_limits():
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer")
             for m in BENCH[k]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    bounds = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"]
               for w in BENCH["workloads"])
    assert 1 <= BENCH["run_seconds"] <= 60


def _rows(path):
    return sorted(tuple(r.values()) for r in pq.read_table(path).to_pylist())


def test_inputs_are_seeded_permutations(tmp_path):
    a = gen.write_inputs(str(tmp_path / "a"), 1, 0.001, 60, 1)
    b = gen.write_inputs(str(tmp_path / "b"), 1, 0.001, 60, 1)
    c = gen.write_inputs(str(tmp_path / "c"), 2, 0.001, 60, 1)
    for t in ("orders", "documents"):
        ta = pq.read_table(os.path.join(a, f"{t}.parquet"))
        tb = pq.read_table(os.path.join(b, f"{t}.parquet"))
        tc = pq.read_table(os.path.join(c, f"{t}.parquet"))
        assert ta.equals(tb)                       # same seed, same bytes
        assert not ta.equals(tc)                   # another seed differs
    # another seed only permutes the relational tables ...
    assert _rows(os.path.join(a, "orders.parquet")) == \
        _rows(os.path.join(c, "orders.parquet"))
    # ... while the corpus carries seed-specific tokens
    docs_a = pq.read_table(os.path.join(a, "documents.parquet"))
    docs_c = pq.read_table(os.path.join(c, "documents.parquet"))
    assert set(docs_a.column("doc_id").to_pylist()) == \
        set(docs_c.column("doc_id").to_pylist())
    assert set(docs_a.column("text").to_pylist()).isdisjoint(
        docs_c.column("text").to_pylist())


def test_input_dirs_never_collide():
    d = gen.input_dir("/x", "mr_text", 7)
    assert os.path.basename(d) == f"mr_text_s7_{gen.generator_hash()}"
    assert gen.input_dir("/x", "mr_text", 8) != d
    assert gen.input_dir("/x", "ingest_admission", 7) != d
