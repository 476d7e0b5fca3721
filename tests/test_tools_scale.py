"""The scale tool's tables, without a Spark session: every suite names
registered, oracle-bearing queries, and every corpus generator builds
exactly 10 copies of its table next to links to the other fixtures."""

import os

import duckdb
import pytest

import tools_scale
from mit_mapreduce_spark import operators
from mit_mapreduce_spark.catalog import TABLES

operators.load_all()


@pytest.mark.parametrize("suite", sorted(tools_scale.SUITES))
def test_suite_entries_are_registered_and_checked(suite):
    s = tools_scale.SUITES[suite]
    assert s.entries and s.corpora and s.claim
    assert set(s.corpora) <= set(tools_scale.CORPORA)
    for e in s.entries:
        if isinstance(e, str):
            assert e in operators.QUERIES, e
            assert e in operators.ORACLES, e
        else:
            label, build, oracle = e
            assert callable(build) and oracle.strip(), label


def test_a_name_is_a_suite_or_a_query_never_both():
    assert not set(tools_scale.SUITES) & set(operators.QUERIES)


@pytest.mark.parametrize("name", sorted(tools_scale.CORPORA))
def test_corpus_is_ten_copies_with_unique_ids(name, sf_dir, tmp_path):
    table = tools_scale.CORPORA[name].table
    d = tools_scale.stage(name, sf_dir, base=str(tmp_path))
    assert d.startswith(str(tmp_path))
    key = {"documents": "doc_id", "embeddings": "vec_id",
           "events": "event_id", "part": "p_partkey"}[table]
    src_rows = duckdb.sql(
        f"SELECT count(*) FROM '{sf_dir}/{table}.parquet'").fetchone()[0]
    rows, ids = duckdb.sql(
        f"SELECT count(*), count(DISTINCT {key})"
        f" FROM '{d}/{table}.parquet'").fetchone()
    assert rows == ids == 10 * src_rows
    for t in TABLES:
        path = os.path.join(d, f"{t}.parquet")
        assert os.path.exists(path), t
        assert os.path.islink(path) == (t != table), t
    # a staged corpus is reused, not rebuilt
    mtime = os.path.getmtime(os.path.join(d, f"{table}.parquet"))
    assert tools_scale.stage(name, sf_dir, base=str(tmp_path)) == d
    assert os.path.getmtime(os.path.join(d, f"{table}.parquet")) == mtime


def test_stage_dir_is_keyed_on_the_source_dir():
    for name in tools_scale.CORPORA:
        a = tools_scale.stage_dir(name, "/data/a/sf0.1")
        b = tools_scale.stage_dir(name, "/data/b/sf0.1")
        assert a != b
        assert a.startswith(tools_scale.SCRATCH)


def test_stage_dir_is_keyed_on_the_generator(monkeypatch, sf_dir):
    before = tools_scale.stage_dir("docs", sf_dir)
    c = tools_scale.CORPORA["docs"]
    monkeypatch.setitem(tools_scale.CORPORA, "docs",
                        c._replace(select=c.select + " "))
    assert tools_scale.stage_dir("docs", sf_dir) != before
