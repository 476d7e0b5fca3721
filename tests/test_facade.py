"""Unit tests for the MapReduce facade and the text/JSON/CSV sources."""

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from mit_mapreduce_spark import sources
from mit_mapreduce_spark.mapreduce import fnv32a, run_job


def test_fnv32a_matches_go_fnv(tmp_path):
    # Known FNV-1a 32-bit digests (Go hash/fnv New32a), & 0x7fffffff.
    assert fnv32a("hello") == 0x4F9F2CAB
    assert fnv32a("") == 0x811C9DC5 & 0x7FFFFFFF
    # 31-bit mask applied (mr/worker.go:42)
    assert all(fnv32a(s) < 2**31 for s in ("a", "b", "xyzzy", "längère"))


def test_run_job_wordcount_tiny(spark, tmp_path):
    (tmp_path / "f1.txt").write_text("a b a\nc")
    (tmp_path / "f2.txt").write_text("b a")
    df = run_job(
        spark,
        lambda fn, c: [(w, "1") for w in c.split()],
        lambda k, vs: str(len(vs)),
        str(tmp_path / "*.txt"),
    )
    got = {r.key: r.value for r in df.collect()}
    assert got == {"a": "3", "b": "2", "c": "1"}


def test_run_job_reduce_sees_all_values_of_key(spark, tmp_path):
    (tmp_path / "x.txt").write_text("ignored")
    df = run_job(
        spark,
        lambda fn, c: [("k", v) for v in ("3", "1", "2")],
        lambda k, vs: " ".join(sorted(vs)),
        str(tmp_path / "x.txt"),
    )
    assert df.collect()[0].value == "1 2 3"


def test_run_job_rejects_non_string_pairs(spark, tmp_path):
    """A Map pair that is not (str, str) — the reference's KeyValue —
    fails with a TypeError naming the pair, not a deep Arrow error."""
    import pytest

    (tmp_path / "x.txt").write_text("a")
    df = run_job(spark, lambda fn, c: [(fn, 1)], lambda k, vs: "",
                 str(tmp_path / "x.txt"))
    with pytest.raises(Exception, match=r"TypeError: Map must emit "
                       r"\(str, str\) pairs.*\('x\.txt', 1\)"):
        df.collect()


def test_materialize_inputs_restages_rewritten_table(spark, tmp_path):
    """The facade's staged corpus is keyed on the documents file's
    metadata: rewriting the table with the same row count (and byte
    length) but different text must restage, not reuse stale files."""
    import glob
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mit_mapreduce_spark.operators.mrparity import _materialize_inputs

    sf = tmp_path / f"sf_restage_{os.getpid()}"
    sf.mkdir()

    def write_docs(texts):
        pq.write_table(pa.table({"doc_id": [1, 2], "source": ["s1", "s2"],
                                 "text": texts}),
                       str(sf / "documents.parquet"))

    def staged(pattern):
        return {os.path.basename(p): open(p, encoding="utf-8").read()
                for p in glob.glob(pattern)}

    write_docs(["old one", "old two"])
    pattern = _materialize_inputs(spark, str(sf))
    try:
        assert staged(pattern) == {"s1": "old one\n", "s2": "old two\n"}
        assert _materialize_inputs(spark, str(sf)) == pattern  # cache hit
        write_docs(["new one", "new TWO"])
        assert _materialize_inputs(spark, str(sf)) == pattern
        assert staged(pattern) == {"s1": "new one\n", "s2": "new TWO\n"}
    finally:
        shutil.rmtree(os.path.dirname(os.path.dirname(pattern)),
                      ignore_errors=True)


def test_write_kv_text_mr_out_contract(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", "1"), ("b", "2"), ("c", "3")], ["key", "value"])
    out = str(tmp_path / "out")
    files = sources.write_kv_text(df, out, n_partitions=3)
    names = sorted(os.path.basename(f) for f in files)
    # One mr-out-N per reduce partition, like the reference's per-task
    # ofile creation (possibly empty).
    assert names == ["mr-out-0", "mr-out-1", "mr-out-2"]
    lines = sorted(
        line
        for f in files
        for line in open(f, encoding="utf-8").read().splitlines()
    )
    assert lines == ["a 1", "b 2", "c 3"]
    # PER-FILE fidelity: each key must land in the file the reference's
    # FNV-32a routing picks (mr/worker.go:38-42,132).
    for k, v in (("a", "1"), ("b", "2"), ("c", "3")):
        want = os.path.join(out, f"mr-out-{fnv32a(k) % 3}")
        assert f"{k} {v}" in open(want, encoding="utf-8").read().splitlines()


def test_whole_text_files_roundtrip(spark, tmp_path):
    (tmp_path / "doc1").write_text("hello\nworld")
    got = sources.whole_text_files(spark, str(tmp_path / "*")).collect()
    assert len(got) == 1 and got[0].content == "hello\nworld"


def test_json_csv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "x"), (2, "y")], ["id", "s"])
    jdir, cdir = str(tmp_path / "j"), str(tmp_path / "c")
    sources.write_json(df, jdir)
    sources.write_csv(df, cdir)
    schema = T.StructType([
        T.StructField("id", T.LongType()), T.StructField("s", T.StringType())])
    back_j = sources.read_json(spark, jdir, schema)
    back_c = sources.read_csv(spark, cdir, schema=schema)
    expect = {(1, "x"), (2, "y")}
    assert {tuple(r) for r in back_j.collect()} == expect
    assert {tuple(r) for r in back_c.collect()} == expect


def test_partitioned_parquet_dynamic_overwrite(spark, tmp_path):
    """Dynamic overwrite must replace only the partitions being written."""
    from pyspark.sql import Row

    out = str(tmp_path / "pt")
    df1 = spark.createDataFrame(
        [Row(k="a", v=1), Row(k="a", v=2), Row(k="b", v=3)])
    sources.write_parquet_partitioned(df1, out, ["k"])
    assert sorted(r.v for r in spark.read.parquet(out).collect()) == [1, 2, 3]

    # overwrite partition a only; partition b must survive untouched
    df2 = spark.createDataFrame([Row(k="a", v=9)])
    sources.write_parquet_partitioned(df2, out, ["k"])
    got = {(r.k, r.v) for r in spark.read.parquet(out).collect()}
    assert got == {("a", 9), ("b", 3)}


def test_orc_round_trip(spark, tmp_path):
    from pyspark.sql import Row

    out = str(tmp_path / "orc")
    df = spark.createDataFrame([Row(a=1, b="x"), Row(a=2, b="y")])
    sources.write_orc(df, out)
    back = sources.read_orc(spark, out)
    assert sorted((r.a, r.b) for r in back.collect()) == [(1, "x"), (2, "y")]


def test_compact_parquet_merges_small_files(spark, tmp_path):
    import glob

    frag, compact = str(tmp_path / "frag"), str(tmp_path / "compact")
    df = spark.range(0, 10_000).withColumn("pad", F.md5(F.col("id").cast("string")))
    df.repartition(64).write.parquet(frag)  # 64 tiny files
    n_in = len(glob.glob(frag + "/part-*"))
    assert n_in == 64

    n_declared = sources.compact_parquet(spark, frag, compact,
                                         target_file_bytes=10**9)
    n_out = len(glob.glob(compact + "/part-*"))
    assert n_declared == n_out == 1
    assert spark.read.parquet(compact).count() == 10_000


def test_schema_evolution_merge(spark, tmp_path):
    """Old partitions (2 cols) + new partitions (3 cols) must read as
    one table with NULLs for the column old rows predate."""
    from pyspark.sql import Row

    old, new = str(tmp_path / "v1"), str(tmp_path / "v2")
    spark.createDataFrame([Row(id=1, a="x")]).write.parquet(old)
    spark.createDataFrame([Row(id=2, a="y", b=7)]).write.parquet(new)
    df = sources.read_parquet_evolved(spark, old, new)
    got = {(r.id, r.a, r.b) for r in df.collect()}
    assert got == {(1, "x", None), (2, "y", 7)}


def test_permissive_csv_quarantines_bad_rows(spark, tmp_path):
    """A malformed row must land in _corrupt_record, not kill the scan."""
    from pyspark.sql import types as T

    p = tmp_path / "in.csv"
    p.write_text("1,alpha\nnot_a_number,beta\n2,gamma\n")
    schema = T.StructType([
        T.StructField("id", T.IntegerType()),
        T.StructField("name", T.StringType()),
    ])
    # Spark disallows queries whose only referenced column is the
    # internal corrupt-record column on an uncached CSV scan; cache
    # first (the helper's docstring documents this audit pattern).
    df = sources.read_csv_permissive(spark, str(p), schema).cache()
    good = df.where(F.col("_corrupt_record").isNull())
    bad = df.where(F.col("_corrupt_record").isNotNull())
    assert sorted(r.id for r in good.collect()) == [1, 2]
    assert bad.count() == 1
    assert "not_a_number" in bad.collect()[0]._corrupt_record


def test_merge_upsert_matched_and_inserted(spark, sf_dir, tmp_path):
    """MERGE semantics: matched keys take the update's values, new
    keys are inserted, untouched rows survive byte-for-byte."""
    from mit_mapreduce_spark.catalog import load_table
    from mit_mapreduce_spark.sources import merge_upsert

    base_dir = str(tmp_path / "nation_tbl")
    load_table(spark, sf_dir, "nation").write.parquet(base_dir)

    updates = spark.createDataFrame(
        [(0, "NATION_0_RENAMED", 9), (99, "NATION_99_NEW", 9)],
        "n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT")
    n = merge_upsert(spark, base_dir, updates, ["n_nationkey"])
    assert n == 26  # 25 original + 1 insert

    back = {r.n_nationkey: (r.n_name, r.n_regionkey)
            for r in spark.read.parquet(base_dir).collect()}
    assert back[0] == ("NATION_0_RENAMED", 9)       # matched → updated
    assert back[99] == ("NATION_99_NEW", 9)         # not matched → inserted
    assert back[7][0] == "NATION_7"                 # untouched row intact
    assert len(back) == 26

    # duplicate keys in updates: MERGE is undefined — must raise, and
    # a failed merge must leave the base untouched
    import pytest as _pytest

    dup = spark.createDataFrame(
        [(1, "A", 1), (1, "B", 1)],
        "n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT")
    with _pytest.raises(ValueError, match="duplicate keys"):
        merge_upsert(spark, base_dir, dup, ["n_nationkey"])
    assert spark.read.parquet(base_dir).count() == 26


def test_xml_round_trip(spark, sf_dir, tmp_path):
    """Spark 4 native XML source/sink: nation survives an XML round
    trip with an explicit read schema (no inference pass)."""
    from pyspark.sql import types as T

    from mit_mapreduce_spark.catalog import load_table
    from mit_mapreduce_spark.sources import read_xml, write_xml

    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey")
    out = str(tmp_path / "nation_xml")
    write_xml(n, out, row_tag="nation", root_tag="nations")
    schema = T.StructType([
        T.StructField("n_nationkey", T.LongType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.LongType()),
    ])
    back = read_xml(spark, out, row_tag="nation", schema=schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, n.collect()))


