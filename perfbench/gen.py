"""Seeded input generation for the benchmark.

The program under test reads ten parquet tables from one directory
(``catalog.TABLES``: a TPC-H-like star schema plus ``events``,
``documents`` and ``embeddings``, one single-row-group file each). This
module writes such a directory from scratch, so the benchmark needs no
fixture outside its checkout.

Two seeds are in play:

* ``BASE_SEED`` fixes the table *contents* (value domains and shapes
  copied from the project's synthetic fixtures), so every run seed
  measures the same amount of work;
* the run seed permutes the row order of every table the workload
  reads and picks the seed-specific tokens of the text corpus. Content
  is otherwise unchanged, so the DuckDB oracles hold on every seed.

Every generated directory is named by workload, seed and a hash of
this file (``input_dir``), so a changed generator or a new seed can
never be served a stale directory, and the program's own caches that
key on the directory's basename (the MapReduce facade's staged files,
the streaming stages) never collide either.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_VOCAB = ("a agg batch big column customer data fast filter group hash join"
          " key line merge order part query row scan slow small sort spark"
          " stream table the value vector window").split()
_LANGS = (("en", 0.41), ("fr", 0.15), ("zh", 0.15), ("de", 0.14),
          ("es", 0.15))
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PNOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def generator_hash() -> str:
    """Hash of this file's source: part of every generated dir name."""
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:10]


def input_dir(root: str, workload: str, seed: int) -> str:
    return os.path.join(root, f"{workload}_s{seed}_{generator_hash()}")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: datetime, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days + 1, n).astype(
        "timedelta64[D]").astype("timedelta64[us]")


def _text(rng, n_words: int) -> str:
    return " ".join(_VOCAB[i] for i in rng.integers(0, len(_VOCAB), n_words))


def documents_table(rng, n: int) -> pa.Table:
    """Prose over a 30-word vocabulary; 5% of the docs repeat an
    earlier doc's text plus a ``dup`` marker (the near-duplicate share
    the dedup operators look for)."""
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(_text(rng, int(rng.integers(10, 101))))
    langs, probs = zip(*_LANGS)
    lang = rng.choice(langs, n, p=probs)
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": lang.tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def base_tables(sf: float, n_docs: int) -> dict[str, pa.Table]:
    """The fixed-content tables at scale factor ``sf``."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_li = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(50, int(15_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(_REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust).tolist()})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{a} {b}" for a in _PADJ for b in _PNOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": rng.choice(names, n_part).tolist(),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part).tolist(),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1,
                                  2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord).tolist(),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, datetime(1995, 1, 1), 2403, n_ord),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord).tolist()})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n_li).tolist(),
        "l_linestatus": rng.choice(("F", "O"), n_li).tolist(),
        "l_shipdate": _days(rng, datetime(1995, 1, 2), 2498, n_li)})
    start = np.datetime64(datetime(2024, 1, 1), "us")
    span_us = int(timedelta(days=30).total_seconds() * 1e6)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": start + np.sort(rng.integers(0, span_us, n_ev)).astype(
            "timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n_ev).tolist(),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    t["documents"] = documents_table(rng, n_docs)
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 0.5, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.0, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    return t


def _letters(n: int) -> str:
    """Non-negative int -> lower-case letters (letter-only tokens stay
    whole under the MapReduce apps' unicode.IsLetter tokenizer)."""
    out = ""
    while True:
        out = chr(ord("a") + n % 26) + out
        n //= 26
        if n == 0:
            return out


def scale_documents(docs: pa.Table, copies: int, seed: int) -> pa.Table:
    """``copies`` mutated copies of every doc: the suffix-token mutator
    of tools_scale_retrieval.py (`` uniq{k}tok{doc_id}``, so no copy
    duplicates another) plus one seed-specific letter token per doc
    from a pool of 1000. The token *count* is seed-independent, so
    every seed does the same amount of work."""
    ids = docs.column("doc_id").to_numpy()
    texts = docs.column("text").to_pylist()
    pool = [f"s{_letters(seed)}w{_letters(j)}" for j in range(1000)]
    out_ids, out_texts = [], []
    for k in range(copies):
        for d, txt in zip(ids, texts):
            out_ids.append(int(d) * copies + k)
            out_texts.append(f"{txt} uniq{k}tok{d} {pool[(d * 7 + k) % 1000]}")
    rep = lambda col: pa.concat_arrays(  # noqa: E731
        [docs.column(col).combine_chunks()] * copies)
    # row k * n + i is copy k of doc i, as rep() lays the columns out
    return pa.table({
        "doc_id": pa.array(out_ids, pa.int64()),
        "text": out_texts,
        "lang": rep("lang"),
        "source": rep("source"),
        "n_chars": pa.array([len(t) for t in out_texts], pa.int64()),
    })


def write_inputs(dst: str, seed: int, sf: float, n_docs: int,
                 doc_copies: int = 0) -> str:
    """Write the ten tables to ``dst`` (skipped when already complete),
    every table in a seed-permuted row order; with ``doc_copies`` the
    documents are replaced by that many mutated copies
    (``scale_documents``). Returns ``dst``."""
    marker = os.path.join(dst, ".complete")
    if os.path.exists(marker):
        return dst
    shutil.rmtree(dst, ignore_errors=True)
    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    tables = base_tables(sf, n_docs)
    if doc_copies:
        tables["documents"] = scale_documents(tables["documents"],
                                              doc_copies, seed)
    for name in TABLES:
        tbl = tables[name]
        tbl = tbl.take(rng.permutation(tbl.num_rows))
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=max(1, tbl.num_rows))
    with open(os.path.join(tmp, ".complete"), "w") as f:
        f.write(f"seed={seed} sf={sf} docs={n_docs}x{doc_copies}\n")
    os.replace(tmp, dst)
    return dst
