"""Differential-testing harness: Spark result vs DuckDB oracle.

Mirrors the driver's correctness gate (SURVEY.md §5.3): same parquet
inputs, compare row count + column-name set + order-insensitive
values. Used by the pytest suite at sf0.001 so oracle mismatches are
caught locally before the driver's sf0.01 run.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _dec
import math

import duckdb

from mit_mapreduce_spark.catalog import TABLES


def run_oracle(sql: str, sf_dir: str, temp_dir: str | None = None):
    """Run oracle SQL with the fixture tables registered as views.
    DuckDB spills to ``temp_dir`` (default: ``.tmp`` in the working
    directory) when the query outgrows memory."""
    con = duckdb.connect(config={"temp_directory": temp_dir} if temp_dir else {})
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con.execute(sql)


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, _dec.Decimal):
        return float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("NaN",)
        return v
    if isinstance(v, _dt.datetime):
        # PySpark's collect() yields naive datetimes in the OS zone; with
        # session tz = UTC on a UTC host both sides are naive-UTC. If a
        # tz-aware value ever appears, normalize to UTC before dropping.
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _type_tag(v):
    """Total order over mixed/NULL values: sort by (is-null, type, repr)."""
    if isinstance(v, tuple):
        return (v is None, "tuple", tuple(_type_tag(x) for x in v))
    return (v is None, type(v).__name__, "" if v is None else str(v))


def _rows_to_key(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = [tuple(_norm(r[i]) for i in idx) for r in rows]
    return sorted(normed, key=lambda row: tuple(_type_tag(v) for v in row))


def compare(spark_df, oracle_sql: str, sf_dir: str, max_diff_show: int = 5,
            temp_dir: str | None = None):
    """Return (ok, message). Exact value comparison — the driver hashes
    values, so 'close enough' floats are NOT good enough. ``temp_dir``
    is the oracle's spill directory (see :func:`run_oracle`)."""
    s_cols = [c.lower() for c in spark_df.columns]
    s_rows = [tuple(r) for r in spark_df.collect()]

    cur = run_oracle(oracle_sql, sf_dir, temp_dir)
    o_cols = [d[0].lower() for d in cur.description]
    o_rows = cur.fetchall()

    if sorted(s_cols) != sorted(o_cols):
        return False, f"column mismatch: spark={sorted(s_cols)} oracle={sorted(o_cols)}"
    if len(s_rows) != len(o_rows):
        return False, f"row count mismatch: spark={len(s_rows)} oracle={len(o_rows)}"

    sk = _rows_to_key(s_cols, s_rows)
    ok = _rows_to_key(o_cols, o_rows)
    if sk == ok:
        return True, f"OK ({len(s_rows)} rows)"

    diffs = [(a, b) for a, b in zip(sk, ok) if a != b][:max_diff_show]
    return False, "value mismatch; first diffs (spark vs oracle): " + repr(diffs)
