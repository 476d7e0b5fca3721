"""A deterministic streaming source on the Spark 4 Python Data Source
API (``SimpleDataSourceStreamReader``).

A replayable counter source that emits rows ``(n, batch_id)`` in
fixed-size chunks per micro-batch, with offsets tracked as
``{"n": <next value>}``. Replayability — ``readBetweenOffsets``
must reproduce any (start, end) range exactly — is what makes a source
usable under Structured Streaming's recovery contract: after a crash,
the engine re-asks for committed ranges and the answer has to match.

Deterministic by construction (no clock, no RNG), so tests can assert
exact totals. A production source (queue consumer, CDC tail) replaces
the arithmetic with client reads but keeps this exact offset shape.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader


class CounterStreamDataSource(DataSource):
    """``spark.readStream.format("counterstream")`` →
    (n bigint, batch_chunk bigint); options: step (rows per batch,
    default 10), limit (total rows, default 100)."""

    @classmethod
    def name(cls) -> str:
        return "counterstream"

    def schema(self) -> str:
        return "n bigint, batch_chunk bigint"

    def simpleStreamReader(self, schema):
        return _CounterReader(self.options)


class _CounterReader(SimpleDataSourceStreamReader):
    def __init__(self, options) -> None:
        self._step = int(options.get("step", 10))
        self._limit = int(options.get("limit", 100))

    def initialOffset(self) -> dict:
        return {"n": 0}

    def read(self, start: dict):
        lo = int(start["n"])
        hi = min(lo + self._step, self._limit)
        return self._rows(lo, hi), {"n": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        # Replay contract: committed ranges must reproduce exactly.
        return self._rows(int(start["n"]), int(end["n"]))

    def commit(self, end: dict) -> None:
        pass  # nothing to clean up; offsets are pure arithmetic

    def _rows(self, lo: int, hi: int):
        # a LIST, not a generator: the simple-reader harness prefetches
        # and pickles the batch driver-side (generators can't pickle).
        # batch_chunk = n // step: the micro-batch chunk the row belongs
        # to under the configured step (ADVICE r4: the old hardcoded
        # //10 silently diverged from the docs whenever step != 10).
        return [(n, n // self._step) for n in range(lo, hi)]
