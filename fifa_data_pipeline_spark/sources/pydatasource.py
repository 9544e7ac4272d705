"""A custom connector via the Python Data Source API (Spark ≥4.0,
SPARK-44076): the pure-Python path for building sources the engine
doesn't ship — schema declaration, partition planning, and
per-partition row generation, with no JVM code.

The reference's only custom ingestion is a Python download step
outside the engine (SURVEY.md §2.1 S1); this is the in-engine
equivalent surface: a format registered on the session and read with
``spark.read.format(...)`` like any built-in source.

The one format, ``synthetic_events``, is an oracle-checked feed:
every row is a pure INTEGER function of the row id, so the DuckDB
twin regenerates identical rows from ``range(n)``. Its batch reader
(``OracledFeedReader``, one input partition per row range) and its
stream reader (``OracledFeedStreamReader``, row-index offsets whose
committed ranges replay bit-identically) are both value-HASH checked
end to end (``q_python_datasource`` / ``q_stream_python_source``).
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

#: Knuth multiplicative hash constant — deterministic pseudo-values.
_MIX = 2654435761

SYNTH_SCHEMA = (
    "event_id BIGINT, user_id BIGINT, event_type STRING, "
    "amount_cents BIGINT"
)

_TYPES = ("click", "view", "purchase", "signup", "error")


def synth_row(i: int, n_users: int) -> tuple:
    """Row ``i`` of the oracled feed — shared by the partition
    reader, the stream reader, and the unit tests; the DuckDB twin
    inlines the same expressions. The modulus is 2^53 + 1, so ``h``
    ranges over [0, 2^53] — every value exactly representable as a
    double (2^53 itself included), keeping the arithmetic exact even
    in engines that route integers through doubles. (Do NOT read
    this as "h < 2^53": the bound is inclusive.)"""
    h = (i * _MIX) % 9007199254740993
    return (
        i,
        h % n_users,
        _TYPES[h % 5],
        (h % 100000) - 50000,
    )


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int, n_users: int):
        self.start, self.end, self.n_users = start, end, n_users


class OracledFeedReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("n", 10000))
        self.n_users = int(options.get("n_users", 100))
        self.n_partitions = int(options.get("partitions", 8))

    def partitions(self):
        step = max(1, -(-self.n // self.n_partitions))
        return [
            _RangePartition(lo, min(lo + step, self.n), self.n_users)
            for lo in range(0, self.n, step)
        ]

    def read(self, partition: _RangePartition):
        for i in range(partition.start, partition.end):
            yield synth_row(i, partition.n_users)


class OracledFeedStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch feed over the SAME deterministic row function:
    offsets are row indices, each trigger serves the next
    ``batch_rows`` rows until ``n`` is exhausted — so a full drain
    produces EXACTLY the batch read's rows and the streaming path
    shares the batch oracle. Any committed offset range replays
    bit-identically (pure function of the range)."""

    def __init__(self, options):
        self.n = int(options.get("n", 10000))
        self.n_users = int(options.get("n_users", 100))
        self.batch_rows = int(options.get("batch_rows", 1000))

    def initialOffset(self) -> dict:
        return {"i": 0}

    def read(self, start: dict):
        lo = int(start["i"])
        hi = min(lo + self.batch_rows, self.n)
        return (
            iter([synth_row(i, self.n_users) for i in range(lo, hi)]),
            {"i": hi},
        )

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(
            [
                synth_row(i, self.n_users)
                for i in range(int(start["i"]), int(end["i"]))
            ]
        )

    def commit(self, end: dict) -> None:
        pass


class OracledFeedDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self) -> str:
        return SYNTH_SCHEMA

    def reader(self, schema) -> OracledFeedReader:
        return OracledFeedReader(self.options)

    def simpleStreamReader(self, schema) -> OracledFeedStreamReader:
        return OracledFeedStreamReader(self.options)


def register(spark) -> None:
    """Register the feed on a session (idempotent)."""
    spark.dataSource.register(OracledFeedDataSource)
