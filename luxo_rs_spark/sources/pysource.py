"""Custom Python DataSource (Spark 4 ``pyspark.sql.datasource`` API):
the idiomatic way to plug a NEW source format into Spark without JVM
code — the engine-extension point the reference's storage layer
(B+Tree pages, reference src/algo.rs:7) would have become.

``SynthDocsDataSource`` ("synthdocs") generates a deterministic
document corpus partition-parallel: each InputPartition derives its
rows from (partition_id, row_id) alone, so the SAME table materializes
on any cluster size — re-runnable, seedable test/benchmark data with
no files at rest. This is also the standard shape for wrapping any
external system (REST pages, message-queue offsets, proprietary
formats): one InputPartition per independently-fetchable shard.

Batch AND streaming: ``SynthDocsStreamReader`` exposes the same rows
as a rate-limited micro-batch stream (offset = row index), so the
source also demonstrates the ``simpleStreamReader`` extension point.

Scale notes: partitions() returns ``n_parts`` independent shards; the
driver never materializes rows (generation happens executor-side in
``read``), so the source scales linearly with executors like any
file scan.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from luxo_rs_spark.sources.readpath import flag

_WORDS = [
    "light", "query", "engine", "index", "hash", "scan", "join",
    "page", "tree", "key", "row", "plan", "sort", "merge",
]


def _doc_row(i: int) -> tuple[int, str, int]:
    """Deterministic doc for global row id `i` (pure function — the
    whole corpus is defined by this one line, independent of
    partitioning)."""
    n = 5 + (i * 2654435761) % 11  # Knuth multiplicative hash -> 5..15 words
    text = " ".join(
        _WORDS[(i * 31 + j * 7) % len(_WORDS)] for j in range(n)
    )
    return (i, text, n)


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class _SynthDocsReader(DataSourceReader):
    def __init__(self, options):
        self.n_rows = int(options.get("rows", 1000))
        self.n_parts = int(options.get("partitions", 4))
        self.lo = 0               # source-level pruned id range
        self.hi = self.n_rows

    def partitions(self):
        lo, hi = self.lo, max(self.lo, self.hi)
        step = max(1, -(-self.n_rows // self.n_parts))
        return [
            _RangePartition(s, min(s + step, hi))
            for s in range(lo, hi, step)
        ] or [_RangePartition(0, 0)]

    def read(self, partition: _RangePartition):
        for i in range(partition.start, partition.end):
            yield _doc_row(i)


class _SynthDocsPushdownReader(_SynthDocsReader):
    """Opt-in (`.option("pushdown", "true")`) because merely DEFINING
    pushFilters makes Spark require
    `spark.sql.python.filterPushdown.enabled=true` (it hard-fails
    otherwise) — the default reader must stay usable in foreign
    sessions that never set that conf."""

    def pushFilters(self, filters):
        """Spark 4 Python DataSource filter pushdown: doc_id range
        predicates narrow the GENERATED range, so pruned partitions are
        never scheduled and pruned rows never exist — the same contract
        a parquet min/max or partition prune gives a file source.
        Everything else is returned for Spark to re-apply above."""
        for f in filters:
            handled = False
            if isinstance(
                f, (EqualTo, GreaterThan, GreaterThanOrEqual,
                    LessThan, LessThanOrEqual)
            ) and f.attribute == ("doc_id",) and isinstance(f.value, int):
                v = f.value
                handled = True
                if isinstance(f, EqualTo):
                    self.lo = max(self.lo, v)
                    self.hi = min(self.hi, v + 1)
                elif isinstance(f, GreaterThan):
                    self.lo = max(self.lo, v + 1)
                elif isinstance(f, GreaterThanOrEqual):
                    self.lo = max(self.lo, v)
                elif isinstance(f, LessThan):
                    self.hi = min(self.hi, v)
                else:  # LessThanOrEqual
                    self.hi = min(self.hi, v + 1)
            if not handled:
                yield f  # unsupported: Spark keeps the Filter node


class _SynthDocsStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch stream over the same deterministic corpus: each
    batch advances the offset by `rows_per_batch`."""

    def __init__(self, options):
        self.n_rows = int(options.get("rows", 1000))
        self.per_batch = int(options.get("rowsperbatch", 100))

    def initialOffset(self):
        return {"i": 0}

    def read(self, start):
        lo = start["i"]
        hi = min(lo + self.per_batch, self.n_rows)
        return iter([_doc_row(i) for i in range(lo, hi)]), {"i": hi}

    def readBetweenOffsets(self, start, end):
        return iter([_doc_row(i) for i in range(start["i"], end["i"])])


class SynthDocsDataSource(DataSource):
    """spark.read.format("synthdocs").option("rows", N)
    .option("partitions", P).load()"""

    @classmethod
    def name(cls):
        return "synthdocs"

    def schema(self):
        return StructType(
            [
                StructField("doc_id", LongType()),
                StructField("text", StringType()),
                StructField("n_words", IntegerType()),
            ]
        )

    def reader(self, schema):
        if flag(self.options, "pushdown"):
            return _SynthDocsPushdownReader(self.options)
        return _SynthDocsReader(self.options)

    def simpleStreamReader(self, schema):
        return _SynthDocsStreamReader(self.options)


def register(spark) -> None:
    """Idempotently register the synthdocs source on a session."""
    spark.dataSource.register(SynthDocsDataSource)
