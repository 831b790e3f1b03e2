"""Table registry: normalized access to the driver fixture tables.

The reference intends an index-organized row store (B+Tree machinery,
reference src/algo.rs:7); our storage equivalent is columnar Parquet with
min-max row-group statistics + partition pruning — the same *jobs*
(point/range seek) done by the Spark/Parquet scan stack (SURVEY.md §4.1).

Normalization handled here (and nowhere else, so every query sees one
clean schema):

- ``events.ts`` has shipped as either parquet ``TIMESTAMP(MICROS)``
  (current fixtures) or ``TIMESTAMP(NANOS)`` (earlier fixture builds,
  which Spark 4 refuses by default). We keep ``nanosAsLong`` pinned and
  convert int64 nanos -> microsecond ``TIMESTAMP`` only when the column
  actually lands as int64, so both physical layouts read identically.
- pandas-written parquet ``TIMESTAMP(*, isAdjustedToUTC=false)`` columns
  surface as ``TIMESTAMP_NTZ`` in Spark 4 -> cast to ``TIMESTAMP`` under a
  pinned UTC session timezone so epoch math (``unix_micros``) agrees with
  DuckDB's naive-timestamp ``epoch_us`` bit-for-bit.

Driver-held metadata stays off Spark jobs:

- **Schema cache.** ``load_table`` infers a table's Spark schema once
  (one footer-reading Spark job) and caches it keyed on the path and the
  (mtime, size) of every file under it; later loads read through
  ``spark.read.schema(...)`` and launch no job. A rewritten file changes
  the key, so the table is re-inferred. ``table_num_rows`` caches its
  footer row count under the same key.
- **Local frames.** ``local_frame`` builds a DataFrame over rows the
  driver already holds (literal lookup tables, result rows, empty
  frames) from a ``pyarrow.Table``, which Spark plans as a JVM
  ``LocalTableScan``. ``spark.createDataFrame(<python list>)`` would plan
  a ``PythonRDD`` instead, and executing it starts Python-worker tasks.

Scale note (100 TB): everything here is a plain ``spark.read.parquet``
scan, so Catalyst predicate pushdown / column pruning / partition pruning
apply untouched. At cluster scale the same registry would point at a
partitioned table root (e.g. orders partitioned by month) and the casts
below stay whole-stage-codegen expressions — no Python in the scan path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: every fixture table the driver generates (TESTDATA.md)
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: session confs required for deterministic, oracle-comparable reads.
#: All runtime-settable (not static), so they can be applied to a session
#: we did not create (the verification driver's, for instance).
_REQUIRED_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def ensure_session_confs(spark: SparkSession) -> None:
    """Pin the runtime confs every query in this engine assumes."""
    for key, value in _REQUIRED_CONFS.items():
        spark.conf.set(key, value)


def _normalize(df: DataFrame, name: str) -> DataFrame:
    """Apply per-table type normalization (see module docstring)."""
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        # int64 nanoseconds -> microsecond TIMESTAMP (values are µs-precise)
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    for field in df.schema.fields:
        if isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def _files_key(path: str) -> tuple:
    """The (file, mtime_ns, size) triples of a parquet file or of every
    parquet file under a directory."""
    if os.path.isdir(path):
        files = sorted(
            os.path.join(root, fn)
            for root, _dirs, fns in os.walk(path)
            for fn in fns
            if fn.endswith(".parquet")
        )
    else:
        files = [path]
    return tuple(
        (f, st.st_mtime_ns, st.st_size) for f in files for st in [os.stat(f)]
    )


#: (kind, path) -> (files key, value); see module docstring
_FOOTER_CACHE: dict[tuple[str, str], tuple[tuple, object]] = {}


def _cached(kind: str, path: str, compute):
    """``compute(files)`` memoized until a file under ``path`` changes
    (``files`` is ``_files_key(path)``). Unlocked: racing misses compute
    twice, and each entry carries the file state it was computed for."""
    files = _files_key(path)
    hit = _FOOTER_CACHE.get((kind, path))
    if hit is None or hit[0] != files:
        hit = _FOOTER_CACHE[(kind, path)] = (files, compute(files))
    return hit[1]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table from ``{sf_dir}/{name}.parquet``, normalized,
    through its cached schema (see module docstring)."""
    ensure_session_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    schema = _cached("schema", path, lambda _: spark.read.parquet(path).schema)
    return _normalize(spark.read.schema(schema).parquet(path), name)


def table_num_rows(sf_dir: str, name: str) -> int:
    """Exact row count of ``{sf_dir}/{name}.parquet`` from parquet FOOTER
    metadata — no Spark job. Size-adaptive operators (LSH band
    derivation, SemDeDup cluster count) get the corpus size N here
    instead of running an eager ``df.count()`` during plan construction.
    Cached per file state, like the schema."""
    import pyarrow.parquet as pq

    return _cached(
        "rows",
        f"{sf_dir}/{name}.parquet",
        lambda files: sum(pq.read_metadata(f).num_rows for f, _, _ in files),
    )


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame over driver-held ``rows`` (tuples in ``schema`` order;
    ``schema`` is a ``StructType`` or a DDL string), planned as a
    ``LocalTableScan`` (see module docstring). Naive datetimes are read
    as UTC."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow)
    table = pa.table(
        [pa.array(c, f.type) for c, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register every fixture table as a temp view (the engine catalog)."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
