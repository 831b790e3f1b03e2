"""SnapTable as a Spark DataSource ("snaptable" format): the snapshot
table format (sources/snaptable.py) plugged into Spark's own reader
protocols via the Spark 4 ``pyspark.sql.datasource`` API, so a user
can say ``spark.read.format("snaptable").load(root)`` or
``spark.readStream.format("snaptable")`` instead of going through the
SnapTable class.

- **Batch**: one partition per manifest data file, read on the
  executor by the shared row reader (sources/readpath.py). Time travel
  via ``.option("version", N)``.
- **Filter pushdown** (opt-in ``.option("pushdown", "true")``, same
  convention as synthdocs; defining pushFilters forces
  ``spark.sql.python.filterPushdown.enabled``): range/equality
  predicates on stat columns prune FILE PARTITIONS through
  ``SnapTable._prune_range`` before Spark schedules them. Filters are
  also returned unhandled so Spark re-applies them row-level (pruning
  is an optimization, never a semantics change).
- **Streaming tail**: the offset ``{"v": n}`` is the snapshot version;
  a micro-batch delivers the rows of files ADDED between two versions
  (rewrite outputs surface like Delta's ignoreChanges), one partition
  per file. ``.option("skipChangeCommits", "true")`` delivers only the
  files of create/append commits.
- **Change feed**: ``.option("readChangeFeed", "true")`` streams the
  row-level diff between versions (``readpath.ChangeFeedReader``).

This module holds only what is SnapTable-specific: which commits a
batch delivers, and how a manifest resolves a file's columns (column
mapping) and deletes (its deletion-vector side-file, a position-delete
file keyed by file name). Manifests are read through
``SnapTable(None, root)``, whose manifest methods never touch the
session.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import StructType

from luxo_rs_spark.sources.readpath import (
    ChangeFeedReader,
    FilePartition,
    TailReader,
    file_rows,
    flag,
)
from luxo_rs_spark.sources.snaptable import SnapTable


def _columns(m: dict, names: list[str]) -> list[tuple]:
    """Column specs of the schema fields ``names`` under manifest
    ``m``: data files store PHYSICAL names (column mapping), and legacy
    manifests without field records store logical ones. Reads
    ``m["fields"]`` directly: ``SnapTable._fields`` parses a legacy
    manifest's DDL through the JVM, which a Python worker lacks."""
    phys = {f["name"]: f["physical"] for f in m.get("fields", ())}
    return [("col", phys.get(n, n)) for n in names]


def _partition(t: SnapTable, columns: list[tuple], path: str,
               dv: str) -> FilePartition:
    """One data file; its deletion vector ("" for none) is a
    position-delete file with ``fname``/``pos`` columns."""
    return FilePartition(
        os.path.join(t.root, path),
        columns,
        pos_deletes=[(os.path.join(t.root, dv), "fname")] if dv else (),
    )


class _SnapTableReader(DataSourceReader):
    def __init__(self, options, schema: StructType):
        self.t = SnapTable(None, options["path"])
        v = options.get("version")
        self.m = self.t.manifest(int(v) if v else None)
        self.names = schema.fieldNames()
        self.columns = _columns(self.m, self.names)
        self.keys = self.t._path_dv(self.m)

    def partitions(self):
        return [
            _partition(self.t, self.columns, p, dv) for p, dv in self.keys
        ] or [FilePartition("")]

    def read(self, partition: FilePartition):
        return file_rows(partition)


class _SnapTablePushdownReader(_SnapTableReader):
    """Manifest data skipping through Spark's pushFilters protocol:
    stat-column constraints drop file partitions before scheduling."""

    def pushFilters(self, filters):
        bounds: dict[str, list] = {}  # col -> [lo, hi]
        for f in filters:
            if isinstance(
                f, (EqualTo, GreaterThan, GreaterThanOrEqual,
                    LessThan, LessThanOrEqual)
            ) and len(f.attribute) == 1 and isinstance(
                f.value, (int, str)
            ):
                col = f.attribute[0]
                b = bounds.setdefault(col, [None, None])
                if isinstance(f, EqualTo):
                    b[0] = f.value if b[0] is None else max(b[0], f.value)
                    b[1] = f.value if b[1] is None else min(b[1], f.value)
                elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                    b[0] = f.value if b[0] is None else max(b[0], f.value)
                else:
                    b[1] = f.value if b[1] is None else min(b[1], f.value)
            yield f  # always re-applied by Spark: pruning only

        # filters arrive on LOGICAL names; stats are keyed PHYSICAL
        # (column mapping); a file survives only if every column's
        # bounds admit it, as in SnapTable.scan_where
        phys = {n: spec for n, (_, spec) in zip(self.names, self.columns)}
        keep = None
        for col, (lo, hi) in bounds.items():
            paths, _ = self.t._prune_range(
                self.m, phys.get(col, col), lo, hi
            )
            keep = set(paths) if keep is None else keep & set(paths)
        if keep is not None:
            self.keys = [k for k in self.keys if k[0] in keep]


class _SnapTableTail(TailReader):
    """Tail the table: offset ``{"v": n}`` = snapshot version; a batch
    is the rows of files ADDED between two versions. With
    ``.option("skipChangeCommits", "true")`` (the Delta option of the
    same name) rewrite commits (compact/OPTIMIZE/delete/merge) are
    SKIPPED instead of re-delivered: the batch walks version by version
    and delivers only files added by create/append commits, so a
    mid-stream OPTIMIZE neither duplicates rows nor stalls the tail and
    every appended row is delivered exactly once. Delivered files are
    read with their newest deletion vector in the batch and resolve
    columns at the batch's end version."""

    def __init__(self, options, schema: StructType):
        self.t = SnapTable(None, options["path"])
        self.names = schema.fieldNames()
        self.skip_change = flag(options, "skipchangecommits")

    def initialOffset(self) -> dict:
        return {"v": 0}

    def latestOffset(self) -> dict:
        return {"v": self.t.latest_version()}

    def plan(self, start: dict, end: dict) -> list[FilePartition]:
        v_from, v_to = int(start["v"]), int(end["v"])
        if v_to <= v_from:
            return []
        t = self.t
        prev = set(t._paths(t.manifest(v_from))) if v_from > 0 else set()
        m_to = t.manifest(v_to)
        if not self.skip_change:
            keys = [k for k in t._path_dv(m_to) if k[0] not in prev]
        else:
            dv: dict[str, str] = {}  # delivered path -> newest DV
            for v in range(v_from + 1, v_to + 1):
                m = m_to if v == v_to else t.manifest(v)
                cur = t._path_dv(m)
                added = m["operation"] in ("create", "append")
                for p, d in cur:
                    if p in dv or (added and p not in prev):
                        dv[p] = d
                prev = {p for p, _ in cur}
            keys = list(dv.items())
        columns = _columns(m_to, self.names)
        return [_partition(t, columns, p, d) for p, d in keys]


class _SnapTableChangeFeed(ChangeFeedReader):
    """Change feed over SnapTable versions; a file's delete identity is
    its deletion-vector side-file."""

    def __init__(self, options, schema: StructType):
        self.t = SnapTable(None, options["path"])
        # schema = (change_type, *table columns)
        self.names = schema.fieldNames()[1:]

    def initialOffset(self) -> dict:
        return {"v": 0}

    def latest(self) -> int:
        return self.t.latest_version()

    def files(self, v: int):
        if v <= 0:
            return None, {}
        m = self.t.manifest(v)
        return _columns(m, self.names), {k: k for k in self.t._path_dv(m)}

    def partition(self, columns, key) -> FilePartition:
        return _partition(self.t, columns, *key)


class SnapTableDataSource(DataSource):
    """spark.read.format("snaptable").load(root)
    [.option("version", N)] [.option("pushdown", "true")];
    spark.readStream.format("snaptable").load(root)
    [.option("skipChangeCommits", "true")]
    [.option("readChangeFeed", "true")]"""

    @classmethod
    def name(cls):
        return "snaptable"

    def schema(self):
        v = self.options.get("version")
        m = SnapTable(None, self.options["path"]).manifest(
            int(v) if v else None
        )
        if flag(self.options, "readchangefeed"):
            return "change_type string, " + m["schema"]
        return m["schema"]

    def reader(self, schema):
        if flag(self.options, "pushdown"):
            return _SnapTablePushdownReader(self.options, schema)
        return _SnapTableReader(self.options, schema)

    def streamReader(self, schema):
        if flag(self.options, "readchangefeed"):
            # NOT_IMPLEMENTED routes Spark to simpleStreamReader
            return super().streamReader(schema)
        return _SnapTableTail(self.options, schema)

    def simpleStreamReader(self, schema):
        return _SnapTableChangeFeed(self.options, schema)


def register(spark) -> None:
    """Idempotently register the snaptable source on a session."""
    spark.dataSource.register(SnapTableDataSource)
