"""Foreign Delta tables as a Structured Streaming SOURCE
("deltastream" format): ``spark.readStream.format("deltastream")
.load(root)`` tails a Delta transaction log written by ANY engine,
over the from-scratch protocol reader (sources/deltalog.py) — no
delta-spark, no deltalake wheel.

Semantics mirror Spark's own Delta streaming source (public
delta.io PROTOCOL.md semantics):

- The OFFSET IS THE LOG VERSION (``{"v": n, "snapshot": b}``). A
  micro-batch delivers the rows of ``add`` actions with
  ``dataChange`` true committed in ``(start, end]``; offsets replay
  deterministically because commit files are immutable.
- The FIRST batch is the full live snapshot at the then-latest
  version (Delta's default start point), unless
  ``.option("startingVersion", N)`` asks for the commit walk from
  version N onward (``startingVersion=0`` replays all history as
  appends, exactly like Delta).
- OPTIMIZE-shaped commits (adds + removes all ``dataChange=false``)
  are INVISIBLE — no duplicate rows, no stall.
- A commit that removes live data (a ``dataChange=true`` remove:
  DELETE / UPDATE / MERGE / DV rewrite) RAISES by default — the
  append-only stream cannot express the retraction.
  ``.option("ignoreDeletes", "true")`` skips delete-only commits;
  ``.option("skipChangeCommits", "true")`` skips any row-changing
  commit entirely (both are the Delta option names, with the Delta
  meanings).
- ``.option("readChangeFeed", "true")`` streams the row-level diff
  between versions instead (``readpath.ChangeFeedReader``; a file's
  delete identity is its deletion-vector descriptor).

This module holds only what is Delta-specific: the offset planner
(which commits a batch delivers, and the gates above) and how an
``add`` resolves its columns (physical names in 'name' mode, parquet
field ids in 'id' mode, typed partition literals) and deletes (its
deletion vector, decoded on the driver). Planning is driver-side
metadata work bounded by commit-file size; rows are read on the
executors by the shared reader (sources/readpath.py), one partition
per data file.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import DataSource
from pyspark.sql import types as T

from luxo_rs_spark.sources.deltalog import (
    DeltaLog,
    DeltaProtocolError,
    _LOG_DIR,
)
from luxo_rs_spark.sources.readpath import (
    ChangeFeedReader,
    FilePartition,
    TailReader,
    flag,
)


def _typed_partition_value(raw: str | None, dt: T.DataType):
    """Delta serializes partition values as STRINGS (PROTOCOL.md
    "Partition Value Serialization"); parse back to the schema type.
    None stays None (null partition)."""
    if raw is None:
        return None
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType,
                       T.LongType)):
        return int(raw)
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return float(raw)
    if isinstance(dt, T.BooleanType):
        return raw == "true"
    if isinstance(dt, T.DecimalType):
        from decimal import Decimal

        return Decimal(raw)
    if isinstance(dt, T.DateType):
        from datetime import date

        return date.fromisoformat(raw)
    if isinstance(dt, T.TimestampType):
        from datetime import datetime

        return datetime.fromisoformat(raw)
    if isinstance(dt, T.StringType):
        return raw
    raise DeltaProtocolError(
        f"unsupported partition-column type {dt.simpleString()!r} "
        "in the deltastream source"
    )


def _partition(log: DeltaLog, s: dict, fields: list[T.StructField],
               a: dict) -> FilePartition:
    """One ``add`` under snapshot ``s``: partition columns become typed
    literals, data columns resolve per file (physicalName or parquet
    field id; None = the file predates the column), and the add's
    deletion vector is decoded into dead positions."""
    pcols = set(s["partition_columns"])
    phys_of = log._phys_of(s)
    path = os.path.join(log.root, a["path"])
    res = iter(log._file_column_resolution(
        path, s, [f.name for f in fields if f.name not in pcols]
    ))
    pv = a.get("partitionValues") or {}
    columns = [
        ("lit", _typed_partition_value(
            pv.get(phys_of.get(f.name, f.name)), f.dataType
        ))
        if f.name in pcols
        else ("col", next(res))
        for f in fields
    ]
    dvd = a.get("deletionVector")
    return FilePartition(
        path, columns, dead=log._dv_positions(dvd) if dvd else ()
    )


class _DeltaTail(TailReader):
    def __init__(self, options, schema: T.StructType):
        self.root = options["path"]
        self.schema = schema
        self.skip_change = flag(options, "skipchangecommits")
        self.ignore_deletes = flag(options, "ignoredeletes")
        sv = options.get("startingversion")
        # offset v = newest version already delivered; -1 with
        # snapshot=True means "nothing yet: first batch is the live
        # snapshot", while startingVersion=N enters the commit walk
        # at N (deliver N, N+1, ...).
        if sv is None:
            self._initial = {"v": -1, "snapshot": True}
        else:
            self._initial = {"v": int(sv) - 1, "snapshot": False}
        self._log = DeltaLog(None, self.root)

    def initialOffset(self) -> dict:
        return dict(self._initial)

    def latestOffset(self) -> dict:
        vs = self._log.versions()
        if not vs:
            raise FileNotFoundError(
                f"delta table {self.root}: no log to stream"
            )
        return {"v": vs[-1], "snapshot": False}

    def _commit_actions(self, v: int) -> list[dict]:
        path = os.path.join(
            self.root, _LOG_DIR, f"{v:020d}.json"
        )
        if not os.path.exists(path):
            return []  # vacuumed pre-checkpoint commit: history only
        with open(path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def _batch_adds(self, start: dict, end: dict) -> list[dict]:
        """The ``add`` actions this batch delivers (protocol
        eligibility + the change-commit gate)."""
        v_from, v_to = int(start["v"]), int(end["v"])
        if v_to <= v_from and not (
            start.get("snapshot") and v_to >= 0
        ):
            return []
        if start.get("snapshot"):
            # first batch: the live snapshot at v_to
            return list(self._log.snapshot(v_to)["adds"].values())
        out: list[dict] = []
        for v in range(v_from + 1, v_to + 1):
            acts = self._commit_actions(v)
            adds = [
                a["add"] for a in acts
                if "add" in a and a["add"].get("dataChange", True)
            ]
            removes = [
                a["remove"] for a in acts
                if "remove" in a
                and a["remove"].get("dataChange", True)
            ]
            if removes:
                if self.skip_change:
                    continue
                if self.ignore_deletes and not adds:
                    continue  # delete-only commit, explicitly waived
                raise DeltaProtocolError(
                    f"delta table {self.root}: version {v} removes "
                    "data (DELETE/UPDATE/MERGE); an append-only "
                    "stream cannot express it. Set ignoreDeletes to "
                    "skip delete-only commits or skipChangeCommits "
                    "to skip all row-changing commits."
                )
            out.extend(adds)
        return out

    def plan(self, start: dict, end: dict) -> list[FilePartition]:
        adds = self._batch_adds(start, end)
        if not adds:
            return []
        # schema / column mapping / partition typing resolved at the
        # batch's END snapshot (the stream's analyzed schema — the
        # Delta source behavior under metadata evolution)
        s = self._log.snapshot(int(end["v"]))
        return [
            _partition(self._log, s, self.schema.fields, a) for a in adds
        ]


def _file_key(a: dict) -> tuple:
    dv = a.get("deletionVector") or {}
    return (a["path"], dv.get("pathOrInlineDv", ""), dv.get("offset"))


class _DeltaChangeFeed(ChangeFeedReader):
    """Change feed over a foreign log: the batch ``DeltaLog.changes``
    semantics, streamed. Offset ``{"v": -1}`` is before v0, so the
    first batch is every live row as an insert."""

    def __init__(self, options, schema: T.StructType):
        # schema = (change_type, *table columns)
        self.fields = list(schema.fields[1:])
        self._log = DeltaLog(None, options["path"])

    def initialOffset(self) -> dict:
        return {"v": -1}

    def latest(self) -> int:
        vs = self._log.versions()
        return vs[-1] if vs else -1

    def files(self, v: int):
        if v < 0:
            return None, {}
        s = self._log.snapshot(v)
        return s, {_file_key(a): a for a in s["adds"].values()}

    def partition(self, s: dict, a: dict) -> FilePartition:
        return _partition(self._log, s, self.fields, a)


class DeltaStreamDataSource(DataSource):
    """spark.readStream.format("deltastream").load(root)
    [.option("startingVersion", N)] [.option("ignoreDeletes", "true")]
    [.option("skipChangeCommits", "true")]
    [.option("readChangeFeed", "true")]"""

    @classmethod
    def name(cls):
        return "deltastream"

    def schema(self):
        s = DeltaLog(None, self.options["path"]).snapshot()
        if flag(self.options, "readchangefeed"):
            return T.StructType(
                [T.StructField("change_type", T.StringType(), False)]
                + list(s["schema"].fields)
            )
        return s["schema"]

    def streamReader(self, schema):
        if flag(self.options, "readchangefeed"):
            # NOT_IMPLEMENTED routes Spark to simpleStreamReader
            return super().streamReader(schema)
        return _DeltaTail(self.options, schema)

    def simpleStreamReader(self, schema):
        return _DeltaChangeFeed(self.options, schema)


def register(spark) -> None:
    """Idempotently register the deltastream source on a session."""
    spark.dataSource.register(DeltaStreamDataSource)
