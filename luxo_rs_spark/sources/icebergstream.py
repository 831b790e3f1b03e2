"""Foreign Iceberg v2 tables as a Structured Streaming SOURCE
("icebergstream" format): ``spark.readStream.format("icebergstream")
.load(root)`` tails an Iceberg table's snapshot lineage over the
from-scratch metadata reader (sources/iceberg.py) — no iceberg-spark
runtime, no JVM catalog.

Semantics mirror Iceberg's own Spark streaming source (public spec
semantics; the snapshot ``summary.operation`` drives eligibility):

- The OFFSET IS THE SNAPSHOT SEQUENCE NUMBER. A micro-batch delivers
  the data files ADDED by snapshots with sequence number in
  ``(start, end]``; the lineage is the metadata's append-only
  snapshot list, so offsets replay deterministically.
- The FIRST batch is the full live table at the then-current
  snapshot (position + equality deletes applied), unless
  ``.option("startingSequence", N)`` enters the snapshot walk at
  sequence N (``startingSequence=0`` replays all history's appends).
- ``replace`` snapshots (compaction — row set unchanged) are
  INVISIBLE.
- ``delete`` snapshots RAISE unless
  ``.option("streaming-skip-delete-snapshots", "true")``; ``overwrite``
  snapshots RAISE unless
  ``.option("streaming-skip-overwrite-snapshots", "true")`` (the
  Iceberg read option names, with the Iceberg meanings: a skipped
  snapshot delivers nothing).
- Identity partition values are injected typed from the manifest's
  partition struct; position/equality delete files applicable to a
  delivered data file are applied on the EXECUTOR during the read.

This module holds only what is Iceberg-specific: the offset planner
(which snapshots a batch delivers, and the gates above) and how a data
file resolves its columns (by parquet field id, so renames are
metadata-only; partition literals from the manifest) and deletes
(position-delete files keyed by ``file_path``, equality-delete specs).
Planning is driver-side metadata work linear in manifests
(tools/foreign_plan_bench.py measures it); rows are read on the
executors by the shared reader (sources/readpath.py), one partition
per data file.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource
from pyspark.sql import types as T

from luxo_rs_spark.sources.iceberg import (
    IcebergProtocolError,
    IcebergTable,
)
from luxo_rs_spark.sources.readpath import FilePartition, TailReader, flag


def _datatype_of(iceberg_type: str) -> T.DataType:
    """Iceberg primitive type -> Spark DataType WITHOUT a
    SparkContext (DataSource.schema() runs in a context-less python
    process, so IcebergTable._spark_schema's fromDDL is unusable
    there)."""
    simple = {
        "int": T.IntegerType(),
        "long": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "boolean": T.BooleanType(),
        "string": T.StringType(),
        "date": T.DateType(),
    }
    if iceberg_type in simple:
        return simple[iceberg_type]
    if iceberg_type.startswith("decimal"):
        p, s = iceberg_type[len("decimal("):-1].split(",")
        return T.DecimalType(int(p), int(s))
    raise IcebergProtocolError(
        f"iceberg type {iceberg_type!r} not implemented in the "
        "streaming source"
    )


def _stream_schema(t: IcebergTable) -> T.StructType:
    md = t.metadata()
    return T.StructType([
        T.StructField(f["name"], _datatype_of(f["type"]), True)
        for f in t._schema_fields(md)
    ])


class _IcebergTail(TailReader):
    def __init__(self, options, schema: T.StructType):
        self.root = options["path"]
        self.schema = schema
        self.skip_deletes = flag(
            options, "streaming-skip-delete-snapshots"
        )
        self.skip_overwrites = flag(
            options, "streaming-skip-overwrite-snapshots"
        )
        sv = options.get("startingsequence")
        if sv is None:
            self._initial = {"seq": -1, "snapshot": True}
        else:
            self._initial = {"seq": int(sv) - 1, "snapshot": False}
        self._t = IcebergTable(None, self.root)

    def initialOffset(self) -> dict:
        return dict(self._initial)

    def latestOffset(self) -> dict:
        md = self._t.metadata()
        return {
            "seq": int(md.get("last-sequence-number", 0)),
            "snapshot": False,
        }

    def _lineage(self, md: dict) -> list[dict]:
        return sorted(
            self._t.snapshots(md),
            key=lambda s: int(s["sequence-number"]),
        )

    def _batch_files(self, start: dict, end: dict):
        """(metadata, delivered data-file dicts) for this batch."""
        md = self._t.metadata()
        s_from, s_to = int(start["seq"]), int(end["seq"])
        if s_to <= s_from and not (
            start.get("snapshot") and s_to >= 0
        ):
            return md, []
        lineage = self._lineage(md)
        if start.get("snapshot"):
            # first batch: the live table at the end snapshot
            snap = next(
                s for s in lineage
                if int(s["sequence-number"]) == s_to
            )
            return md, self._t.data_files(
                snapshot_id=snap["snapshot-id"], md=md
            )
        out: list[dict] = []
        # prev_paths must track EVERY in-range snapshot — including
        # skipped replace/delete/overwrite ones — or a compaction's
        # rewritten file would be mis-delivered by the next append's
        # path diff
        prev_paths: set | None = None
        for i, snap in enumerate(lineage):
            seq = int(snap["sequence-number"])
            if seq > s_to:
                break
            if seq <= s_from:
                continue
            op = (snap.get("summary") or {}).get(
                "operation", "append"
            )
            if op == "append":
                deliver = True
            elif op == "replace":
                deliver = False  # compaction: row set unchanged
            elif op == "delete":
                if not self.skip_deletes:
                    raise IcebergProtocolError(
                        f"iceberg table {self.root}: snapshot "
                        f"{snap['snapshot-id']} is a delete; an "
                        "append-only stream cannot express it. Set "
                        "streaming-skip-delete-snapshots to skip."
                    )
                deliver = False
            elif op == "overwrite":
                if not self.skip_overwrites:
                    raise IcebergProtocolError(
                        f"iceberg table {self.root}: snapshot "
                        f"{snap['snapshot-id']} is an overwrite. Set "
                        "streaming-skip-overwrite-snapshots to skip."
                    )
                deliver = False
            else:
                raise IcebergProtocolError(
                    f"iceberg table {self.root}: unknown snapshot "
                    f"operation {op!r}"
                )
            files = self._t.data_files(
                snapshot_id=snap["snapshot-id"], md=md
            )
            if deliver:
                if prev_paths is None:
                    prev_paths = (
                        {
                            fl["path"]
                            for fl in self._t.data_files(
                                snapshot_id=(
                                    lineage[i - 1]["snapshot-id"]
                                ),
                                md=md,
                            )
                        }
                        if i > 0
                        else set()
                    )
                out.extend(
                    fl for fl in files
                    if fl["path"] not in prev_paths
                )
            prev_paths = {fl["path"] for fl in files}
        return md, out

    def plan(self, start: dict, end: dict) -> list[FilePartition]:
        md, files = self._batch_files(start, end)
        if not files:
            return []
        pcols = set(self._t._partition_names(md))
        fields_meta = self._t._schema_fields(md)
        name_of_id = {sf["id"]: sf["name"] for sf in fields_meta}
        id_of_name = {sf["name"]: sf["id"] for sf in fields_meta}
        index_of = {f.name: i for i, f in enumerate(self.schema.fields)}
        # schema evolution: columns resolve BY PARQUET FIELD ID
        # (renames metadata-only; None = file predates the column)
        data_meta = [
            {"id": id_of_name[f.name], "name": f.name}
            for f in self.schema.fields if f.name not in pcols
        ]
        parts = []
        for fl in files:
            path = self._t._abs(fl["path"])
            res = iter(self._t._file_column_resolution(path, data_meta))
            columns = [
                ("lit", fl["partition"].get(f.name))
                if f.name in pcols
                else ("col", next(res))
                for f in self.schema.fields
            ]
            eq_deletes = []
            for p, ids in (fl.get("eq_deletes") or ()):
                dp = self._t._abs(p)
                logical = [name_of_id[i] for i in ids]
                dres = self._t._file_column_resolution(
                    dp,
                    [{"id": i, "name": c} for i, c in zip(ids, logical)],
                )
                eq_deletes.append((dp, [
                    (index_of[c], phys if phys else c)
                    for c, phys in zip(logical, dres)
                ]))
            parts.append(FilePartition(
                path,
                columns,
                pos_deletes=[
                    (self._t._abs(p), "file_path")
                    for p in fl.get("deletes", ())
                ],
                eq_deletes=eq_deletes,
            ))
        return parts


class IcebergStreamDataSource(DataSource):
    """spark.readStream.format("icebergstream").load(root)
    [.option("startingSequence", N)]
    [.option("streaming-skip-delete-snapshots", "true")]
    [.option("streaming-skip-overwrite-snapshots", "true")]"""

    @classmethod
    def name(cls):
        return "icebergstream"

    def schema(self):
        return _stream_schema(
            IcebergTable(None, self.options["path"])
        )

    def streamReader(self, schema):
        return _IcebergTail(self.options, schema)


def register(spark) -> None:
    """Idempotently register the icebergstream source on a session."""
    spark.dataSource.register(IcebergStreamDataSource)
