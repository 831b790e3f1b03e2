"""From-scratch Apache Iceberg v2 METADATA reader + minimal writer
(SURVEY §2.2-A; round 10 — foreign table format #2 after
sources/deltalog.py).

Implements the PUBLIC Iceberg table spec (iceberg.apache.org/spec) on
nothing but the stdlib + the from-scratch Avro codec in
sources/avro_io.py:

- ``metadata/v<N>.metadata.json`` (+ ``version-hint.text``): table
  uuid, schemas (fields with IDs), partition specs, snapshot list with
  ``manifest-list`` pointers, ``current-snapshot-id``, snapshot log;
- the MANIFEST LIST (avro): one row per manifest file with content
  kind (data=0 / deletes=1), sequence numbers, and partition
  summaries;
- MANIFESTS (avro): one ``manifest_entry`` per data file — status
  (existing/added/deleted), and a ``data_file`` struct with path,
  format, partition values, record count, and per-column
  ``lower_bounds``/``upper_bounds`` keyed by FIELD ID in the spec's
  single-value binary serialization (little-endian ints/longs/doubles,
  UTF-8 strings);
- snapshot -> live file list: entries with status DELETED (2) drop;
  POSITION DELETE files (``data_file.content == 1``; spec columns
  ``file_path``/``pos``) are resolved per the sequence-number rule (a
  delete applies to data files whose data sequence number is <= the
  delete's) and applied through the same ``_metadata.row_index``
  anti-join as sources/snaptable.py's deletion vectors; EQUALITY
  deletes (content=2, ``equality_ids`` field-id keys) drop matching
  rows of data with STRICTLY smaller sequence numbers via chained
  anti-joins on the key columns — BOTH merge-on-read delete kinds,
  round 10. ``format-version`` 3 raises loudly; 1 and 2 read.
- ``scan()`` prunes files on the decoded bounds (and identity
  partition values) before Spark sees a path — the same manifest-level
  skipping as sources/snaptable.py, here over a FOREIGN table's
  metadata.

Column resolution (later round 10): data parquet files are matched
to the current schema BY PARQUET FIELD ID (the spec's rule — renames
are metadata-only; ``rename_column``/``add_column`` are the schema
evolution commits), with name matching as the fallback for id-less
hand-built files. Renaming an identity partition SOURCE column
raises loudly (historical manifests key partition structs by
write-time name).

The minimal writer (append / overwrite / replace-compaction,
identity partitioning over one or more columns, ``txn`` idempotence
watermarks) exists so the q481/q489/q490 lifecycle lanes and the
hand-built-foreign tests meet in the middle, exactly like
deltalog's. It stages and commits through ``sources/commit.py``:
every data, delete, manifest and manifest-list name carries a writer
token, each commit claims the metadata version after the one it read
(a lost race raises ``ConcurrentCommitError``), and snapshot ids
continue from the largest one kept. Timestamps are pinned 0 and the
avro sync marker is content-derived.
"""

from __future__ import annotations

import json
import os
import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from luxo_rs_spark.sources import commit
from luxo_rs_spark.sources.avro_io import read_avro, write_avro
from luxo_rs_spark.sources.commit import ConcurrentCommitError
from luxo_rs_spark.sources.footer import footer_stats
from luxo_rs_spark.sources.registry import local_frame


class IcebergProtocolError(RuntimeError):
    """The table demands reader capabilities this implementation lacks
    (format-version 3, row-level deletes): fail loudly, never misread."""


# -- single-value binary serialization (spec: Appendix D) ----------------------


def sv_encode(type_name: str, v) -> bytes:
    if type_name == "int" or type_name == "date":
        return struct.pack("<i", int(v))
    if type_name == "long":
        return struct.pack("<q", int(v))
    if type_name == "float":
        return struct.pack("<f", float(v))
    if type_name == "double":
        return struct.pack("<d", float(v))
    if type_name == "boolean":
        return b"\x01" if v else b"\x00"
    if type_name == "string":
        return str(v).encode("utf-8")
    raise IcebergProtocolError(
        f"single-value serialization for {type_name!r} not implemented"
    )


def sv_decode(type_name: str, raw: bytes):
    if raw is None:
        return None
    if type_name == "int" or type_name == "date":
        return struct.unpack("<i", raw)[0]
    if type_name == "long":
        return struct.unpack("<q", raw)[0]
    if type_name == "float":
        return struct.unpack("<f", raw)[0]
    if type_name == "double":
        return struct.unpack("<d", raw)[0]
    if type_name == "boolean":
        return raw != b"\x00"
    if type_name == "string":
        return raw.decode("utf-8")
    raise IcebergProtocolError(
        f"single-value serialization for {type_name!r} not implemented"
    )


#: iceberg primitive -> spark DDL
_SPARK_TYPE = {
    "int": "int",
    "long": "bigint",
    "float": "float",
    "double": "double",
    "boolean": "boolean",
    "string": "string",
    "date": "date",
}


def _spark_type(t: str) -> str:
    if t in _SPARK_TYPE:
        return _SPARK_TYPE[t]
    if t.startswith("decimal"):
        return t
    raise IcebergProtocolError(f"iceberg type {t!r} not implemented")


# -- avro schemas for the minimal writer (spec field ids in doc order) --------

_FIELD_SUMMARY = {
    "type": "record",
    "name": "r508",
    "fields": [
        {"name": "contains_null", "type": "boolean"},
        {"name": "contains_nan", "type": ["null", "boolean"]},
        {"name": "lower_bound", "type": ["null", "bytes"]},
        {"name": "upper_bound", "type": ["null", "bytes"]},
    ],
}

_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": "long"},
        {"name": "min_sequence_number", "type": "long"},
        {"name": "added_snapshot_id", "type": "long"},
        {"name": "added_files_count", "type": "int"},
        {"name": "existing_files_count", "type": "int"},
        {"name": "deleted_files_count", "type": "int"},
        {"name": "added_rows_count", "type": "long"},
        {"name": "existing_rows_count", "type": "long"},
        {"name": "deleted_rows_count", "type": "long"},
        {
            "name": "partitions",
            "type": ["null", {"type": "array", "items": _FIELD_SUMMARY}],
        },
    ],
}


def _kv_array(name: str, value_type: str = "bytes") -> dict:
    return {
        "type": "array",
        "items": {
            "type": "record",
            "name": name,
            "fields": [
                {"name": "key", "type": "int"},
                {"name": "value", "type": value_type},
            ],
        },
    }


def _manifest_schema(partition_fields: list[dict]) -> dict:
    part = {
        "type": "record",
        "name": "r102",
        "fields": [
            {
                "name": pf["name"],
                "type": ["null", pf["avro_type"]],
            }
            for pf in partition_fields
        ],
    }
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": [
            {"name": "content", "type": "int"},
            {"name": "file_path", "type": "string"},
            {"name": "file_format", "type": "string"},
            {"name": "partition", "type": part},
            {"name": "record_count", "type": "long"},
            {"name": "file_size_in_bytes", "type": "long"},
            {
                "name": "null_value_counts",
                "type": ["null", _kv_array("k121_v122", "long")],
            },
            {
                "name": "lower_bounds",
                "type": ["null", _kv_array("k126_v127")],
            },
            {
                "name": "upper_bounds",
                "type": ["null", _kv_array("k129_v130")],
            },
            {
                "name": "equality_ids",
                "type": ["null", {"type": "array", "items": "int"}],
            },
        ],
    }
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"]},
            {"name": "sequence_number", "type": ["null", "long"]},
            {"name": "file_sequence_number", "type": ["null", "long"]},
            {"name": "data_file", "type": data_file},
        ],
    }


class IcebergTable:
    """An Iceberg table rooted at ``root`` (metadata/ + data/)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.meta_dir = os.path.join(root, "metadata")
        self.data_dir = os.path.join(root, "data")

    # -- metadata files --------------------------------------------------------

    def _metadata_versions(self) -> list[int]:
        if not os.path.isdir(self.meta_dir):
            return []
        out = []
        for f in os.listdir(self.meta_dir):
            if f.endswith(".metadata.json") and f.startswith("v"):
                try:
                    out.append(int(f[1:].split(".")[0]))
                except ValueError:
                    pass
        return sorted(out)

    def metadata(self, version: int | None = None) -> dict:
        if version is None:
            hint = os.path.join(self.meta_dir, "version-hint.text")
            if os.path.exists(hint):
                with open(hint) as f:
                    version = int(f.read().strip())
            else:
                vs = self._metadata_versions()
                if not vs:
                    raise FileNotFoundError(
                        f"iceberg table {self.root}: no metadata"
                    )
                version = vs[-1]
        with open(
            os.path.join(self.meta_dir, f"v{version}.metadata.json")
        ) as f:
            md = json.load(f)
        fv = int(md.get("format-version", 1))
        if fv > 2:
            raise IcebergProtocolError(
                f"format-version {fv} not supported; this reader "
                "implements 1/2"
            )
        return md

    @staticmethod
    def _schema_fields(md: dict) -> list[dict]:
        """Current schema's [{id, name, type, required}]."""
        if "schemas" in md:
            cur = md.get("current-schema-id", 0)
            schema = next(
                s for s in md["schemas"] if s.get("schema-id", 0) == cur
            )
        else:  # v1 layout
            schema = md["schema"]
        for f in schema["fields"]:
            if not isinstance(f["type"], str):
                raise IcebergProtocolError(
                    "nested iceberg types not implemented"
                )
        return schema["fields"]

    def _spark_schema(self, md: dict) -> T.StructType:
        return T.StructType.fromDDL(
            ", ".join(
                f"{f['name']} {_spark_type(f['type'])}"
                for f in self._schema_fields(md)
            )
        )

    def snapshots(self, md: dict | None = None) -> list[dict]:
        md = md or self.metadata()
        return list(md.get("snapshots", []))

    def _snapshot(self, md: dict, snapshot_id: int | None) -> dict:
        snaps = self.snapshots(md)
        if not snaps:
            raise FileNotFoundError(
                f"iceberg table {self.root}: no snapshots"
            )
        if snapshot_id is None:
            snapshot_id = md["current-snapshot-id"]
        for s in snaps:
            if s["snapshot-id"] == snapshot_id:
                return s
        raise FileNotFoundError(
            f"iceberg table {self.root}: no snapshot {snapshot_id}"
        )

    def _abs(self, path: str) -> str:
        if path.startswith("file://"):
            return path[len("file://"):]
        if os.path.isabs(path):
            return path
        return os.path.join(self.root, path)

    # -- state reconstruction ----------------------------------------------------

    def data_files(
        self,
        snapshot_id: int | None = None,
        md: dict | None = None,
        prune: tuple | None = None,
        minfo: dict | None = None,
    ) -> list[dict]:
        """Live data-file dicts at a snapshot: {path, record_count,
        partition, lower/upper bounds keyed by field id (raw bytes),
        sequence_number}. POSITION DELETE manifests (content=1; round
        10) are resolved here too — each returned dict carries a
        ``deletes`` list of the positional-delete parquet paths that
        apply to it per the spec's sequence-number rule (a delete file
        applies to data files whose data sequence number is <= the
        delete file's); EQUALITY deletes (content=2) resolve via their
        equality_ids per the strict < rule.

        ``prune=(partition_col, lo, hi)``: TWO-LEVEL metadata pruning —
        manifest-list rows carry per-partition-field value summaries
        (lower/upper bound, contains_null), so a whole MANIFEST whose
        summary is disjoint from the range is skipped without ever
        being opened; at 10^5 manifests this is the plane that keeps
        planning sub-linear (``minfo`` receives manifests_total /
        manifests_scanned). Summary-less manifests conservatively
        read; delete manifests are never summary-pruned."""
        md = md or self.metadata()
        snap = self._snapshot(md, snapshot_id)
        _, manifests = read_avro(self._abs(snap["manifest-list"]))
        # summary pruning context: position of the pruned column among
        # the default spec's fields, and its source type for decoding
        prune_idx = prune_type = None
        if prune is not None:
            pcol, plo, phi = prune
            spec = next(
                (
                    s
                    for s in (md.get("partition-specs") or [])
                    if s.get("spec-id", 0) == md.get("default-spec-id", 0)
                ),
                None,
            )
            if spec is not None:
                for i, pf in enumerate(spec.get("fields", [])):
                    if (
                        pf.get("name") == pcol
                        and pf.get("transform") == "identity"
                    ):
                        prune_idx = i
                        prune_type = next(
                            f["type"]
                            for f in self._schema_fields(md)
                            if f["id"] == pf["source-id"]
                        )
        if minfo is not None:
            minfo["manifests_total"] = len(manifests)
            minfo["manifests_scanned"] = 0
        out: list[dict] = []
        del_files: list[dict] = []  # position deletes: {path, seq}
        eq_files: list[dict] = []  # equality deletes: {path, seq, ids}
        for mf in manifests:
            if (
                prune_idx is not None
                and int(mf.get("content", 0)) == 0
                and mf.get("partitions")
                and prune_idx < len(mf["partitions"])
            ):
                summ = mf["partitions"][prune_idx]
                mn = sv_decode(prune_type, summ.get("lower_bound"))
                mx = sv_decode(prune_type, summ.get("upper_bound"))
                if (
                    mn is not None
                    and mx is not None
                    and not summ.get("contains_null")
                    and (mx < plo or mn > phi)
                ):
                    continue  # the whole manifest is disjoint: skip
            if minfo is not None:
                minfo["manifests_scanned"] += 1
            mf_seq = int(mf.get("sequence_number") or 0)
            _, entries = read_avro(self._abs(mf["manifest_path"]))
            for e in entries:
                if int(e.get("status", 0)) == 2:  # DELETED
                    continue
                dfle = e["data_file"]
                seq = e.get("sequence_number")
                seq = mf_seq if seq is None else int(seq)
                content = int(dfle.get("content", 0))
                if dfle.get("file_format", "PARQUET").upper() != "PARQUET":
                    raise IcebergProtocolError(
                        f"file format {dfle['file_format']!r} not "
                        "implemented"
                    )
                if content == 1:  # position delete file
                    del_files.append(
                        {"path": dfle["file_path"], "seq": seq}
                    )
                    continue
                if content == 2:  # equality delete file (round 10)
                    ids = dfle.get("equality_ids")
                    if not ids:
                        raise IcebergProtocolError(
                            "equality delete file without equality_ids"
                        )
                    eq_files.append(
                        {
                            "path": dfle["file_path"],
                            "seq": seq,
                            "ids": tuple(int(i) for i in ids),
                        }
                    )
                    continue
                if content != 0:
                    raise IcebergProtocolError(
                        f"delete file content {content} is not "
                        "implemented"
                    )
                out.append(
                    {
                        "path": dfle["file_path"],
                        "record_count": int(dfle["record_count"]),
                        "partition": dfle.get("partition") or {},
                        "null_value_counts": {
                            kv["key"]: kv["value"]
                            for kv in (dfle.get("null_value_counts") or [])
                        },
                        "lower_bounds": {
                            kv["key"]: kv["value"]
                            for kv in (dfle.get("lower_bounds") or [])
                        },
                        "upper_bounds": {
                            kv["key"]: kv["value"]
                            for kv in (dfle.get("upper_bounds") or [])
                        },
                        "sequence_number": seq,
                        "deletes": [],
                        "eq_deletes": [],
                    }
                )
        if del_files:
            for fl in out:
                fl["deletes"] = [
                    d["path"]
                    for d in del_files
                    if d["seq"] >= fl["sequence_number"]
                ]
        if eq_files:
            # equality deletes apply to data files with STRICTLY
            # smaller data sequence numbers (the spec's rule — a
            # delete never erases rows committed with or after it)
            for fl in out:
                fl["eq_deletes"] = [
                    (d["path"], d["ids"])
                    for d in eq_files
                    if d["seq"] > fl["sequence_number"]
                ]
        return out

    # -- reads -------------------------------------------------------------------

    def snapshot_at(self, timestamp_ms: int) -> int:
        """as-of-timestamp resolution (the Iceberg rule): the NEWEST
        snapshot whose snapshot-log timestamp-ms is <= the asked
        timestamp. Raises if the log starts later."""
        md = self.metadata()
        best = None
        for entry in md.get("snapshot-log", []):
            if int(entry.get("timestamp-ms", 0)) <= timestamp_ms:
                best = entry["snapshot-id"]
        if best is None:
            raise FileNotFoundError(
                f"iceberg table {self.root}: no snapshot at or "
                f"before timestamp {timestamp_ms}"
            )
        return best

    def read(
        self,
        snapshot_id: int | None = None,
        timestamp_ms: int | None = None,
    ) -> DataFrame:
        if timestamp_ms is not None:
            if snapshot_id is not None:
                raise ValueError(
                    "pass snapshot_id OR timestamp_ms, not both"
                )
            snapshot_id = self.snapshot_at(timestamp_ms)
        md = self.metadata()
        files = self.data_files(snapshot_id, md)
        return self._read_files(md, files)

    def _read_files(self, md: dict, files: list[dict]) -> DataFrame:
        schema = self._spark_schema(md)
        if not files:
            return local_frame(self.spark, [], schema)
        # position deletes (round 10): the applicable delete parquets
        # hold (file_path, pos) rows — read them AS A DATAFRAME and
        # anti-join on (data-file basename, _metadata.row_index), the
        # exact shape of SnapTable / deltalog DV application. Applied
        # only to groups that actually have deletes.
        del_paths = sorted(
            {self._abs(p) for fl in files for p in fl.get("deletes", ())}
        )
        del_fnames = {
            os.path.basename(fl["path"])
            for fl in files
            if fl.get("deletes")
        }
        dvdf = None
        if del_paths:
            dvdf = (
                self.spark.read.parquet(*del_paths)
                .select(
                    F.element_at(
                        F.split(F.col("file_path"), "/"), -1
                    ).alias("__ib_fname__"),
                    F.col("pos").cast("long").alias("__ib_pos__"),
                )
            )

        def apply_deletes(part: DataFrame, any_del: bool) -> DataFrame:
            if not any_del or dvdf is None:
                return part
            return (
                part.withColumn(
                    "__ib_fname__",
                    F.element_at(
                        F.split(F.col("_metadata.file_path"), "/"), -1
                    ),
                )
                .withColumn("__ib_pos__", F.col("_metadata.row_index"))
                .join(
                    F.broadcast(dvdf),
                    ["__ib_fname__", "__ib_pos__"],
                    "left_anti",
                )
                .drop("__ib_fname__", "__ib_pos__")
            )

        # equality deletes (round 10): rows matching any applicable
        # delete file's rows on its equality columns drop — applied as
        # chained broadcast anti-joins AFTER partition injection (the
        # equality columns may be partition columns). Files with
        # different applicable delete sets read in separate groups.
        name_of_id = {f["id"]: f["name"] for f in self._schema_fields(md)}

        def apply_eq_deletes(part: DataFrame, eq_key: tuple) -> DataFrame:
            for path, ids in eq_key:
                # the delete file's columns resolve BY FIELD ID too —
                # an eq-delete written before a rename keeps applying
                cols = [name_of_id[i] for i in ids]
                res = self._file_column_resolution(
                    self._abs(path),
                    [{"id": i, "name": c} for i, c in zip(ids, cols)],
                )
                deld = (
                    self.spark.read.parquet(self._abs(path))
                    .select(
                        [
                            F.col(phys if phys else c).alias(c)
                            for phys, c in zip(res, cols)
                        ]
                    )
                    .distinct()
                )
                part = part.join(F.broadcast(deld), cols, "left_anti")
            return part

        # identity-partitioned foreign tables may omit partition columns
        # from the data files; inject them from the manifest's partition
        # struct per group (the hive-style read deltalog does)
        spec_fields = self._partition_names(md)
        data_cols = [f.name for f in schema.fields]
        # per-file column resolution BY PARQUET FIELD ID (schema
        # evolution: renames are metadata-only, added columns NULL in
        # older files) — files sharing a resolution read as one group
        data_field_meta = [
            fd for fd in self._schema_fields(md)
            if fd["name"] not in spec_fields
        ]
        data_struct_fields = [
            f for f in schema.fields if f.name not in spec_fields
        ]
        by_vals: dict[tuple, list] = {}
        for fl in files:
            pkey = tuple(fl["partition"].get(p) for p in spec_fields)
            eq_key = tuple(sorted(fl.get("eq_deletes") or ()))
            res = self._file_column_resolution(
                self._abs(fl["path"]), data_field_meta
            )
            grp = by_vals.setdefault(
                (pkey, eq_key, res), ([], [False])
            )
            grp[0].append(self._abs(fl["path"]))
            if os.path.basename(fl["path"]) in del_fnames:
                grp[1][0] = True
        ptype = {f.name: f.dataType for f in schema.fields}
        out = None
        for (pkey, eq_key, res), (paths, any_del) in sorted(
            by_vals.items(), key=lambda kv: str(kv[0])
        ):
            read_schema = T.StructType(
                [
                    T.StructField(phys, f.dataType, True)
                    for phys, f in zip(res, data_struct_fields)
                    if phys
                ]
            )
            part = self.spark.read.schema(read_schema).parquet(*paths)
            part = apply_deletes(part, any_del[0])
            part = part.select(
                [
                    (
                        F.col(phys).alias(f.name)
                        if phys
                        else F.lit(None).cast(f.dataType).alias(f.name)
                    )
                    for phys, f in zip(res, data_struct_fields)
                ]
            )
            for c, val in zip(spec_fields, pkey):
                lit = (
                    F.lit(None) if val is None else F.lit(val)
                ).cast(ptype[c])
                part = part.withColumn(c, lit)
            part = apply_eq_deletes(part.select(data_cols), eq_key)
            out = part if out is None else out.unionByName(part)
        return out

    def _partition_names(self, md: dict) -> list[str]:
        """Identity-transform partition field names of the default
        spec (other transforms: the files carry the columns, so no
        injection is needed and bounds still prune)."""
        specs = md.get("partition-specs") or []
        spec_id = md.get("default-spec-id", 0)
        spec = next(
            (s for s in specs if s.get("spec-id", 0) == spec_id), None
        )
        if spec is None:
            return []
        names = []
        for f in spec.get("fields", []):
            if f.get("transform") == "identity":
                names.append(f["name"])
        return names

    def scan(self, col: str, lo, hi, snapshot_id: int | None = None):
        """Range scan with manifest bounds skipping: files whose
        [lower, upper] on ``col`` (decoded from the spec's single-value
        bytes, keyed by field id) miss [lo, hi] are pruned before Spark
        sees a path. Identity partition values prune as degenerate
        min==max when bounds are absent. Returns (DataFrame, info)."""
        md = self.metadata()
        fields = self._schema_fields(md)
        fld = next((f for f in fields if f["name"] == col), None)
        if fld is None:
            raise KeyError(f"iceberg table {self.root}: no column {col!r}")
        fid, ftype = fld["id"], fld["type"]
        minfo: dict = {}
        files = self.data_files(
            snapshot_id, md, prune=(col, lo, hi), minfo=minfo
        )
        keep, skipped_rows = [], 0
        for fl in files:
            mn = sv_decode(ftype, fl["lower_bounds"].get(fid))
            mx = sv_decode(ftype, fl["upper_bounds"].get(fid))
            if mn is None or mx is None:
                pv = fl["partition"].get(col)
                if pv is not None:
                    mn = mx = pv
            if mn is None or (mx >= lo and mn <= hi):
                keep.append(fl)
            else:
                skipped_rows += fl["record_count"]
        info = {
            "files_total": len(files),
            "files_scanned": len(keep),
            "rows_skipped": skipped_rows,
            **minfo,
        }
        df = self._read_files(md, keep)
        return df.filter(F.col(col).between(lo, hi)), info

    # -- minimal writer ------------------------------------------------------------

    def _table_uuid(self) -> str:
        import hashlib

        h = hashlib.md5(self.root.encode()).hexdigest()
        return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"

    def write(
        self,
        df: DataFrame,
        mode: str = "append",
        partition_by: str | list[str] | None = None,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Commit ``df`` as a new snapshot (dense integer snapshot
        ids). ``append`` keeps prior manifests; ``overwrite`` starts
        the manifest list fresh. ``partition_by`` declares one or
        more identity partition columns (hive-style data layout,
        values recorded in the manifest partition struct — round 10:
        multi-column specs).

        ``txn=(app_id, version)`` makes the write IDEMPOTENT: the
        newest version per app is kept as a ``txn.<app>`` table
        property (surviving snapshot expiry), and a write at or
        below the watermark NO-OPS returning the current snapshot id
        — the exactly-once contract a streaming foreachBatch sink
        needs (the deltalog txn-action twin on this format)."""
        if mode not in ("append", "overwrite", "replace"):
            raise ValueError(f"unsupported write mode {mode!r}")
        pby = (
            [partition_by]
            if isinstance(partition_by, str)
            else list(partition_by or [])
        )
        creating = not self._metadata_versions()
        if creating:
            os.makedirs(self.meta_dir, exist_ok=True)
            os.makedirs(self.data_dir, exist_ok=True)
            fields = [
                {
                    "id": i + 1,
                    "name": f.name,
                    "required": False,
                    "type": self._iceberg_type(f.dataType),
                }
                for i, f in enumerate(df.schema.fields)
            ]
            md = {
                "format-version": 2,
                "table-uuid": self._table_uuid(),
                "location": self.root,
                "last-sequence-number": 0,
                "last-updated-ms": 0,
                "last-column-id": len(fields),
                "schemas": [
                    {"type": "struct", "schema-id": 0, "fields": fields}
                ],
                "current-schema-id": 0,
                "partition-specs": [
                    {
                        "spec-id": 0,
                        "fields": [
                            {
                                "name": c,
                                "transform": "identity",
                                "source-id": next(
                                    f["id"]
                                    for f in fields
                                    if f["name"] == c
                                ),
                                "field-id": 1000 + i,
                            }
                            for i, c in enumerate(pby)
                        ],
                    }
                ],
                "default-spec-id": 0,
                "last-partition-id": 999 + len(pby),
                "sort-orders": [{"order-id": 0, "fields": []}],
                "default-sort-order-id": 0,
                "snapshots": [],
                "snapshot-log": [],
                "properties": {},
            }
            meta_version = snap_id = seq = 1
        else:
            md, meta_version, snap_id, seq = self._next_commit()
            if txn is not None:
                wm = int(
                    (md.get("properties") or {}).get(f"txn.{txn[0]}", -1)
                )
                if wm >= int(txn[1]):
                    # replayed batch: exactly-once no-op
                    return int(md["current-snapshot-id"])
            if not pby:
                pby = self._partition_names(md)
        fields = self._schema_fields(md)
        fid_of = {f["name"]: f["id"] for f in fields}
        ftype_of = {f["name"]: f["type"] for f in fields}

        # stamp every staged column with its schema FIELD ID (the
        # spec's column-resolution key, written as parquet field_id):
        # files stay readable across metadata-only renames
        df = df.select(
            [
                F.col(c).alias(
                    c, metadata={"parquet.field.id": fid_of[c]}
                )
                if c in fid_of
                else F.col(c)
                for c in df.columns
            ]
        )
        statable = sorted(
            f["name"]
            for f in fields
            if f["type"] in ("int", "long", "float", "double", "string")
        )
        entries = []
        with commit.stage(df, self.root, pby) as (token, staged):
            for i, (src, hive) in enumerate(staged):
                sub = "".join(f"{k}={v}/" for k, v in hive.items())
                rel = os.path.join(
                    "data", f"{sub}snap{snap_id:05d}-{i:05d}-{token}.parquet"
                )
                dst = os.path.join(self.root, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.replace(src, dst)
                n_rows, folded = footer_stats(dst, statable)
                lows, highs, nulls = [], [], []
                for cname, st in folded.items():
                    fid, tname = fid_of[cname], ftype_of[cname]
                    if st["nulls"] is not None:
                        nulls.append({"key": fid, "value": st["nulls"]})
                    if st["min"] is not None:
                        lows.append(
                            {"key": fid, "value": sv_encode(tname, st["min"])}
                        )
                        highs.append(
                            {"key": fid, "value": sv_encode(tname, st["max"])}
                        )
                entries.append(
                    {
                        "status": 1,  # ADDED
                        "snapshot_id": snap_id,
                        "sequence_number": None,  # inherit
                        "file_sequence_number": None,
                        "data_file": {
                            "content": 0,
                            "file_path": rel,
                            "file_format": "PARQUET",
                            # identity partition: typed value
                            "partition": {
                                k: int(v)
                                if ftype_of.get(k) in ("int", "long")
                                else v
                                for k, v in hive.items()
                            },
                            "record_count": n_rows,
                            "file_size_in_bytes": os.path.getsize(dst),
                            "null_value_counts": nulls or None,
                            "lower_bounds": lows or None,
                            "upper_bounds": highs or None,
                        },
                    }
                )

        part_fields = [
            {
                "name": c,
                "avro_type": (
                    "long"
                    if ftype_of.get(c) in ("int", "long")
                    else "string"
                ),
            }
            for c in pby
        ]
        manifest_rel = os.path.join(
            "metadata", f"manifest-{snap_id:05d}-{token}.avro"
        )
        write_avro(
            os.path.join(self.root, manifest_rel),
            _manifest_schema(part_fields),
            entries,
        )
        added_rows = sum(
            e["data_file"]["record_count"] for e in entries
        )
        # partition-field value summaries for the manifest-list row
        # (the two-level pruning plane data_files(prune=...) consumes)
        summaries = None
        if pby:
            summaries = []
            for c in pby:
                ptype = ftype_of[c]
                vals = [
                    e["data_file"]["partition"].get(c)
                    for e in entries
                ]
                nn = [v for v in vals if v is not None]
                summaries.append(
                    {
                        "contains_null": any(v is None for v in vals),
                        "contains_nan": None,
                        "lower_bound": (
                            sv_encode(ptype, min(nn)) if nn else None
                        ),
                        "upper_bound": (
                            sv_encode(ptype, max(nn)) if nn else None
                        ),
                    }
                )
        new_mf = {
            "manifest_path": manifest_rel,
            "manifest_length": os.path.getsize(
                os.path.join(self.root, manifest_rel)
            ),
            "partition_spec_id": 0,
            "content": 0,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snap_id,
            "added_files_count": len(entries),
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": added_rows,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
            "partitions": summaries,
        }
        prior_mfs: list[dict] = []
        if not creating and mode == "append":
            cur = self._snapshot(md, None)
            _, prior_mfs = read_avro(self._abs(cur["manifest-list"]))
        return self._commit_snapshot(
            md, meta_version, snap_id, seq, prior_mfs + [new_mf],
            "append" if creating else mode, token, txn,
        )

    def _commit_schema(
        self, md: dict, meta_version: int, new_fields: list[dict],
        last_column_id: int | None = None,
    ) -> None:
        """Append a new schema version (metadata-only commit — no
        snapshot, no data movement) and point current-schema-id at
        it."""
        schemas = list(md.get("schemas", []))
        new_sid = 1 + max(
            (int(s.get("schema-id", 0)) for s in schemas), default=-1
        )
        schemas.append(
            {"type": "struct", "schema-id": new_sid,
             "fields": new_fields}
        )
        md2 = dict(md)
        md2["schemas"] = schemas
        md2["current-schema-id"] = new_sid
        if last_column_id is not None:
            md2["last-column-id"] = last_column_id
        self._publish(md2, meta_version)

    def rename_column(self, old: str, new: str) -> None:
        """SCHEMA EVOLUTION: rename a column — metadata only. The
        field KEEPS ITS ID, and data files are resolved by parquet
        field id (the spec's rule), so every existing file keeps
        reading and bounds-based skipping keeps working (bounds are
        keyed by id). Renaming a partition SOURCE column is a loud
        boundary: historical manifests key their avro partition
        structs by write-time name (real Iceberg resolves those by
        avro field id, which this reader does not implement)."""
        md, meta_version, _, _ = self._next_commit()
        fields = [dict(f) for f in self._schema_fields(md)]
        names = {f["name"] for f in fields}
        if old not in names:
            raise KeyError(f"no such column {old!r}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        fid = next(f["id"] for f in fields if f["name"] == old)
        specs = md.get("partition-specs") or []
        spec = next(
            (
                s for s in specs
                if s.get("spec-id", 0) == md.get("default-spec-id", 0)
            ),
            None,
        )
        if spec is not None and any(
            pf.get("source-id") == fid for pf in spec.get("fields", [])
        ):
            raise IcebergProtocolError(
                f"renaming partition source column {old!r} is not "
                "implemented (historical manifests key partition "
                "values by write-time name)"
            )
        for f in fields:
            if f["name"] == old:
                f["name"] = new
        self._commit_schema(md, meta_version, fields)

    def add_column(self, name: str, type_name: str) -> None:
        """SCHEMA EVOLUTION: add a column — metadata only. Gets a
        fresh field id (never reused); files written before the
        column surface NULLs through the per-file id resolution."""
        _spark_type(type_name)  # validates the type is implemented
        md, meta_version, _, _ = self._next_commit()
        fields = [dict(f) for f in self._schema_fields(md)]
        if name in {f["name"] for f in fields}:
            raise ValueError(f"column {name!r} already exists")
        new_id = int(md.get("last-column-id", len(fields))) + 1
        fields.append(
            {"id": new_id, "name": name, "required": False,
             "type": type_name}
        )
        self._commit_schema(
            md, meta_version, fields, last_column_id=new_id
        )

    def _file_column_resolution(
        self, abs_path: str, data_fields: list[dict]
    ) -> tuple:
        """Resolve one data file's physical column name per schema
        field, BY PARQUET FIELD ID (the spec's column-resolution
        rule — renames never rewrite data). Returns a tuple aligned
        to ``data_fields``: the file's column name, or None when the
        file predates the column (add_column evolution). Files
        without any field ids (hand-built foreign files) fall back
        to name matching."""
        import pyarrow.parquet as pq

        sch = pq.read_schema(abs_path)
        id_name: dict[int, str] = {}
        names = set()
        for f in sch:
            names.add(f.name)
            fid = (f.metadata or {}).get(b"PARQUET:field_id")
            if fid is not None:
                id_name[int(fid)] = f.name
        if not id_name:
            return tuple(
                fd["name"] if fd["name"] in names else None
                for fd in data_fields
            )
        return tuple(
            id_name.get(int(fd["id"])) for fd in data_fields
        )

    def expire_snapshots(
        self, retain_last: int = 1, delete_orphans: bool = True
    ) -> dict:
        """Snapshot RETENTION (the Iceberg maintenance pair
        expireSnapshots + removeOrphanFiles in one pass): keep the
        newest ``retain_last`` snapshots of the lineage (always
        including the current one), drop the rest from the metadata,
        and — with ``delete_orphans`` — physically remove every
        manifest-list, manifest, data and delete file referenced ONLY
        by expired snapshots. The kept-file closure is computed from
        the RETAINED snapshots' manifests (every entry's path, any
        status — conservative), so nothing a retained snapshot can
        reach is ever deleted. Commits a fresh metadata version;
        time travel to expired snapshot ids raises afterwards.
        Returns {expired, kept, orphans_removed}."""
        md, meta_version, _, _ = self._next_commit()
        lineage = sorted(
            self.snapshots(md),
            key=lambda s: int(s["sequence-number"]),
        )
        retain_last = max(1, int(retain_last))
        keep = lineage[-retain_last:]
        cur = md.get("current-snapshot-id")
        if cur is not None and all(
            s["snapshot-id"] != cur for s in keep
        ):
            keep.append(self._snapshot(md, cur))
        keep_ids = {s["snapshot-id"] for s in keep}
        expired = [
            s for s in lineage if s["snapshot-id"] not in keep_ids
        ]
        if not expired:
            return {
                "expired": 0, "kept": len(keep), "orphans_removed": 0,
            }

        def closure(snaps: list[dict]) -> set:
            refs: set = set()
            for s in snaps:
                ml = s["manifest-list"]
                refs.add(ml)
                _, manifests = read_avro(self._abs(ml))
                for mf in manifests:
                    refs.add(mf["manifest_path"])
                    _, entries = read_avro(
                        self._abs(mf["manifest_path"])
                    )
                    for e in entries:
                        refs.add(e["data_file"]["file_path"])
            return refs

        removed = 0
        if delete_orphans:
            kept_refs = {self._abs(p) for p in closure(keep)}
            for p in sorted(closure(expired)):
                ap = self._abs(p)
                if ap not in kept_refs and os.path.exists(ap):
                    os.remove(ap)
                    removed += 1
        md2 = dict(md)
        md2["snapshots"] = keep
        md2["snapshot-log"] = [
            entry
            for entry in md.get("snapshot-log", [])
            if entry.get("snapshot-id") in keep_ids
        ]
        self._publish(md2, meta_version)
        return {
            "expired": len(expired),
            "kept": len(keep),
            "orphans_removed": removed,
        }

    def compact(self) -> int:
        """OPTIMIZE: rewrite the live rows (position + equality
        deletes applied during the read) into fresh data files and
        commit them as a ``replace`` snapshot — the row set is
        unchanged, so streaming tails (sources/icebergstream.py) and
        incremental readers skip it, exactly like a dataChange=false
        Delta OPTIMIZE. Old data files stay on disk (Iceberg never
        removes files at commit; expire/vacuum is a separate
        concern); the new manifest list carries ONLY the rewritten
        files, dropping the applied delete manifests."""
        return self.write(self.read(), mode="replace")

    def delete_where(self, col: str, lo, hi) -> int:
        """POSITION-DELETE commit (round 10 — Iceberg v2 row-level
        deletes, the merge-on-read shape): one Spark job finds the
        matching (data file path, row position) pairs among the
        bounds-admitted candidates, writes them as a position-delete
        parquet (spec columns ``file_path``, ``pos``), and commits a
        new snapshot whose manifest list carries the prior manifests
        plus a content=1 delete manifest. No data file is rewritten;
        reads anti-join the positions out."""
        import pyarrow.parquet as pq

        md, meta_version, snap_id, seq = self._next_commit()
        token = commit.writer_token()
        fields = self._schema_fields(md)
        fld = next((f for f in fields if f["name"] == col), None)
        if fld is None:
            raise KeyError(f"iceberg table {self.root}: no column {col!r}")
        fid, ftype = fld["id"], fld["type"]
        files = self.data_files(md=md)
        cands = []
        for fl in files:
            mn = sv_decode(ftype, fl["lower_bounds"].get(fid))
            mx = sv_decode(ftype, fl["upper_bounds"].get(fid))
            if mn is None or not (mx < lo or mn > hi):
                cands.append(fl)
        cur = self._snapshot(md, None)
        _, prior_mfs = read_avro(self._abs(cur["manifest-list"]))
        new_mfs = list(prior_mfs)
        if cands:
            # (manifest path, positions) distributed scan — positions
            # are FILE positions, so candidates read raw (their prior
            # deletes stack; the anti-join dedupes overlaps)
            path_of = {
                os.path.basename(fl["path"]): fl["path"] for fl in cands
            }
            cand_schema = T.StructType(
                [
                    T.StructField(
                        col, self._spark_schema(md)[col].dataType, True
                    )
                ]
            )
            mapping = local_frame(
                self.spark,
                list(path_of.items()), "__fname__ string, file_path string"
            )
            pos_df = (
                self.spark.read.schema(cand_schema)
                .parquet(*[self._abs(fl["path"]) for fl in cands])
                .select(
                    F.element_at(
                        F.split(F.col("_metadata.file_path"), "/"), -1
                    ).alias("__fname__"),
                    F.col("_metadata.row_index").alias("pos"),
                    F.col(col).alias("__v__"),
                )
                .filter(F.col("__v__").between(lo, hi))
                .join(F.broadcast(mapping), "__fname__")
                .select("file_path", "pos")
                .sort("file_path", "pos")
            )
            del_rel = self._write_single_parquet(
                pos_df, f"delete-{snap_id:05d}-{token}.parquet"
            )
            n_pos = pq.ParquetFile(
                os.path.join(self.root, del_rel)
            ).metadata.num_rows
            new_mfs.append(
                self._delete_manifest(
                    del_rel, n_pos, snap_id, seq, token, content=1
                )
            )
        return self._commit_snapshot(
            md, meta_version, snap_id, seq, new_mfs, "delete", token
        )

    def delete_equality(self, keys: DataFrame) -> int:
        """EQUALITY-DELETE commit (Iceberg v2): every data row matching
        ANY row of ``keys`` on its columns is deleted — merge-on-read,
        no data file rewritten, no position scan at write time (the
        write is O(keys), the cheapest delete there is). Applies only
        to data with STRICTLY smaller sequence numbers, so rows
        re-inserted after the delete survive (the spec's rule)."""
        import pyarrow.parquet as pq

        md, meta_version, snap_id, seq = self._next_commit()
        token = commit.writer_token()
        fields = self._schema_fields(md)
        fid_of = {f["name"]: f["id"] for f in fields}
        bad = [c for c in keys.columns if c not in fid_of]
        if bad:
            raise KeyError(f"no such column(s): {bad}")
        keys = keys.select(  # field ids: rename-safe resolution
            [
                F.col(c).alias(
                    c, metadata={"parquet.field.id": fid_of[c]}
                )
                for c in keys.columns
            ]
        )
        cur = self._snapshot(md, None)
        _, prior_mfs = read_avro(self._abs(cur["manifest-list"]))
        del_rel = self._write_single_parquet(
            keys.distinct().sort(*keys.columns),
            f"eqdelete-{snap_id:05d}-{token}.parquet",
        )
        n_keys = pq.ParquetFile(
            os.path.join(self.root, del_rel)
        ).metadata.num_rows
        new_mfs = list(prior_mfs) + [
            self._delete_manifest(
                del_rel, n_keys, snap_id, seq, token, content=2,
                equality_ids=[fid_of[c] for c in keys.columns],
            )
        ]
        return self._commit_snapshot(
            md, meta_version, snap_id, seq, new_mfs, "delete", token
        )

    def _write_single_parquet(self, df: DataFrame, name: str) -> str:
        """Stage a small DataFrame as ONE parquet ``data/<name>``."""
        rel = os.path.join("data", name)
        with commit.stage(df.coalesce(1), self.data_dir) as (_, staged):
            os.replace(staged[0][0], os.path.join(self.root, rel))
        return rel

    def _delete_manifest(
        self, del_rel: str, n: int, snap_id: int, seq: int, token: str,
        content: int, equality_ids: list[int] | None = None,
    ) -> dict:
        """Write a one-entry delete manifest; return its list row."""
        entry = {
            "status": 1,
            "snapshot_id": snap_id,
            "sequence_number": None,
            "file_sequence_number": None,
            "data_file": {
                "content": content,
                "file_path": del_rel,
                "file_format": "PARQUET",
                "partition": {},
                "record_count": n,
                "file_size_in_bytes": os.path.getsize(
                    os.path.join(self.root, del_rel)
                ),
                "lower_bounds": None,
                "upper_bounds": None,
                "equality_ids": equality_ids,
            },
        }
        manifest_rel = os.path.join(
            "metadata", f"manifest-del-{snap_id:05d}-{token}.avro"
        )
        write_avro(
            os.path.join(self.root, manifest_rel),
            _manifest_schema([]),
            [entry],
        )
        return {
            "manifest_path": manifest_rel,
            "manifest_length": os.path.getsize(
                os.path.join(self.root, manifest_rel)
            ),
            "partition_spec_id": 0,
            "content": 1,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snap_id,
            "added_files_count": 1,
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": n,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
            "partitions": None,
        }

    def _next_commit(self) -> tuple[dict, int, int, int]:
        """The newest metadata and the ids the next commit takes:
        ``(md, meta_version, snap_id, seq)``. ``md`` is the newest
        LISTED version, so if another commit lands after this read the
        claim of ``meta_version`` fails instead of overwriting it.
        Snapshot ids continue from the largest one kept, not from the
        count: expiry shrinks the list, and a reused id would alias a
        retained snapshot."""
        vs = self._metadata_versions()
        if not vs:
            raise FileNotFoundError(f"iceberg table {self.root}: no metadata")
        md = self.metadata(vs[-1])
        snap_id = 1 + max(
            (int(s["snapshot-id"]) for s in self.snapshots(md)), default=0
        )
        seq = int(md.get("last-sequence-number", 0)) + 1
        return md, vs[-1] + 1, snap_id, seq

    def _publish(self, md: dict, meta_version: int) -> None:
        """Claim ``v<meta_version>.metadata.json`` (``commit.claim``;
        a lost race raises ``ConcurrentCommitError``), then point
        ``version-hint.text`` at it through a temporary file and
        ``os.replace``, so a concurrent ``metadata()`` never reads a
        half-written hint."""
        if not commit.claim(
            os.path.join(self.meta_dir, f"v{meta_version}.metadata.json"),
            json.dumps(md, sort_keys=True),
        ):
            raise ConcurrentCommitError(
                f"iceberg table {self.root}: lost the commit race at "
                f"metadata version {meta_version}; re-read and retry"
            )
        tmp = os.path.join(
            self.meta_dir, f".version-hint.{commit.writer_token()}"
        )
        with open(tmp, "w") as f:
            f.write(str(meta_version))
        os.replace(tmp, os.path.join(self.meta_dir, "version-hint.text"))

    def _commit_snapshot(
        self, md: dict, meta_version: int, snap_id: int, seq: int,
        new_mfs: list[dict], operation: str, token: str,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Write the manifest list ``new_mfs`` and publish ``md`` plus
        the new snapshot (and the ``txn`` watermark) as
        ``meta_version``; returns ``snap_id``."""
        ml_rel = os.path.join(
            "metadata", f"snap-{snap_id:05d}-{token}-manifest-list.avro"
        )
        write_avro(
            os.path.join(self.root, ml_rel),
            _MANIFEST_LIST_SCHEMA,
            new_mfs,
        )
        snapshot = {
            "snapshot-id": snap_id,
            "sequence-number": seq,
            "timestamp-ms": 0,
            "manifest-list": ml_rel,
            "summary": {"operation": operation},
            "schema-id": md.get("current-schema-id", 0),
        }
        md = dict(md)
        md["snapshots"] = self.snapshots(md) + [snapshot]
        md["current-snapshot-id"] = snap_id
        md["last-sequence-number"] = seq
        md["snapshot-log"] = list(md.get("snapshot-log", [])) + [
            {"snapshot-id": snap_id, "timestamp-ms": 0}
        ]
        if txn is not None:
            props = dict(md.get("properties") or {})
            props[f"txn.{txn[0]}"] = str(int(txn[1]))
            md["properties"] = props
        self._publish(md, meta_version)
        return snap_id

    @staticmethod
    def _iceberg_type(dt: T.DataType) -> str:
        s = dt.simpleString()
        back = {
            "bigint": "long",
            "int": "int",
            "smallint": "int",
            "double": "double",
            "float": "float",
            "boolean": "boolean",
            "string": "string",
            "date": "date",
        }
        if s in back:
            return back[s]
        raise IcebergProtocolError(
            f"writer: spark type {s!r} not implemented"
        )
