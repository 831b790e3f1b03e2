"""From-scratch Delta transaction-log reader/writer
(sources/deltalog.py): hand-built FOREIGN logs (the reader's reason to
exist), writer round-trips, overwrite/delete/time-travel semantics,
checkpoints, stats skipping, and the protocol-v3 loud boundary."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from luxo_rs_spark.sources.deltalog import DeltaLog, DeltaProtocolError

@pytest.fixture()
def root(tmp_path):
    path = str(tmp_path / "t")
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _mk(spark, rows):
    return spark.createDataFrame(
        [(k, f"s{k % 5}", k * 2) for k in rows],
        "k bigint, s string, v bigint",
    )


def test_foreign_log_reads_without_our_writer(spark, root):
    """A log as ANOTHER ENGINE would write it: commitInfo noise lines,
    txn actions, unknown extra fields, string stats — built from raw
    JSON, never via DeltaLog.write. The reader must reconstruct the
    exact live state."""
    os.makedirs(os.path.join(root, "_delta_log"))
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"k": [1, 2, 3], "s": ["a", "b", "c"]}),
        os.path.join(root, "f1.parquet"),
    )
    pq.write_table(
        pa.table({"k": [10, 20], "s": ["x", "y"]}),
        os.path.join(root, "f2.parquet"),
    )
    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True, "metadata": {}},
            {"name": "s", "type": "string", "nullable": True,
             "metadata": {}},
        ],
    }
    v0 = [
        {"commitInfo": {"operation": "WRITE", "engineInfo": "other-engine"}},
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {
            "id": "11111111-2222-3333-4444-555555555555",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema),
            "partitionColumns": [],
            "configuration": {},
            "createdTime": 1700000000000,
        }},
        {"add": {
            "path": "f1.parquet", "partitionValues": {}, "size": 600,
            "modificationTime": 1700000000000, "dataChange": True,
            "stats": json.dumps({
                "numRecords": 3, "minValues": {"k": 1},
                "maxValues": {"k": 3}, "nullCount": {"k": 0},
            }),
            "tags": {"SOME_FUTURE_TAG": "ignored"},
        }},
        {"txn": {"appId": "someStream", "version": 7}},
    ]
    v1 = [
        {"commitInfo": {"operation": "WRITE"}},
        {"add": {
            "path": "f2.parquet", "partitionValues": {}, "size": 400,
            "modificationTime": 1700000001000, "dataChange": True,
        }},
    ]
    v2 = [
        {"commitInfo": {"operation": "DELETE"}},
        {"remove": {
            "path": "f1.parquet", "deletionTimestamp": 1700000002000,
            "dataChange": True,
        }},
    ]
    for v, actions in enumerate((v0, v1, v2)):
        with open(
            os.path.join(root, "_delta_log", f"{v:020d}.json"), "w"
        ) as f:
            for a in actions:
                f.write(json.dumps(a) + "\n")

    t = DeltaLog(spark, root)
    assert t.versions() == [0, 1, 2]
    assert sorted(r["k"] for r in t.read(0).collect()) == [1, 2, 3]
    assert sorted(r["k"] for r in t.read(1).collect()) == [1, 2, 3, 10, 20]
    assert sorted(r["k"] for r in t.read().collect()) == [10, 20]
    # stats skipping off the foreign stats
    df, info = t.scan("k", 0, 5, version=1)
    assert info["files_total"] == 2
    # f2 has no stats -> must scan; f1 admits
    assert info["files_scanned"] == 2
    df, info = t.scan("k", 100, 200, version=1)
    assert info["files_scanned"] == 1 and info["rows_skipped"] == 3
    assert df.count() == 0


def test_writer_roundtrip_append_overwrite_timetravel(spark, root):
    t = DeltaLog(spark, root)
    assert t.write(_mk(spark, range(50)), mode="append") == 0
    assert t.write(_mk(spark, range(50, 80))) == 1
    assert t.read().count() == 80
    assert t.read(0).count() == 50
    t.write(_mk(spark, range(1000, 1010)), mode="overwrite")
    assert sorted(r["k"] for r in t.read().collect()) == list(
        range(1000, 1010)
    )
    assert t.read(1).count() == 80  # time travel across the overwrite
    # the log is newline-delimited JSON a foreign reader could parse
    raw = open(
        os.path.join(root, "_delta_log", f"{0:020d}.json")
    ).read().splitlines()
    kinds = [next(iter(json.loads(ln))) for ln in raw]
    assert kinds[0] == "protocol" and kinds[1] == "metaData"
    assert all(k == "add" for k in kinds[2:])


def test_delete_where_rewrites_only_admitted_files(spark, root):
    t = DeltaLog(spark, root)
    # two writes -> distinct files with distinct k ranges
    t.write(_mk(spark, range(100)))
    t.write(_mk(spark, range(1000, 1100)))
    s = t.snapshot()
    paths_before = set(s["adds"])
    t.delete_where("k", 20, 29)
    s2 = t.snapshot()
    # the 1000-range file(s) carried over untouched
    carried = paths_before & set(s2["adds"])
    assert carried  # at least the clean file survived
    assert set(r["k"] for r in t.read().collect()) == (
        set(range(100)) - set(range(20, 30))
    ) | set(range(1000, 1100))


def test_partitioned_write_and_read(spark, root):
    t = DeltaLog(spark, root)
    df = spark.createDataFrame(
        [(k, ["eu", "us"][k % 2], k * 3) for k in range(60)],
        "k bigint, region string, v bigint",
    )
    t.write(df, partition_by=["region"])
    s = t.snapshot()
    assert s["partition_columns"] == ["region"]
    assert all(
        a["partitionValues"].get("region") in ("eu", "us")
        for a in s["adds"].values()
    )
    out = t.read()
    assert set(out.columns) == {"k", "region", "v"}
    assert out.filter("region = 'eu'").count() == 30
    assert out.agg(F.sum("k")).first()[0] == sum(range(60))


def test_checkpoint_fast_path(spark, root):
    t = DeltaLog(spark, root)
    t.write(_mk(spark, range(40)))
    t.write(_mk(spark, range(40, 70)))
    t.delete_where("k", 0, 9)
    cp = t.checkpoint()
    assert cp == 2
    assert os.path.exists(
        os.path.join(root, "_delta_log", f"{cp:020d}.checkpoint.parquet")
    )
    # commits after the checkpoint replay on top of it
    t.write(_mk(spark, range(200, 210)))
    got = set(r["k"] for r in t.read().collect())
    assert got == set(range(10, 70)) | set(range(200, 210))
    # delete the PRE-checkpoint json logs: the reader must still
    # reconstruct the latest state purely from checkpoint + tail
    for v in (0, 1):
        os.remove(os.path.join(root, "_delta_log", f"{v:020d}.json"))
    t2 = DeltaLog(spark, root)
    assert set(r["k"] for r in t2.read().collect()) == got


def test_protocol_v3_unknown_features_raise_loudly(spark, root):
    """Reader v3 is accepted ONLY for implemented features
    (deletionVectors, columnMapping — round 10); anything else, and
    any reader version above 3, still raises rather than misreads."""
    schema = {"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": True, "metadata": {}}]}

    def build(protocol):
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(os.path.join(root, "_delta_log"))
        actions = [
            {"protocol": protocol},
            {"metaData": {
                "id": "x", "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(schema),
                "partitionColumns": [], "configuration": {},
            }},
        ]
        with open(
            os.path.join(root, "_delta_log", f"{0:020d}.json"), "w"
        ) as f:
            for a in actions:
                f.write(json.dumps(a) + "\n")

    build({"minReaderVersion": 3, "minWriterVersion": 7,
           "readerFeatures": ["typeWidening"],
           "writerFeatures": ["typeWidening"]})
    with pytest.raises(DeltaProtocolError, match="typeWidening"):
        DeltaLog(spark, root).read()
    build({"minReaderVersion": 4, "minWriterVersion": 7})
    with pytest.raises(DeltaProtocolError, match="minReaderVersion 4"):
        DeltaLog(spark, root).read()
    # implemented v3 features alone do NOT raise (empty table reads)
    build({"minReaderVersion": 3, "minWriterVersion": 7,
           "readerFeatures": ["deletionVectors", "columnMapping",
                              "v2Checkpoint"],
           "writerFeatures": ["deletionVectors", "columnMapping",
                              "v2Checkpoint"]})
    assert DeltaLog(spark, root).read().count() == 0


def test_crosscheck_with_deltalake_if_available(spark, root):
    """When the deltalake package IS present (not in this container),
    its writer's log must read back identically through ours."""
    deltalake = pytest.importorskip("deltalake")
    import pyarrow as pa

    deltalake.write_deltalake(
        root, pa.table({"k": [1, 2, 3], "s": ["a", "b", "c"]})
    )
    t = DeltaLog(spark, root)
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 3]


# -- round 10: deletion vectors + column mapping (protocol v3 reader) ---------


def test_z85_known_vector_and_roundtrip():
    """The published ZeroMQ Z85 test vector, plus a round-trip."""
    from luxo_rs_spark.sources.deltalog import z85_decode, z85_encode

    assert z85_encode(bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7,
                             0x5B])) == "HelloWorld"
    assert z85_decode("HelloWorld") == bytes(
        [0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B]
    )
    import os as _os

    data = _os.urandom(16)
    assert z85_decode(z85_encode(data)) == data


def test_roaring_array_roundtrip_all_container_kinds():
    """Serialize/deserialize across array containers, a >4096-element
    bitmap container, multiple 16-bit keys, and multiple 32-bit highs
    (the 64-bit positional-array extension with an EMPTY gap bitmap)."""
    from luxo_rs_spark.sources.deltalog import (
        roaring_array_deserialize,
        roaring_array_serialize,
    )

    positions = (
        list(range(0, 10))                      # array container, key 0
        + list(range(70000, 70003))             # array container, key 1
        + list(range(100000, 105000))           # bitmap container (5000)
        + [(2 << 32) + 5, (2 << 32) + 99999]    # high=2 (high=1 is a gap)
    )
    got = roaring_array_deserialize(roaring_array_serialize(positions))
    assert got == sorted(set(positions))


def test_roaring_run_container_foreign_parse():
    """A FOREIGN writer may emit run containers; hand-rolled bytes per
    the RoaringFormatSpec (cookie 12347, run flag bitset, num_runs +
    [start, length] pairs) must decode."""
    import struct

    from luxo_rs_spark.sources.deltalog import roaring_array_deserialize

    # one bitmap, one run container: values 5..9 and 100..101
    bm = struct.pack("<I", 12347 | (0 << 16))  # run cookie, 1 container
    bm += bytes([0b1])                          # container 0 is a run
    bm += struct.pack("<HH", 0, 7 - 1)          # key 0, cardinality 7
    # < _NO_OFFSET_THRESHOLD containers -> no offset header
    bm += struct.pack("<H", 2)                  # two runs
    bm += struct.pack("<HH", 5, 4)              # 5..9
    bm += struct.pack("<HH", 100, 1)            # 100..101
    blob = struct.pack("<Iq", 1681511377, 1) + bm
    assert roaring_array_deserialize(blob) == [5, 6, 7, 8, 9, 100, 101]


def test_foreign_v3_log_with_deletion_vectors(spark, root):
    """A hand-built protocol-v3 foreign log: the DV side-file bytes are
    rolled BY HAND here (magic/cookie/containers via struct.pack, the
    published 1-byte-version + size/payload/CRC layout), one descriptor
    per storage encoding — 'p' absolute path and 'i' inline. The reader
    must drop exactly the vectored positions."""
    import struct
    import zlib

    from luxo_rs_spark.sources.deltalog import z85_encode

    os.makedirs(os.path.join(root, "_delta_log"))
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"k": list(range(10)), "s": [f"r{i}" for i in range(10)]}),
        os.path.join(root, "f1.parquet"),
    )
    pq.write_table(
        pa.table({"k": list(range(100, 110)),
                  "s": [f"q{i}" for i in range(10)]}),
        os.path.join(root, "f2.parquet"),
    )
    # f1's DV: positions {1, 3} — hand-rolled portable RoaringBitmapArray
    bm = struct.pack("<II", 12346, 1)      # no-run cookie, 1 container
    bm += struct.pack("<HH", 0, 2 - 1)     # key 0, cardinality 2
    bm += struct.pack("<I", 16)            # offset header
    bm += struct.pack("<HH", 1, 3)         # values
    dv_data = struct.pack("<Iq", 1681511377, 1) + bm
    blob = b"\x01"                          # format version
    offset = len(blob)
    blob += struct.pack(">i", len(dv_data)) + dv_data
    blob += struct.pack(">I", zlib.crc32(dv_data) & 0xFFFFFFFF)
    dv_path = os.path.join(root, "my_dv.bin")
    with open(dv_path, "wb") as f:
        f.write(blob)
    # f2's DV: positions {0, 9} — INLINE (z85 of the raw bitmap bytes)
    bm2 = struct.pack("<II", 12346, 1)
    bm2 += struct.pack("<HH", 0, 2 - 1)
    bm2 += struct.pack("<I", 16)
    bm2 += struct.pack("<HH", 0, 9)
    dv2 = struct.pack("<Iq", 1681511377, 1) + bm2
    pad = (-len(dv2)) % 4  # z85 needs %4; trailing zero-pad is inert
    dv2_padded = dv2 + b"\x00" * pad

    schema = {"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": True, "metadata": {}},
        {"name": "s", "type": "string", "nullable": True, "metadata": {}},
    ]}
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"metaData": {"id": "y",
                      "format": {"provider": "parquet", "options": {}},
                      "schemaString": json.dumps(schema),
                      "partitionColumns": [], "configuration": {}}},
        {"add": {"path": "f1.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "deletionVector": {
                     "storageType": "p", "pathOrInlineDv": dv_path,
                     "offset": offset, "sizeInBytes": len(dv_data),
                     "cardinality": 2}}},
        {"add": {"path": "f2.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "deletionVector": {
                     "storageType": "i",
                     "pathOrInlineDv": z85_encode(dv2_padded),
                     "sizeInBytes": len(dv2), "cardinality": 2}}},
    ]
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    got = sorted(r["k"] for r in DeltaLog(spark, root).read().collect())
    assert got == [0, 2, 4, 5, 6, 7, 8, 9,          # f1 minus {1, 3}
                   101, 102, 103, 104, 105, 106, 107, 108]  # f2 minus ends


def test_foreign_v3_corrupt_dv_checksum_raises(spark, root):
    """A side-file whose CRC does not match its payload must raise,
    never silently un-delete (or over-delete) rows."""
    import struct
    import zlib

    os.makedirs(os.path.join(root, "_delta_log"))
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"k": [1, 2, 3]}), os.path.join(root, "f1.parquet")
    )
    bm = struct.pack("<II", 12346, 1) + struct.pack("<HH", 0, 0)
    bm += struct.pack("<I", 16) + struct.pack("<H", 1)
    dv_data = struct.pack("<Iq", 1681511377, 1) + bm
    blob = b"\x01" + struct.pack(">i", len(dv_data)) + dv_data
    blob += struct.pack(">I", (zlib.crc32(dv_data) ^ 0xDEAD) & 0xFFFFFFFF)
    dv_path = os.path.join(root, "bad_dv.bin")
    with open(dv_path, "wb") as f:
        f.write(blob)
    schema = {"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": True, "metadata": {}}]}
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"metaData": {"id": "z",
                      "format": {"provider": "parquet", "options": {}},
                      "schemaString": json.dumps(schema),
                      "partitionColumns": [], "configuration": {}}},
        {"add": {"path": "f1.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "deletionVector": {
                     "storageType": "p", "pathOrInlineDv": dv_path,
                     "offset": 1, "sizeInBytes": len(dv_data),
                     "cardinality": 1}}},
    ]
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    with pytest.raises(DeltaProtocolError, match="checksum"):
        DeltaLog(spark, root).read().collect()


def test_foreign_v3_column_mapping_log(spark, root):
    """A hand-built column-mapping (name mode) foreign log: data files
    and partitionValues use PHYSICAL names (col-<uuid> style), the
    schemaString maps them to logical names. Reads, scans (stats keyed
    physically), and partition injection must all resolve logically."""
    os.makedirs(os.path.join(root, "_delta_log"))
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.join(root, "col-ppp=eu"))
    os.makedirs(os.path.join(root, "col-ppp=us"))
    pq.write_table(
        pa.table({"col-aaa": [1, 2, 3], "col-bbb": ["x", "y", "z"]}),
        os.path.join(root, "col-ppp=eu", "f1.parquet"),
    )
    pq.write_table(
        pa.table({"col-aaa": [10, 20], "col-bbb": ["u", "v"]}),
        os.path.join(root, "col-ppp=us", "f2.parquet"),
    )
    schema = {"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": True, "metadata": {
            "delta.columnMapping.id": 1,
            "delta.columnMapping.physicalName": "col-aaa"}},
        {"name": "s", "type": "string", "nullable": True, "metadata": {
            "delta.columnMapping.id": 2,
            "delta.columnMapping.physicalName": "col-bbb"}},
        {"name": "region", "type": "string", "nullable": True, "metadata": {
            "delta.columnMapping.id": 3,
            "delta.columnMapping.physicalName": "col-ppp"}},
    ]}
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "m", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema),
            "partitionColumns": ["region"],
            "configuration": {"delta.columnMapping.mode": "name",
                              "delta.columnMapping.maxColumnId": "3"}}},
        {"add": {"path": "col-ppp=eu/f1.parquet",
                 "partitionValues": {"col-ppp": "eu"}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "stats": json.dumps({"numRecords": 3,
                                      "minValues": {"col-aaa": 1},
                                      "maxValues": {"col-aaa": 3}})}},
        {"add": {"path": "col-ppp=us/f2.parquet",
                 "partitionValues": {"col-ppp": "us"}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "stats": json.dumps({"numRecords": 2,
                                      "minValues": {"col-aaa": 10},
                                      "maxValues": {"col-aaa": 20}})}},
    ]
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    t = DeltaLog(spark, root)
    out = t.read()
    assert set(out.columns) == {"k", "s", "region"}
    rows = {r["k"]: (r["s"], r["region"]) for r in out.collect()}
    assert rows == {1: ("x", "eu"), 2: ("y", "eu"), 3: ("z", "eu"),
                    10: ("u", "us"), 20: ("v", "us")}
    # stats skipping resolves the LOGICAL column to its physical key
    df, info = t.scan("k", 1, 3)
    assert info["files_scanned"] == 1 and info["rows_skipped"] == 2
    assert sorted(r["k"] for r in df.collect()) == [1, 2, 3]


def test_foreign_column_mapping_id_mode_reads(spark, root):
    """Column mapping mode 'id' (round 10 — the r9 loud boundary,
    now closed): data-file columns resolve by PARQUET FIELD ID
    matched against delta.columnMapping.id; a file whose column
    names match NEITHER logical nor physical names still reads,
    and an id-less file falls back to physicalName."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.join(root, "_delta_log"))
    # file 1: physical names, NO field ids (fallback path)
    pq.write_table(
        pa.table({"col-aaa": [1, 2], "col-bbb": ["a", "b"]}),
        os.path.join(root, "f1.parquet"),
    )
    # file 2: arbitrary names, field ids carry the mapping (id path)
    pq.write_table(
        pa.Table.from_arrays(
            [pa.array([3, 4]), pa.array(["c", "d"])],
            schema=pa.schema([
                pa.field("xxx", pa.int64(),
                         metadata={b"PARQUET:field_id": b"1"}),
                pa.field("yyy", pa.string(),
                         metadata={b"PARQUET:field_id": b"2"}),
            ]),
        ),
        os.path.join(root, "f2.parquet"),
    )
    schema = {"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": True, "metadata": {
            "delta.columnMapping.id": 1,
            "delta.columnMapping.physicalName": "col-aaa"}},
        {"name": "s", "type": "string", "nullable": True, "metadata": {
            "delta.columnMapping.id": 2,
            "delta.columnMapping.physicalName": "col-bbb"}},
    ]}
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "m", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema),
            "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "id"}}},
        {"add": {"path": "f1.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
        {"add": {"path": "f2.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ]
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    got = {
        (r["k"], r["s"]) for r in DeltaLog(spark, root).read().collect()
    }
    assert got == {(1, "a"), (2, "b"), (3, "c"), (4, "d")}


def test_id_mode_writer_lifecycle(spark, root):
    """Our own writer in 'id' mode: upgrade, metadata-only rename,
    post-rename append (staged files carry parquet field ids), CoW
    delete — every file resolves by id across the rename."""
    t = DeltaLog(spark, root)
    t.write(_mk(spark, range(5)))
    t.enable_column_mapping(mode="id")
    t.rename_column("s", "label")
    t.write(
        spark.createDataFrame(
            [(100, "x", 7)], "k bigint, label string, v bigint"
        )
    )
    got = {(r["k"], r["label"]) for r in t.read().collect()}
    assert got == {(k, f"s{k % 5}") for k in range(5)} | {(100, "x")}
    t.delete_where("k", 0, 2)
    assert sorted(r["k"] for r in t.read().collect()) == [3, 4, 100]
    with pytest.raises(ValueError):
        t.enable_column_mapping()


def test_dv_delete_writer_roundtrip_and_stacking(spark, root):
    """Writer-side DV deletes: no data file rewritten, protocol
    upgraded to v3+deletionVectors, vectors stack across deletes, a
    checkpoint carries the descriptors, and a COW rewrite is replayable
    on top."""
    t = DeltaLog(spark, root)
    t.write(_mk(spark, range(100)))                       # v0
    t.write(_mk(spark, range(1000, 1100)))                # v1
    data_files_before = {
        f for f in os.listdir(root) if f.endswith(".parquet")
    }
    v = t.delete_where("k", 10, 19, mode="dv")            # v2
    assert v == 2
    # nothing rewritten; one DV side-file appeared
    data_files_after = {
        f for f in os.listdir(root) if f.endswith(".parquet")
    }
    assert data_files_after == data_files_before
    assert any(f.startswith("deletion_vector_") for f in os.listdir(root))
    s = t.snapshot()
    assert int(s["protocol"]["minReaderVersion"]) == 3
    assert "deletionVectors" in s["protocol"]["readerFeatures"]
    got = set(r["k"] for r in t.read().collect())
    assert got == (set(range(100)) - set(range(10, 20))) | set(
        range(1000, 1100)
    )
    # stacking: a second DV delete on the same file merges positions
    t.delete_where("k", 30, 34, mode="dv")                # v3
    got = set(r["k"] for r in t.read().collect())
    assert got == (
        set(range(100)) - set(range(10, 20)) - set(range(30, 35))
    ) | set(range(1000, 1100))
    # only files in the DELETED key range carry vectors (the
    # 1000-range files never gained one), and the merged bitmaps
    # account for exactly the 15 deleted rows
    import json as _json

    dv_adds = [
        a for a in t.snapshot()["adds"].values() if a.get("deletionVector")
    ]
    assert dv_adds
    for a in dv_adds:
        st = _json.loads(a["stats"])
        assert st["minValues"]["k"] < 100
    assert sum(a["deletionVector"]["cardinality"] for a in dv_adds) == 15
    # checkpoint carries the descriptor; pre-checkpoint logs removable
    cp = t.checkpoint()
    for vv in range(cp):
        os.remove(os.path.join(root, "_delta_log", f"{vv:020d}.json"))
    t2 = DeltaLog(spark, root)
    assert set(r["k"] for r in t2.read().collect()) == got


def test_enable_column_mapping_and_rename_writer(spark, root):
    """Writer-side mapping lifecycle: upgrade existing table in place,
    rename metadata-only (files untouched), then append + cow-delete
    through the mapped schema."""
    t = DeltaLog(spark, root)
    t.write(_mk(spark, range(50)))                        # v0
    files_v0 = {f for f in os.listdir(root) if f.endswith(".parquet")}
    t.enable_column_mapping()                             # v1
    t.rename_column("k", "key")                           # v2
    assert {f for f in os.listdir(root) if f.endswith(".parquet")} == (
        files_v0
    )
    out = t.read()
    assert set(out.columns) == {"key", "s", "v"}
    assert out.agg(F.sum("key")).first()[0] == sum(range(50))
    # stats skipping on the RENAMED column (physical key is still 'k')
    t.write(
        spark.createDataFrame(
            [(k, f"s{k % 5}", k * 2) for k in range(1000, 1100)],
            "key bigint, s string, v bigint",
        )
    )                                                     # v3
    df, info = t.scan("key", 0, 100)
    assert info["rows_skipped"] == 100
    # cow delete through the logical name
    t.delete_where("key", 0, 9)                           # v4
    assert set(r["key"] for r in t.read().collect()) == set(
        range(10, 50)
    ) | set(range(1000, 1100))
    # time travel to v0 reads under the ORIGINAL names
    assert "k" in t.read(0).columns


def test_foreign_multipart_checkpoint(spark, root):
    """Foreign writers split big checkpoints into
    %020d.checkpoint.%010d.%010d.parquet parts — the reader must
    reconstruct from ALL parts (actions partitioned arbitrarily),
    discovered via _last_checkpoint's parts field or plain listing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.join(root, "_delta_log"))
    pq.write_table(
        pa.table({"k": [1, 2, 3]}), os.path.join(root, "f1.parquet")
    )
    pq.write_table(
        pa.table({"k": [10, 20]}), os.path.join(root, "f2.parquet")
    )
    schema = {"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": True, "metadata": {}}]}
    part_schema = pa.schema([
        ("protocol", pa.struct([("minReaderVersion", pa.int32()),
                                ("minWriterVersion", pa.int32())])),
        ("metaData", pa.struct([
            ("id", pa.string()),
            ("format", pa.struct([("provider", pa.string())])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pa.map_(pa.string(), pa.string())),
        ])),
        ("add", pa.struct([
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
        ])),
    ])
    # part 1: protocol + metaData; part 2: the adds — arbitrary split
    pq.write_table(
        pa.Table.from_pylist(
            [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 2},
              "metaData": None, "add": None},
             {"protocol": None,
              "metaData": {"id": "m",
                           "format": {"provider": "parquet"},
                           "schemaString": json.dumps(schema),
                           "partitionColumns": [],
                           "configuration": {}},
              "add": None}],
            schema=part_schema),
        os.path.join(root, "_delta_log",
                     f"{1:020d}.checkpoint.{1:010d}.{2:010d}.parquet"),
    )
    pq.write_table(
        pa.Table.from_pylist(
            [{"protocol": None, "metaData": None,
              "add": {"path": "f1.parquet", "partitionValues": {},
                      "size": 1, "modificationTime": 0,
                      "dataChange": True}},
             {"protocol": None, "metaData": None,
              "add": {"path": "f2.parquet", "partitionValues": {},
                      "size": 1, "modificationTime": 0,
                      "dataChange": True}}],
            schema=part_schema),
        os.path.join(root, "_delta_log",
                     f"{1:020d}.checkpoint.{2:010d}.{2:010d}.parquet"),
    )
    with open(os.path.join(root, "_delta_log", "_last_checkpoint"),
              "w") as f:
        json.dump({"version": 1, "size": 4, "parts": 2}, f)
    # the json for v1 exists but is empty post-compaction; v0 removed
    with open(os.path.join(root, "_delta_log", f"{1:020d}.json"),
              "w") as f:
        f.write("")
    t = DeltaLog(spark, root)
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 3, 10, 20]


def test_txn_action_idempotent_writes_and_foreign_state(spark, root):
    """The protocol's txn action (round 10): write(txn=(app, v)) emits
    it and NO-OPS on a replayed version; the watermark survives a
    checkpoint; a FOREIGN log's txn actions surface in snapshot()."""
    t = DeltaLog(spark, root)
    t.write(_mk(spark, range(10)))                                # v0
    t.write(_mk(spark, range(10, 20)), txn=("app-a", 0))          # v1
    t.write(_mk(spark, range(20, 30)), txn=("app-a", 1))          # v2
    assert t.read().count() == 30
    # replay of batch 1 no-ops: no new version, no duplicate rows
    assert t.write(_mk(spark, range(20, 30)), txn=("app-a", 1)) == 2
    assert t.latest_version() == 2
    assert t.read().count() == 30
    assert t.snapshot()["txns"] == {"app-a": 1}
    # watermark survives checkpoint compaction
    cp = t.checkpoint()
    for v in range(cp):
        os.remove(os.path.join(root, "_delta_log", f"{v:020d}.json"))
    t2 = DeltaLog(spark, root)
    assert t2.snapshot()["txns"] == {"app-a": 1}
    assert t2.write(_mk(spark, range(99)), txn=("app-a", 1)) == 2
    assert t2.read().count() == 30
    # a fresh version still appends
    t2.write(_mk(spark, range(30, 35)), txn=("app-a", 2))
    assert t2.read().count() == 35


def test_foreign_v2_checkpoint_with_sidecars(spark, root):
    """A hand-built V2 CHECKPOINT (the v2Checkpoint table feature,
    default for new Databricks tables): the top-level
    %020d.checkpoint.<uuid>.parquet holds checkpointMetadata +
    protocol/metaData + SIDECAR pointers; the add actions live in
    _delta_log/_sidecars/*.parquet. The reader must reconstruct from
    the sidecars and keep replaying the post-checkpoint tail."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.join(root, "_delta_log", "_sidecars"))
    pq.write_table(
        pa.table({"k": [1, 2, 3]}), os.path.join(root, "f1.parquet")
    )
    pq.write_table(
        pa.table({"k": [10, 20]}), os.path.join(root, "f2.parquet")
    )
    pq.write_table(
        pa.table({"k": [100]}), os.path.join(root, "f3.parquet")
    )
    schema = {"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": True, "metadata": {}}]}
    add_struct = pa.struct([
        ("path", pa.string()),
        ("partitionValues", pa.map_(pa.string(), pa.string())),
        ("size", pa.int64()),
        ("modificationTime", pa.int64()),
        ("dataChange", pa.bool_()),
    ])
    top_schema = pa.schema([
        ("checkpointMetadata", pa.struct([("version", pa.int64())])),
        ("protocol", pa.struct([
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
            ("readerFeatures", pa.list_(pa.string())),
            ("writerFeatures", pa.list_(pa.string())),
        ])),
        ("metaData", pa.struct([
            ("id", pa.string()),
            ("format", pa.struct([("provider", pa.string())])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pa.map_(pa.string(), pa.string())),
        ])),
        ("sidecar", pa.struct([
            ("path", pa.string()),
            ("sizeInBytes", pa.int64()),
        ])),
        ("add", add_struct),
    ])
    side_schema = pa.schema([("add", add_struct)])

    def add(path):
        return {"path": path, "partitionValues": {}, "size": 1,
                "modificationTime": 0, "dataChange": True}

    # two sidecars, one add each
    pq.write_table(
        pa.Table.from_pylist([{"add": add("f1.parquet")}],
                             schema=side_schema),
        os.path.join(root, "_delta_log", "_sidecars", "sc1.parquet"),
    )
    pq.write_table(
        pa.Table.from_pylist([{"add": add("f2.parquet")}],
                             schema=side_schema),
        os.path.join(root, "_delta_log", "_sidecars", "sc2.parquet"),
    )
    pq.write_table(
        pa.Table.from_pylist(
            [{"checkpointMetadata": {"version": 1}},
             {"protocol": {
                 "minReaderVersion": 3, "minWriterVersion": 7,
                 "readerFeatures": ["v2Checkpoint"],
                 "writerFeatures": ["v2Checkpoint"]}},
             {"metaData": {"id": "m",
                           "format": {"provider": "parquet"},
                           "schemaString": json.dumps(schema),
                           "partitionColumns": [],
                           "configuration": {}}},
             {"sidecar": {"path": "sc1.parquet", "sizeInBytes": 1}},
             {"sidecar": {"path": "sc2.parquet", "sizeInBytes": 1}}],
            schema=top_schema),
        os.path.join(
            root, "_delta_log",
            f"{1:020d}.checkpoint.80a083e8-7026.parquet",
        ),
    )
    with open(os.path.join(root, "_delta_log", "_last_checkpoint"),
              "w") as f:
        json.dump({"version": 1, "size": 5}, f)
    with open(os.path.join(root, "_delta_log", f"{1:020d}.json"),
              "w") as f:
        f.write("")
    # a post-checkpoint tail commit still replays on top
    with open(os.path.join(root, "_delta_log", f"{2:020d}.json"),
              "w") as f:
        f.write(json.dumps({"add": add("f3.parquet")}) + "\n")
    t = DeltaLog(spark, root)
    assert sorted(r["k"] for r in t.read().collect()) == [
        1, 2, 3, 10, 20, 100,
    ]
    assert sorted(r["k"] for r in t.read(1).collect()) == [1, 2, 3, 10, 20]


def test_changes_cdc_between_versions(spark, root):
    """Row-level CDC over a foreign-format log: appends surface as
    inserts, DV deletes as exactly their deleted rows, CoW rewrites as
    delete+insert pairs that net to the real change."""
    t = DeltaLog(spark, root)
    t.write(_mk(spark, range(50)))                    # v0
    t.write(_mk(spark, range(50, 80)))                # v1: append
    by = {
        r["change_type"]: r["count"]
        for r in t.changes(0, 1).groupBy("change_type").count().collect()
    }
    assert by == {"insert": 30}
    t.delete_where("k", 10, 14, mode="dv")            # v2: DV delete
    ch = t.changes(1, 2).collect()
    assert {r["change_type"] for r in ch} == {"delete"}
    assert sorted(r["k"] for r in ch) == list(range(10, 15))
    t.delete_where("k", 60, 64)                       # v3: CoW delete
    ch = t.changes(2, 3).collect()
    deletes = sorted(r["k"] for r in ch if r["change_type"] == "delete")
    inserts = sorted(r["k"] for r in ch if r["change_type"] == "insert")
    assert deletes == list(range(60, 65)) and inserts == []
    # full-range CDC nets to the overall difference
    ch = t.changes(0, 3)
    assert ch.filter("change_type = 'insert'").count() == 30 - 5
    assert ch.filter("change_type = 'delete'").count() == 5


def test_history_df_over_foreign_log(spark, root):
    """history_df: one row per commit, operation from commitInfo
    (null when the foreign writer logged none), dataChange-split
    counts, txn appIds."""
    t = DeltaLog(spark, root)
    t.write(_mk(spark, range(4)).coalesce(1))
    t.write(_mk(spark, range(10, 12)).coalesce(1), txn=("app-h", 3))
    t.delete_where("k", 0, 1)
    # a foreign OPTIMIZE-shaped commit with commitInfo
    v = t.latest_version() + 1
    with open(
        os.path.join(root, "_delta_log", f"{v:020d}.json"), "w"
    ) as f:
        f.write(json.dumps(
            {"commitInfo": {"operation": "OPTIMIZE"}}
        ) + "\n")
        f.write(json.dumps({"add": {
            "path": "x.parquet", "partitionValues": {}, "size": 1,
            "modificationTime": 0, "dataChange": False,
        }}) + "\n")

    h = {r["version"]: r for r in t.history_df().collect()}
    assert set(h) == {0, 1, 2, 3}
    assert h[0]["n_data_adds"] == 1 and h[0]["n_removes"] == 0
    assert h[1]["txn_apps"] == ["app-h"]
    assert h[2]["n_data_removes"] >= 1  # the CoW delete
    assert h[3]["operation"] == "OPTIMIZE"
    assert h[3]["n_adds"] == 1 and h[3]["n_data_adds"] == 0


def test_engine_stream_helpers(spark, root):
    """Engine.stream_delta / stream_iceberg: the readStream
    conveniences return live streaming DataFrames over foreign
    tables."""
    import uuid as _uuid

    from luxo_rs_spark.engine import Engine
    from luxo_rs_spark.sources.iceberg import IcebergTable

    eng = Engine.__new__(Engine)  # reuse the session fixture's spark
    eng.spark = spark
    t = DeltaLog(spark, root)
    t.write(_mk(spark, range(5)).coalesce(1))
    base = f"/tmp/luxo_engine_stream_{_uuid.uuid4().hex[:8]}"
    it_root = os.path.join(base, "ice")
    IcebergTable(spark, it_root).write(
        _mk(spark, range(3)).coalesce(1)
    )
    try:
        for df in (
            eng.stream_delta(root),
            eng.stream_delta(root, readChangeFeed="true"),
            eng.stream_iceberg(
                it_root, streaming_skip_delete_snapshots="true"
            ),
        ):
            assert df.isStreaming
        assert "change_type" in eng.stream_delta(
            root, readChangeFeed="true"
        ).columns
    finally:
        shutil.rmtree(base, ignore_errors=True)
