"""From-scratch Iceberg v2 metadata reader/writer (sources/iceberg.py)
+ the from-scratch Avro container codec underneath (sources/avro_io.py):
hand-built FOREIGN layouts (the reader's reason to exist), writer
round-trips, time travel, bounds/partition skipping, and the loud
boundaries (format-version 3, row-level deletes)."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from luxo_rs_spark.sources.avro_io import AvroError, read_avro, write_avro
from luxo_rs_spark.sources.iceberg import (
    IcebergProtocolError,
    IcebergTable,
    sv_encode,
)

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


# -- avro codec ---------------------------------------------------------------


def test_avro_container_roundtrip_all_types(tmp_path):
    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "s", "type": "string"},
            {"name": "n", "type": ["null", "long"]},
            {"name": "f", "type": "float"},
            {"name": "d", "type": "double"},
            {"name": "b", "type": "boolean"},
            {"name": "raw", "type": "bytes"},
            {"name": "fx", "type": {"type": "fixed", "name": "x4",
                                    "size": 4}},
            {"name": "e", "type": {"type": "enum", "name": "col",
                                   "symbols": ["RED", "BLUE"]}},
            {"name": "arr", "type": {"type": "array", "items": {
                "type": "record", "name": "kv", "fields": [
                    {"name": "key", "type": "int"},
                    {"name": "value", "type": "bytes"}]}}},
            {"name": "m", "type": {"type": "map", "values": "string"}},
            {"name": "again", "type": {"type": "array",
                                       "items": "kv"}},  # named ref
        ],
    }
    recs = [
        {"s": "hello", "n": None, "f": 0.5, "d": -2.25, "b": True,
         "raw": b"\x00\xff", "fx": b"abcd", "e": "BLUE",
         "arr": [{"key": -7, "value": b"x"}], "m": {"a": "b", "c": "d"},
         "again": [{"key": 1, "value": b""}]},
        {"s": "", "n": 1 << 45, "f": -1.0, "d": 0.0, "b": False,
         "raw": b"", "fx": b"zzzz", "e": "RED", "arr": [], "m": {},
         "again": []},
    ]
    for codec in ("null", "deflate"):
        p = str(tmp_path / f"t_{codec}.avro")
        write_avro(p, schema, recs, codec=codec)
        got_schema, got = read_avro(p)
        assert got == pytest.approx(recs) or got == recs
        assert got_schema["name"] == "r"


def test_avro_zigzag_edge_values(tmp_path):
    schema = {"type": "record", "name": "z", "fields": [
        {"name": "v", "type": "long"}]}
    vals = [0, -1, 1, 63, 64, -64, -65, (1 << 62), -(1 << 62)]
    p = str(tmp_path / "z.avro")
    write_avro(p, schema, [{"v": v} for v in vals])
    _, got = read_avro(p)
    assert [r["v"] for r in got] == vals


def test_avro_rejects_unknown_codec(tmp_path):
    p = str(tmp_path / "bad.avro")
    with pytest.raises(AvroError, match="codec"):
        write_avro(p, {"type": "record", "name": "r", "fields": []},
                   [], codec="snappy")


# -- writer lifecycle -----------------------------------------------------------


def test_iceberg_writer_roundtrip_append_overwrite(spark, root):
    t = IcebergTable(spark, root)
    assert t.write(_mk(spark, range(50))) == 1
    assert t.write(_mk(spark, range(50, 80))) == 2
    assert t.read().count() == 80
    assert t.read(snapshot_id=1).count() == 50  # time travel
    t.write(_mk(spark, range(1000, 1010)), mode="overwrite")
    assert sorted(r["k"] for r in t.read().collect()) == list(
        range(1000, 1010)
    )
    assert t.read(snapshot_id=2).count() == 80
    # metadata files are spec-shaped JSON any foreign reader could parse
    md = t.metadata()
    assert md["format-version"] == 2
    assert md["current-snapshot-id"] == 3
    assert len(md["snapshots"]) == 3


def test_iceberg_bounds_skipping(spark, root):
    t = IcebergTable(spark, root)
    t.write(_mk(spark, range(100)))
    t.write(_mk(spark, range(1000, 1100)))
    df, info = t.scan("k", 0, 50)
    assert info["rows_skipped"] >= 100  # the 1000-range files pruned
    assert sorted(r["k"] for r in df.collect()) == list(range(51))
    df2, info2 = t.scan("k", 5000, 6000)
    assert info2["files_scanned"] == 0
    assert df2.count() == 0


def test_iceberg_identity_partition(spark, root):
    t = IcebergTable(spark, root)
    df = spark.createDataFrame(
        [(k, ["eu", "us"][k % 2], k * 3) for k in range(60)],
        "k bigint, region string, v bigint",
    )
    t.write(df, partition_by="region")
    out = t.read()
    assert set(out.columns) == {"k", "region", "v"}
    assert out.filter("region = 'eu'").count() == 30
    assert out.agg(F.sum("k")).first()[0] == sum(range(60))
    # manifest partition struct carries the identity values
    files = t.data_files()
    assert {f["partition"].get("region") for f in files} == {"eu", "us"}


# -- hand-built foreign layouts ---------------------------------------------------


def test_foreign_iceberg_reads_without_our_writer(spark, root):
    """A layout as ANOTHER ENGINE would write it: raw metadata.json
    (extra spec fields, file:// absolute paths), deflate-compressed
    avro manifests with extra optional columns, v2 manifest-list with
    partition summaries. Built without IcebergTable.write."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.join(root, "metadata"))
    os.makedirs(os.path.join(root, "data"))
    pq.write_table(
        pa.table({"k": [1, 2, 3], "s": ["a", "b", "c"]}),
        os.path.join(root, "data", "f1.parquet"),
    )
    pq.write_table(
        pa.table({"k": [10, 20], "s": ["x", "y"]}),
        os.path.join(root, "data", "f2.parquet"),
    )
    manifest_schema = {
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"]},
            {"name": "data_file", "type": {
                "type": "record", "name": "r2", "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "partition", "type": {
                        "type": "record", "name": "r102", "fields": []}},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    {"name": "lower_bounds", "type": ["null", {
                        "type": "array", "items": {
                            "type": "record", "name": "k126",
                            "fields": [
                                {"name": "key", "type": "int"},
                                {"name": "value", "type": "bytes"}]}}]},
                    {"name": "upper_bounds", "type": ["null", {
                        "type": "array", "items": "k126"}]},
                    {"name": "split_offsets", "type": ["null", {
                        "type": "array", "items": "long"}]},
                ]}},
        ]}

    def entry(path, n, lo, hi):
        return {
            "status": 1, "snapshot_id": 99,
            "data_file": {
                "content": 0,
                "file_path": f"file://{os.path.join(root, path)}",
                "file_format": "PARQUET", "partition": {},
                "record_count": n, "file_size_in_bytes": 1,
                "lower_bounds": [{"key": 1,
                                  "value": sv_encode("long", lo)}],
                "upper_bounds": [{"key": 1,
                                  "value": sv_encode("long", hi)}],
                "split_offsets": None,
            },
        }

    write_avro(
        os.path.join(root, "metadata", "m1.avro"), manifest_schema,
        [entry("data/f1.parquet", 3, 1, 3),
         entry("data/f2.parquet", 2, 10, 20)],
        codec="deflate",
    )
    ml_schema = {
        "type": "record", "name": "manifest_file", "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "manifest_length", "type": "long"},
            {"name": "partition_spec_id", "type": "int"},
            {"name": "content", "type": "int"},
            {"name": "added_snapshot_id", "type": "long"},
        ]}
    write_avro(
        os.path.join(root, "metadata", "ml99.avro"), ml_schema,
        [{"manifest_path": f"file://{os.path.join(root, 'metadata/m1.avro')}",
          "manifest_length": 1, "partition_spec_id": 0, "content": 0,
          "added_snapshot_id": 99}],
        codec="deflate",
    )
    md = {
        "format-version": 2,
        "table-uuid": "aaaa-bbbb",
        "location": root,
        "last-sequence-number": 1,
        "schemas": [{"type": "struct", "schema-id": 0, "fields": [
            {"id": 1, "name": "k", "required": False, "type": "long"},
            {"id": 2, "name": "s", "required": False, "type": "string"},
        ]}],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "snapshots": [{"snapshot-id": 99, "sequence-number": 1,
                       "timestamp-ms": 5,
                       "manifest-list": "metadata/ml99.avro",
                       "summary": {"operation": "append"}}],
        "current-snapshot-id": 99,
    }
    with open(os.path.join(root, "metadata", "v1.metadata.json"),
              "w") as f:
        json.dump(md, f)
    t = IcebergTable(spark, root)
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 3, 10, 20]
    # bounds skipping off the foreign manifests
    df, info = t.scan("k", 1, 5)
    assert info == {"files_total": 2, "files_scanned": 1,
                    "rows_skipped": 2, "manifests_total": 1,
                    "manifests_scanned": 1}
    assert sorted(r["k"] for r in df.collect()) == [1, 2, 3]


def test_foreign_iceberg_equality_delete_raises(spark, root):
    """content=2 delete files (EQUALITY deletes) must raise — silently
    ignoring them would resurrect deleted rows. (Position deletes,
    content=1, are SUPPORTED since round 10.)"""
    os.makedirs(os.path.join(root, "metadata"))
    manifest_schema = {
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int"},
            {"name": "data_file", "type": {
                "type": "record", "name": "r2", "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                ]}},
        ]}
    write_avro(
        os.path.join(root, "metadata", "m.avro"), manifest_schema,
        [{"status": 1, "data_file": {
            "content": 2, "file_path": "data/eq-del.parquet",
            "file_format": "PARQUET", "record_count": 1}}],
    )
    ml_schema = {
        "type": "record", "name": "manifest_file", "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "content", "type": "int"},
            {"name": "sequence_number", "type": "long"},
        ]}
    write_avro(os.path.join(root, "metadata", "ml.avro"), ml_schema,
               [{"manifest_path": "metadata/m.avro", "content": 1,
                 "sequence_number": 1}])
    md = {
        "format-version": 2, "table-uuid": "x", "location": root,
        "schemas": [{"type": "struct", "schema-id": 0, "fields": [
            {"id": 1, "name": "k", "required": False, "type": "long"}]}],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "snapshots": [{"snapshot-id": 1,
                       "manifest-list": "metadata/ml.avro"}],
        "current-snapshot-id": 1,
    }
    with open(os.path.join(root, "metadata", "v1.metadata.json"),
              "w") as f:
        json.dump(md, f)
    with pytest.raises(IcebergProtocolError, match="equality delete"):
        IcebergTable(spark, root).read()


def test_iceberg_position_delete_writer_roundtrip(spark, root):
    """Writer-side position deletes (merge-on-read): no data file
    rewritten, the delete parquet carries spec (file_path, pos) rows,
    deletes stack, and data appended AFTER a delete is untouched by it
    (the sequence-number rule)."""
    t = IcebergTable(spark, root)
    t.write(_mk(spark, range(100)))                    # snap 1, seq 1
    t.write(_mk(spark, range(1000, 1100)))             # snap 2, seq 2
    data_before = sorted(os.listdir(os.path.join(root, "data")))
    t.delete_where("k", 10, 19)                        # snap 3, seq 3
    got = set(r["k"] for r in t.read().collect())
    assert got == (set(range(100)) - set(range(10, 20))) | set(
        range(1000, 1100)
    )
    # no data file rewritten; one delete parquet added
    data_after = sorted(os.listdir(os.path.join(root, "data")))
    assert set(data_before) <= set(data_after)
    added = set(data_after) - set(data_before)
    assert added and all(f.startswith("delete-") for f in added)
    # stacking
    t.delete_where("k", 30, 34)                        # snap 4
    got = set(r["k"] for r in t.read().collect())
    assert got == (
        set(range(100)) - set(range(10, 20)) - set(range(30, 35))
    ) | set(range(1000, 1100))
    # time travel BEFORE the deletes sees every row
    assert t.read(snapshot_id=2).count() == 200
    # sequence rule: rows appended after the deletes, in the SAME key
    # range, are not deleted by the earlier position files
    t.write(_mk(spark, range(10, 15)))                 # snap 5, seq 5
    got = set(r["k"] for r in t.read().collect())
    assert set(range(10, 15)) <= got
    # the delete parquet is spec-shaped
    import pyarrow.parquet as pq
    del_file = sorted(
        f for f in os.listdir(os.path.join(root, "data"))
        if f.startswith("delete-")
    )[0]
    tbl = pq.read_table(os.path.join(root, "data", del_file))
    assert set(tbl.column_names) == {"file_path", "pos"}
    assert tbl.num_rows == 10


def test_foreign_iceberg_position_deletes_read(spark, root):
    """A hand-built foreign layout WITH position deletes: the delete
    parquet and its content=1 manifest are rolled by hand; the reader
    must drop exactly the vectored positions of the right file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.join(root, "metadata"))
    os.makedirs(os.path.join(root, "data"))
    pq.write_table(
        pa.table({"k": list(range(10))}),
        os.path.join(root, "data", "f1.parquet"),
    )
    pq.write_table(
        pa.table({"k": list(range(100, 110))}),
        os.path.join(root, "data", "f2.parquet"),
    )
    # delete positions 2 and 5 of f1 only
    pq.write_table(
        pa.table({
            "file_path": ["data/f1.parquet", "data/f1.parquet"],
            "pos": pa.array([2, 5], type=pa.int64()),
        }),
        os.path.join(root, "data", "del1.parquet"),
    )
    entry_schema = {
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int"},
            {"name": "sequence_number", "type": ["null", "long"]},
            {"name": "data_file", "type": {
                "type": "record", "name": "r2", "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                ]}},
        ]}

    def dentry(path, content, n, seq):
        return {"status": 1, "sequence_number": seq,
                "data_file": {"content": content, "file_path": path,
                              "file_format": "PARQUET",
                              "record_count": n}}

    write_avro(os.path.join(root, "metadata", "m-data.avro"),
               entry_schema,
               [dentry("data/f1.parquet", 0, 10, 1),
                dentry("data/f2.parquet", 0, 10, 1)])
    write_avro(os.path.join(root, "metadata", "m-del.avro"),
               entry_schema,
               [dentry("data/del1.parquet", 1, 2, 2)])
    ml_schema = {
        "type": "record", "name": "manifest_file", "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "content", "type": "int"},
            {"name": "sequence_number", "type": "long"},
        ]}
    write_avro(os.path.join(root, "metadata", "ml.avro"), ml_schema,
               [{"manifest_path": "metadata/m-data.avro", "content": 0,
                 "sequence_number": 1},
                {"manifest_path": "metadata/m-del.avro", "content": 1,
                 "sequence_number": 2}])
    md = {
        "format-version": 2, "table-uuid": "x", "location": root,
        "schemas": [{"type": "struct", "schema-id": 0, "fields": [
            {"id": 1, "name": "k", "required": False, "type": "long"}]}],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "snapshots": [{"snapshot-id": 7,
                       "manifest-list": "metadata/ml.avro"}],
        "current-snapshot-id": 7,
    }
    with open(os.path.join(root, "metadata", "v1.metadata.json"),
              "w") as f:
        json.dump(md, f)
    got = sorted(r["k"] for r in IcebergTable(spark, root).read().collect())
    assert got == [0, 1, 3, 4, 6, 7, 8, 9] + list(range(100, 110))


def test_foreign_iceberg_format_v3_raises(spark, root):
    os.makedirs(os.path.join(root, "metadata"))
    with open(os.path.join(root, "metadata", "v1.metadata.json"),
              "w") as f:
        json.dump({"format-version": 3}, f)
    with pytest.raises(IcebergProtocolError, match="format-version 3"):
        IcebergTable(spark, root).metadata()


def test_crosscheck_with_pyiceberg_if_available(spark, root):
    """When pyiceberg IS present (not in this container), its writer's
    layout must read back identically through ours."""
    pytest.importorskip("pyiceberg")


def test_iceberg_equality_delete_writer_and_sequence_rule(spark, root):
    """Equality deletes (content=2, round 10): data rows matching the
    key set drop; STRICTLY-smaller sequence rule — a row re-inserted
    AFTER the delete survives; composes with position deletes."""
    t = IcebergTable(spark, root)
    t.write(_mk(spark, range(100)))                    # snap 1, seq 1
    data_before = sorted(os.listdir(os.path.join(root, "data")))
    t.delete_equality(
        spark.createDataFrame([(s,) for s in ("s0", "s1")], "s string")
    )                                                  # snap 2, seq 2
    got = set(r["k"] for r in t.read().collect())
    assert got == {k for k in range(100) if k % 5 not in (0, 1)}
    # no data file rewritten
    after = sorted(os.listdir(os.path.join(root, "data")))
    assert set(data_before) <= set(after)
    # strict rule: re-inserting deleted keys AFTER the delete survives
    t.write(_mk(spark, range(200, 205)))               # snap 3: s0..s4
    got = set(r["k"] for r in t.read().collect())
    assert set(range(200, 205)) <= got
    # compose with a position delete on the remainder
    t.delete_where("k", 2, 4)                          # snap 4
    got = set(r["k"] for r in t.read().collect())
    assert got & set(range(2, 5)) == set()
    assert set(range(200, 205)) <= got
    # multi-column equality key
    t.delete_equality(
        spark.createDataFrame([(203, "s3")], "k bigint, s string")
    )
    got = set(r["k"] for r in t.read().collect())
    assert 203 not in got and 204 in got


def test_foreign_iceberg_equality_deletes_read(spark, root):
    """A hand-built foreign layout with an equality-delete file: the
    reader must drop matching rows of OLDER data only."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.join(root, "metadata"))
    os.makedirs(os.path.join(root, "data"))
    pq.write_table(
        pa.table({"k": [1, 2, 3, 4], "s": ["a", "b", "a", "c"]}),
        os.path.join(root, "data", "f1.parquet"),
    )
    pq.write_table(  # newer than the delete: must keep its 'a'
        pa.table({"k": [10], "s": ["a"]}),
        os.path.join(root, "data", "f2.parquet"),
    )
    pq.write_table(
        pa.table({"s": ["a"]}),
        os.path.join(root, "data", "eqdel.parquet"),
    )
    entry_schema = {
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int"},
            {"name": "sequence_number", "type": ["null", "long"]},
            {"name": "data_file", "type": {
                "type": "record", "name": "r2", "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "equality_ids", "type": ["null", {
                        "type": "array", "items": "int"}]},
                ]}},
        ]}

    def dentry(path, content, n, seq, ids=None):
        return {"status": 1, "sequence_number": seq,
                "data_file": {"content": content, "file_path": path,
                              "file_format": "PARQUET",
                              "record_count": n, "equality_ids": ids}}

    write_avro(os.path.join(root, "metadata", "m.avro"), entry_schema,
               [dentry("data/f1.parquet", 0, 4, 1),
                dentry("data/f2.parquet", 0, 1, 3),
                dentry("data/eqdel.parquet", 2, 1, 2, ids=[2])])
    ml_schema = {
        "type": "record", "name": "manifest_file", "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "content", "type": "int"},
            {"name": "sequence_number", "type": "long"},
        ]}
    write_avro(os.path.join(root, "metadata", "ml.avro"), ml_schema,
               [{"manifest_path": "metadata/m.avro", "content": 0,
                 "sequence_number": 3}])
    md = {
        "format-version": 2, "table-uuid": "x", "location": root,
        "schemas": [{"type": "struct", "schema-id": 0, "fields": [
            {"id": 1, "name": "k", "required": False, "type": "long"},
            {"id": 2, "name": "s", "required": False,
             "type": "string"}]}],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "snapshots": [{"snapshot-id": 7,
                       "manifest-list": "metadata/ml.avro"}],
        "current-snapshot-id": 7,
    }
    with open(os.path.join(root, "metadata", "v1.metadata.json"),
              "w") as f:
        json.dump(md, f)
    got = sorted(
        (r["k"], r["s"])
        for r in IcebergTable(spark, root).read().collect()
    )
    # f1's two 'a' rows (seq 1 < 2) drop; f2's 'a' (seq 3 > 2) stays
    assert got == [(2, "b"), (4, "c"), (10, "a")]


def test_manifest_list_partition_summary_pruning(spark, root):
    """Two-level metadata pruning (round 10): a scan on the identity
    partition column skips WHOLE MANIFESTS via the manifest-list's
    partition value summaries — the avro manifests of disjoint commits
    are never opened (pinned via manifests_scanned)."""
    t = IcebergTable(spark, root)

    def slab(lo, hi):
        return spark.createDataFrame(
            [(k, k % 7, k * 2) for k in range(lo, hi)],
            "pid bigint, g bigint, v bigint",
        )

    t.write(slab(0, 100), partition_by="pid")        # manifest 1
    t.write(slab(1000, 1100))                        # manifest 2
    t.write(slab(5000, 5100))                        # manifest 3
    df, info = t.scan("pid", 1000, 1099)
    assert info["manifests_total"] == 3
    assert info["manifests_scanned"] == 1            # two never opened
    assert df.count() == 100
    # a non-partition column prunes files only, never manifests
    _, info2 = t.scan("v", 0, 10)
    assert info2["manifests_scanned"] == 3
    # data integrity across the pruned read
    assert t.read().count() == 300


def test_cross_format_migration_chain(spark, root):
    """migrate.py (round 10): foreign Delta (with DVs) -> SnapTable
    (live rows only, new skipping layout) -> Iceberg export a foreign
    engine could read; every hop row-identical, both directions
    covered (iceberg_to_snaptable too)."""
    import os

    from luxo_rs_spark.sources.deltalog import DeltaLog
    from luxo_rs_spark.sources.migrate import (
        delta_to_snaptable,
        iceberg_to_snaptable,
        snaptable_to_delta,
        snaptable_to_iceberg,
    )

    d_root = os.path.join(root, "delta")
    s_root = os.path.join(root, "snap")
    i_root = os.path.join(root, "ice")
    s2_root = os.path.join(root, "snap2")
    d2_root = os.path.join(root, "delta2")

    src = DeltaLog(spark, d_root)
    src.write(_mk(spark, range(200)))
    src.delete_where("k", 20, 39, mode="dv")
    live = set(range(200)) - set(range(20, 40))

    t = delta_to_snaptable(
        spark, d_root, s_root, stat_cols=["k"], bucket_col="v"
    )
    assert set(r["k"] for r in t.read().collect()) == live
    ice = snaptable_to_iceberg(spark, s_root, i_root)
    assert set(r["k"] for r in ice.read().collect()) == live
    t2 = iceberg_to_snaptable(
        spark, i_root, s2_root, stat_cols=["k"]
    )
    assert set(r["k"] for r in t2.read().collect()) == live
    d2 = snaptable_to_delta(spark, s2_root, d2_root)
    assert set(r["k"] for r in d2.read().collect()) == live
