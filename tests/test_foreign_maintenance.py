"""Retention/maintenance plane of the foreign-format layer:
DeltaLog.vacuum (version-count VACUUM + log retention) and
IcebergTable.expire_snapshots (expireSnapshots + removeOrphanFiles).
Both must never touch anything a retained snapshot can reach, and
both break time travel below the window LOUDLY, not silently."""

from __future__ import annotations

import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from luxo_rs_spark.sources.deltalog import DeltaLog
from luxo_rs_spark.sources.iceberg import IcebergTable

ROOT = "/tmp/luxo_foreign_maintenance_tests"


@pytest.fixture()
def base():
    path = os.path.join(ROOT, uuid.uuid4().hex[:8])
    os.makedirs(path)
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _mk(spark, rows):
    return spark.createDataFrame(
        [(k, k * 2) for k in rows], "k bigint, v bigint"
    ).coalesce(1)


def _data_files(root):
    out = []
    for rd, dirs, fns in os.walk(root):
        dirs[:] = [
            d for d in dirs
            if d not in ("_delta_log", "metadata") and
            not d.startswith("_stage")
        ]
        out.extend(
            os.path.join(rd, f) for f in fns
            if f.endswith(".parquet") or f.endswith(".bin")
        )
    return sorted(out)


# -- DeltaLog.vacuum ---------------------------------------------------------


def test_delta_vacuum_removes_overwritten_files(spark, base):
    root = os.path.join(base, "t")
    t = DeltaLog(spark, root)
    t.write(_mk(spark, [1, 2, 3]))
    n_before = len(_data_files(root))
    t.write(_mk(spark, [10, 11]), mode="overwrite")

    stats = t.vacuum(retain_versions=1)
    assert stats["data_files_removed"] == n_before
    assert sorted(r["k"] for r in t.read().collect()) == [10, 11]
    # the overwritten version's files are GONE: reading v0 now fails
    with pytest.raises(Exception):
        t.read(0).collect()


def test_delta_vacuum_spares_retained_and_young_files(spark, base):
    root = os.path.join(base, "t")
    t = DeltaLog(spark, root)
    t.write(_mk(spark, [1]))
    t.write(_mk(spark, [2]), mode="overwrite")

    # grace window: everything is younger than an hour — nothing dies
    stats = t.vacuum(retain_versions=1, grace_seconds=3600)
    assert stats["data_files_removed"] == 0
    assert sorted(r["k"] for r in t.read(0).collect()) == [1]

    # retaining both versions keeps both versions readable
    stats = t.vacuum(retain_versions=2)
    assert stats["data_files_removed"] == 0
    assert sorted(r["k"] for r in t.read(0).collect()) == [1]
    assert sorted(r["k"] for r in t.read(1).collect()) == [2]


def test_delta_vacuum_collects_orphaned_dv_sidefile(spark, base):
    root = os.path.join(base, "t")
    t = DeltaLog(spark, root)
    t.write(_mk(spark, range(10)))
    t.delete_where("k", 2, 4, mode="dv")
    dv_bins = [p for p in _data_files(root) if p.endswith(".bin")]
    assert len(dv_bins) == 1

    # the DV is still referenced: a retention pass must keep it
    assert t.vacuum(retain_versions=1)["data_files_removed"] == 0
    assert os.path.exists(dv_bins[0])

    # a CoW rewrite orphans both the vectored file and its DV
    t.delete_where("k", 0, 9, mode="cow")
    stats = t.vacuum(retain_versions=1)
    assert not os.path.exists(dv_bins[0])
    assert stats["data_files_removed"] >= 2
    assert t.read().count() == 0


def test_delta_vacuum_log_retention_needs_checkpoint(spark, base):
    root = os.path.join(base, "t")
    t = DeltaLog(spark, root)
    for i in range(4):
        t.write(_mk(spark, [i]))
    # no checkpoint yet: clean_log must be a no-op (the tail is the
    # only way to reconstruct state)
    assert t.vacuum(retain_versions=1)["log_files_removed"] == 0
    assert t.versions() == [0, 1, 2, 3]

    cp = t.checkpoint()
    stats = t.vacuum(retain_versions=1)
    assert stats["log_files_removed"] == cp  # versions 0..cp-1
    assert t.versions() == [cp]
    assert sorted(r["k"] for r in t.read().collect()) == [0, 1, 2, 3]
    # the table still appends and reads normally post-retention
    t.write(_mk(spark, [99]))
    assert sorted(r["k"] for r in t.read().collect()) == [
        0, 1, 2, 3, 99,
    ]


# -- IcebergTable.expire_snapshots -------------------------------------------


def test_iceberg_expire_removes_overwritten_closure(spark, base):
    root = os.path.join(base, "t")
    t = IcebergTable(spark, root)
    s1 = t.write(_mk(spark, [1, 2, 3]))
    t.write(_mk(spark, [10, 11]), mode="overwrite")

    stats = t.expire_snapshots(retain_last=1)
    assert stats["expired"] == 1 and stats["kept"] == 1
    # v1's data file + manifest + manifest-list all die (3 files)
    assert stats["orphans_removed"] == 3
    assert sorted(r["k"] for r in t.read().collect()) == [10, 11]
    with pytest.raises(FileNotFoundError):
        t.read(snapshot_id=s1)


def test_iceberg_expire_keeps_shared_append_files(spark, base):
    root = os.path.join(base, "t")
    t = IcebergTable(spark, root)
    t.write(_mk(spark, [1, 2]))
    t.write(_mk(spark, [3]))  # append: carries snapshot 1's manifest
    n_files = len(_data_files(root))

    stats = t.expire_snapshots(retain_last=1)
    assert stats["expired"] == 1
    # only snapshot 1's manifest-LIST is orphaned; its manifest and
    # data file are in snapshot 2's closure and must survive
    assert stats["orphans_removed"] == 1
    assert len(_data_files(root)) == n_files
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 3]


def test_iceberg_expire_after_compaction_drops_history(spark, base):
    root = os.path.join(base, "t")
    t = IcebergTable(spark, root)
    t.write(_mk(spark, range(10)))
    t.delete_where("k", 0, 4)  # merge-on-read position delete
    t.compact()                # replace: live rows rewritten

    stats = t.expire_snapshots(retain_last=1)
    assert stats["expired"] == 2
    # pre-compaction data file + position-delete file + their
    # manifests/manifest-lists are all unreachable now
    assert stats["orphans_removed"] >= 4
    assert sorted(r["k"] for r in t.read().collect()) == [
        5, 6, 7, 8, 9,
    ]
    files = _data_files(root)
    assert len(files) == 1  # the compacted file alone survives


def test_iceberg_expire_retain_two_keeps_time_travel(spark, base):
    root = os.path.join(base, "t")
    t = IcebergTable(spark, root)
    s1 = t.write(_mk(spark, [1]))
    s2 = t.write(_mk(spark, [2]))
    t.write(_mk(spark, [3]))

    stats = t.expire_snapshots(retain_last=2)
    assert stats["expired"] == 1
    assert sorted(r["k"] for r in t.read(snapshot_id=s2).collect()) == [
        1, 2,
    ]
    with pytest.raises(FileNotFoundError):
        t.read(snapshot_id=s1)


def test_iceberg_append_after_expire_keeps_every_acknowledged_row(
    spark, base
):
    """Appends after an expiry take fresh snapshot ids and fresh file
    names: an id derived from the (shrunken) snapshot count would reuse
    a retained snapshot's id and overwrite its files, losing rows."""
    root = os.path.join(base, "t")
    t = IcebergTable(spark, root)
    acked = []
    for rows in ([0, 1], [10, 11], [20, 21], [30, 31]):
        t.write(_mk(spark, rows))
        acked += rows
    t.expire_snapshots(retain_last=2)
    for rows in ([100], [200]):
        t.write(_mk(spark, rows))
        acked += rows

    ids = [s["snapshot-id"] for s in t.snapshots()]
    assert len(ids) == len(set(ids)) == 4
    assert sorted(r["k"] for r in t.read().collect()) == sorted(acked)


# -- timestamp time travel ----------------------------------------------------


def test_delta_timestamp_as_of(spark, base):
    import json as _json
    import os as _os

    root = os.path.join(base, "t")
    t = DeltaLog(spark, root)
    t.write(_mk(spark, [1]))
    t.write(_mk(spark, [2]))
    t.write(_mk(spark, [3]))
    # stamp commitInfo timestamps the way a foreign writer would:
    # prepend a commitInfo line per commit json
    for v, ts in ((0, 1000), (1, 2000), (2, 3000)):
        p = _os.path.join(root, "_delta_log", f"{v:020d}.json")
        body = open(p).read()
        with open(p, "w") as f:
            f.write(_json.dumps(
                {"commitInfo": {"operation": "WRITE",
                                "timestamp": ts}}
            ) + "\n" + body)

    assert t.version_at(1500) == 0
    assert t.version_at(2000) == 1
    assert t.version_at(99999) == 2
    assert sorted(
        r["k"] for r in t.read(timestamp_ms=2500).collect()
    ) == [1, 2]
    with pytest.raises(FileNotFoundError):
        t.version_at(500)
    with pytest.raises(ValueError):
        t.read(version=1, timestamp_ms=2000)


def test_iceberg_timestamp_as_of(spark, base):
    import json as _json

    root = os.path.join(base, "t")
    t = IcebergTable(spark, root)
    t.write(_mk(spark, [1]))
    t.write(_mk(spark, [2]))
    # stamp snapshot-log timestamps (our writer writes 0; foreign
    # tables carry real ones)
    vs = t._metadata_versions()
    p = os.path.join(t.meta_dir, f"v{vs[-1]}.metadata.json")
    md = _json.load(open(p))
    for i, entry in enumerate(md["snapshot-log"]):
        entry["timestamp-ms"] = (i + 1) * 1000
    with open(p, "w") as f:
        _json.dump(md, f)

    assert t.snapshot_at(1500) == md["snapshot-log"][0]["snapshot-id"]
    assert sorted(
        r["k"] for r in t.read(timestamp_ms=1500).collect()
    ) == [1]
    assert sorted(
        r["k"] for r in t.read(timestamp_ms=9999).collect()
    ) == [1, 2]
    with pytest.raises(FileNotFoundError):
        t.snapshot_at(500)
