"""Foreign-format metadata-plane lane (round 10): planning cost of the
from-scratch Delta and Iceberg readers as the table's FILE COUNT grows
— the number a migration-period user lives with before moving hot
tables into SnapTable's columnar-checkpoint plane.

Measures, at n = 1k/4k/16k data files:
- deltalog snapshot() from a JSON tail (n add actions replayed) vs
  from a parquet CHECKPOINT (one columnar read + empty tail) — the
  checkpoint is the reader's own fast path, alpha should drop;
- iceberg data_files() with all entries in ONE manifest vs manifest-
  list pruning where a partition scan opens 1-of-k manifests.

Synthetic logs are built directly (no data files are read — planning
never opens data), so the lane isolates pure metadata cost.

Usage: PYTHONPATH=. python tools/foreign_plan_bench.py
Appends a foreign_metadata_plane section to BENCH_SCALING_R10.json.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import time


def median(xs):
    xs = sorted(xs)
    return xs[len(xs) // 2]


def fit_alpha(ns, ys):
    """Log-log slope of time against size; None below two sizes."""
    if len(set(ns)) < 2:
        return None
    lx = [math.log(n) for n in ns]
    ly = [math.log(max(y, 1e-6)) for y in ys]
    n = len(ns)
    sx, sy = sum(lx), sum(ly)
    sxx = sum(x * x for x in lx)
    sxy = sum(x * y for x, y in zip(lx, ly))
    return round((n * sxy - sx * sy) / (n * sxx - sx * sx), 2)


def synth_delta(root: str, n_files: int, per_commit: int = 100) -> None:
    """A REALISTIC log shape: 100 adds per commit file (the tail a
    reader replays is many small json files, not one big one)."""
    os.makedirs(os.path.join(root, "_delta_log"))
    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {}},
        ],
    }
    v = 0
    f = open(os.path.join(root, "_delta_log", f"{v:020d}.json"), "w")
    f.write(json.dumps({"protocol": {"minReaderVersion": 1,
                                     "minWriterVersion": 2}}) + "\n")
    f.write(json.dumps({"metaData": {
        "id": "x", "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps(schema),
        "partitionColumns": [], "configuration": {}}}) + "\n")
    for i in range(n_files):
        if i and i % per_commit == 0:
            f.close()
            v += 1
            f = open(
                os.path.join(root, "_delta_log", f"{v:020d}.json"), "w"
            )
        f.write(json.dumps({"add": {
            "path": f"part-{i:06d}.parquet", "partitionValues": {},
            "size": 1024, "modificationTime": 0, "dataChange": True,
            "stats": json.dumps({
                "numRecords": 1000,
                "minValues": {"k": i * 1000},
                "maxValues": {"k": i * 1000 + 999}})}}) + "\n")
    f.close()


def synth_iceberg(root: str, n_files: int, n_manifests: int) -> None:
    from luxo_rs_spark.sources.avro_io import write_avro
    from luxo_rs_spark.sources.iceberg import (
        _MANIFEST_LIST_SCHEMA,
        _manifest_schema,
        sv_encode,
    )

    os.makedirs(os.path.join(root, "metadata"))
    per = n_files // n_manifests
    mfs = []
    for m in range(n_manifests):
        entries = []
        for i in range(per):
            k0 = (m * per + i) * 1000
            entries.append({
                "status": 1, "snapshot_id": 1,
                "sequence_number": None, "file_sequence_number": None,
                "data_file": {
                    "content": 0,
                    "file_path": f"data/part-{m:03d}-{i:06d}.parquet",
                    "file_format": "PARQUET", "partition": {"p": m},
                    "record_count": 1000, "file_size_in_bytes": 1024,
                    "lower_bounds": [{"key": 1,
                                      "value": sv_encode("long", k0)}],
                    "upper_bounds": [{"key": 1,
                                      "value": sv_encode("long",
                                                         k0 + 999)}],
                }})
        rel = f"metadata/manifest-{m:03d}.avro"
        write_avro(os.path.join(root, rel),
                   _manifest_schema([{"name": "p",
                                      "avro_type": "long"}]),
                   entries)
        mfs.append({
            "manifest_path": rel, "manifest_length": 1,
            "partition_spec_id": 0, "content": 0,
            "sequence_number": 1, "min_sequence_number": 1,
            "added_snapshot_id": 1, "added_files_count": per,
            "existing_files_count": 0, "deleted_files_count": 0,
            "added_rows_count": per * 1000, "existing_rows_count": 0,
            "deleted_rows_count": 0,
            "partitions": [{"contains_null": False,
                            "contains_nan": None,
                            "lower_bound": sv_encode("long", m),
                            "upper_bound": sv_encode("long", m)}],
        })
    write_avro(os.path.join(root, "metadata", "ml.avro"),
               _MANIFEST_LIST_SCHEMA, mfs)
    md = {
        "format-version": 2, "table-uuid": "x", "location": root,
        "last-sequence-number": 1,
        "schemas": [{"type": "struct", "schema-id": 0, "fields": [
            {"id": 1, "name": "k", "required": False, "type": "long"},
            {"id": 2, "name": "p", "required": False, "type": "long"}]}],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": [
            {"name": "p", "transform": "identity", "source-id": 2,
             "field-id": 1000}]}],
        "default-spec-id": 0,
        "snapshots": [{"snapshot-id": 1, "sequence-number": 1,
                       "manifest-list": "metadata/ml.avro"}],
        "current-snapshot-id": 1,
    }
    with open(os.path.join(root, "metadata", "v1.metadata.json"),
              "w") as f:
        json.dump(md, f)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="1000,4000,16000")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--out", default="BENCH_SCALING_R10.json")
    args = ap.parse_args()
    sizes = [int(s) for s in args.sizes.split(",")]

    # planning is pure python/pyarrow — no SparkSession needed; pass a
    # None session (snapshot()/data_files() never touch it)
    from luxo_rs_spark.sources.deltalog import DeltaLog
    from luxo_rs_spark.sources.iceberg import IcebergTable

    WORK = "/tmp/luxo_foreign_plan_bench"
    shutil.rmtree(WORK, ignore_errors=True)
    results: dict = {"sizes": {}}
    for n in sizes:
        d_root = os.path.join(WORK, f"delta_{n}")
        synth_delta(d_root, n)
        t = DeltaLog(None, d_root)

        def timed(fn):
            ts = []
            for _ in range(args.runs):
                t0 = time.perf_counter()
                fn()
                ts.append(time.perf_counter() - t0)
            return median(ts)

        sec_tail = timed(lambda: t.snapshot())
        t.checkpoint()
        sec_ckpt = timed(lambda: t.snapshot())
        # streaming-tail planning (round 10): a catch-up batch over
        # the LAST commit must be O(commit), flat in table size — the
        # walk opens only the (start, end] jsons; the bootstrap batch
        # (first offset) is the one O(table) snapshot
        from luxo_rs_spark.sources.deltastream import _DeltaTail

        sr = _DeltaTail({"path": d_root}, t.snapshot()["schema"])
        last = t.latest_version()
        sec_stream_incr = timed(lambda: sr._batch_adds(
            {"v": last - 1, "snapshot": False}, {"v": last}
        ))
        sec_stream_boot = timed(lambda: sr._batch_adds(
            {"v": -1, "snapshot": True}, {"v": last}
        ))
        i_root = os.path.join(WORK, f"ice_{n}")
        n_manifests = 16
        synth_iceberg(i_root, n, n_manifests)
        it = IcebergTable(None, i_root)
        sec_ice_all = timed(lambda: it.data_files())
        # partition scan opening 1-of-16 manifests via summaries
        minfo: dict = {}
        sec_ice_pruned = timed(
            lambda: it.data_files(prune=("p", 3, 3), minfo=minfo)
        )
        results["sizes"][str(n)] = {
            "delta_snapshot_tail_sec": round(sec_tail, 4),
            "delta_snapshot_ckpt_sec": round(sec_ckpt, 4),
            "delta_stream_incr_sec": round(sec_stream_incr, 4),
            "delta_stream_boot_sec": round(sec_stream_boot, 4),
            "iceberg_plan_all_sec": round(sec_ice_all, 4),
            "iceberg_plan_pruned_sec": round(sec_ice_pruned, 4),
            "iceberg_manifests_opened": minfo.get("manifests_scanned"),
        }
        print(n, results["sizes"][str(n)], flush=True)
    by = results["sizes"]
    results["alpha"] = {
        k: fit_alpha(sizes, [by[str(n)][k] for n in sizes])
        for k in (
            "delta_snapshot_tail_sec",
            "delta_snapshot_ckpt_sec",
            "delta_stream_incr_sec",
            "delta_stream_boot_sec",
            "iceberg_plan_all_sec",
            "iceberg_plan_pruned_sec",
        )
    }
    print(json.dumps(results["alpha"]), flush=True)
    out_path = args.out
    data = {}
    if os.path.exists(out_path):
        with open(out_path) as f:
            data = json.load(f)
    data["foreign_metadata_plane"] = results
    with open(out_path, "w") as f:
        json.dump(data, f, indent=2)
    shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    main()
