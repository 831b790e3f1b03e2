"""SnapTable metadata-plane scale lane (round-9 verdict item #1).

Measures QUERY-PLANNING cost — manifest load + file pruning, zero data
I/O — against synthetic tables of 10k/30k/100k data files, comparing
the three planning paths:

- ``json_driver``: the legacy representation — one inline JSON manifest
  parsed on the driver, pruned in a Python loop (round 8's scale
  ceiling);
- ``ckpt_driver``: the columnar checkpoint — parquet side-file read via
  pyarrow, pruned over typed min/max arrays (no JSON parse anywhere);
- ``ckpt_spark``: ``scan_planned`` — the pruning as a Spark job over
  ``files_df()``, driver memory O(survivors).

Also measures the APPEND METADATA COST at each table size: finalizing
a one-file append's entry list (inline JSON re-serializes every carried
entry; the checkpoint concatenates the carried arrow table and writes
parquet). The fitted log-log alpha per path shows which representation
survives 10⁶ files.

Entries are synthetic (the planning plane never opens a data file, so
fabricated paths are honest here); end-to-end correctness of the
checkpoint path is covered by tests/test_snaptable.py's columnar
lifecycle battery against real data.

Usage: PYTHONPATH=/root/repo python tools/snaptable_plan_bench.py
           [--sizes 10000,30000,100000] [--runs 3]
           [--out BENCH_SCALING_R9.json]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(REPO, ".scaledata", "snapplan")


def synth_entries(n: int) -> list[dict]:
    return [
        {
            "path": f"data/v00000001-{i:05d}-bench.parquet",
            "rows": 1000,
            "bytes": 1_000_000,
            "stats": {
                "k": {"min": i * 1000, "max": i * 1000 + 999, "nulls": 0}
            },
        }
        for i in range(n)
    ]


def median(xs):
    s = sorted(xs)
    return s[len(s) // 2]


def fit_alpha(ns, ys):
    lx = [math.log(n) for n in ns]
    ly = [math.log(max(y, 1e-9)) for y in ys]
    mx, my = sum(lx) / len(lx), sum(ly) / len(ly)
    num = sum((a - mx) * (b - my) for a, b in zip(lx, ly))
    den = sum((a - mx) ** 2 for a in lx)
    return round(num / den, 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="10000,30000,100000")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument(
        "--out", default=os.path.join(REPO, "BENCH_SCALING_R9.json")
    )
    args = ap.parse_args()
    sizes = [int(s) for s in args.sizes.split(",")]

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("snapplan-bench")
        .master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    from luxo_rs_spark.sources.snaptable import SnapTable

    results = {"lane": "snaptable_metadata_plane", "sizes": {}}
    for n in sizes:
        root_json = os.path.join(WORK, f"json_{n}")
        root_ckpt = os.path.join(WORK, f"ckpt_{n}")
        for r in (root_json, root_ckpt):
            shutil.rmtree(r, ignore_errors=True)
            os.makedirs(os.path.join(r, "_snapshots"))
            os.makedirs(os.path.join(r, "data"))
        entries = synth_entries(n)
        base = {
            "version": 1,
            "parent": 0,
            "operation": "create",
            "schema": "k bigint, v bigint",
            "stat_cols": ["k"],
            "bloom_cols": [],
            "constraints": {},
        }

        # representation A: inline JSON (legacy; threshold above n)
        tj = SnapTable(spark, root_json, checkpoint_threshold=10 * n)
        tj._claim(dict(base, files=entries))
        # representation B: columnar checkpoint
        tc = SnapTable(spark, root_ckpt, checkpoint_threshold=1)
        fields = tc._finalize_entries(1, [], entries, ["k"], ())
        tc._claim(dict(base, **fields))

        # the probe: a range hitting ~50 of n files
        lo, hi = (n // 2) * 1000, (n // 2 + 50) * 1000 - 1

        def timed(fn, runs=args.runs):
            fn()  # warm-up
            ts = []
            for _ in range(runs):
                t0 = time.perf_counter()
                out = fn()
                ts.append(time.perf_counter() - t0)
            return median(ts), out

        sec_json, (paths_j, info_j) = timed(
            lambda: tj._prune_range(tj.manifest(), "k", lo, hi)
        )
        sec_ckpt, (paths_c, info_c) = timed(
            lambda: tc._prune_range(tc.manifest(), "k", lo, hi)
        )

        def spark_prune():
            from pyspark.sql import functions as F

            fdf = tc.files_df(1)
            keep = (
                F.col("min__k").isNull()
                | ((F.col("max__k") >= lo) & (F.col("min__k") <= hi))
            )
            return [r["path"] for r in fdf.filter(keep).select("path").collect()]

        sec_spark, paths_s = timed(spark_prune)

        assert info_j == info_c, (info_j, info_c)
        assert sorted(paths_j) == sorted(paths_c) == sorted(paths_s)
        assert info_j["files_scanned"] == 50

        # append metadata cost: finalize a 1-file append's entry list
        new = synth_entries(1)
        new[0]["path"] = "data/v00000002-00000-bench.parquet"

        def append_json():
            m = tj.manifest()
            f = tj._finalize_entries(2, m["files"], new, ["k"], ())
            # inline path returns the would-be manifest field; writing
            # the JSON itself is charged to _claim below
            blob = json.dumps(dict(base, **f), sort_keys=True)
            return len(blob)

        def append_ckpt():
            m = tc.manifest()
            f = tc._finalize_entries(2, tc._carry(m), new, ["k"], ())
            os.remove(os.path.join(root_ckpt, f["files_ckpt"]))
            return f["num_files"]

        sec_aj, _ = timed(append_json)
        sec_ac, _ = timed(append_ckpt)

        results["sizes"][str(n)] = {
            "files": n,
            "files_scanned": info_j["files_scanned"],
            "plan_json_driver_sec": round(sec_json, 4),
            "plan_ckpt_driver_sec": round(sec_ckpt, 4),
            "plan_ckpt_spark_sec": round(sec_spark, 4),
            "append_meta_json_sec": round(sec_aj, 4),
            "append_meta_ckpt_sec": round(sec_ac, 4),
        }
        print(n, results["sizes"][str(n)], flush=True)
        for r in (root_json, root_ckpt):
            shutil.rmtree(r, ignore_errors=True)

    ns = sizes
    by = results["sizes"]
    results["alpha"] = {
        k: fit_alpha(ns, [by[str(n)][k] for n in ns])
        for k in (
            "plan_json_driver_sec",
            "plan_ckpt_driver_sec",
            "plan_ckpt_spark_sec",
            "append_meta_json_sec",
            "append_meta_ckpt_sec",
        )
    }
    ratio = by[str(ns[-1])]
    results["at_largest"] = {
        "plan_speedup_ckpt_vs_json": round(
            ratio["plan_json_driver_sec"] / max(ratio["plan_ckpt_driver_sec"], 1e-9), 2
        ),
        "append_speedup_ckpt_vs_json": round(
            ratio["append_meta_json_sec"] / max(ratio["append_meta_ckpt_sec"], 1e-9), 2
        ),
    }
    # deletion-vector READ overhead: same table contents read three
    # ways — no vectors, a 1%-deleted vector (broadcast anti-join on
    # (fname, row_index)), and after compaction materializes the
    # deletes (back to the zero-join path). Quantifies the documented
    # merge-on-read read tax.
    from pyspark.sql import functions as SF

    from luxo_rs_spark.sources.snaptable import SnapTable as ST

    dv_root = os.path.join(WORK, "dvread")
    shutil.rmtree(dv_root, ignore_errors=True)
    n_rows = 2_000_000
    df = spark.range(n_rows).select(
        SF.col("id").alias("k"),
        (SF.col("id") * 7 % 1000).alias("v"),
        SF.expr("id div 250000").alias("b"),
    )
    t = ST(spark, dv_root)
    t.create(df, stat_cols=["k"], bucket_col="b")

    def read_time():
        def go():
            return t.read().agg(SF.sum("v"), SF.count("*")).collect()

        return timed(go)[0]

    sec_plain = read_time()
    t.delete_where("k", 0, n_rows // 100, mode="dv")  # ~1% deleted
    sec_dv = read_time()
    t.compact(n_out=8)
    sec_compacted = read_time()
    results["dv_read_overhead"] = {
        "rows": n_rows,
        "read_plain_sec": round(sec_plain, 4),
        "read_with_dv_sec": round(sec_dv, 4),
        "read_after_compact_sec": round(sec_compacted, 4),
        "dv_read_tax": round(sec_dv / max(sec_plain, 1e-9), 2),
    }
    print(json.dumps(results["dv_read_overhead"]), flush=True)
    shutil.rmtree(dv_root, ignore_errors=True)

    # deletion-vector WRITE cost vs table size (round 10, distributed
    # bitmap build): delete the SAME 50k-row slice out of tables 4x
    # apart in size. With the executor-side position build the cost
    # must be flat in table size (alpha ~ 0) — the driver only ever
    # sees one accounting row per vectored file.
    dv_write = {}
    wsizes = [500_000, 2_000_000, 8_000_000]
    for n in wsizes:
        wroot = os.path.join(WORK, f"dvwrite_{n}")
        shutil.rmtree(wroot, ignore_errors=True)
        wdf = spark.range(n).select(
            SF.col("id").alias("k"),
            (SF.col("id") * 7 % 1000).alias("v"),
            SF.expr(f"id div {max(1, n // 8)}").alias("b"),
        )
        wt = ST(spark, wroot)
        wt.create(wdf, stat_cols=["k"], bucket_col="b")
        import time as _time

        t0 = _time.perf_counter()
        wt.delete_where("k", 0, 49_999, mode="dv")
        dv_write[str(n)] = round(_time.perf_counter() - t0, 4)
        shutil.rmtree(wroot, ignore_errors=True)
    results["dv_write_scaling"] = {
        "deleted_rows": 50_000,
        "table_rows": wsizes,
        "dv_write_sec": dv_write,
        "alpha_vs_table_size": fit_alpha(
            wsizes, [dv_write[str(n)] for n in wsizes]
        ),
    }
    print(json.dumps(results["dv_write_scaling"]), flush=True)

    with open(args.out, "w") as f:
        json.dump(results, f, indent=2)
    print(json.dumps(results["alpha"]), flush=True)
    print(json.dumps(results["at_largest"]), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
