"""Driver-held metadata kept off Spark jobs and Python workers:
``registry.local_frame`` (literal rows as a JVM ``LocalTableScan``), the
one footer-stats fold behind SnapTable / Delta / Iceberg commits
(``sources/footer.py``) and the file-state-keyed schema and row-count
caches of ``registry.load_table`` / ``registry.table_num_rows``."""

from __future__ import annotations

import ast
import datetime
import decimal
import json
import os
import pathlib
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import SF_DIR
from pyspark.sql import functions as F

from luxo_rs_spark.sources.deltalog import DeltaLog
from luxo_rs_spark.sources.footer import footer_stats
from luxo_rs_spark.sources.iceberg import IcebergTable, sv_decode
from luxo_rs_spark.sources.registry import (
    load_table,
    local_frame,
    table_num_rows,
)
from luxo_rs_spark.sources.snaptable import SnapTable

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "luxo_rs_spark"

_UTC = datetime.timezone.utc


@pytest.fixture()
def root(tmp_path):
    yield str(tmp_path)
    shutil.rmtree(tmp_path, ignore_errors=True)


# -- local_frame ---------------------------------------------------------------


@pytest.mark.parametrize(
    "ddl, rows",
    [
        ("s string", [("a",), (None,), ("",)]),
        ("i int, b bigint", [(1, 2**40), (None, None), (-7, -(2**62))]),
        ("d double", [(1.5,), (-0.0,), (None,), (1e300,)]),
        ("m decimal(12,2)", [(decimal.Decimal("12.34"),), (None,)]),
        (
            # tz-aware values: the list path reads naive datetimes in the
            # Python process's local zone, local_frame reads them as UTC
            "t timestamp",
            [(datetime.datetime(2024, 1, 2, 3, 4, 5, 6, tzinfo=_UTC),),
             (None,)],
        ),
        ("a array<double>", [([1.0, 2.5],), ([],), (None,)]),
        (
            "aa array<array<double>>",
            [([[1.0], [2.0, 3.0]],), ([[]],), (None,)],
        ),
        ("s string, b bigint, a array<double>", []),
    ],
)
def test_local_frame_matches_create_data_frame(spark, ddl, rows):
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_plans_a_local_table_scan(spark):
    rows = [("small", 1, 17), ("large", 34, 51)]
    ddl = "bucket_name string, lo int, hi int"
    plan = local_frame(spark, rows, ddl)._jdf.queryExecution()
    text = plan.executedPlan().toString()
    assert "LocalTableScan" in text and "ExistingRDD" not in text
    # the list path this replaces plans a Python RDD scan
    legacy = spark.createDataFrame(rows, ddl)._jdf.queryExecution()
    assert "ExistingRDD" in legacy.executedPlan().toString()


def _literal_create_data_frame_calls(source: str) -> list[int]:
    """Line numbers of ``createDataFrame(<list/tuple literal or
    comprehension>, ...)`` calls outside ``local_frame``."""
    literal = (
        ast.List, ast.Tuple, ast.ListComp, ast.GeneratorExp, ast.SetComp
    )
    hits: list[int] = []

    def visit(node, in_local_frame):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            in_local_frame = in_local_frame or node.name == "local_frame"
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
            and node.args
            and isinstance(node.args[0], literal)
            and not in_local_frame
        ):
            hits.append(node.lineno)
        for child in ast.iter_child_nodes(node):
            visit(child, in_local_frame)

    visit(ast.parse(source), False)
    return hits


def test_guard_catches_literal_rows():
    src = (
        "def f(spark):\n"
        "    spark.createDataFrame([(1,)], 'a int')\n"
        "    spark.createDataFrame([(i,) for i in range(3)], 'a int')\n"
        "    spark.createDataFrame(rows, 'a int')\n"
        "def local_frame(spark, rows, schema):\n"
        "    return spark.createDataFrame([], schema)\n"
    )
    assert _literal_create_data_frame_calls(src) == [2, 3]


def test_package_builds_literal_frames_through_local_frame():
    offenders = [
        f"{path.relative_to(PACKAGE.parent)}:{line}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for line in _literal_create_data_frame_calls(path.read_text())
    ]
    assert offenders == [], (
        "build driver-held rows with sources.registry.local_frame: "
        f"{offenders}"
    )


# -- footer stats: one contract for all three table formats ---------------------


def test_footer_stats_contract(root):
    path = os.path.join(root, "rg.parquet")
    v = pa.array([1, 2, None, None, 5, None], pa.int64())
    table = pa.table({"v": v, "n": pa.nulls(6, pa.int64())})
    # row groups [1, 2] [null, null] [5, null]: the all-null group adds
    # nulls but no bounds
    pq.write_table(table, path, row_group_size=2)
    rows, st = footer_stats(path, ["v", "n", "absent"])
    assert rows == 6
    assert st["v"] == {"min": 1, "max": 5, "nulls": 3}
    assert st["n"] == {"min": None, "max": None, "nulls": 6}
    assert "absent" not in st

    bare = os.path.join(root, "bare.parquet")
    pq.write_table(table, bare, row_group_size=2, write_statistics=False)
    rows, st = footer_stats(bare, ["v"])
    assert rows == 6
    assert st["v"] == {"min": None, "max": None, "nulls": None}


def _frame(spark):
    # b=0: v = 3k; b=1: v all null; b=2: v null on odd k
    return local_frame(
        spark,
        [
            (
                k,
                None if k // 100 == 1 or (k >= 200 and k % 2) else 3 * k,
                k // 100,
            )
            for k in range(250)
        ],
        "k bigint, v bigint, b bigint",
    )


def _recorded_stats(spark, root, df):
    """Per format, the sorted (rows, k min, k max, k nulls, v min, v max,
    v nulls) of each data file as the format records it; plus the three
    table handles."""
    snap = SnapTable(spark, os.path.join(root, "snap"))
    snap.create(df, stat_cols=["k", "v"], bucket_col="b")
    snap_stats = [
        (e["rows"],) + tuple(
            e["stats"].get(c, {}).get(x)
            for c in ("k", "v") for x in ("min", "max", "nulls")
        )
        for e in snap.manifest()["files"]
    ]

    delta = DeltaLog(spark, os.path.join(root, "delta"))
    delta.write(df, partition_by=["b"])
    delta_stats = []
    for a in delta.snapshot()["adds"].values():
        st = a["stats"]
        st = json.loads(st) if isinstance(st, str) else st
        delta_stats.append((st["numRecords"],) + tuple(
            st[key].get(c)
            for c in ("k", "v")
            for key in ("minValues", "maxValues", "nullCount")
        ))

    ice = IcebergTable(spark, os.path.join(root, "ice"))
    ice.write(df, partition_by="b")
    fid = {f["name"]: f["id"] for f in ice._schema_fields(ice.metadata())}
    ice_stats = [
        (fl["record_count"],) + tuple(
            v
            for c in ("k", "v")
            for v in (
                sv_decode("long", fl["lower_bounds"].get(fid[c])),
                sv_decode("long", fl["upper_bounds"].get(fid[c])),
                fl["null_value_counts"].get(fid[c]),
            )
        )
        for fl in ice.data_files()
    ]
    stats = [
        sorted(s, key=repr) for s in (snap_stats, delta_stats, ice_stats)
    ]
    return stats, (snap, delta, ice)


def test_formats_record_and_skip_alike(spark, root):
    stats, tables = _recorded_stats(spark, root, _frame(spark))
    assert stats[0] == stats[1] == stats[2]
    assert stats[0] == sorted(
        [
            (100, 0, 99, 0, 0, 297, 0),
            # all-null v: no bounds, so no predicate on v skips the file
            (100, 100, 199, 0, None, None, 100),
            (50, 200, 249, 0, 600, 744, 25),
        ],
        key=repr,
    )
    for col, lo, hi, scanned in (
        ("v", 0, 50, 2),      # b=0 admits, all-null b=1 is unknown
        ("v", 700, 800, 2),   # b=2 admits, b=1 unknown
        ("k", 120, 130, 1),
    ):
        infos = [t.scan(col, lo, hi)[1] for t in tables]
        assert [i["files_scanned"] for i in infos] == [scanned] * 3, (
            col, lo, hi, infos,
        )
        counts = {t.scan(col, lo, hi)[0].count() for t in tables}
        assert len(counts) == 1


def test_formats_without_footer_statistics_scan_everything(spark, root):
    key = "parquet.column.statistics.enabled"
    spark.conf.set(key, "false")
    try:
        stats, tables = _recorded_stats(spark, root, _frame(spark))
    finally:
        spark.conf.unset(key)
    for per_format in stats:
        assert sorted(r[0] for r in per_format) == [50, 100, 100]
        assert {r[1:] for r in per_format} == {(None,) * 6}
    for t in tables:
        assert t.scan("k", 120, 130)[1]["files_scanned"] == 3


# -- schema and row-count caches ----------------------------------------------


def _jobs_of(spark, fn):
    sc = spark.sparkContext
    group = f"driver-metadata-{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_reuses_schema_and_reinfers_rewritten_table(spark, root):
    shutil.copy(f"{SF_DIR}/region.parquet", f"{root}/region.parquet")
    first = load_table(spark, root, "region")
    assert _jobs_of(spark, lambda: load_table(spark, root, "region")) == 0
    assert load_table(spark, root, "region").schema == first.schema

    tbl = pq.read_table(f"{root}/region.parquet")
    tbl = tbl.append_column("r_extra", pa.array(range(tbl.num_rows)))
    pq.write_table(tbl, f"{root}/region.parquet")
    again = load_table(spark, root, "region")
    assert again.columns == first.columns + ["r_extra"]
    assert again.agg(F.sum("r_extra")).head()[0] == sum(range(tbl.num_rows))


def test_table_num_rows_follows_a_rewritten_file(root):
    shutil.copy(f"{SF_DIR}/nation.parquet", f"{root}/nation.parquet")
    n = table_num_rows(root, "nation")
    assert n == pq.read_metadata(f"{SF_DIR}/nation.parquet").num_rows
    tbl = pq.read_table(f"{root}/nation.parquet").slice(0, 3)
    pq.write_table(tbl, f"{root}/nation.parquet")
    assert table_num_rows(root, "nation") == 3
