"""Snapshot table format (sources/snaptable.py): layout, time travel,
manifest-level skipping, CoW deletes, commit races, schema evolution,
and the streaming-maintenance twin (q458/q459's machinery)."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from luxo_rs_spark.sources import commit
from luxo_rs_spark.sources.snaptable import SnapTable


def _mk(spark, name, rows, bucket_div=100):
    df = spark.createDataFrame(
        [(k, f"s{k % 7}", k * 3) for k in rows], "k bigint, s string, v bigint"
    ).withColumn("b", F.expr(f"k div {bucket_div}"))
    return df


@pytest.fixture()
def root(tmp_path):
    path = str(tmp_path / "t")
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _race_on_claim(monkeypatch, op, racer):
    """Run ``racer()`` once, just before the first manifest claim of a
    commit whose operation is ``op``: the racer wins that version."""
    orig = commit.claim
    state = {"fired": False}

    def inject(path, text):
        if not state["fired"] and json.loads(text)["operation"] == op:
            state["fired"] = True
            racer()
        return orig(path, text)

    monkeypatch.setattr(commit, "claim", inject)


def test_create_layout_one_file_per_bucket_with_stats(spark, root):
    t = SnapTable(spark, root)
    v = t.create(_mk(spark, "t", range(250)), stat_cols=["k"], bucket_col="b")
    assert v == 1
    m = t.manifest()
    # buckets 0,1,2 -> exactly 3 files, each with tight k stats
    assert len(m["files"]) == 3
    stats = sorted(
        (e["stats"]["k"]["min"], e["stats"]["k"]["max"], e["rows"])
        for e in m["files"]
    )
    assert stats == [(0, 99, 100), (100, 199, 100), (200, 249, 50)]
    got = t.read().orderBy("k").collect()
    assert [r["k"] for r in got] == list(range(250))


def test_time_travel_versions_are_immutable(spark, root):
    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(100)), stat_cols=["k"], bucket_col="b")
    t.append(_mk(spark, "t", range(100, 150)), bucket_col="b")
    t.delete_where("k", 0, 49)
    assert t.versions() == [1, 2, 3]
    assert t.read(1).count() == 100
    assert t.read(2).count() == 150
    assert t.read(3).count() == 100
    assert set(r["k"] for r in t.read(3).collect()) == set(range(50, 150))
    # v1's file list is untouched by the later delete
    assert t.manifest(1)["files"] == [
        e for e in t.manifest(2)["files"] if e["path"].startswith("data/v0000000" "1")
    ]


def test_scan_prunes_files_before_spark_sees_them(spark, root):
    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(500)), stat_cols=["k"], bucket_col="b")
    df, info = t.scan("k", 120, 260)
    assert info["files_total"] == 5
    assert info["files_scanned"] == 2  # buckets 1 and 2 only
    assert info["rows_skipped"] == 300
    # Spark's plan truly received only the surviving files
    assert len(df.inputFiles()) == 2
    assert df.count() == 141
    # predicate still applied to surviving rows (stats are necessary,
    # not sufficient)
    assert df.agg(F.min("k"), F.max("k")).first() == (120, 260)


def test_delete_where_carries_clean_files_untouched(spark, root):
    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(500)), stat_cols=["k"], bucket_col="b")
    before = {e["path"] for e in t.manifest()["files"]}
    t.delete_where("k", 150, 249)  # touches buckets 1 and 2 only
    m = t.manifest()
    carried = {e["path"] for e in m["files"]} & before
    # buckets 0, 3, 4 carried over byte-identically (same entries)
    assert len(carried) == 3
    assert t.read().count() == 400
    assert set(r["k"] for r in t.read().collect()) == (
        set(range(500)) - set(range(150, 250))
    )


def test_delete_where_fully_pruned_is_metadata_only(spark, root):
    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(200)), stat_cols=["k"], bucket_col="b")
    before = {e["path"] for e in t.manifest()["files"]}
    t.delete_where("k", 5000, 6000)  # no file admits a match
    m = t.manifest()
    assert {e["path"] for e in m["files"]} == before  # zero rewrites
    assert m["operation"] == "delete"
    assert t.read().count() == 200


def test_compact_is_logically_identical(spark, root):
    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(500)), stat_cols=["k"], bucket_col="b")
    fp_before = t.read().agg(F.sum("k"), F.sum("v"), F.count("*")).first()
    t.compact(n_out=2)
    m = t.manifest()
    assert m["operation"] == "compact"
    assert len(m["files"]) <= 2
    assert t.read().agg(F.sum("k"), F.sum("v"), F.count("*")).first() == fp_before
    # the pre-compaction snapshot still reads its 5 original files
    assert len(t.read(1).inputFiles()) == 5


def test_commit_race_loser_rebases_and_retries(spark, root, monkeypatch):
    """Inject a racer BETWEEN the loser's version pick and its manifest
    create: the exclusive-create fails, the loser re-reads the latest
    snapshot, rebases its carry list, and lands on the next version."""
    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(100)), stat_cols=["k"], bucket_col="b")

    racer_df = _mk(spark, "t", range(1000, 1030))

    def racer():
        # a second writer wins version 2 first
        r = SnapTable(spark, root)
        assert r._commit_new_files(
            racer_df, ["k"], "b", op="append", carry=r.manifest()["files"],
        ) == 2

    _race_on_claim(monkeypatch, "append", racer)
    v = t.append(_mk(spark, "t", range(100, 120)), bucket_col="b")
    assert v == 3  # lost version 2, rebased, landed on 3
    # both writers' rows are present: appends commute
    assert t.read(3).count() == 100 + 30 + 20
    ks = set(r["k"] for r in t.read(3).collect())
    assert ks == set(range(100)) | set(range(1000, 1030)) | set(range(100, 120))


def test_schema_evolution_add_column(spark, root):
    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(50)), stat_cols=["k"], bucket_col="b")
    extra = _mk(spark, "t", range(50, 80)).withColumn(
        "lang", F.concat(F.lit("en-"), F.col("k"))
    )
    t.append(extra, bucket_col="b")
    df = t.read()
    assert "lang" in df.columns
    got = df.groupBy(F.col("lang").isNull().alias("is_null")).count().collect()
    assert {(r["is_null"], r["count"]) for r in got} == {(True, 50), (False, 30)}
    # old version's schema is unchanged
    assert "lang" not in t.read(1).columns


def test_manifest_is_timestamp_free_and_deterministic(spark, root):
    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(100)), stat_cols=["k", "v"], bucket_col="b")
    raw = open(os.path.join(root, "_snapshots", "v00000001.json")).read()
    m = json.loads(raw)
    assert set(m) == {
        "version", "parent", "operation", "schema", "fields", "retired",
        "stat_cols", "bloom_cols", "constraints", "files", "txns",
    }
    # rebuilding the same table yields the identical manifest up to the
    # writer-unique file tokens (stats, rows, bytes, schema all equal)
    other = os.path.join(os.path.dirname(root), "t2")
    shutil.rmtree(other, ignore_errors=True)
    try:
        t2 = SnapTable(spark, other)
        t2.create(
            _mk(spark, "t", range(100)), stat_cols=["k", "v"], bucket_col="b"
        )
        m2 = t2.manifest(1)

        def normalize(man):
            man = dict(man)
            man["files"] = [
                {kk: vv for kk, vv in e.items() if kk != "path"}
                for e in man["files"]
            ]
            return man

        assert normalize(m) == normalize(m2)
    finally:
        shutil.rmtree(other, ignore_errors=True)


def test_streaming_maintenance_equals_batch(spark, root):
    """foreachBatch appends each micro-batch as a snapshot; the final
    table equals a single batch write (the Delta streaming-sink twin)."""
    import tempfile

    src_dir = tempfile.mkdtemp(prefix="snap_stream_src_")
    ckpt = tempfile.mkdtemp(prefix="snap_stream_ckpt_")
    try:
        full = _mk(spark, "t", range(300))
        t = SnapTable(spark, root)
        t.create(full.filter("k < 0"), stat_cols=["k"], bucket_col=None)

        # three source files -> three micro-batches (maxFilesPerTrigger=1)
        import glob as _glob

        for i, (lo, hi) in enumerate([(0, 100), (100, 200), (200, 300)]):
            staged = os.path.join(src_dir, f"_w{i}")
            full.filter((F.col("k") >= lo) & (F.col("k") < hi)).coalesce(
                1
            ).write.mode("overwrite").parquet(staged)
            part = _glob.glob(os.path.join(staged, "*.parquet"))[0]
            os.replace(part, os.path.join(src_dir, f"f{i}.parquet"))
            shutil.rmtree(staged)

        stream = (
            spark.readStream.schema("k bigint, s string, v bigint, b bigint")
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )

        def sink(batch_df, batch_id):
            if batch_df.isEmpty():
                return
            t.append(batch_df, bucket_col="b")

        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = t.read().orderBy("k").collect()
        want = full.orderBy("k").collect()
        assert got == want
        assert t.latest_version() >= 2  # at least one real append landed
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_merge_upserts_and_prunes_rewrite_set(spark, root):
    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(500)), stat_cols=["k"], bucket_col="b")
    before = {e["path"] for e in t.manifest()["files"]}
    # updates hit keys 150..249 (buckets 1, 2); inserts add 600..619
    src = _mk(spark, "t", list(range(150, 250)) + list(range(600, 620)))
    src = src.withColumn("v", F.col("v") + 1000000)
    t.merge(src, "k")
    m = t.manifest()
    assert m["operation"] == "merge"
    # buckets 0, 3, 4 carried untouched... but insert range extends the
    # key span, so only files FULLY OUTSIDE [150, 619] are carried: 0.
    carried = {e["path"] for e in m["files"]} & before
    assert len(carried) == 1
    got = t.read()
    assert got.count() == 520
    # updated rows carry the new v; untouched rows the old
    assert got.filter("k = 200").first()["v"] == 200 * 3 + 1000000
    assert got.filter("k = 100").first()["v"] == 300
    assert got.filter("k = 610").first()["v"] == 610 * 3 + 1000000


def test_merge_empty_source_is_metadata_only(spark, root):
    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(100)), stat_cols=["k"], bucket_col="b")
    before = {e["path"] for e in t.manifest()["files"]}
    t.merge(_mk(spark, "t", []), "k")
    assert {e["path"] for e in t.manifest()["files"]} == before
    assert t.manifest()["operation"] == "merge"


def test_changes_appends_and_cow_deletes(spark, root):
    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(100)), stat_cols=["k"], bucket_col="b")
    t.append(_mk(spark, "t", range(100, 150)), bucket_col="b")
    t.delete_where("k", 20, 39)
    # 1 -> 2: pure append, inserts only
    ch = t.changes(1, 2).groupBy("change_type").count().collect()
    assert {(r["change_type"], r["count"]) for r in ch} == {("insert", 50)}
    # 2 -> 3: CoW delete, deletes only
    ch = t.changes(2, 3)
    assert set(r["k"] for r in ch.filter("change_type = 'delete'").collect()) == set(
        range(20, 40)
    )
    assert ch.filter("change_type = 'insert'").count() == 0
    # identical versions cancel at the manifest level (no files read)
    empty = t.changes(2, 2)
    assert len(empty.inputFiles()) == 0 and empty.count() == 0


def test_changes_across_compaction_nets_to_zero(spark, root):
    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(300)), stat_cols=["k"], bucket_col="b")
    t.compact(n_out=1)
    assert t.changes(1, 2).count() == 0


def test_bloom_point_lookup_prunes_unclustered_column(spark, root):
    """min/max is useless for a column the layout isn't clustered by;
    the manifest bloom prunes those files for equality lookups, and
    false negatives are impossible."""
    t = SnapTable(spark, root)
    # s = f"s{k % 7}": every bucket holds all 7 values of s — but a
    # needle OUTSIDE the drawn set is provably absent everywhere, and
    # a synthetic column with per-bucket locality prunes hard.
    df = _mk(spark, "t", range(500)).withColumn(
        "tag", F.concat(F.lit("tag-"), F.expr("k div 100"))
    )
    t.create(df, stat_cols=["k"], bucket_col="b", bloom_cols=["tag"])
    m = t.manifest()
    assert all(f"bloom:tag" in e["stats"] for e in m["files"])
    got, info = t.scan_point("tag", "tag-2")
    assert info["files_total"] == 5
    # 'tag-2' lives only in bucket 2; blooms of the other four files
    # may false-positive but never false-negative
    assert 1 <= info["files_scanned"] <= 2
    assert len(got.inputFiles()) == info["files_scanned"]
    assert got.count() == 100
    # absent needle: every file may be bloom-skipped
    got2, info2 = t.scan_point("tag", "tag-99")
    assert got2.count() == 0
    assert info2["files_scanned"] <= 1  # at most an FP file


def test_bloom_survives_append_and_merge(spark, root):
    t = SnapTable(spark, root)
    df = _mk(spark, "t", range(200)).withColumn(
        "tag", F.concat(F.lit("tag-"), F.expr("k div 100"))
    )
    t.create(df, stat_cols=["k"], bucket_col="b", bloom_cols=["tag"])
    extra = _mk(spark, "t", range(200, 300)).withColumn(
        "tag", F.lit("tag-app")
    )
    t.append(extra, bucket_col="b")
    assert all(
        "bloom:tag" in e["stats"] for e in t.manifest()["files"]
    )
    got, info = t.scan_point("tag", "tag-app")
    assert got.count() == 100 and info["files_scanned"] >= 1


def test_vacuum_drops_unreferenced_files_and_old_versions(spark, root):
    import glob

    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(300)), stat_cols=["k"], bucket_col="b")
    t.append(_mk(spark, "t", range(300, 400)), bucket_col="b")
    t.compact(n_out=1)
    files_before = len(glob.glob(os.path.join(root, "data", "*.parquet")))
    assert files_before > 1
    res = t.vacuum(retain_versions=1)
    assert res["removed_manifests"] == 2
    assert res["removed_files"] == files_before - len(
        t.manifest()["files"]
    )
    # latest version reads fine; vacuumed history is gone
    assert t.read().count() == 400
    assert t.versions() == [3]
    with pytest.raises(FileNotFoundError):
        t.manifest(1)


def test_snaptable_datasource_batch_and_time_travel(spark, root):
    from luxo_rs_spark.sources.snapsource import register

    register(spark)
    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(200)), stat_cols=["k"], bucket_col="b")
    t.append(_mk(spark, "t", range(200, 260)), bucket_col="b")
    df = spark.read.format("snaptable").load(root)
    assert df.count() == 260
    assert df.orderBy("k").collect() == t.read().orderBy("k").collect()
    v1 = spark.read.format("snaptable").option("version", 1).load(root)
    assert v1.count() == 200


def test_snaptable_datasource_pushdown_prunes_partitions(spark, root):
    from luxo_rs_spark.sources.snapsource import register

    register(spark)
    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(500)), stat_cols=["k"], bucket_col="b")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        df = (
            spark.read.format("snaptable")
            .option("pushdown", "true")
            .load(root)
            .filter("k >= 120 and k <= 260")
        )
        rows = df.collect()
        assert len(rows) == 141
        assert {r["k"] for r in rows} == set(range(120, 261))
        # the pruned plan runs 2 of 5 file partitions (buckets 1, 2)
        n_parts = df.rdd.getNumPartitions()
        assert n_parts == 2
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")


def test_snaptable_datasource_streaming_tails_versions(spark, root):
    """The streaming face: offset = snapshot version; each append
    becomes a micro-batch; restart-resume from the checkpoint."""
    import tempfile

    from luxo_rs_spark.sources.snapsource import register

    register(spark)
    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(100)), stat_cols=["k"], bucket_col="b")

    out = tempfile.mkdtemp(prefix="snapsrc_out_")
    ckpt = tempfile.mkdtemp(prefix="snapsrc_ck_")
    try:
        def run_once():
            q = (
                spark.readStream.format("snaptable")
                .load(root)
                .writeStream.format("parquet")
                .outputMode("append")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        for _ in range(4):
            run_once()
            if spark.read.parquet(out).count() >= 100:
                break
        assert spark.read.parquet(out).count() == 100
        # appends become the next micro-batches after restart
        t.append(_mk(spark, "t", range(100, 150)), bucket_col="b")
        t.append(_mk(spark, "t", range(150, 170)), bucket_col="b")
        for _ in range(4):
            run_once()
            if spark.read.parquet(out).count() >= 170:
                break
        got = spark.read.parquet(out).orderBy("k").collect()
        want = t.read().orderBy("k").collect()
        assert got == want
    finally:
        import shutil as _sh

        _sh.rmtree(out, ignore_errors=True)
        _sh.rmtree(ckpt, ignore_errors=True)


def test_sorted_compaction_restores_pruning(spark, root):
    """OPTIMIZE: an unclustered layout (bucket = k % 5 puts the full
    key range in every file) defeats min/max skipping; a sorted
    compaction re-clusters and scan() prunes again."""
    t = SnapTable(spark, root)
    df = _mk(spark, "t", range(500)).withColumn("b", F.expr("k % 5"))
    t.create(df, stat_cols=["k"], bucket_col="b")
    _, info = t.scan("k", 100, 150)
    assert info["files_scanned"] == info["files_total"] == 5  # no help
    t.compact(n_out=5, sort_cols=["k"])
    scanned, info2 = t.scan("k", 100, 150)
    assert info2["files_total"] >= 2
    assert info2["files_scanned"] < info2["files_total"]
    assert scanned.count() == 51
    assert t.read().count() == 500  # logically identical


def test_streaming_merge_equals_batch_merge(spark, root):
    """CDC-apply twin: foreachBatch MERGEs each micro-batch of upserts;
    the final table equals one batch merge of the union."""
    import glob as _glob
    import tempfile

    t = SnapTable(spark, root)
    base = _mk(spark, "t", range(200))
    t.create(base, stat_cols=["k"], bucket_col="b")

    # upsert stream: batch0 updates keys 50-99 (v += 1e6), batch1
    # inserts keys 200-249
    up0 = _mk(spark, "t", range(50, 100)).withColumn(
        "v", F.col("v") + 1000000
    )
    up1 = _mk(spark, "t", range(200, 250))

    src_dir = tempfile.mkdtemp(prefix="snap_merge_src_")
    ckpt = tempfile.mkdtemp(prefix="snap_merge_ck_")
    try:
        for i, df in enumerate((up0, up1)):
            staged = os.path.join(src_dir, f"_w{i}")
            df.coalesce(1).write.mode("overwrite").parquet(staged)
            part = _glob.glob(os.path.join(staged, "*.parquet"))[0]
            os.replace(part, os.path.join(src_dir, f"f{i}.parquet"))
            shutil.rmtree(staged)

        stream = (
            spark.readStream.schema("k bigint, s string, v bigint, b bigint")
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )

        def sink(batch_df, batch_id):
            if not batch_df.isEmpty():
                t.merge(batch_df, "k")

        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        # batch twin on a second table
        other = os.path.join(os.path.dirname(root), "t_batch")
        shutil.rmtree(other, ignore_errors=True)
        tb = SnapTable(spark, other)
        tb.create(base, stat_cols=["k"], bucket_col="b")
        tb.merge(up0.unionByName(up1), "k")
        try:
            got = t.read().orderBy("k").collect()
            want = tb.read().orderBy("k").collect()
            assert got == want
            assert t.read().count() == 250
            assert t.read().filter("k = 75").first()["v"] == 75 * 3 + 1000000
        finally:
            shutil.rmtree(other, ignore_errors=True)
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_check_constraints_gate_writes(spark, root):
    """Delta-style CHECK constraints: committed as metadata, enforced
    on every subsequent data commit; a violating write is refused
    BEFORE anything reaches disk, and a constraint the existing data
    violates cannot be added."""
    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(100)), stat_cols=["k"], bucket_col="b")
    t.add_constraint("nonneg_v", "v >= 0 AND v IS NOT NULL")
    assert t.manifest()["operation"] == "add_constraint"
    # clean append passes and the constraint carries forward
    t.append(_mk(spark, "t", range(100, 120)), bucket_col="b")
    assert t.manifest()["constraints"] == {
        "nonneg_v": "v >= 0 AND v IS NOT NULL"
    }
    # violating append refused, table unchanged
    bad = _mk(spark, "t", range(200, 210)).withColumn(
        "v", F.col("v") - 10000
    )
    before = t.latest_version()
    with pytest.raises(ValueError, match="nonneg_v"):
        t.append(bad, bucket_col="b")
    assert t.latest_version() == before
    assert t.read().count() == 120
    # a constraint the current data violates cannot be added
    with pytest.raises(ValueError, match="existing rows"):
        t.add_constraint("impossible", "k < 50")


def test_snaptable_datasource_change_feed(spark, root):
    """readChangeFeed streaming: micro-batches carry row-level diffs
    tagged insert/delete; a CoW delete surfaces its removed rows."""
    import tempfile

    from luxo_rs_spark.sources.snapsource import register

    register(spark)
    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(100)), stat_cols=["k"], bucket_col="b")

    out = tempfile.mkdtemp(prefix="snapcdf_out_")
    ckpt = tempfile.mkdtemp(prefix="snapcdf_ck_")
    try:
        def run_once():
            q = (
                spark.readStream.format("snaptable")
                .option("readChangeFeed", "true")
                .load(root)
                .writeStream.format("parquet")
                .outputMode("append")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        for _ in range(4):
            run_once()
            if spark.read.parquet(out).count() >= 100:
                break
        feed = spark.read.parquet(out)
        assert feed.count() == 100
        assert feed.filter("change_type = 'insert'").count() == 100

        t.delete_where("k", 20, 39)
        for _ in range(4):
            run_once()
            if spark.read.parquet(out).count() >= 120:
                break
        feed = spark.read.parquet(out)
        dels = feed.filter("change_type = 'delete'")
        assert set(r["k"] for r in dels.collect()) == set(range(20, 40))
        # replaying the whole feed reconstructs the table: inserts
        # minus deletes == current contents
        ins = set(
            r["k"] for r in feed.filter("change_type = 'insert'").collect()
        )
        cur = set(r["k"] for r in t.read().collect())
        assert ins - set(r["k"] for r in dels.collect()) == cur

        # a deletion-vector delete surfaces exactly its rows: the file
        # is listed on both sides of the diff with its two DV states
        t.delete_where("k", 60, 79, mode="dv")
        for _ in range(4):
            run_once()
            if spark.read.parquet(out).filter(
                "change_type = 'delete'"
            ).count() >= 40:
                break
        feed = spark.read.parquet(out)
        dels = feed.filter("change_type = 'delete'")
        assert sorted(r["k"] for r in dels.collect()) == (
            list(range(20, 40)) + list(range(60, 80))
        )
        assert feed.filter("change_type = 'insert'").count() == 100
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_corrupted_manifest_and_missing_file_fail_loudly(spark, root):
    """Resilience contract: damage is DETECTED, never silently read
    around — a truncated manifest raises a parse error, a manifest for
    a version that was never committed raises FileNotFoundError, and a
    referenced-but-deleted data file fails the read (Spark surfaces
    the missing path) while OTHER versions stay readable."""
    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(100)), stat_cols=["k"], bucket_col="b")
    t.append(_mk(spark, "t", range(100, 150)), bucket_col="b")

    with pytest.raises(FileNotFoundError):
        t.manifest(9)

    # truncate v2's manifest: reading v2 must raise, v1 must still work
    p2 = os.path.join(root, "_snapshots", "v00000002.json")
    raw = open(p2).read()
    open(p2, "w").write(raw[: len(raw) // 2])
    with pytest.raises(json.JSONDecodeError):
        t.manifest(2)
    assert t.read(1).count() == 100
    open(p2, "w").write(raw)  # restore

    # delete a v2-only data file: v2 read fails loudly, v1 unaffected
    v1_paths = {e["path"] for e in t.manifest(1)["files"]}
    victim = next(
        e["path"] for e in t.manifest(2)["files"] if e["path"] not in v1_paths
    )
    os.remove(os.path.join(root, victim))
    with pytest.raises(Exception, match="[Pp]ath does not exist|FileNotFound"):
        t.read(2).count()
    assert t.read(1).count() == 100


def test_non_append_commit_race_raises_no_lost_update(
    spark, root, monkeypatch
):
    """A delete_where that loses the commit race must NOT silently
    retry with its stale carry list (that would drop the racer's
    committed files — a lost update). It raises ConcurrentCommitError;
    a re-issued delete then sees the racer's rows and succeeds."""
    from luxo_rs_spark.sources.snaptable import ConcurrentCommitError

    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(300)), stat_cols=["k"], bucket_col="b")

    racer_df = _mk(spark, "t", range(1000, 1020))
    _race_on_claim(
        monkeypatch, "delete",
        lambda: SnapTable(spark, root).append(racer_df, bucket_col="b"),
    )
    with pytest.raises(ConcurrentCommitError):
        t.delete_where("k", 0, 99)
    # the racer's append is intact — nothing was lost
    assert t.read().count() == 300 + 20
    # and no orphaned half-commit files poison the data dir: a re-read
    # + re-issued delete succeeds and sees BOTH writers' rows
    t.delete_where("k", 0, 99)
    ks = set(r["k"] for r in t.read().collect())
    assert ks == set(range(100, 300)) | set(range(1000, 1020))


def test_metadata_only_commit_race_raises(spark, root, monkeypatch):
    """The fully-pruned (metadata-only) delete path has the same stale
    carry-list hazard: it must raise on a lost race, not retry."""
    from luxo_rs_spark.sources.snaptable import ConcurrentCommitError

    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(100)), stat_cols=["k"], bucket_col="b")

    racer_df = _mk(spark, "t", range(1000, 1010))
    _race_on_claim(
        monkeypatch, "delete",
        lambda: SnapTable(spark, root).append(racer_df, bucket_col="b"),
    )
    # k in [5000, 6000] matches nothing -> fully pruned, metadata-only
    with pytest.raises(ConcurrentCommitError):
        t.delete_where("k", 5000, 6000)
    assert t.read().count() == 110  # racer's rows intact


def test_vacuum_spares_in_flight_commit_files(spark, root):
    """Files renamed into data/ by a not-yet-committed writer are named
    v{target} with target > latest snapshot; vacuum must skip them or a
    concurrent commit could land a manifest referencing deleted files."""
    import glob

    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(100)), stat_cols=["k"], bucket_col="b")
    t.compact(n_out=1)  # leaves v1's files unreferenced by latest

    # simulate an in-flight commit targeting version 3 (> latest 2)
    some_parquet = glob.glob(os.path.join(root, "data", "*.parquet"))[0]
    inflight = os.path.join(root, "data", "v00000003-00000-feed.parquet")
    shutil.copy(some_parquet, inflight)

    res = t.vacuum(retain_versions=1)
    assert os.path.exists(inflight)  # spared
    assert res["removed_files"] > 0  # v1's dead files still collected
    assert t.read().count() == 100


def test_explicit_version_zero_raises(spark, root):
    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(10)), stat_cols=["k"], bucket_col="b")
    with pytest.raises(FileNotFoundError):
        t.manifest(0)
    with pytest.raises(FileNotFoundError):
        t.read(0)
    with pytest.raises(FileNotFoundError):
        t.scan("k", 0, 5, version=0)


def test_change_feed_handles_array_and_map_columns(spark, root):
    """pyarrow to_pylist() yields lists/dicts for complex columns —
    unhashable; the shared change feed (readpath.ChangeFeedReader)
    freezes them for the diff multiset and thaws on emit."""
    from luxo_rs_spark.sources.snapsource import SnapTableDataSource

    t = SnapTable(spark, root)
    df = spark.createDataFrame(
        [(k, [k, k + 1], {"a": k}) for k in range(20)],
        "k bigint, arr array<bigint>, mp map<string,bigint>",
    ).withColumn("b", F.expr("k div 10"))
    t.create(df, stat_cols=["k"], bucket_col="b")
    t.delete_where("k", 0, 4)

    from pyspark.sql import types as T

    schema = T.StructType.fromDDL(
        "change_type string, " + t.manifest()["schema"]
    )
    rdr = SnapTableDataSource({"path": root}).simpleStreamReader(schema)
    rows = list(rdr._diff_rows(1, 2))
    dels = [r for r in rows if r[0] == "delete"]
    assert sorted(r[1] for r in dels) == [0, 1, 2, 3, 4]
    # complex values round-trip through freeze/thaw (pyarrow renders
    # map cells as list-of-(key, value) tuples)
    r0 = next(r for r in dels if r[1] == 0)
    assert r0[2] == [0, 1] and list(r0[3]) == [("a", 0)]


# -- columnar manifest checkpoints (the 100 TB metadata plane) ----------------


def test_columnar_checkpoint_lifecycle_matches_inline(spark, root):
    """With checkpoint_threshold=1 every manifest is a parquet
    checkpoint; the whole lifecycle (create/append/delete/merge/
    compact/time-travel/CDC) must behave identically to the inline-JSON
    representation."""
    t = SnapTable(spark, root, checkpoint_threshold=1)
    t.create(_mk(spark, "t", range(250)), stat_cols=["k"], bucket_col="b")
    m = t.manifest()
    assert "files" not in m and m["num_files"] == 3
    assert m["files_ckpt"].endswith(".files.parquet")
    assert os.path.exists(os.path.join(root, m["files_ckpt"]))

    # reads + pruning off the checkpoint's typed columns
    assert t.read().count() == 250
    df, info = t.scan("k", 120, 260)
    assert info == {"files_total": 3, "files_scanned": 2, "rows_skipped": 100}
    assert len(df.inputFiles()) == 2 and df.count() == 130
    # either end may be open (the DataSource pushdown's one-sided bounds)
    assert len(t._prune_range(m, "k", 120, None)[0]) == 2
    assert len(t._prune_range(m, "k", None, 99)[0]) == 1

    # append carries the checkpoint table through (still columnar)
    t.append(_mk(spark, "t", range(250, 300)), bucket_col="b")
    m2 = t.manifest()
    assert "files" not in m2 and m2["num_files"] == 4
    assert t.read().count() == 300

    # CoW delete partitions carry/rewrite off the typed stat columns
    t.delete_where("k", 0, 99)
    assert set(r["k"] for r in t.read().collect()) == set(range(100, 300))
    # merge and compact
    src = spark.createDataFrame(
        [(150, "up", -1, 1), (9000, "new", -2, 90)], "k bigint, s string, v bigint, b bigint"
    )
    t.merge(src, "k")
    got = {r["k"]: r["s"] for r in t.read().collect()}
    assert got[150] == "up" and got[9000] == "new" and len(got) == 201
    t.compact(n_out=2)
    assert t.manifest()["num_files"] <= 2
    assert t.read().count() == 201

    # time travel across representations + CDC
    assert t.read(1).count() == 250
    ch = t.changes(2, 3)
    assert ch.filter("change_type = 'delete'").count() == 100


def test_inline_flips_to_columnar_at_threshold(spark, root):
    """An inline table whose file count crosses the threshold flips to
    a checkpointed manifest (and stays columnar thereafter)."""
    t = SnapTable(spark, root, checkpoint_threshold=5)
    t.create(_mk(spark, "t", range(300)), stat_cols=["k"], bucket_col="b")
    assert "files" in t.manifest()  # 3 files: inline
    t.append(_mk(spark, "t", range(300, 500)), bucket_col="b")
    m = t.manifest()  # 3 + 2 = 5 files: crosses threshold
    assert "files" not in m and m["num_files"] == 5
    # sticky: a delete that shrinks below threshold stays columnar
    t.delete_where("k", 0, 299)
    assert "files_ckpt" in t.manifest()
    assert t.read().count() == 200
    # inline history still reads
    assert t.read(1).count() == 300


def test_scan_planned_spark_job_matches_driver_scan(spark, root):
    t = SnapTable(spark, root, checkpoint_threshold=1)
    t.create(_mk(spark, "t", range(500)), stat_cols=["k"], bucket_col="b")
    d_df, d_info = t.scan("k", 120, 260)
    s_df, s_info = t.scan_planned("k", 120, 260)
    assert s_info == d_info
    assert sorted(r["k"] for r in s_df.collect()) == sorted(
        r["k"] for r in d_df.collect()
    )
    # a column with no stats: both paths scan everything
    _, i2 = t.scan_planned("v", 0, 10)
    assert i2["files_scanned"] == i2["files_total"] == 5


def test_files_df_is_the_manifest_as_a_relation(spark, root):
    t = SnapTable(spark, root, checkpoint_threshold=1)
    t.create(_mk(spark, "t", range(200)), stat_cols=["k"], bucket_col="b")
    fdf = t.files_df()
    assert {"path", "rows", "bytes", "stats_json", "min__k", "max__k"} <= set(
        fdf.columns
    )
    rows = {r["path"]: r for r in fdf.collect()}
    assert len(rows) == 2
    assert sorted(
        (r["min__k"], r["max__k"], r["rows"]) for r in rows.values()
    ) == [(0, 99, 100), (100, 199, 100)]


def test_columnar_bloom_point_pruning(spark, root):
    t = SnapTable(spark, root, checkpoint_threshold=1)
    df = _mk(spark, "t", range(300)).withColumn(
        "tag", F.concat(F.lit("tag-"), F.expr("k div 100"))
    )
    t.create(df, stat_cols=["k"], bucket_col="b", bloom_cols=["tag"])
    got, info = t.scan_point("tag", "tag-2")
    assert got.count() == 100
    assert info["files_total"] == 3 and info["files_scanned"] < 3
    # append preserves blooms through the columnar carry
    t.append(df.filter("k < 10").withColumn("tag", F.lit("tag-x")),
             bucket_col="b")
    got2, info2 = t.scan_point("tag", "tag-x")
    assert got2.count() == 10 and info2["files_total"] == 4


def test_columnar_append_race_rebases_and_cleans_side_file(
    spark, root, monkeypatch
):
    """A columnar append that loses the race must retry AND leave no
    stale side-file at the lost version (vacuum treats leftovers as
    orphans anyway — belt and braces)."""
    t = SnapTable(spark, root, checkpoint_threshold=1)
    t.create(_mk(spark, "t", range(100)), stat_cols=["k"], bucket_col="b")

    _race_on_claim(
        monkeypatch, "append",
        lambda: SnapTable(spark, root, checkpoint_threshold=1).append(
            _mk(spark, "t", range(500, 520)), bucket_col="b"
        ),
    )
    v = t.append(_mk(spark, "t", range(100, 140)), bucket_col="b")
    assert v == 3
    assert t.read().count() == 160
    # exactly one side-file per landed version, none orphaned
    side = sorted(
        f for f in os.listdir(os.path.join(root, "_snapshots"))
        if f.endswith(".files.parquet")
    )
    referenced = {
        os.path.basename(t.manifest(x)["files_ckpt"]) for x in (1, 2, 3)
    }
    assert set(side) == referenced


# -- column mapping: metadata-only rename / drop / re-add / widen -------------


def test_rename_column_is_metadata_only_and_time_travels(spark, root):
    import glob

    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(100)), stat_cols=["k"], bucket_col="b")
    files_before = sorted(glob.glob(os.path.join(root, "data", "*.parquet")))
    t.rename_column("v", "value")
    # zero data files touched
    assert sorted(glob.glob(os.path.join(root, "data", "*.parquet"))) == files_before
    assert t.manifest()["operation"] == "rename_column"
    df = t.read()
    assert "value" in df.columns and "v" not in df.columns
    assert df.agg(F.sum("value")).first()[0] == sum(k * 3 for k in range(100))
    # time travel: the pre-rename version reads under ITS name
    assert "v" in t.read(1).columns and "value" not in t.read(1).columns
    # appends after the rename write the ORIGINAL physical name, so
    # old and new files read as one column
    t.append(
        t.read().limit(0).unionByName(
            _mk(spark, "t", range(100, 120)).withColumnRenamed("v", "value")
        ),
        bucket_col="b",
    )
    assert t.read().agg(F.count("value")).first()[0] == 120


def test_rename_keeps_data_skipping_on_stats(spark, root):
    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(500)), stat_cols=["k"], bucket_col="b")
    t.rename_column("k", "key")
    df, info = t.scan("key", 120, 260)
    assert info == {"files_total": 5, "files_scanned": 2, "rows_skipped": 300}
    assert df.count() == 141
    assert df.agg(F.min("key"), F.max("key")).first() == (120, 260)
    # delete through the renamed column still prunes carry files
    t.delete_where("key", 0, 99)
    assert t.read().count() == 400


def test_drop_and_readd_does_not_resurrect_old_values(spark, root):
    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(50)), stat_cols=["k"], bucket_col="b")
    t.drop_column("s")
    assert "s" not in t.read().columns
    assert "s" in t.read(1).columns  # time travel unaffected
    # re-add the same logical name: maps to a FRESH physical, so the
    # 50 old rows must surface NULL, never their old "s" strings
    readd = _mk(spark, "t", range(50, 70)).withColumn(
        "s", F.concat(F.lit("NEW-"), F.col("k"))
    )
    t.append(readd.select("k", "v", "b", "s"), bucket_col="b")
    got = t.read().select("k", "s").collect()
    by_k = {r["k"]: r["s"] for r in got}
    assert all(by_k[k] is None for k in range(50))
    assert all(by_k[k] == f"NEW-{k}" for k in range(50, 70))
    # the physical name on disk is suffixed (retired name not reused)
    fields = {f["name"]: f for f in t.manifest()["fields"]}
    assert fields["s"]["physical"] != "s"
    assert "s" in t.manifest()["retired"]


def test_widen_column_int_to_bigint_without_rewrite(spark, root):
    import glob

    t = SnapTable(spark, root)
    df = spark.createDataFrame(
        [(k, k * 10) for k in range(60)], "k int, v int"
    ).withColumn("b", F.expr("k div 30"))
    t.create(df, stat_cols=["k"], bucket_col="b")
    files_before = sorted(glob.glob(os.path.join(root, "data", "*.parquet")))
    t.widen_column("v", "bigint")
    assert sorted(glob.glob(os.path.join(root, "data", "*.parquet"))) == files_before
    out = t.read()
    assert dict(out.dtypes)["v"] == "bigint"
    # append values beyond int range: old int files + new long files
    # read as one bigint column
    big = spark.createDataFrame(
        [(100, 5_000_000_000), (101, 6_000_000_000)], "k int, v bigint"
    ).withColumn("b", F.lit(3))
    t.append(big, bucket_col="b")
    assert t.read().agg(F.max("v")).first()[0] == 6_000_000_000
    assert t.read().count() == 62
    # illegal narrowing refused
    with pytest.raises(ValueError):
        t.widen_column("v", "int")


def test_rename_guarded_by_constraints(spark, root):
    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(20)), stat_cols=["k"], bucket_col="b")
    t.add_constraint("k_nonneg", "k >= 0")
    with pytest.raises(ValueError, match="constraint"):
        t.rename_column("k", "key")
    with pytest.raises(ValueError, match="constraint"):
        t.drop_column("k")
    # unconstrained columns still rename fine
    t.rename_column("v", "val")
    assert "val" in t.read().columns


def test_column_mapping_through_datasource_and_cdf(spark, root):
    """The DataSource face resolves physical names too: batch reads,
    pushdown, and the change feed all work on a renamed table."""
    from luxo_rs_spark.sources.snapsource import register

    register(spark)
    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(100)), stat_cols=["k"], bucket_col="b")
    t.rename_column("k", "key")
    df = spark.read.format("snaptable").load(root)
    assert "key" in df.columns
    assert df.agg(F.sum("key")).first()[0] == sum(range(100))
    # columnar + renamed together
    t2root = root + "_ckpt"
    shutil.rmtree(t2root, ignore_errors=True)
    try:
        t2 = SnapTable(spark, t2root, checkpoint_threshold=1)
        t2.create(_mk(spark, "t", range(100)), stat_cols=["k"], bucket_col="b")
        t2.rename_column("k", "key")
        df2, info2 = t2.scan("key", 0, 49)
        assert df2.count() == 50 and info2["files_scanned"] == 1
    finally:
        shutil.rmtree(t2root, ignore_errors=True)


def test_zorder_optimize_restores_pruning_on_both_dimensions(spark, root):
    """OPTIMIZE ZORDER (k, c): before, the bucket-by-k layout prunes k
    probes but scans EVERY file for c probes; after, z-curve tiles keep
    both dimensions locally bounded so both probes skip files. The
    rewrite is logically identical and the z-cluster id never appears
    as a table column."""
    t = SnapTable(spark, root)
    # c deliberately anti-correlated with k so the k-bucketed layout is
    # worthless for c probes
    df = spark.createDataFrame(
        [(k, (k * 7919) % 1024, k * 3) for k in range(1024)],
        "k bigint, c bigint, v bigint",
    ).withColumn("b", F.expr("k div 128"))
    t.create(df.select("k", "c", "v", "b"), stat_cols=["k", "c"],
             bucket_col="b")
    fp = t.read().agg(F.sum("k"), F.sum("c"), F.sum("v"), F.count("*")).first()

    _, info_c_before = t.scan("c", 100, 163)
    assert info_c_before["files_scanned"] == info_c_before["files_total"] == 8

    t.compact(n_out=16, zorder_cols=("k", "c"))
    m = t.manifest()
    assert m["operation"] == "compact"
    assert set(t.read().columns) == {"k", "c", "v", "b"}  # no z residue
    assert t.read().agg(
        F.sum("k"), F.sum("c"), F.sum("v"), F.count("*")
    ).first() == fp

    _, info_c_after = t.scan("c", 100, 163)
    _, info_k_after = t.scan("k", 100, 163)
    # both dimensions now prune: a 1/16-width probe on either column
    # touches a strict subset of the files
    assert info_c_after["files_scanned"] < info_c_after["files_total"]
    assert info_k_after["files_scanned"] < info_k_after["files_total"]
    # and the probes still return exactly the right rows
    df_c, _ = t.scan("c", 100, 163)
    assert sorted(r["c"] for r in df_c.collect()) == sorted(
        (k * 7919) % 1024 for k in range(1024) if 100 <= (k * 7919) % 1024 <= 163
    )


# -- partitioned layout + composed pruning ------------------------------------


def test_partitioned_layout_and_composed_pruning(spark, root):
    """Hive-style partition column: one file per (partition, bucket),
    partition equality pruning composes with min/max range and Bloom
    membership in a single scan_where; new partition values appear on
    append with no registration step."""
    t = SnapTable(spark, root)
    df = spark.createDataFrame(
        [
            (k, ["eu", "us", "ap"][k % 3], f"tag-{k % 5}", k * 2)
            for k in range(300)
        ],
        "k bigint, region string, tag string, v bigint",
    ).withColumn("b", F.expr("k div 150"))
    t.create(
        df, stat_cols=["k"], bucket_col="b", bloom_cols=["tag"],
        partition_col="region",
    )
    m = t.manifest()
    assert m["partition_col"] == "region"
    # 3 partitions x 2 buckets = 6 files, each single-valued on region
    assert len(m["files"]) == 6
    assert all(
        e["stats"]["region"]["min"] == e["stats"]["region"]["max"]
        for e in m["files"]
    )

    # partition equality alone: reads exactly that partition's files
    dfp, info = t.scan_where([("region", "=", "eu")])
    assert info["files_scanned"] == 2 and info["files_total"] == 6
    assert dfp.count() == 100
    assert info["rows_skipped"] == 200

    # compose partition + range + bloom: intersection of all three
    dfc, infoc = t.scan_where(
        [("region", "=", "eu"), ("k", "between", 0, 149),
         ("tag", "bloom", "tag-0")]
    )
    assert infoc["files_scanned"] == 1
    got = sorted(r["k"] for r in dfc.collect())
    assert got == [k for k in range(0, 150) if k % 3 == 0 and k % 5 == 0]

    # partition evolution: append under a DIFFERENT partition column;
    # old files untouched, new files prune on the new column
    extra = spark.createDataFrame(
        [(k, "eu", f"tag-{k % 5}", k * 2) for k in range(1000, 1040)],
        "k bigint, region string, tag string, v bigint",
    ).withColumn("b", F.lit(9))
    t.append(extra, partition_col="tag")
    m2 = t.manifest()
    assert m2["partition_col"] == "tag"
    assert len(m2["files"]) == 6 + 5  # 5 new tag partitions
    dft, infot = t.scan_where([("tag", "=", "tag-1")])
    # old files lack single-valued tag stats -> min/max still prunes
    # SOME but bloom/plain row filter keeps correctness
    assert sorted(r["k"] for r in dft.collect()) == sorted(
        [k for k in range(300) if k % 5 == 1]
        + [k for k in range(1000, 1040) if k % 5 == 1]
    )
    # the new tag files are single-valued: exactly one new file kept
    new_kept = [
        p for p in dft.inputFiles() if "v00000002" in p
    ]
    assert len(new_kept) == 1


def test_partitioned_columnar_checkpoint(spark, root):
    """Partition pruning through the columnar checkpoint path."""
    t = SnapTable(spark, root, checkpoint_threshold=1)
    df = spark.createDataFrame(
        [(k, ["a", "b"][k % 2], k) for k in range(200)],
        "k bigint, p string, v bigint",
    ).withColumn("b", F.expr("k div 100"))
    t.create(df, stat_cols=["k"], bucket_col="b", partition_col="p")
    assert "files_ckpt" in t.manifest()
    dfp, info = t.scan_where([("p", "=", "a"), ("k", "between", 0, 99)])
    assert info["files_scanned"] == 1 and info["files_total"] == 4
    assert dfp.count() == 50
    assert info["rows_skipped"] == 150


def test_streaming_tail_survives_midstream_optimize(spark, root):
    """Round-9 verdict item 10: append -> tail -> OPTIMIZE -> append ->
    tail-resume with skipChangeCommits: the compaction commit is
    neither re-delivered nor a stall — every appended row arrives
    exactly once, with exact row accounting across the rewrite."""
    import tempfile

    from luxo_rs_spark.sources.snapsource import register

    register(spark)
    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(100)), stat_cols=["k"], bucket_col="b")

    out = tempfile.mkdtemp(prefix="snapskip_out_")
    ckpt = tempfile.mkdtemp(prefix="snapskip_ck_")
    try:
        def run_once():
            q = (
                spark.readStream.format("snaptable")
                .option("skipChangeCommits", "true")
                .load(root)
                .writeStream.format("parquet")
                .outputMode("append")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        for _ in range(4):
            run_once()
            if spark.read.parquet(out).count() >= 100:
                break
        assert spark.read.parquet(out).count() == 100

        # mid-stream: an append, then OPTIMIZE rewrites EVERYTHING,
        # then another append — all between two stream triggers
        t.append(_mk(spark, "t", range(100, 150)), bucket_col="b")
        t.compact(n_out=1)
        t.append(_mk(spark, "t", range(150, 170)), bucket_col="b")
        for _ in range(4):
            run_once()
            if spark.read.parquet(out).count() >= 170:
                break
        feed = spark.read.parquet(out)
        # exactly-once: 100 + 50 + 20, zero re-deliveries of the
        # compaction's rewritten files
        assert feed.count() == 170
        assert feed.select("k").distinct().count() == 170
        assert sorted(r["k"] for r in feed.collect()) == list(range(170))

        # one more compact + append + resume: still exact
        t.compact(n_out=2)
        t.append(_mk(spark, "t", range(170, 180)), bucket_col="b")
        for _ in range(4):
            run_once()
            if spark.read.parquet(out).count() >= 180:
                break
        assert sorted(
            r["k"] for r in spark.read.parquet(out).collect()
        ) == list(range(180))
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


@pytest.mark.parametrize("skip_change", ["false", "true"])
def test_new_stream_over_dv_deleted_table_delivers_live_rows(
    spark, root, skip_change
):
    """A stream started after a deletion-vector delete delivers exactly
    the table's live rows, plainly and under skipChangeCommits: the
    streamed files are read with their vectors."""
    import tempfile

    from luxo_rs_spark.sources.snapsource import register

    register(spark)
    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(100)), stat_cols=["k"], bucket_col="b")
    t.delete_where("k", 20, 39, mode="dv")

    out = tempfile.mkdtemp(prefix="snapdv_out_")
    ckpt = tempfile.mkdtemp(prefix="snapdv_ck_")
    try:
        q = (
            spark.readStream.format("snaptable")
            .option("skipChangeCommits", skip_change)
            .load(root)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.read.parquet(out).orderBy("k").collect()
        assert len(got) == 80
        assert got == t.read().orderBy("k").collect()
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_cdf_stream_nets_compaction_to_zero_midstream(spark, root):
    """The change feed across a compaction version emits NOTHING for
    the rewrite (multiset diff cancels) while real deletes around it
    still surface."""
    import tempfile

    from luxo_rs_spark.sources.snapsource import register

    register(spark)
    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(60)), stat_cols=["k"], bucket_col="b")

    out = tempfile.mkdtemp(prefix="snapcdfc_out_")
    ckpt = tempfile.mkdtemp(prefix="snapcdfc_ck_")
    try:
        def run_once():
            q = (
                spark.readStream.format("snaptable")
                .option("readChangeFeed", "true")
                .load(root)
                .writeStream.format("parquet")
                .outputMode("append")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        for _ in range(4):
            run_once()
            if spark.read.parquet(out).count() >= 60:
                break
        assert spark.read.parquet(out).count() == 60

        t.compact(n_out=1)          # pure rewrite: must net to zero
        t.delete_where("k", 0, 9)   # real change: 10 deletes
        for _ in range(4):
            run_once()
            if spark.read.parquet(out).filter(
                "change_type = 'delete'"
            ).count() >= 10:
                break
        feed = spark.read.parquet(out)
        assert feed.filter("change_type = 'insert'").count() == 60
        dels = feed.filter("change_type = 'delete'")
        assert sorted(r["k"] for r in dels.collect()) == list(range(10))
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


# -- deletion vectors (merge-on-read deletes) ----------------------------------


def test_deletion_vector_delete_rewrites_nothing(spark, root):
    import glob

    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(300)), stat_cols=["k"], bucket_col="b")
    data_before = sorted(
        f for f in glob.glob(os.path.join(root, "data", "*.parquet"))
        if "-dv-" not in f
    )
    v = t.delete_where("k", 50, 69, mode="dv")
    assert t.manifest(v)["operation"] == "delete_dv"
    # zero data files rewritten; exactly one DV side-file appeared
    assert sorted(
        f for f in glob.glob(os.path.join(root, "data", "*.parquet"))
        if "-dv-" not in f
    ) == data_before
    assert len(glob.glob(os.path.join(root, "data", "*-dv-*.parquet"))) == 1
    # reads apply the vector
    assert t.read().count() == 280
    assert set(r["k"] for r in t.read().collect()) == (
        set(range(300)) - set(range(50, 70))
    )
    # time travel unaffected
    assert t.read(1).count() == 300
    # only the stat-admitted file carries the vector
    m = t.manifest()
    dvd = [e for e in m["files"] if e.get("dv")]
    assert len(dvd) == 1 and dvd[0]["dv_rows"] == 20
    # scans compose with the vector
    df, _info = t.scan("k", 0, 99)
    assert sorted(r["k"] for r in df.collect()) == (
        list(range(50)) + list(range(70, 100))
    )


def test_deletion_vector_stacks_and_materializes_on_compact(spark, root):
    import glob

    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(200)), stat_cols=["k"], bucket_col="b")
    t.delete_where("k", 10, 19, mode="dv")
    t.delete_where("k", 15, 24, mode="dv")  # overlaps: no double count
    m = t.manifest()
    dvd = [e for e in m["files"] if e.get("dv")]
    assert sum(e["dv_rows"] for e in dvd) == 15
    want = set(range(200)) - set(range(10, 25))
    assert set(r["k"] for r in t.read().collect()) == want
    # CoW delete on a DV'd file applies the vector before rewriting
    t.delete_where("k", 30, 39)
    want -= set(range(30, 40))
    assert set(r["k"] for r in t.read().collect()) == want
    # compact materializes the deletes and drops the vectors
    t.compact(n_out=1)
    assert not any(e.get("dv") for e in t.manifest()["files"])
    assert set(r["k"] for r in t.read().collect()) == want
    # vacuum after compaction collects the dead DV side-files
    t.vacuum(retain_versions=1)
    assert glob.glob(os.path.join(root, "data", "*-dv-*.parquet")) == []
    assert set(r["k"] for r in t.read().collect()) == want


def test_deletion_vector_cdc_and_merge_and_columnar(spark, root):
    t = SnapTable(spark, root, checkpoint_threshold=1)
    t.create(_mk(spark, "t", range(100)), stat_cols=["k"], bucket_col="b")
    v2 = t.delete_where("k", 5, 9, mode="dv")
    assert "files_ckpt" in t.manifest(v2)  # columnar path carries DVs
    assert t.read().count() == 95
    # CDC: the DV commit surfaces exactly the deleted rows
    ch = t.changes(1, v2)
    assert ch.filter("change_type = 'insert'").count() == 0
    assert sorted(
        r["k"] for r in ch.filter("change_type = 'delete'").collect()
    ) == [5, 6, 7, 8, 9]
    # merge over a DV'd file: vector applied before the rewrite
    src = spark.createDataFrame(
        [(7, "back", 1, 0)], "k bigint, s string, v bigint, b bigint"
    )
    t.merge(src, "k")
    got = {r["k"]: r["s"] for r in t.read().collect()}
    assert got[7] == "back" and len(got) == 96
    assert all(k not in got for k in (5, 6, 8, 9))


def test_deletion_vector_lost_race_raises_and_cleans(spark, root, monkeypatch):
    import glob

    from luxo_rs_spark.sources.snaptable import ConcurrentCommitError

    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(100)), stat_cols=["k"], bucket_col="b")

    _race_on_claim(
        monkeypatch, "delete_dv",
        lambda: SnapTable(spark, root).append(
            _mk(spark, "t", range(500, 510)), bucket_col="b"
        ),
    )
    with pytest.raises(ConcurrentCommitError):
        t.delete_where("k", 0, 9, mode="dv")
    # racer intact, orphan DV cleaned
    assert t.read().count() == 110
    assert glob.glob(os.path.join(root, "data", "*-dv-*.parquet")) == []


def test_datasource_applies_deletion_vectors_and_phys_pushdown(spark, root):
    """The DataSource face honors merge-on-read deletes, and pushdown
    pruning translates renamed (logical) filter columns to the
    physical stat keys — never pruning on the wrong column."""
    from luxo_rs_spark.sources.snapsource import register

    register(spark)
    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(200)), stat_cols=["k"], bucket_col="b")
    t.delete_where("k", 20, 39, mode="dv")
    df = spark.read.format("snaptable").load(root)
    assert df.count() == 180
    assert set(r["k"] for r in df.collect()) == (
        set(range(200)) - set(range(20, 40))
    )
    # rename k -> key; pushdown on the NEW logical name still prunes
    # (and still applies the DV)
    t.rename_column("k", "key")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        pdf = (
            spark.read.format("snaptable")
            .option("pushdown", "true")
            .load(root)
            .filter("key >= 100")
        )
        assert sorted(r["key"] for r in pdf.collect()) == list(
            range(100, 200)
        )
    finally:
        spark.conf.unset("spark.sql.python.filterPushdown.enabled")


# -- UPDATE and RESTORE --------------------------------------------------------


def test_update_where_rewrites_only_admitted_files(spark, root):
    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(500)), stat_cols=["k"], bucket_col="b")
    before = {e["path"] for e in t.manifest()["files"]}
    t.update_where("k", 150, 249, {"v": "v + 1000000", "s": "'UPD'"})
    m = t.manifest()
    assert m["operation"] == "update"
    # buckets 0, 3, 4 carried untouched
    assert len({e["path"] for e in m["files"]} & before) == 3
    got = {r["k"]: (r["v"], r["s"]) for r in t.read().collect()}
    assert len(got) == 500
    for k in range(500):
        if 150 <= k <= 249:
            assert got[k] == (k * 3 + 1000000, "UPD")
        else:
            assert got[k] == (k * 3, f"s{k % 7}")
    # time travel: pre-update values intact
    assert t.read(1).filter("s = 'UPD'").count() == 0


def test_update_respects_check_constraints(spark, root):
    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(50)), stat_cols=["k"], bucket_col="b")
    t.add_constraint("v_nonneg", "v >= 0")
    with pytest.raises(ValueError, match="v_nonneg"):
        t.update_where("k", 0, 9, {"v": "-1"})
    assert t.read().filter("v < 0").count() == 0
    with pytest.raises(KeyError):
        t.update_where("k", 0, 9, {"nope": "1"})


def test_restore_makes_time_travel_durable(spark, root):
    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(100)), stat_cols=["k"], bucket_col="b")
    t.append(_mk(spark, "t", range(100, 150)), bucket_col="b")
    t.delete_where("k", 0, 49)
    t.rename_column("v", "val")
    v5 = t.restore(2)  # back to the post-append state
    assert t.manifest(v5)["operation"] == "restore"
    assert t.read().count() == 150
    assert "v" in t.read().columns  # rename rolled back too
    # intermediate history still readable
    assert t.read(3).count() == 100
    # and the restored table keeps working
    t.append(_mk(spark, "t", range(150, 160)), bucket_col="b")
    assert t.read().count() == 160


def test_restore_retires_post_restore_physicals(spark, root):
    """A column added AFTER the restored version must not resurface
    if re-added after the restore — its physical is retired."""
    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(30)), stat_cols=["k"], bucket_col="b")
    extra = _mk(spark, "t", range(30, 40)).withColumn("tag", F.lit("OLD"))
    t.append(extra, bucket_col="b")  # v2 adds column tag
    t.restore(1)  # v3: tag gone
    assert "tag" not in t.read().columns
    readd = _mk(spark, "t", range(40, 45)).withColumn("tag", F.lit("NEW"))
    t.append(readd, bucket_col="b")
    vals = {r["tag"] for r in t.read().collect()}
    assert vals == {None, "NEW"}  # v2's OLD values never resurface


def test_update_and_restore_on_columnar_checkpoints(spark, root):
    t = SnapTable(spark, root, checkpoint_threshold=1)
    t.create(_mk(spark, "t", range(300)), stat_cols=["k"], bucket_col="b")
    t.update_where("k", 100, 199, {"v": "v * 10"})
    assert "files_ckpt" in t.manifest()
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[150] == 150 * 30 and got[50] == 150
    t.delete_where("k", 0, 49, mode="dv")
    v4 = t.restore(2)
    assert "files_ckpt" in t.manifest(v4)
    assert t.read().count() == 300  # DV rolled back with the restore
    assert {r["k"]: r["v"] for r in t.read().collect()}[150] == 150 * 30


def test_history_df_is_the_snapshot_relation(spark, root):
    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(100)), stat_cols=["k"], bucket_col="b")
    t.append(_mk(spark, "t", range(100, 150)), bucket_col="b")
    t.delete_where("k", 0, 49)
    h = t.history_df()
    got = {
        r["version"]: (r["operation"], r["n_files"], r["n_rows"])
        for r in h.collect()
    }
    assert got[1] == ("create", 1, 100)
    assert got[2] == ("append", 2, 150)
    assert got[3][0] == "delete" and got[3][2] == 100
    # queryable like any relation
    assert h.filter("n_rows >= 150").count() == 1


def test_zorder_three_dimensions(spark, root):
    """OPTIMIZE ZORDER over THREE columns: a narrow probe on any of
    the three skips files afterwards (zn interleave, zbits auto-fit)."""
    t = SnapTable(spark, root)
    df = spark.createDataFrame(
        [
            (k, (k * 7919) % 2048, (k * 104729) % 2048, k)
            for k in range(2048)
        ],
        "a bigint, b bigint, c bigint, v bigint",
    ).withColumn("bk", F.expr("a div 256"))
    t.create(df.select("a", "b", "c", "v", "bk"),
             stat_cols=["a", "b", "c"], bucket_col="bk")
    for col in ("b", "c"):
        _, info = t.scan(col, 128, 255)
        assert info["files_scanned"] == info["files_total"]
    t.compact(n_out=64, zorder_cols=("a", "b", "c"))
    fp = t.read().agg(F.sum("a"), F.sum("b"), F.sum("c"), F.count("*")).first()
    assert fp == (
        sum(range(2048)),
        sum((k * 7919) % 2048 for k in range(2048)),
        sum((k * 104729) % 2048 for k in range(2048)),
        2048,
    )
    for col in ("a", "b", "c"):
        _, info = t.scan(col, 128, 255)
        assert info["files_scanned"] < info["files_total"], col


def test_stage_window_race_raises_before_claiming_version(
    spark, root, monkeypatch
):
    """ADVICE r9 (medium): a racer committing DURING the stage-write
    window of a non-append op (after the caller read its manifest,
    before the version is claimed) must raise ConcurrentCommitError —
    the exclusive create alone would succeed at racer_version+1 with
    the stale carry and silently drop the racer's files."""
    from luxo_rs_spark.sources.snaptable import ConcurrentCommitError

    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(300)), stat_cols=["k"], bucket_col="b")

    racer_df = _mk(spark, "t", range(1000, 1020))
    orig = SnapTable._collect_stats
    state = {"fired": False}

    def inject(self, paths, stat_cols, bloom_cols=()):
        # fires between the stage write and the commit loop — the
        # window the commit.claim injection never reaches
        if not state["fired"]:
            state["fired"] = True
            SnapTable(spark, self.root).append(racer_df, bucket_col="b")
        return orig(self, paths, stat_cols, bloom_cols)

    monkeypatch.setattr(SnapTable, "_collect_stats", inject)
    with pytest.raises(ConcurrentCommitError):
        t.delete_where("k", 0, 99)
    # the racer's append is intact; re-issuing sees both writers' rows
    assert t.read().count() == 320
    monkeypatch.setattr(SnapTable, "_collect_stats", orig)
    t.delete_where("k", 0, 99)
    ks = set(r["k"] for r in t.read().collect())
    assert ks == set(range(100, 300)) | set(range(1000, 1020))


def test_checkpoint_keeps_stats_for_evolved_partition_column(spark, root):
    """ADVICE r9: a columnar parent + an append introducing a NEW
    stat/partition column must not lose the new entries' min__/max__
    stats in the child checkpoint — skipping on the evolved column has
    to work for the new files (carried files scan, correctly)."""
    t = SnapTable(spark, root, checkpoint_threshold=1)  # columnar from v1
    t.create(_mk(spark, "t", range(100)), stat_cols=["k"], bucket_col="b")
    m1 = t.manifest()
    assert "files_ckpt" in m1

    new = _mk(spark, "t", range(100, 200)).withColumn(
        "region", F.expr("case when k < 150 then 'eu' else 'us' end")
    )
    t.append(new, partition_col="region")
    fdf = t.files_df()
    assert "min__region" in fdf.columns  # not dropped by the concat
    rows = {r["path"]: r for r in fdf.collect()}
    with_stats = [r for r in rows.values() if r["min__region"] is not None]
    assert len(with_stats) == 2  # eu + us partition files carry stats
    assert sorted(r["min__region"] for r in with_stats) == ["eu", "us"]
    # partition pruning ON THE EVOLVED COLUMN: old files (null stats)
    # must scan, the non-matching new partition is skipped
    df, info = t.scan_where([("region", "=", "eu")])
    assert info["files_scanned"] == info["files_total"] - 1
    assert df.count() == 50


def test_conditional_merge_clauses_first_match_wins(spark, root):
    """Conditional MERGE INTO (round 10): WHEN MATCHED [AND cond]
    UPDATE SET subset / DELETE, WHEN NOT MATCHED [AND cond] INSERT —
    first-match-wins, untouched-matched rows keep their values,
    insert-less source rows drop, carry files survive by path."""
    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(300)), stat_cols=["k"], bucket_col="b")
    paths_before = set(t._paths(t.manifest()))

    # source: keys 50..69 matched, 1000..1009 unmatched
    src = spark.createDataFrame(
        [(k, k * 100) for k in list(range(50, 70)) + list(range(1000, 1010))],
        "k bigint, sv bigint",
    )
    t.merge(
        src,
        "k",
        clauses=[
            # delete the matched rows whose source value is huge
            {"when": "matched", "and": "src_sv >= 6500",
             "action": "delete"},
            # update the rest of the matched rows (subset of columns)
            {"when": "matched", "and": "src_sv >= 5500",
             "action": "update",
             "set": {"v": "src_sv", "s": "'merged'"}},
            # matched rows with src_sv < 5500 fall through -> untouched
            # insert only EVEN unmatched keys
            {"when": "not_matched", "and": "src_k % 2 = 0",
             "action": "insert"},
        ],
    )
    got = {r["k"]: (r["s"], r["v"]) for r in t.read().collect()}
    # deletes: 65..69 (sv >= 6500)
    assert all(k not in got for k in range(65, 70))
    # updates: 55..64 -> v = k*100, s = 'merged'
    for k in range(55, 65):
        assert got[k] == ("merged", k * 100)
    # fell through (50..54): untouched originals
    for k in range(50, 55):
        assert got[k] == (f"s{k % 7}", k * 3)
    # inserts: even unmatched keys only; sv fills v? no — source lacks
    # v/s/b, so inserted rows carry src k + NULLs for target-only cols
    for k in range(1000, 1010):
        if k % 2 == 0:
            assert got[k] == (None, None)
        else:
            assert k not in got
    # (the source key range [50, 1009] spans every bucket here, so all
    # files are rewrite candidates — carry-by-path is pinned in
    # test_conditional_merge_insert_values_and_constraints instead)
    assert paths_before  # layout sanity
    # CDC surfaces the matched-deletes as delete rows
    cdc = t.changes(1, 2).groupBy("change_type").count().collect()
    by = {r["change_type"]: r["count"] for r in cdc}
    # deletes: 5 deleted + 10 updated (old image); inserts: 10 updated
    # (new image) + 5 inserted
    assert by["delete"] == 15
    assert by["insert"] == 15


def test_conditional_merge_insert_values_and_constraints(spark, root):
    """Insert clauses with explicit 'values' assignments; CHECK
    constraints validate the merged rows like any data commit."""
    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(100)), stat_cols=["k"], bucket_col="b")
    t.add_constraint("v_nonneg", "v >= 0")
    src = spark.createDataFrame(
        [(500, 7), (501, 8)], "k bigint, sv bigint"
    )
    t.merge(
        src,
        "k",
        clauses=[
            {"when": "not_matched", "action": "insert",
             "values": {"v": "src_sv * 10", "s": "'ins'", "b": "0"}},
        ],
    )
    got = {r["k"]: (r["s"], r["v"]) for r in t.read().collect()}
    assert got[500] == ("ins", 70) and got[501] == ("ins", 80)
    # the source key range is stats-disjoint from every data file, so
    # ALL original files carry over by path identity (insert-only merge
    # rewrites nothing)
    v1_paths = set(t._paths(t.manifest(2)))  # v2 = add_constraint
    assert v1_paths <= set(t._paths(t.manifest()))
    # a violating merge refuses the commit entirely
    bad = spark.createDataFrame([(600, -5)], "k bigint, sv bigint")
    with pytest.raises(ValueError, match="v_nonneg"):
        t.merge(
            bad,
            "k",
            clauses=[
                {"when": "not_matched", "action": "insert",
                 "values": {"v": "src_sv", "s": "'x'", "b": "0"}},
            ],
        )
    assert 600 not in {r["k"] for r in t.read().collect()}


def test_legacy_whole_row_merge_unchanged(spark, root):
    """merge() without clauses keeps the r8 whole-row-upsert contract
    (the q462 oracle's semantics)."""
    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(100)), stat_cols=["k"], bucket_col="b")
    src = _mk(spark, "t", range(90, 110)).withColumn("v", F.col("k") * 7)
    t.merge(src, "k")
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert len(got) == 110
    for k in range(90, 110):
        assert got[k] == k * 7
    for k in range(0, 90):
        assert got[k] == k * 3


def test_selective_optimize_where_carries_untouched_files(spark, root):
    """OPTIMIZE ... WHERE (round 10): only stat-admitted files are
    rewritten; disjoint files carry by PATH IDENTITY, their deletion
    vectors included. Content is unchanged; pruning is restored on the
    re-clustered range."""
    t = SnapTable(spark, root)
    # buckets 0..3: tight per-file k ranges
    t.create(
        _mk(spark, "t", range(400), bucket_div=100),
        stat_cols=["k"], bucket_col="b",
    )
    # DV on bucket 0 (k 0..99): must survive a selective compact that
    # does not touch that file
    t.delete_where("k", 5, 9, mode="dv")
    # scatter the 200..399 range with an unsorted append
    import random
    rng = random.Random(3)
    scattered = list(range(200, 400))
    rng.shuffle(scattered)
    t.append(
        spark.createDataFrame(
            [(k + 1000, f"x{k}", k, 9) for k in scattered],
            "k bigint, s string, v bigint, b bigint",
        ).repartition(4),
    )
    m_before = t.manifest()
    paths_before = set(t._paths(m_before))
    dv_before = t._dv_map(m_before)
    assert dv_before  # the bucket-0 vector exists
    total_before = t.read().count()

    # selective OPTIMIZE over only the appended/scattered key range
    t.compact(n_out=2, sort_cols=["k"], where=("k", 1000, 1500))
    m_after = t.manifest()
    paths_after = set(t._paths(m_after))
    # every file provably outside [1000, 1500] carried by path identity
    carried = paths_before & paths_after
    assert carried, "no files carried through the selective compact"
    # the original bucket files (k < 400) all carried
    low_files = {
        p for p in paths_before
        if p in carried or p in paths_after
    }
    for e in t._entries(m_before):
        st = e["stats"].get("k")
        if st and st["max"] < 1000:
            assert e["path"] in paths_after, (
                f"disjoint file {e['path']} was rewritten"
            )
    # the deletion vector on the untouched file survives
    assert t._dv_map(m_after) == dv_before
    # logically identical
    assert t.read().count() == total_before
    # pruning restored on the re-clustered range: a narrow scan over
    # the scattered keys now skips most files
    _, info = t.scan("k", 1000, 1099)
    assert info["files_scanned"] < info["files_total"]


def test_selective_optimize_zorder_subset(spark, root):
    """ZORDER over only the admitted subset composes with where=."""
    df = spark.createDataFrame(
        [(k, k % 50, (k * 7) % 50, k // 200) for k in range(400)],
        "k bigint, x bigint, y bigint, b bigint",
    )
    t = SnapTable(spark, root)
    t.create(df, stat_cols=["k", "x", "y"], bucket_col="b")
    paths_before = set(t._paths(t.manifest()))
    t.compact(n_out=4, zorder_cols=("x", "y"), where=("k", 200, 399))
    paths_after = set(t._paths(t.manifest()))
    # the k<200 file carried; the k>=200 file was re-tiled
    assert paths_before & paths_after
    assert t.read().count() == 400
    got = sorted(r["k"] for r in t.read().collect())
    assert got == list(range(400))


def test_delete_keys_dv_scattered_ids(spark, root):
    """delete_keys (round 10): vector out a SCATTERED key set in one
    DV commit — no data file rewritten, stats-disjoint files never
    touched, stacks with a prior range DV."""
    t = SnapTable(spark, root)
    t.create(_mk(spark, "t", range(400)), stat_cols=["k"], bucket_col="b")
    t.delete_where("k", 0, 4, mode="dv")
    paths_before = set(t._paths(t.manifest()))
    keys = spark.createDataFrame(
        [(k,) for k in (7, 93, 101, 205, 333)], "k bigint"
    )
    t.delete_keys("k", keys)
    assert set(t._paths(t.manifest())) == paths_before  # nothing rewritten
    got = set(r["k"] for r in t.read().collect())
    assert got == set(range(400)) - set(range(5)) - {7, 93, 101, 205, 333}
    # empty / out-of-range key sets are metadata-only no-ops
    v = t.latest_version()
    t.delete_keys("k", spark.createDataFrame([(9999,)], "k bigint"))
    assert t.read().count() == 400 - 10
    t.delete_keys("k", spark.createDataFrame([], "k bigint"))
    assert t.latest_version() >= v


def test_scan_where_planned_matches_driver_composed_scan(spark, root):
    """scan_where_planned (round 10): the composed partition+range+
    bloom pruning as ONE Spark job over the manifest checkpoint must
    return exactly scan_where's files and rows — O(survivors) driver
    memory for ANY number of predicates."""
    t = SnapTable(spark, root, checkpoint_threshold=1)  # columnar
    df = spark.createDataFrame(
        [
            (k, ["eu", "us"][k % 2], f"u{k % 13}", k * 3, k // 100)
            for k in range(400)
        ],
        "k bigint, region string, owner string, v bigint, b bigint",
    )
    t.create(
        df, stat_cols=["k"], bucket_col="b",
        bloom_cols=["owner"], partition_col="region",
    )
    preds = [
        ("region", "=", "eu"),
        ("k", "between", 100, 299),
        ("owner", "bloom", "u5"),
    ]
    d1, i1 = t.scan_where(preds)
    d2, i2 = t.scan_where_planned(preds)
    assert i1 == i2
    r1 = sorted(r["k"] for r in d1.collect())
    r2 = sorted(r["k"] for r in d2.collect())
    assert r1 == r2 and r1  # non-trivial result
    assert i1["files_scanned"] < i1["files_total"]  # pruning is real
