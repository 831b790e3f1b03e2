"""The lost-race contract of sources/commit.py, on all three table
formats: a racer claims the next version between the loser's staging
and its claim. The loser raises ConcurrentCommitError and the racer's
commit stays byte-for-byte intact; re-issued after that, the loser's
commit lands on top. Appends differ: SnapTable's rebase onto the racer,
Delta's and Iceberg's raise like any other commit."""

from __future__ import annotations

import os

import pytest

from luxo_rs_spark.sources import commit
from luxo_rs_spark.sources.avro_io import read_avro
from luxo_rs_spark.sources.commit import ConcurrentCommitError
from luxo_rs_spark.sources.deltalog import DeltaLog
from luxo_rs_spark.sources.iceberg import IcebergTable
from luxo_rs_spark.sources.snaptable import SnapTable


def _mk(spark, rows):
    return spark.createDataFrame(
        [(k, k * 2) for k in rows], "k bigint, v bigint"
    ).coalesce(1)


def _snap_committed(spark, root):
    t = SnapTable(spark, root)
    m = t.manifest()
    return [t._manifest_path(m["version"])] + [
        os.path.join(root, p) for p in t._paths(m)
    ]


def _delta_committed(spark, root):
    t = DeltaLog(spark, root)
    v = t.latest_version()
    return [os.path.join(t.log_dir, f"{v:020d}.json")] + [
        os.path.join(root, p) for p in t.snapshot(v)["adds"]
    ]


def _iceberg_committed(spark, root):
    t = IcebergTable(spark, root)
    md = t.metadata()
    ml = t._abs(t._snapshot(md, None)["manifest-list"])
    _, manifests = read_avro(ml)
    v = t._metadata_versions()[-1]
    return (
        [os.path.join(t.meta_dir, f"v{v}.metadata.json"), ml]
        + [t._abs(mf["manifest_path"]) for mf in manifests]
        + [t._abs(fl["path"]) for fl in t.data_files(md=md)]
    )


#: per format: the table class, create, append (returns the version)
#: and the files the latest commit references. The loser is
#: ``delete_where``, a commit no format may rebase.
FORMATS = {
    "snaptable": (
        SnapTable,
        lambda t, df: t.create(df, stat_cols=["k"]),
        lambda t, df: t.append(df),
        _snap_committed,
    ),
    "delta": (
        DeltaLog,
        lambda t, df: t.write(df),
        lambda t, df: t.write(df),
        _delta_committed,
    ),
    "iceberg": (
        IcebergTable,
        lambda t, df: t.write(df),
        lambda t, df: t.write(df),
        _iceberg_committed,
    ),
}


def _race_next_claim(monkeypatch, racer):
    """Run ``racer()`` once, inside the next ``commit.claim`` and before
    it creates its file: the racer claims that version first."""
    orig = commit.claim
    fired = []

    def claim(path, text):
        if not fired:
            fired.append(path)
            racer()
        return orig(path, text)

    monkeypatch.setattr(commit, "claim", claim)


def _contents(paths):
    out = {}
    for p in paths:
        with open(p, "rb") as f:
            out[p] = f.read()
    return out


@pytest.mark.parametrize("fmt", sorted(FORMATS))
def test_lost_race_raises_and_leaves_the_winner_intact(
    spark, tmp_path, monkeypatch, fmt
):
    cls, create, append, committed = FORMATS[fmt]
    root = str(tmp_path / fmt)
    create(cls(spark, root), _mk(spark, range(10)))

    pinned = {}

    def racer():
        append(cls(spark, root), _mk(spark, range(100, 110)))
        pinned.update(_contents(committed(spark, root)))

    _race_next_claim(monkeypatch, racer)
    with pytest.raises(ConcurrentCommitError):
        cls(spark, root).delete_where("k", 0, 4)
    assert pinned and _contents(pinned) == pinned

    # re-issued after the loss, the delete sees the racer's rows
    cls(spark, root).delete_where("k", 0, 4)
    got = sorted(r["k"] for r in cls(spark, root).read().collect())
    assert got == list(range(5, 10)) + list(range(100, 110))

    _race_next_claim(
        monkeypatch, lambda: append(cls(spark, root), _mk(spark, [200]))
    )
    if fmt == "snaptable":
        before = cls(spark, root).latest_version()
        assert append(cls(spark, root), _mk(spark, [300])) == before + 2
        assert cls(spark, root).read().count() == 17
    else:
        with pytest.raises(ConcurrentCommitError):
            append(cls(spark, root), _mk(spark, [300]))
