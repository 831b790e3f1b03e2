"""Staged writes and exclusive commits: the one copy of the commit
protocol that SnapTable (sources/snaptable.py), DeltaLog
(sources/deltalog.py) and IcebergTable (sources/iceberg.py) share.

A data commit has two halves:

1. ``stage`` writes the new data files under a scratch directory that
   no other call uses. The format then moves them to final names that
   carry a ``writer_token()``, so two writers never address the same
   path and a committed file is never overwritten.
2. ``claim`` creates the format's version file (SnapTable manifest,
   Delta log entry, Iceberg metadata JSON) with an exclusive create:
   the put-if-absent every one of these protocols requires, and the
   only point where racing writers are arbitrated.

The lost-race contract (pinned by tests/test_commit_race.py): when a
racer claims version N between our staging and our claim of N,

- the racer's version file, and every file it references, stays
  byte-for-byte as the racer wrote it: before its claim fails, the
  loser writes only files whose names carry its own token;
- the loser raises ``ConcurrentCommitError`` and commits nothing: every
  Delta and Iceberg commit, and the SnapTable commits whose file list
  was computed against the old version (delete, update, merge,
  compact, restore);
- the SnapTable commits that do not depend on the old file list rebase
  onto the racer's version and land on N + 1: ``append`` (appends
  commute) and the schema-only commits (rename/drop/widen a column,
  add a constraint), which re-read and re-apply;
- a SnapTable ``create`` raises ``FileExistsError`` (the table now
  exists; streaming sinks fall back to an append).
"""

from __future__ import annotations

import contextlib
import itertools
import os
import shutil

from pyspark.sql import DataFrame


class ConcurrentCommitError(RuntimeError):
    """A commit lost an optimistic-concurrency race: it was computed
    against a version that is no longer the latest, so blindly retrying
    could drop the winner's changes (a lost update). The caller must
    re-read the table and re-issue the operation — the Delta
    ConcurrentModificationException contract. SnapTable appends and
    schema-only commits are exempt: they rebase and retry internally
    (see the module doc)."""


_SEQ = itertools.count()


def writer_token() -> str:
    """``<pid>-<per-process counter>`` in hex: unique per call across
    the live processes of one host."""
    return f"{os.getpid():x}-{next(_SEQ):04x}"


@contextlib.contextmanager
def stage(df: DataFrame, parent_dir: str, partition_by=()):
    """Write ``df`` as parquet under ``parent_dir/_stage_<token>`` and
    yield ``(token, files)``: ``files`` is ``[(path, {col: raw hive
    value})]`` sorted by path. With ``partition_by``, rows are hashed on
    those columns first, so each partition directory holds one file.
    The directory, and whatever the caller left in it, is removed on
    exit."""
    token = writer_token()
    path = os.path.join(parent_dir, f"_stage_{token}")
    try:
        if partition_by:
            (
                df.repartition(*partition_by)
                .write.mode("overwrite")
                .partitionBy(*partition_by)
                .parquet(path)
            )
        else:
            df.write.mode("overwrite").parquet(path)
        files = []
        for root_dir, _dirs, names in os.walk(path):
            rel = os.path.relpath(root_dir, path)
            hive = (
                {} if rel == "."
                else dict(seg.split("=", 1) for seg in rel.split(os.sep))
            )
            files.extend(
                (os.path.join(root_dir, n), hive)
                for n in names
                if n.endswith(".parquet")
            )
        yield token, sorted(files, key=lambda f: f[0])
    finally:
        shutil.rmtree(path, ignore_errors=True)


def claim(path: str, text: str) -> bool:
    """Create ``path`` holding ``text`` unless it exists: False means
    another writer claimed this version first."""
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        return False
    with os.fdopen(fd, "w") as f:
        f.write(text)
    return True
