"""The read path shared by the snaptable, deltastream and icebergstream
Spark DataSources: one file partition, one executor-side row reader,
one partition-parallel tail reader, one change-feed reader and one
option-flag parser.

A format module decides two things and hands the result over as
``FilePartition``s:

- WHICH files a micro-batch delivers (its offset planner, with the
  format's skip/raise gates for commits that rewrite or delete rows);
- HOW each file's columns and deletes resolve: physical column names,
  typed partition literals, deletion vectors, delete files.

Everything after that runs the same way for all three formats. Every
method here runs in a Python worker that has no SparkContext
(``schema()``, ``partitions()``, ``read()``), so nothing here may parse
a DDL string through the JVM.
"""

from __future__ import annotations

import os
from collections import Counter

from pyspark.sql.datasource import (
    DataSourceStreamReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)


def flag(options, name: str) -> bool:
    """A boolean reader option: true only for the string "true" in any
    case. Spark lower-cases option keys, so ``name`` is lower case."""
    return str(options.get(name, "")).lower() == "true"


class FilePartition(InputPartition):
    """One parquet data file, resolved on the driver.

    ``columns`` holds one spec per schema field: ``("col", name)`` reads
    the file's column ``name`` (null when ``name`` is None or the file
    lacks it: the file predates the column), ``("lit", value)`` fills
    every row with a typed literal (a partition value).

    Deletes, all applied by ``file_rows``:

    - ``dead``: row positions decoded on the driver (Delta DVs);
    - ``pos_deletes``: ``(parquet path, file-name column)`` pairs. A
      delete row whose file-name column ends in this file's name kills
      position ``pos`` (SnapTable DV side-files, Iceberg position
      deletes);
    - ``eq_deletes``: ``(parquet path, [(field index, delete column)])``
      pairs. A row dies when its fields equal some delete row (Iceberg
      equality deletes).

    An empty ``path`` is the placeholder partition of an empty batch.
    """

    def __init__(self, path: str, columns=(), dead=(), pos_deletes=(),
                 eq_deletes=()):
        self.path = path
        self.columns = list(columns)
        self.dead = tuple(dead)
        self.pos_deletes = list(pos_deletes)
        self.eq_deletes = list(eq_deletes)


def file_rows(part: FilePartition):
    """Yield the live rows of one file as tuples aligned to the schema
    (pyarrow; executor-side in ``read()``, driver-side in the change
    feed)."""
    if not part.path:
        return
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tbl = pq.read_table(part.path)
    n = tbl.num_rows
    cols = [
        [spec] * n if kind == "lit"
        else tbl.column(spec).to_pylist() if spec in tbl.column_names
        else [None] * n
        for kind, spec in part.columns
    ]
    dead = set(part.dead)
    base = os.path.basename(part.path)
    for path, name_col in part.pos_deletes:
        d = pq.read_table(path, columns=[name_col, "pos"])
        names = d.column(name_col)
        mine = pc.or_(
            pc.equal(names, base), pc.ends_with(names, "/" + base)
        )
        dead.update(d.filter(mine).column("pos").to_pylist())
    for path, pairs in part.eq_deletes:
        d = pq.read_table(path, columns=[c for _, c in pairs])
        gone = set(zip(*(d.column(c).to_pylist() for _, c in pairs)))
        keys = zip(*(cols[i] for i, _ in pairs))
        dead.update(i for i, key in enumerate(keys) if key in gone)
    for i in range(n):
        if i not in dead:
            yield tuple(col[i] for col in cols)


class TailReader(DataSourceStreamReader):
    """Partition-parallel tail. A format subclass supplies
    ``initialOffset``, ``latestOffset`` and ``plan(start, end)``, the
    batch's files planned on the driver; each file is one Spark
    partition whose rows are read on an executor. Offsets replay
    deterministically because every format's versions are immutable."""

    def plan(self, start: dict, end: dict) -> list[FilePartition]:
        raise NotImplementedError

    def partitions(self, start: dict, end: dict):
        return self.plan(start, end) or [FilePartition("")]

    def read(self, partition: FilePartition):
        return file_rows(partition)

    def commit(self, end: dict) -> None:
        pass  # versions are immutable; nothing to release


def freeze(v):
    """Hashable stand-in for a row value: pyarrow yields lists for
    array cells and dicts for maps, which cannot key a Counter. Lists
    and dicts are tag-wrapped so ``thaw`` is unambiguous (a genuine
    2-tuple value can never collide with the tags); tuples (rows, and
    pyarrow's list-of-(key, value) MAP cells) recurse."""
    if isinstance(v, list):
        return ("__feed_list__", tuple(freeze(x) for x in v))
    if isinstance(v, dict):
        return ("__feed_map__", tuple(sorted(
            (k, freeze(x)) for k, x in v.items()
        )))
    if isinstance(v, tuple):
        return tuple(freeze(x) for x in v)
    return v


def thaw(v):
    if isinstance(v, tuple) and len(v) == 2 and v[0] == "__feed_list__":
        return [thaw(x) for x in v[1]]
    if isinstance(v, tuple) and len(v) == 2 and v[0] == "__feed_map__":
        return {k: thaw(x) for k, x in v[1]}
    if isinstance(v, tuple):
        return tuple(thaw(x) for x in v)
    return v


def _row_counts(parts) -> Counter:
    c: Counter = Counter()
    for part in parts:
        for r in file_rows(part):
            c[freeze(r)] += 1
    return c


class ChangeFeedReader(SimpleDataSourceStreamReader):
    """Change-feed tail (``readChangeFeed``, the Delta CDF shape): the
    offset is ``{"v": version}`` and a micro-batch is the row-level
    multiset diff between the table at the committed version and at
    the latest one, each row tagged ``change_type`` 'insert' or
    'delete'. An update surfaces as its delete+insert pair and a
    compaction nets to nothing.

    Files are keyed by (path, delete identity): a file listed on both
    sides with the same deletes cancels unread, and a file whose
    deletes changed is listed on both sides, so the diff is exactly
    its newly deleted rows. Each side's files carry that side's
    deletes; columns resolve at the newer version, the stream's
    schema, as the tail does. Rows are read on the driver, the Simple
    reader contract at micro-batch granularity.

    A format subclass supplies ``initialOffset``, ``latest()``,
    ``files(v)`` -> ``(state, {file key: file handle})`` (no files for
    an offset before the first commit) and ``partition(state, handle)``.
    """

    def latest(self) -> int:
        raise NotImplementedError

    def files(self, v: int) -> tuple[object, dict]:
        raise NotImplementedError

    def partition(self, state, handle) -> FilePartition:
        raise NotImplementedError

    def _diff_rows(self, v_from: int, v_to: int):
        if v_to <= v_from:
            return iter([])  # list-backed: Spark copy()s the iterator
        _, old = self.files(v_from)
        state, new = self.files(v_to)
        added = _row_counts(
            self.partition(state, h) for k, h in new.items() if k not in old
        )
        removed = _row_counts(
            self.partition(state, h) for k, h in old.items() if k not in new
        )
        out = []
        for tag, diff in (("insert", added - removed),
                          ("delete", removed - added)):
            for r, n in diff.items():
                out.extend([(tag,) + tuple(thaw(v) for v in r)] * n)
        return iter(out)

    def read(self, start: dict):
        cur = self.latest()
        return self._diff_rows(int(start["v"]), cur), {"v": cur}

    def readBetweenOffsets(self, start: dict, end: dict):
        return self._diff_rows(int(start["v"]), int(end["v"]))
