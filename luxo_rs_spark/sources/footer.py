"""Per-file column statistics from parquet footers, read on the driver.

SnapTable manifests, Delta ``add`` stats and Iceberg manifest bounds all
come from this one fold: about 0.4 ms per file, no Spark job, no Python
worker. Per column, over the file's row groups:

- ``nulls`` sums the null counts; ``None`` if any row group lacks them.
- ``min``/``max`` fold the row groups that hold non-null values; an
  all-null row group adds nothing. A row group without statistics, or
  with non-null values but no min/max, makes both ``None`` (unknown: a
  pruner must scan the file), as does a file whose rows are all null.
"""

from __future__ import annotations


def footer_stats(path: str, cols) -> tuple[int, dict]:
    """``(num_rows, {col: {"min", "max", "nulls"}})`` of the parquet file
    at ``path`` for the top-level columns ``cols`` it holds."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    index = {md.schema.column(i).path: i for i in range(md.num_columns)}
    stats: dict = {}
    for col in cols:
        ci = index.get(col)
        if ci is None:
            continue
        mn = mx = None
        nulls = 0
        known = True
        for rg in range(md.num_row_groups):
            group = md.row_group(rg)
            st = group.column(ci).statistics
            counted = st is not None and st.has_null_count
            if not counted:
                nulls = None
            elif nulls is not None:
                nulls += st.null_count
            if st is not None and st.has_min_max:
                mn = st.min if mn is None else min(mn, st.min)
                mx = st.max if mx is None else max(mx, st.max)
            elif not (counted and st.null_count == group.num_rows):
                known = False
        if not known:
            mn = mx = None
        stats[col] = {"min": mn, "max": mx, "nulls": nulls}
    return md.num_rows, stats
