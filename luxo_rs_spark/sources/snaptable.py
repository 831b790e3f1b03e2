"""Snapshot table format: versioned manifests over parquet (SURVEY §2.2-A).

The reference's storage story is an index-organized row store
(reference src/algo.rs:7 intends B+Tree machinery); a 100 TB lake needs
the *table-format* layer on top of columnar files — the job Delta Lake /
Apache Iceberg do. This module implements that layer from scratch on
plain parquet + JSON manifests, with the four properties that matter at
cluster scale:

1. **Atomic, optimistically-concurrent commits.** A snapshot is a JSON
   manifest ``_snapshots/v%08d.json`` listing immutable data files. The
   commit is ``sources.commit.claim`` — an exclusive create, atomic on
   POSIX — so two racing writers cannot both land version N; what the
   loser does is the lost-race contract in ``sources/commit.py``. (On
   an object store this exact protocol becomes a conditional PUT — the
   Delta commit-service pattern; the manifest layout is unchanged.)
2. **Time travel.** Every version's manifest is retained; a read at
   version N is exactly the file list of manifest N. Readers never see
   a half-committed state because data files are staged under a scratch
   name and only referenced after the manifest create succeeds.
3. **Manifest-level data skipping.** Each manifest entry carries
   per-file min/max/null-count statistics for the declared stat
   columns, read from each new file's parquet FOOTER on the driver
   (``sources.footer``, about 0.4 ms per file: no Spark job, no
   Python worker, never a row scan). ``scan()`` prunes files against a
   range predicate on the driver *before* Spark ever sees the paths:
   at 100 TB this is the difference between planning over 50 files and
   opening 50,000 footers.
4. **Copy-on-write deletes + compaction as snapshots.** ``delete_where``
   rewrites only the files whose stats ADMIT a match and carries every
   provably-clean file over untouched (bounded write amplification);
   ``compact`` rewrites small files into ``n_out`` larger ones as a new
   snapshot that is logically identical — both are ordinary commits,
   so readers of older versions are unaffected.

Schema evolution: an append whose DataFrame carries NEW nullable
columns widens the table schema (union by name); old files read through
the widened schema surface NULLs (parquet missing-column semantics) —
the add-column evolution path Iceberg calls a metadata-only change.

No wall-clock timestamps anywhere in the format: versions are dense
integers, so manifests — and therefore every query over them — are
bit-deterministic and oracle-checkable.

**Columnar manifest checkpoints (the 100 TB metadata plane).** A JSON
manifest enumerating every data file is read and pruned on the driver
in a Python loop — fine at 10³ files, the planning bottleneck at
10⁵–10⁶ (a 100 TB table). Once a snapshot's file count reaches
``checkpoint_threshold`` (or its parent was already columnar), the
entry list is written as a PARQUET side-file
``_snapshots/v%08d.files.parquet`` instead of inline JSON: one row per
data file with typed ``min__{c}/max__{c}/nulls__{c}`` columns per stat
column and ``bloom__{c}`` bit-position lists per bloom column — the
Iceberg manifest-file / Delta checkpoint design. Consequences:

- **Planning is vectorized or distributed, never a JSON parse.**
  ``scan()``/``scan_point()`` prune over the checkpoint's columnar
  arrays; ``files_df()`` exposes the manifest AS A DATAFRAME and
  ``scan_planned()`` runs the pruning as a Spark job (filter on the
  typed stat columns, collect only survivors) — O(survivors) driver
  memory however large the table.
- **Appends never touch carried metadata.** A child checkpoint is the
  parent checkpoint table concatenated with the new entries — zero
  per-carried-file work on the driver (no parse, no re-serialize).
- **Sticky**: once columnar, always columnar (a delete that shrinks
  the table does not flip back to inline JSON).
The JSON manifest remains the commit arbitration point (exclusive
create); it simply points at the checkpoint (``files_ckpt`` +
``num_files``) instead of inlining ``files``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from luxo_rs_spark.sources import commit
from luxo_rs_spark.sources.commit import ConcurrentCommitError
from luxo_rs_spark.sources.footer import footer_stats
from luxo_rs_spark.sources.registry import local_frame

_SNAP_DIR = "_snapshots"
_DATA_DIR = "data"


#: Bloom geometry: m bits, k md5-derived probes. Deterministic and
#: engine-agnostic (the q464 oracle replays membership in SQL).
_BLOOM_BITS = 4096
_BLOOM_K = 3


def _bloom_positions(value, m: int = _BLOOM_BITS, k: int = _BLOOM_K):
    """The k probe bit positions of ``value``: independent md5 draws
    over 'value:j' — the exact rule the SQL oracle replays."""
    import hashlib

    return [
        int(hashlib.md5(f"{value}:{j}".encode()).hexdigest()[:8], 16) % m
        for j in range(k)
    ]


def _json_safe(v):
    import datetime
    import decimal

    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    return v


#: file count at which a snapshot's entry list moves from inline JSON
#: to a columnar parquet checkpoint (see module doc). Small tables stay
#: human-readable JSON; big tables get vectorized planning.
_CHECKPOINT_THRESHOLD = 1024


class SnapTable:
    """A versioned parquet table rooted at ``root`` (see module doc)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        checkpoint_threshold: int = _CHECKPOINT_THRESHOLD,
    ):
        self.spark = spark
        self.root = root
        self.snap_dir = os.path.join(root, _SNAP_DIR)
        self.data_dir = os.path.join(root, _DATA_DIR)
        self.checkpoint_threshold = checkpoint_threshold

    # -- snapshot bookkeeping ------------------------------------------------

    def versions(self) -> list[int]:
        if not os.path.isdir(self.snap_dir):
            return []
        return sorted(
            int(f[1:9])
            for f in os.listdir(self.snap_dir)
            if f.startswith("v") and f.endswith(".json")
        )

    def latest_version(self) -> int:
        vs = self.versions()
        return vs[-1] if vs else 0

    def manifest(self, version: int | None = None) -> dict:
        if version is None:
            version = self.latest_version()
        if version <= 0:
            # explicit version=0 (or a negative) is invalid, NOT an
            # alias for latest — `or` would have silently aliased it
            raise FileNotFoundError(
                f"snaptable {self.root}: no snapshot v{version}"
            )
        with open(self._manifest_path(version)) as f:
            return json.load(f)

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.snap_dir, f"v{version:08d}.json")

    def history(self) -> list[dict]:
        return [self.manifest(v) for v in self.versions()]

    # -- columnar manifest checkpoints (the scale metadata plane) ------------

    @staticmethod
    def _ckpt_rel(version: int, token: str) -> str:
        # writer-unique name: two racing writers targeting the same
        # version must not clobber each other's side-file — the JSON
        # manifest (exclusive create) references exactly one of them
        return os.path.join(
            _SNAP_DIR, f"v{version:08d}-{token}.files.parquet"
        )

    @staticmethod
    def _entries_to_arrow(entries, stat_cols, bloom_cols):
        """Dict entries -> the checkpoint's columnar layout: one row per
        data file, typed min/max/null columns per stat column, bloom
        bit-position lists per bloom column, residual stats as JSON."""
        import pyarrow as pa

        cols: dict[str, list] = {
            "path": [e["path"] for e in entries],
            "rows": [e["rows"] for e in entries],
            "bytes": [e["bytes"] for e in entries],
        }
        sans_bloom = []
        for e in entries:
            st = e["stats"]
            sans_bloom.append(
                {k: v for k, v in st.items() if not k.startswith("bloom:")}
            )
        cols["stats_json"] = [json.dumps(s, sort_keys=True) for s in sans_bloom]
        cols["dv"] = [e.get("dv") for e in entries]
        cols["dv_rows"] = [int(e.get("dv_rows", 0)) for e in entries]
        for c in stat_cols:
            cols[f"min__{c}"] = [s.get(c, {}).get("min") for s in sans_bloom]
            cols[f"max__{c}"] = [s.get(c, {}).get("max") for s in sans_bloom]
            cols[f"nulls__{c}"] = [s.get(c, {}).get("nulls") for s in sans_bloom]
        for c in bloom_cols:
            cols[f"bloom__{c}"] = [
                (e["stats"].get(f"bloom:{c}") or {}).get("bits")
                for e in entries
            ]
        fields = []
        for name, vals in cols.items():
            arr = pa.array(vals)
            if pa.types.is_null(arr.type):
                # all-None stat column: pin a concrete type so later
                # concats with value-bearing batches stay well-typed
                arr = arr.cast(
                    pa.int64() if name.startswith("nulls__") else pa.string()
                )
            fields.append((name, arr))
        return pa.table(dict(fields))

    def _entries_arrow(self, m: dict):
        """The manifest's entry list as a pyarrow Table — read straight
        from the checkpoint parquet when columnar (no JSON work), built
        from the inline list otherwise."""
        import pyarrow.parquet as pq

        if "files_ckpt" in m:
            return pq.read_table(os.path.join(self.root, m["files_ckpt"]))
        return self._entries_to_arrow(
            m["files"], m.get("stat_cols", []), m.get("bloom_cols", [])
        )

    def _paths(self, m: dict) -> list[str]:
        if "files_ckpt" not in m:
            return [e["path"] for e in m["files"]]
        import pyarrow.parquet as pq

        return (
            pq.read_table(
                os.path.join(self.root, m["files_ckpt"]), columns=["path"]
            )
            .column("path")
            .to_pylist()
        )

    def _num_files(self, m: dict) -> int:
        return m["num_files"] if "files_ckpt" in m else len(m["files"])

    def _entries(self, m: dict) -> list[dict]:
        """Entry dicts (path/rows/bytes/stats) for ANY manifest. For
        columnar manifests this parses per-file JSON — O(files) driver
        work, so internal planning paths use `_entries_arrow` /
        `_prune_*` instead; this exists for compatibility consumers
        (the DataSource face, diagnostics, small tables)."""
        if "files_ckpt" not in m:
            return m["files"]
        tbl = self._entries_arrow(m)
        names = tbl.column_names
        out = []
        cols = {n: tbl.column(n).to_pylist() for n in names}
        for i in range(tbl.num_rows):
            stats = json.loads(cols["stats_json"][i])
            for c in m.get("bloom_cols", []):
                bits = cols.get(f"bloom__{c}", [None] * tbl.num_rows)[i]
                if bits is not None:
                    stats[f"bloom:{c}"] = {
                        "m": _BLOOM_BITS,
                        "k": _BLOOM_K,
                        "bits": list(bits),
                    }
            ent = {
                "path": cols["path"][i],
                "rows": cols["rows"][i],
                "bytes": cols["bytes"][i],
                "stats": stats,
            }
            if cols.get("dv") and cols["dv"][i]:
                ent["dv"] = cols["dv"][i]
                ent["dv_rows"] = cols.get(
                    "dv_rows", [0] * tbl.num_rows
                )[i]
            out.append(ent)
        return out

    def _carry(self, m: dict):
        """The representation of a manifest's entries to thread through
        a commit as the carried set: the arrow table for columnar
        manifests (zero per-file work), the dict list for inline."""
        return self._entries_arrow(m) if "files_ckpt" in m else m["files"]

    def _parent_is_columnar(self) -> bool:
        try:
            return "files_ckpt" in self.manifest()
        except FileNotFoundError:
            return False

    def _finalize_entries(
        self, version: int, carry, entries: list[dict],
        stat_cols, bloom_cols,
    ) -> dict:
        """Decide the entry-list representation for a new manifest and
        return its manifest fields. Inline (small tables): the plain
        ``files`` list. Columnar (the parent was columnar, or the count
        crossed ``checkpoint_threshold``): concatenate the carried
        checkpoint table with the new entries and write the parquet
        side-file — the carried rows are never parsed or re-serialized."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        carry_is_tbl = not isinstance(carry, list)
        n_carry = carry.num_rows if carry_is_tbl else len(carry)
        columnar = (
            carry_is_tbl
            or self._parent_is_columnar()
            or n_carry + len(entries) >= self.checkpoint_threshold
        )
        if not columnar:
            return {"files": list(carry) + entries}
        bloom_cols = list(bloom_cols)
        parts = []
        if carry_is_tbl:
            parts.append(carry)
        elif carry:
            parts.append(self._entries_to_arrow(carry, stat_cols, bloom_cols))
        if entries:
            new_tbl = self._entries_to_arrow(entries, stat_cols, bloom_cols)
            if parts:
                # Align all-None type PINS with the carried schema
                # per-column, but keep columns the carried side lacks
                # (a new stat/partition column introduced by THIS
                # commit — partition evolution): concat's permissive
                # promote then adds typed nulls on the carried side, so
                # the new files' min__/max__/nulls__/bloom__ stats
                # survive into the child checkpoint instead of being
                # silently dropped (which would permanently disable
                # skipping on exactly the evolved column).
                base_schema = parts[0].schema
                aligned = {}
                for name in new_tbl.column_names:
                    arr = new_tbl.column(name)
                    idx = base_schema.get_field_index(name)
                    if idx >= 0 and arr.type != base_schema.field(idx).type:
                        try:
                            arr = arr.cast(base_schema.field(idx).type)
                        except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
                            pass
                    aligned[name] = arr
                new_tbl = pa.table(aligned)
            parts.append(new_tbl)
        if not parts:
            tbl = self._entries_to_arrow([], stat_cols, bloom_cols)
        elif len(parts) == 1:
            tbl = parts[0]
        else:
            tbl = pa.concat_tables(parts, promote_options="permissive")
        rel = self._ckpt_rel(version, commit.writer_token())
        pq.write_table(tbl, os.path.join(self.root, rel))
        return {"files_ckpt": rel, "num_files": tbl.num_rows}

    def _drop_ckpt(self, fields: dict) -> None:
        """Best-effort removal of a manifest's checkpoint side-file
        after a LOST commit race (ours is writer-unique, so this can
        never touch the winner's)."""
        rel = fields.get("files_ckpt")
        if rel:
            try:
                os.remove(os.path.join(self.root, rel))
            except FileNotFoundError:
                pass

    def history_df(self) -> DataFrame:
        """The snapshot history AS A RELATION (Iceberg's ``snapshots``
        metadata table / Delta's DESCRIBE HISTORY): one row per
        retained version with operation, file/row accounting, and
        schema — queryable like any DataFrame."""
        rows = []
        for v in self.versions():
            m = self.manifest(v)
            if "files_ckpt" in m:
                import pyarrow.compute as pc

                tbl = self._entries_arrow(m)
                n_files = tbl.num_rows
                n_rows = int(pc.sum(tbl.column("rows")).as_py() or 0)
                n_bytes = int(pc.sum(tbl.column("bytes")).as_py() or 0)
            else:
                n_files = len(m["files"])
                n_rows = sum(e["rows"] for e in m["files"])
                n_bytes = sum(e["bytes"] for e in m["files"])
            rows.append(
                (
                    v,
                    m["operation"],
                    m.get("parent", 0),
                    n_files,
                    n_rows,
                    n_bytes,
                    "files_ckpt" in m,
                    m["schema"],
                    json.dumps(m.get("txns", {}), sort_keys=True),
                )
            )
        return local_frame(
            self.spark, rows,
            "version int, operation string, parent int, n_files int, "
            "n_rows bigint, n_bytes bigint, columnar boolean, "
            "schema string, txns string",
        )

    def files_df(self, version: int | None = None) -> DataFrame:
        """The manifest AS A DATAFRAME (path, rows, bytes, stats_json,
        min__*/max__*/nulls__*/bloom__* columns) — the queryable
        metadata relation Iceberg exposes as the `.files` metadata
        table. Columnar manifests read the checkpoint parquet directly;
        inline ones go through an in-memory conversion."""
        m = self.manifest(version)
        if "files_ckpt" in m:
            return self.spark.read.parquet(
                os.path.join(self.root, m["files_ckpt"])
            )
        tbl = self._entries_arrow(m)
        return self.spark.createDataFrame(tbl)

    # -- reads ---------------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame:
        """Time-travel read: exactly the files of manifest ``version``."""
        m = self.manifest(version)
        return self._read_files(m, self._paths(m))

    def _prune_range(self, m: dict, col: str, lo, hi):
        """File-level range pruning -> (keep_paths, info). Either end
        may be None (open). Inline manifests walk the dict list;
        columnar ones compare the typed ``min__/max__`` checkpoint
        arrays — no JSON is parsed however many files the table has."""
        if "files_ckpt" not in m:
            keep, skipped_rows = [], 0
            for e in m["files"]:
                st = e["stats"].get(col)
                if st is None or st["min"] is None:  # no stats -> scan
                    keep.append(e)
                elif (lo is None or st["max"] >= lo) and (
                    hi is None or st["min"] <= hi
                ):
                    keep.append(e)
                else:
                    skipped_rows += e["rows"]
            return [e["path"] for e in keep], {
                "files_total": len(m["files"]),
                "files_scanned": len(keep),
                "rows_skipped": skipped_rows,
            }
        import pyarrow.compute as pc

        tbl = self._entries_arrow(m)
        n_total = tbl.num_rows
        if f"min__{col}" not in set(tbl.column_names):  # no stats: scan all
            return tbl.column("path").to_pylist(), {
                "files_total": n_total,
                "files_scanned": n_total,
                "rows_skipped": 0,
            }
        mn, mx = tbl.column(f"min__{col}"), tbl.column(f"max__{col}")
        # vectorized mask; only SURVIVING paths are materialized to
        # Python — the pruning pass itself never leaves arrow arrays
        in_range = pc.is_valid(mn)
        if lo is not None:
            in_range = pc.and_(in_range, pc.greater_equal(mx, lo))
        if hi is not None:
            in_range = pc.and_(in_range, pc.less_equal(mn, hi))
        keep_mask = pc.or_kleene(pc.is_null(mn), in_range)
        kept = tbl.filter(keep_mask)
        total_rows = pc.sum(tbl.column("rows")).as_py() or 0
        kept_rows = pc.sum(kept.column("rows")).as_py() or 0
        return kept.column("path").to_pylist(), {
            "files_total": n_total,
            "files_scanned": kept.num_rows,
            "rows_skipped": int(total_rows - kept_rows),
        }

    def _prune_point(self, m: dict, col: str, value):
        """Bloom-filter point pruning -> (keep_paths, info)."""
        probes = set(_bloom_positions(value))
        if "files_ckpt" not in m:
            keep, skipped_rows = [], 0
            for e in m["files"]:
                bl = e["stats"].get(f"bloom:{col}")
                if bl is None:  # no bloom recorded -> must scan
                    keep.append(e)
                elif probes.issubset(set(bl["bits"])):
                    keep.append(e)
                else:
                    skipped_rows += e["rows"]
            return [e["path"] for e in keep], {
                "files_total": len(m["files"]),
                "files_scanned": len(keep),
                "rows_skipped": skipped_rows,
            }
        tbl = self._entries_arrow(m)
        paths = tbl.column("path").to_pylist()
        rows = tbl.column("rows").to_pylist()
        if f"bloom__{col}" not in set(tbl.column_names):
            return paths, {
                "files_total": len(paths),
                "files_scanned": len(paths),
                "rows_skipped": 0,
            }
        blooms = tbl.column(f"bloom__{col}").to_pylist()
        keep_paths, skipped_rows = [], 0
        for p, r, bits in zip(paths, rows, blooms):
            if bits is None or probes.issubset(set(bits)):
                keep_paths.append(p)
            else:
                skipped_rows += r
        return keep_paths, {
            "files_total": len(paths),
            "files_scanned": len(keep_paths),
            "rows_skipped": skipped_rows,
        }

    def scan(self, col: str, lo, hi, version: int | None = None):
        """Range scan with manifest-level data skipping: return
        ``(DataFrame, info)`` where the DataFrame's file list was pruned
        to manifest entries whose [min, max] on ``col`` intersects
        [lo, hi] — Spark never receives the skipped paths, so at scale
        neither scheduler nor object store hears about them. ``info``
        records {files_total, files_scanned, rows_skipped}. The
        predicate is ALSO applied to the surviving rows (file stats are
        necessary, not sufficient)."""
        m = self.manifest(version)
        keep_paths, info = self._prune_range(
            m, self._physical(m, col), lo, hi
        )
        df = self._read_files(m, keep_paths)
        return df.filter(F.col(col).between(lo, hi)), info

    def scan_point(self, col: str, value, version: int | None = None):
        """Point lookup with per-file BLOOM pruning (the Iceberg/Delta
        bloom-skipping path for equality predicates on columns the file
        layout is NOT clustered by, where min/max is useless): a file
        is read only if ALL k probe bits of the needle are set in its
        manifest bloom. False positives are possible (and deterministic
        — the q464 oracle replays them); false negatives are not.
        Returns (DataFrame filtered to ``col == value``, info)."""
        m = self.manifest(version)
        keep_paths, info = self._prune_point(
            m, self._physical(m, col), value
        )
        df = self._read_files(m, keep_paths)
        return df.filter(F.col(col) == value), info

    def scan_where(self, preds: list[tuple], version: int | None = None):
        """Composed file pruning: ``preds`` is a list of
        ``(col, "=", v)`` / ``(col, "between", lo, hi)`` /
        ``(col, "bloom", v)`` predicates; a file survives only if EVERY
        predicate admits it (partition equality, min/max range, and
        Bloom membership all compose — the hive-partition + stats +
        bloom stack of a lakehouse scan). Returns ``(DataFrame filtered
        to the conjunction, info)``."""
        m = self.manifest(version)
        keep: set[str] | None = None
        total = self._num_files(m)
        for p in preds:
            col, op = p[0], p[1]
            phys = self._physical(m, col)
            if op == "=":
                paths, _ = self._prune_range(m, phys, p[2], p[2])
            elif op == "between":
                paths, _ = self._prune_range(m, phys, p[2], p[3])
            elif op == "bloom":
                paths, _ = self._prune_point(m, phys, p[2])
            else:
                raise ValueError(f"unknown predicate op {op!r}")
            keep = set(paths) if keep is None else keep & set(paths)
        keep_paths = sorted(keep if keep is not None else self._paths(m))
        df = self._read_files(m, keep_paths)
        cond = F.lit(True)
        for p in preds:
            col, op = p[0], p[1]
            if op == "between":
                cond = cond & F.col(col).between(p[2], p[3])
            else:  # "=" and "bloom" both mean equality row-level
                cond = cond & (F.col(col) == p[2])
        info = {
            "files_total": total,
            "files_scanned": len(keep_paths),
            "rows_skipped": self._rows_skipped(m, set(keep_paths)),
        }
        return df.filter(cond), info

    def _rows_skipped(self, m: dict, keep: set[str]) -> int:
        if not keep and "files_ckpt" in m:
            import pyarrow.compute as pc

            tbl = self._entries_arrow(m)
            return int(pc.sum(tbl.column("rows")).as_py() or 0)
        if "files_ckpt" not in m:
            return sum(
                e["rows"] for e in m["files"] if e["path"] not in keep
            )
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        tbl = pq.read_table(
            os.path.join(self.root, m["files_ckpt"]),
            columns=["path", "rows"],
        )
        mask = pc.is_in(tbl.column("path"), value_set=pa.array(sorted(keep)))
        skipped = tbl.filter(pc.invert(mask))
        return int(pc.sum(skipped.column("rows")).as_py() or 0)

    def scan_planned(self, col: str, lo, hi, version: int | None = None):
        """Range scan whose PRUNING RUNS AS A SPARK JOB over the
        manifest checkpoint (``files_df`` filtered on the typed stat
        columns) instead of any driver-side pass — the planning path
        for tables whose metadata itself is big enough to distribute
        (Delta reads its checkpoint exactly this way). Driver memory is
        O(surviving files), not O(table files). Semantics identical to
        ``scan``."""
        m = self.manifest(version)
        fdf = self.files_df(version)
        phys = self._physical(m, col)
        if f"min__{phys}" not in fdf.columns:
            keep_paths = self._paths(m)
            info = {
                "files_total": len(keep_paths),
                "files_scanned": len(keep_paths),
                "rows_skipped": 0,
            }
        else:
            keep_cond = (
                F.col(f"min__{phys}").isNull()
                | (
                    (F.col(f"max__{phys}") >= lo)
                    & (F.col(f"min__{phys}") <= hi)
                )
            )
            agg = fdf.agg(
                F.count(F.lit(1)).alias("files_total"),
                F.sum(
                    F.when(~keep_cond, F.col("rows")).otherwise(F.lit(0))
                ).alias("rows_skipped"),
            ).first()
            kept = fdf.filter(keep_cond).select("path").collect()
            keep_paths = [r["path"] for r in kept]
            info = {
                "files_total": agg["files_total"],
                "files_scanned": len(keep_paths),
                "rows_skipped": int(agg["rows_skipped"] or 0),
            }
        df = self._read_files(m, keep_paths)
        return df.filter(F.col(col).between(lo, hi)), info

    def scan_where_planned(
        self, preds: list[tuple], version: int | None = None
    ):
        """``scan_where`` whose COMPOSED pruning runs as ONE Spark job
        over the manifest checkpoint (round 10, completing the
        O(survivors)-driver-memory planning plane): partition equality,
        min/max range, and Bloom membership evaluate as a single
        conjunctive filter on ``files_df``'s typed stat columns —
        however many predicates, the metadata pass is one job and the
        driver only ever materializes surviving paths. Semantics
        identical to ``scan_where``."""
        m = self.manifest(version)
        fdf = self.files_df(version)
        cols = set(fdf.columns)
        keep_cond = F.lit(True)
        for p in preds:
            col, op = p[0], p[1]
            phys = self._physical(m, col)
            if op in ("=", "between"):
                lo = p[2]
                hi = p[2] if op == "=" else p[3]
                if f"min__{phys}" not in cols:
                    continue  # no stats: predicate cannot prune
                keep_cond = keep_cond & (
                    F.col(f"min__{phys}").isNull()
                    | (
                        (F.col(f"max__{phys}") >= lo)
                        & (F.col(f"min__{phys}") <= hi)
                    )
                )
            elif op == "bloom":
                if f"bloom__{phys}" not in cols:
                    continue
                probes = _bloom_positions(p[2])
                bits = F.col(f"bloom__{phys}")
                member = F.lit(True)
                for b in probes:
                    member = member & F.array_contains(bits, b)
                keep_cond = keep_cond & (bits.isNull() | member)
            else:
                raise ValueError(f"unknown predicate op {op!r}")
        agg = fdf.agg(
            F.count(F.lit(1)).alias("files_total"),
            F.sum(
                F.when(~keep_cond, F.col("rows")).otherwise(F.lit(0))
            ).alias("rows_skipped"),
        ).first()
        keep_paths = sorted(
            r["path"]
            for r in fdf.filter(keep_cond).select("path").collect()
        )
        df = self._read_files(m, keep_paths)
        cond = F.lit(True)
        for p in preds:
            col, op = p[0], p[1]
            if op == "between":
                cond = cond & F.col(col).between(p[2], p[3])
            else:
                cond = cond & (F.col(col) == p[2])
        info = {
            "files_total": agg["files_total"],
            "files_scanned": len(keep_paths),
            "rows_skipped": int(agg["rows_skipped"] or 0),
        }
        return df.filter(cond), info

    # -- column mapping (stable-ID rename/drop/widen; Delta's "name"
    #    mode: data files address columns by immutable PHYSICAL names,
    #    the manifest maps logical -> physical, so rename/drop/widen
    #    are metadata-only commits that never rewrite a file) ----------------

    def _fields(self, m: dict) -> list[dict]:
        """The manifest's field records [{id, name, physical, type}].
        Legacy manifests (pre-column-mapping) synthesize physical ==
        logical from the schema DDL."""
        if "fields" in m:
            return m["fields"]
        return [
            {
                "id": i + 1,
                "name": f.name,
                "physical": f.name,
                "type": f.dataType.simpleString(),
            }
            for i, f in enumerate(T.StructType.fromDDL(m["schema"]).fields)
        ]

    def _physical(self, m: dict, logical: str) -> str:
        for f in self._fields(m):
            if f["name"] == logical:
                return f["physical"]
        raise KeyError(f"snaptable {self.root}: no column {logical!r}")

    @staticmethod
    def _logical_ddl(fields: list[dict]) -> str:
        return ", ".join(f"{f['name']} {f['type']}" for f in fields)

    def _path_dv(self, m: dict) -> list[tuple[str, str]]:
        """(path, dv-or-empty) identity keys of a manifest's entries."""
        dv = self._dv_map(m)
        return [(p, dv.get(p) or "") for p in self._paths(m)]

    def _dv_map(self, m: dict) -> dict:
        """{data path -> deletion-vector side-file rel path} for every
        entry carrying one."""
        if "files_ckpt" not in m:
            return {
                e["path"]: e["dv"] for e in m["files"] if e.get("dv")
            }
        tbl = self._entries_arrow(m)
        if "dv" not in tbl.column_names:
            return {}
        return {
            p: d
            for p, d in zip(
                tbl.column("path").to_pylist(), tbl.column("dv").to_pylist()
            )
            if d
        }

    def _read_files(
        self, m: dict, paths: list[str], dv_map: dict | None = None
    ) -> DataFrame:
        fields = self._fields(m)
        logical = T.StructType.fromDDL(m["schema"])
        if not paths:
            return local_frame(self.spark, [], logical)
        # read by PHYSICAL name at the CURRENT logical type — Spark 4's
        # parquet reader widens int->long / float->double natively, so
        # files written before a widen_column read without rewrite;
        # files missing a later-added physical column surface NULLs
        phys_schema = T.StructType(
            [
                T.StructField(f["physical"], lf.dataType, True)
                for f, lf in zip(fields, logical.fields)
            ]
        )
        if dv_map is None:
            dv_map = self._dv_map(m)
        dv_paths = [p for p in paths if dv_map.get(p)]
        clean_paths = [p for p in paths if not dv_map.get(p)]

        def plain(ps):
            return self.spark.read.schema(phys_schema).parquet(
                *[os.path.join(self.root, p) for p in ps]
            )

        parts = []
        if clean_paths:
            # files without a vector never pay the merge-on-read join
            parts.append(plain(clean_paths))
        if dv_paths:
            # merge-on-read: anti-join the (file, row position) pairs
            # recorded in the deletion vectors — file identity by
            # BASENAME (globally unique via the writer token), position
            # by the parquet scan's own _metadata.row_index
            dv_rels = sorted({dv_map[p] for p in dv_paths})
            # no distinct: the DV writer emits each (fname, pos) once
            # (set-deduped at write time), and an anti-join is
            # insensitive to build-side duplicates anyway
            dvdf = self.spark.read.parquet(
                *[os.path.join(self.root, r) for r in dv_rels]
            ).select(
                F.col("fname").alias("__snap_fname__"),
                F.col("pos").alias("__snap_pos__"),
            )
            parts.append(
                plain(dv_paths)
                .withColumn(
                    "__snap_fname__",
                    F.element_at(
                        F.split(F.col("_metadata.file_path"), "/"), -1
                    ),
                )
                .withColumn("__snap_pos__", F.col("_metadata.row_index"))
                .join(
                    F.broadcast(dvdf),
                    ["__snap_fname__", "__snap_pos__"],
                    "left_anti",
                )
            )
        sel = [F.col(f["physical"]).alias(f["name"]) for f in fields]
        out = parts[0].select(sel)
        for p in parts[1:]:
            out = out.unionByName(p.select(sel))
        return out

    # -- writes --------------------------------------------------------------

    def create(self, df: DataFrame, stat_cols: list[str],
               bucket_col: str | None = None,
               bloom_cols: list[str] | None = None,
               partition_col: str | None = None,
               txn: tuple[str, int] | None = None) -> int:
        """First snapshot. ``bucket_col`` (an integer column) fixes the
        file layout: one data file per distinct bucket value, giving
        deterministic, stats-tight files (the clustered layout a range
        scan wants). ``partition_col`` declares a HIVE-STYLE partition
        column: one file (or one per bucket) per partition value, the
        column auto-joins the stat set so every file's entry records
        its partition value as a degenerate min==max stat — partition
        pruning is then the same manifest skipping machinery, and it
        COMPOSES with range and Bloom pruning (see ``scan_where``).
        New partition values simply appear on append (no registration
        step), and appends may re-spec the partition column without
        rewriting old files — partition evolution, Iceberg-style."""
        if self.versions():
            raise FileExistsError(f"snaptable {self.root}: already exists")
        os.makedirs(self.snap_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)
        stat_cols = list(stat_cols)
        if partition_col and partition_col not in stat_cols:
            stat_cols.append(partition_col)
        return self._commit_new_files(
            df, stat_cols, bucket_col, op="create", carry=[],
            bloom_cols=tuple(bloom_cols or ()),
            partition_col=partition_col,
            txn=txn,
        )

    def append(self, df: DataFrame, bucket_col: str | None = None,
               partition_col: str | None = None,
               txn: tuple[str, int] | None = None) -> int:
        """New snapshot = parent's files + the new files. Retries on a
        lost commit race (the rebase is trivial: appends commute).
        Columnar parents carry their checkpoint TABLE through — the
        append does zero per-carried-file driver work. Passing a
        ``partition_col`` different from the table's current one
        RE-SPECS the partition layout for new files only (partition
        evolution): old files keep pruning on their own recorded
        stats, nothing is rewritten.

        ``txn=(app_id, batch_id)`` makes the append IDEMPOTENT (the
        Delta ``txn`` action; round 10): the manifest records the
        newest batch_id per app_id, and an append whose batch_id is <=
        the recorded one NO-OPS (returns the current version without
        writing) — so a streaming foreachBatch restart that re-delivers
        a batch cannot double-append. The check re-runs inside the
        commit-race retry loop, closing the two-writers-same-batch
        window."""
        m = self.manifest()
        if txn is not None and m.get("txns", {}).get(txn[0], -1) >= txn[1]:
            return m["version"]  # replayed batch: exactly-once no-op
        part = partition_col or m.get("partition_col")
        stat_cols = list(m["stat_cols"])
        if part:
            try:
                part_phys = self._physical(m, part)
            except KeyError:  # partition col introduced by this append
                part_phys = part
            if part_phys not in stat_cols:
                stat_cols.append(part_phys)
        return self._commit_new_files(
            df, stat_cols, bucket_col, op="append",
            carry=self._carry(m),
            bloom_cols=tuple(m.get("bloom_cols", ())),
            partition_col=part,
            txn=txn,
        )

    def _split_by_range(self, m: dict, col: str, lo, hi):
        """Partition a manifest's entries into (carry, rewrite_paths):
        carry = files whose stats PROVE no row hits [lo, hi] (kept in
        whatever representation the manifest uses — the arrow slice for
        columnar, dicts for inline); rewrite_paths = everything else."""
        if "files_ckpt" not in m:
            carry, rewrite = [], []
            for e in m["files"]:
                st = e["stats"].get(col)
                if st is not None and st["min"] is not None and (
                    st["max"] < lo or st["min"] > hi
                ):
                    carry.append(e)
                else:
                    rewrite.append(e)
            return carry, [e["path"] for e in rewrite]
        import pyarrow.compute as pc

        tbl = self._entries_arrow(m)
        if f"min__{col}" not in set(tbl.column_names):
            # no stats: rewrite all
            return tbl.slice(0, 0), tbl.column("path").to_pylist()
        mn, mx = tbl.column(f"min__{col}"), tbl.column(f"max__{col}")
        # carry = provably clean: stats present AND disjoint from [lo, hi]
        carry_mask = pc.and_kleene(
            pc.invert(pc.is_null(mn)),
            pc.or_(pc.less(mx, lo), pc.greater(mn, hi)),
        )
        carry_mask = pc.fill_null(carry_mask, False)
        carry_tbl = tbl.filter(carry_mask)
        rewrite_paths = (
            tbl.filter(pc.invert(carry_mask)).column("path").to_pylist()
        )
        return carry_tbl, rewrite_paths

    def delete_where(self, col: str, lo, hi, mode: str = "cow") -> int:
        """Delete rows with ``col BETWEEN lo AND hi``.

        ``mode="cow"`` (default): copy-on-write — files whose stats
        PROVE no match are carried over untouched; the rest are
        rewritten without the matching rows (dropped entirely if
        emptied).

        ``mode="dv"``: DELETION VECTORS (merge-on-read, the Delta DV /
        Iceberg positional-delete shape) — no data file is rewritten;
        instead the matching rows' (file, row position) pairs are
        recorded in a position table and every read anti-joins them out
        via the parquet scan's own ``_metadata.row_index``. The write
        cost of a delete drops from rewriting whole files to one
        position-table write; reads pay a broadcast anti-join until a
        compact/CoW rewrite materializes the deletes and drops the
        vectors. The position build is FULLY DISTRIBUTED (round 10):
        nothing proportional to deleted rows ever lands on the driver,
        so DV cost is flat in table size — CoW remains preferable only
        when most of a file dies (read-tax, not write-cost, decides)."""
        if mode == "dv":
            return self._delete_where_dv(col, lo, hi)
        if mode != "cow":
            raise ValueError(f"unknown delete mode {mode!r}")
        m = self.manifest()
        carry, rewrite_paths = self._split_by_range(
            m, self._physical(m, col), lo, hi
        )
        if not rewrite_paths:
            return self._commit(
                m["stat_cols"], "delete", carry, [],
                expected_parent=m["version"],
            )
        survivors = self._read_files(m, rewrite_paths).filter(
            ~F.col(col).between(lo, hi)
        )
        # preserve the per-file clustering: one output file per source
        # bucket (bucket id recovered from the file name).
        return self._commit_new_files(
            survivors,
            m["stat_cols"],
            bucket_col=None,
            op="delete",
            carry=carry,
            n_out=len(rewrite_paths),
            bloom_cols=tuple(m.get("bloom_cols", ())),
            expected_parent=m["version"],
        )

    def _positions_scan(
        self, m: dict, cand_paths: list[str], phys: str
    ) -> DataFrame:
        """(fname, pos, __v__=physical column value) over the candidate
        files' RAW rows — positions are file positions, so prior DVs
        must not shift them (they merge later)."""
        fields = self._fields(m)
        logical = T.StructType.fromDDL(m["schema"])
        phys_schema = T.StructType(
            [
                T.StructField(f["physical"], lf.dataType, True)
                for f, lf in zip(fields, logical.fields)
            ]
        )
        abs_paths = [os.path.join(self.root, p) for p in cand_paths]
        return (
            self.spark.read.schema(phys_schema)
            .parquet(*abs_paths)
            .select(
                F.element_at(
                    F.split(F.col("_metadata.file_path"), "/"), -1
                ).alias("fname"),
                F.col("_metadata.row_index").alias("pos"),
                F.col(phys).alias("__v__"),
            )
        )

    def delete_keys(self, col: str, keys: DataFrame) -> int:
        """DELETION-VECTOR delete by KEY SET (round 10 — the dedup
        pipeline's shape: 'drop these N scattered ids'): rows whose
        ``col`` appears in the single-column DataFrame ``keys`` are
        vectored out, merge-on-read, no data file rewritten. The key
        set's [min, max] prunes the candidate files through the
        manifest stats first; the match itself is a broadcast semi-join
        inside the same one-job distributed position build as
        ``delete_where(mode='dv')`` — everything stays executor-side."""
        import pyarrow as pa  # noqa: F401 (columnar-manifest branch)

        m = self.manifest()
        phys = self._physical(m, col)
        kcol = keys.columns[0]
        b = keys.agg(
            F.min(kcol).alias("lo"), F.max(kcol).alias("hi")
        ).first()
        if b["lo"] is None:
            return self._commit(
                m["stat_cols"], "delete_dv", self._carry(m), [],
                expected_parent=m["version"],
            )
        _carry_unused, cand_paths = self._split_by_range(
            m, phys, b["lo"], b["hi"]
        )
        if not cand_paths:
            return self._commit(
                m["stat_cols"], "delete_dv", self._carry(m), [],
                expected_parent=m["version"],
            )
        scan = (
            self._positions_scan(m, cand_paths, phys)
            .join(
                F.broadcast(
                    keys.select(F.col(kcol).alias("__v__")).distinct()
                ),
                "__v__",
                "left_semi",
            )
            .select("fname", "pos")
        )
        return self._finish_dv_commit(m, cand_paths, scan)

    def _delete_where_dv(self, col: str, lo, hi) -> int:
        """Deletion-vector delete (see delete_where): one Spark job
        finds the matching (file basename, row position) pairs in the
        stat-admitted candidate files (existing DV positions merged in,
        so a twice-deleted row is never double-counted), dedupes,
        clusters by file, and writes the merged position table as a
        commit-scoped directory — all executor-side; the new manifest
        repoints the candidates' dv fields. No data file is touched."""
        m = self.manifest()
        phys = self._physical(m, col)
        _carry_unused, cand_paths = self._split_by_range(m, phys, lo, hi)
        if not cand_paths:
            return self._commit(
                m["stat_cols"], "delete_dv", self._carry(m), [],
                expected_parent=m["version"],
            )
        scan = (
            self._positions_scan(m, cand_paths, phys)
            .filter(F.col("__v__").between(lo, hi))
            .select("fname", "pos")
        )
        return self._finish_dv_commit(m, cand_paths, scan)

    def _finish_dv_commit(
        self, m: dict, cand_paths: list[str], scan: DataFrame
    ) -> int:
        """Shared DV-commit tail: merge prior vectors, distributed
        position-table write, manifest repoint (see _delete_where_dv)."""
        import pyarrow as pa

        dv_map = self._dv_map(m)
        old_rels = sorted(
            {dv_map[p] for p in cand_paths if dv_map.get(p)}
        )
        if old_rels:
            old = self.spark.read.parquet(
                *[os.path.join(self.root, r) for r in old_rels]
            ).select("fname", "pos")
            scan = scan.unionByName(old)
        # DISTRIBUTED bitmap build (round 10, retiring the r9
        # small-delete contract): the position set never lands on the
        # driver — dedupe, per-file clustering, and the write all run
        # as ONE Spark job into a position-table directory (hash on
        # fname co-locates each data file's positions; the local sort
        # keeps them ordered for the read join). The only driver-side
        # materialization is ONE ROW PER VECTORED FILE (manifest
        # accounting — the metadata plane, same cost class as the
        # footer-stats pass). DV write cost is therefore flat in table
        # size and proportional only to deleted rows, so mass deletes
        # may use DVs too; CoW remains the right call when most of a
        # file dies (the read-side anti-join tax).
        token = commit.writer_token()
        version = self.latest_version() + 1
        dv_rel = os.path.join(
            _DATA_DIR, f"v{version:08d}-dv-{token}.parquet"
        )
        dv_abs = os.path.join(self.root, dv_rel)
        (
            scan.dropDuplicates(["fname", "pos"])
            .repartition(min(32, max(1, len(cand_paths))), "fname")
            .sortWithinPartitions("fname", "pos")
            .write.mode("overwrite")
            .parquet(dv_abs)
        )
        by_fname = {
            r["fname"]: int(r["n"])
            for r in self.spark.read.parquet(dv_abs)
            .groupBy("fname")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()  # bounded: one row per VECTORED FILE
        }
        if not by_fname:
            # nothing matched after all: metadata-only no-op commit,
            # no empty position table left behind
            import shutil

            shutil.rmtree(dv_abs, ignore_errors=True)
            return self._commit(
                m["stat_cols"], "delete_dv", self._carry(m), [],
                expected_parent=m["version"],
            )

        cand_set = set(cand_paths)
        if "files_ckpt" not in m:
            new_files = []
            for e in m["files"]:
                if e["path"] in cand_set:
                    fn = os.path.basename(e["path"])
                    e = dict(e)
                    if fn in by_fname:
                        e["dv"] = dv_rel
                        e["dv_rows"] = by_fname[fn]
                new_files.append(e)
            carry = new_files
        else:
            import pyarrow.compute as pc

            tbl = self._entries_arrow(m)
            paths_arr = tbl.column("path").to_pylist()
            old_dv = (
                tbl.column("dv").to_pylist()
                if "dv" in tbl.column_names
                else [None] * tbl.num_rows
            )
            old_dvr = (
                tbl.column("dv_rows").to_pylist()
                if "dv_rows" in tbl.column_names
                else [0] * tbl.num_rows
            )
            new_dv, new_dvr = [], []
            for p, d, n in zip(paths_arr, old_dv, old_dvr):
                fn = os.path.basename(p)
                if p in cand_set and fn in by_fname:
                    new_dv.append(dv_rel)
                    new_dvr.append(by_fname[fn])
                else:
                    new_dv.append(d)
                    new_dvr.append(int(n or 0))
            for name, arr in (
                ("dv", pa.array(new_dv, type=pa.string())),
                ("dv_rows", pa.array(new_dvr, type=pa.int64())),
            ):
                if name in tbl.column_names:
                    tbl = tbl.set_column(
                        tbl.column_names.index(name), name, arr
                    )
                else:
                    tbl = tbl.append_column(name, arr)
            carry = tbl
        try:
            return self._commit(
                m["stat_cols"], "delete_dv", carry, [],
                expected_parent=m["version"],
            )
        except ConcurrentCommitError:
            import shutil

            shutil.rmtree(
                os.path.join(self.root, dv_rel), ignore_errors=True
            )
            raise

    def update_where(
        self, col: str, lo, hi, assignments: dict[str, str]
    ) -> int:
        """UPDATE ... SET assignments WHERE ``col BETWEEN lo AND hi``
        (copy-on-write; the Delta UPDATE shape): files whose stats
        PROVE no match carry over untouched, the rest are rewritten
        with each assignment (a SQL expression over the row's logical
        columns) applied to MATCHING rows only. CHECK constraints
        validate the rewritten rows like any data commit."""
        m = self.manifest()
        names = {f["name"] for f in self._fields(m)}
        bad = set(assignments) - names
        if bad:
            raise KeyError(f"no such column(s): {sorted(bad)}")
        carry, rewrite_paths = self._split_by_range(
            m, self._physical(m, col), lo, hi
        )
        if not rewrite_paths:
            return self._commit(
                m["stat_cols"], "update", self._carry(m), [],
                expected_parent=m["version"],
            )
        df = self._read_files(m, rewrite_paths)
        cond = F.col(col).between(lo, hi)
        out = df.select(
            [
                F.when(cond, F.expr(assignments[c]))
                .otherwise(F.col(c))
                .alias(c)
                if c in assignments
                else F.col(c)
                for c in df.columns
            ]
        )
        return self._commit_new_files(
            out, m["stat_cols"], bucket_col=None, op="update",
            carry=carry, n_out=len(rewrite_paths),
            bloom_cols=tuple(m.get("bloom_cols", ())),
            expected_parent=m["version"],
        )

    def restore(self, version: int) -> int:
        """Durable time travel (Delta RESTORE): a NEW commit whose live
        state — entries, schema, fields, constraints — is exactly that
        of ``version``. Data files are immutable and shared, so this is
        metadata-only; history after the restored version stays
        readable (nothing is rolled back destructively). Physical
        column names introduced AFTER the restored version are retired
        so later re-adds can never collide with rolled-back files."""
        target = self.manifest(version)
        cur = self.manifest()
        t_phys = {f["physical"] for f in self._fields(target)}
        retired = sorted(
            set(target.get("retired", []))
            | set(cur.get("retired", []))
            | {
                f["physical"]
                for f in self._fields(cur)
                if f["physical"] not in t_phys
            }
        )
        new_version = cur["version"] + 1
        manifest = {
            "version": new_version,
            "parent": cur["version"],
            "operation": "restore",
            "schema": target["schema"],
            "fields": self._fields(target),
            "retired": retired,
            "stat_cols": target["stat_cols"],
            "bloom_cols": list(target.get("bloom_cols", [])),
            "constraints": dict(target.get("constraints", {})),
            # sink-idempotence state tracks the STREAM, not the data:
            # a restore must not re-open batches already committed
            "txns": dict(cur.get("txns", {})),
        }
        if target.get("partition_col"):
            manifest["partition_col"] = target["partition_col"]
        entry_fields = self._finalize_entries(
            new_version, self._carry(target), [], target["stat_cols"],
            tuple(target.get("bloom_cols", [])),
        )
        manifest.update(entry_fields)
        if self._claim(manifest):
            return new_version
        self._drop_ckpt(entry_fields)
        raise ConcurrentCommitError(
            f"snaptable {self.root}: restore lost a commit race at "
            f"version {new_version}; re-read the table and retry"
        )

    def merge(
        self,
        source: DataFrame,
        key_col: str,
        clauses: list[dict] | None = None,
    ) -> int:
        """MERGE INTO. Without ``clauses``: whole-row upsert — source
        rows whose ``key_col`` matches an existing row replace it; the
        rest insert.

        With ``clauses`` (round 10 — the full conditional MERGE a
        warehouse migration needs): a list evaluated FIRST-MATCH-WINS
        per row, each a dict:

        - ``{"when": "matched", "and": <sql|None>, "action": "update",
          "set": {col: <sql>}}`` — column-subset assignments;
        - ``{"when": "matched", "and": <sql|None>,
          "action": "delete"}``;
        - ``{"when": "not_matched", "and": <sql|None>,
          "action": "insert", "values": {col: <sql>} | None}`` —
          whole source row by default, or explicit assignments.

        Conditions and assignment expressions see the TARGET row's
        columns by name and the SOURCE row's columns as ``src_<col>``
        (for not-matched clauses only ``src_<col>`` exist). A matched
        row hit by no clause keeps its current values; an unmatched
        source row hit by no insert clause is dropped — exactly the
        Delta MERGE contract.

        Copy-on-write with manifest-stats pruning — only files whose
        key range intersects the source's [min, max] are rewritten;
        since matches can only live in those files, unmatched target
        files carry over untouched. The key set / source is broadcast
        (a merge source is small relative to the table; a huge backfill
        would swap this for a shuffled join or a Bloom pre-filter,
        q144's machinery). CHECK constraints validate the rewritten
        rows; CDC surfaces matched-deletes as ordinary delete rows."""
        m = self.manifest()
        b = source.agg(
            F.min(key_col).alias("lo"), F.max(key_col).alias("hi")
        ).first()
        if b["lo"] is None:  # empty source: metadata-only no-op commit
            return self._commit(
                m["stat_cols"], "merge", self._carry(m), [],
                expected_parent=m["version"],
            )
        carry, cand_paths = self._split_by_range(
            m, self._physical(m, key_col), b["lo"], b["hi"]
        )
        existing = self._read_files(m, cand_paths)
        if clauses is None:
            kept = existing.join(
                F.broadcast(source.select(key_col).distinct()),
                on=key_col,
                how="left_anti",
            )
            out = kept.unionByName(source, allowMissingColumns=True)
        else:
            out = self._merge_clauses(existing, source, key_col, clauses)
        return self._commit_new_files(
            out, m["stat_cols"], bucket_col=None, op="merge", carry=carry,
            n_out=max(1, len(cand_paths)),
            bloom_cols=tuple(m.get("bloom_cols", ())),
            expected_parent=m["version"],
        )

    @staticmethod
    def _merge_clauses(
        existing: DataFrame,
        source: DataFrame,
        key_col: str,
        clauses: list[dict],
    ) -> DataFrame:
        """Clause evaluation for conditional MERGE (see ``merge``):
        one broadcast left-outer join classifies target rows, a CASE
        chain picks the first admitting clause per row, per-column
        CASEs apply that clause's assignments; inserts are the
        anti-joined source rows run through the not-matched chain.
        Pure Column algebra — fully SQL-replayable (the q480 oracle)."""
        for cl in clauses:
            w, act = cl.get("when"), cl.get("action")
            if w not in ("matched", "not_matched"):
                raise ValueError(f"bad clause when={w!r}")
            if w == "matched" and act not in ("update", "delete"):
                raise ValueError(f"matched clause action {act!r}")
            if w == "not_matched" and act != "insert":
                raise ValueError(f"not_matched clause action {act!r}")
            if act == "update" and not cl.get("set"):
                raise ValueError("update clause needs a 'set' map")
        tgt_cols = existing.columns
        src_ren = source.select(
            [F.col(c).alias(f"src_{c}") for c in source.columns]
        )
        joined = existing.join(
            F.broadcast(src_ren),
            existing[key_col] == src_ren[f"src_{key_col}"],
            "left_outer",
        )
        is_matched = F.col(f"src_{key_col}").isNotNull()

        # first-match-wins action id per row: -1 = keep untouched
        matched_cl = [
            (i, cl) for i, cl in enumerate(clauses)
            if cl["when"] == "matched"
        ]
        chain = F.when(F.lit(False), F.lit(-1))
        for i, cl in matched_cl:
            cond = is_matched
            if cl.get("and"):
                cond = cond & F.expr(cl["and"])
            chain = chain.when(cond, F.lit(i))
        joined = joined.withColumn(
            "__merge_action__", chain.otherwise(F.lit(-1))
        )
        delete_ids = [
            i for i, cl in matched_cl if cl["action"] == "delete"
        ]
        survivors = joined.filter(
            ~F.col("__merge_action__").isin(delete_ids)
            if delete_ids
            else F.lit(True)
        )
        out_cols = []
        for c in tgt_cols:
            col = F.col(c)
            for i, cl in matched_cl:
                if cl["action"] == "update" and c in cl["set"]:
                    col = F.when(
                        F.col("__merge_action__") == i,
                        F.expr(cl["set"][c]),
                    ).otherwise(col)
            out_cols.append(col.alias(c))
        updated = survivors.select(out_cols)

        ins_cl = [
            (i, cl) for i, cl in enumerate(clauses)
            if cl["when"] == "not_matched"
        ]
        if not ins_cl:
            return updated
        ins_src = src_ren.join(
            existing.select(
                F.col(key_col).alias(f"src_{key_col}")
            ).distinct(),
            on=f"src_{key_col}",
            how="left_anti",
        )
        ichain = F.when(F.lit(False), F.lit(-1))
        for i, cl in ins_cl:
            cond = F.expr(cl["and"]) if cl.get("and") else F.lit(True)
            ichain = ichain.when(cond, F.lit(i))
        ins_src = ins_src.withColumn(
            "__merge_action__", ichain.otherwise(F.lit(-1))
        ).filter(F.col("__merge_action__") >= 0)
        src_names = {f"src_{c}" for c in source.columns}
        tgt_type = {f.name: f.dataType for f in existing.schema.fields}
        ins_cols = []
        for c in tgt_cols:
            default = (
                F.col(f"src_{c}")
                if f"src_{c}" in src_names
                else F.lit(None).cast(tgt_type[c])
            )
            col = default
            for i, cl in ins_cl:
                vals = cl.get("values") or {}
                if c in vals:
                    col = F.when(
                        F.col("__merge_action__") == i, F.expr(vals[c])
                    ).otherwise(col)
            ins_cols.append(col.alias(c))
        inserts = ins_src.select(ins_cols)
        return updated.unionByName(inserts)

    def changes(self, v_from: int, v_to: int) -> DataFrame:
        """Row-level CDC between two versions: inserts = (v_to EXCEPT
        ALL v_from), deletes = (v_from EXCEPT ALL v_to), tagged in a
        ``change_type`` column. Data files are immutable, so files
        common to both manifests cancel WITHOUT being read — only the
        added/removed file sets are scanned (a CoW update surfaces as
        delete+insert; a pure append diff reads just the appended
        files; a compaction diff must read both sides and nets to
        empty — the known CDC cost of rewrites, which is why Delta's
        CDF materializes change files instead)."""
        mf, mt = self.manifest(v_from), self.manifest(v_to)
        # file identity for the diff is (path, deletion vector): a DV
        # commit changes a file's LIVE ROWS without changing its path,
        # so the file shows up on both sides with its two DV states and
        # the multiset difference nets to exactly the deleted rows
        kf = self._path_dv(mf)
        kt = self._path_dv(mt)
        # hoisted sets: the diff is O(n) in file count, not O(n^2) —
        # at the 10^5-10^6-file metadata plane CDC planning must not
        # be quadratic
        kf_set, kt_set = set(kf), set(kt)
        added_k = [k for k in kt if k not in kf_set]
        removed_k = [k for k in kf if k not in kt_set]
        a = self._read_files(
            mt,
            [p for p, _d in added_k],
            dv_map={p: d for p, d in added_k if d},
        )
        r = self._read_files(
            mt,
            [p for p, _d in removed_k],
            dv_map={p: d for p, d in removed_k if d},
        )
        return (
            a.exceptAll(r)
            .withColumn("change_type", F.lit("insert"))
            .unionByName(
                r.exceptAll(a).withColumn("change_type", F.lit("delete"))
            )
        )

    def compact(
        self,
        n_out: int,
        sort_cols: list[str] | None = None,
        zorder_cols: tuple | None = None,
        zbits: int = 8,
        where: tuple | None = None,
    ) -> int:
        """Rewrite current files into ``n_out`` files — logically
        identical snapshot, small-file pathology gone. With
        ``sort_cols`` this is OPTIMIZE: a range repartition + local
        sort clusters the data so each file's min/max on those columns
        is tight again, restoring `scan()`'s pruning power after
        appends/merges scattered the key ranges.

        ``where=(col, lo, hi)`` makes the OPTIMIZE SELECTIVE (round 10
        — Delta's ``OPTIMIZE ... WHERE``): only files whose stats on
        ``col`` INTERSECT [lo, hi] are rewritten; provably-disjoint
        files carry over by path identity (their deletion vectors, if
        any, carry too — only the rewritten subset materializes its
        deletes). Whole files are rewritten, never split by the
        predicate, so the snapshot stays logically identical whatever
        column is used. At 100 TB this is the difference between
        re-clustering the freshly-appended key range and rewriting the
        entire table.

        With ``zorder_cols`` (two OR MORE columns) this is OPTIMIZE
        ZORDER: each column is equal-width bucketed over its global
        [min, max] into 2^zbits buckets (zbits auto-shrinks so the
        n-dim interleave fits a BIGINT), the buckets are Morton
        bit-interleaved (functions/zorder.py — pure codegen, no UDF),
        and rows land in the file addressed by the z-value's HIGH bits
        — so every output file is a z-curve tile whose min/max is
        locally bounded on BOTH dimensions, and ``scan()`` prunes on
        either column afterwards. The file assignment is an exact
        function of (value, global min/max): deterministic and
        replayable by a SQL oracle (unlike repartitionByRange's sampled
        boundaries). n_out is rounded up to a power of two."""
        m = self.manifest()
        if where is not None:
            wcol, wlo, whi = where
            carry, rewrite_paths = self._split_by_range(
                m, self._physical(m, wcol), wlo, whi
            )
            if not rewrite_paths:
                # nothing admitted: metadata-only no-op commit
                return self._commit(
                    m["stat_cols"], "compact", carry, [],
                    expected_parent=m["version"],
                )
            df = self._read_files(m, rewrite_paths)
        else:
            carry = []
            df = self.read()
        layout_col = None
        if zorder_cols:
            if sort_cols:
                raise ValueError("sort_cols and zorder_cols are exclusive")
            from luxo_rs_spark.functions.zorder import equiwidth_bucket, zn

            zcols = list(zorder_cols)
            ndim = len(zcols)
            zbits = min(zbits, 62 // ndim)
            aggs = []
            for c in zcols:
                aggs.extend((F.min(c), F.max(c)))
            bounds = df.agg(*aggs).first()
            buckets = [
                equiwidth_bucket(
                    F.col(c), bounds[2 * j], bounds[2 * j + 1], 1 << zbits
                )
                for j, c in enumerate(zcols)
            ]
            z = zn(buckets, bits=zbits)
            n_pow2 = 1 << max(0, (max(1, n_out) - 1).bit_length())
            shift = max(0, ndim * zbits - (n_pow2.bit_length() - 1))
            layout_col = "__snap_zcluster__"
            df = df.withColumn(layout_col, F.shiftright(z, shift))
            n_out = None
        elif sort_cols:
            df = df.repartitionByRange(
                max(1, n_out), *sort_cols
            ).sortWithinPartitions(*sort_cols)
            n_out = None  # partitioning already fixed by the range split
        return self._commit_new_files(
            df, m["stat_cols"], bucket_col=None, op="compact", carry=carry,
            n_out=n_out, bloom_cols=tuple(m.get("bloom_cols", ())),
            layout_col=layout_col,
            expected_parent=m["version"],
        )

    def _metadata_commit(self, op: str, mutate) -> int:
        """Commit a pure-metadata change: re-read the latest manifest,
        apply ``mutate(base) -> changed fields``, try the exclusive
        create; a lost race REBASES (re-reads, re-applies, revalidates)
        — safe because mutate carries no stale file lists."""
        while True:
            base = self.manifest()
            version = base["version"] + 1
            manifest = dict(
                base, version=version, parent=base["version"], operation=op
            )
            manifest.update(mutate(base))
            if self._claim(manifest):
                return version

    def rename_column(self, old: str, new: str) -> int:
        """Metadata-only column rename (column mapping): the field
        keeps its physical name, so no data file is touched and every
        past version still reads under ITS names. Stats/blooms are
        keyed by physical name, so data skipping on the renamed column
        keeps working untouched."""

        def mutate(base: dict) -> dict:
            fields = [dict(f) for f in self._fields(base)]
            names = {f["name"] for f in fields}
            if old not in names:
                raise KeyError(f"no column {old!r}")
            if new in names:
                raise ValueError(f"column {new!r} already exists")
            for sql in base.get("constraints", {}).values():
                import re

                if re.search(rf"\b{re.escape(old)}\b", sql):
                    raise ValueError(
                        f"cannot rename {old!r}: referenced by a CHECK "
                        f"constraint ({sql!r}); drop the constraint first"
                    )
            for f in fields:
                if f["name"] == old:
                    f["name"] = new
            return {
                "fields": fields,
                "schema": self._logical_ddl(fields),
                "retired": list(base.get("retired", [])),
            }

        return self._metadata_commit("rename_column", mutate)

    def drop_column(self, name: str) -> int:
        """Metadata-only column drop: the field leaves the schema, its
        physical name is RETIRED so a later re-add of the same logical
        name maps to a fresh physical — old files' values never
        resurface. Time travel to pre-drop versions still sees the
        column."""

        def mutate(base: dict) -> dict:
            fields = [dict(f) for f in self._fields(base)]
            victim = [f for f in fields if f["name"] == name]
            if not victim:
                raise KeyError(f"no column {name!r}")
            if len(fields) == 1:
                raise ValueError("cannot drop the only column")
            for sql in base.get("constraints", {}).values():
                import re

                if re.search(rf"\b{re.escape(name)}\b", sql):
                    raise ValueError(
                        f"cannot drop {name!r}: referenced by a CHECK "
                        f"constraint ({sql!r}); drop the constraint first"
                    )
            fields = [f for f in fields if f["name"] != name]
            retired = list(base.get("retired", []))
            retired.append(victim[0]["physical"])
            return {
                "fields": fields,
                "schema": self._logical_ddl(fields),
                "retired": retired,
            }

        return self._metadata_commit("drop_column", mutate)

    #: metadata-only type widenings the parquet scan performs natively
    #: (probed on Spark 4: int32 files read under a bigint schema, etc.)
    _WIDENINGS = {
        "tinyint": {"smallint", "int", "bigint"},
        "smallint": {"int", "bigint"},
        "int": {"bigint"},
        "float": {"double"},
    }

    def widen_column(self, name: str, new_type: str) -> int:
        """Metadata-only type widening (int->bigint, float->double,
        …): old files keep their narrow physical type and the scan
        up-casts at read — no rewrite, the Delta type-widening table
        feature."""

        def mutate(base: dict) -> dict:
            fields = [dict(f) for f in self._fields(base)]
            fld = next((f for f in fields if f["name"] == name), None)
            if fld is None:
                raise KeyError(f"no column {name!r}")
            allowed = self._WIDENINGS.get(fld["type"], set())
            if new_type not in allowed:
                raise ValueError(
                    f"cannot widen {name!r} {fld['type']} -> {new_type}; "
                    f"allowed: {sorted(allowed) or 'none'}"
                )
            fld["type"] = new_type
            return {
                "fields": fields,
                "schema": self._logical_ddl(fields),
                "retired": list(base.get("retired", [])),
            }

        return self._metadata_commit("widen_column", mutate)

    def add_constraint(self, name: str, check_sql: str) -> int:
        """Register a CHECK constraint (a boolean SQL expression over
        the table's columns) as a metadata-only commit. Every
        subsequent data commit validates the incoming rows and REFUSES
        the write if any violate — the invariant never reaches disk
        (Delta's table-constraints feature). Existing rows are
        validated now: adding a constraint the current data violates
        fails without committing."""
        while True:
            # re-read, re-merge, and re-VALIDATE per attempt: a lost
            # race means new data may have landed since the last check
            base = self.manifest()
            bad = (
                self.read(base["version"])
                .filter(f"NOT ({check_sql})")
                .limit(1)
                .count()
            )
            if bad:
                raise ValueError(
                    f"constraint {name!r} violated by existing rows"
                )
            cons = dict(base.get("constraints", {}))
            cons[name] = check_sql
            version = base["version"] + 1
            manifest = dict(
                base,
                version=version,
                parent=base["version"],
                operation="add_constraint",
                constraints=cons,
            )
            if self._claim(manifest):
                return version

    def _constraints(self) -> dict:
        try:
            return dict(self.manifest().get("constraints", {}))
        except FileNotFoundError:
            return {}

    def _validate_constraints(self, df: DataFrame) -> None:
        try:
            cons = self.manifest().get("constraints", {})
        except FileNotFoundError:
            return
        for name, check_sql in cons.items():
            if df.filter(f"NOT ({check_sql})").limit(1).count():
                raise ValueError(
                    f"write rejected: CHECK constraint {name!r} "
                    f"({check_sql}) violated"
                )

    def vacuum(self, retain_versions: int = 1) -> dict:
        """Garbage-collect: keep the newest ``retain_versions``
        manifests, delete every data file referenced ONLY by older
        ones, then drop those manifests. Time travel shrinks to the
        retained window — the standard retention trade (Delta VACUUM /
        Iceberg expire_snapshots). Readers of retained versions are
        unaffected because their file lists are untouched."""
        vs = self.versions()
        if retain_versions < 1:
            raise ValueError("must retain at least the latest version")
        keep_vs = vs[-retain_versions:]
        keep_files = set()
        for v in keep_vs:
            mv = self.manifest(v)
            keep_files.update(self._paths(mv))
            keep_files.update(self._dv_map(mv).values())
        latest = vs[-1]
        removed_files = 0
        for fn in sorted(os.listdir(self.data_dir)):
            rel = os.path.join(_DATA_DIR, fn)
            full = os.path.join(self.data_dir, fn)
            if not (fn.endswith(".parquet") and rel not in keep_files):
                continue
            # In-flight commits rename their data files into data/
            # BEFORE their manifest lands, named v{target_version}-…
            # where target_version > latest. Deleting those would race
            # a concurrent writer into a manifest referencing missing
            # files — skip anything addressed past the latest snapshot.
            try:
                file_v = int(fn[1:9]) if fn.startswith("v") else 0
            except ValueError:
                file_v = 0
            if file_v > latest:
                continue
            if os.path.isdir(full):  # DV position-table directories
                import shutil

                shutil.rmtree(full, ignore_errors=True)
            else:
                os.remove(full)
            removed_files += 1
        keep_ckpts = {
            self.manifest(v).get("files_ckpt") for v in keep_vs
        } - {None}
        removed_manifests = 0
        for v in vs:
            if v not in keep_vs:
                os.remove(self._manifest_path(v))
                removed_manifests += 1
        # columnar checkpoints die with their manifests; orphans from
        # LOST commit races (side-file written, manifest never landed)
        # are collected too — but only at versions <= latest, an
        # in-flight writer's side-file (version > latest) is spared
        # for the same reason as its data files above.
        for fn in sorted(os.listdir(self.snap_dir)):
            if not fn.endswith(".files.parquet"):
                continue
            rel = os.path.join(_SNAP_DIR, fn)
            if rel in keep_ckpts:
                continue
            try:
                v = int(fn[1:9])
            except ValueError:
                continue
            if v <= latest:
                os.remove(os.path.join(self.snap_dir, fn))
        return {
            "removed_files": removed_files,
            "removed_manifests": removed_manifests,
            "retained_versions": keep_vs,
        }

    # -- commit machinery ----------------------------------------------------

    def _commit_new_files(
        self,
        df: DataFrame,
        stat_cols: list[str],
        bucket_col: str | None,
        op: str,
        carry: list[dict],
        n_out: int | None = None,
        bloom_cols: tuple = (),
        layout_col: str | None = None,
        partition_col: str | None = None,
        expected_parent: int | None = None,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Stage data files (``commit.stage``), read their footer stats
        on the driver (``_collect_stats``), then run the optimistic
        commit loop: move the files to their final names, claim the
        manifest (``commit.claim``), and on a lost race act as the
        contract in ``sources/commit.py`` says. Data files are written
        with PHYSICAL column names (column mapping): the incoming
        DataFrame carries logical names; renames here never touch data
        on disk.
        ``layout_col`` names a LAYOUT-ONLY column of ``df`` (e.g. the
        z-cluster id): it drives the one-file-per-value split but is
        stripped from the written data and the schema.

        ``expected_parent`` (required for non-commutative ops —
        delete/update/merge/compact): the manifest version the caller
        computed its carry/rewrite sets against. The stage-write Spark
        job above can run for minutes; a racer committing during that
        window would otherwise let our exclusive create succeed at
        racer_version+1 with a STALE carry, silently dropping the
        racer's files (lost update). Checked before the version is
        claimed — same contract as ``_commit``."""
        data_df = df.drop(layout_col) if layout_col else df
        self._validate_constraints(data_df)
        base_m = None if op == "create" else self.manifest()
        fields, retired = self._evolve_fields(data_df, base_m)
        phys_of = {f["name"]: f["physical"] for f in fields}
        pinned = {
            f["name"]: f["physical"]
            for f in fields
            if base_m is None
            or f["name"] not in {g["name"] for g in self._fields(base_m)}
        }
        sel = [F.col(c).alias(phys_of.get(c, c)) for c in data_df.columns]
        if layout_col:
            sel.append(F.col(layout_col))
        wdf = df.select(sel)
        split_by = []
        if layout_col is not None:
            # one file per distinct layout value; partitionBy strips the
            # layout column from the written data
            split_by = [layout_col]
        elif bucket_col is not None or partition_col is not None:
            # all rows of a (partition, bucket) pair land in one task
            # (hash on the keys) -> exactly one file per directory,
            # whatever the task count — no distinct-count pre-job
            # needed. SHADOWS of the layout columns drive partitionBy so
            # the real columns survive inside the data files
            # (partitionBy strips its columns into the directory name).
            for col, shadow in (
                (partition_col, "__snap_part__"),
                (bucket_col, "__snap_bucket__"),
            ):
                if col is not None:
                    wdf = wdf.withColumn(
                        shadow, F.col(phys_of.get(col, col))
                    )
                    split_by.append(shadow)
        elif n_out is not None:
            wdf = wdf.repartition(max(1, n_out))

        # final names v{version}-{i}-{token}.parquet, assigned in the
        # stage's sorted order. The version is unknown until the claim
        # wins, so files move back to the stage after a lost race. The
        # stage token makes the names writer-unique: racing writers
        # never address the same path.
        with commit.stage(wdf, self.data_dir, split_by) as (token, staged):
            staged = [path for path, _hive in staged]
            file_stats = self._collect_stats(staged, stat_cols, bloom_cols)
            while True:
                version = self.latest_version() + 1
                if txn is not None and version > 1:
                    # re-check idempotence against the CURRENT latest: a
                    # racing writer of the SAME app may have landed this
                    # batch while we were staging
                    cur_txns = self.manifest().get("txns", {})
                    if cur_txns.get(txn[0], -1) >= txn[1]:
                        return version - 1
                if (
                    expected_parent is not None
                    and version - 1 != expected_parent
                ):
                    # a racer landed while we were staging: the carry set
                    # is stale even though the exclusive create would
                    # succeed
                    raise ConcurrentCommitError(
                        f"snaptable {self.root}: {op} based on version "
                        f"{expected_parent} but latest is {version - 1}; "
                        f"re-read the table and retry"
                    )
                entries = []
                moved = []
                for i, (src, fstats) in enumerate(zip(staged, file_stats)):
                    rel = os.path.join(
                        _DATA_DIR, f"v{version:08d}-{i:05d}-{token}.parquet"
                    )
                    dst = os.path.join(self.root, rel)
                    os.replace(src, dst)
                    moved.append((dst, src))
                    entries.append({"path": rel, **fstats})
                if op != "create":
                    # recompute evolution against the CURRENT latest (an
                    # append retry may follow a racer's schema change);
                    # our new columns' physicals are pinned to what we
                    # wrote
                    fields, retired = self._evolve_fields(
                        data_df, self.manifest(), pinned
                    )
                txns = (
                    {} if op == "create"
                    else dict(self.manifest().get("txns", {}))
                )
                if txn is not None:
                    txns[txn[0]] = txn[1]
                manifest = {
                    "version": version,
                    "parent": version - 1 if op != "create" else 0,
                    "operation": op,
                    "schema": self._logical_ddl(fields),
                    "fields": fields,
                    "retired": retired,
                    "stat_cols": stat_cols,
                    "bloom_cols": list(bloom_cols),
                    "constraints": self._constraints(),
                    "txns": txns,
                }
                part = partition_col or (base_m or {}).get("partition_col")
                if part:
                    manifest["partition_col"] = part
                entry_fields = self._finalize_entries(
                    version, carry, entries, stat_cols, bloom_cols
                )
                manifest.update(entry_fields)
                if self._claim(manifest):
                    return version
                # lost the race: drop our side-file for the lost
                # version, put the files back on stage, then decide.
                self._drop_ckpt(entry_fields)
                for dst, src in moved:
                    os.replace(dst, src)
                if op == "append":
                    # appends commute: rebase the carry list onto the
                    # new latest and retry.
                    carry = self._carry(self.manifest())
                elif op == "create":
                    raise FileExistsError(
                        f"snaptable {self.root}: concurrently created"
                    )
                else:
                    # delete/merge/compact computed carry+rewrite against
                    # a manifest that is no longer latest; retrying
                    # would drop the winner's files (lost update).
                    raise ConcurrentCommitError(
                        f"snaptable {self.root}: {op} lost a commit race "
                        f"at version {version}; re-read the table and "
                        f"retry"
                    )

    def _commit(
        self, stat_cols, op, carry, entries,
        expected_parent: int | None = None,
    ) -> int:
        """Metadata-only commit (no new data files). The carry list was
        computed against the manifest read by the CALLER, so a lost
        race means that basis is stale — raise, don't silently retry
        (same lost-update hazard as the data-commit path).
        ``expected_parent`` closes the read-recheck window: if a racer
        landed between the caller's manifest read and this commit, the
        basis is stale even though the exclusive create would succeed."""
        base = self.manifest()
        if expected_parent is not None and base["version"] != expected_parent:
            raise ConcurrentCommitError(
                f"snaptable {self.root}: {op} based on version "
                f"{expected_parent} but latest is {base['version']}; "
                f"re-read the table and retry"
            )
        version = base["version"] + 1
        manifest = {
            "version": version,
            "parent": base["version"],
            "operation": op,
            "schema": base["schema"],
            "fields": self._fields(base),
            "retired": list(base.get("retired", [])),
            "stat_cols": stat_cols,
            "bloom_cols": list(base.get("bloom_cols", [])),
            "constraints": self._constraints(),
            "txns": dict(base.get("txns", {})),
        }
        if base.get("partition_col"):
            manifest["partition_col"] = base["partition_col"]
        entry_fields = self._finalize_entries(
            version, carry, entries, stat_cols,
            tuple(base.get("bloom_cols", [])),
        )
        manifest.update(entry_fields)
        if self._claim(manifest):
            return version
        self._drop_ckpt(entry_fields)
        raise ConcurrentCommitError(
            f"snaptable {self.root}: {op} lost a commit race at "
            f"version {version}; re-read the table and retry"
        )

    def _claim(self, manifest: dict) -> bool:
        """Claim ``manifest``'s version: the exclusive create of its
        JSON (``commit.claim``). False when a racer holds it."""
        return commit.claim(
            self._manifest_path(manifest["version"]),
            json.dumps(manifest, sort_keys=True),
        )

    def _evolve_fields(
        self, df: DataFrame, base_m: dict | None, pinned: dict | None = None
    ):
        """Field records for a commit of ``df`` on top of ``base_m``:
        existing fields unchanged, new columns appended (add-column
        evolution) with a physical name that never collides with a
        live OR RETIRED physical — a re-added column after a drop gets
        a fresh physical, so old files' values do not resurface.
        ``pinned`` fixes physicals for new columns already written to
        staged data files (the append-retry path)."""
        if base_m is None:
            fields, retired = [], []
        else:
            fields = [dict(f) for f in self._fields(base_m)]
            retired = list(base_m.get("retired", []))
        used_phys = {f["physical"] for f in fields} | set(retired)
        names = {f["name"] for f in fields}
        next_id = max((f["id"] for f in fields), default=0) + 1
        for sf in df.schema.fields:
            if sf.name in names:
                continue
            phys = (pinned or {}).get(sf.name)
            if phys is None:
                phys = (
                    sf.name
                    if sf.name not in used_phys
                    else f"{sf.name}__{next_id}"
                )
            elif phys in used_phys:
                raise ConcurrentCommitError(
                    f"snaptable {self.root}: column {sf.name!r} evolved "
                    f"concurrently; re-read the table and retry"
                )
            fields.append(
                {
                    "id": next_id,
                    "name": sf.name,
                    "physical": phys,
                    "type": sf.dataType.simpleString(),
                }
            )
            used_phys.add(phys)
            next_id += 1
        return fields, retired

    def _collect_stats(
        self, paths: list[str], stat_cols: list[str], bloom_cols: tuple = ()
    ) -> list[dict]:
        """rows/bytes/stats of each staged data file, read on the driver:
        footer min/max/null counts of ``stat_cols`` (``sources.footer``)
        plus, per ``bloom_cols`` column, a Bloom filter over its values
        (the one data read a stats commit pays — the same cost class as
        Parquet's own bloom writing)."""
        import pyarrow.parquet as pq

        out = []
        for path in paths:
            rows, folded = footer_stats(path, stat_cols)
            stats: dict = {
                c: {k: _json_safe(v) for k, v in st.items()}
                for c, st in folded.items()
            }
            pf = pq.ParquetFile(path) if bloom_cols else None
            for col in bloom_cols:
                if col not in pf.schema_arrow.names:
                    continue
                values = pf.read(columns=[col]).column(col).to_pylist()
                texts = {f"{v}" for v in values if v is not None}
                bits = {b for t in texts for b in _bloom_positions(t)}
                stats[f"bloom:{col}"] = {
                    "m": _BLOOM_BITS, "k": _BLOOM_K, "bits": sorted(bits),
                }
            out.append(
                {"rows": rows, "bytes": os.path.getsize(path), "stats": stats}
            )
        return out
