"""Engine: session bootstrap, catalog veneer, and query observability.

The reference's sole working behavior is its entry point: install a
structured-logging subscriber with file/line context and start up
(reference src/main.rs:12-22, "a database engine that sheds light on any
query", src/main.rs:3). The Spark-first equivalent of that intent:

- session bootstrap with scale-sane defaults (AQE on, skew-join handling,
  Arrow for pandas UDFs, pinned UTC timezone for deterministic time math)
- a catalog veneer that registers the fixture tables as views
- first-class explainability: ``explain_str()`` / ``plan_report()``
  render and audit the physical plan, standing in for the reference's
  per-event file:line tracing (src/main.rs:14-19)

Scale notes (100 TB / 1000 executors): the configs below are expressed as
ratios, not absolutes — ``shuffle.partitions`` is sized for local[32] test
runs but AQE coalescing makes the number a ceiling, not a constant; on a
real cluster you raise it to ~2-3x total cores and let AQE coalesce.
Nothing in the engine holds driver-side data.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from luxo_rs_spark.functions.fnv1a import register_fnv1a64
from luxo_rs_spark.sources.registry import (
    TABLES,
    ensure_session_confs,
    load_table,
    register_views,
)


def _driver_memory() -> str:
    """Half the host's physical memory, capped at 48g. The JVM lets
    its heap grow to the maximum before collecting hard, so a fixed 48g
    heap can outgrow a small host and get the process OOM-killed."""
    half_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 21
    return f"{min(half_mb, 48 << 10)}m"


#: defaults applied at session build time. Runtime-settable subset is also
#: re-applied to foreign sessions via `ensure_session_confs`.
DEFAULT_CONFS = {
    # local-mode driver == the whole cluster: size the JVM heap to the
    # machine (default 1g thrashes GC under a 32-thread battery). On a
    # real cluster this is per-executor memory instead.
    "spark.driver.memory": _driver_memory(),
    # adaptive execution: runtime re-plan, partition coalescing, skew joins
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE coalescing floor (round 10, guide §2.2/§2.5): the default 1m
    # floor coalesced CPU-DENSE small shuffles to a handful of tasks —
    # q270's set-similarity verify read a 4 MB exchange as 3 partitions
    # and ran 3-wide on a 32-core box (measured 3.25 -> 2.41 s at
    # 128k). Byte-sized, so it is inert at cluster scale where
    # coalescing targets the 64 MB advisory size anyway; it only binds
    # when a shuffle is small, which is exactly when bytes stop being
    # a proxy for compute. Cheap shuffle-light queries measured
    # unchanged (within noise) under the lower floor.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "128k",
    # Arrow transfer for pandas UDFs (fnv1a64 etc.)
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # deterministic time semantics (matches DuckDB naive-as-UTC)
    "spark.sql.session.timeZone": "UTC",
    # fixture events.ts is parquet TIMESTAMP(NANOS)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


class Engine:
    """Thin veneer over a SparkSession: catalog + sql + observability."""

    def __init__(
        self,
        spark: SparkSession | None = None,
        app_name: str = "luxo_rs_spark",
        master: str | None = None,
        shuffle_partitions: int | None = None,
        extra_confs: dict[str, str] | None = None,
    ) -> None:
        if spark is None:
            cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
            builder = SparkSession.builder.appName(app_name).master(
                master or f"local[{cpus}]"
            )
            confs = dict(DEFAULT_CONFS)
            confs["spark.sql.shuffle.partitions"] = str(
                shuffle_partitions or int(cpus)
            )
            if extra_confs:
                confs.update(extra_confs)
            for k, v in confs.items():
                builder = builder.config(k, v)
            spark = builder.getOrCreate()
        ensure_session_confs(spark)
        self.spark = spark
        register_fnv1a64(spark)

    # -- catalog ------------------------------------------------------------

    def register_dir(
        self, sf_dir: str, tables=TABLES, analyze: bool = True
    ) -> "Engine":
        """Register every fixture table under `sf_dir` as a temp view,
        and (by default) ALSO as external catalog tables with collected
        statistics — the SURVEY §4.2 commitment: engine init runs
        ``ANALYZE TABLE … COMPUTE STATISTICS FOR ALL COLUMNS`` so the
        cost-based optimizer has rowCount/ndv/min-max to drive join
        reordering and broadcast decisions at PLAN time."""
        register_views(self.spark, sf_dir, tables)
        if analyze:
            self.register_catalog(sf_dir, tables)
        return self

    def register_catalog(
        self,
        sf_dir: str,
        tables=TABLES,
        database: str = "luxo",
        analyze: bool = True,
        histograms: bool = False,
    ) -> "Engine":
        """External catalog tables + collected CBO statistics.

        Temp views can't carry catalog statistics, so the stats-backed
        surface lives in a database (default ``luxo``): each fixture
        parquet is registered as an EXTERNAL table (metadata only, no
        copy) and ``ANALYZE TABLE … COMPUTE STATISTICS FOR ALL
        COLUMNS`` collects rowCount + per-column ndv/nulls/min/max.

        Why this exists next to AQE (tests/test_cbo.py demonstrates
        both claims): AQE re-plans at RUNTIME stage boundaries using
        observed shuffle sizes — it can only fix a join strategy after
        paying for the stages that feed it. CBO statistics act at PLAN
        time: with ``spark.sql.cbo.enabled`` the FilterEstimation /
        JoinEstimation visitors shrink cardinalities through the plan
        (equality selectivity = 1/ndv, range selectivity from min/max),
        so a filtered dimension is chosen for broadcast BEFORE any
        stage runs and ``CostBasedJoinReorder`` orders multi-joins by
        estimated output rows. At 100 TB plan-time decisions matter
        most exactly where AQE is blind: the first shuffle of a
        many-join query.

        Note ``events`` time semantics: the catalog table serves the
        raw parquet schema; query paths that need the normalized
        events timeline keep going through ``load_table``."""
        q = self.spark.sql
        q(f"CREATE DATABASE IF NOT EXISTS {database}")
        # with stats collected, multi-join reordering is pure win:
        # CostBasedJoinReorder is inert unless BOTH this and
        # spark.sql.cbo.enabled are set, so flipping it here merely
        # arms the machinery for sessions that opt into CBO
        # (tests/test_cbo.py pins the 3-table plan flip it buys)
        self.spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        # column stats support atomic orderable types only — arrays
        # (embeddings.embedding) and binary payloads are skipped, the
        # table-level rowCount/sizeInBytes still collected for them
        statable = {
            "byte", "short", "int", "bigint", "long", "float", "double",
            "decimal", "string", "boolean", "date", "timestamp",
            "timestamp_ntz",
        }
        for name in tables:
            q(f"DROP TABLE IF EXISTS {database}.{name}")
            q(
                f"CREATE TABLE {database}.{name} USING parquet "
                f"LOCATION '{os.path.join(sf_dir, name)}.parquet'"
            )
            if analyze:
                cols = [
                    f.name
                    for f in self.spark.table(f"{database}.{name}").schema
                    if f.dataType.simpleString().split("(")[0] in statable
                ]
                suffix = (
                    " FOR COLUMNS " + ", ".join(cols) if cols else ""
                )
                hkey = "spark.sql.statistics.histogram.enabled"
                saved = self.spark.conf.get(hkey, None)
                try:
                    if histograms:
                        # equi-height histograms (Spark's ANALYZE
                        # collects them only under this flag): range
                        # selectivity on SKEWED columns then comes from
                        # bucket overlap instead of the uniform
                        # (hi-lo)/(max-min) assumption — the estimate
                        # 1/ndv and uniform-range both get wrong
                        # (tests/test_cbo.py pins the join-strategy
                        # flip this buys)
                        self.spark.conf.set(hkey, "true")
                    q(
                        f"ANALYZE TABLE {database}.{name} "
                        f"COMPUTE STATISTICS{suffix}"
                    )
                finally:
                    if histograms:
                        if saved is None:
                            self.spark.conf.unset(hkey)
                        else:
                            self.spark.conf.set(hkey, saved)
        return self

    def read_delta(self, root: str, version: int | None = None) -> DataFrame:
        """Read a FOREIGN Delta table (round 10): the from-scratch
        transaction-log reader — protocol 1/2/3 with deletion vectors,
        column mapping, v1/multi-part/v2 checkpoints — no deltalake
        package, no Spark Delta connector."""
        from luxo_rs_spark.sources.deltalog import DeltaLog  # noqa: PLC0415

        return DeltaLog(self.spark, root).read(version)

    def read_iceberg(
        self, root: str, snapshot_id: int | None = None
    ) -> DataFrame:
        """Read a FOREIGN Iceberg v1/v2 table (round 10): the
        from-scratch metadata + avro manifest reader — position and
        equality deletes applied, identity partitions injected."""
        from luxo_rs_spark.sources.iceberg import IcebergTable  # noqa: PLC0415

        return IcebergTable(self.spark, root).read(snapshot_id)

    def stream_delta(self, root: str, **options):
        """Tail a FOREIGN Delta table as a Structured Streaming
        source (round 10, sources/deltastream.py): returns the
        configured DataStreamReader-built streaming DataFrame.
        Options pass through — startingVersion, ignoreDeletes,
        skipChangeCommits, readChangeFeed (the Delta names)."""
        from luxo_rs_spark.sources import deltastream  # noqa: PLC0415

        deltastream.register(self.spark)
        reader = self.spark.readStream.format("deltastream")
        for k, v in options.items():
            reader = reader.option(k, v)
        return reader.load(root)

    def stream_iceberg(self, root: str, **options):
        """Tail a FOREIGN Iceberg table as a Structured Streaming
        source (round 10, sources/icebergstream.py). Options pass
        through — startingSequence and the streaming-skip-* gates
        (underscores accepted for the dashed Iceberg option names)."""
        from luxo_rs_spark.sources import icebergstream  # noqa: PLC0415

        icebergstream.register(self.spark)
        reader = self.spark.readStream.format("icebergstream")
        for k, v in options.items():
            reader = reader.option(k.replace("_", "-"), v)
        return reader.load(root)

    def table(self, name: str) -> DataFrame:
        """Fluent entry point (SURVEY.md §3.2 entry 2)."""
        return self.spark.table(name)

    def load(self, sf_dir: str, name: str) -> DataFrame:
        return load_table(self.spark, sf_dir, name)

    # -- query --------------------------------------------------------------

    def sql(self, query: str) -> DataFrame:
        """SQL entry point (SURVEY.md §3.2 entry 1)."""
        return self.spark.sql(query)

    # -- observability: "sheds light on any query" ---------------------------

    def explain_str(self, df: DataFrame, mode: str = "formatted") -> str:
        return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), mode
        )

    def plan_report(self, df: DataFrame, executed: bool = False) -> dict:
        """Structured plan audit (the 'sheds light on any query'
        contract, machine-readable): parse the formatted physical plan
        into the facts a perf review asks first — which scans push
        which filters, how many exchanges (shuffles) the plan has,
        which join strategies were chosen, and how much of the plan
        runs inside whole-stage codegen. Pure string parsing of the
        public EXPLAIN output; no JVM internals beyond explainString.

        With ``executed=True`` the frame's own query execution is run
        first (``collect`` — use on bounded outputs) so AQE finalizes
        the plan: codegen spans and the runtime join/exchange choices
        only exist on the FINAL adaptive plan (a pre-execution report
        shows isFinalPlan=false with no codegen annotation; a noop
        write would not help — it executes a different QueryExecution).
        """
        import re

        if executed:
            df.collect()
        plan = self.explain_str(df, "formatted")
        scans = []
        for m in re.finditer(r"\(\d+\) Scan parquet[^\n]*\n(?:.+\n)*?(?=\n|\(\d+\))", plan):
            block = m.group(0)
            loc = re.search(r"Location:[^\n]*\[([^\]]*)\]", block)
            pushed = re.search(r"PushedFilters: \[([^\]]*)\]", block)
            schema = re.search(r"ReadSchema: ([^\n]*)", block)
            scans.append(
                {
                    "location": loc.group(1).split(",")[0] if loc else None,
                    "pushed_filters": (
                        [f.strip() for f in pushed.group(1).split(",") if f.strip()]
                        if pushed
                        else []
                    ),
                    "read_schema": schema.group(1).strip() if schema else None,
                }
            )
        joins = re.findall(
            r"\(\d+\) (BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
            r"BroadcastNestedLoopJoin|CartesianProduct)",
            plan,
        )
        return {
            "n_scans": len(scans),
            "scans": scans,
            "n_exchanges": len(re.findall(r"\(\d+\) Exchange", plan)),
            "joins": joins,
            "n_codegen_spans": len(set(re.findall(r"\[codegen id : (\d+)\]", plan))),
            "has_cartesian": "CartesianProduct" in joins,
        }
