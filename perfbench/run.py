"""Closed-loop benchmark of the luxo_rs_spark query engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload olap_sf1 --seed 1 --seconds 14 --trace 0
    python3 perfbench/run.py --smoke

One client issues a workload's queries back to back. A run:

1. derives the inputs from ``--seed`` (cached by seed, not timed);
2. builds the session ``SETUPS`` times, each time in a new JVM, and
   reports the median as ``setup_s`` (with ``--trace 1``: once);
3. runs every query once, ``nproc`` at a time, untimed, and checks each
   result against its DuckDB oracle; then ``WARM_PASSES`` untimed serial
   passes;
4. runs timed passes until ``--seconds`` have elapsed (at least
   ``MIN_PASSES``); each query is timed as construct + execute, the
   execution being a ``noop`` write;
5. with ``--trace 1``, times ``MIN_PASSES`` passes instead of 4., restarts
   the session with Spark's event log on, runs ``WARM_PASSES`` untimed
   passes again, repeats the same number of timed passes with spans
   recorded, runs the layer probes on the seed's one-replica input and
   reports per-layer metrics instead of end-to-end ones.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

#: workload -> replicas of the bundled sf0.001 fixture, Spark task slots
#: (None: ``nproc``) + the query list
WORKLOADS = {
    "olap_sf1": {
        "replicas": 100,
        # its stages are one-task scans and tiny shuffles; with nproc slots
        # on a shared host, their fan-out waited on the host's scheduler
        # and the per-query spread within a run doubled under contention
        "slots": 1,
        "queries": [
            "q01_pricing_summary", "q02_join_chain", "q03_anti_join",
            "q05_range_join", "q10_window_frames", "q19_percentile_stats",
        ],
    },
    "table_io_sf01": {
        "replicas": 1,
        "slots": None,
        "queries": [
            "q61_parquet_sink_roundtrip", "q481_iceberg_v2_lifecycle",
            "q462_snaptable_merge",
        ],
    },
}

#: cold session builds per untraced run, each in a new JVM; setup_s is
#: their median
SETUPS = 3
#: untimed serial passes after the oracle check. Pass times fall by
#: 20-35% over the first three passes (the check is the first) and by a
#: few % per pass for several more; each query's median over the timed
#: passes leaves out the first, slower ones
WARM_PASSES = 2
#: timed passes per run at least
MIN_PASSES = 3
#: compile hot code after a tenth of the default invocation counts, so
#: that the JVM comes closer to its steady state within a run's warm-up;
#: with the defaults, olap_sf1's pass times fell by 25% over its timed
#: passes
JIT_FLAGS = "-XX:CompileThresholdScaling=0.1"
#: driver heap, pinned (-Xms = -Xmx, pre-touched) so that the JVM's share
#: of peak_rss_mb does not depend on when G1 decides to grow the heap
DRIVER_MEMORY = "2g"
#: a run that has not finished by then aborts without a result
DEADLINE_S = 170

END_TO_END = {
    "setup_s": "s", "battery_s": "s", "query_p50_s": "s",
    "query_tail_s": "s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "engine.session_s": "s", "engine.jobs": "count", "engine.stages": "count",
    "engine.tasks": "count", "engine.task_failures": "count",
    "engine.task_cpu_s": "s", "engine.task_run_s": "s", "engine.gc_s": "s",
    "engine.shuffle_write_mb": "MB", "engine.shuffle_read_mb": "MB",
    "engine.spill_mb": "MB",
    "plans.construct_s": "s", "plans.construct_jobs": "count",
    "plans.plan_s": "s", "plans.exec_s": "s",
    "sources.load_calls": "count", "sources.load_s": "s",
    "sources.load_jobs": "count", "sources.commit_calls": "count",
    "sources.commit_s": "s", "sources.files_written": "count",
    "sources.bytes_written_mb": "MB",
    "operators.candidates_s": "s", "operators.candidate_pairs": "count",
    "operators.result_pairs": "count", "operators.pair_yield": "ratio",
    "functions.udf_s": "s", "functions.udf_rows": "count",
    "multimodal.decode_s": "s", "multimodal.decoded_items": "count",
    "layer.engine_self_s": "s", "layer.plans_self_s": "s",
    "layer.sources_self_s": "s", "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def session_confs(traced: bool, event_dir: str) -> dict[str, str]:
    """Every conf the benchmark sets on top of the engine's defaults."""
    tmp = os.path.join(WORK, "tmp")
    confs = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            f" -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch {JIT_FLAGS}"
        ),
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }
    if traced:
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = f"file://{event_dir}"
        confs["spark.eventLog.rolling.enabled"] = "false"
        confs["spark.eventLog.compress"] = "false"
    return confs


def build_engine(slots: int, traced: bool, event_dir: str):
    from luxo_rs_spark.engine import Engine  # noqa: PLC0415

    t0 = time.perf_counter()
    engine = Engine(
        app_name="perfbench",
        master=f"local[{slots}]",
        shuffle_partitions=slots,
        extra_confs=session_confs(traced, event_dir),
    )
    setup_s = time.perf_counter() - t0
    engine.spark.sparkContext.setLogLevel("ERROR")
    return engine, setup_s


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext  # noqa: PLC0415

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# -- measurements ---------------------------------------------------------------


def process_tree(root: int) -> set[int]:
    parent: dict[int, int] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            parent[int(pid)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, grew = {root}, True
    while grew:
        kids = {p for p, pp in parent.items() if pp in tree and p not in tree}
        tree |= kids
        grew = bool(kids)
    return tree


class PeakMemory:
    """Peak resident memory of the driver JVM and its descendants, the
    Python daemon and workers: the sum over these processes of their
    ``VmHWM``, the kernel's record of each one's largest resident size.
    The tree is listed every ``period`` seconds, so that a worker that
    exits still counts. Other children of the JVM are skipped: between
    fork and exec a child shows the JVM's own ``VmHWM``. ``VmHWM`` is read
    from ``/proc/<pid>/status`` in constant time; a proportional set size
    from ``smaps_rollup`` walks the JVM's page tables under its memory-map
    lock, about 40 ms per read for a 2 GB heap, which slowed the measured
    queries."""

    def __init__(self, period: float = 0.5) -> None:
        import threading  # noqa: PLC0415

        from pyspark import SparkContext  # noqa: PLC0415

        self.root = SparkContext._gateway.proc.pid
        self.period = period
        self.hwm_kb: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def sample(self) -> None:
        for pid in process_tree(self.root):
            try:
                if pid != self.root:
                    with open(f"/proc/{pid}/cmdline", "rb") as fh:
                        if b"pyspark.daemon" not in fh.read():
                            continue
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            kb = int(line.split()[1])
                            self.hwm_kb[pid] = max(self.hwm_kb.get(pid, 0), kb)
                            break
            except OSError:
                continue

    def _run(self) -> None:
        self.sample()
        while not self._stop.wait(self.period):
            self.sample()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.sample()
        return sum(self.hwm_kb.values()) / 1024.0


def sink_usage(sink: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(sink):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def reset_sink(sink: str) -> None:
    shutil.rmtree(sink, ignore_errors=True)
    os.makedirs(sink)


# -- oracle check -----------------------------------------------------------------


def canon(df):
    cols = sorted(df.columns)
    return df[cols].sort_values(by=cols).reset_index(drop=True)


def same_result(got, want) -> str | None:
    """None if equal under tools/replica_check.py's rules (column-sorted,
    row-sorted, doubles within 1e-9), else the first difference."""
    a, b = canon(got), canon(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for col in a.columns:
        for i, (x, y) in enumerate(zip(a[col].tolist(), b[col].tolist())):
            if isinstance(x, float) and isinstance(y, float):
                if (math.isnan(x) and math.isnan(y)) or abs(x - y) <= 1e-9:
                    continue
            elif str(x) == str(y):
                continue
            return f"{col}[{i}]: {x!r} != {y!r}"
    return None


def oracle_check(spark, names, sf_dir, sink) -> list[str]:
    """Untimed: every query once, ``nproc`` at a time, each result checked
    against its oracle. Returns the queries that were wrong."""
    from concurrent.futures import ThreadPoolExecutor  # noqa: PLC0415

    import duckdb  # noqa: PLC0415

    from luxo_rs_spark.plans.oracle import ORACLE_SQL  # noqa: PLC0415
    from luxo_rs_spark.plans.queries import QUERIES  # noqa: PLC0415

    from data import TABLES  # noqa: PLC0415

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    reset_sink(sink)

    def check(name: str) -> str | None:
        spark.sparkContext.setJobGroup(f"check:{name}", name)
        try:
            got = QUERIES[name](spark, sf_dir).toPandas()
            return same_result(got, con.cursor().sql(ORACLE_SQL[name]).df())
        except Exception as e:  # noqa: BLE001
            return f"{type(e).__name__}: {e}"

    with ThreadPoolExecutor(max_workers=nproc()) as pool:
        diffs = dict(zip(names, pool.map(check, names)))
    con.close()
    for name, diff in diffs.items():
        if diff:
            log(f"MISMATCH {name}: {diff[:300]}")
    return [n for n, d in diffs.items() if d]


# -- timed passes ------------------------------------------------------------------


def run_pass(spark, engine, names, sf_dir, sink, tag, tracer, counters,
             traced) -> dict:
    """One pass over ``names``; returns per-query records and the wall."""
    from luxo_rs_spark.plans.queries import QUERIES  # noqa: PLC0415

    from layers import group_job_ids  # noqa: PLC0415

    reset_sink(sink)
    sc = spark.sparkContext
    pass_span = tracer.begin(tag, "pass")
    records, failed, wall = [], 0, 0.0
    for name in names:
        spark.catalog.clearCache()
        group = f"{tag}:{name}"
        sc.setJobGroup(group, name)
        counters.reset()
        q_span = tracer.begin(name, "query", trace_id=group)
        rec = {"query": name, "group": group}
        t0 = time.perf_counter()
        try:
            c_span = tracer.begin("construct", "construct")
            df = QUERIES[name](spark, sf_dir)
            t1 = time.perf_counter()
            rec["construct_job_ids"] = group_job_ids()
            tracer.end(c_span)
            plan_s = 0.0
            if traced:
                p_span = tracer.begin("plan", "plan")
                p0 = time.perf_counter()
                engine.explain_str(df)
                plan_s = time.perf_counter() - p0
                tracer.end(p_span)
            e_span = tracer.begin("execute", "execute")
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            tracer.end(e_span)
        except Exception as e:  # noqa: BLE001
            log(f"FAILED {group}: {type(e).__name__}: {str(e)[:300]}")
            failed += 1
            while tracer.enabled and tracer._stack[-1] != q_span["id"]:
                tracer.end(tracer.spans[tracer._stack[-1]])
            tracer.end(q_span, failed=True)
            wall += time.perf_counter() - t0
            continue
        wall += t3 - t0
        rec.update(
            construct_s=t1 - t0, plan_s=plan_s, exec_s=t3 - t2,
            latency_s=(t1 - t0) + (t3 - t2),
            construct_jobs=len(rec["construct_job_ids"]),
            load_calls=counters.load_calls, load_s=counters.load_s,
            load_jobs=counters.load_jobs, commit_calls=counters.commit_calls,
            commit_s=counters.commit_s,
        )
        if traced:
            rec["spans"] = {"construct": c_span, "execute": e_span}
        tracer.end(q_span, **{k: v for k, v in rec.items()
                              if k not in ("spans", "group")})
        records.append(rec)
    log(f"{tag} " + " ".join(
        f"{r['query'].split('_')[0]}={r['latency_s']:.2f}" for r in records
    ))
    files, size = sink_usage(sink)
    tracer.end(pass_span, wall_s=wall, files=files, bytes=size)
    return {"tag": tag, "records": records, "failed": failed, "wall_s": wall,
            "files": files, "bytes": size, "span": pass_span}


def timed_passes(spark, engine, names, sf_dir, sink, seed, prefix, seconds,
                 n_fixed, tracer, counters, traced) -> list[dict]:
    """Passes until ``seconds`` have elapsed (or exactly ``n_fixed``);
    the seed shuffles the query order of each pass."""
    passes = []
    t0 = time.perf_counter()
    while True:
        order = list(names)
        random.Random(seed * 1000 + len(passes)).shuffle(order)
        passes.append(
            run_pass(spark, engine, order, sf_dir, sink,
                     f"{prefix}{len(passes)}", tracer, counters, traced)
        )
        if n_fixed is not None:
            if len(passes) >= n_fixed:
                return passes
        elif len(passes) >= MIN_PASSES and time.perf_counter() - t0 >= seconds:
            return passes


def query_medians(passes) -> dict[str, float]:
    """Each query's median latency across the passes."""
    by_query: dict[str, list[float]] = {}
    for p in passes:
        for r in p["records"]:
            by_query.setdefault(r["query"], []).append(r["latency_s"])
    return {q: statistics.median(v) for q, v in by_query.items()}


def battery(passes) -> float:
    """One pass's worth of latency: the sum of the per-query medians. This
    is close to the median pass, but with three passes or more one slow
    query in one pass cannot move it."""
    return sum(query_medians(passes).values())


def end_to_end(setups, passes, rss) -> dict[str, float]:
    medians = query_medians(passes)
    log(f"{len(medians) * len(passes)} query samples over {len(passes)} passes")
    return {
        "setup_s": statistics.median(setups),
        "battery_s": battery(passes),
        "query_p50_s": statistics.median(medians.values()),
        "query_tail_s": max(medians.values()),
        "peak_rss_mb": rss,
    }


def per_layer(setups, plain, traced, log_, probes, tracer) -> dict[str, float]:
    from layers import self_times  # noqa: PLC0415

    def med(fn):
        return statistics.median(fn(p) for p in traced)

    def rsum(p, key):
        return sum(r[key] for r in p["records"])

    def tsum(p, key):
        return sum(log_["tasks"].get(r["group"], {}).get(key, 0.0)
                   for r in p["records"])

    def jobs(p):
        groups = {r["group"] for r in p["records"]}
        return [j for j in log_["jobs"].values() if j["group"] in groups]

    def stages(p):
        return len({s for j in jobs(p) for s in j["stages"]
                    if s in log_["stages"]})

    probe_files = probes.pop("_files")
    out = {
        "engine.session_s": statistics.median(setups),
        "engine.jobs": med(lambda p: len(jobs(p))),
        "engine.stages": med(stages),
    }
    for key in ("tasks", "task_failures", "task_cpu_s", "task_run_s", "gc_s",
                "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
        out[f"engine.{key}"] = med(lambda p, k=key: tsum(p, k))
    for key in ("construct_s", "construct_jobs", "plan_s", "exec_s"):
        out[f"plans.{key}"] = med(lambda p, k=key: rsum(p, k))
    for key in ("load_calls", "load_s", "load_jobs"):
        out[f"sources.{key}"] = med(lambda p, k=key: rsum(p, k))
    out["sources.commit_calls"] = (
        med(lambda p: rsum(p, "commit_calls")) + probes.pop("commit_calls")
    )
    out["sources.commit_s"] = (
        med(lambda p: rsum(p, "commit_s")) + probes.pop("commit_s")
    )
    out["sources.files_written"] = med(lambda p: p["files"]) + probe_files[0]
    out["sources.bytes_written_mb"] = (
        med(lambda p: p["bytes"]) + probe_files[1]
    ) / (1024.0 * 1024.0)
    out.update(probes)
    for layer in ("engine", "plans", "sources"):
        out[f"layer.{layer}_self_s"] = med(
            lambda p, l=layer: self_times(tracer.spans, p["span"]["id"]).get(l, 0.0)
        )
    out["trace.overhead_s"] = battery(traced) - battery(plain)
    return out


def run(args) -> int:
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)

    import data  # noqa: PLC0415
    from layers import (  # noqa: PLC0415
        Counters,
        Tracer,
        attach_spark_spans,
        instrument,
        layer_probes,
        read_event_log,
    )

    spec = WORKLOADS[args.workload]
    slots = spec["slots"] or nproc()
    replicas = 1 if args.smoke else spec["replicas"]
    t_in = time.perf_counter()
    sf_dir = data.build(os.path.join(WORK, "data"), args.seed, replicas)
    log(f"inputs {time.perf_counter() - t_in:.1f}s")
    sink = os.path.join(WORK, "sink")
    event_dir = os.path.join(WORK, "eventlog")

    from luxo_rs_spark.plans import queries  # noqa: PLC0415

    # table-format queries write under this root; keep it in the checkout
    queries._SINK_ROOT = sink
    names = spec["queries"]

    tracer, counters = Tracer(False), Counters()
    instrument(tracer, counters)

    setups = []
    builds = 1 if args.trace else SETUPS
    for i in range(builds):
        engine, setup_s = build_engine(slots, False, event_dir)
        setups.append(setup_s)
        if i < builds - 1:
            shutdown(engine.spark)
    spark = engine.spark
    log(f"setup {[round(s, 3) for s in setups]}")

    t_check = time.perf_counter()
    bad = oracle_check(spark, names, sf_dir, sink)
    warm = timed_passes(spark, engine, names, sf_dir, sink, args.seed, "w",
                        0, WARM_PASSES, tracer, counters, False)
    log(f"oracle check and warm-up {time.perf_counter() - t_check:.1f}s")
    memory = PeakMemory()
    # a traced run's untraced passes serve only trace.overhead_s
    plain = timed_passes(spark, engine, names, sf_dir, sink, args.seed, "p",
                         args.seconds, MIN_PASSES if args.trace else None,
                         tracer, counters, False)
    peak_mb = memory.stop()
    failed = len(bad) + sum(p["failed"] for p in warm + plain)
    attempted = len(names) * (1 + len(warm) + len(plain))
    log(f"battery {[round(p['wall_s'], 3) for p in plain]}")

    if not args.trace:
        metrics = end_to_end(setups, plain, peak_mb)
        shutdown(spark)
    else:
        spark.stop()
        shutil.rmtree(event_dir, ignore_errors=True)
        os.makedirs(event_dir)
        engine, _ = build_engine(slots, True, event_dir)
        spark = engine.spark
        # the JVM and its compiled code survive the restart; the new
        # session's own caches fill during the warm-up passes, so that
        # trace.overhead_s is the cost of tracing and not of a colder session
        rewarm = timed_passes(spark, engine, names, sf_dir, sink, args.seed,
                              "r", 0, WARM_PASSES, tracer, counters, False)
        failed += sum(p["failed"] for p in rewarm)
        attempted += len(names) * len(rewarm)
        tracer.enabled = True
        run_span = tracer.begin(args.workload, "run", seed=args.seed)
        traced = timed_passes(spark, engine, names, sf_dir, sink, args.seed,
                              "t", args.seconds, len(plain), tracer, counters,
                              True)
        failed += sum(p["failed"] for p in traced)
        attempted += len(names) * len(traced)
        spark.sparkContext.setJobGroup("probe", "layer probes")
        counters.reset()
        probe_span = tracer.begin("layer_probes", "probe")
        # one replica on every workload: the probes' work does not grow
        # with olap_sf1's replica count
        probes = layer_probes(spark, data.build(os.path.join(WORK, "data"),
                                                args.seed, 1), sink)
        tracer.end(probe_span)
        probes["commit_calls"] = counters.commit_calls
        probes["commit_s"] = counters.commit_s
        probes["_files"] = sink_usage(os.path.join(sink, "probe"))
        tracer.end(run_span)
        shutdown(spark)
        log_ = read_event_log(event_dir)
        for p in traced:
            attach_spark_spans(
                tracer, log_,
                {r["group"]: {**r["spans"],
                              "construct_job_ids": set(r["construct_job_ids"])}
                 for r in p["records"]},
            )
        metrics = per_layer(setups, plain, traced, log_, probes, tracer)
        write_trace(args, tracer, traced, metrics)

    return report(failed == 0, attempted, failed, metrics,
                  PER_LAYER if args.trace else END_TO_END)


def write_trace(args, tracer, traced, metrics) -> None:
    path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    per_query = [
        {k: v for k, v in r.items() if k not in ("spans", "construct_job_ids")}
        for p in traced for r in p["records"]
    ]
    with open(path, "w") as fh:
        json.dump(
            {
                "workload": args.workload,
                "seed": args.seed,
                "confs": session_confs(True, os.path.join(WORK, "eventlog")),
                "nproc": nproc(),
                "task_slots": WORKLOADS[args.workload]["slots"] or nproc(),
                "metrics": metrics,
                "queries": per_query,
                "spans": tracer.spans,
            },
            fh,
        )
    log(f"trace written to {path}")


def report(correct, attempted, failed, values, units) -> int:
    missing = set(units) - set(values)
    if missing:
        raise RuntimeError(f"metrics missing: {sorted(missing)}")
    print(json.dumps({
        "correct": bool(correct),
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": float(values[k]), "unit": units[k]} for k in units
        },
    }))
    return 0


def smoke() -> int:
    """Each workload once per trace mode on the unreplicated fixture; fails
    if a run fails or a metric named in BENCHMARK.json is missing."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want = {
        0: {m["name"] for m in bench["end_to_end"]},
        1: {m["name"] for m in bench["per_layer"]},
    }
    ok = True
    for w in bench["workloads"]:
        for trace in (0, 1):
            cmd = [sys.executable, __file__, "--smoke", "--workload",
                   w["name"], "--seed", "1", "--seconds", "1",
                   "--trace", str(trace)]
            out = subprocess.run(cmd, capture_output=True, text=True,
                                 cwd=ROOT, check=False)
            try:
                res = json.loads(out.stdout.strip().splitlines()[-1])
                got = set(res["metrics"])
            except (IndexError, ValueError, KeyError):
                res, got = {"correct": False}, set()
            fine = out.returncode == 0 and res["correct"] and got == want[trace]
            ok &= fine
            print(f"{'ok  ' if fine else 'FAIL'} {w['name']} trace={trace} "
                  f"missing={sorted(want[trace] - got)}", flush=True)
            if not fine:
                sys.stderr.write(out.stderr[-3000:])
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=14.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="without --workload: smoke-run every workload; with"
                         " it: one run on the unreplicated fixture")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "luxo_rs_spark")):
        log(f"no luxo_rs_spark package under {ROOT}; run from a checkout")
        return 2
    if args.smoke and not args.workload:
        return smoke()
    if not args.workload:
        ap.error("--workload is required")

    def expire(*_):
        raise TimeoutError(f"run exceeded {DEADLINE_S}s")

    signal.signal(signal.SIGALRM, expire)
    signal.alarm(DEADLINE_S)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
