"""Per-layer attribution for the traced run.

- ``Tracer`` records spans in memory (run -> pass -> query -> construct /
  execute -> load_table / commit -> Spark job -> stage) and writes them to
  one JSON file at the end of the run.
- ``instrument`` wraps the layer boundaries the benchmark can see from
  outside: ``load_table`` as the query registry calls it, the public commit
  methods of ``SnapTable`` / ``DeltaLog`` / ``IcebergTable`` and the parquet
  sink writer. Untraced runs use the same wrappers with tracing off; they
  then only count.
- ``read_event_log`` turns Spark's event log into job and stage spans and
  task counters, keyed by job group (one group per query execution).
- ``layer_probes`` times the operator candidate stages, the UDF columns and
  the media decode on their own, as ``tools/scale_bench.py`` does.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict

MB = 1024.0 * 1024.0

#: public write methods that commit a new table version
COMMIT_METHODS = {
    "luxo_rs_spark.sources.snaptable:SnapTable": (
        "create", "append", "delete_where", "delete_keys", "update_where",
        "restore", "merge", "compact", "rename_column", "drop_column",
        "widen_column", "add_constraint", "vacuum",
    ),
    "luxo_rs_spark.sources.deltalog:DeltaLog": (
        "write", "delete_where", "enable_column_mapping", "rename_column",
        "checkpoint", "vacuum",
    ),
    "luxo_rs_spark.sources.iceberg:IcebergTable": (
        "write", "rename_column", "add_column", "expire_snapshots",
        "compact", "delete_where", "delete_equality",
    ),
}


class Tracer:
    """In-memory span store. A span is a dict with id, parent, name, kind,
    start/end (epoch seconds) and free-form attrs."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def begin(self, name: str, kind: str, **attrs) -> dict:
        span = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "kind": kind,
            "start": time.time(),
            "end": None,
            "attrs": attrs,
        }
        if self.enabled:
            self.spans.append(span)
            self._stack.append(span["id"])
        return span

    def end(self, span: dict, **attrs) -> None:
        span["end"] = time.time()
        span["attrs"].update(attrs)
        if self.enabled:
            self._stack.pop()

    def add(self, parent: int, name: str, kind: str, start: float,
            end: float, **attrs) -> dict:
        span = {"id": len(self.spans), "parent": parent, "name": name,
                "kind": kind, "start": start, "end": end, "attrs": attrs}
        self.spans.append(span)
        return span


class Counters:
    """Per-query counters of the wrapped layer boundaries."""

    def __init__(self) -> None:
        self.reset()

    def reset(self) -> None:
        self.load_calls = 0
        self.load_s = 0.0
        self.load_jobs = 0
        self.commit_calls = 0
        self.commit_s = 0.0


def group_job_ids() -> list[int]:
    """Job ids launched so far under the calling thread's job group."""
    from pyspark import SparkContext  # noqa: PLC0415

    sc = SparkContext._active_spark_context
    group = sc.getLocalProperty("spark.jobGroup.id")
    return list(sc.statusTracker().getJobIdsForGroup(group)) if group else []


def instrument(tracer: Tracer, counters: Counters) -> None:
    """Install the boundary wrappers; call once per process. They look up
    the active SparkContext at call time, so they survive session
    restarts."""
    import importlib  # noqa: PLC0415
    import threading  # noqa: PLC0415

    from luxo_rs_spark.plans import queries  # noqa: PLC0415
    from luxo_rs_spark.sources import io as sink_io  # noqa: PLC0415

    # commits nest (IcebergTable.compact commits through write): count the
    # outermost, per thread, because the warm-up runs queries concurrently
    nesting = threading.local()

    def wrap_load(fn):
        @functools.wraps(fn)
        def load_table(spark_, sf_dir, name):
            span = tracer.begin(f"load_table:{name}", "load")
            j0 = len(group_job_ids())
            t0 = time.perf_counter()
            try:
                return fn(spark_, sf_dir, name)
            finally:
                dj = len(group_job_ids()) - j0
                counters.load_calls += 1
                counters.load_s += time.perf_counter() - t0
                counters.load_jobs += dj
                tracer.end(span, jobs=dj)
        return load_table

    def wrap_commit(fn, label):
        @functools.wraps(fn)
        def commit(*args, **kwargs):
            if getattr(nesting, "depth", 0):
                return fn(*args, **kwargs)
            nesting.depth = 1
            span = tracer.begin(label, "commit")
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                nesting.depth = 0
                counters.commit_calls += 1
                counters.commit_s += time.perf_counter() - t0
                tracer.end(span)
        return commit

    queries.load_table = wrap_load(queries.load_table)
    sink_io.write_parquet = wrap_commit(sink_io.write_parquet, "write_parquet")
    for target, methods in COMMIT_METHODS.items():
        mod, cls_name = target.split(":")
        cls = getattr(importlib.import_module(mod), cls_name)
        for m in methods:
            setattr(cls, m, wrap_commit(getattr(cls, m), f"{cls_name}.{m}"))


# -- Spark event log -----------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and task counters of the (single) application in
    ``log_dir``, keyed by job group."""
    files = [
        f for f in glob.glob(os.path.join(log_dir, "*"))
        if not f.endswith(".inprogress")
    ]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log, got {files}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    stage_group: dict[int, str] = {}
    tasks: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1e3,
                    "end": None,
                    "stages": list(ev["Stage IDs"]),
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                stage_group[ev["Stage Info"]["Stage ID"]] = props.get(
                    "spark.jobGroup.id"
                )
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if info.get("Submission Time") is None:
                    continue
                stages[info["Stage ID"]] = {
                    "start": info["Submission Time"] / 1e3,
                    "end": info["Completion Time"] / 1e3,
                    "tasks": info["Number of Tasks"],
                }
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                agg = tasks[group]
                agg["tasks"] += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    agg["task_failures"] += 1
                m = ev.get("Task Metrics") or {}
                agg["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                agg["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                agg["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                agg["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
                sr = m.get("Shuffle Read Metrics") or {}
                agg["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / MB
                agg["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / MB
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def attach_spark_spans(tracer: Tracer, log: dict,
                       query_spans: dict[str, dict]) -> None:
    """Hang each logged job (and its stages) under the construct or execute
    span of the query execution whose job group launched it."""
    for job_id, job in sorted(log["jobs"].items()):
        q = query_spans.get(job["group"])
        if q is None or job["end"] is None:
            continue
        phase = (
            q["construct"] if job_id in q["construct_job_ids"] else q["execute"]
        )
        js = tracer.add(phase["id"], f"job:{job_id}", "job", job["start"],
                        job["end"], stages=job["stages"])
        for sid in job["stages"]:
            st = log["stages"].get(sid)
            if st is not None:
                tracer.add(js["id"], f"stage:{sid}", "stage", st["start"],
                           st["end"], tasks=st["tasks"])


#: span kind -> layer whose self time it is
KIND_LAYER = {
    "construct": "plans", "execute": "plans", "plan": "plans",
    "load": "sources", "commit": "sources",
    "job": "engine", "stage": "engine",
}


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict], root: int) -> dict[str, float]:
    """Self time (duration minus the union of its children, clipped to the
    span) summed per layer over the subtree of ``root``."""
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out: dict[str, float] = defaultdict(float)
    todo = [root]
    while todo:
        sid = todo.pop()
        span = spans[sid]
        kids = children.get(sid, [])
        todo.extend(k["id"] for k in kids)
        layer = KIND_LAYER.get(span["kind"])
        if layer is None:
            continue
        clipped = [
            (max(k["start"], span["start"]), min(k["end"], span["end"]))
            for k in kids
        ]
        busy = _union([(a, b) for a, b in clipped if b > a])
        out[layer] += max(span["end"] - span["start"] - busy, 0.0)
    return out


# -- layer probes ----------------------------------------------------------------


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(df_fn) -> tuple[float, object]:
    t0 = time.perf_counter()
    df = df_fn()
    _noop(df)
    return time.perf_counter() - t0, df


def layer_probes(spark, sf_dir: str, sink: str) -> dict[str, float]:
    """Operators, functions, multimodal and sources measured alone on the
    workload's input. Every probe is a fixed amount of work per input."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from luxo_rs_spark.functions.fnv1a import fnv1a64_col  # noqa: PLC0415
    from luxo_rs_spark.functions.text import (  # noqa: PLC0415
        lang_id,
        token_count,
    )
    from luxo_rs_spark.multimodal.media import (  # noqa: PLC0415
        decode_mixed_media,
        synth_mixed_media_table,
    )
    from luxo_rs_spark.operators.dedup import (  # noqa: PLC0415
        lsh_candidate_pairs,
        minhash_signatures,
        ppjoin_candidates,
        shingle_table,
    )
    from luxo_rs_spark.operators.similarity import (  # noqa: PLC0415
        embedding_lsh_candidates,
    )
    from luxo_rs_spark.plans.queries import QUERIES, _winnow_fps  # noqa: PLC0415
    from luxo_rs_spark.sources.deltalog import DeltaLog  # noqa: PLC0415
    from luxo_rs_spark.sources.iceberg import IcebergTable  # noqa: PLC0415
    from luxo_rs_spark.sources.snaptable import SnapTable  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def q32():
        return lsh_candidate_pairs(minhash_signatures(docs, "doc_id", "text", 3))

    def q237():
        return embedding_lsh_candidates(emb)

    def q270():
        sh = shingle_table(docs, "doc_id", "text", 3).select(
            "doc_id", F.xxhash64("shingle").alias("sid")
        ).distinct().localCheckpoint(eager=True)
        return ppjoin_candidates(sh, 0.7)

    def q465():
        fps0 = (
            _winnow_fps(docs.select("doc_id", "text"))
            .repartition(spark.sparkContext.defaultParallelism)
            .select("doc_id", F.explode_outer("fps").alias("fp"))
        )
        ok = (
            fps0.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= 32).select("fp")
        )
        fps = fps0.join(ok, on="fp")
        return (
            fps.alias("a").join(fps.alias("b"), on="fp")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        )

    lanes = {
        "q32_minhash_lsh_neardup": q32,
        "q237_embedding_neardup_lsh": q237,
        "q270_setsim_prefix_join": q270,
        "q465_winnowing_neardup_join": q465,
    }
    out: dict[str, float] = defaultdict(float)
    for name, cand in lanes.items():
        # count() materializes the pairs: they are join output on computed
        # keys, so no column of the stage can be pruned away
        t0 = time.perf_counter()
        out["operators.candidate_pairs"] += cand().count()
        out["operators.candidates_s"] += time.perf_counter() - t0
        out["operators.result_pairs"] += QUERIES[name](spark, sf_dir).count()
    out["operators.pair_yield"] = (
        out["operators.result_pairs"] / out["operators.candidate_pairs"]
    )

    n_docs = docs.count()
    for col in (token_count("text"), lang_id("text"), fnv1a64_col("text")):
        dt, _ = _timed(lambda c=col: docs.select("doc_id", c.alias("v")))
        out["functions.udf_s"] += dt
        out["functions.udf_rows"] += n_docs

    def media():
        return decode_mixed_media(
            synth_mixed_media_table(docs.filter(F.col("doc_id") < 300))
        )

    dt, df = _timed(media)
    out["multimodal.decode_s"] = dt
    out["multimodal.decoded_items"] = df.count()

    # one commit per table format, so every workload exercises the
    # sources write path at least once per traced pass
    frame = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    ).filter(F.col("o_orderkey") % 8 == 0)
    root = os.path.join(sink, "probe")
    SnapTable(spark, os.path.join(root, "snap")).create(frame, ["o_orderkey"])
    DeltaLog(spark, os.path.join(root, "delta")).write(frame)
    IcebergTable(spark, os.path.join(root, "iceberg")).write(frame)
    return dict(out)
