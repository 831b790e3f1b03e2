"""Guarded, keyed input spread — the ONE helper behind every
"parallelize a single-row-group fixture scan before a heavy stage"
site (optimization round 11, unifying the round-10 pattern).

Why it exists: the sf fixtures are single-row-group parquets, so every
scan is ONE task and a heavy downstream stage (explode, Python decode,
n-gram shingling) would serialize on one core. An opt-in repartition to
``defaultParallelism`` right after the read fixes that at fixture scale
(guide §2.5 "input skew: repartition immediately after the read").

Why it is GUARDED on the *current* partition count: at 100 TB the same
scan has thousands of splits; an unconditional
``repartition(defaultParallelism)`` there is a full network pass over
the input payloads that the map-side work never needed — and can even
REDUCE parallelism. The guard makes the helper a literal no-op for
already-parallel inputs, so the shape is scale-adaptive rather than
tuned for local mode.

Why it is KEYED when the caller passes key columns: a hash-partitioned
exchange reproduces the same row->partition assignment under task retry
(guide §2.5's SPARK-38388 note about round-robin over non-deterministic
input) and skips the local sort every keyless ``repartition(n)`` pays
(``spark.sql.execution.sortBeforeRepartition``). Callers pass their id
column (unique -> even spread); keyless round-robin remains available
for frames with no natural key.

Opt-in per call site, NOT baked into the loaders: a 32-task Python
stage costs ~0.35-0.40 s flat at local[32] even with warm workers, so
spreading only pays where the single-task compute exceeds ~1 s
(round-10 measurement; blanket spreading regressed light lanes 5x).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame


def spread(df: DataFrame, *keys: str | Column) -> DataFrame:
    """Repartition ``df`` to ``defaultParallelism`` — only when it has
    fewer partitions than that (single-file fixture scans); hash-keyed
    on ``keys`` when given, round-robin otherwise. A streaming frame
    is returned unchanged and never probed: it has no RDD to count
    partitions on, and its source decides each micro-batch's split."""
    if df.isStreaming:
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    if keys:
        return df.repartition(par, *keys)
    return df.repartition(par)
