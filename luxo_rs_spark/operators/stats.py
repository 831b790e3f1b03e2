"""Distributed exact percentiles (optimization round 10).

Spark's exact ``percentile`` aggregate buffers every (value, count) pair
into one per-task OpenHashMap and finishes on a SINGLE task that merges
the maps and sorts all distinct values (Percentile.scala's
``generateOutput``). Over a near-unique DOUBLE/DECIMAL column that final
task is the whole cost — measured 1.6-1.8 s for 600k lineitem prices at
sf0.1/local[32], unchanged by input repartitioning (the merge is the
wall), and at 100 TB it is a driver-scale non-starter (guide §5: a
single task holding every distinct value).

``exact_percentiles`` computes the SAME interpolated percentiles as a
two-pass distributed plan instead:

1. histogram pass — map each value to an exact integer key (DECIMAL's
   unscaled long, or the integer itself), bucket by an arithmetic
   shift, and count per bucket (map-side partial agg; the shuffle is
   bucket-count-bounded). A window over the *bucket* rows (bounded by
   the value RANGE >> shift, never by row count) yields cumulative
   counts, from which the bucket + in-bucket rank of every target
   order statistic follows exactly.
2. selection pass — re-scan only the rows of the <= 2 x |probs|
   needed buckets (broadcast semi-join), rank them with a window
   PARTITIONED BY bucket (bucket-sized tasks), and pick the target
   ranks.

Bit-exactness: bucketing and ranking run on exact integers; the final
interpolation replicates Percentile.getPercentile's exact FP schedule —
``position = CAST(n-1 AS DOUBLE) * p``, short-circuits for
``floor(position) == ceil(position)`` and equal bracketing keys, else
``(higher - position) * lo + (position - lower) * hi`` on the
Spark-cast-to-double values. tests/test_stats.py pins equality against
Spark's own aggregate across shapes and scales.

Contract: the value column must have an exact 64-bit integer key
(integral types, or DECIMAL with precision <= 18), and the bucket count
(range >> bucket_shift) must be modest — true for money-like decimals;
raise ``bucket_shift`` for wide integer domains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
)

from luxo_rs_spark.functions.spread import spread


#: clamp for the floating bucket id: |q| above 2^62 (including ±Inf)
#: saturates to the extreme bucket, which keeps the bucket monotone and
#: avoids double->long overflow; NaN gets its own sentinel ABOVE the
#: +Inf bucket because Spark's double ordering places NaN greater than
#: every value, +Inf included (round 11, ADVICE fix: floor(NaN/2^s)
#: previously landed NaN in bucket 0, sorting it FIRST instead of last)
_BKT_CLAMP = 1 << 62
_NAN_BUCKET = (1 << 62) + 1


def _bucket_and_order(df: DataFrame, value_col: str, bucket_shift: int):
    """(bucket expression, order-key expression) for the value column.

    The bucket must be a MONOTONE (non-strict) exact function of the
    value's order; the order key must replicate the value's order
    exactly. Integrals/DECIMAL use the exact 64-bit integer key with an
    arithmetic shift; DOUBLE/FLOAT use floor(v / 2^shift) — division by
    a power of two only changes the exponent, so it is exact in IEEE
    arithmetic and floor of a double is exact, making the bucket
    provably monotone — and order by the double itself (whose Spark
    ordering is -Inf < finite < +Inf < NaN; the bucket expression
    mirrors it via the clamp + NaN sentinel above)."""
    dt = df.schema[value_col].dataType
    v = F.col(value_col)
    if isinstance(dt, DecimalType):
        if dt.precision > 18:
            raise ValueError(
                f"exact_percentiles: DECIMAL({dt.precision},{dt.scale}) "
                "does not fit a 64-bit unscaled key"
            )
        # exact: decimal * 10^scale has scale 0 and fits a long
        key = (v * F.lit(10 ** dt.scale)).cast("long")
        return F.shiftright(key, bucket_shift), key
    if isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
        key = v.cast("long")
        return F.shiftright(key, bucket_shift), key
    if isinstance(dt, (DoubleType, FloatType)):
        vd = v.cast("double")
        q = vd / F.lit(float(1 << bucket_shift))
        bkt = (
            F.when(F.isnan(vd), F.lit(_NAN_BUCKET))
            .when(q >= F.lit(float(_BKT_CLAMP)), F.lit(_BKT_CLAMP))
            .when(q <= F.lit(-float(_BKT_CLAMP)), F.lit(-_BKT_CLAMP))
            .otherwise(F.floor(q))
        )
        return bkt, vd
    raise ValueError(
        f"exact_percentiles: unsupported type {dt.simpleString()} "
        "(needs an exactly orderable key)"
    )


def exact_percentiles(
    df: DataFrame,
    value_col: str,
    probs: list[float],
    out: str = "ps",
    bucket_shift: int | None = None,
) -> DataFrame:
    """One-row frame with ``out`` = array<double>, bit-identical to
    ``df.agg(percentile(value_col, array(*probs)))`` — distributed.

    Always returns exactly one row; when every value is NULL (or the
    input is empty) the array is NULL, matching Spark's aggregate.
    ``bucket_shift`` tunes bucket width (2^shift per bucket); defaults:
    16 for integer/decimal keys, 6 for floating values."""
    dt = df.schema[value_col].dataType
    if bucket_shift is None:
        bucket_shift = 6 if isinstance(dt, (DoubleType, FloatType)) else 16
    bkt, key = _bucket_and_order(df, value_col, bucket_shift)
    spark = df.sparkSession

    vals = df.select(
        bkt.alias("__b"), key.alias("__k"), F.col(value_col).alias("__v")
    ).where(F.col("__k").isNotNull())
    # the fixture tables are single-row-group parquets (one-task scans);
    # spread the narrow (bucket, key, value) rows so both passes
    # parallelize (guide §2.5) — guarded for already-parallel inputs
    vals = spread(vals, "__k")

    hist = vals.groupBy("__b").agg(F.count(F.lit(1)).alias("__c"))
    # one global window over BUCKET rows (the SCALING.md pre-agg window
    # pattern): bounded by value range >> bucket_shift for integer and
    # decimal keys; doubles spread over many magnitudes can put every
    # row in its own bucket, so there it grows with row count
    w_cum = Window.orderBy("__b").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.orderBy("__b").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "__b",
        "__c",
        F.sum("__c").over(w_cum).alias("__cum"),
        F.sum("__c").over(w_all).alias("__n"),
    )

    # the two 1-based order-statistic ranks per percentile: for
    # position = (n-1)*p (Percentile.scala's maxPosition * percentage),
    # rank_lo = floor(position)+1 and rank_hi = ceil(position)+1
    n_d = F.col("__n").cast("double") - F.lit(1.0)
    tags = []  # (tag, rank expression)
    for i, p in enumerate(probs):
        pos = n_d * F.lit(float(p))
        tags.append((2 * i, F.floor(pos).cast("long") + 1))
        tags.append((2 * i + 1, F.ceil(pos).cast("long") + 1))
    # a bucket CONTAINS rank r iff cum >= r and cum - c < r
    target_rows = [
        F.when(
            (F.col("__cum") >= r) & ((F.col("__cum") - F.col("__c")) < r),
            F.struct(
                F.lit(tag).alias("__tag"),
                (r - (F.col("__cum") - F.col("__c"))).alias("__local"),
            ),
        )
        for tag, r in tags
    ]
    targets = (
        cum.select(
            "__b",
            F.explode(
                F.filter(
                    F.array(*target_rows), lambda x: x.isNotNull()
                )
            ).alias("__t"),
        )
        .select("__b", "__t.__tag", "__t.__local")
    )

    # selection pass (round-11 scale hardening): the needed buckets'
    # rows are COLLAPSED to per-key counts by a distributed aggregation
    # FIRST (map-side partial agg — no task ever holds a bucket's row
    # population), so the rank window that follows runs over DISTINCT
    # keys within one bucket — at most 2^shift for integer/decimal
    # keys; a double bucket holds any number of distinct doubles, so a
    # hot narrow-range double column still gives one large window
    # partition. Previously a
    # row_number window ranked the raw rows, whose partition grew
    # linearly with data (a hot price bucket at 100 TB = one straggler
    # task). The key containing local rank r is the one whose
    # cumulative key-count brackets r — same selection, same value.
    needed = vals.join(
        F.broadcast(targets.select("__b").distinct()), "__b"
    )
    per_key = needed.groupBy("__b", "__k").agg(
        F.count(F.lit(1)).alias("__kc"), F.min("__v").alias("__v")
    )
    w_kcum = (
        Window.partitionBy("__b")
        .orderBy("__k")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = per_key.withColumn("__kcum", F.sum("__kc").over(w_kcum))
    picked = (
        ranked.join(F.broadcast(targets), "__b")
        .where(
            (F.col("__kcum") >= F.col("__local"))
            & ((F.col("__kcum") - F.col("__kc")) < F.col("__local"))
        )
        .select("__tag", F.col("__v").cast("double").alias("__vd"))
    )
    wide = picked.groupBy().agg(
        *[
            F.min(F.when(F.col("__tag") == tag, F.col("__vd"))).alias(
                f"__t{tag}"
            )
            for tag, _ in tags
        ]
    )

    n_row = cum.select("__n").limit(1)
    # exactly-one-row assembly even for empty/all-null input (Spark's
    # aggregate returns one row with a NULL array there)
    one = spark.range(1).select(F.lit(1).alias("__one"))
    assembled = (
        one.join(F.broadcast(n_row.withColumn("__one", F.lit(1))), "__one", "left")
        .join(F.broadcast(wide.withColumn("__one", F.lit(1))), "__one", "left")
    )

    outs = []
    nn = F.col("__n").cast("double") - F.lit(1.0)
    for i, p in enumerate(probs):
        pos = nn * F.lit(float(p))
        lower = F.floor(pos)
        higher = F.ceil(pos)
        lo_v = F.col(f"__t{2 * i}")
        hi_v = F.col(f"__t{2 * i + 1}")
        # Percentile.getPercentile's exact schedule: integral position
        # or equal bracketing keys -> the lower key; else
        # (higher - position) * lo + (position - lower) * hi
        outs.append(
            F.when(
                (higher == lower) | (lo_v == hi_v), lo_v
            ).otherwise(
                (higher.cast("double") - pos) * lo_v
                + (pos - lower.cast("double")) * hi_v
            )
        )
    return assembled.select(
        F.when(
            F.col("__n").isNotNull(), F.array(*outs)
        ).alias(out)
    )
