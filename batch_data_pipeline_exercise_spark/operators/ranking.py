"""Scalable global ranking: row_number / ntile / dense_rank without an
unpartitioned Window.

``Window.orderBy(...)`` with no ``partitionBy`` funnels the entire table
through ONE task — correct on a laptop, a scale-killer at 100 TB. These
helpers produce identical results from a two-pass plan:

1. split the ordering domain into ``num_partitions`` buckets —
   approximate quantile boundaries on the leading order column, collected
   ONCE and baked into the plan as literals (any monotonic bucketing
   yields exact ranks; boundary quality only affects balance);
2. count rows per bucket (one narrow agg; the collect is one row per
   bucket — driver metadata, the same scheme as ``RDD.zipWithIndex``);
3. stamp ``row_number`` per bucket (partitioned window) + the bucket's
   cumulative offset (broadcast join).

Rank correctness requires only that every row of bucket i sorts before
every row of bucket i+1 — guaranteed because the bucket id is a
monotonic function of the leading order column and equal values share a
bucket. Callers should pass a TOTAL ordering (include a tiebreaker, e.g.
the primary key) — same contract as any window ordering.

Non-numeric leading columns fall back to ``repartitionByRange`` + a
persist: range sampling is nondeterministic across jobs (observed: two
actions over the same plan got different partition boundaries), so the
partitioning must be materialized once and reused by both passes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_NUMERIC_PREFIXES = ("tinyint", "smallint", "int", "bigint", "float", "double", "decimal", "date", "timestamp")


def _as_double(col: str, dtype: str) -> Column:
    """Monotonic double image of an orderable column (rounding to double
    can merge nearby values but never reorders them — merged values just
    share a bucket)."""
    if dtype.startswith("date"):
        return F.col(col).cast("timestamp").cast("double")
    return F.col(col).cast("double")


def _bucketed(df: DataFrame, order_cols: list[str], num_partitions: int | None) -> DataFrame:
    """Attach a ``__pid`` bucket id consistent with the global ordering —
    the SHARED first pass of every two-pass global-ordering helper
    (ranks, ntile, prefix sums), so the NULL-to-bucket-0 rule and the
    checkpoint-frozen fallback can never diverge between them."""
    spark = df.sparkSession
    p = num_partitions or spark.sparkContext.defaultParallelism
    lead, dtype = order_cols[0], dict(df.dtypes)[order_cols[0]]
    # 'interval day to second' startswith-matches 'int' but cannot cast
    # to double — route intervals to the range-partitioning fallback
    if p > 1 and dtype.startswith(_NUMERIC_PREFIXES) and not dtype.startswith("interval"):
        key = _as_double(lead, dtype)
        probs = [i / p for i in range(1, p)]
        row = df.select(F.percentile_approx(key, probs, 10_000).alias("b")).first()
        bounds = sorted({x for x in (row["b"] or []) if x is not None})
        pid: Column = F.lit(0)
        for x in bounds:
            pid = pid + F.when(key > F.lit(float(x)), 1).otherwise(0)
        return df.withColumn("__pid", F.when(F.col(lead).isNull(), F.lit(0)).otherwise(pid).cast("int"))
    # strings etc.: materialize ONE range partitioning for both
    # passes. localCheckpoint (not persist): it TRUNCATES lineage, so
    # the nondeterministic range sampling can never be replayed — a
    # lost block fails the job loudly instead of recomputing with
    # fresh boundaries and silently mis-ranking; blocks are freed
    # when the DataFrame is garbage-collected
    return (
        df.repartitionByRange(p, *[F.col(c) for c in order_cols])
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )


def _ranged_with_offsets(
    df: DataFrame, order_cols: list[str], num_partitions: int | None
) -> tuple[DataFrame, DataFrame, int]:
    """Attach a ``__pid`` bucket id consistent with the global ordering;
    return (bucketed df, broadcastable (__pid → __off) offset table,
    total row count)."""
    spark = df.sparkSession
    ranged = _bucketed(df, order_cols, num_partitions)
    counts = sorted(
        (r["__pid"], r["n"])
        for r in ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    offsets, total = [], 0
    for pid_val, n in counts:
        offsets.append((pid_val, total))
        total += n
    off_df = spark.createDataFrame(offsets, "__pid int, __off long")
    return ranged, off_df, total


def _stamp(ranged: DataFrame, off_df: DataFrame, order_cols: list[str], expr_fn) -> DataFrame:
    w = Window.partitionBy("__pid").orderBy(*[F.col(c) for c in order_cols])
    rn = F.row_number().over(w) + F.col("__off")
    return (
        ranged.join(F.broadcast(off_df), "__pid")
        .withColumn("__rank_out", expr_fn(rn))
        .drop("__pid", "__off")
    )


def with_global_row_number(
    df: DataFrame, order_cols: list[str], out_col: str = "rn", num_partitions: int | None = None
) -> DataFrame:
    """``row_number() OVER (ORDER BY order_cols)`` — global, bigint,
    1-based — computed with per-bucket windows + offsets instead of a
    single-partition global sort."""
    ranged, off_df, _ = _ranged_with_offsets(df, order_cols, num_partitions)
    return _stamp(ranged, off_df, order_cols, lambda rn: rn.cast("bigint")).withColumnRenamed(
        "__rank_out", out_col
    )


def with_global_ntile(
    df: DataFrame,
    order_cols: list[str],
    n_buckets: int,
    out_col: str = "bucket",
    num_partitions: int | None = None,
) -> DataFrame:
    """``NTILE(n_buckets) OVER (ORDER BY order_cols)`` without the global
    sort: the first ``total mod n`` tiles get ``total div n + 1`` rows,
    the rest ``total div n`` — stamped from the scalable global row
    number with pure arithmetic (exact NTILE semantics)."""
    ranged, off_df, total = _ranged_with_offsets(df, order_cols, num_partitions)
    base, rem = divmod(total, n_buckets)
    big, small = base + 1, max(base, 1)
    cut = rem * big

    def tile(rn: Column) -> Column:
        return (
            F.when(rn <= cut, F.floor((rn + big - 1) / big))
            .otherwise(F.lit(rem) + F.floor((rn - cut + small - 1) / small))
            .cast("int")
        )

    return _stamp(ranged, off_df, order_cols, tile).withColumnRenamed("__rank_out", out_col)


def dense_rank_map(
    df: DataFrame, col: str, out_col: str = "rank", num_partitions: int | None = None
) -> DataFrame:
    """(value → dense rank) lookup table for ``col``: rank the DISTINCT
    values with the scalable row number. Sized by distinct cardinality —
    meant for enum-like columns where the map broadcasts."""
    return with_global_row_number(df.select(col).distinct(), [col], out_col, num_partitions)


def with_global_prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "cum",
    num_partitions: int | None = None,
) -> DataFrame:
    """``SUM(value) OVER (ORDER BY order_cols ROWS UNBOUNDED PRECEDING)``
    — the global running total — without an unpartitioned window.

    Same two-pass scheme as the ranking helpers, with VALUE offsets
    instead of row offsets: bucket by the ordering domain, running-sum
    within each bucket (partitioned window), and add the cumulative
    total of all earlier buckets via a broadcast join. The per-bucket
    totals cross the driver as one row per bucket (metadata, like the
    row-count offsets); their Python-side accumulation preserves
    Decimal exactly, so a decimal ``value_col`` keeps exact prefix
    sums end to end. Callers pass a TOTAL ordering, as with any window.
    """
    spark = df.sparkSession
    ranged = _bucketed(df, order_cols, num_partitions)
    sums_df = ranged.groupBy("__pid").agg(F.sum(value_col).alias("__v"))
    vtype = dict(sums_df.dtypes)["__v"]
    rows = sorted((r["__pid"], r["__v"]) for r in sums_df.collect())
    offsets, running = [], None
    for pid_val, v in rows:
        offsets.append((pid_val, running))
        if v is not None:
            running = v if running is None else running + v
    off_df = spark.createDataFrame(offsets, f"__pid int, __voff {vtype}")
    w = Window.partitionBy("__pid").orderBy(*[F.col(c) for c in order_cols]).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    winsum = F.sum(F.col(value_col)).over(w)
    # NULL semantics must match the global window: a row whose in-bucket
    # prefix is all-NULL carries the earlier buckets' total (itself NULL
    # only if ALL earlier values were NULL too) — never NULL-poisoned by
    # the bucket-local sum
    cum = F.when(winsum.isNull(), F.col("__voff")).otherwise(
        winsum + F.coalesce(F.col("__voff"), F.lit(0))
    )
    return (
        ranged.join(F.broadcast(off_df), "__pid")
        .withColumn(out_col, cum)
        .drop("__pid", "__voff")
    )
