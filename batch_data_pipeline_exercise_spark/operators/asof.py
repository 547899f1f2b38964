"""Scalable as-of (point-in-time) join.

The reference's point-in-time join (J3) leans on SCD2 intervals, where a
plain equi+range ``df.join`` suffices. This operator covers the general
case — "for each left row, the latest right row with the same key and
``right_ts <= left_ts``" — WITHOUT the naive range join (which Catalyst
would plan as a hash join with a residual filter over the full per-key
cross product: quadratic per key, deadly at 100 TB).

Strategy: the classic union + window trick. Tag both sides, union on
(key, ts), sort within key, and carry the last-seen right row forward with
``last(..., ignorenulls=True)``. Cost: ONE hash shuffle on the key and one
sort — linear, skew-handled by AQE, no per-key blowup, no join-back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    left_ts: str,
    right_ts: str,
    right_prefix: str = "",
    tie_break: str | None = None,
    strict: bool = False,
    tolerance: str | None = None,
    direction: str = "backward",
) -> DataFrame:
    """Left as-of join, backward (default) or forward.

    Every ``left`` row is returned, augmented with the value columns of
    the matching ``right`` row — backward: the LATEST right with equal
    ``on`` keys and ``right_ts <= left_ts``; forward: the EARLIEST right
    with ``right_ts >= left_ts`` (strict flips ``<=``/``>=`` to strict
    inequality). NULLs when no match exists. Right value columns are
    prefixed ``right_prefix``.

    ``tie_break``: orders right rows with equal timestamps — backward the
    greatest value wins, forward the smallest (i.e. the row "nearest"
    past the boundary in scan order) — keeping results deterministic
    under duplicate timestamps.

    ``tolerance`` (e.g. ``"1 hour"``) bounds match staleness: a right row
    further than ``tolerance`` from ``left_ts`` (older for backward,
    newer for forward) is treated as no match (NULLs) —
    ``pd.merge_asof(tolerance=...)`` semantics. Implemented as a mask on
    the carried-forward row, so the plan is unchanged: still one shuffle,
    one window, no range join.

    Forward is the SAME union+window plan scanned in reverse: order the
    per-key window by ``ts`` descending (ties likewise reversed) and the
    "last seen right" becomes the next right at-or-after the left row —
    still one hash shuffle + one sort, no per-key blowup.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be 'backward' or 'forward', got {direction!r}")
    keys = [on] if isinstance(on, str) else list(on)
    lcols = left.columns
    rvals = [c for c in right.columns if c not in keys]

    # At equal ts a right row sorts before a left row for inclusive
    # semantics — the left row "sees" it; flipped when strict.
    r_side, l_side = (0, 1) if not strict else (1, 0)

    # a NULL right_ts satisfies neither <= nor >= any left_ts, so the
    # row can never match — and left unfiltered it would sort FIRST in
    # the ascending (backward) scan and be carried into left rows by
    # last(ignorenulls).
    # NULL join KEYS likewise: Window.partitionBy groups NULLs into one
    # partition, but the equi-join semantics this operator mirrors (and
    # every SQL oracle) never match NULL = NULL — drop NULL-key rights
    # so NULL-key left rows return unmatched instead of phantom-matched.
    null_key_guard = F.lit(True)
    for kcol in keys:
        null_key_guard = null_key_guard & F.col(kcol).isNotNull()
    rtagged = right.filter(null_key_guard & F.col(right_ts).isNotNull()).select(
        *keys,
        F.col(right_ts).alias("__ts"),
        F.lit(r_side).alias("__side"),
        (F.col(tie_break) if tie_break else F.lit(0)).alias("__tie"),
        F.struct(*[F.col(c) for c in rvals]).alias("__r"),
    ).withColumn("__l", F.lit(None).cast(f"struct<{','.join('`'+c+'`:'+left.schema[c].dataType.simpleString() for c in lcols)}>"))

    ltagged = left.select(
        *keys,
        F.col(left_ts).alias("__ts"),
        F.lit(l_side).alias("__side"),
        F.lit(None).cast(rtagged.schema["__tie"].dataType).alias("__tie"),
        F.lit(None).cast(rtagged.schema["__r"].dataType).alias("__r"),
        F.struct(*[F.col(c) for c in lcols]).alias("__l"),
    )

    if direction == "backward":
        order = [F.col("__ts").asc(), F.col("__side").asc(), F.col("__tie").asc()]
    else:
        # reverse scan: among equal-ts rights the LAST seen must be the
        # smallest tie value, so ties sort descending too
        order = [F.col("__ts").desc(), F.col("__side").asc(), F.col("__tie").desc()]
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    unioned = rtagged.unionByName(ltagged).withColumn("__last_r", F.last("__r", ignorenulls=True).over(w))
    if tolerance is not None:
        unioned = unioned.withColumn(
            "__last_ts",
            F.last(F.when(F.col("__r").isNotNull(), F.col("__ts")), ignorenulls=True).over(w),
        )
        in_range = (
            F.col("__last_ts") >= F.col("__ts") - F.expr(f"INTERVAL {tolerance}")
            if direction == "backward"
            else F.col("__last_ts") <= F.col("__ts") + F.expr(f"INTERVAL {tolerance}")
        )
        unioned = unioned.withColumn("__last_r", F.when(in_range, F.col("__last_r")))

    out = unioned.filter(F.col("__l").isNotNull()).select(
        *[F.col("__l").getField(c).alias(c) for c in lcols],
        *[F.col("__last_r").getField(c).alias(f"{right_prefix}{c}") for c in rvals],
    )
    return out

