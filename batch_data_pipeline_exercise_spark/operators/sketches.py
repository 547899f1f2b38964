"""Mergeable sketches: incremental DISTINCT counts without re-reading
history.

Plain partial aggregation keeps SUM/COUNT/MIN/MAX maintainable
increment-over-increment (see ``incremental_monthly_revenue``), but
COUNT(DISTINCT) is not summable — a 100 TB pipeline either re-scans
history per report or stores a MERGEABLE summary per increment. Apache
DataSketches (built into Spark: ``hll_sketch_agg`` / ``hll_union_agg``)
provides exactly that: per-batch sketch rows union-merge at read time,
at any grouping coarser than the stored one, touching only the sketch
table.

Determinism note: HLL sketches are hash-based and order-independent,
so a given input SET produces the same sketch bytes and the same
estimate on every run and partitioning — and in the sketch's
exact coupon regime (DataSketches promotes to estimation mode at a
small fraction of 2^lgK items, NOT at 2^lgK) the HLL estimate is
EXACT, which is what lets ``user_reach_by_type`` carry a plain
COUNT(DISTINCT) oracle at test scales (cardinality 1.5k vs lgK=17
threshold 131k; beyond it the estimate degrades gracefully to ±~1%
and the oracle pairing would switch to rows-only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# --- KMV (k-minimum-values) primitives -------------------------------------
# Used by the batch query (plans/contract5.py event_type_user_overlap_kmv):
# ONE hash and ONE hash-space constant, so independently-built sketches
# stay bit-compatible by construction.

KMV_H = 1152921504606846976.0  # 2^60 — the hash-space size as exact double


def kmv_hash(id_col: str) -> F.Column:
    """60-bit uniform hash of an id: first 15 md5 hex digits, the
    construction every SQL engine can replicate (the DuckDB twin is
    CAST(('0x' || substr(md5(CAST(x AS VARCHAR)), 1, 15)) AS BIGINT))."""
    return (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10)
        .cast("bigint")
    )


def build_distinct_sketches(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lg_k: int = 17,
    sketch_col: str = "hll_sketch",
) -> DataFrame:
    """One HLL sketch row per group for THIS increment — the mergeable
    replacement for storing raw values. Append the result to the sketch
    table; history is never re-read."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(lg_k)).alias(sketch_col)
    )


def merge_distinct_counts(
    sketches: DataFrame,
    group_cols: list[str],
    lg_k: int = 17,
    sketch_col: str = "hll_sketch",
    out_col: str = "n_distinct",
) -> DataFrame:
    """Roll accumulated sketch rows up to ``group_cols`` (any subset of
    the stored grouping) and estimate the distinct count. Reads ONLY the
    sketch table — cost is proportional to the number of stored groups,
    not the number of raw rows ever ingested."""
    return sketches.groupBy(*group_cols).agg(
        F.hll_sketch_estimate(
            F.hll_union_agg(F.col(sketch_col), F.lit(True))
        ).alias(out_col)
    )

