"""Mergeable-sketch maintenance: incremental DISTINCT counts and
quantiles without re-reading history.

Plain partial aggregation keeps SUM/COUNT/MIN/MAX maintainable
increment-over-increment (see ``incremental_monthly_revenue``), but
COUNT(DISTINCT) and percentiles are not summable — a 100 TB pipeline
either re-scans history per report or stores a MERGEABLE summary per
increment. Apache DataSketches (built into Spark: ``hll_sketch_agg`` /
``hll_union_agg``, ``kll_sketch_*``) provides exactly that: per-batch
sketch rows union-merge at read time, at any grouping coarser than the
stored one, touching only the sketch table.

Determinism note: HLL/KLL sketches are hash-based and order-
independent, so a given input SET produces the same sketch bytes and
the same estimate on every run and partitioning — and in the sketch's
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


def build_quantile_sketches(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 2048,
    sketch_col: str = "kll_sketch",
) -> DataFrame:
    """One KLL(double) sketch row per group per increment — mergeable
    percentiles (rank error ~1.7/sqrt(k) at k=2048 ≈ 0.08%)."""
    return df.groupBy(*group_cols).agg(
        F.kll_sketch_agg_double(F.col(value_col).cast("double"), F.lit(k)).alias(sketch_col)
    )


def _fold_merged_sketch(grouped: DataFrame, out_col: str) -> DataFrame:
    """Fold a collected list of KLL sketch binaries into one merged
    sketch. The list is ``array_sort``-ed first: ``collect_list`` order
    is shuffle-nondeterministic and KLL merge results depend on merge
    order (compaction decisions differ), so an unsorted fold can return
    different sketch bytes — and different exact quantile values — run
    to run. Sorting on the binary itself (lexicographic) pins the fold
    order with no extra key column; values stay within the same rank-
    error bound either way, now reproducibly so. This still must never
    be paired with a value-hashing oracle (the bytes are
    Spark-version-specific), only with tolerance or rows-only checks."""
    return grouped.withColumn("__sorted", F.array_sort(F.col("__l"))).withColumn(
        out_col,
        F.expr(
            "aggregate(slice(__sorted, 2, greatest(size(__sorted) - 1, 0)), "
            "element_at(__sorted, 1), (acc, x) -> kll_sketch_merge_double(acc, x))"
        ),
    )


def merge_quantiles(
    sketches: DataFrame,
    group_cols: list[str],
    quantiles: list[float],
    sketch_col: str = "kll_sketch",
) -> DataFrame:
    """Merge stored KLL sketches to ``group_cols`` and read off the
    requested quantiles as ``q_<pct>`` columns.

    Spark ships KLL merge only as a BINARY scalar
    (``kll_sketch_merge_double``), not an aggregate, so the rollup
    collects each group's sketch rows and sort-folds the merge
    (deterministic — see ``_fold_merged_sketch``). The list is bounded
    by the number of stored INCREMENTS per group (one sketch row each,
    ~KB apiece), never by raw data volume; run
    ``compact_quantile_sketches`` on the table periodically to bound it
    at any horizon."""
    merged = _fold_merged_sketch(
        sketches.groupBy(*group_cols).agg(F.collect_list(F.col(sketch_col)).alias("__l")),
        "__m",
    )
    cols = [
        F.kll_sketch_get_quantile_double(F.col("__m"), F.lit(float(q))).alias(
            f"q_{str(q).replace('.', '_')}"
        )
        for q in quantiles
    ]
    return merged.select(*group_cols, *cols)


def compact_distinct_sketches(
    sketches: DataFrame,
    group_cols: list[str],
    lg_k: int = 17,
    sketch_col: str = "hll_sketch",
) -> DataFrame:
    """Merge each group's accumulated HLL increment rows into ONE row
    with the same schema — overwrite the sketch table with the result
    on a maintenance cadence (``Pipeline.maintain`` file-count gate) so
    read-time union cost stays O(groups) at any horizon. Union of
    unions is the same set-function, so estimates are identical before
    and after compaction."""
    return sketches.groupBy(*group_cols).agg(
        F.hll_union_agg(F.col(sketch_col), F.lit(True)).alias(sketch_col)
    )


def compact_quantile_sketches(
    sketches: DataFrame,
    group_cols: list[str],
    sketch_col: str = "kll_sketch",
) -> DataFrame:
    """Merge each group's accumulated KLL increment rows into ONE row
    with the same schema. A daily increment over a decade is ~3,650
    ~KB structs in ``merge_quantiles``'s per-group fold array;
    compacting periodically bounds that list at any horizon. The
    compacted sketch is the same sort-fold ``merge_quantiles`` reads
    through, so read-off quantiles are identical before and after
    (proven by ``test_sketches.py``)."""
    folded = _fold_merged_sketch(
        sketches.groupBy(*group_cols).agg(F.collect_list(F.col(sketch_col)).alias("__l")),
        "__compacted",
    )
    return folded.select(*group_cols, F.col("__compacted").alias(sketch_col))


def compact_sketch_table(
    wh,
    table: str,
    group_cols: list[str],
    max_rows_per_group: int = 64,
    sketch_col: str | None = None,
    kind: str | None = None,
) -> bool:
    """Maintenance entry point for a persisted sketch table: when any
    group has accumulated more than ``max_rows_per_group`` increment
    rows, rewrite the table with one merged row per group (crash-safe
    via ``Warehouse.overwrite``'s swap). The gate is a cheap aggregate
    over the sketch table itself — O(stored groups), the same cadence
    economics as ``Pipeline.maintain``'s file-count gate. Returns
    whether a rewrite happened.

    ``kind`` ('hll' | 'kll') selects the merge; when omitted it is
    inferred from the sketch column's NAME PREFIX, and an
    unrecognisable prefix raises instead of guessing — routing HLL
    bytes through the KLL merge (or vice versa) would fail or corrupt
    deep inside the rewrite."""
    if not wh.exists(table):
        return False
    df = wh.read(table)
    if sketch_col is None:
        candidates = [c for c in df.columns if c.endswith("_sketch")]
        if not candidates:
            raise ValueError(
                f"compact_sketch_table: no *_sketch column in {table!r} "
                f"(columns: {df.columns}) — pass sketch_col"
            )
        sketch_col = candidates[0]
    if kind is None:
        if sketch_col.startswith("hll"):
            kind = "hll"
        elif sketch_col.startswith("kll"):
            kind = "kll"
        else:
            raise ValueError(
                f"compact_sketch_table: cannot infer sketch kind from column "
                f"{sketch_col!r} — pass kind='hll' or kind='kll'"
            )
    if kind not in ("hll", "kll"):
        raise ValueError(f"compact_sketch_table: kind must be 'hll' or 'kll', got {kind!r}")
    worst = (
        df.groupBy(*group_cols).count().agg(F.max("count").alias("m")).collect()[0]["m"]
    )
    if worst is None or worst <= max_rows_per_group:
        return False
    compactor = compact_distinct_sketches if kind == "hll" else compact_quantile_sketches
    wh.overwrite(compactor(df, group_cols, sketch_col=sketch_col), table)
    return True
