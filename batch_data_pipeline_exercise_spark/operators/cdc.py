"""Snapshot-diff change data capture.

The reference's pipelines ingest full daily snapshots (products,
inventory) and reconstruct history from them; the inverse primitive is
just as load-bearing in a warehouse: given two snapshots of the same
table, emit the change set — which rows appeared, disappeared, or
changed, and what the old/new values are. That change set is what feeds
an SCD2 merge, an incremental downstream refresh, or a reverse-ETL sink,
without shipping the full snapshot again.

One full-outer join on the key (co-partitioned, bucketable — the same
scale shape as ``scd2_snapshot_merge``), presence classified by
explicit markers (NULL-key rows behave like any other row), change
detected null-safely per compared column.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Change set between two snapshots.

    Output: ``key``, ``change_type`` ('insert' | 'delete' | 'update'),
    and ``old_<c>`` / ``new_<c>`` for every compared column (NULL on the
    absent side of inserts/deletes). Unchanged rows are omitted — the
    result is the delta, sized by churn, not by table.

    ``compare_cols`` defaults to every shared non-key column. Comparison
    is null-safe: NULL → value and value → NULL are updates; NULL → NULL
    is unchanged.
    """
    if compare_cols is None:
        compare_cols = [c for c in old.columns if c != key and c in new.columns]
    o = old.select(key, *compare_cols).withColumn("__op", F.lit(True)).alias("o")
    n = new.select(key, *compare_cols).withColumn("__np", F.lit(True)).alias("n")
    j = o.join(n, F.col(f"o.{key}").eqNullSafe(F.col(f"n.{key}")), "full_outer")
    old_present = F.col("o.__op").isNotNull()
    new_present = F.col("n.__np").isNotNull()
    changed = reduce(
        lambda a, c: a | ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}")),
        compare_cols,
        F.lit(False),
    )
    change_type = (
        F.when(~old_present, F.lit("insert"))
        .when(~new_present, F.lit("delete"))
        .when(changed, F.lit("update"))
    )
    return (
        j.withColumn("change_type", change_type)
        .filter(F.col("change_type").isNotNull())
        .select(
            F.coalesce(F.col(f"o.{key}"), F.col(f"n.{key}")).alias(key),
            "change_type",
            *[F.col(f"o.{c}").alias(f"old_{c}") for c in compare_cols],
            *[F.col(f"n.{c}").alias(f"new_{c}") for c in compare_cols],
        )
    )
