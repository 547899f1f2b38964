"""Scalar-function building blocks shared across operators.

These are the engine-level equivalents of the reference's recommended
practices: null-safe change detection (reference ``docs/guides.md:65`` —
its own SQL at ``process_orders_sqls.py:35`` has the NULL bug), SHA1
surrogate keys and row checksums (``docs/guides.md:63-64``), and the SCD2
temporal-validity predicate (``process_orders_sqls.py:34,39,104``).

All JVM-side built-ins — nothing here leaves whole-stage codegen.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Unit separator — an unambiguous concat delimiter for key/checksum inputs.
_SEP = "\x1f"
# Distinct marker for NULL so (NULL, 'x') and ('x', NULL) hash differently.
_NULL = "\x00"


def _canon(cols: list[str | Column]) -> list[Column]:
    return [F.coalesce(F.col(c).cast("string") if isinstance(c, str) else c.cast("string"), F.lit(_NULL)) for c in cols]


def surrogate_key(*cols: str | Column) -> Column:
    """SHA1 surrogate key over source-system id + natural key
    (guides.md:63). Deterministic across runs and engines."""
    return F.sha1(F.concat_ws(_SEP, *_canon(list(cols))))


def row_checksum(*cols: str | Column) -> Column:
    """Cheap change-detection checksum (guides.md:64). xxhash64 is the fast
    JVM path; cross-engine oracle queries use md5 instead (operators use
    whichever fits)."""
    return F.xxhash64(F.concat_ws(_SEP, *_canon(list(cols))))


def change_detected(left_prefix: str, right_prefix: str, cols: list[str]) -> Column:
    """Null-safe "any tracked attribute differs" predicate.

    The reference's ``<>``-based predicate silently misses NULL→value and
    value→NULL transitions; ``eqNullSafe`` fixes that (SURVEY.md §2.2 P4).
    """
    pred = F.lit(False)
    for c in cols:
        pred = pred | ~F.col(f"{left_prefix}.{c}").eqNullSafe(F.col(f"{right_prefix}.{c}"))
    return pred


def ts_lit(ts: datetime | str) -> Column:
    if isinstance(ts, datetime):
        ts = ts.strftime("%Y-%m-%d %H:%M:%S")
    return F.lit(ts).cast("timestamp")


def current_at(ts: datetime | str | Column, start: str = "start_time", end: str = "end_time") -> Column:
    """Half-open SCD2 validity: row current at t iff start <= t < end
    (process_orders_sqls.py:34,39,104)."""
    t = ts if isinstance(ts, Column) else ts_lit(ts)
    return (t >= F.col(start)) & (t < F.col(end))


def plan_partition_count(df: DataFrame) -> int:
    """Partition count of ``df``'s physical plan, read off the cached
    QueryExecution instead of ``df.rdd`` — the PySpark ``.rdd`` property
    wraps the plan in a NEW Python-serialized RDD on every access, pure
    driver-side overhead for one int. Batch DataFrames only (a streaming
    plan has no toRdd), same constraint as localCheckpoint."""
    return df._jdf.queryExecution().toRdd().getNumPartitions()
