"""Data-layout keys: the space-filling-curve (Z-order) key for
multi-dimensional data skipping.

Parquet min/max statistics prune files only when rows with nearby values
live in the same files. A sort lays data out well for ONE column;
Z-ordering interleaves the bits of several columns so that a range
filter on ANY of them touches a small fraction of files — the layout
trick behind Delta/Iceberg OPTIMIZE ZORDER, built here from plain
column expressions (no engine extension needed).

The Morton key is pure integer bit arithmetic — deterministic,
cross-engine reproducible (the SQL oracle computes the same key), and
cheap (no UDF, stays inside codegen).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def morton_key(cols: list[Column], bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of each column (non-negative
    integers) into one Z-order key: bit i of column j lands at position
    i * n_cols + j. Disjoint target bits, so the combine is a plain sum.

    Columns should be pre-scaled to fit ``bits`` bits (values are masked,
    so overflow degrades clustering quality, never correctness)."""
    n = len(cols)
    if not 1 <= n <= 4:
        raise ValueError("morton_key interleaves 1-4 columns")
    if bits * n > 62:
        raise ValueError(f"bits={bits} x {n} cols exceeds a signed bigint")
    key = F.lit(0).cast("bigint")
    for j, c in enumerate(cols):
        v = c.cast("bigint")
        for i in range(bits):
            key = key + (v.bitwiseAND(F.lit(1 << i)).cast("bigint") * F.lit(1 << (i * (n - 1) + j)))
    return key


def morton_key_sql(col_exprs: list[str], bits: int = 16) -> str:
    """DuckDB/ANSI twin of ``morton_key`` for differential oracles —
    same bit placement, same masking, same sum-combine."""
    n = len(col_exprs)
    terms = []
    for j, e in enumerate(col_exprs):
        for i in range(bits):
            terms.append(f"(CAST({e} AS BIGINT) & {1 << i}) * {1 << (i * (n - 1) + j)}")
    return "(" + " + ".join(terms) + ")"
