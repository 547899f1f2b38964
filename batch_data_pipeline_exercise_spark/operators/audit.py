"""Table auditing: order-free content checksums.

Verifying that two copies of a 100 TB table agree cannot sort either
side. The fingerprint here is DISTRIBUTIVE and ORDER-FREE: per row, a
60-bit word from the md5 of a caller-canonicalized string; per
group/table, the XOR of those words plus a row count. XOR is
commutative/associative (partition order, shuffle order, and file
layout can't change it), NULL-free by construction, and mergeable —
partition-level checksums XOR into a table checksum. Any single-row
difference flips the fingerprint with probability 1 − 2⁻⁶⁰; matching
(count, xor) pairs per partition localize a divergence to one
partition without moving data.

Canonicalization is the caller's job (cast timestamps to formatted
strings, money to fixed-scale decimals) because only the caller knows
the semantic types — the operators here just hash and fold.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


NULL_SENTINEL = "␀"  # ␀ SYMBOL FOR NULL — unlikely in real data


def row_fingerprint(cols: list[Column | str], sep: str = "|") -> Column:
    """60-bit row word: first 15 hex chars of md5 over the separator-join
    of the canonical columns. Each NULL column encodes as the ␀
    sentinel BEFORE the join — concat_ws alone silently drops a NULL
    together with its separator, which would make rows differing only
    in WHICH column is NULL collide (and diverge from any
    ``||``-concatenation oracle, where NULL poisons the whole string).
    A non-null literal ␀ remains indistinguishable from NULL — use a
    different ``sep``/pre-encoding if that byte can occur. 15 hex = 60
    bits keeps the bigint positive in every engine's hex→int
    conversion."""
    enc = [
        F.coalesce((F.col(c) if isinstance(c, str) else c).cast("string"), F.lit(NULL_SENTINEL))
        for c in cols
    ]
    s = F.concat_ws(sep, *enc)
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")


def content_checksum(
    df: DataFrame,
    cols: list[Column | str],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """(group_cols?, n_rows, checksum): XOR-folded row fingerprints.

    One narrow projection + one aggregate — map-side combine does almost
    all the work, the shuffle carries one (count, word) pair per
    partition per group. Compare two tables by joining their checksum
    frames on the group key."""
    fp = row_fingerprint(cols).alias("__fp")
    base = df.select(*(group_cols or []), fp)
    aggs = [F.count(F.lit(1)).alias("n_rows"), F.bit_xor("__fp").alias("checksum")]
    if group_cols:
        return base.groupBy(*group_cols).agg(*aggs)
    return base.agg(*aggs)
