"""Broadcast Bloom filter as a bit-packed word table — the runtime-filter
pattern for "prune a huge probe side against a small build side" when the
build side's distinct-key set is too big to broadcast raw but its BITS
are not.

Spark's own ``bloom_filter_agg`` / ``might_contain`` expressions exist in
the engine but are not registered in the public function registry, so
this module builds the same structure from plain DataFrame ops:

- ``bloom_build(df, col)`` hashes every value with ``k`` seeded xxhash64
  functions, maps each position to a ``(word_idx, 1L << (pos % 64))``
  pair, and ORs the masks per 64-bit word: a DataFrame of at most
  ``m_bits / 64`` rows regardless of the build side's cardinality — the
  whole point. For ``m_bits = 2**20`` that is ≤ 16,384 rows (~256 KB),
  broadcastable at any corpus size. The parameters travel WITH the
  words inside the returned ``BloomFilter``, so probe-time hashing can
  never disagree with build-time hashing (a silent m/k mismatch would
  produce false negatives — the one failure mode this module promises
  away).
- ``bloom_prune(df, col, bf)`` keeps only rows whose ``k`` probe bits
  are ALL set: ``k`` BroadcastHashJoins against the word table plus a
  bitwise-AND filter. Absent words short-circuit via the inner join
  (a missing word means every bit in it is 0 → definitely absent).

Guarantees: NO false negatives (every true member survives — proven by
``tests/test_bloom.py`` against the exact join); false positives are
expected and MUST be re-verified by an exact join on the survivors,
which is cheap precisely because the survivor set is small. At 100 TB
this replaces a full shuffle of the probe side's join column with a
map-side filter that typically drops >95% of probe rows before the
exact join's exchange.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_M_BITS = 1 << 20
DEFAULT_K = 3


@dataclass(frozen=True)
class BloomFilter:
    """A built filter: the bit-packed word table plus the (m_bits, k)
    it was hashed with. Probing reads the parameters from here, so
    build/probe hashing cannot drift apart."""

    words: DataFrame  # (word_idx bigint, bits bigint)
    m_bits: int
    k: int


def _positions(col: str, m_bits: int, k: int) -> list[F.Column]:
    """The k seeded bit positions of a value — pmod keeps them in
    [0, m_bits) even though xxhash64 is signed."""
    return [F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(m_bits)) for i in range(k)]


def bloom_build(
    df: DataFrame, col: str, m_bits: int = DEFAULT_M_BITS, k: int = DEFAULT_K
) -> BloomFilter:
    """Build the Bloom filter for ``df[col]``.

    The word table has one row per 64-bit word with at least one set
    bit. One explode (k rows per value) + one hash aggregate on
    word_idx — linear in the build side, output bounded by m_bits/64
    rows.
    """
    if m_bits % 64 != 0 or m_bits <= 0:
        raise ValueError("bloom_build: m_bits must be a positive multiple of 64")
    pos = df.select(F.explode(F.array(*_positions(col, m_bits, k))).alias("__pos"))
    words = (
        pos.select(
            F.shiftrightunsigned("__pos", 6).alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(__pos, 64) AS INT))").alias("__mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("__mask").alias("bits"))
        # Pin the word table: ``bloom_prune`` broadcasts it ONCE PER HASH
        # (k BroadcastExchanges), and without the pin each broadcast
        # re-runs the whole build subtree — explode + partial/final
        # aggregate + exchange over the build side — k times (observed in
        # the r14 contamination plan: the identical Generate/HashAggregate
        # /Exchange chain appeared under every probe's BroadcastExchange).
        # The table is ≤ m_bits/64 rows (~16k at the defaults) so the pin
        # is a few hundred KB; lazy, so the first probe's broadcast
        # materializes it and the remaining k-1 read blocks (guide §2.4 —
        # share one computation instead of duplicating the subtree).
        .localCheckpoint(eager=False)
    )
    return BloomFilter(words=words, m_bits=m_bits, k=k)


def bloom_prune(df: DataFrame, col: str, bf: BloomFilter) -> DataFrame:
    """Rows of ``df`` whose ``col`` MIGHT be in the set ``bf`` encodes.

    k BroadcastHashJoins on word_idx + single-bit AND checks; the inner
    join drops rows probing an all-zero (absent) word. Same columns as
    ``df`` on output. Callers must exact-verify survivors — this is a
    pruning step, not a membership oracle.
    """
    out = df
    for i, pos in enumerate(_positions(col, bf.m_bits, bf.k)):
        w = bf.words.select(
            F.col("word_idx").alias(f"__w{i}"), F.col("bits").alias(f"__b{i}")
        )
        out = (
            out.withColumn(f"__pos{i}", pos)
            .withColumn(f"__m{i}", F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pmod(__pos{i}, 64) AS INT))"))
            .join(F.broadcast(w), F.shiftrightunsigned(F.col(f"__pos{i}"), 6) == F.col(f"__w{i}"))
            .filter(F.col(f"__b{i}").bitwiseAND(F.col(f"__m{i}")) != 0)
            .drop(f"__pos{i}", f"__m{i}", f"__w{i}", f"__b{i}")
        )
    return out
