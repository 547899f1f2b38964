"""The arrow pairwise-cosine kernel must be bit-identical to the JVM
aggregate/zip_with fold — the r14 optimization replaced the interpreted
per-pair dot fold, never the values. The fold lives in
tests/kernel_reference.py.

The kernel accumulates elementwise-sequentially per (row, dim) step, so
every intermediate IEEE-754 rounding matches the JVM left fold; the
comparison below is exact double equality (no tolerance). NULL vectors
or norms → NULL cosine on both paths; zero norm products fail on both
paths (ANSI division by zero in the SQL form, a descriptive kernel
error in the arrow form).
"""

from __future__ import annotations

import math

import pytest

from batch_data_pipeline_exercise_spark.operators import similarity as S
from tests import kernel_reference as ref

ROWS = [
    (1, 2, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0], 3.7416573867739413, 8.774964387392123),
    (5, 6, None, [1.0, 2.0, 3.0], None, 3.7416573867739413),
    (7, 8, [0.1] * 64, [0.2] * 64, 0.8, 1.6),
    (9, 10, [1e300, 1e300], [1e300, -1e300], 1.414e300, 1.414e300),
    (11, 12, [float("nan"), 1.0], [1.0, 1.0], float("nan"), 1.0),
]
SCHEMA = "id1 bigint, id2 bigint, __va array<double>, __vb array<double>, __na double, __nb double"


def _eq(x, y):
    if x is None or y is None:
        return x is None and y is None
    return x == y or (math.isnan(x) and math.isnan(y))


@pytest.fixture(scope="module")
def pairs_df(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def test_arrow_equals_sql_fold(pairs_df):
    a = {
        (r["id1"], r["id2"]): r["cosine"]
        for r in S._cosine_scored_pairs(
            pairs_df, "id1", "id2", "__va", "__vb", "__na", "__nb"
        ).collect()
    }
    s = {
        (r["id1"], r["id2"]): r["cosine"]
        for r in ref.cosine_scored_pairs(
            pairs_df, "id1", "id2", "__va", "__vb", "__na", "__nb"
        ).collect()
    }
    assert set(a) == set(s)
    assert all(_eq(a[k], s[k]) for k in a)


def test_zero_norm_matches_session_ansi_mode(spark):
    """Engine session (ANSI off): 0/0 → NaN on both paths. ANSI on
    (the plain driver-session default): both paths FAIL — the SQL
    division throws DIVIDE_BY_ZERO, the kernel raises its descriptive
    twin."""
    z = spark.createDataFrame([(3, 4, [], [], 0.0, 0.0)], SCHEMA)
    vals = []
    for score in (S._cosine_scored_pairs, ref.cosine_scored_pairs):
        rows = score(z, "id1", "id2", "__va", "__vb", "__na", "__nb").collect()
        vals.append([(r["id1"], r["id2"], str(r["cosine"])) for r in rows])
    assert vals[0] == vals[1]
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        for score in (S._cosine_scored_pairs, ref.cosine_scored_pairs):
            with pytest.raises(Exception):
                score(z, "id1", "id2", "__va", "__vb", "__na", "__nb").collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


def test_topk_bruteforce_bit_identical(spark, monkeypatch):
    """End-to-end: the brute-force top-k (ranks AND raw cosine doubles)
    is identical with the kernel and with the reference fold swapped in
    as the scorer, on a deterministic vector set."""
    import random

    rng = random.Random(7)
    vecs = [(i, [rng.gauss(0.0, 1.0) for _ in range(16)]) for i in range(60)]
    e = spark.createDataFrame(vecs, "vec_id bigint, embedding array<float>")
    from pyspark.sql import functions as F

    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    ra = sorted(map(tuple, S.cosine_topk_bruteforce(e, q, k=10).collect()))
    monkeypatch.setattr(S, "_cosine_scored_pairs", ref.cosine_scored_pairs)
    rs = sorted(map(tuple, S.cosine_topk_bruteforce(e, q, k=10).collect()))
    assert ra == rs
