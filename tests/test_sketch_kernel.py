"""The arrow sign-sketch kernel must be EXACTLY the SQL projection —
norms (float-exact), band keys, and edge semantics alike. The r14
optimization replaced the evaluation engine, never the result. The SQL
projection lives in tests/kernel_reference.py.

Edge rows are the contract: a NULL vector keys to 0 in every band with
a NULL norm (the SQL CASE takes the 0 branch on a NULL dot); an EMPTY
vector keys to 0 too (zip_with pads it with nulls, nulling the fold)
with norm 0.0 (the norm's transform yields an empty array, folded to
the 0.0 base); a ragged width raises a descriptive error instead of the
SQL form's silent null-padded-zip keys — in the materialized sketch and
in the pre-flight occupancy scout alike, which share the kernel.
"""

from __future__ import annotations

import pytest

from batch_data_pipeline_exercise_spark.operators import similarity as sim
from tests import kernel_reference as ref

DIM = 16

ROWS = [
    (1, [0.5] * DIM),
    (2, None),
    (3, []),
    (4, [-0.25] * DIM),
    (5, [1e-300] * DIM),
    (6, [float(i) - (DIM - 1) / 2.0 for i in range(DIM)]),
]


@pytest.fixture(scope="module")
def vecs_df(spark):
    return spark.createDataFrame(ROWS, "vec_id bigint, embedding array<double>")


def test_arrow_sketch_equals_sql_sketch(vecs_df):
    a = ref.banded_sign_sketch(vecs_df, 4, 4, 7, dim=DIM)
    b = sim.banded_sign_sketch(vecs_df, 4, 4, 7, dim=DIM)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    rows = {r["id"]: r for r in b.collect()}
    # NULL vector: NULL norm, all-zero keys
    assert rows[2]["__n"] is None
    assert all(bk["key"] == 0 for bk in rows[2]["__bands"])
    # EMPTY vector: 0.0 norm, all-zero keys
    assert rows[3]["__n"] == 0.0
    assert all(bk["key"] == 0 for bk in rows[3]["__bands"])


def test_arrow_sketch_float_input_type(spark):
    df = spark.createDataFrame(
        [(1, [0.125] * DIM), (2, [-1.5] * DIM)], "vec_id bigint, embedding array<float>"
    )
    a = ref.banded_sign_sketch(df, 2, 3, 11, dim=DIM)
    b = sim.banded_sign_sketch(df, 2, 3, 11, dim=DIM)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_arrow_sketch_ragged_width_raises(spark):
    df = spark.createDataFrame(
        [(1, [0.5] * DIM), (2, [0.5] * (DIM + 1))], "vec_id bigint, embedding array<double>"
    )
    with pytest.raises(Exception, match="width"):
        sim.banded_sign_sketch(df, 2, 2, 7, dim=DIM).collect()
    # the scout builds its band keys with the same kernel, so it refuses
    # the ragged row too (its SQL form keyed null-padded vectors)
    with pytest.raises(Exception, match="width"):
        sim.sign_lsh_occupancy_stats(df, 2, 2, 7, dim=DIM).collect()
