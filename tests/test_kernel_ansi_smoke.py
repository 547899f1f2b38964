"""Both-session-flavors smoke for every arrow kernel (r14 verdict item 8).

The engine session runs ANSI OFF (session.py) while the plain
driver-contract session runs ANSI ON — and two r14 kernels initially
passed their A/B on one flavor and failed on the other (the traps memo:
division-by-zero NULL-vs-throw, ``size(NULL)`` −1-vs-NULL). This module
runs each kernel against its pure-JVM reference form
(tests/kernel_reference.py) under BOTH dialects on inputs that
exercise the session-sensitive edges (NULL text, NULL vectors, NULL
elements inside vectors, empty strings/arrays), so any future kernel
edit that reintroduces a dialect dependence fails CI in the flavor the
other suites don't run.

Exact row-set equality, no tolerance. The zero-norm DIVISION edge is
pinned separately in test_cosine_kernel.py (it raises under ANSI in
both forms by design).
"""

from __future__ import annotations

import math
from contextlib import contextmanager

import pytest

from batch_data_pipeline_exercise_spark.operators import dedup, similarity, text
from tests import kernel_reference as ref


@contextmanager
def ansi(spark, on: bool):
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true" if on else "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


def _norm_rows(rows):
    def v(x):
        if isinstance(x, float) and math.isnan(x):
            return "NaN"
        if isinstance(x, list):
            return tuple(v(e) for e in x)
        if isinstance(x, dict):
            return tuple(sorted((k, v(val)) for k, val in x.items()))
        return x

    return sorted(tuple(v(c) for c in r) for r in rows)


DOCS = [
    (1, "the cat sat on the mat and then the cat sat again"),
    (2, None),
    (3, ""),
    (4, "   "),
    (5, "a b"),
    (6, "un deux trois le la les et en une"),
]

VECS = [
    (1, [1.0, 2.0, 3.0, 4.0]),
    (2, None),
    (3, [0.5, None, 1.5, 2.0]),  # NULL element inside the vector
    (4, [0.0, 0.0, 0.0, 0.0]),
    (5, [-1.0, 2.5, -3.5, 4.25]),
]


@pytest.mark.parametrize("ansi_on", [False, True])
def test_gram_kernel_both_flavors(spark, ansi_on):
    with ansi(spark, ansi_on):
        df = spark.createDataFrame(DOCS, "doc_id bigint, text string")
        a = text.word_ngrams_exploded(df, "doc_id", "text", 3).collect()
        s = ref.word_ngrams_exploded(df, "doc_id", "text", 3).collect()
        assert _norm_rows(a) == _norm_rows(s)


@pytest.mark.parametrize("ansi_on", [False, True])
def test_scorer_kernel_both_flavors(spark, ansi_on):
    with ansi(spark, ansi_on):
        df = spark.createDataFrame(DOCS, "doc_id bigint, text string")
        a = text.with_quality_lang(df).collect()
        s = ref.with_quality_lang(df).collect()
        assert _norm_rows(a) == _norm_rows(s)


@pytest.mark.parametrize("ansi_on", [False, True])
def test_minhash_kernel_both_flavors(spark, ansi_on):
    with ansi(spark, ansi_on):
        df = spark.createDataFrame(DOCS, "doc_id bigint, text string")
        a = dedup.minhash_signatures_docs(df, "doc_id", k=8).collect()
        s = ref.minhash_signatures_docs(df, "doc_id", k=8).collect()
        assert _norm_rows(a) == _norm_rows(s)


@pytest.mark.parametrize("ansi_on", [False, True])
def test_sketch_kernel_both_flavors(spark, ansi_on):
    with ansi(spark, ansi_on):
        df = spark.createDataFrame(VECS, "vec_id bigint, embedding array<double>")
        cols = ["id", "__n", "__bands"]
        a = similarity.banded_sign_sketch(df, 2, 4, 42, dim=4).select(*cols).collect()
        s = ref.banded_sign_sketch(df, 2, 4, 42, dim=4).select(*cols).collect()
        assert _norm_rows(a) == _norm_rows(s)


@pytest.mark.parametrize("ansi_on", [False, True])
def test_cosine_kernel_both_flavors(spark, ansi_on):
    # non-zero norms only: the zero-norm division edge raises under ANSI
    # in both forms and is pinned in test_cosine_kernel.py
    rows = [
        (1, 2, [1.0, 2.0], [3.0, 4.0], 2.23606797749979, 5.0),
        (3, 4, None, [1.0, 1.0], None, 1.4142135623730951),
        (5, 6, [1.0, None], [1.0, 1.0], 1.0, 1.4142135623730951),  # NULL element
    ]
    schema = "id1 bigint, id2 bigint, __va array<double>, __vb array<double>, __na double, __nb double"
    with ansi(spark, ansi_on):
        df = spark.createDataFrame(rows, schema)
        a = similarity._cosine_scored_pairs(
            df, "id1", "id2", "__va", "__vb", "__na", "__nb"
        ).collect()
        s = ref.cosine_scored_pairs(df, "id1", "id2", "__va", "__vb", "__na", "__nb").collect()
        assert _norm_rows(a) == _norm_rows(s)
