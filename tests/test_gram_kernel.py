"""The arrow word-n-gram kernel must produce EXACTLY the row set of the
explode(array_distinct(word_ngrams(...))) form — the r14 optimization
replaced the per-gram interpreted expression chain, never the result.

The explode form is the test reference (tests/kernel_reference.py).

Edge rows are the contract: documents with fewer than n tokens emit
NOTHING (word_ngrams drops windows past the end), NULL/empty text emits
nothing, repeated grams collapse to one row per doc (array_distinct),
and empty edge tokens (from leading/trailing non-space whitespace,
which trim does not strip) join into grams exactly as concat_ws does.
Row ORDER within a partition may differ between the two forms (the explode
form keeps first-occurrence order, the kernel (row, dictionary-code)
order) — every consumer aggregates/joins on the gram or the id, so the
comparison here is sorted-row equality.
"""

from __future__ import annotations

import pytest

from batch_data_pipeline_exercise_spark.operators import text
from tests import kernel_reference as ref

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup doc
    (3, "pack my box with five dozen liquor jugs"),
    (4, "a b c d e"),  # exactly 5 tokens -> one 5-gram
    (5, "a b c d"),  # 4 tokens -> NO grams at n=5
    (6, "one"),  # single token
    (7, ""),  # empty -> no grams
    (8, "   "),  # whitespace-only -> normalizes to "" -> no grams
    (9, None),  # NULL text -> no rows
    (10, "x y z w v x y z w v x y z w v"),  # repeated grams -> distinct
    (11, "\tlead tab one two three four five"),  # empty edge token
    (12, "trail one two three four five\t"),  # trailing edge token
    (13, "The  QUICK   brown fox; jumps over\tthe lazy dog"),
    (14, "Ünïcødé tøkens höre ærè møre thån fïve ücs"),  # multi-byte UTF-8
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


@pytest.mark.parametrize("n", [1, 2, 5])
def test_arrow_equals_sql_form(docs_df, n):
    a = text.word_ngrams_exploded(docs_df, "doc_id", "text", n)
    s = ref.word_ngrams_exploded(docs_df, "doc_id", "text", n)
    ra = sorted(map(tuple, a.collect()))
    rs = sorted(map(tuple, s.collect()))
    assert ra == rs


def test_row_drop_contract(docs_df):
    """Docs with < n tokens, NULL, empty, whitespace-only: absent."""
    out = text.word_ngrams_exploded(docs_df, "doc_id", "text", 5)
    ids = sorted({r["doc_id"] for r in out.collect()})
    assert ids == [1, 2, 3, 4, 10, 11, 12, 13, 14]


def test_per_doc_distinct(docs_df):
    """Doc 10 repeats every gram 3x -> exactly one row per distinct gram
    (11 distinct windows over 15 tokens, 10 of them unique strings)."""
    out = text.word_ngrams_exploded(docs_df, "doc_id", "text", 5)
    rows = [r["g"] for r in out.filter("doc_id = 10").collect()]
    assert len(rows) == len(set(rows))


def test_kernel_plan_is_map_only(docs_df):
    """The point of the kernel: grams stay one map-only pass — no
    Exchange added by the operator itself."""
    out = text.word_ngrams_exploded(docs_df, "doc_id", "text", 5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "MapInArrow" in plan
