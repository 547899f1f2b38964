"""The arrow scorer-counts kernel must produce EXACTLY the regex forms'
values — the r14 optimization replaced the per-needle regexp_count
folds and token/word regex counts with one vectorized counting pass,
never the results. The regex forms live in tests/kernel_reference.py.

The kernel computes ONLY integer counts; every ratio, quality weight,
and the language argmax stays in the JVM with the identical
expressions — so these tests compare full rows (ints AND derived
doubles) with exact equality, no tolerance. The edge frame covers the
semantics corners: space-only vs tab-edged trims (Spark trim strips
0x20 only), Java ASCII \\s, multi-byte UTF-8 (CJK range boundaries,
astral codepoints as single "other" tokens), unicode lowercasing
(JVM-side — the pad crosses the boundary pre-lowered), and the
non-overlapping literal-needle count (" the the ").
"""

from __future__ import annotations

import pytest

from batch_data_pipeline_exercise_spark.operators import text
from tests.kernel_reference import SCORERS

DOCS = [
    (1, "The quick brown fox, jumps over the lazy dog! And a dog is a dog."),
    (2, None),
    (3, ""),
    (4, "   "),
    (5, " \t "),
    (6, "\tlead tab"),
    (7, "trail\t"),
    (8, " a "),
    (9, "le la et les des chats"),
    (10, "el de que los una casa"),
    (11, "der die und das ein haus"),
    (12, "汉字测试文本这里有很多汉字呀"),
    (13, "mixed 汉字 and english the of is"),
    (14, "Ünïcødé tøkens ß İ ﬀ"),
    (15, "numbers 12345 and 9876543 plus symbols @#$%^&*"),
    (16, "a  b\t\tc\n\nd\x0b\x0be\ff"),
    (17, "🚀 astral 🌍 chars 🎉 here"),
    (18, "...,,,;;;:::!!!???'''\"\"\"((()))[[[]]]{{{}}}---"),
    (19, "the the the the the"),
    (20, "word"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


@pytest.mark.parametrize(
    "op", [text.with_text_stats, text.with_lang_id, text.with_quality_lang]
)
def test_arrow_equals_sql(docs_df, op):
    a = sorted(map(tuple, op(docs_df, "text").collect()))
    s = sorted(map(tuple, SCORERS[op](docs_df, "text").collect()))
    assert a == s


def test_quality_score_composes(docs_df):
    a = sorted(map(tuple, text.with_quality_score(docs_df, "text").collect()))
    s = sorted(map(tuple, SCORERS[text.with_quality_score](docs_df, "text").collect()))
    assert a == s


def test_kernel_plan_is_map_only(docs_df):
    out = text.with_text_stats(docs_df, "text")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "MapInArrow" in plan


def test_fused_quality_lang_single_kernel(docs_df):
    """with_quality_lang runs ONE kernel pass for stats + lang."""
    out = text.with_quality_lang(docs_df, "text")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1
