"""Reference forms for the Arrow kernels' exactness tests.

Each production kernel (``operators/text.py``, ``operators/similarity.py``,
``operators/dedup.py``) has exactly one implementation; the functions
here are the pure-JVM Spark expressions it must reproduce bit-for-bit.
They were the engine's earlier production forms and are kept only as
test oracles: ``test_scorer_kernel.py``, ``test_sketch_kernel.py``,
``test_gram_kernel.py``, ``test_cosine_kernel.py``,
``test_minhash_fused.py`` and ``test_kernel_ansi_smoke.py`` compare
kernel and reference with exact equality, no tolerance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from batch_data_pipeline_exercise_spark.operators import dedup, similarity, text


def regexp_count_fold_sql(text_sql: str, needles: list[str]) -> str:
    """One ``regexp_count`` per needle, summed as ints and cast once.

    ``regexp_count`` over a literal pattern counts non-overlapping
    occurrences left-to-right — the same count as the oracles'
    length/replace/length diff (``" the the "`` is 1 hit either way,
    the shared space is consumed), and the same as the kernel's
    ``bytes.count``. Needles must be letters/spaces only (asserted) —
    they are injected into a regex inside a SQL literal."""
    for n in needles:
        assert all(c.isalpha() or c == " " for c in n), f"unsafe needle {n!r}"
    terms = " + ".join(f"regexp_count({text_sql}, '{n}')" for n in needles)
    return f"CAST({terms} AS DOUBLE)"


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Regex form of ``text.with_text_stats``."""
    df = df.drop(*[c for c in text.STAT_COLS if c in df.columns])
    t = F.col(text_col)
    n_words = F.size(F.split(F.trim(t), "\\s+"))
    n_tokens = F.regexp_count(t, F.lit(text.TOKEN_PATTERN))
    n_punct = F.regexp_count(t, F.lit("[.,;:!?'\"()\\[\\]{}-]"))
    df = df.withColumn("__pad", F.concat(F.lit(" "), F.lower(t), F.lit(" ")))
    stop_hits = F.expr(regexp_count_fold_sql("__pad", [f" {w} " for w in text.ENGLISH_STOPWORDS]))
    return df.select(
        "*",
        F.length(t).alias("n_chars"),
        n_words.alias("n_words"),
        n_tokens.cast("bigint").alias("n_tokens"),
        n_punct.cast("bigint").alias("n_punct"),
        (n_punct / F.greatest(F.length(t), F.lit(1))).alias("punct_ratio"),
        (stop_hits / F.greatest(n_words, F.lit(1))).alias("stopword_ratio"),
        (F.length(F.regexp_replace(t, "\\s", "")) / F.greatest(n_words, F.lit(1))).alias("avg_word_len"),
    ).drop("__pad")


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Regex form of ``text.with_quality_score``."""
    return text._quality_from_stats(with_text_stats(df, text_col))


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Regex form of ``text.with_lang_id``. The pad and per-language
    scores are real columns before the argmax, so the when-chain stays
    small."""
    t = F.col(text_col)
    with_scores = df.withColumn("__pad", F.concat(F.lit(" "), F.lower(t), F.lit(" "))).select(
        "*",
        *[
            F.expr(regexp_count_fold_sql("__pad", markers)).alias(f"__score_{lang}")
            for lang, markers in text.LANG_MARKERS.items()
        ],
    )
    cjk = F.regexp_count(t, F.lit(text.CJK_RANGE))
    lang_col = text._lang_pred_from_scores(cjk, t)
    return with_scores.withColumn("lang_pred", lang_col).drop(
        "__pad", *[f"__score_{lang}" for lang in text.LANG_MARKERS]
    )


def with_quality_lang(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Regex form of ``text.with_quality_lang``: the literal composition."""
    return with_lang_id(with_quality_score(df, text_col), text_col)


#: production scorer → its reference form
SCORERS = {
    text.with_text_stats: with_text_stats,
    text.with_quality_score: with_quality_score,
    text.with_lang_id: with_lang_id,
    text.with_quality_lang: with_quality_lang,
}


def word_ngrams_exploded(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 5
) -> DataFrame:
    """Explode form of ``text.word_ngrams_exploded``."""
    return df.select(
        F.col(id_col), F.explode(F.array_distinct(text.word_ngrams(text_col, n))).alias("g")
    )


def minhash_signatures_docs(df: DataFrame, id_col: str, n: int = 3, k: int = 32) -> DataFrame:
    """Explode + groupBy form of ``dedup.minhash_signatures_docs``."""
    return dedup.minhash_signatures(dedup.word_shingles(df, id_col, n=n, distinct=False), k=k)


def bands_sql(dim: int, bands: int, rows_per_band: int, seed: int) -> str:
    """The multi-band sign-sketch band keys as ONE SQL expression over a
    pre-cast ``__vd`` array<double> column: one ``aggregate`` left fold
    per plane, sign bit ``2^r`` per row of the band. ``repr`` double
    literals round-trip the planes exactly through the SQL parser."""
    planes = similarity.hyperplanes(dim, bands * rows_per_band, seed)

    def plane_sql(p: list[float]) -> str:
        return "array(" + ", ".join(f"{float(x)!r}D" for x in p) + ")"

    def band_key_sql(bi: int) -> str:
        terms = []
        for r in range(rows_per_band):
            dot = (
                f"aggregate(zip_with(__vd, {plane_sql(planes[bi * rows_per_band + r])}, "
                "(x, y) -> x * y), 0D, (acc, x) -> acc + x)"
            )
            terms.append(f"(CASE WHEN {dot} >= 0 THEN CAST({2 ** r} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
        return " + ".join(terms)

    return "array(" + ", ".join(
        f"named_struct('band', {bi}, 'key', {band_key_sql(bi)})" for bi in range(bands)
    ) + ")"


def banded_sign_sketch(
    embeddings: DataFrame,
    bands: int,
    rows_per_band: int,
    seed: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SQL form of ``similarity.banded_sign_sketch`` (unpinned)."""
    v = F.col(vec_col).cast("array<double>")
    return embeddings.withColumn("__vd", v).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("__v"),
        similarity._norm(v).alias("__n"),
        F.expr(bands_sql(dim, bands, rows_per_band, seed)).alias("__bands"),
    )


def cosine_scored_pairs(
    joined: DataFrame, id1: str, id2: str, va: str, vb: str, na: str, nb: str
) -> DataFrame:
    """``aggregate``/``zip_with`` fold form of
    ``similarity._cosine_scored_pairs``."""
    dot = similarity._dot(F.col(va).cast("array<double>"), F.col(vb).cast("array<double>"))
    return joined.select(id1, id2, (dot / (F.col(na) * F.col(nb))).alias("cosine"))
