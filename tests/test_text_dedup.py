"""Text analysis + dedup operator tests on constructed corpora with known
duplicates/near-duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from batch_data_pipeline_exercise_spark.operators import dedup, text

DOCS = [
    (1, "The quick brown fox jumps over the lazy dog near the river bank today."),
    (2, "The quick brown fox jumps over the lazy dog near the river bank today."),  # exact dup of 1
    (3, "the  quick  Brown fox JUMPS over the lazy dog near the river bank today. "),  # normalized dup of 1
    (4, "The quick brown fox jumps over the lazy cat near the river bank today."),  # near-dup (1 word)
    (5, "Completely different content talking about databases and distributed query engines instead."),
    (6, "le chat et le chien et les amis le la les des et la le chat"),
    (7, "der hund und die katze und das ein der die und der das ein"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id int, text string").cache()


def test_exact_dedup(spark, docs):
    out = dedup.exact_dedup(docs, "doc_id")
    kept = {r["doc_id"]: r["dup_count"] for r in out.collect()}
    assert 1 in kept and kept[1] == 3  # 1, 2 and whitespace/case-variant 3
    assert 2 not in kept and 3 not in kept
    assert kept[4] == 1 and kept[5] == 1

    strict = dedup.exact_dedup(docs, "doc_id", normalized=False)
    kept2 = {r["doc_id"]: r["dup_count"] for r in strict.collect()}
    assert kept2[1] == 2 and 3 in kept2  # only byte-identical collapse


def test_minhash_near_dups(spark, docs):
    pairs = {(r["id1"], r["id2"]): r["jaccard"] for r in dedup.minhash_near_dups(docs, "doc_id", threshold=0.5).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] == 1.0
    assert (1, 4) in pairs and 0.5 <= pairs[(1, 4)] < 1.0
    assert not any(5 in p for p in pairs)  # distinct doc never pairs


def test_ngram_jaccard_exact(spark, docs):
    pairs = {(r["id1"], r["id2"]): r["jaccard"] for r in dedup.ngram_jaccard_pairs(docs, "doc_id", threshold=0.4).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 4) in pairs
    assert not any(5 in p or 6 in p for p in pairs)


def test_ngram_jaccard_max_df_cap(spark, docs):
    """The df cap prunes candidate GENERATION only: on a corpus whose
    near-dup pairs all share at least one sub-cap shingle, capped and
    uncapped outputs are identical — and reported jaccard values stay
    exact (full-set intersection) either way."""
    uncapped = sorted(
        map(tuple, dedup.ngram_jaccard_pairs(docs, "doc_id", threshold=0.4).collect())
    )
    capped = sorted(
        map(tuple, dedup.ngram_jaccard_pairs(docs, "doc_id", threshold=0.4, max_df=4).collect())
    )
    assert capped == uncapped and len(capped) >= 3

    # adversarial: a pair whose ONLY overlap is boilerplate (shingles in
    # every doc) is skipped under the cap — the documented semantics
    boiler = [
        (1, "alpha beta gamma delta unique one text here"),
        (2, "alpha beta gamma delta unique two other words"),
        (3, "alpha beta gamma delta unique three more stuff"),
    ]
    bdf = spark.createDataFrame(boiler, "doc_id int, text string")
    # every pair shares only the df=3 shingles "alpha beta gamma" etc.
    loose = dedup.ngram_jaccard_pairs(bdf, "doc_id", n=3, threshold=0.1)
    tight = dedup.ngram_jaccard_pairs(bdf, "doc_id", n=3, threshold=0.1, max_df=2)
    assert loose.count() == 3 and tight.count() == 0


def test_simhash_depends_only_on_token_set(spark, docs):
    s = {r["id"]: (r["simhash_hi"], r["simhash_lo"]) for r in dedup.simhash(docs, "doc_id").collect()}
    assert s[1] == s[2] == s[3]  # identical token sets → identical simhash
    assert all(0 <= hi < 2**32 and 0 <= lo < 2**32 for hi, lo in s.values())


def test_text_stats_and_quality(spark, docs):
    out = {r["doc_id"]: r for r in text.with_quality_score(docs).collect()}
    r1 = out[1]
    assert r1["n_chars"] == len(DOCS[0][1])
    assert r1["n_words"] == 14
    assert r1["n_tokens"] == 15  # 14 words + final period
    assert r1["n_punct"] == 1
    assert 0 < r1["stopword_ratio"] <= 1
    assert 0 <= r1["quality_score"] <= 1
    assert out[5]["quality_score"] > 0  # long clean text scores

    # determinism: re-run yields identical scores
    again = {r["doc_id"]: r["quality_score"] for r in text.with_quality_score(docs).collect()}
    assert all(again[k] == out[k]["quality_score"] for k in again)


def test_lang_id(spark, docs):
    out = {r["doc_id"]: r["lang_pred"] for r in text.with_lang_id(docs).collect()}
    assert out[1] == "en"
    assert out[6] == "fr"
    assert out[7] == "de"
    zh = spark.createDataFrame([(9, "这是一个中文文档 关于数据处理 的 系统")], "doc_id int, text string")
    assert text.with_lang_id(zh).first()["lang_pred"] == "zh"


def test_fingerprint(spark, docs):
    out = {r["doc_id"]: r for r in text.with_fingerprint(docs).collect()}
    assert out[1]["fingerprint"] == out[2]["fingerprint"]
    assert out[1]["fingerprint"] != out[3]["fingerprint"]  # raw differs
    assert out[1]["fingerprint_norm"] == out[3]["fingerprint_norm"]  # normalized matches


def test_chunk_documents_windows_and_edges(spark):
    from batch_data_pipeline_exercise_spark.operators import text as T
    import pytest

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10))), (2, "a b"), (3, "solo")],
        "doc_id int, text string",
    )
    out = {(r["doc_id"], r["chunk_id"]): r for r in T.chunk_documents(docs, chunk_tokens=4, overlap=2).collect()}
    # doc1: 10 tokens, step 2 -> starts 0,2,4,6 (last start <= n-overlap-1=7)
    d1 = [out[(1, i)] for i in range(4)]
    assert d1[0]["chunk_text"] == "w0 w1 w2 w3"
    assert d1[1]["chunk_text"] == "w2 w3 w4 w5"
    assert d1[3]["chunk_text"] == "w6 w7 w8 w9"
    assert all(r["chunk_n_tokens"] == 4 for r in d1)
    # short docs: one chunk, correct length
    assert out[(2, 0)]["chunk_text"] == "a b" and out[(2, 0)]["chunk_n_tokens"] == 2
    assert out[(3, 0)]["chunk_text"] == "solo" and out[(3, 0)]["chunk_n_tokens"] == 1
    with pytest.raises(ValueError, match="overlap"):
        T.chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_top_tokens_rank_and_ties(spark):
    from batch_data_pipeline_exercise_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, "en", "x x y z"), (2, "en", "y x"), (3, "fr", "a b b")],
        "doc_id int, lang string, text string",
    )
    rows = {(r["lang"], r["rank"]): (r["token"], r["n"]) for r in T.top_tokens(docs, ["lang"], k=2).collect()}
    assert rows[("en", 1)] == ("x", 3)
    assert rows[("en", 2)] == ("y", 2)
    assert rows[("fr", 1)] == ("b", 2)
    assert rows[("fr", 2)] == ("a", 1)


def test_shingle_kernels_bind_once_edge_cases(spark):
    """The gram/shingle kernels bind the tokenized array once per row
    (text.bind_once) instead of re-evaluating the tokenize regex per
    element. Values must be unchanged — pin the exact outputs on the
    edge rows where the binding could plausibly diverge (NULL, empty,
    whitespace-only, shorter-than-n, exactly-n)."""
    rows = [
        (1, None),
        (2, ""),
        (3, "   "),
        (4, "one"),
        (5, "one two"),
        (6, "one two three four"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # word_shingles keeps short tail windows (slice past the end)
    got = sorted(
        (r["id"], r["shingle"])
        for r in dedup.word_shingles(df, "doc_id", "text", n=3, distinct=False).collect()
    )
    assert got == [
        (4, "one"),
        (5, "one two"),
        (6, "one two three"),
        (6, "two three four"),
    ]

    # word_ngrams drops windows that would run past the end
    got = sorted(
        (r["doc_id"], r["g"])
        for r in df.select("doc_id", F.explode(text.word_ngrams("text", 3)).alias("g"))
        .filter(F.length("g") > 0)
        .collect()
    )
    assert got == [(6, "one two three"), (6, "two three four")]


def test_lsh_occupancy_stats_exact(spark, docs):
    """The minhash scout's one-row summary must equal the statistics
    computed from the exploded band keys directly, and candidate_pairs
    must upper-bound the distinct candidates the real join emits."""
    sh = dedup.word_shingles(docs, "doc_id", "text", 3, distinct=False)
    bk = dedup.lsh_band_keys(dedup.minhash_signatures(sh, k=32), bands=8, rows=4)
    stats = dedup.lsh_occupancy_stats(bk, bands=8).first()

    occ = [r["c"] for r in bk.groupBy("band", "band_key").agg(F.count("*").alias("c")).collect()]
    assert stats["n_docs"] == docs.count()
    assert stats["n_buckets"] == len(occ)
    assert stats["max_occupancy"] == max(occ)
    assert stats["candidate_pairs"] == sum(c * (c - 1) // 2 for c in occ)

    n_cand = dedup.lsh_candidate_pairs(bk).count()
    assert 0 < n_cand <= stats["candidate_pairs"]
