"""Driver-contract queries for the LLM-pipeline extension operators
(dedup / similarity / text analysis) over the ``documents`` and
``embeddings`` tables.

Oracle construction notes (on top of the rules in ``contract.py``):

- all content hashing is md5 (identical hex in both engines); MinHash
  components are Kirsch-Mitzenmacher combinations (w0 + i·w1 mod 2³²) of
  the digest's first two 32-bit words, so signatures are exact integer
  arithmetic in SQL;
- double-valued scores are built with IDENTICAL operand order on both
  sides (the SQL is generated from the same Python lists as the Spark
  expressions), so results match bit-for-bit;
- similarity outputs are rank-only / id-only: DuckDB's
  ``list_dot_product`` is a sequential fold, bit-identical to Spark's
  ``aggregate`` fold (verified empirically), and the nearest pair sits
  1.3e-4 from the 0.4 threshold — no boundary flakiness.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from batch_data_pipeline_exercise_spark.operators import (
    dedup,
    graph,
    multimodal,
    ranking,
    sampling,
    similarity,
    text,
)
from batch_data_pipeline_exercise_spark.plans.contract import load, parquet_num_rows, register

# ---------------------------------------------------------------------------
# shared oracle SQL fragments (DuckDB)
# ---------------------------------------------------------------------------

_NORM = text.norm_ws_sql("text")  # THE shared SQL twin of text.normalize_ws


def _toks_cte(src: str = "documents") -> str:
    """The tokenisation CTE over any (doc_id, text) relation — the corpus
    prep pipeline re-runs it on the post-filter survivor set."""
    return f"toks AS (SELECT doc_id, text, string_split({_NORM}, ' ') AS tk FROM {src})"


_TOKS_CTE = _toks_cte()
_SHINGLES_CTE = (
    "sh AS (SELECT DISTINCT doc_id, s FROM toks, "
    "UNNEST(list_transform(range(0, greatest(len(tk)-3, 0)+1), "
    "i -> array_to_string(list_slice(tk, i+1, i+3), ' '))) AS u(s) "
    "WHERE length(s) > 0)"
)
_TOK_CTE = "tok AS (SELECT DISTINCT doc_id, t FROM toks, UNNEST(tk) AS u(t) WHERE length(t) > 0)"


def _sql_substring_count(padded: str, needle: str) -> str:
    esc = needle.replace("'", "''")
    return f"(length({padded}) - length(replace({padded}, '{esc}', ''))) / {len(needle)}"


def _sql_marker_score(markers: list[str]) -> str:
    expr = "0.0"
    for m in markers:
        expr += " + " + _sql_substring_count("pad", m)
    return expr


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


@register(
    "doc_dedup_exact",
    oracle=f"""
    SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
    FROM (SELECT doc_id, md5({_NORM}) AS k FROM documents)
    GROUP BY k
    """,
    doc="Exact dedup: lowest-id representative per normalized-content md5.",
)
def doc_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return dedup.exact_dedup(d, "doc_id").select("doc_id", "dup_count")


# Kirsch-Mitzenmacher minhash components in SQL: one md5 per (doc,
# shingle) pair, first two 32-bit words, gᵢ = (w0 + i·w1) mod 2³².
_MH_WORDS = (
    "words AS (SELECT doc_id, s, "
    "CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS w0, "
    "CAST(('0x' || substr(md5(s), 9, 8)) AS BIGINT) AS w1 FROM sh)"
)
def _mh_sig_cte(k: int) -> str:
    """k Kirsch-Mitzenmacher minhash components as a ``sig`` CTE."""
    return (
        "sig AS (SELECT doc_id, "
        + ", ".join(f"MIN((w0 + {i} * w1) % 4294967296) AS h{i}" for i in range(k))
        + " FROM words GROUP BY doc_id)"
    )


_MH_SIG = _mh_sig_cte(32)


@register(
    "doc_minhash_signature",
    oracle="WITH "
    + _TOKS_CTE
    + ", "
    + _SHINGLES_CTE
    + ", "
    + _MH_WORDS
    + ", "
    + _MH_SIG
    + " SELECT doc_id, h0 AS sig_first, h31 AS sig_last, md5("
    + " || ',' || ".join(f"h{i}" for i in range(32))
    + ") AS sig_hash FROM sig",
    doc="MinHash signatures (k=32) over word 3-shingles — one md5 per "
    "distinct shingle, Kirsch-Mitzenmacher integer components, exactly "
    "reproducible cross-engine.",
    bench=True,
)
def doc_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures_docs(d, "doc_id", k=32)
    return sig.select(
        F.col("id").alias("doc_id"),
        F.col("sig").getItem(0).alias("sig_first"),
        F.col("sig").getItem(31).alias("sig_last"),
        F.md5(F.array_join(F.transform("sig", lambda x: x.cast("string")), ",")).alias("sig_hash"),
    )


# The single source of truth for the oracle's banded LSH candidate
# construction, parameterized so a query's (bands, rows) can never
# silently drift between its Spark side and its oracle. The operator
# family (doc_minhash_lsh_pairs, doc_near_dup_verified, doc_dup_clusters,
# doc_incremental_lsh_pairs, dedup_aware_split) stays on the 8×4 (k=32)
# test-scale sketch it documents; the flagship composes its own
# model-derived size below.
def _bands_cte(bands: int, rows: int) -> str:
    return (
        "bands AS ("
        + " UNION ALL ".join(
            "SELECT doc_id, %d AS band, md5(%s) AS band_key FROM sig"
            % (b, " || ',' || ".join(f"h{b * rows + r}" for r in range(rows)))
            for b in range(bands)
        )
        + ")"
    )


def _cand_cte(bands: int, rows: int) -> str:
    return (
        _bands_cte(bands, rows)
        + ", cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2 FROM bands a JOIN bands b "
        + "ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id)"
    )


_BANDS_CTE = _bands_cte(8, 4)
_CAND_CTE = _cand_cte(8, 4)


@register(
    "doc_minhash_lsh_pairs",
    oracle="WITH "
    + _TOKS_CTE
    + ", "
    + _SHINGLES_CTE
    + ", "
    + _MH_WORDS
    + ", "
    + _MH_SIG
    + ", "
    + _CAND_CTE
    + " SELECT id1, id2 FROM cand",
    doc="MinHash-LSH candidate pairs (8 bands × 4 rows) — docs sharing any "
    "signature band. Empty on this corpus unless true near-dups exist, and "
    "the oracle must agree it is empty.",
    bench=True,
)
def doc_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures_docs(d, "doc_id", k=32)
    cand = dedup.lsh_candidate_pairs(dedup.lsh_band_keys(sig, bands=8, rows=4))
    return cand


@register(
    "doc_lsh_occupancy",
    oracle="WITH "
    + _TOKS_CTE
    + ", "
    + _SHINGLES_CTE
    + ", "
    + _MH_WORDS
    + ", "
    + _MH_SIG
    + ", "
    + _BANDS_CTE
    + ", occ AS (SELECT band, band_key, COUNT(*) AS occ FROM bands GROUP BY band, band_key)"
    + " SELECT CAST(SUM(occ) / 8 AS BIGINT) AS n_docs, COUNT(*) AS n_buckets,"
    + " MAX(occ) AS max_occupancy,"
    + " CAST(SUM(occ * (occ - 1) / 2) AS BIGINT) AS candidate_pairs FROM occ",
    doc="Pre-flight scout for the minhash-LSH candidate join "
    "(dedup.lsh_occupancy_stats): one narrow (band, band_key) count "
    "shuffle — no pair materialization — whose candidate_pairs column is "
    "the exact per-band collision count the verify stage would process. "
    "Prices the join before it runs: the round-9 sf10 profile showed the "
    "flagship's candidates growing 3.34² on a replica-dense corpus while "
    "survivor docs grew 3.34×; this scout turns that from a post-mortem "
    "into a minutes-long pre-check (SCALE.md round-9). Integer-exact "
    "columns only in the contract projection; the operator also reports "
    "p99/mean occupancy (operator-level tests pin those).",
)
def doc_lsh_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures_docs(d, "doc_id", k=32)
    bk = dedup.lsh_band_keys(sig, bands=8, rows=4)
    return dedup.lsh_occupancy_stats(bk, bands=8).select(
        "n_docs", "n_buckets", "max_occupancy", "candidate_pairs"
    )


@register(
    "doc_near_dup_verified",
    oracle="WITH "
    + _TOKS_CTE
    + ", "
    + _SHINGLES_CTE
    + ", "
    + _MH_WORDS
    + ", "
    + _MH_SIG
    + ", "
    + _CAND_CTE
    + """,
    counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.id1, c.id2, COUNT(*) AS ni
      FROM cand c
      JOIN sh a ON a.doc_id = c.id1
      JOIN sh b ON b.doc_id = c.id2 AND b.s = a.s
      GROUP BY c.id1, c.id2
    )
    SELECT i.id1, i.id2, i.ni / (c1.n + c2.n - i.ni) AS jaccard
    FROM inter i
    JOIN counts c1 ON c1.doc_id = i.id1
    JOIN counts c2 ON c2.doc_id = i.id2
    WHERE i.ni / (c1.n + c2.n - i.ni) >= 0.7
    """,
    doc="The complete minhash_near_dups pipeline, oracle-checked: LSH "
    "candidates verified by exact shingle-set Jaccard >= 0.7 — the "
    "jaccard double is one division of identical integer counts, so the "
    "threshold decision agrees bit-for-bit cross-engine.",
)
def doc_near_dup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return dedup.minhash_near_dups(d, "doc_id", threshold=0.7).select("id1", "id2", "jaccard")


@register(
    "doc_dup_clusters",
    oracle="WITH RECURSIVE "
    + _TOKS_CTE
    + ", "
    + _SHINGLES_CTE
    + ", "
    + _MH_WORDS
    + ", "
    + _MH_SIG
    + ", "
    + _CAND_CTE
    + """,
    sym AS (SELECT id1 AS a, id2 AS b FROM cand UNION SELECT id2, id1 FROM cand),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    )
    SELECT d.doc_id,
           LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS cluster
    FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
    GROUP BY d.doc_id
    """,
    doc="Transitive dedup clustering: connected components over the LSH "
    "candidate-pair graph (min-label propagation; operators/graph.py) — "
    "cluster = smallest reachable doc_id, the canonical document to keep. "
    "Oracle: recursive-CTE transitive closure. The one iterative "
    "(non-single-SQL) algorithm in the engine, still oracle-checked. "
    "Deliberately clusters the RAW candidate graph to exercise the graph "
    "operator against the closure oracle in isolation; a production "
    "pipeline verifies candidates first — corpus_prep_pipeline shows "
    "that composition.",
)
def doc_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures_docs(d, "doc_id", k=32)
    cand = dedup.lsh_candidate_pairs(dedup.lsh_band_keys(sig, bands=8, rows=4))
    return graph.dedup_clusters(cand, d.select("doc_id")).select("doc_id", "cluster")


@register(
    "doc_simhash",
    oracle="WITH "
    + _TOKS_CTE
    + ", "
    + _TOK_CTE
    + ", bits AS (SELECT doc_id, md5(t) AS h FROM tok), per AS (SELECT doc_id, "
    + ", ".join(
        f"SUM(CASE WHEN ((strpos('0123456789abcdef', substr(h, {16 - j // 4}, 1)) - 1) >> {j % 4}) & 1 = 1 "
        f"THEN 1 ELSE -1 END) AS b{j}"
        for j in range(64)
    )
    + " FROM bits GROUP BY doc_id) SELECT doc_id, "
    + "0 + " + " + ".join(f"(CASE WHEN b{j + 32} >= 0 THEN {2 ** j} ELSE 0 END)" for j in range(32))
    + " AS simhash_hi, "
    + "0 + " + " + ".join(f"(CASE WHEN b{j} >= 0 THEN {2 ** j} ELSE 0 END)" for j in range(32))
    + " AS simhash_lo FROM per",
    doc="64-bit SimHash per document from md5 hex-digit bits, emitted as two "
    "unsigned 32-bit halves.",
)
def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return dedup.simhash(d, "doc_id").select(F.col("id").alias("doc_id"), "simhash_hi", "simhash_lo")


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

_PUNCT_SQL = "'[.,;:!?''\"()\\[\\]{}-]'"
_TOKEN_SQL = "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'"


@register(
    "doc_text_stats",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text, ' ' || lower(text) || ' ' AS pad,
             len(string_split_regex(trim(text), '\\s+')) AS n_words,
             len(regexp_extract_all(text, {_PUNCT_SQL})) AS n_punct
      FROM documents
    )
    SELECT doc_id,
           length(text) AS n_chars,
           n_words,
           CAST(len(regexp_extract_all(text, {_TOKEN_SQL})) AS BIGINT) AS n_tokens,
           CAST(n_punct AS BIGINT) AS n_punct,
           n_punct / greatest(length(text), 1) AS punct_ratio,
           ({_sql_marker_score([f" {w} " for w in text.ENGLISH_STOPWORDS])}) / greatest(n_words, 1) AS stopword_ratio,
           length(regexp_replace(text, '\\s', '', 'g')) / greatest(n_words, 1) AS avg_word_len
    FROM base
    """,
    doc="Per-document length/word/token/punctuation/stopword statistics — "
    "identical operand order both engines for bit-exact doubles.",
    bench=True,
)
def doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return text.with_text_stats(d).select(
        "doc_id", "n_chars", "n_words", "n_tokens", "n_punct", "punct_ratio", "stopword_ratio", "avg_word_len"
    )


def _quality_sql(src: str = "documents") -> str:
    """Full (doc_id, quality_score) SELECT replicating
    ``text.with_quality_score`` — identical operand order, bit-exact."""
    return f"""
    SELECT doc_id,
           least(n_chars / 200.0, 1.0) * 0.3
           + least(stopword_ratio * 4.0, 1.0) * 0.3
           + (CASE WHEN punct_ratio <= 0.1 THEN 1.0
                   ELSE greatest(0.0, 1.0 - (punct_ratio - 0.1) * 5.0) END) * 0.2
           + (CASE WHEN avg_word_len >= 2 AND avg_word_len <= 12 THEN 1.0 ELSE 0.3 END) * 0.2
           AS quality_score
    FROM (
      SELECT doc_id,
             length(text) AS n_chars,
             n_punct / greatest(length(text), 1) AS punct_ratio,
             ({_sql_marker_score([f" {w} " for w in text.ENGLISH_STOPWORDS])}) / greatest(n_words, 1) AS stopword_ratio,
             length(regexp_replace(text, '\\s', '', 'g')) / greatest(n_words, 1) AS avg_word_len
      FROM (
        SELECT doc_id, text, ' ' || lower(text) || ' ' AS pad,
               len(string_split_regex(trim(text), '\\s+')) AS n_words,
               len(regexp_extract_all(text, {_PUNCT_SQL})) AS n_punct
        FROM {src}
      )
    )
    """


@register(
    "doc_quality_score",
    oracle=_quality_sql(),
    doc="Composite [0,1] quality heuristic (length/stopword/punct/word-length).",
)
def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return text.with_quality_score(d).select("doc_id", "quality_score")


def _langid_oracle(src: str = "documents") -> str:
    scores = {lang: _sql_marker_score(ms) for lang, ms in text.LANG_MARKERS.items()}
    cjk = "len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]'))"
    return f"""
    WITH base AS (
      SELECT doc_id, text, ' ' || lower(text) || ' ' AS pad FROM {src}
    ), scored AS (
      SELECT doc_id, {cjk} AS cjk, length(text) AS n,
             ({scores["en"]}) AS s_en, ({scores["fr"]}) AS s_fr,
             ({scores["es"]}) AS s_es, ({scores["de"]}) AS s_de
      FROM base
    )
    SELECT doc_id,
           CASE WHEN cjk * 2 > n * 0.1 THEN 'zh'
                WHEN s_en > 0 AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_de THEN 'en'
                WHEN s_fr > 0 AND s_fr >= s_es AND s_fr >= s_de THEN 'fr'
                WHEN s_es > 0 AND s_es >= s_de THEN 'es'
                WHEN s_de > 0 THEN 'de'
                ELSE 'und' END AS lang_pred
    FROM scored
    """


@register(
    "doc_lang_id",
    oracle=_langid_oracle(),
    doc="Stopword-marker language ID with CJK short-circuit; ties keep the "
    "earlier language in fixed order (en, fr, es, de).",
)
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return text.with_lang_id(d).select("doc_id", "lang_pred")


def corpus_prep_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship's filter + exact-dedup stages, factored out of the
    registry query below so a resized minhash stage can run over the
    byte-identical survivor set the shipped parameters see (the
    round-10 sizing runs, ``evidence/SIZEDFLAG_r10.jsonl``).

    The fused stats+quality+lang-id+fingerprint stage compiles clean
    since the marker/stopword folds left the generated code: first as
    per-needle regexp_count (kept as the test reference in
    tests/kernel_reference.py), now as one arrow counting kernel
    (operators/text.py). The replace-fold form blew janino's 64 KB
    whole-stage-codegen limit and dropped this whole stage (the
    pipeline's biggest scan) to interpreted execution.
    Score ONCE, pin the scored rows, THEN filter. Filtering directly
    on the derived lang_pred/quality_score columns looks free but is
    not: predicate pushdown SUBSTITUTES the full 40-regex scorer
    trees into the Filter (evaluated again beyond the projection's
    copy), pushes that predicate through load()'s spreading exchange
    onto the single-row-group SCAN side (one core), and the
    re-inflated stage re-blows janino's 64 KB limit. Pinning the
    compiled scorer projection first makes the filter a plain column
    comparison: measured at sf0.1 the score+filter+window stage drops
    3.0 s -> 0.8 s and every stage compiles (SCALE.md round-5). At
    cluster scale this pin is the natural "persist the quality
    scores" write between scoring and filtering."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    scored = text.with_fingerprint(text.with_quality_lang(d))
    scored = scored.select(
        "doc_id", "text", "quality_score", "n_tokens", "lang_pred", "fingerprint_norm"
    ).localCheckpoint()
    kept0 = scored.filter((F.col("lang_pred") == "en") & (F.col("quality_score") >= 0.6))
    w = Window.partitionBy("fingerprint_norm")
    kept1 = kept0.withColumn("__m", F.min("doc_id").over(w)).filter(F.col("doc_id") == F.col("__m"))
    # Stage boundary: the survivor set feeds three consumers (near-dup
    # pair generation, the cluster vertex list, the final join) —
    # materialize once instead of re-running the text-stats/lang-id
    # expression tree per branch. At cluster scale this is the
    # persist-or-write point between the filter stage and the dedup
    # stage of the pipeline. The explicit repartition matters: AQE
    # coalesces the tiny-BYTES window shuffle to one partition, but the
    # downstream work is compute-dense per row (shingling, 32-way
    # hashing) — checkpointing single-partition would serialize it all
    # onto one core (measured: 7.8 s -> 13.8 s when a pin briefly
    # captured the coalesced layout).
    # prune to the three columns the dedup/cluster/output stages touch
    # before materializing — the stat/marker/fingerprint intermediates
    # would otherwise be serialized into the checkpoint for nothing
    kept1 = kept1.select("doc_id", "text", "quality_score", "n_tokens")
    return kept1.repartition(spark.sparkContext.defaultParallelism).localCheckpoint()


# The flagship's sketch is the MODEL-DERIVED config, not the family's
# 8×4 test-scale default: bands_rows_for(threshold=0.7, min_recall=0.9,
# n=472k survivors at sf10, occupancy 16k) -> 13 bands × 5 rows (k=65),
# predicted recall 0.909 at threshold vs 0.889 for 8×4 with 3× lower
# per-band sub-threshold collision odds (0.33^5 vs 0.33^4 on the
# splice-sibling population). Measured end-to-end at sf10
# (evidence/SIZEDFLAG_E2E_r11.jsonl): +3,814 verified pairs, −17% CPU,
# −27% wall, −17% shuffle vs 8×4. The oracle composes the SAME (13, 5)
# fragments, so Spark and DuckDB stay locked to one construction.
_FLAGSHIP_BANDS, _FLAGSHIP_ROWS = 13, 5
_FLAGSHIP_K = _FLAGSHIP_BANDS * _FLAGSHIP_ROWS


@register(
    "corpus_prep_pipeline",
    oracle="WITH RECURSIVE "
    + """
    quality AS (%s),
    langs AS (%s),
    kept0 AS (
      SELECT d.doc_id, d.text
      FROM documents d
      JOIN quality q ON q.doc_id = d.doc_id
      JOIN langs l ON l.doc_id = d.doc_id
      WHERE l.lang_pred = 'en' AND q.quality_score >= 0.6
    ),
    ex AS (SELECT doc_id, text, md5(%s) AS k FROM kept0),
    kept1 AS (
      SELECT e.doc_id, e.text FROM ex e
      JOIN (SELECT k, MIN(doc_id) AS m FROM ex GROUP BY k) x
        ON x.k = e.k AND x.m = e.doc_id
    ),
    """
    % (_quality_sql(), _langid_oracle(), _NORM)
    + _toks_cte("kept1")
    + ", "
    + _SHINGLES_CTE
    + ", "
    + _MH_WORDS
    + ", "
    + _mh_sig_cte(_FLAGSHIP_K)
    + ", "
    + _cand_cte(_FLAGSHIP_BANDS, _FLAGSHIP_ROWS)
    + f""",
    counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.id1, c.id2, COUNT(*) AS ni
      FROM cand c
      JOIN sh a ON a.doc_id = c.id1
      JOIN sh b ON b.doc_id = c.id2 AND b.s = a.s
      GROUP BY c.id1, c.id2
    ),
    ver AS (
      SELECT i.id1, i.id2
      FROM inter i
      JOIN counts c1 ON c1.doc_id = i.id1
      JOIN counts c2 ON c2.doc_id = i.id2
      WHERE i.ni / (c1.n + c2.n - i.ni) >= 0.7
    ),
    sym AS (SELECT id1 AS a, id2 AS b FROM ver UNION SELECT id2, id1 FROM ver),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    clusters AS (
      SELECT k.doc_id, LEAST(k.doc_id, COALESCE(MIN(r.b), k.doc_id)) AS cluster
      FROM kept1 k LEFT JOIN reach r ON r.a = k.doc_id
      GROUP BY k.doc_id
    )
    SELECT c.doc_id,
           q.quality_score,
           CAST(len(regexp_extract_all(k.text, {_TOKEN_SQL})) AS BIGINT) AS n_tokens
    FROM clusters c
    JOIN kept1 k ON k.doc_id = c.doc_id
    JOIN quality q ON q.doc_id = c.doc_id
    WHERE c.doc_id = c.cluster
    """,
    doc="The flagship end-to-end training-corpus preparation pipeline: "
    "language filter (en) -> quality filter (>= 0.6) -> exact dedup "
    "(lowest-id per normalized-content md5) -> transitive near-dup "
    "clustering over VERIFIED pairs (MinHash-LSH candidates, exact-"
    "Jaccard >= 0.7 verification, connected components) keeping only "
    "canonical documents -> token accounting. Clustering raw candidates "
    "would let LSH banding false positives (a ~0.4-Jaccard pair collides "
    "on one band with ~19% probability) silently drop non-duplicate "
    "documents; the verify stage is load-bearing, not optional. Every "
    "stage is the already-oracle-checked operator; this query proves the "
    "COMPOSITION matches end-to-end. Filters run before dedup (cheapest "
    "first), dedup runs only on survivors — the stage order a 100 TB "
    "corpus needs.",
    bench=True,
)
def corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    kept1 = corpus_prep_survivors(spark, sf_dir)
    ver = dedup.minhash_near_dups(
        kept1.select("doc_id", "text"), "doc_id",
        k=_FLAGSHIP_K, bands=_FLAGSHIP_BANDS, threshold=0.7,
    )
    clusters = graph.dedup_clusters(ver.select("id1", "id2"), kept1.select("doc_id"))
    return (
        kept1.join(clusters, "doc_id")
        .filter(F.col("doc_id") == F.col("cluster"))
        .select("doc_id", "quality_score", "n_tokens")
    )


@register(
    "doc_chunks",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS tk FROM documents
                  WHERE COALESCE(length(trim(text)), 0) > 0),
    c AS (
      SELECT doc_id, len(tk) AS n, u.s AS start, tk
      FROM toks, UNNEST(range(0, greatest(len(tk) - 32 - 1, 0) + 1, 96)) AS u(s)
    )
    SELECT doc_id,
           CAST(start / 96 AS INTEGER) AS chunk_id,
           array_to_string(list_slice(tk, start + 1, start + 128), ' ') AS chunk_text,
           CAST(LEAST(n - start, 128) AS INTEGER) AS chunk_n_tokens
    FROM c
    """,
    doc="Context-window chunking (operators/text.py chunk_documents): "
    "128-token chunks every 96 tokens (32-token overlap) — the LLM "
    "training prep step between cleaning and packing. Pure explode+slice "
    "column ops, one pass, no UDF.",
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    out = text.chunk_documents(d, "doc_id", chunk_tokens=128, overlap=32)
    return out.select("doc_id", "chunk_id", "chunk_text", F.col("chunk_n_tokens").cast("int").alias("chunk_n_tokens"))


@register(
    "corpus_vocab_by_lang",
    oracle=f"""
    WITH toks AS (SELECT lang, string_split({_NORM}, ' ') AS tk FROM documents),
    tok AS (SELECT lang, u.t AS token FROM toks, UNNEST(tk) AS u(t) WHERE length(t) > 0),
    c AS (SELECT lang, token, COUNT(*) AS n FROM tok GROUP BY 1, 2)
    SELECT lang, token, n, rank FROM (
      SELECT lang, token, n,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, token) AS rank
      FROM c
    ) WHERE rank <= 20
    """,
    doc="Vocabulary head (operators/text.py top_tokens): the 20 most "
    "frequent tokens per language shard — the vocab-building scan of a "
    "tokenizer pipeline. Explode -> hash aggregate -> lang-partitioned "
    "window; ties break lexically so the cut is deterministic.",
)
def corpus_vocab_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return text.top_tokens(d, ["lang"], k=20).select("lang", "token", "n", "rank")


@register(
    "doc_fingerprints",
    oracle=f"SELECT doc_id, md5(text) AS fingerprint, md5({_NORM}) AS fingerprint_norm FROM documents",
    doc="Content + normalized-content md5 fingerprints.",
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return text.with_fingerprint(d).select("doc_id", "fingerprint", "fingerprint_norm")


# ---------------------------------------------------------------------------
# deterministic sampling / splitting / packing (training-data pipeline ops)
# ---------------------------------------------------------------------------

# DuckDB replica of sampling.hash_uniform(key, seed)
def _sql_hash_uniform(key_expr: str, seed: str = "") -> str:
    return (
        f"(CAST(('0x' || substr(md5('{seed}§' || CAST({key_expr} AS VARCHAR)), 1, 8)) AS BIGINT)"
        " / 4294967296)"
    )


def _split_case_sql(u_expr: str, weights: dict[str, float]) -> str:
    """CASE chain generated from the SAME cumulative floats as
    ``with_hash_split`` (repr round-trips, so 0.8+0.1 =
    0.9000000000000001 lands identically in both engines)."""
    total = float(sum(weights.values()))
    names, acc, whens = list(weights), 0.0, []
    for name in names[:-1]:
        acc += weights[name] / total
        whens.append(f"WHEN {u_expr} < CAST({acc!r} AS DOUBLE) THEN '{name}'")
    return "CASE " + " ".join(whens) + f" ELSE '{names[-1]}' END"


_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


@register(
    "doc_hash_split",
    oracle=f"""
    SELECT doc_id,
           {_split_case_sql(_sql_hash_uniform("doc_id", "r2"), _SPLIT_WEIGHTS)} AS split
    FROM documents
    """,
    doc="Content-addressed train/val/test split (80/10/10): a document's "
    "assignment depends only on md5(seed, doc_id) — stable when the "
    "corpus grows, identical across runs/engines/retries. The "
    "reproducible replacement for rand()-based splitting.",
)
def doc_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return sampling.with_hash_split(d, "doc_id", _SPLIT_WEIGHTS, seed="r2").select("doc_id", "split")


@register(
    "doc_deterministic_sample",
    oracle=f"""
    SELECT doc_id FROM documents
    WHERE {_sql_hash_uniform("doc_id")} < 0.1
    """,
    doc="Hash-gated ~10% sample — unlike df.sample, membership is a pure "
    "function of the key (partition-layout- and retry-independent).",
)
def doc_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return sampling.deterministic_sample(d, "doc_id", 0.1).select("doc_id")


@register(
    "doc_stratified_sample",
    oracle=f"""
    SELECT lang, doc_id FROM (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY {_sql_hash_uniform("doc_id")}, doc_id) AS rn
      FROM documents
    ) WHERE rn <= 25
    """,
    doc="Stratified exact-k sample: the 25 smallest key-hashes win per "
    "language — fixed per-class quotas (class balancing), one partitioned "
    "window, deterministic.",
)
def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return sampling.stratified_sample_topk(d, ["lang"], "doc_id", k=25).select("lang", "doc_id")


@register(
    "corpus_temperature_sample",
    oracle=f"""
    WITH ng AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    nmin AS (SELECT MIN(n) AS m FROM ng),
    rates AS (SELECT lang, sqrt(CAST(m AS DOUBLE) / CAST(n AS DOUBLE)) AS rate FROM ng, nmin)
    SELECT d.doc_id, d.lang, r.rate
    FROM documents d JOIN rates r ON r.lang = d.lang
    WHERE {_sql_hash_uniform("doc_id", "temp")} < r.rate
    """,
    doc="Temperature-α=0.5 mixture rebalancing (multilingual-pretraining "
    "staple: sample group ∝ n^α toward uniform): per-language keep-rate "
    "sqrt(n_min/n_g) gated by the content hash — smallest language keeps "
    "all, a 100× larger one keeps 10%. One tiny count aggregate broadcast "
    "back, then a narrow filter; sqrt (correctly-rounded IEEE) not pow "
    "(libm-dependent) keeps the rate bit-identical cross-engine.",
)
def corpus_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    out = sampling.temperature_mixture_sample(d, ["lang"], "doc_id", seed="temp", rate_col="rate")
    return out.select("doc_id", "lang", "rate")


@register(
    "doc_pack_bins",
    oracle="""
    SELECT doc_id, lang,
           CAST(FLOOR((SUM(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - n_chars) / 10000) AS BIGINT) AS bin
    FROM documents
    """,
    doc="Concat-then-chunk sequence packing per language shard: running "
    "n_chars cut into 10k-unit bins (the LM-training packing shape; "
    "sharded windows keep it partitioned at any corpus size).",
)
def doc_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    out = sampling.assign_packing_bins(
        d, size_col="n_chars", budget=10_000, order_cols=["doc_id"], partition_cols=["lang"]
    )
    return out.select("doc_id", "lang", "bin")


# ---------------------------------------------------------------------------
# multimodal columns (documents.text re-cast as opaque binary blobs — the
# testdata ships no real media, so the blob IS the utf-8 byte stream; every
# downstream op treats it as opaque bytes exactly as it would a JPEG)
# ---------------------------------------------------------------------------


def _sql_hex_byte(hexpr: str, i: int) -> str:
    """DuckDB expression for byte ``i`` (0-based) of a lowercase hex digest."""
    p = 1 + 2 * i
    return (
        f"((strpos('0123456789abcdef', substr({hexpr}, {p}, 1)) - 1) * 16"
        f" + strpos('0123456789abcdef', substr({hexpr}, {p + 1}, 1)) - 1)"
    )


@register(
    "media_metadata",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
           sha256(text) AS content_sha256
    FROM documents
    """,
    doc="Decode-free media metadata (byte length + content sha256 dedup "
    "key) over binary blobs — JVM-side column ops, no UDF; DuckDB hashes "
    "the identical utf-8 bytes.",
)
def media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    media = d.select(F.col("doc_id").alias("media_id"), F.col("text").cast("binary").alias("content"))
    return multimodal.attach_media_metadata(media).select("media_id", "n_bytes", "content_sha256")


@register(
    "media_image_features",
    oracle=f"""
    WITH h AS (
      SELECT CAST(doc_id AS VARCHAR) AS media_id, sha256(text) AS hx,
             octet_length(encode(text)) AS n_bytes
      FROM documents
    )
    SELECT media_id,
           CAST(64 + ({_sql_hex_byte("hx", 0)}) % 192 AS INTEGER) AS width,
           CAST(64 + ({_sql_hex_byte("hx", 1)}) % 192 AS INTEGER) AS height,
           CAST(n_bytes AS INTEGER) AS n_bytes,
           CAST({_sql_hex_byte("hx", 2)} AS DOUBLE) / 255.0 AS mean_luma,
           substr(hx, 7, 16) AS phash
    FROM h
    """,
    doc="Arrow-batched mapInPandas feature extraction, oracle-checked "
    "end-to-end: the deterministic codec stub derives width/height/luma/"
    "phash from the content's sha256 digest, which the oracle replicates "
    "byte-for-byte in SQL — a hard correctness signal on the Python-batch "
    "plumbing itself (schema, batch shape, value fidelity).",
)
def media_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").cast("string").alias("media_id"), F.col("text").cast("binary").alias("content")
    )
    return multimodal.extract_image_features(media)


@register(
    "media_frame_samples",
    oracle="""
    SELECT doc_id AS media_id, CAST(u.f AS BIGINT) AS frame_ts_ms
    FROM (SELECT doc_id, octet_length(encode(text)) % 5000 AS duration_ms FROM documents),
         UNNEST(range(0, duration_ms + 1, 1000)) AS u(f)
    """,
    doc="Video frame-sampling plumbing: one row per sampled timestamp, "
    "generated JVM-side with sequence/explode (duration derived "
    "deterministically from blob length; decode itself is the stubbed "
    "step).",
)
def media_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        (F.octet_length("text") % 5000).alias("duration_ms"),
    )
    out = multimodal.sample_video_frames(media, every_ms=1000)
    return out.select("media_id", F.col("frame_ts_ms").cast("bigint").alias("frame_ts_ms"))


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


@register(
    "ann_cosine_topk",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    scored AS (
      SELECT query_id, e.vec_id AS neighbor_id,
             list_dot_product(qv, v)
             / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS c
      FROM q JOIN e ON e.vec_id <> query_id
    )
    SELECT query_id, neighbor_id, rank FROM (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
    doc="Brute-force cosine top-10 per query (queries = vec_id < 10); "
    "rank-only output keeps the hash float-free.",
    bench=True,
    allow_quadratic=True,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = similarity.cosine_topk_bruteforce(e, q, k=10)
    return out.select("query_id", "neighbor_id", "rank")


@register(
    "ann_cosine_topk_ivf",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cent AS (SELECT vec_id AS cell, v AS c FROM e ORDER BY vec_id LIMIT 16),
    asg_scored AS (
      SELECT e.vec_id AS id, e.v, cent.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
               list_dot_product(e.v, cent.c)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.c, cent.c))) DESC,
               cent.cell) AS rn
      FROM e CROSS JOIN cent
    ),
    asg AS (SELECT id, v, cell FROM asg_scored WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    probe_scored AS (
      SELECT q.query_id, q.qv, cent.cell,
             ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
               list_dot_product(q.qv, cent.c)
               / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(cent.c, cent.c))) DESC,
               cent.cell) AS rn
      FROM q CROSS JOIN cent
    ),
    probes AS (SELECT query_id, qv, cell FROM probe_scored WHERE rn <= 4),
    cand AS (
      SELECT p.query_id, a.id AS neighbor_id,
             list_dot_product(p.qv, a.v)
             / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.v, a.v))) AS c
      FROM probes p JOIN asg a ON a.cell = p.cell AND a.id <> p.query_id
    )
    SELECT query_id, neighbor_id, rank FROM (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank
      FROM cand
    ) WHERE rank <= 10
    """,
    doc="IVF-probed approximate top-10 (16 deterministic cells, probe 4): "
    "each query scans ~1/4 of the corpus; rank-only output. The centroid "
    "assignment is a BOUNDED broadcast cross (n x n_cells, linear in n) — "
    "flagged allow_quadratic for the plan gate but not actually quadratic.",
    allow_quadratic=True,
)
def ann_cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = similarity.cosine_topk_ivf(e, q, k=10, n_cells=16, n_probe=4)
    return out.select("query_id", "neighbor_id", "rank")


def _km_argmax_sql(src: str, id_col: str, carry: str, vec: str, cent: str, pred: str) -> str:
    """The kmeans oracle's ONE nearest-centroid scoring block — argmax
    cosine with ties to the lowest cell, the exact rule of
    ``similarity.ivf_assign`` — parameterized by source/centroid CTE and
    rank predicate so the tie rule and cosine expression exist in ONE
    place (training assignments, the final assignment, and the query
    probes all compose this; a drift between copies would break
    engine/oracle agreement only at the stage whose copy drifted)."""
    return f"""
      SELECT {id_col}, {carry}, cell FROM (
        SELECT {src}.{id_col}, {src}.{carry}, {cent}.cell,
               ROW_NUMBER() OVER (PARTITION BY {src}.{id_col} ORDER BY
                 list_dot_product({src}.{vec}, {cent}.c)
                 / (sqrt(list_dot_product({src}.{vec}, {src}.{vec})) * sqrt(list_dot_product({cent}.c, {cent}.c))) DESC,
                 {cent}.cell) AS rn
        FROM {src} CROSS JOIN {cent}
      ) WHERE {pred}"""


def _km_iter_sql(i: int) -> str:
    """One unrolled Lloyd round for the quantized-kmeans oracle: assign
    (argmax cosine of the ORIGINAL doubles vs the previous centroids,
    ties to the lowest cell), then per-(cell, dim) INTEGER sums of the
    int8-quantized members become the next centroid (cast to double —
    exact below 2^53; cosine is scale-invariant so the mean's division
    is skipped, not rounded). Mirrors one loop body of
    ``similarity.kmeans_centroids_quantized`` fragment-for-fragment."""
    prev = f"c{i - 1}"
    return f"""
    a{i} AS ({_km_argmax_sql("q8", "vec_id", "qv", "v", prev, "rn = 1")}),
    s{i} AS (
      SELECT cell, CAST(i AS INTEGER) AS dim, SUM(qv[CAST(i AS INTEGER)]) AS s
      FROM a{i}, UNNEST(range(1, len(qv) + 1)) AS t(i)
      GROUP BY cell, dim
    ),
    c{i}v AS (SELECT cell, list(CAST(s AS DOUBLE) ORDER BY dim) AS c FROM s{i} GROUP BY cell),
    c{i} AS (SELECT {prev}.cell, COALESCE(c{i}v.c, {prev}.c) AS c
             FROM {prev} LEFT JOIN c{i}v ON c{i}v.cell = {prev}.cell)"""


_KM_ITERS = 2  # fixed Lloyd rounds — unrolled in both engines, no early exit


@register(
    "ann_cosine_topk_ivf_kmeans",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    m AS (SELECT vec_id, v, (SELECT MAX(abs(x)) FROM UNNEST(v) AS u(x)) AS max_abs FROM e),
    q8 AS (
      SELECT vec_id, v,
             list_transform(v, x -> GREATEST(CAST(-127 AS BIGINT), LEAST(CAST(127 AS BIGINT),
               CAST(FLOOR(x * (127.0 / max_abs) + 0.5) AS BIGINT)))) AS qv
      FROM m WHERE max_abs > 0
    ),
    c0 AS (SELECT vec_id AS cell, v AS c FROM q8 ORDER BY vec_id LIMIT 16),
    {','.join(_km_iter_sql(i + 1) for i in range(_KM_ITERS))},
    af AS ({_km_argmax_sql("q8", "vec_id", "v", "v", f"c{_KM_ITERS}", "rn = 1")}),
    q AS (SELECT vec_id AS query_id, v AS qvec FROM q8 WHERE vec_id < 10),
    probes AS ({_km_argmax_sql("q", "query_id", "qvec", "qvec", f"c{_KM_ITERS}", "rn <= 4")}),
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             list_dot_product(p.qvec, a.v)
             / (sqrt(list_dot_product(p.qvec, p.qvec)) * sqrt(list_dot_product(a.v, a.v))) AS cos
      FROM probes p JOIN af a ON a.cell = p.cell AND a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, rank,
           TRUE AS assign_is_argmax, TRUE AS centroids_finite,
           (SELECT COUNT(DISTINCT cell) FROM af) AS n_cells_nonempty
    FROM (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM cand
    ) WHERE rank <= 10
    """,
    doc="IVF probing over TRAINED centroids — now a full value-hash "
    "oracle (round-11 verdict task 3; rows-only since r9): 2 unrolled "
    "Lloyd rounds of similarity.kmeans_centroids_quantized from the 16 "
    "lowest-id seeds, then the probe-4-of-16 search. The ONE operation "
    "that made trained k-means engine-irreproducible — the per-cell mean "
    "summing doubles in shuffle order — is replaced by an exact integer "
    "sum of int8-quantized members (the embedding_quantize_int8 "
    "formula); every remaining float op is a fixed-order per-row fold "
    "or single IEEE expression, bit-identical to DuckDB's "
    "list_dot_product (the mechanism every green ANN oracle already "
    "relies on). The in-plan invariant audit (assign_is_argmax, "
    "centroids_finite, n_cells_nonempty) stays as defense-in-depth; the "
    "oracle re-derives n_cells_nonempty from its own final assignment "
    "and pins the booleans. Zero vectors (cosine undefined) are "
    "excluded by both engines; the shipped tables contain none.",
    allow_quadratic=True,
)
def ann_cosine_topk_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    # mirror the oracle's q8 universe: drop zero vectors (none shipped)
    vd = F.col("embedding").cast("array<double>")
    max_abs = F.aggregate(vd, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x)))
    e = e.withColumn("__ma", max_abs).filter(F.col("__ma") > 0).drop("__ma")
    cent = similarity.kmeans_centroids_quantized(e, k=16, n_iter=_KM_ITERS)
    assigned, cent = similarity.ivf_assign(e, centroids=cent.select("cell", F.col("__c")))
    assigned = assigned.localCheckpoint()  # shared by search + audit
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = similarity.cosine_topk_ivf(
        e, q, k=10, n_cells=16, n_probe=4, centroids=cent, assigned=assigned
    )
    audit = similarity.ivf_assignment_audit(assigned, cent)
    # attach the 1-row audit frame via a constant-key broadcast HASH
    # join — the keyless form planned as a 1-row BroadcastNestedLoopJoin
    # (r12 verdict nit): same result, but the plan now states the
    # intended shape (bounded equi join) instead of riding the query's
    # allow_quadratic waiver, which the audit's n×k scoring pass still
    # legitimately needs
    return (
        out.select("query_id", "neighbor_id", "rank")
        .withColumn("__one", F.lit(1))
        .join(F.broadcast(audit.withColumn("__one", F.lit(1))), "__one")
        .drop("__one")
    )


# embeddings.parquet vector width (TESTDATA.md) — a plan-time constant so
# no query pays a .first() probe action, and the oracle can embed the
# identical seeded hyperplanes as SQL literals.
EMB_DIM = 64
_LSH_PLANES = similarity.hyperplanes(EMB_DIM, n_planes=8, seed=42)


def _lsh_bucket_sql(vexpr: str, planes: list[list[float]]) -> str:
    """DuckDB expression for the sign-bit LSH bucket — same plane order,
    same fold (``list_dot_product`` ≡ sequential aggregate, verified
    bit-identical in round 1), same ``>= 0`` sign rule as the
    sign-sketch kernel behind ``similarity.cosine_topk_lsh``."""
    terms = []
    for i, p in enumerate(planes):
        lit = "[" + ", ".join(repr(float(x)) for x in p) + "]"
        terms.append(f"(CASE WHEN list_dot_product({vexpr}, {lit}) >= 0 THEN {2 ** i} ELSE 0 END)")
    return " + ".join(terms)


@register(
    "ann_cosine_topk_lsh",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    b AS (SELECT vec_id, v, {_lsh_bucket_sql("v", _LSH_PLANES)} AS bkt FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv, bkt AS qb FROM b WHERE vec_id < 10),
    scored AS (
      SELECT query_id, b.vec_id AS neighbor_id,
             list_dot_product(qv, v)
             / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS c
      FROM q JOIN b ON b.bkt = qb AND b.vec_id <> query_id
    )
    SELECT query_id, neighbor_id, rank FROM (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
    doc="Sign-bit LSH approximate top-10 (8 seeded hyperplanes, 256 "
    "buckets): candidates restricted to the query's bucket via an EQUI "
    "join on the bucket key — the scale-path ANN variant, oracle-checked "
    "because the hyperplanes are plan literals both engines share. "
    "Rank-only output keeps the hash float-free.",
)
def ann_cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = similarity.cosine_topk_lsh(e, q, k=10, n_planes=8, seed=42, dim=EMB_DIM)
    return out.select("query_id", "neighbor_id", "rank")


_NEARDUP_BANDS, _NEARDUP_ROWS = 8, 8
# Big-SF escape hatch (r12 verdict task 1): the registry pins the 8x8
# test-scale sketch, which IS the measured 806M-candidate cliff at sf10
# (evidence/EMBSCALE_sf10_r09.jsonl) — the sized sweeps set
# BDPE_EMB_SKETCH="<bands>x<rows>" BEFORE import so the engine queries
# AND their oracle SQL (both derive from these module constants) run the
# model-sized sketch in exact mirror. The driver never sets it, so
# registry correctness at test SF is unchanged; the mechanism itself is
# pinned cross-engine in tests/test_contract_oracle.py.
_env_sketch = os.environ.get("BDPE_EMB_SKETCH")
if _env_sketch:
    # validate loudly at the point of misuse (r13 advice): a malformed
    # value ('8', '8x', '0x12', '8x12x3') must name the env var and the
    # expected form, not surface as an opaque unpack error at import —
    # and a zero/negative dimension must not silently build a degenerate
    # no-band sketch.
    _m = re.fullmatch(r"\s*(\d+)\s*[xX]\s*(\d+)\s*", _env_sketch)
    if not _m or int(_m.group(1)) < 1 or int(_m.group(2)) < 1:
        raise ValueError(
            f"BDPE_EMB_SKETCH={_env_sketch!r} is not a valid sketch spec: "
            "expected '<bands>x<rows>' with both parts positive integers, "
            "e.g. '8x12'"
        )
    _NEARDUP_BANDS, _NEARDUP_ROWS = int(_m.group(1)), int(_m.group(2))
_NEARDUP_PLANES = similarity.hyperplanes(EMB_DIM, n_planes=_NEARDUP_BANDS * _NEARDUP_ROWS, seed=42)


def _banded_bk_sql() -> str:
    """UNION ALL of one band-key projection per band — mirrors the key
    packing of ``similarity.banded_sign_sketch`` exactly (same
    plane order, same bit order, same ``>= 0`` sign rule; cross-engine
    dot-product bit-identity established in round 1)."""
    selects = []
    for bi in range(_NEARDUP_BANDS):
        sl = _NEARDUP_PLANES[bi * _NEARDUP_ROWS : (bi + 1) * _NEARDUP_ROWS]
        selects.append(f"SELECT vec_id, {bi} AS band, {_lsh_bucket_sql('v', sl)} AS key FROM e")
    return " UNION ALL ".join(selects)


@register(
    "embedding_near_dup_pairs",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    bk AS ({_banded_bk_sql()}),
    cand AS (
      SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
      FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
    )
    SELECT id1, id2
    FROM cand JOIN e ea ON ea.vec_id = cand.id1 JOIN e eb ON eb.vec_id = cand.id2
    WHERE list_dot_product(ea.v, eb.v)
          / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) >= 0.4
    """,
    doc="Multi-band sign-LSH near-dup pairs (8 bands × 8 sign bits, "
    "any-band collision → exact-cosine verify at 0.4): the scale path — "
    "bucketed equi self-join per band, never all-pairs; the oracle "
    "mirrors the band keys so the approximate semantics are themselves "
    "cross-engine checked (id-only output keeps the hash float-free; "
    "recall vs the exact join is pinned separately in "
    "tests/test_similarity_multimodal.py).",
    bench=True,
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    out, _index = similarity.incremental_embedding_pairs(
        None, e, threshold=0.4, bands=_NEARDUP_BANDS, rows_per_band=_NEARDUP_ROWS, seed=42,
        dim=EMB_DIM,
        # footer row count: retires the operator's one sizing count()
        # action (a whole Spark job) — same number, read driver-side
        n_new_rows=parquet_num_rows(sf_dir, "embeddings"),
    )
    return out.select("id1", "id2")


@register(
    "embedding_lsh_occupancy",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    bk AS ({_banded_bk_sql()}),
    occ AS (SELECT band, key, COUNT(*) AS occ FROM bk GROUP BY band, key)
    SELECT CAST(SUM(occ) / {_NEARDUP_BANDS} AS BIGINT) AS n_vectors,
           COUNT(*) AS n_buckets,
           MAX(occ) AS max_occupancy,
           CAST(SUM(occ * (occ - 1) / 2) AS BIGINT) AS candidate_pairs
    FROM occ
    """,
    doc="Pre-flight scout for the sign-LSH near-dup join "
    "(similarity.sign_lsh_occupancy_stats): one narrow (band, key) count "
    "shuffle — no index pin, no pair materialization — whose "
    "candidate_pairs column is the exact per-band collision count the "
    "verify join would shuffle with two vectors attached. The round-9 "
    "sf10 run made the case: the fixed 8×8 sketch predicts 806M "
    "candidates at 200k vectors (the run that exhausted the disk) vs 81M "
    "at the rows_per_band_for-sized 8×12, which completes (SCALE.md "
    "round-9). Integer-exact columns only in the contract projection; "
    "p99/mean occupancy stay operator-level.",
)
def embedding_lsh_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    return similarity.sign_lsh_occupancy_stats(
        e, bands=_NEARDUP_BANDS, rows_per_band=_NEARDUP_ROWS, seed=42, dim=EMB_DIM
    ).select("n_vectors", "n_buckets", "max_occupancy", "candidate_pairs")


@register(
    "embedding_incremental_near_dups",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    bk AS ({_banded_bk_sql()}),
    cand AS (
      SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
      FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
    )
    SELECT id1, id2
    FROM cand JOIN e ea ON ea.vec_id = cand.id1 JOIN e eb ON eb.vec_id = cand.id2
    WHERE list_dot_product(ea.v, eb.v)
          / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) >= 0.4
      AND (id1 % 5 = 0 OR id2 % 5 = 0)
    """,
    doc="Incremental embedding near-dup (operators/similarity.py "
    "incremental_embedding_pairs): vectors with vec_id % 5 = 0 arrive "
    "as the NEW batch — only they pay the bands × rows × dim sketch "
    "fold; the stored sign-sketch index of the rest is probed by one "
    "equi join per band. Band keys are a pure function of (vector, "
    "seeded planes), so the result equals the full rebuild's verified "
    "pairs restricted to pairs touching a new vector — which is what "
    "the oracle states.",
)
def embedding_incremental_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    prior = e.filter(F.col("vec_id") % 5 != 0)
    new = e.filter(F.col("vec_id") % 5 == 0)
    prior_index = similarity.banded_sign_sketch(
        prior, bands=_NEARDUP_BANDS, rows_per_band=_NEARDUP_ROWS, seed=42, dim=EMB_DIM
    )
    pairs, _updated = similarity.incremental_embedding_pairs(
        prior_index, new, threshold=0.4,
        bands=_NEARDUP_BANDS, rows_per_band=_NEARDUP_ROWS, seed=42, dim=EMB_DIM,
        # footer row count of the FULL table = a sound upper bound on the
        # filtered new batch (the gate is monotone — see n_new_rows doc);
        # retires the increment's occupancy-scan action
        n_new_rows=parquet_num_rows(sf_dir, "embeddings"),
    )
    return pairs.select("id1", "id2")


# ---------------------------------------------------------------------------
# PII, repetition quality signals, retrieval (postings + BM25)
# ---------------------------------------------------------------------------

_PII_TEXT_SQL = (
    "'doc for user' || CAST(c_custkey AS VARCHAR) || ' contact user' || CAST(c_custkey AS VARCHAR)"
    " || '@example.com'"
    " || CASE WHEN c_custkey % 3 = 0 THEN ' phone +1 555 ' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')"
    " ELSE '' END"
    " || CASE WHEN c_custkey % 2 = 0 THEN ' ip 10.' || CAST(c_custkey % 256 AS VARCHAR) || '.0.'"
    " || CAST(c_custkey % 254 + 1 AS VARCHAR) ELSE '' END"
)

_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_IPV4 = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
_PII_PHONE = "\\+?[0-9][0-9() -]{6,}[0-9]"


@register(
    "customer_pii_redaction",
    oracle=f"""
    WITH derived AS (SELECT c_custkey, {_PII_TEXT_SQL} AS text FROM customer)
    SELECT c_custkey,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(text, '{_PII_IPV4}')) AS BIGINT) AS n_ipv4,
           len(regexp_extract_all(text, '{_PII_EMAIL}'))
             + len(regexp_extract_all(text, '{_PII_PHONE}'))
             + len(regexp_extract_all(text, '{_PII_IPV4}')) > 0 AS has_pii,
           regexp_replace(regexp_replace(regexp_replace(text,
               '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_IPV4}', '<IP>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g') AS text_redacted
    FROM derived
    """,
    doc="PII detection + redaction (operators/text.py with_pii_counts / "
    "redact_pii) over a deterministically derived contact-bearing text "
    "column (the documents testdata is PII-free word soup, so the query "
    "synthesizes emails/phones/IPs from customer keys — every customer "
    "gets an email, every third a phone, every second an IP). Patterns "
    "are restricted to the Java/RE2-identical regex subset; redaction "
    "order (email, ip, phone) keeps the looser phone pattern off the "
    "structured matches.",
)
def customer_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_data_pipeline_exercise_spark.operators.text import redact_pii, with_pii_counts

    c = load(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    derived = c.select(
        "c_custkey",
        F.concat(
            F.lit("doc for user"), ck.cast("string"),
            F.lit(" contact user"), ck.cast("string"), F.lit("@example.com"),
            F.when(ck % 3 == 0, F.concat(F.lit(" phone +1 555 "), F.lpad((ck % 10000).cast("string"), 4, "0"))).otherwise(F.lit("")),
            F.when(ck % 2 == 0, F.concat(F.lit(" ip 10."), (ck % 256).cast("string"), F.lit(".0."), (ck % 254 + 1).cast("string"))).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = redact_pii(with_pii_counts(derived))
    return out.select("c_custkey", "n_emails", "n_phones", "n_ipv4", "has_pii", "text_redacted")


@register(
    "doc_repetition_stats",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS tk FROM documents),
    grams AS (
      SELECT doc_id, array_to_string(list_slice(tk, i + 1, i + 2), ' ') AS g
      FROM toks, UNNEST(range(0, greatest(len(tk) - 2, 0) + 1)) AS u(i)
      WHERE i + 2 <= len(tk) AND length(array_to_string(list_slice(tk, i + 1, i + 2), ' ')) > 0
    ),
    per_gram AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g),
    per_doc AS (
      -- CAST: DuckDB SUM over integers yields HUGEINT (float64 via Arrow);
      -- Spark's bigint sum would hash-mismatch on dtype despite equal values
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_ngrams, COUNT(*) AS distinct_ngrams, MAX(c) AS maxc
      FROM per_gram GROUP BY doc_id
    ),
    tops AS (
      SELECT pg.doc_id, MIN(pg.g) AS top_ngram
      FROM per_gram pg JOIN per_doc pd ON pd.doc_id = pg.doc_id AND pg.c = pd.maxc
      GROUP BY pg.doc_id
    )
    SELECT d.doc_id,
           COALESCE(p.n_ngrams, 0) AS n_ngrams,
           COALESCE(p.distinct_ngrams, 0) AS distinct_ngrams,
           COALESCE(1.0 - p.distinct_ngrams / p.n_ngrams, 0.0) AS dup_ngram_frac,
           t.top_ngram,
           COALESCE(p.maxc / p.n_ngrams, 0.0) AS top_ngram_share
    FROM documents d
    LEFT JOIN per_doc p ON p.doc_id = d.doc_id
    LEFT JOIN tops t ON t.doc_id = d.doc_id
    """,
    doc="Word-bigram repetition quality signals (operators/text.py "
    "with_repetition_stats): duplicate n-gram fraction and top n-gram "
    "share — the published boilerplate/spam filter family for "
    "pre-training corpora. Integer counts + one division each, "
    "bit-reproducible; top n-gram ties break lexically.",
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    out = text.with_repetition_stats(d, "doc_id", n=2)
    return out.select(
        "doc_id", "n_ngrams", "distinct_ngrams", "dup_ngram_frac", "top_ngram", "top_ngram_share"
    )


@register(
    "token_postings",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS tk FROM documents),
    tok AS (SELECT doc_id, u.t AS token FROM toks, UNNEST(tk) AS u(t) WHERE length(t) > 0)
    SELECT token,
           COUNT(DISTINCT doc_id) AS doc_freq,
           COUNT(*) AS total_tf,
           MIN(doc_id) AS min_doc_id
    FROM tok GROUP BY token
    """,
    doc="Inverted-index postings aggregate (operators/relevance.py "
    "build_postings): per-token document frequency, corpus term "
    "frequency, and smallest posting — the statistics layer under any "
    "retrieval or idf-weighted scoring pass.",
)
def token_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_data_pipeline_exercise_spark.operators.relevance import build_postings

    d = load(spark, sf_dir, "documents")
    return build_postings(d, "doc_id")


_BM25_TERMS = ["join", "hash", "batch"]


def _bm25_oracle() -> str:
    tf_exprs = ", ".join(
        f"CAST(len(list_filter(tk, x -> x = '{t}')) AS BIGINT) AS tf_{t}" for t in _BM25_TERMS
    )
    df_exprs = ", ".join(f"COUNT(*) FILTER (WHERE tf_{t} > 0) AS df_{t}" for t in _BM25_TERMS)
    terms = " + ".join(
        f"((CAST(n_docs AS DOUBLE) - CAST(df_{t} AS DOUBLE) + 0.5) / (CAST(df_{t} AS DOUBLE) + 0.5))"
        f" * CAST(tf_{t} AS DOUBLE) * 2.2"
        f" / (CAST(tf_{t} AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE)"
        f" / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))"
        for t in _BM25_TERMS
    )
    return f"""
    WITH toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS tk FROM documents),
    base AS (
      SELECT doc_id, {tf_exprs},
             CAST(len(list_filter(tk, x -> length(x) > 0)) AS BIGINT) AS dl
      FROM toks
    ),
    stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl, {df_exprs} FROM base)
    SELECT doc_id, {", ".join(f"tf_{t}" for t in _BM25_TERMS)}, dl,
           0.0 + {terms} AS score
    FROM base CROSS JOIN stats
    """


@register(
    "doc_bm25_relevance",
    oracle=_bm25_oracle(),
    doc="BM25 relevance scoring (operators/relevance.py bm25_scores) for "
    "the fixed query ('join', 'hash', 'batch'), k1=1.2, b=0.75, with the "
    "RATIONAL idf (N - df + 0.5)/(df + 0.5) — log-free so the double "
    "chain is pure IEEE +,-,*,/ in fixed operand order and bit-matches "
    "the oracle (ln is not correctly-rounded across libms). Plan: array "
    "probes for tf, one single-row corpus-stats aggregate broadcast "
    "back — no window, no explode-join, two linear passes.",
)
def doc_bm25_relevance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_data_pipeline_exercise_spark.operators.relevance import bm25_scores

    d = load(spark, sf_dir, "documents")
    return bm25_scores(d, _BM25_TERMS, "doc_id", k1=1.2, b=0.75)


@register(
    "doc_incremental_lsh_pairs",
    oracle="WITH "
    + _TOKS_CTE
    + ", "
    + _SHINGLES_CTE
    + ", "
    + _MH_WORDS
    + ", "
    + _MH_SIG
    + ", "
    + _CAND_CTE
    + " SELECT id1, id2 FROM cand WHERE id1 % 5 = 0 OR id2 % 5 = 0",
    doc="Incremental LSH dedup (operators/dedup.py "
    "incremental_minhash_pairs): documents with doc_id % 5 = 0 arrive "
    "as the NEW batch and are probed against the stored band-key index "
    "of the rest — only the new batch is shingled/hashed. Because the "
    "band-key index is exactly reproducible, the result equals the "
    "full rebuild's candidates restricted to pairs touching a new doc "
    "— which is what the oracle states.",
)
def doc_incremental_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    prior_docs = d.filter(F.col("doc_id") % 5 != 0)
    new_docs = d.filter(F.col("doc_id") % 5 == 0)
    prior_keys = dedup.lsh_band_keys(
        dedup.minhash_signatures_docs(prior_docs, "doc_id", k=32),
        bands=8,
        rows=4,
    ).localCheckpoint()
    pairs, _updated = dedup.incremental_minhash_pairs(prior_keys, new_docs, "doc_id")
    return pairs


# ---------------------------------------------------------------------------
# Training-set assembly: leakage-safe splits, semantic dedup, shard packing
# ---------------------------------------------------------------------------


@register(
    "dedup_aware_split",
    oracle="WITH RECURSIVE "
    + _TOKS_CTE
    + ", "
    + _SHINGLES_CTE
    + ", "
    + _MH_WORDS
    + ", "
    + _MH_SIG
    + ", "
    + _CAND_CTE
    + """,
    sym AS (SELECT id1 AS a, id2 AS b FROM cand UNION SELECT id2, id1 FROM cand),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    clusters AS (
      SELECT d.doc_id,
             LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS cluster
      FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
      GROUP BY d.doc_id
    )
    SELECT doc_id, cluster, """
    + _split_case_sql(_sql_hash_uniform("cluster", "r5"), _SPLIT_WEIGHTS)
    + """ AS split
    FROM clusters
    """,
    doc="Leakage-safe train/val/test split: hash-split on the near-dup "
    "CLUSTER id instead of the document id, so a document and its "
    "near-duplicates always land in the same split — the eval-"
    "contamination failure mode of naive per-doc splitting (a train "
    "doc's near-copy in the test set) is structurally impossible. "
    "Composition of doc_dup_clusters (LSH candidate graph, min-label "
    "connected components) and with_hash_split; assignment is content-"
    "addressed, so adding documents never moves an existing cluster "
    "between splits unless clusters genuinely merge.",
)
def dedup_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures_docs(d, "doc_id", k=32)
    cand = dedup.lsh_candidate_pairs(dedup.lsh_band_keys(sig, bands=8, rows=4))
    clusters = graph.dedup_clusters(cand, d.select("doc_id"))
    return sampling.with_hash_split(clusters, "cluster", _SPLIT_WEIGHTS, seed="r5").select(
        "doc_id", "cluster", "split"
    )


@register(
    "embedding_dedup_survivors",
    oracle=f"""
    WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    bk AS ({_banded_bk_sql()}),
    cand AS (
      SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
      FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
    ),
    ver AS (
      SELECT id1, id2
      FROM cand JOIN e ea ON ea.vec_id = cand.id1 JOIN e eb ON eb.vec_id = cand.id2
      WHERE list_dot_product(ea.v, eb.v)
            / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) >= 0.4
    ),
    sym AS (SELECT id1 AS a, id2 AS b FROM ver UNION SELECT id2, id1 FROM ver),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    clusters AS (
      SELECT ee.vec_id,
             LEAST(ee.vec_id, COALESCE(MIN(r.b), ee.vec_id)) AS cluster
      FROM embeddings ee LEFT JOIN reach r ON r.a = ee.vec_id
      GROUP BY ee.vec_id
    )
    SELECT cluster AS vec_id, CAST(COUNT(*) AS BIGINT) AS n_members
    FROM clusters GROUP BY cluster
    """,
    doc="Semantic dedup (SemDeDup-shaped): cluster embedding-space "
    "near-dups (multi-band sign-LSH candidates, exact-cosine verify at "
    "0.4) transitively and keep ONE representative per cluster — the "
    "smallest vec_id — with the cluster size for provenance. The "
    "embedding twin of corpus_prep_pipeline's text dedup stage: every "
    "stage is bucketed (band equi joins), verification touches only "
    "candidates, and the component loop iterates only edge-incident "
    "vectors.",
)
def embedding_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    pairs, _index = similarity.incremental_embedding_pairs(
        None, e, threshold=0.4, bands=_NEARDUP_BANDS, rows_per_band=_NEARDUP_ROWS, seed=42,
        dim=EMB_DIM,
    )
    pairs = pairs.select("id1", "id2")
    clusters = graph.dedup_clusters(pairs, e.select("vec_id"), id_col="vec_id")
    return (
        clusters.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .select(F.col("cluster").alias("vec_id"), "n_members")
    )


@register(
    "training_shards",
    oracle="""
    WITH ranked AS (
      SELECT n_chars,
             NTILE(16) OVER (ORDER BY md5('r5§' || CAST(doc_id AS VARCHAR)), doc_id) AS shard
      FROM documents
    )
    SELECT CAST(shard AS INTEGER) AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM ranked GROUP BY shard
    """,
    doc="Deterministic global shuffle + shard packing — the step between "
    "corpus prep and the training loader: order by a content-addressed "
    "shuffle key (md5 of seed+doc_id, reproducible across runs and "
    "engines), cut into 16 equal shards with exact NTILE semantics, "
    "report per-shard doc/char budgets. The global ordering runs "
    "through operators/ranking.py's two-pass bucketed rank — no "
    "single-partition window at any size; the oracle is the plain "
    "NTILE the two-pass plan must reproduce exactly.",
)
def training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    key = F.md5(F.concat_ws("§", F.lit("r5"), F.col("doc_id").cast("string")))
    sharded = ranking.with_global_ntile(
        d.withColumn("__shuffle_key", key), ["__shuffle_key", "doc_id"], 16, out_col="shard"
    )
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@register(
    "doc_unigram_fluency",
    oracle=f"""
    WITH {_toks_cte()},
    occ AS (SELECT doc_id, u.t AS token FROM toks, UNNEST(tk) AS u(t) WHERE length(u.t) > 0),
    freq AS (SELECT token, COUNT(*) AS f FROM occ GROUP BY token),
    tot AS (SELECT COUNT(*) AS total FROM occ),
    ds AS (
      SELECT doc_id, CAST(SUM(f) AS BIGINT) AS s, COUNT(*) AS n
      FROM occ JOIN freq USING (token) GROUP BY doc_id
    )
    SELECT doc_id,
           n AS n_tokens,
           CAST(s AS DOUBLE)
             / CAST(CAST(CAST(n AS DECIMAL(38,0)) * CAST(total AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE)
             AS fluency
    FROM ds, tot
    """,
    doc="Unigram language-model fluency proxy: a document's mean corpus "
    "unigram probability — sum of its tokens' corpus frequencies over "
    "(doc tokens x corpus tokens). The classic cheap perplexity stand-"
    "in for corpus quality filtering, computed with EXACT integer "
    "arithmetic (the n*total product runs in DECIMAL(38,0) — at corpus "
    "scale a 2e13-token total times a long document wraps int64 — and "
    "one double division at the end) so the "
    "score hashes identically cross-engine — no logs, no float "
    "accumulation order. Plan: explode -> token hash agg (the vocab "
    "table) -> hash join back on token -> per-doc agg; the corpus "
    "total rides in on a broadcast one-row stamp, never a collect.",
)
def doc_unigram_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    occ = d.select("doc_id", F.explode(text.tokenize()).alias("token")).filter(
        F.length("token") > 0
    )
    freq = occ.groupBy("token").agg(F.count(F.lit(1)).alias("f"))
    from batch_data_pipeline_exercise_spark.plans.contract3 import _stamp_global

    tot = freq.agg(F.sum("f").alias("total"))
    ds = (
        occ.join(freq, "token")
        .groupBy("doc_id")
        .agg(F.sum("f").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    stamped = _stamp_global(ds, "s", tot, "total")
    d38 = "decimal(38,0)"
    return stamped.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        (
            F.col("s").cast("double")
            / (F.col("n").cast(d38) * F.col("total").cast(d38)).cast("double")
        ).alias("fluency"),
    )


#: document-frequency cap for exact-Jaccard candidate generation: shingles
#: appearing in more than this many docs are dropped from GENERATION only
#: (verification intersects full shingle sets, so jaccard stays exact). One
#: constant feeds BOTH the Spark plan (ngram_jaccard_pairs max_df) and the
#: DuckDB oracle SQL — the two caps can never silently diverge.
NGRAM_MAX_DF = 64


@register(
    "doc_ngram_jaccard_pairs",
    oracle="WITH "
    + _TOKS_CTE
    + ", "
    + _SHINGLES_CTE
    + f""",
    rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {NGRAM_MAX_DF}),
    gen AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
    cand AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2
      FROM gen a JOIN gen b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.id1, c.id2, COUNT(*) AS ni
      FROM cand c
      JOIN sh a ON a.doc_id = c.id1
      JOIN sh b ON b.doc_id = c.id2 AND b.s = a.s
      GROUP BY c.id1, c.id2
    )
    SELECT i.id1, i.id2, i.ni / (c1.n + c2.n - i.ni) AS jaccard
    FROM inter i
    JOIN counts c1 ON c1.doc_id = i.id1
    JOIN counts c2 ON c2.doc_id = i.id2
    WHERE i.ni / (c1.n + c2.n - i.ni) >= 0.5
    """,
    doc="Exact word-trigram Jaccard (dedup.ngram_jaccard_pairs with "
    "max_df=64): candidate pairs are docs sharing at least one "
    "DISCRIMINATIVE shingle — document frequency <= 64 — via an equi "
    "self-join on the shingle key (never a cartesian product); "
    "verification then intersects the FULL shingle sets, so every "
    "reported jaccard >= 0.5 value is exact. The df cap bounds the "
    "candidate join at 64x the shingle-table size: the round-6 sf1 "
    "sweep's UNCAPPED run OOMed its candidate aggregate, and at every "
    "tested SF (0.001/0.01/0.1 empirically; by construction wherever a "
    "near-dup pair shares one sub-boilerplate shingle) the capped pair "
    "set is byte-identical to the uncapped one. The jaccard double is "
    "one division of identical integer counts, bit-equal cross-engine. "
    "allow_quadratic documents the residual work profile: per-shingle "
    "co-occurrence is still quadratic below the cap, the price of "
    "exactness; minhash_near_dups is the sampling-free scale path.",
    allow_quadratic=True,
)
def doc_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        d, "doc_id", n=3, threshold=0.5, max_df=NGRAM_MAX_DF
    ).select("id1", "id2", "jaccard")
