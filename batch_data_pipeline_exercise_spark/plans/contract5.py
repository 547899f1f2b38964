"""Fifth breadth batch of driver-contract queries — sequence analytics
(Markov transition matrices), corpus drift detection (smoothed log-odds
between splits), Bloom-filter runtime pruning for contamination screens,
KMV theta-sketch set intersection (the "overlap between audiences"
estimate HLL cannot give), integer-quantized centroid similarity, and
Pareto-frontier document selection.

Same determinism rules as ``plans/contract.py``: integer arithmetic for
every decision, doubles only as a final cast or single division /
multiplication chain with IDENTICAL operand order in both engines,
alias parity with the oracle. Scale notes live on each query's doc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from batch_data_pipeline_exercise_spark.operators import bloom
from batch_data_pipeline_exercise_spark.operators import dedup
from batch_data_pipeline_exercise_spark.operators import similarity
from batch_data_pipeline_exercise_spark.operators import sketches
from batch_data_pipeline_exercise_spark.operators import text
from batch_data_pipeline_exercise_spark.plans.contract import dec, load, register
from batch_data_pipeline_exercise_spark.plans.contract3 import _stamp_global
from batch_data_pipeline_exercise_spark.plans.contract_ext import (
    _BANDS_CTE,
    _CAND_CTE,
    _MH_SIG,
    _MH_WORDS,
    _NORM,
    _langid_oracle,
    _SHINGLES_CTE,
    _TOKS_CTE,
    _quality_sql,
)

# Oracle fragment aliases: the minhash word/signature CTEs and the bands
# CTE (the occupancy report needs buckets, not pairs).
_MH_WORDS_SQL = _MH_WORDS
_MH_SIG_SQL = _MH_SIG
_BANDS_SQL = _BANDS_CTE


# The single DuckDB twin of ``text.word_ngrams(n=5)`` — composed by every
# gram-based oracle below so the window arithmetic can never drift
# between them (expects a preceding toks CTE providing (doc_id, tk)).
_GRAMS5_CTE = (
    "grams AS ("
    "SELECT DISTINCT doc_id, array_to_string(list_slice(tk, i + 1, i + 5), ' ') AS g "
    "FROM toks, UNNEST(range(0, greatest(len(tk) - 5, 0) + 1)) AS u(i) "
    "WHERE i + 5 <= len(tk))"
)

# ---------------------------------------------------------------------------
# Sequence analytics: event-type Markov transitions
# ---------------------------------------------------------------------------


@register(
    "event_type_markov",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
      FROM events
    )
    SELECT event_type AS src, dst,
           CAST(COUNT(*) AS BIGINT) AS transitions,
           CAST(COUNT(*) AS DOUBLE)
             / CAST(SUM(COUNT(*)) OVER (PARTITION BY event_type) AS DOUBLE) AS prob
    FROM s WHERE dst IS NOT NULL
    GROUP BY event_type, dst
    """,
    doc="First-order Markov transition matrix over per-user event "
    "sequences — the behavioral-model / sequence-features substrate. "
    "LEAD over (user, time) pairs each event with its successor; "
    "row-normalized probability is one exact-integer division per "
    "output row. Plan: one exchange on user_id for the sequence "
    "window, one hash aggregate on (src,dst) — a few dozen rows — and "
    "a src-partitioned window for the normalizer. Nothing global, "
    "nothing quadratic; holds at any event count.",
)
def event_type_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(seq).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    t = s.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("transitions"))
    norm = Window.partitionBy("src")
    return t.select(
        "src",
        "dst",
        "transitions",
        (
            F.col("transitions").cast("double")
            / F.sum("transitions").over(norm).cast("double")
        ).alias("prob"),
    )


# ---------------------------------------------------------------------------
# Corpus drift: smoothed odds ratio between two splits
# ---------------------------------------------------------------------------


@register(
    "corpus_token_drift",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS tk FROM documents),
    tok AS (SELECT doc_id, u.t AS token FROM toks, UNNEST(tk) AS u(t) WHERE length(u.t) > 0),
    c AS (
      SELECT token,
             CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM tok GROUP BY token
    ),
    g AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
                 CAST(COUNT(*) AS BIGINT) AS v
          FROM c),
    o AS (
      SELECT c.token, c.ca, c.cb,
             (CAST(c.ca + 1 AS DOUBLE) * CAST(g.nb + g.v AS DOUBLE))
               / (CAST(c.cb + 1 AS DOUBLE) * CAST(g.na + g.v AS DOUBLE)) AS odds
      FROM c CROSS JOIN g
      WHERE c.ca + c.cb >= 5
    )
    SELECT token, ca, cb, odds, drift FROM (
      SELECT token, ca, cb, odds, greatest(odds, 1.0 / odds) AS drift,
             ROW_NUMBER() OVER (PARTITION BY substr(token, 1, 1)
                                ORDER BY greatest(odds, 1.0 / odds) DESC, token) AS rnk
      FROM o
    ) WHERE rnk <= 3
    """,
    doc="Distribution-drift detector between two corpus splits (here the "
    "deterministic doc_id parity split — in production, yesterday's "
    "crawl vs today's): add-one-smoothed odds ratio of every token's "
    "rate, surfacing the 3 most-drifted tokens per first-character "
    "shard. The ratio is (ca+1)(nb+V) / (cb+1)(na+V) — all-integer "
    "products, two correctly-rounded double multiplies and one "
    "division in identical order both engines, so ranking keys are "
    "bit-exact (ties break lexically). Plan: one explode + one hash "
    "aggregate; global totals are a 1-row re-aggregate stamped back "
    "via zero-key BroadcastHashJoin (no collect); the ranking window "
    "is SHARDED by the token's first character — no global sort, same "
    "scheme as the vocab head, parallel at any corpus size.",
)
def corpus_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(text.tokenize("text")).alias("token")).filter(
        F.length("token") > 0
    )
    c = tok.groupBy("token").agg(
        F.sum(F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("doc_id") % 2 == 1, 1).otherwise(0)).alias("cb"),
    )
    g = c.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb"), F.count(F.lit(1)).alias("v")
    )
    stamped = _stamp_global(c.filter(F.col("ca") + F.col("cb") >= 5), "token", g, "v")
    odds = (F.col("ca").cast("bigint") + 1).cast("double") * (
        F.col("nb") + F.col("v")
    ).cast("double") / (
        (F.col("cb").cast("bigint") + 1).cast("double")
        * (F.col("na") + F.col("v")).cast("double")
    )
    o = stamped.withColumn("odds", odds).withColumn(
        "drift", F.greatest(F.col("odds"), F.lit(1.0) / F.col("odds"))
    )
    w = Window.partitionBy(F.substring("token", 1, 1)).orderBy(
        F.col("drift").desc(), "token"
    )
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "token",
            F.col("ca").cast("bigint").alias("ca"),
            F.col("cb").cast("bigint").alias("cb"),
            "odds",
            "drift",
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter runtime pruning: contamination screen
# ---------------------------------------------------------------------------


@register(
    "contamination_bloom_hits",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS tk FROM documents),
    {_GRAMS5_CTE},
    eval_grams AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 0),
    train AS (SELECT doc_id, g FROM grams WHERE doc_id % 10 <> 0)
    SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS shared_grams
    FROM train t JOIN eval_grams e ON e.g = t.g
    GROUP BY t.doc_id
    """,
    doc="The train_eval_contamination join, executed through a broadcast "
    "Bloom runtime filter (operators/bloom.py): eval 5-grams fold into "
    "a <=16k-row bit-packed word table (256 KB regardless of eval "
    "size), train grams are pruned map-side by 3 BroadcastHashJoin bit "
    "probes, and only the survivors reach the exact gram join. Bloom "
    "false positives are killed by that exact join, and the no-false-"
    "negative property means the output is IDENTICAL to the plain "
    "join — which is exactly what the oracle runs. At 100 TB the win "
    "is shuffling ~2-5% of train grams instead of all of them.",
    bench=True,
)
def contamination_bloom_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # The eval (doc_id % 10 == 0) and train doc sets are DISJOINT, so
    # the gram kernel can run once per side over its own docs — the same
    # total kernel work as one full-table pass, with NO shared pin: the
    # old shape materialized the entire exploded gram table
    # (localCheckpoint) just so the eval and train branches would not
    # re-run the kernel, paying a full write+read of every gram row.
    # Splitting first replaces that with one extra column-pruned scan of
    # documents (the %10 predicate is a pushable scan filter) — measured
    # at sf0.1: 8.2-8.7 → 6.3-6.7 executor-CPU s, identical output
    # (r14). eval_grams keeps its pin (two consumers: Bloom build and
    # the final exact join).
    # per-doc distinct via array_distinct BEFORE the explode: identical
    # rows (documents is one row per doc_id) with zero exchange, where
    # the global .distinct() shuffled every exploded gram string —
    # measured +4.8 executor-CPU s on this kernel at sf0.1 (r14) —
    # via the arrow gram kernel (text.word_ngrams_exploded, r14)
    def grams(docs):
        return text.word_ngrams_exploded(docs, "doc_id", "text", 5)

    eval_grams = (
        grams(d.filter(F.col("doc_id") % 10 == 0)).select("g").distinct().localCheckpoint()
    )
    train = grams(d.filter(F.col("doc_id") % 10 != 0))
    bf = bloom.bloom_build(eval_grams, "g", m_bits=1 << 18, k=3)
    pruned = bloom.bloom_prune(train, "g", bf)
    return (
        pruned.join(eval_grams, "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
    )


# ---------------------------------------------------------------------------
# KMV theta sketch: pairwise audience overlap between event types
# ---------------------------------------------------------------------------

_KMV_K = 64
# 2^60 as an exact double literal — MUST render sketches.KMV_H exactly
_KMV_H = "%.1f" % sketches.KMV_H
assert float(_KMV_H) == sketches.KMV_H


@register(
    "event_type_user_overlap_kmv",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      FROM events WHERE user_id IS NOT NULL
    ), r AS (
      SELECT event_type, h, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM h
    ), s AS (SELECT event_type, h FROM r WHERE rn <= {_KMV_K}),
    th AS (SELECT event_type FROM s GROUP BY event_type),
    pairs AS (
      SELECT a.event_type AS ta, b.event_type AS tb
      FROM th a JOIN th b ON a.event_type < b.event_type
    ), e AS (
      SELECT p.ta, p.tb, s.h,
             CASE WHEN s.event_type = p.ta THEN 0 ELSE 1 END AS side
      FROM s JOIN pairs p ON s.event_type = p.ta OR s.event_type = p.tb
    ), u AS (
      SELECT ta, tb, h, MIN(side) AS smin, MAX(side) AS smax FROM e GROUP BY ta, tb, h
    ), ru AS (
      SELECT ta, tb, h, smin, smax,
             ROW_NUMBER() OVER (PARTITION BY ta, tb ORDER BY h) AS rn
      FROM u
    ), ku AS (SELECT ta, tb, h, smin, smax FROM ru WHERE rn <= {_KMV_K})
    SELECT ta AS event_type_a, tb AS event_type_b,
           CAST(COUNT(*) AS BIGINT) AS k_used,
           CAST(SUM(CASE WHEN smin = 0 AND smax = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
           CAST(SUM(CASE WHEN smin = 0 AND smax = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_only_a,
           CAST(SUM(CASE WHEN smin = 1 AND smax = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_only_b,
           CAST(SUM(CASE WHEN smin = 0 AND smax = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS jaccard_est,
           CASE WHEN COUNT(*) < {_KMV_K} THEN CAST(COUNT(*) AS DOUBLE)
                ELSE CAST(COUNT(*) - 1 AS DOUBLE) * {_KMV_H} / CAST(MAX(h) AS DOUBLE)
           END AS union_distinct_est,
           CAST(SUM(CASE WHEN smin = 0 AND smax = 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE)
             * (CASE WHEN COUNT(*) < {_KMV_K} THEN CAST(COUNT(*) AS DOUBLE)
                     ELSE CAST(COUNT(*) - 1 AS DOUBLE) * {_KMV_H} / CAST(MAX(h) AS DOUBLE) END)
             AS excl_a_est,
           CAST(SUM(CASE WHEN smin = 1 AND smax = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE)
             * (CASE WHEN COUNT(*) < {_KMV_K} THEN CAST(COUNT(*) AS DOUBLE)
                     ELSE CAST(COUNT(*) - 1 AS DOUBLE) * {_KMV_H} / CAST(MAX(h) AS DOUBLE) END)
             AS excl_b_est
    FROM ku GROUP BY ta, tb
    """,
    doc="KMV (k-minimum-values) theta-sketch set algebra: per event "
    "type, the k=64 smallest md5-derived 60-bit user hashes ARE a "
    "mergeable distinct sketch; unlike HLL, two KMV sketches support "
    "INTERSECTION and DIFFERENCE — union k-min + per-hash side flags "
    "give Jaccard, A-not-B and B-not-A estimates in one aggregate, and "
    "(k-1)*2^60/theta estimates union cardinality. Every estimate is an exact-integer count plus "
    "one fixed double expression, so cross-engine hash-exact (the "
    "tolerance is pinned by construction, not asserted). Plan: one "
    "distinct, two PARTITIONED rank windows, and pair expansion via a "
    "zero-key-stamped type array — sketch size k*T rows bounds every "
    "later stage no matter how many billions of events feed it.",
)
def event_type_user_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    k = _KMV_K
    # NULL ids hash to NULL, which sorts FIRST in Spark's window but LAST
    # in DuckDB's ORDER BY — a NULL would permanently occupy a k-min slot
    # here while the oracle drops it. Filter at the boundary.
    h = (
        e.filter(F.col("user_id").isNotNull())
        .select("event_type", sketches.kmv_hash("user_id").alias("h"))
        .distinct()
    )
    wr = Window.partitionBy("event_type").orderBy("h")
    s = h.withColumn("rn", F.row_number().over(wr)).filter(F.col("rn") <= k).drop("rn")
    types = s.agg(
        F.sort_array(F.collect_set("event_type")).alias("__types"),
        F.count(F.lit(1)).alias("__n"),
    )
    st = _stamp_global(s, "h", types, "__n")
    ex = (
        st.select("event_type", "h", F.explode("__types").alias("other"))
        .filter(F.col("other") != F.col("event_type"))
        .select(
            F.least("event_type", "other").alias("ta"),
            F.greatest("event_type", "other").alias("tb"),
            "h",
            F.when(F.col("event_type") == F.least("event_type", "other"), 0)
            .otherwise(1)
            .alias("side"),
        )
    )
    u = ex.groupBy("ta", "tb", "h").agg(F.min("side").alias("smin"), F.max("side").alias("smax"))
    wu = Window.partitionBy("ta", "tb").orderBy("h")
    ku = u.withColumn("rn", F.row_number().over(wu)).filter(F.col("rn") <= k)
    common = F.sum(F.when((F.col("smin") == 0) & (F.col("smax") == 1), 1).otherwise(0))
    only_a = F.sum(F.when((F.col("smin") == 0) & (F.col("smax") == 0), 1).otherwise(0))
    only_b = F.sum(F.when((F.col("smin") == 1) & (F.col("smax") == 1), 1).otherwise(0))
    cnt = F.count(F.lit(1))
    union_est = F.when(cnt < k, cnt.cast("double")).otherwise(
        (cnt - 1).cast("double") * F.lit(sketches.KMV_H) / F.max("h").cast("double")
    )
    return ku.groupBy(F.col("ta").alias("event_type_a"), F.col("tb").alias("event_type_b")).agg(
        cnt.alias("k_used"),
        common.cast("bigint").alias("n_common"),
        only_a.cast("bigint").alias("n_only_a"),
        only_b.cast("bigint").alias("n_only_b"),
        (common.cast("double") / cnt.cast("double")).alias("jaccard_est"),
        union_est.alias("union_distinct_est"),
        (only_a.cast("double") / cnt.cast("double") * union_est).alias("excl_a_est"),
        (only_b.cast("double") / cnt.cast("double") * union_est).alias("excl_b_est"),
    )


# ---------------------------------------------------------------------------
# Integer-quantized label-centroid similarity
# ---------------------------------------------------------------------------


@register(
    "label_centroid_similarity",
    oracle="""
    WITH m AS (
      SELECT vec_id, label, embedding,
             (SELECT MAX(abs(CAST(u.x AS DOUBLE))) FROM UNNEST(embedding) AS u(x)) AS max_abs
      FROM embeddings
    ), q AS (
      SELECT label,
             list_transform(embedding,
               x -> GREATEST(CAST(-127 AS BIGINT), LEAST(CAST(127 AS BIGINT),
                      CAST(FLOOR(CAST(x AS DOUBLE) * (127.0 / max_abs) + 0.5) AS BIGINT))))
               AS qv
      FROM m WHERE max_abs > 0
    ), dims AS (
      SELECT label, CAST(i AS INTEGER) AS dim, qv[CAST(i AS INTEGER)] AS v
      FROM q, UNNEST(range(1, len(qv) + 1)) AS t(i)
    ), sums AS (
      SELECT label, dim, CAST(SUM(v) AS BIGINT) AS s FROM dims GROUP BY label, dim
    ), norms AS (
      SELECT label, CAST(SUM(s * s) AS BIGINT) AS n2 FROM sums GROUP BY label
    ), dots AS (
      SELECT a.label AS label_a, b.label AS label_b, CAST(SUM(a.s * b.s) AS BIGINT) AS dot_q
      FROM sums a JOIN sums b ON a.dim = b.dim AND a.label < b.label
      GROUP BY a.label, b.label
    )
    SELECT d.label_a, d.label_b, d.dot_q,
           CAST(d.dot_q AS DOUBLE)
             / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
    FROM dots d
    JOIN norms na ON na.label = d.label_a
    JOIN norms nb ON nb.label = d.label_b
    """,
    doc="Pairwise cosine similarity between per-label embedding "
    "centroids, computed ENTIRELY in integers until the final "
    "expression: vectors are symmetric-int8 quantized (the exact "
    "embedding_quantize_int8 formula), per-(label,dim) integer sums "
    "form unnormalized centroids (cosine is scale-invariant, so the "
    "mean's division is skipped — no float accumulation anywhere), "
    "integer dot products pair labels via a dim equi-join, and the "
    "one double expression (dot / sqrt*sqrt, all correctly-rounded "
    "IEEE ops) is bit-exact cross-engine. The label x dim sum table "
    "is |labels|*dims rows — broadcastable at any vector count; "
    "int64 headroom holds to ~10^9 vectors per label at 64 dims "
    "(swap the sums to decimal(38,0) beyond that).",
)
def label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    vd = F.col("embedding").cast("array<double>")
    max_abs = F.aggregate(vd, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x)))
    m = emb.select("label", vd.alias("v"), max_abs.alias("max_abs")).filter(
        F.col("max_abs") > 0
    )
    scale = F.lit(127.0) / F.col("max_abs")
    lo, hi = F.lit(-127).cast("bigint"), F.lit(127).cast("bigint")
    qv = F.transform(
        F.col("v"),
        lambda x: F.greatest(lo, F.least(hi, F.floor(x * scale + F.lit(0.5)).cast("bigint"))),
    )
    dims = m.select("label", F.posexplode(qv).alias("dim", "v"))
    sums = dims.groupBy("label", "dim").agg(F.sum("v").alias("s"))
    norms = sums.groupBy("label").agg(F.sum(F.col("s") * F.col("s")).alias("n2"))
    a, b = sums.alias("a"), sums.alias("b")
    dots = (
        a.join(b, (F.col("a.dim") == F.col("b.dim")) & (F.col("a.label") < F.col("b.label")))
        .groupBy(F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b"))
        .agg(F.sum(F.col("a.s") * F.col("b.s")).alias("dot_q"))
    )
    na = norms.select(F.col("label").alias("__la"), F.col("n2").alias("__n2a"))
    nb = norms.select(F.col("label").alias("__lb"), F.col("n2").alias("__n2b"))
    return (
        dots.join(F.broadcast(na), F.col("label_a") == F.col("__la"))
        .join(F.broadcast(nb), F.col("label_b") == F.col("__lb"))
        .select(
            "label_a",
            "label_b",
            "dot_q",
            (
                F.col("dot_q").cast("double")
                / (F.sqrt(F.col("__n2a").cast("double")) * F.sqrt(F.col("__n2b").cast("double")))
            ).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# Pareto-frontier document selection
# ---------------------------------------------------------------------------


@register(
    "doc_pareto_frontier",
    oracle=f"""
    WITH q AS ({_quality_sql()})
    SELECT doc_id, lang, n_chars, quality_score FROM (
      SELECT d.doc_id, d.lang, length(d.text) AS n_chars, q.quality_score,
             MAX(q.quality_score) OVER (
               PARTITION BY d.lang
               ORDER BY length(d.text) ASC, q.quality_score DESC, d.doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mx
      FROM documents d JOIN q ON q.doc_id = d.doc_id
    ) WHERE mx IS NULL OR quality_score > mx
    """,
    doc="Per-language Pareto frontier over (maximize quality_score, "
    "minimize n_chars) — the multi-objective data-selection shape "
    "('the best quality available at every length budget'). Classic "
    "2D skyline as ONE partitioned window: sort by (length asc, "
    "quality desc, doc_id), keep a row iff its quality strictly "
    "exceeds the running max over all strictly-preceding rows — every "
    "shorter-or-equal doc. Equal (length, quality) ties collapse to "
    "the lowest doc_id. No self-join (the naive dominance query is "
    "quadratic), no global sort — lang shards the window, and the "
    "frontier property is local to each shard.",
)
def doc_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    q = text.with_quality_score(d).select(
        "doc_id", "lang", F.length("text").alias("n_chars"), "quality_score"
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("n_chars").asc(), F.col("quality_score").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        q.withColumn("mx", F.max("quality_score").over(w))
        .filter(F.col("mx").isNull() | (F.col("quality_score") > F.col("mx")))
        .select("doc_id", "lang", "n_chars", "quality_score")
    )


# ---------------------------------------------------------------------------
# Asymmetric near-dup: shingle containment (quote / inclusion detection)
# ---------------------------------------------------------------------------


@register(
    "doc_containment_pairs",
    oracle="WITH "
    + _TOKS_CTE
    + ", "
    + _SHINGLES_CTE
    + """,
    dfreq AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
    keep AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfreq ON dfreq.s = sh.s WHERE dfreq.df <= 100),
    counts AS (SELECT doc_id, COUNT(*) AS n FROM keep GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS ni
      FROM keep a JOIN keep b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING COUNT(*) >= 5
    )
    SELECT i.id1, i.id2,
           CAST(i.ni AS BIGINT) AS ni,
           CAST(c1.n AS BIGINT) AS n1,
           CAST(c2.n AS BIGINT) AS n2,
           i.ni / c1.n AS containment_in_1,
           i.ni / c2.n AS containment_in_2
    FROM inter i
    JOIN counts c1 ON c1.doc_id = i.id1
    JOIN counts c2 ON c2.doc_id = i.id2
    """,
    doc="Asymmetric near-duplication via shingle CONTAINMENT "
    "(|A∩B|/|A| per direction) — catches a short doc quoted inside a "
    "long one, which symmetric Jaccard dilutes below any threshold. "
    "Candidates come from an inverted shingle index (equi self-join "
    "on the 3-shingle) with two scale guards: stop-shingles appearing "
    "in >100 docs are dropped before the join (they contribute "
    "quadratic pair blowup and no dedup signal — the classic "
    "hot-posting cap), and pairs must share >=5 informative shingles. "
    "Ratios are one integer division each, bit-exact cross-engine.",
)
def doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    sh = dedup.word_shingles(d, "doc_id").select(F.col("id").alias("doc_id"), F.col("shingle").alias("s"))
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    keep = sh.join(dfreq.filter(F.col("df") <= 100).select("s"), "s").localCheckpoint()
    counts = keep.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = keep.select(F.col("doc_id").alias("id1"), "s")
    b = keep.select(F.col("doc_id").alias("id2"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("ni"))
        .filter(F.col("ni") >= 5)
    )
    c1 = counts.select(F.col("doc_id").alias("__d1"), F.col("n").alias("n1"))
    c2 = counts.select(F.col("doc_id").alias("__d2"), F.col("n").alias("n2"))
    return (
        inter.join(c1, F.col("id1") == F.col("__d1"))
        .join(c2, F.col("id2") == F.col("__d2"))
        .select(
            "id1",
            "id2",
            "ni",
            "n1",
            "n2",
            (F.col("ni") / F.col("n1")).alias("containment_in_1"),
            (F.col("ni") / F.col("n2")).alias("containment_in_2"),
        )
    )


# ---------------------------------------------------------------------------
# Market concentration: HHI per nation
# ---------------------------------------------------------------------------


@register(
    "supplier_revenue_hhi",
    oracle="""
    WITH per_supp AS (
      SELECT s.s_nationkey, l.l_suppkey,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS rev
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY s.s_nationkey, l.l_suppkey
    )
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           CAST(CAST(SUM(p.rev) AS VARCHAR) AS DOUBLE) AS total_revenue,
           CAST(CAST(SUM(CAST(p.rev AS DECIMAL(28,2)) * CAST(p.rev AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
             / (CAST(CAST(SUM(p.rev) AS VARCHAR) AS DOUBLE)
                * CAST(CAST(SUM(p.rev) AS VARCHAR) AS DOUBLE)) AS hhi
    FROM per_supp p JOIN nation n ON n.n_nationkey = p.s_nationkey
    GROUP BY n.n_name
    """,
    doc="Herfindahl-Hirschman concentration index of supplier revenue "
    "per nation — 'is this supply chain dominated by a few "
    "suppliers?'. HHI = sum(share^2) is algebraically rewritten to "
    "sum(rev^2)/total^2 so no per-supplier division happens, and the "
    "squares are DECIMAL(18,2)x(18,2) products (scale-4, exact) summed "
    "exactly — a double sum of squares would be order-dependent across "
    "shuffle partitions and break the hash compare (the DuckDB side "
    "widens one operand to DECIMAL(28,2) to leave the int64 multiply "
    "path, and reads the >2^53 sum back through the VARCHAR bridge "
    "for the correctly-rounded double, as in lineitem_moment_stats). "
    "The only doubles "
    "are the final casts and one division. Two hash aggregates "
    "(lineitem shuffles on (nation,supplier), then nation); nation "
    "broadcast. Headroom: per-supplier revenue to 10^16 before the "
    "decimal square saturates — at bigger scales widen rev's cast.",
)
def supplier_revenue_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    per_supp = (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_nationkey", "l_suppkey")
        .agg(F.sum(dec("l_extendedprice")).alias("rev"))
    )
    return (
        per_supp.join(F.broadcast(n), per_supp["s_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum("rev").cast("double").alias("total_revenue"),
            (
                F.sum(
                    F.col("rev").cast("decimal(18,2)") * F.col("rev").cast("decimal(18,2)")
                ).cast("double")
                / (F.sum("rev").cast("double") * F.sum("rev").cast("double"))
            ).alias("hhi"),
        )
    )


# ---------------------------------------------------------------------------
# Session bounce analytics by entry event type
# ---------------------------------------------------------------------------


@register(
    "session_bounce_stats",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                       LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), numbered AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    ), entries AS (
      SELECT user_id, session_id, ts, event_id,
             FIRST_VALUE(event_type) OVER (PARTITION BY user_id, session_id
                                           ORDER BY ts, event_id) AS entry_type_w
      FROM numbered
    ), sessions AS (
      SELECT user_id, session_id,
             MIN(entry_type_w) AS entry_type,
             COUNT(*) AS n_events,
             date_diff('microsecond', MIN(ts), MAX(ts)) AS dur_us
      FROM entries GROUP BY user_id, session_id
    )
    SELECT entry_type,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS bounce_rate,
           CAST(SUM(n_events) AS BIGINT) AS total_events,
           CAST(SUM(dur_us) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_session_us
    FROM sessions GROUP BY entry_type
    """,
    doc="Bounce-rate report by session ENTRY event type: 30-minute-gap "
    "sessionization (identical lag/running-sum islands as "
    "user_sessions, with the (ts, event_id) total order carried into "
    "every window so ties cannot reorder), entry event via a "
    "FIRST_VALUE window over (user_id, session_id) — this replaced an "
    "arg-min struct aggregate whose MIN(struct_pack(...)).field form "
    "leaks memory unboundedly in DuckDB 1.x at millions of groups "
    "(measured at sf3: 126 GB RSS under a 30 GB memory_limit, host "
    "OOM; the window form is hash-identical at sf0.1 and runs sf3 in "
    "0.7 s), bounce = single-event session. Duration is an exact "
    "integer microsecond difference; "
    "the two ratios are single divisions of exact integers. Plan: one "
    "exchange on user_id reused by both windows, then two hash "
    "aggregates that only ever shrink the data.",
)
def session_bounce_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = e.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "new_session",
        F.when(F.expr("timestampdiff(MICROSECOND, prev_ts, ts)") > 30 * 60 * 1_000_000, 1)
        .when(F.col("prev_ts").isNull(), 1)
        .otherwise(0),
    )
    numbered = flagged.withColumn("session_id", F.sum("new_session").over(wrun))
    sessions = numbered.groupBy("user_id", "session_id").agg(
        F.min(F.struct("ts", "event_id", "event_type")).getField("event_type").alias("entry_type"),
        F.count(F.lit(1)).alias("n_events"),
        F.expr("timestampdiff(MICROSECOND, min(ts), max(ts))").alias("dur_us"),
    )
    bounces = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    cnt = F.count(F.lit(1))
    return sessions.groupBy("entry_type").agg(
        cnt.alias("n_sessions"),
        bounces.cast("bigint").alias("n_bounces"),
        (bounces.cast("double") / cnt.cast("double")).alias("bounce_rate"),
        F.sum("n_events").cast("bigint").alias("total_events"),
        (F.sum("dur_us").cast("double") / cnt.cast("double")).alias("mean_session_us"),
    )


# ---------------------------------------------------------------------------
# Operational meta-analytics: LSH band occupancy (the join-cost driver)
# ---------------------------------------------------------------------------


@register(
    "lsh_band_occupancy",
    oracle="WITH "
    + _TOKS_CTE
    + ", "
    + _SHINGLES_CTE
    + ", "
    + _MH_WORDS_SQL
    + ", "
    + _MH_SIG_SQL
    + ", "
    + _BANDS_SQL
    + """,
    buckets AS (
      SELECT band, band_key, COUNT(*) AS c FROM bands GROUP BY band, band_key
    )
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(c) AS BIGINT) AS n_docs,
           CAST(MAX(c) AS BIGINT) AS max_bucket,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS singleton_buckets,
           CAST(SUM((c * (c - 1)) // 2) AS BIGINT) AS candidate_pairs
    FROM buckets GROUP BY band
    """,
    doc="Self-monitoring for the minhash-LSH dedup path: per band, the "
    "bucket-occupancy profile that DETERMINES the banded self-join's "
    "cost — candidate_pairs = sum(c*(c-1)/2) is exactly the row count "
    "the join will produce, max_bucket is the skew ceiling, and the "
    "singleton fraction shows how much of the corpus is join-inert. "
    "The 10x-occupancy experiment in SCALE.md tracked these numbers "
    "by hand; this query makes them a first-class, schedulable "
    "observable so a production pipeline can alert on quadratic "
    "blowup BEFORE launching the join. Integer-only arithmetic "
    "(c*(c-1) is always even, so the integer halving is exact).",
)
def lsh_band_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures_docs(d, "doc_id", k=32)
    bk = dedup.lsh_band_keys(sig, bands=8, rows=4)
    buckets = bk.groupBy("band", "band_key").agg(F.count(F.lit(1)).alias("c"))
    return buckets.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("c").alias("n_docs"),
        F.max("c").alias("max_bucket"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("bigint").alias("singleton_buckets"),
        F.sum(F.expr("(c * (c - 1)) div 2")).alias("candidate_pairs"),
    )


# ---------------------------------------------------------------------------
# Contingency analysis: chi-square cells over exact integer margins
# ---------------------------------------------------------------------------


@register(
    "priority_status_chi2",
    oracle="""
    WITH cells AS (
      SELECT o_orderpriority, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS observed
      FROM orders GROUP BY o_orderpriority, o_orderstatus
    ), margins AS (
      SELECT o_orderpriority, o_orderstatus, observed,
             SUM(observed) OVER (PARTITION BY o_orderpriority) AS r_tot,
             SUM(observed) OVER (PARTITION BY o_orderstatus) AS c_tot
      FROM cells
    ), tot AS (SELECT CAST(SUM(observed) AS BIGINT) AS n FROM cells)
    SELECT m.o_orderpriority, m.o_orderstatus, m.observed,
           CAST(m.r_tot AS BIGINT) AS row_total,
           CAST(m.c_tot AS BIGINT) AS col_total,
           CAST(m.r_tot * m.c_tot AS DOUBLE) / CAST(t.n AS DOUBLE) AS expected,
           (CAST(m.observed * t.n - m.r_tot * m.c_tot AS DOUBLE)
              * CAST(m.observed * t.n - m.r_tot * m.c_tot AS DOUBLE))
             / (CAST(t.n AS DOUBLE) * CAST(m.r_tot AS DOUBLE) * CAST(m.c_tot AS DOUBLE))
             AS chi2_contribution
    FROM margins m CROSS JOIN tot t
    """,
    doc="Chi-square independence cells for order priority x order status "
    "— the "
    "data-validation shape 'did this categorical relationship shift?'. "
    "Every margin is an exact integer; the per-cell statistic uses the "
    "cross-multiplied form (O*N - R*C)^2 / (N*R*C) so no intermediate "
    "expected-count rounding enters the numerator: the diff is one "
    "exact bigint, then three correctly-rounded double ops in "
    "identical order. PER-CELL contributions are emitted instead of "
    "the chi2 total because a cross-cell double sum would be "
    "accumulation-order-dependent; callers fold the handful of cells "
    "client-side. Plan: one hash aggregate to cells (tiny), two "
    "partitioned margin windows, zero-key total stamp.",
)
def priority_status_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    cells = o.groupBy("o_orderpriority", "o_orderstatus").agg(F.count(F.lit(1)).alias("observed"))
    wr = Window.partitionBy("o_orderpriority")
    wc = Window.partitionBy("o_orderstatus")
    margins = cells.withColumn("r_tot", F.sum("observed").over(wr)).withColumn(
        "c_tot", F.sum("observed").over(wc)
    )
    tot = cells.agg(F.sum("observed").alias("n"))
    m = _stamp_global(margins, "o_orderpriority", tot, "n")
    diff = (F.col("observed") * F.col("n") - F.col("r_tot") * F.col("c_tot")).cast("double")
    return m.select(
        "o_orderpriority",
        "o_orderstatus",
        "observed",
        F.col("r_tot").cast("bigint").alias("row_total"),
        F.col("c_tot").cast("bigint").alias("col_total"),
        ((F.col("r_tot") * F.col("c_tot")).cast("double") / F.col("n").cast("double")).alias(
            "expected"
        ),
        (
            (diff * diff)
            / (
                F.col("n").cast("double")
                * F.col("r_tot").cast("double")
                * F.col("c_tot").cast("double")
            )
        ).alias("chi2_contribution"),
    )


# ---------------------------------------------------------------------------
# Curriculum novelty: fraction of first-seen n-grams per document
# ---------------------------------------------------------------------------


@register(
    "doc_ngram_novelty",
    bench=True,
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS tk FROM documents),
    {_GRAMS5_CTE},
    firstg AS (SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g)
    SELECT gr.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS novel_grams,
           CAST(SUM(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS BIGINT) AS novelty
    FROM grams gr JOIN firstg f ON f.g = gr.g
    GROUP BY gr.doc_id
    """,
    doc="Per-document novelty score: the fraction of a doc's distinct "
    "5-grams whose FIRST corpus occurrence (min doc_id — in production, "
    "ingestion order) is this document. The dedup-aware curriculum "
    "signal: low novelty marks content the model has already seen. "
    "Plan: one explode + distinct, a gram-keyed min aggregate (the "
    "first-occurrence index — reusable as a persisted table for "
    "incremental novelty), one equi join back on the gram, one hash "
    "aggregate per doc. All counts integer; one division per row.",
)
def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # single pass, no self-join: the old groupBy(g)+join-back form
    # consumed the exploded-distinct gram set twice (Spark re-executes
    # it per branch; a localCheckpoint papered over that), and the join
    # re-shuffled both sides. A min-over-gram window needs one shuffle
    # on g and nothing else between distinct and the final per-doc agg.
    grams = text.word_ngrams_exploded(d, "doc_id", "text", 5)
    wg = Window.partitionBy("g")
    flagged = grams.withColumn("first_doc", F.min("doc_id").over(wg))
    novel = F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        novel.cast("bigint").alias("novel_grams"),
        (novel.cast("double") / F.count(F.lit(1))).alias("novelty"),
    )


# ---------------------------------------------------------------------------
# Market-basket affinity: brand co-occurrence lift
# ---------------------------------------------------------------------------


@register(
    "brand_affinity_lift",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    n_orders AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM ob),
    brand_n AS (SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_b FROM ob GROUP BY p_brand),
    pairs AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM ob a JOIN ob b ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY a.p_brand, b.p_brand
      HAVING COUNT(*) >= 5
    )
    SELECT p.brand_a, p.brand_b, p.n_ab, na.n_b AS n_a, nb.n_b AS n_b,
           CAST(p.n_ab AS DOUBLE) / CAST(t.n AS DOUBLE) AS support,
           CAST(p.n_ab * t.n AS DOUBLE) / CAST(na.n_b * nb.n_b AS DOUBLE) AS lift
    FROM pairs p
    JOIN brand_n na ON na.p_brand = p.brand_a
    JOIN brand_n nb ON nb.p_brand = p.brand_b
    CROSS JOIN n_orders t
    """,
    doc="Market-basket brand affinity: lift = P(a,b)/(P(a)P(b)) over "
    "orders, computed as the cross-multiplied integer ratio "
    "(n_ab*N)/(n_a*n_b) — one double division per pair, no "
    "intermediate probabilities. The self-join is keyed on l_orderkey, "
    "so the pair blowup is bounded by basket size squared per order "
    "(baskets are small; a hot-basket cap like the containment query's "
    "df filter would bolt on unchanged if they weren't). Support floor "
    "n_ab>=5 keeps the output the interesting head. Brand margins "
    "broadcast; the global order count stamps via zero-key join.",
)
def brand_affinity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    ob = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .select("l_orderkey", "p_brand")
        .distinct()
        .localCheckpoint()
    )
    tot = ob.agg(F.count_distinct("l_orderkey").alias("n"))
    brand_n = ob.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n_b"))
    a = ob.select(F.col("l_orderkey").alias("k"), F.col("p_brand").alias("brand_a"))
    b = ob.select(F.col("l_orderkey").alias("k"), F.col("p_brand").alias("brand_b"))
    pairs = (
        a.join(b, "k")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 5)
    )
    na = brand_n.select(F.col("p_brand").alias("__ba"), F.col("n_b").alias("n_a"))
    nb = brand_n.select(F.col("p_brand").alias("__bb"), F.col("n_b").alias("__nb2"))
    stamped = _stamp_global(
        pairs.join(F.broadcast(na), F.col("brand_a") == F.col("__ba"))
        .join(F.broadcast(nb), F.col("brand_b") == F.col("__bb")),
        "brand_a",
        tot,
        "n",
    )
    return stamped.select(
        "brand_a",
        "brand_b",
        "n_ab",
        "n_a",
        F.col("__nb2").alias("n_b"),
        (F.col("n_ab").cast("double") / F.col("n").cast("double")).alias("support"),
        (
            (F.col("n_ab") * F.col("n")).cast("double")
            / (F.col("n_a") * F.col("__nb2")).cast("double")
        ).alias("lift"),
    )


# ---------------------------------------------------------------------------
# Power-law profile: log2-bucketed events-per-user histogram
# ---------------------------------------------------------------------------


@register(
    "user_activity_power_curve",
    oracle="""
    WITH per_user AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY user_id
    )
    SELECT CAST(length(bin(c)) - 1 AS INTEGER) AS log2_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(MIN(c) AS BIGINT) AS min_events,
           CAST(MAX(c) AS BIGINT) AS max_events,
           CAST(SUM(c) AS BIGINT) AS total_events
    FROM per_user GROUP BY 1
    """,
    doc="Power-law activity profile: users histogrammed into log2 "
    "buckets of their event count (bucket = floor(log2 c), computed as "
    "binary-string length minus one — pure integer arithmetic, immune "
    "to the float log2 boundary jitter at exact powers of two). The "
    "skew-diagnosis companion to the salting operators: the max bucket "
    "IS the hot-key report. Two hash aggregates, nothing else.",
)
def user_activity_power_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    return per_user.groupBy(
        (F.length(F.bin("c")) - 1).cast("int").alias("log2_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.min("c").alias("min_events"),
        F.max("c").alias("max_events"),
        F.sum("c").alias("total_events"),
    )


# ---------------------------------------------------------------------------
# ANN index balance: IVF cell occupancy
# ---------------------------------------------------------------------------


@register(
    "ivf_cell_occupancy",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cent AS (SELECT vec_id AS cell, v AS c FROM e ORDER BY vec_id LIMIT 16),
    asg_scored AS (
      SELECT e.vec_id AS id, cent.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
               list_dot_product(e.v, cent.c)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.c, cent.c))) DESC,
               cent.cell) AS rn
      FROM e CROSS JOIN cent
    ),
    asg AS (SELECT id, cell FROM asg_scored WHERE rn = 1),
    counts AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vectors FROM asg GROUP BY cell),
    tot AS (SELECT CAST(SUM(n_vectors) AS BIGINT) AS n FROM counts)
    SELECT c.cell, c.n_vectors,
           CAST((c.n_vectors * 16000) // t.n AS BIGINT) AS load_x1000
    FROM counts c CROSS JOIN tot t
    """,
    doc="ANN-index balance report: per-IVF-cell vector counts plus an "
    "integer load factor (1000 = perfectly balanced across the 16 "
    "cells; floor division keeps it cross-engine exact). A skewed cell "
    "is the ANN equivalent of a hot LSH bucket — probe latency at "
    "100 TB is governed by the LARGEST probed cell, so this is the "
    "pre-flight check before shipping an index, exactly parallel to "
    "lsh_band_occupancy for the dedup join. Reuses ivf_assign's "
    "deterministic seed-centroid assignment (bounded n x 16 broadcast "
    "cross — linear, flagged like the IVF search queries).",
    allow_quadratic=True,
)
def ivf_cell_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    assigned, _ = similarity.ivf_assign(emb, n_cells=16)
    counts = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vectors"))
    tot = counts.agg(F.sum("n_vectors").alias("n"))
    stamped = _stamp_global(counts, "cell", tot, "n")
    return stamped.select(
        "cell",
        "n_vectors",
        F.expr("(n_vectors * 16000) div n").alias("load_x1000"),
    )


# ---------------------------------------------------------------------------
# Incremental novelty: new batch scored against the stored gram index
# ---------------------------------------------------------------------------

_NOVELTY_SPLIT = 40  # docs below are "already ingested", at/above are the new batch


@register(
    "doc_incremental_novelty",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS tk FROM documents),
    {_GRAMS5_CTE},
    firstg AS (SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g)
    SELECT gr.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS novel_grams,
           CAST(SUM(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS BIGINT) AS novelty
    FROM grams gr JOIN firstg f ON f.g = gr.g
    WHERE gr.doc_id >= {_NOVELTY_SPLIT}
    GROUP BY gr.doc_id
    """,
    doc="Batch-over-batch novelty: the NEW batch (doc_id >= 40; in "
    "production, today's drop) is scored against the persisted "
    "first-occurrence gram index built from prior ingests — only the "
    "new batch is tokenized, the index is probed with one left equi "
    "join, and grams the index lacks resolve first-occurrence WITHIN "
    "the batch. The oracle is the FULL-corpus novelty filtered to the "
    "new docs: equivalence holds because prior doc_ids sort below the "
    "batch (ingestion order), which is the rebuild-equals-incremental "
    "proof in the same differential style as incremental LSH. History "
    "cost: zero re-tokenization, index grows by exactly the novel "
    "grams.",
)
def doc_incremental_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # pin the DISTINCT gram table once: both the prior-index build and
    # the new-batch side consume it, and the subtree contains the gram
    # distinct shuffle — the pin-pays case (unlike the cheap exploded
    # streams; see SCALE.md pin-vs-recompute). Replaces the downstream
    # new_grams pin, which only covered one of the two consumers.
    grams = text.word_ngrams_exploded(d, "doc_id", "text", 5).localCheckpoint()
    # the stored index a production pipeline would read from the warehouse
    prior_index = (
        grams.filter(F.col("doc_id") < _NOVELTY_SPLIT)
        .groupBy("g")
        .agg(F.min("doc_id").alias("prior_first"))
    )
    new_grams = grams.filter(F.col("doc_id") >= _NOVELTY_SPLIT)
    first_new = new_grams.groupBy("g").agg(F.min("doc_id").alias("first_new"))
    flagged = (
        new_grams.join(first_new, "g")
        .join(prior_index, "g", "left")
        .withColumn(
            "is_novel",
            F.col("prior_first").isNull() & (F.col("first_new") == F.col("doc_id")),
        )
    )
    novel = F.sum(F.when(F.col("is_novel"), 1).otherwise(0))
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        novel.cast("bigint").alias("novel_grams"),
        (novel.cast("double") / F.count(F.lit(1))).alias("novelty"),
    )


# ---------------------------------------------------------------------------
# Label-vs-prediction confusion matrix: declared lang x detected lang
# ---------------------------------------------------------------------------


@register(
    "lang_confusion_matrix",
    oracle=f"""
    WITH pred AS ({_langid_oracle()})
    SELECT d.lang AS declared, p.lang_pred AS predicted,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) AS DOUBLE)
             / CAST(SUM(COUNT(*)) OVER (PARTITION BY d.lang) AS DOUBLE) AS row_frac
    FROM documents d JOIN pred p ON p.doc_id = d.doc_id
    GROUP BY d.lang, p.lang_pred
    """,
    doc="Classifier-evaluation confusion matrix: the corpus's DECLARED "
    "language label (metadata, often wrong in a real crawl) against "
    "the marker-based lang-id prediction, with per-declared-row "
    "fractions — the recall diagonal and its leakage in one table. "
    "The shape generalizes to any label-vs-model audit. One join on "
    "doc_id, one hash aggregate to a handful of cells, one "
    "declared-partitioned window for row normalization; the fraction "
    "is a single exact-integer division.",
)
def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    pred = text.with_lang_id(d).select("doc_id", "lang_pred")
    cells = (
        d.select("doc_id", F.col("lang").alias("declared"))
        .join(pred, "doc_id")
        .groupBy("declared", F.col("lang_pred").alias("predicted"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("declared")
    return cells.select(
        "declared",
        "predicted",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(w).cast("double")).alias("row_frac"),
    )


# ---------------------------------------------------------------------------
# Sequence statistics: lag-1 autocorrelation of daily activity
# ---------------------------------------------------------------------------


@register(
    "event_daily_autocorr",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), pairs AS (
      SELECT event_type, c AS y,
             LAG(c) OVER (PARTITION BY event_type ORDER BY day) AS x
      FROM daily
    ), s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM pairs WHERE x IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n AS n_pairs,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
             AS r_lag1
    FROM s
    """,
    doc="Lag-1 autocorrelation of the daily event count per type — the "
    "burstiness / trend-persistence signal behind capacity planning "
    "and anomaly thresholds. Consecutive OBSERVED days pair via LAG "
    "(a silent day contributes no pair; document-by-construction), "
    "then the Pearson r comes from exact integer power sums with one "
    "identical double formula both engines — the moment_stats recipe "
    "applied to a self-lagged series. Daily counts ~1e9 still leave "
    "int64 headroom for the squares at 100 TB (1e18 < 9.2e18); the "
    "sums would move to DECIMAL(38,0) beyond that. One exchange on "
    "event_type shared by the window and the aggregate.",
)
def event_daily_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    pairs = daily.select(
        "event_type", F.col("c").alias("y"), F.lag("c").over(w).alias("x")
    ).filter(F.col("x").isNotNull())
    s = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return s.select(
        "event_type",
        n.alias("n_pairs"),
        (
            (n * sxy - sx * sy).cast("double")
            / (F.sqrt((n * sxx - sx * sx).cast("double")) * F.sqrt((n * syy - sy * sy).cast("double")))
        ).alias("r_lag1"),
    )


# ---------------------------------------------------------------------------
# Corpus-prep funnel: survivor counts per pipeline stage
# ---------------------------------------------------------------------------


@register(
    "corpus_prep_funnel",
    bench=True,
    oracle=f"""
    WITH quality AS ({_quality_sql()}),
    langs AS ({_langid_oracle()}),
    qpass AS (SELECT q.doc_id FROM quality q WHERE q.quality_score >= 0.6),
    qlang AS (
      SELECT q.doc_id FROM quality q JOIN langs l ON l.doc_id = q.doc_id
      WHERE q.quality_score >= 0.6 AND l.lang_pred = 'en'
    ),
    ex AS (
      SELECT d.doc_id, md5({_NORM}) AS k FROM documents d
      JOIN qlang s ON s.doc_id = d.doc_id
    ),
    uniq AS (
      SELECT e.doc_id FROM ex e
      JOIN (SELECT k, MIN(doc_id) AS m FROM ex GROUP BY k) x
        ON x.k = e.k AND x.m = e.doc_id
    ),
    stages AS (
      SELECT 'input' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
      UNION ALL SELECT 'quality_pass', CAST(COUNT(*) AS BIGINT) FROM qpass
      UNION ALL SELECT 'quality_and_lang', CAST(COUNT(*) AS BIGINT) FROM qlang
      UNION ALL SELECT 'exact_unique', CAST(COUNT(*) AS BIGINT) FROM uniq
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_input FROM documents)
    SELECT s.stage, s.n_docs,
           CAST(s.n_docs AS DOUBLE) / CAST(t.n_input AS BIGINT) AS frac_of_input
    FROM stages s CROSS JOIN tot t
    """,
    doc="Stage-by-stage survivor funnel through the corpus-prep filters "
    "(input -> quality >= 0.6 -> +english -> exact-dedup unique) — the "
    "yield report every data-curation run ships with. ONE multi-"
    "aggregate pass over the scored rows computes all four stages "
    "(conditional counts; the exact-dedup stage is count_distinct of "
    "the dedup key among filtered rows — identical to counting min-id "
    "representatives), exploded into 4 rows; fractions are single "
    "exact-integer divisions. The single-pass form (r14) replaced a "
    "pinned scored projection re-read by 4 union branches plus a "
    "groupBy-min + join-back (itself the round-5 fix for the unpinned "
    "funnel re-running the 40-regexp scorer per stage — 6 scans, "
    "3.57 s at sf0.1, SCALE.md).",
)
def corpus_prep_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # ONE aggregate pass computes the whole funnel (r14): the four stage
    # counts are conditional counts over the same scored rows, and the
    # exact-dedup stage count equals count_distinct of the dedup key
    # among the filtered rows (the min-id representative per key group
    # is one row per distinct key — no groupBy + join-back needed; the
    # oracle's JOIN-on-min form counts the same groups). The old shape
    # pinned the scored projection (localCheckpoint) and re-read it in
    # four union branches plus a groupBy-min + equi join; this one
    # neither pins nor re-reads — scan → scorer → single multi-aggregate
    # → 4 exploded rows. CPU-neutral at sf0.1 (~3.8 executor-CPU s both,
    # scorer-dominated), wall −0.5 s, and at scale it removes a pinned
    # full-corpus intermediate, three re-reads and one join.
    scored = text.with_quality_lang(d).select(
        F.md5(text.normalize_ws("text")).alias("k"), "quality_score", "lang_pred"
    )
    q = F.col("quality_score") >= 0.6
    ql = q & (F.col("lang_pred") == "en")
    one = scored.agg(
        F.count(F.lit(1)).alias("n_input"),
        F.count(F.when(q, 1)).alias("n_qpass"),
        F.count(F.when(ql, 1)).alias("n_qlang"),
        F.count_distinct(F.when(ql, F.col("k"))).alias("n_uniq"),
    )
    rows = one.select(
        "n_input",
        F.explode(
            F.array(
                F.struct(F.lit("input").alias("stage"), F.col("n_input").alias("n_docs")),
                F.struct(F.lit("quality_pass").alias("stage"), F.col("n_qpass").alias("n_docs")),
                F.struct(F.lit("quality_and_lang").alias("stage"), F.col("n_qlang").alias("n_docs")),
                F.struct(F.lit("exact_unique").alias("stage"), F.col("n_uniq").alias("n_docs")),
            )
        ).alias("s"),
    )
    return rows.select(
        F.col("s.stage").alias("stage"),
        F.col("s.n_docs").alias("n_docs"),
        (F.col("s.n_docs").cast("double") / F.col("n_input")).alias("frac_of_input"),
    )


# ---------------------------------------------------------------------------
# Seasonality index: month revenue vs its year's mean month
# ---------------------------------------------------------------------------


@register(
    "revenue_seasonality_index",
    oracle="""
    WITH monthly AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS year,
             CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS month,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1, 2
    )
    SELECT year, month, n_orders,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(rev * CAST(COUNT(*) OVER (PARTITION BY year) AS DECIMAL(4,0)) AS DOUBLE)
             / CAST(SUM(rev) OVER (PARTITION BY year) AS DOUBLE) AS seasonality_index
    FROM monthly
    """,
    doc="Seasonality index: each month's revenue relative to its year's "
    "mean month (1.0 = average; computed as rev * months_in_year / "
    "year_total so the only double op is one final division — the "
    "months multiplier stays decimal-exact, the year total is an exact "
    "decimal window sum). The pattern behind any 'vs the period "
    "average' KPI without a second scan or a global window: the year "
    "partition shards both window functions. One hash aggregate + one "
    "exchange on year.",
)
def revenue_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.year("o_orderdate").cast("int").alias("year"),
        F.month("o_orderdate").cast("int").alias("month"),
    ).agg(F.sum(dec("o_totalprice")).alias("rev"), F.count(F.lit(1)).alias("n_orders"))
    w = Window.partitionBy("year")
    return monthly.select(
        "year",
        "month",
        "n_orders",
        F.col("rev").cast("double").alias("revenue"),
        (
            (F.col("rev") * F.count(F.lit(1)).over(w).cast("decimal(4,0)")).cast("double")
            / F.sum("rev").over(w).cast("double")
        ).alias("seasonality_index"),
    )


# ---------------------------------------------------------------------------
# Fulfillment lead time: discrete percentiles per supplier nation
# ---------------------------------------------------------------------------


@register(
    "lead_time_percentiles",
    oracle="""
    WITH lt AS (
      SELECT s.s_nationkey, date_diff('day', o.o_orderdate, l.l_shipdate) AS lead_days,
             l.l_orderkey, l.l_linenumber
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
    ), r AS (
      SELECT s_nationkey, lead_days,
             ROW_NUMBER() OVER (PARTITION BY s_nationkey
                                ORDER BY lead_days, l_orderkey, l_linenumber) AS rn,
             COUNT(*) OVER (PARTITION BY s_nationkey) AS n
      FROM lt
    )
    SELECT n.n_name AS nation,
           CAST(MAX(r.n) AS BIGINT) AS n_shipments,
           CAST(MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN lead_days END) AS BIGINT) AS p50_days,
           CAST(MAX(CASE WHEN rn = (n * 90 + 99) // 100 THEN lead_days END) AS BIGINT) AS p90_days,
           CAST(MAX(CASE WHEN rn = (n * 99 + 99) // 100 THEN lead_days END) AS BIGINT) AS p99_days,
           CAST(MAX(lead_days) AS BIGINT) AS max_days
    FROM r JOIN nation n ON n.n_nationkey = r.s_nationkey
    GROUP BY n.n_name
    """,
    doc="Order-to-ship lead time SLO report per supplier nation: "
    "p50/p90/p99 as DISCRETE order statistics (the value AT rank "
    "ceil(p*n), selected by one ranking window + conditional max — "
    "never interpolated, so integer-exact cross-engine; ties in "
    "lead_days break on the (orderkey, linenumber) total order). "
    "Integer day arithmetic end to end. One exchange on nationkey "
    "shared by both windows and the final aggregate; nation broadcast.",
)
def lead_time_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    lt = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .select(
            "s_nationkey",
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("lead_days"),
            "l_orderkey",
            "l_linenumber",
        )
    )
    wr = Window.partitionBy("s_nationkey").orderBy("lead_days", "l_orderkey", "l_linenumber")
    wn = Window.partitionBy("s_nationkey")
    r = lt.withColumn("rn", F.row_number().over(wr)).withColumn("n", F.count(F.lit(1)).over(wn))

    def at_pct(p: int):
        rank = F.expr(f"(n * {p} + 99) div 100")
        return F.max(F.when(F.col("rn") == rank, F.col("lead_days"))).cast("bigint")

    return (
        r.join(F.broadcast(n), r["s_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.max("n").cast("bigint").alias("n_shipments"),
            at_pct(50).alias("p50_days"),
            at_pct(90).alias("p90_days"),
            at_pct(99).alias("p99_days"),
            F.max("lead_days").cast("bigint").alias("max_days"),
        )
    )


# ---------------------------------------------------------------------------
# Pareto concentration: cumulative revenue share without a global window
# ---------------------------------------------------------------------------


@register(
    "customer_revenue_cumshare",
    oracle="""
    WITH pc AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY o_custkey
    ), c AS (
      SELECT o_custkey, rev,
             SUM(rev) OVER (ORDER BY rev DESC, o_custkey
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(rev) OVER () AS tot
      FROM pc
    )
    SELECT o_custkey,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(cum AS DOUBLE) AS cum_revenue,
           CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) AS cum_share,
           CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.8 AS in_top80
    FROM c
    """,
    doc="Pareto 80/20 concentration: customers in descending revenue "
    "order with their exact CUMULATIVE revenue share — the 'how few "
    "customers make 80% of revenue' report. The oracle writes the "
    "textbook unpartitioned running sum; the engine side uses "
    "ranking.with_global_prefix_sum — quantile-bucketed two-pass "
    "prefix sums (bucket-local windows + broadcast decimal offsets), "
    "because a global window is a one-task funnel at 100 TB and the "
    "plan gate rightly rejects it. Decimal arithmetic keeps every "
    "cumulative value exact (scaled totals stay under 2^53 through "
    "sf~100, so the final double casts agree bit-for-bit); the share "
    "is one division and the 0.8 flag compares identical doubles. "
    "Ordering is (rev DESC, custkey) via a negated-decimal sort key.",
)
def customer_revenue_cumshare(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_data_pipeline_exercise_spark.operators.ranking import with_global_prefix_sum

    o = load(spark, sf_dir, "orders")
    pc = o.groupBy("o_custkey").agg(F.sum(dec("o_totalprice")).alias("rev"))
    # ascending (-rev, custkey) == descending (rev) with custkey tiebreak
    keyed = pc.withColumn("__negrev", (F.lit(0).cast("decimal(18,2)") - F.col("rev")))
    cum = with_global_prefix_sum(keyed, ["__negrev", "o_custkey"], "rev", out_col="cum")
    tot = pc.agg(F.sum("rev").alias("tot"))
    stamped = _stamp_global(cum, "o_custkey", tot, "tot")
    share = F.col("cum").cast("double") / F.col("tot").cast("double")
    return stamped.select(
        "o_custkey",
        F.col("rev").cast("double").alias("revenue"),
        F.col("cum").cast("double").alias("cum_revenue"),
        share.alias("cum_share"),
        (share <= 0.8).alias("in_top80"),
    )


# ---------------------------------------------------------------------------
# Fixed-coefficient FIR smoothing (deterministic EWMA truncation)
# ---------------------------------------------------------------------------

# 8-tap exponential kernel, alpha = 1/2, coefficients as EXACT dyadic
# literals (1/2, 1/4, ... 1/128, 1/128-tail) summing to exactly 1.0 —
# every product and the fixed-order addition chain are identical IEEE
# ops in both engines.
_FIR_COEFFS = [0.5, 0.25, 0.125, 0.0625, 0.03125, 0.015625, 0.0078125, 0.0078125]


@register(
    "daily_value_fir_smooth",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ), lagged AS (
      SELECT event_type, day, v,
             {", ".join(f"LAG(v, {i}) OVER (PARTITION BY event_type ORDER BY day) AS x{i}" for i in range(1, 8))},
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
      FROM daily
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           CAST(v AS DOUBLE) AS raw_value,
           {" + ".join(f"{c} * x{i}" if i else f"{c} * v" for i, c in enumerate(_FIR_COEFFS))} AS smoothed
    FROM lagged WHERE rn >= 8
    """,
    doc="Deterministic trend smoothing: an 8-tap truncated-exponential "
    "FIR filter over the daily value series per event type, written as "
    "an explicit LAG-chain linear combination with dyadic literal "
    "coefficients summing to exactly 1 — unlike a recursive EWMA, "
    "whose rounding accumulates run-length-dependently, and unlike a "
    "plain frame AVG, which cannot express per-offset weights, the "
    "tap-by-tap a0*x0 + a1*x1 + ... chain "
    "is a fixed IEEE evaluation order both engines share bit-for-bit. "
    "Warm-up rows (rn < 8) are excluded so every output has all taps. "
    "One exchange on event_type; the 7 LAGs share one window sort.",
)
def daily_value_fir_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    daily = (
        e.filter(F.col("value").isNotNull())
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(dec("value")).cast("double").alias("v"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "day",
        "v",
        *[F.lag("v", i).over(w).alias(f"x{i}") for i in range(1, 8)],
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") >= 8)
    smooth = F.lit(_FIR_COEFFS[0]) * F.col("v")
    for i, c in enumerate(_FIR_COEFFS[1:], start=1):
        smooth = smooth + F.lit(c) * F.col(f"x{i}")
    return lagged.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("v").alias("raw_value"),
        smooth.alias("smoothed"),
    )


# ---------------------------------------------------------------------------
# Near-dup graph degree distribution (log2 buckets)
# ---------------------------------------------------------------------------


@register(
    "dup_graph_degree_histogram",
    oracle="WITH "
    + _TOKS_CTE
    + ", "
    + _SHINGLES_CTE
    + ", "
    + _MH_WORDS_SQL
    + ", "
    + _MH_SIG_SQL
    + ", "
    + _CAND_CTE
    + """,
    deg AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT id1 AS v FROM cand UNION ALL SELECT id2 FROM cand
      ) GROUP BY v
    )
    SELECT CAST(length(bin(degree)) - 1 AS INTEGER) AS log2_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(degree) AS BIGINT) AS min_degree,
           CAST(MAX(degree) AS BIGINT) AS max_degree
    FROM deg GROUP BY 1
    """,
    doc="Degree distribution of the LSH near-dup candidate graph in "
    "integer log2 buckets — the graph-shape companion to "
    "lsh_band_occupancy: a heavy-tailed degree histogram means a few "
    "template documents pair with everything (the connected-components "
    "pass then sees giant clusters), while occupancy alone can look "
    "benign. Bucket = binary-string length minus one, immune to float "
    "log jitter; candidate edges come from the shared banded equi "
    "self-join fragment, degrees from one explode + two aggregates.",
)
def dup_graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    keys = dedup.lsh_band_keys(
        dedup.minhash_signatures_docs(d, "doc_id", k=32), 8, 4
    )
    cand = dedup.lsh_candidate_pairs(keys)
    # one pass over cand: explode each edge to both endpoints instead of
    # unioning two selects (two non-identical subtrees above the pinned
    # band keys would run the self-join + distinct twice)
    deg = (
        cand.select(F.explode(F.array("id1", "id2")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.groupBy(
        (F.length(F.bin("degree")) - 1).cast("int").alias("log2_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("degree").alias("min_degree"),
        F.max("degree").alias("max_degree"),
    )


# ---------------------------------------------------------------------------
# Spark 4 VARIANT: parse-once semi-structured extraction
# ---------------------------------------------------------------------------


@register(
    "event_props_variant",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS k_sum,
           CAST(MIN(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS k_min,
           CAST(MAX(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS k_max,
           CAST(COUNT(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS k_nonnull
    FROM events GROUP BY event_type
    """,
    doc="Semi-structured extraction through Spark 4's VARIANT type: "
    "parse_json decodes each props payload ONCE into the binary "
    "variant encoding, then variant_get reads typed paths from it — "
    "versus the get_json_object family (event_props_json, the "
    "string-path twin) which re-parses the raw JSON text for every "
    "extracted field. With one field the two tie; at N extracted "
    "fields variant amortizes the parse N-fold, and a variant column "
    "persisted to parquet keeps the binary encoding so downstream "
    "readers never re-parse at all — the semi-structured answer to "
    "'schema evolves faster than the pipeline'. Values are integers "
    "end to end, so the DuckDB json_extract oracle matches exactly.",
)
def event_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    v = e.select("event_type", F.parse_json("props").alias("__v"))
    k = F.variant_get("__v", "$.k", "int").cast("bigint")
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).alias("k_sum"),
        F.min(k).alias("k_min"),
        F.max(k).alias("k_max"),
        F.count(k).alias("k_nonnull"),
    )
