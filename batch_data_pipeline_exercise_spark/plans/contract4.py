"""Fourth breadth batch of driver-contract queries — robust statistics
(winsorized means, trailing anomaly flags, group imputation), interval
coalescing, forward as-of joins, weighted / budgeted corpus sampling,
text normalization, histogramming, and percent-of-total contribution.

Same cross-engine determinism rules as ``contract.py``: decimals for
money, discrete (selected-not-computed) percentiles, integer arithmetic
for every decision boundary, formatted-timestamp outputs, alias
everything.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from batch_data_pipeline_exercise_spark.operators.asof import as_of_join
from batch_data_pipeline_exercise_spark.operators.intervals import coalesce_intervals
from batch_data_pipeline_exercise_spark.operators.robust import (
    impute_by_group,
    trailing_count_anomalies,
    winsorize,
)
from batch_data_pipeline_exercise_spark.operators.sampling import (
    token_budget_sample,
    weighted_priority_sample,
)
from batch_data_pipeline_exercise_spark.operators.text import (
    norm_chars_sql,
    norm_ws_sql,
    normalize_chars,
    normalize_ws,
)
from batch_data_pipeline_exercise_spark.plans.contract import dec, fmt_ts, load, register

# ---------------------------------------------------------------------------
# Robust statistics (cleaning passes)
# ---------------------------------------------------------------------------


@register(
    "trimmed_order_stats",
    oracle="""
    WITH b AS (
      SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2)) AS p,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                ORDER BY CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
      FROM orders
    ), r AS (
      SELECT *, (n*5+99)//100 AS lo_rank, (n*95+99)//100 AS hi_rank FROM b
    ), q AS (
      SELECT *,
             MAX(CASE WHEN rn = lo_rank THEN p END) OVER (PARTITION BY o_orderstatus) AS p_lo,
             MAX(CASE WHEN rn = hi_rank THEN p END) OVER (PARTITION BY o_orderstatus) AS p_hi
      FROM r
    )
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           CAST(MAX(p_lo) AS DOUBLE) AS p05,
           CAST(MAX(p_hi) AS DOUBLE) AS p95,
           CAST(SUM(CASE WHEN p < p_lo THEN p_lo WHEN p > p_hi THEN p_hi ELSE p END) AS DOUBLE)
             / COUNT(*) AS winsorized_mean,
           CAST(SUM(p) AS DOUBLE) / COUNT(*) AS raw_mean
    FROM q GROUP BY o_orderstatus
    """,
    doc="Winsorized mean per order status: per-group discrete p05/p95 "
    "(the value AT rank ceil(p*n) — selected, never interpolated, so "
    "cross-engine exact) clamp the fat tails before averaging. One "
    "shuffle on status; ranking window + two unordered windows share "
    "the partitioning; decimal sums make the means bit-stable.",
)
def trimmed_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", dec("o_totalprice").alias("p")
    )
    wz = winsorize(o, "p", ["o_orderstatus"], "o_orderkey", 5, 95, out_col="wp")
    return wz.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.max("__p_lo").cast("double").alias("p05"),
        F.max("__p_hi").cast("double").alias("p95"),
        (F.sum("wp").cast("double") / F.count(F.lit(1))).alias("winsorized_mean"),
        (F.sum("p").cast("double") / F.count(F.lit(1))).alias("raw_mean"),
    )


@register(
    "daily_event_anomaly_flags",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    ), t AS (
      SELECT *, COUNT(cnt) OVER w AS k, SUM(cnt) OVER w AS m, SUM(cnt*cnt) OVER w AS s2
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type,
           strftime(DATE '1970-01-01' + CAST(d AS INTEGER), '%Y-%m-%d') AS day,
           cnt, k AS trailing_n, CAST(m AS BIGINT) AS trailing_sum,
           COALESCE(k >= 3 AND (k*cnt - m)*(k*cnt - m) > 9*(k*s2 - m*m), FALSE) AS is_anomaly
    FROM t
    """,
    doc="Daily ingestion-volume canary: flag a day whose event count "
    "deviates >3 trailing sigmas from the prior 7 days (current day "
    "excluded from its own baseline). The test is the pure-integer "
    "inequality (k*x-m)^2 > 9*(k*s2-m^2) — no float ever enters the "
    "decision, so the flag is bit-stable in any engine. Input to the "
    "window is already the tiny daily aggregate.",
)
def daily_event_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.unix_date(F.col("ts").cast("date")).cast("bigint").alias("d")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    out = trailing_count_anomalies(daily, ["event_type"], "d", "cnt", window=7, z=3, min_points=3)
    return out.select(
        "event_type",
        F.date_format(F.date_from_unix_date(F.col("d").cast("int")), "yyyy-MM-dd").alias("day"),
        "cnt",
        "trailing_n",
        "trailing_sum",
        "is_anomaly",
    )


@register(
    "imputed_event_values",
    oracle="""
    WITH s AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type <> 'error'
                           THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
             / COUNT(CASE WHEN event_type <> 'error' THEN value END) AS grp_mean
      FROM events GROUP BY user_id
    )
    SELECT e.event_id, e.user_id, e.event_type,
           CASE WHEN e.event_type = 'error' THEN s.grp_mean
                ELSE CAST(e.value AS DOUBLE) END AS value_clean,
           e.event_type = 'error' AS was_imputed
    FROM events e LEFT JOIN s USING (user_id)
    """,
    doc="Mean-imputation cleaning pass: 'error' events carry garbage "
    "values by convention, so replace them with the user's mean over "
    "clean events (decimal-exact sum, one double division). Plan: one "
    "conditional aggregate on user_id joined back on the same key — "
    "stats side NOT force-broadcast (user domain scales with the fact "
    "table; AQE promotes small sides at runtime).",
)
def imputed_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    out = impute_by_group(
        e,
        "value",
        ["user_id"],
        missing=F.col("event_type") == "error",
        out_col="value_clean",
        flag_col="was_imputed",
    )
    return out.select("event_id", "user_id", "event_type", "value_clean", "was_imputed")


# ---------------------------------------------------------------------------
# Interval coalescing + forward as-of
# ---------------------------------------------------------------------------


@register(
    "user_activity_spans",
    oracle="""
    WITH iv AS (
      SELECT user_id, event_id, ts AS s, ts + INTERVAL 30 MINUTE AS e FROM events
    ), f AS (
      SELECT *, MAX(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
      FROM iv
    ), g AS (
      SELECT *, CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS brk FROM f
    ), h AS (
      SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM g
    )
    SELECT user_id,
           strftime(MIN(s), '%Y-%m-%d %H:%M:%S.%f') AS span_start,
           strftime(MAX(e), '%Y-%m-%d %H:%M:%S.%f') AS span_end,
           COUNT(*) AS n_events
    FROM h GROUP BY user_id, island
    """,
    doc="Interval coalescing (gaps-and-islands): pad every event to a "
    "30-minute activity interval, merge each user's overlapping spans "
    "into maximal ones via the running-max-end break flag — ONE hash "
    "shuffle + one sort, never the quadratic overlap self-join. The "
    "operator under session repair, SCD2 interval healing, and "
    "availability rollups.",
)
def user_activity_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    iv = e.select(
        "user_id",
        "event_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTE")).alias("e"),
    )
    spans = coalesce_intervals(iv, ["user_id"], "s", "e", "event_id")
    return spans.select(
        "user_id",
        fmt_ts("span_start").alias("span_start"),
        fmt_ts("span_end").alias("span_end"),
        F.col("n_intervals").alias("n_events"),
    )


@register(
    "next_click_after_purchase",
    oracle="""
    WITH p AS (
      SELECT event_id AS purchase_event_id, user_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT event_id AS click_event_id, user_id, ts AS c_ts
      FROM events WHERE event_type = 'click'
    ), j AS (
      SELECT p.user_id, p.purchase_event_id, p.p_ts, c.click_event_id, c.c_ts,
             ROW_NUMBER() OVER (PARTITION BY p.purchase_event_id
                                ORDER BY c.c_ts, c.click_event_id) AS rn
      FROM p LEFT JOIN c
        ON c.user_id = p.user_id AND c.c_ts >= p.p_ts
       AND c.c_ts <= p.p_ts + INTERVAL 2 HOUR
    )
    SELECT user_id, purchase_event_id,
           strftime(p_ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
           click_event_id,
           strftime(c_ts, '%Y-%m-%d %H:%M:%S.%f') AS next_click_ts
    FROM j WHERE rn = 1
    """,
    doc="FORWARD as-of join with tolerance: for each purchase, the "
    "earliest same-user click at-or-after it, NULL if none lands "
    "within 2 hours (post-conversion behavior tracking). Same "
    "union+window plan as backward as-of scanned in reverse — one "
    "shuffle on user_id, one sort, no per-key cross product; the "
    "oracle's LEFT JOIN + rn=1 is the quadratic spec it replaces.",
)
def next_click_after_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    left = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_event_id"), F.col("ts").alias("p_ts")
    )
    right = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_event_id"), F.col("ts").alias("c_ts")
    )
    out = as_of_join(
        left,
        right,
        on="user_id",
        left_ts="p_ts",
        right_ts="c_ts",
        tie_break="click_event_id",
        direction="forward",
        tolerance="2 hours",
    )
    return out.select(
        "user_id",
        "purchase_event_id",
        fmt_ts("p_ts").alias("purchase_ts"),
        "click_event_id",
        fmt_ts("c_ts").alias("next_click_ts"),
    )


# ---------------------------------------------------------------------------
# Corpus sampling: weighted quotas + token budgets
# ---------------------------------------------------------------------------


@register(
    "corpus_weighted_sample",
    oracle="""
    WITH b AS (
      SELECT doc_id, lang, n_chars,
             CAST(('0x' || substr(md5('wpps§' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
      FROM documents
    ), x AS (
      SELECT doc_id, lang, n_chars,
             CAST(2*h + 1 AS DOUBLE) / (n_chars * 17179869184) AS xi
      FROM b
    ), r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY xi, doc_id) AS rn FROM x
    )
    SELECT doc_id, lang, n_chars, xi FROM r WHERE rn <= 40
    """,
    doc="Sequential Poisson (pps) sampling: 40 docs per language with "
    "inclusion probability proportional to length — Ohlsson's "
    "order-sampling design (rank by xi = u/weight, keep the smallest). "
    "xi is ONE IEEE division of two exact bigints (33-bit odd hash "
    "numerator over weight<<34), bit-identical cross-engine. One "
    "partitioned ranking window; no global sort.",
)
def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    out = weighted_priority_sample(
        d, ["lang"], "doc_id", "n_chars", k=40, seed="wpps", priority_col="xi"
    )
    return out.select("doc_id", "lang", "n_chars", "xi")


@register(
    "corpus_token_budget_sample",
    oracle="""
    WITH b AS (
      SELECT doc_id, source, n_chars,
             CAST(('0x' || substr(md5('budget§' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             / 4294967296.0 AS u
      FROM documents
    ), r AS (
      SELECT doc_id, source, n_chars,
             CAST(SUM(n_chars) OVER (PARTITION BY source ORDER BY u, doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_chars
      FROM b
    )
    SELECT doc_id, source, n_chars, cum_chars FROM r WHERE cum_chars - n_chars < 3000
    """,
    doc="Per-source token-budget mixture: walk each source's docs in "
    "deterministic hash order (an unbiased reproducible shuffle) and "
    "keep rows while the cumulative size stays under 3000 chars — the "
    "'at most B tokens per source' primitive, dual of temperature "
    "sampling. Selection is an exact integer cumsum comparison; one "
    "partitioned window.",
)
def corpus_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    out = token_budget_sample(
        d, ["source"], "n_chars", budget=3000, key_col="doc_id", seed="budget", cum_col="cum_chars"
    )
    return out.select("doc_id", "source", "n_chars", "cum_chars")


# ---------------------------------------------------------------------------
# Sub-document dedup + boilerplate mining + dedup reporting
# ---------------------------------------------------------------------------

_NORM4 = norm_ws_sql("text")
_NORMC = norm_chars_sql("text")


@register(
    "chunk_dedup_exact",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split({_NORM4}, ' ') AS tk FROM documents
                  WHERE COALESCE(length(trim(text)), 0) > 0),
    c AS (
      SELECT doc_id, u.s AS start, tk
      FROM toks, UNNEST(range(0, greatest(len(tk) - 1, 0) + 1, 64)) AS u(s)
    ),
    ch AS (
      SELECT doc_id, CAST(start / 64 AS INTEGER) AS chunk_id,
             md5(array_to_string(list_slice(tk, start + 1, start + 64), ' ')) AS content_key
      FROM c
    )
    SELECT content_key,
           CAST(MIN(doc_id * 1000000 + chunk_id) // 1000000 AS BIGINT) AS rep_doc_id,
           CAST(MIN(doc_id * 1000000 + chunk_id) % 1000000 AS INTEGER) AS rep_chunk_id,
           COUNT(*) AS dup_count
    FROM ch GROUP BY content_key HAVING COUNT(*) >= 2
    """,
    doc="Sub-document exact dedup: 64-token chunks (no overlap — overlap "
    "would manufacture trivial dups), md5 per chunk, repeated chunks "
    "reported with their lexicographic-min (doc, chunk) representative "
    "(encoded as one integer so a single MIN aggregates it — no "
    "distributed argmin). Catches cross-document boilerplate blocks "
    "that whole-document dedup misses. Linear: one chunk explode, one "
    "groupBy on the content hash.",
)
def chunk_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_data_pipeline_exercise_spark.operators.text import chunk_documents

    d = load(spark, sf_dir, "documents")
    ch = chunk_documents(d, "doc_id", chunk_tokens=64, overlap=0).select(
        "doc_id", "chunk_id", F.md5("chunk_text").alias("content_key")
    )
    enc = F.col("doc_id") * 1000000 + F.col("chunk_id")
    return (
        ch.groupBy("content_key")
        .agg(F.min(enc).alias("__rep"), F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") >= 2)
        .select(
            "content_key",
            F.expr("__rep div 1000000").cast("bigint").alias("rep_doc_id"),
            F.pmod("__rep", F.lit(1000000)).cast("int").alias("rep_chunk_id"),
            "dup_count",
        )
    )


@register(
    "corpus_boilerplate_ngrams",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split({_NORM4}, ' ') AS tk FROM documents),
    sh AS (SELECT DISTINCT doc_id, s FROM toks,
           UNNEST(list_transform(range(0, greatest(len(tk)-8, 0)+1),
                  i -> array_to_string(list_slice(tk, i+1, i+8), ' '))) AS u(s)
           WHERE length(s) > 0)
    SELECT s AS ngram, COUNT(*) AS doc_freq
    FROM sh GROUP BY s HAVING COUNT(*) >= 3
    """,
    doc="Corpus-level boilerplate mining: word 8-grams appearing in 3+ "
    "distinct documents — the candidate list for boilerplate stripping "
    "(license headers, navigation chrome, repeated disclaimers). "
    "Threshold filter instead of global top-k: no unpartitioned "
    "window, and the scalable-ranking operator exists separately for "
    "when a ranked list is wanted. Explode → per-doc distinct → one "
    "groupBy on the gram.",
)
def corpus_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_data_pipeline_exercise_spark.operators.dedup import word_shingles

    d = load(spark, sf_dir, "documents")
    sh = word_shingles(d, "doc_id", n=8, distinct=True)
    return (
        sh.groupBy(F.col("shingle").alias("ngram"))
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .filter(F.col("doc_freq") >= 3)
    )


@register(
    "dedup_rate_by_source",
    oracle=f"""
    WITH k AS (SELECT doc_id, source, md5({_NORM4}) AS k FROM documents),
    g AS (SELECT k, MIN(doc_id) AS keep FROM k GROUP BY k)
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN doc_id = keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN doc_id = keep THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS keep_rate
    FROM k JOIN g USING (k)
    GROUP BY source
    """,
    doc="Dedup health report: per-source survivor rate under global "
    "exact dedup (lowest-id representative) — the table a data-quality "
    "dashboard watches to spot a source gone rogue with duplicates. "
    "One hash groupBy for the keepers, one key-partitioned join back, "
    "one counting aggregate; keep_rate is a single integer division.",
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    k = d.select("doc_id", "source", F.md5(normalize_ws("text")).alias("k"))
    g = k.groupBy("k").agg(F.min("doc_id").alias("keep"))
    kept = F.sum(F.when(F.col("doc_id") == F.col("keep"), 1).otherwise(0))
    return (
        k.join(g, "k")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            kept.alias("n_kept"),
            (kept.cast("double") / F.count(F.lit(1))).alias("keep_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Text normalization
# ---------------------------------------------------------------------------


@register(
    "doc_normalized_text",
    oracle=f"""
    WITH n AS (
      SELECT doc_id, {_NORMC} AS norm
      FROM documents
    )
    SELECT doc_id, md5(norm) AS fingerprint,
           length(norm) AS norm_chars,
           CASE WHEN norm = '' THEN 0
                ELSE length(norm) - length(replace(norm, ' ', '')) + 1 END AS n_tokens
    FROM n
    """,
    doc="Canonical text normalization (the pass before exact dedup / "
    "fingerprinting): lowercase, collapse every non-alphanumeric run "
    "to one space, trim; emit the md5 fingerprint of the canonical "
    "form plus token/char counts via pure length arithmetic (split() "
    "edge-cases on empty strings differ between engines; subtraction "
    "doesn't). Narrow JVM-side projection — no shuffle at all.",
)
def doc_normalized_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    n = d.select("doc_id", normalize_chars("text").alias("norm"))
    return n.select(
        "doc_id",
        F.md5("norm").alias("fingerprint"),
        F.length("norm").cast("bigint").alias("norm_chars"),
        F.when(F.col("norm") == "", F.lit(0).cast("bigint"))
        .otherwise(
            (F.length("norm") - F.length(F.replace(F.col("norm"), F.lit(" "), F.lit(""))) + 1).cast(
                "bigint"
            )
        )
        .alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# Order statistics: weighted median, modal value
# ---------------------------------------------------------------------------


@register(
    "weighted_median_price_by_flag",
    oracle="""
    WITH b AS (
      SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(18,2)) AS p,
             CAST(l_quantity AS BIGINT) AS w
      FROM lineitem
    ), r AS (
      SELECT *,
             SUM(w) OVER (PARTITION BY l_returnflag ORDER BY p, w
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             SUM(w) OVER (PARTITION BY l_returnflag) AS tw
      FROM b
    )
    SELECT l_returnflag,
           CAST(MIN(CASE WHEN 2*cw >= tw THEN p END) AS DOUBLE) AS weighted_median_price,
           CAST(MAX(tw) AS BIGINT) AS total_weight
    FROM r GROUP BY l_returnflag
    """,
    doc="Weighted (lower) median: the smallest price whose cumulative "
    "quantity weight reaches half the group total — selected, not "
    "interpolated, via the integer test 2*cw >= tw, so cross-engine "
    "exact like every percentile here. One key-partitioned running-sum "
    "window + one aggregate; quantities are integral by construction "
    "so all weights are exact bigints.",
)
def weighted_median_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        dec("l_extendedprice").alias("p"),
        F.col("l_quantity").cast("bigint").alias("w"),
    )
    wrun = (
        Window.partitionBy("l_returnflag")
        .orderBy("p", "w")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("l_returnflag")
    r = li.withColumn("cw", F.sum("w").over(wrun)).withColumn("tw", F.sum("w").over(wall))
    return r.groupBy("l_returnflag").agg(
        F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("p")))
        .cast("double")
        .alias("weighted_median_price"),
        F.max("tw").cast("bigint").alias("total_weight"),
    )


@register(
    "modal_priority_by_status",
    oracle="""
    WITH c AS (
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      FROM orders GROUP BY 1, 2
    ), r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                   ORDER BY n DESC, o_orderpriority) AS rn
      FROM c
    )
    SELECT o_orderstatus, o_orderpriority AS modal_priority, n AS modal_count
    FROM r WHERE rn = 1
    """,
    doc="Per-group mode (most frequent value) with a deterministic "
    "lexicographic tie-break — the categorical summary SQL's MODE() "
    "leaves tie-nondeterministic (useless for a differential oracle). "
    "One counting aggregate, then a ranking window over the TINY "
    "(status x priority) count table, never the fact rows.",
)
def modal_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = o.groupBy("o_orderstatus", "o_orderpriority").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("o_orderstatus").orderBy(F.col("n").desc(), "o_orderpriority")
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("modal_priority"),
            F.col("n").alias("modal_count"),
        )
    )


# ---------------------------------------------------------------------------
# Event-time lateness profiling
# ---------------------------------------------------------------------------


@register(
    "event_lateness_profile",
    oracle="""
    WITH a AS (
      SELECT event_type,
             epoch_us(ts) - MAX(epoch_us(ts)) OVER (PARTITION BY event_type
                                                    ORDER BY event_id
                                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS late_us
      FROM events
    )
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN late_us < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_out_of_order,
           CAST(SUM(CASE WHEN late_us <= -60000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_late_1m,
           CAST(SUM(CASE WHEN late_us <= -600000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_late_10m,
           CAST(SUM(CASE WHEN late_us <= -3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_late_1h,
           CAST(-MIN(late_us) AS BIGINT) AS max_lateness_us
    FROM a GROUP BY event_type
    """,
    doc="Event-time lateness profile: per type, how far behind the "
    "running event-time high-watermark each event arrives (arrival "
    "order = event_id, the ingestion sequence) bucketed at 1m/10m/1h — "
    "the measurement that SIZES a streaming watermark instead of "
    "guessing it: pick the threshold whose drop count you can afford. "
    "One event_type-partitioned running-max window over integer "
    "microseconds, one counting aggregate; all decisions are integer "
    "comparisons.",
)
def event_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    t_us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    a = e.select("event_type", (t_us - F.max(t_us).over(w)).alias("late_us"))
    late = F.col("late_us")

    def n_at(thresh_us: int, name: str):
        return F.sum(F.when(late <= -thresh_us, 1).otherwise(0)).cast("bigint").alias(name)

    return a.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(late < 0, 1).otherwise(0)).cast("bigint").alias("n_out_of_order"),
        n_at(60_000_000, "n_late_1m"),
        n_at(600_000_000, "n_late_10m"),
        n_at(3_600_000_000, "n_late_1h"),
        (-F.min(late)).cast("bigint").alias("max_lateness_us"),
    )


# ---------------------------------------------------------------------------
# Tokenizer training substrate
# ---------------------------------------------------------------------------


@register(
    "corpus_bpe_pair_counts",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split({{norm}}, ' ') AS tk FROM documents),
    w AS (
      SELECT u.t AS word, COUNT(*) AS n
      FROM toks, UNNEST(tk) AS u(t) WHERE length(u.t) > 0 GROUP BY 1
    ), bg AS (
      SELECT substr(word, CAST(i AS INTEGER), 2) AS pair, n
      FROM w, UNNEST(range(1, length(word))) AS r(i)
      WHERE length(word) >= 2
    )
    SELECT pair, CAST(SUM(n) AS BIGINT) AS pair_count
    FROM bg GROUP BY pair HAVING SUM(n) >= 100
    """.replace("{norm}", norm_ws_sql("text")),
    doc="BPE training's inner statistic: corpus-wide adjacent-character "
    "pair counts weighted by word frequency — the argmax of this table "
    "IS the first BPE merge, and re-running it over merged symbols "
    "iterates the algorithm. Counting on the DISTINCT-word table "
    "(thousands of rows) instead of raw text makes each round cheap "
    "regardless of corpus size — the standard word-histogram trick "
    "from the original BPE formulation. Threshold filter, no global "
    "top-k window.",
)
def corpus_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    from batch_data_pipeline_exercise_spark.operators.text import tokenize

    w = (
        d.select(F.explode(tokenize("text")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bg = (
        w.filter(F.length("word") >= 2)
        .select(
            "n",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("word") - 1),
                    lambda i: F.col("word").substr(i, F.lit(2)),
                )
            ).alias("pair"),
        )
    )
    return (
        bg.groupBy("pair")
        .agg(F.sum("n").cast("bigint").alias("pair_count"))
        .filter(F.col("pair_count") >= 100)
    )


# ---------------------------------------------------------------------------
# BI breadth: growth ratios, map-literal dimension decode
# ---------------------------------------------------------------------------


@register(
    "revenue_qoq_growth",
    oracle="""
    WITH q AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) * 4
               + CAST(EXTRACT(quarter FROM o_orderdate) AS INTEGER) - 1 AS qidx,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1
    )
    SELECT cur.qidx // 4 AS yr, cur.qidx % 4 + 1 AS qtr,
           CAST(cur.rev AS DOUBLE) AS revenue,
           CAST(prev.rev AS DOUBLE) AS prev_revenue,
           CAST(cur.rev AS DOUBLE) / CAST(prev.rev AS DOUBLE) - 1.0 AS qoq_growth
    FROM q cur LEFT JOIN q prev ON prev.qidx = cur.qidx - 1
    """,
    doc="Quarter-over-quarter growth: decimal-exact quarterly revenue; "
    "the previous period comes from a LEFT self-equi-join on the "
    "linearized quarter index (yr*4+qtr-1 = qidx, prev at qidx-1) "
    "rather than LAG over an UNPARTITIONED window — the plan gate "
    "forbids global windows with zero exceptions, and the successor "
    "equi-join is the same shape that stays key-partitioned when the "
    "period grain is (tenant, quarter) at scale. Growth is one "
    "division minus one on exact-decimal casts.",
)
def revenue_qoq_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    q = (
        o.groupBy(
            (
                F.year("o_orderdate").cast("int") * 4 + F.quarter("o_orderdate").cast("int") - 1
            ).alias("qidx")
        )
        .agg(F.sum(dec("o_totalprice")).alias("rev"))
        .localCheckpoint()
    )
    cur, prev = q.alias("cur"), q.alias("prev")
    j = cur.join(prev, F.col("prev.qidx") == F.col("cur.qidx") - 1, "left")
    return j.select(
        F.expr("cur.qidx div 4").cast("int").alias("yr"),
        (F.col("cur.qidx") % 4 + 1).cast("int").alias("qtr"),
        F.col("cur.rev").cast("double").alias("revenue"),
        F.col("prev.rev").cast("double").alias("prev_revenue"),
        (F.col("cur.rev").cast("double") / F.col("prev.rev").cast("double") - F.lit(1.0)).alias(
            "qoq_growth"
        ),
    )


@register(
    "orders_priority_decoded",
    oracle="""
    SELECT o_orderkey,
           CASE o_orderpriority
             WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2 WHEN '3-MEDIUM' THEN 3
             WHEN '4-NOT SPECIFIED' THEN 4 WHEN '5-LOW' THEN 5 ELSE 0
           END AS priority_rank,
           o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%' AS is_expedited
    FROM orders
    """,
    doc="Dimension decode WITHOUT a join: a closed enum (5 priorities) "
    "becomes a map literal evaluated inside the scan's codegen stage — "
    "zero shuffle, zero broadcast, the right plan when the 'dimension' "
    "is a static vocabulary. At 100 TB this beats even a broadcast "
    "join: no build side, no hash probe, just a constant-folded "
    "lookup per row.",
)
def orders_priority_decoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    ranks = {"1-URGENT": 1, "2-HIGH": 2, "3-MEDIUM": 3, "4-NOT SPECIFIED": 4, "5-LOW": 5}
    m = F.create_map(*[F.lit(x) for kv in ranks.items() for x in kv])
    return o.select(
        "o_orderkey",
        F.coalesce(F.element_at(m, F.col("o_orderpriority")), F.lit(0)).cast("int").alias(
            "priority_rank"
        ),
        (
            F.col("o_orderpriority").like("1-%") | F.col("o_orderpriority").like("2-%")
        ).alias("is_expedited"),
    )


# ---------------------------------------------------------------------------
# Behavioral analytics: rolling distinct, attribution credit, sequence checks
# ---------------------------------------------------------------------------


# ONE definition of the trailing-7-day contribution CTEs — the exact
# rolling-distinct query and its HLL sketch twin are pinned to the SAME
# windowed-distinct spec (same edge truncation), so an edit to one
# cannot silently diverge the other (the _EDGE_CTES pattern).
_ROLLING7_CTES = """du AS (
      SELECT DISTINCT user_id, CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d
      FROM events
    ), bounds AS (SELECT MIN(d) AS dmin, MAX(d) AS dmax FROM du),
    contrib AS (
      SELECT du.user_id, du.d + u.o AS wd
      FROM du, UNNEST(range(0, 7)) AS u(o), bounds
      WHERE du.d + u.o <= bounds.dmax AND du.d + u.o >= bounds.dmin + 6
    )"""


@register(
    "rolling_7day_distinct_users",
    oracle=f"""
    WITH {_ROLLING7_CTES}
    SELECT strftime(DATE '1970-01-01' + CAST(wd AS INTEGER), '%Y-%m-%d') AS day,
           COUNT(DISTINCT user_id) AS active_users_7d
    FROM contrib GROUP BY wd
    """,
    doc="Exact trailing-7-day distinct users per day (the DAU/WAU "
    "dashboard row; user_reach_by_type's HLL sketches are the "
    "approximate scale twin). COUNT DISTINCT cannot window, so each "
    "(user, day) pair is EXPLODED to the <=7 window-days it "
    "contributes to — turning a windowed distinct into a plain "
    "distinct aggregate, 7x linear instead of a per-day self-join. "
    "BOTH edges are truncated to fully-observed windows: days past "
    "the data's horizon AND the first 6 days (whose trailing windows "
    "reach before the first observed day and would read as a fake "
    "ramp-up on a dashboard). Integer epoch-day arithmetic "
    "throughout.",
)
def rolling_7day_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    du = e.select(
        "user_id", F.unix_date(F.col("ts").cast("date")).cast("bigint").alias("d")
    ).distinct().localCheckpoint()
    dmin, dmax = du.agg(F.min("d"), F.max("d")).first()
    contrib = du.select(
        "user_id", F.explode(F.sequence(F.col("d"), F.col("d") + 6)).alias("wd")
    ).filter((F.col("wd") <= dmax) & (F.col("wd") >= dmin + 6))
    return (
        contrib.groupBy("wd")
        .agg(F.count_distinct("user_id").alias("active_users_7d"))
        .select(
            F.date_format(F.date_from_unix_date(F.col("wd").cast("int")), "yyyy-MM-dd").alias("day"),
            "active_users_7d",
        )
    )


@register(
    "user_reach_rolling_7d_hll",
    oracle=f"""
    WITH {_ROLLING7_CTES}
    SELECT strftime(DATE '1970-01-01' + CAST(wd AS INTEGER), '%Y-%m-%d') AS day,
           COUNT(DISTINCT user_id) AS reach_7d
    FROM contrib GROUP BY wd
    """,
    doc="Sketch-composed rolling reach: ONE HLL sketch per (day), then "
    "each trailing-7-day window UNIONS the 7 daily sketches — the "
    "dashboard shape where daily sketches are built once and every "
    "window length (7d, 28d, 90d) derives from the same stored rows "
    "by union, never re-touching events. In the sketch's exact coupon "
    "regime (holds at driver scale; DataSketches promotes to "
    "estimation mode well below 2^lgK — at sf1's 15k users/window the "
    "estimate is within 0.4%, the documented HLL error) the estimate "
    "is exact, so the explode-based exact-distinct oracle pins the "
    "whole day-sketch → window-union path there; "
    "rolling_7day_distinct_users is the raw-data twin this "
    "replaces at 100 TB (its explode re-reads EVENTS x 7; this unions "
    "7 sketch rows per window).",
)
def user_reach_rolling_7d_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_data_pipeline_exercise_spark.operators import sketches

    e = load(spark, sf_dir, "events")
    days = e.select(
        F.unix_date(F.col("ts").cast("date")).cast("bigint").alias("d"), "user_id"
    )
    daily = sketches.build_distinct_sketches(days, ["d"], "user_id").localCheckpoint()
    dmin, dmax = daily.agg(F.min("d"), F.max("d")).first()
    windows = daily.select(
        "hll_sketch", F.explode(F.sequence(F.col("d"), F.col("d") + 6)).alias("wd")
    ).filter((F.col("wd") <= dmax) & (F.col("wd") >= dmin + 6))
    return sketches.merge_distinct_counts(windows, ["wd"], out_col="reach_7d").select(
        F.date_format(F.date_from_unix_date(F.col("wd").cast("int")), "yyyy-MM-dd").alias("day"),
        "reach_7d",
    )


@register(
    "multi_touch_attribution",
    oracle="""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts AS p_ts,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT event_id AS click_id, user_id, ts AS c_ts
      FROM events WHERE event_type = 'click'
    ), touch AS (
      SELECT p.purchase_id, p.cents, c.click_id,
             COUNT(*) OVER (PARTITION BY p.purchase_id) AS n_touches
      FROM p JOIN c ON c.user_id = p.user_id
       AND c.c_ts <= p.p_ts AND c.c_ts > p.p_ts - INTERVAL 1 HOUR
    )
    SELECT click_id,
           CAST(COUNT(*) AS BIGINT) AS n_purchases_touched,
           CAST(SUM((cents * 1000000) // n_touches) AS DOUBLE) / 100000000.0
             AS credited_revenue
    FROM touch GROUP BY click_id
    """,
    doc="Linear multi-touch attribution: every click within the hour "
    "before a same-user purchase shares the purchase value equally. "
    "Credit is defined in integer MICRO-CENTS with floor division "
    "((cents*1e6) div n_touches) so the per-click credit sum is an "
    "exact, order-free bigint — a double credit (cents/n) would sum "
    "in shuffle order and drift in the last ulp whenever a click "
    "touches several purchases. One final division renders currency. "
    "The event-time-bounded join pairs each purchase with at most an "
    "hour of its user's clicks — never a full cross product.",
)
def multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        (dec("value") * 100).cast("bigint").alias("cents"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("c_ts")
    )
    touch = (
        p.join(c, "user_id")
        .filter(
            (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        )
        .withColumn("n_touches", F.count(F.lit(1)).over(Window.partitionBy("purchase_id")))
    )
    micro = F.expr("(cents * 1000000) div n_touches")
    return touch.groupBy("click_id").agg(
        F.count(F.lit(1)).alias("n_purchases_touched"),
        (F.sum(micro).cast("double") / F.lit(100000000.0)).alias("credited_revenue"),
    )


@register(
    "user_event_sequence_checks",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ), firsts AS (
      SELECT user_id, MAX(CASE WHEN rn = 1 THEN event_type END) AS first_type FROM o GROUP BY user_id
    ), mins AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
      FROM events GROUP BY user_id
    )
    SELECT f.user_id,
           f.first_type = 'signup' AS starts_with_signup,
           COALESCE(m.first_purchase < m.first_click, m.first_purchase IS NOT NULL AND m.first_click IS NULL)
             AS purchase_before_click
    FROM firsts f JOIN mins m ON f.user_id = m.user_id
    """,
    doc="Behavioral sequence validation (the event-log data contract): "
    "per user, does the log start with a signup, and does any purchase "
    "precede the first click — the funnel-integrity flags an ingestion "
    "bug trips first. One ranking window + one conditional aggregate, "
    "both user-partitioned; boolean outputs are exact timestamp "
    "comparisons.",
)
def user_event_sequence_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = e.withColumn("rn", F.row_number().over(w))
    firsts = o.groupBy("user_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("event_type"))).alias("first_type")
    )
    mins = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("first_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("first_purchase"),
    )
    return firsts.join(mins, "user_id").select(
        "user_id",
        (F.col("first_type") == "signup").alias("starts_with_signup"),
        F.coalesce(
            F.col("first_purchase") < F.col("first_click"),
            F.col("first_purchase").isNotNull() & F.col("first_click").isNull(),
        ).alias("purchase_before_click"),
    )


# ---------------------------------------------------------------------------
# Regression / correlation aggregates + quantization
# ---------------------------------------------------------------------------


@register(
    "value_trend_by_type",
    oracle="""
    WITH base AS (SELECT event_type, ts, value FROM events WHERE value IS NOT NULL),
    bounds AS (SELECT MIN(CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)) AS d0 FROM base),
    b AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) - d0 AS x,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      FROM base, bounds
    ), s AS (
      SELECT event_type,
             CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(x*y) AS HUGEINT) AS sxy,
             CAST(SUM(x*x) AS HUGEINT) AS sxx, CAST(SUM(y*y) AS HUGEINT) AS syy
      FROM b GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE) / 100.0
             AS slope_per_day,
           (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 100.0)
             - (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE) / 100.0)
               * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS intercept_at_d0,
           CAST(n*sxy - sx*sy AS DOUBLE)
             / sqrt(CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE))
             AS pearson_r
    FROM s
    """,
    doc="Per-group least-squares trend + Pearson correlation of event "
    "value against time, the closed-form normal-equation aggregate: "
    "every moment (Sx, Sy, Sxy, Sxx, Syy) is an EXACT integer sum "
    "over NULL-free rows, with x CENTERED on the corpus's first day "
    "(intercept_at_d0 is the fitted value there) and the moment "
    "combinations computed in 128-bit integers (Spark DECIMAL(38,0) / "
    "DuckDB HUGEINT) — int64 products n*Sxy overflow silently around "
    "2e6 rows per group on uncentered epoch days. The float tail is a "
    "fixed deterministic sequence (sqrt is IEEE correctly-rounded); "
    "the r denominator's two ~1e20 factors convert to double BEFORE "
    "their product, which would overflow even 128 bits. One "
    "distributive aggregate pass, map-side combinable.",
)
def value_trend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    base = e.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.unix_date(F.col("ts").cast("date")).cast("bigint").alias("d"),
        (dec("value") * 100).cast("bigint").alias("y"),
    ).localCheckpoint()
    d0 = base.agg(F.min("d")).first()[0]
    b = base.select("event_type", (F.col("d") - F.lit(d0)).alias("x"), "y")
    DEC = "decimal(38,0)"
    s = b.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(DEC).alias("n"),
        F.sum("x").cast(DEC).alias("sx"),
        F.sum("y").cast(DEC).alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast(DEC).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast(DEC).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast(DEC).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    num = (n * sxy - sx * sy).cast("double")
    den = (n * sxx - sx * sx).cast("double")
    slope = num / den / F.lit(100.0)
    return s.select(
        "event_type",
        n.cast("bigint").alias("n"),
        slope.alias("slope_per_day"),
        (
            (sy.cast("double") / n.cast("double") / F.lit(100.0))
            - slope * (sx.cast("double") / n.cast("double"))
        ).alias("intercept_at_d0"),
        (num / F.sqrt(den * (n * syy - sy * sy).cast("double"))).alias("pearson_r"),
    )


@register(
    "embedding_quantize_int8",
    oracle="""
    WITH m AS (
      SELECT vec_id, embedding,
             (SELECT MAX(abs(CAST(u.x AS DOUBLE))) FROM UNNEST(embedding) AS u(x)) AS max_abs
      FROM embeddings
    ), q AS (
      SELECT vec_id, max_abs,
             list_transform(embedding,
               x -> GREATEST(CAST(-127 AS BIGINT), LEAST(CAST(127 AS BIGINT),
                      CAST(FLOOR(CAST(x AS DOUBLE) * (127.0 / max_abs) + 0.5) AS BIGINT))))
               AS qv
      FROM m WHERE max_abs > 0
    )
    SELECT vec_id, CAST(127.0 / max_abs AS DOUBLE) AS scale,
           CAST(list_sum(qv) AS BIGINT) AS q_sum,
           CAST(list_sum(list_transform(qv, v -> abs(v))) AS BIGINT) AS q_l1,
           qv[1] AS q0, qv[2] AS q1, qv[3] AS q2, qv[4] AS q3
    FROM q
    """,
    doc="Symmetric int8 quantization of embeddings (the ANN memory-"
    "compression step: 4x smaller vectors, dot products in integer "
    "SIMD): per-vector scale 127/max|x|, components rounded to "
    "nearest (floor(x*s + 0.5) — deterministic, identical in both "
    "engines) and CLAMPED to [-127, 127]: the rounded product of the "
    "max-magnitude component can land at ±128/±126 depending on the "
    "last ulp of 127/max_abs, and the clamp guarantees the symmetric "
    "range a saturating int8 consumer assumes (|-128| overflows int8 "
    "negation). float32→double is exact widening; every op is a fixed "
    "deterministic sequence, so the integers hash identically "
    "cross-engine. Output pins the full vector via exact integer "
    "sum/L1 plus the first 4 lanes. Pure higher-order column "
    "functions, zero UDFs, no shuffle.",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    vd = F.col("embedding").cast("array<double>")
    max_abs = F.aggregate(
        vd, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    m = emb.select("vec_id", vd.alias("v"), max_abs.alias("max_abs")).filter(
        F.col("max_abs") > 0
    )
    scale = F.lit(127.0) / F.col("max_abs")
    lo, hi = F.lit(-127).cast("bigint"), F.lit(127).cast("bigint")
    qv = F.transform(
        F.col("v"),
        lambda x: F.greatest(lo, F.least(hi, F.floor(x * scale + F.lit(0.5)).cast("bigint"))),
    )
    q = m.select("vec_id", scale.alias("scale"), qv.alias("qv"))
    return q.select(
        "vec_id",
        "scale",
        F.aggregate("qv", F.lit(0).cast("bigint"), lambda a, v: a + v).alias("q_sum"),
        F.aggregate("qv", F.lit(0).cast("bigint"), lambda a, v: a + F.abs(v)).alias("q_l1"),
        F.element_at("qv", 1).alias("q0"),
        F.element_at("qv", 2).alias("q1"),
        F.element_at("qv", 3).alias("q2"),
        F.element_at("qv", 4).alias("q3"),
    )


# ---------------------------------------------------------------------------
# Hopping windows + graph analytics
# ---------------------------------------------------------------------------


@register(
    "event_hopping_window_counts",
    oracle="""
    WITH shifts AS (SELECT 0 AS sh UNION ALL SELECT 300 UNION ALL SELECT 600),
    w AS (
      SELECT event_type,
             ((epoch_us(ts) // 1000000 - sh) // 900) * 900 + sh AS win_start_s
      FROM events, shifts
    )
    SELECT event_type,
           strftime(make_timestamp(win_start_s * 1000000), '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n_events
    FROM w GROUP BY 1, 2
    """,
    doc="Hopping (sliding) window aggregation: 15-minute windows every 5 "
    "minutes via Spark's native window() — each event lands in 3 "
    "overlapping windows. The oracle derives the same windows as 3 "
    "phase-shifted tumbling grids (the standard hop = shifted-tumble "
    "identity). Window starts are integer epoch-seconds, so grouping "
    "keys are exact.",
)
def event_hopping_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = F.window(F.col("ts"), "15 minutes", "5 minutes")
    return (
        e.groupBy("event_type", w.alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "event_type",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
        )
    )



# Shared 5-gram document graph: edges between documents sharing >= 5
# distinct word 5-grams — ONE definition (Spark builder + oracle CTE
# prefix) reused by every graph query so the graph cannot silently
# diverge between them.
_EDGE_CTES = f"""toks AS (SELECT doc_id, string_split({_NORM4}, ' ') AS tk FROM documents),
    sh AS (SELECT DISTINCT doc_id, s FROM toks,
           UNNEST(list_transform(range(0, greatest(len(tk)-5, 0)+1),
                  i -> array_to_string(list_slice(tk, i+1, i+5), ' '))) AS u(s)
           WHERE length(s) > 0),
    e AS (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 5
    )"""


def _gram_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinned (src, dst) edge table of the shared-5-gram graph."""
    from batch_data_pipeline_exercise_spark.operators.dedup import word_shingles

    d = load(spark, sf_dir, "documents")
    sh = word_shingles(d, "doc_id", n=5, distinct=True)
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("src"), F.col("b.id").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 5)
        .select("src", "dst")
        .localCheckpoint()
    )


@register(
    "dup_graph_pagerank2",
    oracle="""
    WITH {EDGES},
    bidir AS (SELECT src AS u, dst AS v FROM e UNION ALL SELECT dst, src FROM e),
    deg AS (SELECT u, COUNT(*) AS deg FROM bidir GROUP BY u),
    s0 AS (SELECT u, CAST(1000000000000 AS BIGINT) AS s FROM deg),
    c1 AS (
      SELECT b.v AS u, SUM(s0.s // d.deg) AS inflow
      FROM s0 JOIN deg d USING (u) JOIN bidir b USING (u) GROUP BY b.v
    ),
    s1 AS (
      SELECT d.u, CAST(150000000000 + (85 * COALESCE(c1.inflow, 0)) // 100 AS BIGINT) AS s
      FROM deg d LEFT JOIN c1 USING (u)
    ),
    c2 AS (
      SELECT b.v AS u, SUM(s1.s // d.deg) AS inflow
      FROM s1 JOIN deg d USING (u) JOIN bidir b USING (u) GROUP BY b.v
    )
    SELECT d.u AS doc_id,
           CAST(150000000000 + (85 * COALESCE(c2.inflow, 0)) // 100 AS BIGINT) AS score_scaled
    FROM deg d LEFT JOIN c2 USING (u)
    """.replace("{EDGES}", _EDGE_CTES),
    doc="PageRank (2 power iterations, damping 0.85) over the "
    "shared-5-gram document graph in EXACT scaled-integer arithmetic "
    "(operators/graph.py pagerank_scaled): every step is integer floor "
    "division, so the scores are a deterministic specification — "
    "reproducible across runs, partitionings, AND engines, which is "
    "what lets an iterative graph algorithm carry a value-hash oracle "
    "at all (float PageRank drifts in shuffle order). Per iteration: "
    "one equi join + one sum; fixed k = a static k-stage DAG, no "
    "driver-side rounds.",
)
def dup_graph_pagerank2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_data_pipeline_exercise_spark.operators.graph import pagerank_scaled

    out = pagerank_scaled(_gram_edges(spark, sf_dir), iterations=2)
    return out.select(F.col("id").alias("doc_id"), "score_scaled")


@register(
    "dup_graph_triangles",
    oracle="""
    WITH {EDGES}
    SELECT e1.src AS doc_a, e1.dst AS doc_b, e2.dst AS doc_c
    FROM e e1 JOIN e e2 ON e1.dst = e2.src JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
    """.replace("{EDGES}", _EDGE_CTES),
    doc="Triangle enumeration over the shared-5-gram document graph "
    "(edges: pairs sharing 5+ distinct 5-grams): triads of mutually "
    "similar documents — the tight-cluster signal dedup clustering "
    "smooths over. Ordered-edge (u<v) triangle join: each triangle "
    "emitted exactly once, three equi hash joins over the (tiny) edge "
    "table, never the raw corpus; candidate edges come from a "
    "gram-blocked self-join, the same never-all-pairs discipline as "
    "the LSH paths.",
)
def dup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _gram_edges(spark, sf_dir)
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    return (
        e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
        .join(e3, (F.col("e3.src") == F.col("e1.src")) & (F.col("e3.dst") == F.col("e2.dst")))
        .select(
            F.col("e1.src").alias("doc_a"),
            F.col("e1.dst").alias("doc_b"),
            F.col("e2.dst").alias("doc_c"),
        )
    )


# ---------------------------------------------------------------------------
# Auditing + drift monitoring
# ---------------------------------------------------------------------------


@register(
    "orders_partition_checksums",
    oracle="""
    WITH c AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month,
             CAST(('0x' || substr(md5(
               CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' ||
               o_orderstatus || '|' || CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)
               || '|' || strftime(o_orderdate, '%Y-%m-%d')
             ), 1, 15)) AS BIGINT) AS fp
      FROM orders
    )
    SELECT month, COUNT(*) AS n_rows, CAST(bit_xor(fp) AS BIGINT) AS checksum
    FROM c GROUP BY month
    """,
    doc="Order-free per-partition table fingerprints: 60-bit md5 words "
    "XOR-folded per month (operators/audit.py content_checksum). XOR "
    "is commutative and mergeable, so verifying a 100 TB replica "
    "never sorts either side, the shuffle carries one (count, word) "
    "pair per partition per group, and a divergence localizes to one "
    "month by joining the two checksum frames. The oracle computing "
    "the identical fingerprints IS the cross-replica comparison, run "
    "cross-engine.",
)
def orders_partition_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_data_pipeline_exercise_spark.operators.audit import content_checksum

    o = load(spark, sf_dir, "orders").withColumn(
        "month", F.date_format("o_orderdate", "yyyy-MM")
    )
    canon = [
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        dec("o_totalprice").cast("string"),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
    ]
    return content_checksum(o, canon, group_cols=["month"])


@register(
    "corpus_length_drift",
    oracle="""
    WITH b AS (SELECT MIN(n_chars) AS mn, MAX(n_chars) AS mx FROM documents),
    binned AS (
      SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS grp,
             ((n_chars - mn) * 10) // (mx - mn + 1) AS bin
      FROM documents, b
    ),
    cells AS (
      SELECT bin,
             CAST(SUM(CASE WHEN grp = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
             CAST(SUM(CASE WHEN grp = 'other' THEN 1 ELSE 0 END) AS BIGINT) AS n_other
      FROM binned GROUP BY bin
    ),
    tot AS (SELECT SUM(n_en) AS t_en, SUM(n_other) AS t_other FROM cells)
    SELECT bin, n_en, n_other,
           CAST(n_en AS DOUBLE) / t_en AS share_en,
           CAST(n_other AS DOUBLE) / t_other AS share_other,
           abs(CAST(n_en AS DOUBLE) / t_en - CAST(n_other AS DOUBLE) / t_other)
             AS l1_gap
    FROM cells, tot
    """,
    doc="Distribution-drift report (the PSI-style dashboard row): "
    "compare the document-length distribution of English vs the rest "
    "over 10 equi-width integer bins; per-bin shares and their L1 gap. "
    "Bin edges are pure integer arithmetic; each share is one exact "
    "division, the gap one subtraction — no log terms whose libm "
    "rounding could drift cross-engine. Spark side injects the "
    "min/max and totals as literals from bounded metadata actions "
    "(the temperature-sampling pattern) — no 1-row nested-loop joins.",
)
def corpus_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    pinned = d.select(
        "n_chars", F.when(F.col("lang") == "en", "en").otherwise("other").alias("grp")
    ).localCheckpoint()
    mn, mx = pinned.agg(F.min("n_chars"), F.max("n_chars")).first()
    cells = (
        pinned.withColumn("bin", F.expr(f"((n_chars - {mn}) * 10) div ({mx} - {mn} + 1)"))
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("grp") == "en", 1).otherwise(0)).cast("bigint").alias("n_en"),
            F.sum(F.when(F.col("grp") == "other", 1).otherwise(0)).cast("bigint").alias("n_other"),
        )
        .localCheckpoint()
    )
    t_en, t_other = cells.agg(F.sum("n_en"), F.sum("n_other")).first()
    share_en = F.col("n_en").cast("double") / F.lit(t_en)
    share_other = F.col("n_other").cast("double") / F.lit(t_other)
    return cells.select(
        "bin",
        "n_en",
        "n_other",
        share_en.alias("share_en"),
        share_other.alias("share_other"),
        F.abs(share_en - share_other).alias("l1_gap"),
    )


# ---------------------------------------------------------------------------
# Histogram + contribution analysis
# ---------------------------------------------------------------------------


@register(
    "order_price_histogram",
    oracle="""
    WITH c AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             CAST(o_totalprice AS DECIMAL(18,2)) AS p
      FROM orders
    ), b AS (SELECT MIN(cents) AS mn, MAX(cents) AS mx FROM c)
    SELECT ((cents - mn) * 20) // (mx - mn + 1) AS bin,
           COUNT(*) AS n_orders,
           CAST(MIN(p) AS DOUBLE) AS min_price,
           CAST(MAX(p) AS DOUBLE) AS max_price,
           CAST(SUM(p) AS DOUBLE) AS sum_price
    FROM c, b GROUP BY 1
    """,
    doc="Equi-width 20-bin price histogram in integer cents: bin = "
    "((cents-min)*20) div (range+1) — pure integer arithmetic, never a "
    "float boundary that could land a row in different bins per "
    "engine. The min/max scalars come from one bounded metadata action "
    "(the temperature-sampling pattern) injected as literals, so the "
    "big-side plan is scan → narrow projection → one groupBy; the "
    "oracle's 1-row cross join states the same spec.",
)
def order_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select(
        (dec("o_totalprice") * 100).cast("bigint").alias("cents"),
        dec("o_totalprice").alias("p"),
    )
    c = o.localCheckpoint()
    mn, mx = c.agg(F.min("cents"), F.max("cents")).first()
    return (
        c.withColumn("bin", F.expr(f"((cents - {mn}) * 20) div ({mx} - {mn} + 1)"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("p").cast("double").alias("min_price"),
            F.max("p").cast("double").alias("max_price"),
            F.sum("p").cast("double").alias("sum_price"),
        )
    )


@register(
    "user_time_weighted_value",
    bench=True,
    oracle="""
    WITH b AS (
      SELECT user_id, epoch_us(ts) AS t,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nt
      FROM events
    ), iv AS (
      SELECT user_id, cents, nt - t AS dur FROM b WHERE nt IS NOT NULL
    )
    SELECT user_id, COUNT(*) AS n_intervals,
           CAST(SUM(dur) AS BIGINT) AS total_dur_us,
           CAST(SUM(CAST(cents AS DECIMAL(38,0)) * dur) AS DOUBLE)
             / CAST(SUM(dur) AS DOUBLE) / 100.0 AS twa_value
    FROM iv GROUP BY user_id
    """,
    doc="Time-weighted average (the TWAP shape): each event's value "
    "holds until the user's next event; the average weights values by "
    "microsecond interval length. All accumulation is exact — cents x "
    "dur products in DECIMAL(38,0) (scale 0, so the final "
    "decimal-to-double cast is ONE correctly-rounded conversion in "
    "both engines, no scale division) — then two casts and two "
    "divisions in a fixed order. One window + one aggregate, "
    "key-partitioned.",
)
def user_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts may be NTZ (sf-dependent parquet logical type); the session is
    # pinned UTC in load(), so the LTZ cast is wall-clock identity and
    # epoch-µs agrees with DuckDB's epoch_us over naive timestamps
    t_us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    b = e.select(
        "user_id",
        t_us.alias("t"),
        (dec("value") * 100).cast("bigint").alias("cents"),
        F.lead(t_us).over(w).alias("nt"),
    )
    iv = b.filter(F.col("nt").isNotNull()).select(
        "user_id", "cents", (F.col("nt") - F.col("t")).alias("dur")
    )
    return iv.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("dur").alias("total_dur_us"),
        (
            F.sum(F.col("cents").cast("decimal(38,0)") * F.col("dur")).cast("double")
            / F.sum("dur").cast("double")
            / F.lit(100.0)
        ).alias("twa_value"),
    )


@register(
    "incremental_top3_orders",
    oracle="""
    SELECT o_custkey, o_orderkey, rnk FROM (
      SELECT o_custkey, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders
    ) WHERE rnk <= 3
    """,
    doc="Incremental-view-maintenance for per-key top-k: orders split "
    "into three date batches, folded through maintain_topk — each fold "
    "ranks only stored-top-k ∪ batch, never history (top-k is "
    "algebraic under insert-only batches: an evicted row can never "
    "re-enter). The oracle is the FULL recompute, proving the "
    "maintained table identical to scanning everything.",
)
def incremental_top3_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_data_pipeline_exercise_spark.operators.incremental import maintain_topk

    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice", "o_orderdate")
    order_cols = [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()]
    stored = None
    # first batch lower-unbounded, last upper-unbounded: hard-coded
    # outer bounds would silently drop orders if the testdata's date
    # span ever widened, diverging from the full-recompute oracle
    for lo, hi in ((None, "1997-01-01"), ("1997-01-01", "1999-01-01"), ("1999-01-01", None)):
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
        if hi is not None:
            cond = cond & (F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
        batch = o.filter(cond)
        stored = maintain_topk(stored, batch, ["o_custkey"], order_cols, k=3)
        # pin each fold: the next batch must rank against the MAINTAINED
        # table, not a re-derivation of the whole lineage
        stored = stored.localCheckpoint()
    return stored.select("o_custkey", "o_orderkey", "rnk")


#: entity-resolution block purge: (i, s) segment blocks holding more than
#: this many docs are dropped from candidate GENERATION. One constant feeds
#: BOTH the Spark plan and its DuckDB oracle SQL below — editing a single
#: literal can therefore never silently break oracle exactness.
BLOCK_CAP = 64


@register(
    "doc_prefix_fuzzy_pairs",
    bench=True,
    oracle=f"""
    WITH p AS (
      SELECT doc_id, substr({_NORMC}, 1, 30) AS pre
      FROM documents
    ), seg AS (
      SELECT doc_id, pre, 1 AS i, substr(pre, 1, 10) AS s FROM p
      UNION ALL SELECT doc_id, pre, 2, substr(pre, 11, 10) FROM p
      UNION ALL SELECT doc_id, pre, 3, substr(pre, 21, 10) FROM p
    ), segf AS (SELECT * FROM seg WHERE s <> ''),
    keepb AS (SELECT i, s FROM segf GROUP BY i, s HAVING COUNT(*) <= {BLOCK_CAP}),
    gen AS (SELECT segf.* FROM segf JOIN keepb USING (i, s)),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pre AS pre_a, b.pre AS pre_b
      FROM gen a JOIN gen b ON a.i = b.i AND a.s = b.s AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, levenshtein(pre_a, pre_b) AS edit_distance
    FROM cand WHERE levenshtein(pre_a, pre_b) <= 2
    """,
    doc="Fuzzy entity-matching join by segment blocking: normalized "
    "30-char prefixes, pigeonholed into 3 aligned 10-char segments — "
    "two prefixes within substitution distance 2 must agree on one "
    "segment (shift edits can evade the block, the standard "
    "recall/cost trade, same as the SimHash chunk scheme) — candidates "
    "verified by exact levenshtein <= 2. Integer distances, so "
    "cross-engine exact. Plan: segment equi self-join over a pinned "
    "prefix table, NEVER the all-pairs edit-distance matrix, with "
    "standard BLOCK PURGING (entity-resolution practice): blocks "
    "holding > 64 docs are dropped from candidate generation, bounding "
    "the join at 64x the segment rows. Measured: the uncapped sf1 "
    "block-pair work is 139x sf0.1's (max block 34 -> 340 — quadratic "
    "in occupancy), while cap-64 output is byte-identical at sf0.1 and "
    "keeps 99.98%% of the verified pairs at sf1 (248,679 of 248,724 — "
    "a pair purged everywhere must share ONLY mega-block segments).",
)
def doc_prefix_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    pre = d.select("doc_id", F.substring(normalize_chars("text"), 1, 30).alias("pre")).localCheckpoint()
    seg = pre.select(
        "doc_id",
        "pre",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("i"), F.substring("pre", 1 + 10 * (i - 1), 10).alias("s"))
                    for i in (1, 2, 3)
                ]
            )
        ).alias("seg"),
    ).select("doc_id", "pre", F.col("seg.i").alias("i"), F.col("seg.s").alias("s")).filter(
        F.col("s") != ""
    )
    # block purging: a (i, s) block with > BLOCK_CAP members contributes O(n^2)
    # candidate rows and near-zero discrimination — drop it from
    # GENERATION (verification semantics unchanged for survivors). Same
    # bounded-work pattern as ngram_jaccard_pairs' max_df cap. The
    # PURGED list (not the keep list) drives a broadcast anti-join: by
    # construction at most rows/64 blocks can exceed the cap and real
    # block-size distributions are heavy-tailed (sf1: 241 purged of
    # 9,323), so the filter is map-side — the only added work is one
    # narrow (i, s) count shuffle, not a re-shuffle of the segments.
    # Measured min-of-3, same session: sf0.1 0.62 -> 0.84 s (the count
    # pass), sf1 2.45 -> 2.14 s and bounded thereafter, vs quadratic
    # uncapped growth (139x pair work for 10x docs).
    purged = (
        seg.select("i", "s")
        .groupBy("i", "s")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > BLOCK_CAP)
        .select("i", "s")
    )
    gen = seg.join(F.broadcast(purged), ["i", "s"], "left_anti")
    a, b = gen.alias("a"), gen.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.i") == F.col("b.i"))
            & (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.pre").alias("pre_a"),
            F.col("b.pre").alias("pre_b"),
        )
        .distinct()
    )
    # compute the DP once: Filter and Project are separate operators, so
    # codegen does not share a repeated levenshtein call between them.
    # The THRESHOLDED levenshtein(l, r, 2) early-exits the DP as soon as
    # every band cell exceeds 2 and returns -1 past the threshold —
    # exact distances for every kept row (<= 2), so output values are
    # unchanged while the verify stage stops paying full O(30x30) DP on
    # the >99% of candidates that miss.
    return cand.withColumn(
        "edit_distance", F.expr("levenshtein(pre_a, pre_b, 2)").cast("bigint")
    ).filter(F.col("edit_distance") >= 0).select("doc_a", "doc_b", "edit_distance")


@register(
    "salted_brand_revenue",
    oracle="""
    SELECT p.p_brand AS brand,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2))))
                AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1
    """,
    doc="Skew-resilient fact-to-dim join: lineitem joined to part through "
    "salted_join (dim replicated n_salts times, fact salted by a "
    "retry-safe hash of its unique line key), then brand revenue. The "
    "oracle is the PLAIN join — salting must be invisible in the "
    "result. This is the shape for a hot-key dim join too big to "
    "broadcast: each hot key spreads over 8 reduce tasks instead of "
    "one straggler.",
)
def salted_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_data_pipeline_exercise_spark.operators.skew import salted_join

    li = load(spark, sf_dir, "lineitem").withColumn(
        "__rowkey", F.concat_ws("#", F.col("l_orderkey"), F.col("l_linenumber"))
    )
    p = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    joined = salted_join(li, p, on="l_partkey", n_salts=8, salt_col="__rowkey")
    rev = dec("l_extendedprice") * (F.lit(1).cast("decimal(4,2)") - dec("l_discount", 4, 2))
    return joined.groupBy(F.col("p_brand").alias("brand")).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(rev).cast("double").alias("revenue"),
    )


@register(
    "nation_revenue_contribution",
    oracle="""
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS nat_dec
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2
    )
    SELECT region, nation, CAST(nat_dec AS DOUBLE) AS revenue,
           CAST(nat_dec AS DOUBLE) / CAST(SUM(nat_dec) OVER (PARTITION BY region) AS DOUBLE)
             AS region_share
    FROM rev
    """,
    doc="Percent-of-total contribution: each nation's share of its "
    "region's order revenue. The share divides two doubles each cast "
    "from exact decimal sums (the window total is itself a decimal "
    "sum — associative, order-free), so one deterministic division. "
    "Plan: shuffle join orders→customer, broadcast nation+region, one "
    "agg, then a window over the TINY nation-level aggregate.",
)
def nation_revenue_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(dec("o_totalprice")).alias("nat_dec"))
    )
    w = Window.partitionBy("region")
    return rev.select(
        "region",
        "nation",
        F.col("nat_dec").cast("double").alias("revenue"),
        (F.col("nat_dec").cast("double") / F.sum("nat_dec").over(w).cast("double")).alias(
            "region_share"
        ),
    )
