"""Driver-contract breadth, part 3: the remaining classic TPC-H query
shapes (Q2/Q8/Q11/Q13/Q15/Q17/Q19/Q21/Q22 analogs, adapted to the
testdata's schema — it ships no partsupp, so part-supplier relationships
come from lineitem) plus corpus-pipeline operators that need global
scalars (contamination screening, tf-idf).

Every query follows the determinism rules from ``plans/contract.py``:
decimal-cast money aggregation, doubles only as a final deterministic
cast or a per-row division of identical operands, alias parity with the
oracle.

Scale notes (the patterns, once, instead of per-query):

- **Global scalars never collect and never window.** A "compare to the
  corpus total / global average" query computes the scalar with a
  single-row aggregate and stamps it onto rows via a one-row
  BroadcastHashJoin on a column-derived always-zero key (see
  ``_zero_key``) — the same trick as ``relevance.bm25_scores``. No
  driver round-trip, no unpartitioned window, no nested-loop join.
- **Arg-min/arg-max by struct ordering.** "The supplier with the lowest
  unit price" is ``min(struct(price, suppkey))`` — one hash aggregate,
  deterministic on ties, no per-group sort.
- **Two-level aggregates instead of DISTINCT-in-join.** Q21's "orders
  with ≥2 suppliers, exactly one late" reduces per (order, supplier)
  first, then per order — both shuffles are on keys that shrink the
  data, and nothing is quadratic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from batch_data_pipeline_exercise_spark.operators.text import (
    tokenize,
    word_ngrams,
    word_ngrams_exploded,
)
from batch_data_pipeline_exercise_spark.plans.contract import dec, load, register

from batch_data_pipeline_exercise_spark.operators.text import norm_ws_sql

# DuckDB-side text normalizer — THE shared SQL twin of text.normalize_ws
_NORM = norm_ws_sql("text")


def _zero_key(col: Column) -> Column:
    """Column-derived always-zero join key for stamping a single-row
    aggregate onto every row as a one-row BroadcastHashJoin.

    ``pmod(crc32(x), 1)`` is 0 for every input but Catalyst cannot fold
    it (column-dependent); a literal key would fold to ``true`` and the
    join would degrade to BroadcastNestedLoopJoin, which the plan-quality
    gate (rightly) forbids."""
    return F.pmod(F.crc32(col.cast("string")), F.lit(1))


def _stamp_global(rows: DataFrame, key_col: str, stats: DataFrame, stats_key_col: str) -> DataFrame:
    """Join a 1-row ``stats`` aggregate onto every row of ``rows``."""
    s = F.broadcast(stats.withColumn("__zk", _zero_key(F.col(stats_key_col))))
    return rows.withColumn("__zk", _zero_key(F.col(key_col))).join(s, "__zk").drop("__zk")


# ---------------------------------------------------------------------------
# TPC-H shapes
# ---------------------------------------------------------------------------


@register(
    "min_cost_supplier_per_part",
    oracle="""
    WITH unit AS (
      SELECT l_partkey, l_suppkey,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) / l_quantity AS unit_price
      FROM lineitem
    ), ranked AS (
      SELECT l_partkey, l_suppkey, unit_price,
             ROW_NUMBER() OVER (PARTITION BY l_partkey ORDER BY unit_price, l_suppkey) AS rn
      FROM unit
    )
    SELECT p.p_partkey, p.p_brand, s.s_name,
           r.l_suppkey AS s_suppkey, r.unit_price AS unit_price
    FROM ranked r
    JOIN part p ON p.p_partkey = r.l_partkey
    JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.rn = 1 AND p.p_size <= 5
    """,
    doc="TPC-H Q2-shaped arg-min: per part, the supplier offering the "
    "lowest observed unit price (ties: smallest suppkey), restricted to "
    "small parts. The correlated-subquery formulation becomes ONE hash "
    "aggregate via min(struct(price, suppkey)) — no per-group sort, no "
    "re-join against the aggregate, then two dim joins (part filter "
    "pushed to the scan, supplier broadcast).",
)
def min_cost_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_size") <= 5)
    supp = load(spark, sf_dir, "supplier")
    unit = li.select(
        "l_partkey",
        "l_suppkey",
        (dec("l_extendedprice").cast("double") / F.col("l_quantity")).alias("unit_price"),
    )
    best = unit.groupBy("l_partkey").agg(F.min(F.struct("unit_price", "l_suppkey")).alias("m"))
    return (
        best.join(part, best["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(supp), F.col("m.l_suppkey") == F.col("s_suppkey"))
        .select("p_partkey", "p_brand", "s_name", "s_suppkey", F.col("m.unit_price").alias("unit_price"))
    )


@register(
    "nation_market_share",
    oracle="""
    SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
           r.r_name AS region,
           CAST(SUM(CASE WHEN n.n_name = 'NATION_2'
                         THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                              * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))
                         ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
           / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS mkt_share
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY 1, 2
    """,
    doc="TPC-H Q8-shaped market share: NATION_2's fraction of discounted "
    "revenue per (year, customer region). Conditional decimal sum over "
    "total decimal sum — one double division per output row; the share "
    "needs no self-join, just CASE inside the aggregate. nation/region "
    "broadcast; lineitem⋈orders⋈customer are the justified shuffles.",
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    disc = dec("l_extendedprice") * (F.lit(1).cast("decimal(4,2)") - dec("l_discount", 4, 2))
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    )
    zero = F.lit(0).cast("decimal(18,4)")
    return (
        j.groupBy(
            F.year("o_orderdate").cast("int").alias("o_year"), F.col("r_name").alias("region")
        )
        .agg(
            (
                F.sum(F.when(F.col("n_name") == "NATION_2", disc).otherwise(zero)).cast("double")
                / F.sum(disc).cast("double")
            ).alias("mkt_share")
        )
    )


@register(
    "important_parts",
    oracle="""
    WITH pv AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS v
      FROM lineitem GROUP BY l_partkey
    ), tot AS (SELECT SUM(v) AS t, COUNT(*) AS n_parts FROM pv)
    SELECT pv.l_partkey AS p_partkey, CAST(pv.v AS DOUBLE) AS part_value
    FROM pv CROSS JOIN tot
    WHERE pv.v > tot.t * CAST(0.0005 AS DECIMAL(10,6))
    """,
    doc="TPC-H Q11-shaped 'important stock': parts whose lineitem value "
    "exceeds a fraction of the GLOBAL total. The scalar subquery is a "
    "1-row re-aggregate of the per-part aggregate (no second scan), "
    "stamped back via the zero-key one-row BroadcastHashJoin — no "
    "collect, no unpartitioned window; the decimal threshold compare is "
    "exact.",
)
def important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    pv = li.groupBy("l_partkey").agg(
        F.sum(dec("l_extendedprice") * dec("l_quantity", 18, 2)).alias("v")
    )
    tot = pv.agg(F.sum("v").alias("t"), F.count(F.lit(1)).alias("n_parts"))
    stamped = _stamp_global(pv, "l_partkey", tot, "n_parts")
    return (
        stamped.filter(F.col("v") > F.col("t") * F.lit(0.0005).cast("decimal(10,6)"))
        .select(F.col("l_partkey").alias("p_partkey"), F.col("v").cast("double").alias("part_value"))
    )


@register(
    "customer_order_distribution",
    oracle="""
    WITH per_cust AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM per_cust GROUP BY c_count
    """,
    doc="TPC-H Q13-shaped distribution: orders per customer (zero "
    "included via left join — COUNT(col) skips the NULLs an unmatched "
    "customer produces), then customers per order-count. Two hash "
    "aggregates; the second one's input is one row per customer.",
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy(c["c_custkey"])
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "top_revenue_suppliers",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS total_revenue
      FROM lineitem GROUP BY l_suppkey
    ), mx AS (SELECT MAX(total_revenue) AS m, COUNT(*) AS n FROM rev)
    SELECT s.s_suppkey, s.s_name, CAST(r.total_revenue AS DOUBLE) AS total_revenue
    FROM rev r CROSS JOIN mx
    JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.total_revenue = mx.m
    """,
    doc="TPC-H Q15-shaped top supplier: supplier(s) whose discounted "
    "revenue equals the global maximum. The view+scalar-subquery "
    "formulation becomes per-supplier aggregate → 1-row max re-aggregate "
    "→ zero-key broadcast stamp → exact decimal equality. Keeps every "
    "tied supplier, like the spec.",
)
def top_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    disc = dec("l_extendedprice") * (F.lit(1).cast("decimal(4,2)") - dec("l_discount", 4, 2))
    rev = li.groupBy("l_suppkey").agg(F.sum(disc).alias("total_revenue"))
    mx = rev.agg(F.max("total_revenue").alias("m"), F.count(F.lit(1)).alias("n"))
    top = _stamp_global(rev, "l_suppkey", mx, "n").filter(F.col("total_revenue") == F.col("m"))
    return top.join(F.broadcast(supp), top["l_suppkey"] == supp["s_suppkey"]).select(
        "s_suppkey", "s_name", F.col("total_revenue").cast("double").alias("total_revenue")
    )


@register(
    "small_quantity_part_revenue",
    oracle="""
    WITH pa AS (
      SELECT l_partkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS DOUBLE)
             AS avg_yearly,
           COUNT(*) AS n_lineitems
    FROM lineitem l
    JOIN pa ON pa.l_partkey = l.l_partkey
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'BRAND_1' AND l.l_quantity < 0.2 * pa.avg_qty
    """,
    doc="TPC-H Q17-shaped small-quantity revenue: lineitems under 20% of "
    "their part's average quantity, for one brand. The correlated AVG "
    "becomes a per-part aggregate joined back on partkey (both sides "
    "partition by partkey — AQE coalesces; at 100 TB bucketing lineitem "
    "by partkey makes it shuffle-free); the brand dim filter is a "
    "broadcast semi. avg as decimal-sum/count, one double compare per "
    "row.",
)
def small_quantity_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_brand") == "BRAND_1")
    pa = li.groupBy(F.col("l_partkey").alias("__pk")).agg(
        (F.sum(dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty")
    )
    j = (
        li.join(pa, li["l_partkey"] == pa["__pk"])
        .join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
    )
    return j.agg(
        (F.sum(dec("l_extendedprice")).cast("double") / F.lit(7.0)).cast("double").alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


@register(
    "disjunctive_brand_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'BRAND_1' AND p.p_size BETWEEN 1 AND 5  AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'BRAND_2' AND p.p_size BETWEEN 1 AND 10 AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'BRAND_3' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19-shaped disjunctive join: OR-of-ANDs over part "
    "attributes × lineitem quantity. The part side of every disjunct is "
    "pre-filtered before the join (brand IN + size ≤ 15 pushed to the "
    "part scan → broadcast), so the OR evaluates on the joined stream "
    "once — the equi-join on partkey stays an equi-join; no disjunction "
    "ever reaches the join condition (which would force nested-loop).",
)
def disjunctive_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("BRAND_1", "BRAND_2", "BRAND_3") & F.col("p_size").between(1, 15)
    )
    q, b, sz = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    disjuncts = (
        ((b == "BRAND_1") & sz.between(1, 5) & q.between(1, 11))
        | ((b == "BRAND_2") & sz.between(1, 10) & q.between(10, 20))
        | ((b == "BRAND_3") & sz.between(1, 15) & q.between(20, 30))
    )
    disc = dec("l_extendedprice") * (F.lit(1).cast("decimal(4,2)") - dec("l_discount", 4, 2))
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .filter(disjuncts)
        .agg(F.sum(disc).cast("double").alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )


@register(
    "waiting_orders_per_supplier",
    oracle="""
    WITH per_os AS (
      SELECT l.l_orderkey, l.l_suppkey,
             MAX(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY THEN 1 ELSE 0 END) AS late
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'F'
      GROUP BY l.l_orderkey, l.l_suppkey
    ), per_o AS (
      SELECT l_orderkey, COUNT(*) AS n_supp, SUM(late) AS n_late
      FROM per_os GROUP BY l_orderkey
    )
    SELECT s.s_suppkey, s.s_name, COUNT(*) AS numwait
    FROM per_os p
    JOIN per_o t ON t.l_orderkey = p.l_orderkey AND t.n_supp >= 2 AND t.n_late = 1
    JOIN supplier s ON s.s_suppkey = p.l_suppkey
    WHERE p.late = 1
    GROUP BY s.s_suppkey, s.s_name
    """,
    doc="TPC-H Q21-shaped 'suppliers who kept orders waiting': finished "
    "orders involving ≥2 suppliers where EXACTLY ONE shipped >90 days "
    "after the order date; count such orders per guilty supplier. The "
    "EXISTS/NOT-EXISTS double correlated subquery collapses into two "
    "stacked aggregates on shrinking keys — (order, supplier) then "
    "order — and one join back; nothing correlates row-at-a-time.",
)
def waiting_orders_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supp = load(spark, sf_dir, "supplier")
    per_os = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                # interval add, not date_add: date_add would truncate the
                # timestamp to a date before the compare
                F.when(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"), 1).otherwise(0)
            ).alias("late")
        )
    )
    per_o = per_os.groupBy(F.col("l_orderkey").alias("__ok")).agg(
        F.count(F.lit(1)).alias("n_supp"), F.sum("late").alias("n_late")
    ).filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
    return (
        per_os.filter(F.col("late") == 1)
        .join(per_o, per_os["l_orderkey"] == per_o["__ok"])
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "rich_inactive_customers",
    oracle="""
    WITH avg_bal AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS a, COUNT(*) AS n
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_mktsegment,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer c CROSS JOIN avg_bal
    WHERE c.c_acctbal > avg_bal.a
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c.c_mktsegment
    """,
    doc="TPC-H Q22-shaped: customers with above-average positive balance "
    "and no RECENT orders (none since 2000-01-01 — the testdata gives "
    "every customer some order, so the pure no-orders variant would be "
    "a vacuous 0-row check), grouped by market segment. Global average "
    "= 1-row aggregate + zero-key broadcast stamp; NOT EXISTS = "
    "left_anti join whose right side is filtered and pruned to "
    "o_custkey before the shuffle. Decimal sum/count division.",
)
def rich_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("a"),
        F.count(F.lit(1)).alias("n"),
    )
    rich = _stamp_global(c, "c_custkey", avg_bal, "n").filter(F.col("c_acctbal") > F.col("a"))
    inactive = rich.join(o, rich["c_custkey"] == o["o_custkey"], "left_anti")
    return inactive.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum(dec("c_acctbal")).cast("double").alias("totacctbal"),
    )


# ---------------------------------------------------------------------------
# Corpus pipeline: contamination screening, tf-idf
# ---------------------------------------------------------------------------


@register(
    "train_eval_contamination",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS tk FROM documents),
    grams AS (
      SELECT DISTINCT doc_id, array_to_string(list_slice(tk, i + 1, i + 5), ' ') AS g
      FROM toks, UNNEST(range(0, greatest(len(tk) - 5, 0) + 1)) AS u(i)
      WHERE i + 5 <= len(tk)
    ),
    eval_grams AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 0),
    train AS (SELECT doc_id, g FROM grams WHERE doc_id % 10 <> 0),
    hits AS (
      SELECT t.doc_id, COUNT(*) AS shared
      FROM train t JOIN eval_grams e ON e.g = t.g
      GROUP BY t.doc_id
    ),
    totals AS (SELECT doc_id, COUNT(*) AS n_grams FROM train GROUP BY doc_id)
    SELECT tt.doc_id,
           tt.n_grams,
           COALESCE(h.shared, 0) AS shared_grams,
           CAST(COALESCE(h.shared, 0) AS DOUBLE) / tt.n_grams AS contamination_frac,
           COALESCE(h.shared, 0) * 5 >= tt.n_grams AS is_contaminated
    FROM totals tt LEFT JOIN hits h ON h.doc_id = tt.doc_id
    """,
    doc="Benchmark-contamination screen: distinct word 5-grams per "
    "document; eval set = doc_id % 10 = 0; for every train doc, the "
    "fraction of its 5-grams that appear ANYWHERE in eval (flagged at "
    "≥20% via an integer cross-multiplication — no float threshold). "
    "Plan: explode → distinct per side → one equi join on the gram "
    "string → two aggregates. The eval gram set is a fraction of the "
    "corpus and the join is hash-partitioned on the gram — no "
    "broadcast of unbounded state, linear at 100 TB.",
    bench=True,
)
def train_eval_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    n = 5
    # single pass, no join: the old eval-set/train-set equi-join form
    # consumed the exploded-distinct gram set THREE times (eval grams,
    # hits, totals) and Spark re-executed the explode+distinct for each
    # branch. One max-over-gram window marks every gram that any eval
    # doc contains; the per-train-doc aggregate then needs only a
    # conditional sum. Shuffles: distinct, window on g, groupBy doc.
    # per-doc distinct via array_distinct before the explode — identical
    # rows with zero exchange (documents is one row per doc_id; r14) —
    # via the arrow gram kernel (text.word_ngrams_exploded, r14)
    grams = word_ngrams_exploded(d, "doc_id", "text", n)
    wg = Window.partitionBy("g")
    flagged = grams.withColumn(
        "in_eval", F.max(F.when(F.col("doc_id") % 10 == 0, 1).otherwise(0)).over(wg)
    ).filter(F.col("doc_id") % 10 != 0)
    shared = F.sum("in_eval").cast("bigint")
    n_grams = F.count(F.lit(1))
    return flagged.groupBy("doc_id").agg(
        n_grams.alias("n_grams"),
        shared.alias("shared_grams"),
        (shared.cast("double") / n_grams).alias("contamination_frac"),
        (shared * n >= n_grams).alias("is_contaminated"),
    )


@register(
    "doc_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS tk FROM documents),
    tok AS (SELECT doc_id, u.t AS term FROM toks, UNNEST(tk) AS u(t) WHERE length(t) > 0),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n, COUNT(*) AS n_tok FROM tok),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             CAST(tf.tf AS DOUBLE)
               * ((CAST(nd.n AS DOUBLE) + 1.0) / (CAST(df.df AS DOUBLE) + 1.0)) AS score
      FROM tf JOIN df ON df.term = tf.term CROSS JOIN nd
    )
    SELECT doc_id, term, tf, rank FROM (
      SELECT doc_id, term, tf,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
    doc="Per-document top-3 terms by tf-idf with the RATIONAL idf "
    "(N+1)/(df+1) — log-free for cross-engine bit-equality (same "
    "rationale as doc_bm25_relevance). Plan: (doc, term) tf aggregate, "
    "term-keyed df join, zero-key broadcast of the 1-row corpus count, "
    "then a doc-sharded ranking window (≤ vocabulary-of-one-doc rows "
    "per task). Rank/term/tf output keeps floats out of the hash.",
)
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokenize("text")).alias("term")).filter(F.length("term") > 0)
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tok.groupBy(F.col("term").alias("__t")).agg(F.count_distinct("doc_id").alias("df"))
    nd = tok.agg(F.count_distinct("doc_id").alias("n"), F.count(F.lit(1)).alias("n_tok"))
    scored = _stamp_global(
        tf.join(df_, tf["term"] == df_["__t"]), "doc_id", nd, "n_tok"
    ).select(
        "doc_id",
        "term",
        "tf",
        (
            F.col("tf").cast("double")
            * ((F.col("n").cast("double") + F.lit(1.0)) / (F.col("df").cast("double") + F.lit(1.0)))
        ).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "rank")
    )


@register(
    "corpus_source_stats",
    oracle=f"""
    WITH toks AS (
      SELECT source, lang, n_chars, len(string_split({_NORM}, ' ')) AS n_tok
      FROM documents
    )
    SELECT source, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(n_tok AS BIGINT)) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST(n_chars AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM toks GROUP BY source, lang
    """,
    doc="Per-(source, lang) corpus inventory: document counts, token "
    "totals, average length — the quota table a balanced-sampling pass "
    "reads. One narrow aggregate; integer sums, one final division.",
)
def corpus_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    base = d.select("source", "lang", "n_chars", F.size(tokenize("text")).alias("n_tok"))
    return base.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_tok").cast("bigint")).alias("total_tokens"),
        (F.sum(F.col("n_chars").cast("bigint")).cast("double") / F.count(F.lit(1))).alias("avg_chars"),
    )


@register(
    "embedding_norm_stats",
    oracle="""
    WITH norms AS (
      SELECT label,
             CAST(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                        CAST(embedding AS DOUBLE[]))) AS DECIMAL(28,12)) AS nrm
      FROM embeddings
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           CAST(SUM(nrm) AS DOUBLE) AS total_norm,
           CAST(MIN(nrm) AS DOUBLE) AS min_norm,
           CAST(MAX(nrm) AS DOUBLE) AS max_norm
    FROM norms GROUP BY label
    """,
    doc="Per-label L2-norm statistics over the embedding column — the "
    "sanity pass before normalization/ANN indexing. Per-row norm is a "
    "fixed fold (aggregate/zip_with ≡ DuckDB list_dot_product; verified "
    "bit-identical to DuckDB's sequential list_reduce fold on the scale "
    "corpora) + one correctly-rounded sqrt → bit-identical doubles; "
    "summing via DECIMAL(28,12) makes the aggregate order-independent "
    "(plain double sums would drift with partition order). Residual "
    "cross-engine divergence at big SF is the double→decimal QUANTIZER "
    "itself: Spark casts HALF_UP, DuckDB HALF_EVEN (measured: "
    "1.0000000000005 → …001 vs …000), so norms landing on the 12th-digit "
    "half-boundary round apart and the label totals differ in the last "
    "ulp — not fixable without an exactly-representable quantization; "
    "the sweep's documented-envelope check verifies every diff ≤ 1 ulp.",
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    nrm = F.sqrt(
        F.aggregate(F.zip_with(v, v, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x)
    ).cast("decimal(28,12)")
    return (
        e.select("label", nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("nrm").cast("double").alias("total_norm"),
            F.min("nrm").cast("double").alias("min_norm"),
            F.max("nrm").cast("double").alias("max_norm"),
        )
    )


# ---------------------------------------------------------------------------
# Data-quality validation + token budgeting
# ---------------------------------------------------------------------------


@register(
    "orders_quality_report",
    oracle="""
    SELECT 'not_null' AS check, 'o_orderkey' AS "column",
           COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS n_violations,
           COUNT(*) FILTER (WHERE o_orderkey IS NULL) = 0 AS passed
    FROM orders
    UNION ALL
    SELECT 'unique', 'o_orderkey',
           COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey),
           COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) = 0
    FROM orders
    UNION ALL
    SELECT 'accepted_values', 'o_orderstatus',
           COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('O', 'F', 'P') AND o_orderstatus IS NOT NULL),
           COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('O', 'F', 'P') AND o_orderstatus IS NOT NULL) = 0
    FROM orders
    UNION ALL
    SELECT 'in_range', 'o_totalprice',
           COUNT(*) FILTER (WHERE o_totalprice < 0 OR o_totalprice > 100000),
           COUNT(*) FILTER (WHERE o_totalprice < 0 OR o_totalprice > 100000) = 0
    FROM orders
    UNION ALL
    SELECT 'referential', 'o_custkey',
           (SELECT COUNT(*) FROM orders o WHERE o.o_custkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
           (SELECT COUNT(*) FROM orders o WHERE o.o_custkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) = 0
    """,
    doc="Declarative data-quality gate (operators/quality.py — the "
    "dbt-tests/Deequ pattern): five expectations over orders — key "
    "not-null + unique, status enum, price range (range chosen to "
    "actually FAIL on the testdata, proving violations are counted, "
    "not just zeros), and orphaned-custkey referential integrity. All "
    "row-level checks evaluate in ONE aggregate pass; the FK check is "
    "one broadcast anti join.",
)
def orders_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_data_pipeline_exercise_spark.operators import quality as Q

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    row_checks = Q.validate(
        o,
        [
            Q.not_null("o_orderkey"),
            Q.unique("o_orderkey"),
            Q.accepted_values("o_orderstatus", ["O", "F", "P"]),
            Q.in_range("o_totalprice", 0, 100000),
        ],
    )
    fk = Q.referential_check(o, "o_custkey", c, "c_custkey")
    return row_checks.unionByName(fk)


@register(
    "doc_token_estimates",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS BIGINT) AS n_words,
           CAST(len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9\\s]+')) AS BIGINT) AS n_bpe_est,
           CASE WHEN len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9\\s]+')) > 0
                THEN CAST(length(text) AS DOUBLE)
                     / len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9\\s]+'))
                ELSE 0.0 END AS chars_per_token
    FROM documents
    """,
    doc="Tokenizer-free token budgeting (operators/text.py "
    "with_token_estimates): word runs and a BPE-ish subword estimate "
    "(letter runs split every 4 chars, digits every 3 — "
    "disjoint-start alternation, so Java and RE2 tokenize "
    "identically). The per-doc numbers a packing or quota pass needs "
    "without shipping a real tokenizer; pure regexp_count projection.",
)
def doc_token_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_data_pipeline_exercise_spark.operators.text import with_token_estimates

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return with_token_estimates(d).select("doc_id", "n_words", "n_bpe_est", "chars_per_token")


@register(
    "dominant_part_suppliers",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS supp_qty
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), pt AS (
      SELECT l_partkey, SUM(supp_qty) AS part_qty, COUNT(*) AS n_supp
      FROM ps GROUP BY l_partkey
    )
    SELECT ps.l_partkey AS p_partkey, ps.l_suppkey AS s_suppkey,
           CAST(ps.supp_qty AS DOUBLE) / CAST(pt.part_qty AS DOUBLE) AS qty_share
    FROM ps JOIN pt ON pt.l_partkey = ps.l_partkey
    WHERE pt.n_supp >= 2 AND ps.supp_qty * 20 > pt.part_qty * 3
    """,
    doc="TPC-H Q20-shaped dominance: suppliers shipping MORE THAN HALF "
    "of a multi-supplier part's total quantity (15% — the synthetic "
    "data spreads each part over ~10 suppliers, so a literal half-share "
    "would be a vacuous empty check). The correlated share-of-total subquery becomes two stacked aggregates on shrinking "
    "keys — (part, supplier) then part — and one equi join back on "
    "partkey (both sides already partitioned by it); the threshold "
    "compare is exact decimal integer-style cross-multiplication, the "
    "share a final double division.",
)
def dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(F.sum(dec("l_quantity")).alias("supp_qty"))
    pt = ps.groupBy(F.col("l_partkey").alias("__pk")).agg(
        F.sum("supp_qty").alias("part_qty"), F.count(F.lit(1)).alias("n_supp")
    )
    return (
        ps.join(pt, ps["l_partkey"] == pt["__pk"])
        .filter((F.col("n_supp") >= 2) & (F.col("supp_qty") * 20 > F.col("part_qty") * 3))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("l_suppkey").alias("s_suppkey"),
            (F.col("supp_qty").cast("double") / F.col("part_qty").cast("double")).alias("qty_share"),
        )
    )


@register(
    "revenue_grouping_sets",
    oracle="""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
           o_orderstatus AS status,
           GROUPING(EXTRACT(year FROM o_orderdate), o_orderstatus) AS gid,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((EXTRACT(year FROM o_orderdate), o_orderstatus),
                            (EXTRACT(year FROM o_orderdate)), (o_orderstatus), ())
    """,
    doc="Explicit GROUPING SETS (beyond the cube/rollup queries): "
    "(year, status) + each alone + grand total in ONE pass via Spark "
    "4's DataFrame.groupingSets, with grouping_id disambiguating "
    "NULL-as-group-all from NULL data. Plans as a single Expand + "
    "hash aggregate — no self-union of four scans.",
)
def revenue_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    year = F.year("o_orderdate").cast("int").alias("o_year")
    status = F.col("o_orderstatus").alias("status")
    base = o.select(year, status, F.col("o_totalprice"))
    return (
        base.groupingSets(
            [["o_year", "status"], ["o_year"], ["status"], []],
            F.col("o_year"),
            F.col("status"),
        )
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.sum(dec("o_totalprice")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select("o_year", "status", "gid", "revenue", "n_orders")
    )


@register(
    "lineitem_column_profile",
    oracle="""
    SELECT 'l_quantity' AS "column", COUNT(*) AS n,
           COUNT(*) - COUNT(l_quantity) AS n_null,
           COUNT(DISTINCT l_quantity) AS n_distinct,
           CAST(MIN(l_quantity) AS DOUBLE) AS min_v,
           CAST(MAX(l_quantity) AS DOUBLE) AS max_v
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', COUNT(*), COUNT(*) - COUNT(l_extendedprice),
           COUNT(DISTINCT l_extendedprice),
           CAST(MIN(l_extendedprice) AS DOUBLE), CAST(MAX(l_extendedprice) AS DOUBLE)
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', COUNT(*), COUNT(*) - COUNT(l_discount),
           COUNT(DISTINCT l_discount),
           CAST(MIN(l_discount) AS DOUBLE), CAST(MAX(l_discount) AS DOUBLE)
    FROM lineitem
    """,
    doc="ANALYZE-style column profiling (the statistics a cost-based "
    "optimizer or data-quality dashboard reads): row count, null "
    "count, exact NDV, min/max per profiled column — ALL columns in "
    "ONE aggregate pass (struct-explode report rows, same shape as "
    "operators/quality.py), not one scan per column.",
)
def lineitem_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"__n_{c}"),
            (F.count(F.lit(1)) - F.count(F.col(c))).alias(f"__nn_{c}"),
            F.count_distinct(F.col(c)).alias(f"__nd_{c}"),
            F.min(F.col(c)).cast("double").alias(f"__mn_{c}"),
            F.max(F.col(c)).cast("double").alias(f"__mx_{c}"),
        ]
    one = li.agg(*aggs)
    reports = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"__n_{c}").alias("n"),
            F.col(f"__nn_{c}").alias("n_null"),
            F.col(f"__nd_{c}").alias("n_distinct"),
            F.col(f"__mn_{c}").alias("min_v"),
            F.col(f"__mx_{c}").alias("max_v"),
        )
        for c in cols
    ]
    return one.select(F.explode(F.array(*reports)).alias("r")).select(
        "r.column", "r.n", "r.n_null", "r.n_distinct", "r.min_v", "r.max_v"
    )


@register(
    "shipping_priority_top10",
    oracle="""
    SELECT l.l_orderkey AS o_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) DESC,
             l.l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3-shaped shipping priority: revenue of orders placed "
    "before but shipped after a cutoff, one market segment, top 10. "
    "The ORDER BY + LIMIT plans as TakeOrderedAndProject over the "
    "aggregate — per-partition top-10 then a driver merge of 10×P "
    "rows, never a global sort. Ties break on orderkey; ranking "
    "happens on the EXACT decimal before the double cast.",
)
def shipping_priority_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    disc = dec("l_extendedprice") * (F.lit(1).cast("decimal(4,2)") - dec("l_discount", 4, 2))
    agg = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(disc).alias("__rev"))
        .orderBy(F.col("__rev").desc(), F.col("l_orderkey"))
        .limit(10)
    )
    return agg.select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.col("__rev").cast("double").alias("revenue"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        "o_orderpriority",
    )


@register(
    "forecast_revenue_change",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue_delta,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6-shaped forecasting filter-aggregate: one scan, every "
    "predicate (date range, discount band, quantity cap) pushed to the "
    "parquet reader — .explain shows all four in PushedFilters, no "
    "join, no shuffle beyond the final 1-row reduce.",
)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    sel = li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return sel.agg(
        F.sum(dec("l_extendedprice") * dec("l_discount", 4, 2)).cast("double").alias("revenue_delta"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "product_profit_by_nation_year",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))
                    - CAST(p.p_retailprice AS DECIMAL(18,2))
                      * CAST(0.6 AS DECIMAL(4,2)) * CAST(l.l_quantity AS DECIMAL(18,2)))
                AS DOUBLE) AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type LIKE 'S%'
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY n.n_name, CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER)
    """,
    doc="TPC-H Q9-shaped product profit: discounted revenue minus a "
    "retail-price-derived cost proxy (the testdata ships no partsupp/"
    "supplycost — 60% of retail stands in), per supplier nation and "
    "order year, parts filtered by type prefix (pushed to the part "
    "scan, LIKE 'x%' becomes a StartsWith filter). part/supplier/"
    "nation broadcast; lineitem⋈orders is the one big shuffle. All "
    "money arithmetic in exact decimals, one final double cast.",
)
def product_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_type").like("S%"))
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders")
    profit = dec("l_extendedprice") * (F.lit(1).cast("decimal(4,2)") - dec("l_discount", 4, 2)) - dec(
        "p_retailprice"
    ) * F.lit(0.6).cast("decimal(4,2)") * dec("l_quantity", 18, 2)
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(F.sum(profit).cast("double").alias("profit"))
    )


@register(
    "late_shipment_priority_counts",
    oracle="""
    SELECT l.l_returnflag AS returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
             AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
             AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    GROUP BY l.l_returnflag
    """,
    doc="TPC-H Q12-shaped late-shipment accounting (the testdata has no "
    "l_shipmode — l_returnflag takes its grouping role): lineitems "
    "shipped >60 days after ordering, split into high/low priority "
    "conditional counts. One join, one conditional aggregate; the "
    "late predicate is a row-local timestamp comparison.",
)
def late_shipment_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "supplier_count_by_part_attrs",
    oracle="""
    SELECT p.p_brand, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_size IN (1, 5, 9, 13)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_size
    """,
    doc="TPC-H Q16-shaped supplier diversity: distinct suppliers per "
    "(brand, size) over selected sizes, EXCLUDING a supplier denylist "
    "(negative balance, standing in for the spec's complaints filter). "
    "NOT IN over a non-nullable key = left_anti join against the "
    "broadcast denylist; size membership pushed to the part scan.",
)
def supplier_count_by_part_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_size").isin(1, 5, 9, 13))
    bad = load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), li["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "local_supplier_volume",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS revenue,
           COUNT(*) AS line_count
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01' AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
    doc="TPC-H Q5 shape (the last uncovered Q number): revenue from "
    "LOCAL supply chains — lineitems whose supplier sits in the "
    "customer's own nation, region- and date-windowed, grouped by "
    "nation. The supplier join carries the co-nationality predicate as "
    "a compound equi condition (suppkey AND nationkey), so Catalyst "
    "keeps it a hash join; nation/region broadcast; the date filter "
    "pushes to the orders scan.",
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    one = F.lit(1).cast("decimal(4,2)")
    revenue = dec("l_extendedprice") * (one - dec("l_discount", 4, 2))
    return (
        c.join(o, o.o_custkey == c.c_custkey)
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(s, (s.s_suppkey == li.l_suppkey) & (s.s_nationkey == c.c_nationkey))
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(revenue).cast("double").alias("revenue"), F.count(F.lit(1)).alias("line_count"))
    )


from batch_data_pipeline_exercise_spark.operators.layout import morton_key_sql as _morton_key_sql

_ZORDER_KEY_SQL = _morton_key_sql(
    ["o_custkey % 1024", "CAST(EXTRACT(doy FROM o_orderdate) AS BIGINT)"], bits=10
)


@register(
    "orders_zorder_keys",
    oracle=f"""
    SELECT o_orderkey, {_ZORDER_KEY_SQL} AS zkey
    FROM orders
    """,
    doc="Z-order (Morton) clustering key over (customer, day-of-year) — "
    "the multi-dimensional data-skipping layout key (operators/layout.py "
    "morton_key): bit-interleaved integer key, pure codegen arithmetic, "
    "identical in both engines.",
    bench=True,
)
def orders_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_data_pipeline_exercise_spark.operators import layout

    o = load(spark, sf_dir, "orders")
    key = layout.morton_key(
        [F.col("o_custkey") % 1024, F.dayofyear("o_orderdate").cast("bigint")], bits=10
    )
    return o.select("o_orderkey", key.alias("zkey"))


@register(
    "user_reach_by_type",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_distinct,
           COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
    doc="Incremental COUNT(DISTINCT) via mergeable HLL sketches "
    "(operators/sketches.py): the event log is sliced into three "
    "increments, each sketched independently, and the per-increment "
    "sketch rows are union-merged at read time — the only maintenance "
    "shape that avoids re-scanning history for distinct counts. In the "
    "sketch's exact (coupon) regime — which holds at the driver's "
    "sf0.01 scale (1.5k users/type) — the estimate equals the true "
    "count, so a plain COUNT(DISTINCT) oracle pins the whole "
    "slice→sketch→merge path. DataSketches promotes to estimation mode "
    "well below 2^lgK items: measured at sf1 (15k users/type, lgK=17) "
    "the estimate is within 0.4% (15054 vs 15000), the documented "
    "~1.04/2^(lgK/2) HLL error — an APPROXIMATE answer by design there, "
    "not a defect (SCALE.md round-6). Slicing-invariance is separately "
    "tested in tests/test_sketches.py.",
    bench=True,
)
def user_reach_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    # Fused increment shape (r14): each slice computes its HLL sketch
    # AND its event count in ONE aggregate (the old per-slice
    # sketch-agg + count-agg + join re-scanned the slice), and the
    # read-time rollup is ONE groupBy carrying both the hll_union_agg
    # merge and the count sum — no join at all; groupBy keeps a NULL
    # event_type group exactly as the oracle's GROUP BY does (the old
    # shape needed an eqNullSafe join for that). Sketch rows still
    # union-merge at read time, which is the operator contract this
    # query pins; sketch bytes are set-determined, so the fused
    # aggregate's sketches are the ones build_distinct_sketches built.
    # Measured at sf0.1: wall 2.4-4.7 -> 0.9-1.6 s, CPU 0.45-0.67 ->
    # 0.15-0.34 s, exact same rows (the plan drops all 7
    # BroadcastHashJoins).
    table = None
    for i in range(3):
        part = e.filter(F.col("event_id") % 3 == i)
        s = part.groupBy("event_type").agg(
            F.hll_sketch_agg(F.col("user_id"), F.lit(17)).alias("hll_sketch"),
            F.count(F.lit(1)).alias("__n"),
        )
        table = s if table is None else table.unionByName(s)
    return (
        table.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(
                F.hll_union_agg(F.col("hll_sketch"), F.lit(True))
            ).alias("n_distinct"),
            F.sum("__n").alias("n_events"),
        )
        .select("event_type", "n_distinct", "n_events")
    )
