"""Second breadth batch of driver-contract queries — covers the SURVEY §2
operator families not yet exercised by ``contract.py``: set operations,
conditional/pivot aggregation, rollup, window frames (lag + running sums),
top-k per group, range filters with string functions, and the M1 SCD2
snapshot merge as an oracle-checked query.

Same cross-engine determinism rules as ``contract.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from batch_data_pipeline_exercise_spark.operators import ranking
from batch_data_pipeline_exercise_spark.operators.scd2 import scd2_from_events, scd2_merge_events, scd2_snapshot_merge
from batch_data_pipeline_exercise_spark.plans.contract import SENTINEL, dec, fmt_ts, load, register

# ---------------------------------------------------------------------------
# Aggregation variants
# ---------------------------------------------------------------------------


@register(
    "monthly_open_orders",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           COUNT(*) AS orders_created,
           COUNT(*) FILTER (WHERE o_orderstatus <> 'F') AS not_finished
    FROM orders GROUP BY 1
    """,
    doc="Reference metric 5 shape (README.md:49): per-month conditional "
    "aggregation — created vs not-finished counts (A5).",
)
def monthly_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month")).agg(
        F.count(F.lit(1)).alias("orders_created"),
        F.count_if(F.col("o_orderstatus") != "F").alias("not_finished"),
    )


@register(
    "event_type_pivot",
    oracle="""
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'click') AS click,
           COUNT(*) FILTER (WHERE event_type = 'view') AS view,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
           COUNT(*) FILTER (WHERE event_type = 'error') AS error
    FROM events GROUP BY user_id
    """,
    doc="Pivot: per-user event-type counts as columns (explicit value list "
    "keeps the plan a single pass — no extra distinct-values job).",
)
def event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(F.count(F.lit(1)))
        # subset: an unsubsetted fill would also rewrite a NULL user_id
        # group key to 0, diverging from the oracle's NULL group
        .na.fill(0, subset=["click", "view", "purchase", "signup", "error"])
    )


@register(
    "revenue_rollup",
    oracle="""
    SELECT r.r_name AS region,
           CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS year,
           COUNT(*) AS order_count,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, EXTRACT(year FROM o.o_orderdate))
    """,
    doc="Hierarchical rollup (region → region+year → grand total) with "
    "NULL super-aggregate markers (A-family extension).",
)
def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup(F.col("r_name").alias("region"), F.year("o_orderdate").alias("year"))
        .agg(F.count(F.lit(1)).alias("order_count"), F.sum(dec("o_totalprice")).cast("double").alias("total_price"))
    )


@register(
    "event_props_json",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS k_sum,
           MAX(CAST(json_extract(props, '$.k') AS INTEGER)) AS k_max,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
    doc="Semi-structured JSON column: extract props.k from the JSON string "
    "payload and aggregate (get_json_object family — parsed in-flight, no "
    "schema migration).",
)
def event_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.groupBy("event_type").agg(
        F.sum(k).alias("k_sum"), F.max(k).alias("k_max"), F.count(F.lit(1)).alias("n")
    )


@register(
    "distinct_users_per_type",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
    doc="Distinct aggregation (exact COUNT DISTINCT; the approx_count_distinct "
    "variant is engine-private HLL and intentionally not oracle-checked).",
)
def distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"), F.count(F.lit(1)).alias("n_events")
    )


@register(
    "median_price_by_status",
    oracle="""
    WITH ranked AS (
      SELECT o_orderstatus AS status, CAST(o_totalprice AS DECIMAL(18,2)) AS p,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
      FROM orders
    )
    SELECT status, CAST(AVG(p) AS DOUBLE) AS median_price
    FROM ranked
    WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
    GROUP BY status
    """,
    doc="Exact median via rank-the-middle (decimal mean of ≤2 middle values "
    "→ deterministic; native percentile interpolation differs across "
    "engines in the last ulp).",
)
def median_price_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    wn = Window.partitionBy("o_orderstatus")
    ranked = o.select(
        F.col("o_orderstatus").alias("status"),
        dec("o_totalprice").alias("p"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    mid = ranked.filter(
        (F.col("rn") == F.floor((F.col("n") + 1) / 2)) | (F.col("rn") == F.floor((F.col("n") + 2) / 2))
    )
    return mid.groupBy("status").agg(F.avg("p").cast("double").alias("median_price"))


@register(
    "lineitem_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'quantity' AS metric,
           CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS value FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'extendedprice',
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount',
           CAST(CAST(l_discount AS DECIMAL(18,2)) AS DOUBLE) FROM lineitem
    """,
    doc="Unpivot/melt via stack(): three measure columns → (metric, value) "
    "rows, one scan (vs the oracle's 3-scan UNION ALL).",
)
def lineitem_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(3, 'quantity', CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE), "
            "'extendedprice', CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE), "
            "'discount', CAST(CAST(l_discount AS DECIMAL(18,2)) AS DOUBLE)) AS (metric, value)"
        ),
    )


@register(
    "order_priority_cube",
    oracle="""
    SELECT o_orderstatus AS status, o_orderpriority AS priority, COUNT(*) AS order_count
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE: all 2^2 grouping combinations of status × priority with "
    "NULL super-aggregate markers (completes rollup's A-family).",
)
def order_priority_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.cube(
        F.col("o_orderstatus").alias("status"), F.col("o_orderpriority").alias("priority")
    ).agg(F.count(F.lit(1)).alias("order_count"))


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------


@register(
    "active_nations",
    oracle="""
    SELECT n_nationkey, n_name FROM nation
    WHERE n_nationkey IN (SELECT c_nationkey FROM customer)
       OR n_nationkey IN (SELECT s_nationkey FROM supplier)
    """,
    doc="Set ops: nations having customers UNION nations having suppliers "
    "(semi-join + union + distinct).",
)
def active_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    active = c.unionByName(s).distinct()
    return n.join(active, n.n_nationkey == active.k, "left_semi").select("n_nationkey", "n_name")


# ---------------------------------------------------------------------------
# Window frames
# ---------------------------------------------------------------------------


@register(
    "user_sessions",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                       LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id
    """,
    doc="Sessionization: 30-minute-gap sessions per user via lag + running "
    "sum (W-family with frames; one shuffle on user_id).",
    bench=True,
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # (ts, event_id) on the running sum too: MAX(session_id) is tie-order
    # invariant, but a deterministic frame keeps the oracle comparison
    # exact on any engine's tie-breaking.
    wrun = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # µs-precision gap: timestampdiff(MICROSECOND), NOT cast('long') — the
    # cast truncates to whole seconds, which can disagree with the oracle's
    # exact INTERVAL comparison for gaps within 1s of the threshold.
    # timestampdiff works on both TIMESTAMP and TIMESTAMP_NTZ (the parquet
    # testdata carries naive timestamps, which Spark 4 reads as NTZ;
    # unix_micros rejects NTZ outright).
    flagged = (
        e.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            F.when(
                F.expr("timestampdiff(MICROSECOND, prev_ts, ts)") > 30 * 60 * 1_000_000, 1
            ).when(F.col("prev_ts").isNull(), 1).otherwise(0),
        )
        .drop("prev_ts")
    )
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(wrun))
    return sessions.groupBy("user_id").agg(
        F.max("session_id").cast("bigint").alias("n_sessions"), F.count(F.lit(1)).alias("n_events")
    )


@register(
    "event_session_windows",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             -- >= not >: Spark's session_window is half-open
             -- [start, last_ts + gap), so an event EXACTLY gap after its
             -- predecessor starts a NEW session — the oracle must agree
             -- at the boundary
             CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                       OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                          >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id, ts,
             -- cumsum ordered by the SAME (ts, event_id) as the lag pass:
             -- ordering by (ts, new_session) would attach a tied flag=0
             -- row to the OLD session while session_window puts both
             -- tied events in the new one
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, sid
    """,
    doc="Native session_window in BATCH mode (30-min gap), oracle-checked "
    "against the manual lag+cumsum session construction — proves the "
    "built-in operator's [min_ts, max_ts+gap) semantics cross-engine.",
)
def event_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            fmt_ts(F.col("w.start")).alias("session_start"),
            fmt_ts(F.col("w.end")).alias("session_end"),
            "n_events",
        )
    )


@register(
    "scd2_incremental_intervals",
    oracle=f"""
    WITH runs AS (
      SELECT user_id, event_type, ts,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev
      FROM events
    ), chg AS (
      SELECT user_id, event_type, ts FROM runs
      WHERE prev IS NULL OR prev IS DISTINCT FROM event_type
    )
    SELECT user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS start_time,
           strftime(COALESCE(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts),
                    TIMESTAMP '{SENTINEL}'), '%Y-%m-%d %H:%M:%S.%f') AS end_time
    FROM chg
    """,
    doc="Incremental M2: the event log split into a prior batch "
    "(ts < 2024-01-15) and a new batch, prior intervals built first, then "
    "scd2_merge_events folds the new batch in touching only its keys. The "
    "oracle is the FULL-history rebuild — proving incremental ≡ rebuild "
    "(the reference's cross-batch append without its overlap quirk).",
    bench=True,
)
def scd2_incremental_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    cut = F.lit("2024-01-15 00:00:00").cast("timestamp")
    prior = scd2_from_events(e.filter(F.col("ts") < cut), key="user_id", attr_cols=["event_type"], time_col="ts")
    out = scd2_merge_events(
        prior, e.filter(F.col("ts") >= cut), key="user_id", attr_cols=["event_type"], time_col="ts"
    )
    return out.select(
        "user_id", "event_type", fmt_ts("start_time").alias("start_time"), fmt_ts("end_time").alias("end_time")
    )


@register(
    "daily_event_running_value",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             SUM(CAST(value AS DECIMAL(18,2))) AS v
      FROM events GROUP BY 1, 2
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, event_type,
           CAST(v AS DOUBLE) AS day_value,
           CAST(SUM(v) OVER (PARTITION BY event_type ORDER BY day
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS running_value
    FROM daily
    """,
    doc="Running totals: per-type daily value + cumulative sum (window "
    "frame over pre-aggregated rows; decimal accumulation → exact).",
)
def daily_event_running_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day"), "event_type").agg(F.sum(dec("value")).alias("v"))
    wrun = Window.partitionBy("event_type").orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "event_type",
        F.col("v").cast("double").alias("day_value"),
        F.sum("v").over(wrun).cast("double").alias("running_value"),
    )


@register(
    "order_value_quartiles",
    oracle="""
    SELECT o_orderkey,
           NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile,
           DENSE_RANK() OVER (ORDER BY o_orderpriority) AS priority_rank
    FROM orders
    """,
    doc="Ranking windows beyond row_number: ntile quartiles over a global "
    "ordering + dense_rank over priorities (W-family completion). Computed "
    "scale-safely: range-repartition + per-partition windows + offset "
    "fix-up (operators/ranking.py) instead of a single-partition global "
    "sort — identical NTILE/DENSE_RANK semantics, no task sees more than "
    "one partition's rows.",
)
def order_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice", "o_orderpriority")
    q = ranking.with_global_ntile(o, ["o_totalprice", "o_orderkey"], 4, "quartile")
    pri = ranking.dense_rank_map(o, "o_orderpriority", "priority_rank")
    return q.join(F.broadcast(pri), "o_orderpriority").select(
        "o_orderkey", "quartile", F.col("priority_rank").cast("int").alias("priority_rank")
    )


@register(
    "user_event_gap_stats",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT user_id,
           COUNT(gap_us) AS n_gaps,
           CAST(SUM(gap_us) AS DOUBLE) / COUNT(gap_us) AS avg_gap_us,
           MIN(gap_us) AS min_gap_us,
           MAX(gap_us) AS max_gap_us
    FROM gaps GROUP BY user_id
    """,
    doc="Inter-event gap statistics per user via lag over µs epochs — "
    "integer arithmetic end-to-end, one double division at the surface.",
)
def user_event_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # timestampdiff, not unix_micros: works for TIMESTAMP and TIMESTAMP_NTZ
    gaps = e.select(
        "user_id", F.lag("ts").over(w).alias("prev_ts"), F.col("ts")
    ).select(
        "user_id", F.expr("timestampdiff(MICROSECOND, prev_ts, ts)").alias("gap_us")
    )
    return gaps.groupBy("user_id").agg(
        F.count("gap_us").alias("n_gaps"),
        (F.sum("gap_us").cast("double") / F.count("gap_us")).alias("avg_gap_us"),
        F.min("gap_us").alias("min_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
    )


@register(
    "top3_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, rnk FROM (
      SELECT o_custkey, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders
    ) WHERE rnk <= 3
    """,
    doc="Top-k per group (O-family): 3 priciest orders per customer, "
    "deterministic tiebreak.",
)
def top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk")
    )


@register(
    "orders_price_band_range_join",
    oracle="""
    WITH bands AS (
      SELECT CAST(i AS INTEGER) AS band_id,
             CAST(i AS DOUBLE) * 50000 AS lo,
             (CAST(i AS DOUBLE) + 1) * 50000 AS hi
      FROM range(0, 10) t(i)
    )
    SELECT b.band_id, COUNT(*) AS order_count,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders o JOIN bands b ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band_id
    """,
    doc="Non-equi interval join via the bucketized range-join operator "
    "(operators/rangejoin.py): price bands of width 50k, equi on bucket + "
    "residual predicate — no nested-loop join in the plan.",
)
def orders_price_band_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_data_pipeline_exercise_spark.operators.rangejoin import range_join

    o = load(spark, sf_dir, "orders")
    bands = spark.range(0, 10).select(
        F.col("id").cast("int").alias("band_id"),
        (F.col("id").cast("double") * 50000).alias("lo"),
        ((F.col("id").cast("double") + 1) * 50000).alias("hi"),
    )
    joined = range_join(o, bands, point_col="o_totalprice", start_col="lo", end_col="hi", bucket_width=50000)
    return joined.groupBy("band_id").agg(
        F.count(F.lit(1)).alias("order_count"),
        F.sum(dec("o_totalprice")).cast("double").alias("total_price"),
    )


@register(
    "priority_set_ops",
    oracle="""
    SELECT o_orderpriority, 'both' AS membership FROM (
      SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
      INTERSECT
      SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
    )
    UNION ALL
    SELECT o_orderpriority, 'only_f' FROM (
      SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
      EXCEPT
      SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
    )
    """,
    doc="INTERSECT / EXCEPT set operations over order priorities by status.",
)
def priority_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
    op = o.filter(F.col("o_orderstatus") == "O").select("o_orderpriority")
    both = f.intersect(op).withColumn("membership", F.lit("both"))
    only_f = f.subtract(op).withColumn("membership", F.lit("only_f"))
    return both.unionByName(only_f)


@register(
    "approx_sketches",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           TRUE AS hll_within_10pct,
           TRUE AS kll_within_rank_band
    FROM events GROUP BY event_type
    """,
    doc="Approximate aggregates (approx_count_distinct HLL++, "
    "percentile_approx): raw sketch estimates are engine-private, so "
    "the oracle-checkable surface is the TOLERANCE CONTRACT — the "
    "query computes both the approximate and the exact aggregate and "
    "returns the error assertions as booleans, which the oracle pins "
    "to TRUE. Both sketches are deterministic for a given dataset "
    "(HLL registers are order-independent max-merges; "
    "percentile_approx's rank error stays <= ceil(n/accuracy) ranks "
    "regardless of merge order, far inside the 45th-55th percentile "
    "band asserted here), so an engine regression that drifts an "
    "estimate out of tolerance turns the value-hash red. Exact "
    "counterparts: distinct_users_per_type, median_price_by_status. "
    "rsd=0.02 puts the 10% count band at 5 sigma.",
)
def approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("__au"),
        F.count_distinct("user_id").alias("__xu"),
        F.percentile_approx("value", 0.5).alias("__am"),
        F.expr("percentile(value, 0.45)").alias("__lo"),
        F.expr("percentile(value, 0.55)").alias("__hi"),
    )
    return agg.select(
        "event_type",
        "n",
        (F.abs(F.col("__au") - F.col("__xu")) <= 0.10 * F.col("__xu")).alias("hll_within_10pct"),
        # all-null value groups: both sides degenerate to null -> pass
        (
            (F.col("__am").isNull() & F.col("__lo").isNull())
            | ((F.col("__am") >= F.col("__lo")) & (F.col("__am") <= F.col("__hi")))
        ).alias("kll_within_rank_band"),
    )


# ---------------------------------------------------------------------------
# Filters + scalar functions + date-key join
# ---------------------------------------------------------------------------


@register(
    "recent_unfinished_orders",
    oracle="""
    SELECT o_orderkey,
           CAST(EXTRACT(year FROM o_orderdate) AS VARCHAR) || '_'
             || CAST(EXTRACT(quarter FROM o_orderdate) AS VARCHAR) AS quarter_label,
           o_orderpriority
    FROM orders
    WHERE o_orderdate < date_trunc('month', TIMESTAMP '2001-06-15 00:00:00')
      AND o_orderdate >= TIMESTAMP '2000-06-01 00:00:00'
      AND o_orderstatus <> 'F'
    """,
    doc="Range + inequality filters (P6/P7) with the year_quarter concat "
    "label (F10); filters push into the parquet scan.",
)
def recent_unfinished_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    cutoff = F.date_trunc("month", F.lit("2001-06-15 00:00:00").cast("timestamp"))
    return (
        o.filter(
            (F.col("o_orderdate") < cutoff)
            & (F.col("o_orderdate") >= F.lit("2000-06-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderstatus") != "F")
        )
        .select(
            "o_orderkey",
            F.concat_ws("_", F.year("o_orderdate"), F.quarter("o_orderdate")).alias("quarter_label"),
            "o_orderpriority",
        )
    )


@register(
    "orders_by_date_key",
    oracle="""
    WITH dim AS (
      SELECT strftime(d, '%Y%m%d') AS id,
             CAST(EXTRACT(year FROM d) AS INTEGER) AS year,
             CAST(EXTRACT(quarter FROM d) AS INTEGER) AS quarter
      FROM (SELECT DATE '1970-01-01' + CAST(i AS INTEGER) AS d FROM range(0, 29220) t(i))
    )
    SELECT dim.year, dim.quarter, COUNT(*) AS order_count
    FROM orders o JOIN dim ON strftime(o.o_orderdate, '%Y%m%d') = dim.id
    GROUP BY 1, 2
    """,
    doc="Reference metric 2 via the yyyymmdd surrogate date-key broadcast "
    "join against the generated dim_dates spine (J1 + F2 + S8).",
)
def orders_by_date_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_data_pipeline_exercise_spark.plans.dates import build_dim_dates

    o = load(spark, sf_dir, "orders").withColumn("date_key", F.date_format("o_orderdate", "yyyyMMdd"))
    dim = build_dim_dates(spark).select("id", "year", "quarter")
    return (
        o.join(F.broadcast(dim), o.date_key == dim.id)
        .groupBy("year", "quarter")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "user_daily_value_filled",
    oracle="""
    WITH daily AS (
      SELECT user_id, day, CAST(value AS DECIMAL(18,2)) AS v FROM (
        SELECT user_id, CAST(ts AS DATE) AS day, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
      ) WHERE rn = 1
    ), spine AS (
      SELECT m.user_id, d.day
      FROM (SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id) m
      JOIN (SELECT CAST(generate_series AS DATE) AS day
            FROM generate_series(DATE '2024-01-01', DATE '2024-01-30', INTERVAL 1 DAY)) d
        ON d.day >= m.d0
    )
    SELECT spine.user_id, strftime(spine.day, '%Y-%m-%d') AS day,
           CAST(last_value(v IGNORE NULLS) OVER (
                  PARTITION BY spine.user_id ORDER BY spine.day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS value_filled
    FROM spine LEFT JOIN daily ON daily.user_id = spine.user_id AND daily.day = spine.day
    """,
    doc="Reference inventory metric shape (README.md:64, A7): changed-only "
    "daily levels forward-filled over a dense per-key date spine — the "
    "plans/inventory.py operator applied to the events table (each user's "
    "last value per day, filled through 2024-01-30).",
    bench=True,
)
def user_daily_value_filled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_data_pipeline_exercise_spark.plans.inventory import forward_fill_daily

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", F.to_date("ts")).orderBy(F.col("ts").desc(), F.col("event_id").desc())
    daily = (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("user_id").alias("product_id"),
            F.to_date("ts").alias("date"),
            dec("value").alias("amount"),
        )
    )
    filled = forward_fill_daily(daily, horizon="2024-01-30")
    return filled.select(
        F.col("product_id").alias("user_id"),
        F.date_format("date", "yyyy-MM-dd").alias("day"),
        F.col("amount").cast("double").alias("value_filled"),
    )


@register(
    "order_surrogate_keys",
    oracle="""
    SELECT o_orderkey,
           sha256('orders' || chr(31) || CAST(o_orderkey AS VARCHAR)) AS sk,
           md5(CAST(o_orderkey AS VARCHAR) || chr(31) || o_orderstatus || chr(31)
               || CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)) AS row_checksum
    FROM orders
    """,
    doc="Warehouse practice F14 (guides.md:63-64): sha256 surrogate key "
    "from source-system + natural key, md5 row checksum for change "
    "detection — reproducible cross-engine.",
)
def order_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    sep = "\x1f"
    return o.select(
        "o_orderkey",
        F.sha2(F.concat_ws(sep, F.lit("orders"), F.col("o_orderkey").cast("string")), 256).alias("sk"),
        F.md5(
            F.concat_ws(
                sep,
                F.col("o_orderkey").cast("string"),
                F.col("o_orderstatus"),
                dec("o_totalprice").cast("string"),
            )
        ).alias("row_checksum"),
    )


# ---------------------------------------------------------------------------
# M1 SCD2 snapshot merge as an oracle-checked query
# ---------------------------------------------------------------------------

_SNAP_ORACLE = """
    WITH day1 AS (
      SELECT CAST(p_partkey AS VARCHAR) AS id, p_name AS title, p_brand AS category,
             CAST(p_retailprice AS DECIMAL(18,2)) AS price
      FROM part
    ), day2 AS (
      SELECT id, title,
             CASE WHEN substr(id, -1, 1) = '3' THEN 'BrandX' ELSE category END AS category,
             CASE WHEN substr(id, -1, 1) = '7' THEN CAST(price + 1 AS DECIMAL(18,2)) ELSE price END AS price
      FROM day1
    ), changed AS (
      SELECT d1.id FROM day1 d1 JOIN day2 d2 USING (id)
      WHERE d1.category IS DISTINCT FROM d2.category OR d1.price IS DISTINCT FROM d2.price
            OR d1.title IS DISTINCT FROM d2.title
    )
    SELECT id, title, category, CAST(price AS DOUBLE) AS price,
           '2024-01-01 00:00:00' AS start_time,
           CASE WHEN id IN (SELECT id FROM changed) THEN '2024-01-02 00:00:00'
                ELSE '2999-12-31 23:59:59' END AS end_time
    FROM day1
    UNION ALL
    SELECT id, title, category, CAST(price AS DOUBLE) AS price,
           '2024-01-02 00:00:00' AS start_time, '2999-12-31 23:59:59' AS end_time
    FROM day2 WHERE id IN (SELECT id FROM changed)
"""


@register(
    "scd2_snapshot_part_dim",
    oracle=_SNAP_ORACLE,
    doc="M1 snapshot merge (process_orders_sqls.py:28-51 semantics) run on "
    "two derived daily snapshots of `part`: day2 changes category for ids "
    "ending in 3 and price for ids ending in 7; output is the full SCD2 dim "
    "with closed + open intervals.",
    bench=True,
)
def scd2_snapshot_part_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    day1 = p.select(
        F.col("p_partkey").cast("string").alias("id"),
        F.col("p_name").alias("title"),
        F.col("p_brand").alias("category"),
        dec("p_retailprice").alias("price"),
    )
    last = F.substring(F.col("id"), -1, 1)
    day2 = day1.select(
        "id",
        "title",
        F.when(last == "3", F.lit("BrandX")).otherwise(F.col("category")).alias("category"),
        F.when(last == "7", (F.col("price") + 1).cast("decimal(18,2)")).otherwise(F.col("price")).alias("price"),
    )
    dim1 = scd2_snapshot_merge(None, day1, key="id", attr_cols=["title", "category", "price"], ts="2024-01-01 00:00:00")
    dim2 = scd2_snapshot_merge(dim1, day2, key="id", attr_cols=["title", "category", "price"], ts="2024-01-02 00:00:00")
    return dim2.select(
        "id",
        "title",
        "category",
        F.col("price").cast("double").alias("price"),
        fmt_ts("start_time").substr(1, 19).alias("start_time"),
        fmt_ts("end_time").substr(1, 19).alias("end_time"),
    )


# ---------------------------------------------------------------------------
# TPC-H-shaped multi-join depth (J-family at scale): fact-fact-dim chains
# where the same dimension enters twice, top-k over exact decimal revenue,
# and a conditional-aggregate ratio over a fact-dim join.
# ---------------------------------------------------------------------------


@register(
    "nation_pair_shipping_volume",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS INTEGER) AS l_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS volume,
           COUNT(*) AS line_count
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE n1.n_name <> n2.n_name
    GROUP BY 1, 2, 3
    """,
    doc="TPC-H Q7 shape: cross-border shipping volume by (supplier nation, "
    "customer nation, ship year). The nation dim enters the join tree TWICE "
    "under different roles — both sides broadcast; lineitem-orders-customer "
    "remain shuffle hash joins on their keys.",
)
def nation_pair_shipping_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("__n1k"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("__n2k"), F.col("n_name").alias("cust_nation"))
    one = F.lit(1).cast("decimal(4,2)")
    revenue = dec("l_extendedprice") * (one - dec("l_discount", 4, 2))
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("__n1k"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("__n2k"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(revenue).cast("double").alias("volume"), F.count(F.lit(1)).alias("line_count"))
    )


@register(
    "returned_item_top_customers",
    oracle="""
    SELECT c_custkey, c_name, nation, CAST(rev AS DOUBLE) AS revenue
    FROM (
      SELECT c.c_custkey, c.c_name, n.n_name AS nation,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS rev
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
      WHERE l.l_returnflag = 'R'
      GROUP BY 1, 2, 3
      ORDER BY rev DESC, c.c_custkey
      LIMIT 20
    )
    """,
    doc="TPC-H Q10 shape: top-20 customers by revenue lost to returns. The "
    "top-k ORDER is taken on the EXACT decimal sum (ties broken by key), so "
    "the cut is engine-independent; only the output column is a double. "
    "Spark plans the limit as TakeOrderedAndProject — no global sort.",
)
def returned_item_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    one = F.lit(1).cast("decimal(4,2)")
    revenue = dec("l_extendedprice") * (one - dec("l_discount", 4, 2))
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(F.sum(revenue).alias("__rev"))
        .orderBy(F.col("__rev").desc(), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "nation", F.col("__rev").cast("double").alias("revenue"))
    )


@register(
    "promo_revenue_share",
    oracle="""
    SELECT CAST(EXTRACT(year FROM l.l_shipdate) AS INTEGER) AS year,
           CAST(EXTRACT(month FROM l.l_shipdate) AS INTEGER) AS month,
           CAST(COALESCE(SUM(CASE WHEN p.p_type = 'PROMO'
                 THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2))) END),
                 0) AS DOUBLE) AS promo_revenue,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS total_revenue,
           100.0 * (CAST(COALESCE(SUM(CASE WHEN p.p_type = 'PROMO'
                 THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2))) END),
                 0) AS DOUBLE)
             / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)) AS promo_share
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1, 2
    """,
    doc="TPC-H Q14 shape: monthly promo revenue share. Conditional decimal "
    "aggregation (SUM ignores the non-promo NULL branch), one double "
    "division of two exact sums — deterministic cross-engine. part joins "
    "lineitem on p_partkey; AQE broadcasts it while it fits and falls back "
    "to a shuffle hash join at scale.",
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    one = F.lit(1).cast("decimal(4,2)")
    revenue = dec("l_extendedprice") * (one - dec("l_discount", 4, 2))
    promo = F.when(F.col("p_type") == "PROMO", revenue)
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.year("l_shipdate").alias("year"), F.month("l_shipdate").alias("month"))
        .agg(
            F.coalesce(F.sum(promo), zero).cast("double").alias("promo_revenue"),
            F.sum(revenue).cast("double").alias("total_revenue"),
        )
        .select(
            "year",
            "month",
            "promo_revenue",
            "total_revenue",
            (F.lit(100.0) * (F.col("promo_revenue") / F.col("total_revenue"))).alias("promo_share"),
        )
    )


# ---------------------------------------------------------------------------
# Time-range window frames + moment-based statistics
# ---------------------------------------------------------------------------


@register(
    "rolling_7day_customer_revenue",
    oracle="""
    SELECT o_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS rolling_revenue,
           COUNT(*) OVER w AS rolling_orders
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                 RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
    """,
    doc="Time-RANGE window frame (W-family): per-customer trailing-7-day "
    "revenue and order count at every order. Spark expresses the interval "
    "frame as rangeBetween(-6, 0) over the epoch-day number (order "
    "timestamps are midnight-aligned, so day-int peers == timestamp-interval "
    "peers); the window partitions by customer — bounded per-key state, no "
    "global sort, scales with the key count.",
)
def rolling_7day_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    day = F.unix_date(F.to_date("o_orderdate"))
    w = Window.partitionBy("o_custkey").orderBy(day.alias("__day")).rangeBetween(-6, 0)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.sum(dec("o_totalprice")).over(w).cast("double").alias("rolling_revenue"),
        F.count(F.lit(1)).over(w).alias("rolling_orders"),
    )


@register(
    "lineitem_moment_stats",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             -- power sums exceed 2^53 in scaled-int form; DuckDB's direct
             -- decimal->double cast rounds twice (int128->double, then
             -- /10^scale) while Spark's BigDecimal->double rounds once —
             -- the VARCHAR bridge forces the correctly-rounded path
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS syy,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           sx / n AS mean_qty,
           sqrt((n * sxx - sx * sx) / (n * (n - 1.0))) AS stddev_qty,
           sqrt((n * syy - sy * sy) / (n * (n - 1.0))) AS stddev_price,
           (n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_qty_price,
           (n * sxy - sx * sy) / (n * (n - 1.0)) AS covar_qty_price
    FROM s
    """,
    doc="Sample stddev / correlation / covariance per return flag, computed "
    "from EXACT decimal power sums (count, Sx, Sy, Sxx, Syy, Sxy) with one "
    "identical double formula on both engines — deterministic where native "
    "single-pass corr()/stddev() accumulation order would drift in the last "
    "ulp. The shape is one hash aggregate (map-side partial sums), the same "
    "cost as any other agg at 100 TB.",
)
def lineitem_moment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    q, p = dec("l_quantity"), dec("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).cast("double").alias("sx"),
        F.sum(p).cast("double").alias("sy"),
        F.sum(q * q).cast("double").alias("sxx"),
        F.sum(p * p).cast("double").alias("syy"),
        F.sum(q * p).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return s.select(
        "l_returnflag",
        "n",
        (sx / n).alias("mean_qty"),
        F.sqrt((n * sxx - sx * sx) / (n * (n - F.lit(1.0)))).alias("stddev_qty"),
        F.sqrt((n * syy - sy * sy) / (n * (n - F.lit(1.0)))).alias("stddev_price"),
        ((n * sxy - sx * sy) / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))).alias("corr_qty_price"),
        ((n * sxy - sx * sy) / (n * (n - F.lit(1.0)))).alias("covar_qty_price"),
    )


@register(
    "incremental_monthly_revenue",
    oracle="""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS year,
           CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS month,
           COUNT(*) AS order_count,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_order
    FROM orders GROUP BY 1, 2
    """,
    doc="Algebraic incremental aggregate maintenance: history (before "
    "1998-06-15 — deliberately MID-month, so the June-1998 group has rows "
    "in BOTH parts and the fold genuinely combines two partial rows) and "
    "the new batch are aggregated SEPARATELY, then folded with "
    "operators/incremental.py merge_partial_aggs — the daily-refresh "
    "pattern that never re-scans history. The oracle is the full-scan "
    "aggregate, proving merge(agg(old), agg(new)) == agg(all) exactly "
    "(decimal sums are associative).",
)
def incremental_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_data_pipeline_exercise_spark.operators.incremental import merge_partial_aggs

    o = load(spark, sf_dir, "orders")
    cutoff = F.lit("1998-06-15").cast("timestamp")

    def monthly(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.year("o_orderdate").alias("year"), F.month("o_orderdate").alias("month")
        ).agg(
            F.count(F.lit(1)).alias("order_count"),
            F.sum(dec("o_totalprice")).alias("revenue"),
            F.max(dec("o_totalprice")).alias("max_order"),
        )

    prior = monthly(o.filter(F.col("o_orderdate") < cutoff))
    delta = monthly(o.filter(F.col("o_orderdate") >= cutoff))
    merged = merge_partial_aggs(
        [prior, delta],
        keys=["year", "month"],
        merge_ops={"order_count": "sum", "revenue": "sum", "max_order": "max"},
    )
    return merged.select(
        "year",
        "month",
        "order_count",
        F.col("revenue").cast("double").alias("revenue"),
        F.col("max_order").cast("double").alias("max_order"),
    )


@register(
    "purchase_after_click_1h",
    oracle="""
    WITH cand AS (
      SELECT p.event_id AS purchase_id, p.user_id, p.ts AS p_ts,
             c.event_id AS click_id, c.ts AS c_ts,
             ROW_NUMBER() OVER (PARTITION BY p.event_id ORDER BY c.ts DESC, c.event_id DESC) AS rn
      FROM events p
      JOIN events c ON c.user_id = p.user_id AND c.ts < p.ts
                   AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.event_type = 'click'
      WHERE p.event_type = 'purchase'
    )
    SELECT purchase_id, user_id,
           strftime(p_ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
           click_id AS last_click_id,
           strftime(c_ts, '%Y-%m-%d %H:%M:%S.%f') AS last_click_ts
    FROM cand WHERE rn = 1
    """,
    doc="As-of join with TOLERANCE (pd.merge_asof semantics): latest prior "
    "click per purchase, but only within the trailing hour — stale matches "
    "null out and the purchase row drops. Same union+window linear plan as "
    "the unbounded as-of; the bound is a mask, not a range join.",
)
def purchase_after_click_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_data_pipeline_exercise_spark.operators.asof import as_of_join

    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    joined = as_of_join(
        purchases, clicks, on="user_id", left_ts="p_ts", right_ts="c_ts",
        tie_break="click_id", strict=True, tolerance="1 hour",
    )
    return joined.filter(F.col("click_id").isNotNull()).select(
        "purchase_id",
        "user_id",
        fmt_ts("p_ts").alias("purchase_ts"),
        F.col("click_id").alias("last_click_id"),
        fmt_ts("c_ts").alias("last_click_ts"),
    )


@register(
    "salted_event_value_sum",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type
    """,
    doc="Skew-safe two-level aggregation (operators/skew.py salted_agg): "
    "level 1 groups (event_type, salt) spreading any hot key over 16 "
    "tasks, level 2 merges the partials. The salt derives from the unique "
    "event_id (retry-safe, no rand()); decimal sums make the two-level "
    "result bit-identical to the oracle's one-level aggregate.",
)
def salted_event_value_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_data_pipeline_exercise_spark.operators.skew import salted_agg

    e = load(spark, sf_dir, "events").withColumn("__v", dec("value"))
    out = salted_agg(
        e,
        ["event_type"],
        {"n_events": ("count", "*"), "total_value": ("sum", "__v")},
        n_salts=16,
        salt_col="event_id",
    )
    return out.select("event_type", "n_events", F.col("total_value").cast("double").alias("total_value"))


@register(
    "part_snapshot_cdc",
    oracle="""
    WITH day1 AS (
      SELECT CAST(p_partkey AS VARCHAR) AS id, p_brand AS category,
             CAST(p_retailprice AS DECIMAL(18,2)) AS price
      FROM part
    ), day2 AS (
      SELECT id,
             CASE WHEN id LIKE '%3' THEN 'BrandX' ELSE category END AS category,
             CAST(CASE WHEN id LIKE '%7' THEN price + 1 ELSE price END AS DECIMAL(18,2)) AS price
      FROM day1 WHERE id NOT LIKE '%9'
      UNION ALL
      SELECT 'NEW1', 'BrandNew', CAST(9.99 AS DECIMAL(18,2))
    )
    SELECT COALESCE(o.id, n.id) AS id,
           CASE WHEN o.id IS NULL THEN 'insert'
                WHEN n.id IS NULL THEN 'delete'
                WHEN o.category IS DISTINCT FROM n.category
                  OR o.price IS DISTINCT FROM n.price THEN 'update' END AS change_type,
           o.category AS old_category, n.category AS new_category,
           CAST(o.price AS DOUBLE) AS old_price, CAST(n.price AS DOUBLE) AS new_price
    FROM day1 o FULL OUTER JOIN day2 n ON o.id = n.id
    WHERE (CASE WHEN o.id IS NULL THEN 'insert'
                WHEN n.id IS NULL THEN 'delete'
                WHEN o.category IS DISTINCT FROM n.category
                  OR o.price IS DISTINCT FROM n.price THEN 'update' END) IS NOT NULL
    """,
    doc="Snapshot-diff CDC (operators/cdc.py): two derived daily part "
    "snapshots (day 2 rebrands ids ending in 3, reprices ids ending in 7, "
    "drops ids ending in 9, adds one new id) -> the change set "
    "(insert/delete/update with old/new values), sized by churn, not by "
    "table. The inverse primitive of snapshot ingestion — what feeds an "
    "SCD2 merge or an incremental downstream refresh without reshipping "
    "the snapshot.",
)
def part_snapshot_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_data_pipeline_exercise_spark.operators.cdc import snapshot_diff

    p = load(spark, sf_dir, "part")
    day1 = p.select(
        F.col("p_partkey").cast("string").alias("id"),
        F.col("p_brand").alias("category"),
        dec("p_retailprice").alias("price"),
    )
    last = F.substring(F.col("id"), -1, 1)
    day2 = (
        day1.filter(last != "9")
        .select(
            "id",
            F.when(last == "3", F.lit("BrandX")).otherwise(F.col("category")).alias("category"),
            F.when(last == "7", (F.col("price") + 1).cast("decimal(18,2)"))
            .otherwise(F.col("price"))
            .alias("price"),
        )
        .unionByName(
            spark.range(1).select(
                F.lit("NEW1").alias("id"),
                F.lit("BrandNew").alias("category"),
                F.lit(9.99).cast("decimal(18,2)").alias("price"),
            )
        )
    )
    out = snapshot_diff(day1, day2, "id", ["category", "price"])
    return out.select(
        "id",
        "change_type",
        "old_category",
        "new_category",
        F.col("old_price").cast("double").alias("old_price"),
        F.col("new_price").cast("double").alias("new_price"),
    )


@register(
    "order_priority_checking",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
    GROUP BY o.o_orderpriority
    """,
    doc="TPC-H Q4 shape: orders in a date window having at least one line "
    "shipped after the order date — EXISTS as a LEFT SEMI hash join (the "
    "date filter prunes the orders scan first; the semi join never "
    "duplicates order rows the way a plain join + distinct would).",
)
def order_priority_checking(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    windowed = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    matched = windowed.join(
        li,
        (windowed.o_orderkey == li.l_orderkey) & (li.l_shipdate > windowed.o_orderdate),
        "left_semi",
    )
    return matched.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@register(
    "large_volume_customers",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
           CAST(q.total_qty AS DOUBLE) AS total_qty
    FROM (
      SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
    ) q
    JOIN orders o   ON o.o_orderkey = q.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
    doc="TPC-H Q18 shape: customers whose single orders exceed 250 units — "
    "grouped-HAVING subquery driving the join (aggregate FIRST, then join "
    "only qualifying orderkeys: the aggregation shrinks the fact before it "
    "touches the dimension chain). The HAVING cut compares exact decimal "
    "sums, so membership is engine-independent.",
)
def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    q = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("__tq"))
        .filter(F.col("__tq") > F.lit(250).cast("decimal(18,2)"))
    )
    return (
        q.join(o, q.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.col("__tq").cast("double").alias("total_qty"),
        )
    )


def clicks_before_purchases(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Attribution join: every (click, purchase) of the same user where
    the click lands in ``[purchase_ts - 1 hour, purchase_ts]``.

    Both inputs carry ``event_id``, ``user_id`` and ``ts``. Output:
    (user_id, click_ts, purchase_ts, click_event_id, purchase_event_id).
    """
    c = clicks.select(
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_event_id"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_event_id"),
    )
    cond = (
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 hour"))
    )
    return c.join(p, cond).select(
        "user_id", "click_ts", "purchase_ts", "click_event_id", "purchase_event_id"
    )


@register(
    "click_purchase_attribution",
    oracle="""
    SELECT c.user_id,
           c.event_id AS click_event_id,
           p.event_id AS purchase_event_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts
    FROM events c
    JOIN events p ON p.user_id = c.user_id
                 AND c.ts <= p.ts
                 AND c.ts >= p.ts - INTERVAL 1 HOUR
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
    doc="Interval join (clicks_before_purchases): EVERY click in the "
    "hour before a same-user purchase — the attribution-join relaxation "
    "of as-of, which keeps only the last click. The event-time range "
    "predicate bounds each purchase's match set to one hour of the "
    "user's clicks.",
)
def click_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    out = clicks_before_purchases(
        e.filter(F.col("event_type") == "click"),
        e.filter(F.col("event_type") == "purchase"),
    )
    return out.select(
        "user_id",
        "click_event_id",
        "purchase_event_id",
        fmt_ts("click_ts").alias("click_ts"),
        fmt_ts("purchase_ts").alias("purchase_ts"),
    )


@register(
    "customer_balance_ranks",
    oracle="""
    SELECT c_custkey, c_nationkey,
           RANK() OVER w AS bal_rank,
           DENSE_RANK() OVER w AS bal_dense_rank,
           CAST(PERCENT_RANK() OVER w AS DOUBLE) AS bal_pct_rank,
           CAST(CUME_DIST() OVER w AS DOUBLE) AS bal_cume_dist
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
    """,
    doc="Ranking-function breadth (SURVEY §2.5): rank / dense_rank / "
    "percent_rank / cume_dist in one partitioned window pass — the "
    "within-group leaderboard shape. All four share a single Window "
    "spec, so Spark plans ONE sort+window operator; percent_rank and "
    "cume_dist are exact small rationals ((rank-1)/(n-1), n_le/n) with "
    "identical operand order in both engines, so doubles match "
    "bit-for-bit. Partitioned by nation — never an unpartitioned "
    "global window.",
)
def customer_balance_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), "c_custkey")
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.rank().over(w).alias("bal_rank"),
        F.dense_rank().over(w).alias("bal_dense_rank"),
        F.percent_rank().over(w).cast("double").alias("bal_pct_rank"),
        F.cume_dist().over(w).cast("double").alias("bal_cume_dist"),
    )


@register(
    "user_retention_cohorts",
    oracle="""
    WITH m AS (
      SELECT user_id, CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d
      FROM events
    ),
    cohort AS (SELECT user_id, MIN(d) AS c FROM m GROUP BY user_id),
    act AS (SELECT DISTINCT user_id, d FROM m)
    SELECT strftime(DATE '1970-01-01' + CAST(c AS INTEGER), '%Y-%m-%d') AS cohort_date,
           CAST(d - c AS INTEGER) AS days_since,
           COUNT(DISTINCT a.user_id) AS n_users
    FROM act a JOIN cohort USING (user_id)
    GROUP BY c, d - c
    """,
    doc="Daily retention cohorts: cohort = day of a user's first event, "
    "retention cell = distinct users active N days later (day "
    "granularity because the synthetic event log spans one month). "
    "Day arithmetic is integer epoch-days, so cells hash identically "
    "cross-engine. Plan: one narrow per-user min aggregate, one "
    "distinct, one hash join on user_id, one counting aggregate — "
    "every step key-partitioned, nothing global.",
)
def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    m = e.select("user_id", F.unix_date(F.col("ts").cast("date")).cast("bigint").alias("d"))
    cohort = m.groupBy("user_id").agg(F.min("d").alias("c"))
    act = m.distinct()
    return (
        act.join(cohort, "user_id")
        .groupBy("c", (F.col("d") - F.col("c")).alias("days_since"))
        .agg(F.count_distinct("user_id").alias("n_users"))
        .select(
            F.date_format(F.date_from_unix_date(F.col("c").cast("int")), "yyyy-MM-dd").alias("cohort_date"),
            F.col("days_since").cast("int").alias("days_since"),
            "n_users",
        )
    )


@register(
    "signup_purchase_funnel",
    oracle="""
    WITH s AS (
      SELECT user_id, MIN(ts) AS ts FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS ts
      FROM events e JOIN s ON s.user_id = e.user_id AND e.ts >= s.ts
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS ts
      FROM events e JOIN c ON c.user_id = e.user_id AND e.ts >= c.ts
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT * FROM (
      SELECT 'signup' AS step, COUNT(*) AS n_users FROM s
      UNION ALL SELECT 'click_after_signup', COUNT(*) FROM c
      UNION ALL SELECT 'purchase_after_click', COUNT(*) FROM p
    )
    """,
    doc="Ordered three-step funnel (signup -> first click at-or-after "
    "signup -> first purchase at-or-after that click), exact stepwise "
    "semantics — NOT the min(ts) shortcut, which overcounts users whose "
    "only purchase precedes their first post-signup click. Each step is "
    "a per-user min aggregate plus one user-keyed hash join; timestamps "
    "compare at microsecond exactness in both engines.",
)
def signup_purchase_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")

    def first_at_or_after(etype: str, prev: DataFrame | None) -> DataFrame:
        step = e.filter(F.col("event_type") == etype)
        if prev is not None:
            step = step.alias("e").join(
                prev.select(F.col("user_id"), F.col("ts").alias("__prev")), "user_id"
            ).filter(F.col("ts") >= F.col("__prev"))
        return step.groupBy("user_id").agg(F.min("ts").alias("ts"))

    s = first_at_or_after("signup", None)
    c = first_at_or_after("click", s)
    p = first_at_or_after("purchase", c)
    rows = [("signup", s), ("click_after_signup", c), ("purchase_after_click", p)]
    out = None
    for name, df in rows:
        one = df.agg(F.count(F.lit(1)).alias("n_users")).select(F.lit(name).alias("step"), "n_users")
        out = one if out is None else out.unionByName(one)
    return out
