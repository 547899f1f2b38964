"""Driver-contract query registry.

Each entry pairs a Spark DataFrame query (``fn(spark, sf_dir)``) with an
equivalent DuckDB-runnable SQL oracle, exercising one operator family from
SURVEY.md §2 on the driver's synthetic testdata. ``__spark_entry__.py``
re-exports this registry.

Cross-engine determinism rules (so the driver's order-insensitive
value-hash matches bit-for-bit):

- **Money math in decimals.** Source doubles are 2-decimal by
  construction; cast to DECIMAL before arithmetic/AGG (exact, associative,
  order-independent), cast the final result to DOUBLE (deterministic
  nearest-double) — identical bits in Spark and DuckDB. Plain double sums
  would differ in the last ulp depending on partition/accumulation order.
- **Averages** as ``CAST(dec_sum AS DOUBLE) / count`` — one double
  division on identical inputs.
- **Timestamps out as formatted strings** — the SCD2 sentinel
  (2999-12-31) overflows pandas datetime64[ns], and engine-to-pandas
  timestamp dtypes differ; ``yyyy-MM-dd HH:mm:ss.SSSSSS`` strings are
  unambiguous.
- **Alias everything**; the driver hashes columns sorted by name.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from batch_data_pipeline_exercise_spark.operators.asof import as_of_join
from batch_data_pipeline_exercise_spark.operators.scd2 import scd2_from_events
from batch_data_pipeline_exercise_spark.plans.dates import build_dim_dates
from batch_data_pipeline_exercise_spark.schemas import SCD2_SENTINEL as SENTINEL

TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"


@dataclass
class ContractQuery:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    bench: bool = False  # include in bench.py headline set
    # True only for queries that are INTENTIONALLY all-pairs (brute-force
    # similarity baselines); the plan-quality test forbids nested-loop /
    # cartesian joins everywhere else.
    allow_quadratic: bool = False


REGISTRY: dict[str, ContractQuery] = {}


def register(name: str, oracle: str | None, doc: str = "", bench: bool = False, allow_quadratic: bool = False):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            # six contract modules share this dict; a silent overwrite
            # would make the shadowed query's oracle test disappear
            # instead of fail
            raise ValueError(f"duplicate contract query name: {name!r}")
        REGISTRY[name] = ContractQuery(name, fn, oracle, doc, bench, allow_quadratic)
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one testdata table.

    ``events.parquet`` is written with TIMESTAMP(NANOS), which Spark's
    parquet reader rejects; read it as long ns-since-epoch and convert to a
    µs timestamp (the data is µs-exact, so the div-1000 is lossless and
    matches DuckDB's internal ns→µs truncation).
    """
    # Pin UTC: formatted-timestamp outputs must agree with DuckDB's naive
    # timestamps regardless of the calling session's timezone default.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if table == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    # documents/embeddings ship as single-row-group files: parquet scan
    # splitting cannot parallelize inside one row group, so their narrow,
    # compute-dense stages (regex, shingling, 32-way hashing, dot
    # products) would run on ONE core — an explicit shuffle restores
    # parallelism and pays for itself. The fact tables hit a real shuffle
    # (join/agg) almost immediately anyway, so they skip it: measured at
    # sf0.1, repartitioning them costs more than it saves. The shuffle is
    # CONDITIONAL on the scan actually being starved: a multi-file
    # layout with real row groups (e.g. one written from a frame
    # repartitioned on its id) already splits to >= cores, and
    # re-shuffling it would be pure cost (measured: see SCALE.md round-7
    # layout row). The planned
    # split count is a PROXY: a very large single-row-group file can
    # plan >= cores byte-range splits that are almost all empty at read
    # time (row groups land in one split), which this check cannot see —
    # the testdata's small files plan < cores splits so the proxy holds
    # here, and the durable fix for any external drop is a one-time
    # rewrite into multi-file parquet, not a smarter reader heuristic.
    if table in ("documents", "embeddings"):
        from batch_data_pipeline_exercise_spark.functions.core import plan_partition_count

        if plan_partition_count(df) < spark.sparkContext.defaultParallelism:
            df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def parquet_num_rows(sf_dir: str, table: str) -> int:
    """Exact row count of a testdata table from the parquet FOOTER —
    pure driver-side metadata, zero Spark jobs. Query builders pass it
    to operators whose sizing gates would otherwise spend a whole
    count() action learning it (each action on a 32-way local session
    costs a fixed ~0.5-2 executor-CPU s regardless of data size —
    evidence/ABSCOUT_r10.jsonl); the footer count is the same number
    computed from the same input at the same moment, just without the
    job. Handles both single-file tables (the shipped testdata) and
    directory layouts."""
    import pyarrow.parquet as pq
    from pathlib import Path

    p = Path(sf_dir) / f"{table}.parquet"
    if p.is_dir():
        return sum(
            pq.ParquetFile(f).metadata.num_rows for f in sorted(p.rglob("*.parquet"))
        )
    return pq.ParquetFile(p).metadata.num_rows


def dec(col: str, p: int = 18, s: int = 2) -> F.Column:
    return F.col(col).cast(f"decimal({p},{s})")


def fmt_ts(col) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, TS_FMT_SPARK)


# ---------------------------------------------------------------------------
# A. Aggregations + scalar functions (SURVEY §2.4, §2.8)
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS VARCHAR)
                AS DOUBLE) AS sum_disc_price,
           -- VARCHAR bridge on the scale-4/scale-6 sums: DuckDB's direct
           -- decimal->double divides the scaled integer by 10^s in double
           -- arithmetic, which goes off-by-one-ulp once the scaled value
           -- crosses 2^53 (sum_charge does at ~sf1: 5e10 * 10^6); the
           -- string path parses correctly rounded, matching Spark's
           -- BigDecimal.doubleValue
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
                    * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS VARCHAR)
                AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-shaped hash aggregate over lineitem (A1-A4, F-family).",
    bench=True,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(4,2)")
    disc_price = dec("l_extendedprice") * (one - dec("l_discount", 4, 2))
    charge = disc_price * (one + dec("l_tax", 4, 2))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).alias("_sq"),
            F.sum(dec("l_extendedprice")).alias("_sb"),
            F.sum(disc_price).alias("_sd"),
            F.sum(charge).alias("_sc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("_sq").cast("double").alias("sum_qty"),
            F.col("_sb").cast("double").alias("sum_base_price"),
            F.col("_sd").cast("double").alias("sum_disc_price"),
            F.col("_sc").cast("double").alias("sum_charge"),
            (F.col("_sq").cast("double") / F.col("count_order")).alias("avg_qty"),
            "count_order",
        )
    )


@register(
    "orders_per_quarter",
    oracle="""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS year,
           CAST(EXTRACT(quarter FROM o_orderdate) AS INTEGER) AS quarter,
           COUNT(*) AS order_count
    FROM orders GROUP BY 1, 2
    """,
    doc="Reference metric 2 (README.md:46): orders created per year/quarter (A2+F1).",
    bench=True,
)
def orders_per_quarter(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return (
        o.select(F.year("o_orderdate").alias("year"), F.quarter("o_orderdate").alias("quarter"))
        .groupBy("year", "quarter")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "orders_by_status",
    oracle="""
    SELECT o_orderstatus AS status, COUNT(*) AS order_count,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders GROUP BY o_orderstatus
    """,
    doc="Reference metric 1 analog (README.md:45): counts by status (A1).",
)
def orders_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("order_count"),
        F.sum(dec("o_totalprice")).cast("double").alias("total_price"),
    )


# ---------------------------------------------------------------------------
# B. Joins (SURVEY §2.3)
# ---------------------------------------------------------------------------


@register(
    "revenue_by_region_quarter",
    oracle="""
    SELECT r.r_name AS region,
           CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS year,
           CAST(EXTRACT(quarter FROM o.o_orderdate) AS INTEGER) AS quarter,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
           COUNT(*) AS line_count
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2, 3
    """,
    doc="Flagship: 5-way star join (broadcast dims) + hash agg (J1, A3).",
    bench=True,
)
def revenue_by_region_quarter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    one = F.lit(1).cast("decimal(4,2)")
    revenue = dec("l_extendedprice") * (one - dec("l_discount", 4, 2))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"),
            F.year("o_orderdate").alias("year"),
            F.quarter("o_orderdate").alias("quarter"),
        )
        .agg(F.sum(revenue).cast("double").alias("revenue"), F.count(F.lit(1)).alias("line_count"))
    )


@register(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="Anti-join (J6/P5): the reference's NOT IN new-rows detection shape.",
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o.select("o_custkey"), c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


# ---------------------------------------------------------------------------
# C. Windows + SCD2 (SURVEY §2.5, §2.12)
# ---------------------------------------------------------------------------


@register(
    "first_event_per_user",
    oracle="""
    SELECT user_id, event_id AS first_event_id, event_type AS first_event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS first_ts
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    doc="Reference W1 (process_orders_sqls.py:93-98): earliest event per key.",
)
def first_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("first_event_id"),
            F.col("event_type").alias("first_event_type"),
            fmt_ts("ts").alias("first_ts"),
        )
    )


@register(
    "event_type_intervals",
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
    doc="Reference M2 (process_orders_sqls.py:92-133): SCD2 intervals from an "
    "event log — consecutive-dedup + lead-chaining, sentinel-closed.",
    bench=True,
)
def event_type_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    out = scd2_from_events(e, key="user_id", attr_cols=["event_type"], time_col="ts")
    return out.select(
        "user_id", "event_type", fmt_ts("start_time").alias("start_time"), fmt_ts("end_time").alias("end_time")
    )


@register(
    "current_event_type_counts",
    oracle=f"""
    WITH runs AS (
      SELECT user_id, event_type, ts,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev
      FROM events
    ), chg AS (
      SELECT user_id, event_type, ts FROM runs
      WHERE prev IS NULL OR prev IS DISTINCT FROM event_type
    ), iv AS (
      SELECT user_id, event_type, ts AS start_time,
             COALESCE(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts),
                      TIMESTAMP '{SENTINEL}') AS end_time
      FROM chg
    )
    SELECT event_type AS status, COUNT(*) AS user_count FROM iv
    WHERE TIMESTAMP '2024-01-15 00:00:00' >= start_time
      AND TIMESTAMP '2024-01-15 00:00:00' < end_time
    GROUP BY event_type
    """,
    doc="Reference metric 1 (README.md:45): current-state counts via the SCD2 "
    "point-in-time predicate P3 at a fixed as-of.",
)
def current_event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    iv = scd2_from_events(e, key="user_id", attr_cols=["event_type"], time_col="ts")
    t = F.lit("2024-01-15 00:00:00").cast("timestamp")
    return (
        iv.filter((t >= F.col("start_time")) & (t < F.col("end_time")))
        .groupBy(F.col("event_type").alias("status"))
        .agg(F.count(F.lit(1)).alias("user_count"))
    )


@register(
    "purchase_after_click_asof",
    oracle="""
    WITH cand AS (
      SELECT p.event_id AS purchase_id, p.user_id, p.ts AS p_ts,
             c.event_id AS click_id, c.ts AS c_ts,
             ROW_NUMBER() OVER (PARTITION BY p.event_id ORDER BY c.ts DESC, c.event_id DESC) AS rn
      FROM events p
      JOIN events c ON c.user_id = p.user_id AND c.ts < p.ts AND c.event_type = 'click'
      WHERE p.event_type = 'purchase'
    )
    SELECT purchase_id, user_id,
           strftime(p_ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
           click_id AS last_click_id,
           strftime(c_ts, '%Y-%m-%d %H:%M:%S.%f') AS last_click_ts
    FROM cand WHERE rn = 1
    """,
    doc="As-of join (J3 generalized): latest prior click per purchase, via the "
    "union+window linear-scale algorithm in operators/asof.py.",
    bench=True,
)
def purchase_after_click_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    joined = as_of_join(
        purchases, clicks, on="user_id", left_ts="p_ts", right_ts="c_ts", tie_break="click_id", strict=True
    )
    return joined.filter(F.col("click_id").isNotNull()).select(
        "purchase_id",
        "user_id",
        fmt_ts("p_ts").alias("purchase_ts"),
        F.col("click_id").alias("last_click_id"),
        fmt_ts("c_ts").alias("last_click_ts"),
    )


# ---------------------------------------------------------------------------
# D. Row generation / date spine (SURVEY §2.1 S8)
# ---------------------------------------------------------------------------


@register(
    "dim_dates_spine",
    oracle="""
    SELECT strftime(d, '%Y%m%d') AS id,
           CAST(d AS VARCHAR) AS datum,
           CAST(EXTRACT(day FROM d) AS INTEGER) AS day_of_month,
           CAST(EXTRACT(doy FROM d) AS INTEGER) AS day_of_year,
           CAST(EXTRACT(month FROM d) AS INTEGER) AS month,
           CAST(EXTRACT(quarter FROM d) AS INTEGER) AS quarter,
           CAST(EXTRACT(year FROM d) AS INTEGER) AS year,
           CAST(date_trunc('month', d) AS VARCHAR) AS first_day_of_month,
           CAST(last_day(d) AS VARCHAR) AS last_day_of_month,
           CAST(CAST(date_trunc('month', d) + INTERVAL 1 MONTH AS DATE) AS VARCHAR) AS first_day_of_next_month
    FROM (SELECT DATE '1970-01-01' + CAST(i AS INTEGER) AS d FROM range(0, 29220) t(i))
    """,
    doc="Reference dim_dates (create_dim_dates.py:20-51): 29,220-row calendar "
    "spine from spark.range — shuffle-free row generation (S8, F1-F7).",
)
def dim_dates_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = build_dim_dates(spark)
    return dim.select(
        "id",
        F.col("datum").cast("string").alias("datum"),
        "day_of_month",
        "day_of_year",
        "month",
        "quarter",
        "year",
        F.col("first_day_of_month").cast("string").alias("first_day_of_month"),
        F.col("last_day_of_month").cast("string").alias("last_day_of_month"),
        F.col("first_day_of_next_month").cast("string").alias("first_day_of_next_month"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.fn for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}
