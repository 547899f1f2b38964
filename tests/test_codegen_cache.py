"""Spark's generated-class cache must hold a whole feed-day's classes.

The nightly batches re-run the same plans every day. With Spark's default
cache of 100 generated classes, LRU eviction cycled through a day's ~200
(dwh) to ~330 (corpus) classes and Janino recompiled every one of them
every day. ``session.CODEGEN_CACHE_ENTRIES`` sizes the cache; this test
replays an identical fixture day and checks that the replay finds its
classes in the cache instead of compiling them again."""

from __future__ import annotations

from batch_data_pipeline_exercise_spark.plans import metrics
from batch_data_pipeline_exercise_spark.plans.inventory import forward_fill_daily
from batch_data_pipeline_exercise_spark.plans.pipeline import Pipeline
from batch_data_pipeline_exercise_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    codegen_compiles,
    session_conf_snapshot,
)

FIX = "tests/fixtures"
TS = "2021-03-02 01:00:00"
KEY = "spark.sql.codegen.cache.maxEntries"


def _feed_day(spark, root: str) -> None:
    """One fixture feed-day on a fresh warehouse, then the seven metrics."""
    p = Pipeline(spark, root)
    p.init_dates()
    p.run_products(f"{FIX}/products_2021-03-02.csv", ts=TS)
    p.run_orders(f"{FIX}/orders_2021-03-02.csv", ts=TS)
    p.run_inventory(f"{FIX}/inventory_2021-03-01.csv", ts=TS)
    wh = p.wh
    fact, dim_orders = wh.read("fact_orders_created"), wh.read("dim_orders")
    dim_products, dates = wh.read("dim_products"), wh.read("dim_dates")
    daily = forward_fill_daily(
        wh.read("fact_inventory").withColumnRenamed("snapshot_date", "date")
        .select("product_id", "date", "amount"),
        horizon="2021-03-02",
    )
    for df in (
        metrics.current_orders_by_status(dim_orders, TS),
        metrics.orders_created_per_quarter(fact, dates),
        metrics.orders_created_per_quarter_category(fact, dim_products, dates),
        metrics.retained_orders(fact, dim_orders, TS),
        metrics.monthly_created_not_completed(fact, dim_orders),
        metrics.daily_stock_by_category(daily, dim_products, "2021-03-01", "2021-03-02"),
        metrics.month_end_stock_by_category(daily, dim_products, dates, "2021-03-01", "2021-03-02"),
    ):
        df.collect()


def test_session_carries_the_cache_size(spark):
    assert spark.conf.get(KEY) == str(CODEGEN_CACHE_ENTRIES)
    # rebuild_session replays this snapshot into a recycled session
    assert session_conf_snapshot(spark)[KEY] == str(CODEGEN_CACHE_ENTRIES)


def test_session_sets_no_worker_env_or_python_source_pushdown(spark):
    # Python workers inherit the driver's environment unchanged (no
    # spark.executorEnv.PYTHONPATH), and no Python Data Source needs
    # filter pushdown switched on
    conf = session_conf_snapshot(spark)
    assert [k for k in conf if k.startswith("spark.executorEnv.")] == []
    assert "spark.sql.python.filterPushdown.enabled" not in conf


def test_identical_replay_compiles_almost_nothing(spark, tmp_path):
    c0 = codegen_compiles(spark)
    _feed_day(spark, str(tmp_path / "first"))
    c1 = codegen_compiles(spark)
    _feed_day(spark, str(tmp_path / "replay"))
    c2 = codegen_compiles(spark)
    first, replay = c1 - c0, c2 - c1
    # measured in a fresh session: the first pass compiled 185-189
    # classes and the replay 4-13; at Spark's default of 100 entries the
    # replay compiled 185
    assert replay <= 30, (first, replay)
