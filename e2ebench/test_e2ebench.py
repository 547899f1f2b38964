"""Tests of the benchmark itself: generators, span self time,
the process-tree sampler, the steal-aware clock, and the dwh_daily
oracle against the engine.

    python -m pytest e2ebench/ -q
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from e2ebench import gen  # noqa: E402
from e2ebench.procstat import Clock, TreeSampler, run_time, tree  # noqa: E402
from e2ebench.trace import Span, self_times  # noqa: E402


def _feeds(seed: int, days: int) -> list[dict]:
    f = gen.DwhFeeds(seed, products=40, orders_per_day=30)
    return [f.day(d) for d in range(days)]


def test_dwh_generator_is_deterministic_per_seed():
    assert _feeds(7, 4) == _feeds(7, 4)
    assert _feeds(7, 4) != _feeds(8, 4)


def test_dwh_feeds_carry_the_promised_irregularities():
    f = gen.DwhFeeds(3, products=200, orders_per_day=200)
    f.day(0), f.day(1)
    rows = f.day(2)["orders"]
    keys = [tuple(r) for r in rows]
    assert len(keys) > len(set(keys)), "no exact duplicate rows"
    dates = {r[5][:10] for r in rows}
    assert gen.day_date(1).isoformat() in dates, "no late rows"
    assert any(d < "1970" or d > "2049" for d in dates), "no out-of-calendar rows"
    assert {"created", "shipped"} <= {r[4] for r in rows}


def test_dwh_files_are_byte_identical(tmp_path):
    for sub in ("a", "b"):
        f = gen.DwhFeeds(5, products=30, orders_per_day=20)
        for d in range(3):
            f.write_day(d, tmp_path / sub)
    for p in sorted((tmp_path / "a").iterdir()):
        assert p.read_bytes() == (tmp_path / "b" / p.name).read_bytes()


def test_corpus_days_are_deterministic_and_inject_copies():
    a, b = gen.corpus_days(4, 3, fresh=20), gen.corpus_days(4, 3, fresh=20)
    assert [(d.ds, d.docs, d.embeddings) for d in a] == [(d.ds, d.docs, d.embeddings) for d in b]
    assert [d.docs for d in gen.corpus_days(5, 3, fresh=20)] != [d.docs for d in a]
    prev = {t for _, t in a[0].docs[:20]}
    copies = [t for i, t in a[1].docs if i in set(a[1].exact_copies)]
    assert copies and all(t in prev for t in copies)


def test_self_time_subtracts_children_once():
    spans = [
        Span("op", 0.0, 10.0, None, "d1"),
        Span("a", 1.0, 4.0, 0, "d1"),  # child of op
        Span("a.x", 1.5, 2.0, 1, "d1"),  # grandchild: not subtracted from op
        Span("b", 3.0, 6.0, 0, "d1"),  # overlaps a: union 1..6 = 5
        Span("c", 8.0, 12.0, 0, "d1"),  # sticks out of op: clipped to 8..10
    ]
    assert self_times(spans) == pytest.approx([10.0 - 5.0 - 2.0, 3.0 - 0.5, 0.5, 3.0, 4.0])


def test_sampler_counts_child_cpu():
    s = TreeSampler(period=0.05)
    s.start()
    subprocess.run([sys.executable, "-c", "sum(i * i for i in range(3_000_000))"], check=True)
    usage = s.stop()
    assert usage["cpu_s"] >= 0.05
    assert usage["peak_rss_mb"] > 0
    assert tree()[0].kind == "driver"


def test_run_time_takes_out_the_stolen_share():
    # 30 s busy and 10 s stolen: the vCPUs got 3/4 of what they asked for
    assert run_time(20.0, 30.0, 10.0) == pytest.approx(15.0)
    assert run_time(20.0, 30.0, 0.0) == 20.0
    assert run_time(0.5, 0.0, 0.0) == 0.5


def test_clock_reads_machine_counters():
    with Clock() as c:
        sum(i * i for i in range(2_000_000))
    assert c.wall_s > 0 and c.busy_s > 0 and c.steal_s >= 0
    assert 0 < c.run_s <= c.wall_s


def test_oracle_matches_engine_on_tiny_seed(tmp_path):
    """The pure-Python oracle against the real pipeline on three tiny
    feed-days (bootstrap plus two)."""
    from pyspark.sql import functions as F

    from batch_data_pipeline_exercise_spark.plans import metrics
    from batch_data_pipeline_exercise_spark.plans.pipeline import Pipeline
    from batch_data_pipeline_exercise_spark.schemas import SCD2_SENTINEL
    from batch_data_pipeline_exercise_spark.session import get_spark

    spark = get_spark(app_name="e2ebench-oracle-test", master="local[2]", shuffle_partitions=2)
    spark.sparkContext.setLogLevel("ERROR")
    feeds = gen.DwhFeeds(9, products=30, orders_per_day=25)
    pipe = Pipeline(spark, str(tmp_path / "wh"))
    pipe.init_dates()
    for d in range(3):
        p = feeds.write_day(d, tmp_path / "feeds")
        ts = gen.run_ts(d)
        pipe.run_products(str(p["products"]), ts)
        pipe.run_orders(str(p["orders"]), ts)
        pipe.run_inventory(str(p["inventory"]), ts)
    as_of = gen.run_ts(2)
    want = feeds.expected(3, as_of)
    wh = pipe.wh
    assert wh.read("fact_orders_created").count() == want["fact_rows"]
    got_status = {
        r["status"]: r["order_count"]
        for r in metrics.current_orders_by_status(wh.read("dim_orders"), as_of).collect()
    }
    assert got_status == want["status_counts"]
    open_rows = wh.read("dim_products").filter(
        F.col("end_time") == F.lit(SCD2_SENTINEL).cast("timestamp")
    ).count()
    assert open_rows == want["open_products"]
    assert wh.read("fact_inventory").count() == want["inventory_rows"]
    spark.stop()
