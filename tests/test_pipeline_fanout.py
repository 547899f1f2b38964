"""Pipeline.run_orders runs its dim, dead-letter and fact branches
concurrently. A failing branch must not leave a sibling's write in flight,
a replay of the feed day must converge to a clean run, and every branch
job must keep the caller's job group and tags."""

from __future__ import annotations

import time
import uuid

import pytest

from batch_data_pipeline_exercise_spark.obs import measure
from batch_data_pipeline_exercise_spark.plans.pipeline import Pipeline
from batch_data_pipeline_exercise_spark.sources.warehouse import Warehouse

HEADER = "id,productId,amount,totalPrice,status,timestamp\n"
DAY1 = (
    HEADER
    + "o1,p1,2,39.98,created,2021-03-01 08:00:00\n"
    + "o2,p2,1,5.50,created,2021-03-01 10:00:00\n"
    + "ox,p1,1,9.99,created,1969-06-01 08:00:00\n"  # before dim_dates' calendar
)
DAY2 = (
    HEADER
    + "o1,p1,2,39.98,completed,2021-03-02 09:30:00\n"
    + "o3,p3,4,20.00,created,2021-03-02 11:00:00\n"
    + "o3,p3,4,20.00,created,2021-03-02 11:00:00\n"  # exact duplicate
    + "oz,p2,1,5.50,created,2051-01-01 00:00:00\n"  # after dim_dates' calendar
)
TS1, TS2 = "2021-03-01 23:00:00", "2021-03-02 23:00:00"
BRANCH_TABLES = ("events_orders", "dim_orders", "fact_orders_created", "_fact_dates_rejects")


def _feeds(tmp_path):
    d1, d2 = tmp_path / "orders_d1.csv", tmp_path / "orders_d2.csv"
    d1.write_text(DAY1)
    d2.write_text(DAY2)
    return str(d1), str(d2)


def _pipeline(spark, root):
    p = Pipeline(spark, root)
    p.init_dates()
    return p


def _tables(p):
    return {t: sorted(map(tuple, p.wh.read(t).collect()), key=repr) for t in BRANCH_TABLES}


def test_failed_branch_waits_for_siblings_and_replay_converges(spark, tmp_path, monkeypatch):
    d1, d2 = _feeds(tmp_path)
    p = _pipeline(spark, str(tmp_path / "wh"))
    p.run_orders(d1, TS1)

    finished: dict[str, float] = {}
    real_append, real_append_once, real_overwrite = (
        Warehouse.append, Warehouse.append_once, Warehouse.overwrite
    )

    def failing_append(self, df, table, *args, **kwargs):
        if table == "fact_orders_created":
            raise RuntimeError("injected fact append failure")
        return real_append(self, df, table, *args, **kwargs)

    def timed_append_once(self, df, table, *args, **kwargs):
        real_append_once(self, df, table, *args, **kwargs)
        finished[table] = time.monotonic()

    def timed_overwrite(self, df, table, *args, **kwargs):
        real_overwrite(self, df, table, *args, **kwargs)
        finished[table] = time.monotonic()

    monkeypatch.setattr(Warehouse, "append", failing_append)
    monkeypatch.setattr(Warehouse, "append_once", timed_append_once)
    monkeypatch.setattr(Warehouse, "overwrite", timed_overwrite)
    with pytest.raises(RuntimeError, match="injected fact append failure"):
        p.run_orders(d2, TS2)
    raised = time.monotonic()
    # the fact branch fails at once; the others ran to the end first
    landed = dict(finished)
    assert {"events_orders", "dim_orders", "_fact_dates_rejects"} <= set(landed)
    assert all(t <= raised for t in landed.values())
    assert p.wh.read("dim_orders").filter("order_id = 'o3'").count() == 1
    assert p.wh.read("fact_orders_created").filter("order_id = 'o3'").count() == 0
    monkeypatch.undo()

    # replaying the day finishes the fact and changes nothing else
    p.run_orders(d2, TS2)
    clean = _pipeline(spark, str(tmp_path / "clean_wh"))
    clean.run_orders(d1, TS1)
    clean.run_orders(d2, TS2)
    assert _tables(p) == _tables(clean)
    assert [r["id"] for r in p.wh.read("_fact_dates_rejects").orderBy("id").collect()] == ["ox", "oz"]


def test_branch_jobs_keep_the_callers_job_group_and_tags(spark, tmp_path):
    d1, _ = _feeds(tmp_path)
    p = _pipeline(spark, str(tmp_path / "wh"))
    sc = spark.sparkContext

    def marker_job() -> int:
        (job,) = measure(spark, sc.parallelize([1]).count)[1]["jobs"]
        return job

    group, tag = f"run-orders-{uuid.uuid4().hex}", f"run-orders-tag-{uuid.uuid4().hex}"
    before = marker_job()
    sc.setJobGroup(group, "run_orders under test")
    sc.addJobTag(tag)
    try:
        p.run_orders(d1, TS1)
    finally:
        sc.removeJobTag(tag)
        sc._jsc.clearJobGroup()
    after = marker_job()

    in_group = set(sc.statusTracker().getJobIdsForGroup(group))
    # job ids are handed out in submission order, so the ids between the
    # two markers are exactly the jobs started during the call
    assert in_group == set(range(before + 1, after))
    store = sc._jsc.sc().statusStore()
    untagged = [j for j in in_group if not store.job(j).jobTags().contains(tag)]
    assert untagged == []
