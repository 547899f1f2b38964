"""Idempotent fact append (M3), as-of join operator and click/purchase
interval join tests."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from batch_data_pipeline_exercise_spark.operators.asof import as_of_join
from batch_data_pipeline_exercise_spark.operators.facts import (
    earliest_per_key,
    idempotent_append_rows,
)
from batch_data_pipeline_exercise_spark.plans.contract2 import clicks_before_purchases


def test_earliest_per_key(spark):
    df = spark.createDataFrame(
        [
            ("o1", dt.datetime(2021, 1, 2), "completed"),
            ("o1", dt.datetime(2021, 1, 1), "created"),
            ("o2", dt.datetime(2021, 1, 3), "created"),
        ],
        "id string, t timestamp, status string",
    )
    out = {r["id"]: r for r in earliest_per_key(df, "id", ["t"]).collect()}
    assert out["o1"]["status"] == "created" and len(out) == 2


def test_idempotent_append(spark):
    cands = spark.createDataFrame(
        [("o1", dt.datetime(2021, 1, 1)), ("o1", dt.datetime(2021, 1, 2)), ("o2", dt.datetime(2021, 1, 3))],
        "id string, t timestamp",
    )
    first = idempotent_append_rows(None, cands, "id", ["t"])
    assert first.count() == 2
    # re-running against the appended fact adds nothing
    again = idempotent_append_rows(first, cands, "id", ["t"])
    assert again.count() == 0
    # a new candidate key still lands
    more = cands.union(spark.createDataFrame([("o3", dt.datetime(2021, 1, 4))], "id string, t timestamp"))
    assert idempotent_append_rows(first, more, "id", ["t"]).count() == 1


def test_as_of_join_basic_and_ties(spark):
    left = spark.createDataFrame(
        [
            ("u1", dt.datetime(2021, 1, 10), "L1"),
            ("u1", dt.datetime(2021, 1, 1), "L2"),   # before any right row
            ("u2", dt.datetime(2021, 1, 5), "L3"),
        ],
        "k string, lt timestamp, lbl string",
    )
    right = spark.createDataFrame(
        [
            ("u1", dt.datetime(2021, 1, 5), 1, "a"),
            ("u1", dt.datetime(2021, 1, 8), 2, "b"),
            ("u1", dt.datetime(2021, 1, 8), 3, "c"),  # tie: greater id wins
            ("u2", dt.datetime(2021, 1, 5), 4, "d"),  # equal ts: inclusive match
        ],
        "k string, rt timestamp, rid int, rv string",
    )
    out = {
        r["lbl"]: r
        for r in as_of_join(left, right, on="k", left_ts="lt", right_ts="rt", tie_break="rid").collect()
    }
    assert out["L1"]["rv"] == "c" and out["L1"]["rid"] == 3
    assert out["L2"]["rv"] is None
    assert out["L3"]["rv"] == "d"  # inclusive (<=)

    strict = {
        r["lbl"]: r
        for r in as_of_join(left, right, on="k", left_ts="lt", right_ts="rt", tie_break="rid", strict=True).collect()
    }
    assert strict["L3"]["rv"] is None  # strict (<) excludes the equal-ts row


def test_as_of_join_matches_naive_range_join(spark):
    """Cross-check the linear algorithm against the quadratic definition on
    a random batch plus fixed edge rows: a left row tied with a right row
    (inclusive match), a key whose only right row is later, a left-only
    key, and a right row with a NULL timestamp."""
    import random

    rng = random.Random(7)
    lrows = [(f"k{rng.randint(0, 20)}", dt.datetime(2021, 1, 1) + dt.timedelta(minutes=rng.randint(0, 5000)), i) for i in range(300)]
    rrows = [(f"k{rng.randint(0, 20)}", dt.datetime(2021, 1, 1) + dt.timedelta(minutes=rng.randint(0, 5000)), i) for i in range(300)]
    t = lambda h: dt.datetime(2021, 1, 1, h)  # noqa: E731
    lrows += [("u1", t(5), 1000), ("u1", t(2), 1001), ("u2", t(4), 1002), ("u3", t(1), 1003)]
    rrows += [("u1", t(3), 1000), ("u1", t(5), 1001), ("u2", t(9), 1002), ("u1", None, 1003)]
    left = spark.createDataFrame(lrows, "k string, lt timestamp, lid int")
    right = spark.createDataFrame(rrows, "k string, rt timestamp, rid int")

    fast = as_of_join(left, right, on="k", left_ts="lt", right_ts="rt", tie_break="rid")
    fast_map = {r["lid"]: r["rid"] for r in fast.collect()}

    naive = (
        left.join(right, (left.k == right.k) & (right.rt <= left.lt), "left")
        .groupBy("lid")
        .agg(F.max_by("rid", F.struct("rt", "rid")).alias("rid"))
    )
    naive_map = {r["lid"]: r["rid"] for r in naive.collect()}
    assert fast_map == naive_map
    assert {lid: fast_map[lid] for lid in range(1000, 1004)} == {1000: 1001, 1001: None, 1002: None, 1003: None}


def test_as_of_join_tolerance_masks_stale_matches(spark):
    left = spark.createDataFrame(
        [("k", dt.datetime(2021, 1, 1, 12, 0), 1), ("k", dt.datetime(2021, 1, 1, 18, 0), 2)],
        "k string, lt timestamp, lid int",
    )
    right = spark.createDataFrame(
        [("k", dt.datetime(2021, 1, 1, 11, 30), 10)], "k string, rt timestamp, rid int"
    )
    # unbounded: both left rows match the 11:30 right row
    unbounded = {r["lid"]: r["rid"] for r in as_of_join(left, right, on="k", left_ts="lt", right_ts="rt").collect()}
    assert unbounded == {1: 10, 2: 10}
    # 1-hour tolerance: the 18:00 row's match is 6.5h stale -> NULL
    bounded = {
        r["lid"]: r["rid"]
        for r in as_of_join(left, right, on="k", left_ts="lt", right_ts="rt", tolerance="1 hour").collect()
    }
    assert bounded == {1: 10, 2: None}


def test_merge_partial_aggs_rejects_non_distributive(spark):
    import pytest

    from batch_data_pipeline_exercise_spark.operators.incremental import merge_partial_aggs

    df = spark.createDataFrame([("a", 1)], "k string, v long")
    with pytest.raises(ValueError, match="non-distributive"):
        merge_partial_aggs([df, df], ["k"], {"v": "avg"})
    out = merge_partial_aggs([df, df], ["k"], {"v": "sum"}).collect()
    assert out[0]["v"] == 2


def test_merge_partial_aggs_rejects_empty_parts(spark):
    import pytest

    from batch_data_pipeline_exercise_spark.operators.incremental import merge_partial_aggs

    with pytest.raises(ValueError, match="non-empty"):
        merge_partial_aggs([], ["k"], {"v": "sum"})


def test_asof_null_right_ts_never_matches(spark):
    """A right row with NULL timestamp satisfies no as-of predicate and
    must not be carried into left rows (ascending NULLs-first ordering
    would otherwise surface it as a phantom backward match)."""
    from batch_data_pipeline_exercise_spark.operators.asof import as_of_join

    left = spark.createDataFrame([(1, 10)], "k int, lt int").selectExpr(
        "k", "timestamp_seconds(lt) AS lt"
    )
    right = spark.createDataFrame([(1, None, "stale")], "k int, rt int, v string").selectExpr(
        "k", "timestamp_seconds(rt) AS rt", "v"
    )
    for direction in ("backward", "forward"):
        out = as_of_join(left, right, "k", "lt", "rt", direction=direction).collect()
        assert len(out) == 1 and out[0]["v"] is None, direction


def test_asof_null_key_never_matches(spark):
    """NULL join keys share a window partition but equi-join semantics
    (and every SQL oracle) never match NULL = NULL — a NULL-key left
    row must come back unmatched."""
    from batch_data_pipeline_exercise_spark.operators.asof import as_of_join

    left = spark.createDataFrame([(None, 10)], "k int, lt int").selectExpr(
        "k", "timestamp_seconds(lt) AS lt"
    )
    right = spark.createDataFrame([(None, 5, "phantom")], "k int, rt int, v string").selectExpr(
        "k", "timestamp_seconds(rt) AS rt", "v"
    )
    out = as_of_join(left, right, "k", "lt", "rt").collect()
    assert len(out) == 1 and out[0]["v"] is None


def test_clicks_before_purchases_interval_bounds(spark):
    """Every same-user click in [purchase - 1h, purchase]: the -1h
    boundary is inclusive; later clicks, clicks over an hour earlier and
    users without a purchase never match."""
    clicks = [
        (1, 10, "2021-03-02 10:00:00"),
        (2, 10, "2021-03-02 10:40:00"),
        (3, 10, "2021-03-02 12:00:00"),  # later than any purchase → no match
        (4, 11, "2021-03-02 09:00:00"),  # >1h before 11's purchase → outside window
        (5, 12, "2021-03-02 10:30:00"),  # user with no purchase
    ]
    purchases = [
        (100, 10, "2021-03-02 11:00:00"),  # matches clicks 1 (exactly -1h) and 2
        (101, 11, "2021-03-02 10:30:00"),  # click 4 is 1.5h earlier → no match
    ]

    def frame(rows):
        return spark.createDataFrame(rows, "event_id long, user_id long, ts string").withColumn(
            "ts", F.to_timestamp("ts")
        )

    rows = clicks_before_purchases(frame(clicks), frame(purchases)).collect()
    got = {(r["user_id"], r["purchase_event_id"], r["click_event_id"]) for r in rows}
    assert got == {(10, 100, 1), (10, 100, 2)}
