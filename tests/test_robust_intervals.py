"""Unit tests for the round-5 cleaning operators: forward as-of,
winsorization, trailing anomaly flags, group imputation, interval
coalescing, weighted/budgeted sampling."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

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


def _t(day: int, hour: int = 0, minute: int = 0) -> dt.datetime:
    return dt.datetime(2021, 1, day, hour, minute)


# ---------------------------------------------------------------------------
# forward as-of
# ---------------------------------------------------------------------------


def test_as_of_forward_basic_ties_and_tolerance(spark):
    left = spark.createDataFrame(
        [
            ("u1", _t(5), "L1"),     # next right: day 5 (equal ts, inclusive)
            ("u1", _t(6), "L2"),     # next right: day 8, smallest rid wins tie
            ("u1", _t(20), "L3"),    # no right after → NULL
            ("u2", _t(1), "L4"),     # nearest right day 9 > 3d tolerance → NULL
        ],
        "k string, lt timestamp, lbl string",
    )
    right = spark.createDataFrame(
        [
            ("u1", _t(5), 1, "a"),
            ("u1", _t(8), 2, "b"),
            ("u1", _t(8), 3, "c"),
            ("u2", _t(9), 4, "d"),
        ],
        "k string, rt timestamp, rid int, rv string",
    )
    out = {
        r["lbl"]: r
        for r in as_of_join(
            left, right, "k", "lt", "rt", tie_break="rid", direction="forward",
            tolerance="3 days",
        ).collect()
    }
    assert out["L1"]["rid"] == 1  # inclusive equal-ts match
    assert out["L2"]["rid"] == 2  # earliest ts; smallest rid on tie
    assert out["L3"]["rid"] is None
    assert out["L4"]["rid"] is None  # beyond tolerance


def test_as_of_forward_strict_skips_equal_ts(spark):
    left = spark.createDataFrame([("u1", _t(5), "L1")], "k string, lt timestamp, lbl string")
    right = spark.createDataFrame(
        [("u1", _t(5), 1), ("u1", _t(7), 2)], "k string, rt timestamp, rid int"
    )
    row = as_of_join(
        left, right, "k", "lt", "rt", tie_break="rid", direction="forward", strict=True
    ).collect()[0]
    assert row["rid"] == 2


def test_as_of_direction_validation(spark):
    df = spark.createDataFrame([("u1", _t(1))], "k string, t timestamp")
    with pytest.raises(ValueError, match="direction"):
        as_of_join(df, df, "k", "t", "t", direction="sideways")


def test_as_of_forward_is_mirror_of_backward(spark):
    """Forward on t == backward on -t (via reversed epoch): every left row
    matches the same right row under time reversal."""
    left = spark.createDataFrame(
        [("u1", _t(d), f"L{d}") for d in (2, 6, 9, 13)],
        "k string, lt timestamp, lbl string",
    )
    right = spark.createDataFrame(
        [("u1", _t(d), d) for d in (4, 8, 12)], "k string, rt timestamp, rid int"
    )
    fwd = {
        r["lbl"]: r["rid"]
        for r in as_of_join(left, right, "k", "lt", "rt", direction="forward").collect()
    }
    # reverse time: t -> -t, keep labels; backward join must match same rids
    neg = F.timestamp_seconds(-F.unix_timestamp(F.col("lt")))
    rleft = left.withColumn("lt", neg)
    rright = right.withColumn("rt", F.timestamp_seconds(-F.unix_timestamp(F.col("rt"))))
    bwd = {
        r["lbl"]: r["rid"]
        for r in as_of_join(rleft, rright, "k", "lt", "rt").collect()
    }
    assert fwd == bwd == {"L2": 4, "L6": 8, "L9": 12, "L13": None}


# ---------------------------------------------------------------------------
# winsorize / anomalies / imputation
# ---------------------------------------------------------------------------


def test_winsorize_clamps_to_discrete_percentiles(spark):
    rows = [(i, "g", float(i)) for i in range(1, 101)]  # values 1..100
    df = spark.createDataFrame(rows, "id int, g string, v double")
    out = winsorize(df, "v", ["g"], "id", 5, 95, out_col="w")
    got = {r["id"]: r for r in out.collect()}
    # rank ceil(100*5/100)=5 → bound 5.0; ceil(95)=95 → 95.0
    assert got[1]["w"] == 5.0 and got[3]["w"] == 5.0
    assert got[100]["w"] == 95.0 and got[99]["w"] == 95.0
    assert got[50]["w"] == 50.0  # interior untouched
    assert got[42]["__p_lo"] == 5.0 and got[42]["__p_hi"] == 95.0


def test_winsorize_nulls_stay_null_and_do_not_shift_bounds(spark):
    rows = [(i, "g", float(i)) for i in range(1, 101)] + [(200, "g", None), (201, "g", None)]
    df = spark.createDataFrame(rows, "id int, g string, v double")
    got = {r["id"]: r for r in winsorize(df, "v", ["g"], "id", 5, 95, out_col="w").collect()}
    # NULL rows winsorize to NULL — no fabricated p_lo values
    assert got[200]["w"] is None and got[201]["w"] is None
    # bounds computed over the 100 non-null values only
    assert got[50]["__p_lo"] == 5.0 and got[50]["__p_hi"] == 95.0
    assert got[1]["w"] == 5.0 and got[100]["w"] == 95.0


def test_trailing_anomalies_flags_spike_not_baseline(spark):
    # flat 10s then a 100 spike; spike is flagged, flat days are not,
    # and the first rows (insufficient trailing points) are not
    rows = [("a", d, 10) for d in range(1, 8)] + [("a", 8, 100), ("a", 9, 10)]
    df = spark.createDataFrame(rows, "k string, d int, cnt int")
    out = {r["d"]: r for r in trailing_count_anomalies(df, ["k"], "d", "cnt").collect()}
    assert out[8]["is_anomaly"] is True
    assert all(out[d]["is_anomaly"] is False for d in (1, 2, 3, 7))
    # day 9's baseline includes the spike (variance explodes) → not flagged
    assert out[9]["is_anomaly"] is False
    assert out[1]["trailing_n"] == 0 and out[8]["trailing_n"] == 7


def test_impute_by_group_mean_and_empty_group(spark):
    df = spark.createDataFrame(
        [("g1", 1, 10.0, False), ("g1", 2, 20.0, False), ("g1", 3, 999.0, True),
         ("g2", 4, 5.0, True)],  # g2 has no clean rows → NULL impute
        "g string, id int, v double, bad boolean",
    )
    out = {r["id"]: r for r in impute_by_group(
        df, "v", ["g"], missing=F.col("bad"), out_col="clean").collect()}
    assert out[3]["clean"] == 15.0 and out[3]["was_imputed"] is True
    assert out[1]["clean"] == 10.0 and out[1]["was_imputed"] is False
    assert out[4]["clean"] is None


# ---------------------------------------------------------------------------
# interval coalescing
# ---------------------------------------------------------------------------


def test_coalesce_intervals_merges_overlaps_and_touching(spark):
    df = spark.createDataFrame(
        [
            # overlapping pair + touching third → one span [1, 6)
            ("u1", 1, _t(1), _t(3)),
            ("u1", 2, _t(2), _t(4)),
            ("u1", 3, _t(4), _t(6)),
            # gap → separate span
            ("u1", 4, _t(10), _t(11)),
            # nested interval swallowed
            ("u2", 5, _t(1), _t(9)),
            ("u2", 6, _t(2), _t(3)),
        ],
        "k string, id int, s timestamp, e timestamp",
    )
    out = coalesce_intervals(df, ["k"], "s", "e", "id").collect()
    spans = {(r["k"], r["span_start"], r["span_end"]): r["n_intervals"] for r in out}
    assert spans[("u1", _t(1), _t(6))] == 3
    assert spans[("u1", _t(10), _t(11))] == 1
    assert spans[("u2", _t(1), _t(9))] == 2
    assert len(spans) == 3


def test_coalesce_intervals_out_of_order_end_extension(spark):
    # an interval whose end extends past a LATER-starting but
    # earlier-ending one: running max (not lag) semantics
    df = spark.createDataFrame(
        [("u", 1, _t(1), _t(10)), ("u", 2, _t(2), _t(3)), ("u", 3, _t(5), _t(12)),
         ("u", 4, _t(13), _t(14))],
        "k string, id int, s timestamp, e timestamp",
    )
    out = sorted(coalesce_intervals(df, ["k"], "s", "e", "id").collect(), key=lambda r: r["span_start"])
    assert [(r["span_start"], r["span_end"], r["n_intervals"]) for r in out] == [
        (_t(1), _t(12), 3),
        (_t(13), _t(14), 1),
    ]


# ---------------------------------------------------------------------------
# weighted + budget sampling
# ---------------------------------------------------------------------------


def test_weighted_priority_sample_quota_and_determinism(spark):
    rows = [(i, "s" if i % 2 else "t", 10 + i) for i in range(1, 201)]
    df = spark.createDataFrame(rows, "id int, g string, w int")
    a = weighted_priority_sample(df, ["g"], "id", "w", k=10)
    b = weighted_priority_sample(df, ["g"], "id", "w", k=10)
    ra = sorted(r["id"] for r in a.collect())
    assert ra == sorted(r["id"] for r in b.collect())  # deterministic
    counts = {r["g"]: r["n"] for r in a.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert counts == {"s": 10, "t": 10}
    # a different seed draws a different sample
    c = weighted_priority_sample(df, ["g"], "id", "w", k=10, seed="other")
    assert sorted(r["id"] for r in c.collect()) != ra


def test_weighted_priority_sample_biases_toward_heavy_rows(spark):
    # two strata-less populations: weight 1000 vs weight 1; heavy rows
    # must dominate the selected quota
    rows = [(i, "g", 1000 if i <= 100 else 1) for i in range(1, 1101)]
    df = spark.createDataFrame(rows, "id int, g string, w int")
    picked = [r["id"] for r in weighted_priority_sample(df, ["g"], "id", "w", k=50).collect()]
    heavy = sum(1 for i in picked if i <= 100)
    assert heavy >= 40  # expected ~ all heavy; allow slack


def test_maintain_topk_matches_full_recompute(spark):
    from pyspark.sql.window import Window

    from batch_data_pipeline_exercise_spark.operators.incremental import maintain_topk

    rows = [(i % 7, i, float((i * 37) % 100)) for i in range(200)]
    df = spark.createDataFrame(rows, "k int, id int, v double")
    order = [F.col("v").desc(), F.col("id").asc()]
    # fold in 4 arbitrary slices
    stored = None
    for lo in range(0, 200, 50):
        batch = df.filter((F.col("id") >= lo) & (F.col("id") < lo + 50))
        stored = maintain_topk(stored, batch, ["k"], order, k=5).localCheckpoint()
    w = Window.partitionBy("k").orderBy(*order)
    full = df.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 5)
    assert sorted(map(tuple, stored.collect())) == sorted(map(tuple, full.collect()))


def test_maintain_topk_evicted_rows_never_return(spark):
    from batch_data_pipeline_exercise_spark.operators.incremental import maintain_topk

    order = [F.col("v").desc(), F.col("id").asc()]
    b1 = spark.createDataFrame([(1, 1, 9.0), (1, 2, 8.0), (1, 3, 1.0)], "k int, id int, v double")
    b2 = spark.createDataFrame([(1, 4, 7.0)], "k int, id int, v double")
    s1 = maintain_topk(None, b1, ["k"], order, k=2)
    s2 = maintain_topk(s1, b2, ["k"], order, k=2)
    got = sorted(r["id"] for r in s2.collect())
    assert got == [1, 2]  # id=3 was evicted in fold 1; id=4 can't displace 8.0


def test_token_budget_sample_respects_budget_and_keeps_oversize_head(spark):
    rows = [(i, "g", 40) for i in range(1, 21)] + [(99, "h", 500)]
    df = spark.createDataFrame(rows, "id int, g string, sz int")
    out = token_budget_sample(df, ["g"], "sz", budget=100, key_col="id", cum_col="cum")
    by_g: dict[str, list] = {}
    for r in out.collect():
        by_g.setdefault(r["g"], []).append(r)
    # 40-char docs: cum before adding < 100 → first 3 kept (cum 40,80,120)
    assert len(by_g["g"]) == 3 and max(r["cum"] for r in by_g["g"]) == 120
    # oversize single doc still kept
    assert len(by_g["h"]) == 1 and by_g["h"][0]["cum"] == 500
