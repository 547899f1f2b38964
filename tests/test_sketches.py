"""Mergeable-sketch tests: incremental distinct counts."""

from __future__ import annotations

from pyspark.sql import functions as F

from batch_data_pipeline_exercise_spark.operators import sketches


def test_incremental_distinct_equals_exact(spark, sf_dir):
    """Daily sketch rows merged at read time must reproduce the exact
    per-type distinct-user counts (cardinality is far below the HLL
    sparse threshold, where the estimate is exact), and the result must
    not depend on how events were sliced into increments."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    exact = {
        (r["event_type"],): r["n"]
        for r in e.groupBy("event_type").agg(F.count_distinct("user_id").alias("n")).collect()
    }

    # slice the log into 3 "daily" increments, sketch each independently
    parts = [e.filter(F.col("event_id") % 3 == i) for i in range(3)]
    sketch_table = None
    for p in parts:
        s = sketches.build_distinct_sketches(p, ["event_type"], "user_id")
        sketch_table = s if sketch_table is None else sketch_table.unionByName(s)

    merged = {
        (r["event_type"],): r["n_distinct"]
        for r in sketches.merge_distinct_counts(sketch_table, ["event_type"]).collect()
    }
    assert merged == exact

    # different slicing → identical answer (sketches are set-functions)
    parts2 = [e.filter(F.col("event_id") % 2 == i) for i in range(2)]
    t2 = parts2[0]
    s2 = sketches.build_distinct_sketches(parts2[0], ["event_type"], "user_id").unionByName(
        sketches.build_distinct_sketches(parts2[1], ["event_type"], "user_id")
    )
    merged2 = {
        (r["event_type"],): r["n_distinct"]
        for r in sketches.merge_distinct_counts(s2, ["event_type"]).collect()
    }
    assert merged2 == exact

    # rollup to a coarser grouping (global) from the same stored sketches
    total = sketches.merge_distinct_counts(sketch_table, []).collect()[0]["n_distinct"]
    assert total == e.select("user_id").distinct().count()


def test_hll_estimation_regime_error_bound(spark):
    """The reach queries' docstrings claim ~0.4% relative error for
    lgK=17 once cardinality leaves the exact (coupon) regime — assert
    the bound instead of trusting it. 150k distinct keys sit well past
    the sparse→dense transition; the estimate must land within 1%.
    Sliced into increments and merged, the same bound must hold (HLL
    union is lossless over same-lgK sketches)."""
    n = 150_000
    df = spark.range(n).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("user_id")
    )
    s = sketches.build_distinct_sketches(df, ["g"], "user_id")
    est = sketches.merge_distinct_counts(s, ["g"]).collect()[0]["n_distinct"]
    assert abs(est / n - 1) < 0.01

    # increment-sliced build → identical estimate (merge is exact)
    parts = [df.filter(F.col("user_id").cast("long") % 3 == i) for i in range(3)]
    t = None
    for p in parts:
        sp = sketches.build_distinct_sketches(p, ["g"], "user_id")
        t = sp if t is None else t.unionByName(sp)
    est2 = sketches.merge_distinct_counts(t, ["g"]).collect()[0]["n_distinct"]
    assert est2 == est

    # coupon-regime twin: far below the sparse threshold → EXACT
    m = 1_500
    small = spark.range(m).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("user_id")
    )
    s2 = sketches.build_distinct_sketches(small, ["g"], "user_id")
    assert sketches.merge_distinct_counts(s2, ["g"]).collect()[0]["n_distinct"] == m
