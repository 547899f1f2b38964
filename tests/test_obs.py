"""obs.measure bills each call exactly the Spark jobs it started — fan-out
branches included — and a failed REST read costs only the record's cost
fields, never the call's result."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from batch_data_pipeline_exercise_spark import obs
from batch_data_pipeline_exercise_spark.obs import measure
from batch_data_pipeline_exercise_spark.plans.pipeline import fan_out


def _marker_job(spark) -> int:
    (job,) = measure(spark, spark.sparkContext.parallelize([1]).count)[1]["jobs"]
    return job


def _assert_costed(rec):
    assert rec["stages"] > 0 and rec["tasks"] > 0 and rec["exec_cpu_s"] > 0


def test_back_to_back_calls_are_billed_their_own_jobs(spark):
    df = spark.range(0, 20_000, 1, 4)
    aggregate = df.groupBy((F.col("id") % 7).alias("k")).count()
    joined = aggregate.join(df.select((F.col("id") % 7).alias("k"), "id"), "k")

    m0 = _marker_job(spark)
    rows, agg_rec = measure(spark, aggregate.collect)
    m1 = _marker_job(spark)
    n, join_rec = measure(spark, joined.count)
    m2 = _marker_job(spark)

    assert len(rows) == 7 and n == 20_000
    # job ids are handed out in submission order, so the ids between two
    # markers are exactly the jobs the call started
    assert agg_rec["jobs"] == list(range(m0 + 1, m1))
    assert join_rec["jobs"] == list(range(m1 + 1, m2))
    assert not set(agg_rec["jobs"]) & set(join_rec["jobs"])
    _assert_costed(agg_rec)
    _assert_costed(join_rec)
    assert agg_rec["wall_s"] > 0


def test_fan_out_branch_jobs_are_billed_to_the_caller(spark):
    sc = spark.sparkContext
    groups = [f"branch-{uuid.uuid4().hex}" for _ in range(2)]

    def branch(group: str, mod: int):
        def run() -> int:
            sc.setJobGroup(group, group)
            try:
                return spark.range(0, 10_000, 1, 4).groupBy(F.col("id") % mod).count().count()
            finally:
                sc._jsc.clearJobGroup()

        return run

    m0 = _marker_job(spark)
    counts, rec = measure(spark, lambda: fan_out(spark, branch(groups[0], 3), branch(groups[1], 5)))
    m1 = _marker_job(spark)

    assert counts == [3, 5]
    assert rec["jobs"] == list(range(m0 + 1, m1))
    for group in groups:
        branch_jobs = set(sc.statusTracker().getJobIdsForGroup(group))
        assert branch_jobs and branch_jobs <= set(rec["jobs"])
    _assert_costed(rec)


def test_failed_rest_read_keeps_the_result(spark, monkeypatch):
    def unreachable(*args, **kwargs):
        raise OSError("injected REST failure")

    monkeypatch.setattr(obs.urllib.request, "urlopen", unreachable)
    n, rec = measure(spark, spark.range(0, 1_000, 1, 2).count)
    assert n == 1_000
    assert all(rec[k] is None for k in obs.COST_FIELDS)
    assert rec["jobs"] and rec["wall_s"] > 0
