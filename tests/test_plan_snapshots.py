"""Plan-shape snapshot regression net for the headline queries.

`test_plan_quality.py` guards against absolute scale-killers
(cartesian joins, unpartitioned windows). This file pins the EXPECTED
physical-plan composition of every bench-flagged query — join strategy
counts and exchange counts — so a quieter class of regression fails CI
too: a broadcast hint lost in a refactor (BroadcastHashJoin silently
becoming SortMergeJoin), an accidental extra shuffle, or a pushdown
change that adds a scan.

The fixture is data-INDEPENDENT (plan shape at sf0.001 equals the shape
at any sf under the same conf, because the session pins AQE and
autoBroadcastJoinThreshold via `session.get_spark` and every broadcast
in the repo is an explicit hint, not a size-based choice). When a plan
improves on purpose, update `fixtures/plan_shapes.json` in the same
commit and say why.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from batch_data_pipeline_exercise_spark.plans.registry import REGISTRY

FIXTURE = Path(__file__).parent / "fixtures" / "plan_shapes.json"

# operators whose counts characterize a plan's shuffle/join structure
MARKERS = [
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "Exchange hashpartitioning",
    "Exchange rangepartitioning",
    "Exchange SinglePartition",
]


def plan_shape(plan: str) -> dict[str, int]:
    return {m: plan.count(m) for m in MARKERS if plan.count(m) > 0}


#: non-bench queries whose plan shapes are pinned anyway (r13 verdict
#: task 7): the as-of join family has three strategies (window linear
#: form, cogroup, pandas — operators/asof.py) and only the benched
#: purchase_after_click_asof was fixture-covered; these two registry
#: queries rely on the same linear (shuffle-then-window) plan staying
#: linear, so a strategy regression must fail CI, not just slow a
#: future sweep.
EXTRA_PINNED = (
    "click_purchase_attribution",
    "purchase_after_click_1h",
)


def _headline_names() -> list[str]:
    return sorted(n for n, q in REGISTRY.items() if q.bench)


def _pinned_names() -> list[str]:
    return sorted(set(_headline_names()) | set(EXTRA_PINNED))


@pytest.mark.parametrize("name", _pinned_names())
def test_headline_plan_shape_is_pinned(spark, sf_dir, name):
    expected = json.loads(FIXTURE.read_text())
    assert name in expected, (
        f"{name} is bench-flagged but has no plan-shape fixture — run "
        f"tests/regen_plan_shapes.py (or add it by hand) in the same commit"
    )
    plan = REGISTRY[name].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    got = plan_shape(plan)
    assert got == expected[name], (
        f"{name}: physical plan shape changed.\n  pinned:  {expected[name]}\n"
        f"  current: {got}\nIf the change is intentional (an optimization "
        f"landed), update fixtures/plan_shapes.json in the same commit."
    )


def test_kmeans_quantized_round_plan_shape(spark, sf_dir):
    """r12 verdict task 6: the quantized k-means trainer is the only
    trained-model operator with a cross-engine oracle, but its per-round
    plan was unpinned — a Spark upgrade that re-plans the argmax window
    or turns the carry-over into a sort-merge join would change cost
    silently while staying correct. The intended round shape: ONE
    deliberate keyless broadcast (the bounded n×k scoring expansion),
    ONE broadcast hash join (the ≤k-row carry-over), THREE hash
    exchanges (argmax window by id; the per-(cell, pos) integer-sum;
    the per-cell collect_list) — and nothing else."""
    from pyspark.sql import functions as F

    from batch_data_pipeline_exercise_spark.operators import similarity

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = similarity._kmeans_quantized_base(e)
    cent = (
        base.orderBy("id")
        .limit(16)
        .select(F.col("id").alias("cell"), F.col("__v").alias("__c"))
        .localCheckpoint()
    )
    rnd = similarity._kmeans_quantized_round(base, cent)
    plan = rnd._jdf.queryExecution().executedPlan().toString()
    assert plan_shape(plan) == {
        "BroadcastHashJoin": 1,
        "BroadcastNestedLoopJoin": 1,
        "Exchange hashpartitioning": 3,
    }


def test_kmeans_quantized_trainer_stays_pinned(spark, sf_dir):
    """The trainer's returned frame must be a checkpoint scan — if a
    refactor drops the per-round ``localCheckpoint``, every downstream
    action re-executes the whole n_iter-round lineage (and the
    bit-reproducibility argument, which pins each round's input,
    no longer describes the executed plan)."""
    from batch_data_pipeline_exercise_spark.operators import similarity

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cent = similarity.kmeans_centroids_quantized(e, k=16, n_iter=1)
    plan = cent._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan and plan_shape(plan) == {}


def test_fixture_has_no_stale_entries():
    expected = json.loads(FIXTURE.read_text())
    stale = set(expected) - set(_pinned_names())
    assert not stale, f"fixture entries for unpinned queries: {sorted(stale)}"
