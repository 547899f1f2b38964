"""Auto-escalating embedding sketch (r13 verdict task 3).

``embedding_near_dup_pairs(on_over_budget="resize")`` applies the sized
pick the refusal would only have suggested: over-budget scout ->
``auto_sized_sketch_pick`` at the operator's own threshold -> rebuild ->
re-gate the ACTUAL count. The mode is opt-in and self-describing — every
output row carries a constant-key broadcast audit block
(requested_bands/rows, sketch_bands/rows, sketch_resized) so escalated
runs are always distinguishable from pinned ones.

This file drives the mechanism end-to-end at a suite-sized corpus (60k
vectors — the sf3 embedding count); the verdict's literal 600k scenario
was measured once (``evidence/AUTORESIZE_r14.jsonl``) because its
sketch+verify work is a multi-minute local[32] job, and the sizing solve itself is pinned at
600k in ``tests/test_sizing_model.py``.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from batch_data_pipeline_exercise_spark.operators import similarity

N, DIM = 60_000, 32
BUDGET = 2_000_000


def _vectors(spark, n: int = N, dim: int = DIM, dup_every: int = 100):
    """Deterministic centered grid vectors; every ``dup_every``-th id at
    the tail duplicates an early vector so verified pairs exist (a 0-row
    result would make the audit block unobservable)."""
    src = F.when(
        F.col("id") >= n - n // dup_every, (F.col("id") - (n - n // dup_every)) * dup_every
    ).otherwise(F.col("id"))
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (F.pmod(F.xxhash64(src, F.lit(i)), F.lit(100_000)) / F.lit(50_000.0) - 1.0)
                for i in range(dim)
            ]
        ).alias("embedding"),
    )


def test_over_budget_auto_escalates_with_audit(spark):
    """60k vectors at the 8x8 config blow a 2M candidate budget (uniform
    model: 8 * 60k * 234 / 2 ~= 56M per-band collisions); with
    on_over_budget='resize' the run completes at a deeper sketch instead
    of raising, the audit names both the requested and effective
    configs, and the planted duplicate pairs all survive (an escalation
    must not silently lose exact dups — they collide in every band at
    any width)."""
    e = _vectors(spark)
    out = similarity.embedding_near_dup_pairs(
        e, threshold=0.95, bands=8, rows_per_band=8, seed=42, dim=DIM,
        max_candidates=BUDGET, on_over_budget="resize",
    )
    rows = out.collect()
    assert rows, "planted duplicates must yield verified pairs"
    audits = {
        (r["requested_bands"], r["requested_rows"], r["sketch_bands"],
         r["sketch_rows"], r["sketch_resized"])
        for r in rows
    }
    assert len(audits) == 1, f"audit must be one constant block, got {audits}"
    req_b, req_r, eff_b, eff_r, resized = audits.pop()
    assert (req_b, req_r) == (8, 8)
    assert resized is True and eff_r > 8
    # the effective config lies on the solver's own escalation path:
    # re-walking auto_sized_sketch_pick from rows 9 upward must reach it
    p = similarity.cosine_collision_p(0.95)
    walk_rows, seen = 9, set()
    for _ in range(4):
        b, r, _rec = similarity.auto_sized_sketch_pick(N, BUDGET, p, min_rows=walk_rows)
        seen.add((b, r))
        walk_rows = r + 1
    assert (eff_b, eff_r) in seen, f"({eff_b},{eff_r}) not on solver path {seen}"
    # every planted exact-dup pair verified (cosine 1.0 >= 0.95); skip
    # the few tail ids whose nominal partner i*100 lands in the tail
    # region and is itself remapped
    tail_start = N - N // 100
    planted = {
        (i * 100, tail_start + i) for i in range(N // 100) if i * 100 < tail_start
    }
    got = {(int(r["id1"]), int(r["id2"])) for r in rows}
    assert planted <= got


def test_under_budget_resize_keeps_pinned_config(spark):
    """A 'resize' run that fits at the pinned config must run the pinned
    plan — audit says so (resized=False, effective == requested)."""
    e = _vectors(spark, n=2_000)
    out = similarity.embedding_near_dup_pairs(
        e, threshold=0.95, bands=8, rows_per_band=8, seed=42, dim=DIM,
        max_candidates=10_000_000, on_over_budget="resize",
    )
    audits = out.select(
        "requested_bands", "requested_rows", "sketch_bands", "sketch_rows", "sketch_resized"
    ).distinct().collect()
    assert len(audits) == 1
    a = audits[0]
    assert (a["sketch_bands"], a["sketch_rows"], a["sketch_resized"]) == (8, 8, False)


def test_default_mode_still_refuses(spark):
    """on_over_budget defaults to 'raise': the registry contract (refuse
    with the sized suggestion) is unchanged."""
    e = _vectors(spark, n=20_000)
    with pytest.raises(similarity.LshCandidateBudgetError, match="Resize the sketch"):
        similarity.embedding_near_dup_pairs(
            e, threshold=0.95, bands=8, rows_per_band=8, seed=42, dim=DIM,
            max_candidates=1_000, on_over_budget="raise",
        )


def test_resize_without_budget_is_an_error(spark):
    e = _vectors(spark, n=100)
    with pytest.raises(ValueError, match="needs max_candidates"):
        similarity.embedding_near_dup_pairs(
            e, threshold=0.95, bands=8, rows_per_band=8, seed=42, dim=DIM,
            on_over_budget="resize",
        )
    with pytest.raises(ValueError, match="on_over_budget"):
        similarity.embedding_near_dup_pairs(
            e, threshold=0.95, bands=8, rows_per_band=8, seed=42, dim=DIM,
            max_candidates=10, on_over_budget="escalate",
        )
