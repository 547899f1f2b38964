"""Tag-attributed cost of one call — the one reader of Spark's per-stage
executor counters that ``bench.py``, the corpus soak and the tests share.

``measure(spark, fn)`` runs ``fn`` under a fresh job tag. ``fan_out``
branches inherit the caller's job tags (``inheritable_thread_target``),
so their jobs carry the tag too. After ``fn`` returns, the listener bus
is drained once, so the status store holds every event of the call, and
the UI REST ``/jobs`` and ``/stages`` are read once. Each COMPLETE or
FAILED stage is billed to the lowest-numbered job that lists it (a later
job lists a reused shuffle stage as skipped; billing it there too would
count it twice), and the record sums the stages billed to the call's
jobs. There is no retry loop: one drain, one read.
"""

from __future__ import annotations

import json
import time
import urllib.request
import uuid
from collections.abc import Callable
from typing import Any, TypeVar

from pyspark.sql import SparkSession

from batch_data_pipeline_exercise_spark.session import codegen_compiles

T = TypeVar("T")

#: record fields read from the REST API; all None when that read fails
COST_FIELDS = ("exec_cpu_s", "shuffle_write_mb", "spill_mb", "input_mb", "stages", "tasks")


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def _stage_costs(sc, jobs: set[int]) -> dict[str, float | None]:
    """Sum the counters of the stages billed to ``jobs``; every field is
    None when the UI is off or the read fails."""
    if sc.uiWebUrl is None:
        return dict.fromkeys(COST_FIELDS)
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    try:
        all_jobs, all_stages = _get(f"{base}/jobs"), _get(f"{base}/stages")
    except (OSError, ValueError):  # a failed read costs only this record
        return dict.fromkeys(COST_FIELDS)
    owner: dict[int, int] = {}
    for j in all_jobs:
        for sid in j.get("stageIds", ()):
            owner[sid] = min(owner.get(sid, j["jobId"]), j["jobId"])
    out = dict.fromkeys(COST_FIELDS, 0.0)
    out["stages"] = out["tasks"] = 0
    for s in all_stages:
        if s.get("status") not in ("COMPLETE", "FAILED") or owner.get(s["stageId"]) not in jobs:
            continue
        out["exec_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
        out["shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) / 2**20
        out["spill_mb"] += s.get("diskBytesSpilled", 0) / 2**20
        out["input_mb"] += s.get("inputBytes", 0) / 2**20
        out["stages"] += 1
        out["tasks"] += s.get("numTasks", 0)
    return out


def measure(spark: SparkSession, fn: Callable[[], T]) -> tuple[T, dict[str, Any]]:
    """Run ``fn`` and return ``(fn(), record)``. The record holds
    ``wall_s``, ``jobs`` (sorted ids of the Spark jobs ``fn`` started),
    ``codegen_compiles`` and the ``COST_FIELDS``: executor CPU seconds,
    shuffle-write / spill / input MB, stage and task counts. The cost
    fields are None when the REST read fails or the UI is off; ``jobs``
    comes from the status tracker and is always there."""
    sc = spark.sparkContext
    tag = f"obs-{uuid.uuid4().hex}"
    compiles0 = codegen_compiles(spark)
    sc.addJobTag(tag)
    t0 = time.perf_counter()
    try:
        result = fn()
    finally:
        wall = time.perf_counter() - t0
        sc.removeJobTag(tag)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sorted(sc._jsc.sc().statusTracker().getJobIdsForTag(tag))
    record = {
        "wall_s": wall,
        "jobs": jobs,
        "codegen_compiles": codegen_compiles(spark) - compiles0,
        **_stage_costs(sc, set(jobs)),
    }
    return result, record
