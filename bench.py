#!/usr/bin/env python
"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE COMPACT JSON LINE PER QUERY as it finishes —
``{"q": name, "wall": s, "codegen_compiles": n, "cpu": s, "shuffle_mb": m,
"input_mb": m}`` —
then the compact headline as the LAST line of stdout:
``{"metric": ..., "value": N, "unit": "sec", "queries": {name: sec}, "sf": ...}``.
The driver tail-captures stdout with a fixed window that truncates
FRONT-first, so the newest complete records always survive: per-query
lines beat one giant resource map (round-9 lesson: the single-line map
lost 11 of 24 queries' counters to the window; round-8's even bigger
single line truncated the headline itself).

Each query is materialized with the ``noop`` sink (full execution, no
driver collect) and timed wall-clock. A warmup run of the cheapest query
absorbs JVM/codegen startup so numbers reflect steady-state throughput.

Besides min-of-3 wall seconds, each per-query line carries executor
counters from ``obs.measure`` — the stages of the jobs tagged during
the query's 3 runs, read once from the Spark UI REST API — as the mean
over the 3 runs:
``cpu`` (executor CPU seconds), ``shuffle_mb`` (shuffle write),
``input_mb`` (scan bytes), and ``codegen_compiles``: the generated
classes Janino compiled over the 3 runs (generated-class cache misses).
Wall time on a shared box swings
with host load (observed: identical plans, 22-37 s totals across
runs); the counters are deterministic per plan, so round-over-round
perf comparisons should read them first and treat wall as the tiebreak.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F

from batch_data_pipeline_exercise_spark.obs import measure
from batch_data_pipeline_exercise_spark.plans.registry import REGISTRY
from batch_data_pipeline_exercise_spark.session import get_spark


#: min-of-runs wall seconds of ``_calibration_fn`` on the round-12
#: reference box (2026-08-16, quiet, local[32]) — the unit the
#: normalized headline is expressed in. The probe is pure generated
#: in-memory compute (no file I/O, fixed 64-way parallelism), so its
#: wall time tracks the HOST's effective speed, not the engine's code:
#: the round-11 verdict measured identical code swinging 23.2 -> 28.6-31.1 s
#: across driver runs (~25-35% box drift), which made raw round-over-round
#: BENCH deltas ~80% noise. ``value_normalized`` rescales the headline to
#: this reference box so cross-round comparisons read code, not host.
CALIBRATION_REF_SEC = 1.93


def _calibration_fn(spark):
    """Fixed-work CPU probe: 2^28 generated longs through an 8-deep
    xxhash64 chain into a 97-bucket aggregate. Identical plan every
    round; partitioning pinned at 64 so neither AQE nor input splits
    can change the work per task."""
    df = spark.range(0, 1 << 28, 1, 64)
    c = F.col("id")
    for i in range(8):
        c = F.xxhash64(c, F.lit(i))
    return (
        df.select(c.alias("h"))
        .groupBy(F.pmod(F.col("h"), F.lit(97)).alias("b"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.pmod(F.col("h"), F.lit(1000003))).alias("s"))
    )


def _noop_min_wall(make_df, runs: int = 3) -> float:
    """Min wall seconds over ``runs`` full executions of ``make_df()``
    to the ``noop`` sink."""
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        make_df().write.mode("overwrite").format("noop").save()
        best = min(best, time.perf_counter() - t0)
    return best


def _run_calibration(spark, runs: int = 3) -> tuple[float, float | None]:
    """One calibration leg: min-of-``runs`` wall seconds of the probe,
    plus (r13 verdict task 2) the leg's mean executor-CPU seconds per
    run, from ``obs.measure``. Wall legs detect the box's SPEED
    changing mid-bench; CPU legs detect the counter channel itself
    inflating under contention — the r13 rounds saw identical-code
    cpu_total_sec swing 115-210 s across contended runs, so an artifact
    could be wall-suspect yet still present misleading CPU totals with
    nothing to cross-check them against. CPU is None when the UI is off
    or the read fails."""
    best, rec = measure(spark, lambda: _noop_min_wall(lambda: _calibration_fn(spark), runs))
    cpu = None if rec["exec_cpu_s"] is None else round(rec["exec_cpu_s"] / runs, 3)
    return best, cpu


def _scan_probe(spark, sf_dir: str) -> float | None:
    """Informational scan-throughput leg (r13 verdict task 2's second
    channel): full-width scan of lineitem to the noop sink, reported as
    on-disk parquet MB per wall second. The numerator is the file size
    from the filesystem, NOT the UI's ``inputBytes`` — on local files
    that counter under-reports by ~200x (measured: 5,893 bytes for a
    1 MB / 60k-row full scan), so per-query ``input_mb`` is indicative
    only and useless as a rate numerator. Not folded into
    ``calibration_suspect`` — after the first touch the file sits in
    page cache, so the rate reads decode+memory bandwidth more than
    disk and its quiet-box variance is wider than the CPU probe's; it
    is a recorded channel for a human comparing rounds, not a gate.
    Measured under its own job tag, so its stages are billed to no
    query."""
    path = Path(sf_dir) / "lineitem.parquet"
    size_mb = (
        sum(p.stat().st_size for p in path.rglob("*") if p.is_file())
        if path.is_dir()
        else path.stat().st_size
    ) / 2**20
    _, rec = measure(
        spark, lambda: spark.read.parquet(str(path)).write.mode("overwrite").format("noop").save()
    )
    return round(size_mb / rec["wall_s"], 1) if rec["wall_s"] > 0 else None


def normalized_headline(value: float, calibration: float) -> float:
    """Headline seconds rescaled to the reference box: a box whose probe
    ran 2x slower than the reference gets its headline halved back to
    reference terms. Factored out of main() so the artifact's arithmetic
    is the thing the test pins."""
    return round(value * CALIBRATION_REF_SEC / calibration, 3)


#: legs disagreeing by more than this ratio mean the box's speed CHANGED
#: mid-bench — the round-12 driver artifact normalized to 42.2 s while
#: identical code measured 30.3 s quiet, because a before/after CPU probe
#: cannot see contention that arrives and leaves between its two legs.
CALIBRATION_MAX_SPREAD = 1.15
#: sanity band for the probe itself (ADVICE r12): if a future Spark
#: version constant-folds or short-circuits the probe plan (or the box is
#: implausibly slow), the probe wall leaves [0.2x, 5x] of the reference
#: and value_normalized is arithmetic on a broken ruler.
CALIBRATION_SANE_BAND = (0.2, 5.0)
#: CPU legs disagreeing by more than this ratio mean the COUNTER channel
#: itself is contention-inflated this run (r13 verdict task 2): the probe
#: does identical work every leg, so its executor-CPU should be flat;
#: quiet boxes measure <5% leg-to-leg, while the r13 contended runs saw
#: identical-code CPU attribution swing 115->210 s (~1.8x). 1.25 sits
#: well clear of quiet noise and well inside the observed failure.
CALIBRATION_CPU_MAX_SPREAD = 1.25


def calibration_fields(legs: list[float], cpu_legs: list[float | None] | None = None) -> dict:
    """The artifact's calibration block from the raw probe legs —
    factored out of main() so tests pin the flag logic. ``suspect``
    goes true when EITHER (a) the wall legs spread wider than
    ``CALIBRATION_MAX_SPREAD`` (the box's speed changed mid-bench:
    per-query walls were taken under conditions no single probe leg
    represents, so this artifact is noise-dominated — compare CPU
    counters, not wall), (b) the best leg falls outside the sane band
    around ``CALIBRATION_REF_SEC`` (the probe itself is broken — a
    re-planned probe or an implausible box; value_normalized is then
    untrustworthy in the other direction), or (c) the per-leg probe
    CPU spreads wider than ``CALIBRATION_CPU_MAX_SPREAD`` (identical
    work should burn identical CPU; disagreement means cpu_total_sec —
    the documented PRIMARY cross-round signal — is itself inflated by
    contention this run). CPU legs with failed UI reads arrive as None
    and are excluded; fewer than two readable legs asserts nothing."""
    best = min(legs)
    spread = round(max(legs) / best, 3)
    lo, hi = CALIBRATION_SANE_BAND
    out = {
        "calibration_sec": round(best, 3),
        "calibration_ref_sec": CALIBRATION_REF_SEC,
        "calibration_legs": [round(x, 3) for x in legs],
        "calibration_spread": spread,
        "calibration_suspect": (
            spread > CALIBRATION_MAX_SPREAD
            or not (lo * CALIBRATION_REF_SEC <= best <= hi * CALIBRATION_REF_SEC)
        ),
    }
    if cpu_legs is not None:
        out["calibration_cpu_legs"] = [
            None if c is None else round(c, 3) for c in cpu_legs
        ]
        valid = [c for c in cpu_legs if c is not None and c > 0]
        if len(valid) >= 2:
            cpu_spread = round(max(valid) / min(valid), 3)
            out["calibration_cpu_spread"] = cpu_spread
            if cpu_spread > CALIBRATION_CPU_MAX_SPREAD:
                out["calibration_suspect"] = True
    return out


def _clear_session_state(spark) -> None:
    """Drop every pinned block the finished query left behind — cached
    tables and persistent RDDs, which is what ``localCheckpoint`` pins
    become. Nothing is reused across registry queries (each fn rebuilds
    its plan from parquet), but the blocks otherwise linger until the
    async ContextCleaner notices the dropped references, and their
    storage-memory footprint taxes the NEXT query's execution memory.
    Measured (round 9, sf3): embedding_near_dup_pairs costs 1,184
    executor-CPU s in a clean session but 3,079 s when profiled after
    three checkpoint-heavy queries — a 2.6× attribution error from
    extra spill, not from the query's own plan."""
    spark.catalog.clearCache()
    # py4j exposes the java.util.Map as a Python mapping
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    spark.sparkContext._jvm.System.gc()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark(
        app_name="bdpe-spark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        # the whole bench is ~24 queries x 3 runs x O(10) stages; keep
        # every stage in the status store (default retention evicts at
        # 1000) so the run's stages can also be totalled at the end
        extra_conf={"spark.ui.retainedStages": "100000", "spark.ui.retainedJobs": "100000"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    headline = [q for q in REGISTRY.values() if q.bench]

    # warmup: run the first headline query once, untimed
    headline[0].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
    _clear_session_state(spark)

    # calibration probe, leg 1 (before the queries; a mid leg halfway
    # through, leg 3 after) — the min over the legs is the box's best
    # observed speed DURING this bench, which is what min-of-3 query
    # walls measure too; the SPREAD across legs is the noise detector
    # (r12: a before/after-only probe missed mid-run contention that
    # inflated the artifact 22% while both probe legs ran quiet). Each
    # leg also records its probe executor-CPU (r13 task 2: the counter
    # channel's own health check) and an informational scan MB/s.
    calibration_legs: list[float] = []
    cpu_legs: list[float | None] = []
    scan_legs: list[float | None] = []

    def leg() -> tuple[float, dict]:
        wall, cpu = _run_calibration(spark)
        scan_mbps = _scan_probe(spark, sf_dir)
        calibration_legs.append(wall)
        cpu_legs.append(cpu)
        scan_legs.append(scan_mbps)
        return round(wall, 3), {"cpu": cpu, "scan_mbps": scan_mbps}

    wall, fields = leg()
    print(json.dumps({"calibration_leg1": wall, **fields}), flush=True)
    _clear_session_state(spark)

    # three timed runs per query, keep the min — strips one-off codegen /
    # broadcast-build / JIT noise so numbers reflect steady-state (n=2
    # mean showed ±20% drift on sub-second queries round-over-round)
    timings: dict[str, float] = {}
    resource: dict[str, dict[str, float]] = {}
    resource_partial = False
    mid_at = len(headline) // 2  # mid calibration leg after this many queries
    for qi, q in enumerate(headline):
        best, rec = measure(spark, lambda: _noop_min_wall(lambda: q.fn(spark, sf_dir)))
        timings[q.name] = round(best, 3)
        _clear_session_state(spark)
        line: dict[str, object] = {
            "q": q.name, "wall": round(best, 3), "codegen_compiles": rec["codegen_compiles"],
        }
        if rec["exec_cpu_s"] is None:
            # the UI read failed: only this query's counters are missing
            resource_partial = True
            line["resource_missing"] = True
        else:
            # mean over the 3 identical runs — per-run plan cost
            resource[q.name] = {
                k: round(rec[src] / 3, 3)
                for k, src in (("cpu", "exec_cpu_s"), ("shuffle_mb", "shuffle_write_mb"),
                               ("input_mb", "input_mb"))
            }
            line.update(resource[q.name])
        # flush immediately: the per-query record must hit stdout before a
        # later query can crash or the tail window can close over it
        print(json.dumps(line), flush=True)
        if qi + 1 == mid_at:
            wall, fields = leg()
            print(json.dumps({"calibration_leg_mid": wall, **fields}), flush=True)
            _clear_session_state(spark)

    if resource_partial:
        print(json.dumps({"resource_partial": True}), flush=True)

    # calibration probe, final leg
    leg()
    cal = calibration_fields(calibration_legs, cpu_legs)
    cal["calibration_scan_mbps_legs"] = scan_legs
    calibration = cal["calibration_sec"]

    value = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total_wall",
        "value": value,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # fixed-work probe wall on THIS box during THIS run, plus the
        # headline rescaled to the round-12 reference box: compare
        # value_normalized across rounds to read code effect; the raw
        # value still swings with host load (r10->r11: ~80% box noise).
        # calibration_suspect=true means value_normalized itself is not
        # trustworthy this run (legs disagreed >15%: the box's speed
        # changed mid-bench; or the probe left its sane band) — fall
        # back to cpu_total_sec for the round-over-round comparison.
        **cal,
        "value_normalized": normalized_headline(value, calibration),
    }
    if resource:
        out["cpu_total_sec"] = round(sum(r["cpu"] for r in resource.values()), 3)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
