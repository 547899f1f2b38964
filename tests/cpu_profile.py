"""Per-query executor-resource profiler — the evidence tool behind the
CPUPROF_*.jsonl files.

Runs the named registry queries (or every query with ``--all``) once
each at a given SF dir with the ``noop`` sink and records settled Spark
UI counters per query:

    {"q": name, "wall": s, "cpu": executor_cpu_s, "shuffle_mb": mb,
     "input_mb": mb}

Usage:
    python tests/cpu_profile.py SF_DIR OUT.jsonl q1 q2 ...
    python tests/cpu_profile.py SF_DIR OUT.jsonl --all

Counters are cumulative-completed-stage deltas polled until stable
(same discipline as bench.py — the UI status store drains its event
queue asynchronously). Wall here is a single run (not min-of-3): the
CPU counter is the comparison metric, wall is context only.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from batch_data_pipeline_exercise_spark.plans.registry import REGISTRY  # noqa: E402
from batch_data_pipeline_exercise_spark.session import get_spark  # noqa: E402
from bench import _clear_session_state, _settled_totals  # noqa: E402


def main() -> None:
    sf_dir, out_path = sys.argv[1], Path(sys.argv[2])
    names = sys.argv[3:]
    if names == ["--all"]:
        names = sorted(REGISTRY)
    out_path.parent.mkdir(exist_ok=True)

    spark = get_spark(
        app_name="cpu-profile",
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={"spark.ui.retainedStages": "100000", "spark.ui.retainedJobs": "100000"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    ui_url = spark.sparkContext.uiWebUrl

    # warmup absorbs JVM/codegen startup so the first profiled query
    # isn't charged for it
    REGISTRY[names[0]].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
    _clear_session_state(spark)

    prev = _settled_totals(ui_url)
    with out_path.open("a") as fh:
        for name in names:
            t0 = time.perf_counter()
            REGISTRY[name].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            wall = time.perf_counter() - t0
            # drop the query's pinned blocks BEFORE reading counters so
            # the next query starts with clean execution memory — see
            # bench._clear_session_state for the measured 2.6×
            # cross-query attribution error this prevents
            _clear_session_state(spark)
            rec: dict = {"q": name, "wall": round(wall, 2)}
            cur = _settled_totals(ui_url)
            if prev is not None and cur is not None:
                rec["cpu"] = round(cur["cpu"] - prev["cpu"], 2)
                rec["shuffle_mb"] = round(cur["shuffle_mb"] - prev["shuffle_mb"], 2)
                rec["input_mb"] = round(cur["input_mb"] - prev["input_mb"], 2)
            if cur is not None:
                prev = cur
            fh.write(json.dumps(rec) + "\n")
            fh.flush()
            print(json.dumps(rec))
    spark.stop()


if __name__ == "__main__":
    main()
