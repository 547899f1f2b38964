#!/usr/bin/env python3
"""End-to-end benchmark: one workload, one seed, one JSON result line.

    python3 e2ebench/run.py --workload dwh_daily --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads: ``dwh_daily``, ``corpus_daily``
(see README.md beside this file). ``--trace 0`` prints
the end-to-end metrics; ``--trace 1`` runs the same set-up and timed ops
traced, and prints the per-layer metrics (the spans are written to
``.e2ebench/trace-<workload>-seed<n>.json``). The tracing overhead is
the traced run's ``trace.op_p50_s`` over the ``op_p50_s`` of untraced
runs on the same seed.

The last line of stdout is ``{"correct", "attempted", "failed",
"metrics"}``; the line before it is a human-readable summary. Spark runs
at ``local[<usable cores>]``. Exits non-zero without a result line when
the engine package is missing or a run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

WORKLOAD_NAMES = ("dwh_daily", "corpus_daily")


def _parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=WORKLOAD_NAMES, required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    return args


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    if not (ROOT / "batch_data_pipeline_exercise_spark" / "__init__.py").exists():
        print(f"engine package batch_data_pipeline_exercise_spark not found under {ROOT}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    from e2ebench import workloads as W

    try:
        out = W.run(args.workload, args.seed, args.seconds, bool(args.trace), ROOT, cpus)
    except Exception:  # noqa: BLE001 — the run is the boundary: report and fail
        traceback.print_exc()
        return 1
    for f in out["failures"]:
        print(f"check failed: {f}", file=sys.stderr)
    summary = {"workload": args.workload, "seed": args.seed, "cpus": cpus, **out["summary"]}
    print(json.dumps(summary))
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
