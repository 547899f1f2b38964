"""Regenerate the headline plan-shape fixture.

Run after an INTENTIONAL plan change and commit the diff together with
the code change that caused it:

    python tests/regen_plan_shapes.py
"""

from __future__ import annotations

import json
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from batch_data_pipeline_exercise_spark.plans.registry import REGISTRY  # noqa: E402
from batch_data_pipeline_exercise_spark.session import get_spark  # noqa: E402
from tests.test_plan_snapshots import FIXTURE, _pinned_names, plan_shape  # noqa: E402


def main() -> None:
    spark = get_spark(
        app_name="regen-plan-shapes",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="spark-warehouse-"),
        },
    )
    sf_dir = "/root/testdata/sf0.001"
    shapes = {}
    for name in _pinned_names():
        plan = REGISTRY[name].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        shapes[name] = plan_shape(plan)
        print(name, shapes[name])
    FIXTURE.write_text(json.dumps(shapes, indent=1, sort_keys=True) + "\n")
    print(f"wrote {FIXTURE}")


if __name__ == "__main__":
    main()
