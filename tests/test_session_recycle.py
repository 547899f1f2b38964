"""Session-recycle knob (round-10 verdict task 5): long-lived local
sessions accumulate JVM state no cache clear can drop (README: an 8 GB
session OOMed on its 8th heavy sf10 query); ``recycle_session_every=N``
turns the documented fresh-session-per-run discipline into pipeline
behavior.

The equivalence tests run the RECYCLED pipelines in subprocesses — a
recycle stops the process-wide SparkSession, which would kill the shared
test fixture if run in-process. Outputs are compared as full sorted row
sets plus schema (the logical content of every layer; physical parquet
bytes legitimately differ with task scheduling)."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

# Subprocess soak pair: two full pipeline drives per test (~4 min each
# at local[4]) proving recycled == single-session. Slow-profile only
# (r15 — the driver verify window; see test_corpus_pipeline.py).
pytestmark = pytest.mark.slow

REPO = Path(__file__).resolve().parents[1]


def _backfill(wh: str, feed: str, extra: tuple[str, ...] = ()) -> dict:
    r = subprocess.run(
        [
            sys.executable, "-m", "batch_data_pipeline_exercise_spark",
            "backfill", "--feed", feed, "--csv-dir", "tests/fixtures",
            "--date-from", "2021-03-01", "--date-to", "2021-03-03",
            "--warehouse", wh, *extra,
        ],
        capture_output=True, text=True, cwd=REPO,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    return json.loads(r.stdout.strip().splitlines()[-1])


def _table_content(spark, wh_dir: str, table: str):
    from batch_data_pipeline_exercise_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, wh_dir)
    if not wh.exists(table):
        return None
    df = wh.read(table)
    return (
        sorted((f.name, f.dataType.simpleString()) for f in df.schema.fields),
        sorted(map(tuple, df.select(*sorted(df.columns)).collect()), key=repr),
    )


TABLES = (
    "dim_products", "dim_orders", "events_orders", "fact_orders_created",
    "fact_inventory", "stg_products", "stg_orders", "_backfill_log",
)


def test_backfill_recycled_equals_single_session(spark, tmp_path):
    """The full pipeline (all three feeds over the fixture range) with
    --recycle-session-every 1 — >= 2 recycles in the products process
    alone — produces exactly the layers a single-session run does."""
    wh_plain, wh_rec = str(tmp_path / "plain"), str(tmp_path / "rec")
    recycles = 0
    for feed in ("products", "orders", "inventory"):
        _backfill(wh_plain, feed)
        rep = _backfill(wh_rec, feed, ("--recycle-session-every", "1"))
        recycles += rep["session_recycles"]
        assert rep["session_recycles"] == len(rep["days_run"])
    assert recycles >= 2  # the verdict's "drive >= 2 recycles" criterion

    for table in TABLES:
        plain = _table_content(spark, wh_plain, table)
        rec = _table_content(spark, wh_rec, table)
        assert plain == rec, f"layer {table} diverged under session recycling"
    assert _table_content(spark, wh_plain, "dim_products") is not None


def test_corpus_recycled_equals_single_session(spark, tmp_path):
    """CorpusPipeline with recycle_session_every=1 over three daily
    increments (>= 2 recycles, driven via the recycle-proof run_path)
    matches the single-session corpus layer for layer."""
    script = r"""
import json, sys
from batch_data_pipeline_exercise_spark.plans.corpus_pipeline import CorpusPipeline
from batch_data_pipeline_exercise_spark.session import get_spark

wh, recycle_every, data_dir = sys.argv[1], int(sys.argv[2]), sys.argv[3]
spark = get_spark(app_name="recycle-test", master="local[4]", shuffle_partitions=4)
spark.sparkContext.setLogLevel("ERROR")
cp = CorpusPipeline(spark, wh, recycle_session_every=recycle_every)
for ds in ("2024-01-01", "2024-01-02", "2024-01-03"):
    stats = cp.run_path(f"{data_dir}/docs_{ds}.parquet", ds,
                        f"{data_dir}/emb_{ds}.parquet")
    assert not stats.get("already_done")
print(json.dumps({"recycles": cp.session_recycles}))
"""
    data_dir = tmp_path / "days"
    data_dir.mkdir()
    base = [
        (1, "the quick brown fox jumps over the lazy dog again and again", [1.0] + [0.0] * 15),
        (2, "pack my box with five dozen liquor jugs for the long winter", [0.0, 1.0] + [0.0] * 14),
        (3, "the quick brown fox jumps over the lazy dog again and again", [1.0] + [0.0] * 15),
    ]
    for d, ds in enumerate(("2024-01-01", "2024-01-02", "2024-01-03")):
        rows = [(i + 10 * d, t, v) for i, t, v in base]
        spark.createDataFrame(
            rows, "doc_id int, text string, embedding array<float>"
        ).write.mode("overwrite").parquet(str(data_dir / f"docs_{ds}.parquet"))
        spark.createDataFrame(
            [(i, v) for i, _, v in rows], "doc_id int, embedding array<float>"
        ).write.mode("overwrite").parquet(str(data_dir / f"emb_{ds}.parquet"))

    outs = {}
    for label, every in (("plain", 0), ("rec", 1)):
        wh = str(tmp_path / f"c_{label}")
        r = subprocess.run(
            [sys.executable, "-c", script, wh, str(every), str(data_dir)],
            capture_output=True, text=True, cwd=REPO,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        outs[label] = json.loads(r.stdout.strip().splitlines()[-1])
    assert outs["plain"]["recycles"] == 0
    assert outs["rec"]["recycles"] >= 2

    for table in ("corpus_docs", "corpus_fingerprints", "corpus_lsh_index",
                  "corpus_sign_index", "_corpus_log", "_corpus_sketch_config"):
        plain = _table_content(spark, str(tmp_path / "c_plain"), table)
        rec = _table_content(spark, str(tmp_path / "c_rec"), table)
        assert plain == rec, f"corpus layer {table} diverged under recycling"
    assert _table_content(spark, str(tmp_path / "c_plain"), "corpus_docs") is not None


def test_conf_snapshot_excludes_runtime_identity_keys(spark):
    """Round-13 advice: the live session's ``SET`` list carries
    runtime-identity keys Spark minted for THIS process
    (``spark.driver.port``/``host``, ``spark.app.id``/``startTime``,
    ``spark.executor.id``). Replaying the dead session's ephemeral
    driver port into a rebuilt session can intermittently fail to bind
    (aborting a soak mid-run), so the snapshot must filter them. Two
    assertions: the hazard is real (the live SET list DOES contain
    identity keys), and the snapshot excludes every one of them."""
    from batch_data_pipeline_exercise_spark.session import (
        _is_identity_key,
        session_conf_snapshot,
    )

    live = {r["key"] for r in spark.sql("SET").collect()}
    assert any(_is_identity_key(k) for k in live), (
        "expected the live SET list to carry runtime-identity keys — if "
        "Spark stopped listing them, the filter (and this test) can go"
    )
    snap = session_conf_snapshot(spark)
    leaked = sorted(k for k in snap if _is_identity_key(k))
    assert leaked == [], f"identity keys leaked into the rebuild snapshot: {leaked}"
    # the filter must not eat real engine confs
    assert "spark.sql.session.timeZone" in snap


def test_recycle_replays_builder_and_runtime_confs(tmp_path):
    """Recycled sessions were originally rebuilt from only (app, master,
    shuffle partitions); r13 snapshots the LIVE session's explicitly-set
    confs (the ``SET`` list — builder configs and runtime
    ``spark.conf.set`` alike) immediately before the stop
    (``session.rebuild_session``). Pinned here: a builder-time custom
    key survives a recycle of either pipeline, and post-construction
    runtime ``conf.set`` calls survive too."""
    script = r"""
import json, sys
from batch_data_pipeline_exercise_spark.plans.corpus_pipeline import CorpusPipeline
from batch_data_pipeline_exercise_spark.plans.pipeline import Pipeline
from batch_data_pipeline_exercise_spark.session import get_spark

KEY = "spark.sql.autoBroadcastJoinThreshold"
KEY2 = "spark.sql.parquet.filterPushdown"
TAG = "spark.my.app.tag"
spark = get_spark(app_name="conf-test", master="local[2]", shuffle_partitions=4,
                  extra_conf={TAG: "nightly"})
spark.sparkContext.setLogLevel("ERROR")

cp = CorpusPipeline(spark, sys.argv[2])
cp.recycle_session()
v_corpus = cp.spark.conf.get(TAG)

bare = Pipeline(cp.spark, sys.argv[1])
bare.spark.conf.set(KEY, "2097152")   # runtime set of a builder-default key
bare.spark.conf.set(KEY2, "false")    # runtime set of an untouched key
bare.recycle_session()
v_bare = bare.spark.conf.get(KEY)
v_bare2 = bare.spark.conf.get(KEY2)
print(json.dumps({"corpus": v_corpus, "pipe": bare.spark.conf.get(TAG),
                  "bare": v_bare, "bare2": v_bare2}))
"""
    r = subprocess.run(
        [sys.executable, "-c", script, str(tmp_path / "wh"), str(tmp_path / "cwh")],
        capture_output=True, text=True, cwd=REPO,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    # a builder-time custom key survives recycles of both pipelines
    assert out["corpus"] == "nightly"
    assert out["pipe"] == "nightly"
    # r13: runtime-set confs survive too — no silently-dropped settings
    assert out["bare"] == "2097152"
    assert out["bare2"] == "false"
