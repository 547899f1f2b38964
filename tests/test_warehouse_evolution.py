"""Warehouse dynamic partition overwrite."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from batch_data_pipeline_exercise_spark.sources.warehouse import Warehouse


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "wh"))


def test_overwrite_partitions_replaces_only_touched(spark, wh):
    base = spark.createDataFrame(
        [("2024-01", 1, "a"), ("2024-01", 2, "b"), ("2024-02", 3, "c")],
        "month string, id int, v string",
    )
    wh.overwrite(base, "t", partition_by=["month"])
    # reprocess Feb (different values) + a brand-new March partition
    upd = spark.createDataFrame(
        [("2024-02", 3, "C2"), ("2024-02", 4, "D"), ("2024-03", 5, "e")],
        "month string, id int, v string",
    )
    wh.overwrite_partitions(upd, "t", partition_by=["month"])
    got = {(r["month"], r["id"]): r["v"] for r in wh.read("t").collect()}
    assert got == {
        ("2024-01", 1): "a",  # untouched
        ("2024-01", 2): "b",
        ("2024-02", 3): "C2",  # replaced, old Feb row 'c' gone
        ("2024-02", 4): "D",
        ("2024-03", 5): "e",  # new partition landed
    }


def test_overwrite_partitions_restores_conf_and_validates(spark, wh):
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    df = spark.createDataFrame([("m1", 1)], "p string, id int")
    wh.overwrite_partitions(df, "t", partition_by=["p"])
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == prev
    with pytest.raises(ValueError, match="partition_by"):
        wh.overwrite_partitions(df, "t", partition_by=[])
    # partition-spec mismatch against the existing layout is rejected
    with pytest.raises(ValueError, match="partitioned by"):
        wh.overwrite_partitions(
            spark.createDataFrame([("m1", 1)], "q string, id int"), "t", partition_by=["q"]
        )


def test_overwrite_partitions_bootstrap_and_column_order(spark, wh):
    # no existing table → plain first write; later writes conform the
    # column order even when the caller's frame is shuffled
    df = spark.createDataFrame([("m1", 1, "x")], "p string, id int, v string")
    wh.overwrite_partitions(df, "t", partition_by=["p"])
    shuffled = spark.createDataFrame([("y", "m2", 2)], "v string, p string, id int")
    wh.overwrite_partitions(shuffled, "t", partition_by=["p"])
    got = {(r["p"], r["id"]): r["v"] for r in wh.read("t").collect()}
    assert got == {("m1", 1): "x", ("m2", 2): "y"}


def test_overwrite_partitions_rejects_existing_unpartitioned_table(spark, wh):
    wh.overwrite(spark.createDataFrame([(1, "a", "m1")], "id int, v string, p string"), "u")
    with pytest.raises(ValueError, match="partitioned by"):
        wh.overwrite_partitions(
            spark.createDataFrame([(2, "b", "m2")], "id int, v string, p string"), "u", ["p"]
        )
    # prior rows untouched by the rejected call
    assert [tuple(r) for r in wh.read("u").collect()] == [(1, "a", "m1")]
