"""Warehouse compaction, analyze, crash recovery and append-once tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from batch_data_pipeline_exercise_spark.sources.warehouse import Warehouse


def test_warehouse_compact_and_analyze(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    df = spark.range(0, 1000).select(F.col("id"), (F.col("id") % 7).alias("g"))
    # simulate many small appended files
    for i in range(5):
        wh.append(df.repartition(4), "t")
    import glob

    n_before = len(glob.glob(f"{tmp_path}/t/*.parquet"))
    wh.compact("t", target_partitions=2)
    n_after = len(glob.glob(f"{tmp_path}/t/*.parquet"))
    assert n_after < n_before and n_after <= 2
    assert wh.read("t").count() == 5000

    wh.analyze("t", "t_stats")
    stats = spark.sql("DESCRIBE TABLE EXTENDED t_stats").collect()
    assert any("Statistics" in r["col_name"] for r in stats)
    spark.sql("DROP TABLE t_stats")


def test_warehouse_crash_recovery(spark, tmp_path):
    """A crash between the swap renames leaves only __bak; the next access
    must restore it, not treat the table as missing."""
    import shutil

    wh = Warehouse(spark, str(tmp_path))
    wh.overwrite(spark.range(0, 100).toDF("id"), "t")
    # simulate dying after rename(target -> bak), before rename(tmp -> target)
    shutil.move(f"{tmp_path}/t", f"{tmp_path}/t__bak")
    assert wh.exists("t")  # recovery kicked in
    assert wh.read("t").count() == 100
    import os

    assert not os.path.exists(f"{tmp_path}/t__bak")


def test_compact_preserves_partitioning(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    df = spark.range(0, 200).select(F.col("id"), (F.col("id") % 3).cast("string").alias("day"))
    for _ in range(3):
        wh.append(df, "t", partition_by=["day"])
    assert wh.partition_columns("t") == ["day"]
    wh.compact("t")
    assert wh.partition_columns("t") == ["day"]  # layout preserved
    assert wh.read("t").count() == 600
    # and a further partitioned append still works
    wh.append(df, "t", partition_by=["day"])
    assert wh.read("t").count() == 800


def test_append_once_composite_key(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    df = spark.createDataFrame(
        [("a", 1, "x"), ("a", 1, "x-dup"), ("b", 2, "y"), (None, 3, "bad")],
        "k1 string, k2 int, v string",
    )
    wh.append_once(df, "t", keys=["k1", "k2"])
    assert wh.read("t").count() == 2  # dup collapsed, NULL key dropped
    wh.append_once(df, "t", keys=["k1", "k2"])
    assert wh.read("t").count() == 2  # rerun is a no-op
    more = spark.createDataFrame([("c", 9, "z")], "k1 string, k2 int, v string")
    wh.append_once(more, "t", keys=["k1", "k2"])
    assert wh.read("t").count() == 3


def test_catalog_refresh_after_overwrite(spark, tmp_path):
    """An overwrite swap must refresh registered catalog tables — the
    relation cache otherwise serves FAILED_READ_FILE from deleted parts."""
    wh = Warehouse(spark, str(tmp_path))
    wh.overwrite(spark.range(0, 50).toDF("id"), "t")
    wh.register_catalog("t", "t_refresh_cat")
    assert spark.sql("SELECT COUNT(*) c FROM t_refresh_cat").first()["c"] == 50
    wh.overwrite(spark.range(0, 75).toDF("id"), "t")
    assert spark.sql("SELECT COUNT(*) c FROM t_refresh_cat").first()["c"] == 75
    spark.sql("DROP TABLE t_refresh_cat")


def test_compact_partitioned_with_map_column(spark, tmp_path):
    """compact() must not choke on MAP-typed columns (xxhash64 rejects
    maps; the split key silently skips them)."""
    from batch_data_pipeline_exercise_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "whm"))
    df = spark.createDataFrame(
        [(1, "a", {"k": 1}), (2, "a", {"k": 2}), (3, "b", {"k": 3})],
        "id int, day string, props map<string,int>",
    )
    wh.overwrite(df, "t", partition_by=["day"])
    wh.compact("t")
    out = wh.read("t")
    assert out.count() == 3
    assert wh.partition_columns("t") == ["day"]
