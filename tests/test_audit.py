"""Order-free content checksums."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import functions as F

from batch_data_pipeline_exercise_spark.operators.audit import content_checksum


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, id int, v string")


def test_checksum_is_order_and_partition_free(spark):
    rows = [("a", i, f"v{i}") for i in range(50)]
    d1 = _df(spark, rows).repartition(7)
    d2 = _df(spark, list(reversed(rows))).repartition(2)
    c1 = content_checksum(d1, [F.col("id").cast("string"), "v"]).collect()[0]
    c2 = content_checksum(d2, [F.col("id").cast("string"), "v"]).collect()[0]
    assert (c1["n_rows"], c1["checksum"]) == (c2["n_rows"], c2["checksum"])


def test_checksum_detects_single_row_change_and_localizes(spark):
    rows = [("g1", i, f"v{i}") for i in range(20)] + [("g2", i, f"w{i}") for i in range(20)]
    tampered = [("g1", i, f"v{i}") for i in range(20)] + [
        ("g2", i, "XXX" if i == 7 else f"w{i}") for i in range(20)
    ]
    cols = [F.col("id").cast("string"), "v"]
    a = {r["k"]: r["checksum"] for r in content_checksum(_df(spark, rows), cols, ["k"]).collect()}
    b = {r["k"]: r["checksum"] for r in content_checksum(_df(spark, tampered), cols, ["k"]).collect()}
    assert a["g1"] == b["g1"] and a["g2"] != b["g2"]


def test_group_checksums_merge_to_table_checksum(spark):
    # mergeability: XOR of group checksums == ungrouped checksum
    rows = [(f"g{i%3}", i, f"v{i}") for i in range(30)]
    cols = [F.col("id").cast("string"), "v"]
    per_group = content_checksum(_df(spark, rows), cols, ["k"]).collect()
    folded = reduce(lambda acc, r: acc ^ r["checksum"], per_group, 0)
    total = content_checksum(_df(spark, rows), cols).collect()[0]
    assert folded == total["checksum"] and total["n_rows"] == 30


def test_checksum_distinguishes_null_placement(spark):
    # concat_ws alone drops NULL+separator → ('a', NULL, 'b') and
    # ('a', 'b', NULL) would collide; the ␀ sentinel must split them
    df1 = spark.createDataFrame([("a", None, "b")], "x string, y string, z string")
    df2 = spark.createDataFrame([("a", "b", None)], "x string, y string, z string")
    c1 = content_checksum(df1, ["x", "y", "z"]).collect()[0]["checksum"]
    c2 = content_checksum(df2, ["x", "y", "z"]).collect()[0]["checksum"]
    assert c1 != c2 and c1 is not None and c2 is not None
