"""Warehouse.read reuses the schema Spark inferred for a table: a repeated
read launches no footer-inference job, and every write that can change
the table's schema makes the next read infer again."""

from __future__ import annotations

import sys
import threading

import pytest
import pyspark.sql.types as T

from batch_data_pipeline_exercise_spark.obs import measure
from batch_data_pipeline_exercise_spark.sources.warehouse import Warehouse

#: one unpartitioned and one Hive-partitioned layout
LAYOUTS = [None, ["p"]]


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "wh"))


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _base(spark):
    return spark.createDataFrame(
        [("a", 1, "x"), ("a", 2, "y"), ("b", 3, "z")], "p string, id int, v string"
    )


@pytest.mark.parametrize("partition_by", LAYOUTS)
def test_repeated_read_launches_no_job(spark, wh, partition_by):
    wh.overwrite(_base(spark), "t", partition_by=partition_by)
    first, rec = measure(spark, lambda: wh.read("t"))
    assert rec["jobs"], "the first read infers the schema with a Spark job"
    again, rec = measure(spark, lambda: wh.read("t"))
    assert rec["jobs"] == []
    assert again.schema == first.schema
    assert _rows(again) == _rows(first)
    # append conforms to the existing columns, so the schema stays known
    wh.append(spark.createDataFrame([("c", 4, "w")], "p string, id int, v string"), "t",
              partition_by=partition_by)
    after, rec = measure(spark, lambda: wh.read("t"))
    assert rec["jobs"] == []
    assert after.count() == 4


@pytest.mark.parametrize("partition_by", LAYOUTS)
def test_read_after_overwrite_with_new_schema(spark, wh, partition_by):
    wh.overwrite(_base(spark), "t", partition_by=partition_by)
    wh.read("t")
    retyped = spark.createDataFrame([("a", 10, 1.5)], "p string, id bigint, w double")
    wh.overwrite(retyped, "t", partition_by=partition_by)
    got = wh.read("t")
    assert got.schema == Warehouse(spark, wh.root).read("t").schema
    assert got.schema["id"].dataType == T.LongType()
    assert "w" in got.columns and "v" not in got.columns
    assert [tuple(r) for r in got.select("p", "id", "w").collect()] == [("a", 10, 1.5)]


@pytest.mark.parametrize("partition_by", LAYOUTS)
def test_append_after_read_launches_no_inference_job(spark, wh, tmp_path, partition_by):
    """An append conforms to the schema the last read inferred: it
    launches exactly the jobs of a bare parquet append of the same
    frame, with no footer-inference job of its own."""
    wh.overwrite(_base(spark), "t", partition_by=partition_by)
    wh.read("t")
    more = spark.createDataFrame([("c", 4, "w")], "p string, id int, v string")

    def bare_append():
        w = more.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(str(tmp_path / "bare"))

    _, bare = measure(spark, bare_append)
    _, rec = measure(spark, lambda: wh.append(more, "t", partition_by=partition_by))
    assert len(rec["jobs"]) == len(bare["jobs"])
    assert wh.read("t").count() == 4


def test_read_after_overwrite_partitions_retype(spark, wh):
    wh.overwrite(_base(spark), "t", partition_by=["p"])
    assert wh.read("t").schema["id"].dataType == T.IntegerType()
    # replace every partition with rows whose id is a bigint
    wh.overwrite_partitions(
        spark.createDataFrame([("a", 5, "u"), ("b", 6, "v")], "p string, id bigint, v string"),
        "t", partition_by=["p"],
    )
    got = wh.read("t")
    assert got.schema["id"].dataType == T.LongType()
    assert sorted(r["id"] for r in got.collect()) == [5, 6]


def test_concurrent_writers_keep_each_tables_schema(spark, wh):
    """Threads sharing one Warehouse, each rewriting and reading its own
    table (the fan-out's access pattern), must each read back the schema
    they last wrote: no thread's forget or cache fill lands on another
    table's entry."""
    n_threads, errors = 8, []

    def worker(i: int) -> None:
        try:
            table = f"t{i}"
            for rnd in range(2):
                cols = [f"c{rnd}_{j}" for j in range(i % 3 + 1)]
                df = spark.createDataFrame([tuple(range(len(cols)))], ", ".join(f"{c} int" for c in cols))
                wh.overwrite(df, table)
                assert wh.read(table).columns == cols
                assert wh.read(table).columns == cols  # the reused schema
        except Exception as e:  # noqa: BLE001 — reported by the main thread
            errors.append((i, e))

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
