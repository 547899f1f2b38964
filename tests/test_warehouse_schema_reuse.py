"""Warehouse.read reuses the schema Spark inferred for a table: a repeated
read launches no footer-inference job, and every write that can change
the table's schema makes the next read infer again."""

from __future__ import annotations

import sys
import threading
import uuid

import pytest
import pyspark.sql.types as T

from batch_data_pipeline_exercise_spark.sources.warehouse import Warehouse

#: one unpartitioned and one Hive-partitioned layout
LAYOUTS = [None, ["p"]]


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "wh"))


def _jobs_during(spark, fn):
    """Run ``fn`` under a fresh job group; return its result and the ids
    of the Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"schema-reuse-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _base(spark):
    return spark.createDataFrame(
        [("a", 1, "x"), ("a", 2, "y"), ("b", 3, "z")], "p string, id int, v string"
    )


@pytest.mark.parametrize("partition_by", LAYOUTS)
def test_repeated_read_launches_no_job(spark, wh, partition_by):
    wh.overwrite(_base(spark), "t", partition_by=partition_by)
    first, jobs = _jobs_during(spark, lambda: wh.read("t"))
    assert jobs, "the first read infers the schema with a Spark job"
    for merge_schema in (False, True):
        wh.read("t", merge_schema=merge_schema)
        again, jobs = _jobs_during(spark, lambda: wh.read("t", merge_schema=merge_schema))
        assert jobs == [], f"merge_schema={merge_schema}"
        assert again.schema == first.schema
        assert _rows(again) == _rows(first)
    # append conforms to the existing columns, so the schema stays known
    wh.append(spark.createDataFrame([("c", 4, "w")], "p string, id int, v string"), "t",
              partition_by=partition_by)
    after, jobs = _jobs_during(spark, lambda: wh.read("t"))
    assert jobs == []
    assert after.count() == 4


@pytest.mark.parametrize("partition_by", LAYOUTS)
def test_read_after_overwrite_with_new_schema(spark, wh, partition_by):
    wh.overwrite(_base(spark), "t", partition_by=partition_by)
    wh.read("t")
    wh.read("t", merge_schema=True)
    retyped = spark.createDataFrame([("a", 10, 1.5)], "p string, id bigint, w double")
    wh.overwrite(retyped, "t", partition_by=partition_by)
    for merge_schema in (False, True):
        got = wh.read("t", merge_schema=merge_schema)
        assert got.schema == Warehouse(spark, wh.root).read("t", merge_schema=merge_schema).schema
        assert got.schema["id"].dataType == T.LongType()
        assert "w" in got.columns and "v" not in got.columns
        assert [tuple(r) for r in got.select("p", "id", "w").collect()] == [("a", 10, 1.5)]


@pytest.mark.parametrize("partition_by", LAYOUTS)
def test_reads_see_append_evolve_then_compact(spark, wh, partition_by):
    wh.overwrite(_base(spark), "t", partition_by=partition_by)
    wh.read("t")
    wh.read("t", merge_schema=True)
    wider = spark.createDataFrame([("b", 4, "q", 7)], "p string, id int, v string, extra int")
    wh.append_evolve(wider, "t", partition_by=partition_by)
    merged = wh.read("t", merge_schema=True)
    assert "extra" in merged.columns
    assert {r["id"]: r["extra"] for r in merged.collect()} == {1: None, 2: None, 3: None, 4: 7}
    # compaction rewrites every file with the merged columns, so the
    # plain read must stop serving the narrow schema it knew before
    wh.compact("t", target_partitions=1)
    plain = wh.read("t")
    assert "extra" in plain.columns
    assert plain.count() == 4
    assert wh.partition_columns("t") == (partition_by or [])


def test_read_after_overwrite_partitions_retype(spark, wh):
    wh.overwrite(_base(spark), "t", partition_by=["p"])
    assert wh.read("t").schema["id"].dataType == T.IntegerType()
    # replace every partition with rows whose id is a bigint
    wh.overwrite_partitions(
        spark.createDataFrame([("a", 5, "u"), ("b", 6, "v")], "p string, id bigint, v string"),
        "t", partition_by=["p"],
    )
    for merge_schema in (False, True):
        got = wh.read("t", merge_schema=merge_schema)
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
