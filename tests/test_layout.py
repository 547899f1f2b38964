"""Layout tests: the Z-order (Morton) key and its SQL twin, and the
layout check in ``contract.load``."""

from __future__ import annotations

from pyspark.sql import functions as F

from batch_data_pipeline_exercise_spark.operators import layout


def _py_morton(vals, bits):
    key = 0
    n = len(vals)
    for j, v in enumerate(vals):
        for i in range(bits):
            if v & (1 << i):
                key |= 1 << (i * n + j)
    return key


def test_morton_key_matches_reference(spark):
    rows = [(a, b) for a in [0, 1, 5, 255, 1023] for b in [0, 3, 7, 512, 1023]]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r["x"], r["y"]): r["k"]
        for r in df.withColumn("k", layout.morton_key([F.col("x"), F.col("y")], bits=10)).collect()
    }
    for (x, y), k in got.items():
        assert k == _py_morton([x, y], 10), (x, y)


def test_morton_sql_twin_agrees(spark):
    import duckdb

    rows = [(a, b) for a in range(0, 64, 7) for b in range(0, 64, 5)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = sorted(
        (r["x"], r["y"], r["k"])
        for r in df.withColumn("k", layout.morton_key([F.col("x"), F.col("y")], bits=6)).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (x BIGINT, y BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    sql = layout.morton_key_sql(["x", "y"], bits=6)
    want = sorted(tuple(r) for r in con.execute(f"SELECT x, y, {sql} FROM t").fetchall())
    con.close()
    assert got == want


def test_load_skips_shuffle_on_multi_file_corpus_layout(spark, sf_dir, tmp_path):
    """contract.load() repartitions a corpus scan only when the scan is
    starved: a hash-spread multi-file rewrite of the single-row-group
    drop scans at >= cores and gets no Exchange, while the external
    layout still gets the parallelism-restoring repartition."""
    import os

    from batch_data_pipeline_exercise_spark.functions.core import plan_partition_count
    from batch_data_pipeline_exercise_spark.plans.contract import load
    from batch_data_pipeline_exercise_spark.sources.warehouse import Warehouse

    par = spark.sparkContext.defaultParallelism
    src = spark.read.parquet(f"{sf_dir}/documents.parquet")
    Warehouse(spark, str(tmp_path)).overwrite(src.repartition(par, F.col("doc_id")), "documents.parquet")

    # content preserved exactly; the scan itself splits to >= cores
    back = spark.read.parquet(str(tmp_path / "documents.parquet"))
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))
    assert plan_partition_count(back) >= par

    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"):
        os.symlink(f"{sf_dir}/{t}.parquet", tmp_path / f"{t}.parquet")
    d = load(spark, str(tmp_path), "documents")
    assert plan_partition_count(d) >= par
    assert "Exchange" not in d._jdf.queryExecution().executedPlan().toString()
    d0 = load(spark, sf_dir, "documents")
    assert "Exchange" in d0._jdf.queryExecution().executedPlan().toString()
