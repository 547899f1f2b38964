"""Scale the sf0.1 testdata 10x to a local sf1 (~6M lineitem) for the
two-decade scaling sweep (SCALE.md).

Deterministic, seed-free replication with per-replica key offsets so
referential integrity holds (l_orderkey -> orders, o_custkey ->
customer, ...). nation/region stay fixed (they are fixed-size in TPC-H
too). Two tables get DECORRELATED, not copied:

- documents: replica texts are spliced halves of two different source
  docs, so the duplicate-pair density stays ~linear in corpus size
  (verbatim replication would grow every dup group 10x and the LSH
  pair count quadratically — a different workload, not a bigger one);
- embeddings: replica vectors are deterministic 8-way MIXTURES of the
  base vector and 7 stride-chosen partners. A small additive
  perturbation does NOT decorrelate (it preserves every base-pair
  cosine, so >=threshold pair density multiplies ~factor^2 and
  transitive-closure workloads degenerate — measured: the round-6 sf1
  sweep's embedding-cluster queries wedged for 25+ min under the
  additive scheme); an 8-mixture pulls parent cosines to ~1/sqrt(8)
  ~= 0.35, below the 0.4 near-dup threshold, so neighborhoods grow in
  population organically.

Usage:  python tests/gen_sf_scale.py [out_dir] [factor]
Defaults: /tmp/sf1, 10. Re-run is a full overwrite.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from batch_data_pipeline_exercise_spark.plans.contract import load  # noqa: E402
from batch_data_pipeline_exercise_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"


def replicate(df: DataFrame, factor: int) -> DataFrame:
    return df.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(factor - 1))))


def mixture_embeddings_table(base_rows, factor: int, key_rng: int):
    """The embeddings decorrelation as a reusable pyarrow table builder
    (no Spark): replica r of vector i = mean of i and 7 deterministic
    stride partners; replica 0 exact (see module docstring for why a
    mixture, not a perturbation). ``base_rows`` is an iterable of
    (vec_id, embedding, label) sorted by vec_id. Extracted from main()
    so single-table scale probes (evidence/KMEANS_sf10_r12.jsonl) generate
    byte-identical data to the full generator."""
    import numpy as np
    import pyarrow as pa

    ids = np.array([r[0] for r in base_rows])
    vecs = np.array([r[1] for r in base_rows], dtype=np.float32)
    labels = np.array([r[2] for r in base_rows])
    n = len(ids)
    out_ids, out_vecs, out_labels = [list(ids)], [vecs], [list(labels)]
    for rep in range(1, factor):
        mixed = vecs.copy()
        for t in range(1, 8):
            partners = (np.arange(n) + rep * 131 + t * 173) % n
            mixed = mixed + vecs[partners]
        out_ids.append(list(ids + rep * key_rng))
        out_vecs.append((mixed / 8.0).astype(np.float32))
        out_labels.append(list(labels))
    all_vecs = np.concatenate(out_vecs)
    return pa.table(
        {
            "vec_id": pa.array([i for chunk in out_ids for i in chunk], pa.int64()),
            "embedding": pa.array([list(v) for v in all_vecs], pa.list_(pa.float32())),
            "label": pa.array([l for chunk in out_labels for l in chunk], pa.int32()),
        }
    )


def spliced_documents(d: DataFrame, factor: int, key_rng: int) -> DataFrame:
    """The documents decorrelation as a reusable builder (mirrors
    ``mixture_embeddings_table``): replica r of a doc splices the first
    half of its own text with the second half of a stride-chosen
    partner's, so duplicate-pair density stays ~linear in corpus size
    (verbatim replication would grow every dup group ``factor``x and
    LSH pair counts quadratically — see module docstring). Replica 0 is
    the exact source doc. Returns the scaled frame WITH the ``rep``
    column; callers drop it before writing. Shared by the full
    generator and the corpus soak's self-provisioned document pool
    (``tests/corpus_soak.py``), so both scale corpora the same way."""
    n_docs = d.count()
    d2 = d.select(F.col("doc_id").alias("p_id"), F.col("text").alias("p_text"))
    return (
        replicate(d, factor)
        .withColumn("partner", (F.col("doc_id") + F.col("rep") * 797) % F.lit(n_docs))
        .join(d2, F.col("partner") == F.col("p_id"))
        .withColumn(
            "text",
            F.when(F.col("rep") == 0, F.col("text")).otherwise(
                F.concat(
                    F.substring(F.col("text"), 1, 1_000_000).substr(F.lit(1), F.length("text") / 2),
                    F.lit(" "),
                    F.col("p_text").substr(F.length("p_text") / 2, F.lit(1_000_000)),
                )
            ),
        )
        .withColumn("n_chars", F.length("text").cast("long"))
        .select(offset("doc_id", key_rng), "text", "lang", "source", "n_chars", "rep")
    )


def offset(col: str, rng: int) -> F.Column:
    return (F.col(col) + F.col("rep") * F.lit(rng)).alias(col)


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    spark = get_spark(app_name="gen-sf-scale", master="local[32]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    # key ranges = max+1 of each source key so offsets can never collide
    rng = {}
    for t, k in [("customer", "c_custkey"), ("supplier", "s_suppkey"), ("part", "p_partkey"),
                 ("orders", "o_orderkey"), ("events", "event_id"), ("documents", "doc_id"),
                 ("embeddings", "vec_id")]:
        rng[t] = load(spark, SRC, t).agg(F.max(k)).first()[0] + 1
    user_rng = load(spark, SRC, "events").agg(F.max("user_id")).first()[0] + 1

    def write(df: DataFrame, name: str, parts: int = 8) -> None:
        df.drop("rep").repartition(parts).write.mode("overwrite").parquet(f"{out}/{name}.parquet")
        print(name, "done")

    # fixed-size dims copy through unchanged
    for t in ("region", "nation"):
        load(spark, SRC, t).write.mode("overwrite").parquet(f"{out}/{t}.parquet")
        print(t, "done")

    c = replicate(load(spark, SRC, "customer"), factor)
    write(c.select(offset("c_custkey", rng["customer"]), "c_name", "c_nationkey", "c_acctbal", "c_mktsegment", "rep"), "customer", 2)

    s = replicate(load(spark, SRC, "supplier"), factor)
    write(s.select(offset("s_suppkey", rng["supplier"]), "s_name", "s_nationkey", "s_acctbal", "rep"), "supplier", 1)

    p = replicate(load(spark, SRC, "part"), factor)
    write(p.select(offset("p_partkey", rng["part"]), "p_name", "p_brand", "p_type", "p_size", "p_retailprice", "rep"), "part", 2)

    o = replicate(load(spark, SRC, "orders"), factor)
    write(
        o.select(
            offset("o_orderkey", rng["orders"]),
            offset("o_custkey", rng["customer"]),
            "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority", "rep",
        ),
        "orders", 4,
    )

    li = replicate(load(spark, SRC, "lineitem"), factor)
    write(
        li.select(
            offset("l_orderkey", rng["orders"]),
            offset("l_partkey", rng["part"]),
            offset("l_suppkey", rng["supplier"]),
            "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus", "l_shipdate", "rep",
        ),
        "lineitem", 16,
    )

    ev = replicate(load(spark, SRC, "events"), factor)
    write(
        ev.select(
            offset("event_id", rng["events"]),
            "ts",
            offset("user_id", user_rng),
            "event_type", "value", "props", "rep",
        ),
        "events", 8,
    )

    # documents: splice halves of two different docs per replica so
    # near-dup structure scales linearly (see module docstring)
    dd = spliced_documents(load(spark, SRC, "documents"), factor, rng["documents"])
    write(dd, "documents", 8)

    # embeddings: replica r of vector i = mean of i and 7 deterministic
    # stride partners (see module docstring); replica 0 exact. The
    # mixing is a tiny driver-side numpy pass (base corpus is small);
    # at real scale this generator would be a Spark job too, but a
    # testdata scaler optimizes for auditability.
    import pyarrow.parquet as pq

    base = (
        load(spark, SRC, "embeddings")
        .orderBy("vec_id")
        .select("vec_id", "embedding", "label")
        .collect()
    )
    tbl = mixture_embeddings_table(
        [(r["vec_id"], r["embedding"], r["label"]) for r in base],
        factor,
        rng["embeddings"],
    )
    ep = Path(out) / "embeddings.parquet"
    if ep.exists():
        import shutil

        shutil.rmtree(ep)
    ep.mkdir(parents=True)
    pq.write_table(tbl, str(ep / "part-00000.parquet"))
    print("embeddings done (mixture)")

    spark.stop()
    print("wrote", out, "factor", factor)


if __name__ == "__main__":
    main()
