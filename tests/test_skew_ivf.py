"""Salted-aggregation/join and IVF ANN tests."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from batch_data_pipeline_exercise_spark.operators import similarity
from batch_data_pipeline_exercise_spark.operators.skew import salted_agg, salted_join


@pytest.fixture(scope="module")
def skewed(spark):
    # hot key 'h' holds 80% of rows
    rows = [("h" if i % 5 != 0 else f"k{i % 37}", float(i % 100)) for i in range(5000)]
    return spark.createDataFrame(rows, "k string, v double").cache()


def test_salted_agg_matches_plain(spark, skewed):
    plain = {
        r["k"]: (r["n"], r["total"], r["mx"])
        for r in skewed.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"), F.max("v").alias("mx")
        ).collect()
    }
    salted = {
        r["k"]: (r["n"], r["total"], r["mx"])
        for r in salted_agg(
            skewed, ["k"], {"n": ("count", "*"), "total": ("sum", "v"), "mx": ("max", "v")}, n_salts=8
        ).collect()
    }
    assert set(plain) == set(salted)
    for k in plain:
        assert plain[k][0] == salted[k][0] and plain[k][2] == salted[k][2]
        assert plain[k][1] == pytest.approx(salted[k][1])


def test_salted_join_matches_plain(spark, skewed):
    dim = spark.createDataFrame(
        [("h", "hot"), ("k0", "cold0"), ("k5", "cold5"), ("zz", "unused")], "k string, label string"
    )
    plain = sorted(map(tuple, skewed.join(dim, "k").select("k", "v", "label").collect()))
    salted = sorted(map(tuple, salted_join(skewed, dim, on="k", n_salts=4).select("k", "v", "label").collect()))
    assert plain == salted
    left = sorted(
        map(tuple, salted_join(skewed, dim, on="k", n_salts=4, how="left").select("k", "v", "label").collect()),
        key=repr,
    )
    plain_left = sorted(map(tuple, skewed.join(dim, "k", "left").select("k", "v", "label").collect()), key=repr)
    assert left == plain_left


def test_ivf_topk_recall(spark):
    rng = random.Random(3)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(300)]
    rows.append((300, list(rows[42][1])))  # exact copy of 42
    vecs = spark.createDataFrame(rows, "vec_id int, embedding array<double>").cache()
    queries = vecs.filter(F.col("vec_id") == 42).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = similarity.cosine_topk_bruteforce(vecs, queries, k=10)
    approx = similarity.cosine_topk_ivf(vecs, queries, k=10, n_cells=8, n_probe=4)
    exact_ids = {r["neighbor_id"] for r in exact.collect()}
    approx_rows = approx.collect()
    approx_ids = {r["neighbor_id"] for r in approx_rows}
    # the planted duplicate must be found, rank 1
    assert min(approx_rows, key=lambda r: r["rank"])["neighbor_id"] == 300
    # probing half the cells recovers a solid share of the true top-10
    assert len(exact_ids & approx_ids) >= 5
    # every returned neighbor's cosine is genuine (subset of full scoring)
    assert all(r["rank"] <= 10 for r in approx_rows)


def test_salted_agg_count_column_skips_nulls(spark):
    df = spark.createDataFrame([("k", 1.0), ("k", None), ("k", 3.0)], "k string, v double")
    out = salted_agg(df, ["k"], {"rows": ("count", "*"), "vals": ("count", "v")}, n_salts=4).first()
    assert out["rows"] == 3 and out["vals"] == 2


def test_salted_join_rejects_full(spark, skewed):
    dim = spark.createDataFrame([("h", "hot")], "k string, label string")
    with pytest.raises(ValueError):
        salted_join(skewed, dim, on="k", how="full")


def test_kmeans_centroids_shape_and_carryover(spark):
    # 5 identical vectors, k=3: every vector lands in the lowest cell
    # (cosine ties break by cell id), so cells 2 and 3 lose all members
    # and must carry their previous centroid forward — never vanish.
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(5)]
    vecs = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    cent = similarity.kmeans_centroids_quantized(vecs, k=3, n_iter=2)
    out = cent.collect()
    assert len(out) == 3
    assert {r["cell"] for r in out} == {0, 1, 2}
    assert all(len(r["__c"]) == 4 for r in out)


def test_kmeans_ivf_recall_at_least_seeded(spark):
    rng = random.Random(9)
    # three well-separated gaussian blobs + noise
    centers = [[5.0 if j == c else 0.0 for j in range(16)] for c in (0, 5, 11)]
    rows = []
    for i in range(300):
        c = centers[i % 3]
        rows.append((i, [x + rng.gauss(0, 0.5) for x in c]))
    vecs = spark.createDataFrame(rows, "vec_id int, embedding array<double>").cache()
    queries = vecs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = similarity.cosine_topk_bruteforce(vecs, queries, k=10)
    exact_ids = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}

    # one Lloyd round from lowest-id seeds is the smallest training that
    # keeps recall here (the registry query trains 2 rounds)
    trained = similarity.kmeans_centroids_quantized(vecs, k=6, n_iter=1)
    approx = similarity.cosine_topk_ivf(vecs, queries, k=10, n_cells=6, n_probe=2, centroids=trained)
    got = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(exact_ids & got) / len(exact_ids)
    # blob data: trained cells align with blobs; probing 2/6 cells must
    # recover the home blob, i.e. near-total recall
    assert recall >= 0.9, recall


def test_ivf_assignment_audit_invariants(spark):
    rng = random.Random(11)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(200)]
    vecs = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    cent = similarity.kmeans_centroids_quantized(vecs, k=4, n_iter=1)
    assigned, cent = similarity.ivf_assign(vecs, centroids=cent)
    audit = similarity.ivf_assignment_audit(assigned, cent).first()
    assert audit["assign_is_argmax"] is True
    assert audit["centroids_finite"] is True
    assert 1 <= audit["n_cells_nonempty"] <= 4


def test_ivf_assignment_audit_catches_poisoned_centroid(spark):
    # a NaN centroid component must flip centroids_finite AND
    # assign_is_argmax (NaN cosine fails the >= re-check) — proves the
    # audit is falsifiable, not a tautology of the windowed pick
    rows = [(i, [float(i % 3 + 1), 1.0]) for i in range(20)]
    vecs = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    cent = spark.createDataFrame(
        [(0, [1.0, 0.5]), (1, [float("nan"), 1.0])], "cell int, __c array<double>"
    )
    assigned, cent = similarity.ivf_assign(vecs, centroids=cent)
    audit = similarity.ivf_assignment_audit(assigned, cent).first()
    assert audit["centroids_finite"] is False
    assert audit["assign_is_argmax"] is False


def test_kmeans_quantized_bit_reproducible(spark):
    """``kmeans_centroids_quantized``: trained centroids are BIT-identical
    across partitionings — the per-cell sum runs over int8-quantized
    integer components, removing the shuffle-order float accumulation
    that makes a float per-cell mean non-reproducible. Updated cells
    carry raw integer sums (exact doubles)."""
    rng = random.Random(7)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(200)]
    vecs = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    a = similarity.kmeans_centroids_quantized(vecs.repartition(1), k=4, n_iter=2)
    b = similarity.kmeans_centroids_quantized(vecs.repartition(13), k=4, n_iter=2)
    ra = {r["cell"]: tuple(r["__c"]) for r in a.collect()}
    rb = {r["cell"]: tuple(r["__c"]) for r in b.collect()}
    assert set(ra) == {0, 1, 2, 3}
    assert ra == rb  # exact equality, every bit
    # at least one cell kept members, so its centroid is an integer sum
    assert any(all(x == float(int(x)) for x in v) for v in ra.values())


def test_kmeans_quantized_drops_zero_vectors(spark):
    """Zero vectors (cosine undefined) are excluded from training — the
    same universe the registry oracle's ``WHERE max_abs > 0`` defines."""
    rows = [(0, [0.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0])]
    vecs = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    cent = similarity.kmeans_centroids_quantized(vecs, k=2, n_iter=1)
    # seeds come from the two NONZERO lowest ids: 1 and 2, never 0
    assert {r["cell"] for r in cent.collect()} == {1, 2}
