"""Connected-components / dedup-clustering operator tests."""

from __future__ import annotations

import pytest

from batch_data_pipeline_exercise_spark.obs import measure
from batch_data_pipeline_exercise_spark.operators import graph


def comp_map(df):
    return {r[0]: r[1] for r in df.collect()}


def test_chain_and_isolated(spark):
    edges = spark.createDataFrame([(2, 3), (3, 4), (7, 8)], "src int, dst int")
    verts = spark.createDataFrame([(i,) for i in range(1, 10)], "id int")
    out = comp_map(graph.connected_components(edges, verts))
    assert out[2] == out[3] == out[4] == 2  # chain collapses transitively
    assert out[7] == out[8] == 7
    assert out[1] == 1 and out[5] == 5 and out[9] == 9  # singletons


def test_edge_only_vertices_and_direction(spark):
    # direction must not matter; min id wins even as dst
    edges = spark.createDataFrame([(9, 1), (5, 9)], "src int, dst int")
    out = comp_map(graph.connected_components(edges))
    assert out == {1: 1, 5: 1, 9: 1}


def test_long_chain_converges(spark):
    n = 30
    edges = spark.createDataFrame([(i, i + 1) for i in range(n)], "src int, dst int")
    out = comp_map(graph.connected_components(edges, max_iter=n + 2))
    assert set(out.values()) == {0} and len(out) == n + 1


def test_nonconvergence_raises(spark):
    edges = spark.createDataFrame([(i, i + 1) for i in range(12)], "src int, dst int")
    with pytest.raises(RuntimeError, match="converge"):
        graph.connected_components(edges, max_iter=2)


def test_dedup_clusters_canonical_keep(spark):
    pairs = spark.createDataFrame([(10, 11), (11, 12), (20, 21)], "id1 int, id2 int")
    ids = spark.createDataFrame([(i,) for i in [10, 11, 12, 20, 21, 30]], "doc_id int")
    out = comp_map(graph.dedup_clusters(pairs, ids))
    assert out == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 30: 30}
    keep = {k for k, v in out.items() if k == v}
    assert keep == {10, 20, 30}  # one canonical per cluster + singleton


def test_partial_vertex_list_does_not_filter_edge_vertices(spark):
    # an id present in pairs but missing from the (stale) vertex list must
    # still come back labeled — vertices only ADDS isolated ids
    edges = spark.createDataFrame([(1, 2)], "src int, dst int")
    verts = spark.createDataFrame([(1,), (5,)], "id int")
    out = comp_map(graph.connected_components(edges, verts))
    assert out == {1: 1, 2: 1, 5: 5}


def test_pagerank_scaled_deterministic_and_ranks_hubs(spark):
    from batch_data_pipeline_exercise_spark.operators.graph import pagerank_scaled

    # star: hub 0 connected to 1..5, plus a detached pair 8-9
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 6)] + [(8, 9)], "src int, dst int"
    )
    a = {r["id"]: r["score_scaled"] for r in pagerank_scaled(edges, iterations=2).collect()}
    b = {r["id"]: r["score_scaled"] for r in
         pagerank_scaled(edges.repartition(7), iterations=2).collect()}
    assert a == b  # bit-identical under repartitioning (integer spec)
    assert a[0] > a[1]  # hub outranks its leaves
    assert a[1] == a[2] == a[5]  # symmetric leaves tie exactly
    assert a[8] == a[9]  # detached pair symmetric
    assert all(v > 0 for v in a.values())


@pytest.mark.parametrize("side", ["broadcast", "shuffle"])
def test_max_edges_bound_skips_the_count_with_identical_labels(spark, monkeypatch, side):
    # an upper bound on the symmetrized edge count replaces the upfront
    # count job; it only picks the strategy, so labels cannot change
    pairs = [(2, 3), (3, 4), (7, 8), (9, 1), (5, 9)]
    edges = spark.createDataFrame(pairs, "src int, dst int")
    bound = 2 * len(pairs)
    if side == "shuffle":
        # force the shuffle strategy for both calls with a gate below
        # the graph's real size
        monkeypatch.setattr(graph, "CC_BROADCAST_MAX_EDGES", bound - 1)
    counted, rec = measure(spark, lambda: comp_map(graph.connected_components(edges)))
    counted_jobs = len(rec["jobs"])
    bounded, rec = measure(
        spark, lambda: comp_map(graph.connected_components(edges, max_edges=bound))
    )
    bounded_jobs = len(rec["jobs"])
    assert bounded == counted == {1: 1, 5: 1, 9: 1, 2: 2, 3: 2, 4: 2, 7: 7, 8: 7}
    # the count is two jobs under adaptive execution: the distinct's
    # shuffle map stage, then the count itself
    assert bounded_jobs == counted_jobs - 2

