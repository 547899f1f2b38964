"""Connected components for dedup clustering.

Near-duplicate detection emits PAIRS (LSH/SimHash candidates); an actual
dedup pipeline must then group pairs into CLUSTERS and keep one canonical
document per cluster — transitively: if A~B and B~C, then {A,B,C} is one
cluster even though (A,C) never scored. That closure is connected
components over the pair graph.

Algorithm: min-label propagation (the Pregel/GraphX form) — every vertex
repeatedly adopts the smallest component id among itself and its
neighbors — with ADAPTIVE path halving: once the round counter passes
``accelerate_after``, each vertex additionally adopts its LABEL'S label
(the pointer-jumping step of parallel union-find), letting labels travel
2^k hops per k extra rounds. Dedup graphs are piles of near-cliques
(diameter ≲ 3) that converge in 2-3 plain rounds and never pay the extra
label-lookup join; an adversarial long-chain graph converges in
O(log chain) accelerated rounds — the same bound the published
large-star/small-star MapReduce algorithm achieves (Kiveris et al.,
"Connected Components in MapReduce and Beyond").

Only edge-incident vertices flow through the loop; isolated vertices
(the overwhelming majority of a real corpus — most documents have no
near-dup candidate at all) are attached as singleton components with one
final left join, never paying per-round shuffles.

Each round is two bounded shuffles (neighbor join + groupBy-min; plus
the label-lookup join once accelerating). The per-round lazy
``localCheckpoint`` truncates the otherwise exponentially-growing
lineage; the round's convergence count is the ONE action that both
materializes (pins) the new labels and returns the changed-row scalar —
the standard shape for iterative graph processing on Spark, NOT a
driver-side data loop (no row ever reaches the driver).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: graphs at or below this many (symmetrized, distinct) edges run the
#: loop in BROADCAST mode: the per-round label/neighbor-min/hop tables
#: (≤ 2·edges rows × 16 bytes — ≤ 32 MB at the gate) ship as broadcast
#: hash relations instead of shuffling, and the pinned edge list is
#: coalesced to one partition. A dedup pair graph is tiny relative to
#: its corpus (pairs are the RARE event — the flagship's sf0.1 run is
#: 209 edges over 4,479 survivors), so per-round exchanges cost pure
#: fixed overhead: measured on that shape, the loop burned 6.15
#: executor-CPU s across 30 stages of 32 near-empty tasks each (r15
#: work log). Above the gate nothing changes — the shuffle shape is the
#: correct one once labels stop fitting an executor.
CC_BROADCAST_MAX_EDGES = 1 << 20


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    id_col: str = "id",
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    accelerate_after: int = 3,
    max_edges: int | None = None,
) -> DataFrame:
    """(id, comp) with ``comp`` = the smallest vertex id reachable from
    ``id`` — deterministic, engine-independent labels.

    ``vertices`` (one ``id_col`` column) adds isolated vertices, which
    come back as their own singleton components; omitted, only vertices
    incident to an edge are labeled. Raises if ``max_iter`` rounds don't
    converge — with path halving active past ``accelerate_after`` even a
    path graph of ~2^(max_iter - accelerate_after) vertices converges,
    so the default bound is effectively unreachable.

    ``max_edges`` (optional) is a caller-known UPPER bound on the
    symmetrized edge count — e.g. twice a pair count the caller already
    paid for. It replaces the upfront count job; an upper bound is
    sound because the count only picks the strategy below, and both
    strategies return the same labels."""
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = sym.union(sym.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    sym = sym.localCheckpoint(eager=False)  # reused every round — pin it
    # ONE upfront count sizes the whole loop (guide §1.2/§3.1): it runs
    # over the pin the first round would have had to materialize anyway,
    # so the only added cost is a row count of in-memory blocks (none
    # when the caller passes ``max_edges``). Small
    # graphs (the dedup norm) then take the BROADCAST shape — the edge
    # pin coalesced to one partition and every per-round label-side
    # relation shipped as a broadcast hash join — which collapses each
    # round from ~8 exchanges-and-32-empty-task stages to one or two
    # single-task stages. Results are identical on both shapes (same
    # joins, same monotone min aggregation; only strategy/placement
    # change); big graphs keep the shuffle shape untouched.
    n_edges = sym.count() if max_edges is None else max_edges
    small = n_edges <= CC_BROADCAST_MAX_EDGES
    if small:
        sym = sym.coalesce(1)
    bcast = F.broadcast if small else (lambda df: df)
    # Fused round 0: with every label initialized to its own id, the
    # first propagation round's output is exactly least(id, min neighbor
    # id) — computable in the init aggregate itself (the distinct over
    # edge endpoints becomes a groupBy, same single shuffle), so the
    # loop starts one full round (neighbor join + groupBy-min + label
    # join + checkpoint + convergence count) ahead at ANY scale. Same
    # fixpoint: min-label propagation is monotone, and this init IS the
    # state the old round 0 produced. Measured at sf0.1 on the
    # flagship's pair graph (209 edges / 4,479 vertices): r14 work log.
    # Checkpoints are LAZY (eager=False): the round's convergence count
    # is the action that materializes (and pins) the blocks, so each
    # round runs ONE job instead of an eager-checkpoint job plus a
    # count job. Same serialized blocks, half the driver actions —
    # measured on the flagship's pair graph: 4.7-5.1 → 4.2-4.4
    # executor-CPU s, wall 1.63 → 1.30 s (r14 work log). The init
    # checkpoint is materialized by round 0's neighbor join.
    labels = (
        sym.groupBy("a")
        .agg(F.min("b").alias("__mb"))
        .select(F.col("a").alias(id_col), F.least("a", "__mb").alias("comp"))
        .localCheckpoint(eager=False)
    )

    converged = False
    for rnd in range(max_iter):
        # smallest label among my neighbors
        nbr_min = (
            sym.join(
                bcast(labels.select(F.col(id_col).alias("b"), F.col("comp").alias("__nc"))), "b"
            )
            .groupBy("a")
            .agg(F.min("__nc").alias("__nmin"))
            .withColumnRenamed("a", id_col)
        )
        cand = labels.join(bcast(nbr_min), id_col, "left")
        best = F.least("comp", F.coalesce("__nmin", "comp"))
        if rnd >= accelerate_after:
            # path halving: for each distinct label value c, look up
            # comp(c) — the label of the vertex whose id is c (every
            # label value IS a vertex id, so the lookup always hits)
            hop = (
                labels.select(F.col("comp").alias("__hc"))
                .distinct()
                .join(labels.select(F.col(id_col).alias("__hc"), F.col("comp").alias("__cc")), "__hc")
                .withColumnRenamed("__hc", "comp")
            )
            cand = cand.join(bcast(hop), "comp", "left")
            best = F.least("comp", F.coalesce("__nmin", "comp"), F.coalesce("__cc", "comp"))
        new_labels = cand.select(
            id_col, best.alias("comp"), (F.col("comp") != best).alias("__changed")
        ).localCheckpoint(eager=False)
        changed = new_labels.filter("__changed").count()
        labels = new_labels.drop("__changed")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")

    if vertices is not None:
        # union, not a vertices-driven left join: an edge-incident vertex
        # missing from a stale/partial vertex list must still come back
        # labeled (the docstring promises vertices only ADDS isolated
        # ids, never filters). ONE distinct over the union — the previous
        # extra distinct on the vertex list alone was a second exchange
        # deduplicating rows the outer distinct deduplicates anyway.
        all_ids = vertices.select(id_col).unionByName(labels.select(id_col)).distinct()
        labels = all_ids.join(bcast(labels), id_col, "left").select(
            id_col, F.coalesce("comp", F.col(id_col)).alias("comp")
        )
    return labels


def dedup_clusters(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "doc_id",
    pair_cols: tuple[str, str] = ("id1", "id2"),
) -> DataFrame:
    """Cluster near-dup pairs transitively: (id_col, cluster) where
    ``cluster`` is the cluster's smallest member id — the canonical
    document to KEEP; every row with ``cluster != id`` is a duplicate to
    drop. Documents in no pair form singleton clusters."""
    labels = connected_components(pairs, all_ids, id_col=id_col, src=pair_cols[0], dst=pair_cols[1])
    return labels.withColumnRenamed("comp", "cluster")


def pagerank_scaled(
    edges: DataFrame,
    iterations: int = 2,
    src: str = "src",
    dst: str = "dst",
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**12,
) -> DataFrame:
    """PageRank over an undirected edge list in EXACT scaled-integer
    arithmetic: scores live in units of ``1/scale`` and every step is
    integer floor division — ``s'(v) = (base*scale) div den +
    (num * Σ_u (s(u) div deg(u))) div den`` — so the result is a
    deterministic SPECIFICATION, reproducible bit-for-bit across runs,
    partitionings, and engines (a float PageRank sums in shuffle order
    and drifts in the last ulp every run; fine for ranking, useless for
    a differential oracle or an incremental cache-validity check).

    A FIXED iteration count (power iteration truncated at k) rather than
    convergence detection: dedup/similarity graphs are near-cliques
    where 2 hops already separate hubs from leaves, and a fixed k keeps
    the job a static k-stage DAG — no per-round driver actions at all.
    Per iteration: one equi join (scores→edges on src) + one groupBy
    sum.

    Overflow: per-edge shares are ≤ scale (bigint-safe), but a hub's
    aggregate inflow is ≤ deg·scale and then multiplied by
    ``damping_num`` — past int64 at ~1e5 degree-1 neighbors with
    scale=1e12 (exactly the star shape a boilerplate cluster produces).
    The inflow sum and damping product therefore run in DECIMAL(38,0)
    (128-bit, exact), mirrored by HUGEINT in the SQL oracle; the final
    per-vertex score divides back under scale and returns to bigint.
    """
    both = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).unionByName(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    )
    deg = both.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    base = ((damping_den - damping_num) * scale) // damping_den  # (1-d)*scale, exact
    scores = deg.select("u", F.lit(scale).cast("bigint").alias("s"))
    for _ in range(iterations):
        contrib = (
            scores.join(deg, "u")
            .withColumn("__share", F.expr("s div deg").cast("decimal(38,0)"))
            .join(both, "u")
            .groupBy(F.col("v").alias("u"))
            .agg(F.sum("__share").alias("__in"))
        )
        # floor((num*in)/den) in exact decimals: the division's result
        # scale (6) is ample for den ≤ 1e6, so the quotient is exact and
        # floor over non-negative values equals integer floor division
        # narrow literal types keep Spark's decimal result rules exact:
        # (38,0)x(7,0) multiply stays scale-0 inside 38 digits, and the
        # divide's quotient needs ~24 digits incl. its scale — a (38,0)
        # divisor would push the result scale past the 38-digit cap and
        # silently round
        damped = F.floor(
            (F.coalesce(F.col("__in"), F.lit(0).cast("decimal(38,0)")) * F.lit(damping_num).cast("decimal(7,0)"))
            / F.lit(damping_den).cast("decimal(7,0)")
        ).cast("bigint")
        scores = deg.select("u").join(contrib, "u", "left").select(
            "u", (F.lit(base).cast("bigint") + damped).alias("s")
        ).localCheckpoint(eager=False)
        # lazy: the caller's one action materializes every iteration's pin
        # in a single job (each pin still truncates lineage for whatever
        # runs after it); eager paid one separate job PER iteration for
        # blocks the same action was about to build anyway
    return scores.select(F.col("u").alias("id"), F.col("s").alias("score_scaled"))
