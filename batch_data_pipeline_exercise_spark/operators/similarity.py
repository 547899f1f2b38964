"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — exact, one broadcast join, linear
scan. Scale path: LSH random-hyperplane bucketing — sign-bit sketches
restrict candidate generation to equal buckets (tunable recall), turning
the all-pairs O(n·q) scan into bucket-local work. Pair scoring and every
sign-sketch key run as vectorized mapInArrow kernels
(``_cosine_pairs_arrow_batches``, ``_sketch_arrow_batches``) whose
sequential folds match the JVM ``aggregate`` forms bit for bit. Both
paths are deterministic: hyperplanes come from a seeded generator.

Embedding near-dup pairs have one producer, ``incremental_embedding_pairs``:
a one-shot search is its no-history case (``prior_index=None``). A pair
that collides in several bands is kept only at its smallest colliding
band, by a map-side filter in the verify join, so no pair-wide
``distinct`` exchange sits between the sketch and the scored pairs.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from batch_data_pipeline_exercise_spark.functions.core import (
    plan_partition_count as _plan_partition_count,
)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(v: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


# NOTE on formulation (measured at sf0.1, 2000×64-dim vectors): the
# aggregate/zip_with fold beats a flat element_at multiply-add chain —
# the flat form balloons whole-stage codegen (8 planes × 64 dims ≈ 512
# Add nodes per expression) and its COMPILE time dominates; the fold's
# per-element interpretation is cheaper than paying JIT on a giant
# method. Keep dots/norms as folds; optimize by computing each fold
# FEWER TIMES (norms projected below joins, sketches pinned), not by
# unrolling.


def cosine_topk_bruteforce(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine. Queries are broadcast
    (the expected shape: few queries × huge corpus); ranking ties break on
    neighbor id for determinism. Self-matches (same id) are excluded, and
    so is any pair with a NULL cosine (a NULL vector is nobody's neighbor).

    Output: (query_id, neighbor_id, rank, cosine).
    """
    # norms are projected BELOW the join: each side's ||v|| is computed
    # once per input row instead of once per (query × neighbor) pair —
    # only the dot-product fold remains in per-pair work, and
    # dot / (nq * nv) is bit-identical to the inline cosine
    e = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__v"),
        _norm(F.col(vec_col).cast("array<double>")).alias("__nv"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("__q"),
        _norm(F.col(query_vec_col).cast("array<double>")).alias("__nq"),
    )
    joined = F.broadcast(q).join(e, F.col("query_id") != F.col("neighbor_id"))
    scored = _cosine_scored_pairs(
        joined, "query_id", "neighbor_id", "__q", "__v", "__nq", "__nv"
    ).filter(F.col("cosine").isNotNull())
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (Gaussian components, seeded)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def _vector_width(df: DataFrame, vec_col: str) -> int:
    """Width of the first non-NULL, non-empty vector in ``vec_col`` — one
    Spark action, the probe behind every ``dim=None`` call. NULL and
    empty vectors key to 0 in every band at ANY width, so an input
    holding no other vector reports width 1, which every kernel accepts
    (its pairs all verify to a NULL cosine: no pairs)."""
    row = df.select(vec_col).filter(F.size(vec_col) > 0).first()
    return len(row[0]) if row is not None else 1


def cosine_topk_lsh(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates limited to the query's LSH bucket.
    Recall < 1 by design; expected bucket size is n/2^planes, so cost per
    query drops exponentially with n_planes. Same output schema as the
    brute-force variant.

    Pass ``dim`` explicitly in pipelines — the ``.first()`` fallback costs
    one extra Spark action to probe the vector width."""
    if dim is None:
        dim = _vector_width(embeddings, vec_col)

    def bucketed(df, id_in, vec_in, id_out, v, nrm, bkt):
        # the sign-sketch kernel as ONE band of n_planes rows: bucket
        # = Σ (dot(v, plane_i) >= 0) << i, and __n is the _norm fold
        inp = df.select(
            F.col(id_in).alias(id_out),
            F.col(vec_in).alias(v),
            F.col(vec_in).cast("array<double>").alias("__vd"),
        )
        return _sign_sketch(inp, dim, 1, n_planes, seed).select(
            id_out, v, F.col("__n").alias(nrm), F.col("__bands")[0]["key"].alias(bkt)
        )

    e = bucketed(embeddings, id_col, vec_col, "neighbor_id", "__v", "__nv", "eb")
    q = bucketed(queries, query_id_col, query_vec_col, "query_id", "__q", "__nq", "qb")
    joined = F.broadcast(q).join(
        e, (F.col("qb") == F.col("eb")) & (F.col("query_id") != F.col("neighbor_id"))
    )
    scored = _cosine_scored_pairs(
        joined, "query_id", "neighbor_id", "__q", "__v", "__nq", "__nv"
    ).filter(F.col("cosine").isNotNull())
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_assign(
    embeddings: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """IVF-style cell assignment.

    ``centroids`` (columns: ``cell`` + a vector column named ``vec_col``,
    i.e. the same name as the embeddings' vector column) can be passed
    in — at 100 TB
    you'd train real centroids offline (k-means on a sample) and supply
    them here. Default: the ``n_cells`` lowest-id vectors, selected with
    ``orderBy().limit()`` — planned as TakeOrderedAndProject (per-partition
    top-N + driver merge of N×P rows), never a single-partition global
    sort. Each vector is assigned to its highest-cosine centroid via a
    broadcast of the centroid table + one per-vector ranking window.
    Returns (assigned, centroids): ``assigned`` adds a ``cell`` column.
    """
    if centroids is None:
        centroids = (
            embeddings.orderBy(F.col(id_col))
            .limit(n_cells)
            .select(F.col(id_col).alias("cell"), F.col(vec_col).cast("array<double>").alias("__c"))
        )
    elif "__c" not in centroids.columns:  # external (cell, vec_col) table
        centroids = centroids.select("cell", F.col(vec_col).cast("array<double>").alias("__c"))
    # per-row vector norm and per-centroid norm below the n×k join: only
    # the dot fold runs per (vector, centroid) pair
    cent_n = F.broadcast(centroids.withColumn("__cn", _norm(F.col("__c"))))
    scored = (
        embeddings.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("__v"),
            _norm(F.col(vec_col).cast("array<double>")).alias("__nv"),
        )
        .join(cent_n)
        .select(
            "id",
            "__v",
            "__nv",
            "cell",
            (
                _dot(F.col("__v").cast("array<double>"), F.col("__c")) / (F.col("__nv") * F.col("__cn"))
            ).alias("__cos"),
        )
    )
    w = Window.partitionBy("id").orderBy(F.col("__cos").desc(), "cell")
    assigned = (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        # __nv rides along so probe-time scoring reuses the norm instead
        # of re-folding it per (query, member) pair
        .select("id", "__v", "__nv", "cell")
    )
    return assigned, centroids


def kmeans_centroids_quantized(
    embeddings: DataFrame,
    k: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Spherical k-means (Lloyd's) centroid training for IVF, with
    BIT-REPRODUCIBLE centroids. A float per-cell mean sums doubles in
    shuffle order, so its output differs run-to-run and engine-to-engine
    — the one nondeterministic operation an IVF pipeline would have;
    every scoring dot/norm is a fixed-order sequential fold, already
    proven bit-identical to DuckDB's ``list_dot_product`` by the green
    ANN oracles. This trainer makes exactly that one operation exact:

    - members are symmetric-int8 quantized ONCE (the
      ``embedding_quantize_int8`` formula: per-vector scale 127/max|x|,
      round-half-up, clamp) — zero vectors (max_abs = 0) are dropped, as
      cosine is undefined for them;
    - each update sums the INTEGER components per (cell, dim) — exact,
      order-independent — and the centroid is the raw integer sum cast
      to double (exact below 2^53; cosine is scale-invariant, so the
      division by the member count is skipped rather than rounded);
    - assignment scores the ORIGINAL double vectors against the current
      centroids (argmax cosine, ties to the lowest cell — the same rule
      as ``ivf_assign``);
    - exactly ``n_iter`` update rounds, no float-tolerance early exit.

    Every float op left is a per-row sequential fold or a single IEEE
    expression, so the returned (cell, ``__c``) table — init: the ``k``
    lowest-id vectors — is bit-identical across partitionings, runs, and
    engines, which is what lets the registry query carry a full DuckDB
    value-hash oracle (unrolled CTE per iteration) instead of a
    rows-only check. Scale shape: broadcast n×k scoring (the same bounded
    n×k cross ``ivf_assign`` uses), n×dim integer shuffle per round, no
    collect, no per-cell array materialization. int64 headroom: member
    sums reach 127·n_cell, far below overflow at any shipped sf."""
    base = _kmeans_quantized_base(embeddings, id_col=id_col, vec_col=vec_col)
    cent = (
        base.orderBy("id")
        .limit(k)
        .select(F.col("id").alias("cell"), F.col("__v").alias("__c"))
        .localCheckpoint()
    )
    for _ in range(n_iter):
        cent = _kmeans_quantized_round(base, cent).localCheckpoint()
    return cent


def _kmeans_quantized_base(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """The quantized trainer's member table — (id, __v double, __nv
    norm, __qv int8-in-bigint) with zero vectors dropped — pinned via
    ``localCheckpoint`` because the quantize/norm folds over the full
    scan would otherwise re-execute in every Lloyd round's assignment
    join (n_iter + 1 redundant passes at n_iter=2). Factored out of
    ``kmeans_centroids_quantized`` so the plan-snapshot test composes
    the identical round input the trainer uses."""
    vd = F.col(vec_col).cast("array<double>")
    max_abs = F.aggregate(vd, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x)))
    lo, hi = F.lit(-127).cast("bigint"), F.lit(127).cast("bigint")
    scale = F.lit(127.0) / F.col("__ma")
    return (
        embeddings.select(F.col(id_col).alias("id"), vd.alias("__v"), max_abs.alias("__ma"))
        .filter(F.col("__ma") > 0)
        .select(
            "id",
            "__v",
            _norm(F.col("__v")).alias("__nv"),
            F.transform(
                F.col("__v"),
                lambda x: F.greatest(lo, F.least(hi, F.floor(x * scale + F.lit(0.5)).cast("bigint"))),
            ).alias("__qv"),
        )
        .localCheckpoint()
    )


def _kmeans_quantized_round(base: DataFrame, cent: DataFrame) -> DataFrame:
    """One Lloyd round of the quantized trainer, PRE-checkpoint — the
    exact plan ``kmeans_centroids_quantized`` pins per round, factored
    out so ``tests/test_plan_snapshots.py`` can snapshot its physical
    shape (r12 verdict task 6): the intended plan is one broadcast n×k
    scoring expansion (the deliberate keyless broadcast join), the
    windowed argmax over ``id``, one per-(cell, dim) integer-sum
    shuffle, and the carry-over left join — a Spark upgrade that
    re-plans any of these changes cost silently while staying correct,
    which is what the snapshot catches. ``base`` must carry
    (id, __v, __nv, __qv); ``cent`` (cell, __c)."""
    cent_n = F.broadcast(cent.withColumn("__cn", _norm(F.col("__c"))))
    scored = base.join(cent_n).select(
        "id",
        "__qv",
        "cell",
        (_dot(F.col("__v"), F.col("__c")) / (F.col("__nv") * F.col("__cn"))).alias("__cos"),
    )
    w = Window.partitionBy("id").orderBy(F.col("__cos").desc(), "cell")
    asg = scored.withColumn("__r", F.row_number().over(w)).filter(F.col("__r") == 1)
    sums = (
        asg.select("cell", F.posexplode("__qv").alias("pos", "x"))
        .groupBy("cell", "pos")
        .agg(F.sum("x").alias("s"))
        .groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s"))),
                lambda t: t.getField("s").cast("double"),
            ).alias("__new")
        )
    )
    # a cell that lost every member keeps its previous centroid. sums
    # is ≤ k rows by construction (one per nonempty cell); broadcast it
    # so the carry-over is a hash join, not a 2-exchange sort-merge on
    # k rows
    return cent.join(F.broadcast(sums), "cell", "left").select(
        "cell", F.coalesce("__new", "__c").alias("__c")
    )


def cosine_topk_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    centroids: DataFrame | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via inverted-file probing: each query scans only
    its ``n_probe`` nearest cells (≈ n_probe/n_cells of the corpus).
    Same output schema as the brute-force variant; recall grows with
    n_probe. ``centroids`` as in ``ivf_assign``. A precomputed (ideally
    pinned) ``assigned`` table from ``ivf_assign`` can be passed together
    with its ``centroids`` so callers that also audit the assignment
    don't pay the n×k scoring pass twice."""
    if assigned is None:
        assigned, centroids = ivf_assign(embeddings, n_cells, id_col, vec_col, centroids)
    elif centroids is None:
        raise ValueError("assigned requires the matching centroids table")
    elif "__c" not in centroids.columns:
        centroids = centroids.select("cell", F.col(vec_col).cast("array<double>").alias("__c"))
    q = queries.select(F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("__q"))
    q = q.withColumn("__nq", _norm(F.col("__q").cast("array<double>")))
    q_cells = (
        q.join(F.broadcast(centroids.withColumn("__cn", _norm(F.col("__c")))))
        .select(
            "query_id",
            "__q",
            "__nq",
            "cell",
            (
                _dot(F.col("__q").cast("array<double>"), F.col("__c")) / (F.col("__nq") * F.col("__cn"))
            ).alias("__cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("__cos").desc(), "cell")
    probes = q_cells.withColumn("__r", F.row_number().over(w)).filter(F.col("__r") <= n_probe).select(
        "query_id", "__q", "__nq", "cell"
    )
    scored = (
        F.broadcast(probes)
        .join(assigned, "cell")
        .filter(F.col("query_id") != F.col("id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            (
                _dot(F.col("__q").cast("array<double>"), F.col("__v").cast("array<double>"))
                / (F.col("__nq") * F.col("__nv"))
            ).alias("cosine"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w2)).filter(F.col("rank") <= k)


def ivf_assignment_audit(assigned: DataFrame, centroids: DataFrame) -> DataFrame:
    """One-row invariant audit for an IVF assignment — a value-level
    signal that holds for any centroid table, including ones that are
    not bit-reproducible (a float k-means mean sums doubles in shuffle
    order, so a value-hash oracle cannot pin it). Columns, all
    pinnable:

    - ``assign_is_argmax`` — every point's assigned cell attains the max
      cosine over the final centroid table, re-derived through an
      independent aggregation path (``max`` over cells vs the windowed
      pick inside ``ivf_assign``). Catches NaN/Inf poisoning of the
      scoring fold: a NaN cosine fails ``x >= max - eps``.
    - ``centroids_finite`` — no centroid component is NaN/±Inf (a lost
      cell dividing 0/0 or an overflowing mean would trip this).
    - ``n_cells_nonempty`` — distinct cells holding ≥1 point; content the
      rows-only check materializes (collapse-to-one-cell regressions show
      here).

    Cost: one bounded n×k scoring pass over ``assigned`` (pass a PINNED
    assignment so the pass reads the checkpoint, not the full lineage)
    plus a k-row centroid scan.
    """
    if "__c" not in centroids.columns:
        raise ValueError("centroids must carry the __c vector column")
    cent_n = F.broadcast(centroids.withColumn("__cn", _norm(F.col("__c"))))
    rescored = (
        assigned.select("id", F.col("__v").cast("array<double>").alias("__vd"), "__nv", "cell")
        .join(cent_n.select(F.col("cell").alias("__cell2"), "__c", "__cn"))
        .select(
            "id",
            "cell",
            "__cell2",
            (_dot(F.col("__vd"), F.col("__c")) / (F.col("__nv") * F.col("__cn"))).alias("__cos"),
        )
    )
    per_point = rescored.groupBy("id").agg(
        F.max("__cos").alias("__mx"),
        F.max(F.when(F.col("cell") == F.col("__cell2"), F.col("__cos"))).alias("__picked"),
    )
    argmax_ok = per_point.agg(
        F.min(
            F.col("__picked").isNotNull()
            & ~F.isnan("__picked")
            & (F.col("__picked") >= F.col("__mx") - F.lit(1e-12))
        ).alias("assign_is_argmax")
    )
    finite = centroids.agg(
        F.min(
            F.forall(
                F.col("__c"),
                lambda x: ~F.isnan(x) & (x < F.lit(float("inf"))) & (x > F.lit(float("-inf"))),
            )
        ).alias("centroids_finite")
    )
    cells = assigned.agg(F.countDistinct("cell").alias("n_cells_nonempty"))
    return argmax_ok.join(F.broadcast(finite)).join(F.broadcast(cells))


class LshCandidateBudgetError(ValueError):
    """The pre-flight scout priced the LSH candidate join OVER the
    caller's budget: carries the exact per-band collision count and a
    corpus-sized ``rows_per_band`` suggestion so the caller can resize
    and re-run instead of discovering the blowup as a dead executor (or
    a full disk — the measured sf10 failure mode, SCALE.md round-9).
    Raised only when the caller opts in via ``max_candidates``."""


def rows_per_band_for(n_vectors: int, target_occupancy: int = 256) -> int:
    """Smallest ``rows_per_band`` that holds EXPECTED per-(band, key)
    occupancy at or under ``target_occupancy`` for a corpus of
    ``n_vectors``, assuming near-uniform sign bits (random hyperplanes
    over centered data): each extra bit halves expected occupancy
    n / 2^rows.

    This is the sizing rule the sign-LSH docstrings describe in prose:
    at fixed ``rows_per_band`` the expected occupancy — and with it the
    per-bucket candidate count occ²/2 — grows LINEARLY with the corpus,
    so the same 8×8 sketch that is comfortable at 60k vectors
    (occ ≈ 234) generates ~600M candidate pairs at 200k vectors and a
    multi-hundred-GB verify spill at 100 TB scale. Size the sketch to
    the corpus, then buy recall back with ``bands`` (recall for a
    cosine-c pair is 1 - (1 - p^rows)^bands, p = 1 - acos(c)/π).
    Floor of 1; callers keep their own minimum (8 is the shipped
    default) when corpora are small."""
    rows = 1
    while n_vectors > target_occupancy << rows:
        rows += 1
    return rows


#: default recall floor for sized-sketch suggestions: a resize that
#: forfeits more than 10% of threshold-level pairs is not a "fix", it is
#: a different (and silently weaker) dedup contract — callers wanting a
#: cheaper sketch opt into a lower floor explicitly.
SIZING_MIN_RECALL = 0.9


def lsh_recall(p: float, bands: int, rows_per_band: int) -> float:
    """The standard LSH banding S-curve: probability that a pair whose
    per-row collision probability is ``p`` shares at least one of
    ``bands`` bands of ``rows_per_band`` rows each — 1 - (1 - p^r)^b.
    For minhash, p = the pair's Jaccard similarity; for sign-bit
    hyperplane LSH, p = ``cosine_collision_p(cosine)``. Measured against
    the replica-dense scale corpora in evidence/SIZEDRECALL_r11.jsonl
    (predicted vs observed lost-pair fraction per Jaccard bin —
    ``tests/test_sizing_model.py`` pins the agreement)."""
    return 1.0 - (1.0 - p**rows_per_band) ** bands


def cosine_collision_p(cos: float) -> float:
    """Per-hyperplane agreement probability for a pair at the given
    cosine: 1 - theta/pi (Goemans–Williamson). The ``p`` to feed
    ``lsh_recall``/``bands_rows_for`` for the sign-LSH operators."""
    return 1.0 - math.acos(max(-1.0, min(1.0, cos))) / math.pi


def bands_rows_for(
    threshold: float,
    min_recall: float = SIZING_MIN_RECALL,
    n_vectors: int = 0,
    target_occupancy: int = 256,
    p: float | None = None,
    max_bands: int = 1024,
) -> tuple[int, int, float]:
    """Cheapest ``(bands, rows_per_band, predicted_recall)`` meeting BOTH
    constraints the sizing story needs (round-10 verdict: occupancy-only
    sizing steered callers into silent under-recall — the measured cost
    of "just raise rows_per_band" was 49% of threshold-proximal verified
    pairs at sf10, evidence/SIZEDFLAG_r10.jsonl):

    - **occupancy**: ``rows_per_band >= rows_per_band_for(n_vectors,
      target_occupancy)`` — expected per-bucket occupancy stays at or
      under target so per-bucket candidate work occ²/2 stays bounded.
      This floor assumes near-uniform keys (exact for sign-LSH over
      centered data; for minhash band keys occupancy is content-driven,
      so treat the returned size as the starting point and re-scout —
      the budget gate stays the ground truth).
    - **recall**: ``lsh_recall(p, bands, rows) >= min_recall`` at the
      caller's threshold, via the S-curve 1-(1-p^r)^b. ``p`` defaults to
      ``threshold`` itself (minhash: a Jaccard-J pair row-collides with
      probability J); sign-LSH callers pass
      ``p=cosine_collision_p(threshold)``.

    Cost model: total sketch width bands·rows (hash evaluations per item,
    index bytes, and — at fixed occupancy — candidate volume all scale
    with it). Each extra row past the floor multiplies the bands needed
    by ~1/p, so the optimum hugs the occupancy floor; the small search
    absorbs integer-ceiling wrinkles. Raises ``ValueError`` when no
    ``bands <= max_bands`` reaches the floor (thresholds near 0 at huge
    corpora) — quoting the infeasible numbers beats returning a sketch
    that silently under-recalls."""
    if not 0.0 < min_recall < 1.0:
        raise ValueError(f"min_recall must be in (0, 1), got {min_recall}")
    p = threshold if p is None else p
    if not 0.0 < p < 1.0:
        raise ValueError(f"per-row collision probability must be in (0, 1), got {p}")
    rows_floor = rows_per_band_for(n_vectors, target_occupancy)
    best: tuple[int, int, float] | None = None
    for rows in range(rows_floor, rows_floor + 9):
        miss = 1.0 - p**rows
        if miss >= 1.0:  # p^rows below float eps: no band count reaches the floor
            continue
        if miss <= 0.0:
            bands = 1
        else:
            bands = max(1, math.ceil(math.log(1.0 - min_recall) / math.log(miss)))
        if bands > max_bands:
            continue
        if best is None or (bands * rows, bands) < (best[0] * best[1], best[0]):
            best = (bands, rows, lsh_recall(p, bands, rows))
    if best is None:
        raise ValueError(
            f"no sketch with bands <= {max_bands} reaches recall >= {min_recall} "
            f"at per-row collision p={p:.4f} with the occupancy floor "
            f"rows_per_band >= {rows_floor} (n={n_vectors:,}, target occupancy "
            f"{target_occupancy}); lower min_recall, raise target_occupancy, or "
            "shard the corpus."
        )
    return best


def _check_candidate_budget(
    stats_df: DataFrame,
    max_candidates: int,
    bands: int,
    rows_per_band: int,
    suggestion: str | None = None,
    p: float | None = None,
    threshold_label: str = "",
    min_recall: float = SIZING_MIN_RECALL,
    note: str = "",
):
    """Shared budget gate over a scout's one-row summary. The default
    suggestion is RECALL-AWARE (round-10 verdict task 1): it solves the
    occupancy target from the budget, then asks ``bands_rows_for`` for
    the cheapest sketch meeting that floor AND ``min_recall`` at the
    caller's threshold — and quotes BOTH numbers (the occupancy ceiling
    and the predicted recall, next to the current config's recall), so a
    resize can never silently trade recall away. Callers pass ``p`` =
    per-row collision probability at their verify threshold (minhash:
    the Jaccard threshold itself; sign-LSH:
    ``cosine_collision_p(cosine)``) and a human label like
    ``"jaccard >= 0.7"``; the occupancy floor is the sign-LSH uniform
    model, so minhash callers should re-scout after resizing (``note``
    carries caller-specific caveats into the message). ``suggestion``
    overrides the whole sentence for callers with bespoke sizing.

    Returns the summary Row so a passing caller can reuse the exact
    item count it already paid one action for (e.g. to skip the sizing
    probe) instead of relearning it with another."""
    s = stats_df.first()
    # aggregating ZERO rows yields null n/candidate_pairs — an empty
    # corpus must read as "0 candidates: under budget", not a TypeError
    # out of the None > int comparison
    n, cand = s[0] or 0, s["candidate_pairs"] or 0
    if cand > max_candidates:
        if suggestion is None:
            occ_target = max(1, (2 * max_candidates) // (bands * max(n, 1)))
            if p is not None:
                # degenerate thresholds (p -> 0 or 1) would blow up the
                # closed form's logs; the clamp keeps the SUGGESTION sane
                # without touching gate semantics
                p = min(max(p, 1e-6), 1.0 - 1e-9)
                try:
                    # over-budget at the CURRENT rows means the resize must
                    # actually shrink buckets: floor the suggested rows at
                    # current+1 as well as the occupancy-model floor, then
                    # size bands to hold the recall floor at those rows
                    sr = max(
                        rows_per_band + 1, rows_per_band_for(n, occ_target)
                    )
                    miss = 1.0 - p**sr
                    if miss >= 1.0:  # p^rows underflowed to 0
                        raise ValueError(
                            f"p^rows underflows at rows_per_band={sr} — no "
                            "practical band count reaches the recall floor."
                        )
                    sb = max(1, math.ceil(math.log(1.0 - min_recall) / math.log(miss)))
                    if sb > 4096:
                        raise ValueError(
                            f"bands={sb} needed at rows_per_band={sr} — "
                            "past any practical sketch width."
                        )
                    srec = lsh_recall(p, sb, sr)
                    suggestion = (
                        f"Resize the sketch: bands={sb}, rows_per_band={sr} — "
                        f"expected occupancy <= {occ_target} at n={n:,}, "
                        f"predicted recall at {threshold_label or f'p={p:.3f}'} "
                        f"= {srec:.3f} vs {lsh_recall(p, bands, rows_per_band):.3f} "
                        f"for the current {bands}x{rows_per_band} "
                        f"(recall floor {min_recall}; raising rows_per_band "
                        "alone multiplies threshold-level miss odds per row — "
                        "the suggested bands buy that recall back)."
                    )
                except ValueError as sizing_err:
                    suggestion = (
                        f"No sketch meets both the occupancy target "
                        f"(<= {occ_target} at n={n:,}) and recall >= "
                        f"{min_recall}: {sizing_err} Raise max_candidates or "
                        "relax min_recall explicitly."
                    )
            else:
                suggestion = (
                    f"Resize the sketch: rows_per_band="
                    f"{max(rows_per_band + 1, rows_per_band_for(n, occ_target))} "
                    f"(expected occupancy <= {occ_target}), buying recall back "
                    "with more bands if needed."
                )
            if note:
                suggestion = f"{suggestion} {note}"
        raise LshCandidateBudgetError(
            f"LSH candidate join over budget: scout prices {cand:,} per-band "
            f"collisions for {n:,} items at {bands}x{rows_per_band} "
            f"(budget {max_candidates:,}). {suggestion}"
        )
    return s


def sign_lsh_occupancy_stats(
    embeddings: DataFrame,
    bands: int = 8,
    rows_per_band: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Pre-flight scout for the sign-LSH near-dup path. Cost = the full
    hyperplane projection pass (the dominant linear stage — re-executed
    here, since the standalone scout deliberately pins nothing) plus ONE
    narrow (band, key) count shuffle; pair materialization and verify —
    the quadratic stages being priced — are skipped. Callers already
    holding a pinned sketch should budget via ``max_candidates`` on the
    pair operators instead, which reads the same summary off the pinned
    keys without repeating the projection. Returns a single row of the
    numbers that decide whether
    ``incremental_embedding_pairs(None, …)`` at these parameters is
    launchable:

      n_vectors, n_buckets, max_occupancy, p99_occupancy,
      mean_occupancy, candidate_pairs — Σ occ·(occ−1)/2 over all
      buckets: the EXACT per-band collision count and an upper bound on
      distinct candidates (any-band dedup only shrinks it), i.e. the
      row count the verify join would have to shuffle together with
      both 4·dim-byte vectors.

    At 100 TB this is the difference between a minutes-long scout job
    and a dead cluster: run the scout, compare candidate_pairs against
    the verify budget, and if it is over, re-run the scout at
    ``rows_per_band_for(n)`` bits before committing to the real job
    (measured: the shipped 8×8 sketch at a 200k-vector corpus predicts
    806M per-band collisions — the run that exhausted a 250 GB volume
    mid-spill — while 8×12 predicts 81M, which completes in 112 s wall
    / 2,274 executor-CPU s; SCALE.md round-9)."""
    if dim is None:
        dim = _vector_width(embeddings, vec_col)
    # same pre-projection spread as banded_sign_sketch: the scout repeats
    # the compute-dense hyperplane projection, and on single-row-group
    # inputs it would otherwise fold onto one core — turning the
    # "minutes-long scout" into the very pathology it exists to prevent
    sc = embeddings.sparkSession.sparkContext
    if _plan_partition_count(embeddings) < sc.defaultParallelism:
        embeddings = embeddings.repartition(sc.defaultParallelism)
    inp = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("__vd")
    )
    bk = _explode_band_keys(_sign_sketch(inp, dim, bands, rows_per_band, seed))
    return _occupancy_summary(bk, bands, n_col="n_vectors")


def _occupancy_summary(bk: DataFrame, bands: int, n_col: str = "n_vectors") -> DataFrame:
    """One-row occupancy summary over an exploded (…, band, key) table —
    the shared tail of the standalone scout and the in-line budget gate
    (which feeds it the already-pinned sketch keys, so pricing the join
    costs one narrow count shuffle, not a second projection pass)."""
    occ = bk.groupBy("band", "key").agg(F.count("*").alias("occ"))
    return occ.agg(
        (F.sum("occ") / F.lit(bands)).cast("long").alias(n_col),
        F.count("*").alias("n_buckets"),
        F.max("occ").alias("max_occupancy"),
        F.expr("percentile(occ, 0.99)").alias("p99_occupancy"),
        F.avg("occ").alias("mean_occupancy"),
        F.sum(F.col("occ") * (F.col("occ") - 1) / 2).cast("long").alias("candidate_pairs"),
    )


def _incremental_occupancy_summary(
    new_bk: DataFrame,
    prior_bk: DataFrame,
    bands: int,
    keys: tuple[str, str] = ("band", "key"),
    n_col: str = "n_vectors",
) -> DataFrame:
    """One-row pricing summary for an INCREMENTAL LSH probe: per bucket
    the increment contributes c_new·(c_new−1)/2 within-increment pairs
    plus c_new·c_prior cross pairs against the stored index — exactly
    the rows ``incremental_embedding_pairs`` /
    ``incremental_minhash_pairs`` emit (prior×prior never re-joins).
    ``n_vectors`` counts the INCREMENT only: the budget guards the
    increment's join, and the sizing suggestion derived from it resizes
    the increment's sketch. Buckets with no new member cost nothing and
    are excluded (left join from the new side)."""
    b, k = keys
    new_occ = new_bk.groupBy(b, k).agg(F.count("*").alias("__on"))
    prior_occ = prior_bk.groupBy(b, k).agg(F.count("*").alias("__op"))
    j = new_occ.join(prior_occ, [b, k], "left").na.fill({"__op": 0})
    tot = F.col("__on") + F.col("__op")
    return j.agg(
        (F.sum("__on") / F.lit(bands)).cast("long").alias(n_col),
        F.count("*").alias("n_buckets"),
        F.max(tot).alias("max_occupancy"),
        F.expr("percentile(__on + __op, 0.99)").alias("p99_occupancy"),
        F.avg(tot).alias("mean_occupancy"),
        F.sum(
            F.col("__on") * (F.col("__on") - 1) / 2 + F.col("__on") * F.col("__op")
        ).cast("long").alias("candidate_pairs"),
    )


def _sketch_arrow_batches(dim: int, bands: int, rows_per_band: int, seed: int):
    """mapInArrow kernel factory for the multi-band sign sketch (guide
    §4.2): input batches carry passthrough columns plus the pre-cast
    ``array<double>`` vector as the LAST column; output is the
    passthrough columns plus ``__n`` (the norm) and ``__bands``. The
    vectors arrive as one contiguous Arrow buffer; the bands ×
    rows_per_band plane dots run as ``dim`` vectorized multiply-
    accumulate steps over a (rows, planes) accumulator — PER-ELEMENT
    SEQUENTIAL, so every intermediate rounding matches a JVM
    ``aggregate`` left fold exactly (the SQL reference form in
    ``tests/kernel_reference.py``, pinned by
    ``tests/test_sketch_kernel.py``): NumPy only reassociates in
    reductions, never in elementwise accumulation. Sign bits then pack
    into per-band integer keys. The kernel replaced the interpreted
    per-plane higher-order folds (bands·rows·dim lambda evaluations per
    row) AND their one-time codegen/JIT warmup for the multi-thousand-
    node expression tree.

    Null vectors key to 0 in every band with ``__n`` NULL (a NULL dot
    fails ``>= 0`` in the SQL form). Empty vectors key to 0 too — the
    SQL ``zip_with`` pads them against the plane with nulls, nulling the
    fold — with ``__n`` 0.0 (the norm's ``transform`` yields an empty
    array, folded to the 0.0 base). Ragged widths (≠ dim) raise — the
    SQL form would silently emit null-padded-zip garbage keys for those,
    and no engine caller can produce them (dim is probed or
    caller-pinned)."""
    planes = hyperplanes(dim, bands * rows_per_band, seed)

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        P = np.array(planes, dtype=np.float64)  # (n_planes, dim)
        pw2 = (1 << np.arange(rows_per_band, dtype=np.int64))
        band_ids = np.arange(bands, dtype=np.int32)
        for batch in batches:
            keep = [batch.column(i) for i in range(batch.num_columns - 1)]
            names = batch.schema.names[:-1] + ["__n", "__bands"]
            dcol = batch.column(batch.num_columns - 1)
            n = len(dcol)
            if n == 0:
                empty_bands = pa.ListArray.from_arrays(
                    pa.array(np.zeros(1, dtype=np.int32)),
                    pa.StructArray.from_arrays(
                        [pa.array([], type=pa.int32()), pa.array([], type=pa.int64())],
                        ["band", "key"],
                    ),
                )
                yield pa.RecordBatch.from_arrays(
                    keep + [pa.array([], type=pa.float64()), empty_bands.slice(0, 0)], names
                )
                continue
            offs = np.asarray(dcol.offsets, dtype=np.int64)
            widths = np.diff(offs)
            null_mask = np.zeros(n, dtype=bool)
            if dcol.null_count:
                null_mask = ~np.asarray(dcol.is_valid())
            # rows with a NULL ELEMENT: the SQL folds null out — every
            # band key 0 (CASE WHEN NULL >= 0 is false) and __n NULL.
            # The vectorized key path already lands on 0 (the NaN the
            # element decodes to fails >= 0.0 like the SQL NULL), but
            # the norm must come back NULL, not NaN (ADVICE r14's
            # element-null gap, fixed alongside the cosine kernel's)
            elem_null = np.zeros(n, dtype=bool)
            if dcol.values.null_count:
                inv = ~np.asarray(dcol.values.is_valid())
                c = np.zeros(len(inv) + 1, dtype=np.int64)
                np.cumsum(inv, out=c[1:])
                elem_null = (c[offs[1:]] - c[offs[:-1]]) > 0
            ragged = (~null_mask) & (widths != dim) & (widths != 0)
            if ragged.any():
                raise ValueError(
                    f"banded_sign_sketch arrow kernel: vector width(s) "
                    f"{sorted(set(widths[ragged].tolist()))} != dim={dim}"
                )
            # .values is the raw child buffer; offs index into it
            # absolutely (never .flatten(), which drops null ranges and
            # would misalign the offsets)
            vals = np.asarray(dcol.values, dtype=np.float64)
            full = (~null_mask) & (widths == dim)
            V = vals[
                (offs[:-1][full][:, None] + np.arange(dim)[None, :]).ravel()
            ].reshape(-1, dim)
            acc = np.zeros((V.shape[0], P.shape[0]))
            nrm2 = np.zeros(V.shape[0])
            for j in range(dim):
                # strict left fold per (row, plane): one rounded multiply
                # + one rounded add per step, exactly the JVM fold
                acc += V[:, j : j + 1] * P[None, :, j]
                nrm2 += V[:, j] * V[:, j]
            # NULL and EMPTY vectors both key to 0 in every band: the SQL
            # zip_with pads the empty side with nulls, the null products
            # null the fold, and CASE WHEN NULL >= 0 takes the 0 branch
            keys = np.zeros((n, bands), dtype=np.int64)
            keys[full] = (
                (acc >= 0.0).reshape(-1, bands, rows_per_band) * pw2[None, None, :]
            ).sum(axis=2, dtype=np.int64)
            norms = np.full(n, np.nan)
            norms[full] = np.sqrt(nrm2)
            norms[(~null_mask) & (widths == 0)] = 0.0
            norm_null = null_mask | elem_null
            bands_arr = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n + 1) * bands, bands, dtype=np.int32)),
                pa.StructArray.from_arrays(
                    [pa.array(np.tile(band_ids, n)), pa.array(keys.ravel())],
                    ["band", "key"],
                ),
            )
            yield pa.RecordBatch.from_arrays(
                keep + [pa.array(norms, mask=norm_null), bands_arr], names
            )

    return fn


def _sign_sketch(inp: DataFrame, dim: int, bands: int, rows_per_band: int, seed: int) -> DataFrame:
    """Run the sketch kernel over ``inp``, whose LAST column is the
    pre-cast ``array<double>`` vector: the other columns pass through,
    ``__n`` and ``__bands`` are appended. The one producer of sign-sketch
    band keys — the materialized index, the pre-flight scout and the
    LSH top-k buckets alike."""
    keep = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in inp.schema.fields[:-1])
    return inp.mapInArrow(
        _sketch_arrow_batches(dim, bands, rows_per_band, seed),
        schema=f"{keep}, __n double, __bands array<struct<band:int,key:bigint>>",
    )


def banded_sign_sketch(
    embeddings: DataFrame,
    bands: int = 8,
    rows_per_band: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Materialized multi-band sign sketch: (id, __v, __n, __bands) with
    __bands = array<struct<band, key>> — the persistable LSH index table
    for the embedding near-dup path (the analogue of the minhash
    band-key index in ``operators/dedup.py``).

    ONE pass, ONE pin: vectors, norms, and every band key come out of a
    single kernel pass (``_sketch_arrow_batches``), materialized once;
    the band-key self-join's two sides and both verify sides re-read the
    checkpoint instead of re-folding the bands × rows × dim
    multiply-adds (same pathology class as lsh_candidate_pairs)."""
    if dim is None:
        dim = _vector_width(embeddings, vec_col)
    # spread BEFORE the sketch projection when the input arrives in fewer
    # partitions than cores (single-row-group files): the sketch is
    # compute-dense per row and would otherwise fold on one core. Skipped
    # when the source is already spread (e.g. contract.load) — a
    # redundant full shuffle is pure cost at scale. The partition count
    # comes from the PHYSICAL plan (batch-only, like the localCheckpoint
    # below), not df.rdd — .rdd re-translates the whole plan driver-side
    # on every invocation just to read one int.
    sc = embeddings.sparkSession.sparkContext
    if _plan_partition_count(embeddings) < sc.defaultParallelism:
        embeddings = embeddings.repartition(sc.defaultParallelism)
    inp = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("__v"),
        F.col(vec_col).cast("array<double>").alias("__vd"),
    )
    return _sign_sketch(inp, dim, bands, rows_per_band, seed).localCheckpoint()


def _explode_band_keys(vecs: DataFrame) -> DataFrame:
    # exploding a pre-materialized array is cheap to recompute, so the
    # result needs no checkpoint of its own
    return vecs.select("id", F.explode("__bands").alias("bk")).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


#: per-(band, key) occupancy above which the band-key self-join switches
#: to the chunk-split (triangle) path. Chosen > the max occupancy observed
#: at the shipped test SFs (36 at sf0.1; 285 at the 10× local scale-up)
#: so small corpora never pay the split, while a degenerate bucket at
#: 100 TB is spread over ceil(m/cap)² tasks instead of landing m²/2
#: candidate rows on ONE executor core.
SIGN_BUCKET_CAP = 512

#: with the DEFAULT cap, corpora at or below this row count skip the
#: over-cap occupancy scan entirely when the caller knows the exact row
#: count: the degenerate worst case (every row in ONE bucket) is then
#: ≤ n²/2 ≈ 8.4M pairs in a single task — sub-second work that cannot
#: pin an executor, so pricing the split would cost more than the risk
#: it retires. An EXPLICIT cap always runs the scan (tests force cap=2
#: to prove split byte-identity; an operator that asks for a cap gets it).
SPLIT_GATE_MAX_ROWS = 4096


def _band_self_join(bk: DataFrame) -> DataFrame:
    """(id1, id2, band) for every id1 < id2 sharing a (band, key) bucket."""
    return (
        bk.alias("a")
        .join(bk.alias("b"), ["band", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"), "band")
    )


def _bucketed_self_pairs(
    bk: DataFrame, cap: int | None = None, n_rows: int | None = None
) -> DataFrame:
    """Candidate pairs (id1, id2, band), id1 < id2, from a band-key table
    via the per-bucket equi self-join — EXACTLY ONE ROW PER (pair,
    colliding band) on every path, so ``_verify_cosine_pairs`` folds the
    across-band duplicates with its min-colliding-band filter. The join
    carries an OCCUPANCY GUARDRAIL: buckets holding more than ``cap``
    members are handled by a triangle chunk-split that emits the
    IDENTICAL rows across ceil(m/cap)·(ceil(m/cap)+1)/2 join tasks.

    The skew problem this solves is invisible to AQE: a hot bucket is a
    few hundred INPUT rows (far under any skewed-partition byte
    threshold) that explodes into m²/2 OUTPUT rows inside one task — AQE
    splits on input size, so the explosion lands on one core. The split
    assigns each over-cap member a deterministic chunk c = xxhash64(id)
    mod n_chunks and meets chunk pairs (i ≤ j) in separate tasks: a
    member is replicated to its a-side tasks (c, j≥c) and b-side tasks
    (i≤c, c) — ~2·(m/cap) copies, linear — and every unordered pair
    meets in exactly the one task (min-chunk, max-chunk); the same-chunk
    task (``__i == __j``) sees both orderings and keeps only id1 < id2,
    like the plain join. Total candidate work is unchanged — these are
    true candidates the verify stage must score — only its placement
    changes, so output is byte-identical with or without the cap at
    every SF (asserted in tests with a cap forced below observed
    occupancy).

    Round-10 small-corpus fix (quiet-box A/B in
    `evidence/ABSCOUT_r10.jsonl`: the r9 guardrail DOUBLED the query's
    CPU at sf0.1, 12.7 vs 6.7 CPU s — a fixed per-action overhead plus
    four extra plan subtrees, not data cost): two gates now drop the
    guardrail when it provably cannot help, byte-identically.

    1. ``n_rows`` (the caller's row count or any upper bound, when known
       from a probe it already paid for): if ``n_rows <= cap`` NO bucket
       can exceed the cap — skip the scan outright. With the DEFAULT
       cap, also skip while ``n_rows <= SPLIT_GATE_MAX_ROWS``: the
       degenerate worst-case single task is then sub-second. An explicit
       cap is always honored.
    2. Otherwise the over-cap bucket list (at most rows/cap entries by
       construction) is materialized ONCE (``localCheckpoint``) and,
       when EMPTY, the split plan — four extra subtrees, each re-scanning
       band keys and rebuilding the broadcast — is dropped for the plain
       self-join. A healthy large corpus pays exactly one narrow
       (band, key) count shuffle + one empty-checkpoint read; a
       degenerate one pays the same count plus the split it needs."""
    explicit_cap = cap is not None
    if cap is None:
        cap = SIGN_BUCKET_CAP
    if n_rows is not None and (
        n_rows <= cap or (not explicit_cap and n_rows <= SPLIT_GATE_MAX_ROWS)
    ):
        return _band_self_join(bk)
    over_occ = (
        bk.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("__occ"))
        .filter(F.col("__occ") > cap)
        .localCheckpoint()
    )
    if not over_occ.take(1):
        return _band_self_join(bk)
    over = F.broadcast(over_occ)
    pairs_small = _band_self_join(
        bk.join(over.select("band", "key"), ["band", "key"], "left_anti")
    )
    member = (
        bk.join(over, ["band", "key"])
        .withColumn("__nch", F.ceil(F.col("__occ") / F.lit(cap)).cast("int"))
        .withColumn("__c", F.pmod(F.xxhash64(F.col("id")), F.col("__nch")).cast("int"))
    )
    aside = member.select(
        "band",
        "key",
        "id",
        F.col("__c").alias("__i"),
        F.explode(F.sequence(F.col("__c"), F.col("__nch") - 1)).alias("__j"),
    )
    bside = member.select(
        "band",
        "key",
        F.col("id").alias("__idb"),
        F.explode(F.sequence(F.lit(0), F.col("__c"))).alias("__i"),
        F.col("__c").alias("__j"),
    )
    pairs_big = (
        aside.join(bside, ["band", "key", "__i", "__j"])
        # cross-chunk pairs meet in exactly one task with one ordering;
        # the SAME-chunk task (__i == __j) sees both orderings, so keep
        # only id < __idb there — each unordered pair then comes out
        # exactly once per band
        .filter(
            F.when(F.col("__i") == F.col("__j"), F.col("id") < F.col("__idb")).otherwise(
                F.col("id") != F.col("__idb")
            )
        )
        .select(
            F.least(F.col("id"), F.col("__idb")).alias("id1"),
            F.greatest(F.col("id"), F.col("__idb")).alias("id2"),
            "band",
        )
    )
    return pairs_small.unionByName(pairs_big)


#: per-side payload estimate above which the verify joins fall back to
#: shuffle. Below it the PINNED vector table broadcasts explicitly (the
#: 10 MB auto threshold is far too timid here): the candidate list —
#: routinely 10–1000× larger than the corpus — then never shuffles with
#: two vectors attached, which is exactly the sort-merge spill that
#: exhausted the disk in the round-9 sf10 run. At true scale (10⁹
#: vectors ≫ the gate) the shuffle path is correct and sketch sizing
#: bounds the candidate count instead.
VERIFY_BROADCAST_MAX_BYTES = 256 * 2**20


def _cosine_pairs_arrow_batches(ansi: bool):
    """mapInArrow kernel factory for pairwise cosine (guide §4.2):
    input batches are (id1, id2, __va, __vb, __na, __nb) with the
    vectors pre-cast to ``array<double>`` JVM-side (the float→double
    widening stays where the SQL fold does it); output is
    (id1, id2, cosine).

    Bit-identical to the JVM ``_dot(a, b) / (na * nb)`` fold (the test
    reference in ``tests/kernel_reference.py``, pinned by
    ``tests/test_cosine_kernel.py``): the dot accumulates ELEMENTWISE-
    SEQUENTIALLY per (row, dim) step — one rounded multiply + one
    rounded add per step, exactly the JVM left fold; NumPy only
    reassociates in reductions like reduceat/sum, which are deliberately
    NOT used — and the division is the same two double ops.

    NULL semantics replicate the SQL fold: a NULL vector or NULL norm
    on either side → NULL cosine (``zip_with`` against NULL nulls the
    fold; NULL operands null the division), and a NULL ELEMENT inside a
    vector also → NULL cosine (the element nulls its product, the fold
    propagates it — ADVICE r14: ``np.asarray`` alone would have turned
    it into a NaN the threshold filter treats differently from NULL).
    Mismatched per-row widths raise — the SQL ``zip_with`` would
    silently null-pad — and no engine caller can produce them (both
    sides come from one vector table). Rows are processed grouped by
    vector width so the fold loop is one vectorized multiply-add per
    dimension, sequential per row — every intermediate IEEE-754
    rounding matches the JVM fold."""

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        def rows_with_null_elem(col, offs):
            # rows whose slice of the child buffer contains a null
            # element: one cumsum over the child validity, O(child)
            inv = ~np.asarray(col.values.is_valid())
            c = np.zeros(len(inv) + 1, dtype=np.int64)
            np.cumsum(inv, out=c[1:])
            return (c[offs[1:]] - c[offs[:-1]]) > 0

        for batch in batches:
            names = batch.schema.names
            id1, id2, va, vb, na, nb = (batch.column(i) for i in range(6))
            n = len(id1)
            if n == 0:
                yield pa.RecordBatch.from_arrays(
                    [id1, id2, pa.array([], type=pa.float64())], [names[0], names[1], "cosine"]
                )
                continue
            ao = np.asarray(va.offsets, dtype=np.int64)
            bo = np.asarray(vb.offsets, dtype=np.int64)
            aw, bw = np.diff(ao), np.diff(bo)
            null_mask = np.zeros(n, dtype=bool)
            if va.null_count:
                null_mask |= ~np.asarray(va.is_valid())
            if vb.null_count:
                null_mask |= ~np.asarray(vb.is_valid())
            if na.null_count:
                null_mask |= ~np.asarray(na.is_valid())
            if nb.null_count:
                null_mask |= ~np.asarray(nb.is_valid())
            if va.values.null_count:
                null_mask |= rows_with_null_elem(va, ao)
            if vb.values.null_count:
                null_mask |= rows_with_null_elem(vb, bo)
            valid = ~null_mask
            if ((aw != bw) & valid).any():
                raise ValueError(
                    "cosine pairs arrow kernel: per-row vector widths differ "
                    "between the two sides (the SQL zip_with would null-pad)"
                )
            # .values is the raw child buffer; offsets index into it
            # absolutely (never .flatten(), which drops null ranges)
            avals = np.asarray(va.values, dtype=np.float64)
            bvals = np.asarray(vb.values, dtype=np.float64)
            dots = np.zeros(n)
            for wd in np.unique(aw[valid]).tolist():
                sel = valid & (aw == wd)
                if wd == 0:
                    continue  # empty zip → fold stays at the 0.0 base
                ia = (ao[:-1][sel][:, None] + np.arange(wd)[None, :]).ravel()
                ib = (bo[:-1][sel][:, None] + np.arange(wd)[None, :]).ravel()
                A = avals[ia].reshape(-1, wd)
                B = bvals[ib].reshape(-1, wd)
                acc = np.zeros(A.shape[0])
                for j in range(wd):
                    # strict left fold: one rounded multiply + one
                    # rounded add per step, exactly the JVM aggregate
                    acc += A[:, j] * B[:, j]
                dots[sel] = acc
            nan_ = np.asarray(na.cast(pa.float64()).fill_null(np.nan), dtype=np.float64)
            nbn_ = np.asarray(nb.cast(pa.float64()).fill_null(np.nan), dtype=np.float64)
            denom = nan_ * nbn_
            zero_div = (denom == 0.0) & valid
            if zero_div.any():
                if ansi:
                    # under the ANSI dialect (plain-session default) the
                    # SQL division throws DIVIDE_BY_ZERO — replicate the
                    # failure instead of silently emitting values
                    raise ValueError(
                        "cosine pairs arrow kernel: zero norm product "
                        "(ANSI division by zero in the SQL form)"
                    )
                # non-ANSI Spark Divide returns NULL on a zero divisor
                # (not the Java NaN/inf) — null those rows out
                null_mask = null_mask | zero_div
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dots / denom
            yield pa.RecordBatch.from_arrays(
                [id1, id2, pa.array(cos, mask=null_mask)], [names[0], names[1], "cosine"]
            )

    return fn


def _cosine_scored_pairs(
    joined: DataFrame,
    id1: str,
    id2: str,
    va: str,
    vb: str,
    na: str,
    nb: str,
) -> DataFrame:
    """(id1, id2, cosine) over a pre-joined pair relation carrying both
    vectors and both pre-computed norms — the one scoring projection
    behind the verify stage and the brute-force and LSH top-k, run by
    the arrow kernel ``_cosine_pairs_arrow_batches``.

    ``spark.sql.ansi.enabled`` is SNAPSHOTTED here, at plan-build time,
    into the kernel closure (a worker cannot read session conf at
    execution): the zero-norm behavior — raise under ANSI, NULL cosine
    otherwise — therefore follows the conf value in force when the
    DataFrame was BUILT. A session that flips the conf between building
    and executing the plan would see the stale dialect; no engine caller
    does that (queries build and execute in one call), and the
    both-flavors smoke in tests/test_cosine_kernel.py pins each dialect
    end-to-end (ADVICE r14)."""
    t1 = joined.schema[id1].dataType.simpleString()
    t2 = joined.schema[id2].dataType.simpleString()
    inp = joined.select(
        F.col(id1),
        F.col(id2),
        F.col(va).cast("array<double>").alias("__vad"),
        F.col(vb).cast("array<double>").alias("__vbd"),
        F.col(na),
        F.col(nb),
    )
    ansi = (
        str(joined.sparkSession.conf.get("spark.sql.ansi.enabled", "true")).lower() == "true"
    )
    return inp.mapInArrow(
        _cosine_pairs_arrow_batches(ansi), schema=f"{id1} {t1}, {id2} {t2}, cosine double"
    )


def _verify_cosine_pairs(
    cand: DataFrame,
    vecs: DataFrame,
    threshold: float,
    broadcast: bool | None = None,
) -> DataFrame:
    """Verified (id1, id2, cosine ≥ threshold) pairs from ``cand``, which
    holds one row per (pair, colliding band) — ``_bucketed_self_pairs``
    and the new×prior probe of ``incremental_embedding_pairs``. A pair
    that collides in several bands is kept only at its SMALLEST
    colliding band: with both sides' ``__bands`` arrays attached by the
    verify join anyway, ``array_min`` over the per-band key-equality zip
    names that band, and a map-side filter drops the other rows (guide
    §2.4 — remove the shuffle outright). Every colliding pair has
    exactly one minimal colliding band, so the row set equals
    distinct-then-verify while the candidate relation never crosses a
    pair-wide exchange (the across-band duplicate factor is ~1.02 at the
    shipped SFs — near-dup pairs are rare — so the duplicated probe work
    this trades in is noise)."""
    va = vecs.select(
        F.col("id").alias("id1"), F.col("__v").alias("__va"), F.col("__n").alias("__na"),
        F.col("__bands").alias("__ba"),
    )
    vb = vecs.select(
        F.col("id").alias("id2"), F.col("__v").alias("__vb"), F.col("__n").alias("__nb"),
        F.col("__bands").alias("__bb"),
    )
    # broadcast=None → self-probe. The incremental path unions in a
    # caller-supplied prior index that may be an arbitrary unpinned plan
    # (e.g. read straight from parquet) — so the sizing probe must stay
    # cheap on oversized inputs: a LIMIT-capped count stops scanning at
    # threshold_rows+1 instead of paying a full count just to learn the
    # index will never broadcast. The no-prior call already knows n and
    # passes the decision in.
    if broadcast is None:
        threshold_rows = int(VERIFY_BROADCAST_MAX_BYTES / (_vector_width(vecs, "__v") * 8 * 1.5))
        broadcast = vecs.limit(threshold_rows + 1).count() <= threshold_rows
    if broadcast:
        va, vb = F.broadcast(va), F.broadcast(vb)
    # first (minimum) colliding band of the pair, from the two band
    # arrays: keys are equal at position i iff the pair collides in band
    # i (arrays are band-ordered by construction in the sketch kernel;
    # the band fields are compared anyway for safety). The emitted band
    # row survives only when it IS that minimum — before the cosine
    # kernel, so each pair is scored once.
    first_band = F.array_min(
        F.zip_with(
            "__ba", "__bb",
            lambda x, y: F.when(
                (x["band"] == y["band"]) & (x["key"] == y["key"]), x["band"]
            ),
        )
    )
    joined = (
        cand.join(va, "id1").join(vb, "id2")
        .filter(F.col("band") == first_band)
        .drop("band", "__ba", "__bb")
    )
    return _cosine_scored_pairs(joined, "id1", "id2", "__va", "__vb", "__na", "__nb").filter(
        F.col("cosine") >= threshold
    )


def incremental_embedding_pairs(
    prior_index: DataFrame | None,
    new_embeddings: DataFrame,
    threshold: float = 0.95,
    bands: int = 8,
    rows_per_band: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    bucket_cap: int | None = None,
    max_candidates: int | None = None,
    n_new_rows: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Embedding-cosine near-duplicate pairs via MULTI-BAND sign-bit LSH
    (the minhash-band construction transplanted to random hyperplanes):
    candidates = any-band collision, verified by exact cosine ≥
    threshold. The one producer of embedding near-dup pairs: sketch ONLY
    the new batch and probe it against the stored sign-sketch index —
    the embedding-space twin of ``dedup.incremental_minhash_pairs``. A
    one-shot search over a whole corpus is the no-history case,
    ``prior_index=None``.

    Per band, the key packs ``rows_per_band`` sign bits → 2^rows_per_band
    buckets per band; a pair collides if ALL bits of SOME band agree.
    For p = 1 - acos(cos)/π, recall = 1 - (1 - p^rows)^bands: with the
    8×8 default, a 0.95-cosine pair is caught 98.8% of the time while an
    uncorrelated pair (p≈0.5) collides in a band with chance 2^-8. The
    scale knobs are independent: raise ``rows_per_band`` to shrink
    buckets as the corpus grows (each +1 bit halves expected bucket
    occupancy n/2^rows), raise ``bands`` to buy recall back.

    A growing embedding store must not re-fold its history's bands ×
    rows × dim sketch every increment. The ``banded_sign_sketch`` table
    (id, __v, __n, __bands) IS the persistable index: band keys are a
    pure function of the vector and the seeded planes, so
    index(prior ∪ new) = index(prior) ∪ sketch(new), and candidates of
    the union split into (new × new) ∪ (new × prior) — returned here —
    plus (prior × prior), which earlier increments already emitted.

    Returns ``(pairs, updated_index)``: verified (id1, id2, cosine)
    pairs where at least one side is new, and the index to persist for
    the next increment.

    Pass ``dim`` explicitly in pipelines — the ``.first()`` fallback costs
    one extra Spark action to probe the vector width (the first
    non-NULL, non-empty vector's).

    ``bucket_cap`` (default ``SIGN_BUCKET_CAP``) is the within-increment
    join's per-bucket occupancy guardrail — see ``_bucketed_self_pairs``;
    output is byte-identical at any cap. The new×prior probe is already
    bounded by increment occupancy × prior occupancy per bucket.

    ``max_candidates`` (opt-in) prices the increment's candidate join
    BEFORE launching it — per bucket, c_new·(c_new−1)/2 within-increment
    pairs plus c_new·c_prior probe hits against the stored index — and
    raises ``LshCandidateBudgetError`` with the exact count and a sized
    ``rows_per_band`` suggestion when it exceeds the budget. The scout
    reads the pinned increment sketch (one narrow count shuffle) plus,
    with a prior, one occupancy pass over the stored index's keys (a
    scan of the persisted index table — its vectors are never read); a
    passing scout changes nothing downstream.

    ``n_new_rows`` (optional) is the caller's count — or any UPPER
    bound — of the increment's rows, for callers that already know it
    (the corpus pipeline from its load observation, the registry from
    the parquet footer). The sketch emits exactly one row per input row
    (NULL/empty vectors included), and the gates it feeds are monotone,
    so an upper bound is sound. It lets the within-increment join skip
    its over-cap occupancy scan on small increments (~2-5 CPU s of fixed
    per-action cost on local[32], evidence/ABSCOUT_r10.jsonl).

    Sizing without a prior costs at most one action: the split gate and
    the verify broadcast both read n from the budget scout's exact count
    when a budget is set, else from ``n_new_rows``, else from ONE count
    over the pinned sketch (round-10: every extra Spark action costs a
    fixed ~2-5 executor-CPU s on a 32-way local session regardless of
    data size). With a prior, the verify join probes the union's size
    itself (``_verify_cosine_pairs``)."""
    p = cosine_collision_p(threshold)
    label = f"cosine >= {threshold}"
    if dim is None:
        dim = _vector_width(new_embeddings, vec_col)
    new_vecs = banded_sign_sketch(new_embeddings, bands, rows_per_band, seed, id_col, vec_col, dim)
    new_bk = _explode_band_keys(new_vecs)
    if prior_index is None:
        n = n_new_rows
        if max_candidates is not None:
            n = _check_candidate_budget(
                _occupancy_summary(new_bk, bands), max_candidates, bands, rows_per_band,
                p=p, threshold_label=label,
            )["n_vectors"] or 0
        elif n is None:
            n = new_vecs.count()
        threshold_rows = int(VERIFY_BROADCAST_MAX_BYTES / (dim * 8 * 1.5))
        cand = _bucketed_self_pairs(new_bk, bucket_cap, n_rows=n)
        pairs = _verify_cosine_pairs(cand, new_vecs, threshold, broadcast=0 < n <= threshold_rows)
        return pairs, new_vecs
    prior_bk = _explode_band_keys(prior_index)
    if max_candidates is not None:
        _check_candidate_budget(
            _incremental_occupancy_summary(new_bk, prior_bk, bands),
            max_candidates, bands, rows_per_band, p=p, threshold_label=label,
        )
    new_new = _bucketed_self_pairs(new_bk, bucket_cap, n_rows=n_new_rows)
    # one equi probe of the stored index — touches only colliding
    # buckets, never the history's vectors
    cross = (
        new_bk.alias("a")
        .join(prior_bk.alias("b"), ["band", "key"])
        .filter(F.col("a.id") != F.col("b.id"))
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id1"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id2"),
            "band",
        )
    )
    # the candidate union crosses no exchange, so AQE never coalesces it:
    # cap its partitions at the core count, or the cosine kernel runs one
    # Python task per output partition of both joins
    cand = new_new.unionByName(cross).coalesce(
        new_embeddings.sparkSession.sparkContext.defaultParallelism
    )
    all_vecs = prior_index.unionByName(new_vecs)
    return _verify_cosine_pairs(cand, all_vecs, threshold), all_vecs
