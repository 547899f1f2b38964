"""Similarity search + multimodal plumbing tests."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from batch_data_pipeline_exercise_spark.obs import measure
from batch_data_pipeline_exercise_spark.operators import multimodal, similarity


@pytest.fixture(scope="module")
def vecs(spark):
    rng = random.Random(1)
    rows = []
    for i in range(100):
        rows.append((i, [rng.gauss(0, 1) for _ in range(16)]))
    # 100/101: near-identical pair; 102: exact copy of 0
    rows.append((100, [x + 0.001 for x in rows[10][1]]))
    rows.append((102, list(rows[0][1])))
    return spark.createDataFrame(rows, "vec_id int, embedding array<double>").cache()


def near_dup_pairs(embeddings, **kw):
    """One-shot near-dup pairs: the no-history call of the one operator."""
    return similarity.incremental_embedding_pairs(None, embeddings, **kw)[0]


def brute_force_expected(rows, qid, k):
    qv = dict(rows)[qid]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    scored = sorted(((cos(qv, v), i) for i, v in rows if i != qid), key=lambda t: (-t[0], t[1]))
    return [i for _, i in scored[:k]]


def test_cosine_topk_bruteforce(spark, vecs):
    rows = [(r["vec_id"], r["embedding"]) for r in vecs.collect()]
    queries = vecs.filter(F.col("vec_id").isin([0, 10])).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = similarity.cosine_topk_bruteforce(vecs, queries, k=5)
    got = {qid: [r["neighbor_id"] for r in sorted(rs, key=lambda r: r["rank"])] for qid, rs in
           ((q, [r for r in out.collect() if r["query_id"] == q]) for q in [0, 10])}
    assert got[0] == brute_force_expected(rows, 0, 5)
    assert got[10] == brute_force_expected(rows, 10, 5)
    assert got[0][0] == 102  # the planted exact copy ranks first
    assert got[10][0] == 100  # the planted near-copy ranks first


def test_cosine_topk_lsh_recall(spark, vecs):
    queries = vecs.filter(F.col("vec_id").isin([0, 10])).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = similarity.cosine_topk_lsh(vecs, queries, k=3, n_planes=4).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    # identical/near-identical vectors land in the query's own bucket
    assert any(r["neighbor_id"] == 102 for r in by_q[0])
    assert any(r["neighbor_id"] == 100 for r in by_q[10])


def test_embedding_near_dup_pairs(spark, vecs):
    pairs = {(r["id1"], r["id2"]): r["cosine"] for r in near_dup_pairs(vecs, threshold=0.99).collect()}
    assert (0, 102) in pairs and pairs[(0, 102)] == pytest.approx(1.0)
    assert (10, 100) in pairs and pairs[(10, 100)] > 0.999
    assert len(pairs) == 2  # random gaussians don't fake-pair at 0.99


def test_bucket_cap_split_is_byte_identical(spark, sf_dir):
    """The occupancy guardrail must be placement-only: forcing the cap far
    BELOW observed occupancy (2, vs max 13 at sf0.001+) re-routes hot
    buckets through the triangle chunk-split yet must emit the exact
    same verified pairs as the uncapped plan."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    kw = dict(threshold=0.4, bands=8, rows_per_band=8, seed=42, dim=64)
    uncapped = {
        (r["id1"], r["id2"])
        for r in near_dup_pairs(e, bucket_cap=10**9, **kw).collect()
    }
    split = {
        (r["id1"], r["id2"])
        for r in near_dup_pairs(e, bucket_cap=2, **kw).collect()
    }
    assert uncapped and split == uncapped


def test_bucketed_self_pairs_exhaustive_tiny():
    """Every unordered pair inside one bucket must appear exactly once
    (one band), for chunk counts from 1 (no split) through > members
    (every chunk singleton)."""
    import itertools

    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    bk = spark.createDataFrame(
        [(0, 7, i) for i in range(9)], "band int, key bigint, id int"
    )
    want = {(a, b) for a, b in itertools.combinations(range(9), 2)}
    for cap in (1, 2, 4, 8, 100):
        rows = similarity._bucketed_self_pairs(bk, cap).select("id1", "id2").collect()
        assert len(rows) == len(want), f"cap={cap}"
        assert {(r["id1"], r["id2"]) for r in rows} == want, f"cap={cap}"


def test_banded_lsh_recall_vs_exact(spark, sf_dir):
    """Pin the multi-band LSH recall story on the real testdata.

    The 8×8 config targets NEAR-duplicates: a 0.95-cosine pair is caught
    ~99% of the time. The sf testdata's closest pairs sit at cosine
    0.40–0.51 — far below the near-dup regime — so recall there is the
    theoretical 1-(1-p^8)^8 ≈ 0.19 for p≈0.63; we assert the measured
    value stays in a sane band AND that the exact-cosine verify makes
    every emitted pair a true pair (precision 1.0 by construction)."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = {
        (r["id1"], r["id2"])
        for r in near_dup_pairs(
            e, threshold=0.4, bands=8, rows_per_band=8, seed=42, dim=64
        ).collect()
    }
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW e AS SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM '{sf_dir}/embeddings.parquet'"
    )
    exact = {
        (a, b)
        for a, b in con.execute(
            "SELECT a.vec_id, b.vec_id FROM e a JOIN e b ON a.vec_id < b.vec_id "
            "WHERE list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) "
            "* sqrt(list_dot_product(b.v, b.v))) >= 0.4"
        ).fetchall()
    }
    con.close()
    assert got <= exact, "verify step must kill every false candidate"
    assert exact and len(got) / len(exact) > 0.08, f"recall collapsed: {len(got)}/{len(exact)}"


def test_multimodal_features_and_plumbing(spark):
    rows = [(f"m{i}", "image", bytes([i]) * (100 + i), "image/png", None, None, 3000) for i in range(20)]
    df = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)

    meta = multimodal.attach_media_metadata(df)
    m = {r["media_id"]: r for r in meta.collect()}
    assert m["m0"]["n_bytes"] == 100 and len(m["m0"]["content_sha256"]) == 64

    feats = multimodal.extract_image_features(df)
    assert feats.schema == multimodal.IMAGE_FEATURES_SCHEMA
    f = {r["media_id"]: r for r in feats.collect()}
    assert len(f) == 20
    assert all(64 <= r["width"] < 256 and 0 <= r["mean_luma"] <= 1 for r in f.values())
    # deterministic stub: same content → same features
    again = {r["media_id"]: r["phash"] for r in multimodal.extract_image_features(df).collect()}
    assert again == {k: v["phash"] for k, v in f.items()}

    frames = multimodal.sample_video_frames(df, every_ms=1000)
    assert frames.count() == 20 * 4  # 0,1000,2000,3000


def test_incremental_embedding_equals_rebuild(spark, sf_dir):
    """Incremental probe (new batch vs stored index) must equal the full
    rebuild's verified pairs restricted to pairs touching a new vector —
    the exact-reconstruction property the 100 TB increment story rests
    on. Also: a second increment emits no pair twice. Run at the default
    cap and at cap 2, which routes the within-increment join through the
    chunk-split: the min-colliding-band rule must hold on both paths."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    prior = e.filter(F.col("vec_id") % 5 != 0)
    new = e.filter(F.col("vec_id") % 5 == 0)
    idx = similarity.banded_sign_sketch(prior, dim=64)
    for cap in (None, 2):
        kw = dict(threshold=0.4, dim=64, bucket_cap=cap)
        full = {(r["id1"], r["id2"]) for r in near_dup_pairs(e, **kw).collect()}
        pairs, updated = similarity.incremental_embedding_pairs(idx, new, **kw)
        got = [(r["id1"], r["id2"]) for r in pairs.collect()]
        assert len(got) == len(set(got)), f"cap={cap}"
        assert set(got) == {(a, b) for a, b in full if a % 5 == 0 or b % 5 == 0}, f"cap={cap}"
        # the updated index reproduces the full-corpus index state
        assert updated.count() == e.count()
        # first-batch path (no prior index) = self-join of the new batch only
        first, first_idx = similarity.incremental_embedding_pairs(None, new, **kw)
        got_first = {(r["id1"], r["id2"]) for r in first.collect()}
        assert got_first == {(a, b) for a, b in full if a % 5 == 0 and b % 5 == 0}
        assert first_idx.count() == new.count()


def test_image_codec_gate(spark):
    """The real-codec path is optional: codec='pil' raises
    NotImplementedError exactly when PIL is absent, codec='auto' falls
    back to the deterministic stub, and an unknown codec is a loud
    error — the stub remains the oracle-checked default either way."""
    import pytest as _pytest

    rows = [("m0", "image", b"\x89PNG-fake", "image/png", None, None, None)]
    df = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)
    with _pytest.raises(ValueError, match="unknown codec"):
        multimodal.extract_image_features(df, codec="jpegxl")
    auto = multimodal.extract_image_features(df, codec="auto")
    stub = multimodal.extract_image_features(df)  # default stub
    if multimodal.HAS_PIL:
        # auto routes to the real decoder; fake bytes fail to decode
        with _pytest.raises(Exception):
            auto.collect()
    else:
        assert [tuple(r) for r in auto.collect()] == [tuple(r) for r in stub.collect()]
        with _pytest.raises(NotImplementedError, match="requires PIL"):
            multimodal.extract_image_features(df, codec="pil")


@pytest.mark.skipif(not multimodal.HAS_PIL, reason="PIL not installed (optional codec)")
def test_image_codec_real_pil_decode(spark):
    """Real-decode parity: a PIL-generated 16x9 gray PNG round-trips
    through codec='pil' with exact dimensions, the analytic mean luma,
    and the constant-image average-hash (all-ones: every pixel >= mean)."""
    import io as _io

    from PIL import Image as PILImage

    buf = _io.BytesIO()
    PILImage.new("L", (16, 9), color=128).save(buf, format="PNG")
    rows = [("real0", "image", buf.getvalue(), "image/png", None, None, None)]
    df = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)
    (r,) = multimodal.extract_image_features(df, codec="pil").collect()
    assert (r["width"], r["height"]) == (16, 9)
    assert abs(r["mean_luma"] - 128 / 255) < 1e-9
    assert r["phash"] == "ffffffffffffffff"


def test_rows_per_band_for_sizing():
    """The sizing rule halves expected occupancy per bit: the returned
    rows is the smallest with n / 2^rows <= target."""
    assert similarity.rows_per_band_for(256, target_occupancy=256) == 1
    assert similarity.rows_per_band_for(60_000, target_occupancy=256) == 8
    assert similarity.rows_per_band_for(200_000, target_occupancy=256) == 10
    assert similarity.rows_per_band_for(10**9, target_occupancy=256) == 22
    for n in (1, 2, 255, 257, 513, 10_000):
        rows = similarity.rows_per_band_for(n, 256)
        assert n <= 256 << rows
        assert rows == 1 or n > 256 << (rows - 1)


def test_sign_lsh_occupancy_stats_exact(spark, sf_dir):
    """The scout's one-row summary must equal the same statistics
    computed from the materialized index's exploded band keys — same
    planes, same keys, no approximation — and its candidate_pairs must
    upper-bound the distinct candidate count the real plan joins."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    kw = dict(bands=8, rows_per_band=8, seed=42, dim=64)
    stats = similarity.sign_lsh_occupancy_stats(e, **kw).first()

    bk = similarity._explode_band_keys(similarity.banded_sign_sketch(e, **kw))
    occ = [r["c"] for r in bk.groupBy("band", "key").agg(F.count("*").alias("c")).collect()]
    assert stats["n_vectors"] == e.count()
    assert stats["n_buckets"] == len(occ)
    assert stats["max_occupancy"] == max(occ)
    assert stats["candidate_pairs"] == sum(c * (c - 1) // 2 for c in occ)

    n_cand = similarity._bucketed_self_pairs(bk).select("id1", "id2").distinct().count()
    assert n_cand <= stats["candidate_pairs"]


def test_candidate_budget_gate(spark, vecs, sf_dir):
    """Opt-in max_candidates refuses an over-budget join with the exact
    scout price and a sizing suggestion; a passing budget changes
    nothing in the output."""
    kw = dict(threshold=0.99, bands=8, rows_per_band=8, seed=42, dim=16)
    with pytest.raises(similarity.LshCandidateBudgetError, match="rows_per_band="):
        near_dup_pairs(vecs, max_candidates=1, **kw).collect()
    base = {(r["id1"], r["id2"]) for r in near_dup_pairs(vecs, **kw).collect()}
    gated = {
        (r["id1"], r["id2"])
        for r in near_dup_pairs(vecs, max_candidates=10**9, **kw).collect()
    }
    assert gated == base and base


def test_minhash_candidate_budget_gate(spark):
    from batch_data_pipeline_exercise_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog near the river") for i in range(12)],
        "doc_id int, text string",
    )
    with pytest.raises(similarity.LshCandidateBudgetError, match="collisions"):
        dedup.minhash_near_dups(docs, "doc_id", max_candidates=3).collect()
    ok = dedup.minhash_near_dups(docs, "doc_id", max_candidates=10**9)
    assert ok.count() == 66  # all 12 identical docs pair up


def test_candidate_budget_empty_corpus(spark):
    """Round-10 advice fix: an opted-in budget over an EMPTY corpus must
    read as "0 candidates: under budget" (the zero-row aggregate yields
    null n/candidate_pairs), not crash with None > int."""
    empty = spark.createDataFrame([], "vec_id int, embedding array<float>")
    out = near_dup_pairs(
        empty, threshold=0.9, bands=2, rows_per_band=2, seed=1, dim=4, max_candidates=10
    )
    assert out.count() == 0

    from batch_data_pipeline_exercise_spark.operators import dedup

    no_docs = spark.createDataFrame([], "doc_id int, text string")
    assert dedup.minhash_near_dups(no_docs, "doc_id", max_candidates=10).count() == 0


def test_incremental_candidate_budget_gate(spark, vecs):
    """Round-10: the incremental operators take the same opt-in budget.
    The increment-side pricing (c_new·(c_new−1)/2 + c_new·c_prior per
    bucket) must refuse a degenerate increment against a stored index
    with the sizing suggestion, and a generous budget must change
    nothing vs the ungated call."""
    kw = dict(threshold=0.99, bands=8, rows_per_band=8, seed=42, dim=16)
    # split so the fixture's dup pairs CROSS the prior/increment boundary:
    # prior holds 0..99, the increment holds 100 (near-dup of 10) and 102
    # (exact copy of 0) — the probe path must find both
    prior = similarity.banded_sign_sketch(
        vecs.filter(F.col("vec_id") < 100), kw["bands"], kw["rows_per_band"],
        kw["seed"], dim=kw["dim"],
    )
    inc = vecs.filter(F.col("vec_id") >= 100)

    with pytest.raises(similarity.LshCandidateBudgetError, match="rows_per_band="):
        similarity.incremental_embedding_pairs(prior, inc, max_candidates=0, **kw)
    base, _ = similarity.incremental_embedding_pairs(prior, inc, **kw)
    gated, _ = similarity.incremental_embedding_pairs(prior, inc, max_candidates=10**9, **kw)
    bset = {(r["id1"], r["id2"]) for r in base.collect()}
    assert {(r["id1"], r["id2"]) for r in gated.collect()} == bset
    assert {(10, 100), (0, 102)} <= bset

    # first-batch (no prior) path prices the plain self-join
    with pytest.raises(similarity.LshCandidateBudgetError, match="rows_per_band="):
        similarity.incremental_embedding_pairs(None, vecs, max_candidates=1, **kw)


def test_incremental_minhash_budget_gate(spark):
    from batch_data_pipeline_exercise_spark.operators import dedup

    day1 = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog near the river") for i in range(6)],
        "doc_id int, text string",
    )
    day2 = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog near the river") for i in range(10, 16)],
        "doc_id int, text string",
    )
    _, index = dedup.incremental_minhash_pairs(None, day1, "doc_id")

    # 6 identical new docs vs 6 identical stored: 15 within + 36 cross
    # per band — over a budget of 3, with the minhash-family suggestion
    with pytest.raises(similarity.LshCandidateBudgetError, match="predicted recall"):
        dedup.incremental_minhash_pairs(index, day2, "doc_id", max_candidates=3)
    pairs, _ = dedup.incremental_minhash_pairs(index, day2, "doc_id", max_candidates=10**9)
    ungated, _ = dedup.incremental_minhash_pairs(index, day2, "doc_id")
    pset = {(r["id1"], r["id2"]) for r in pairs.collect()}
    assert pset == {(r["id1"], r["id2"]) for r in ungated.collect()}
    # every pair touches a new doc; cross pairs dominate
    assert all(i1 >= 10 or i2 >= 10 for i1, i2 in pset)

    # first-batch path: within-batch 15 pairs per band over budget 3
    with pytest.raises(similarity.LshCandidateBudgetError, match="predicted recall"):
        dedup.incremental_minhash_pairs(None, day1, "doc_id", max_candidates=3)


def test_incremental_occupancy_summary_exact(spark, vecs):
    """The incremental pricing summary must equal hand-computed totals
    over the two sides' exploded band keys."""
    kw = dict(bands=4, rows_per_band=4, seed=7, dim=16)
    prior = similarity.banded_sign_sketch(
        vecs.filter(F.col("vec_id") % 2 == 0), kw["bands"], kw["rows_per_band"],
        kw["seed"], dim=kw["dim"],
    )
    new = similarity.banded_sign_sketch(
        vecs.filter(F.col("vec_id") % 2 == 1), kw["bands"], kw["rows_per_band"],
        kw["seed"], dim=kw["dim"],
    )
    new_bk, prior_bk = similarity._explode_band_keys(new), similarity._explode_band_keys(prior)
    s = similarity._incremental_occupancy_summary(new_bk, prior_bk, kw["bands"]).first()

    occ = {}
    for side, bk in (("n", new_bk), ("p", prior_bk)):
        for r in bk.groupBy("band", "key").agg(F.count("*").alias("c")).collect():
            occ.setdefault((r["band"], r["key"]), {"n": 0, "p": 0})[side] = r["c"]
    buckets = {k: v for k, v in occ.items() if v["n"] > 0}
    expected = sum(v["n"] * (v["n"] - 1) // 2 + v["n"] * v["p"] for v in buckets.values())
    assert s["candidate_pairs"] == expected
    assert s["n_buckets"] == len(buckets)
    assert s["max_occupancy"] == max(v["n"] + v["p"] for v in buckets.values())


def test_incremental_n_new_rows_hint_is_result_identical(spark, vecs):
    """The caller-supplied increment-size hint (exact or any upper
    bound) only drops the occupancy scan — pairs and updated index are
    identical with and without it, on both the first-batch and the
    probe path."""
    kw = dict(threshold=0.99, bands=8, rows_per_band=8, seed=42, dim=16)
    prior = similarity.banded_sign_sketch(
        vecs.filter(F.col("vec_id") < 100), kw["bands"], kw["rows_per_band"],
        kw["seed"], dim=kw["dim"],
    )
    inc = vecs.filter(F.col("vec_id") >= 100)
    n_exact = inc.count()

    def pairset(prior_index, n_hint):
        p, _ = similarity.incremental_embedding_pairs(
            prior_index, inc, n_new_rows=n_hint, **kw
        )
        return {(r["id1"], r["id2"]) for r in p.collect()}

    for prior_index in (None, prior):
        base = pairset(prior_index, None)
        assert pairset(prior_index, n_exact) == base
        assert pairset(prior_index, n_exact * 10) == base  # loose upper bound
        if prior_index is not None:
            # the probe path must find the fixture's cross-boundary dups;
            # the 2-doc first batch legitimately holds no within pairs
            assert {(10, 100), (0, 102)} <= base


def test_null_first_vector(spark):
    """A NULL vector in the first scanned row must not break the width
    probes: the pair and top-k operators return what they return for the
    same input without the NULL row — with dim unset and set, with and
    without a prior index — and the occupancy scout runs."""
    rows = [(1, None), (2, [1.0, 0.0, 0.0]), (3, [1.0, 0.0, 0.0]), (4, [0.0, 1.0, 0.0])]
    schema = "vec_id int, embedding array<double>"
    with_null = spark.createDataFrame(rows, schema).coalesce(1)
    without = spark.createDataFrame(rows[1:], schema).coalesce(1)

    def pairset(df):
        return {(r["id1"], r["id2"]) for r in df.collect()}

    for dim in (None, 3):
        kw = dict(bands=4, rows_per_band=2, dim=dim)
        assert pairset(near_dup_pairs(with_null, **kw)) == {(2, 3)}
        # the NULL row sits in the stored index, ahead of every vector
        prior = similarity.banded_sign_sketch(with_null.filter("vec_id <= 2"), 4, 2, dim=dim)
        pairs, _ = similarity.incremental_embedding_pairs(
            prior, with_null.filter("vec_id > 2"), **kw
        )
        assert pairset(pairs) == {(2, 3)}

    queries = without.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    for topk in (similarity.cosine_topk_lsh, similarity.cosine_topk_bruteforce):
        got, want = (
            sorted(tuple(r) for r in topk(e, queries, k=3).collect())
            for e in (with_null, without)
        )
        assert got == want and want
    assert similarity.sign_lsh_occupancy_stats(with_null).first()["n_vectors"] == 4
    # an input with no vector at all yields no pairs
    assert not near_dup_pairs(with_null.filter("vec_id = 1")).collect()


def test_no_prior_sizing_launches_no_job(spark, vecs):
    """With dim and n_new_rows given, building the no-prior call launches
    exactly the sketch's own jobs: the split gate and the verify
    broadcast are decided without a count (the registry's
    embedding_near_dup_pairs relies on this)."""
    kw = dict(bands=8, rows_per_band=8, seed=42, dim=16)
    n = vecs.count()
    _, sketch = measure(spark, lambda: similarity.banded_sign_sketch(vecs, **kw))
    _, build = measure(
        spark,
        lambda: similarity.incremental_embedding_pairs(
            None, vecs, threshold=0.99, n_new_rows=n, **kw
        ),
    )
    assert sketch["jobs"] and len(build["jobs"]) == len(sketch["jobs"])


def test_pil_skip_retirement_tripwire():
    """The one suite skip (test_image_codec_real_pil_decode) exists ONLY
    because Pillow is not installed in the test image. This test goes
    RED the moment an image bump ships an importable PIL while the
    sibling test is still skip-gated — the skip cannot silently outlive its reason.
    When it fires: nothing to remove in the gate itself (skipif flips
    automatically via multimodal.HAS_PIL); delete THIS tripwire and the
    'documented infeasible' notes that cite the missing-PIL skip
    (README, VERDICT history), then re-run the real-decode parity test."""
    if multimodal.HAS_PIL:
        _pytest.fail(
            "PIL is now importable: the real-decode parity test "
            "(test_image_codec_real_pil_decode) runs for real — remove this "
            "tripwire and the stale 'Pillow is uninstallable' documentation."
        )
