"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

The LLM-training-data surface (BASELINE.json north star). Design rules:

- everything is built-in-function DataFrame ops — explode/groupBy/join —
  so each stage is one shuffle and scales linearly;
- hashes that feed ORACLE-checked outputs are md5-derived (identical hex
  across engines); Spark-private xxhash64 is reserved for
  engine-internal fast paths;
- MinHash trick: ONE md5 per (doc, shingle) pair seeds a
  Kirsch-Mitzenmacher double-hash family gᵢ = (w0 + i·w1) mod 2³²
  (w0/w1 = the digest's first two 32-bit words) — k numeric components
  from one hash call, exactly reproducible in any engine with
  md5 + hex→int.

Pipeline shape (minhash_near_dups):
  shingle explode → per-doc k mins (ONE groupBy) → band keys → bucket
  self-join (only within equal (band, key) buckets) → exact-Jaccard verify
  on candidates only. At 100 TB the bucket join is the pinch point — band
  keys are high-entropy md5s, so buckets stay small unless docs really
  collide; AQE skew-join covers the pathological all-identical case.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from batch_data_pipeline_exercise_spark.operators import text as text_ops
from batch_data_pipeline_exercise_spark.operators.text import tokenize

#: minhash-specific caveat appended to the recall-aware budget-refusal
#: suggestion (see similarity._check_candidate_budget): band keys are
#: content-driven, so the occupancy model behind the suggested size is
#: a starting point, and duplicate-dense corpora keep their true
#: positives at any size.
_MH_NOTE = (
    "Minhash occupancy is content-driven — re-scout at the suggested "
    "size before committing. Identical-content groups collide at ANY "
    "rows; those candidates are true positives the verify stage must "
    "price."
)


def exact_dedup(df: DataFrame, id_col: str, text_col: str = "text", normalized: bool = True) -> DataFrame:
    """Keep the lowest-id representative per identical text (md5 keyed;
    whitespace/case-normalized by default). Output: all columns of the
    kept rows plus ``dup_count``."""
    t = F.col(text_col)
    key = F.md5(F.regexp_replace(F.lower(F.trim(t)), "\\s+", " ") if normalized else t)
    keyed = df.withColumn("__key", key)
    keep = keyed.groupBy("__key").agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count")
    )
    return (
        keep.join(keyed.drop("dup_count", "__key").withColumnRenamed(id_col, "__id"), keep[id_col] == F.col("__id"))
        .drop("__id", "__key")
    )


def shingle_array(text_col: str = "text", n: int = 3, distinct: bool = True) -> Column:
    """Per-row array of word n-gram shingles — the in-row kernel behind
    ``word_shingles`` and the fused array verify in
    ``minhash_near_dups``. ``distinct=True`` dedups within the row
    (set semantics for Jaccard)."""
    # tokenize() is bound once per row (text.bind_once): referenced
    # directly from the transform lambda it would re-run the full-text
    # regex per shingle position — O(tokens²) per doc, measured 7.45 →
    # 1.97 executor-CPU s at sf0.1 for this kernel alone.
    shingles = text_ops.bind_once(
        tokenize(text_col),
        lambda tk: F.filter(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(tk) - n, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(tk, i + 1, n)),
            ),
            lambda s: F.length(s) > 0,
        ),
    )
    return F.array_distinct(shingles) if distinct else shingles


def word_shingles(
    df: DataFrame, id_col: str, text_col: str = "text", n: int = 3, distinct: bool = True
) -> DataFrame:
    """Word n-gram shingles, exploded to (id, shingle) rows.

    ``distinct=True`` (default) dedups per doc — required for Jaccard
    set arithmetic. Min-aggregating consumers (minhash signatures) can
    pass ``distinct=False`` and skip that dedup: the min over a
    multiset equals the min over its support.

    The per-doc dedup is ``array_distinct`` INSIDE the row, before the
    explode — not a post-explode ``.distinct()``. With one input row
    per ``id_col`` (every caller: document tables keyed by doc_id) the
    two produce the identical row set, but the global distinct pays a
    full exchange plus two hash aggregates over every exploded shingle
    string — measured at sf0.1 the matching 5-gram kernel spends +4.8
    executor-CPU s there, ~70%% of the whole job (r14). The within-row
    form dedups map-side and shuffles nothing. Callers that hold
    several rows per id must dedup across rows themselves first."""
    return df.select(
        F.col(id_col).alias("id"), F.explode(shingle_array(text_col, n, distinct)).alias("shingle")
    )


def minhash_signatures(shingles: DataFrame, k: int = 32) -> DataFrame:
    """(id, sig: array<bigint>[k], components in [0, 2³²)).

    Cost levers, all result-identical to the naive k-independent-hashes
    form:

    - ONE md5 per (doc, shingle) pair: its first two 32-bit words
      (w0, w1) seed the Kirsch-Mitzenmacher double-hash family
      gᵢ = (w0 + i·w1) mod 2³² — the published construction for
      simulating k independent hashes from two, standard in minhash
      implementations;
    - components are plain bigints (numeric min ≫ string min), derived
      via hex→int conv that any SQL engine can replicate;
    - the whole plan is explode → map-side project → ONE partial-agg
      shuffle (k mins per doc). An earlier distinct-shingle-dictionary +
      broadcast-join variant paid for itself when each shingle cost 8
      md5s; at one cheap digest per pair the join and the distinct
      shuffle cost more than they save (measured 1.7× slower at sf0.1),
      and the direct form needs no broadcast at any scale.

    32-bit components are standard (collision odds within a doc's
    shingle set are ~n²/2³²).
    """
    # two explicit projections: materialize (w0, w1) once, THEN expand to
    # k components — md5/conv are non-cheap, so CollapseProject keeps the
    # split and each pair pays exactly one digest + two conversions
    h = F.md5(F.col("shingle"))
    base = shingles.select(
        "id",
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint").alias("__w0"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint").alias("__w1"),
    )
    expanded = base.select(
        "id",
        *[((F.col("__w0") + F.lit(i) * F.col("__w1")) % F.lit(2 ** 32)).alias(f"g{i}") for i in range(k)],
    )
    sig = expanded.groupBy("id").agg(*[F.min(f"g{i}").alias(f"h{i}") for i in range(k)])
    return sig.select("id", F.array(*[F.col(f"h{i}") for i in range(k)]).alias("sig"))


def _sig_arrow_batches(n: int, k: int):
    """mapInArrow kernel factory for the minhash signature (guide §4.2):
    per batch, the normalized text arrives as ONE contiguous Arrow UTF-8
    value buffer plus row offsets. A word n-gram INCLUDING its single
    separating spaces is a CONTIGUOUS BYTE SLICE of that buffer (tokens
    are single-space separated by construction), so shingles are
    (start, end) pairs over the shared buffer — no Python string is
    ever materialized and nothing is re-encoded. md5 runs over
    memoryview slices; the Kirsch-Mitzenmacher fold
    gᵢ = (w0 + i·w1) mod 2³², min over shingles, is one vectorized
    NumPy broadcast + ``minimum.reduceat`` per row chunk. Exactly the
    arithmetic of ``minhash_signatures`` — md5 bytes are md5 bytes, and
    the mask IS the mod — so components are bit-identical."""

    def fn(batches):
        import hashlib

        import numpy as np
        import pyarrow as pa

        md5 = hashlib.md5
        iota = np.arange(k, dtype=np.uint64)[None, :]
        mask = np.uint64(0xFFFFFFFF)
        for batch in batches:
            ids = batch.column(0)
            col = batch.column(1)
            n_rows = len(col)
            if n_rows == 0:
                yield pa.RecordBatch.from_arrays(
                    [ids, pa.array([], type=pa.list_(pa.int64()))], ["id", "sig"]
                )
                continue
            bufs = col.buffers()
            odt = np.int64 if pa.types.is_large_string(col.type) else np.int32
            offs = np.frombuffer(bufs[1], dtype=odt)[col.offset : col.offset + n_rows + 1]
            data = np.frombuffer(bufs[2], dtype=np.uint8)
            mv = memoryview(bufs[2])
            # every separator position once per batch; rows slice into it
            sp_all = np.flatnonzero(data[offs[0] : offs[-1]] == 0x20) + int(offs[0])
            row_sp = np.searchsorted(sp_all, offs)
            digests = bytearray()
            counts = np.empty(n_rows, dtype=np.int64)
            for r in range(n_rows):
                o0, o1 = int(offs[r]), int(offs[r + 1])
                sp = sp_all[row_sp[r] : row_sp[r + 1]]
                t = len(sp) + 1  # token count (input is never empty)
                m = max(t - n, 0) + 1
                counts[r] = m
                if t <= n:
                    # single shingle: the whole row
                    digests += md5(mv[o0:o1]).digest()[:8]
                    continue
                # shingle i spans token i .. token i+n-1; boundaries come
                # straight from the space positions
                starts = np.empty(m, dtype=np.int64)
                starts[0] = o0
                starts[1:] = sp[:m - 1] + 1
                ends = np.empty(m, dtype=np.int64)
                ends[:-1] = sp[n - 1 :]
                ends[-1] = o1
                for i in range(m):
                    digests += md5(mv[starts[i] : ends[i]]).digest()[:8]
            w = np.frombuffer(bytes(digests), dtype=">u4").reshape(-1, 2).astype(np.uint64)
            cuts = np.zeros(n_rows, dtype=np.int64)
            np.cumsum(counts[:-1], out=cuts[1:])
            sigs = np.empty((n_rows, k), dtype=np.int64)
            # chunk rows so the (shingles, k) uint64 temp stays ~100 MB
            step = max(int(200_000 // max(counts.mean(), 1.0)), 1)
            for r0 in range(0, n_rows, step):
                r1 = min(r0 + step, n_rows)
                s0 = int(cuts[r0])
                s1 = int(cuts[r1]) if r1 < n_rows else len(w)
                g = (w[s0:s1, 0:1] + iota * w[s0:s1, 1:2]) & mask
                sigs[r0:r1] = np.minimum.reduceat(g, cuts[r0:r1] - s0, axis=0).astype(
                    np.int64
                )
            sig_arr = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n_rows + 1) * k, k, dtype=np.int32)),
                pa.array(sigs.ravel()),
            )
            yield pa.RecordBatch.from_arrays([ids, sig_arr], ["id", "sig"])

    return fn


def minhash_signatures_docs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    k: int = 32,
) -> DataFrame:
    """Fused ``minhash_signatures(word_shingles(df, distinct=False), k)``
    with NO explode and NO shuffle: the whole signature is one map-only
    pass over the documents, so the plan contains zero Exchange nodes
    where the explode form pays a full groupBy shuffle.

    Output contract is IDENTICAL to the explode form — ``(id, sig)``
    with one row per document that has at least one non-empty shingle,
    and bit-identical component values (min over the same multiset;
    verified by ``exceptAll`` both ways at sf0.1 and pinned in
    ``tests/test_minhash_fused.py``). Use this whenever the input is
    the raw document table; ``minhash_signatures`` stays as the entry
    point for callers that already hold an exploded shingle relation.

    The signature runs as one vectorized ``mapInArrow`` kernel (guide
    §4.2): the JVM computes the normalized text (codegen), Python
    slices word n-grams as contiguous byte ranges of the Arrow UTF-8
    buffer, md5s the slices, and folds the k running minima as one
    NumPy broadcast + ``minimum.reduceat``. Measured at sf0.1 /
    local[32] (r14, isolated interleaved A/B) against the pure-JVM
    higher-order ``aggregate`` fold it replaced: k=32 ~2×, k=65 ~3×
    less executor CPU, same wall or better warm. The test reference
    is the explode form above (``tests/test_minhash_fused.py``).

    Why the fused shape wins over the explode form (measured r14): the
    explode form pays ~1.2 executor-CPU s materializing 1.5M shingle
    rows through Generate and ~3.7 s updating 32 min buffers per row in
    the hash aggregate — the fused kernel does the same arithmetic in
    one map-only stage, so the scan, shingling, hashing and min-fold
    need no stage boundary at any scale.
    """
    assert k >= 1
    norm = text_ops.normalize_ws(text_col)
    base = df.filter(F.length(norm) > 0).select(F.col(id_col).alias("id"), norm.alias("__norm"))
    id_type = base.schema["id"].dataType.simpleString()
    return base.mapInArrow(_sig_arrow_batches(n, k), schema=f"id {id_type}, sig array<bigint>")


def lsh_band_keys(signatures: DataFrame, bands: int, rows: int) -> DataFrame:
    """Explode each signature into ``bands`` bucket keys of ``rows``
    components each: (id, band, band_key)."""
    # "," separator matters: numeric components are variable-width, so an
    # unseparated join would alias e.g. (12, 3) with (1, 23)
    pairs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",", *[F.col("sig").getItem(b * rows + r).cast("string") for r in range(rows)]
                    )
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return signatures.select("id", F.explode(pairs).alias("bk")).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )


def lsh_candidate_pairs(band_keys: DataFrame, materialize: bool = True) -> DataFrame:
    """Distinct (id1 < id2) pairs sharing at least one LSH bucket.

    ``materialize`` (default) pins the band-key table with an eager
    ``localCheckpoint`` before the self-join. Without it the physical
    plan computes the ENTIRE upstream signature pipeline twice — Spark
    plans the smaller side as a BroadcastExchange, so the two subtrees
    differ and exchange reuse never fires (verified with
    ``explain("formatted")``: the shingle-explode → md5 → min-agg chain
    appears twice). The band-key table is k-ints-per-doc tiny, so the
    checkpoint costs nothing compared to one spare signature pass."""
    if materialize:
        band_keys = band_keys.localCheckpoint()
    a, b = band_keys.alias("a"), band_keys.alias("b")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .distinct()
    )


def lsh_occupancy_stats(band_keys: DataFrame, bands: int) -> DataFrame:
    """Pre-flight scout for the minhash-LSH candidate join — the text
    twin of ``similarity.sign_lsh_occupancy_stats``: one narrow
    (band, band_key) count shuffle over the ``lsh_band_keys`` output
    (no pair materialization, no verify) returning a single row of
    n_docs, n_buckets, max_occupancy, p99_occupancy, mean_occupancy and
    candidate_pairs = Σ occ·(occ−1)/2 — the exact per-band collision
    count and an upper bound on the distinct candidates the verify
    stage would have to exact-Jaccard.

    Why it earns its one extra signature pass at 100 TB: candidate
    density is a CORPUS property invisible in the plan. The round-9
    sf10 profile caught the flagship corpus pipeline at 11× CPU for
    3.3× rows purely because its corpus (the deterministic half-splice
    scale-up) grows every shared-half group linearly with SF, so
    band-colliding candidates grow quadratically — work the verify
    stage then faithfully performs. The scout prices that join before
    it runs; if candidate_pairs is over budget, raise rows-per-band
    (collision probability for a Jaccard-J pair is J^rows) and buy
    recall back with bands before committing the cluster."""
    occ = band_keys.groupBy("band", "band_key").agg(F.count("*").alias("occ"))
    return occ.agg(
        (F.sum("occ") / F.lit(bands)).cast("long").alias("n_docs"),
        F.count("*").alias("n_buckets"),
        F.max("occ").alias("max_occupancy"),
        F.expr("percentile(occ, 0.99)").alias("p99_occupancy"),
        F.avg("occ").alias("mean_occupancy"),
        F.sum(F.col("occ") * (F.col("occ") - 1) / 2).cast("long").alias("candidate_pairs"),
    )


def minhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    max_candidates: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: returns (id1, id2, jaccard)
    pairs with verified ``jaccard >= threshold``. k = bands × rows.

    ``max_candidates`` (opt-in) prices the candidate join with
    ``lsh_occupancy_stats`` first. When the gate is enabled the band
    keys are PINNED (``localCheckpoint``) and shared between the scout
    and the candidate join, so pricing costs one narrow (band, key)
    count shuffle over materialized keys — shingling and the minhash
    signature pass run once, not twice (a refusal still pays that one
    linear pass: it is the bounded cost that makes the quadratic join
    refusable). The gate then
    raises ``similarity.LshCandidateBudgetError`` when the verify stage
    would exceed the budget (the round-9 sf10 profile measured the
    flagship's candidates growing quadratically on a replica-dense
    corpus; this gate turns that into a refusal with a sizing
    suggestion instead of a cluster-scale surprise). A passing scout
    changes nothing downstream.

    Verification is the FUSED ARRAY form (``verify_jaccard_arrays``),
    not an exploded (doc, shingle) relation: each candidate doc's
    distinct shingle SET is built as one in-row array (for candidate
    docs only — a semi-join on the pair ids prunes the corpus first),
    and each pair joins to its two docs' arrays and computes |A∩B| with
    one ``array_intersect``.
    That replaces the exploded machinery (explode + pin + per-doc
    counts groupBy + two-join shingle-equality intersection + groupBy +
    three reassembly joins) with two equi joins and one in-row set
    intersection per pair — measured 2× on both wall and CPU on the
    flagship's candidate set at sf0.1, byte-identical output (same
    integer counts, same single double division; a candidate doc's
    shingle array is never empty — its signature exists — so the
    inner joins drop exactly the rows the old inner joins dropped).
    At cluster scale it also shuffles strictly fewer bytes: one array
    per doc instead of one row per (doc, shingle) with the shingle
    string repeated.

    The candidate pair list is eagerly pinned (``localCheckpoint``)
    before verification: three consumers (the id semi-join and the two
    array joins) would otherwise each re-execute the whole signature
    pipeline (no exchange reuse across broadcast/shuffle sides — see
    ``lsh_candidate_pairs``). The candidate docs' array table is pinned
    too — both join sides consume it. Pair lists are tiny (real
    corpora: ≪ 1% of docs have any candidate), so both pins are free."""
    assert k % bands == 0
    sig = minhash_signatures_docs(df, id_col, text_col, n, k)
    bk = lsh_band_keys(sig, bands, k // bands)
    gated = max_candidates is not None
    if gated:
        from batch_data_pipeline_exercise_spark.operators.similarity import _check_candidate_budget

        bk = bk.localCheckpoint()  # scout + join share ONE signature pass
        _check_candidate_budget(
            lsh_occupancy_stats(bk, bands), max_candidates, bands, k // bands,
            p=threshold,
            threshold_label=f"jaccard >= {threshold}",
            note=_MH_NOTE,
        )
    # when gated, bk is ALREADY pinned for the scout — a second
    # localCheckpoint inside lsh_candidate_pairs would re-read and
    # re-write the whole key table for nothing
    cand = lsh_candidate_pairs(bk, materialize=not gated).localCheckpoint()
    ids = (
        cand.select(F.col("id1").alias("__cid"))
        .unionByName(cand.select(F.col("id2").alias("__cid")))
        .distinct()
    )
    cand_docs = df.join(ids, df[id_col] == F.col("__cid"), "left_semi")
    return verify_jaccard_arrays(cand, cand_docs, id_col, text_col, n, threshold)


def verify_jaccard_arrays(
    cand: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float | None = None,
) -> DataFrame:
    """Fused array-intersect Jaccard verify: (id1, id2, jaccard) for the
    given candidate pairs, joined against per-doc in-row shingle SETS —
    the 2×-cheaper replacement for an exploded (doc, shingle) join
    intersection (r14 work log entry 6: |A∩B| = ``size(array_intersect)``,
    set sizes = ``size``; same integer counts, so the one double
    division is bit-identical).

    ``docs`` should already be pruned to (roughly) the docs appearing in
    ``cand`` — callers hold that relation anyway (the flagship's
    semi-join, the incremental pipeline's by-key fetch); extra rows only
    waste shingling work, never change the result (the pair joins are
    keyed). Every ``cand`` id must have a ``docs`` row with ≥ 1 shingle
    — true for any candidate generated from a signature, which exists
    only for docs with non-empty normalized text; the inner joins drop
    exactly the rows the exploded form's inner count-joins dropped.
    ``threshold`` None returns all pairs with their jaccard; a float
    filters ``jaccard >= threshold``."""
    arr = docs.select(
        F.col(id_col).alias("id"), shingle_array(text_col, n, distinct=True).alias("__sh")
    ).localCheckpoint()
    a = arr.select(F.col("id").alias("id1"), F.col("__sh").alias("__sh1"))
    b = arr.select(F.col("id").alias("id2"), F.col("__sh").alias("__sh2"))
    ni = F.size(F.array_intersect("__sh1", "__sh2"))
    n1, n2 = F.size("__sh1"), F.size("__sh2")
    out = (
        cand.join(a, "id1")
        .join(b, "id2")
        .select("id1", "id2", (ni / (n1 + n2 - ni)).alias("jaccard"))
    )
    return out if threshold is None else out.filter(F.col("jaccard") >= threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard via shingle equi-join. With ``max_df=None``
    candidates are ALL doc pairs sharing a shingle — quadratic in
    per-shingle co-occurrence, the small-corpus verification tool.

    ``max_df`` bounds that blowup the standard way: shingles appearing
    in more than ``max_df`` docs are dropped from candidate GENERATION
    only (a df-K frequent shingle contributes up to df² candidate rows
    but almost no discrimination — every doc has it), capping the join
    at ``max_df × |shingle rows|`` output rows. The one semantic
    change is precisely stated: a pair is reported iff it shares at
    least one shingle with df ≤ max_df — a pair whose overlap is
    exclusively boilerplate (every shared shingle in > max_df docs)
    is skipped, which for near-dup thresholds is the pair you did not
    want anyway. This is what lets the exact baseline DEGRADE instead
    of dying at scale (the sf1 sweep's uncapped run OOMed its
    candidate aggregate; see SCALE.md).

    Jaccard values stay EXACT over the FULL shingle sets by a split
    intersection: |A∩B| = shared-rare + shared-frequent. The rare term
    falls out of the candidate join itself (aggregate its rows per pair
    instead of distinct-then-reintersect), and only the frequent-side
    shingles — by construction a per-doc handful — need a per-pair
    join. Replacing a full-set exploded re-intersection with this split
    measured 105 → ~30 executor-CPU s at sf0.1 with byte-identical output
    (at that SF no shingle exceeds df 64, so the frequent term is empty
    and the re-intersection was pure re-work)."""
    sh = word_shingles(df, id_col, text_col, n).localCheckpoint()
    gen, freq_sh = sh, None
    if max_df is not None:
        dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
        gen = sh.join(
            dfreq.filter(F.col("__df") <= max_df).select("shingle"), "shingle", "left_semi"
        )
        freq_sh = sh.join(
            dfreq.filter(F.col("__df") > max_df).select("shingle"), "shingle", "left_semi"
        )
    a, b = gen.alias("a"), gen.alias("b")
    # one row per (pair, shared generation shingle): counting them IS the
    # rare-side intersection — no distinct + re-join round trip
    ni_rare = (
        a.join(b, "shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .agg(F.count(F.lit(1)).alias("__ni_r"))
        .localCheckpoint()
    )
    ni = ni_rare.withColumn("__ni", F.col("__ni_r"))
    if freq_sh is not None:
        fa = freq_sh.select(F.col("id").alias("id1"), "shingle")
        fb = freq_sh.select(F.col("id").alias("id2"), "shingle")
        ni_freq = (
            ni_rare.select("id1", "id2")
            .join(fa, "id1")
            .join(fb, ["id2", "shingle"])
            .groupBy("id1", "id2")
            .agg(F.count(F.lit(1)).alias("__ni_f"))
        )
        ni = (
            ni_rare.join(ni_freq, ["id1", "id2"], "left")
            .na.fill({"__ni_f": 0})
            .withColumn("__ni", F.col("__ni_r") + F.col("__ni_f"))
        )
    counts = sh.groupBy("id").agg(F.count(F.lit(1)).alias("__n"))
    c1 = counts.select(F.col("id").alias("id1"), F.col("__n").alias("__n1"))
    c2 = counts.select(F.col("id").alias("id2"), F.col("__n").alias("__n2"))
    return (
        ni.join(c1, "id1")
        .join(c2, "id2")
        .withColumn(
            "jaccard", F.col("__ni") / (F.col("__n1") + F.col("__n2") - F.col("__ni"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _hex_digit_val(hexstr: Column, pos: int) -> Column:
    """Value 0-15 of the pos-th (1-based) hex char — portable string op."""
    return (F.instr(F.lit("0123456789abcdef"), F.substring(hexstr, pos, 1)) - 1).cast("int")


def simhash(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """64-bit SimHash from distinct word tokens, emitted as two unsigned
    32-bit halves (simhash_hi, simhash_lo) to dodge sign-bit drift.

    Per token: 64 bits from the first 16 hex chars of md5(token). Per doc
    and bit: majority vote (+1/-1 sum ≥ 0 → 1). All md5/substring
    arithmetic → bit-identical in an SQL oracle.
    """
    # distinct tokens via within-row array_distinct — no exchange; same
    # rows for one-row-per-id inputs (see word_shingles)
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(
                text_ops.bind_once(
                    tokenize(text_col),
                    lambda tk: F.filter(tk, lambda t: F.length(t) > 0),
                )
            )
        ).alias("tok"),
    )
    h = F.md5(F.col("tok"))
    bit_sums = []
    for j in range(64):
        digit = _hex_digit_val(h, 16 - j // 4)  # hex char holding bit j
        bit = F.shiftright(digit, j % 4).bitwiseAND(F.lit(1))
        bit_sums.append(F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"b{j}"))
    per_doc = toks.groupBy("id").agg(*bit_sums)
    lo = sum(
        (F.when(F.col(f"b{j}") >= 0, F.lit(2 ** j)).otherwise(F.lit(0)) for j in range(32)),
        F.lit(0).cast("bigint"),
    )
    hi = sum(
        (F.when(F.col(f"b{j + 32}") >= 0, F.lit(2 ** j)).otherwise(F.lit(0)) for j in range(32)),
        F.lit(0).cast("bigint"),
    )
    return per_doc.select("id", hi.cast("bigint").alias("simhash_hi"), lo.cast("bigint").alias("simhash_lo"))


# ---------------------------------------------------------------------------
# Incremental dedup (batch-over-batch)
# ---------------------------------------------------------------------------


def incremental_minhash_pairs(
    prior_band_keys: DataFrame | None,
    new_docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    k: int = 32,
    bands: int = 8,
    max_candidates: int | None = None,
    threshold: float = 0.7,
) -> tuple[DataFrame, DataFrame]:
    """Daily-increment near-dup candidates: signature-hash ONLY the new
    batch and probe it against the stored band-key index.

    ``threshold`` is the caller's downstream Jaccard verify threshold —
    used ONLY to size the budget-refusal suggestion (the recall-aware
    resize quotes predicted recall at this threshold); candidate
    generation itself is threshold-free.

    A growing corpus must not re-shingle its history every day — at
    100 TB that's the whole job. The band-key table (bands × one md5 per
    doc) IS the persistable LSH index: computing the new batch's band
    keys and unioning them with the stored ones reproduces exactly the
    state a full rebuild would have, so candidates( prior ∪ new ) =
    candidates(prior) ∪ candidates involving new docs. This operator
    returns the second term plus the updated index:

    - ``pairs``: (id1, id2) candidates where AT LEAST ONE side is a new
      doc — new×new via a self-join of the (tiny) new band keys, and
      new×prior via one equi join probing the stored index. Both joins
      are keyed on (band, band_key) — high-entropy md5 buckets, so the
      probe touches only colliding buckets, never the history.
    - ``band_keys``: the updated index (prior ∪ new) to persist for the
      next batch.

    ``prior_band_keys`` None (first batch) degrades to the full
    self-join. Exact-Jaccard verification stays the caller's second
    step (``verify_jaccard_arrays``) — it needs the colliding docs' text, which
    a real pipeline fetches by key from the corpus store.

    ``max_candidates`` (opt-in) prices the increment's candidate join
    BEFORE launching it — per bucket, c_new·(c_new−1)/2 within-batch
    pairs plus c_new·c_prior probe hits — and raises
    ``similarity.LshCandidateBudgetError`` when it exceeds the budget.
    The scout reads the already-pinned new band keys (one narrow count
    shuffle) plus one occupancy pass over the stored index's keys; the
    history's texts are never shingled. A passing scout changes nothing
    downstream.
    """
    from batch_data_pipeline_exercise_spark.operators.similarity import (
        _check_candidate_budget,
        _incremental_occupancy_summary,
    )

    new_keys = lsh_band_keys(
        minhash_signatures_docs(new_docs, id_col, text_col, n, k),
        bands,
        k // bands,
    ).localCheckpoint()
    if prior_band_keys is None:
        if max_candidates is not None:
            _check_candidate_budget(
                lsh_occupancy_stats(new_keys, bands), max_candidates, bands,
                k // bands, p=threshold,
                threshold_label=f"jaccard >= {threshold}", note=_MH_NOTE,
            )
        return lsh_candidate_pairs(new_keys, materialize=False), new_keys
    if max_candidates is not None:
        _check_candidate_budget(
            _incremental_occupancy_summary(
                new_keys, prior_band_keys, bands, keys=("band", "band_key")
            ),
            max_candidates,
            bands,
            k // bands,
            p=threshold,
            threshold_label=f"jaccard >= {threshold}",
            note=_MH_NOTE,
        )
    new_new = lsh_candidate_pairs(new_keys, materialize=False)
    a, b = new_keys.alias("a"), prior_band_keys.alias("b")
    cross = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("a.id") != F.col("b.id"))
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id1"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id2"),
        )
        .distinct()
    )
    pairs = new_new.unionByName(cross).distinct()
    return pairs, prior_band_keys.unionByName(new_keys)
