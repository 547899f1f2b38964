"""Plan-quality gate: every contract query must compile to a scale-safe
physical plan.

Checks, per query (at sf0.001 — plan shape, not data):

- no CartesianProduct / BroadcastNestedLoopJoin unless the query is
  explicitly registered ``allow_quadratic`` (brute-force similarity
  baselines);
- no unpartitioned Window (``Window.orderBy`` with empty partition spec)
  in ANY query — a global window funnels the whole table through one
  task; the scalable alternatives live in ``operators/ranking.py``;
- parquet scans never read all columns when the query uses few (column
  pruning reached the scan).

This is the regression net for the 100 TB design rules: an accidental
non-equi join, lost pushdown, or single-partition sort fails CI, not the
cluster.
"""

from __future__ import annotations

import pytest

from batch_data_pipeline_exercise_spark.plans.registry import REGISTRY

QUADRATIC = {"CartesianProduct", "BroadcastNestedLoopJoin"}


def unpartitioned_window_specs(plan: str) -> list[str]:
    """``windowspecdefinition(...)`` occurrences whose FIRST top-level
    argument is an ordering expression (carries ASC/DESC) — i.e. the
    partition-column list is empty. Partitioned specs lead with plain
    attribute arguments, which never carry a sort direction."""
    found, i, needle = [], 0, "windowspecdefinition("
    while (j := plan.find(needle, i)) >= 0:
        k, depth, first, done = j + len(needle), 1, [], False
        while k < len(plan) and depth > 0 and plan[k] != "\n":
            ch = plan[k]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 1:
                done = True
            if not done and depth > 0:
                first.append(ch)
            k += 1
        arg = "".join(first)
        if " ASC" in arg or " DESC" in arg:
            found.append(plan[j:k])
        i = k
    return found


# Expensive expressions that must never appear INSIDE a higher-order
# function's lambda body: a Column subtree referenced from a lambda is
# embedded there and re-evaluates PER ARRAY ELEMENT — the O(len²)
# pathology fixed in round 8 (text.bind_once). Regexes and digests over
# per-row data belong OUTSIDE the lambda, bound once.
EXPENSIVE_IN_LAMBDA = ("regexp_", "md5(", "sha1(", "sha2(", "xxhash64(", "levenshtein(", "conv(")


def _balanced_span(text: str, start: int) -> str:
    """The balanced-paren span beginning right after an opening paren at
    ``start`` (newline is a hard stop — see expensive_lambda_bodies)."""
    k, depth = start, 1
    while k < len(text) and depth > 0 and text[k] != "\n":
        if text[k] == "(":
            depth += 1
        elif text[k] == ")":
            depth -= 1
        k += 1
    return text[start:k]


def expensive_lambda_bodies(plan: str) -> list[str]:
    """``lambdafunction(...)`` spans whose balanced-paren body contains an
    EXPENSIVE_IN_LAMBDA call that does NOT consume a lambda variable. A
    newline is a hard stop: plan-tree expressions are single-line, and
    Spark's toString elides deep subtrees with ``...`` which unbalances
    parens — without the stop the scan swallows unrelated tree lines and
    false-positives on expressions that are not in any lambda.

    The lambda-variable check is the point of the lint: an expensive
    subtree that ignores the lambda variable is a BOUND-ONCE candidate
    re-evaluated per array element (the O(len²) pathology text.bind_once
    fixes), while e.g. ``md5(lambda x_5)`` is legitimate per-element
    work — the exact same digests the explode form pays per row (the r14
    fused minhash fold does this deliberately)."""
    found, i, needle = [], 0, "lambdafunction("
    while (j := plan.find(needle, i)) >= 0:
        body = needle + _balanced_span(plan, j + len(needle))
        for n in EXPENSIVE_IN_LAMBDA:
            # every occurrence of the expensive call inside this lambda:
            # flag it unless its argument list references a lambda var
            p = 0
            while (q := body.find(n, p)) >= 0:
                args = _balanced_span(body, q + len(n))
                if "lambda " not in args:
                    found.append(body[:400])
                    break
                p = q + len(n)
            else:
                continue
            break
        i = j + len(body)
    return found


def _assert_scale_safe(name, q, plan):
    if not q.allow_quadratic:
        for bad in QUADRATIC:
            assert bad not in plan, f"{name}: {bad} in physical plan\n{plan}"
    unpart = unpartitioned_window_specs(plan)
    assert not unpart, f"{name}: unpartitioned (global) window in physical plan:\n" + "\n".join(unpart)
    hot = expensive_lambda_bodies(plan)
    assert not hot, (
        f"{name}: expensive expression inside a HOF lambda (re-evaluates per "
        f"array element — bind it once via text.bind_once or a materialized "
        f"column):\n" + "\n".join(hot)
    )


@pytest.fixture()
def wide_plan_strings(spark):
    """Raise the expression-tree elision threshold while a lint runs:
    the default maxToStringFields=25 cuts deep subtrees to ``...``,
    hiding exactly the nested lambda bodies the lint polices."""
    old = spark.conf.get("spark.sql.debug.maxToStringFields", "25")
    spark.conf.set("spark.sql.debug.maxToStringFields", "100000")
    yield
    spark.conf.set("spark.sql.debug.maxToStringFields", old)


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_plan_is_scale_safe(spark, sf_dir, name, wide_plan_strings):
    q = REGISTRY[name]
    plan = q.fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    _assert_scale_safe(name, q, plan)


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_plan_is_scale_safe_behind_pins(spark, sf_dir, name, monkeypatch, wide_plan_strings):
    """Same gate, but with localCheckpoint pins DISABLED (identity), so the
    lint sees the subtrees a pin would truncate at an ExistingRDD scan —
    e.g. the shingle/tokenize kernels the HOF-lambda lint was written to
    police are invisible in the pinned plan of contamination_bloom_hits
    or ngram_jaccard_pairs. Plans are explained, never executed, so the
    recompute/nondeterminism reasons for pinning don't apply here."""
    # patch the CONCRETE DataFrame class (pyspark.sql.classic.dataframe in
    # pyspark 4.x overrides the pyspark.sql.DataFrame ABC's method — patching
    # the base silently changes nothing)
    cls = type(spark.range(1))
    monkeypatch.setattr(cls, "localCheckpoint", lambda self, eager=True: self)
    q = REGISTRY[name]
    plan = q.fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    _assert_scale_safe(name, q, plan)


def test_lambda_lint_catches_planted_violation(spark, wide_plan_strings):
    """Sensitivity check for the scanner (it was loosened to stop at
    newlines): a deliberately-bad plan — md5 of a per-row column inside a
    transform lambda — must still be flagged; the companion case with the
    expensive expression OUTSIDE any lambda (bound once) must stay
    clean."""
    from pyspark.sql import functions as F

    bad = spark.range(3).select(
        F.transform(
            F.array(F.lit("a"), F.lit("b")),
            # the digest IGNORES the lambda variable — a bound-once
            # candidate re-evaluated per element, the real pathology
            lambda x: F.concat(x, F.md5(F.col("id").cast("string"))),
        ).alias("h")
    )
    plan = bad._jdf.queryExecution().executedPlan().toString()
    assert expensive_lambda_bodies(plan), "planted md5-in-lambda not detected"

    good = spark.range(3).select(
        F.md5(F.col("id").cast("string")).alias("h0"),
        F.transform(F.array(F.lit("a")), lambda x: F.concat(x, x)).alias("t"),
    )
    plan = good._jdf.queryExecution().executedPlan().toString()
    assert not expensive_lambda_bodies(plan)

    # per-ELEMENT digests consume the lambda variable — legitimate work
    # (the r14 fused minhash fold), must NOT be flagged
    per_element = spark.range(3).select(
        F.transform(
            F.array(F.lit("a"), F.lit("b")),
            lambda x: F.md5(F.concat(x, F.col("id").cast("string"))),
        ).alias("h")
    )
    plan = per_element._jdf.queryExecution().executedPlan().toString()
    assert not expensive_lambda_bodies(plan)


def test_quadratic_allowlist_is_small():
    allowed = [n for n, q in REGISTRY.items() if q.allow_quadratic]
    # embedding_near_dup_pairs left this list in round 4: multi-band
    # sign-LSH (bucketed equi self-join per band) replaced the exact
    # all-pairs join
    assert set(allowed) == {
        "ann_cosine_topk",          # brute-force baseline (quadratic by intent)
        "ann_cosine_topk_ivf",       # bounded n×n_cells broadcast expansion (linear)
        "ann_cosine_topk_ivf_kmeans",  # same bounded expansion, trained centroids
        "ivf_cell_occupancy",        # the same bounded n×n_cells assignment, reported
        # exact all-pairs Jaccard baseline: the plan is shingle-key
        # equi-joins (no BNLJ, passes the plan gate regardless), but the
        # WORK is quadratic in per-shingle co-occurrence — the sf1 sweep
        # proved it (AGGREGATE_OUT_OF_MEMORY on the candidate groupBy
        # while the MinHash-LSH scale path sailed through); flagging it
        # makes the small-corpus-tool status machine-readable
        "doc_ngram_jaccard_pairs",
    }
