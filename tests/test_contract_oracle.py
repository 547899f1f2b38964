"""Local differential harness mirroring the driver's t2 gate.

Runs every contract query in Spark AND its oracle SQL in DuckDB on the
same parquet tables (sf0.001 for speed), then compares row count, column
names, and the full order-insensitive multiset of values — a strictly
stronger check than the driver's hash compare.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from batch_data_pipeline_exercise_spark.plans.registry import REGISTRY

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # exact double repr — bit-identical or bust
    return v


def to_rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted([tuple(canon(r[i]) for i in order) for r in rows], key=repr)


def type_kind(t: str) -> str:
    """Coarse type class for cross-engine dtype comparison.

    The driver hashes values AFTER Arrow conversion, so a DuckDB HUGEINT /
    DECIMAL sum (→ float64/object in pandas) against a Spark bigint fails
    the driver's hash even when every value is equal (the
    `doc_repetition_stats` round-2/3 red row). duckdb's fetchall() returns
    plain Python ints for HUGEINT, hiding the drift from a value-only
    compare — so we compare coarse type KINDS explicitly.
    """
    t = t.lower()
    if t.startswith("decimal"):
        return "decimal"
    if t.startswith(("int", "bigint", "smallint", "tinyint", "uint")) or t in ("long", "short", "byte"):
        return "int"
    if t.startswith(("double", "float", "halffloat", "real")):
        return "float"
    if t.startswith(("string", "large_string", "varchar", "utf8")):
        return "string"
    if t.startswith("bool"):
        return "bool"
    if t.startswith("date"):
        return "date"
    if t.startswith("timestamp"):
        return "timestamp"
    if t.startswith(("array", "list", "large_list")):
        return "list"
    return t


# DuckDB-side cost, not Spark's: the flagship's oracle is a recursive
# transitive-closure CTE that takes ~2 min alone at sf0.001 — far past
# the driver's verify window for one test. It runs in the full (slow)
# profile and in every round-closing registry sweep.
_SLOW_ORACLES = {"corpus_prep_pipeline"}


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=[pytest.mark.slow] if n in _SLOW_ORACLES else [])
        for n, q in REGISTRY.items()
        if q.oracle
    ],
)
def test_query_matches_oracle(spark, sf_dir, name):
    q = REGISTRY[name]
    sdf = q.fn(spark, sf_dir)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = sdf.columns

    con = duck_con(sf_dir)
    res = con.execute(q.oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    con.close()

    assert sorted(spark_cols) == sorted(duck_cols), f"{name}: column mismatch"

    # Dtype-kind parity: the driver's value hash runs post-Arrow, where
    # HUGEINT/DECIMAL aggregates diverge from Spark's bigint/double even
    # when values match bit-for-bit. Catch that locally.
    con2 = duck_con(sf_dir)
    try:
        arrow_schema = con2.execute(f"SELECT * FROM ({q.oracle}) LIMIT 0").fetch_arrow_table().schema
    finally:
        con2.close()
    duck_kinds = {f.name: type_kind(str(f.type)) for f in arrow_schema}
    spark_kinds = {c: type_kind(t) for c, t in sdf.dtypes}
    kind_mismatch = {
        c: (spark_kinds[c], duck_kinds[c])
        for c in spark_kinds
        if c in duck_kinds and spark_kinds[c] != duck_kinds[c]
    }
    assert not kind_mismatch, f"{name}: dtype-kind drift (spark, duck): {kind_mismatch}"
    assert len(spark_rows) == len(duck_rows), f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    srs, drs = to_rowset(spark_cols, spark_rows), to_rowset(duck_cols, duck_rows)
    mismatches = [(a, b) for a, b in zip(srs, drs) if a != b]
    assert not mismatches, f"{name}: first value mismatches: {mismatches[:3]}"


def test_emb_sketch_env_override_stays_mirrored():
    """BDPE_EMB_SKETCH (the big-SF sized-sweep escape hatch, r12 verdict
    task 1) must re-derive BOTH sides of the differential — the engine's
    banded sign sketch and the oracle's UNION-ALL band keys come from
    the same module constants, so any (bands, rows) choice stays an
    exact cross-engine mirror. Pinned in a subprocess (the constants are
    baked at import): a 4x6 sketch (a) actually takes effect, (b) still
    matches DuckDB row-for-row on all three family queries at sf0.001,
    and (c) produces a DIFFERENT candidate set than the default 8x8 —
    proving the override reached the plan, not just the constant."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    script = r"""
import json, sys
from batch_data_pipeline_exercise_spark.plans import contract_ext
from batch_data_pipeline_exercise_spark.plans.registry import REGISTRY
from batch_data_pipeline_exercise_spark.session import get_spark
from tests.test_contract_oracle import duck_con, to_rowset

assert (contract_ext._NEARDUP_BANDS, contract_ext._NEARDUP_ROWS) == (4, 6)
spark = get_spark(app_name="sketch-env", master="local[8]", shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")
sf = "/root/testdata/sf0.001"
out = {}
for name in ("embedding_near_dup_pairs", "embedding_incremental_near_dups",
             "embedding_dedup_survivors"):
    q = REGISTRY[name]
    sdf = q.fn(spark, sf)
    srs = to_rowset(sdf.columns, [tuple(r) for r in sdf.collect()])
    con = duck_con(sf)
    res = con.execute(q.oracle)
    drs = to_rowset([d[0] for d in res.description], res.fetchall())
    con.close()
    out[name] = {"match": srs == drs, "n": len(srs)}
print(json.dumps(out))
"""
    repo = Path(__file__).resolve().parents[1]
    r = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, cwd=repo,
        env={**__import__("os").environ, "BDPE_EMB_SKETCH": "4x6"},
    )
    assert r.returncode == 0, r.stderr[-2000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert all(v["match"] for v in out.values()), out
    # differs from the default sketch's result (8x8 at sf0.001 finds a
    # different candidate->verified pair set than 4x6)
    import duckdb  # noqa: F401 — ensure default-side run uses this process's registry

    assert (out["embedding_near_dup_pairs"]["n"]
            != _default_near_dup_count()), "override did not change the plan"


def test_emb_sketch_env_rejects_malformed_values():
    """Round-13 advice: a malformed BDPE_EMB_SKETCH ('8', '8x', '0x12',
    '8x12x3', '-8x12') must fail at import with an error NAMING the env
    var and the expected '<bands>x<rows>' form — not an opaque unpack
    ValueError, and never a silently-degenerate zero-band sketch. Valid
    forms (case-insensitive x, surrounding whitespace) still parse."""
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    probe = (
        "from batch_data_pipeline_exercise_spark.plans import contract_ext as c;"
        "print(c._NEARDUP_BANDS, c._NEARDUP_ROWS)"
    )
    env_base = __import__("os").environ
    for bad in ("8", "8x", "x12", "0x12", "8x0", "8x12x3", "-8x12", "8.5x12", ""):
        if not bad:
            continue
        r = subprocess.run(
            [sys.executable, "-c", probe], capture_output=True, text=True,
            cwd=repo, env={**env_base, "BDPE_EMB_SKETCH": bad},
        )
        assert r.returncode != 0, f"malformed {bad!r} was accepted"
        assert "BDPE_EMB_SKETCH" in r.stderr and "<bands>x<rows>" in r.stderr, (
            f"error for {bad!r} does not name the env var / expected form:\n"
            + r.stderr[-500:]
        )
    for good, want in (("4x6", "4 6"), (" 8X12 ", "8 12")):
        r = subprocess.run(
            [sys.executable, "-c", probe], capture_output=True, text=True,
            cwd=repo, env={**env_base, "BDPE_EMB_SKETCH": good},
        )
        assert r.returncode == 0 and r.stdout.strip() == want, (good, r.stderr[-300:])


def _default_near_dup_count() -> int:
    """Row count of embedding_near_dup_pairs' ORACLE at the default 8x8
    sketch (DuckDB-only — no second Spark session needed; the oracle IS
    the mirrored semantics)."""
    con = duck_con("/root/testdata/sf0.001")
    try:
        return len(con.execute(REGISTRY["embedding_near_dup_pairs"].oracle).fetchall())
    finally:
        con.close()
