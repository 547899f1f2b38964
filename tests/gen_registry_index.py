"""Generate REGISTRY.md — the navigable index of every contract query.

The six contract modules hold ~7.5 kLoC of interleaved query+oracle
pairs; this index (name → module:line → family → oracle/bench flags →
driver-evidence count) is the page a reviewer reads instead of grepping.
Run after registering queries and commit the diff:

    python tests/gen_registry_index.py

``tests/test_registry_index.py`` regenerates the location/flag columns
in-memory and fails if the file is stale. Evidence counts are derived
from the CORRECTNESS_r*.json files on disk at generation time; the
sync test deliberately ignores those columns (the driver rewrites the
evidence files after each commit — same staleness trap as pinning
router order to a round).
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from batch_data_pipeline_exercise_spark.plans.registry import REGISTRY  # noqa: E402

#: keyword → family, first hit wins (checked against name, then doc)
FAMILIES = [
    (("scd2", "snapshot_part_dim", "intervals"), "SCD2 / temporal merge"),
    (("asof", "as_of", "after_click", "after_purchase", "attribution"), "as-of / event join"),
    (("minhash", "simhash", "dedup", "near_dup", "dup_", "jaccard", "novelty"), "dedup / similarity"),
    (("ann_", "embedding", "centroid", "ivf", "lsh"), "embeddings / ANN"),
    (("doc_", "corpus", "token", "lang", "pii", "quality", "fluency", "ngram", "shard", "contamination", "bm25", "tfidf", "chunk"), "text / corpus prep"),
    (("media_",), "multimodal"),
    (("hll", "kmv", "sketch", "reach", "overlap"), "sketches"),
    (("sample", "split", "budget", "trimmed", "stratified"), "sampling / splits"),
    (("session", "funnel", "retention", "cohort", "sessions"), "sessionization / funnels"),
    (("anomaly", "impute", "drift", "autocorr", "chi2", "zscore", "percentile", "hhi", "seasonality", "fir", "smooth", "power_curve", "lift"), "robust stats / drift"),
    (("rank", "cumshare", "prefix", "zorder", "layout", "occupancy", "audit"), "ranking / layout / audit"),
    (("window",), "event-time windows"),
    (("revenue", "orders", "pricing", "nation", "supplier", "customer", "part", "lineitem", "balance", "priority", "shipping", "lead_time", "discount", "market", "quarter", "month", "daily", "stock", "value"), "warehouse / TPC-H analytics"),
]


#: families matched on the query name only — "window" is too common in
#: docs (window functions) to mean an event-time window query
NAME_ONLY = {"event-time windows"}


def family_of(name: str, doc: str) -> str:
    """Substring match on the name; whole-word match on the doc, where
    "part" must not hit "partition" nor "value" hit "values"."""
    for keys, fam in FAMILIES:
        if any(k in name for k in keys):
            return fam
    for keys, fam in FAMILIES:
        if fam not in NAME_ONLY and any(
            re.search(rf"\b{re.escape(k)}\b", doc.lower()) for k in keys
        ):
            return fam
    return "other"


def location_of(q) -> str:
    code = q.fn.__code__
    rel = Path(code.co_filename).resolve()
    try:
        rel = rel.relative_to(REPO)
    except ValueError:
        pass
    return f"{rel}:{code.co_firstlineno}"


def evidence_counts() -> tuple[dict[str, tuple[int, int]], list[str]]:
    """name → (green rounds, total checked rounds) from CORRECTNESS files,
    plus the list of files actually read — embedded in the output so a
    reader can tell exactly which rounds the evidence column reflects
    (the staleness is self-describing instead of silent)."""
    import json

    counts: dict[str, tuple[int, int]] = {}
    files: list[str] = []
    for p in sorted(REPO.glob("CORRECTNESS_r*.json")):
        try:
            rows = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        files.append(p.name)
        for name, v in rows.items():
            if not isinstance(v, dict):
                continue
            green = bool(v.get("hash_match")) or (
                v.get("err") == "no_oracle" and v.get("spark_rows") is not None
            )
            g, t = counts.get(name, (0, 0))
            counts[name] = (g + (1 if green else 0), t + 1)
    return counts, files


def build_rows() -> tuple[list[dict[str, str]], list[str]]:
    ev, files = evidence_counts()
    rows = []
    for name, q in sorted(REGISTRY.items()):
        g, t = ev.get(name, (0, 0))
        rows.append(
            {
                "name": name,
                "where": location_of(q),
                "family": family_of(name, q.doc),
                "oracle": "sql" if q.oracle else "rows-only",
                "bench": "bench" if q.bench else "",
                "evidence": f"{g}/{t}" if t else "never",
            }
        )
    return rows, files


def render(rows: list[dict[str, str]], files: list[str]) -> str:
    n_oracle = sum(1 for r in rows if r["oracle"] == "sql")
    n_bench = sum(1 for r in rows if r["bench"])
    n_never = sum(1 for r in rows if r["evidence"] == "never")
    by_family: dict[str, int] = {}
    for r in rows:
        by_family[r["family"]] = by_family.get(r["family"], 0) + 1
    fam_line = ", ".join(f"{k} {v}" for k, v in sorted(by_family.items(), key=lambda kv: -kv[1]))
    out = [
        "# Contract query registry",
        "",
        "Generated by `python tests/gen_registry_index.py` — do not edit by hand.",
        f"`tests/test_registry_index.py` keeps the location/flag columns in sync "
        f"with `REGISTRY`; the evidence column is a point-in-time read "
        f"of the CORRECTNESS files and is NOT asserted on.",
        "",
        f"**{len(rows)} queries** ({n_oracle} oracle-paired, {len(rows) - n_oracle} "
        f"rows-only), {n_bench} benched, {n_never} never driver-checked.",
        f"Evidence inputs read at generation time: "
        f"{', '.join(files) if files else 'none'}.",
        f"Families: {fam_line}.",
        "",
        "| query | where | family | oracle | bench | driver evidence (green/checked) |",
        "|---|---|---|---|---|---|",
    ]
    for r in rows:
        out.append(
            f"| {r['name']} | `{r['where']}` | {r['family']} | {r['oracle']} | "
            f"{r['bench']} | {r['evidence']} |"
        )
    return "\n".join(out) + "\n"


def main() -> None:
    rows, files = build_rows()
    (REPO / "REGISTRY.md").write_text(render(rows, files))
    print(f"wrote REGISTRY.md ({len(REGISTRY)} queries; evidence: {files})")


if __name__ == "__main__":
    main()
