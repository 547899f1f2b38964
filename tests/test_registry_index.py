"""REGISTRY.md sync check (no Spark session needed).

Asserts the generated index's name/where/family/oracle/bench columns
match a fresh in-memory regeneration — so the index can never silently
drift from contract.REGISTRY. The driver-evidence column is EXCLUDED on
purpose: the driver rewrites CORRECTNESS files after every commit, and
pinning evidence here would re-create the stale-router-test trap.
"""

from __future__ import annotations

from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def _table_rows(text: str) -> list[tuple[str, ...]]:
    rows = []
    for line in text.splitlines():
        if line.startswith("| ") and not line.startswith("| query") and "---" not in line:
            cells = [c.strip() for c in line.strip("|").split("|")]
            rows.append(tuple(cells[:5]))  # drop the evidence column
    return rows


def test_registry_index_is_in_sync():
    from tests.gen_registry_index import build_rows, render

    path = REPO / "REGISTRY.md"
    assert path.exists(), "run python tests/gen_registry_index.py and commit REGISTRY.md"
    on_disk = _table_rows(path.read_text())
    fresh = _table_rows(render(*build_rows()))
    assert on_disk == fresh, (
        "REGISTRY.md is stale — run python tests/gen_registry_index.py "
        f"(disk {len(on_disk)} rows, registry {len(fresh)} rows)"
    )


def test_registry_index_covers_every_query():
    from batch_data_pipeline_exercise_spark.plans.registry import REGISTRY

    names = {r[0] for r in _table_rows((REPO / "REGISTRY.md").read_text())}
    assert names == set(REGISTRY)


def test_registry_index_evidence_inputs_are_fresh():
    """r13 verdict task 4: the evidence column silently lagged a round
    (REGISTRY.md listed inputs through r12 while CORRECTNESS_r13.json
    sat on disk). Pin freshness structurally: the generation-time input
    list must be a prefix of the CORRECTNESS files now on disk, and at
    most ONE unlisted file is tolerated — the current round's own
    driver-written file, which by construction appears AFTER the
    build's last commit and before the judge's pytest run. Two or more
    unlisted files mean a builder skipped the regeneration step; the
    fix is one command: python tests/gen_registry_index.py."""
    import re

    text = (REPO / "REGISTRY.md").read_text()
    m = re.search(r"Evidence inputs read at generation time: ([^\n]+)\.", text)
    assert m, "REGISTRY.md lost its evidence-inputs provenance line"
    raw = m.group(1).strip()
    listed = [] if raw == "none" else [s.strip() for s in raw.split(",")]
    on_disk = sorted(p.name for p in REPO.glob("CORRECTNESS_r*.json"))
    assert listed == on_disk[: len(listed)], (
        "REGISTRY.md lists evidence inputs that are not the on-disk "
        f"CORRECTNESS prefix: listed={listed} disk={on_disk}"
    )
    unlisted = on_disk[len(listed):]
    assert len(unlisted) <= 1, (
        f"REGISTRY.md is {len(unlisted)} rounds stale (unlisted: {unlisted}) — "
        "run python tests/gen_registry_index.py and commit the diff"
    )
