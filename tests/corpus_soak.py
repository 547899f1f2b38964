"""10-day corpus-pipeline soak — round-9 evidence script behind
``evidence/CORPUS_SOAK_r09.jsonl``.

The two-day test (``test_corpus_pipeline.py``) proves the O(increment)
mechanics on 5-doc days; this soak proves they HOLD under accumulation:
10 daily increments of fixed size (450 fresh sf0.1 docs + 25 injected
cross-day dups each) driven through ``CorpusPipeline.run`` with nightly
``maintain()`` compaction, recording per day

    {"ds", "docs_in", "docs_shingled", "docs_kept", "corpus_total",
     "wall_s", "cpu_s", "files": {layer: n}, "compacted": [...]}

and asserting the three soak invariants:

1. **flat per-day cost**: ``docs_shingled`` never exceeds the increment
   size on ANY day — history is never re-shingled however large the
   corpus grows (the Observation-API counter, not inspection);
2. **bounded state**: after nightly ``maintain()`` every layer's
   data-file count stays within the compaction budget
   (``max_files_per_partition × partition_dirs``), so 10 days of
   small appends cannot degenerate into thousands of files;
3. **compaction is behavior-neutral**: a from-scratch rebuild of the
   same 10 days into a fresh warehouse WITHOUT any ``maintain()`` call
   yields a byte-identical final ``corpus_docs`` (doc_id, fingerprint,
   shard, bin, ds) — the soak's compaction never changed a result.

Dup injection per day d ≥ 2 (new doc_ids ≥ 1_000_000, so they can never
collide with the sf0.1 pool): 10 exact-text copies of day-(d−1) fresh
docs (fingerprint-index probes), 8 near-copies with one word substituted
(stored-LSH cross probes), and 7 fresh texts carrying a PRIOR retained
doc's embedding vector (sign-index cross probes). Day 1 injects its dups
from its own fresh slice, so every day is the same 475-doc increment.

Embeddings: full coverage (the pipeline's contract), deterministic
16-d unit vectors hashed from doc_id — distinct doc_ids land far below
the 0.95 cosine threshold, so only the 7 injected vector-copies per day
can trip the embedding stage.

Usage: python tests/corpus_soak.py [out_jsonl] [--days N] [--recycle-every N]
       [--expected-corpus-docs N] [--source path]

Defaults reproduce the r9 soak (10 days, shipped default sketch, no
recycling). The r13 variant (verdict task 7) soaks PAST day 10 with
session recycling ON at a model-SIZED config — the combination the
three r12 hardening fixes (config baked only after first persist,
pre-config-era defaults, extra_conf replay) plus the r13 conf snapshot
had never exercised end-to-end:

    python tests/corpus_soak.py evidence/CORPUS_SOAK_r14.jsonl \
        --days 15 --recycle-every 2 --expected-corpus-docs 8000

SELF-PROVISIONING (r13 verdict task 6): the soak needs
``days x 450`` fresh docs; sf0.1's 5,000-doc pool starves past day 11
(the r13 first attempt fed days 12-15 only 58/14/0/0 fresh docs). A
longer soak now provisions its own pool with ZERO manual steps: it
scales the sf0.1 documents via ``gen_sf_scale.spliced_documents`` (the
same decorrelation the full generator uses) into
``/tmp/soak_docpool_x{factor}.parquet``, verifying an existing pool's
parquet-footer row count before reuse and regenerating it otherwise —
one command on a freshly-wiped /tmp. ``--source`` still overrides for
soaking a specific corpus (e.g. /tmp/sf10/documents.parquet).

On recycle days the session (and its UI) is rebuilt at the end of
``run``, so that day's executor-CPU delta is unreadable — recorded as
``cpu_s: null`` with ``recycled: true``; the flat-cost invariant rides
``docs_shingled`` (an in-job Observation counter), not CPU.
"""

from __future__ import annotations

import hashlib
import json
import sys
import tempfile
import time
from pathlib import Path

import numpy as np

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from batch_data_pipeline_exercise_spark.obs import measure  # noqa: E402
from batch_data_pipeline_exercise_spark.plans.corpus_pipeline import CorpusPipeline  # noqa: E402
from batch_data_pipeline_exercise_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1/documents.parquet"
FRESH_PER_DAY = 450
N_EXACT, N_NEAR, N_VEC = 10, 8, 7
N_DAYS = 10


def _pool_rows(path) -> int:
    """Parquet-footer row count (no data read) of a flat file or a
    Spark-written directory."""
    import pyarrow.parquet as pq

    p = Path(path)
    if p.is_dir():
        return sum(pq.ParquetFile(f).metadata.num_rows for f in sorted(p.glob("*.parquet")))
    return pq.ParquetFile(p).metadata.num_rows


def _provision_pool(spark, n_needed: int) -> str:
    """Self-provisioning document pool (r13 verdict task 6): return a
    documents parquet holding >= ``n_needed`` docs with no manual step.
    The sf0.1 pool serves directly when big enough; otherwise the soak
    scales it with ``gen_sf_scale.spliced_documents`` (the generator's
    own decorrelation — dup density stays ~linear) into a /tmp pool
    keyed by factor, verified by footer row count before reuse so a
    truncated or stale pool regenerates instead of starving late days."""
    base = _pool_rows(SRC)
    if n_needed <= base:
        return SRC
    from pyspark.sql import functions as F  # noqa: PLC0415 — soak-only dep

    from tests.gen_sf_scale import spliced_documents

    factor = -(-n_needed // base)  # ceil
    dest = f"/tmp/soak_docpool_x{factor}.parquet"
    if Path(dest).exists():
        try:
            have = _pool_rows(dest)
        except Exception:  # noqa: BLE001 — half-written pool: regenerate
            have = 0
        if have >= n_needed:
            print(f"reusing pool {dest} ({have} docs)", flush=True)
            return dest
        print(f"pool {dest} has {have} < {n_needed} docs — regenerating", flush=True)
    d = spark.read.parquet(SRC)
    key_rng = d.agg(F.max("doc_id")).first()[0] + 1
    (
        spliced_documents(d, factor, key_rng)
        .drop("rep")
        .repartition(8)
        .write.mode("overwrite")
        .parquet(dest)
    )
    print(f"provisioned pool {dest} ({_pool_rows(dest)} docs for {n_needed})", flush=True)
    return dest


def _unit_vec(doc_id: int, dim: int = 16) -> list[float]:
    seed = int.from_bytes(hashlib.md5(str(doc_id).encode()).digest()[:4], "big")
    v = np.random.RandomState(seed).standard_normal(dim)
    return [float(x) for x in v / np.linalg.norm(v)]


def _build_days(spark, n_days: int = N_DAYS) -> list[tuple[str, list[tuple], list[tuple]]]:
    """[(ds, doc_rows, emb_rows)] — doc rows (doc_id, text), emb rows
    (doc_id, embedding). Deterministic; driver-side (475·days rows)."""
    # orderBy BEFORE the limit: a bare .limit() truncates in parquet
    # file/partition read order, so the soaked doc pool would depend on
    # how the source happened to be written — ordering first makes the
    # pool content-determined (the N smallest doc_ids) on any layout.
    pool = (
        spark.read.parquet(SRC)
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(n_days * FRESH_PER_DAY)
        .collect()
    )
    days = []
    for d in range(1, n_days + 1):
        ds = f"2021-06-{d:02d}"
        fresh = pool[(d - 1) * FRESH_PER_DAY : d * FRESH_PER_DAY]
        src = pool[(max(d - 2, 0)) * FRESH_PER_DAY : (max(d - 2, 0)) * FRESH_PER_DAY + 25]
        docs = [(int(r["doc_id"]), r["text"]) for r in fresh]
        embs = [(i, _unit_vec(i)) for i, _ in docs]
        nid = 1_000_000 + d * 1000
        for i, r in enumerate(src[:N_EXACT]):  # exact-text copies
            docs.append((nid + i, r["text"]))
            embs.append((nid + i, _unit_vec(nid + i)))
        for i, r in enumerate(src[N_EXACT : N_EXACT + N_NEAR]):  # near-copies
            words = r["text"].split()
            words[len(words) // 2] = "soakednearword"
            docs.append((nid + 100 + i, " ".join(words)))
            embs.append((nid + 100 + i, _unit_vec(nid + 100 + i)))
        for i, r in enumerate(src[N_EXACT + N_NEAR : N_EXACT + N_NEAR + N_VEC]):
            # fresh-text doc carrying a PRIOR doc's vector → sign-probe dup
            vid = nid + 200 + i
            words = (r["text"] + " entirely different tail of prose for the vector dup").split()
            docs.append((vid, " ".join(reversed(words))))
            embs.append((vid, _unit_vec(int(r["doc_id"]))))
        days.append((ds, docs, embs))
    return days


def _run_sequence(
    spark, root: str, days, maintain: bool, out: list | None, **pipeline_kwargs
) -> CorpusPipeline:
    cp = CorpusPipeline(spark, root, **pipeline_kwargs)
    every = cp.recycle_session_every
    for day_no, (ds, docs, embs) in enumerate(days, 1):
        # cp.spark, not the captured session: a recycling pipeline
        # rebinds itself to a fresh session at run boundaries and the
        # old one is dead
        recycles_before = cp.session_recycles
        ddf = cp.spark.createDataFrame(docs, "doc_id long, text string")
        edf = cp.spark.createDataFrame(embs, "doc_id long, embedding array<double>")

        def day():
            t0 = time.perf_counter()
            stats = cp.run(ddf, ds, embeddings=edf)
            wall = time.perf_counter() - t0
            return stats, wall, cp.maintain() if maintain else []

        cpu = None
        if out is not None and not (every and day_no % every == 0):
            (stats, wall, compacted), cost = measure(cp.spark, day)
            if cost["exec_cpu_s"] is not None:
                cpu = round(cost["exec_cpu_s"], 2)
        else:
            # a recycle day stops its session at the end of run, so the
            # old session's counters cannot be read afterwards
            stats, wall, compacted = day()
        recycled = cp.session_recycles > recycles_before
        if out is not None:
            rec = {
                "recycled": recycled,
                **{k: stats[k] for k in ("ds", "docs_in", "docs_shingled", "docs_kept", "corpus_total")},
                "embedding_pairs": stats.get("embedding_pairs"),
                "wall_s": round(wall, 2),
                "cpu_s": cpu,
                "files": {t: cp.wh.file_count(t) for t in cp.MAINTAINED_TABLES if cp.wh.exists(t)},
                "compacted": compacted,
            }
            out.append(rec)
            print(json.dumps(rec), flush=True)
            inc = len(docs)
            assert stats["docs_shingled"] <= inc, (
                f"{ds}: shingled {stats['docs_shingled']} > increment {inc} — history re-shingled"
            )
            for t in cp.MAINTAINED_TABLES:
                if cp.wh.exists(t):
                    budget = 8 * cp.wh.partition_dir_count(t)
                    n = cp.wh.file_count(t)
                    assert n <= budget, f"{ds}: {t} has {n} files > budget {budget}"
    return cp


def main() -> None:
    args = [a for a in sys.argv[1:]]

    def _opt(name: str) -> int | None:
        if name in args:
            i = args.index(name)
            v = int(args[i + 1])
            del args[i : i + 2]
            return v
        return None

    n_days = _opt("--days") or N_DAYS
    recycle_every = _opt("--recycle-every") or 0
    expected_docs = _opt("--expected-corpus-docs")
    global SRC
    explicit_source = "--source" in args
    if explicit_source:
        # override: soak a specific corpus (e.g. /tmp/sf10) instead of
        # the self-provisioned pool
        i = args.index("--source")
        SRC = args[i + 1]
        del args[i : i + 2]
    out_path = Path(args[0]) if args else REPO / "evidence" / "CORPUS_SOAK_r09.jsonl"
    pipeline_kwargs: dict = {"recycle_session_every": recycle_every}
    if expected_docs is not None:
        pipeline_kwargs["expected_corpus_docs"] = expected_docs

    spark = get_spark(
        app_name="corpus-soak",
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={"spark.ui.retainedStages": "100000", "spark.ui.retainedJobs": "100000"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    if not explicit_source:
        SRC = _provision_pool(spark, n_days * FRESH_PER_DAY)
    days = _build_days(spark, n_days)

    records: list[dict] = []
    with tempfile.TemporaryDirectory() as tmp:
        cp = _run_sequence(
            spark, f"{tmp}/soak", days, maintain=True, out=records,
            **pipeline_kwargs,
        )
        final = sorted(
            (r["doc_id"], r["fingerprint_norm"], r["shard"], r["bin"], r["ds"])
            for r in cp.wh.read(cp.DOCS).select("doc_id", "fingerprint_norm", "shard", "bin", "ds").collect()
        )
        # from-scratch rebuild, never compacted, never recycled, SAME
        # sketch config → identical final corpus (compaction AND
        # recycling are both behavior-neutral)
        rebuild_kwargs = {
            k: v for k, v in pipeline_kwargs.items() if k != "recycle_session_every"
        }
        cp2 = _run_sequence(
            cp.spark, f"{tmp}/rebuild", days, maintain=False, out=None,
            **rebuild_kwargs,
        )
        rebuilt = sorted(
            (r["doc_id"], r["fingerprint_norm"], r["shard"], r["bin"], r["ds"])
            for r in cp2.wh.read(cp2.DOCS).select("doc_id", "fingerprint_norm", "shard", "bin", "ds").collect()
        )
        assert final == rebuilt, "soak (with compaction+recycling) != from-scratch rebuild"

    summary = {
        "soak": f"corpus_pipeline_{n_days}day",
        "days": len(records),
        "increment": FRESH_PER_DAY + N_EXACT + N_NEAR + N_VEC,
        "sketch_config": {
            "text_k": cp.text_k, "text_bands": cp.text_bands,
            "emb_bands": cp.emb_bands, "emb_rows": cp.emb_rows,
            "sized": expected_docs is not None,
        },
        "recycle_every": recycle_every,
        "session_recycles": cp.session_recycles,
        "source_pool": SRC,
        "source_pool_provisioned": not explicit_source and SRC != "/root/testdata/sf0.1/documents.parquet",
        "final_corpus_total": records[-1]["corpus_total"],
        "max_docs_shingled": max(r["docs_shingled"] for r in records),
        "rebuild_equal": True,
        "cpu_day2": records[1]["cpu_s"],
        "cpu_final": records[-1]["cpu_s"],
    }
    print(json.dumps(summary), flush=True)
    out_path.parent.mkdir(exist_ok=True)
    with out_path.open("w") as f:
        for r in records + [summary]:
            f.write(json.dumps(r) + "\n")
    # `spark` may be dead if the soak pipeline recycled; cp2 never does
    cp2.spark.stop()


if __name__ == "__main__":
    main()
