"""Full-registry differential sweep — the round-closing evidence run.

Executes EVERY contract query against its DuckDB oracle at a given SF
dir and appends one JSONL record per query:

    {"q": name, "match": bool, "n": rows, "t": secs,
     "ts": spark_secs, "td": duck_secs[, "diff": sample]}  (oracle-paired)
    {"q": name, "match": null, "n": rows, "t": secs}       (rows-only)
    {"q": name, "spark_err"/"oracle_err": "...", "t": secs} (failure)

On a mismatch ``diff`` holds up to 3 (spark_row, oracle_row) pairs at
the first diverging sorted positions plus a row-count line if the
cardinalities differ — the divergence magnitude is in the evidence
file itself.

Comparison is strict: full sorted-row tuple equality (stronger than the
driver's value-hash — any drift in any cell fails). Usage:

    python tests/run_sweep.py [sf_dir] [out.jsonl]

Defaults: /root/testdata/sf0.01, evidence/SWEEP_local.jsonl. DuckDB
views accept both flat files (testdata) and directory-style parquet
(Spark-written, e.g. a gen_sf_scale.py output).

If the output file already exists the sweep RESUMES: queries with a
recorded PASS or deliberate-skip line are skipped, while recorded
FAILURES (spark_err / oracle_err / match=false) re-run — so a sweep
restarted after a fix re-verifies the fixed query, and a killed run
costs only the in-flight query. Records append; readers must take the
LAST record per query. ``SWEEP_SKIP`` names
comma-separated queries to record as ``{"skip": reason}`` without
running (``name=reason`` to say why) — for known-pathological
(SF, oracle) combinations like a transitive-closure CTE over a
degenerate pair graph.

Big-SF routing (r11): at sf >= each entry's threshold (inferred from
the dir name, ``SWEEP_SF`` overrides, ``SWEEP_STAGED=0`` disables) the
sweep consults ``tests/sweep_routing.py`` and, with zero manual steps:
shells out to the staged-execution oracle runners for queries whose
monolithic DuckDB plan is known to die (ENOSPC past ~80 GB raw spill at
sf3 — the runners append ``mode: "staged-oracle"`` records to the SAME
evidence file); records the measured reason for known-infeasible
differentials (quadratic brute-force baselines) as deliberate skips;
compares >=1M-row result sets via parquet + symmetric EXCEPT ALL in
DuckDB instead of a driver collect; and annotates mismatches that stay
inside a documented approximation envelope (HLL error bound, 1-ulp
float drift) as ``documented`` after CHECKING the envelope holds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import duckdb  # noqa: E402

from tests import sweep_routing  # noqa: E402

from batch_data_pipeline_exercise_spark.plans.registry import REGISTRY  # noqa: E402
from batch_data_pipeline_exercise_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _row_key(row: tuple):
    """None-safe sort key: cube/rollup/grouping-sets rows carry NULL
    group keys, which plain tuple comparison cannot order."""
    return tuple((v is None, v) for v in row)


def resumable(rec: dict) -> bool:
    """True if a recorded sweep line counts as DONE on resume: passes
    (match true or rows-only), deliberate skips, and mismatches verified
    inside a documented approximation envelope (``documented`` is only
    ever written after the envelope check passes). Failures re-run.
    Requires an AFFIRMATIVE completion marker (``skip`` or the ``n``
    row count every completed run records) — a truncated-but-valid
    record like ``{"q": "x"}`` from a killed run's partial flush must
    re-run, not silently count as done."""
    return "skip" in rec or (
        "n" in rec
        and "spark_err" not in rec
        and "oracle_err" not in rec
        and (rec.get("match") is not False or "documented" in rec)
    )


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # big-SF hygiene: DuckDB's default memory limit (80% of RAM) lets one
    # heavy oracle spill tens of raw GB to the shared volume (the sf3
    # flagship oracle died on ENOSPC at >80 GB temp), and two concurrent
    # sweep shards at the default would overcommit the box. Both knobs
    # are opt-in so the single-process default behavior is unchanged.
    if os.environ.get("SWEEP_DUCK_MEM"):
        con.execute(f"PRAGMA memory_limit='{os.environ['SWEEP_DUCK_MEM']}'")
    if os.environ.get("SWEEP_DUCK_THREADS"):
        con.execute(f"PRAGMA threads={int(os.environ['SWEEP_DUCK_THREADS'])}")
    if os.environ.get("SWEEP_DUCK_TMP"):
        os.makedirs(os.environ["SWEEP_DUCK_TMP"], exist_ok=True)
        con.execute(f"PRAGMA temp_directory='{os.environ['SWEEP_DUCK_TMP']}'")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def parquet_match(con: duckdb.DuckDBPyConnection, spark_dest: Path, oracle_dest: Path) -> dict:
    """Staged-runner-strictness compare without a driver collect: row
    counts equal AND symmetric EXCEPT ALL empty over all columns."""
    con.execute(f"CREATE OR REPLACE VIEW oracle_out AS SELECT * FROM '{oracle_dest}'")
    cols = ", ".join(sorted(
        r[0] for r in con.execute(
            "SELECT column_name FROM information_schema.columns WHERE table_name='oracle_out'"
        ).fetchall()
    ))
    s = f"'{spark_dest}/*.parquet'"
    n_s = con.execute(f"SELECT count(*) FROM {s}").fetchone()[0]
    n_o = con.execute("SELECT count(*) FROM oracle_out").fetchone()[0]
    d1 = con.execute(
        f"SELECT count(*) FROM (SELECT {cols} FROM {s} EXCEPT ALL SELECT {cols} FROM oracle_out)"
    ).fetchone()[0]
    d2 = con.execute(
        f"SELECT count(*) FROM (SELECT {cols} FROM oracle_out EXCEPT ALL SELECT {cols} FROM {s})"
    ).fetchone()[0]
    return {
        "mode": "parquet-compare",
        "match": n_s == n_o and d1 == 0 and d2 == 0,
        "n": n_s, "n_oracle": n_o, "only_spark": d1, "only_oracle": d2,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = Path(sys.argv[2]) if len(sys.argv) > 2 else REPO / "evidence" / "SWEEP_local.jsonl"
    out.parent.mkdir(exist_ok=True)

    sf = sweep_routing.infer_sf(sf_dir)
    routing = sweep_routing.routing_enabled()

    skips: dict[str, str] = dict(sweep_routing.auto_skips(sf)) if routing else {}
    for item in filter(None, os.environ.get("SWEEP_SKIP", "").split(",")):
        name, _, reason = item.partition("=")
        skips[name.strip()] = reason.strip() or "skipped via SWEEP_SKIP"

    # SWEEP_ONLY=q1,q2 restricts the sweep to a named subset — for
    # targeted spot differentials at expensive SFs (e.g. the sf10
    # top-5). Unknown names are an error, not a silent no-op.
    only = {n.strip() for n in os.environ.get("SWEEP_ONLY", "").split(",") if n.strip()}
    if only:
        unknown = only - set(REGISTRY)
        if unknown:
            raise SystemExit(f"SWEEP_ONLY names not in registry: {sorted(unknown)}")

    # SWEEP_SHARDS=N + SWEEP_SHARD=i (0-based): deterministic disjoint
    # split for running several sweep processes against ONE evidence
    # file at big SF (two 35 GB-capped DuckDBs fit the 128 GB box; never
    # run a third). Staged-oracle GROUPS are assigned whole to the shard
    # of their first query, so a family's runner executes in exactly one
    # process — the round-11 collision lesson (two shards restaging one
    # family's workdir corrupted in-flight reads even before workdirs
    # were PID-suffixed).
    n_shards = int(os.environ.get("SWEEP_SHARDS", "1"))
    if n_shards > 1:
        shard = int(os.environ["SWEEP_SHARD"])
        if not 0 <= shard < n_shards:
            raise SystemExit(f"SWEEP_SHARD must be in [0, {n_shards}), got {shard}")
        only = sweep_routing.shard_split(
            sorted(only or REGISTRY), n_shards, shard, sf if routing else 0.0
        )

    done: set[str] = set()
    if out.exists():
        for line in out.read_text().splitlines():
            try:
                rec = json.loads(line)
                name = rec["q"]
            except (ValueError, KeyError):
                continue
            if resumable(rec):
                done.add(name)
            else:
                # a later (fixed) record for the same query still resumes
                done.discard(name)

    # sized-sketch routing (r12 verdict task 1): at sf >= 10 the
    # embedding family runs at the model-sized sign-LSH sketch instead
    # of being skipped at the registry-pinned 8x8 cliff. The sketch is
    # baked into contract_ext's module constants at import, so the
    # parent re-invokes run_sweep in a CHILD process with
    # BDPE_EMB_SKETCH set — engine queries and oracle SQL both re-derive
    # from it, keeping the differential an exact mirror. A child (env
    # already set) never re-routes.
    sized_env = os.environ.get("BDPE_EMB_SKETCH")
    sized: set[str] = (
        {q for q, r in sweep_routing.SIZED_SKETCH.items() if sf >= r.min_sf}
        if routing and not sized_env
        else set()
    )
    sized_pending = [
        q for q in sorted(sized)
        if q not in done and q not in skips and (not only or q in only)
    ]
    for sketch, qs in sorted(sweep_routing.sized_sketch_groups(sf, sized_pending, sf_dir).items()):
        print(f"routing {qs} -> child sweep at BDPE_EMB_SKETCH={sketch}", flush=True)
        env = {**os.environ, "BDPE_EMB_SKETCH": sketch, "SWEEP_ONLY": ",".join(qs)}
        env.pop("SWEEP_SHARDS", None)
        env.pop("SWEEP_SHARD", None)
        rc = subprocess.run(
            [sys.executable, str(REPO / "tests" / "run_sweep.py"), sf_dir, str(out)], env=env
        ).returncode
        recorded: dict[str, bool] = {}
        for line in out.read_text().splitlines() if out.exists() else []:
            try:
                rec = json.loads(line)
            except ValueError:
                continue
            if rec.get("q") in qs:
                recorded[rec["q"]] = resumable(rec)
        done.update(q for q, ok in recorded.items() if ok)
        with out.open("a") as fh:
            for q in qs:
                if q not in recorded:
                    fh.write(json.dumps(
                        {"q": q, "spark_err": f"sized child sweep ({sketch}) rc={rc} produced no record"}
                    ) + "\n")

    # staged-oracle routing: run each family's runner ONCE (it stages the
    # shared CTE prefix, appends mode:"staged-oracle" records to the same
    # file) BEFORE the sweep's own Spark session exists — the runners
    # bring their own, and two concurrent local[32] JVMs would thrash.
    routed: set[str] = (
        {q for q, r in sweep_routing.STAGED_ORACLES.items() if sf >= r.min_sf}
        if routing
        else set()
    )
    pending = [
        q for q in sorted(routed)
        if q not in done and q not in skips and q not in sized
        and (not only or q in only)
    ]
    for (runner, group), qs in sorted(sweep_routing.staged_groups(sf, pending).items()):
        # PID-suffixed workdir: two sweep shards (or a shard plus an
        # orphaned runner from a killed sweep — pkill on run_sweep does
        # NOT reach an in-flight runner child) must never share stage
        # files; a concurrent rmtree+restage mid-read surfaces as
        # "file too small to be a Parquet file" oracle errors
        workdir = f"/tmp/sweepstaged_{group}_{os.getpid()}"
        cmd = [sys.executable, str(REPO / "tests" / runner), sf_dir, workdir, str(out)]
        if group == "minhash":
            cmd.append(",".join(qs))
        print(f"routing {qs} -> {runner}", flush=True)
        rc = subprocess.run(cmd).returncode
        recorded: dict[str, bool] = {}  # q -> resumable?
        for line in out.read_text().splitlines() if out.exists() else []:
            try:
                rec = json.loads(line)
            except ValueError:
                continue
            if rec.get("q") in qs:
                recorded[rec["q"]] = resumable(rec)
        done.update(q for q, ok in recorded.items() if ok)
        # a hard runner crash leaves queries recordless: account for them
        # explicitly (resume re-routes them in a fresh process)
        with out.open("a") as fh:
            for q in qs:
                if q not in recorded:
                    fh.write(json.dumps(
                        {"q": q, "spark_err": f"staged runner {runner} rc={rc} produced no record"}
                    ) + "\n")

    pqwork: Path | None = None

    spark = get_spark(
        app_name="registry-sweep",
        master="local[32]",
        shuffle_partitions=32,
        # mid-size sf10 collects (several-M-row results) exceed the 1g
        # default; truly huge results route to parquet_match instead
        extra_conf={"spark.driver.maxResultSize": "4g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connect(sf_dir)

    # long-lived sessions accumulate JVM state _clear_session_state cannot
    # drop (README: an 8 GB session OOMed on its 8th heavy sf10 query) —
    # proactively rebuild the context every N completed queries at big SF
    # instead of only self-healing after a crash. 0 disables.
    recycle_every = int(os.environ.get("SWEEP_RECYCLE_EVERY", "20" if sf >= 3 else "0"))
    since_recycle = 0

    with out.open("a") as fh:
        for name, q in sorted(REGISTRY.items()):
            if only and name not in only:
                continue
            if name in done:
                continue
            if recycle_every and since_recycle >= recycle_every:
                spark.stop()
                spark = get_spark(
                    app_name="registry-sweep",
                    master="local[32]",
                    shuffle_partitions=32,
                    extra_conf={"spark.driver.maxResultSize": "4g"},
                )
                spark.sparkContext.setLogLevel("ERROR")
                since_recycle = 0
            since_recycle += 1
            if name in skips:
                fh.write(json.dumps({"q": name, "skip": skips[name]}) + "\n")
                fh.flush()
                continue
            if name in routed:
                continue  # handled (or failure-recorded) by a staged runner
            if name in sized:
                continue  # handled (or failure-recorded) by the sized child sweep
            use_pq = bool(q.oracle) and routing and sweep_routing.wants_parquet_compare(name, sf)
            if use_pq and pqwork is None:
                pqwork = sweep_routing.fresh_workdir("/tmp/sweepcompare")
            t0 = time.time()
            rec: dict = {"q": name}
            if sized_env:
                rec["mode"] = "sized-sketch"
                rec["emb_sketch"] = sized_env
            spark_dest = None
            try:
                if use_pq:
                    spark_dest = pqwork / f"spark_{name}.parquet"
                    q.fn(spark, sf_dir).write.mode("overwrite").parquet(str(spark_dest))
                    srows = []
                else:
                    srows = sorted((tuple(r) for r in q.fn(spark, sf_dir).collect()), key=_row_key)
            except Exception as e:  # noqa: BLE001 — evidence, not control flow
                rec["spark_err"] = str(e)[:200]
                rec["t"] = round(time.time() - t0, 1)
                fh.write(json.dumps(rec) + "\n")
                fh.flush()
                # self-heal a DEAD session: a big-SF query can kill the
                # JVM (heap OOM), after which every remaining query would
                # burn-fail with 'Cannot call methods on a stopped
                # SparkContext' — 64 junk records in one observed sf10
                # run. Probe liveness with a trivial job; rebuild on
                # failure so the sweep continues (the failed query's
                # record stands; resume re-runs it in a fresh process).
                try:
                    spark.range(1).count()
                except Exception:  # noqa: BLE001
                    try:
                        spark.stop()
                    except Exception:  # noqa: BLE001
                        pass
                    spark = get_spark(
                        app_name="registry-sweep", master="local[32]", shuffle_partitions=32
                    )
                    spark.sparkContext.setLogLevel("ERROR")
                continue
            rec["ts"] = round(time.time() - t0, 1)
            if q.oracle:
                t1 = time.time()
                try:
                    if use_pq:
                        oracle_dest = pqwork / f"oracle_{name}.parquet"
                        con.execute(
                            f"COPY ({q.oracle}) TO '{oracle_dest}' "
                            "(FORMAT PARQUET, COMPRESSION ZSTD)"
                        )
                        rec.update(parquet_match(con, spark_dest, oracle_dest))
                    else:
                        drows = sorted(map(tuple, con.execute(q.oracle).fetchall()), key=_row_key)
                except Exception as e:  # noqa: BLE001
                    rec["oracle_err"] = str(e)[:200]
                    rec["t"] = round(time.time() - t0, 1)
                    fh.write(json.dumps(rec) + "\n")
                    fh.flush()
                    continue
                rec["td"] = round(time.time() - t1, 1)
                if use_pq:
                    shutil.rmtree(spark_dest, ignore_errors=True)
                    oracle_dest.unlink(missing_ok=True)
                else:
                    rec["match"] = srows == drows
                    if not rec["match"]:
                        # a bounded sample of (spark_row, oracle_row) at the
                        # first diverging sorted positions — enough to see a
                        # magnitude (e.g. an HLL estimate) without rerunning
                        sample = [
                            [repr(s), repr(d)]
                            for s, d in zip(srows, drows)
                            if s != d
                        ][:3]
                        if len(srows) != len(drows):
                            sample.append([f"n_spark={len(srows)}", f"n_duck={len(drows)}"])
                        rec["diff"] = sample
                        dd = sweep_routing.DOCUMENTED_DIVERGENCES.get(name)
                        if (
                            routing
                            and dd
                            and sf >= dd[0]
                            and sweep_routing.within_envelope(srows, drows, dd[1])
                        ):
                            rec["documented"] = dd[2]
            else:
                rec["match"] = None
            if not use_pq:
                rec["n"] = len(srows)
            rec["t"] = round(time.time() - t0, 1)
            fh.write(json.dumps(rec) + "\n")
            fh.flush()

    # summarize the WHOLE evidence file (last record per query), not just
    # this process's remainder — a resumed sweep otherwise reports only
    # the queries it happened to run
    final: dict[str, dict] = {}
    for line in out.read_text().splitlines():
        try:
            rec = json.loads(line)
            final[rec["q"]] = rec
        except (ValueError, KeyError):
            pass
    n_match = sum(1 for r in final.values() if r.get("match") is True)
    n_rows_only = sum(1 for r in final.values() if "n" in r and r.get("match") is None)
    n_skip = sum(1 for r in final.values() if "skip" in r)
    n_doc = sum(
        1 for r in final.values() if r.get("match") is False and "documented" in r
    )
    n_fail = len(final) - n_match - n_rows_only - n_skip - n_doc
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "sf": sf,
                "queries": len(REGISTRY),
                "resumed_past": len(done),
                "oracle_match": n_match,
                "rows_only": n_rows_only,
                "skipped": n_skip,
                "documented_divergence": n_doc,
                "failures": n_fail,
                "out": str(out),
            }
        )
    )


if __name__ == "__main__":
    main()
