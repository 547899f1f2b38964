"""CLI — the operational entry point replacing the reference's Airflow
triggers (``airflow dags trigger`` / REST POST, reference
``docs/cheat-sheets/airflow.md:8-15``).

Usage:
    python -m batch_data_pipeline_exercise_spark init --warehouse DIR
    python -m batch_data_pipeline_exercise_spark run --feed products|orders|inventory \
        --csv FILE --ts "YYYY-MM-DD HH:MM:SS" --warehouse DIR
    python -m batch_data_pipeline_exercise_spark metric --name NAME \
        --as-of "YYYY-MM-DD HH:MM:SS" --warehouse DIR

Metrics print as JSON lines (one per row) — pipeable, diffable, and the
same functions Metabase-style BI would call as a library.
"""

from __future__ import annotations

import argparse
import json
import re
import sys
from datetime import datetime

from pyspark.sql import functions as F

# metrics whose semantics need an explicit point-in-time
AS_OF_METRICS = {"current_orders_by_status", "retained_orders"}


def _err(msg: str) -> int:
    print(json.dumps({"ok": False, "error": msg}), file=sys.stderr)
    return 2


def _done_days(pipe, feed: str) -> set[str]:
    """Days recorded as successfully processed for ``feed`` (written by
    both ``run`` and ``backfill``)."""
    if not pipe.wh.exists("_backfill_log"):
        return set()
    return {
        r["ds"] for r in pipe.wh.read("_backfill_log").filter(F.col("feed") == feed).collect()
    }


def _norm_ds(ts: str) -> str:
    """Normalize a validated timestamp/date string to zero-padded
    YYYY-MM-DD: strptime leniently accepts '2021-3-2 1:00:00', whose raw
    [:10] slice would poison the backfill watermark's lexicographic
    comparison."""
    head = ts.strip().split(" ")[0].split("T")[0]
    return datetime.strptime(head, "%Y-%m-%d").strftime("%Y-%m-%d")


def _mark_done(pipe, feed: str, ds: str) -> None:
    mark = pipe.spark.createDataFrame([(feed, _norm_ds(ds))], "feed string, ds string")
    pipe.wh.append(mark, "_backfill_log")


def _valid_ts(val: str) -> bool:
    """Strict up-front parse: with ANSI mode off, a malformed timestamp
    would otherwise cast to NULL deep in the plan and silently produce
    zero-row metrics or NULL processed_time/start_time warehouse rows."""
    for fmt in (
        "%Y-%m-%d %H:%M:%S",
        "%Y-%m-%d %H:%M:%S.%f",
        "%Y-%m-%dT%H:%M:%S",  # ISO 'T' forms Spark's cast also accepts
        "%Y-%m-%dT%H:%M:%S.%f",
        "%Y-%m-%d",
    ):
        try:
            datetime.strptime(val, fmt)
            return True
        except ValueError:
            continue
    return False


def _valid_date(val: str) -> bool:
    try:
        datetime.strptime(val, "%Y-%m-%d")
        return True
    except ValueError:
        return False


def _spark():
    from batch_data_pipeline_exercise_spark.session import get_spark

    spark = get_spark(app_name="bdpe-spark-cli")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _print_df(df, limit: int = 1000) -> None:
    # bounded collect: metric results are small aggregates today, but a
    # --limit guard means this printer can never pull a fact table onto
    # the driver; limit+1 detects truncation without a second action
    rows = df.limit(limit + 1).toJSON().collect()
    for row in rows[:limit]:
        print(row)
    if len(rows) > limit:
        print(json.dumps({"truncated": True, "limit": limit}), file=sys.stderr)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="batch_data_pipeline_exercise_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_init = sub.add_parser("init", help="create dim_dates (idempotent)")
    p_init.add_argument("--warehouse", required=True)

    p_run = sub.add_parser("run", help="process one daily feed drop")
    p_run.add_argument("--feed", required=True, choices=["products", "orders", "inventory"])
    p_run.add_argument("--csv", required=True)
    p_run.add_argument("--ts", required=True, help="batch timestamp, YYYY-MM-DD HH:MM:SS")
    p_run.add_argument("--warehouse", required=True)

    p_met = sub.add_parser("metric", help="compute one analytics metric")
    p_met.add_argument(
        "--name",
        required=True,
        choices=[
            "current_orders_by_status",
            "orders_created_per_quarter",
            "orders_created_per_quarter_category",
            "retained_orders",
            "monthly_created_not_completed",
            "daily_stock_by_category",
            "month_end_stock_by_category",
        ],
    )
    p_met.add_argument("--as-of", dest="as_of", default=None)
    p_met.add_argument("--limit", type=int, default=1000, help="max rows printed (guards the driver collect)")
    p_met.add_argument("--date-from", dest="date_from", default=None)
    p_met.add_argument("--date-to", dest="date_to", default=None)
    p_met.add_argument("--warehouse", required=True)

    p_bf = sub.add_parser(
        "backfill",
        help="re-run one feed over a date range from {csv-dir}/{feed}_{YYYY-MM-DD}.csv "
        "drops — idempotent (the warehouse layers dedupe), the engine-side "
        "analog of an orchestrator's backfill/catchup run",
    )
    p_bf.add_argument("--feed", required=True, choices=["products", "orders", "inventory"])
    p_bf.add_argument("--csv-dir", dest="csv_dir", required=True)
    p_bf.add_argument("--date-from", dest="date_from", required=True)
    p_bf.add_argument("--date-to", dest="date_to", required=True)
    p_bf.add_argument(
        "--strict",
        action="store_true",
        help="fail on a missing day's file instead of skipping it",
    )
    p_bf.add_argument(
        "--recycle-session-every",
        dest="recycle_session_every",
        type=int,
        default=0,
        help="rebuild the Spark session after every N days run (0 = off): "
        "long backfills otherwise accumulate JVM state no cache clear can "
        "drop; every layer is persisted at each day boundary, so the "
        "warehouse is the checkpoint",
    )
    p_bf.add_argument("--warehouse", required=True)

    p_cor = sub.add_parser(
        "corpus",
        help="process one day's document increment through the corpus "
        "pipeline (filter -> exact dedup -> incremental LSH near-dup -> "
        "incremental embedding near-dup -> shard/pack), probing the "
        "persisted indexes so day-N cost is O(increment) — idempotent "
        "per ds like the warehouse feeds",
    )
    p_cor.add_argument("--docs", required=True, help="parquet of (doc_id, text) for the day")
    p_cor.add_argument(
        "--embeddings", default=None, help="optional parquet of (doc_id, embedding)"
    )
    p_cor.add_argument("--ds", required=True, help="increment date, YYYY-MM-DD")
    p_cor.add_argument("--warehouse", required=True)
    p_cor.add_argument(
        "--max-text-candidates",
        dest="max_text_candidates",
        default="auto",
        help="LSH candidate budget for the text near-dup stage: an integer, "
        "'auto' (default: sized to the increment at the healthy-occupancy "
        "ceiling), or 'off' — over-budget runs refuse with a sizing "
        "suggestion instead of launching the join",
    )
    p_cor.add_argument(
        "--max-embedding-candidates",
        dest="max_embedding_candidates",
        default="auto",
        help="same budget for the embedding near-dup stage",
    )
    p_cor.add_argument(
        "--expected-corpus-docs",
        dest="expected_corpus_docs",
        default=None,
        help="size the LSH sketches for a corpus that will grow to this "
        "many docs (recall-aware: cheapest bands x rows meeting both the "
        "occupancy ceiling and --min-recall at each stage's threshold). "
        "Omit to use the operators' defaults. The first run bakes the "
        "config into the warehouse; later runs must match it",
    )
    p_cor.add_argument(
        "--min-recall",
        dest="min_recall",
        type=float,
        default=None,
        help="recall floor for --expected-corpus-docs sizing (default 0.9)",
    )

    p_aud = sub.add_parser(
        "audit",
        help="order-free table fingerprint: (n_rows, checksum) per group — "
        "compare two warehouses by diffing the JSON lines",
    )
    p_aud.add_argument("--table", required=True)
    p_aud.add_argument(
        "--group-col",
        dest="group_col",
        default=None,
        help="optional partition/group column to localize divergences",
    )
    p_aud.add_argument("--limit", type=int, default=10000, help="max group rows printed")
    p_aud.add_argument("--warehouse", required=True)

    args = ap.parse_args(argv)

    if args.cmd == "run" and not _valid_ts(args.ts):
        return _err(f"--ts must be 'YYYY-MM-DD [HH:MM:SS[.ffffff]]', got {args.ts!r}")
    if args.cmd == "backfill":
        for flag, val in (("--date-from", args.date_from), ("--date-to", args.date_to)):
            if not _valid_date(val):
                return _err(f"{flag} must be 'YYYY-MM-DD', got {val!r}")
        if args.date_from > args.date_to:
            return _err(f"--date-from {args.date_from} is after --date-to {args.date_to}")
    if args.cmd == "metric":
        if args.name in AS_OF_METRICS and not args.as_of:
            return _err(f"metric {args.name} requires --as-of")
        if args.as_of and not _valid_ts(args.as_of):
            return _err(f"--as-of must be 'YYYY-MM-DD [HH:MM:SS[.ffffff]]', got {args.as_of!r}")
        for flag, val in (("--date-from", args.date_from), ("--date-to", args.date_to)):
            if val and not _valid_date(val):
                return _err(f"{flag} must be 'YYYY-MM-DD', got {val!r}")

    from batch_data_pipeline_exercise_spark.plans import metrics
    from batch_data_pipeline_exercise_spark.plans.inventory import forward_fill_daily
    from batch_data_pipeline_exercise_spark.plans.pipeline import Pipeline

    spark = _spark()
    recycle_every = getattr(args, "recycle_session_every", 0)
    if recycle_every < 0:
        return _err(f"--recycle-session-every must be >= 0, got {recycle_every}")
    pipe = Pipeline(spark, args.warehouse, recycle_session_every=recycle_every)

    if args.cmd == "init":
        pipe.init_dates()
        print(json.dumps({"ok": True, "dim_dates_rows": pipe.wh.read("dim_dates").count()}))
        return 0

    if args.cmd == "run":
        if not pipe.wh.exists("dim_dates"):
            pipe.init_dates()
        # same out-of-order rule as backfill: replaying an OLD snapshot
        # over newer SCD2 state would close open rows with end < start
        # and silently corrupt dimension history. A day behind the
        # feed's high-watermark needs a rebuild, not a replay.
        ds = _norm_ds(args.ts)
        done = _done_days(pipe, args.feed)
        max_done = max(done) if done else None
        if max_done is not None and ds < max_done:
            return _err(
                f"out-of-order drop refused: {args.feed} already processed "
                f"through {max_done}, got {ds} — rebuild instead of replaying"
            )
        getattr(pipe, f"run_{args.feed}")(args.csv, ts=args.ts)
        # record the task instance so a later backfill can see this day
        # ran and guard against out-of-order snapshot replay
        _mark_done(pipe, args.feed, ds)
        print(json.dumps({"ok": True, "feed": args.feed, "ts": args.ts}))
        return 0

    if args.cmd == "metric":
        wh = pipe.wh
        name = args.name
        needed = {
            "current_orders_by_status": ["dim_orders"],
            "orders_created_per_quarter": ["fact_orders_created", "dim_dates"],
            "orders_created_per_quarter_category": ["fact_orders_created", "dim_products", "dim_dates"],
            "retained_orders": ["fact_orders_created", "dim_orders"],
            "monthly_created_not_completed": ["fact_orders_created", "dim_orders"],
            "daily_stock_by_category": ["fact_inventory", "dim_products"],
            "month_end_stock_by_category": ["fact_inventory", "dim_products", "dim_dates"],
        }[name]
        if name in ("daily_stock_by_category", "month_end_stock_by_category") and not (
            args.date_from and args.date_to
        ):
            print(
                json.dumps({"ok": False, "error": f"{name} requires --date-from and --date-to"}),
                file=sys.stderr,
            )
            return 2
        missing = [t for t in needed if not wh.exists(t)]
        if missing:
            print(
                json.dumps(
                    {"ok": False, "error": f"warehouse tables missing: {missing}; run the feeds first"}
                ),
                file=sys.stderr,
            )
            return 2
        if name == "current_orders_by_status":
            df = metrics.current_orders_by_status(wh.read("dim_orders"), args.as_of)
        elif name == "orders_created_per_quarter":
            df = metrics.orders_created_per_quarter(wh.read("fact_orders_created"), wh.read("dim_dates"))
        elif name == "orders_created_per_quarter_category":
            df = metrics.orders_created_per_quarter_category(
                wh.read("fact_orders_created"), wh.read("dim_products"), wh.read("dim_dates")
            )
        elif name == "retained_orders":
            df = metrics.retained_orders(wh.read("fact_orders_created"), wh.read("dim_orders"), args.as_of)
        elif name == "monthly_created_not_completed":
            df = metrics.monthly_created_not_completed(wh.read("fact_orders_created"), wh.read("dim_orders"))
        else:
            # prune to the query window instead of densifying all of
            # history: snapshots after date_to are irrelevant (partition
            # pruning on snapshot_date), and everything before date_from
            # collapses to one seed row per product (its latest amount,
            # re-dated to the day before the window) — the forward fill
            # then spans only [date_from - 1, date_to]
            d_from = F.lit(args.date_from).cast("date")
            base = (
                wh.read("fact_inventory")
                .filter(F.col("snapshot_date") <= F.lit(args.date_to).cast("date"))
                .select("product_id", F.col("snapshot_date").alias("date"), "amount")
            )
            in_win = base.filter(F.col("date") >= d_from)
            seed = (
                base.filter(F.col("date") < d_from)
                .groupBy("product_id")
                .agg(F.max(F.struct("date", "amount")).alias("__s"))
                .select(
                    "product_id",
                    F.date_sub(d_from, 1).alias("date"),
                    F.col("__s.amount").alias("amount"),
                )
            )
            daily = forward_fill_daily(in_win.unionByName(seed), horizon=args.date_to)
            if name == "daily_stock_by_category":
                df = metrics.daily_stock_by_category(daily, wh.read("dim_products"), args.date_from, args.date_to)
            else:
                df = metrics.month_end_stock_by_category(
                    daily, wh.read("dim_products"), wh.read("dim_dates"), args.date_from, args.date_to
                )
        _print_df(df, limit=args.limit)
        return 0

    if args.cmd == "backfill":
        import os
        from datetime import timedelta

        if not pipe.wh.exists("dim_dates"):
            pipe.init_dates()
        # task-instance bookkeeping, the orchestrator-catchup semantics:
        # a (feed, ds) that already succeeded is NEVER re-run, and a day
        # EARLIER than the feed's newest processed day is refused —
        # replaying an OLD snapshot over newer SCD2 state would rewrite
        # dimension history (snapshot merges assume ts-ordered arrival).
        # Backfill idempotency comes from skipping done work; filling a
        # hole behind the high-watermark needs a rebuild, not a replay.
        # Marks are written PER DAY (not batched at the end): a crash
        # mid-range must not leave run-but-unlogged days that a resume
        # would replay out of order.
        done = _done_days(pipe, args.feed)
        max_done = max(done) if done else None
        day = datetime.strptime(args.date_from, "%Y-%m-%d")
        end = datetime.strptime(args.date_to, "%Y-%m-%d")
        ran, skipped, already, out_of_order = [], [], [], []
        code = 0
        error = None
        while day <= end:
            ds = day.strftime("%Y-%m-%d")
            path = os.path.join(args.csv_dir, f"{args.feed}_{ds}.csv")
            if ds in done:
                already.append(ds)
            elif max_done is not None and ds < max_done:
                out_of_order.append(ds)
            elif os.path.exists(path):
                getattr(pipe, f"run_{args.feed}")(path, ts=f"{ds} 00:00:00")
                _mark_done(pipe, args.feed, ds)
                max_done = ds if max_done is None or ds > max_done else max_done
                ran.append(ds)
            elif args.strict:
                code, error = 2, f"missing drop for {ds}: {path}"
                break
            else:
                skipped.append(ds)
            day += timedelta(days=1)
        if ran and pipe.wh.file_count("_backfill_log") > 64:
            pipe.wh.compact("_backfill_log")  # one tiny file per mark otherwise
        report = {
            "ok": code == 0,
            "feed": args.feed,
            "days_run": ran,
            "days_skipped": skipped,
            "days_already_done": already,
            "days_out_of_order_refused": out_of_order,
            "session_recycles": pipe.session_recycles,
        }
        if error:
            # the partial-run record rides the error: an operator must be
            # able to tell a no-op failure from days already written
            report["error"] = error
            print(json.dumps(report), file=sys.stderr)
        else:
            print(json.dumps(report))
        return code

    if args.cmd == "corpus":
        import os

        from batch_data_pipeline_exercise_spark.plans.corpus_pipeline import (
            CorpusContractError,
            CorpusPipeline,
        )

        if not _valid_date(args.ds):
            return _err(f"--ds must be 'YYYY-MM-DD', got {args.ds!r}")
        if not os.path.exists(args.docs):
            return _err(f"--docs path not found: {args.docs}")
        if args.embeddings and not os.path.exists(args.embeddings):
            return _err(f"--embeddings path not found: {args.embeddings}")
        def _budget_knob(raw: str) -> int | str | None:
            if raw == "off":
                return None
            if raw == "auto":
                return "auto"
            return int(raw)  # guard below guarantees this parses

        # strict decimal form: int() alone would quietly accept
        # underscore/whitespace/sign forms ('1_0' -> 10, ' 5 ' -> 5) the
        # error message implies are invalid; everything the regex admits
        # parses identically inside _budget_knob, so guard and knob can
        # never disagree
        for raw in (args.max_text_candidates, args.max_embedding_candidates):
            if raw in ("auto", "off"):
                continue
            if not re.fullmatch(r"\d+", raw):
                return _err(
                    f"budget must be a non-negative integer, 'auto', or 'off', got {raw!r}"
                )
        if args.expected_corpus_docs is not None and not re.fullmatch(
            r"\d+", args.expected_corpus_docs
        ):
            return _err(
                f"--expected-corpus-docs must be a non-negative integer, "
                f"got {args.expected_corpus_docs!r}"
            )
        if args.min_recall is not None and not 0.0 < args.min_recall < 1.0:
            return _err(f"--min-recall must be in (0, 1), got {args.min_recall!r}")
        sizing = {}
        if args.expected_corpus_docs is not None:
            sizing["expected_corpus_docs"] = int(args.expected_corpus_docs)
            if args.min_recall is not None:
                sizing["min_recall"] = args.min_recall
        elif args.min_recall is not None:
            return _err("--min-recall requires --expected-corpus-docs")
        try:
            cp = CorpusPipeline(
                spark,
                args.warehouse,
                max_text_candidates=_budget_knob(args.max_text_candidates),
                max_embedding_candidates=_budget_knob(args.max_embedding_candidates),
                **sizing,
            )
        except ValueError as e:
            # sizing refusals raise at CONSTRUCTION time — the
            # MAX_SKETCH_WIDTH CorpusContractError (a ValueError
            # subclass) and bands_rows_for's infeasible-sizing
            # ValueError — and must exit through the same JSON error
            # contract as every other corpus-command failure, not a raw
            # traceback
            return _err(str(e))
        emb = spark.read.parquet(args.embeddings) if args.embeddings else None
        try:
            stats = cp.run(spark.read.parquet(args.docs), args.ds, embeddings=emb)
        except CorpusContractError as e:
            # embedding-indexed run without --embeddings, or an
            # over-budget LSH stage (refusal carries the sizing
            # suggestion) — both are contract refusals, non-zero exit
            return _err(str(e))
        print(json.dumps({"ok": True, **stats}))
        return 0

    if args.cmd == "audit":
        from batch_data_pipeline_exercise_spark.operators.audit import content_checksum

        wh = pipe.wh
        if not wh.exists(args.table):
            return _err(f"table {args.table!r} not found in warehouse")
        df = wh.read(args.table)
        if args.group_col and args.group_col not in df.columns:
            return _err(f"--group-col {args.group_col!r} not in table columns {df.columns}")
        # canonicalize every column as its string cast — sufficient for
        # Spark-to-Spark replica comparison (both sides stringify
        # identically); cross-engine audits go through the contract
        # query's explicitly-canonicalized form instead. df[c] (not
        # F.col) so a column literally named "a.b" resolves instead of
        # parsing as struct-field access
        cols = [df[c].cast("string") for c in df.columns]
        out = content_checksum(df, cols, group_cols=[args.group_col] if args.group_col else None)
        _print_df(out, limit=args.limit)
        return 0

    return 1


if __name__ == "__main__":
    sys.exit(main())
