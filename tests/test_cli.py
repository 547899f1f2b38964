"""CLI argument-validation tests — malformed timestamps must fail fast
with exit 2 and a JSON error, never reach the engine (where non-ANSI
casts would silently turn them into NULLs)."""

from __future__ import annotations

import json

import pytest

from batch_data_pipeline_exercise_spark.__main__ import main


def run_cli(capsys, argv):
    code = main(argv)
    captured = capsys.readouterr()
    err = json.loads(captured.err) if captured.err else None
    return code, err


@pytest.mark.parametrize(
    "argv, needle",
    [
        (["run", "--feed", "orders", "--csv", "x.csv", "--ts", "garbage", "--warehouse", "/tmp/w"], "--ts"),
        (["run", "--feed", "orders", "--csv", "x.csv", "--ts", "2021-13-45 99:00:00", "--warehouse", "/tmp/w"], "--ts"),
        (["metric", "--name", "current_orders_by_status", "--warehouse", "/tmp/w"], "requires --as-of"),
        (["metric", "--name", "retained_orders", "--warehouse", "/tmp/w"], "requires --as-of"),
        (["metric", "--name", "current_orders_by_status", "--as-of", "not-a-ts", "--warehouse", "/tmp/w"], "--as-of"),
        (
            ["metric", "--name", "daily_stock_by_category", "--date-from", "2021/01/01",
             "--date-to", "2021-02-01", "--warehouse", "/tmp/w"],
            "--date-from",
        ),
    ],
)
def test_invalid_args_exit_2_with_json_error(capsys, argv, needle):
    code, err = run_cli(capsys, argv)
    assert code == 2
    assert err is not None and err["ok"] is False and needle in err["error"]


def test_valid_ts_formats_pass_validation():
    from batch_data_pipeline_exercise_spark.__main__ import _valid_ts

    assert _valid_ts("2021-03-01 01:00:00")
    assert _valid_ts("2021-03-01 01:00:00.123456")
    assert _valid_ts("2021-03-01")
    assert not _valid_ts("01-03-2021")
    assert not _valid_ts("")


def test_audit_subcommand_end_to_end(capsys, spark, tmp_path):
    """audit prints per-group (n_rows, checksum) JSON lines; identical
    tables fingerprint identically, a tampered one diverges."""
    from batch_data_pipeline_exercise_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [("g1", 1, "a"), ("g1", 2, "b"), ("g2", 3, "c")], "g string, id int, v string"
    )
    wh.overwrite(df, "t")
    code = main(["audit", "--table", "t", "--group-col", "g", "--warehouse", str(tmp_path / "wh")])
    out1 = {json.loads(l)["g"]: json.loads(l) for l in capsys.readouterr().out.strip().splitlines()}
    assert code == 0 and set(out1) == {"g1", "g2"} and out1["g1"]["n_rows"] == 2

    # same data re-written in a different order/partitioning → same checksums
    wh.overwrite(df.repartition(3), "t")
    main(["audit", "--table", "t", "--group-col", "g", "--warehouse", str(tmp_path / "wh")])
    out2 = {json.loads(l)["g"]: json.loads(l) for l in capsys.readouterr().out.strip().splitlines()}
    assert {k: v["checksum"] for k, v in out1.items()} == {k: v["checksum"] for k, v in out2.items()}

    # missing table / bad group col fail fast
    assert main(["audit", "--table", "ghost", "--warehouse", str(tmp_path / "wh")]) == 2
    capsys.readouterr()
    assert main(["audit", "--table", "t", "--group-col", "nope", "--warehouse", str(tmp_path / "wh")]) == 2
    capsys.readouterr()


def test_backfill_runs_range_skips_missing_and_is_idempotent(capsys, spark, tmp_path):
    wh_dir = str(tmp_path / "wh")
    args = ["backfill", "--feed", "products", "--csv-dir", "tests/fixtures",
            "--date-from", "2021-03-01", "--date-to", "2021-03-03", "--warehouse", wh_dir]
    code = main(args)
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert code == 0 and out["days_run"] == ["2021-03-01", "2021-03-02"]
    assert out["days_skipped"] == ["2021-03-03"]  # no products file that day

    from batch_data_pipeline_exercise_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, wh_dir)
    before = sorted(map(tuple, wh.read("dim_products").collect()), key=repr)
    # re-running the same backfill is a no-op: succeeded (feed, ds) task
    # instances are skipped via the bookkeeping log (replaying an old
    # snapshot over newer SCD2 state would rewrite history)
    main(args)
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["days_run"] == [] and out2["days_already_done"] == ["2021-03-01", "2021-03-02"]
    assert sorted(map(tuple, wh.read("dim_products").collect()), key=repr) == before

    # strict mode fails fast on the hole
    code = main(args + ["--strict"])
    err = json.loads(capsys.readouterr().err)
    assert code == 2 and "2021-03-03" in err["error"]


def test_backfill_validates_dates(capsys):
    code, err = run_cli(capsys, ["backfill", "--feed", "orders", "--csv-dir", "x",
                                 "--date-from", "2021-03-05", "--date-to", "2021-03-01",
                                 "--warehouse", "/tmp/w"])
    assert code == 2 and "after" in err["error"]


def test_backfill_refuses_out_of_order_days(capsys, spark, tmp_path):
    """A day behind the feed's processed high-watermark is refused —
    replaying an old snapshot over newer SCD2 state would rewrite
    dimension history; the regular run command's log entry counts."""
    wh_dir = str(tmp_path / "wh")
    # process 03-02 via the regular run path first
    main(["run", "--feed", "products", "--csv", "tests/fixtures/products_2021-03-02.csv",
          "--ts", "2021-03-02 01:00:00", "--warehouse", wh_dir])
    capsys.readouterr()
    # backfilling 03-01 must now be refused, not replayed
    code = main(["backfill", "--feed", "products", "--csv-dir", "tests/fixtures",
                 "--date-from", "2021-03-01", "--date-to", "2021-03-02", "--warehouse", wh_dir])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert code == 0
    assert out["days_out_of_order_refused"] == ["2021-03-01"]
    assert out["days_already_done"] == ["2021-03-02"]
    assert out["days_run"] == []


def test_run_refuses_out_of_order_snapshot(capsys, spark, tmp_path):
    """run must apply the same high-watermark rule as backfill: an old
    snapshot replayed over newer SCD2 state corrupts dimension history."""
    import csv as _csv

    wh = str(tmp_path / "wh")

    def drop(path, rows):
        with open(path, "w", newline="") as f:
            w = _csv.writer(f)
            w.writerow(["id", "title", "category", "price"])
            w.writerows(rows)

    p1 = tmp_path / "p1.csv"
    drop(p1, [["a", "T", "C", "1.00"]])
    assert main(["run", "--feed", "products", "--csv", str(p1), "--ts", "2021-03-05 00:00:00", "--warehouse", wh]) == 0
    capsys.readouterr()
    code, err = run_cli(capsys, [
        "run", "--feed", "products", "--csv", str(p1), "--ts", "2021-03-02 00:00:00", "--warehouse", wh,
    ])
    assert code == 2 and "out-of-order" in err["error"]


def test_mark_done_normalizes_lenient_timestamps(capsys, spark, tmp_path):
    """strptime accepts '2021-3-2 1:00:00'; the recorded ds must still be
    zero-padded or the backfill watermark's lexicographic compare breaks."""
    import csv as _csv

    wh = str(tmp_path / "wh")
    p1 = tmp_path / "p1.csv"
    with open(p1, "w", newline="") as f:
        w = _csv.writer(f)
        w.writerow(["id", "title", "category", "price"])
        w.writerow(["a", "T", "C", "1.00"])
    assert main(["run", "--feed", "products", "--csv", str(p1), "--ts", "2021-3-2 1:00:00", "--warehouse", wh]) == 0
    capsys.readouterr()
    from batch_data_pipeline_exercise_spark.__main__ import _done_days
    from batch_data_pipeline_exercise_spark.plans.pipeline import Pipeline

    days = _done_days(Pipeline(spark, wh), "products")
    assert days == {"2021-03-02"}
