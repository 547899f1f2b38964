"""SCD Type-2 operators — the reference's two flagship algorithms, Spark-first.

Reference semantics (SURVEY.md §2.12):

- M1 "snapshot merge": close current dim rows whose attributes differ from
  today's full snapshot, insert changed+new rows with ``start_time = ts``
  (reference ``examples/process_orders_sqls.py:28-51``).
- M2 "event-log SCD2": derive per-key validity intervals from an event
  stream — dedup duplicate deliveries, collapse consecutive same-value
  events, chain each change to its successor's event time, sentinel-close
  the last (reference ``process_orders_sqls.py:92-133``).

Both are rewritten as deterministic, idempotent DataFrame rebuilds — there
is no UPDATE on Parquet, and rebuild-from-history sidesteps the reference's
cross-batch overlapping-interval quirk (SURVEY.md §2.12 M2 note).

Scale notes: M2 is one window per key — a single hash shuffle on the key,
linear in events, and skew-safe under AQE. M1 is one full-outer join on the
key (snapshot side is a daily feed; dim side prunes to open rows only).
The reference's rn-to-rn-1 self-join (J5) is replaced by ``F.lead``, which
halves the shuffles.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from batch_data_pipeline_exercise_spark.functions.core import ts_lit
from batch_data_pipeline_exercise_spark.schemas import SCD2_SENTINEL


def scd2_from_events(
    events: DataFrame,
    key: str,
    attr_cols: list[str],
    time_col: str,
    extra_cols: list[str] | None = None,
    collapse_consecutive: bool = True,
) -> DataFrame:
    """Validity intervals from a full event log (M2, rebuild style).

    Steps (all within one ``Window.partitionBy(key).orderBy(time_col)``
    shuffle):

    1. drop duplicate deliveries — ``(key, time)`` is the uniqueness
       contract (reference README.md:41);
    2. collapse consecutive same-attribute events, keeping the first of
       each run (reference's W2, ``process_orders_sqls.py:107-115``) —
       done null-safely via lag over an attr struct;
    3. ``lead(time)`` is the successor's start → this row's ``end_time``,
       sentinel for the open row (replaces the reference's rn = rn-1
       self-join J5).

    Returns columns: key, attrs, extra_cols, ``start_time``, ``end_time``.
    """
    w = Window.partitionBy(key).orderBy(time_col)
    attrs = F.struct(*[F.col(c) for c in attr_cols])
    keep = [key, *attr_cols, *(extra_cols or []), time_col]

    df = events.select(*dict.fromkeys(keep)).dropDuplicates([key, time_col])
    if collapse_consecutive:
        df = (
            df.withColumn("__prev", F.lag(attrs).over(w))
            .filter(F.col("__prev").isNull() | ~attrs.eqNullSafe(F.col("__prev")))
            .drop("__prev")
        )
    df = df.withColumn("start_time", F.col(time_col)).withColumn(
        "end_time",
        F.coalesce(F.lead(time_col).over(w), F.lit(SCD2_SENTINEL).cast("timestamp")),
    )
    if time_col not in (extra_cols or []):
        df = df.drop(time_col)
    return df


def scd2_merge_events(
    prior_dim: DataFrame | None,
    new_events: DataFrame,
    key: str,
    attr_cols: list[str],
    time_col: str,
    extra_cols: list[str] | None = None,
    collapse_consecutive: bool = True,
) -> DataFrame:
    """Incremental M2: merge one event batch into an existing SCD2
    dimension, touching ONLY keys present in the batch.

    The reference's cross-batch M2 (``process_orders_sqls.py:92-133``)
    appends new intervals against the stored dim; at 100 TB of events the
    full-history rebuild (``scd2_from_events``) re-reads everything each
    batch, so this operator re-derives just the touched keys:

    1. split ``prior_dim`` by membership of ``key`` in the batch — the
       untouched majority passes through with NO shuffle of its rows
       (anti/semi joins, broadcast when the batch key set is small);
    2. reconstruct the touched keys' collapsed event sequence from their
       intervals — lossless, because every interval row is exactly the
       first event of a run at ``start_time``;
    3. re-run the interval derivation on (reconstructed ∪ batch) for
       those keys only, then union the untouched history back.

    Exactness contract (vs ``scd2_from_events`` over the concatenated
    full history): the result is identical whenever, per key, no batch
    event falls strictly INSIDE a collapsed run — i.e. between a run's
    first event and a later same-value event that collapse absorbed.
    Appending batches (the common case), prepending/late batches, and
    events landing between runs are all exact — including re-merging the
    same batch (idempotent under the (key, time) delivery contract), and
    without the reference's overlapping-interval append quirk. The one
    approximate case: with ``collapse_consecutive=True`` the dim no
    longer records a run's absorbed repeats, so an event splitting that
    run cannot restore the repeat-driven reversion a full-log rebuild
    would emit (pinned by a regression test). Store the dim with
    ``collapse_consecutive=False`` (and collapse at read time) to make
    every merge exact, or rebuild from the event log when interior
    lateness matters.
    """
    if prior_dim is None:
        return scd2_from_events(
            new_events, key, attr_cols, time_col, extra_cols, collapse_consecutive
        )
    base_cols = list(dict.fromkeys([key, *attr_cols, *(extra_cols or [])]))
    event_cols = list(dict.fromkeys([*base_cols, time_col]))

    keys = new_events.select(key).distinct()
    untouched = prior_dim.join(keys, key, "left_anti")
    touched = prior_dim.join(keys, key, "left_semi")
    if time_col in base_cols:
        replay = touched.select(*event_cols)
    else:
        replay = touched.select(*base_cols, F.col("start_time").alias(time_col))
    rederived = scd2_from_events(
        replay.unionByName(new_events.select(*event_cols)),
        key,
        attr_cols,
        time_col,
        extra_cols,
        collapse_consecutive,
    )
    return untouched.unionByName(rederived)


def scd2_snapshot_merge(
    dim: DataFrame | None,
    snapshot: DataFrame,
    key: str,
    attr_cols: list[str],
    ts: datetime | str,
) -> DataFrame:
    """Merge a full daily snapshot into an SCD2 dimension (M1).

    Classification via one full-outer join of the dim's *open* slice with
    the snapshot on the key (closed history rows pass through untouched):

    - unchanged (attrs equal, null-safely)      → keep open row
    - changed                                   → close old row at ``ts``,
                                                  open new row [ts, sentinel)
    - dim-only (product vanished from snapshot) → keep open row (reference
                                                  behavior: never closes)
    - snapshot-only (brand new)                 → open new row [ts, sentinel)

    ``snapshot`` must carry the key + attr_cols (+ ``processed_time`` if
    present, which is propagated). ``dim`` may be ``None`` on the first run.
    """
    t = ts_lit(ts)
    sent = F.lit(SCD2_SENTINEL).cast("timestamp")
    snap_cols = snapshot.columns

    new_rows_from = lambda df: df.select(  # noqa: E731
        *[F.col(f"s.{c}").alias(c) for c in snap_cols],
        t.alias("start_time"),
        sent.alias("end_time"),
    )

    if dim is None:
        return new_rows_from(snapshot.alias("s"))

    closed = dim.filter(F.col("end_time") != sent)
    open_rows = dim.filter(F.col("end_time") == sent)

    # explicit presence markers, NOT key-nullity: a NULL-key open dim row
    # joins nothing, and key-nullity classification would silently drop
    # it from the rebuilt dimension — with markers it is retained as a
    # dim-only row, and a NULL-key snapshot row is inserted with its
    # actual values instead of injecting an all-NULL row
    d_side = open_rows.withColumn("__dp", F.lit(True)).alias("d")
    s_side = snapshot.withColumn("__sp", F.lit(True)).alias("s")
    j = d_side.join(s_side, on=F.col(f"d.{key}") == F.col(f"s.{key}"), how="full_outer")
    dim_present = F.col("d.__dp").isNotNull()
    snap_present = F.col("s.__sp").isNotNull()

    changed_pred = F.lit(False)
    for c in attr_cols:
        changed_pred = changed_pred | ~F.col(f"d.{c}").eqNullSafe(F.col(f"s.{c}"))

    # ONE pass over the joined rows: Spark performs no common-subtree
    # elimination across UNION branches, so the previous
    # filter/filter/filter + union form executed the full-outer join —
    # and the ENTIRE upstream dim plan (which, for chained merges, is
    # itself a merge) — once per branch. Each joined row instead emits
    # its 0–2 output rows as an array of structs; explode keeps it
    # whole-stage-codegen'd and the join/shuffle happens exactly once.
    dim_cols = dim.columns

    def _row(values: dict[str, "F.Column"]) -> "F.Column":
        return F.struct(*[values[c].alias(c) for c in dim_cols])

    d_vals = {c: F.col(f"d.{c}") for c in dim_cols}
    keep_open = _row(d_vals)
    close_old = _row({**d_vals, "end_time": t})
    open_new = _row(
        {c: F.col(f"s.{c}") for c in snap_cols} | {"start_time": t, "end_time": sent}
    )
    emitted = j.select(
        F.explode(
            F.array_compact(
                F.array(
                    F.when(dim_present & (~snap_present | ~changed_pred), keep_open),
                    F.when(dim_present & snap_present & changed_pred, close_old),
                    F.when(snap_present & (~dim_present | changed_pred), open_new),
                )
            )
        ).alias("__r")
    ).select("__r.*")

    return closed.unionByName(emitted)


def current_slice(dim: DataFrame, at: datetime | str, start: str = "start_time", end: str = "end_time") -> DataFrame:
    """Rows valid at ``at`` — the point-in-time filter P3."""
    t = ts_lit(at)
    return dim.filter((t >= F.col(start)) & (t < F.col(end)))
