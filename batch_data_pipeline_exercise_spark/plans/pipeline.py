"""Pipeline runner — the engine's replacement for the reference's Airflow
DAGs.

Task graph mirrored from reference ``examples/process_orders.py:54-131``
(sensor → normalize → DDL → load → dim/fact transforms) and
``create_dim_dates.py``, re-expressed as function composition. Spark's
lazy DAG provides the ordering inside each write; between writes the
runner keeps the reference's task graph, including its fan-out: after
staging, ``process_orders.py:115`` runs ``[dim, fact]`` in parallel, and
``run_orders`` likewise runs three independent branches concurrently
(``_fan_out``) once ``stg_orders`` is written:

- the ``events_orders`` append and the ``dim_orders`` rebuild from it;
- the ``_fact_dates_rejects`` dead-letter probe and its append;
- the ``fact_orders_created`` idempotent append.

Each branch writes its own tables and reads only ``stg_orders``,
``dim_dates`` and what it writes. The branches inherit the caller's job
group and tags. A failing branch does not cancel the others: the run
waits for all of them and then raises the first failure, so no write is
in flight after ``run_orders`` returns or raises. Re-running the same
feed day then completes what the failed branch left undone and is a
no-op for the branches that finished (every layer below is idempotent).

Layer contract per run(ds, ts):

- ``stg_*``: truncate-reload (overwrite) — reference ``:12,64``;
- ``events_orders`` bronze: append-once event log (dedup on (id, time)),
  the substrate for deterministic dim_orders rebuilds;
- ``dim_products``: SCD2 snapshot merge (M1);
- ``dim_orders``: SCD2 rebuild from the full bronze log (M2, rebuild
  style — idempotent by construction, avoids the reference's cross-batch
  overlap quirk);
- ``fact_orders_created``: anti-join idempotent append (M3);
- ``fact_inventory``: append-once changed-only snapshots.

Re-running any stage with the same (ds, ts) is a no-op (tested).
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from batch_data_pipeline_exercise_spark import schemas
from batch_data_pipeline_exercise_spark.operators import sketches
from batch_data_pipeline_exercise_spark.operators.facts import idempotent_append_rows
from batch_data_pipeline_exercise_spark.operators.scd2 import scd2_from_events, scd2_snapshot_merge
from batch_data_pipeline_exercise_spark.plans.dates import build_dim_dates
from batch_data_pipeline_exercise_spark.sources.csv_feed import read_csv_feed
from batch_data_pipeline_exercise_spark.sources.warehouse import Warehouse


class Pipeline:
    def __init__(
        self,
        spark: SparkSession,
        warehouse_root: str,
        recycle_session_every: int = 0,
        extra_conf: dict[str, str] | None = None,
    ):
        self.spark = spark
        self.wh = Warehouse(spark, warehouse_root)
        #: confs to replay into every recycled session. Since r13 the
        #: recycle also snapshots the LIVE session's explicitly-set
        #: confs (``session.rebuild_session``), so this dict is
        #: belt-and-braces for SQL confs; it remains the only channel
        #: for settings ``SET`` does not list
        self.extra_conf = dict(extra_conf) if extra_conf else None
        #: opt-in (0 = off): rebuild the SparkSession after every N
        #: completed feed runs. Long-lived local sessions accumulate JVM
        #: state ``_clear_session_state`` cannot drop (README: an 8 GB
        #: session OOMed on its 8th heavy sf10 query; a fresh session ran
        #: the same query in 45 s) — this knob turns the documented
        #: fresh-session-per-run discipline into pipeline behavior. Safe
        #: by construction: every run_* starts from a CSV path and the
        #: warehouse, and ends with all layers persisted, so the
        #: warehouse IS the checkpoint at each recycle boundary.
        self.recycle_session_every = recycle_session_every
        self._runs_since_recycle = 0
        #: observability: how many times this pipeline recycled its session
        self.session_recycles = 0

    # -- session lifecycle ----------------------------------------------------

    def recycle_session(self) -> SparkSession:
        """Stop the bound SparkSession and rebind this pipeline (and its
        warehouse) to a fresh one carrying the same master, app name,
        shuffle-partition setting, the constructor's ``extra_conf``, AND
        every explicitly-set session conf of the live session — runtime
        ``spark.conf.set`` calls included (``session.rebuild_session``
        snapshots the ``SET`` list before stopping; r12 verdict task 5 —
        previously a runtime set silently vanished here and could bite
        on day 6 of a soak). All pipeline state lives in the warehouse,
        so this is legal at any feed-run boundary. NOTE: any DataFrames
        the CALLER holds from the old session are dead after this —
        callers interleaving their own Spark work must re-create it
        from ``pipeline.spark``."""
        from batch_data_pipeline_exercise_spark.session import rebuild_session

        root = self.wh.root
        self.spark = rebuild_session(self.spark, extra_conf=self.extra_conf)
        self.wh = Warehouse(self.spark, root)
        self._runs_since_recycle = 0
        self.session_recycles += 1
        return self.spark

    def _fan_out(self, *branches: Callable[[], None]) -> None:
        """Run independent branches concurrently, each on a thread that
        inherits this thread's job group, job tags and local properties
        (captured when the branch is wrapped), so their Spark jobs are
        attributed like the caller's own. Waits for every branch, then
        re-raises the first failure in branch order: no write is still in
        flight when this returns or raises."""
        with ThreadPoolExecutor(max_workers=len(branches)) as pool:
            futures = [pool.submit(inheritable_thread_target(self.spark)(b)) for b in branches]
        for f in futures:
            f.result()

    def _maybe_recycle(self) -> None:
        """Called at the end of each run_* (a layer boundary: everything
        the run produced is already in the warehouse)."""
        self._runs_since_recycle += 1
        if self.recycle_session_every and self._runs_since_recycle >= self.recycle_session_every:
            self.recycle_session()

    # -- dim_dates (reference create_dim_dates.py) --------------------------

    def init_dates(self) -> None:
        if not self.wh.exists("dim_dates"):
            self.wh.overwrite(build_dim_dates(self.spark), "dim_dates")

    # -- products feed (reference process_orders.py:23-68) ------------------

    def run_products(self, csv_path: str, ts: datetime | str) -> None:
        stg = read_csv_feed(self.spark, csv_path, schemas.PRODUCTS_FEED, ts)
        # a duplicate id within one snapshot drop would match the open
        # dim row TWICE in the full-outer merge and emit overlapping
        # validity intervals; keep one row per id deterministically
        # (greatest attribute struct — content-stable, not file-order)
        stg = (
            stg.groupBy("id")
            .agg(F.max(F.struct("title", "category", "price", "processed_time")).alias("__r"))
            .select("id", "__r.title", "__r.category", "__r.price", "__r.processed_time")
        )
        self.wh.overwrite(stg, "stg_products")

        dim_prev = self.wh.read("dim_products") if self.wh.exists("dim_products") else None
        dim = scd2_snapshot_merge(
            dim_prev,
            self.wh.read("stg_products"),
            key="id",
            attr_cols=["title", "category", "price"],
            ts=ts,
        )
        self.wh.overwrite(dim, "dim_products")
        self._maybe_recycle()

    # -- order events feed (reference process_orders.py:71-131) -------------

    def run_orders(self, csv_path: str, ts: datetime | str) -> None:
        stg = read_csv_feed(
            self.spark,
            csv_path,
            schemas.ORDER_EVENTS_FEED,
            ts,
            renames={
                "productId": "product_id",
                "totalPrice": "total_price",
                "timestamp": "event_time",
            },
        )
        self.wh.overwrite(stg, "stg_orders")
        stg = self.wh.read("stg_orders")
        dates = self.wh.read("dim_dates")

        def dim_orders() -> None:
            # bronze event log: append-once on (id, event_time) — the
            # reference's uniqueness contract (README.md:41)
            self.wh.append_once(stg, "events_orders", keys=["id", "event_time"])
            # dim_orders: deterministic rebuild from the full log (M2)
            log = self.wh.read("events_orders")
            dim = scd2_from_events(
                log.withColumnRenamed("id", "order_id"),
                key="order_id",
                attr_cols=["status"],
                time_col="event_time",
                extra_cols=["processed_time", "event_time"],
            ).select("order_id", "status", "event_time", "processed_time", "start_time", "end_time")
            self.wh.overwrite(dim, "dim_orders")

        def dead_letter() -> None:
            # events outside dim_dates' calendar (pre-1970 / post-2049 —
            # an upstream timestamp bug) would vanish from the fact while
            # still counting in dim_orders; dead-letter them so the
            # divergence is visible instead of silent
            rejects = stg.join(
                F.broadcast(dates.select("datum")), F.to_date(stg.event_time) == F.col("datum"), "left_anti"
            )
            if rejects.limit(1).count() > 0:
                # append_once, not append: re-running the same feed day is
                # a no-op for the fact (idempotent_append_rows), so the
                # dead letter must be replay-guarded too or every re-run
                # doubles the divergence signal. Same key as the feed's
                # uniqueness contract.
                self.wh.append_once(rejects, "_fact_dates_rejects", keys=["id", "event_time"])

        def fact_orders_created() -> None:
            # earliest event per order wins (M3)
            candidates = (
                stg.join(F.broadcast(dates), F.to_date(stg.event_time) == dates.datum)
                .select(
                    stg.id.alias("order_id"),
                    "product_id",
                    dates.id.alias("created_date_id"),
                    F.col("event_time").alias("created_time"),
                    "amount",
                    "total_price",
                    "processed_time",
                )
            )
            existing = self.wh.read("fact_orders_created") if self.wh.exists("fact_orders_created") else None
            rows = idempotent_append_rows(existing, candidates, key="order_id", order_cols=["created_time"])
            # date-partitioned for pruning: metric queries filter by
            # creation date, so scans touch only the partitions in range.
            # The partition column is a DateType derived from
            # created_time — partitioning by the yyyymmdd STRING key would
            # get type-inferred back as INT on read, silently breaking the
            # declared schema.
            rows = rows.withColumn("created_date", F.to_date("created_time"))
            if existing is not None:
                self.wh.append(rows, "fact_orders_created", partition_by=["created_date"])
            else:
                self.wh.overwrite(rows, "fact_orders_created", partition_by=["created_date"])

        # the reference's [dim, fact] fan-out (process_orders.py:115): the
        # three branches write disjoint tables and read only stg_orders,
        # dim_dates and their own table
        self._fan_out(dim_orders, dead_letter, fact_orders_created)
        self._maybe_recycle()

    # -- inventory feed (reference README.md:55-61) -------------------------

    def run_inventory(self, csv_path: str, ts: datetime | str) -> None:
        stg = read_csv_feed(
            self.spark, csv_path, schemas.INVENTORY_FEED, ts, renames={"productId": "product_id"}
        ).withColumnRenamed("date", "snapshot_date")
        self.wh.append_once(
            stg, "fact_inventory", keys=["product_id", "snapshot_date"], partition_by=["snapshot_date"]
        )
        self._maybe_recycle()

    # -- periodic maintenance ----------------------------------------------

    #: append-heavy tables that accumulate small files batch over batch
    MAINTAINED_TABLES = ("fact_orders_created", "fact_inventory", "dim_products", "dim_orders")

    def maintain(
        self,
        max_files_per_partition: int = 8,
        sketch_tables: dict[str, list[str]] | None = None,
        max_sketch_rows_per_group: int = 64,
    ) -> list[str]:
        """Nightly-cadence table maintenance — the parquet-native
        OPTIMIZE + ANALYZE. A table qualifies for compaction when its
        data-file count exceeds ``max_files_per_partition`` x its leaf
        partition-directory count (total files for an unpartitioned
        table) — per-partition, because a partitioned table's TOTAL file
        count grows with history forever and a total-count gate would
        rewrite the whole table every night once enough partitions
        exist. Compaction preserves Hive partition layout
        (``Warehouse.compact``); the catalog-statistics refresh (ANALYZE,
        a full scan) runs only for tables that were actually rewritten,
        so a call where nothing qualifies costs two driver-side file
        listings per table and touches no data. Returns the compacted
        tables."""
        compacted: list[str] = []
        for table in self.MAINTAINED_TABLES:
            if not self.wh.exists(table):
                continue
            budget = max_files_per_partition * self.wh.partition_dir_count(table)
            if self.wh.file_count(table) > budget:
                # target the BUDGET, not defaultParallelism: compacting
                # to more files than the gate allows would re-trigger a
                # full rewrite + ANALYZE every night forever
                self.wh.compact(table, target_partitions=max(1, budget))
                self.wh.analyze(table)
                compacted.append(table)
        # mergeable-sketch tables ride the same cadence: when a group has
        # accumulated more than ``max_sketch_rows_per_group`` increment
        # rows, merge them into one (answers provably unchanged — see
        # operators/sketches.py and its tests)
        for table, group_cols in (sketch_tables or {}).items():
            if sketches.compact_sketch_table(
                self.wh, table, group_cols, max_rows_per_group=max_sketch_rows_per_group
            ):
                compacted.append(table)
        return compacted
