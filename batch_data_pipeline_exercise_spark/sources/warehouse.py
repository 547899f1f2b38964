"""Parquet-backed warehouse layers (raw → stg → dim/fact → metrics).

The reference's warehouse is Postgres tables with UNIQUE constraints and
truncate-reload staging (``process_orders_sqls.py:12,64``). On Parquet
there are no constraints and no UPDATE, so the layer contract is:

- staging: ``overwrite`` per batch (truncate-reload equivalent),
- dimensions: deterministic rebuild + atomic overwrite (SCD2, see
  ``operators/scd2.py``),
- facts/bronze logs: ``append_once`` (NULL-key rejection + composite-key
  dedup + anti-join idempotency).

Fact tables are partitioned by date for pruning at scale.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class Warehouse:
    """Thin path registry + IO helper for the Parquet warehouse."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # catalog names registered through this Warehouse, per table —
        # overwrites must REFRESH TABLE them (refreshByPath alone does NOT
        # invalidate a catalog table's cached relation)
        self._catalog_names: dict[str, set[str]] = {}
        # schema Spark inferred per (table, merge_schema), handed back to
        # later reads so they skip the footer-inference job
        self._schemas: dict[tuple[str, bool], StructType] = {}

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _fs(self, path: str):
        jvm = self.spark.sparkContext._jvm  # type: ignore[union-attr]
        conf = self.spark.sparkContext._jsc.hadoopConfiguration()  # type: ignore[union-attr]
        P = jvm.org.apache.hadoop.fs.Path
        return P, P(path).getFileSystem(conf)

    def _recover(self, table: str) -> None:
        """Finish an interrupted overwrite swap: if the table directory is
        missing but ``__bak`` survives (crash between the two renames),
        restore it before anything else looks at the table."""
        target, bak = self.path(table), self.path(table) + "__bak"
        P, fs = self._fs(target)
        if not fs.exists(P(target)) and fs.exists(P(bak)):
            fs.rename(P(bak), P(target))

    def exists(self, table: str) -> bool:
        from batch_data_pipeline_exercise_spark.sources.csv_feed import feed_exists

        self._recover(table)
        if feed_exists(self.spark, os.path.join(self.path(table), "*.parquet")) or feed_exists(
            self.spark, os.path.join(self.path(table), "_SUCCESS")
        ):
            return True
        # Hive-partitioned tables written by the dynamic-overwrite commit
        # have no root-level _SUCCESS or parquet — walk for any part-file
        target = self.path(table)
        P, fs = self._fs(target)
        if not fs.exists(P(target)):
            return False
        it = fs.listFiles(P(target), True)
        while it.hasNext():
            if it.next().getPath().getName().endswith(".parquet"):
                return True
        return False

    def read(self, table: str, merge_schema: bool = False) -> DataFrame:
        """``merge_schema=True`` unions all part-file footers — needed to
        see columns added by ``append_evolve`` (NULL-filled for older
        files); off by default because footer merging reads every file's
        metadata.

        The schema Spark infers on the first read of a table is reused by
        later reads through this instance, so they launch no inference
        job. Every write here that can change a table's schema
        (``overwrite`` and so ``compact``/``ingest_corpus``,
        ``overwrite_partitions``, ``append_evolve``) forgets it; ``append``
        and ``append_once`` conform to the existing columns and keep it. A
        table rewritten outside this ``Warehouse`` instance needs a fresh
        ``Warehouse`` to be read with its new schema. Threads may share an
        instance as long as no read of a table overlaps a write of the
        same table (the ``overwrite`` swap forbids that anyway)."""
        self._recover(table)
        key = (table, merge_schema)
        known = self._schemas.get(key)
        if known is not None:
            return self.spark.read.schema(known).parquet(self.path(table))
        r = self.spark.read
        if merge_schema:
            r = r.option("mergeSchema", "true")
        df = r.parquet(self.path(table))
        self._schemas[key] = df.schema
        return df

    def _forget_schema(self, table: str) -> None:
        """Drop the reused read schemas of ``table`` before a write that
        may change them."""
        for merge_schema in (False, True):
            self._schemas.pop((table, merge_schema), None)

    def partition_columns(self, table: str) -> list[str]:
        """Partition columns of an existing table, discovered from the
        Hive-style ``col=value`` directory chain."""
        cols: list[str] = []
        path = self.path(table)
        P, fs = self._fs(path)
        while True:
            if not fs.exists(P(path)):
                break
            subdirs = [
                s.getPath().getName()
                for s in fs.listStatus(P(path))
                if s.isDirectory() and "=" in s.getPath().getName()
            ]
            if not subdirs:
                break
            col = subdirs[0].split("=", 1)[0]
            cols.append(col)
            path = os.path.join(path, subdirs[0])
        return cols

    def partition_dir_count(self, table: str) -> int:
        """Number of leaf partition directories (1 for an unpartitioned
        table) — the denominator for files-per-partition maintenance
        gates: a healthy partitioned table holds a bounded number of
        files per partition, while its TOTAL file count grows with
        history forever."""
        parts = self.partition_columns(table)
        if not parts:
            return 1
        path = self.path(table)
        P, fs = self._fs(path)
        dirs = [path]
        for _ in parts:
            nxt = []
            for d in dirs:
                nxt += [
                    str(s.getPath().toUri().getPath())
                    for s in fs.listStatus(P(d))
                    if s.isDirectory() and "=" in s.getPath().getName()
                ]
            dirs = nxt
        return max(len(dirs), 1)

    def overwrite(self, df: DataFrame, table: str, partition_by: list[str] | None = None) -> None:
        """Overwrite via temp-dir + crash-safe rename swap.

        SCD2 rebuilds read the current dim and replace it; writing straight
        back to the source path would fail ("cannot overwrite a path that
        is also being read from"). Sequence: write ``__tmp`` → rename old
        to ``__bak`` → rename ``__tmp`` in → drop ``__bak``. A crash at
        any point leaves either the old or the new data recoverable;
        ``_recover`` (run by every read/exists) restores ``__bak`` if the
        swap died in the middle."""
        self._recover(table)
        self._forget_schema(table)
        target, tmp, bak = self.path(table), self.path(table) + "__tmp", self.path(table) + "__bak"
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(tmp)
        P, fs = self._fs(target)
        # Hadoop rename signals failure by RETURNING FALSE, not raising —
        # an unchecked failed swap would report success while reads serve
        # the old data
        if fs.exists(P(bak)):
            fs.delete(P(bak), True)
        if fs.exists(P(target)) and not fs.rename(P(target), P(bak)):
            raise RuntimeError(f"overwrite swap failed: could not move {target} aside")
        if not fs.rename(P(tmp), P(target)):
            raise RuntimeError(f"overwrite swap failed: could not move new data into {target}")
        if fs.exists(P(bak)):
            fs.delete(P(bak), True)
        self._refresh(table)

    def ingest_corpus(
        self, src: DataFrame, table: str, id_col: str, buckets: int | None = None
    ) -> None:
        """One-time corpus ingest into engine-owned layout: hash-spread
        the rows over ``buckets`` files (id-hash partitioning — the
        content-hash-prefix discipline ``operators/multimodal.py``
        prescribes, so skewed row sizes spread evenly) and write real
        multi-file parquet. Externally-delivered corpora often arrive as
        one giant single-row-group file, which a parquet scan CANNOT
        split — every downstream compute-dense stage then runs on one
        core unless the reader band-aids it with a per-query
        ``repartition`` (``plans/contract.load``). Ingesting once makes
        that shuffle redundant forever: the scan itself splits to
        ``buckets`` tasks, and ``load()`` detects the healthy layout and
        skips its shuffle. At 100 TB this is the difference between
        paying a full-corpus shuffle per QUERY and per INGEST."""
        buckets = buckets or self.spark.sparkContext.defaultParallelism
        self.overwrite(src.repartition(buckets, F.col(id_col)), table)

    def append(self, df: DataFrame, table: str, partition_by: list[str] | None = None) -> None:
        """Append, conforming to the existing table's column order.

        Anti-join idempotency patterns reorder columns (join keys come
        first), and parquet directory reads surface whichever part-file
        footer gets sampled — mixed orders make the table's column order
        nondeterministic. Values are always name-resolved; this keeps the
        schema presentation stable too."""
        if self.exists(table):
            # merge_schema: a single sampled footer from before an
            # append_evolve widening would silently strip the evolved
            # columns from the incoming rows
            df = df.select(*self.read(table, merge_schema=True).columns)
        w = df.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(table))
        self._refresh(table)

    def overwrite_partitions(
        self, df: DataFrame, table: str, partition_by: list[str]
    ) -> None:
        """Dynamic partition overwrite: replace ONLY the partitions
        present in ``df``, leave every other partition untouched — the
        daily-reprocess shape (`re-run 2024-03-14` must not clobber a
        year of history, and must not require reading it either).

        Uses Spark's native ``partitionOverwriteMode=dynamic`` commit
        (staged write + per-partition directory replace), restoring the
        session's previous mode afterwards. Atomicity is per-partition
        (the staged commit protocol), not per-table — the right trade
        here: the all-or-nothing ``overwrite`` swap would rewrite the
        full table to replace one day. Falls back to a plain overwrite
        when the table doesn't exist yet.
        """
        if not partition_by:
            raise ValueError("overwrite_partitions needs partition_by — use overwrite() for unpartitioned tables")
        if self.exists(table):
            existing = self.partition_columns(table)
            # an existing UNPARTITIONED table must be rejected too: the
            # dynamic commit would lay hive dirs beside root part-files
            # and silently orphan every prior row
            if existing != list(partition_by):
                raise ValueError(
                    f"overwrite_partitions: table {table!r} is partitioned by {existing}, got {list(partition_by)}"
                )
            # merged footers, not a sampled one: a table widened by
            # append_evolve must not lose its evolved columns here
            df = df.select(*self.read(table, merge_schema=True).columns)
        self._forget_schema(table)
        conf = self.spark.conf
        prev = conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            df.write.mode("overwrite").partitionBy(*partition_by).parquet(self.path(table))
        finally:
            conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        self._refresh(table)

    def append_evolve(
        self, df: DataFrame, table: str, partition_by: list[str] | None = None
    ) -> None:
        """Append with additive schema evolution: new columns in ``df``
        are accepted (appended after the existing order); columns the
        table has but ``df`` lacks are filled NULL. Old part-files keep
        their footer — read the widened schema back with
        ``read(table, merge_schema=True)`` (parquet footer merging is a
        paid option, so plain ``read`` stays cheap and serves whichever
        footer is sampled). Dropping or retyping columns is NOT schema
        evolution — that's a rebuild through ``overwrite``."""
        if self.exists(table):
            # merged footers: the have/backfill set must include columns
            # added by PRIOR append_evolve calls, not whichever footer
            # the plain read happens to sample
            schema = self.read(table, merge_schema=True).schema
            have = [f.name for f in schema.fields]
            for f in schema.fields:
                if f.name not in df.columns:
                    # typed NULL fill — an untyped lit(None) writes VOID,
                    # which parquet footer-merging rejects
                    df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
            new = [c for c in df.columns if c not in have]
            df = df.select(*have, *new)
        self._forget_schema(table)
        w = df.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(table))
        self._refresh(table)

    def append_once(
        self,
        df: DataFrame,
        table: str,
        keys: list[str],
        partition_by: list[str] | None = None,
    ) -> None:
        """Append-once discipline for fact/bronze tables (the engine's
        UNIQUE + ON CONFLICT DO NOTHING, reference
        ``process_orders_sqls.py:146``):

        1. reject NULL-key rows (they could never anti-join-match and
           would re-append forever — and the keys are NOT NULL by
           contract);
        2. dedup within the batch on the composite key;
        3. anti-join away rows already present;
        4. append (or create on first write).

        Re-running with the same input is a no-op.
        """
        cond = F.lit(True)
        for k in keys:
            cond = cond & F.col(k).isNotNull()
        fresh = df.filter(cond).dropDuplicates(keys)
        if self.exists(table):
            fresh = fresh.join(self.read(table).select(*keys), keys, "left_anti")
            self.append(fresh, table, partition_by)
        else:
            self.overwrite(fresh, table, partition_by)

    # ----- snapshot versioning (time travel) -------------------------------

    def _snap_dir(self, table: str, version: int) -> str:
        return self.path(table) + f"__v{version}"

    def _marker_path(self, table: str, version: int) -> str:
        return os.path.join(self._snap_dir(table, version), "_COMMITTED")

    def current_snapshot(self, table: str) -> int | None:
        """Newest COMMITTED snapshot version, or None before the first
        commit. A snapshot directory without its ``_COMMITTED`` marker is
        an orphan from a crashed write — never served, swept by
        vacuum."""
        P, fs = self._fs(self.root)
        committed = [
            v for v in self.snapshots(table) if fs.exists(P(self._marker_path(table, v)))
        ]
        return committed[-1] if committed else None

    def snapshot_overwrite(
        self, df: DataFrame, table: str, partition_by: list[str] | None = None
    ) -> int:
        """Versioned overwrite with time travel: write snapshot N+1 to its
        own directory, then commit it by CREATING a ``_COMMITTED`` marker
        inside it — one atomic file creation, no delete-then-rename
        window. Readers of version N are never disturbed (no in-place
        mutation), a crash anywhere before the marker leaves N committed
        and an orphan N+1 dir for vacuum, and version numbers only ever
        grow (the next version is max(existing dirs)+1, committed or
        not, so a crashed write can never be silently overwritten).
        Returns the committed version."""
        versions = self.snapshots(table)
        nxt = (versions[-1] if versions else 0) + 1
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self._snap_dir(table, nxt))
        marker = self._marker_path(table, nxt)
        P, fs = self._fs(marker)
        out = fs.create(P(marker), True)
        try:
            out.write(bytearray(b"1\n"))
        finally:
            out.close()
        return nxt

    def read_snapshot(self, table: str, version: int | None = None) -> DataFrame:
        """Read the current (default) or a specific committed snapshot —
        `read_snapshot(t, 3)` is the time-travel query. Uncommitted
        (orphan) versions are not readable."""
        v = version if version is not None else self.current_snapshot(table)
        if v is None:
            raise FileNotFoundError(f"no committed snapshot for table {table!r}")
        P, fs = self._fs(self.root)
        if not fs.exists(P(self._marker_path(table, v))):
            raise FileNotFoundError(f"snapshot v{v} of {table!r} is not committed")
        return self.spark.read.parquet(self._snap_dir(table, v))

    def snapshots(self, table: str) -> list[int]:
        """Existing snapshot versions on disk (committed or orphaned)."""
        root, prefix = self.root, os.path.basename(self.path(table)) + "__v"
        P, fs = self._fs(root)
        if not fs.exists(P(root)):
            return []
        out = []
        for s in fs.listStatus(P(root)):
            name = s.getPath().getName()
            if s.isDirectory() and name.startswith(prefix) and name[len(prefix):].isdigit():
                out.append(int(name[len(prefix):]))
        return sorted(out)

    def vacuum_snapshots(self, table: str, keep: int = 2) -> list[int]:
        """Drop all but the newest ``keep`` committed snapshots (the
        current one is always retained, so ``keep=0`` keeps exactly it);
        uncommitted orphans older than the current version are swept
        too. Returns the versions removed. Run from the maintenance
        cadence, never concurrently with a snapshot_overwrite — an
        in-flight write looks like an orphan until its marker lands."""
        cur = self.current_snapshot(table)
        versions = self.snapshots(table)
        P, fs = self._fs(self.root)
        committed = [v for v in versions if fs.exists(P(self._marker_path(table, v)))]
        protected = set(committed[-keep:] if keep > 0 else [])
        if cur is not None:
            protected.add(cur)
        # never touch dirs newer than current: one may be mid-write
        doomed = [v for v in versions if v not in protected and (cur is None or v < cur)]
        for v in doomed:
            fs.delete(P(self._snap_dir(table, v)), True)
        return doomed

    def compact(self, table: str, target_partitions: int | None = None) -> None:
        """Rewrite a table into ``target_partitions`` files per partition
        directory (default: session parallelism for the whole table).
        Append-heavy tables accumulate small part files batch over batch;
        periodic compaction keeps scan task counts sane — the
        parquet-native stand-in for a lakehouse OPTIMIZE. Hive-style
        partitioning is detected and preserved."""
        n = target_partitions or self.spark.sparkContext.defaultParallelism
        parts = self.partition_columns(table)
        # merge_schema: compacting an append_evolve-widened table from a
        # stale sampled footer would rewrite the whole table WITHOUT the
        # evolved columns — permanent data loss, not a display quirk
        df = self.read(table, merge_schema=True)
        if parts:
            # hash on (partition cols + a row-content split) so a skewed
            # partition value spreads over several of the n shuffle tasks
            # instead of rewriting single-threaded into one file. The
            # split is a DETERMINISTIC row hash, not rand(): a seeded
            # rand survives a shuffle-fetch retry only if the recomputed
            # input partition replays identical row order — the
            # SPARK-23207 silent row-loss class. Byte-identical duplicate
            # rows hash to the same split (less spreading for
            # duplicate-heavy tables), which costs parallelism, never
            # rows.
            # xxhash64 rejects MAP-typed input — hash the map-free
            # columns (losing a map column from the split key only
            # reduces spreading, never correctness); a pathological
            # all-map table degrades to no spreading, still correct.
            hashable = [c for c, t in df.dtypes if "map<" not in t]
            split = (
                F.pmod(F.xxhash64(*[F.col(c) for c in hashable]), F.lit(max(2, n // 4)))
                if hashable
                else F.lit(0)
            )
            compacted = df.repartition(n, *[F.col(c) for c in parts], split)
            self.overwrite(compacted, table, partition_by=parts)
        else:
            self.overwrite(df.repartition(n), table)

    def file_count(self, table: str) -> int:
        """Number of data files under the table directory tree — the
        cheap driver-side signal for compaction cadence (append-heavy
        tables accumulate a few files per batch; compact when the count
        crosses the caller's threshold, not on every run)."""
        self._recover(table)
        path = self.path(table)
        P, fs = self._fs(path)
        if not fs.exists(P(path)):
            return 0
        it = fs.listFiles(P(path), True)
        n = 0
        while it.hasNext():
            f = it.next()
            if not f.getPath().getName().startswith("_"):
                n += 1
        return n

    def analyze(self, table: str, name: str | None = None) -> None:
        """Register in the catalog and compute table statistics so the
        cost-based optimizer can size joins (broadcast decisions, join
        reordering) from real row counts instead of file-size guesses."""
        name = name or table
        self.register_catalog(table, name)
        self.spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")

    def register_catalog(self, table: str, name: str | None = None) -> None:
        """Expose a warehouse table in the session catalog so users can
        ``spark.sql`` against it — the engine's equivalent of the
        reference's CREATE TABLE IF NOT EXISTS DDL (S4,
        process_orders_sqls.py:4,16,54,68,80). External parquet table:
        the catalog entry points at the warehouse path, no data copy."""
        name = name or table
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {name} USING parquet LOCATION '{self.path(table)}'"
        )
        # Hive-partitioned directories register with ZERO partitions —
        # the catalog name would silently read 0 rows (and ANALYZE would
        # store 0-row stats, worse than none) until partitions are
        # discovered from the directory layout.
        if self.partition_columns(table):
            self.spark.sql(f"ALTER TABLE {name} RECOVER PARTITIONS")
        self._catalog_names.setdefault(table, set()).add(name)

    def _refresh(self, table: str) -> None:
        """Invalidate cached file listings after a write: the path cache
        for DataFrame readers, plus REFRESH TABLE for every catalog name
        registered over this table (a swapped directory otherwise serves
        FAILED_READ_FILE from the stale relation cache)."""
        self.spark.catalog.refreshByPath(self.path(table))
        partitioned = bool(self._catalog_names.get(table)) and bool(self.partition_columns(table))
        for name in self._catalog_names.get(table, ()):
            try:
                self.spark.catalog.refreshTable(name)
                if partitioned:
                    # a write may add/remove partition directories; the
                    # catalog's partition list must follow the disk layout
                    self.spark.sql(f"ALTER TABLE {name} RECOVER PARTITIONS")
            except Exception:
                pass  # table was dropped externally — nothing to refresh
