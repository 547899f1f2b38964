"""SparkSession factory with scale-oriented defaults.

The reference delegates all execution to PostgreSQL 13; here the equivalent
"engine config" is the SparkSession. Defaults are tuned so the same code
runs correctly on ``local[32]`` for tests and would behave on a large
cluster: AQE on (runtime shuffle coalescing + skew-join splitting), UTC
session timezone (the reference's Postgres ``timestamp`` is zone-naive —
SURVEY.md §7 hard-point (e)), and Arrow enabled for the Pandas-UDF
extension operators.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Number of local cores; overridable the same way bench.py is driven.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")

#: Entries in Spark's generated-class cache (``spark.sql.codegen.cache.
#: maxEntries``, default 100). The nightly batches re-run the same plans
#: each day with only ``ds``/``ts`` changed, so the cache must hold a
#: whole day's classes or LRU eviction cycles and Janino recompiles every
#: class every day (and the JIT re-warms each fresh class). Measured
#: working sets (an entry per class and class loader, so driver and
#: executor threads each hold one): about 250 entries over dwh days 0-1
#: and about 400 over corpus days 0-1; at 100, every dwh day compiled
#: about 205 classes and every corpus day about 330. 1000 also holds both
#: pipelines in one session. A static conf: Spark reads it once per JVM,
#: so it must be set on the builder.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "batch-data-pipeline-exercise-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine's defaults.

    On a real cluster ``master``/resources come from spark-submit; every
    setting here is advisory and safe at any scale:

    - AQE coalesces post-shuffle partitions, so a generous static
      ``spark.sql.shuffle.partitions`` is fine at small SF and right at
      large SF.
    - ``autoBroadcastJoinThreshold`` stays at default (10 MB); small dims
      (dim_dates is 29k rows) broadcast automatically, and we add explicit
      ``F.broadcast`` hints on known-small sides anyway.
    - the generated-class cache holds a whole day's classes
      (``CODEGEN_CACHE_ENTRIES``), so a daily re-run reuses them.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{_DEFAULT_CPUS}]")

    conf = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or 32),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # ANSI off: the reference's Postgres pipeline tolerates bad casts by
        # producing NULLs at staging; we match that ingestion semantics.
        "spark.sql.ansi.enabled": "false",
        "spark.sql.parquet.compression.codec": "snappy",
        # 128 MB split target — the right granularity for TB-scale scans.
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        # ...but never fewer scan splits than cores: small benchmark files
        # would otherwise land on one core (row-group permitting)
        "spark.sql.files.minPartitionNum": str(shuffle_partitions or 32),
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles so far in this session's JVM: Spark updates its
    compilation-time timer once per generated class it compiles, so a
    delta of this count is the number of cache misses in between."""
    codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return codegen.METRIC_COMPILATION_TIME().getCount()


#: keys ``rebuild_session`` passes to ``get_spark`` explicitly — replaying
#: them from the snapshot too would be redundant (and app/master are not
#: session confs to begin with).
_REBUILD_MANAGED_KEYS = frozenset(
    {"spark.app.name", "spark.master", "spark.sql.shuffle.partitions"}
)

#: runtime-identity keys the live session's SET list carries that must NOT
#: be replayed into a rebuilt session: the old ephemeral driver port can
#: fail to re-bind (aborting a long soak mid-run) and stale app identity
#: (app.id, app.startTime) would pollute the fresh session's conf. Matched
#: by exact name or prefix — Spark mints all of these itself at startup.
_IDENTITY_KEYS = frozenset(
    {"spark.driver.port", "spark.driver.host", "spark.driver.bindAddress",
     "spark.executor.id"}
)
_IDENTITY_PREFIXES = ("spark.app.",)


def _is_identity_key(key: str) -> bool:
    return key in _IDENTITY_KEYS or key.startswith(_IDENTITY_PREFIXES)


def session_conf_snapshot(spark: SparkSession) -> dict[str, str]:
    """Every EXPLICITLY-SET session-level conf of the live session — the
    ``SET`` command's list, which covers builder-time configs (custom
    keys such as ``spark.my.app.tag`` and static ones such as
    ``spark.driver.memory`` included) and runtime ``spark.conf.set``
    calls (verified in ``tests/test_session_recycle.py``), minus the
    keys a rebuild manages itself. This is what makes
    ``rebuild_session`` faithful: before it existed, a conf set after
    construction silently vanished at the first recycle (r12 verdict
    task 5). Runtime-identity keys the old
    session minted for itself (``spark.driver.port``/``host``,
    ``spark.app.*``, ``spark.executor.id``) are excluded: they describe
    the DEAD process, and replaying the old ephemeral port can
    intermittently fail to bind in the rebuilt session."""
    return {
        r["key"]: r["value"]
        for r in spark.sql("SET").collect()
        if r["key"] not in _REBUILD_MANAGED_KEYS and not _is_identity_key(r["key"])
    }


def rebuild_session(spark: SparkSession) -> SparkSession:
    """Stop ``spark`` and return a fresh session with the same app name,
    master, shuffle-partition setting, and every explicitly-set session
    conf the live session held (builder-time AND runtime ``conf.set`` —
    the snapshot is taken from the live session immediately before
    stopping it, so what you had is what you get back). Shared by both
    pipelines' ``recycle_session``."""
    sc = spark.sparkContext
    master, app = sc.master, sc.appName
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    replay = session_conf_snapshot(spark)
    spark.stop()
    fresh = get_spark(
        app_name=app, master=master, shuffle_partitions=shuffle, extra_conf=replay
    )
    fresh.sparkContext.setLogLevel("ERROR")
    return fresh
