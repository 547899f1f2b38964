"""The two benchmark workloads and the closed-loop harness that runs them.

Each workload has the same shape:

- ``prepare()``: generate the inputs from the seed (no Spark);
- ``warm_up(spark, state)``: the untimed first op on a fresh state
  directory (the set-up a nightly run pays with a fresh session);
- ``run_pass(spark, tracer, state)``: the timed ops, one after another,
  each starting when the previous one has finished;
- ``check(spark, state)``: output checks against expected results.

A traced run makes the same set-up and the same timed ops as an untraced
one, then ``TRACE_EXTRA_OPS`` more days, which give the ``*_growth``
metrics days to compare. Only the first ``compared_ops`` ops enter
``trace.op_p50_s``, the figure the tracing overhead is read from.

``run`` drives set-up, the timed pass and the checks, and returns the
numbers ``run.py`` prints.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
from dataclasses import dataclass
from pathlib import Path

from e2ebench import gen
from e2ebench.procstat import Clock, TreeSampler
from e2ebench.trace import Tracer, resolve_tags, self_times, wrap_warehouse

METRIC_NAMES = (
    "current_orders_by_status",
    "orders_created_per_quarter",
    "orders_created_per_quarter_category",
    "retained_orders",
    "monthly_created_not_completed",
    "daily_stock_by_category",
    "month_end_stock_by_category",
)
DWH_TABLES = ("stg_products", "dim_products", "stg_orders", "events_orders", "dim_orders",
              "fact_orders_created", "_fact_dates_rejects", "fact_inventory")
CORPUS_TABLES = ("corpus_docs", "corpus_fingerprints", "corpus_lsh_index", "corpus_sign_index",
                 "_corpus_log", "_corpus_sketch_config")
#: top-level span kinds reported per layer (each carries a job tag)
TAGGED_SPANS = ("pipeline.run_products", "pipeline.run_orders", "pipeline.run_inventory",
                "pipeline.maintain", "metrics.refresh", "corpus.run", "corpus.maintain")
SPAN_COUNTERS = ("exec_cpu_s", "shuffle_write_mb", "spill_mb", "stages", "tasks")


@dataclass
class Op:
    name: str
    rows: int
    ok: bool
    #: wall time, and the same less the host's steal (``Clock.run_s``)
    wall_s: float
    run_s: float

    @classmethod
    def timed(cls, name: str, clock: Clock, rows: int, ok: bool) -> "Op":
        return cls(name, rows, ok, clock.wall_s, clock.run_s)


@dataclass
class PassResult:
    ops: list[Op]
    wall_s: float
    run_s: float
    usage: dict[str, float]


class Env:
    """Per-run scratch space inside the checkout, and the Spark session
    factory. Everything Spark, the JVM and the Python workers write lands
    under ``work``, which ``close()`` removes."""

    def __init__(self, root: Path, cpus: int):
        self.root = root
        self.cpus = cpus
        self.work = root / ".e2ebench" / f"run-{os.getpid()}"
        self.tmp = self.work / "tmp"
        self.tmp.mkdir(parents=True, exist_ok=True)
        os.environ["TMPDIR"] = str(self.tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "spark-local")
        # spark-submit's launcher JVM would otherwise leave its perf-data
        # file in /tmp (the driver JVM's flag is set in session())
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    def session(self):
        from batch_data_pipeline_exercise_spark.session import get_spark

        spark = get_spark(
            app_name="e2ebench",
            master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus,
            extra_conf={
                # a 2 GB driver heap: with the 8 GB default, G1 grew the
                # heap in timing-dependent steps and peak RSS swung
                # 3.1-4.3 GB across identical corpus_daily runs
                "spark.driver.memory": "2g",
                # keep every job and stage for the one REST read after the
                # last op of a traced run
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": str(self.work / "spark-warehouse"),
                # no hsperfdata file in /tmp: the run writes only under work.
                # The serial collector on a heap that starts at 1 GB: G1
                # sizes its heap and young generation from measured pause
                # times, so on a shared host dwh_daily's peak RSS swung
                # 1.3-2.6 GB across runs; this way it stayed in 1.30-1.36 GB,
                # and the ops took no longer (corpus_daily: 17.6 s against
                # 20.0 s for a day, same seed, back to back)
                "spark.driver.extraJavaOptions":
                    f"-XX:-UsePerfData -XX:+UseSerialGC -Xms1g -Djava.io.tmpdir={self.tmp}",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def close(self) -> None:
        """Stop the JVM this run launched and wait for it to exit (it exits
        when its stdin closes), then remove the scratch space."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None:
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        shutil.rmtree(self.work, ignore_errors=True)


class Workload:
    name = ""
    #: output checks ``check`` makes; each failed one counts as a failed op
    CHECKS = 1
    #: ops a traced run makes after the ones an untraced run times
    TRACE_EXTRA_OPS = 0

    def __init__(self, env: Env, seed: int, seconds: int, trace: bool = False):
        self.env = env
        self.dir = env.work / self.name
        #: ops of an untraced run (the first ops of a traced one)
        self.compared_ops = 0

    def prepare(self) -> None:
        raise NotImplementedError

    def warm_up(self, spark, state: Path) -> None:
        raise NotImplementedError

    def run_pass(self, spark, tracer: Tracer, state: Path) -> list[Op]:
        raise NotImplementedError

    def check(self, spark, state: Path) -> list[str]:
        raise NotImplementedError

    def input_bytes(self) -> int:
        """Bytes of the inputs the timed ops consume."""
        return 0


# ---------------------------------------------------------------------------
# dwh_daily
# ---------------------------------------------------------------------------


class DwhDaily(Workload):
    """The paper's nightly batch: per feed-day, products -> SCD2 dim,
    orders -> event log + SCD2 rebuild + fact append, inventory append,
    then the seven dashboard metrics and nightly maintenance."""

    name = "dwh_daily"
    CHECKS = 4
    #: nominal seconds per feed-day on a 4-core box: sizes the day count
    #: from ``--seconds`` (the same seconds always gives the same work)
    NOMINAL_DAY_S = 14.0
    TRACE_EXTRA_OPS = 2

    def __init__(self, env, seed, seconds, trace=False):
        super().__init__(env, seed, seconds, trace)
        self.compared_ops = max(1, round(seconds / self.NOMINAL_DAY_S))
        self.days = self.compared_ops + (self.TRACE_EXTRA_OPS if trace else 0)
        self.feeds = gen.DwhFeeds(seed)
        self.paths: list[dict[str, Path]] = []

    def prepare(self) -> None:
        self.paths = [self.feeds.write_day(d, self.dir / "feeds") for d in range(self.days + 1)]

    def input_bytes(self) -> int:
        return sum(p.stat().st_size for day in self.paths[1:] for p in day.values())

    def _rows(self, d: int) -> int:
        return sum(len(v) for v in self.feeds.day(d).values())

    def _day(self, pipe, tracer: Tracer, d: int) -> None:
        from batch_data_pipeline_exercise_spark.plans import metrics
        from batch_data_pipeline_exercise_spark.plans.inventory import forward_fill_daily

        ts, p = gen.run_ts(d), self.paths[d]
        with tracer.span("pipeline.run_products", tagged=True):
            pipe.run_products(str(p["products"]), ts)
        with tracer.span("pipeline.run_orders", tagged=True):
            pipe.run_orders(str(p["orders"]), ts)
        with tracer.span("pipeline.run_inventory", tagged=True):
            pipe.run_inventory(str(p["inventory"]), ts)
        wh = pipe.wh
        date_from, date_to = gen.day_date(max(0, d - 6)).isoformat(), gen.day_date(d).isoformat()
        with tracer.span("metrics.refresh", tagged=True):
            fact, dim_orders = wh.read("fact_orders_created"), wh.read("dim_orders")
            dim_products, dates = wh.read("dim_products"), wh.read("dim_dates")
            daily = forward_fill_daily(
                wh.read("fact_inventory").withColumnRenamed("snapshot_date", "date")
                .select("product_id", "date", "amount"),
                horizon=date_to,
            )
            dashboards = {
                "current_orders_by_status": lambda: metrics.current_orders_by_status(dim_orders, ts),
                "orders_created_per_quarter": lambda: metrics.orders_created_per_quarter(fact, dates),
                "orders_created_per_quarter_category": lambda: metrics.orders_created_per_quarter_category(
                    fact, dim_products, dates),
                "retained_orders": lambda: metrics.retained_orders(fact, dim_orders, ts),
                "monthly_created_not_completed": lambda: metrics.monthly_created_not_completed(fact, dim_orders),
                "daily_stock_by_category": lambda: metrics.daily_stock_by_category(
                    daily, dim_products, date_from, date_to),
                "month_end_stock_by_category": lambda: metrics.month_end_stock_by_category(
                    daily, dim_products, dates, date_from, date_to),
            }
            for name in METRIC_NAMES:
                with tracer.span(f"metrics.{name}"):
                    dashboards[name]().collect()
        with tracer.span("pipeline.maintain", tagged=True):
            pipe.maintain()

    def warm_up(self, spark, state: Path) -> None:
        from batch_data_pipeline_exercise_spark.plans.pipeline import Pipeline

        pipe = Pipeline(spark, str(state))
        pipe.init_dates()
        self._day(pipe, Tracer(False), 0)

    def run_pass(self, spark, tracer, state):
        from batch_data_pipeline_exercise_spark.plans.pipeline import Pipeline

        pipe = Pipeline(spark, str(state))
        ops = []
        for d in range(1, self.days + 1):
            tracer.set_op(f"day{d}")
            with Clock() as c:
                self._day(pipe, tracer, d)
            ops.append(Op.timed(f"day{d}", c, self._rows(d), True))
        return ops

    def check(self, spark, state):
        from pyspark.sql import functions as F

        from batch_data_pipeline_exercise_spark.plans import metrics
        from batch_data_pipeline_exercise_spark.schemas import SCD2_SENTINEL
        from batch_data_pipeline_exercise_spark.sources.warehouse import Warehouse

        as_of = gen.run_ts(self.days)
        want = self.feeds.expected(self.days + 1, as_of)
        wh = Warehouse(spark, str(state))
        got = {
            "fact_rows": wh.read("fact_orders_created").count(),
            "status_counts": dict(sorted(
                (r["status"], r["order_count"])
                for r in metrics.current_orders_by_status(wh.read("dim_orders"), as_of).collect()
            )),
            "open_products": wh.read("dim_products")
            .filter(F.col("end_time") == F.lit(SCD2_SENTINEL).cast("timestamp")).count(),
            "inventory_rows": wh.read("fact_inventory").count(),
        }
        return [f"{k}: got {got[k]}, expected {want[k]}" for k in want if got[k] != want[k]]


# ---------------------------------------------------------------------------
# corpus_daily
# ---------------------------------------------------------------------------


class CorpusDaily(Workload):
    """Day-over-day corpus preparation: score/filter, exact dedup,
    incremental MinHash LSH, embedding near-dup, shard/pack, persist, then
    nightly maintenance."""

    name = "corpus_daily"
    NOMINAL_DAY_S = 17.0
    #: fresh documents a day; with the injected copies a day is 475 docs
    FRESH_PER_DAY = 460
    TRACE_EXTRA_OPS = 1

    def __init__(self, env, seed, seconds, trace=False):
        super().__init__(env, seed, seconds, trace)
        self.compared_ops = max(1, round(seconds / self.NOMINAL_DAY_S))
        timed = self.compared_ops + (self.TRACE_EXTRA_OPS if trace else 0)
        self.days = gen.corpus_days(seed, timed + 1, self.FRESH_PER_DAY)
        self.paths: list[tuple[Path, Path]] = []
        self.day_stats: list[dict] = []

    def prepare(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        out = self.dir / "days"
        out.mkdir(parents=True, exist_ok=True)
        for day in self.days:
            docs = pa.table({
                "doc_id": pa.array([i for i, _ in day.docs], pa.int64()),
                "text": [t for _, t in day.docs],
            })
            embs = pa.table({
                "doc_id": pa.array([i for i, _ in day.embeddings], pa.int64()),
                "embedding": pa.array([v for _, v in day.embeddings], pa.list_(pa.float64())),
            })
            dp, ep = out / f"docs_{day.ds}.parquet", out / f"emb_{day.ds}.parquet"
            pq.write_table(docs, str(dp))
            pq.write_table(embs, str(ep))
            self.paths.append((dp, ep))

    def input_bytes(self) -> int:
        return sum(p.stat().st_size for pair in self.paths[1:] for p in pair)

    def _day(self, cp, tracer: Tracer, i: int) -> dict:
        dp, ep = self.paths[i]
        with tracer.span("corpus.run", tagged=True):
            stats = cp.run_path(str(dp), self.days[i].ds, embeddings_path=str(ep))
        with tracer.span("corpus.maintain", tagged=True):
            cp.maintain()
        return stats

    def warm_up(self, spark, state):
        from batch_data_pipeline_exercise_spark.plans.corpus_pipeline import CorpusPipeline

        self._day(CorpusPipeline(spark, str(state)), Tracer(False), 0)

    def run_pass(self, spark, tracer, state):
        from batch_data_pipeline_exercise_spark.plans.corpus_pipeline import CorpusPipeline

        cp = CorpusPipeline(spark, str(state))
        ops, self.day_stats = [], []
        for i in range(1, len(self.days)):
            tracer.set_op(self.days[i].ds)
            n = len(self.days[i].docs)
            with Clock() as c:
                stats = self._day(cp, tracer, i)
            self.day_stats.append(stats)
            # the O(increment) contract: history is never re-shingled
            ops.append(Op.timed(self.days[i].ds, c, n, stats["docs_shingled"] <= n))
        return ops

    def check(self, spark, state):
        from pyspark.sql import functions as F

        from batch_data_pipeline_exercise_spark.sources.warehouse import Warehouse

        exact = [i for day in self.days for i in day.exact_copies]
        kept = (
            Warehouse(spark, str(state)).read("corpus_docs")
            .filter(F.col("doc_id").isin(exact)).count()
        )
        return [f"{kept} injected exact duplicates retained"] if kept else []


WORKLOADS = {w.name: w for w in (DwhDaily, CorpusDaily)}


# ---------------------------------------------------------------------------
# the harness
# ---------------------------------------------------------------------------


def _timed_pass(wl: Workload, spark, tracer: Tracer, state: Path) -> PassResult:
    sampler = TreeSampler()
    sampler.start()
    try:
        with Clock() as c:
            ops = wl.run_pass(spark, tracer, state)
    finally:
        usage = sampler.stop()
    return PassResult(ops, c.wall_s, c.run_s, usage)


def run(workload: str, seed: int, seconds: int, trace: bool, root: Path, cpus: int) -> dict:
    """One benchmark run. Returns ``{"attempted", "failed", "metrics",
    "summary"}`` — metrics are the end-to-end ones (``trace=False``) or
    the per-layer ones (``trace=True``)."""
    env = Env(root, cpus)
    try:
        wl = WORKLOADS[workload](env, seed, seconds, trace)
        wl.prepare()
        # one set-up per run: a cold set-up (JVM launch plus the JIT
        # warm-up of the first op) costs 34-50 s on a 4-core VM, so
        # setup_s steadies as a median across runs, not within one
        state = wl.dir / "state"
        with Clock() as setup:
            with Clock() as session:
                spark = env.session()
            wl.warm_up(spark, state)
        try:
            if not trace:
                res = _timed_pass(wl, spark, Tracer(False), state)
                return _e2e(wl, res, setup.run_s, setup.wall_s, wl.check(spark, state))
            tracer = Tracer(True, spark)
            from batch_data_pipeline_exercise_spark.sources.warehouse import Warehouse

            restore = wrap_warehouse(tracer, Warehouse)
            try:
                res = _timed_pass(wl, spark, tracer, state)
            finally:
                restore()
            failures = wl.check(spark, state)
            tags = resolve_tags(spark, [s.tag for s in tracer.spans if s.tag])
            for s in tracer.spans:
                if s.tag:
                    s.attrs.update(tags[s.tag])
            out = _per_layer(wl, res, tracer, tags, session.run_s, failures)
            tracer.dump(
                root / ".e2ebench" / f"trace-{workload}-seed{seed}.json",
                {"workload": workload, "seed": seed, "metrics": out["metrics"],
                 "ops": [o.__dict__ for o in res.ops]},
            )
            return out
        finally:
            spark.stop()
    finally:
        env.close()


def _e2e(wl: Workload, res: PassResult, setup_s: float, setup_wall_s: float,
         failures: list[str]) -> dict:
    failed = sum(not o.ok for o in res.ops) + len(failures)
    attempted = len(res.ops) + wl.CHECKS
    return {
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "metrics": {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (statistics.median(o.run_s for o in res.ops), "s"),
            "rows_per_s": (sum(o.rows for o in res.ops) / res.run_s, "1/s"),
            "cpu_s": (res.usage["cpu_s"], "s"),
            "peak_rss_mb": (res.usage["peak_rss_mb"], "MB"),
        },
        "summary": {"ops": len(res.ops), "timed_wall_s": res.wall_s, "timed_run_s": res.run_s,
                    "setup_wall_s": setup_wall_s, "failed_frac": failed / attempted},
    }


def _per_layer(wl, res, tracer, tags, session_s, failures) -> dict:
    spans, selfs = tracer.spans, self_times(tracer.spans)
    n_ops = max(len(res.ops), 1)
    m: dict[str, tuple[float, str]] = {"session.get_spark_s": (session_s, "s")}

    def total(name: str) -> float:
        return sum(s.duration for s in spans if s.name == name)

    def per_op(x: float) -> float:
        return x / n_ops

    # pipeline / metrics / corpus layer calls, inclusive, per op
    for layer in ("pipeline.run_products", "pipeline.run_orders", "pipeline.run_inventory",
                  "pipeline.maintain", "metrics.refresh", "corpus.run", "corpus.maintain"):
        m[f"{layer}_s"] = (per_op(total(layer)), "s")
    for name in METRIC_NAMES:
        m[f"metrics.{name}_s"] = (per_op(total(f"metrics.{name}")), "s")
    orders = [s.duration for s in spans if s.name == "pipeline.run_orders"]
    m["pipeline.run_orders_growth"] = (orders[-1] / orders[0] if len(orders) > 1 else 0.0, "ratio")
    runs = [s.duration for s in spans if s.name == "corpus.run"]
    m["corpus.run_growth"] = (runs[-1] / runs[0] if len(runs) > 1 else 0.0, "ratio")

    # warehouse: outermost write spans only (nested ones are inside them)
    outer = [s for s in spans if s.name.startswith("warehouse.") and s.attrs.get("outer")]
    m["warehouse.write_s"] = (per_op(sum(s.duration for s in outer)), "s")
    for t in DWH_TABLES + CORPUS_TABLES:
        m[f"warehouse.write.{t}_s"] = (
            per_op(sum(s.duration for s in outer if s.attrs["table"] == t)), "s")
    written = sum(s.attrs["bytes_written"] for s in outer)
    m["warehouse.bytes_written_mb"] = (per_op(written) / 2**20, "MB")
    m["warehouse.files_written"] = (per_op(sum(s.attrs["files_written"] for s in outer)), "count")
    m["warehouse.write_amp"] = (written / wl.input_bytes() if written else 0.0, "ratio")
    m["warehouse.compact_s"] = (per_op(total("warehouse.compact")), "s")

    # corpus funnel
    st = wl.day_stats if isinstance(wl, CorpusDaily) else []
    docs_in = sum(s["docs_in"] for s in st)
    m["corpus.shingled_frac"] = (sum(s["docs_shingled"] for s in st) / docs_in if docs_in else 0.0, "frac")
    m["corpus.kept_frac"] = (sum(s["docs_kept"] for s in st) / docs_in if docs_in else 0.0, "frac")
    m["corpus.embedding_pairs"] = (float(sum(s.get("embedding_pairs", 0) for s in st)), "count")

    # process-tree split over the traced pass
    m["pyworker.cpu_s"] = (res.usage["pyworker_cpu_s"], "s")
    m["jvm.cpu_s"] = (res.usage["jvm_cpu_s"], "s")

    # per tagged span kind: self time and Spark counters, per instance
    for kind in TAGGED_SPANS:
        idx = [i for i, s in enumerate(spans) if s.name == kind]
        k = max(len(idx), 1)
        m[f"{kind}.self_s"] = (sum(selfs[i] for i in idx) / k, "s")
        for c in SPAN_COUNTERS:
            unit = {"exec_cpu_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB"}.get(c, "count")
            m[f"{kind}.{c}"] = (sum(tags[spans[i].tag][c] for i in idx) / k, unit)

    # the tracing overhead is this over the untraced runs' op_p50_s: the
    # same ops, without the extra traced days
    m["trace.op_p50_s"] = (statistics.median(o.run_s for o in res.ops[: wl.compared_ops]), "s")
    m["trace.spans"] = (float(len(spans)), "count")
    return {
        "attempted": len(res.ops) + wl.CHECKS,
        "failed": sum(not o.ok for o in res.ops) + len(failures),
        "failures": failures,
        "metrics": m,
        "summary": {"ops": len(res.ops), "traced_wall_s": res.wall_s},
    }
