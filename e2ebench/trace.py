"""Spans for the traced run, recorded from the benchmark's own files.

A span is (name, start, end, parent, op id). Spans are kept in memory and
written out once the run ends. Top-level spans (one layer call of one op:
``pipeline.run_orders``, ``metrics.refresh``, ``query`` ...) also
tag their Spark jobs with ``SparkContext.addJobTag``; after the last op,
``resolve_tags`` reads the Spark REST API once and attributes executor CPU,
shuffle, spill, stage and task counts to each tag.

``Warehouse`` methods are wrapped at run time (``wrap_warehouse``) because
the engine is lazy: a layer's compute happens inside the write that
materializes it, so the write spans are where the work shows.
"""

from __future__ import annotations

import functools
import json
import math
import os
import time
import urllib.request
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the parent span in Tracer.spans
    op: str
    tag: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval covered by its
    direct children (overlapping children are merged, so concurrent
    children are not subtracted twice)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(i, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append(s.duration - covered)
    return out


class Tracer:
    """Span recorder. ``enabled=False`` makes every span a plain call, so
    the untraced run pays nothing but a context-manager entry."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op = ""
        self._tag_seq = 0

    def set_op(self, op: str) -> None:
        self._op = op

    @contextmanager
    def span(self, name: str, tagged: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        tag = None
        sc = self.spark.sparkContext if tagged and self.spark is not None else None
        if sc is not None:
            self._tag_seq += 1
            tag = f"e2eb-{self._tag_seq}"
            sc.addJobTag(tag)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), math.nan, parent, self._op, tag, dict(attrs))
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                sc.removeJobTag(tag)

    def in_span(self, prefix: str) -> bool:
        """True if any open span's name starts with ``prefix``."""
        return any(self.spans[i].name.startswith(prefix) for i in self._stack)

    def dump(self, path: Path, extra: dict | None = None) -> None:
        selfs = self_times(self.spans)
        rows = [
            {**asdict(s), "duration_s": s.duration, "self_s": st}
            for s, st in zip(self.spans, selfs)
        ]
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": rows, **(extra or {})}, indent=1))


# ---------------------------------------------------------------------------
# Warehouse wrapping
# ---------------------------------------------------------------------------

WRAPPED_METHODS = ("overwrite", "append", "append_once", "compact")


def _data_files(path: str) -> dict[str, int]:
    """{file: bytes} of the data files under a table directory (hidden
    ``.crc``/``_SUCCESS`` bookkeeping files excluded)."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


def wrap_warehouse(tracer: Tracer, warehouse_cls) -> Callable[[], None]:
    """Patch ``warehouse_cls``'s write methods so each call records a
    ``warehouse.<method>`` span named by table. The outermost write span
    of a call chain (``append_once`` calls ``append``, ``compact`` calls
    ``overwrite``) also records the data files it left behind. The
    wrappers run no Spark job and leave the frames they are given as they
    are. Returns a function that restores the original methods."""
    originals = {m: getattr(warehouse_cls, m) for m in WRAPPED_METHODS}

    def make(method: str, orig):
        @functools.wraps(orig)
        def wrapper(self, df, table, *args, **kwargs):
            outer = not tracer.in_span("warehouse.")
            before = _data_files(self.path(table)) if outer else {}
            with tracer.span(f"warehouse.{method}", table=table) as s:
                result = orig(self, df, table, *args, **kwargs)
            if outer and s is not None:
                new = {
                    p: b for p, b in _data_files(self.path(table)).items() if p not in before
                }
                s.attrs["outer"] = True
                s.attrs["bytes_written"] = sum(new.values())
                s.attrs["files_written"] = len(new)
            return result

        return wrapper

    def compact_wrapper(orig):
        @functools.wraps(orig)
        def wrapper(self, table, *args, **kwargs):
            before = _data_files(self.path(table))
            with tracer.span("warehouse.compact", table=table) as s:
                result = orig(self, table, *args, **kwargs)
            if s is not None:
                new = {p: b for p, b in _data_files(self.path(table)).items() if p not in before}
                s.attrs.update(outer=True, bytes_written=sum(new.values()), files_written=len(new))
            return result

        return wrapper

    for m, orig in originals.items():
        setattr(warehouse_cls, m, compact_wrapper(orig) if m == "compact" else make(m, orig))

    def restore() -> None:
        for m, orig in originals.items():
            setattr(warehouse_cls, m, orig)

    return restore


# ---------------------------------------------------------------------------
# REST attribution
# ---------------------------------------------------------------------------


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def resolve_tags(spark, tags: list[str], settle_s: float = 20.0) -> dict[str, dict[str, float]]:
    """Per job tag: executor CPU seconds, shuffle-write MB, spill MB, stage
    and task counts, from one read of the UI REST API after the last op.

    Every stage is attributed to the lowest-numbered job that lists it
    (a later job lists a reused shuffle stage as skipped; counting it
    there would double it). The status store drains its event queue
    asynchronously, so the read is repeated until no listed job is still
    running, for at most ``settle_s`` seconds."""
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    deadline = time.monotonic() + settle_s
    while True:
        jobs = _get(f"{base}/jobs")
        stages = _get(f"{base}/stages")
        running = any(j.get("status") == "RUNNING" for j in jobs) or any(
            s.get("status") in ("ACTIVE", "PENDING") for s in stages
        )
        if not running or time.monotonic() > deadline:
            break
        time.sleep(0.5)
    owner: dict[int, int] = {}
    job_tags: dict[int, set[str]] = {}
    for j in jobs:
        job_tags[j["jobId"]] = set(j.get("jobTags") or ())
        for sid in j.get("stageIds", ()):
            owner[sid] = min(owner.get(sid, j["jobId"]), j["jobId"])
    wanted = set(tags)
    out = {t: {"exec_cpu_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0, "stages": 0, "tasks": 0}
           for t in tags}
    for s in stages:
        if s.get("status") not in ("COMPLETE", "FAILED"):
            continue
        job = owner.get(s["stageId"])
        for t in job_tags.get(job, set()) & wanted:
            r = out[t]
            r["exec_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
            r["shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) / 2**20
            r["spill_mb"] += s.get("diskBytesSpilled", 0) / 2**20
            r["stages"] += 1
            r["tasks"] += s.get("numTasks", 0)
    return out
