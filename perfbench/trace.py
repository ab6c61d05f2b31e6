"""Measurement from outside the package: a span timeline the workloads
write, wrappers around ``SnapshotStore`` calls, a parser for Spark's own
event log, and in-process kernel timers.

Nothing here edits ``sharepointcrawler_spark``: the snapshot wrappers
replace the class attributes for the traced phase and put them back.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import statistics
import time
from dataclasses import dataclass, field

# RDD scope names of the physical nodes that cross into Python workers
PYTHON_SCOPE_RE = re.compile(r"Python|InPandas|InArrow")
COGROUP_SCOPE = "FlatMapCoGroupsInPandas"


@dataclass
class Span:
    name: str
    t0: float  # epoch seconds, the event log's clock
    t1: float
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Timeline:
    """Spans recorded around calls into the package. Recording one costs
    two clock reads, so untraced runs keep it too."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = Span(name, time.time(), 0.0, attrs)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self.spans.append(s)

    def named(self, name: str, within: Span | None = None) -> list[Span]:
        out = [s for s in self.spans if s.name == name]
        if within is not None:
            out = [s for s in out if s.t0 >= within.t0 and s.t1 <= within.t1]
        return sorted(out, key=lambda s: s.t0)


@contextlib.contextmanager
def snapshot_hooks(tl: Timeline):
    """Time every ``SnapshotStore`` write and commit as a span."""
    from sharepointcrawler_spark.plans.snapshot import SnapshotStore

    names = ("write", "write_partitioned", "write_rows", "commit")
    saved = {n: getattr(SnapshotStore, n) for n in names}

    def wrap(n, fn):
        span_name = "snapshot.commit" if n == "commit" else "snapshot.write"

        def timed(self, *args, **kwargs):
            wave = args[0] if n == "commit" else args[2]
            with tl.span(span_name, wave=wave):
                return fn(self, *args, **kwargs)

        return timed

    for n, fn in saved.items():
        setattr(SnapshotStore, n, wrap(n, fn))
    try:
        yield
    finally:
        for n, fn in saved.items():
            setattr(SnapshotStore, n, fn)


# ------------------------------------------------------------- event log


@dataclass
class Job:
    t0: float
    t1: float


@dataclass
class Stage:
    id: int
    t0: float
    scopes: list[str]
    acc: dict[str, float]
    task_ms: list[float] = field(default_factory=list)

    @property
    def python(self) -> bool:
        return any(PYTHON_SCOPE_RE.search(s) for s in self.scopes)

    def metric(self, name: str) -> float:
        return self.acc.get(name, 0.0)


@dataclass
class EventLog:
    jobs: list[Job]
    stages: list[Stage]

    def window(self, t0: float, t1: float) -> "EventLog":
        """Jobs and stages submitted inside [t0, t1]."""
        return EventLog(
            [j for j in self.jobs if t0 <= j.t0 <= t1],
            [s for s in self.stages if t0 <= s.t0 <= t1],
        )

    def busy_s(self, t0: float, t1: float) -> float:
        """Length of the union of job spans, clipped to [t0, t1]."""
        ivs = sorted((max(j.t0, t0), min(j.t1, t1)) for j in self.jobs)
        total, end = 0.0, t0
        for a, b in ivs:
            a = max(a, end)
            if b > a:
                total += b - a
                end = b
        return total


def _scope_name(raw: str | None) -> str:
    if not raw:
        return ""
    try:
        return json.loads(raw).get("name", "")
    except ValueError:
        return ""


def read_event_log(log_dir: str) -> EventLog:
    """Parse the single uncompressed, non-rolling event log in
    ``log_dir`` (written once the SparkContext stops)."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    job_start: dict[int, float] = {}
    jobs: list[Job] = []
    tasks: dict[int, list[float]] = {}
    stages: list[Stage] = []
    with open(files[0]) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                job_start[e["Job ID"]] = e["Submission Time"] / 1e3
            elif kind == "SparkListenerJobEnd":
                jid = e["Job ID"]
                if jid in job_start:
                    jobs.append(Job(job_start[jid], e["Completion Time"] / 1e3))
            elif kind == "SparkListenerTaskEnd":
                info = e["Task Info"]
                tasks.setdefault(e["Stage ID"], []).append(
                    float(info["Finish Time"] - info["Launch Time"])
                )
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                if "Submission Time" not in si:
                    continue
                acc: dict[str, float] = {}
                for a in si.get("Accumulables", []):
                    try:
                        acc[a["Name"]] = acc.get(a["Name"], 0.0) + float(a["Value"])
                    except (KeyError, TypeError, ValueError):
                        continue
                stages.append(
                    Stage(
                        id=si["Stage ID"],
                        t0=si["Submission Time"] / 1e3,
                        scopes=[_scope_name(r.get("Scope")) for r in si.get("RDD Info", [])],
                        acc=acc,
                    )
                )
    for s in stages:
        s.task_ms = tasks.get(s.id, [])
    return EventLog(jobs, stages)


def spark_totals(log: EventLog, t0: float, t1: float) -> dict[str, float]:
    """The ``spark.*`` per-layer totals over the window [t0, t1]."""
    m = lambda k: sum(s.metric(k) for s in log.stages)  # noqa: E731
    return {
        "spark.jobs": len(log.jobs),
        "spark.stages": len(log.stages),
        "spark.tasks": sum(len(s.task_ms) for s in log.stages),
        "spark.executor_run_s": m("internal.metrics.executorRunTime") / 1e3,
        "spark.shuffle_write_bytes": m("internal.metrics.shuffle.write.bytesWritten"),
        "spark.spill_bytes": m("internal.metrics.memoryBytesSpilled")
        + m("internal.metrics.diskBytesSpilled"),
        "spark.gc_s": m("internal.metrics.jvmGCTime") / 1e3,
        "spark.driver_only_s": (t1 - t0) - log.busy_s(t0, t1),
    }


def python_stage_s(log: EventLog, scope: str | None = None) -> float:
    """Executor run time of stages that cross into Python (or of stages
    holding the named scope)."""
    chosen = [
        s for s in log.stages
        if (scope in s.scopes if scope else s.python)
    ]
    return sum(s.metric("internal.metrics.executorRunTime") for s in chosen) / 1e3


def task_skew(log: EventLog) -> float:
    """Max over stages with several tasks of (slowest task / median task)."""
    ratios = [
        max(s.task_ms) / max(statistics.median(s.task_ms), 1.0)
        for s in log.stages
        if len(s.task_ms) > 1
    ]
    return max(ratios, default=0.0)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------- kernel timers


def _per_item_s(fn, items: list, reps: int = 5) -> float:
    """Median over ``reps`` passes of one pass's time per item."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        for it in items:
            fn(it)
        times.append(time.perf_counter() - t)
    return statistics.median(times) / len(items)


def kernel_timers(pages: list[tuple[str, bytes]], urls: list[str]) -> dict[str, float]:
    """Per-item cost of the Python kernels behind the extraction and
    canonicalize UDFs, timed in this process."""
    import pandas as pd

    from sharepointcrawler_spark.extraction.converter import (
        ConvertOptions,
        build_lines,
        convert_pages_to_markdown,
    )
    from sharepointcrawler_spark.extraction.htmlwords import extract_links, parse_word_pages
    from sharepointcrawler_spark.functions.urlnorm import canonicalize_url

    opt = ConvertOptions()

    def convert(page):
        url, html = page
        words, heights = parse_word_pages(html)
        lines = [
            build_lines(ws, n + 1, heights[n], opt.line_y_tolerance)
            for n, ws in enumerate(words)
        ]
        return convert_pages_to_markdown(lines, url, opt)

    series = pd.Series(urls)
    canon_s = _per_item_s(lambda s: canonicalize_url.func(s), [series]) / len(urls)
    return {
        "extraction.kernel_ms_per_page": _per_item_s(convert, pages) * 1e3,
        "extraction.links_us_per_page": _per_item_s(
            lambda p: extract_links(p[1], p[0]), pages
        ) * 1e6,
        "functions.canonicalize_us_per_url": canon_s * 1e6,
    }
