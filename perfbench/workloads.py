"""The benchmark's workloads. Each one builds its seeded input in
set-up, warms the session up, then runs one operation per call to
``op``, which times itself on the shared ``Timeline`` and returns the
outcome of its output checks.

``step_s`` is the one step inside an operation that a user waits on by
itself: the resume call of a killed crawl, and the scheduling pass
before extraction.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from perfbench import inputs
from perfbench.trace import (
    COGROUP_SCOPE,
    EventLog,
    Span,
    Timeline,
    median,
    python_stage_s,
    task_skew,
)


@dataclass
class OpResult:
    items: int
    wall_s: float
    step_s: float
    checks: list[tuple[str, bool]]


def _union_s(spans: list[Span]) -> float:
    total, end = 0.0, float("-inf")
    for s in sorted(spans, key=lambda s: s.t0):
        a = max(s.t0, end)
        if s.t1 > a:
            total += s.t1 - a
            end = s.t1
    return total


def _disk_usage(root: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


class CrawlTenant:
    """One SharePoint host's folder tree through ``graph_expander``,
    crawled in three waves: a kill after wave 1, a one-wave resume that
    compacts, then a resume to the end. The per-host budget ranks every
    wave (it does not bind at this size). Nearly all of its time is the
    fixed cost of a wave, and it parses no html."""

    name = "crawl_tenant"
    DEPTH, FILES, FOLDERS = 2, 30, 3  # 124 URLs
    BUDGET, COMPACT_EVERY, KILL_AFTER = 96, 2, 1

    def generate(self, spark, seed: int, root: str) -> None:
        from sharepointcrawler_spark.sources import sitegraph as sg

        self.tree = inputs.tenant_tree(seed, self.DEPTH, self.FILES, self.FOLDERS)
        self.expected = sg.expected_preorder(self.tree)
        self.edges_path = os.path.join(root, "edges")
        inputs.write_edges(spark, self.edges_path, seed, self.tree)
        # warm-up tree: root plus two files, a kill after wave 1 and a
        # resume, so every code path of the real crawl has run once
        self.warm_tree = inputs.tenant_tree(seed, 1, 2, 0)
        self.warm_path = os.path.join(root, "warm_edges")
        inputs.write_edges(spark, self.warm_path, seed, self.warm_tree)

    def _config(self):
        from sharepointcrawler_spark.plans.crawl import CrawlConfig

        return CrawlConfig(
            per_host_wave_budget=self.BUDGET, compact_every=self.COMPACT_EVERY
        )

    def warmup(self, spark, work: str) -> None:
        from sharepointcrawler_spark.operators.frontier import graph_expander
        from sharepointcrawler_spark.plans.crawl import run_crawl
        from sharepointcrawler_spark.plans.snapshot import SnapshotStore

        store = SnapshotStore(spark, work)
        expand = graph_expander(spark.read.parquet(self.warm_path))
        run_crawl(spark, store, expand, seeds=[(self.warm_tree.url, 0)],
                  config=self._config(), resume=False, stop_after_wave=1)
        res = run_crawl(spark, store, expand, config=self._config(), resume=True)
        res.fetch_log.count()

    def op(self, spark, tl: Timeline, work: str) -> OpResult:
        from pyspark.sql import functions as F

        from sharepointcrawler_spark.operators.frontier import graph_expander
        from sharepointcrawler_spark.plans.crawl import crawl_order, run_crawl
        from sharepointcrawler_spark.plans.snapshot import SnapshotStore

        cfg = self._config()
        store = SnapshotStore(spark, work)
        expand = graph_expander(spark.read.parquet(self.edges_path))
        with tl.span("op") as op:
            with tl.span("leg", kind="fresh"):
                run_crawl(spark, store, expand, seeds=[(self.tree.url, 0)],
                          config=cfg, resume=False, stop_after_wave=self.KILL_AFTER)
            with tl.span("leg", kind="resume_one") as resume:
                run_crawl(spark, store, expand, config=cfg, resume=True,
                          stop_after_wave=self.KILL_AFTER + 1)
            with tl.span("leg", kind="resume_end"):
                res = run_crawl(spark, store, expand, config=cfg, resume=True)
        self.store, self.result = store, res

        order = [
            r["url"]
            for r in crawl_order(res.frontier).orderBy("crawl_seq").select("url").collect()
        ]
        fetches = res.fetch_log.agg(
            F.count("*").alias("n"), F.countDistinct("url_canon").alias("distinct")
        ).first()
        return OpResult(
            items=fetches["n"],
            wall_s=op.dur,
            step_s=resume.dur,
            checks=[
                ("crawl order equals the pre-order walk", order == self.expected),
                ("no page fetched twice across kill and resume",
                 fetches["n"] == fetches["distinct"]),
                ("every page fetched", fetches["distinct"] == len(self.expected)),
            ],
        )

    def probe(self, spark, work: str) -> dict[str, float]:
        """State at the end of the traced crawl: seen rows, bloom fill,
        snapshot size on disk."""
        import numpy as np

        shards = self.store.read("bloom_shards", self.store.latest_wave()).toPandas()
        fills = [
            np.unpackbits(np.frombuffer(b, dtype=np.uint8)).sum() / m
            for b, m in zip(shards["bits"], shards["m_bits"])
        ]
        est_fp = [f ** k for f, k in zip(fills, shards["k_hashes"])]
        files, size = _disk_usage(work)
        return {
            "dedup.seen_rows": self.result.seen.count(),
            "dedup.bloom_fill": float(max(fills)),
            "dedup.bloom_est_fp": float(max(est_fp)),
            "snapshot.files": files,
            "snapshot.bytes": size,
        }

    def layers(self, log: EventLog, tl: Timeline, op: Span) -> dict[str, float]:
        waves: list[Span] = []  # one span per commit, from the previous commit
        for leg in tl.named("leg", within=op):
            start = leg.t0
            for c in tl.named("snapshot.commit", within=leg):
                waves.append(Span("wave", start, c.t1, {"wave": c.attrs["wave"]}))
                start = c.t1
        crawl_waves = [w for w in waves if w.attrs["wave"] >= 1]

        def per_wave(fn) -> float:
            return median([fn(w, log.window(w.t0, w.t1)) for w in crawl_waves])

        compacting = [w.dur for w in crawl_waves if w.attrs["wave"] % self.COMPACT_EVERY == 0]
        others = [w.dur for w in crawl_waves if w.attrs["wave"] % self.COMPACT_EVERY != 0]
        resume = tl.named("leg", within=op)[1]
        first_write = tl.named("snapshot.write", within=resume)[0]
        writes = tl.named("snapshot.write", within=op)
        return {
            "crawl.waves": len(crawl_waves),
            "crawl.wave_s.p50": median([w.dur for w in crawl_waves]),
            "crawl.wave_s.max": max(w.dur for w in crawl_waves),
            "crawl.wave_span_coverage": sum(w.dur for w in waves) / op.dur,
            "crawl.jobs_per_wave": per_wave(lambda w, lg: len(lg.jobs)),
            "crawl.stages_per_wave": per_wave(lambda w, lg: len(lg.stages)),
            "crawl.tasks_per_wave": per_wave(
                lambda w, lg: sum(len(s.task_ms) for s in lg.stages)
            ),
            "crawl.python_stages_per_wave": per_wave(
                lambda w, lg: sum(s.python for s in lg.stages)
            ),
            "crawl.driver_only_s_per_wave": per_wave(
                lambda w, lg: w.dur - log.busy_s(w.t0, w.t1)
            ),
            "crawl.compaction_extra_s": median(compacting) - median(others),
            "crawl.resume_rebuild_s": first_write.t0 - resume.t0,
            "snapshot.write_calls": len(writes),
            "snapshot.write_s": _union_s(writes),
            "snapshot.commit_s": sum(c.dur for c in tl.named("snapshot.commit", within=op)),
            "dedup.cogroup_stage_s": python_stage_s(log, COGROUP_SCOPE),
        }


class Extract:
    """The schedule and extraction pass, with a quarter of the URLs and
    pages on one hot host: ``with_url_columns`` then ``grouped_sequence``
    by host over a frontier of URLs, then ``extract_all_udf`` with the
    byte-identity check and ``doc_fingerprint`` over a page corpus.
    Per-row Arrow and Python work dominates; there is no wave loop and
    no snapshot. The frontier is larger than the corpus so that the
    schedule step is long enough to time steadily."""

    name = "extract"
    N_PAGES, N_URLS, N_HOSTS, BRANCHING, HOT = 6000, 200_000, 32, 32, 0.25

    def generate(self, spark, seed: int, root: str) -> None:
        self.path = os.path.join(root, "pages")
        self.ref = inputs.write_pages(
            spark, self.path, seed, self.N_PAGES, self.N_HOSTS, self.BRANCHING,
            self.HOT, n_partitions=16,
        )
        self.frontier_path = os.path.join(root, "frontier")
        self.frontier_ref = inputs.write_frontier(
            self.frontier_path, seed, self.N_URLS, self.N_HOSTS, self.HOT
        )

    def warmup(self, spark, work: str) -> None:
        self.op(spark, Timeline(), work)

    def op(self, spark, tl: Timeline, work: str) -> OpResult:
        from pyspark.sql import functions as F

        from sharepointcrawler_spark.extraction.udfs import extract_all_udf
        from sharepointcrawler_spark.functions.textanalysis import doc_fingerprint
        from sharepointcrawler_spark.functions.urlnorm import with_url_columns
        from sharepointcrawler_spark.operators.politeness import grouped_sequence

        pages = spark.read.parquet(self.path)
        ref, fref = self.ref, self.frontier_ref
        with tl.span("op") as op:
            with tl.span("step", kind="schedule") as sched:
                keyed = with_url_columns(spark.read.parquet(self.frontier_path))
                keyed = keyed.select("url_canon", "host", "url_key")
                ranked = grouped_sequence(keyed, "host", ["url_canon"], out_col="host_rank")
                s = ranked.agg(
                    F.count("*").alias("n"),
                    F.sum("host_rank").alias("rank_sum"),
                    F.max("host_rank").alias("rank_max"),
                ).first()
            with tl.span("step", kind="extract"):
                e = (
                    pages.select(extract_all_udf(F.col("html"), F.col("url")).alias("ex"), "text")
                    .select(
                        F.size("ex.links").alias("n_links"),
                        (F.col("ex.md") == F.col("text")).alias("identical"),
                        doc_fingerprint(F.col("ex.md")).alias("fp"),
                    )
                    .agg(
                        F.count("*").alias("n"),
                        F.sum("n_links").alias("n_links"),
                        F.sum(F.col("identical").cast("long")).alias("n_identical"),
                        F.countDistinct("fp").alias("n_fp"),
                    )
                    .first()
                )
        return OpResult(
            items=e["n"],
            wall_s=op.dur,
            step_s=sched.dur,
            checks=[
                ("every URL scheduled once", s["n"] == fref.n_urls),
                ("host ranks are 1..n per host",
                 (s["rank_sum"], s["rank_max"]) == (fref.host_rank_sum, fref.host_rank_max)),
                ("every page extracted", e["n"] == ref.n_pages),
                ("extracted text byte-identical", e["n_identical"] == ref.n_pages),
                ("every link extracted", e["n_links"] == ref.n_links),
                ("fingerprint count", e["n_fp"] == ref.n_distinct_fp),
            ],
        )

    def layers(self, log: EventLog, tl: Timeline, op: Span) -> dict[str, float]:
        sched, extract = tl.named("step", within=op)
        slog = log.window(sched.t0, sched.t1)
        elog = log.window(extract.t0, extract.t1)
        return {
            "politeness.shuffle_write_bytes": sum(
                s.metric("internal.metrics.shuffle.write.bytesWritten") for s in slog.stages
            ),
            "politeness.task_skew": task_skew(slog),
            "functions.python_stage_s": python_stage_s(slog),
            "extraction.python_stage_s": python_stage_s(elog),
            "extraction.bytes_to_python": sum(
                s.metric("data sent to Python workers") for s in elog.stages
            ),
        }


WORKLOADS = {w.name: w for w in (CrawlTenant, Extract)}
