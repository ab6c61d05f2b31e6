"""Incremental frontier state (merge-on-read deltas + compaction):
per-wave write IO must scale with the WAVE DELTA, not the cumulative
frontier — the parquet emulation of Iceberg MERGE INTO promised by
SURVEY §4 (and the one O(total-frontier)-per-wave cost flagged in
VERDICT r01)."""

from __future__ import annotations

from sharepointcrawler_spark.operators.frontier import graph_expander
from sharepointcrawler_spark.plans.crawl import CrawlConfig, run_crawl
from sharepointcrawler_spark.plans.snapshot import SnapshotStore
from sharepointcrawler_spark.sources import sitegraph as sg


def _edges(spark, depth=3, files=3, folders=2):
    root = sg.balanced_tree(
        depth=depth, files_per_folder=files, folders_per_folder=folders
    )
    return root, spark.createDataFrame(
        sg.add_cross_links_and_cycle(sg.edges_from_tree(root), root.url),
        "parent_url string, child_url string, kind string, sibling_idx int",
    )


def test_delta_rows_scale_with_wave_not_frontier(spark, tmp_path):
    root, edges = _edges(spark)
    store = SnapshotStore(spark, str(tmp_path / "snap"))
    res = run_crawl(
        spark,
        store,
        graph_expander(edges),
        seeds=[(root.url, 0)],
        config=CrawlConfig(compact_every=1000),  # no compaction: pure deltas
        resume=False,
    )
    total = res.frontier.count()
    deltas = [m["delta_rows"] for m in res.metrics]
    assert res.waves >= 3
    # every frontier row is written at most twice across the WHOLE crawl
    # (once discovered, once terminalized; no retries here) — the old
    # full-rewrite design wrote ~waves * total rows
    assert sum(deltas) <= 2 * total
    # a later wave's delta reflects only its own scheduled + discovered
    # rows, never the cumulative frontier
    assert deltas[-1] < total


def test_compaction_equivalence_and_resume(spark, tmp_path):
    """compact_every=2 (deltas retire into a fresh state-partitioned
    base, including across a kill/resume) must yield exactly the final
    state of the no-compaction run, with zero re-fetches."""
    root, edges = _edges(spark)
    sa = SnapshotStore(spark, str(tmp_path / "a"))
    ra = run_crawl(
        spark, sa, graph_expander(edges), seeds=[(root.url, 0)],
        config=CrawlConfig(compact_every=2), resume=False, stop_after_wave=2,
    )
    assert ra.waves == 2  # killed mid-crawl, right at a compaction point
    ra2 = run_crawl(
        spark, sa, graph_expander(edges), config=CrawlConfig(compact_every=2), resume=True
    )
    sb = SnapshotStore(spark, str(tmp_path / "b"))
    rb = run_crawl(
        spark, sb, graph_expander(edges), seeds=[(root.url, 0)],
        config=CrawlConfig(compact_every=1000), resume=False,
    )
    fa = {(r.url_canon, r.state, r.attempt) for r in ra2.frontier.collect()}
    fb = {(r.url_canon, r.state, r.attempt) for r in rb.frontier.collect()}
    assert fa == fb
    # zero re-fetches across the kill/compaction/resume boundary
    log = ra2.fetch_log.toPandas()
    assert (log.groupby("url_canon").size() > 1).sum() == 0


def test_per_host_budget_defers_at_zero_delta_cost(spark, tmp_path):
    """W5 budget: deferred rows are simply NOT in the wave's delta (they
    stay pending in the merged view), yet the crawl converges to the
    same fetched set as the unbudgeted run — just over more waves, with
    at most k fetches per host per wave."""
    from pyspark.sql import functions as F

    root, edges = _edges(spark, depth=2, files=4, folders=2)
    sa = SnapshotStore(spark, str(tmp_path / "budget"))
    ra = run_crawl(
        spark, sa, graph_expander(edges), seeds=[(root.url, 0)],
        config=CrawlConfig(per_host_wave_budget=3, max_waves=30), resume=False,
    )
    sb = SnapshotStore(spark, str(tmp_path / "nobudget"))
    rb = run_crawl(
        spark, sb, graph_expander(edges), seeds=[(root.url, 0)],
        config=CrawlConfig(), resume=False,
    )
    fa = {r.url_canon for r in ra.frontier.filter("state = 'fetched'").collect()}
    fb = {r.url_canon for r in rb.frontier.filter("state = 'fetched'").collect()}
    assert fa == fb                      # same coverage, budget only delays
    assert ra.waves > rb.waves           # deferral really happened
    per_wave_host = (
        ra.fetch_log.groupBy("wave_id", "host").agg(F.count("*").alias("n")).collect()
    )
    assert max(r.n for r in per_wave_host) <= 3   # budget enforced
    # zero delta cost for deferred rows: every fetched row appears in
    # deltas exactly twice (discovered + terminalized), seeds once
    total_delta = sum(m["delta_rows"] for m in ra.metrics)
    assert total_delta <= 2 * len(fa)


def test_snapshot_store_requires_aqe(spark, tmp_path):
    """The store's REBALANCE write hint needs adaptive execution: a
    session with AQE off is refused up front."""
    import pytest

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        with pytest.raises(ValueError, match="adaptive.enabled"):
            SnapshotStore(spark, str(tmp_path / "snap"))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
