"""Enumeration-order + URL-seen fixtures (SURVEY.md §5 items 1-2).

The crawl engine must reproduce the reference's pre-order DFS yield
order (SharePointClient.cs:265-335) via the path_key sort, terminate on
cyclic graphs, and its final seen-set must equal the exact oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sharepointcrawler_spark.functions.urlnorm import _canon_one
from sharepointcrawler_spark.operators.frontier import graph_expander, global_sequence
from sharepointcrawler_spark.plans.crawl import CrawlConfig, crawl_order, run_crawl
from sharepointcrawler_spark.plans.snapshot import SnapshotStore
from sharepointcrawler_spark.sources import sitegraph as sg


def _run(spark, tmp_path, root, edges, **cfg_kwargs):
    edges_df = spark.createDataFrame(
        edges, "parent_url string, child_url string, kind string, sibling_idx int"
    )
    store = SnapshotStore(spark, str(tmp_path / "snap"))
    cfg = CrawlConfig(**cfg_kwargs)
    return run_crawl(
        spark,
        store,
        graph_expander(edges_df),
        seeds=[(root.url, 0)],
        config=cfg,
        resume=False,
    )


@pytest.mark.parametrize("use_bloom", [False, True])
def test_balanced_tree_order(spark, tmp_path, use_bloom):
    root = sg.balanced_tree(depth=3)
    edges = sg.edges_from_tree(root)
    res = _run(spark, tmp_path / str(use_bloom), root, edges, use_bloom=use_bloom)

    got = [
        r.url_canon
        for r in crawl_order(res.frontier).orderBy("crawl_seq").collect()
    ]
    want = [_canon_one(u) for u in sg.expected_preorder(root)]
    assert got == want

    # seen-set == exact set of all canonical urls in the tree
    seen = {r.url_canon for r in res.seen.select("url_canon").distinct().collect()}
    assert seen == set(want)


def test_ragged_tree_order(spark, tmp_path):
    root = sg.ragged_tree(seed=42)
    edges = sg.edges_from_tree(root)
    res = _run(spark, tmp_path, root, edges)
    got = [
        r.url_canon for r in crawl_order(res.frontier).orderBy("crawl_seq").collect()
    ]
    want = [_canon_one(u) for u in sg.expected_preorder(root)]
    assert got == want


def test_cycle_terminates_and_dedups(spark, tmp_path):
    root = sg.balanced_tree(depth=2)
    edges = sg.add_cross_links_and_cycle(sg.edges_from_tree(root), root.url)
    res = _run(spark, tmp_path, root, edges, max_waves=30)
    assert res.waves < 30  # terminated by frontier exhaustion, not cap
    # every url fetched exactly once
    fetched = res.fetch_log.groupBy("url_canon").count()
    assert fetched.filter(F.col("count") > 1).count() == 0
    # seen set is exactly the tree's url set (cross-links add no new urls)
    want = {_canon_one(u) for u in sg.expected_preorder(root)}
    seen = {r.url_canon for r in res.seen.select("url_canon").distinct().collect()}
    assert seen == want


def test_canonicalization_variants_dedup(spark, tmp_path):
    """Children spelled differently but canonically equal are fetched once."""
    root_url = "https://dup.example.com/lib"
    edges = [
        (root_url, "https://DUP.example.com/lib/a", "folder", 0),
        (root_url, "https://dup.example.com:443/lib/b/", "folder", 1),
        ("https://dup.example.com/lib/a", "https://dup.example.com/lib/b", "folder", 0),
        ("https://dup.example.com/lib/b", "https://dup.example.com/lib/x/../a/", "folder", 0),
    ]

    class R:
        url = root_url

    res = _run(spark, tmp_path, R, edges)
    seen = {r.url_canon for r in res.seen.select("url_canon").distinct().collect()}
    assert seen == {
        "https://dup.example.com/lib",
        "https://dup.example.com/lib/a",
        "https://dup.example.com/lib/b",
    }
    assert res.fetch_log.groupBy("url_canon").count().filter("count > 1").count() == 0


def test_global_sequence_matches_window(spark):
    import random

    rng = random.Random(7)
    rows = [(f"k{rng.randint(0, 10**9):010d}", i) for i in range(5000)]
    df = spark.createDataFrame(rows, "key string, payload int")
    got = global_sequence(df, "key", out_col="seq")
    check = got.orderBy("seq").collect()
    keys_sorted = sorted(r[0] for r in rows)
    assert [r.key for r in check] == keys_sorted
    assert [r.seq for r in check] == list(range(1, 5001))


def test_recrawl_priorities_model(spark):
    """Cho & Garcia-Molina refresh features: the smoothed rate and
    staleness match hand-computed values, p_changed matches python's
    exp to float precision, the due flag flips exactly at the ln-2
    product, and the per-host batch contains only due rows in
    staleness order."""
    import math

    from pyspark.sql import functions as F

    from sharepointcrawler_spark.operators.recrawl import (
        LN2,
        recrawl_priorities,
        select_refresh_batch,
    )

    day = 86400
    rows = [
        # (id, first, last, fetches, changes, host, importance)
        (1, 0, 30 * day, 10, 6, "a", 1.0),   # fast changer, 10d old
        (2, 0, 30 * day, 10, 0, "a", 1.0),   # never changed
        (3, 0, 39 * day, 5, 1, "b", 2.0),    # 1d old, important
        (4, 0, 10 * day, 3, 9, "b", 1.0),    # very fast, 30d old
    ]
    hist = spark.createDataFrame(
        rows,
        "doc_id long, first_fetch_s long, last_fetch_s long, n_fetches long,"
        " n_changes long, host string, importance double",
    )
    now = 40 * day
    pr = {
        r.doc_id: r
        for r in recrawl_priorities(
            hist, now_s=now, id_col="doc_id", importance_col="importance"
        ).collect()
    }
    # id 1: lambda = 6.5/31, age 10 -> staleness ~2.097, due
    lam1 = 6.5 / 31.0
    assert pr[1].lambda_per_day == lam1
    assert pr[1].age_days == 10.0
    assert pr[1].staleness == (lam1 * 10.0) * 1.0
    assert pr[1].due and pr[1].p_changed == 1.0 - math.exp(-lam1 * 10.0)
    # id 2: smoothing keeps a nonzero rate; 10 days old -> not due
    assert 0 < pr[2].lambda_per_day == 0.5 / 31.0
    assert not pr[2].due
    # id 3: lambda = 1.5/40, age 1 -> product 0.0375 << ln2, not due,
    # but importance doubles its staleness
    assert pr[3].staleness == (1.5 / 40.0 * 1.0) * 2.0 and not pr[3].due
    # id 4: lambda = 9.5/11, age 30 -> far past due
    assert pr[4].due and pr[4].p_changed > 0.99
    # due boundary is exactly lambda*age >= ln2
    for r in pr.values():
        assert r.due == (r.lambda_per_day * r.age_days >= LN2)

    joined = recrawl_priorities(
        hist, now_s=now, id_col="doc_id", importance_col="importance"
    ).join(hist.select("doc_id", "host"), "doc_id")
    batch = select_refresh_batch(joined, per_host=1, host_col="host", id_col="doc_id")
    got = {(r.host, r.refresh_rank): r.doc_id for r in batch.collect()}
    assert got == {("a", 1): 1, ("b", 1): 4}  # only due rows, max staleness


def test_sitemap_entries_and_seed_frontier(spark):
    """Sitemap protocol parse: urlset entries with optional fields,
    whitespace-padded locs, loc-less entries dropped; sitemapindex
    children classified is_index; seed frontier excludes index children
    and keep-first-dedups repeated locs."""
    from sharepointcrawler_spark.operators.sitemap import (
        sitemap_entries,
        sitemap_seed_frontier,
    )

    urlset = (
        '<?xml version="1.0"?>\n'
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
        "<url><loc> https://a.example.com/p1 </loc>"
        "<lastmod>2024-01-01</lastmod><changefreq>daily</changefreq>"
        "<priority>0.8</priority></url>\n"
        "<url><loc>https://a.example.com/p2</loc><priority>0.5</priority></url>\n"
        "<url><lastmod>2024-02-02</lastmod></url>\n"
        "<url><loc>https://a.example.com/p1</loc></url>\n"
        "</urlset>"
    )
    index = (
        "<sitemapindex><sitemap><loc>https://a.example.com/sm1.xml</loc>"
        "<lastmod>2024-03-01</lastmod></sitemap>"
        "<sitemap><loc>https://a.example.com/sm2.xml</loc></sitemap>"
        "</sitemapindex>"
    )
    df = spark.createDataFrame(
        [(1, urlset), (2, index)], "sitemap_id long, xml string"
    )
    rows = sitemap_entries(df).orderBy("sitemap_id", "ord").collect()
    assert len(rows) == 5  # loc-less entry dropped
    assert rows[0].loc == "https://a.example.com/p1"  # whitespace trimmed
    assert rows[0].lastmod == "2024-01-01" and rows[0].priority == 0.8
    assert rows[0].changefreq == "daily" and not rows[0].is_index
    assert rows[1].priority == 0.5 and rows[1].lastmod is None
    assert rows[3].is_index and rows[3].loc == "https://a.example.com/sm1.xml"
    assert rows[4].is_index and rows[4].lastmod is None

    seeds = sitemap_seed_frontier(df).orderBy("loc").collect()
    assert [s.loc for s in seeds] == [
        "https://a.example.com/p1",
        "https://a.example.com/p2",
    ]
    assert seeds[0].ord == 0  # keep-first won over the ord-3 duplicate


def test_recrawl_clamps_malformed_history(spark):
    """last < first (would zero the smoothing denominator) and a
    future last_fetch (negative age) both clamp to the well-defined
    boundary instead of producing inf/negative staleness."""
    from sharepointcrawler_spark.operators.recrawl import recrawl_priorities

    day = 86400
    hist = spark.createDataFrame(
        [
            (1, 50 * day, 10 * day, 3, 2, "a", 1.0),  # last < first
            (2, 0, 99 * day, 3, 2, "a", 1.0),         # fetched "in the future"
        ],
        "doc_id long, first_fetch_s long, last_fetch_s long, n_fetches long,"
        " n_changes long, host string, importance double",
    )
    pr = {
        r.doc_id: r
        for r in recrawl_priorities(hist, now_s=60 * day, id_col="doc_id").collect()
    }
    assert pr[1].lambda_per_day == 2.5  # (2 + 0.5) / (0 + 1)
    assert pr[1].age_days == 50.0 and pr[1].staleness == 125.0
    assert pr[2].age_days == 0.0 and pr[2].staleness == 0.0 and not pr[2].due


@pytest.fixture(scope="module")
def denied_retry_crawl(spark, tmp_path_factory):
    """A crawl killed after wave 2 and resumed to the end, with a robots
    deny (``sub1``), a page that fails once and then succeeds
    (``doc0.pdf``), a page that always fails (``sub0/doc1.pdf``) and a
    per-host budget of 2 that defers a pending row at wave 2."""
    from sharepointcrawler_spark.operators.robots import ROBOTS_SCHEMA

    root = sg.balanced_tree(depth=2, files_per_folder=2, folders_per_folder=2)
    edges_df = spark.createDataFrame(
        sg.edges_from_tree(root),
        "parent_url string, child_url string, kind string, sibling_idx int",
    )
    robots_df = spark.createDataFrame(
        [("site.example.com", "deny", "/lib/sub1", None)], ROBOTS_SCHEMA
    )

    def fetch_probe(scheduled):
        flaky = F.col("url_canon").endswith("/lib/doc0.pdf") & (F.col("attempt") == 0)
        broken = F.col("url_canon").endswith("/lib/sub0/doc1.pdf")
        return scheduled.select("url_key", (~(flaky | broken)).alias("fetch_ok"))

    cfg = CrawlConfig(per_host_wave_budget=2, max_fetch_attempts=2)
    store = SnapshotStore(spark, str(tmp_path_factory.mktemp("denied_retry")))
    kw = dict(robots_df=robots_df, config=cfg, fetch_probe=fetch_probe)
    killed = run_crawl(
        spark, store, graph_expander(edges_df), seeds=[(root.url, 0)],
        resume=False, stop_after_wave=2, **kw,
    )
    killed_keys = {r.url_key for r in killed.frontier.collect()}
    killed_seen = {r.url_key for r in killed.seen.collect()}
    killed_states = {r.state for r in killed.frontier.collect()}
    res = run_crawl(spark, store, graph_expander(edges_df), resume=True, **kw)
    return cfg, store, killed_keys, killed_seen, killed_states, res


def test_pending_rows_are_always_seen(denied_retry_crawl):
    """Every frontier row — pending (deferred or retrying), denied or
    failed — has its url_key in the seen set, at the kill and at the
    end: the seen delta is exactly the wave's new discoveries."""
    _, _, killed_keys, killed_seen, killed_states, res = denied_retry_crawl
    assert {"pending", "denied"} <= killed_states
    assert killed_keys <= killed_seen
    states = {r.state for r in res.frontier.collect()}
    assert {"fetched", "denied", "failed"} <= states
    assert {r.url_key for r in res.frontier.collect()} <= {
        r.url_key for r in res.seen.collect()
    }


def test_bloom_shards_equal_build_over_seen(spark, denied_retry_crawl):
    """After a kill and a resume, the crawl's incrementally updated bloom
    shards equal a one-shot build over the final seen set: same shard
    set, byte-identical bits."""
    from sharepointcrawler_spark.operators import dedup as dd

    cfg, store, _, _, _, res = denied_retry_crawl
    geometry = dd.bloom_params(
        max(cfg.bloom_capacity // cfg.n_bloom_shards, 64), cfg.bloom_fp_rate
    )
    got = {
        r["shard"]: r["bits"]
        for r in store.read("bloom_shards", store.latest_wave()).collect()
    }
    want = {
        r["shard"]: r["bits"]
        for r in dd.build_bloom_shards(
            res.seen, n_shards=cfg.n_bloom_shards, geometry=geometry
        ).collect()
    }
    assert got == want
