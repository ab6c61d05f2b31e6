"""The crawl wave loop (SURVEY.md §3.1 "Spark redesign"; north_rule).

Replaces the reference's recursive async iterator
(SharePointClient.cs:201-342, driven from MainForm.cs:97-100) with a
driver loop of BFS waves — Spark has no recursive CTE, so the recursion
lives on the driver while ALL data work is partition-parallel:

    wave k: read pending -> robots gate -> politeness slots ->
            "fetch" (expander) -> canonicalize + within-wave dedup ->
            bloom-prefiltered anti-join vs seen -> new pending rows ->
            commit snapshot k (frontier DELTA, seen delta, bloom shards,
            fetch log, metrics, errors)

Frontier state is **merge-on-read** — the parquet emulation of Iceberg
MERGE INTO (SURVEY §4): a base table hive-partitioned by ``state`` plus
one upsert delta per wave (latest ``delta_wave`` wins per url_key).
Per-wave write IO is O(wave delta), NEVER O(total frontier); reading the
working set scans only the base's ``state=pending`` partition (directory
pruned) plus the deltas since the last compaction. Every
``compact_every`` waves the merged view is rewritten as a fresh base
(amortized O(total/compact_every) per wave), exactly Iceberg's
compaction story. States are monotone (pending -> fetched/denied/failed,
retries stay pending), which is what makes the pending-partition prune
sound: a terminal row can never become pending again.

Each wave ends in one atomic snapshot commit (plans/snapshot.py); a
killed job resumes from the latest manifest with zero re-fetches —
the property the reference lacks entirely (BASELINE.md "resume gate").

Crawl ORDER is carried by the ``path_key`` column (operators/frontier.py)
and materialized at the end as ``crawl_seq`` via a scale-safe global
sequence, reproducing the reference's pre-order DFS yield order exactly.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sharepointcrawler_spark.operators import frontier as fr
from sharepointcrawler_spark.operators import dedup as dd
from sharepointcrawler_spark.operators.politeness import assign_fetch_slots, top_k_per_host
from sharepointcrawler_spark.operators.recrawl import (
    recrawl_priorities,
    select_refresh_batch,
)
from sharepointcrawler_spark.operators.robots import (
    RobotsGate,
    apply_robots_gate,
    robots_rules_df,
    robots_sitemaps_df,
)
from sharepointcrawler_spark.operators.sitemap import (
    expand_sitemap_tree,
    sitemap_frontier_rows,
)
from sharepointcrawler_spark.functions.urlnorm import url_host as _url_host
from sharepointcrawler_spark.functions.urlnorm import url_key as _url_key
from sharepointcrawler_spark.operators.traps import TrapRules, reject_traps
from sharepointcrawler_spark.plans.snapshot import SnapshotStore

# storage-only column marking which wave last touched a frontier row;
# stripped before rows re-enter the pipeline
DELTA_WAVE = "delta_wave"

# schemas of the snapshot tables the crawl reads back: a read that names
# its schema skips the parquet footer-inference job a bare read runs
DELTA_SCHEMA = T.StructType(
    fr.FRONTIER_SCHEMA.fields + [T.StructField(DELTA_WAVE, T.IntegerType(), False)]
)
SEEN_SCHEMA = "url_key long, url_canon string"
FETCH_LOG_SCHEMA = "url_canon string, host string, wave_id int, fetch_slot double"
ERRORS_SCHEMA = "wave_id int, url_canon string, host string, stage string, message string"


@dataclass
class CrawlConfig:
    """Replaces the reference's UserSettings JSON (UserSettings.cs:7-18)."""

    max_waves: int = 50
    n_bloom_shards: int = 32
    bloom_capacity: int = 1_000_000  # design-point seen-set size per crawl
    bloom_fp_rate: float = 0.01
    use_bloom: bool = True
    per_host_wave_budget: int | None = None  # top-k per host per wave (W5)
    default_crawl_delay_s: float = 1.0
    max_fetch_attempts: int = 2  # bounded retry (reference has none: :283-293)
    compact_every: int = 8  # frontier base rewrite cadence (merge-on-read)
    max_sitemap_depth: int = 3  # sitemapindex recursion bound (discovery)
    sitemap_seed_priority: int = 0  # priority for sitemap-discovered seeds
    # when set, the seen table is written hive-partitioned by
    # pmod(url_key, seen_buckets) and the per-wave exact-confirm join
    # scans ONLY the wave's candidate buckets (storage-partitioned-join
    # emulation) instead of the full seen base — the dominant per-wave
    # IO term at 10^10 URLs. Costs one tiny distinct-buckets job per
    # wave. None keeps the flat layout.
    seen_buckets: int | None = None
    # when set, newly-discovered children pass the crawler-trap
    # admission gate (operators/traps.py) BEFORE the seen probe — trap
    # spellings never cost bloom writes or seen rows. One extra
    # projection per wave, no shuffle. None admits everything (the
    # reference's finite server-enumerated tree needs no gate).
    trap_rules: "TrapRules | None" = None
    # when True, the per-wave budget and the politeness virtual clock
    # group by registrable domain (functions/psl.py public-suffix
    # algorithm) instead of raw host: www./cdn./m. subdomains share one
    # slot sequence, sibling *.blogspot.com sites keep separate ones.
    # robots crawl-delays still resolve per host. Optional
    # ``psl_rules`` supplies the full publicsuffix.org list; the
    # default is the deterministic PSL_SNAPSHOT subset.
    politeness_by_site: bool = False
    psl_rules: list[str] | None = None
    extra: dict = field(default_factory=dict)


@dataclass
class CrawlResult:
    waves: int
    frontier: DataFrame
    seen: DataFrame
    fetch_log: DataFrame
    metrics: list[dict]
    errors: DataFrame | None = None


def _merged_frontier(
    spark: SparkSession,
    base_path: str,
    delta_paths: list[str],
    pending_only: bool = False,
) -> DataFrame:
    """Merge-on-read reconstruction: base ∪ deltas, latest delta_wave wins
    per url_key. With ``pending_only`` the base scan is pruned to the
    ``state=pending`` partition (sound because states are monotone); the
    caller still filters the merged view, because a delta may have
    terminalized a base-pending row."""
    base = spark.read.schema(fr.FRONTIER_SCHEMA).parquet(base_path)
    if pending_only:
        base = base.filter(F.col("state") == fr.PENDING)
    cols = [f.name for f in fr.FRONTIER_SCHEMA.fields]
    merged = base.select(*cols).withColumn(DELTA_WAVE, F.lit(-1))
    for p in delta_paths:
        merged = merged.unionByName(
            spark.read.schema(DELTA_SCHEMA).parquet(p).select(*cols, DELTA_WAVE)
        )
    if not delta_paths:
        return merged.drop(DELTA_WAVE)
    w = Window.partitionBy("url_key").orderBy(F.desc(DELTA_WAVE))
    return (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", DELTA_WAVE)
    )


def _read_seen(
    spark: SparkSession,
    base_path: str,
    delta_paths: list[str],
    bucketed: bool,
) -> DataFrame:
    """Merge-on-read seen reconstruction. Flat layout: one multi-path
    scan. Bucketed layout: the base and the deltas live under different
    roots (seen_base/ vs seen/), so they are read separately — the
    deltas through a shared ``basePath`` so both hive partition levels
    (wave, seen_bucket) are inferred — and unioned; a bucket filter
    pushes through the union into every scan as a partition filter."""
    if not bucketed:
        return spark.read.schema(SEEN_SCHEMA).parquet(base_path, *delta_paths)
    # explicit schemas: a wave with zero new discoveries writes an
    # EMPTY partitioned delta (a _SUCCESS marker, no files), which has
    # no schema to infer
    out = spark.read.schema(
        "url_key long, url_canon string, seen_bucket int"
    ).parquet(base_path)
    if delta_paths:
        deltas = (
            spark.read.option("basePath", os.path.dirname(delta_paths[0]))
            .schema("url_key long, url_canon string, wave int, seen_bucket int")
            .parquet(*delta_paths)
            .drop("wave")
        )
        out = out.unionByName(deltas, allowMissingColumns=True)
    return out


def _write_tables(
    store: SnapshotStore,
    wave: int,
    tables: dict[str, tuple[DataFrame, str, str | None]],
    then: Callable[[dict[str, Future]], dict] | None = None,
) -> tuple[dict[str, str], dict | None]:
    """Write independent snapshot tables CONCURRENTLY from driver threads.

    ``tables`` maps a key to ``(df, table name, partition column or
    None)``. Spark schedules concurrent jobs fine and each write targets
    its own path; at toy scale each write job carries ~1-2 s of fixed
    overhead, so overlapping them is most of a wave's write time (on a
    cluster it overlaps commit latencies instead). ``then(futures)`` runs
    in the same pool, so a job that needs one written table starts while
    the others still write. Returns (path per key, ``then``'s result)."""
    with ThreadPoolExecutor(max_workers=len(tables) + 1) as pool:
        futures = {
            key: (
                pool.submit(store.write, df, name, wave)
                if pcol is None
                else pool.submit(store.write_partitioned, df, name, wave, pcol)
            )
            for key, (df, name, pcol) in tables.items()
        }
        after = pool.submit(then, futures) if then is not None else None
        paths = {key: f.result() for key, f in futures.items()}
        return paths, (after.result() if after is not None else None)


def run_crawl(
    spark: SparkSession,
    store: SnapshotStore,
    expander: Callable[[DataFrame], DataFrame],
    seeds: list[tuple[str, int]] | None = None,
    robots_df: DataFrame | None = None,
    config: CrawlConfig | None = None,
    resume: bool = True,
    stop_after_wave: int | None = None,
    fetch_probe: Callable[[DataFrame], DataFrame] | None = None,
    robots_texts_df: DataFrame | None = None,
    sitemap_fetch: Callable[[DataFrame], DataFrame] | None = None,
    feeds_df: DataFrame | None = None,
    priority_scores: DataFrame | None = None,
    redirects_df: DataFrame | None = None,
) -> CrawlResult:
    """Run (or resume) a crawl to frontier exhaustion.

    ``stop_after_wave`` simulates a mid-crawl kill for the resume tests.

    ``fetch_probe(scheduled) -> DataFrame(url_key, fetch_ok)`` reports
    per-URL fetch success (the 404/timeout analog — the reference
    catches per-file exceptions, logs them and skips,
    SharePointClient.cs:283-293). Failed URLs are retried up to
    ``cfg.max_fetch_attempts`` (state stays pending, attempt bumps),
    then marked 'failed'; every failure appends a row to the ``errors``
    table (ErrorLogger analog, S6).

    ``robots_texts_df`` — raw ``(host, robots_txt)`` bodies. When given,
    the rule cache is distilled from them (``robots_rules_df``) unless
    an explicit ``robots_df`` overrides it, and their ``Sitemap:``
    directives drive seed discovery. ``sitemap_fetch(df(sitemap_url))
    -> (sitemap_url, xml)`` is the sitemap fetch analog; with both
    present, a FRESH crawl resolves the advertised sitemap tree
    (``<sitemapindex>`` recursion bounded by ``cfg.max_sitemap_depth``)
    and unions the discovered pages into the seed frontier — URLs a
    link-following crawl would never reach (the sitemaps.org discovery
    channel). On resume the frontier already holds them, so discovery
    is skipped.

    ``feeds_df`` — raw ``(feed_id, xml)`` RSS/Atom bodies (the third
    discovery channel: freshly-published URLs advertised minutes after
    they exist). Feed entries share the sitemap pages' shape, so both
    channels union into ONE discovery table and get one consistent
    global seed sequence; duplicates across channels (a URL in both a
    sitemap and a feed) collapse in the same keep-first window, and
    explicit seeds still win over every discovered row. Like sitemaps,
    discovery runs on FRESH crawls only.

    ``priority_scores`` — optional ``(url_canon, score)`` table (e.g.
    :func:`operators.ranking.pagerank` over a previous crawl's link
    graph): with a ``per_host_wave_budget``, each wave's per-host
    budget is spent highest-score-first (then the usual depth/order
    tie-break) — the Cho/Garcia-Molina/Page result that
    importance-ordered crawling front-loads the pages that matter.
    Unscored URLs rank at score 0.

    ``redirects_df`` — optional ``(src, dst)`` one-hop redirect edges
    (from a previous crawl's fetch log or a HEAD sweep). Resolved ONCE
    at setup by pointer doubling (:func:`operators.redirects.
    resolve_redirects`); every wave's newly-discovered children are
    rewritten onto their final landing URLs before the seen probe, so
    the frontier dedups on landings (hop spellings are never fetched)
    and redirect loops are refused at admission. One broadcastable
    join per wave against the resolved map.
    """
    cfg = config or CrawlConfig()
    if robots_df is None and robots_texts_df is not None:
        robots_df = robots_rules_df(robots_texts_df)
    gate = RobotsGate(spark, robots_df)
    if priority_scores is not None:
        # caller tables may carry duplicate url_canon rows (e.g. two
        # unioned pagerank runs); a raw left join would then multiply
        # frontier rows and double-spend budget slots — collapse to
        # one max score per URL once, up front
        priority_scores = priority_scores.groupBy("url_canon").agg(
            F.max("score").alias("score")
        )
    resolved_redirects = None
    if redirects_df is not None:
        from sharepointcrawler_spark.functions.urlnorm import canonicalize_url
        from sharepointcrawler_spark.operators.redirects import resolve_redirects

        # canonicalize BOTH endpoints so the map keys match frontier
        # url_canon spellings, then resolve chains once up front; the
        # map is checkpointed by resolve_redirects, so per-wave joins
        # scan one RDD
        resolved_redirects = resolve_redirects(
            redirects_df.select(
                canonicalize_url("src").alias("src"),
                canonicalize_url("dst").alias("dst"),
            )
        )
    geometry = dd.bloom_params(
        max(cfg.bloom_capacity // cfg.n_bloom_shards, 64), cfg.bloom_fp_rate
    )
    metrics_all: list[dict] = []
    sel = [f.name for f in fr.FRONTIER_SCHEMA.fields]

    last = store.latest_wave() if resume else None
    if last is not None:
        manifest = store.manifest(last)
        base_path = manifest["tables"]["frontier_base"]
        delta_paths = list(manifest["tables"].get("frontier_deltas", []))
        seen_base_path = manifest["tables"]["seen_base"]
        seen_delta_paths = list(manifest["tables"]["seen_deltas"])
        shards = store.read("bloom_shards", last, dd.BLOOM_SHARD_SCHEMA)
        wave = last
        if cfg.seen_buckets:
            # resuming a FLAT snapshot with buckets enabled would
            # fill seen_bucket with NULLs and the confirm's bucket IN
            # filter would prune EVERY seen row — already-crawled URLs
            # silently re-enter the frontier. Fail loudly instead.
            base_fields = spark.read.parquet(seen_base_path).schema.fieldNames()
            if dd.SEEN_BUCKET_COL not in base_fields:
                raise ValueError(
                    f"seen_buckets={cfg.seen_buckets} but the snapshot's seen "
                    "table is not bucket-partitioned — resume with "
                    "seen_buckets=None (matching the crawl that wrote it) "
                    "or start a fresh crawl"
                )
    else:
        if not seeds:
            raise ValueError("fresh crawl needs seeds")
        frontier0 = fr.seed_frontier(spark, seeds)
        discovered = None
        if robots_texts_df is not None and sitemap_fetch is not None:
            # sitemap discovery chain: robots 'Sitemap:' directives ->
            # fetch + parse the advertised tree -> frontier seed rows
            # appended after the explicit seeds (which win duplicates)
            discovered = expand_sitemap_tree(
                robots_sitemaps_df(robots_texts_df).select("sitemap_url"),
                sitemap_fetch,
                max_depth=cfg.max_sitemap_depth,
            )
        if feeds_df is not None:
            # feed discovery shares the sitemap pages' shape, so both
            # channels form ONE discovery table with one global
            # sequence; cross-channel duplicate locs collapse in
            # sitemap_frontier_rows' keep-first window
            from sharepointcrawler_spark.operators.feeds import (
                feed_seed_frontier,
            )

            fd_pages = feed_seed_frontier(feeds_df)
            discovered = (
                fd_pages
                if discovered is None
                else discovered.unionByName(fd_pages)
            )
        if discovered is not None:
            sm_seeds = sitemap_frontier_rows(
                discovered,
                start_idx=len(seeds),
                priority=cfg.sitemap_seed_priority,
            ).join(
                frontier0.select("url_canon"), "url_canon", "left_anti"
            )
            frontier0 = frontier0.unionByName(
                sm_seeds.select([f.name for f in fr.FRONTIER_SCHEMA.fields])
            )
        # the three wave-0 tables all derive from frontier0 (a Python
        # UDF and a window): materialize it ONCE before the concurrent
        # writes, which would otherwise each compute it before the
        # cache fills
        frontier0 = frontier0.persist()
        frontier0.count()
        # seeds enter the seen-set immediately (they are scheduled)
        seed_seen = frontier0.select("url_key", "url_canon")
        if cfg.seen_buckets:
            seen_write = (
                dd.with_seen_bucket(seed_seen, cfg.seen_buckets),
                "seen",
                dd.SEEN_BUCKET_COL,
            )
        else:
            seen_write = (seed_seen, "seen", None)
        wave = 0
        tables, _ = _write_tables(
            store,
            0,
            {
                "frontier_base": (frontier0, "frontier_base", "state"),
                "bloom_shards": (
                    dd.build_bloom_shards(
                        seed_seen, n_shards=cfg.n_bloom_shards, geometry=geometry
                    ),
                    "bloom_shards",
                    None,
                ),
                "seen": seen_write,
            },
        )
        frontier0.unpersist()
        base_path = tables["frontier_base"]
        delta_paths = []
        seen_base_path = tables["seen"]
        seen_delta_paths = []
        # wave 1 probes the shards as written, like every later wave
        shards = spark.read.schema(dd.BLOOM_SHARD_SCHEMA).parquet(tables["bloom_shards"])
        store.commit(
            0,
            {
                **tables,
                "frontier_deltas": [],
                "seen_base": seen_base_path,
                "seen_deltas": [],
            },
            {"seeded": len(seeds)},
        )

    # The first loop iteration reconstructs pending from the snapshot
    # (fresh crawl or resume: disk is the only truth). Every LATER wave
    # derives its pending set from the in-memory frames the wave just
    # computed — deferred ∪ retryable ∪ newly-discovered, exactly the
    # rows the merged disk view would yield — so the per-wave
    # read-base-and-deltas + window-merge + count() job disappears (the
    # count rides the wave's single stats job instead). The disk deltas
    # are still written identically every wave, so a kill at ANY point
    # resumes from the same state as before.
    delays = gate.delays_df()
    pending: DataFrame | None = None
    n_pending = 0
    retire: list[DataFrame] = []  # prior wave's persisted frames

    def _release(df: DataFrame) -> None:
        df.unpersist()
        try:
            # a localCheckpoint's blocks belong to the plan's RDD, which
            # DataFrame.unpersist does not touch (corpus.py precedent)
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception:  # noqa: BLE001 - best effort
            pass

    def _retire_now() -> None:
        for df in retire:
            _release(df)
        retire.clear()

    while wave < cfg.max_waves:
        t0 = time.monotonic()
        if pending is None:
            pending = (
                _merged_frontier(spark, base_path, delta_paths, pending_only=True)
                .filter(F.col("state") == fr.PENDING)
                .persist()
            )
            n_pending = pending.count()
        if n_pending == 0:
            break
        wave += 1

        # 1. robots gate (broadcast probe) — denied rows are terminal
        allowed, denied = apply_robots_gate(pending, gate)

        # site-level politeness: group budget + virtual clock by
        # registrable domain (one extra codegen projection, no shuffle)
        pol_group = "host"
        if cfg.politeness_by_site:
            from sharepointcrawler_spark.functions.psl import with_site_column

            allowed = with_site_column(allowed, rules=cfg.psl_rules)
            pol_group = "site"

        # 2. per-host wave budget (priority min-heap, W5); deferred rows
        # stay pending in the merged view at ZERO delta cost (no row
        # is written for them). With priority_scores the budget is
        # spent highest-score-first (importance-ordered crawling).
        if cfg.per_host_wave_budget is not None:
            if priority_scores is not None:
                ranked_in = allowed.join(
                    priority_scores.select("url_canon", "score"),
                    "url_canon",
                    "left",
                ).withColumn(
                    "_neg_score",
                    -F.coalesce(F.col("score"), F.lit(0)).cast("long"),
                )
                budgeted = top_k_per_host(
                    ranked_in,
                    cfg.per_host_wave_budget,
                    order_cols=["_neg_score", "depth", "priority", "path_key"],
                    group_col=pol_group,
                )
                allowed = budgeted.drop("host_rank", "_neg_score", "score")
            else:
                budgeted = top_k_per_host(
                    allowed, cfg.per_host_wave_budget, group_col=pol_group
                )
                allowed = budgeted.drop("host_rank")

        # 3. politeness virtual-clock slots (skew-proof grouped rank at
        # scale, one-shuffle window for small waves)
        scheduled = assign_fetch_slots(
            allowed,
            delays,
            cfg.default_crawl_delay_s,
            approx_rows=n_pending,
            group_col=pol_group,
        ).drop("crawl_delay_s")
        if cfg.politeness_by_site:
            scheduled = scheduled.drop("site")

        # 4. "fetch": probe success per URL; failures retry (bounded) or
        #    go terminal with an errors row; link expansion from OK rows
        scheduled = scheduled.persist()
        if fetch_probe is not None:
            status = fetch_probe(scheduled).select("url_key", "fetch_ok")
            scheduled_ok = scheduled.join(
                status.filter(F.col("fetch_ok")).select("url_key"), "url_key", "left_semi"
            )
            failed = scheduled.join(
                status.filter(F.col("fetch_ok")).select("url_key"), "url_key", "left_anti"
            )
        else:
            scheduled_ok = scheduled
            failed = None
        children = fr.expand_wave(scheduled_ok, expander, wave)
        if cfg.trap_rules is not None:
            # admission gate on the CANONICAL spelling (post-P7), so a
            # trap URL cannot sneak through as an uncanonical variant
            children = reject_traps(children, rules=cfg.trap_rules, url_col="url_canon")
        if resolved_redirects is not None:
            from sharepointcrawler_spark.operators.redirects import apply_redirect_map

            # land children on their final URLs (loops dropped), then
            # re-derive the key/host columns and re-run the within-wave
            # keep-first dedup — two hop spellings may collapse to one
            # landing
            children = (
                apply_redirect_map(children, resolved_redirects, url_col="url_canon")
                .withColumn("url_key", _url_key("url_canon"))
                .withColumn("host", _url_host("url_canon"))
            )
            w_rd = Window.partitionBy("url_canon").orderBy("path_key")
            children = (
                children.withColumn("_rn", F.row_number().over(w_rd))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        t_expand = time.monotonic()  # lazy plans built; writes trigger the work

        # 5. dedup vs seen: bloom prefilter + exact confirm (scale path)
        #    or plain anti-join (oracle path). The seen set is merge-on-
        #    read like the frontier: ONE multi-path parquet scan over the
        #    base + the deltas since the last compaction (deltas are
        #    disjoint by construction — anti-joined before writing — so
        #    a plain union, no window merge), never one directory per
        #    wave for the crawl's whole history.
        seen_df = _read_seen(
            spark, seen_base_path, seen_delta_paths, bool(cfg.seen_buckets)
        )
        # ONE cogroup probes the children against the old bits and ORs
        # them into the next wave's shards. PERSISTED: the probed rows
        # feed the definite/maybe union and the shard rows feed their
        # own write, and without the cache each consumer re-runs the
        # expansion + cogroup (the wave's expensive stages). Without
        # the bloom the shards still take this one update path and
        # maybe_seen is ignored.
        fused = dd.bloom_probe_absorb(
            children, shards, cfg.n_bloom_shards, geometry
        ).persist()
        probed, shards = dd.split_probe_absorb(fused)
        if cfg.use_bloom:
            new_rows = dd.bloom_filtered_unseen(probed, seen_df, cfg.seen_buckets)
        else:
            new_rows = dd.anti_join_unseen(probed.drop("maybe_seen"), seen_df)
        # the dedup result feeds the frontier delta, the seen delta and
        # the stats job — persist once instead of recomputing
        new_rows = new_rows.persist()

        # 6. assemble the wave's UPSERT DELTA: rows that changed state
        #    this wave + newly discovered rows. O(wave), never O(frontier).
        def as_upsert(df: DataFrame, new_state: str | None = None, bump: bool = False) -> DataFrame:
            out = df
            if new_state is not None:
                out = out.withColumn("state", F.lit(new_state))
            if bump:
                out = out.withColumn("attempt", F.col("attempt") + 1)
            return out.select(sel)

        delta = as_upsert(scheduled_ok, fr.FETCHED).unionByName(
            as_upsert(denied, fr.DENIED)
        )
        if failed is not None:
            # retryable: stays pending with attempt+1; exhausted: failed
            exhausted = failed.filter(F.col("attempt") + 1 >= cfg.max_fetch_attempts)
            retryable = failed.filter(F.col("attempt") + 1 < cfg.max_fetch_attempts)
            delta = delta.unionByName(as_upsert(exhausted, fr.FAILED)).unionByName(
                as_upsert(retryable, bump=True)
            )
        delta = delta.unionByName(new_rows.select(sel)).withColumn(
            DELTA_WAVE, F.lit(wave)
        )

        # every pending row (hence every denied one) is already seen:
        # seeds and discovered rows enter the seen set with the wave
        # that adds them to the frontier. new_rows is unique per
        # url_canon (expand_wave's keep-first window; definite and
        # confirmed are disjoint), so it IS the seen delta.
        seen_delta = new_rows.select("url_key", "url_canon")
        fetch_log = scheduled.select(
            "url_canon", "host", F.lit(wave).alias("wave_id"), "fetch_slot"
        )

        # next wave's pending set, derived IN MEMORY (loop header note):
        # new discoveries ∪ retry-pending rows ∪ budget-deferred rows —
        # exactly the rows the merged disk view's latest-state-pending
        # filter would yield (scheduled rows went fetched/failed, denied
        # went terminal; without a budget scheduled ∪ denied == pending,
        # so the deferred branch only exists when a budget can defer).
        # Lazy localCheckpoint: the wave's single stats job is its one
        # consumer this wave, so it materializes there (count + cache in
        # the same action) and the plan collapses to one LogicalRDD —
        # per-wave lineage stays O(1), never O(crawl history).
        nxt = new_rows.select(sel)
        if failed is not None:
            nxt = nxt.unionByName(as_upsert(retryable, bump=True))
        if cfg.per_host_wave_budget is not None:
            handled = scheduled.select("url_key").unionByName(
                denied.select("url_key")
            )
            nxt = nxt.unionByName(
                pending.join(handled, "url_key", "left_anti").select(sel)
            )
        pending_next = nxt.localCheckpoint(eager=False)

        # the 4-5 snapshot tables are independent and their inputs are
        # persisted: write them concurrently (_write_tables)
        if cfg.seen_buckets:
            seen_write = (
                dd.with_seen_bucket(seen_delta, cfg.seen_buckets),
                "seen",
                dd.SEEN_BUCKET_COL,
            )
        else:
            seen_write = (seen_delta, "seen", None)
        to_write = {
            "frontier_delta": (delta, "frontier_delta", None),
            "seen": seen_write,
            "bloom_shards": (shards, "bloom_shards", None),
            "fetch_log": (fetch_log, "fetch_log", None),
        }
        if failed is not None:
            # errors table (S6 ErrorLogger analog): per-failure lineage
            errors = failed.select(
                F.lit(wave).alias("wave_id"),
                "url_canon",
                "host",
                F.lit("fetch").alias("stage"),
                F.concat(
                    F.lit("fetch failed (attempt "), (F.col("attempt") + 1).cast("string"), F.lit(")")
                ).alias("message"),
            )
            to_write["errors"] = (errors, "errors", None)
        # ONE stats job for the whole wave: a tagged union of 1-column
        # projections over the still-persisted wave DataFrames (scheduled,
        # denied-from-persisted-pending, seen_delta) plus the delta
        # read-back — which doubles as the evidence of rows physically
        # written this wave. Replaces the former 4 separate count()
        # actions per wave (each a full Spark job: the bulk of the
        # fixed per-wave overhead at toy scale). The delta read-back tag
        # embeds spark_partition_id, so the SAME job also yields the
        # per-partition lineage rows (north_rule "per-partition lineage
        # + metrics") at zero extra actions. The stats job depends only
        # on the frontier-delta write, so it runs CONCURRENTLY with the
        # remaining snapshot writes instead of serially after them.
        def _tag(df: DataFrame, key: str) -> DataFrame:
            return df.select(F.lit(key).alias("_k"))

        def _stats_job(futures: dict[str, Future]) -> dict:
            dp = futures["frontier_delta"].result()
            delta_readback = spark.read.schema(DELTA_SCHEMA).parquet(dp).select(
                F.concat(
                    F.lit("delta_pid_"),
                    F.spark_partition_id().cast("string"),
                ).alias("_k")
            )
            return {
                r["_k"]: r["n"]
                for r in _tag(scheduled, "scheduled")
                .unionAll(_tag(denied, "denied"))
                .unionAll(_tag(seen_delta, "discovered_new"))
                .unionAll(_tag(pending_next, "pending_next"))
                .unionAll(delta_readback)
                .groupBy("_k")
                .agg(F.count("*").alias("n"))
                .collect()
            }

        tables, counts = _write_tables(store, wave, to_write, then=_stats_job)
        delta_path = tables["frontier_delta"]
        delta_paths = delta_paths + [delta_path]
        seen_delta_paths = seen_delta_paths + [tables["seen"]]
        lineage_rows = [
            {"wave": wave, "partition_id": int(k[len("delta_pid_"):]), "rows": n}
            for k, n in sorted(counts.items())
            if k.startswith("delta_pid_")
        ]
        counts["delta_rows"] = sum(r["rows"] for r in lineage_rows)
        # pending_next is materialized (the stats job counted it through
        # the checkpoint), so this wave's frames can be released; the
        # PREVIOUS wave's frames were retired when this wave's stats
        # landed, keeping at most two waves of blocks resident.
        _retire_now()
        retire.extend([scheduled, new_rows, fused, pending])
        pending = pending_next
        n_pending = counts.get("pending_next", 0)

        # 7. periodic compaction: rewrite the merged view as a fresh base
        #    (amortized O(total/compact_every) per wave — Iceberg's
        #    rewrite_data_files story); deltas before it retire.
        compacted = False
        if cfg.compact_every and wave % cfg.compact_every == 0:
            # seen-set compaction on the same cadence: rewrite the union
            # as one base so per-wave reads stop unioning one directory
            # per wave (the multi-path scan is O(waves since compaction));
            # the two base rewrites are independent and run concurrently
            merged_seen = _read_seen(
                spark, seen_base_path, seen_delta_paths, bool(cfg.seen_buckets)
            )
            bases, _ = _write_tables(
                store,
                wave,
                {
                    "frontier_base": (
                        _merged_frontier(spark, base_path, delta_paths),
                        "frontier_base",
                        "state",
                    ),
                    "seen_base": (
                        merged_seen,
                        "seen_base",
                        dd.SEEN_BUCKET_COL if cfg.seen_buckets else None,
                    ),
                },
            )
            base_path, seen_base_path = bases["frontier_base"], bases["seen_base"]
            delta_paths = []
            seen_delta_paths = []
            compacted = True

        # bloom shards re-read from the written snapshot: truncates
        # lineage across waves (deltas/base are re-read lazily anyway)
        shards = spark.read.schema(dd.BLOOM_SHARD_SCHEMA).parquet(tables["bloom_shards"])

        t_writes = time.monotonic()
        stats = {
            "wave": wave,
            "scheduled": counts.get("scheduled", 0),
            "denied": counts.get("denied", 0),
            "discovered_new": counts.get("discovered_new", 0),
            "delta_rows": counts.get("delta_rows", 0),
            "compacted": compacted,
            "elapsed_s": round(time.monotonic() - t0, 3),
            "write_s": round(t_writes - t_expand, 3),
            "plan_s": round(t_expand - t0, 3),
        }
        tables["frontier_base"] = base_path
        tables["frontier_deltas"] = delta_paths
        tables["seen_base"] = seen_base_path
        tables["seen_deltas"] = seen_delta_paths
        # metrics + per-partition lineage rows written driver-side via
        # pyarrow (a handful of tiny rows does not warrant a Spark job
        # per wave; the counts came from the one stats job above)
        tables["metrics"] = store.write_rows([stats], "metrics", wave)
        if lineage_rows:
            tables["lineage"] = store.write_rows(lineage_rows, "lineage", wave)
        store.commit(wave, tables, stats)
        metrics_all.append(stats)

        if stop_after_wave is not None and wave >= stop_after_wave:
            break

    if pending is not None:
        _release(pending)
    _retire_now()
    frontier_final = _merged_frontier(spark, base_path, delta_paths)
    seen_final = _read_seen(
        spark, seen_base_path, seen_delta_paths, bool(cfg.seen_buckets)
    )
    fetch_log_final = store.read_appended("fetch_log", wave, FETCH_LOG_SCHEMA)
    if fetch_log_final is None:
        fetch_log_final = spark.createDataFrame([], FETCH_LOG_SCHEMA)
    return CrawlResult(
        waves=wave,
        frontier=frontier_final,
        seen=seen_final,
        fetch_log=fetch_log_final,
        metrics=metrics_all,
        errors=store.read_appended("errors", wave, ERRORS_SCHEMA),
    )


def enqueue_refresh(
    spark: SparkSession,
    store: SnapshotStore,
    history: DataFrame,
    now_s: int,
    per_host: int,
    config: CrawlConfig | None = None,
    importance_col: str | None = None,
) -> int:
    """Post-crawl refresh enqueue (the Cho & Garcia-Molina scheduling
    chain wired into the crawl state): score ``history`` with
    :func:`recrawl_priorities`, take the top-``per_host`` DUE URLs per
    host, and flip their frontier rows back to ``pending`` with ONE
    upsert delta committed as a new wave manifest. A following
    ``run_crawl(..., resume=True)`` then re-fetches exactly that batch:
    their children are already in the seen-set, so a refresh wave
    re-fetches without re-discovering.

    ``history`` columns: ``url_canon, first_fetch_s, last_fetch_s,
    n_fetches, n_changes`` (epoch seconds) plus ``importance_col`` if
    given — the metrics sidecar a production crawl maintains; tests
    derive it from the fetch log plus a change probe.

    The delta is O(batch); the manifest copies ONLY the state tables
    (frontier/seen/bloom) from the previous wave — append-style tables
    (fetch_log, errors, metrics) are per-wave and must not repeat in a
    manifest or ``read_appended`` would double-count them. Returns the
    number of URLs enqueued.

    Monotone-state note: a refresh delta intentionally moves fetched ->
    pending. The pending-partition prune stays sound because the prune
    drops base TERMINAL rows only; the refresh row lives in a LATER
    delta, which the merge-on-read latest-wins window keeps.
    """
    from sharepointcrawler_spark.functions.urlnorm import url_host

    pri = recrawl_priorities(history, now_s, importance_col=importance_col)
    batch = select_refresh_batch(
        pri.withColumn("host", url_host("url_canon")), per_host
    )
    return _enqueue_pending_delta(spark, store, batch.select("url_canon"))


def enqueue_refresh_from_priors(
    spark: SparkSession,
    store: SnapshotStore,
    priors: DataFrame,
    per_host: int,
    loc_col: str = "loc",
) -> int:
    """Cold-start refresh enqueue: no fetch history yet, so the due
    set comes from sitemap metadata priors
    (``operators/sitemap.sitemap_refresh_priors`` — <changefreq> as
    the declared change rate, <lastmod> as the last known change) run
    through the SAME per-host staleness batch selector, then the same
    one-delta commit :func:`enqueue_refresh` uses. Only URLs the crawl
    has actually fetched re-enqueue (the semi-join inside the delta
    builder), so priors for never-crawled pages are inert."""
    from sharepointcrawler_spark.functions.urlnorm import url_host

    batch = select_refresh_batch(
        priors.withColumn("host", url_host(loc_col)),
        per_host,
        id_col=loc_col,
    )
    return _enqueue_pending_delta(
        spark, store, batch.select(F.col(loc_col).alias("url_canon"))
    )


def _enqueue_pending_delta(
    spark: SparkSession, store: SnapshotStore, urls: DataFrame
) -> int:
    """Shared refresh-commit: flip the given fetched url_canon rows back
    to pending with ONE upsert delta in a new wave manifest (state
    tables copied; append-style tables deliberately not — see
    :func:`enqueue_refresh`)."""
    last = store.latest_wave()
    if last is None:
        raise ValueError("refresh needs a committed crawl snapshot to enqueue into")
    manifest = store.manifest(last)
    base_path = manifest["tables"]["frontier_base"]
    delta_paths = list(manifest["tables"].get("frontier_deltas", []))
    merged = _merged_frontier(spark, base_path, delta_paths)
    sel = [f.name for f in fr.FRONTIER_SCHEMA.fields]
    refresh_rows = (
        merged.join(urls.distinct(), "url_canon", "left_semi")
        # only previously-fetched pages refresh; denied/failed stay terminal
        .filter(F.col("state") == fr.FETCHED)
        .withColumn("state", F.lit(fr.PENDING))
        .withColumn("attempt", F.lit(0))
        .select(sel)
    )
    wave = last + 1
    delta = refresh_rows.withColumn(DELTA_WAVE, F.lit(wave))
    delta_path = store.write(delta, "frontier_delta", wave)
    n = spark.read.schema(DELTA_SCHEMA).parquet(delta_path).count()
    # copy the seen state; the append-style 'seen' per-wave key is NOT
    # copied (read_appended over it would double-count the path)
    tables = {
        "frontier_base": base_path,
        "frontier_deltas": delta_paths + [delta_path],
        "bloom_shards": manifest["tables"]["bloom_shards"],
        "seen_base": manifest["tables"]["seen_base"],
        "seen_deltas": manifest["tables"]["seen_deltas"],
    }
    store.commit(wave, tables, {"wave": wave, "refresh_enqueued": n})
    return n


def crawl_order(frontier_df: DataFrame) -> DataFrame:
    """Final deterministic crawl order: the reference's pre-order DFS
    sequence (SharePointClient.cs:265-335) recovered from path_key."""
    visited = frontier_df.filter(F.col("state").isin(fr.FETCHED, fr.PENDING))
    return fr.global_sequence(
        visited.select("url_canon", "url", "kind", "depth", "path_key"),
        "path_key",
        out_col="crawl_seq",
    )
