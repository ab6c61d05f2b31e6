"""Politeness fixture (SURVEY.md §5 item 4), bloom false-negative
fixture (item 2), hot-host skew, and the grouped/global sequence
equivalence to naive windows."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from sharepointcrawler_spark.functions.urlnorm import with_url_columns
from sharepointcrawler_spark.operators.dedup import (
    BLOOM_SHARD_SCHEMA,
    CuckooFilter,
    anti_join_unseen,
    bloom_filtered_unseen,
    bloom_params,
    bloom_probe_absorb,
    build_bloom_shards,
    split_probe_absorb,
)
from sharepointcrawler_spark.operators.politeness import (
    assign_fetch_slots,
    grouped_sequence,
    salt_hosts,
    top_k_per_host,
)


@pytest.fixture(scope="module")
def wave(spark):
    rows = []
    for h, (host, n) in enumerate([("a.com", 40), ("b.com", 7), ("hot.com", 400)]):
        for i in range(n):
            rows.append(
                (f"https://{host}/p{i}", f"https://{host}/p{i}", hash((host, i)), host, i % 3, f"{h:02d}{i:06d}")
            )
    return spark.createDataFrame(
        rows, "url string, url_canon string, url_key long, host string, priority int, path_key string"
    )


def test_fetch_slots_respect_budget(spark, wave):
    delays = spark.createDataFrame(
        [("a.com", 2.0), ("hot.com", 0.5)], "host string, crawl_delay_s double"
    )
    slotted = assign_fetch_slots(wave, delays, default_delay_s=1.0)
    rows = slotted.select("host", "host_rank", "fetch_slot").collect()
    by_host: dict = {}
    for r in rows:
        by_host.setdefault(r.host, []).append((r.host_rank, r.fetch_slot))
    for host, delay in [("a.com", 2.0), ("b.com", 1.0), ("hot.com", 0.5)]:
        slots = sorted(s for _, s in by_host[host])
        # consecutive fetches >= delay apart on the virtual clock
        assert all(
            abs((b - a) - delay) < 1e-9 for a, b in zip(slots, slots[1:])
        ), host
        assert slots[0] == 0.0


def test_grouped_sequence_equals_window(spark, wave):
    got = grouped_sequence(wave, "host", ["priority", "path_key"], out_col="rk")
    w = Window.partitionBy("host").orderBy("priority", "path_key")
    want = wave.withColumn("rk", F.row_number().over(w))
    a = {(r.url_canon, r.rk) for r in got.collect()}
    b = {(r.url_canon, r.rk) for r in want.collect()}
    assert a == b


def test_top_k_per_host(spark, wave):
    top = top_k_per_host(wave.withColumn("depth", F.lit(0)), k=5)
    counts = {r.host: r["count"] for r in top.groupBy("host").count().collect()}
    assert counts == {"a.com": 5, "b.com": 5, "hot.com": 5}


def test_salt_hosts_spreads_hot_host(spark, wave):
    salted = salt_hosts(wave, n_salts=8)
    n_buckets = (
        salted.filter(F.col("host") == "hot.com")
        .select("host_salt")
        .distinct()
        .count()
    )
    assert n_buckets == 8


def _probe_absorb(cands, shards, n_shards, geometry):
    return split_probe_absorb(bloom_probe_absorb(cands, shards, n_shards, geometry))


def test_bloom_zero_false_negatives(spark):
    urls = [(f"https://h{i % 17}.com/x{i}",) for i in range(5000)]
    df = with_url_columns(spark.createDataFrame(urls, ["url"]))
    seen = df.select("url_key", "url_canon")
    geom = bloom_params(5000 // 8 + 1, 0.01)
    shards = build_bloom_shards(seen, n_shards=8, geometry=geom)
    probed, _ = _probe_absorb(seen, shards, 8, geom)
    # every seen key MUST be maybe_seen (zero false negatives)
    assert probed.filter(~F.col("maybe_seen")).count() == 0


def test_bloom_filtered_unseen_equals_exact(spark):
    base = with_url_columns(
        spark.createDataFrame([(f"https://s.com/a{i}",) for i in range(2000)], ["url"])
    )
    seen = base.filter(F.col("url_key") % 2 == 0).select("url_key", "url_canon")
    geom = bloom_params(2000 // 4 + 1, 0.01)
    shards = build_bloom_shards(seen, n_shards=4, geometry=geom)
    cands = base.select("url", "url_canon", "url_key")
    probed, _ = _probe_absorb(cands, shards, 4, geom)
    got = {r.url_canon for r in bloom_filtered_unseen(probed, seen).collect()}
    want = {r.url_canon for r in anti_join_unseen(cands, seen).collect()}
    assert got == want  # bloom path == exact oracle path


def test_bloom_merge_incremental(spark):
    """Two batches ORed into initially empty shards, one cogroup each:
    afterwards every key of both batches probes maybe_seen."""
    a = with_url_columns(spark.createDataFrame([(f"https://m.com/{i}",) for i in range(500)], ["url"]))
    b = with_url_columns(spark.createDataFrame([(f"https://m.com/{i}",) for i in range(500, 1000)], ["url"]))
    geom = bloom_params(1000, 0.01)
    empty = spark.createDataFrame([], BLOOM_SHARD_SCHEMA)
    _, sa = _probe_absorb(a.select("url_key", "url_canon"), empty, 4, geom)
    _, sab = _probe_absorb(b.select("url_key", "url_canon"), sa, 4, geom)
    both = a.unionByName(b).select("url", "url_canon", "url_key")
    probed, _ = _probe_absorb(both, sab, 4, geom)
    assert probed.filter(~F.col("maybe_seen")).count() == 0


def test_bloom_absorb_equals_build_over_union(spark):
    """Absorbing a batch into built shards gives the shards a build over
    the union gives: same shard set, byte-identical bits. Batch ``a``
    covers shards 0-3 and batch ``b`` only even shards, so shards 4 and
    6 are created fresh and shards 1 and 3 pass through untouched."""
    a = with_url_columns(
        spark.createDataFrame([(f"https://m.com/{i}",) for i in range(500)], ["url"])
    ).filter(F.pmod("url_key", F.lit(8)) < 4)
    b = with_url_columns(
        spark.createDataFrame(
            [(f"https://n.com/{i}",) for i in range(500, 700)], ["url"]
        )
    ).filter(F.col("url_key") % 2 == 0)
    geom = bloom_params(1000, 0.01)
    sa = build_bloom_shards(a.select("url_key", "url_canon"), n_shards=8, geometry=geom)
    old = {r["shard"]: r["bits"] for r in sa.collect()}
    _, absorbed = _probe_absorb(b.select("url_key", "url_canon"), sa, 8, geom)
    got = {r["shard"]: r["bits"] for r in absorbed.collect()}
    want = {
        r["shard"]: r["bits"]
        for r in build_bloom_shards(
            a.unionByName(b).select("url_key", "url_canon"), n_shards=8, geometry=geom
        ).collect()
    }
    assert set(old) == {0, 1, 2, 3}
    assert {4, 6} <= set(got) and got[1] == old[1] and got[3] == old[3]
    assert got == want


def test_cuckoo_filter_roundtrip():
    cf = CuckooFilter.for_capacity(1000)
    keys = [hash(f"k{i}") for i in range(800)]
    for k in keys:
        assert cf.insert(k)
    assert all(cf.contains(k) for k in keys)
    # deletions actually remove
    for k in keys[:100]:
        assert cf.delete(k)
    fp = sum(cf.contains(k) for k in keys[:100])
    assert fp <= 5  # only residual false positives remain
    # serialization round-trip
    cf2 = CuckooFilter.from_bytes(cf.to_bytes())
    assert all(cf2.contains(k) for k in keys[100:])
