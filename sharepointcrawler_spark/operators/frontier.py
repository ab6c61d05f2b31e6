"""Frontier table + crawl-order semantics (SURVEY.md §2.3 T1/T4/W4).

The reference walks a folder tree with a recursive async iterator
(SharePointClient.cs:201-342): for each folder it yields files in REST
response order (:265-298), then recurses into subfolders in response order
(:325-335) — a pre-order DFS. Our engine executes breadth-first waves
(all pending URLs of a depth expand in one shuffle), but reproduces the
reference's exact crawl ORDER with a sort key, not with execution order:

    path_key(child) = path_key(parent) + "/" + <kind_rank><sibling_idx>

where kind_rank is '0' for files and '1' for folders (files of a node are
emitted before any subfolder subtree, matching :265 before :325) and
sibling_idx is the 0-based position within the parent's response, both
fixed-width hex so lexicographic string order == pre-order DFS order.

``crawl_seq`` is then a global dense sequence over path_key, computed
scale-safely (range-repartition + per-partition offsets — no single-
partition window, which would OOM at a 10^10-row frontier).
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sharepointcrawler_spark.functions.urlnorm import (
    canonicalize_url,
    url_host,
    url_key,
)

# frontier row states
PENDING = "pending"
SCHEDULED = "scheduled"
FETCHED = "fetched"
FAILED = "failed"
DENIED = "denied"  # robots-denied: seen but never fetched

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_canon", T.StringType(), False),
        T.StructField("url_key", T.LongType(), False),
        T.StructField("host", T.StringType(), True),
        T.StructField("parent_canon", T.StringType(), True),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("priority", T.IntegerType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("path_key", T.StringType(), False),
        T.StructField("state", T.StringType(), False),
        T.StructField("wave_id", T.IntegerType(), False),
        T.StructField("attempt", T.IntegerType(), False),
    ]
)

_KIND_RANK = {"file": "0", "folder": "1", "page": "1"}


def path_segment(kind_col, sibling_idx_col) -> F.Column:
    """Fixed-width order segment: 1 hex kind rank + 8 hex sibling index."""
    rank = F.when(F.col(kind_col) == "file", F.lit("0")).otherwise(F.lit("1"))
    return F.concat(rank, F.lpad(F.conv(F.col(sibling_idx_col).cast("string"), 10, 16), 8, "0"))


def seed_frontier(spark: SparkSession, seeds: list[tuple[str, int]]) -> DataFrame:
    """Build the initial frontier from (url, priority) seeds
    (reference S8: MainForm.cs:93 builds the single seed endpoint).

    Seed path_key encodes the seed's list position so multi-seed crawls
    have a deterministic total order (seed order, then DFS within each).
    """
    # from pandas: the Arrow path builds the frame in the JVM, where a
    # Python list would cost a pickled-row Python task per partition
    pdf = pd.DataFrame(
        {
            "url": [u for u, _ in seeds],
            "priority": [p for _, p in seeds],
            "seed_idx": range(len(seeds)),
        }
    )
    df = spark.createDataFrame(pdf, "url string, priority int, seed_idx int")
    w = Window.partitionBy("url_canon").orderBy("seed_idx")
    return (
        df.withColumn("url_canon", canonicalize_url("url"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .withColumn("url_key", url_key("url_canon"))
        .withColumn("host", url_host("url_canon"))
        .withColumn("parent_canon", F.lit(None).cast("string"))
        .withColumn("depth", F.lit(0))
        .withColumn("kind", F.lit("folder"))
        .withColumn("path_key", F.lpad(F.conv(F.col("seed_idx").cast("string"), 10, 16), 8, "0"))
        .withColumn("state", F.lit(PENDING))
        .withColumn("wave_id", F.lit(0))
        .withColumn("attempt", F.lit(0))
        .select([f.name for f in FRONTIER_SCHEMA.fields])
    )


def expand_wave(
    wave: DataFrame,
    expander: Callable[[DataFrame], DataFrame],
    wave_id: int,
) -> DataFrame:
    """Turn the scheduled wave into newly-discovered frontier rows.

    ``expander(wave) -> DataFrame(parent_canon, child_url, kind,
    sibling_idx)`` — the analog of the reference's per-folder REST GET +
    JSON decode (S1/S4). sibling_idx MUST reflect in-response order.

    The child's path_key extends the parent's, so crawl order is carried
    by data, not by execution order. Within-wave duplicate discoveries of
    the same canonical URL keep the smallest path_key (first in crawl
    order), matching what the sequential reference would have yielded.
    """
    parents = wave.select(
        F.col("url_canon").alias("parent_canon"),
        F.col("path_key").alias("parent_path_key"),
        F.col("depth").alias("parent_depth"),
        F.col("priority").alias("parent_priority"),
    )
    children = expander(wave)
    out = (
        children.join(parents, "parent_canon", "inner")
        .withColumn("url_canon", canonicalize_url("child_url"))
        .filter(F.col("url_canon").isNotNull())
        .withColumn("url_key", url_key("url_canon"))
        .withColumn("host", url_host("url_canon"))
        .withColumn("depth", F.col("parent_depth") + 1)
        .withColumn("priority", F.col("parent_priority"))
        .withColumn(
            "path_key",
            F.concat(F.col("parent_path_key"), F.lit("/"), path_segment("kind", "sibling_idx")),
        )
        .withColumn("state", F.lit(PENDING))
        .withColumn("wave_id", F.lit(wave_id))
        .withColumn("attempt", F.lit(0))
        .withColumnRenamed("child_url", "url")
    )
    # within-wave dedup: first discovery in crawl order wins
    w = Window.partitionBy("url_canon").orderBy("path_key")
    out = out.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    return out.select([f.name for f in FRONTIER_SCHEMA.fields])


def graph_expander(edges: DataFrame) -> Callable[[DataFrame], DataFrame]:
    """Expander over a pre-materialized site graph
    (fixture form of S1: edges(parent_url, child_url, kind, sibling_idx)).

    The edges side is keyed by canonical parent URL; the join is a plain
    equi-join that AQE will broadcast when the wave is small. The keyed
    side PERSISTS: the expander is probed once per wave, and without the
    cache every wave re-runs the canonicalize pandas UDF over the whole
    edge table (measured as a full Arrow-crossing scan per wave).
    """
    keyed = edges.select(
        canonicalize_url("parent_url").alias("parent_canon"),
        "child_url",
        "kind",
        "sibling_idx",
    ).persist()

    def expand(wave: DataFrame) -> DataFrame:
        return keyed.join(
            wave.select(F.col("url_canon").alias("parent_canon")).distinct(),
            "parent_canon",
            "inner",
        )

    return expand


def global_sequence(
    df: DataFrame,
    order_col: str,
    out_col: str = "crawl_seq",
    approx_rows: int | None = None,
) -> DataFrame:
    """Dense 1-based global sequence by ``order_col`` — scale-safe.

    A naive ``row_number() over (ORDER BY order_col)`` collapses to one
    partition. Instead: range-repartition on the key, sort within
    partitions, count rows per partition (tiny driver-side list), and add
    the partition's cumulative offset to a per-partition cumcount inside
    ``mapInPandas``. Two passes over the data, no single-reducer stage.

    Small inputs take the plain global window instead: one task sorting
    a few MB cannot OOM, and the two-pass machinery is 3 extra jobs of
    pure overhead there. "Small" is decided by ``approx_rows`` when the
    caller knows it (join-heavy plans inflate the planner's product
    estimates into garbage), else by the planner size estimate
    (~32 MB). Output is identical (``order_col`` is a unique key for
    every caller).
    """
    from sharepointcrawler_spark.plans.layout import estimated_size_bytes

    small = (
        approx_rows < 200_000
        if approx_rows is not None
        else estimated_size_bytes(df) <= (32 << 20)
    )
    if small:
        w = Window.orderBy(order_col)
        return df.withColumn(out_col, F.row_number().over(w).cast("long"))
    spark = df.sparkSession
    n = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    sorted_df = df.repartitionByRange(n, F.col(order_col)).sortWithinPartitions(order_col)
    # persist: the count pass and the assign pass must see the exact same
    # partition layout (range-partitioner sampling is not re-run)
    sorted_df = sorted_df.withColumn("_pid", F.spark_partition_id()).persist()
    counts = {r["_pid"]: r["cnt"] for r in sorted_df.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    b_offsets = spark.sparkContext.broadcast(offsets)
    out_schema = T.StructType(sorted_df.schema.fields + [T.StructField(out_col, T.LongType(), False)])

    def assign(it):
        seen = 0
        for pdf in it:
            if len(pdf) == 0:
                continue
            base = b_offsets.value.get(int(pdf["_pid"].iloc[0]), 0)
            pdf = pdf.copy()
            pdf[out_col] = range(base + seen + 1, base + seen + 1 + len(pdf))
            seen += len(pdf)
            yield pdf

    return sorted_df.mapInPandas(assign, out_schema).drop("_pid")
