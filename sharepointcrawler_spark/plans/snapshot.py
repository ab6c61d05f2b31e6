"""Snapshot store: atomic per-wave checkpoints (SURVEY.md §4; north_rule
"resumable from checkpoint").

The reference has NO checkpoint/resume — a crash means a full recrawl
(only ``error.log`` persists, ErrorLogger.cs:12). Here every wave commits
one snapshot: frontier state, seen-set delta, Bloom shards, results,
fetch log, metrics, errors.

Backend: Iceberg when its runtime jars are on the classpath (each wave =
one Iceberg snapshot; resume = read latest). The sandbox image has no
Iceberg jars, so the default backend is **parquet + JSON manifest with
atomic rename**, which reproduces the same commit semantics: a wave's
tables are written to versioned directories first, then a manifest file
``_manifests/wave-<k>.json`` is renamed into place as the single commit
point. A killed job leaves at most a dangling un-manifested directory;
resume reads the latest manifest and continues — zero re-fetches (tested
in tests/test_resume.py).

At cluster scale the manifest rename happens on an object store with
atomic PUT (S3 strong consistency) or HDFS rename. The frontier itself
is maintained merge-on-read (plans/crawl.py): a state-partitioned base
plus per-wave upsert deltas with periodic compaction — the parquet
emulation of Iceberg MERGE INTO + rewrite_data_files, so per-wave write
IO is O(wave delta), never O(total frontier).
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class SnapshotStore:
    def __init__(self, spark: SparkSession, root: str):
        # the writes' REBALANCE hint sizes files from actual bytes only
        # under AQE; without it the hint is a plain shuffle into
        # spark.sql.shuffle.partitions files per table per wave
        if spark.conf.get("spark.sql.adaptive.enabled", "true").lower() != "true":
            raise ValueError(
                "SnapshotStore needs spark.sql.adaptive.enabled=true: its "
                "REBALANCE write hint sizes files only under adaptive execution"
            )
        self.spark = spark
        self.root = root
        os.makedirs(os.path.join(root, "_manifests"), exist_ok=True)

    # ----------------------------------------------------------- manifests
    def _manifest_path(self, wave: int) -> str:
        return os.path.join(self.root, "_manifests", f"wave-{wave:06d}.json")

    def latest_wave(self) -> int | None:
        mdir = os.path.join(self.root, "_manifests")
        waves = [
            int(f[5:-5])
            for f in os.listdir(mdir)
            if f.startswith("wave-") and f.endswith(".json")
        ]
        return max(waves) if waves else None

    def commit(self, wave: int, tables: dict[str, str], stats: dict | None = None) -> None:
        """Atomically publish a wave: write manifest to tmp, rename."""
        manifest = {"wave": wave, "tables": tables, "stats": stats or {}}
        fd, tmp = tempfile.mkstemp(dir=os.path.join(self.root, "_manifests"), suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path(wave))

    def manifest(self, wave: int) -> dict:
        with open(self._manifest_path(wave)) as f:
            return json.load(f)

    # -------------------------------------------------------------- tables
    def table_dir(self, name: str, wave: int) -> str:
        return os.path.join(self.root, name, f"wave={wave:06d}")

    def write(self, df: DataFrame, name: str, wave: int) -> str:
        # REBALANCE before the write (guide §6 output sizing): the
        # input frame carries the wave pipeline's partitioning (dozens
        # of near-empty partitions at small waves), so a raw write
        # emits one tiny file per partition and every later
        # merge-on-read scan fans in over all of them (measured 279 ->
        # 27 files across a 4-wave crawl, wave wall neutral-to-better
        # in a 5-cycle interleaved A/B). AQE sizes the rebalanced
        # partitions from actual bytes, so at production volume this
        # is the Iceberg write.distribution-mode=hash analog (advisory-
        # sized files), never a parallelism cap.
        path = self.table_dir(name, wave)
        df.hint("rebalance").write.mode("overwrite").parquet(path)
        return path

    def write_partitioned(self, df: DataFrame, name: str, wave: int, partition_col: str = "state") -> str:
        """Write a table hive-partitioned by ``partition_col`` so readers
        filtering on it (the frontier's PENDING working set) prune whole
        directories — terminal history costs zero IO per wave. The
        rebalance keys on the partition column (hash distribution), so
        each partition directory gets advisory-sized files instead of
        one sliver per input partition; AQE's skew handling splits a
        dominant partition value across tasks."""
        path = self.table_dir(name, wave)
        df.hint("rebalance", partition_col).write.mode("overwrite").partitionBy(
            partition_col
        ).parquet(path)
        return path

    def write_rows(self, rows: list[dict], name: str, wave: int) -> str:
        """Tiny driver-side tables (metrics, errors): written directly
        with pyarrow — no Spark job for a handful of rows."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = self.table_dir(name, wave)
        os.makedirs(path, exist_ok=True)
        table = pa.Table.from_pylist(rows)
        pq.write_table(table, os.path.join(path, "part-0.parquet"))
        return path

    def _reader(self, schema: StructType | str | None):
        # a known schema skips the footer-inference job a bare read runs
        r = self.spark.read
        return r if schema is None else r.schema(schema)

    def read(self, name: str, wave: int, schema: StructType | str | None = None) -> DataFrame:
        return self._reader(schema).parquet(self.manifest(wave)["tables"][name])

    def read_appended(
        self, name: str, upto_wave: int, schema: StructType | str | None = None
    ) -> DataFrame | None:
        """Union of an append-style table across all committed waves <= k
        (parquet multi-path read — one scan, partition-pruned by path)."""
        paths = []
        for w in range(upto_wave + 1):
            mp = self._manifest_path(w)
            if os.path.exists(mp):
                m = self.manifest(w)
                p = m["tables"].get(name)
                if p and os.path.exists(p):
                    paths.append(p)
        if not paths:
            return None
        return self._reader(schema).parquet(*paths)
