"""Checkpointed table store — per-round snapshot commits, resume-exact.

Emulates the Iceberg snapshot-per-round layout of the north rule on a plain
filesystem (this sandbox has no Iceberg runtime jar). The layout keeps the
same scale properties Iceberg would give:

* ``seen`` (the 10^10-row table) is **append-only**: one parquet delta per
  round under ``seen/delta_round=N/``; a reader unions the deltas. In
  production this binds 1:1 to an Iceberg append + bucket(fingerprint)
  partitioning — no rewrite of the big table ever happens.
* ``frontier`` is bounded (the active crawl horizon), so it is rewritten
  per round (Iceberg: copy-on-write MERGE).
* ``items`` / ``fetch_log`` / ``metrics`` / ``lineage`` are append-only
  round deltas.
* the manifest (``_manifest.json``) is committed atomically (tmp + rename),
  so a job killed mid-round resumes from the last fully-committed round —
  the in-flight round simply re-runs (reference analog: crawler.py:558-638
  pickle persistence + shutdown put-back crawler.py:128-134).

Reference parity: the store replaces aCrawler's pickle/Redis persistence
(crawler.py:558-638); `seen` replaces SetDupefilter/RedisDupefilter state
(scheduler.py:39-93).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

APPEND_TABLES = (
    "seen", "items", "fetch_log", "metrics", "lineage", "failed",
    "robots_blocked", "pages",
)
REWRITE_TABLES = ("frontier",)

MANIFEST = "_manifest.json"


class CheckpointStore:
    def __init__(self, root: str, spark: SparkSession, write_partitions: int | None = None):
        """``write_partitions`` coalesces every table write to at most that
        many files — the local-mode stand-in for Iceberg's target-file-size
        compaction. Round tables are small relative to the cluster's task
        count, so uncapped writes produce swarms of tiny files whose
        open/close overhead dominates small rounds."""
        self.root = root
        self.spark = spark
        self.write_partitions = write_partitions
        os.makedirs(root, exist_ok=True)

    # -- manifest -----------------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.root, MANIFEST)

    def read_manifest(self) -> dict:
        p = self._manifest_path()
        if not os.path.exists(p):
            return {"round": -1, "committed": []}
        with open(p) as f:
            return json.load(f)

    def _write_manifest(self, manifest: dict) -> None:
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path())  # atomic commit point

    @property
    def last_round(self) -> int:
        return self.read_manifest()["round"]

    # -- paths --------------------------------------------------------------

    def _delta_path(self, table: str, rnd: int) -> str:
        return os.path.join(self.root, table, f"delta_round={rnd}")

    def _frontier_path(self, rnd: int) -> str:
        return os.path.join(self.root, "frontier", f"round={rnd}")

    # -- write (staged; becomes visible only at commit_round) ----------------

    # tables whose rows carry page text: never shuffled for the write. The
    # fetch join broadcasts the bounded selected side, so the pages job is
    # scan -> join -> parse -> write in ONE stage; a rebalance/repartition
    # here would push the round's largest payload (decompressed text)
    # through shuffle disk twice — memory-bandwidth-bound work that scales
    # with nothing. Upstream partitioning (scan splits) already bounds file
    # sizes; AQE's rebalance also missizes these ~50:1-compressible rows.
    BIG_PAYLOAD = ("pages", "items")

    def _capped(self, df: DataFrame, table: str | None = None) -> DataFrame:
        if self.write_partitions is None:
            return df
        if table in self.BIG_PAYLOAD:
            return df
        # small/metadata tables: AQE rebalance — tiny round deltas coalesce
        # to one file instead of `write_partitions` near-empty files whose
        # open/footer overhead was a serial per-round cost
        return df.hint("rebalance")

    def write_delta(self, table: str, rnd: int, df: DataFrame) -> None:
        assert table in APPEND_TABLES, table
        self._capped(df, table).write.mode("overwrite").parquet(self._delta_path(table, rnd))

    def append_delta(self, table: str, rnd: int, df: DataFrame) -> None:
        """Append a second file set into an already-staged round delta
        (e.g. the pages misses written after the hits). Crash-safe under
        the same protocol: an uncommitted round's whole delta dir is
        dropped by abort_uncommitted()."""
        assert table in APPEND_TABLES, table
        df.write.mode("append").parquet(self._delta_path(table, rnd))

    def write_frontier(self, rnd: int, df: DataFrame) -> None:
        # No rebalance shuffle: the rewrite is (balanced prior frontier)
        # LEFT ANTI (broadcast selected) UNION small lifecycle branches —
        # the anti-join preserves the prior frontier's scan partitioning,
        # so the output is already file-sized and the rebalance was
        # pushing the round's second-largest payload (~250 MB at the
        # bench's big round) through shuffle disk for nothing. The union
        # branches add a handful of small files; the next round's scan
        # re-splits by size either way.
        df.write.mode("overwrite").parquet(self._frontier_path(rnd))

    def append_frontier(self, rnd: int, df: DataFrame) -> None:
        """Append a second file set into an already-staged frontier rewrite
        (the admitted-candidates branch, written after the seen job has
        materialized the admitted cache — see engine.run_round's split
        commit). Crash-safe under the same protocol as append_delta: an
        uncommitted round's frontier dir is dropped by abort_uncommitted."""
        df.write.mode("append").parquet(self._frontier_path(rnd))

    def commit_round(self, rnd: int, extra: dict | None = None) -> None:
        m = self.read_manifest()
        m["round"] = rnd
        m["committed"] = sorted(set(m.get("committed", [])) | {rnd})
        if extra:
            m.setdefault("rounds", {})[str(rnd)] = extra
        self._write_manifest(m)

    def abort_uncommitted(self, rnd: int) -> None:
        """Drop staged files from a round that never committed (crash replay)."""
        for t in APPEND_TABLES:
            shutil.rmtree(self._delta_path(t, rnd), ignore_errors=True)
        shutil.rmtree(self._frontier_path(rnd), ignore_errors=True)

    # -- read (only committed rounds) ----------------------------------------

    def read_frontier(self, rnd: int | None = None) -> DataFrame | None:
        rnd = self.last_round if rnd is None else rnd
        if rnd < 0:
            return None
        return self.spark.read.parquet(self._frontier_path(rnd))

    def read_delta_one(self, table: str, rnd: int) -> DataFrame:
        """Read one round's staged delta (also valid pre-commit within the
        round that staged it — the engine stages `pages` then derives the
        round's other tables from its columnar scan)."""
        return self.spark.read.parquet(self._delta_path(table, rnd))

    def read_appended(self, table: str, upto_round: int | None = None) -> DataFrame | None:
        """Union of committed deltas (plus the latest compacted base, if
        any). At Iceberg scale this is a single partitioned-table scan;
        here an explicit multi-path parquet read.

        ``items`` / ``fetch_log`` / ``failed`` are **virtual**: projections
        of the pages deltas (plans/views.py), unioned with any physical
        deltas of the same name (ItemSpec extractions). They cost zero
        write jobs per round and read only their projected columns."""
        from acrawler_spark.plans.views import VIRTUAL_TABLES

        if table in VIRTUAL_TABLES:
            base = self.read_appended("pages", upto_round)
            virtual = VIRTUAL_TABLES[table](base) if base is not None else None
            physical = self._read_appended_physical(table, upto_round)
            if virtual is None:
                return physical
            if physical is None:
                return virtual
            return virtual.unionByName(physical, allowMissingColumns=True)
        return self._read_appended_physical(table, upto_round)

    def _read_appended_physical(
        self, table: str, upto_round: int | None = None
    ) -> DataFrame | None:
        upto = self.last_round if upto_round is None else upto_round
        m = self.read_manifest()
        base_round = m.get("compacted", {}).get(table, -1)
        paths = []
        if base_round >= 0 and base_round <= upto:
            paths.append(self._compact_path(table, base_round))
        paths += [
            self._delta_path(table, r)
            for r in m.get("committed", [])
            if base_round < r <= upto and os.path.exists(self._delta_path(table, r))
        ]
        if not paths:
            return None
        return self.spark.read.parquet(*paths)

    # -- compaction (Iceberg rewrite_data_files analog) -----------------------

    def _compact_path(self, table: str, rnd: int) -> str:
        return os.path.join(self.root, table, f"compacted_round={rnd}")

    def delta_count(self, table: str) -> int:
        m = self.read_manifest()
        base_round = m.get("compacted", {}).get(table, -1)
        return sum(
            1
            for r in m.get("committed", [])
            if r > base_round and os.path.exists(self._delta_path(table, r))
        )

    def compact(self, table: str) -> None:
        """Rewrite base + deltas up to the last committed round into one
        compacted base. Readers before the manifest flip see the old layout;
        after, the new one — same snapshot-isolation contract as commits.
        Old files are retained (snapshot history), like Iceberg's
        rewrite_data_files + expire_snapshots being separate steps."""
        upto = self.last_round
        df = self.read_appended(table, upto)
        if df is None:
            return
        self._capped(df).write.mode("overwrite").parquet(self._compact_path(table, upto))
        m = self.read_manifest()
        m.setdefault("compacted", {})[table] = upto
        self._write_manifest(m)
