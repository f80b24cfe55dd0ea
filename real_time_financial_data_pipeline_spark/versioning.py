"""Snapshot-versioned tables: Delta/Iceberg-style time travel on plain
parquet, sized down to this engine's file layout.

The reference's lake (storage.py:17-27) has no history — every overwrite
destroys the prior state.  Real analytics lakes version commits so
readers can (a) time-travel for reproducibility ("train on the corpus
exactly as it was last Tuesday"), (b) roll back a bad ingest without a
restore-from-backup, and (c) audit what changed.  This module implements
the standard manifest design:

* Data is immutable: every commit writes its rows into a fresh
  ``data/b{N}`` directory and never touches earlier ones.
* A commit is ONE atomic manifest rename: ``_versions/v{N}.json`` lists
  the data directories that make up that snapshot (parent's + new for
  append; new only for overwrite).  Readers resolve a manifest, then
  ``spark.read.parquet(*dirs)`` — a crashed writer leaves at most an
  orphan data dir that no manifest references, invisible to every
  reader and reclaimed by ``vacuum``.
* Rollback is a NEW manifest pointing at the old version's directories
  (Delta RESTORE semantics) — history is preserved, nothing is deleted.
* ``vacuum(keep_last)`` deletes manifests beyond the retention window
  and any data directory no retained manifest references.

Scale posture: manifests list DIRECTORIES, so manifest size is
O(commits since last overwrite), not O(files); time travel is pure
metadata; the data path is still vanilla parquet so every scan
optimization (pushdown, pruning, row-group stats) applies unchanged.
Single-writer contract: commits are not safe to race from two drivers —
the coordination layer (a real metastore/catalog) is out of scope, as
it is for every single-cluster deployment of this pattern.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from .lake import write_parquet

_MANIFEST_DIR = "_versions"
_DATA_DIR = "data"


class VersionedTable:
    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path
        os.makedirs(os.path.join(path, _MANIFEST_DIR), exist_ok=True)
        os.makedirs(os.path.join(path, _DATA_DIR), exist_ok=True)

    # -- manifest plumbing --------------------------------------------------
    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.path, _MANIFEST_DIR, f"v{version:06d}.json")

    def _read_manifest(self, version: int) -> dict:
        with open(self._manifest_path(version)) as f:
            return json.load(f)

    def versions(self) -> list[int]:
        d = os.path.join(self.path, _MANIFEST_DIR)
        return sorted(
            int(f[1:-5])
            for f in os.listdir(d)
            if f.startswith("v") and f.endswith(".json")
        )

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def history(self) -> list[dict]:
        """Commit log, oldest first — version, mode, rows, dir count, time."""
        out = []
        for v in self.versions():
            m = self._read_manifest(v)
            out.append(
                {
                    "version": v,
                    "mode": m["mode"],
                    "rows": m["rows"],
                    "n_dirs": len(m["dirs"]),
                    "committed_at": m["committed_at"],
                }
            )
        return out

    # -- write path ---------------------------------------------------------
    def _write_manifest(self, version: int, mode: str, dirs: list[str], rows: int) -> None:
        """The atomic half of every commit: tmp-write + ``os.replace``."""
        manifest = {
            "version": version,
            "mode": mode,
            "dirs": dirs,
            "rows": rows,
            "committed_at": dt.datetime.now(dt.timezone.utc).isoformat(),
        }
        tmp = self._manifest_path(version) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path(version))

    def _write_data_dir(self, version: int, df: DataFrame) -> tuple[str, int]:
        """Write a commit's rows into its ``data/b{N}`` dir and return
        (rel_dir, rows written).  A pre-existing dir at this version number
        is by construction an ORPHAN — its manifest was never written, or
        ``latest_version`` would exceed ``version`` — left by a writer
        that crashed between data write and manifest rename; it is
        removed so the retried commit isn't permanently blocked by
        parquet's ``mode('error')``."""
        rel_dir = f"{_DATA_DIR}/b{version:06d}"
        out_dir = os.path.join(self.path, rel_dir)
        if os.path.isdir(out_dir):
            shutil.rmtree(out_dir)
        return rel_dir, write_parquet(df, out_dir)

    def _lineage(self, parent: int | None, mode: str, rel_dir: str, n_new: int) -> tuple[list[str], int]:
        if mode == "append" and parent is not None:
            pm = self._read_manifest(parent)
            return pm["dirs"] + [rel_dir], pm["rows"] + n_new
        return [rel_dir], n_new

    def commit(self, df: DataFrame, mode: str = "append") -> int:
        """Write ``df`` as a new snapshot and return its version number.

        ``append`` stacks onto the parent snapshot; ``overwrite`` starts a
        fresh file set (earlier versions stay readable).  The data write
        happens BEFORE the manifest exists, and the manifest lands via
        tmp-write + ``os.replace`` — so a crash anywhere leaves the prior
        version intact and at worst one orphan data directory, which the
        next commit at that version number (or ``vacuum``) clears."""
        if mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be append|overwrite, got {mode!r}")
        parent = self.latest_version()
        version = 0 if parent is None else parent + 1
        rel_dir, n_new = self._write_data_dir(version, df)
        dirs, rows = self._lineage(parent, mode, rel_dir, n_new)
        self._write_manifest(version, mode, dirs, rows)
        return version

    def rollback(self, version: int) -> int:
        """RESTORE semantics: a new commit whose file set is exactly the
        target version's — history keeps growing, nothing is deleted, and
        the bad intermediate versions remain auditable."""
        target = self._read_manifest(version)  # raises if unknown
        new_version = self.latest_version() + 1
        self._write_manifest(
            new_version, f"rollback({version})", target["dirs"], target["rows"]
        )
        return new_version

    # -- read path ----------------------------------------------------------
    def read(self, version: int | None = None) -> DataFrame:
        """The snapshot as a DataFrame — latest by default, or any retained
        version (time travel).  Pure metadata resolution, then a vanilla
        multi-dir parquet scan."""
        return self.spark.read.parquet(*self._snapshot_paths(version))

    def _snapshot_paths(self, version: int | None) -> list[str]:
        v = self.latest_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no commits at {self.path}")
        return [os.path.join(self.path, d) for d in self._read_manifest(v)["dirs"]]

    # -- maintenance --------------------------------------------------------
    def vacuum(self, keep_last: int = 1) -> dict:
        """Drop manifests beyond the last ``keep_last`` versions and every
        data directory no retained manifest references (including orphans
        from crashed commits).  O(commits + data dirs) metadata work; the
        only data I/O is the directory deletes."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        vs = self.versions()
        keep, drop = vs[-keep_last:], vs[:-keep_last]
        referenced: set[str] = set()
        for v in keep:
            referenced.update(self._read_manifest(v)["dirs"])
        for v in drop:
            os.remove(self._manifest_path(v))
        data_root = os.path.join(self.path, _DATA_DIR)
        removed = 0
        for entry in sorted(os.listdir(data_root)):
            rel = f"{_DATA_DIR}/{entry}"
            if rel not in referenced:
                shutil.rmtree(os.path.join(data_root, entry))
                removed += 1
        return {"manifests_dropped": len(drop), "data_dirs_removed": removed}


    def read_changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Incremental consumption (CDC-lite for append-only lineages):
        the rows added AFTER ``from_version`` up to ``to_version``
        (latest by default) — resolved as the set difference of the two
        manifests' directory lists, so the scan touches ONLY the new
        commits' files.  This is what lets a downstream pipeline (dedup
        of a new batch against the standing corpus, incremental indicator
        refresh, index append) process deltas instead of re-reading the
        table.  Raises if any commit in the range rewrote history (an
        overwrite/rollback), because a directory diff is no longer the
        row-level change set there."""
        to_v = self.latest_version() if to_version is None else to_version
        if to_v is None or from_version > to_v:
            raise ValueError(f"bad version range [{from_version}, {to_v}]")
        for v in range(from_version + 1, to_v + 1):
            if self._read_manifest(v)["mode"] != "append":
                raise ValueError(
                    f"version {v} is {self._read_manifest(v)['mode']!r}: the "
                    "directory diff is not an append delta; re-read the snapshot"
                )
        base = set(self._read_manifest(from_version)["dirs"])
        new = [d for d in self._read_manifest(to_v)["dirs"] if d not in base]
        if not new:
            return self.read(to_v).limit(0)
        return self.spark.read.parquet(*[os.path.join(self.path, d) for d in new])


    def read_merged(self, version: int | None = None) -> DataFrame:
        """Snapshot read with schema evolution: commits may have added
        columns over time; ``mergeSchema`` unions the per-commit parquet
        schemas (missing columns read as null).  Costs a footer read per
        file — use plain ``read`` when the schema never evolved."""
        paths = self._snapshot_paths(version)
        return self.spark.read.option("mergeSchema", "true").parquet(*paths)

    def commit_checked(self, df: DataFrame, rules, mode: str = "append") -> int:
        """Commit gated on a quality rule set (operators.quality.Rule) —
        Delta-style CHECK constraints at the table boundary: the data is
        written first (commits must not double-scan an expensive upstream
        frame), then validated with the ONE-pass ``quality.check`` over
        the landed files; any violation aborts BEFORE the manifest
        exists, removes the data directory, and raises with the per-rule
        violation counts.  Readers never see a version that failed its
        constraints."""
        from .operators.quality import check

        if mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be append|overwrite, got {mode!r}")
        parent = self.latest_version()
        version = 0 if parent is None else parent + 1
        rel_dir, n_new = self._write_data_dir(version, df)
        out_dir = os.path.join(self.path, rel_dir)
        report = check(self.spark.read.parquet(out_dir), rules).collect()
        failed = [r for r in report if not r["passed"]]
        if failed:
            shutil.rmtree(out_dir)
            detail = ", ".join(f"{r['rule']}={r['violations']}" for r in failed)
            raise ValueError(f"commit rejected by constraints: {detail}")
        dirs, rows = self._lineage(parent, mode, rel_dir, n_new)
        self._write_manifest(version, mode, dirs, rows)
        return version


    def merge_upsert(self, updates: DataFrame, key_cols: list[str]) -> int:
        """MERGE (upsert) by key: rows in ``updates`` replace same-key rows
        in the latest snapshot; new keys append — committed as ONE new
        overwrite version, so the operation is atomic and time travel
        keeps the pre-merge state.

        This is whole-snapshot copy-on-write (read latest, anti-join the
        touched keys, union the updates, rewrite): the correct baseline
        semantics, with the well-known scale refinement being
        partition-level CoW — rewrite only the partitions holding touched
        keys — which this layout supports by committing per-partition
        tables; a full file-skipping MERGE is a real table format's job.
        The anti-join broadcasts the distinct update keys when small."""
        if not key_cols:
            raise ValueError("merge_upsert requires key columns")
        current = self.read()
        missing = [c for c in key_cols if c not in current.columns]
        if missing:
            raise ValueError(f"key columns missing from table: {missing}")
        kept = current.join(
            updates.select(*key_cols).distinct(), key_cols, "left_anti"
        )
        merged = kept.unionByName(updates)
        return self.commit(merged, mode="overwrite")

    def compact(self) -> dict:
        """Version-aware small-files compaction: rewrite the latest
        snapshot as ONE new overwrite commit (single data dir), leaving
        every historical version readable — readers pinned to old
        manifests are untouched, and ``vacuum`` reclaims the old dirs
        once they age out of retention.  Returns the dir counts."""
        before = len(self._read_manifest(self.latest_version())["dirs"])
        v = self.commit(self.read(), mode="overwrite")
        return {"version": v, "dirs_before": before, "dirs_after": 1}
