"""Medallion data lake — the reference's ``DataLakeStorage`` (storage.py) and
parquet helpers (helpers.py), redesigned for a distributed table layout.

Reference model: one parquet FILE per dataset, named
``{source}_{data_type}_{YYYYMMDD}.parquet``, under ``data/bronze|silver|gold``
(helpers.py:23-28, storage.py:17-27); the filesystem is the catalog
(helpers.py:66-81).

Spark-native redesign (SURVEY.md §1.5): a dataset is a parquet DIRECTORY
(table) per layer, partitioned by ``ingest_date`` (and optionally a series
key), so that:

- appends are new files in a partition, not whole-file rewrites;
- partition pruning serves the reference's date-token filtering
  (storage.py:144-170) from file metadata instead of filename parsing;
- ``spark.read.parquet`` on the table dir scales to any file count.

The filename codec is kept at the path-naming layer for API parity.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import re
import shutil
import uuid
from collections.abc import Iterator

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

LAYERS = ("bronze", "silver", "gold")

# Every write is staged in a sibling of its table named ``<table>.__<what>__``
# (see ``_swapped_in`` and ``DataLake.save``); listings skip them.
_SCRATCH_RE = re.compile(r"\.__\w+__$")

# Dataset names come from the filename codec below — word chars, dots and
# dashes only.  Anything else (path separators, '', '.', '..') is rejected
# before it can touch the filesystem: `delete` runs shutil.rmtree on the
# resolved path, so a traversal like name='..' would otherwise escape the
# layer directory and destroy the lake root.
_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]*$")


def validate_dataset_name(name: str) -> str:
    """Return ``name`` if it is a safe single path segment, else raise.
    The leading-alphanumeric requirement already excludes '', '.', '..'
    and every all-dots name."""
    if not _NAME_RE.fullmatch(name):
        raise ValueError(
            f"invalid dataset name {name!r}: expected [A-Za-z0-9._-]+ "
            "starting with an alphanumeric"
        )
    return name


def dataset_name(source: str, data_type: str, date: dt.date | None = None) -> str:
    """Filename codec — reference ``generate_dataset_filename``
    (helpers.py:23-28): ``{source}_{data_type}_{YYYYMMDD}``."""
    date = date or dt.date.today()
    return f"{source}_{data_type}_{date.strftime('%Y%m%d')}"


def parse_dataset_name(name: str) -> dict[str, str]:
    """Inverse codec (helpers.py:96-98, transformers.py:196-198)."""
    parts = name.split("_")
    if len(parts) >= 3:
        return {"source": parts[0], "data_type": "_".join(parts[1:-1]), "date": parts[-1]}
    return {"source": parts[0] if parts else "", "data_type": "", "date": ""}


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> int:
    """Write ``df`` as parquet into the new directory ``path`` and return
    the rows written, summed from the footers of the files the write made:
    a metadata read on the driver, not a second evaluation of ``df``.

    Not a ``DataFrame.observe`` counter: in PySpark 4.1 an ``Observation``
    sets the session's non-serializable ``observationManager``, and every
    later task whose closure holds the session then fails to serialize
    (``pyspark.ml`` ``LogisticRegressionModel.transform``, for one)."""
    df.write.mode("error").partitionBy(*(partition_by or [])).parquet(path)
    return sum(pq.read_metadata(f).num_rows for f in _parquet_files(path))


def _parquet_files(path: str) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]


@contextlib.contextmanager
def _swapped_in(path: str) -> Iterator[str]:
    """Yield a staging dir for a full rewrite of the table at ``path``.  If
    the body leaves it in place, it replaces the table by rename, so readers
    never see a half-written table; if the body removes it, the table stays
    as it was.  Every failure window leaves a complete copy on disk."""
    tmp, old = path + ".__compacting__", path + ".__precompact__"
    # a swap that died part-way: `old` without `path` died between the
    # renames, so restore it; `old` beside `path` only missed its cleanup.
    # A leftover `tmp` is an unfinished rewrite either way.
    if os.path.isdir(old):
        if os.path.isdir(path):
            shutil.rmtree(old)
        else:
            os.rename(old, path)
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    try:
        yield tmp
        if os.path.isdir(tmp):
            if os.path.isdir(path):
                os.rename(path, old)
            os.rename(tmp, path)
            if os.path.isdir(old):
                shutil.rmtree(old)
    finally:
        # a `tmp` beside `old` is the recovery copy of a died swap: keep it
        if os.path.isdir(tmp) and not os.path.isdir(old):
            shutil.rmtree(tmp)


class DataLake:
    """Layered parquet lake with a directory-per-table layout."""

    def __init__(self, spark: SparkSession, root: str = "data") -> None:
        self.spark = spark
        self.root = root
        # table path -> ((st_ino, st_mtime_ns), inferred schema); see `read`
        self._schemas: dict[str, tuple[tuple[int, int], StructType]] = {}
        for layer in LAYERS:
            os.makedirs(os.path.join(root, layer), exist_ok=True)

    def _path(self, layer: str, name: str) -> str:
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}; expected one of {LAYERS}")
        validate_dataset_name(name)
        path = os.path.join(self.root, layer, name)
        # belt-and-braces: the resolved path must stay under the layer dir
        base = os.path.realpath(os.path.join(self.root, layer))
        if os.path.commonpath([base, os.path.realpath(path)]) != base:
            raise ValueError(f"dataset path escapes layer directory: {name!r}")
        return path

    # -- K1: save (storage.py:120-142) ------------------------------------
    def save(
        self,
        df: DataFrame,
        name: str,
        layer: str = "bronze",
        mode: str = "append",
        partition_by: list[str] | None = None,
    ) -> tuple[str, int]:
        """Write a dataset table and return ``(path, rows written)``.
        Default append + ``ingest_date`` partition column so repeated
        micro-ingests accumulate without rewrites and date filters prune at
        the file level.  ``overwrite`` writes a staged copy and swaps it in;
        ``append`` writes a staged copy and moves its files in.  A write of
        zero rows changes nothing."""
        path = self._path(layer, name)
        out = df
        if "ingest_date" not in df.columns:
            out = df.withColumn("ingest_date", F.current_date())
        partition_by = partition_by or ["ingest_date"]
        if mode == "overwrite":
            with _swapped_in(path) as tmp:
                rows = write_parquet(out, tmp, partition_by)
                if rows == 0:
                    shutil.rmtree(tmp)
            return path, rows
        if mode != "append":
            raise ValueError(f"mode must be append|overwrite, got {mode!r}")
        # a staging dir of its own keeps this append's files, and so its
        # count, apart from concurrent appends to the same table
        staged = f"{path}.__appending_{uuid.uuid4().hex}__"
        try:
            rows = write_parquet(out, staged, partition_by)
            if rows:  # move, not copy, the staged files into the table
                shutil.copytree(staged, path, copy_function=os.replace, dirs_exist_ok=True)
        finally:
            shutil.rmtree(staged, ignore_errors=True)
        return path, rows

    # -- S8: read (storage.py:86-118) --------------------------------------
    def read(self, name: str, layer: str = "bronze") -> DataFrame:
        """The dataset table as a DataFrame.

        The schema Spark infers (a footer-reading Spark job) is remembered
        per table directory, keyed by the directory's ``(st_ino,
        st_mtime_ns)``; while the key holds, the read passes the remembered
        schema and runs no job.  Files are still listed on every read, so
        new data is always seen.  The key moves, and the next read infers
        again, on every write through this lake: an overwrite swaps in a
        new directory (new inode); an append moves its staged files in and
        stamps the table directory with the staging directory's mtime; a
        new partition directory, or a delete and re-create, changes the
        mtime.  ``delete`` also drops the entry.  Not seen: an out-of-band
        append with another schema into an EXISTING partition directory;
        without ``mergeSchema`` an inferring read takes its schema from one
        arbitrary footer, so that was never reliably seen either.  A
        missing table falls through to a plain ``spark.read.parquet``,
        which fails as it does for any missing path."""
        path = self._path(layer, name)
        try:
            st = os.stat(path)
        except FileNotFoundError:
            return self.spark.read.parquet(path)
        key = (st.st_ino, st.st_mtime_ns)
        known = self._schemas.get(path)
        if known is not None and known[0] == key:
            return self.spark.read.schema(known[1]).parquet(path)
        df = self.spark.read.parquet(path)
        self._schemas[path] = (key, df.schema)
        return df

    def versioned(self, name: str, layer: str = "bronze"):
        """Snapshot-versioned handle for a dataset slot (versioning.py:
        VersionedTable) — time travel, rollback, vacuum, and CDC-lite
        delta reads over the same validated lake path.  Versioned and
        plain datasets are distinct layouts: pick one per name (the
        manifest dir makes a versioned table self-identifying)."""
        from .versioning import VersionedTable

        return VersionedTable(self.spark, self._path(layer, name))

    # -- C1: list datasets (helpers.py:66-81, storage.py:29-49) ------------
    def list_datasets(self, layer: str | None = None) -> dict[str, list[str]]:
        layers = [layer] if layer else list(LAYERS)
        out: dict[str, list[str]] = {}
        for lay in layers:
            base = os.path.join(self.root, lay)
            out[lay] = sorted(
                d
                for d in os.listdir(base)
                if os.path.isdir(os.path.join(base, d)) and not _SCRATCH_RE.search(d)
            ) if os.path.isdir(base) else []
        return out

    # -- C2: dataset info (helpers.py:84-177, storage.py:51-83) ------------
    def dataset_info(self, name: str, layer: str = "bronze") -> dict:
        """Metadata introspection: schema from the parquet footers; record
        count and date range from one aggregate over the table; up to 50
        sorted distinct symbols (plus a ``...`` sentinel) from a second,
        capped query."""
        df = self.read(name, layer)
        fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        date_col = next((c for c in ("timestamp", "ts", "date", "datetime") if c in fields), None)
        sym_col = next((c for c in ("symbol", "ticker", "stock", "name") if c in fields), None)
        aggs = [F.count(F.lit(1)).alias("n")]
        if date_col:
            aggs += [F.min(date_col).alias("lo"), F.max(date_col).alias("hi")]
        stats = df.agg(*aggs).first()
        info: dict = {
            "name": name,
            "layer": layer,
            "schema": fields,
            "record_count": stats["n"],
            **parse_dataset_name(name),
        }
        if date_col:
            info["first_date"], info["last_date"] = stats["lo"], stats["hi"]
        if sym_col:
            # cap at 50 + sentinel, like helpers.py:152-153
            syms = [r[0] for r in df.select(sym_col).distinct().orderBy(sym_col).limit(51).collect()]
            info["symbols"] = syms[:50] + (["..."] if len(syms) > 50 else [])
        return info

    # -- O1: latest dataset for (data_type, source) (storage.py:144-170) ---
    def latest_dataset(self, data_type: str, source: str, layer: str = "bronze") -> str | None:
        """Name-codec filtering + date-token sort, as the reference does —
        driver-side over the table listing (the listing is small; the DATA
        never moves)."""
        names = [
            n
            for n in self.list_datasets(layer)[layer]
            if source in n and data_type in n
        ]
        if not names:
            return None
        return max(names, key=lambda n: n.rsplit("_", 1)[-1])

    # -- bucketed tables: co-located joins without a shuffle ---------------
    def save_bucketed(
        self,
        df: DataFrame,
        name: str,
        bucket_col: str,
        n_buckets: int = 32,
        layer: str = "silver",
        sort_col: str | None = None,
    ) -> str:
        """Write a bucketed (and optionally sorted) table via the session
        catalog.  Two tables bucketed on the same key with the same bucket
        count join with ZERO exchange — at 100 TB, pre-bucketing the fact
        tables on the join key once pays for every subsequent join.

        Bucketing metadata lives in the Spark catalog (`saveAsTable`), so
        readers must go through ``read_table`` (not raw parquet paths).
        """
        table = f"{layer}_{name}"
        writer = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, bucket_col)
        if sort_col:
            writer = writer.sortBy(sort_col)
        writer.option("path", self._path(layer, name)).saveAsTable(table)
        return table

    def read_table(self, name: str, layer: str = "silver") -> DataFrame:
        """Read a bucketed table through the catalog (keeps bucket info)."""
        return self.spark.table(f"{layer}_{name}")

    # -- maintenance: compaction + retention (beyond-reference; the two
    # jobs every real lake needs once appends accumulate) ------------------
    def compact(
        self,
        name: str,
        layer: str = "bronze",
        partition_by: list[str] | None = None,
    ) -> dict:
        """Small-files compaction: rewrite a dataset so each partition
        directory holds ONE file (micro-batch appends and per-batch
        exactly-once overwrites accumulate a file per trigger — at 100 TB
        the scan cost is dominated by file-open overhead long before data
        volume; periodic compaction is the standard fix).

        ``repartition(*partition_by)`` hash-routes every partition value to
        exactly one task, so the rewrite emits one file per directory.  It
        swaps in through ``_swapped_in`` once its row count, read back from
        the written files' footers, matches the table's.
        """
        path = self._path(layer, name)
        with _swapped_in(path) as tmp:
            df = self.spark.read.parquet(path)
            partition_by = partition_by or (
                ["ingest_date"] if "ingest_date" in df.columns else None
            )
            n_before = df.count()
            files_before = len(_parquet_files(path))
            out = df.repartition(*partition_by) if partition_by else df.coalesce(1)
            n_after = write_parquet(out, tmp, partition_by)  # from the landed footers
            if n_after != n_before:
                raise RuntimeError(
                    f"compaction row drift: {n_before} -> {n_after}; aborting swap"
                )
        files_after = len(_parquet_files(path))
        return {
            "rows": n_before,
            "files_before": files_before,
            "files_after": files_after,
        }

    def expire_partitions(
        self,
        name: str,
        layer: str = "bronze",
        partition_col: str = "ingest_date",
        before: str | dt.date | None = None,
    ) -> int:
        """Retention: drop whole ``{partition_col}=VALUE`` directories whose
        date value is older than ``before`` — a pure file-level operation
        (no data rewrite), which is why date-partitioned layouts make
        retention O(partitions) instead of O(data) at any scale.  Returns
        the number of partitions removed."""
        if before is None:
            raise ValueError("expire_partitions requires an explicit cutoff")
        cutoff = before if isinstance(before, dt.date) else dt.date.fromisoformat(before)
        path = self._path(layer, name)
        removed = 0
        for entry in sorted(os.listdir(path)):
            if not entry.startswith(f"{partition_col}="):
                continue
            value = entry.split("=", 1)[1]
            try:
                part_date = dt.date.fromisoformat(value)
            except ValueError:
                continue  # non-date partition value: never expire silently
            if part_date < cutoff:
                shutil.rmtree(os.path.join(path, entry))
                removed += 1
        return removed

    # -- K4: delete (storage.py:172-196) ------------------------------------
    def delete(self, name: str, layer: str) -> bool:
        path = self._path(layer, name)
        self._schemas.pop(path, None)
        if os.path.isdir(path):
            shutil.rmtree(path)
            return True
        return False
