"""Streaming KMV sketch fold: maintain per-key distinct sketches of an
unbounded stream as a tiny versioned snapshot table — the continuous form
of the nightly ``operators.sketches`` cadence.

Why this is the ONE streaming aggregate that needs no watermark and no
state store: a KMV sketch is a bounded value (k longs per key) whose
merge is the bottom-k of a union — associative, commutative, and
IDEMPOTENT (re-merging values already inside the sketch is a no-op,
because the k smallest of S ∪ S are the k smallest of S).  So the fold
runs as a plain ``foreachBatch``:

    batch sketch (one bounded aggregate over the micro-batch)
      -> merge with the latest persisted snapshot (k-row-bounded math)
      -> write snapshot version v=<batch_id>

and the idempotence does the exactly-once work: an at-least-once replay
of batch n re-merges values the crashed attempt may already have folded
in, which cannot change the sketch.  No dynamic-partition tricks, no
dedup state — the algebra absorbs re-delivery (test-pinned).  Contrast
``ingest.make_batch_writer(exactly_once=True)``, which must partition by
batch id because parquet APPENDS are not idempotent.

Snapshot versions are the trend: one directory ``v=<batch_id>`` per
fold, each a complete sketch table, so "distinct-content growth over
the last month" is a read of the version ladder with
:func:`read_kmv_trend` — no corpus rescan, the same promise as the
batch family, now at micro-batch grain.  ``keep_versions`` bounds the
ladder (old versions are re-derivable only by re-folding, so keep what
the trend window needs).

Scale shape: the per-batch work is the batch sketch build (shuffle
bounded at partitions x k per key — ``kmv_sketch``'s contract) plus a
merge over the SNAPSHOT table (n_keys rows of k longs — KBs to MBs,
independent of stream history).  The snapshot read/write is a one-file
coalesce by design; at thousands of keys it stays a driver-trivial
table.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.sketches import (
    kmv_estimate,
    kmv_sample_sketch,
    kmv_sketch,
    merge_kmv_tables,
)
from .ingest import start_foreach_batch

_VERSION_RE = re.compile(r"^v=(\d+)$")


def _list_versions(spark: SparkSession, sketch_path: str) -> list[int]:
    """Snapshot version ids present under ``sketch_path``, ascending.
    Uses the Hadoop FS API through the session so the layout works on
    any supported filesystem, not just local disk."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(sketch_path)
    fs = path.getFileSystem(conf)
    if not fs.exists(path):
        return []
    versions = []
    for status in fs.listStatus(path):
        m = _VERSION_RE.match(status.getPath().getName())
        if m and status.isDirectory():
            versions.append(int(m.group(1)))
    return sorted(versions)


def _commit_version(
    spark: SparkSession, path: str, batch_id: int, out: DataFrame, keep_versions: int | None
) -> None:
    """Land ``out`` as snapshot ``v=<batch_id>`` under ``path``, then keep
    only the newest ``keep_versions`` snapshots (all when None).

    CRASH-REPLAY SAFETY: a replayed fold may read v=n while writing v=n —
    a direct overwrite deletes the lazy scan's input files mid-job
    (whether it fails or silently corrupts depends on which stages
    materialized first).  Stage-and-rename instead: the read completes
    against the old files while the write targets a staging dir, then the
    swap is two metadata ops.  A crash between delete and rename only
    loses v=n itself, which the next replay rebuilds — never a corrupt or
    half-written snapshot."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    tmp = jvm.org.apache.hadoop.fs.Path(f"{path}/_staging_v{batch_id}")
    final = jvm.org.apache.hadoop.fs.Path(f"{path}/v={batch_id}")
    fs = final.getFileSystem(conf)
    out.write.mode("overwrite").parquet(str(tmp))
    if fs.exists(final):
        fs.delete(final, True)
    if not fs.rename(tmp, final):  # Hadoop rename signals by return value
        raise IOError(
            f"fold: rename {tmp} -> {final} failed; snapshot v={batch_id} "
            "not committed (staging left in place for inspection)"
        )
    if keep_versions is not None:
        for old in _list_versions(spark, path)[:-keep_versions]:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f"{path}/v={old}"), True)


def latest_snapshot(
    spark: SparkSession, path: str, below: int | None = None
) -> tuple[int, DataFrame] | None:
    """(version, table) of the newest snapshot under a versioned fold
    path — optionally the newest STRICTLY BELOW ``below`` (the
    replay-safe read the folds themselves use), or None before the
    first fold.  The KMV fold reads the newest; the non-idempotent
    additive folds (streaming/crawl_graph.py) read strictly below."""
    versions = _list_versions(spark, path)
    if below is not None:
        versions = [v for v in versions if v < below]
    if not versions:
        return None
    v = versions[-1]
    return v, spark.read.parquet(f"{path}/v={v}")


def latest_kmv_snapshot(
    spark: SparkSession, sketch_path: str
) -> tuple[int, DataFrame] | None:
    """(version, sketch table) of the newest snapshot, or None before the
    first fold.  The parquet round trip preserves the ``kmv_k`` column
    metadata, so the returned table satisfies the merge contract."""
    return latest_snapshot(spark, sketch_path)


def make_sketch_folder(
    sketch_path: str,
    value_col: str,
    key_cols: list[str] | None = None,
    k: int = 1024,
    keep_versions: int | None = None,
    sample_id_col: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """The foreachBatch body, exposed (like ``ingest.make_batch_writer``)
    so replay semantics are directly testable: call it twice with the
    same batch frame and batch_id — the resulting snapshot is identical,
    because bottom-k-of-union merging is idempotent.

    Each call: sketch the micro-batch, merge with the latest snapshot,
    write ``v=<batch_id>`` (overwrite — a replayed batch atomically
    rewrites its own version), then prune versions older than
    ``keep_versions`` if set.

    ``sample_id_col`` switches the fold to the bottom-k SAMPLE sketch
    (``kmv_sample_sketch`` — the id-hash-ordered value sample whose
    merges are exact under the same order algebra): the snapshot column
    becomes ``kmv_sample`` and quantile/mean trends come from
    ``sample_quantile``/``sample_mean`` over any retained version.
    Replay idempotence holds under the sample sketch's own contract —
    the id must map to ONE value across deliveries (a re-delivered id
    re-enters at the same (hash, value) and the distinct-merge absorbs
    it; an id that CHANGES value across deliveries is the same
    double-entry hazard the batch operator documents)."""
    # fail-fast like the module's k / max_per_domain guards: 0 would make
    # versions[:-0] the EMPTY slice (nothing ever pruned, silently
    # behaving like None) and a negative value prunes a surprising prefix
    if keep_versions is not None and keep_versions < 1:
        raise ValueError(
            f"keep_versions must be None or >= 1, got {keep_versions}"
        )
    keys = list(key_cols or [])
    sketch_col = "kmv" if sample_id_col is None else "kmv_sample"

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if sample_id_col is None:
            batch_sketch = kmv_sketch(batch_df, value_col, keys or None, k)
        else:
            batch_sketch = kmv_sample_sketch(
                batch_df, value_col, sample_id_col, keys or None, k
            )
        # an empty micro-batch adds no information: skip the version
        # entirely (the global-sketch merge is a cross join that would
        # otherwise annihilate the snapshot against zero rows)
        if not batch_sketch.take(1):
            return
        prev = latest_kmv_snapshot(spark, sketch_path)
        if prev is None:
            merged = batch_sketch
        else:
            merged = merge_kmv_tables(
                prev[1], batch_sketch, keys or None, sketch_col=sketch_col
            )
        _commit_version(spark, sketch_path, batch_id, merged.coalesce(1), keep_versions)

    return fold_batch


def stream_kmv_fold(
    stream: DataFrame,
    sketch_path: str,
    checkpoint: str,
    value_col: str,
    key_cols: list[str] | None = None,
    k: int = 1024,
    keep_versions: int | None = None,
    trigger_available_now: bool = False,
    processing_time: str | None = None,
    sample_id_col: str | None = None,
) -> StreamingQuery:
    """Run the fold as a streaming query.  ``availableNow`` drains the
    backlog then stops (the batch-parity mode the tests use); the folded
    snapshot then EQUALS ``kmv_sketch`` (or ``kmv_sample_sketch`` with
    ``sample_id_col``) over everything that arrived — exactly, as
    arrays, by the merge identity."""
    if not stream.isStreaming:
        raise ValueError("stream must be a streaming DataFrame (use kmv_sketch)")
    fold = make_sketch_folder(
        sketch_path, value_col, key_cols, k, keep_versions, sample_id_col
    )
    return start_foreach_batch(
        stream, fold, checkpoint, trigger_available_now, processing_time
    )


def read_kmv_trend(
    spark: SparkSession,
    sketch_path: str,
    key_cols: list[str] | None = None,
    sketch_col: str = "kmv",
) -> DataFrame:
    """The payoff view: (version, key..., distinct_est) across every
    retained snapshot — distinct-content growth over time from sketch
    files alone, no history rescan.  k comes from each snapshot's own
    column metadata (the artifact carries its contract)."""
    keys = list(key_cols or [])
    versions = _list_versions(spark, sketch_path)
    if not versions:
        raise ValueError(f"no sketch snapshots under {sketch_path!r}")
    out: DataFrame | None = None
    for v in versions:
        snap = spark.read.parquet(f"{sketch_path}/v={v}")
        field = next(f for f in snap.schema.fields if f.name == sketch_col)
        md = dict(field.metadata or {})
        if md.get("kmv_kind", "distinct") != "distinct":
            raise ValueError(
                "read_kmv_trend estimates DISTINCT counts; read sample-"
                "sketch snapshots with sample_quantile/sample_mean instead"
            )
        k = int(md["kmv_k"])
        part = snap.select(
            F.lit(v).alias("version"),
            *keys,
            F.round(kmv_estimate(F.col(sketch_col), k), 1).alias("distinct_est"),
        )
        out = part if out is None else out.unionByName(part)
    return out
