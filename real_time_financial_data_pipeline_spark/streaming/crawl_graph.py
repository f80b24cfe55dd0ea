"""Streaming crawl-graph fold: maintain the weighted domain-edge table
of a live crawl as a versioned snapshot ladder — the continuous form of
the nightly ``operators.crawl_graph`` cadence (fold tonight's links,
re-rank warm-started when the trend is wanted).

The replay problem, stated honestly: unlike the KMV fold next door
(``streaming/sketches.py``), whose bottom-k-of-union merge is
IDEMPOTENT, edge-weight addition is NOT — re-merging a replayed
micro-batch would double-count its link weights.  So this fold buys its
effectively-once semantics a different way, from the version ladder
itself:

    batch edges (one bounded aggregate over the micro-batch's links)
      -> merge with the latest snapshot whose version is STRICTLY BELOW
         this batch_id
      -> stage-and-rename write as snapshot v=<batch_id>

An at-least-once replay of batch n re-reads v=n-1 (never the v=n the
crashed attempt may have half-committed or fully committed) and
atomically rewrites v=n — same inputs, same output, idempotent by
construction rather than by algebra.  The strictly-below rule is the
whole trick; the stage-and-rename swap (same as the KMV fold) keeps a
crash between delete and rename from corrupting anything: v=n is lost,
and the next replay rebuilds it from v=n-1.

Scale shape: per batch, one hash aggregate over the micro-batch's links
(``host_graph``) plus a merge against the snapshot — a per-domain-PAIR
table (the web's ~10^8 domain edges at full crawl scale).  The write
shape is caller-controlled via ``n_files``: the default ``n_files=1``
is the right snapshot for the test/SF scale (one file per version, cheap
to list and re-read), while ``n_files=None`` drops the coalesce entirely
and lets the merge write at its shuffle parallelism — at full crawl
scale the single-file form would funnel the ENTIRE merged edge table
through one task per micro-batch (the exact single-task spill cliff the
rest of this repo avoids), so crawl-scale callers pass ``None``.  The
snapshot is what the nightly ``pagerank(init_ranks=...)`` re-rank
consumes; ranking stays a batch job by design — a power iteration is
not a streaming operator, and the rank trend only moves nightly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.crawl_graph import host_graph, merge_host_graphs
from .ingest import start_foreach_batch
from .sketches import _commit_version, latest_snapshot


def latest_graph_snapshot(
    spark: SparkSession, graph_path: str, below: int | None = None
) -> tuple[int, DataFrame] | None:
    """(version, edge table) of the newest graph snapshot — see
    :func:`latest_snapshot`."""
    return latest_snapshot(spark, graph_path, below)


def _make_versioned_additive_folder(
    path: str,
    batch_table,
    merge,
    keep_versions: int | None,
    n_files: int | None,
):
    """The shared foreachBatch body behind every NON-IDEMPOTENT additive
    fold here: ``batch_table(micro_batch)`` -> merge with the newest
    snapshot STRICTLY BELOW this batch_id -> stage-and-rename write as
    v=<batch_id>.  Addition is not idempotent, so effectively-once comes
    from the version ladder itself (module docstring); the KMV fold next
    door keeps its own body because its bottom-k merge IS idempotent and
    may legally re-read v=n."""
    if n_files is not None and n_files < 1:
        raise ValueError(
            f"n_files must be None (partitioned write) or >= 1, got {n_files}"
        )
    # >= 2 here where the KMV fold accepts >= 1: this family's replay
    # safety comes from re-reading the newest version STRICTLY BELOW n,
    # so after committing v=n the penultimate version must survive the
    # prune — keep_versions=1 would delete it and a replay of batch n
    # would silently rewrite the snapshot as that one batch's rows.
    if keep_versions is not None and keep_versions < 2:
        raise ValueError(
            "keep_versions must be None or >= 2 for an additive fold (the "
            "strictly-below replay read needs the penultimate version "
            f"retained), got {keep_versions}"
        )

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        table = batch_table(batch_df)
        # an empty micro-batch adds nothing: skip the version entirely
        if not table.take(1):
            return
        prev = latest_snapshot(spark, path, below=batch_id)
        merged = table if prev is None else merge(prev[1], table)
        out = merged if n_files is None else merged.coalesce(n_files)
        _commit_version(spark, path, batch_id, out, keep_versions)

    return fold_batch


def make_graph_folder(
    graph_path: str,
    src: str = "src",
    dst: str = "dst",
    extra_suffixes: tuple[str, ...] = (),
    keep_versions: int | None = None,
    n_files: int | None = 1,
):
    """The foreachBatch body, exposed (like ``make_sketch_folder``) so
    replay semantics are directly testable: call it twice with the same
    batch frame and batch_id — the resulting snapshot is identical,
    because the fold reads only versions strictly below its own.

    ``n_files`` controls the snapshot write shape: a positive int
    coalesces the merged edge table to that many files (1 = the compact
    single-file snapshot, right at test scale); ``None`` writes at the
    merge's own shuffle parallelism — required at full crawl scale,
    where coalescing ~10^8 edges into one task is the single-task
    spill/OOM cliff (module docstring)."""
    return _make_versioned_additive_folder(
        graph_path,
        lambda batch_df: host_graph(batch_df, src, dst, extra_suffixes),
        merge_host_graphs,
        keep_versions,
        n_files,
    )


def make_anchor_counts_folder(
    counts_path: str,
    dst: str = "dst",
    text_col: str = "anchor_text",
    extra_suffixes: tuple[str, ...] = (),
    stopwords: list[str] | None = None,
    keep_versions: int | None = None,
    n_files: int | None = 1,
):
    """The anchor-text twin of :func:`make_graph_folder`: fold a link
    stream's ``(dst, anchor_text)`` rows into a versioned
    ``anchor_term_counts`` snapshot ladder — the MERGEABLE form of the
    anchor profile (``operators.crawl_graph.anchor_term_counts``; top-k
    profiles are lossy to merge, so the count table is what the fold
    persists).  Term-count addition is as non-idempotent as edge-weight
    addition, so it rides the same strictly-below / stage-and-rename
    ladder.  The serving read is ``profile_from_counts(latest)`` — the
    top-k the curation ladder's ``anchor_profile=`` knob consumes.
    Snapshot size is domains x vocabulary bounded (never link-count),
    so ``n_files=1`` stays reasonable far longer than the edge fold's;
    ``None`` is the full-crawl posture all the same."""
    from ..operators.crawl_graph import anchor_term_counts
    from ..operators.text import merge_term_counts

    return _make_versioned_additive_folder(
        counts_path,
        lambda batch_df: anchor_term_counts(
            batch_df, dst, text_col, extra_suffixes, stopwords
        ),
        merge_term_counts,
        keep_versions,
        n_files,
    )


def stream_host_graph_fold(
    links: DataFrame,
    graph_path: str,
    checkpoint: str,
    src: str = "src",
    dst: str = "dst",
    extra_suffixes: tuple[str, ...] = (),
    keep_versions: int | None = None,
    n_files: int | None = 1,
    trigger_available_now: bool = False,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Run the fold as a streaming query over a link-edge stream (e.g.
    ``warc_page_links(stream_warc(...))`` — stateless, so it composes
    as the source here).  ``availableNow`` drains the backlog then
    stops; the folded snapshot then EQUALS ``host_graph`` over every
    link that arrived (weights exactly — test-pinned), ready for the
    nightly ``pagerank(init_ranks=latest)`` re-rank."""
    if not links.isStreaming:
        raise ValueError("links must be a streaming DataFrame (use host_graph)")
    fold = make_graph_folder(
        graph_path, src, dst, extra_suffixes, keep_versions, n_files
    )
    return start_foreach_batch(
        links, fold, checkpoint, trigger_available_now, processing_time
    )


def stream_anchor_counts_fold(
    links: DataFrame,
    counts_path: str,
    checkpoint: str,
    dst: str = "dst",
    text_col: str = "anchor_text",
    extra_suffixes: tuple[str, ...] = (),
    stopwords: list[str] | None = None,
    keep_versions: int | None = None,
    n_files: int | None = 1,
    trigger_available_now: bool = False,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Run the anchor-counts fold as a streaming query over a link
    stream carrying anchor text (e.g. ``warc_page_links(...,
    with_text=True)``).  After an ``availableNow`` drain the folded
    snapshot EQUALS ``anchor_term_counts`` over every link that arrived
    (counts exactly — test-pinned), and
    ``profile_from_counts(latest_snapshot(...))`` is the serving top-k."""
    if not links.isStreaming:
        raise ValueError(
            "links must be a streaming DataFrame (use anchor_term_counts)"
        )
    fold = make_anchor_counts_folder(
        counts_path, dst, text_col, extra_suffixes, stopwords,
        keep_versions, n_files,
    )
    return start_foreach_batch(
        links, fold, checkpoint, trigger_available_now, processing_time
    )
