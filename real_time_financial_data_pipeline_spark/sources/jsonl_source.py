"""JSONL document-corpus ingestion — the LLM-pipeline interchange format
(one JSON object per line: Dolma, RedPajama, FineWeb, OSCAR dumps all
ship this way), validated into the engine's ``documents`` schema.

The reference ingests only finance payloads (connectors) and CSV
(csv_loader.py); a training-data pipeline's raw input is JSONL document
dumps, so this is the documents-table counterpart of
``csv_source.load_stock_csv`` — with the same defensive posture:

* explicit schema (NEVER inferred — schema inference reads the data
  twice and silently widens types between dumps);
* malformed lines survive as rows via PERMISSIVE mode's corrupt-record
  column instead of killing the job (one bad line in a 100 TB dump must
  not fail the ingest);
* field-name synonyms are normalized (``content``/``body`` -> ``text``,
  ``id``/``document_id`` -> ``doc_id``, ``language`` -> ``lang``,
  ``url``/``domain``/``subset`` -> ``source``) — the same synonym-table
  idea as the CSV loader's header auto-detection;
* rows are VALIDATED, not trusted: the quality-rule machinery
  (operators.quality.Rule + streaming.ingest.split_by_rules) routes
  violating rows to a quarantine frame tagged with the violated rule
  names, re-processable once upstream is fixed — never silently
  dropped, never poisoning the good table.

Scale shape: ``spark.read.json`` with an explicit schema is a streaming
line scan (splittable on uncompressed/zstd-seekable files); everything
after it is a projection plus the two rule filters — no shuffle in the
whole ingest.  Missing ids are derived as ``xxhash64(text)`` (content-
addressed, deterministic, layout-independent) rather than
``monotonically_increasing_id`` (partition-layout-dependent — two runs
of the same dump would disagree).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from real_time_financial_data_pipeline_spark.operators.quality import Rule

# accepted input spellings per canonical documents column, first match wins
FIELD_SYNONYMS: dict[str, list[str]] = {
    "doc_id": ["doc_id", "id", "document_id"],
    "text": ["text", "content", "body"],
    "lang": ["lang", "language"],
    "source": ["source", "url", "domain", "subset"],
}

_CORRUPT = "_corrupt_record"

# the raw-read schema: every synonym as a permissive string — including
# the id spellings, because real dump families (Dolma, FineWeb,
# RedPajama) ship STRING ids; reading them as long would mark every such
# record corrupt in PERMISSIVE mode and quarantine the whole dump.
# Numeric ids survive via try_cast in _normalize; non-numeric ids are
# content-addressed with xxhash64 (deterministic across runs/layouts).
_RAW_FIELDS = [
    StructField("doc_id", StringType()),
    StructField("id", StringType()),
    StructField("document_id", StringType()),
    StructField("text", StringType()),
    StructField("content", StringType()),
    StructField("body", StringType()),
    StructField("lang", StringType()),
    StructField("language", StringType()),
    StructField("source", StringType()),
    StructField("url", StringType()),
    StructField("domain", StringType()),
    StructField("subset", StringType()),
    StructField(_CORRUPT, StringType()),
]


def default_document_rules(min_chars: int = 1, max_chars: int = 10_000_000) -> list[Rule]:
    """The baseline expectations every corpus ingest should gate on."""
    return [
        Rule("text_not_null", "text IS NOT NULL"),
        Rule(
            "text_length_band",
            f"length(text) >= {min_chars} AND length(text) <= {max_chars}",
        ),
        Rule("doc_id_not_null", "doc_id IS NOT NULL"),
    ]


def load_documents_jsonl(
    spark: SparkSession,
    path: str,
    rules: list[Rule] | None = None,
    derive_missing_ids: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Read a JSONL document dump into the canonical ``documents`` shape
    (doc_id long, text, lang, source, n_chars long) and split it into
    (good, quarantine).

    The quarantine frame carries the raw row plus ``_violations`` (the
    failed rule names; malformed JSON lines appear with the
    ``well_formed_json`` violation and their raw line preserved in
    ``_corrupt_record``).  ``derive_missing_ids`` content-addresses rows
    whose dump carries no id (``xxhash64(text)``) — deterministic across
    runs and layouts; ids then collide exactly when texts are identical,
    which the exact-dedup stage removes anyway."""
    raw = spark.read.schema(StructType(_RAW_FIELDS)).option("mode", "PERMISSIVE").json(path)
    normalized = _normalize(raw, derive_missing_ids)
    from real_time_financial_data_pipeline_spark.streaming.ingest import (
        split_by_rules,
    )

    good, bad = split_by_rules(normalized, _all_rules(rules))
    return _finalize_good(good), bad


def _normalize(raw: DataFrame, derive_missing_ids: bool) -> DataFrame:
    def first_of(names: list[str]):
        cols = [F.col(n) for n in names if n in raw.columns]
        return F.coalesce(*cols) if len(cols) > 1 else cols[0]

    # id resolution ladder: numeric id strings pass through as their
    # numeric value (try_cast — "42" and 42 agree across dumps);
    # non-numeric string ids ("doc-abc...") are hashed with xxhash64
    # (deterministic, layout-independent, so re-ingesting the same dump
    # yields the same ids); rows with no id at all fall through to the
    # content-addressed xxhash64(text) when derive_missing_ids is set.
    id_raw = first_of(FIELD_SYNONYMS["doc_id"])
    text_expr = first_of(FIELD_SYNONYMS["text"])
    doc_id = F.coalesce(
        id_raw.try_cast("long"),
        F.when(id_raw.isNotNull(), F.xxhash64(id_raw)),
    )
    if derive_missing_ids:
        # guard the content-address on text presence: Spark's xxhash64
        # SKIPS null inputs and returns its seed (42), so an unguarded
        # xxhash64(NULL text) would stamp every malformed/textless row
        # with the same bogus id 42 instead of leaving it null for the
        # doc_id_not_null rule to catch
        doc_id = F.coalesce(
            doc_id, F.when(text_expr.isNotNull(), F.xxhash64(text_expr))
        )
    return raw.select(
        doc_id.alias("doc_id"),
        text_expr.alias("text"),
        first_of(FIELD_SYNONYMS["lang"]).alias("lang"),
        first_of(FIELD_SYNONYMS["source"]).alias("source"),
        F.col(_CORRUPT),
    )


def _all_rules(rules: list[Rule] | None) -> list[Rule]:
    return [Rule("well_formed_json", f"{_CORRUPT} IS NULL")] + (
        rules if rules is not None else default_document_rules()
    )


def _finalize_good(good: DataFrame) -> DataFrame:
    return (
        good.drop(_CORRUPT)
        .withColumn("n_chars", F.length("text").cast("long"))
        .select("doc_id", "text", "lang", "source", "n_chars")
    )


def stream_documents_jsonl(
    spark: SparkSession,
    path: str,
    good_path: str,
    quarantine_path: str,
    checkpoint: str,
    rules: list[Rule] | None = None,
    derive_missing_ids: bool = True,
    trigger_available_now: bool = False,
    max_files_per_trigger: int | None = None,
):
    """The streaming twin of :func:`load_documents_jsonl` — a JSONL drop
    directory continuously validated into the documents table with the
    same normalization, id derivation, and quarantine routing (the
    family's batch ≡ stream contract is test-pinned).  Each micro-batch
    splits on the rule set inside ``foreachBatch``: passing rows land
    under ``good_path`` in the canonical documents shape, violating rows
    (malformed lines included) land under ``quarantine_path`` with their
    ``_violations`` labels — the same dead-letter pattern as
    ``ingest_with_quarantine``.

    Exactly-once contract — scoped to SAME-CHECKPOINT retries: each
    micro-batch OVERWRITES its own ``batch_id=N`` hive partition under
    both sinks instead of blind appends, so a micro-batch retried after a
    mid-write failure replaces its partial output rather than duplicating
    it (foreachBatch is at-least-once; idempotent writes make the sink
    effectively-once *as long as the restart reuses* ``checkpoint`` — the
    checkpoint is what makes a retry replay the same batch_id over the
    same file set).  A REPLAY UNDER A FRESH CHECKPOINT is a different
    run: batch numbering restarts and file-to-batch assignment can differ
    (new files landed, a changed ``max_files_per_trigger``), so its
    partitions interleave with — not replace — the prior run's, and
    readers of a shared sink path would double-count.  Re-ingesting from
    scratch therefore needs fresh ``good_path``/``quarantine_path`` (or a
    cleared sink) alongside the fresh checkpoint; checkpoint and sink
    paths form one atomic identity.  Readers of the root path see one
    extra ``batch_id`` partition column — drop it for the canonical
    shape, or prune on it for incremental downstream reads.  Returns the
    started StreamingQuery."""
    from real_time_financial_data_pipeline_spark.streaming.ingest import (
        split_by_rules,
        start_foreach_batch,
    )

    reader = spark.readStream.schema(StructType(_RAW_FIELDS)).option(
        "mode", "PERMISSIVE"
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    normalized = _normalize(reader.json(path), derive_missing_ids)
    all_rules = _all_rules(rules)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            good, bad = split_by_rules(batch_df, all_rules)
            _finalize_good(good).write.mode("overwrite").parquet(
                f"{good_path}/batch_id={batch_id}"
            )
            bad.write.mode("overwrite").parquet(
                f"{quarantine_path}/batch_id={batch_id}"
            )
        finally:
            batch_df.unpersist()

    return start_foreach_batch(normalized, write_batch, checkpoint, trigger_available_now)
