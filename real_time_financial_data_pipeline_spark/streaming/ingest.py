"""Streaming ingestion — T1 (async background ingestion) as a
StreamingQuery.

Reference flow: REST request -> BackgroundTasks -> HTTP fetch -> normalize ->
parquet append to bronze (routes.py:29-42, alphavantage.py:247-277).
Spark-native flow: ``readStream`` (file dir / rate / Kafka-compatible) ->
parse/normalize -> ``foreachBatch`` append to the bronze lake table.

``foreachBatch`` + checkpointing gives at-least-once appends with exactly-
once state recovery; idempotent micro-batch writes (partition overwrite per
batch id) would upgrade to exactly-once if the sink needs it.

Rate governance (the reference's request_delay / batch_delay, T2) maps to
``trigger(processingTime=...)`` and source options like
``maxFilesPerTrigger`` / ``maxOffsetsPerTrigger``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType


def file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """File-drop source — the test/dev stand-in for a Kafka topic.  Each
    dropped file is a micro-batch (rate governed by maxFilesPerTrigger)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def decode_kafka_values(raw: DataFrame, value_schema: StructType | str) -> DataFrame:
    """Kafka wire format -> typed rows: ``CAST(value AS STRING)`` ->
    ``from_json`` -> star-expand.  Pure column transform, so it works on ANY
    DataFrame with a binary ``value`` column — the Kafka source proper and
    the file-source stand-in share it (and tests drive it without a
    broker)."""
    return raw.select(
        F.from_json(F.col("value").cast("string"), value_schema).alias("v")
    ).select("v.*")


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    value_schema: StructType | str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Kafka topic as a stream behind the same interface as ``file_stream``:
    returns typed entity rows ready for ``dedup_stream``/``ingest_to_bronze``.

    ``maxOffsetsPerTrigger`` is the Kafka twin of ``maxFilesPerTrigger``
    (rate governance, T2).  Requires the spark-sql-kafka connector on the
    classpath and a reachable broker; the JSON decode is the shared
    ``decode_kafka_values`` so everything downstream of the source is
    testable offline.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", max_offsets_per_trigger)
    return decode_kafka_values(reader.load(), value_schema)


def start_foreach_batch(
    stream: DataFrame,
    write_batch: Callable[[DataFrame, int], None],
    checkpoint: str,
    trigger_available_now: bool = False,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Start ``stream`` into the foreachBatch body ``write_batch`` under a
    checkpoint: ``availableNow`` drains the backlog then stops, otherwise
    micro-batches run on ``processing_time`` (or as fast as data comes)."""
    writer = stream.writeStream.foreachBatch(write_batch).option("checkpointLocation", checkpoint)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def dedup_stream(
    stream: DataFrame,
    key_cols: list[str],
    time_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming ingest dedup: drop re-deliveries of the same key within the
    watermark horizon (``dropDuplicatesWithinWatermark``).  State is bounded
    by the watermark — the at-scale answer to at-least-once sources
    re-sending events.

    The state lives in one store per shuffle partition, and every
    micro-batch commits each store, so the session's width (see
    ``session.get_spark``) sets the per-batch cost.  The query records that
    width in its checkpoint at first start; a restart keeps it."""
    return stream.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(key_cols)


def make_batch_writer(
    bronze_path: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    exactly_once: bool = False,
) -> Callable[[DataFrame, int], None]:
    """The foreachBatch body, exposed so replay semantics are directly
    testable (call it twice with the same batch_id).

    - ``exactly_once=False``: plain parquet append — at-least-once (a batch
      replayed after a crash between sink write and checkpoint commit
      appends twice).
    - ``exactly_once=True``: each micro-batch lands in its own
      ``_batch_id=<n>`` partition via DYNAMIC partition overwrite — only
      partitions present in the incoming data are replaced, so a replay of
      batch n atomically rewrites exactly its own partition and every other
      batch is untouched.  Idempotent per batch id = exactly-once output
      for a deterministic source+transform.  Readers see ``_batch_id`` as
      an extra partition column (drop it, or treat it as lineage metadata);
      at 100 TB the per-batch partitions also give retention jobs and
      incremental consumers a natural unit.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df) if transform else batch_df
        _write_batch(out, bronze_path, batch_id, exactly_once)

    return write_batch


def _write_batch(out: DataFrame, path: str, batch_id: int, exactly_once: bool) -> None:
    if exactly_once:
        (
            out.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(path)
        )
    else:
        out.write.mode("append").parquet(path)


def ingest_to_bronze(
    stream: DataFrame,
    bronze_path: str,
    checkpoint: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    trigger_available_now: bool = False,
    processing_time: str | None = None,
    exactly_once: bool = False,
) -> StreamingQuery:
    """T1 — append the (optionally normalized) stream to a bronze table via
    foreachBatch.  ``availableNow`` drains the backlog then stops — the
    batch-parity mode used by tests and backfills.  ``exactly_once``
    upgrades the sink from at-least-once appends to idempotent
    batch-id-keyed partition overwrites (see ``make_batch_writer``)."""
    write_batch = make_batch_writer(bronze_path, transform, exactly_once)
    return start_foreach_batch(
        stream, write_batch, checkpoint, trigger_available_now, processing_time
    )


def split_by_rules(df: DataFrame, rules) -> tuple[DataFrame, DataFrame]:
    """Partition a frame by a rule set (operators.quality.Rule): rows
    passing EVERY predicate, and rows failing any — the failing side
    tagged with a ``_violations`` array naming each failed rule.  A
    predicate evaluating to null counts as a violation, matching
    ``quality.check``.  One projection, two filters — no shuffle."""
    markers = [
        F.when(
            ~F.coalesce(F.expr(r.predicate), F.lit(False)), F.lit(r.name)
        )
        for r in rules
    ]
    tagged = df.withColumn("_violations", F.array_compact(F.array(*markers)))
    good = tagged.filter(F.size("_violations") == 0).drop("_violations")
    bad = tagged.filter(F.size("_violations") > 0)
    return good, bad


def make_quarantine_writer(
    good_path: str,
    quarantine_path: str,
    rules,
    exactly_once: bool = False,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body for validated ingest with a dead-letter table:
    every micro-batch splits on the rule set; passing rows land in the
    good table, violating rows land in quarantine WITH their
    ``_violations`` labels — nothing is silently dropped, and the
    quarantine table is re-processable once the upstream bug is fixed
    (the standard dead-letter-queue pattern).

    ``exactly_once=True`` applies the same batch-id-keyed dynamic
    partition overwrite as ``make_batch_writer`` to BOTH tables, so a
    replayed micro-batch rewrites its own partitions idempotently on both
    sides.  The micro-batch is persisted for the two writes (each side is
    a filter of the same scan)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            good, bad = split_by_rules(batch_df, rules)
            _write_batch(good, good_path, batch_id, exactly_once)
            _write_batch(bad, quarantine_path, batch_id, exactly_once)
        finally:
            batch_df.unpersist()

    return write_batch


def ingest_with_quarantine(
    stream: DataFrame,
    good_path: str,
    quarantine_path: str,
    checkpoint: str,
    rules,
    trigger_available_now: bool = False,
    processing_time: str | None = None,
    exactly_once: bool = False,
) -> StreamingQuery:
    """T1 + data-quality gate: validated streaming ingest where violating
    rows are quarantined with rule labels instead of poisoning the bronze
    table (see ``make_quarantine_writer``)."""
    write_batch = make_quarantine_writer(
        good_path, quarantine_path, rules, exactly_once
    )
    return start_foreach_batch(
        stream, write_batch, checkpoint, trigger_available_now, processing_time
    )
