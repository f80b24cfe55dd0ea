"""Streaming ingest from a file-drop directory of seeded tick files.

Phase 1 drains a staged backlog one file per trigger (``availableNow``).
Phase 2 moves files into an empty source directory open-loop, at a fixed
rate, while ``ingest_to_bronze`` on a processing-time trigger runs beside a
``tumbling_ohlc`` query.  Both ingest queries go through ``dedup_stream``
and ``normalize_data`` into an exactly-once bronze table.

Each file's sequence number rides in its rows' ``source`` column, so
reading bronze back beside ``_batch_id`` maps every file to the
micro-batch that wrote it; the batch's end comes from the query's own
progress reports.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import threading
import time

import pandas as pd

from perfbench import gen
from real_time_financial_data_pipeline_spark.operators.normalize import normalize_data
from real_time_financial_data_pipeline_spark.streaming.aggregates import tumbling_ohlc
from real_time_financial_data_pipeline_spark.streaming.ingest import (
    dedup_stream,
    file_stream,
    ingest_to_bronze,
)

SCHEMA = (
    "symbol string, timestamp timestamp, open double, high double, low double, "
    "close double, volume long, source string"
)
BAR_MINUTES = 5
TRIGGER = "2 seconds"


def _normalize(df):
    return normalize_data(df, "stock")


class TickSource:
    """Tick files of one phase: generated, written to a staging directory,
    and moved into the source directory on demand."""

    def __init__(self, workdir: str, seed: int, tag: str, n_files: int, n_symbols: int, per_symbol: int) -> None:
        self.tag = tag
        self.files = gen.tick_files(seed, tag, n_files, n_symbols, per_symbol)
        self.stage = os.path.join(workdir, f"{tag}-stage")
        self.src = os.path.join(workdir, f"{tag}-src")
        os.makedirs(self.stage, exist_ok=True)
        os.makedirs(self.src, exist_ok=True)
        self.bytes = sum(gen.write_tick_file(f, self._staged(k)) for k, f in enumerate(self.files))
        self.rows = sum(len(f) for f in self.files)
        self.moved_at: dict[int, float] = {}

    def _staged(self, k: int) -> str:
        return os.path.join(self.stage, f"ticks-{k:05d}.parquet")

    def move(self, k: int) -> None:
        os.rename(self._staged(k), os.path.join(self.src, f"ticks-{k:05d}.parquet"))
        self.moved_at[k] = time.time()

    def stream(self, spark, max_files: int | None):
        return file_stream(spark, self.src, SCHEMA, max_files_per_trigger=max_files)


def start_ingest(spark, source: TickSource, bronze: str, checkpoint: str, **trigger):
    stream = dedup_stream(source.stream(spark, trigger.pop("max_files")), ["symbol", "timestamp"], time_col="timestamp")
    return ingest_to_bronze(stream, bronze, checkpoint, transform=_normalize, exactly_once=True, **trigger)


def drain(spark, source: TickSource, bronze: str, checkpoint: str) -> tuple[float, list[dict]]:
    """Move every file in, then drain the backlog one file per trigger;
    returns (seconds, progress reports)."""
    for k in range(len(source.files)):
        source.move(k)
    t0 = time.perf_counter()
    q = start_ingest(spark, source, bronze, checkpoint, max_files=1, trigger_available_now=True)
    q.awaitTermination()
    elapsed = time.perf_counter() - t0
    if q.exception() is not None:
        raise RuntimeError(f"drain query failed: {q.exception()}")
    return elapsed, q.recentProgress


def drain_rate(progress: list[dict]) -> float:
    """Rows per second of the drain's typical micro-batch: the median over
    batches of rows over trigger time, so one slow batch of a short drain
    (a collection pause, a state-store snapshot) does not set the figure."""
    return statistics.median(
        p["numInputRows"] / (p["durationMs"]["triggerExecution"] / 1000.0) for p in progress if p["numInputRows"] > 0
    )


class LivePhase:
    """Open-loop file drops at ``rate`` files a second into a live ingest
    query and a tumbling-bar query."""

    def __init__(self, spark, source: TickSource, workdir: str, rate: float, bars_table: str) -> None:
        self.spark = spark
        self.source = source
        self.rate = rate
        self.bars_table = bars_table
        self.bronze = os.path.join(workdir, f"{source.tag}-bronze")
        self.ckpt = os.path.join(workdir, f"{source.tag}-ckpt")
        self.bars_ckpt = os.path.join(workdir, f"{source.tag}-bars-ckpt")
        self.late_ms: list[float] = []

    def run(self, n_files: int, timeout: float = 60.0) -> tuple[list[dict], list[dict]]:
        ingest = start_ingest(self.spark, self.source, self.bronze, self.ckpt, max_files=None, processing_time=TRIGGER)
        bars = (
            tumbling_ohlc(self.source.stream(self.spark, None), time_col="timestamp", value_col="close",
                          key_col="symbol", window_size=f"{BAR_MINUTES} minutes")
            .writeStream.format("memory").queryName(self.bars_table).outputMode("append")
            .option("checkpointLocation", self.bars_ckpt).trigger(processingTime=TRIGGER).start()
        )
        try:
            gen_thread = threading.Thread(target=self._drop, args=(n_files,))
            gen_thread.start()
            gen_thread.join()
            want = sum(len(f) for f in self.source.files[:n_files])
            deadline = time.monotonic() + timeout
            for q in (ingest, bars):
                while sum(p["numInputRows"] for p in q.recentProgress) < want:
                    if q.exception() is not None or time.monotonic() > deadline:
                        raise RuntimeError(f"live query did not take in {want} rows: {q.exception()}")
                    time.sleep(0.02)
            return ingest.recentProgress, bars.recentProgress
        finally:
            ingest.stop()
            bars.stop()

    def _drop(self, n_files: int) -> None:
        t0 = time.perf_counter()
        for k in range(n_files):
            due = t0 + k / self.rate
            now = time.perf_counter()
            if due > now:
                time.sleep(due - now)
            self.late_ms.append(max(0.0, time.perf_counter() - due) * 1000.0)
            self.source.move(k)

    def freshness_ms(self, progress: list[dict]) -> list[float]:
        """Per file: end of the micro-batch that wrote it minus its move."""
        ends = {
            p["batchId"]: _epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0
            for p in progress
            if p["numInputRows"] > 0
        }
        pairs = self.spark.read.parquet(self.bronze).select("source", "_batch_id").distinct().collect()
        out = []
        for source, batch in pairs:
            k = int(source.rsplit("-", 1)[1])
            out.append((ends[batch] - self.source.moved_at[k]) * 1000.0)
        return out


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def check_bronze(spark, bronze: str, source: TickSource, n_files: int) -> list[str]:
    """Bronze holds each generated (symbol, timestamp) key exactly once."""
    got = spark.read.parquet(bronze).select("symbol", "timestamp", "close", "data_type").toPandas()
    exp = gen.own_rows(source.files[:n_files], source.tag)
    errors = []
    if got.duplicated(["symbol", "timestamp"]).any():
        errors.append(f"{source.tag}: bronze holds a (symbol, timestamp) key more than once")
    keys_got = set(zip(got["symbol"], got["timestamp"]))
    keys_exp = set(zip(exp["symbol"], exp["timestamp"].dt.tz_convert(None)))
    if keys_got != keys_exp:
        errors.append(f"{source.tag}: bronze keys differ from the generated ticks ({len(keys_got)} vs {len(keys_exp)})")
    if not (got["data_type"] == "stock").all():
        errors.append(f"{source.tag}: bronze rows missing data_type='stock'")
    return errors


def check_bars(spark, table: str, source: TickSource, n_files: int) -> list[str]:
    """Every emitted (closed) tumbling bar equals the pandas groupby of the
    delivered rows, and at least one bar closed."""
    got = spark.table(table).toPandas()
    exp = gen.expected_tumbling(pd.concat(source.files[:n_files], ignore_index=True), BAR_MINUTES)
    exp_by = {(r.symbol, r.period): r for r in exp.itertuples()}
    errors = []
    for r in got.itertuples():
        e = exp_by.get((r.symbol, r.period))
        if e is None or (r.open, r.high, r.low, r.close, r.n_events) != (e.open, e.high, e.low, e.close, e.n_events) \
                or not gen.closes_equal(r.sum_value, e.sum_value):
            errors.append(f"bar {r.symbol} {r.period} differs from the pandas 5-minute groupby")
            break
    if got.empty:
        errors.append("no tumbling bar closed")
    return errors
