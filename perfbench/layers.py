"""Per-layer metrics of a traced run.

Every workload reports every metric below, so that the layers a workload
does not exercise read as the zero they are.  Span-based figures are the
median over operations (an ETL cycle, an HTTP request) of the time or job
count a layer spent in that operation.
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict
from statistics import median

from perfbench.serve import ROUND
from perfbench.trace import highest_tail

ETL_SPANS = {
    "sources.csv_source.load": ("s",),
    "api.ingest": ("s", "jobs"),
    "pipeline.clean": ("s", "jobs", "tasks"),
    "pipeline.normalize": ("s", "jobs", "tasks"),
    "pipeline.aggregate": ("s", "jobs", "tasks"),
    "operators.finance.indicators": ("s", "jobs"),
}
SERVER_SPANS = ["api.get_data", "api.dataset_info", "api.get_latest", "api.ingest", "functions.sinks.to_json_records"]
ROUTES = sorted(set(ROUND))
STREAM_PHASES = ("triggerExecution", "addBatch", "walCommit", "commitOffsets", "latestOffset", "getBatch", "queryPlanning")

UNITS = {"s": "s", "jobs": "count", "tasks": "count"}


def names() -> dict[str, str]:
    """Every per-layer metric with its unit."""
    out = {"session.start_s": "s"}
    for span, kinds in ETL_SPANS.items():
        for k in kinds:
            out[f"{span}_{k}"] = UNITS[k]
    for layer in ("bronze", "silver", "gold"):
        out[f"lake.{layer}_bytes"] = "B"
        out[f"lake.{layer}_files"] = "count"
    for r in ROUTES:
        out[f"http_app.{r}_p50_ms"] = "ms"
    out["http_app.reads"] = "count"
    out["http_app.read_tail_q"] = "quantile"
    out["http_app.read_tail_ms"] = "ms"
    out["http_app.wait_ms"] = "ms"
    for s in SERVER_SPANS:
        out[f"{s}_ms"] = "ms"
    for r in ROUTES:
        out[f"api.jobs_per_request.{r}"] = "count"
    out["lake.bronze_files_after_ingest"] = "count"
    for p in STREAM_PHASES:
        out[f"streaming.ingest.{p}_ms_p50"] = "ms"
    out["streaming.ingest.batches"] = "count"
    out["streaming.ingest.rows_per_batch"] = "count"
    out["streaming.aggregates.state_rows"] = "count"
    out["streaming.aggregates.state_memory_bytes"] = "B"
    out["streaming.aggregates.state_commit_ms_p50"] = "ms"
    out["streaming.generator_late_ms_max"] = "ms"
    out["streaming.freshness_tail_q"] = "quantile"
    out["streaming.freshness_tail_ms"] = "ms"
    return out


def _per_op(spans: list[dict], key) -> list[float]:
    """Sum ``key(span)`` per operation id; one value per operation."""
    acc: dict[str, float] = defaultdict(float)
    for s in spans:
        acc[s["op"]] += key(s)
    return list(acc.values())


def _med(values) -> float:
    values = list(values)
    return float(median(values)) if values else 0.0


def _tail(values: dict, prefix: str, samples: list[float]) -> None:
    t = highest_tail(samples)
    if t is not None:
        values[f"{prefix}_tail_q"], values[f"{prefix}_tail_ms"] = t


def per_layer(run) -> dict[str, dict]:
    values: dict[str, float] = {"session.start_s": run.layer["session.start_s"]}
    tr = run.tracer

    for span, kinds in ETL_SPANS.items():
        spans = tr.named(span)
        if "s" in kinds:
            values[f"{span}_s"] = _med(_per_op(spans, lambda s: s["end"] - s["start"]))
        for k in ("jobs", "tasks"):
            if k in kinds:
                values[f"{span}_{k}"] = _med(_per_op(spans, lambda s, k=k: s.get(k, 0)))

    for layer, (size, files) in getattr(run, "lake_layers", {}).items():
        values[f"lake.{layer}_bytes"] = size
        values[f"lake.{layer}_files"] = files

    results = getattr(run, "serve_results", None)
    if results:
        by_op = defaultdict(list)
        for r in results:
            by_op[r["op"]].append(r)
        for route, rs in by_op.items():
            values[f"http_app.{route}_p50_ms"] = _med(r["ms"] for r in rs)
        reads = [r["ms"] for r in results if r["op"] != "ingest"]
        values["http_app.reads"] = len(reads)
        _tail(values, "http_app.read", reads)
        for s in SERVER_SPANS:
            values[f"{s}_ms"] = _med(1000.0 * (x["end"] - x["start"]) for x in tr.named(s))
        route_spans = {int(s["op"]): s for s in tr.named("http_app.route") if s["op"] is not None}
        waits, jobs = [], defaultdict(list)
        for r in results:
            s = route_spans.get(r["i"])
            if s is not None:
                waits.append(r["ms"] - 1000.0 * (s["end"] - s["start"]))
                jobs[r["op"]].append(s.get("jobs", 0))
        values["http_app.wait_ms"] = _med(waits)
        for route, js in jobs.items():
            values[f"api.jobs_per_request.{route}"] = statistics.fmean(js)
        bronze = os.path.join(run.serve_lake.lake.root, "bronze", run.serve_lake.bronze)
        values["lake.bronze_files_after_ingest"] = sum(
            f.endswith(".parquet") for _, _, fs in os.walk(bronze) for f in fs
        )

    st = getattr(run, "stream_stats", None)
    if st:
        batches = [p for p in st["progress"] if p["numInputRows"] > 0]
        for p in STREAM_PHASES:
            values[f"streaming.ingest.{p}_ms_p50"] = _med(b["durationMs"].get(p, 0) for b in batches)
        values["streaming.ingest.batches"] = len(batches)
        values["streaming.ingest.rows_per_batch"] = statistics.fmean(b["numInputRows"] for b in batches)
        bars = [p for p in st["bars"] if p["numInputRows"] > 0 and p["stateOperators"]]
        if bars:
            last = bars[-1]["stateOperators"][0]
            values["streaming.aggregates.state_rows"] = last["numRowsTotal"]
            values["streaming.aggregates.state_memory_bytes"] = last["memoryUsedBytes"]
            values["streaming.aggregates.state_commit_ms_p50"] = _med(b["stateOperators"][0]["commitTimeMs"] for b in bars)
        values["streaming.generator_late_ms_max"] = max(st["late_ms"])
        _tail(values, "streaming.freshness", st["fresh"])

    return {name: {"value": values.get(name, 0), "unit": unit} for name, unit in names().items()}
