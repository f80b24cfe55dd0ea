"""Serving façade — the reference's REST surface (routes.py) as plain
functions over the engine.

The reference exposes 8 FastAPI routes; this module maps each onto the
engine 1:1 so an HTTP layer is a thin adapter.  Every handler below is the
complete business logic of its route; the actual HTTP entry point is
:mod:`.http_app` (stdlib ThreadingHTTPServer — the container ships no web
framework), with request envelopes validated by :mod:`.envelopes`.

| reference route (routes.py)              | function here      |
|------------------------------------------|--------------------|
| POST /api/ingest            (:28-131)    | ``ingest``         |
| POST /api/transform         (:135-144)   | ``transform``      |
| GET  /api/datasets          (:148-152)   | ``list_datasets``  |
| GET  /api/datasets/{name}   (:155-171)   | ``dataset_info``   |
| GET  /api/data/{layer}/{name} (:174-215) | ``get_data``       |
| GET  /api/data/latest/{type}/{source} (:223-234) | ``get_latest`` |
| GET  /api/data/.../download (:238-259)   | ``download_csv``   |
| DELETE /api/datasets/{name} (:261-267)   | ``delete_dataset`` |
"""

from __future__ import annotations

import uuid
from typing import Any

from pyspark.sql import DataFrame

from real_time_financial_data_pipeline_spark.functions import to_csv_string, to_json_records
from real_time_financial_data_pipeline_spark.lake import DataLake, dataset_name
from real_time_financial_data_pipeline_spark.pipeline import transform_pipeline


def ingest(
    lake: DataLake,
    df: DataFrame,
    source: str,
    data_type: str,
    layer: str = "bronze",
) -> dict[str, Any]:
    """POST /api/ingest — append an already-parsed connector DataFrame to
    ``layer`` (bronze by default) in one pass, and report every record the
    write landed as ``records_count`` (the reference reports only the last
    symbol's, routes.py:46-72).  The async counterpart is the streaming
    ingester (streaming/ingest.py)."""
    name = dataset_name(source, data_type)
    path, n = lake.save(df, name, layer)
    return {
        "request_id": str(uuid.uuid4()),
        "status": "success",
        "message": f"ingested {n} records into {layer}/{name}",
        "records_count": n,
        "dataset": name,
        "file_path": path,
    }


def transform(
    lake: DataLake,
    source_path: str,
    destination_path: str,
    transformation_type: str,
    params: dict[str, Any] | None = None,
) -> dict[str, Any]:
    """POST /api/transform — ``source_path`` is ``{layer}/{name}`` and
    ``destination_path`` is ``{layer}/{name}`` or a bare ``{layer}``,
    exactly as the reference's frontend sends them (index.html:1103-1121;
    with a bare layer the destination name is derived from the source
    codec, the reference's fallback naming)."""
    layer, _, name = source_path.partition("/")
    dest_layer, _, dest_name = destination_path.partition("/")
    return transform_pipeline(
        lake, name, layer, dest_layer, transformation_type, params,
        dest_name=dest_name or None,
    )


def list_datasets(lake: DataLake) -> dict[str, list[str]]:
    """GET /api/datasets."""
    return lake.list_datasets()


def dataset_info(lake: DataLake, name: str, layer: str = "bronze") -> dict[str, Any]:
    """GET /api/datasets/{name}."""
    return lake.dataset_info(name, layer)


def get_data(lake: DataLake, layer: str, name: str, limit: int | None = None) -> list[str]:
    """GET /api/data/{layer}/{name} — sanitized, ISO-formatted JSON records
    (routes.py:190-215)."""
    return to_json_records(lake.read(name, layer), limit=limit)


def get_latest(lake: DataLake, data_type: str, source: str, limit: int | None = None) -> list[str]:
    """GET /api/data/latest/{data_type}/{source} — latest dataset by name
    date token (storage.py:144-170)."""
    name = lake.latest_dataset(data_type, source)
    if name is None:
        return []
    return to_json_records(lake.read(name, "bronze"), limit=limit)


def download_csv(lake: DataLake, layer: str, name: str, limit: int | None = None) -> str:
    """GET /api/data/{layer}/{name}/download."""
    return to_csv_string(lake.read(name, layer), limit=limit)


def delete_dataset(lake: DataLake, name: str, layer: str) -> dict[str, Any]:
    """DELETE /api/datasets/{name}."""
    ok = lake.delete(name, layer)
    return {"status": "success" if ok else "error", "dataset": name, "layer": layer}
