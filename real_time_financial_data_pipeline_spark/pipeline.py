"""Transform orchestrator — the reference's ``transform_data_pipeline``
(transformers.py:145-214), the flagship end-to-end slice.

Reads a lake table, dispatches on transformation_type
(clean | normalize | aggregate), overwrites the destination table with the
result and returns a result summary.  Each transform is a pure DataFrame
function, so the read-transform-write slice is one lazy plan that runs once:
the write itself counts the rows it lands, and an empty result leaves the
destination as it was.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

from real_time_financial_data_pipeline_spark.lake import DataLake, parse_dataset_name
from real_time_financial_data_pipeline_spark.operators.aggregate import aggregate_data
from real_time_financial_data_pipeline_spark.operators.clean import clean_data
from real_time_financial_data_pipeline_spark.operators.normalize import normalize_data

TRANSFORMS = ("clean", "normalize", "aggregate")

# destination-name suffix per transform, mirroring transformers.py:195-204
_SUFFIX = {"clean": "cleaned", "normalize": "normalized", "aggregate": "aggregated"}


def apply_transform(df: DataFrame, kind: str, params: dict[str, Any] | None = None) -> DataFrame:
    """Pure transform dispatch (transformers.py:158-186)."""
    params = params or {}
    if kind == "clean":
        return clean_data(df)
    if kind == "normalize":
        data_type = params.get("data_type")
        if not data_type:
            # reference requires data_type for normalize (transformers.py:174-176)
            raise ValueError("normalize requires params['data_type']")
        return normalize_data(df, data_type)
    if kind == "aggregate":
        return aggregate_data(
            df,
            time_period=params.get("time_period", "M"),
            agg_columns=params.get("agg_columns"),
            time_col=params.get("time_col", "timestamp"),
            group_cols=params.get("group_cols"),
        )
    raise ValueError(f"unknown transformation_type {kind!r}; expected one of {TRANSFORMS}")


def transform_pipeline(
    lake: DataLake,
    source_name: str,
    source_layer: str,
    dest_layer: str,
    kind: str,
    params: dict[str, Any] | None = None,
    dest_name: str | None = None,
) -> dict[str, Any]:
    """Full read -> transform -> write slice with the reference's result
    envelope (transformers.py:209-214).  ``dest_name`` overrides the
    codec-derived destination name (the frontend sends an explicit
    ``layer/name`` destination, index.html:1104)."""
    df = lake.read(source_name, source_layer)
    out = apply_transform(df, kind, params)

    if dest_name is None:
        parts = parse_dataset_name(source_name)
        dest_name = f"{parts['source']}_{parts['data_type']}_{_SUFFIX[kind]}"
    path, n = lake.save(out, dest_name, dest_layer, mode="overwrite")
    if n == 0:
        # reference errors on empty output (transformers.py:188-193); the
        # empty overwrite has left the destination untouched
        return {"status": "error", "message": "transformation produced no data", "records_count": 0}
    return {
        "status": "success",
        "message": f"{kind} applied to {source_name}",
        "records_count": n,
        "file_path": path,
        "dataset": dest_name,
    }
