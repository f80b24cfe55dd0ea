"""Serving-edge sinks — reference routes.py JSON/CSV responses (K2/K3).

The reference sanitizes inf/NaN to null (routes.py:194) and formats
timestamps as ISO-8601 with a literal Z (routes.py:200-205) before
``to_dict(orient='records')``.  Here both are expressions applied at the
serving edge only — the lake keeps native types.

The projection is built from ``df.schema`` as SQL expression strings and
applied with one ``selectExpr``: a JSON response is ONE expression, so a
request costs a few py4j calls however wide the table, where a
``Column``-per-field plan costs several round trips per field.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, FloatType, StructField, TimestampType

ISO_Z = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"  # strftime('%Y-%m-%dT%H:%M:%S.%fZ'), routes.py:205


def _quote(name: str) -> str:
    """A column name as a SQL identifier: ``a.b`` is one column, not a
    struct access."""
    return "`" + name.replace("`", "``") + "`"


def _edge_expr(field: StructField, floats: bool = True, timestamps: bool = True) -> str:
    """The serving-edge SQL expression of one field, aliased to its name:
    ±inf/NaN to null for float columns, ISO-8601 Z text for timestamps."""
    c = _quote(field.name)
    if floats and isinstance(field.dataType, (DoubleType, FloatType)):
        e = f"CASE WHEN isnan({c}) OR {c} IN (double('inf'), double('-inf')) THEN NULL ELSE {c} END"
    elif timestamps and isinstance(field.dataType, TimestampType):
        e = f'date_format({c}, "{ISO_Z}")'
    else:
        e = c
    return f"{e} AS {c}"


def sanitize_floats(df: DataFrame) -> DataFrame:
    """P9 — replace ±inf/NaN with null in every float column
    (``df.replace([inf,-inf,nan], None)``, routes.py:194)."""
    return df.selectExpr(*[_edge_expr(f, timestamps=False) for f in df.schema.fields])


def timestamps_to_iso(df: DataFrame) -> DataFrame:
    """P8 — timestamp columns to ISO-8601 strings with literal Z
    (routes.py:198-208)."""
    return df.selectExpr(*[_edge_expr(f, floats=False) for f in df.schema.fields])


def to_json_records(df: DataFrame, limit: int | None = None) -> list[str]:
    """K2 — JSON records response body, one JSON object text per row.
    Sanitization + ISO formatting are pushed into the plan; only the
    (bounded) result is collected."""
    fields = ", ".join(_edge_expr(f) for f in df.schema.fields)
    out = df.limit(limit) if limit is not None else df
    # ignoreNullFields=false: the reference emits explicit nulls
    # (NaN/inf -> null, routes.py:194), and so do we
    json_expr = f"to_json(struct({fields}), map('ignoreNullFields', 'false'))"
    return [r[0] for r in out.selectExpr(json_expr).collect()]


def to_csv_string(df: DataFrame, limit: int | None = None) -> str:
    """K3 — CSV download body (routes.py:238-259).  Arrow-accelerated
    ``toPandas`` at the serving edge; bound it with ``limit`` for API use
    (for lake-scale export use ``df.write.csv`` instead)."""
    out = df.limit(limit) if limit is not None else df
    return out.selectExpr(*[_edge_expr(f) for f in df.schema.fields]).toPandas().to_csv(index=False)
