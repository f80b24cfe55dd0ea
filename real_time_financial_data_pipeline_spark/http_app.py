"""HTTP app shell — the reference's FastAPI/uvicorn entry point
(main.py:24-36) on the Python standard library.

The container ships no web framework, so the shell is a
``ThreadingHTTPServer`` routing the reference's 8 ``/api`` routes
(routes.py) onto :mod:`.api`'s handler functions, with:

- permissive CORS on every response + OPTIONS preflight, matching the
  reference's ``CORSMiddleware(allow_origins=['*'], ...)`` (main.py:11-17);
- request envelopes validated via :mod:`.envelopes` — failures return a
  FastAPI-shaped ``422 {"detail": [...]}``;
- ``GET /`` serving the single-page UI (:mod:`.ui` — dependency-free
  functional parity with the reference's SPA template, main.py:24-26);
- ``POST /api/query`` executing the reference's DECLARED-but-unshipped
  QueryRequest surface (schema.py:73-76) against the lake via the
  timeseries / moving_average / correlation operators.

Ingestion inverts the reference's hard-wired connector calls
(routes.py:46-131) into an injectable ``fetch_fn(req) -> DataFrame`` so
the shell runs offline (tests inject a stub; production wires the
AlphaVantage/Yahoo connectors).

Spark note: handlers submit Spark jobs from the server's worker threads —
SparkSession job submission is thread-safe, and every response is bounded
(limits / previews), so the HTTP layer never streams unbounded data.
"""

from __future__ import annotations

import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any, Callable
from urllib.parse import parse_qs, urlparse

from pyspark.sql import DataFrame

from real_time_financial_data_pipeline_spark import api
from real_time_financial_data_pipeline_spark.envelopes import (
    DataIngestionRequest,
    EnvelopeError,
    QueryRequest,
    TransformationRequest,
    parse_envelope,
)
from real_time_financial_data_pipeline_spark.lake import (
    LAYERS,
    DataLake,
    validate_dataset_name,
)
from real_time_financial_data_pipeline_spark.ui import INDEX_HTML as _INDEX_HTML


def _checked_name(name: str) -> str:
    """Dataset-name validation at the HTTP boundary -> 422 (the lake
    re-validates defensively; this maps the failure to the client)."""
    try:
        return validate_dataset_name(name)
    except ValueError as e:
        raise EnvelopeError(
            [{"loc": ["path", "dataset"], "msg": str(e), "type": "value_error"}]
        ) from None


def _checked_layer(layer: str) -> str:
    if layer not in LAYERS:
        raise EnvelopeError(
            [{
                "loc": ["path", "layer"],
                "msg": f"unknown layer {layer!r}; expected one of {LAYERS}",
                "type": "value_error",
            }]
        )
    return layer


def _json_default(v: Any) -> str:
    return str(v)


class _Handler(BaseHTTPRequestHandler):
    # injected by serve(): lake, fetch_fn
    lake: DataLake
    fetch_fn: Callable[[DataIngestionRequest], DataFrame] | None
    _body: bytes  # the request body, read by _route before any answer

    protocol_version = "HTTP/1.1"

    # -- plumbing ----------------------------------------------------------

    def log_message(self, fmt: str, *args: Any) -> None:
        # deliberate no-op override: BaseHTTPRequestHandler writes every
        # request line to stderr by default, which floods test output; this
        # suppresses ACCESS logging only — errors still propagate through
        # the normal handler paths (nothing is swallowed here)
        pass

    def _cors(self) -> None:
        # main.py:11-17 — allow everything
        self.send_header("Access-Control-Allow-Origin", "*")
        self.send_header("Access-Control-Allow-Methods", "*")
        self.send_header("Access-Control-Allow-Headers", "*")
        self.send_header("Access-Control-Allow-Credentials", "true")

    def _respond(self, status: int, body: bytes, content_type: str, extra: dict[str, str] | None = None) -> None:
        self.send_response(status)
        self._cors()
        self.send_header("Content-Type", content_type)
        self.send_header("Content-Length", str(len(body)))
        for k, v in (extra or {}).items():
            self.send_header(k, v)
        self.end_headers()
        self.wfile.write(body)

    def _json(self, status: int, payload: Any) -> None:
        body = json.dumps(payload, default=_json_default).encode()
        self._respond(status, body, "application/json")

    def _body_json(self) -> Any:
        if not self._body:
            return {}
        try:
            return json.loads(self._body)
        except json.JSONDecodeError as e:
            raise EnvelopeError(
                [{"loc": ["body"], "msg": f"invalid JSON: {e.msg}", "type": "value_error.json"}]
            ) from e

    # -- routing -----------------------------------------------------------

    def do_OPTIONS(self) -> None:
        self._route("OPTIONS")

    def do_GET(self) -> None:
        self._route("GET")

    def do_POST(self) -> None:
        self._route("POST")

    def do_DELETE(self) -> None:
        self._route("DELETE")

    def _route(self, method: str) -> None:
        url = urlparse(self.path)
        path, q = url.path.rstrip("/") or "/", parse_qs(url.query)
        try:
            # consume the body before any answer: on a keep-alive connection
            # an unread body would be parsed as the next request
            n = int(self.headers.get("Content-Length") or 0)
            self._body = self.rfile.read(n) if n > 0 else b""
            if method == "OPTIONS":  # CORS preflight
                return self._respond(204, b"", "text/plain")
            layer = q.get("layer", ["bronze"])[0]
            try:
                limit = int(q["limit"][0]) if "limit" in q else None
            except ValueError:
                raise EnvelopeError(
                    [{
                        "loc": ["query", "limit"],
                        "msg": "value is not a valid integer",
                        "type": "type_error.integer",
                    }]
                ) from None
            if method == "GET" and path == "/":
                return self._respond(200, _INDEX_HTML.encode(), "text/html; charset=utf-8")
            if method == "POST" and path == "/api/ingest":
                return self._ingest()
            if method == "POST" and path == "/api/transform":
                return self._transform()
            if method == "POST" and path == "/api/query":
                return self._query()
            if method == "GET" and path == "/api/datasets":
                return self._json(200, api.list_datasets(self.lake))
            if m := re.fullmatch(r"/api/datasets/([^/]+)", path):
                name = _checked_name(m.group(1))
                _checked_layer(layer)
                if method == "GET":
                    return self._json(200, api.dataset_info(self.lake, name, layer))
                if method == "DELETE":  # routes.py:261-267 — 204 on success
                    out = api.delete_dataset(self.lake, name, layer)
                    if out["status"] == "error":
                        return self._json(404, {"detail": f"Dataset {name} not found"})
                    return self._respond(204, b"", "text/plain")
            if m := re.fullmatch(r"/api/data/latest/([^/]+)/([^/]+)", path):
                if method == "GET":
                    recs = api.get_latest(self.lake, m.group(1), m.group(2), limit=limit)
                    return self._json(200, [json.loads(r) for r in recs])
            if m := re.fullmatch(r"/api/data/([^/]+)/([^/]+)/download", path):
                if method == "GET":
                    lay, name = _checked_layer(m.group(1)), _checked_name(m.group(2))
                    csv = api.download_csv(self.lake, lay, name, limit=limit)
                    return self._respond(
                        200,
                        csv.encode(),
                        "text/csv",
                        {"Content-Disposition": f"attachment; filename={name}.csv"},
                    )
            if m := re.fullmatch(r"/api/data/([^/]+)/([^/]+)", path):
                if method == "GET":
                    lay, name = _checked_layer(m.group(1)), _checked_name(m.group(2))
                    recs = api.get_data(self.lake, lay, name, limit=limit)
                    return self._json(200, [json.loads(r) for r in recs])
            self._json(404, {"detail": "Not Found"})
        except EnvelopeError as e:
            self._json(422, {"detail": e.detail})
        except FileNotFoundError as e:
            self._json(404, {"detail": str(e)})
        except Exception as e:  # noqa: BLE001 — route errors become 500 JSON
            # Spark wraps missing paths in AnalysisException — map to 404
            if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
                self._json(404, {"detail": str(e).splitlines()[0]})
            else:
                self._json(500, {"detail": f"{type(e).__name__}: {e}"})

    # -- POST handlers -----------------------------------------------------

    def _ingest(self) -> None:
        req = parse_envelope(DataIngestionRequest, self._body_json())
        if self.fetch_fn is None:
            return self._json(
                503, {"detail": "no fetch_fn wired (offline shell); inject one in serve()"}
            )
        df = self.fetch_fn(req)
        out = api.ingest(self.lake, df, req.source, req.data_type)
        self._json(200, out)

    def _transform(self) -> None:
        req = parse_envelope(TransformationRequest, self._body_json())
        out = api.transform(
            self.lake,
            req.source_path,
            req.destination_path,
            req.transformation_type,
            req.params,
        )
        self._json(200, out)

    def _query(self) -> None:
        from real_time_financial_data_pipeline_spark.functions import to_json_records
        from real_time_financial_data_pipeline_spark.operators.query import (
            correlation,
            moving_average,
            timeseries,
        )

        req = parse_envelope(QueryRequest, self._body_json())
        layer, _, name = req.dataset.partition("/")
        p = req.params

        def _require(*names: str) -> None:
            missing = [n for n in names if n not in p]
            if missing:
                raise EnvelopeError(
                    [
                        {
                            "loc": ["body", "params", n],
                            "msg": "field required",
                            "type": "value_error.missing",
                        }
                        for n in missing
                    ]
                )

        # validate params BEFORE touching the lake: a bad request must be a
        # 422 even when the dataset also doesn't exist
        _REQUIRED = {
            "timeseries": ("key_col", "key", "time_col"),
            "moving_average": ("value_col", "partition_cols", "order_cols"),
            "correlation": ("key_col", "key_a", "key_b", "time_col", "value_col"),
        }
        if req.query_type in _REQUIRED:
            _require(*_REQUIRED[req.query_type])
        df = self.lake.read(_checked_name(name), _checked_layer(layer))
        if req.query_type == "timeseries":
            out = timeseries(
                df, p["key_col"], p["key"], p["time_col"], p.get("start"), p.get("end")
            )
        elif req.query_type == "moving_average":
            out = moving_average(
                df, p["value_col"], int(p.get("n", 7)), p["partition_cols"], p["order_cols"]
            )
        elif req.query_type == "correlation":
            out = correlation(
                df, p["key_col"], p["key_a"], p["key_b"], p["time_col"], p["value_col"],
                p.get("bucket", "hour"),
            )
        else:
            raise EnvelopeError(
                [{
                    "loc": ["body", "query_type"],
                    "msg": "expected one of timeseries|moving_average|correlation",
                    "type": "value_error",
                }]
            )
        recs = to_json_records(out, limit=int(p.get("limit", 100)))
        self._json(200, [json.loads(r) for r in recs])


def serve(
    lake: DataLake,
    host: str = "127.0.0.1",
    port: int = 8000,
    fetch_fn: Callable[[DataIngestionRequest], DataFrame] | None = None,
) -> ThreadingHTTPServer:
    """Start the app shell (non-blocking); returns the server.  Call
    ``server.shutdown()`` to stop.  Reference equivalent: uvicorn.run
    (main.py:29-36) — single process here; scale-out is N processes behind
    a balancer, exactly like API_WORKERS=4 (config.py:10)."""
    # staticmethod: a bare function stored on the class would otherwise be
    # re-bound as a method (self prepended) at attribute access
    handler = type(
        "BoundHandler",
        (_Handler,),
        {"lake": lake, "fetch_fn": staticmethod(fetch_fn) if fetch_fn else None},
    )
    server = ThreadingHTTPServer((host, port), handler)
    threading.Thread(target=server.serve_forever, name="http-app", daemon=True).start()
    return server
