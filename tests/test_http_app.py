"""End-to-end HTTP shell tests: real ThreadingHTTPServer on an ephemeral
port, driven with urllib — covers routing, CORS parity, envelope
validation (422), the 8 reference routes, and /api/query."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from real_time_financial_data_pipeline_spark.envelopes import (
    DataIngestionRequest,
    EnvelopeError,
    QueryRequest,
    parse_envelope,
)
from real_time_financial_data_pipeline_spark.http_app import serve
from real_time_financial_data_pipeline_spark.lake import DataLake


@pytest.fixture()
def app(spark, tmp_path):
    lake = DataLake(spark, str(tmp_path / "lake"))

    def fetch_stub(req: DataIngestionRequest):
        rows = [(s, "2024-01-02 00:00:00", 10.0, 12.0, 9.0, 11.0, 100) for s in req.symbols]
        return spark.createDataFrame(
            rows, "symbol string, ts string, open double, high double, low double, close double, volume long"
        ).selectExpr("symbol", "CAST(ts AS TIMESTAMP) AS timestamp", "open", "high", "low", "close", "volume")

    server = serve(lake, port=0, fetch_fn=fetch_stub)
    base = f"http://127.0.0.1:{server.server_address[1]}"
    yield base
    server.shutdown()


def _req(base, path, method="GET", payload=None):
    data = json.dumps(payload).encode() if payload is not None else None
    r = urllib.request.Request(f"{base}{path}", data=data, method=method)
    if data:
        r.add_header("Content-Type", "application/json")
    resp = urllib.request.urlopen(r)
    body = resp.read()
    return resp, json.loads(body) if body and resp.headers.get_content_type() == "application/json" else body


def test_root_and_cors_preflight(app):
    resp, body = _req(app, "/")
    assert resp.status == 200 and b"Financial Data Pipeline" in body
    # the SPA exposes the reference's three tabs and drives the API routes
    for marker in (b"tab-ingest", b"tab-explore", b"tab-transform",
                   b"/api/ingest", b"/api/transform", b"/api/datasets",
                   b"/download"):
        assert marker in body, marker
    assert resp.headers["Access-Control-Allow-Origin"] == "*"
    r = urllib.request.Request(f"{app}/api/datasets", method="OPTIONS")
    pre = urllib.request.urlopen(r)
    assert pre.status == 204
    assert pre.headers["Access-Control-Allow-Methods"] == "*"


def test_full_route_surface(app):
    # ingest (stub fetch) -> 200 envelope
    resp, out = _req(
        app, "/api/ingest", "POST", {"source": "yahoo", "data_type": "stock", "symbols": ["AAPL", "MSFT"]}
    )
    assert resp.status == 200
    assert out["status"] == "success" and out["records_count"] == 2
    name = out["dataset"]

    # datasets listing + info
    _, listing = _req(app, "/api/datasets")
    assert name in listing["bronze"]
    _, info = _req(app, f"/api/datasets/{name}")
    assert info["record_count"] == 2 and info["source"] == "yahoo"

    # data as JSON records (sanitized, ISO timestamps)
    _, recs = _req(app, f"/api/data/bronze/{name}?limit=10")
    assert {r["symbol"] for r in recs} == {"AAPL", "MSFT"}
    assert recs[0]["timestamp"].endswith("Z")

    # latest-by-name-date-token
    _, latest = _req(app, "/api/data/latest/stock/yahoo")
    assert len(latest) == 2

    # csv download with attachment header
    resp, csv = _req(app, f"/api/data/bronze/{name}/download")
    assert resp.headers["Content-Type"] == "text/csv"
    assert "attachment" in resp.headers["Content-Disposition"]
    assert csv.decode().splitlines()[0].startswith("symbol,")

    # query route over the ingested dataset
    resp, ts = _req(
        app, "/api/query", "POST",
        {
            "dataset": f"bronze/{name}",
            "query_type": "timeseries",
            "params": {"key_col": "symbol", "key": "AAPL", "time_col": "timestamp"},
        },
    )
    assert resp.status == 200 and len(ts) == 1 and ts[0]["symbol"] == "AAPL"

    # delete -> 204, then info -> 404
    r = urllib.request.Request(f"{app}/api/datasets/{name}", method="DELETE")
    assert urllib.request.urlopen(r).status == 204
    with pytest.raises(urllib.error.HTTPError) as ei:
        _req(app, f"/api/datasets/{name}")
    assert ei.value.code == 404


def test_validation_422_shapes(app):
    with pytest.raises(urllib.error.HTTPError) as ei:
        _req(app, "/api/ingest", "POST", {"source": "yahoo"})  # data_type missing
    assert ei.value.code == 422
    detail = json.loads(ei.value.read())["detail"]
    assert detail[0]["loc"] == ["body", "data_type"] and detail[0]["type"] == "value_error.missing"

    with pytest.raises(urllib.error.HTTPError) as ei:
        _req(app, "/api/query", "POST", {"dataset": "bronze/x", "query_type": 7})
    assert ei.value.code == 422

    with pytest.raises(urllib.error.HTTPError) as ei:
        _req(app, "/api/unknown")
    assert ei.value.code == 404


def test_path_traversal_rejected(app, tmp_path):
    """Dataset names like '..' must never reach the filesystem: DELETE
    /api/datasets/.. would rmtree the lake root (drive-by via the allow-all
    CORS).  The lake validates every name; the route maps it to 422."""
    lake_root = tmp_path / "lake"
    for bad in ["..", ".", "%2e%2e", "a%2Fb"]:  # urllib keeps %2e/%2F encoded; server decodes
        r = urllib.request.Request(f"{app}/api/datasets/{bad}", method="DELETE")
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(r)
        assert ei.value.code in (404, 422), bad
    # the lake tree survived (bronze/silver/gold still present)
    assert sorted(p.name for p in lake_root.iterdir()) == ["bronze", "gold", "silver"]
    # GET variants equally rejected
    with pytest.raises(urllib.error.HTTPError) as ei:
        _req(app, "/api/data/bronze/..")
    assert ei.value.code == 422


def test_lake_name_validation_unit(spark, tmp_path):
    from real_time_financial_data_pipeline_spark.lake import DataLake, validate_dataset_name

    lake = DataLake(spark, str(tmp_path / "lake"))
    for bad in ["..", ".", "", "a/b", "../b", "a\\b", "...", ".hidden"]:
        with pytest.raises(ValueError):
            lake.delete(bad, "bronze")
    for ok in ["yahoo_stock_20240102", "alpha-v2.1_fx_20240102"]:
        assert validate_dataset_name(ok) == ok
        assert lake.delete(ok, "bronze") is False  # valid name, absent dataset


def test_query_param_422(app):
    # bad ?limit= must 422 with a FastAPI-shaped detail, not drop the socket
    with pytest.raises(urllib.error.HTTPError) as ei:
        _req(app, "/api/data/bronze/whatever?limit=abc")
    assert ei.value.code == 422
    detail = json.loads(ei.value.read())["detail"]
    assert detail[0]["loc"] == ["query", "limit"]

    # /api/query with a missing required param -> 422 naming the param,
    # even when the dataset doesn't exist (validation precedes the read)
    with pytest.raises(urllib.error.HTTPError) as ei:
        _req(
            app, "/api/query", "POST",
            {"dataset": "bronze/nope", "query_type": "timeseries", "params": {"key_col": "s"}},
        )
    assert ei.value.code == 422
    detail = json.loads(ei.value.read())["detail"]
    assert ["body", "params", "key"] in [d["loc"] for d in detail]


def test_envelope_parsing_unit():
    req = parse_envelope(QueryRequest, {"dataset": "bronze/x", "query_type": "timeseries", "extra": 1})
    assert req.params == {} and req.dataset == "bronze/x"  # unknown field ignored, default applied
    with pytest.raises(EnvelopeError) as ei:
        parse_envelope(DataIngestionRequest, {"source": "s", "data_type": "stock", "symbols": "AAPL"})
    assert ei.value.detail[0]["loc"] == ["body", "symbols"]  # str where list[str] expected
    # Optional fields accept None and absence
    ok = parse_envelope(
        DataIngestionRequest,
        {"source": "s", "data_type": "stock", "start_date": None},
    )
    assert ok.start_date is None and ok.symbols == []


def test_unrouted_body_is_consumed_on_keep_alive(app):
    """A 404 must read its request body: on a keep-alive connection an
    unread body would be parsed as a further request."""
    import socket
    from urllib.parse import urlparse

    u = urlparse(app)
    smuggled = b"GET /api/nope HTTP/1.1\r\nHost: x\r\n\r\n"
    with socket.create_connection((u.hostname, u.port), timeout=30) as s:
        s.sendall(
            b"POST /api/nope HTTP/1.1\r\nHost: x\r\n"
            + f"Content-Length: {len(smuggled)}\r\n\r\n".encode()
            + smuggled
            + b"GET /api/nope HTTP/1.1\r\nHost: x\r\nConnection: close\r\n\r\n"
        )
        data = b""
        while chunk := s.recv(65536):
            data += chunk
    # responses follow each other without a separator; bodies are JSON
    assert data.count(b"HTTP/1.1 404 ") == 2
