"""REST serving: a seeded lake behind ``http_app.serve`` and a closed loop of
keep-alive clients sending a fixed mix of reads and Yahoo ingests.

The server runs in this process (``serve`` starts it on a thread), so its
Spark session is the benchmark's and the machine is loaded from one
process.  In a traced run the handlers are wrapped here, in the benchmark,
to time them and to run each request's Spark jobs under a job group.
"""

from __future__ import annotations

import http.client
import json
import threading
import time

import numpy as np
import pandas as pd

from perfbench import gen
from real_time_financial_data_pipeline_spark import api, functions, http_app
from real_time_financial_data_pipeline_spark.lake import DataLake
from real_time_financial_data_pipeline_spark.sources.connectors import parse_yahoo_chart

SILVER = "csv_stock_cleaned"
GOLD = "csv_stock_daily"
MA_N = 5
# One round of a client: nine reads over the six read routes, one ingest.
ROUND = ["data", "info", "latest", "timeseries", "moving_average", "correlation", "data", "latest", "timeseries", "ingest"]
OP_HEADER = "X-Perfbench-Op"


class ServeLake:
    """The served lake: intraday silver rows and daily gold bars made from
    the generator's clean quotes, and a bronze Yahoo table that ingests
    append to."""

    def __init__(self, spark, root: str, seed: int, n_symbols: int, n_days: int, per_day: int, primed: int) -> None:
        self.spark = spark
        self.seed = seed
        self.lake = DataLake(spark, root)
        _, raw = gen.stock_csv(seed, n_symbols, n_days, per_day)
        self.silver = gen.expected_silver(raw)
        self.gold = gen.expected_ohlcv(self.silver, "D")
        self.symbols = sorted(self.silver["symbol"].unique())
        self.lake.save(_to_spark(spark, self.silver), SILVER, "silver", mode="overwrite")
        self.lake.save(_to_spark(spark, self.gold), GOLD, "gold", mode="overwrite")
        self._next = 0
        self._lock = threading.Lock()
        self.ingested: dict[int, int] = {}
        self.payload_bytes = 0
        self.reported = 0  # records_count answered by the primed ingests
        for _ in range(primed):
            out = api.ingest(self.lake, self.fetch(None), "yahoo", "stock")
            self.bronze = out["dataset"]
            self.reported += out["records_count"]

    def fetch(self, req) -> object:
        """The server's ``fetch_fn``: the next seeded Yahoo chart payload,
        parsed by ``connectors.parse_yahoo_chart``."""
        with self._lock:
            k = self._next
            self._next += 1
        symbol, payload = gen.yahoo_payload(self.seed, k)
        with self._lock:
            self.payload_bytes += len(json.dumps(payload))
            self.ingested[k] = len(gen.yahoo_rows(symbol, payload))
        return parse_yahoo_chart(self.spark, payload, symbol)

    def expected_yahoo(self) -> pd.DataFrame:
        frames = [gen.yahoo_rows(*gen.yahoo_payload(self.seed, k)) for k in sorted(self.ingested)]
        return pd.concat(frames, ignore_index=True)


def _to_spark(spark, pdf: pd.DataFrame):
    return spark.createDataFrame(pdf.astype({"volume": np.int64}))


def request_for(op: str, i: int, symbols: list[str]) -> tuple[str, str, dict | None]:
    """(method, path, body) of the ``i``-th request of kind ``op``."""
    sym = symbols[i % len(symbols)]
    if op == "data":
        return "GET", f"/api/data/gold/{GOLD}?limit=100", None
    if op == "info":
        return "GET", f"/api/datasets/{SILVER}?layer=silver", None
    if op == "latest":
        return "GET", "/api/data/latest/stock/yahoo?limit=100", None
    if op == "ingest":
        return "POST", "/api/ingest", {"source": "yahoo", "data_type": "stock", "symbols": [sym]}
    if op == "timeseries":
        params = {"key_col": "symbol", "key": sym, "time_col": "timestamp", "limit": 100}
        return "POST", "/api/query", {"dataset": f"silver/{SILVER}", "query_type": "timeseries", "params": params}
    if op == "moving_average":
        params = {"value_col": "close", "n": MA_N, "partition_cols": ["symbol"], "order_cols": ["period"], "limit": 100}
        return "POST", "/api/query", {"dataset": f"gold/{GOLD}", "query_type": "moving_average", "params": params}
    if op == "correlation":
        other = symbols[(i + 1) % len(symbols)]
        params = {"key_col": "symbol", "key_a": sym, "key_b": other, "time_col": "timestamp",
                  "value_col": "close", "bucket": "hour"}
        return "POST", "/api/query", {"dataset": f"silver/{SILVER}", "query_type": "correlation", "params": params}
    raise ValueError(op)


class Client:
    """A closed loop over ``ROUND`` on one keep-alive connection."""

    def __init__(self, port: int, cid: int, symbols: list[str], shared: dict) -> None:
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        self.cid = cid
        self.symbols = symbols
        self.shared = shared
        self.results: list[dict] = []

    def run(self, n: int | None, deadline: float | None) -> None:
        """Send ``n`` requests, or requests until ``deadline``, walking
        ``ROUND`` from this client's own starting point."""
        start = (self.cid * len(ROUND)) // max(1, self.shared["clients"])
        j = 0
        try:
            while (n is None or j < n) and (deadline is None or time.perf_counter() < deadline):
                self.one(ROUND[(start + j) % len(ROUND)])
                j += 1
        finally:
            self.conn.close()

    def one(self, op: str) -> None:
        with self.shared["lock"]:
            i = self.shared["seq"]
            self.shared["seq"] += 1
        method, path, body = request_for(op, i, self.symbols)
        data = json.dumps(body).encode() if body is not None else None
        headers = {OP_HEADER: str(i)}
        if data is not None:
            headers["Content-Type"] = "application/json"
        t0 = time.perf_counter()
        try:
            self.conn.request(method, path, body=data, headers=headers)
            resp = self.conn.getresponse()
            payload = resp.read()
            status = resp.status
        except (OSError, http.client.HTTPException) as e:
            status, payload = None, str(e).encode()
        t1 = time.perf_counter()
        self.results.append({"op": op, "i": i, "status": status, "body": payload, "ms": (t1 - t0) * 1000.0, "start": t0})


def run_clients(port: int, n: int, symbols: list[str], requests: int | None = None, seconds: float | None = None) -> tuple[list[dict], float]:
    """Run ``n`` clients, each for ``requests`` requests or until ``seconds``
    have passed; returns (results, elapsed seconds)."""
    shared = {"lock": threading.Lock(), "seq": 0, "clients": n}
    clients = [Client(port, c, symbols, shared) for c in range(n)]
    t0 = time.perf_counter()
    deadline = t0 + seconds if seconds is not None else None
    threads = [threading.Thread(target=c.run, args=(requests, deadline)) for c in clients]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    elapsed = time.perf_counter() - t0
    return [r for c in clients for r in c.results], elapsed


def instrument(tracer) -> list:
    """Wrap the REST handlers so each request is a span with its own Spark
    job group, and the ``api`` handlers and the JSON sink are child spans.
    Returns the undo list for :func:`restore`."""
    undo = []

    def patch(owner, attr, wrapper):
        orig = getattr(owner, attr)
        undo.append((owner, attr, orig))
        setattr(owner, attr, wrapper(orig))

    def timed(name):
        def wrap(fn):
            def inner(*a, **kw):
                with tracer.span(name):
                    return fn(*a, **kw)
            return inner
        return wrap

    def route(fn):
        def inner(self, method):
            op = self.headers.get(OP_HEADER)
            with tracer.span("http_app.route", op=op, jobs=True, path=self.path):
                return fn(self, method)
        return inner

    patch(http_app._Handler, "_route", route)
    for h in ("get_data", "dataset_info", "get_latest", "ingest"):
        patch(api, h, timed(f"api.{h}"))
    patch(api, "to_json_records", timed("functions.sinks.to_json_records"))
    patch(functions, "to_json_records", timed("functions.sinks.to_json_records"))
    return undo


def restore(undo: list) -> None:
    for owner, attr, orig in reversed(undo):
        setattr(owner, attr, orig)


# ---------------------------------------------------------------------------
# correctness of the responses, against the generator
# ---------------------------------------------------------------------------


def _iso(ts) -> str:
    return pd.Timestamp(ts).strftime("%Y-%m-%dT%H:%M:%S.%fZ")


def check(results: list[dict], sl: ServeLake, symbols: list[str]) -> list[str]:
    errors: list[str] = []
    silver, gold = sl.silver, sl.gold
    gold_by_key = {(r.symbol, _iso(r.period)): r for r in gold.itertuples()}
    ma = gold.sort_values(["symbol", "period"]).copy()
    ma["moving_avg"] = ma.groupby("symbol")["close"].transform(lambda s: s.rolling(MA_N, min_periods=1).mean())
    ma_by_key = {(r.symbol, _iso(r.period)): r.moving_avg for r in ma.itertuples()}
    yahoo = sl.expected_yahoo()
    yahoo_by_key = {(r.symbol, _iso(r.timestamp)): r for r in yahoo.itertuples()}
    info_exp = {
        "record_count": len(silver),
        "first_date": str(silver["timestamp"].min()),
        "last_date": str(silver["timestamp"].max()),
        "symbols": symbols[:50],
    }

    def bar_ok(rec, row) -> bool:
        return row is not None and all(rec[c] == getattr(row, c) for c in ("open", "high", "low", "close", "volume"))

    for r in results:
        where = f"{r['op']} #{r['i']}"
        if r["status"] != 200:
            errors.append(f"{where}: status {r['status']}: {r['body'][:200]!r}")
            continue
        body = json.loads(r["body"])
        op = r["op"]
        if op == "data":
            if len(body) != min(100, len(gold)) or not all(bar_ok(b, gold_by_key.get((b["symbol"], b["period"]))) for b in body):
                errors.append(f"{where}: gold records differ from the generator's daily bars")
        elif op == "info":
            got = {k: body.get(k) for k in info_exp}
            if got != info_exp:
                errors.append(f"{where}: dataset info {got} != {info_exp}")
        elif op == "latest":
            if not body or len(body) > 100 or not all(bar_ok(b, yahoo_by_key.get((b["symbol"], b["timestamp"]))) for b in body):
                errors.append(f"{where}: latest records are not generated Yahoo rows")
        elif op == "timeseries":
            sym = symbols[r["i"] % len(symbols)]
            exp = silver[silver["symbol"] == sym].sort_values("timestamp").head(100)
            if [b["timestamp"] for b in body] != [_iso(t) for t in exp["timestamp"]] or [b["close"] for b in body] != exp["close"].tolist():
                errors.append(f"{where}: timeseries of {sym} differs from the generator, in values or order")
        elif op == "moving_average":
            if len(body) != min(100, len(gold)) or not all(
                gen.closes_equal(b["moving_avg"], ma_by_key.get((b["symbol"], b["period"]), float("nan"))) for b in body
            ):
                errors.append(f"{where}: moving averages differ from the pandas rolling mean")
        elif op == "correlation":
            a, b = symbols[r["i"] % len(symbols)], symbols[(r["i"] + 1) % len(symbols)]
            exp = _correlation(silver, a, b)
            if len(body) != 1 or not gen.closes_equal(body[0]["correlation"], exp):
                errors.append(f"{where}: correlation {body} != pandas {exp}")
        elif op == "ingest":
            if body.get("records_count") is None or body.get("dataset") != sl.bronze:
                errors.append(f"{where}: ingest answered {body}")
    reported = sl.reported + sum(
        json.loads(r["body"])["records_count"] for r in results if r["op"] == "ingest" and r["status"] == 200
    )
    generated = sum(sl.ingested.values())
    bronze_rows = sl.lake.read(sl.bronze, "bronze").count()
    if not bronze_rows == reported == generated:
        errors.append(f"bronze rows {bronze_rows}, sum of ingested records_count {reported} and generated rows {generated} differ")
    return errors


def _correlation(silver: pd.DataFrame, a: str, b: str) -> float:
    df = silver[silver["symbol"].isin([a, b])]
    hour = df["timestamp"].dt.floor("h")
    piv = df.assign(hour=hour).groupby(["hour", "symbol"])["close"].mean().unstack()
    return float(piv[a].corr(piv[b]))
