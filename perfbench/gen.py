"""Seeded input generators and the benchmark's own expected outputs.

Every input the benchmark feeds the engine is made here from a seed, and
every expected output is computed here with pandas or numpy from the same
generated truth, never from the engine and never from stored files.

Prices are whole cents divided by 100, so the decimal text written to a
CSV or JSON payload parses back to the very double the generator holds.
"""

from __future__ import annotations

import datetime as dt
import math
import os

import numpy as np
import pandas as pd

STOCK_COLUMNS = ["symbol", "timestamp", "open", "high", "low", "close", "volume"]
NUMERIC_COLUMNS = ["open", "high", "low", "close", "volume"]

# One header spelling per canonical column is drawn per seed; each is a
# synonym the CSV loader must detect (sources/csv_source.py).
HEADER_SYNONYMS = {
    "timestamp": ["Date", "Datetime", "TIMESTAMP"],
    "symbol": ["Ticker", "Stock", "Symbol"],
    "open": ["Opening", "Open_Price", "OPEN"],
    "high": ["Highest", "High_Price", "High"],
    "low": ["Lowest", "Low_Price", "low"],
    "close": ["Close_Price", "Adj_Close", "Closing"],
    "volume": ["Vol", "Quantity", "Volume"],
}
BAD_NUMBERS = ["n/a", "#VALUE!", "--", "1.2.3"]

STOCK_DAY0 = dt.date(2024, 1, 2)
YAHOO_T0 = int(dt.datetime(2024, 6, 3, tzinfo=dt.timezone.utc).timestamp())
TICK_T0 = pd.Timestamp("2024-03-04 14:30:00", tz="UTC")


def _symbols(prefix: str, n: int) -> list[str]:
    return [f"{prefix}{i:02d}" for i in range(n)]


def _walk_bars(rng: np.random.Generator, n_series: int, n_steps: int) -> dict[str, np.ndarray]:
    """Random-walk OHLCV bars in whole cents, shape (n_series, n_steps):
    open is the previous close, and low <= open, close <= high holds."""
    start = rng.integers(2_000, 20_000, size=(n_series, 1))
    steps = rng.normal(0.0, 0.002, size=(n_series, n_steps))
    close = np.maximum(np.round(start * np.exp(np.cumsum(steps, axis=1))), 100).astype(np.int64)
    open_ = np.concatenate([start, close[:, :-1]], axis=1).astype(np.int64)
    spread = np.abs(rng.normal(0.0, 0.001, size=(2, n_series, n_steps)))
    high = np.ceil(np.maximum(open_, close) * (1.0 + spread[0])).astype(np.int64)
    low = np.floor(np.minimum(open_, close) * (1.0 - spread[1])).astype(np.int64)
    volume = rng.integers(100, 10_000, size=(n_series, n_steps))
    return {"open": open_, "high": high, "low": low, "close": close, "volume": volume}


def _cents(a: np.ndarray) -> np.ndarray:
    return a.astype(np.float64) / 100.0


# ---------------------------------------------------------------------------
# lake_etl: a messy stock CSV
# ---------------------------------------------------------------------------


def stock_csv(
    seed: int,
    n_symbols: int,
    n_days: int,
    per_day: int,
    p_null: float = 0.01,
    p_bad: float = 0.01,
    p_dup: float = 0.02,
) -> tuple[str, pd.DataFrame]:
    """Return ``(csv_text, raw)``: minute bars for ``n_symbols`` over
    ``n_days`` weekdays, ``per_day`` bars a day, with synonym headers, blank
    cells, unparseable numbers and exact duplicate rows.  ``raw`` holds the
    cells as strings in canonical column names, in file order."""
    rng = np.random.default_rng([seed, 1])
    days = pd.bdate_range(STOCK_DAY0, periods=n_days)
    minutes = pd.to_timedelta(9 * 60 + 30 + np.arange(per_day), unit="min")
    times = (days.values[:, None] + minutes.values[None, :]).ravel()
    syms = _symbols("SYM", n_symbols)
    bars = _walk_bars(rng, n_symbols, len(times))

    n = n_symbols * len(times)
    cells = {
        # time-major order, symbols interleaved, as an export would be
        "timestamp": np.repeat(pd.DatetimeIndex(times).strftime("%Y-%m-%d %H:%M:%S").to_numpy(), n_symbols),
        "symbol": np.tile(np.array(syms, dtype=object), len(times)),
    }
    for c in ("open", "high", "low", "close"):
        cells[c] = np.char.mod("%.2f", _cents(bars[c].T.ravel())).astype(object)
    cells["volume"] = bars["volume"].T.ravel().astype(str).astype(object)
    raw = pd.DataFrame(cells, columns=STOCK_COLUMNS)

    null_rows = np.flatnonzero(rng.random(n) < p_null)
    null_cols = rng.integers(0, len(STOCK_COLUMNS), size=len(null_rows))
    for r, c in zip(null_rows, null_cols):
        raw.iat[r, c] = ""
    bad_rows = np.flatnonzero(rng.random(n) < p_bad)
    bad_cols = rng.integers(2, len(STOCK_COLUMNS), size=len(bad_rows))
    bad_vals = rng.integers(0, len(BAD_NUMBERS), size=len(bad_rows))
    for r, c, v in zip(bad_rows, bad_cols, bad_vals):
        raw.iat[r, c] = BAD_NUMBERS[v]

    dup_src = np.flatnonzero(rng.random(n) < p_dup)
    # a duplicate lands a few rows after its original
    dup_pos = dup_src + rng.integers(1, 50, size=len(dup_src)) + 0.5
    order = np.argsort(np.concatenate([np.arange(n, dtype=float), dup_pos]), kind="stable")
    raw = pd.concat([raw, raw.iloc[dup_src]], ignore_index=True).iloc[order].reset_index(drop=True)

    headers = [HEADER_SYNONYMS[c][rng.integers(len(HEADER_SYNONYMS[c]))] for c in STOCK_COLUMNS]
    lines = [",".join(headers)]
    lines.extend(",".join(row) for row in raw.itertuples(index=False, name=None))
    return "\n".join(lines) + "\n", raw


def parse_stock_cells(raw: pd.DataFrame) -> pd.DataFrame:
    """The cells as a loader must read them: blanks and unparseable numbers
    become missing (``errors='coerce'``)."""
    out = pd.DataFrame({"symbol": raw["symbol"].replace("", np.nan)})
    out["timestamp"] = pd.to_datetime(raw["timestamp"], format="%Y-%m-%d %H:%M:%S", errors="coerce")
    for c in ("open", "high", "low", "close"):
        out[c] = pd.to_numeric(raw[c], errors="coerce")
    out["volume"] = pd.to_numeric(raw["volume"], errors="coerce").astype("Int64")
    return out[STOCK_COLUMNS]


def expected_silver(raw: pd.DataFrame) -> pd.DataFrame:
    """Reference clean: ``dropna`` then ``drop_duplicates``."""
    return parse_stock_cells(raw).dropna().drop_duplicates().reset_index(drop=True)


def expected_ohlcv(silver: pd.DataFrame, freq: str) -> pd.DataFrame:
    """Per-symbol calendar bars: open at the first timestamp, close at the
    last, high max, low min, volume sum; ``period`` is the period start
    (``freq`` 'D' or 'M')."""
    df = silver.sort_values(["symbol", "timestamp"])
    period = df["timestamp"].dt.to_period(freq).dt.start_time
    g = df.assign(period=period).groupby(["symbol", "period"], sort=True)
    out = g.agg(
        open=("open", "first"),
        high=("high", "max"),
        low=("low", "min"),
        close=("close", "last"),
        volume=("volume", "sum"),
    )
    out["volume"] = out["volume"].astype(np.int64)
    return out.reset_index()


def expected_indicators(close: np.ndarray, band: int = 20, fast: int = 12, slow: int = 26, rsi_n: int = 14) -> dict[str, np.ndarray]:
    """SMA(``band``), EMA(``fast``), EMA(``slow``) and Wilder RSI(``rsi_n``)
    of one series, written out as plain loops: EMAs seed at the first
    close, RSI is seeded by the first gain and loss and is NaN while the
    series has not moved."""
    n = len(close)
    sma = np.array([close[max(0, i - band + 1): i + 1].mean() for i in range(n)])
    ema = {}
    for span in (fast, slow):
        a = 2.0 / (span + 1.0)
        e = np.empty(n)
        e[0] = close[0]
        for i in range(1, n):
            e[i] = a * close[i] + (1.0 - a) * e[i - 1]
        ema[span] = e
    rsi = np.full(n, np.nan)
    ag = al = None
    for i in range(1, n):
        gain = max(close[i] - close[i - 1], 0.0)
        loss = max(close[i - 1] - close[i], 0.0)
        if ag is None:
            ag, al = gain, loss
        else:
            ag = (ag * (rsi_n - 1) + gain) / rsi_n
            al = (al * (rsi_n - 1) + loss) / rsi_n
        if ag + al > 0.0:
            rsi[i] = 100.0 * ag / (ag + al)
    return {"sma": sma, "ema_fast": ema[fast], "ema_slow": ema[slow], "rsi": rsi}


# ---------------------------------------------------------------------------
# api_serve: Yahoo chart payloads for POST /api/ingest
# ---------------------------------------------------------------------------

YAHOO_SYMBOLS = _symbols("YH", 4)


def yahoo_payload(seed: int, k: int, n_points: int = 60) -> tuple[str, dict]:
    """Payload ``k`` of a seeded Yahoo v8 chart stream: ``n_points`` minute
    bars of one symbol, a few with a null quote field (the parser drops
    those rows).  Payload time ranges never overlap."""
    rng = np.random.default_rng([seed, 2, k])
    symbol = YAHOO_SYMBOLS[k % len(YAHOO_SYMBOLS)]
    bars = _walk_bars(rng, 1, n_points)
    quote: dict[str, list] = {c: _cents(bars[c][0]).tolist() for c in ("open", "high", "low", "close")}
    quote["volume"] = bars["volume"][0].tolist()
    for i in rng.choice(n_points, size=3, replace=False):
        quote[("open", "high", "low", "close", "volume")[rng.integers(5)]][i] = None
    ts = (YAHOO_T0 + k * n_points * 60 + 60 * np.arange(n_points)).tolist()
    payload = {"chart": {"result": [{"timestamp": ts, "indicators": {"quote": [quote]}}]}}
    return symbol, payload


def yahoo_rows(symbol: str, payload: dict) -> pd.DataFrame:
    """Rows the parser keeps from one payload, keyed by (symbol, timestamp)."""
    res = payload["chart"]["result"][0]
    df = pd.DataFrame(res["indicators"]["quote"][0])
    df.insert(0, "timestamp", pd.to_datetime(res["timestamp"], unit="s"))
    df.insert(0, "symbol", symbol)
    return df.dropna().astype({"volume": np.int64})


# ---------------------------------------------------------------------------
# stream_ingest: tick files with re-deliveries
# ---------------------------------------------------------------------------


def tick_files(seed: int, tag: str, n_files: int, n_symbols: int, per_symbol: int, p_redeliver: float = 0.05) -> list[pd.DataFrame]:
    """File ``k`` holds ``per_symbol`` ticks per symbol inside event minute
    ``k``, stamped ``source='<tag>-<k>'``, plus exact re-deliveries of a
    ``p_redeliver`` share of file ``k-1``'s own rows.  Timestamps are
    distinct per symbol."""
    rng = np.random.default_rng([seed, 3, sum(map(ord, tag))])
    syms = _symbols("TK", n_symbols)
    bars = _walk_bars(rng, n_symbols, n_files * per_symbol)
    files: list[pd.DataFrame] = []
    prev_own: pd.DataFrame | None = None
    step = 60_000 // per_symbol
    for k in range(n_files):
        # one tick in each of per_symbol equal slices of the minute: distinct
        offs = np.arange(per_symbol)[None, :] * step + rng.integers(0, step, size=(n_symbols, per_symbol))
        ts = TICK_T0 + pd.Timedelta(minutes=k) + pd.to_timedelta(offs.ravel(), unit="ms")
        sl = slice(k * per_symbol, (k + 1) * per_symbol)
        own = pd.DataFrame({
            "symbol": np.repeat(syms, per_symbol),
            "timestamp": ts,
            **{c: _cents(bars[c][:, sl].ravel()) for c in ("open", "high", "low", "close")},
            "volume": bars["volume"][:, sl].ravel().astype(np.int64),
            "source": f"{tag}-{k}",
        })
        parts = [own]
        if prev_own is not None:
            parts.append(prev_own[rng.random(len(prev_own)) < p_redeliver])
        files.append(pd.concat(parts, ignore_index=True))
        prev_own = own
    return files


def own_rows(files: list[pd.DataFrame], tag: str) -> pd.DataFrame:
    """Every generated tick once: each file's rows minus its re-deliveries."""
    return pd.concat(
        [f[f["source"] == f"{tag}-{k}"] for k, f in enumerate(files)], ignore_index=True
    )


def write_tick_file(df: pd.DataFrame, path: str) -> int:
    """Write one tick file as parquet (microsecond UTC timestamps); returns
    its size in bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path, coerce_timestamps="us")
    return os.path.getsize(path)


def expected_tumbling(ticks: pd.DataFrame, minutes: int) -> pd.DataFrame:
    """OHLC of ``close`` per (symbol, ``minutes``-minute window) over the
    rows as delivered: open/close at the first/last timestamp, high max,
    low min, event count and sum."""
    df = ticks.sort_values(["symbol", "timestamp"])
    period = df["timestamp"].dt.tz_convert(None).dt.floor(f"{minutes}min")
    g = df.assign(period=period).groupby(["symbol", "period"], sort=True)["close"]
    out = pd.DataFrame({
        "open": g.first(),
        "high": g.max(),
        "low": g.min(),
        "close": g.last(),
        "n_events": g.size().astype(np.int64),
        "sum_value": g.sum().round(6),
    })
    return out.reset_index()


def closes_equal(a: float, b: float, rel: float = 1e-9) -> bool:
    """Float comparison for values two engines sum in different orders."""
    if a is None or b is None or (isinstance(a, float) and math.isnan(a)) or (isinstance(b, float) and math.isnan(b)):
        return (a is None or math.isnan(a)) and (b is None or math.isnan(b))
    return abs(a - b) <= rel * max(1.0, abs(a), abs(b))
