"""Batch medallion cycle: messy CSV -> bronze -> silver -> gold -> indicators.

One cycle drives the engine's public calls in the order a user of the REST
surface would: ``csv_source.load_stock_csv``, ``api.ingest`` (bronze),
``api.transform`` clean and normalize (silver), aggregate to daily and
monthly bars per symbol (gold), then ``finance.window_indicators`` and
``recursive_indicators`` on the daily bars, saved to gold.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from perfbench import gen
from real_time_financial_data_pipeline_spark import api
from real_time_financial_data_pipeline_spark.lake import LAYERS, DataLake
from real_time_financial_data_pipeline_spark.operators.finance import (
    recursive_indicators,
    window_indicators,
)
from real_time_financial_data_pipeline_spark.sources.csv_source import load_stock_csv

SILVER = "csv_stock_cleaned"
NORMALIZED = "csv_stock_normalized"
GOLD = {"D": "csv_stock_daily", "M": "csv_stock_monthly"}
INDICATORS = "csv_stock_indicators"
CHECKED_SYMBOLS = 3


class EtlCycle:
    """The generated CSV of one run and the cycle that loads it."""

    def __init__(self, spark, tracer, workdir: str, seed: int, n_symbols: int, n_days: int, per_day: int) -> None:
        self.spark = spark
        self.tracer = tracer
        text, self.raw = gen.stock_csv(seed, n_symbols, n_days, per_day)
        os.makedirs(workdir, exist_ok=True)
        self.csv_path = os.path.join(workdir, "quotes.csv")
        with open(self.csv_path, "w") as f:
            f.write(text)
        self.input_bytes = os.path.getsize(self.csv_path)

    def run(self, root: str, op: str) -> DataLake:
        """One full cycle into a fresh lake at ``root``."""
        t = self.tracer
        lake = DataLake(self.spark, root)
        with t.span("etl.cycle", op=op):
            with t.span("sources.csv_source.load", jobs=True):
                df = load_stock_csv(self.spark, self.csv_path)
            with t.span("api.ingest", jobs=True):
                name = api.ingest(lake, df, "csv", "stock")["dataset"]
            with t.span("pipeline.clean", jobs=True):
                api.transform(lake, f"bronze/{name}", f"silver/{SILVER}", "clean")
            with t.span("pipeline.normalize", jobs=True):
                api.transform(lake, f"silver/{SILVER}", f"silver/{NORMALIZED}", "normalize", {"data_type": "stock"})
            for freq, dest in GOLD.items():
                with t.span("pipeline.aggregate", jobs=True, freq=freq):
                    api.transform(
                        lake, f"silver/{NORMALIZED}", f"gold/{dest}", "aggregate",
                        {"time_period": freq, "group_cols": ["symbol"]},
                    )
            with t.span("operators.finance.indicators", jobs=True):
                bars = lake.read(GOLD["D"], "gold")
                ind = recursive_indicators(
                    window_indicators(bars, ["symbol"], day_col="period"), ["symbol"], day_col="period"
                )
                lake.save(ind, INDICATORS, "gold", mode="overwrite")
        return lake

    def check(self, lake: DataLake) -> list[str]:
        """Compare one cycle's lake with the generator's own computation."""
        errors: list[str] = []
        silver_exp = gen.expected_silver(self.raw)
        silver = _frame(lake, SILVER, "silver", gen.STOCK_COLUMNS)
        if len(silver) != len(silver_exp):
            errors.append(f"silver rows {len(silver)} != expected {len(silver_exp)}")
        elif not _same_rows(silver, silver_exp, ["symbol", "timestamp"]):
            errors.append("silver rows differ from dropna + drop_duplicates of the input")
        n_norm = lake.read(NORMALIZED, "silver").count()
        if n_norm != len(silver_exp):
            errors.append(f"normalized rows {n_norm} != {len(silver_exp)}")

        vol = int(silver_exp["volume"].sum())
        cols = ["symbol", "period", "open", "high", "low", "close", "volume"]
        for freq, name in GOLD.items():
            got = _frame(lake, name, "gold", cols)
            exp = gen.expected_ohlcv(silver_exp, freq)
            if not _same_rows(got, exp, ["symbol", "period"]):
                errors.append(f"gold {freq} bars differ from the pandas groupby")
            if int(got["volume"].sum()) != vol:
                errors.append(f"gold {freq} sum(volume) {int(got['volume'].sum())} != silver {vol}")
            bad = ~((got["low"] <= got[["open", "close"]].min(axis=1)) & (got[["open", "close"]].max(axis=1) <= got["high"]))
            if bad.any():
                errors.append(f"gold {freq}: {int(bad.sum())} bars break low <= open, close <= high")

        daily = gen.expected_ohlcv(silver_exp, "D")
        syms = sorted(daily["symbol"].unique())[:CHECKED_SYMBOLS]
        ind = (
            lake.read(INDICATORS, "gold")
            .filter(f"symbol IN ({', '.join(repr(s) for s in syms)})")
            .select("symbol", "period", "sma", "ema_fast", "ema_slow", "rsi")
            .toPandas()
        )
        for sym in syms:
            got = ind[ind["symbol"] == sym].sort_values("period")
            exp = gen.expected_indicators(daily[daily["symbol"] == sym]["close"].to_numpy())
            for col, want in exp.items():
                have = got[col].to_numpy(dtype=np.float64)
                if len(have) != len(want) or not np.allclose(have, want, rtol=1e-9, atol=1e-9, equal_nan=True):
                    errors.append(f"indicator {col} of {sym} differs from the numpy recomputation")
        return errors


def _frame(lake: DataLake, name: str, layer: str, cols: list[str]) -> pd.DataFrame:
    return lake.read(name, layer).select(*cols).toPandas()


def _same_rows(got: pd.DataFrame, exp: pd.DataFrame, keys: list[str]) -> bool:
    a = got.sort_values(keys).reset_index(drop=True)
    b = exp[list(got.columns)].sort_values(keys).reset_index(drop=True)
    if len(a) != len(b):
        return False
    for c in a.columns:
        x, y = a[c], b[c]
        if x.dtype.kind in "fi" or y.dtype.kind in "fi":
            if not np.array_equal(x.to_numpy(dtype=np.float64), y.to_numpy(dtype=np.float64)):
                return False
        elif not (x.astype(str).to_numpy() == y.astype(str).to_numpy()).all():
            return False
    return True


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes of every file under ``path``, number of parquet data files)."""
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs]
    return sum(map(os.path.getsize, files)), sum(f.endswith(".parquet") for f in files)


def lake_bytes(root: str) -> dict[str, tuple[int, int]]:
    """Per layer of the lake at ``root``: :func:`dir_stats`."""
    return {layer: dir_stats(os.path.join(root, layer)) for layer in LAYERS}
