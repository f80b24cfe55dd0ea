"""Fast tests of the benchmark's own parts (no Spark):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from perfbench import gen
from perfbench.trace import highest_tail, percentile, self_time, tail


# -- generators are deterministic per seed ----------------------------------


def test_stock_csv_is_deterministic_per_seed():
    a_text, a_raw = gen.stock_csv(7, 3, 4, 10)
    b_text, b_raw = gen.stock_csv(7, 3, 4, 10)
    c_text, _ = gen.stock_csv(8, 3, 4, 10)
    assert a_text == b_text
    pd.testing.assert_frame_equal(a_raw, b_raw)
    assert a_text != c_text


def test_yahoo_and_tick_generators_are_deterministic_per_seed():
    assert gen.yahoo_payload(3, 5) == gen.yahoo_payload(3, 5)
    assert gen.yahoo_payload(3, 5) != gen.yahoo_payload(4, 5)
    a = gen.tick_files(3, "live", 4, 2, 5)
    b = gen.tick_files(3, "live", 4, 2, 5)
    for x, y in zip(a, b):
        pd.testing.assert_frame_equal(x, y)
    assert not gen.tick_files(4, "live", 4, 2, 5)[0].equals(a[0])


def test_stock_csv_is_messy_but_consistent():
    text, raw = gen.stock_csv(1, 4, 5, 50, p_null=0.05, p_bad=0.05, p_dup=0.05)
    header = text.splitlines()[0].split(",")
    for canonical, spelled in zip(gen.STOCK_COLUMNS, header):
        assert spelled in gen.HEADER_SYNONYMS[canonical]
    assert (raw == "").any().any()
    assert raw.isin(gen.BAD_NUMBERS).any().any()
    assert raw.duplicated().any()
    clean = gen.expected_silver(raw)
    assert (clean["low"] <= clean[["open", "close"]].min(axis=1)).all()
    assert (clean[["open", "close"]].max(axis=1) <= clean["high"]).all()


def test_tick_files_redeliver_only_the_previous_file():
    files = gen.tick_files(2, "t", 5, 3, 20, p_redeliver=0.5)
    own = gen.own_rows(files, "t")
    assert not own.duplicated(["symbol", "timestamp"]).any()
    for k, f in enumerate(files[1:], start=1):
        assert set(f["source"]) <= {f"t-{k}", f"t-{k - 1}"}
        assert (f["source"] == f"t-{k - 1}").any()


# -- the expected-output code on hand-computed cases ------------------------


def _raw(rows):
    return pd.DataFrame(rows, columns=gen.STOCK_COLUMNS)


def test_expected_silver_drops_nulls_bad_numbers_and_duplicates():
    raw = _raw([
        ["A", "2024-01-02 09:30:00", "1.00", "2.00", "0.50", "1.50", "10"],
        ["A", "2024-01-02 09:30:00", "1.00", "2.00", "0.50", "1.50", "10"],  # duplicate
        ["A", "2024-01-02 09:31:00", "1.50", "n/a", "1.00", "1.20", "20"],   # bad number
        ["", "2024-01-02 09:32:00", "1.20", "1.30", "1.10", "1.25", "30"],   # blank symbol
        ["A", "2024-01-02 09:33:00", "1.25", "1.40", "1.20", "1.30", "40"],
    ])
    silver = gen.expected_silver(raw)
    assert len(silver) == 2
    assert silver["volume"].tolist() == [10, 40]


def test_expected_ohlcv_daily_and_monthly():
    silver = gen.parse_stock_cells(_raw([
        ["A", "2024-01-02 09:31:00", "2.00", "2.50", "1.90", "2.20", "5"],
        ["A", "2024-01-02 09:30:00", "1.00", "3.00", "0.50", "1.50", "10"],
        ["A", "2024-01-03 09:30:00", "4.00", "4.00", "3.00", "3.50", "7"],
        ["B", "2024-02-01 09:30:00", "9.00", "9.50", "8.00", "9.10", "1"],
    ]))
    d = gen.expected_ohlcv(silver, "D")
    a2 = d[(d["symbol"] == "A") & (d["period"] == pd.Timestamp("2024-01-02"))].iloc[0]
    assert (a2["open"], a2["high"], a2["low"], a2["close"], a2["volume"]) == (1.0, 3.0, 0.5, 2.2, 15)
    m = gen.expected_ohlcv(silver, "M")
    assert m[["symbol", "period", "open", "close", "volume"]].values.tolist() == [
        ["A", pd.Timestamp("2024-01-01"), 1.0, 3.5, 22],
        ["B", pd.Timestamp("2024-02-01"), 9.0, 9.1, 1],
    ]


def test_expected_indicators_by_hand():
    out = gen.expected_indicators(np.array([1.0, 2.0, 1.0]), band=2)
    assert out["sma"].tolist() == [1.0, 1.5, 1.5]
    a = 2.0 / 13.0
    assert out["ema_fast"][1] == pytest.approx(a * 2.0 + (1 - a) * 1.0)
    assert math.isnan(out["rsi"][0])
    assert out["rsi"][1] == 100.0
    # second step: avg_gain = (1*13 + 0)/14, avg_loss = (0*13 + 1)/14
    assert out["rsi"][2] == pytest.approx(100.0 * 13.0 / 14.0)


def test_expected_tumbling_by_hand():
    t = pd.Timestamp("2024-03-04 14:30:00", tz="UTC")
    ticks = pd.DataFrame({
        "symbol": ["X", "X", "X", "X"],
        "timestamp": [t + pd.Timedelta(minutes=m) for m in (4, 0, 2, 5)],
        "close": [3.0, 1.0, 5.0, 7.0],
    })
    bars = gen.expected_tumbling(ticks, 5)
    first = bars.iloc[0]
    assert (first["open"], first["high"], first["low"], first["close"], first["n_events"]) == (1.0, 5.0, 1.0, 3.0, 3)
    assert first["sum_value"] == 9.0
    assert bars.iloc[1]["period"] == pd.Timestamp("2024-03-04 14:35:00")


# -- percentile rule and self time ------------------------------------------


def test_percentile_interpolates_linearly():
    assert percentile([1.0, 2.0, 3.0, 4.0], 0.5) == 2.5
    assert percentile(list(range(101)), 0.9) == 90.0


def test_tail_needs_ten_samples_beyond_it():
    assert tail([float(x) for x in range(99)], 0.9) is None
    assert tail([float(x) for x in range(100)], 0.9) == pytest.approx(89.1)
    assert tail([float(x) for x in range(999)], 0.99) is None


def test_highest_tail_keeps_ten_samples_beyond_it():
    assert highest_tail([1.0] * 39) is None
    q, v = highest_tail([float(x) for x in range(50)])
    assert q == pytest.approx(0.8)
    assert v == pytest.approx(39.2)


def test_self_time_subtracts_the_union_of_children():
    parent = {"start": 0.0, "end": 10.0}
    children = [
        {"start": 1.0, "end": 3.0},
        {"start": 2.0, "end": 5.0},   # overlaps the first: counted once
        {"start": 8.0, "end": 12.0},  # runs past the parent: clipped at 10
    ]
    assert self_time(parent, children) == pytest.approx(10.0 - 4.0 - 2.0)
    assert self_time(parent, []) == 10.0
