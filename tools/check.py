"""Local emulation of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at a given SF dir, then compares row count, sorted column names, and
order-insensitive values (floats exactly — both sides are expected to round).

Usage: python tools/check.py [--vanilla] [sf_dir] [query ...]
       python tools/check.py [--vanilla] ladder [query ...]

``ladder`` runs the named queries (or all 50) at every SF in one Spark
session, deliberately ordered sf0.001 -> sf0.1 -> sf0.01 LAST so the
staged-oracle parquet always ends up written at the driver's
correctness SF (see the staged-queries note in
.claude/skills/verify/SKILL.md).

``--vanilla`` builds a bare ``SparkSession.builder.master('local[8]')``
with NONE of session.py's configs — exactly the session the DRIVER runs
queries under (default 200 shuffle partitions, no UTC pin, nothing).
Every registry query must pass in this mode too; catalog.load_table's
defensive runtime confs are what make that hold.
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from real_time_financial_data_pipeline_spark.catalog import TABLES
from real_time_financial_data_pipeline_spark.session import get_spark

import __spark_entry__ as entrymod


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, tuple)) else v)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def cells_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return a == b


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> bool:
    ok = True
    if sorted(sdf.columns) != sorted(odf.columns):
        print(f"  [{name}] COLUMN MISMATCH spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        return False
    if len(sdf) != len(odf):
        print(f"  [{name}] ROWCOUNT MISMATCH spark={len(sdf)} oracle={len(odf)}")
        ok = False
    s, o = canon(sdf), canon(odf)
    if ok:
        for c in s.columns:
            sv, ov = s[c].tolist(), o[c].tolist()
            bad = [(i, a, b) for i, (a, b) in enumerate(zip(sv, ov)) if not cells_equal(a, b)]
            if bad:
                i, a, b = bad[0]
                print(f"  [{name}] VALUE MISMATCH col={c} ({len(bad)} cells) first@row{i}: spark={a!r} oracle={b!r}")
                ok = False
    return ok


def run_gate(spark, sf_dir: str, only: set[str]) -> tuple[int, int]:
    con = duck_con(sf_dir)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"PASS {name} (rows-only: {len(sdf)} rows, no oracle) [{time.time()-t0:.1f}s]")
            n_pass += 1
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        if compare(name, sdf, odf):
            print(f"PASS {name} ({len(sdf)} rows) [{time.time()-t0:.1f}s]")
            n_pass += 1
        else:
            print(f"FAIL {name}")
            n_fail += 1
    return n_pass, n_fail


def main() -> None:
    args = sys.argv[1:]
    if args and args[0] == "--vanilla":
        from pyspark.sql import SparkSession

        args = args[1:]
        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        spark = get_spark("check")
    if args and args[0] == "ladder":
        only = set(args[1:])
        total_fail = 0
        # sf0.01 LAST: the staged-oracle parquet must end up at the
        # driver's correctness SF
        for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.1",
                       "/root/testdata/sf0.01"):
            print(f"=== {sf_dir} ===")
            n_pass, n_fail = run_gate(spark, sf_dir, only)
            print(f"{sf_dir}: {n_pass} passed, {n_fail} failed\n")
            total_fail += n_fail
        sys.exit(1 if total_fail else 0)
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    n_pass, n_fail = run_gate(spark, sf_dir, only)
    print(f"\n{n_pass} passed, {n_fail} failed")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
