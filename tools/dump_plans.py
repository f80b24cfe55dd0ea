"""Dump .explain('formatted') for declared queries to plans/<tag>/<name>_<suffix>.txt.

Usage: python tools/dump_plans.py <tag> <suffix> [query ...]

With no query names, dumps the frozen headline set plus every queries()
registry entry.  Plans are built (not executed) — this captures the
AdaptiveSparkPlan initial plan, the join strategies, PushedFilters and
ReadSchema the optimizer settles on before runtime re-optimisation.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from real_time_financial_data_pipeline_spark.session import get_spark

import __spark_entry__ as entrymod


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(REPO, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("rtfdp-plan-dump")
    fns = {**entrymod.queries(), **entrymod.BENCH_OVERRIDES}
    if not names:
        names = sorted(fns)
    for name in names:
        fn = fns.get(name)
        if fn is None:
            print(f"{name}: NOT IN REGISTRY", file=sys.stderr)
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001 — record the failure in the file
            plan = f"PLAN BUILD FAILED: {exc}"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
