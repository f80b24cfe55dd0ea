"""Solo-query bench probe: time ONE headline/registry query with the
bench methodology (noop sink, one unmeasured warm-up, N measured runs,
report min/median/max).  The r17 sandbox shows bursty hypervisor CPU
steal, so MIN across runs is the comparable signal (OPTIMIZATION_r17.md
"Measurement environment").

Usage: python tools/solo_bench.py <query> [runs=6] [sf_dir=/root/testdata/sf0.1]
"""

from __future__ import annotations

import statistics
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from real_time_financial_data_pipeline_spark.session import get_spark

import __spark_entry__ as entrymod


def main() -> None:
    name = sys.argv[1]
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    spark = get_spark("rtfdp-solo-bench")
    fns = {**entrymod.queries(), **entrymod.BENCH_OVERRIDES}
    fn = fns[name]
    spark.sparkContext.setJobDescription(f"solo-bench warmup: {name}")
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    samples: list[float] = []
    for i in range(runs):
        spark.sparkContext.setJobDescription(f"solo-bench run {i}: {name}")
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        samples.append(time.perf_counter() - t0)
    print(
        f"SOLO {name} runs={runs} min={min(samples):.3f} "
        f"median={statistics.median(samples):.3f} max={max(samples):.3f} "
        f"all={[round(s, 3) for s in samples]}"
    )


if __name__ == "__main__":
    main()
