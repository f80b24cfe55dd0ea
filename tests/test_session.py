"""The session factory's width rule: master and shuffle width both follow
the host's cores (``SPARK_GRAFT_CPUS`` when set, else the affinity mask)."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)

_PROBE = """
import os
from real_time_financial_data_pipeline_spark.session import get_spark
for cpus in (None, "3"):
    if cpus is not None:
        os.environ["SPARK_GRAFT_CPUS"] = cpus
    spark = get_spark("width-probe")
    print(spark.sparkContext.master, spark.conf.get("spark.sql.shuffle.partitions"))
    spark.stop()
"""


def test_width_follows_the_core_count():
    """A fresh process, since the suite's own session is already built."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    env.update(SPARK_DRIVER_MEMORY="1g", PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", _PROBE], env=env, cwd=REPO,
        capture_output=True, text=True, timeout=600, check=True,
    ).stdout.split()
    cores = len(os.sched_getaffinity(0))
    assert out[-4:] == [f"local[{cores}]", str(cores), "local[3]", "3"]
