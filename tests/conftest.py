from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from real_time_financial_data_pipeline_spark.session import get_spark  # noqa: E402

SF0001 = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # at most one task slot per core: on a 4-core host, 8 slots put 8
    # Python workers on 4 CPUs and the Hypothesis properties ran ~2x slower
    env = os.environ.get("SPARK_GRAFT_CPUS", "")
    cores = int(env) if env.isdigit() else (os.cpu_count() or 8)
    spark = get_spark("tests", master=f"local[{min(8, cores)}]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def events(spark):
    from real_time_financial_data_pipeline_spark.catalog import load_table

    return load_table(spark, SF0001, "events").cache()


@pytest.fixture(scope="session")
def documents(spark):
    from real_time_financial_data_pipeline_spark.catalog import load_table

    return load_table(spark, SF0001, "documents").cache()


@pytest.fixture(scope="session")
def embeddings(spark):
    from real_time_financial_data_pipeline_spark.catalog import load_table

    return load_table(spark, SF0001, "embeddings").cache()
