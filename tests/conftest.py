from __future__ import annotations

import os
import sys
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SMOKE_SF = "/root/testdata/sf0.001"
ORACLE_SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from kafka_flink_exactlyonce_example_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def registry_loaded():
    from kafka_flink_exactlyonce_example_spark import registry

    registry.load_all()
    return registry


def make_duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    from kafka_flink_exactlyonce_example_spark.sources import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


@pytest.fixture(scope="session")
def duck_smoke():
    con = make_duck(SMOKE_SF)
    yield con
    con.close()
