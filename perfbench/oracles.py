"""DuckDB oracle results for the batch workloads' keys.

The tables never change within a data directory, so each oracle runs
once, when the data is generated, and its result is kept as a pickle
next to the tables (this program's own output, read back only by it).
"""

from __future__ import annotations

import os
import pickle


def _path(data_dir: str, key: str) -> str:
    return os.path.join(data_dir, "oracles", f"{key}.pkl")


def compute(data_dir: str) -> None:
    import duckdb

    from kafka_flink_exactlyonce_example_spark import registry
    from kafka_flink_exactlyonce_example_spark.sources import TABLES
    from perfbench.batch import LLM_KEYS

    if not registry.QUERIES:
        registry.load_all()
    os.makedirs(os.path.join(data_dir, "oracles"), exist_ok=True)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        for key in LLM_KEYS:
            if key in registry.ORACLES:
                df = con.execute(registry.ORACLES[key]).df()
                with open(_path(data_dir, key), "wb") as f:
                    pickle.dump(df, f)
    finally:
        con.close()


def load(data_dir: str, key: str):
    """The oracle frame of an oracled ``key``."""
    with open(_path(data_dir, key), "rb") as f:
        return pickle.load(f)
