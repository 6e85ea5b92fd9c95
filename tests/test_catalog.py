"""The catalog's process-wide schema memo (``sources/catalog.py``).

Each test builds through the undecorated ``catalog.table.__wrapped__``,
so the per-session DataFrame memo never answers, and counts the jobs a
build launches under its own job group: a read without a schema runs
one inference job, a read with the kept schema runs none.
"""

from __future__ import annotations

import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kafka_flink_exactlyonce_example_spark.sources import catalog

from tests.conftest import SMOKE_SF
from tools.setup_probe import timed_in_group


@pytest.fixture
def schemas(monkeypatch):
    """An empty schema memo for the test, restored afterwards."""
    kept: dict = {}
    monkeypatch.setattr(catalog, "_SCHEMAS", kept)
    return kept


def _build_counting_jobs(spark, sf_dir: str, name: str, group: str):
    """``(df, jobs)``: one undecorated ``table`` build and the number of
    jobs it launched under ``group``."""
    built = []
    _, jobs = timed_in_group(
        spark.sparkContext, group,
        lambda: built.append(catalog.table.__wrapped__(spark, sf_dir, name)),
    )
    return built[0], jobs


def _executed_plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.sub(r"plan_id=\d+", "plan_id=?", re.sub(r"#\d+", "#?", plan))


@pytest.mark.parametrize("name", catalog.TABLES)
def test_kept_schema_read_runs_no_job_and_plans_like_inference(spark, schemas, name):
    inferred, inferred_jobs = _build_counting_jobs(spark, SMOKE_SF, name, f"catalog-infer-{name}")
    assert inferred_jobs >= 1, "an inferred read runs a schema-inference job"
    assert f"{SMOKE_SF}/{name}.parquet" in schemas

    kept, kept_jobs = _build_counting_jobs(spark, SMOKE_SF, name, f"catalog-kept-{name}")
    assert kept_jobs == 0
    assert kept.schema.json() == inferred.schema.json()
    assert _executed_plan(kept) == _executed_plan(inferred)


def test_rewritten_fixture_is_reinferred(spark, schemas, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    assert catalog.table.__wrapped__(spark, str(tmp_path), "region").columns == [
        "r_regionkey", "r_name",
    ]

    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"], "r_comment": ["x", "y"]}),
        path,
    )
    df, jobs = _build_counting_jobs(spark, str(tmp_path), "region", "catalog-rewritten")
    assert jobs >= 1
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(df.collect()) == [(0, "A", "x"), (1, "B", "y")]


def test_unstattable_path_falls_back_to_inference(spark, schemas):
    sf_uri = f"file://{SMOKE_SF}"
    assert catalog._listing_stamp(f"{sf_uri}/nation.parquet") is None
    for attempt in range(2):
        df, jobs = _build_counting_jobs(spark, sf_uri, "nation", f"catalog-uri-{attempt}")
        assert jobs >= 1
        assert df.count() == 25
    assert schemas == {}
