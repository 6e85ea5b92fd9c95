"""Job attribution by id range counts at least the jobs that carry the
key's job group: ``overlap.run_overlapped`` threads start jobs without
the caller's group, and the id range still counts them."""

from __future__ import annotations

import pytest

from perfbench import datagen
from perfbench.batch import SETUP_GROUP, JobIds


@pytest.fixture(scope="module")
def spark():
    from kafka_flink_exactlyonce_example_spark.session import get_spark

    spark = get_spark(app_name="perfbench-test", master="local[2]", shuffle_partitions=2)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


def test_generation_roll_range_count_at_least_group_count(spark, tmp_path):
    from kafka_flink_exactlyonce_example_spark import registry

    sf_dir = str(tmp_path / "sf0.01")
    datagen.write(sf_dir, 0.01)
    registry.load_all()
    sc = spark.sparkContext
    sc.setJobGroup(SETUP_GROUP, "warm-up")
    registry.QUERIES["q_wordcount"](spark, sf_dir).count()
    ids = JobIds(sc)
    key = "q_generation_roll"
    sc.setJobGroup(key, key)
    registry.QUERIES[key](spark, sf_dir).write.mode("overwrite").format("noop").save()
    in_range, in_group = ids.close(key)
    assert in_group > 0
    assert len(in_range) >= in_group
    assert in_range == list(range(in_range[0], in_range[-1] + 1))
