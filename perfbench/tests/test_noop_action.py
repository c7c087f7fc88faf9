"""The timed action must evaluate every projected column (needs Spark)."""

import pytest

from perfbench.queries import materialize, noop_self_test


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_noop_write_evaluates_projected_udf(spark):
    assert noop_self_test(spark, materialize) is None


def test_self_test_catches_a_pruning_action(spark):
    # count() lets Catalyst drop the UDF column: the self-test must notice.
    assert noop_self_test(spark, lambda df: df.count()) is not None
