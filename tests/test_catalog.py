"""``catalog.load_table`` keeps the schema Spark inferred for a file and
skips the schema-inference job on later reads of it, but still returns a
fresh relation on every call."""

from __future__ import annotations

import itertools

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mk_kafka_connect_spark.catalog import load_table

_groups = itertools.count()


def _jobs_of(spark, fn):
    """Run ``fn()`` under a fresh job group; return its result and the
    number of Spark jobs it started."""
    sc = spark.sparkContext
    group = f"test_catalog_{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # The status tracker is fed by the asynchronous listener bus.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture()
def table_dir(tmp_path):
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), tmp_path / "t.parquet")
    return str(tmp_path)


def test_second_load_runs_no_job(spark, table_dir):
    first, n_first = _jobs_of(spark, lambda: load_table(spark, table_dir, "t"))
    second, n_second = _jobs_of(spark, lambda: load_table(spark, table_dir, "t"))
    assert n_first >= 1, "the first load should infer the schema with a job"
    assert n_second == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_second_events_load_runs_no_job(spark, sf_dir):
    first = load_table(spark, sf_dir, "events")
    second, n_second = _jobs_of(spark, lambda: load_table(spark, sf_dir, "events"))
    assert n_second == 0
    assert second.schema == first.schema


def test_rewritten_file_is_inferred_again(spark, table_dir):
    assert load_table(spark, table_dir, "t").columns == ["a", "b"]
    pq.write_table(pa.table({"a": [1], "c": [2.5]}), f"{table_dir}/t.parquet")
    df, n_jobs = _jobs_of(spark, lambda: load_table(spark, table_dir, "t"))
    assert n_jobs >= 1
    assert df.columns == ["a", "c"]
    assert df.collect()[0].c == 2.5


def test_new_part_file_in_dataset_dir_is_inferred_again(spark, tmp_path):
    ds = tmp_path / "t.parquet"
    ds.mkdir()
    pq.write_table(pa.table({"a": [1]}), ds / "part-0.parquet")
    load_table(spark, str(tmp_path), "t")
    _, n_jobs = _jobs_of(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert n_jobs == 0
    pq.write_table(pa.table({"a": [2]}), ds / "part-1.parquet")
    df, n_jobs = _jobs_of(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert n_jobs >= 1
    assert sorted(r.a for r in df.collect()) == [1, 2]


def test_new_session_infers_again(spark, table_dir):
    load_table(spark, table_dir, "t")
    other = spark.newSession()
    df, n_jobs = _jobs_of(other, lambda: load_table(other, table_dir, "t"))
    assert n_jobs >= 1
    assert df.schema == load_table(spark, table_dir, "t").schema


def test_two_loads_are_distinct_relations(spark, sf_dir):
    a = load_table(spark, sf_dir, "orders")
    b = load_table(spark, sf_dir, "orders")
    assert a.join(b, a["o_orderkey"] == b["o_orderkey"]).count() == a.count()
    # Spark rewrites a trivially true a.k = a.k equi-join by name, so only
    # a join on derived frames tells two relations from one.
    a100 = a.filter(a["o_orderkey"] <= 100)
    b100 = b.filter(b["o_orderkey"] <= 100)
    n = a100.count()
    assert n > 1
    pairs = a100.join(b100, a100["o_orderkey"] < b100["o_orderkey"])
    assert pairs.count() == n * (n - 1) // 2
