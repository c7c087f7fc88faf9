"""Query workloads: fixed query lists run closed-loop from one client.

Each timed operation is ``QUERIES[name].fn(spark, data_dir)`` followed by
the action users pay for, a ``noop``-format write that evaluates every
output column. Untimed warm-up passes come first; after the timed passes
every result is checked once against its query's DuckDB oracle. Every listed
query has an oracle (``tests/test_workloads.py`` checks this), and
``tests/test_noop_action.py`` runs ``noop_self_test`` on ``materialize``.

Both lists were picked from the full bench tier (``bench.py``) by timing
every tier query at sf0.1 on a 4-core host (fn() plus noop write, second
run). They stay fixed so later changes are compared on the same work.
"""

from __future__ import annotations

import random
import time
from concurrent.futures import ThreadPoolExecutor

__all__ = ["SHORT", "HEAVY", "materialize", "noop_self_test", "check_query", "run_queries"]

# 12 of the ~50 tier queries that took under 0.45 s, one per family,
# whose oracle check also stays under 0.6 s. Fixed per-query
# overhead (catalog, plan building, Catalyst, scheduling) dominates them.
SHORT: tuple[str, ...] = (
    "q6_forecast_revenue",
    "dedup_latest_wins",
    "cdc_scd2_integrity",
    "transform_smt_chain",
    "rest_retry_backoff_e2e",
    "scalar_variant_funcs",
    "sql_filter_window_clause",
    "docs_chunk_overlap",
    "docs_weighted_sample",
    "udf_arrow_batches",
    "dq_k_anonymity",
    "join_null_safe",
)

# Two of the slowest tier queries (4.5 and 5.9 s): a build-bound one,
# whose time goes to eager checkpoint jobs inside ``fn()``, and an
# action-bound one, whose time goes to executor and shuffle work.
HEAVY: tuple[str, ...] = (
    "docs_char_bigram_rarity",
    "dq_fd_discovery",
)


WARMUP_PASSES = 2


def materialize(df) -> None:
    """The timed action: a write that evaluates every output column.
    ``count()`` would let Catalyst prune projected columns."""
    df.write.format("noop").mode("overwrite").save()


def noop_self_test(spark, action=materialize) -> str | None:
    """Run ``action`` on a frame whose second column is a Python UDF that
    bumps an accumulator; return an error when the action did not
    evaluate that column for every row."""
    from pyspark.sql import functions as F

    rows = 64
    acc = spark.sparkContext.accumulator(0)

    def bump(x):
        acc.add(1)
        return x

    udf = F.udf(bump, "long")
    df = spark.range(rows).select(F.col("id"), udf(F.col("id")).alias("u"))
    action(df)
    if acc.value != rows:
        return f"timed action evaluated the UDF column {acc.value} times for {rows} rows"
    return None


class _Answered:
    """Stands in for a DuckDB connection whose answer is computed in a
    thread, so the oracles run while Spark computes its side."""

    def __init__(self, future):
        self._future = future

    def execute(self, _sql):
        return self

    def df(self):
        return self._future.result()


def check_query(spark, oracle, name: str, data_dir: str) -> str | None:
    """Compare one query's result with its oracle's; ``None`` when equal."""
    from mk_kafka_connect_spark.plans import QUERIES
    from tests.conftest import assert_matches_oracle

    spec = QUERIES[name]
    try:
        assert_matches_oracle(spec.fn(spark, data_dir), _Answered(oracle), spec.oracle, name)
    except AssertionError as e:
        return str(e)[:300]
    return None


def run_queries(bench, names: tuple[str, ...]) -> dict:
    """Run untimed warm-up passes over ``names``, then timed passes in a
    seeded order until ``bench.seconds`` have been measured, then check
    every query against its oracle. Returns raw samples for ``run.py``."""
    from mk_kafka_connect_spark.plans import QUERIES

    spark, tracer = bench.spark, bench.tracer
    rng = random.Random(bench.seed)
    op_failures: dict[str, str] = {}

    def one_pass(ops: list[dict]) -> float:
        order = list(names)
        rng.shuffle(order)
        t_pass = time.perf_counter()
        for name in order:
            op = bench.next_op()
            df = None
            t0 = time.perf_counter()
            try:
                bench.set_group(f"op{op}/build")
                with tracer.span("plans.build"):
                    df = QUERIES[name].fn(spark, bench.data_dir)
                if tracer.enabled:
                    bench.catalyst_phases(df)
                bench.set_group(f"op{op}/action")
                with tracer.span("operators.action"):
                    materialize(df)
                ok = True
            except Exception as e:  # noqa: BLE001  # a failing query is a result
                op_failures[name] = f"{type(e).__name__}: {e}"[:300]
                ok = False
            ops.append({"name": name, "op": op, "s": time.perf_counter() - t0, "ok": ok})
            del df
            spark.catalog.clearCache()
        return time.perf_counter() - t_pass

    # The first pass runs cold (JVM compilation, Python workers, file
    # footers) and pass times keep dropping for a while after; the
    # warm-up passes are not timed.
    warmup: list[dict] = []
    for _ in range(WARMUP_PASSES):
        one_pass(warmup)
    bench.mark("warmup")
    tracer.reset()
    ops: list[dict] = []
    passes: list[float] = []
    while sum(passes) < bench.seconds or not passes:
        passes.append(one_pass(ops))
    bench.mark("measure")
    return {
        "ops": ops,
        "warmup_ops": warmup,
        "passes": passes,
        "check_failures": check_all(bench, names),
        "op_failures": op_failures,
        "checked": len(names),
    }


def check_all(bench, names: tuple[str, ...]) -> dict[str, str]:
    """Oracle check of every query; returns failures by query name. The
    oracles run in a thread while Spark computes its side."""
    import duckdb
    from mk_kafka_connect_spark.catalog import TABLES
    from mk_kafka_connect_spark.plans import QUERIES

    bench.set_group("check")
    failures: dict[str, str] = {}
    duck = duckdb.connect()
    try:
        for t in TABLES:
            duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{bench.data_dir}/{t}.parquet')")
        # One worker: the connection is used by that thread alone, in order.
        with ThreadPoolExecutor(1) as pool:
            oracles = {n: pool.submit(lambda q: duck.execute(q).df(), QUERIES[n].oracle) for n in names}
            for name in names:
                try:
                    err = check_query(bench.spark, oracles[name], name, bench.data_dir)
                except Exception as e:  # noqa: BLE001  # a failing query is a result
                    err = f"{type(e).__name__}: {e}"[:300]
                if err:
                    failures[name] = err
                bench.spark.catalog.clearCache()
    finally:
        duck.close()
    return failures
