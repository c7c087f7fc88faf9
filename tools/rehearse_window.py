"""Driver-environment rehearsal: run the 50-query certification window
exactly the way the round driver does — its own SparkSession (no
``get_spark``, no PYTHONPATH), each query compared against its DuckDB
oracle at sf0.01 with the driver's canonicalization.

Usage (from anywhere, with a clean environment):

    cd /tmp && PYTHONPATH= python <repo>/tools/rehearse_window.py [N] [name ...]

N limits the window size (default 50); names filter to specific queries.
Exit code 0 iff every compared query matches.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

os.environ.pop("PYTHONPATH", None)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


def main() -> int:
    args = sys.argv[1:]
    limit = 50
    names: list[str] = []
    for a in args:
        if a.isdigit():
            limit = int(a)
        else:
            names.append(a)

    import duckdb
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )

    import __spark_entry__ as E
    from mk_kafka_connect_spark import catalog
    from tests.conftest import assert_matches_oracle

    con = duckdb.connect()
    for t in catalog.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    queries = E.queries()
    oracles = E.oracle_sql()
    window = names if names else list(queries)[:limit]

    failed: list[str] = []
    for i, name in enumerate(window):
        t0 = time.time()
        try:
            df = queries[name](spark, SF_DIR)
            if name in oracles:
                assert_matches_oracle(df, con, oracles[name], name=name)
                status = "ok"
            else:
                n = df.count()
                status = f"rows-only ({n} rows)"
        except Exception as exc:  # noqa: BLE001 — report and continue
            failed.append(name)
            status = f"FAIL: {exc}"
            traceback.print_exc()
        print(f"[{i + 1}/{len(window)}] {name}: {status} ({time.time() - t0:.1f}s)", flush=True)

    print(f"\n{len(window) - len(failed)}/{len(window)} green; failures: {failed}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
