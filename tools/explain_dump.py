#!/usr/bin/env python
"""Dump .explain("formatted") for named registry queries to plans/<tag>/.

Usage: python tools/explain_dump.py <tag> <suffix> q1,q2,...
Writes plans/<tag>/<query>_<suffix>.txt for each query: before/after plan
evidence for an optimization (capture the plan shape before touching
code). The dumps are regenerated on demand and not committed — ``/plans/``
is in ``.gitignore``.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mk_kafka_connect_spark.plans import QUERIES  # noqa: E402
from mk_kafka_connect_spark.session import get_spark  # noqa: E402


def main() -> None:
    tag, suffix, names_csv = sys.argv[1], sys.argv[2], sys.argv[3]
    names = [n for n in names_csv.split(",") if n]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="explain-dump")
    for name in names:
        spec = QUERIES.get(name)
        if spec is None:
            print(f"{name}: not in registry", file=sys.stderr)
            continue
        try:
            df = spec.fn(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as ex:  # noqa: BLE001
            text = f"EXPLAIN FAILED: {type(ex).__name__}: {ex}\n"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        n_exchange = text.count("Exchange")
        print(f"{name}: {len(text)} bytes, Exchange x{n_exchange} -> {path}")
    spark.stop()


if __name__ == "__main__":
    main()
