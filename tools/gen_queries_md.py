#!/usr/bin/env python
"""Regenerate QUERIES.md from the live query registry."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mk_kafka_connect_spark.plans import QUERIES, certification_order  # noqa: E402
from mk_kafka_connect_spark.plans.registry import DRIVER_WINDOW  # noqa: E402


def main() -> None:
    lines = [
        "# QUERIES — the declared, oracle-checked query surface",
        "",
        "Auto-generated from `plans/registry.py` (regenerate with"
        " `python tools/gen_queries_md.py`). One row per registered query:",
        "oracle = hash-compared against DuckDB bit-for-bit by the driver and",
        "`tests/test_oracle_parity.py`; rows-only = approximate-by-design,",
        "covered by dedicated error/recall tests instead.",
        "",
        f"**{len(QUERIES)} queries**, "
        f"{sum(1 for s in QUERIES.values() if s.oracle)} with oracles. "
        f"The driver certifies the first {DRIVER_WINDOW} of `certification_order()`"
        " per round, computed from `QUERY_FINGERPRINTS.json` (rule: COVERAGE.md).",
        "",
        "| # | Query | Check | Tags | What it proves |",
        "|---|---|---|---|---|",
    ]
    for i, name in enumerate(certification_order(), 1):
        s = QUERIES[name]
        check = "oracle" if s.oracle else "rows-only"
        doc = (s.doc or "").strip().split("\n")[0].rstrip(".")
        win = " (window)" if i <= DRIVER_WINDOW else ""
        lines.append(
            f"| {i}{win} | `{name}` | {check} | {' '.join(s.tags)} | {doc} |"
        )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "QUERIES.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"QUERIES.md: {len(QUERIES)} rows")


if __name__ == "__main__":
    main()
