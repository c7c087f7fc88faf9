"""Registry integrity and the computed driver-certification order.

The driver hash-checks only the first ``DRIVER_WINDOW`` entries of the
exposed query dict, so ``certification_order()`` decides which code gets
independent evidence. It is computed from the fingerprint ledger: pending
queries (drifted code or no ledger row) first, then the oldest evidence,
then registration order. These tests pin that rule on synthetic ledgers
and check that the window rotates with no per-round code edit."""

from __future__ import annotations

import math
import os
import subprocess
import sys

from mk_kafka_connect_spark.plans import (
    QUERIES,
    certification_order,
    oracle_queries,
    spark_queries,
)
from mk_kafka_connect_spark.plans.registry import DRIVER_WINDOW, LEDGER, load_ledger


def _settled_ledger() -> dict[str, dict]:
    return {n: {"fingerprint": "x", "evidence_round": 10} for n in QUERIES}


def test_front_names_all_registered():
    # Ledger rows can outlive their query (a deleted or renamed one);
    # such rows must never put a phantom name into the driver window.
    ledger = {f"gone_{i}": {"fingerprint": "x", "evidence_round": 1} for i in range(60)}
    ledger.update({f"gone_drifted_{i}": {"drifted": True} for i in range(60)})
    for led in (ledger, dict(_settled_ledger(), **ledger)):
        front = certification_order(led)[:DRIVER_WINDOW]
        missing = set(front) - set(QUERIES)
        assert not missing, f"window names not in registry: {sorted(missing)}"


def test_front_has_no_duplicates():
    # The driver sees the exposed dict; it must keep every registered
    # query, so its first DRIVER_WINDOW keys are that many distinct names.
    exposed = list(spark_queries())
    assert len(exposed) == len(QUERIES)
    front = exposed[:DRIVER_WINDOW]
    assert len(front) == len(set(front)) == DRIVER_WINDOW


def test_certification_order_is_a_permutation_of_registry():
    order = certification_order()
    assert sorted(order) == sorted(QUERIES)


def test_order_key_pending_then_oldest_then_registration():
    a, b, c, d, e, f, *rest = QUERIES
    ledger = _settled_ledger()
    ledger[a] = {"fingerprint": "x", "evidence_round": 5}
    ledger[b] = {"fingerprint": "x", "evidence_round": 5, "drifted": True}
    del ledger[c]  # never ledgered: pending, no evidence
    ledger[d] = {"fingerprint": "x", "evidence_round": 2}
    ledger[e] = {"fingerprint": "x", "evidence_round": 5}
    ledger[f] = {"fingerprint": "x", "evidence_round": 7, "drifted": True}
    assert certification_order(ledger) == [c, b, f, d, a, e, *rest]


def test_order_with_empty_ledger_is_registration_order():
    assert certification_order({}) == list(QUERIES)


def test_restamped_window_rotates_out():
    # Anti-stall: with no drift, re-stamping the certified window must
    # give a next window disjoint from it, and every query must get a
    # seat within ceil(n / DRIVER_WINDOW) rounds.
    ledger = _settled_ledger()
    seen: set[str] = set()
    prev: list[str] = []
    for rnd in range(11, 11 + math.ceil(len(QUERIES) / DRIVER_WINDOW)):
        window = certification_order(ledger)[:DRIVER_WINDOW]
        assert not set(window) & set(prev), f"round {rnd} repeats the last window"
        seen |= set(window)
        for name in window:
            ledger[name] = {"fingerprint": "x", "evidence_round": rnd}
        prev = window
    assert seen == set(QUERIES)


def test_committed_window_is_pending_first():
    ledger = load_ledger()
    pending = [n for n in QUERIES if n not in ledger or ledger[n].get("drifted")]
    window = list(spark_queries())[:DRIVER_WINDOW]
    if len(pending) <= DRIVER_WINDOW:
        assert set(pending) <= set(window)
    else:
        assert set(window) <= set(pending)
    # A rows-only driver row would not discharge the evidence debt.
    assert all(QUERIES[n].oracle for n in window)


def test_exposed_dicts_follow_certification_order():
    assert list(spark_queries()) == certification_order()
    oracle_names = [n for n in certification_order() if QUERIES[n].oracle is not None]
    assert list(oracle_queries()) == oracle_names


def test_import_reads_no_ledger():
    # The order is computed at call time from stored flags; importing the
    # plans package must neither read the ledger nor trace fingerprints.
    code = (
        "import sys\n"
        "opened = []\n"
        "sys.addaudithook(lambda ev, a: opened.append(str(a[0])) if ev == 'open' else None)\n"
        "import mk_kafka_connect_spark.plans\n"
        f"print(any(p == {LEDGER!r} for p in opened), 'fingerprints' in sys.modules)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        check=True,
        cwd=os.path.dirname(LEDGER),
    ).stdout.split()
    assert out[-2:] == ["False", "False"]


def test_scale_probe_set_is_registered():
    """Every query the scaling probe reports on must exist in the
    registry — keeps SCALING.md's tool from silently probing nothing."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "scale_probe",
        os.path.join(os.path.dirname(__file__), "..", "tools", "scale_probe.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    missing = [n for n in mod.PROBE_SET if n not in QUERIES]
    assert not missing, f"probe set names not registered: {missing}"
