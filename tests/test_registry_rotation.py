"""Check the computed driver-certification rotation against the driver's
own history.

The driver hash-checks only the FIRST ``DRIVER_WINDOW`` entries of the
exposed query dict per round, and ``certification_order()`` computes
that order from the fingerprint ledger (pending first, then the oldest
evidence, then registration order). These tests replay the rule on
ledgers rebuilt from the ``CORRECTNESS_rNN.json`` artifacts and check
the committed window: the oldest evidence pools (round 8, then round 9)
must drain, never-certified and drifted queries must head the window,
and the window must not repeat the last driver windows.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

import __spark_entry__  # noqa: F401  (registers every query)
from mk_kafka_connect_spark.plans.registry import (
    DRIVER_WINDOW,
    QUERIES,
    certification_order,
    load_ledger,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import fingerprints  # noqa: E402


def _artifact(rnd: int) -> dict[str, dict]:
    with open(os.path.join(REPO, f"CORRECTNESS_r{rnd:02d}.json")) as f:
        return json.load(f)


def _latest_green_round(last: int | None = None) -> dict[str, int]:
    """Newest green driver round per query, over artifacts up to ``last``."""
    latest: dict[str, int] = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)\.json$", path).group(1))
        if last is not None and rnd > last:
            continue
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            if fingerprints._green(row):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def _rebuilt_ledger(last: int) -> dict[str, dict]:
    """The drift-free ledger a refresh after round ``last`` would hold."""
    return {
        n: {"fingerprint": "x", "evidence_round": r}
        for n, r in _latest_green_round(last).items()
        if n in QUERIES
    }


def _pending(ledger: dict[str, dict]) -> list[str]:
    return [n for n in QUERIES if n not in ledger or ledger[n].get("drifted")]


def test_r17_window_matches_r17_front():
    # The r17 driver certified a full window of registered queries, all
    # green, and the ledger carries that evidence (round 17 or newer).
    rows = _artifact(17)
    assert len(rows) == DRIVER_WINDOW
    assert set(rows) <= set(QUERIES)
    bad = sorted(n for n, r in rows.items() if not fingerprints._green(r))
    assert not bad, f"r17 rows not green: {bad}"
    ledger = load_ledger()
    unstamped = sorted(n for n in rows if ledger[n]["evidence_round"] < 17)
    assert not unstamped, f"r17 evidence never refreshed into the ledger: {unstamped}"


def test_orphan_pool_is_exactly_r17_additions():
    # Queries no driver round ever certified green are exactly the
    # unledgered ones, and the committed window seats every one of them.
    latest = _latest_green_round()
    ledger = load_ledger()
    orphans = [n for n in QUERIES if n not in latest]
    assert orphans == [n for n in QUERIES if n not in ledger]
    front = certification_order()[:DRIVER_WINDOW]
    if len(_pending(ledger)) <= DRIVER_WINDOW:
        assert set(orphans) <= set(front)
    else:
        assert set(front) <= set(_pending(ledger))


def test_r8_pool_leftover_is_exactly_r18_stale_head():
    # Before round 18 the oldest evidence was round 8, held by 11
    # queries. The r18 driver certified all 11, and the rule replayed on
    # the ledger rebuilt from r1..r17 seats all 11 in its first window.
    r8 = [n for n in QUERIES if _latest_green_round(17).get(n) == 8]
    assert len(r8) == 11
    rows = _artifact(18)
    assert all(n in rows and fingerprints._green(rows[n]) for n in r8)
    window = certification_order(_rebuilt_ledger(17))[:DRIVER_WINDOW]
    assert set(r8) <= set(window)


def test_r9_pool_matches_artifacts():
    # The ledger's round-9 rows are exactly the queries whose newest
    # green driver row is round 9; after round 19 there were 30.
    latest = _latest_green_round()
    ledger = load_ledger()
    r9 = [n for n in QUERIES if latest.get(n) == 9]
    assert r9 == [n for n in QUERIES if ledger.get(n, {}).get("evidence_round") == 9]
    assert len([n for n in QUERIES if _latest_green_round(19).get(n) == 9]) == 30


def test_front_is_priority_head_then_r9_fill():
    # The window is the pending head, then fill with the oldest evidence:
    # no query left out of the window is pending while a fill query sits
    # in it, or holds older evidence than any fill query.
    ledger = load_ledger()
    pending = set(_pending(ledger))
    order = certification_order()
    front, rest = order[:DRIVER_WINDOW], order[DRIVER_WINDOW:]
    head = [n for n in front if n in pending]
    assert front[: len(head)] == head, "fill query seated ahead of a pending one"
    fill = front[len(head):]
    if fill:
        assert not pending & set(rest), "pending query left out while fill is seated"
        newest_fill = max(ledger[n]["evidence_round"] for n in fill)
        oldest_rest = min(ledger[n]["evidence_round"] for n in rest)
        assert newest_fill <= oldest_rest


def test_front_fills_driver_window_exactly():
    # However short the ledger, the window is DRIVER_WINDOW distinct
    # registered queries: an empty ledger, the committed one, and one
    # with every query already stamped.
    stamped = {n: {"fingerprint": "x", "evidence_round": 19} for n in QUERIES}
    for ledger in ({}, load_ledger(), stamped):
        front = certification_order(ledger)[:DRIVER_WINDOW]
        assert len(front) == len(set(front)) == DRIVER_WINDOW
        assert set(front) <= set(QUERIES)


def test_front_differs_from_r17_window():
    # The r5/r6, r11 and r19 failure mode: two rounds burning the window
    # on the same names. The committed window may repeat a name from the
    # r17 window or the newest driver window only if its code drifted
    # since.
    ledger = load_ledger()
    newest = max(
        int(re.search(r"r(\d+)\.json$", p).group(1))
        for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
    )
    recent = set(_artifact(17)) | set(_artifact(newest))
    front = certification_order()[:DRIVER_WINDOW]
    repeats = sorted(n for n in recent & set(front) if not ledger[n].get("drifted"))
    assert not repeats, f"window repeats undrifted names from a recent window: {repeats}"


def test_r19_stale_pool_drains_the_r9_pool():
    # Replayed on the ledger rebuilt from r1..r19, the first window seats
    # the whole round-9 pool; re-stamping it leaves no round-9 evidence.
    ledger = _rebuilt_ledger(19)
    r9 = {n for n, row in ledger.items() if row["evidence_round"] == 9}
    assert len(r9) == 30
    window = certification_order(ledger)[:DRIVER_WINDOW]
    assert r9 <= set(window)
    for n in window:
        ledger[n] = {"fingerprint": "x", "evidence_round": 20}
    assert not [n for n, row in ledger.items() if row["evidence_round"] <= 9]


def test_r17_rewritten_recerts_have_older_rows_and_ride_the_window():
    # A drifted row has an older green driver row behind it (else it
    # belongs with the never-ledgered), and every drifted query is
    # ordered ahead of every settled one.
    latest = _latest_green_round()
    ledger = load_ledger()
    drifted = [n for n in QUERIES if ledger.get(n, {}).get("drifted")]
    for n in drifted:
        assert latest.get(n) == ledger[n]["evidence_round"], f"{n} has no driver row"
    order = certification_order()
    settled = [i for i, n in enumerate(order) if n not in set(_pending(ledger))]
    if drifted and settled:
        assert max(order.index(n) for n in drifted) < min(settled)


def test_r8_pool_retired():
    # No registered query's newest green driver row is round 8 or older,
    # in the artifacts or in the ledger.
    latest = _latest_green_round()
    ledger = load_ledger()
    stranded = [n for n in QUERIES if n in latest and latest[n] <= 8]
    assert not stranded, f"r8-era evidence survives: {stranded}"
    assert all(row["evidence_round"] > 8 for row in ledger.values())


def test_window_queries_all_have_oracles():
    # Every committed window query claims a full DuckDB value-hash
    # oracle; a rows-only driver row would not discharge the evidence debt.
    front = certification_order()[:DRIVER_WINDOW]
    missing = [n for n in front if QUERIES[n].oracle is None]
    assert not missing, f"window queries without oracle SQL: {missing}"
