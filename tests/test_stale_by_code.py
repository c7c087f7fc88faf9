"""Mechanical stale-by-code guard and the fingerprint ledger's invariants.

``QUERY_FINGERPRINTS.json`` holds, for every registered query, the
SHA-256 of its source closure (the query function, its ``@query``
decorator text — hence oracle SQL and tags — and transitively every
in-package function/class it references, so a shared-helper edit is
caught even when the query body is untouched) as certified by its
newest green driver row, plus that row's round.

``certification_order()`` reads the ledger without tracing anything, so
two stored facts must stay true, and these tests fail when they do not:

- the ``drifted`` flags equal the drift measured at HEAD (after a code
  change, ``python tools/fingerprints.py mark-drift`` rewrites them);
- every ``evidence_round`` is the newest green row across
  ``CORRECTNESS_r*.json`` (after a driver round,
  ``python tools/fingerprints.py refresh`` re-stamps what it certified).
  A forgotten refresh therefore fails here instead of stalling the
  driver window.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import sys

import __spark_entry__  # noqa: F401  (registers every query)
from mk_kafka_connect_spark.plans.registry import QUERIES, certification_order

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import fingerprints  # noqa: E402


def _newest_green_round() -> dict[str, int]:
    latest: dict[str, int] = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)\.json$", path).group(1))
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            if fingerprints._green(row):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


@functools.lru_cache(maxsize=1)
def _measured_drift() -> dict[str, dict]:
    # Tracing every closure takes seconds; measure HEAD once per session.
    return fingerprints.drifted(fingerprints.load_ledger())


def _pending_head() -> list[str]:
    """The leading run of certification_order() that the ledger marks
    pending (drifted flag or no row)."""
    ledger = fingerprints.load_ledger()
    head = []
    for name in certification_order(ledger):
        if name in ledger and not ledger[name].get("drifted"):
            break
        head.append(name)
    return head


def test_ledger_covers_every_query():
    # A query missing from the ledger must be one no driver round ever
    # certified green; otherwise an end-of-round refresh was skipped.
    ledger = fingerprints.load_ledger()
    assert ledger, "QUERY_FINGERPRINTS.json missing"
    latest = _newest_green_round()
    unledgered = [n for n in QUERIES if n not in ledger and n in latest]
    assert not unledgered, (
        f"queries with a green driver row but no ledger row: {unledgered}"
    )


def test_drifted_queries_hold_a_pending_recert_seat():
    # Every query whose HEAD code differs from its certified code (or
    # that was never certified) sits in the pending head of the order,
    # ahead of every query with current evidence.
    stranded = sorted(set(_measured_drift()) - set(_pending_head()))
    assert not stranded, (
        "stale-by-code queries with no pending re-certification seat "
        f"(run `python tools/fingerprints.py mark-drift`): {stranded}"
    )


def test_recert_list_members_actually_drifted():
    # The inverse guard, the r16 failure mode of queueing an untouched
    # query: every query in the pending head really drifted at HEAD or
    # has no ledger row.
    phantom = sorted(set(_pending_head()) - set(_measured_drift()))
    assert not phantom, f"pending queries whose code never drifted: {phantom}"


def test_stored_drift_flags_match_head():
    ledger = fingerprints.load_ledger()
    stored = sorted(n for n, row in ledger.items() if row.get("drifted"))
    measured = sorted(
        n for n, row in _measured_drift().items() if row["reason"] == "drifted"
    )
    assert stored == measured, (
        "QUERY_FINGERPRINTS.json drift flags disagree with HEAD — run "
        "`python tools/fingerprints.py mark-drift`: "
        f"unflagged={sorted(set(measured) - set(stored))} "
        f"stale-flag={sorted(set(stored) - set(measured))}"
    )


def test_evidence_round_is_newest_green_driver_row():
    latest = _newest_green_round()
    wrong = {
        name: (row.get("evidence_round"), latest.get(name))
        for name, row in fingerprints.load_ledger().items()
        if row.get("evidence_round") != latest.get(name)
    }
    assert not wrong, (
        "ledger evidence_round differs from the newest green CORRECTNESS row "
        "(ledgered, artifact) — run `python tools/fingerprints.py refresh "
        f"--round N --certified CORRECTNESS_rNN.json`: {wrong}"
    )


def test_green_requires_matching_value_hash():
    # CORRECTNESS_r01's sessionize_events matched row counts and schema
    # but not values; it certifies nothing.
    with open(os.path.join(REPO, "CORRECTNESS_r01.json")) as f:
        row = json.load(f)["sessionize_events"]
    assert row["rows_match"] and row["hash_match"] is False
    assert not fingerprints._green(row)
    ledger: dict[str, dict] = {}
    head = {"sessionize_events": "new", "q1_pricing_summary": "q1"}
    rows = {"sessionize_events": row, "q1_pricing_summary": dict(row, hash_match=True)}
    assert fingerprints.refresh(ledger, rows, head, 1) == ["q1_pricing_summary"]
    assert ledger == {"q1_pricing_summary": {"fingerprint": "q1", "evidence_round": 1}}


def test_refresh_clears_the_drift_flag():
    ledger = {"q1_pricing_summary": {"fingerprint": "old", "evidence_round": 3, "drifted": True}}
    row = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    fingerprints.refresh(ledger, {"q1_pricing_summary": row}, {"q1_pricing_summary": "new"}, 20)
    assert ledger == {"q1_pricing_summary": {"fingerprint": "new", "evidence_round": 20}}


def test_mark_drift_sets_and_clears_flags():
    ledger = {
        "a": {"fingerprint": "1", "evidence_round": 9},
        "b": {"fingerprint": "2", "evidence_round": 9, "drifted": True},
    }
    drift = {"a": {"reason": "drifted"}, "c": {"reason": "never-ledgered"}}
    assert fingerprints.mark_drift(ledger, drift) == ["a"]
    assert ledger == {
        "a": {"fingerprint": "1", "evidence_round": 9, "drifted": True},
        "b": {"fingerprint": "2", "evidence_round": 9},
    }


def test_rebase_skips_unregistered_rows():
    # A ledger row for a query that no longer registers used to pass the
    # old == head gate as None == None and then raise KeyError on head[name].
    ledger = {"gone_query": {"fingerprint": "f", "evidence_round": 18}}
    restamped, left, unregistered = fingerprints.rebase(ledger, {}, {}, 18)
    assert (restamped, left, unregistered) == ([], [], ["gone_query"])
    assert ledger == {"gone_query": {"fingerprint": "f", "evidence_round": 18}}


def test_local_imports_join_the_closure():
    # ADVICE r18 (low): `from ..operators.multimodal import
    # ahash_near_dups` INSIDE the query body was invisible to the
    # round-18 tracer (it resolved names only through module globals
    # and closure cells), so tests here silently passed while r18
    # changed that operator. The upgraded tracer walks Import/
    # ImportFrom nodes in the function body; this pins the fix with the
    # exact query that slipped through.
    import inspect

    from mk_kafka_connect_spark.operators import multimodal

    srcs = fingerprints._closure_sources(QUERIES["multimodal_ahash_neardup"].fn)
    blob = "\n".join(srcs.values())
    assert inspect.getsource(multimodal.ahash_near_dups) in blob, (
        "function-local import not traced into the fingerprint closure"
    )


def test_qq_registry_alias_is_chased():
    # ADVICE r18 (medium): composed queries that index the registry via
    # the body-local `_QQ` alias (docs_neardup_overlap_matrix →
    # dedup_minhash_lsh) never had their components folded into the
    # fingerprint because _REGISTRY_REF only matched `_Q[`/`QUERIES[`.
    name = "docs_neardup_overlap_matrix"
    blob = "\n".join(
        fingerprints._fingerprint_inputs(name, QUERIES[name], QUERIES)
    )
    assert "def dedup_minhash_lsh" in blob, (
        "_QQ[...] component reference not chased into the fingerprint"
    )


def test_registry_ref_regex_covers_every_alias_in_package():
    # Mechanical guard for the alias set itself: find every
    # `<alias>["name"].fn / .oracle` indexing expression in the package
    # source and assert _REGISTRY_REF matches it, so a NEW alias
    # (tomorrow's `_QQQ`) cannot silently reopen the hole.
    import re

    pkg_dir = os.path.join(REPO, "mk_kafka_connect_spark")
    idx = re.compile(
        r"([A-Za-z_][A-Za-z0-9_]*)\[\s*['\"][A-Za-z0-9_]+['\"]\s*\]\s*\.\s*(?:fn|oracle)"
    )
    uncovered = set()
    for root, _dirs, files in os.walk(pkg_dir):
        for f in files:
            if not f.endswith(".py"):
                continue
            src = open(os.path.join(root, f)).read()
            for m in idx.finditer(src):
                if not fingerprints._REGISTRY_REF.match(m.group(0)):
                    uncovered.add(m.group(1))
    assert not uncovered, (
        f"registry-indexing aliases invisible to _REGISTRY_REF: {uncovered}"
    )


def test_rebase_dump_carries_and_checks_provenance(tmp_path, capsys):
    # ADVICE r19 (low): a dump carried no record of the tracer that made
    # it, so `rebase` could compare hashes from two different tracers.
    import pytest

    fps = {"q1_pricing_summary": "f" * 64}
    good = tmp_path / "good.json"
    good.write_text(json.dumps({
        "provenance": {"git_sha": "abc123", "tracer": fingerprints.tracer_digest()},
        "fingerprints": fps,
    }))
    assert fingerprints.load_dump(str(good)) == fps
    assert "git_sha=abc123" in capsys.readouterr().out

    stale = tmp_path / "stale.json"
    stale.write_text(json.dumps({
        "provenance": {"git_sha": "abc123", "tracer": "0" * 64},
        "fingerprints": fps,
    }))
    with pytest.raises(SystemExit, match="different tracer"):
        fingerprints.load_dump(str(stale))

    bare = tmp_path / "bare.json"  # the pre-provenance flat format
    bare.write_text(json.dumps(fps))
    with pytest.raises(SystemExit, match="no provenance"):
        fingerprints.load_dump(str(bare))


def test_tracer_digest_moves_with_the_tracer(monkeypatch):
    # Computed from the tracer's own source, not a hand-bumped constant:
    # widening what the tracer chases changes the digest.
    import re

    before = fingerprints.tracer_digest()
    assert before == fingerprints.tracer_digest()
    monkeypatch.setattr(fingerprints, "_REGISTRY_REF", re.compile(r"QUERIES\[(\w+)\]"))
    assert fingerprints.tracer_digest() != before
