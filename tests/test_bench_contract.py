"""Pin the bench artifact's self-adjudication contract (VERDICT r16 #3).

The r16 driver bench was captured on a loaded host — a uniform 1.35x
with >10x outliers that cost a judge-side re-bench to dismiss. From
round 17 the artifact must carry its own contention evidence: the load
average before/after the run and a min-of-3 anchor probe taken before
the tier. These tests pin the helper and the committed artifact shape
so the fields cannot silently drop out of BENCH_r{N}.json.
"""

from __future__ import annotations

import importlib.util
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench_module():
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_host_load_helper_shape():
    hl = _bench_module()._host_load()
    # os.getloadavg exists on linux; the helper returns rounded floats.
    assert set(hl) == {"load1", "load5", "load15"}
    assert all(isinstance(v, float) and v >= 0 for v in hl.values())


def test_provenance_records_session_cores_and_commit():
    # host_load.cpus is the session's scheduling width, not the host's
    # os.cpu_count() (an 8-core artifact from a 32-core host read 32).
    import subprocess
    from types import SimpleNamespace

    fake = SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=3))
    prov = _bench_module()._provenance(fake)
    assert prov["cpus"] == 3
    head = subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True
    ).stdout.strip()
    assert prov["git_sha"] == (head or None)


def test_committed_artifact_carries_the_preamble():
    path = os.path.join(REPO, "BENCH_LOCAL.json")
    with open(path) as f:
        art = json.loads(f.read().strip())
    assert "host_load" in art and "anchor_probe" in art, (
        "BENCH_LOCAL.json predates the self-adjudication preamble — "
        "re-run python bench.py"
    )
    probe = art["anchor_probe"]
    assert probe["query"] == "q1_pricing_summary"
    assert probe.get("sec") or probe.get("err")
    hl = art["host_load"]
    assert "start" in hl and "end" in hl and hl.get("cpus")


def test_contention_stamp_thresholds():
    """VERDICT r17 #2: the artifact must self-declare contention so the
    judge can refuse it instead of re-benching phantom outliers. Loaded
    host OR slow anchor probe => contended; quiet host and healthy
    probe => not."""
    b = _bench_module()
    assert b._contended(2.0, 0.5) is True  # loaded host, fast probe
    assert b._contended(0.4, 1.5) is True  # quiet load, slow probe (burst)
    assert b._contended(0.4, 1.0) is False  # quiet-host cold probe range
    assert b._contended(None, None) is False  # probe errored: no claim
    # Load threshold is the verdict value; the probe reference is the
    # cold-probe standing value re-measured in r18 (see bench.py).
    assert b.CONTENTION_LOAD1 == 1.5
    assert b.CONTENTION_ANCHOR_FACTOR * b.Q1_QUIET_ANCHOR_SEC == 1.5 * 0.8
