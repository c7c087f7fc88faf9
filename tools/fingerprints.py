"""Source fingerprints for every registered query — the mechanical
stale-by-code detector, and the maintainer of the ledger that
``certification_order()`` reads.

A query's fingerprint is a SHA-256 over the concatenated sources of:

- the query function itself (``inspect.getsource`` includes the
  ``@query(...)`` decorator text, so the oracle SQL and tags are
  covered for free), and
- transitively, every function / class defined inside the
  ``mk_kafka_connect_spark`` package that the query's code references
  by name — resolved through the module globals, following one
  ``Attribute`` hop for module aliases (``SW.run_to_memory``) and
  class methods. A shared-helper edit therefore moves every query that
  calls the helper, even when the query body is untouched.

``QUERY_FINGERPRINTS.json`` at the repo root is the ledger
(``plans/registry.py::LEDGER``). Each row holds the fingerprint of the
code its newest green driver row certified, that row's round
(``evidence_round``) and, when HEAD code differs from that fingerprint,
``drifted: true``. The registry orders the driver window from these
rows without tracing anything, so the flags must be rewritten whenever
code changes::

    python tools/fingerprints.py mark-drift

``tests/test_stale_by_code.py`` fails when the stored flags disagree
with HEAD, or when an ``evidence_round`` is not the newest green row
across ``CORRECTNESS_r*.json``. After a driver round, re-stamp the
queries that round certified green (this also clears their flags)::

    python tools/fingerprints.py refresh --round 20 \
        --certified CORRECTNESS_r20.json

``python tools/fingerprints.py check`` prints the drift report.
"""

from __future__ import annotations

import ast
import hashlib
import importlib
import importlib.util
import inspect
import json
import os
import re
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from mk_kafka_connect_spark.plans.registry import LEDGER, load_ledger  # noqa: E402

PACKAGE = "mk_kafka_connect_spark"


def _source(obj) -> str | None:
    try:
        return textwrap.dedent(inspect.getsource(obj))
    except (OSError, TypeError):
        return None


def _in_package(obj) -> bool:
    mod = getattr(obj, "__module__", None)
    return bool(mod) and (mod == PACKAGE or mod.startswith(PACKAGE + "."))


def _referenced_names(tree: ast.AST) -> list[tuple[str, str | None]]:
    """(name, attr) pairs referenced in ``tree``.

    ``(name, None)`` for bare ``Name`` loads; ``(base, attr)`` for
    single-hop ``base.attr`` attribute loads (module aliases like
    ``SW.run_to_memory`` and class attributes).
    """
    pairs: list[tuple[str, str | None]] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            pairs.append((node.id, None))
        elif isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
            pairs.append((node.value.id, node.attr))
    return pairs


def _import_module(name: str):
    """Resolve a module by name; import only in-package modules.

    Everything under ``mk_kafka_connect_spark`` is already importable
    (and normally already imported via ``__spark_entry__``); anything
    else is looked up in ``sys.modules`` only, because out-of-package
    objects are filtered by ``_in_package`` anyway.
    """
    mod = sys.modules.get(name)
    if mod is None and (name == PACKAGE or name.startswith(PACKAGE + ".")):
        try:
            mod = importlib.import_module(name)
        except Exception:
            return None
    return mod


def _local_import_namespace(obj, tree: ast.AST) -> dict[str, object]:
    """name -> object for imports INSIDE ``obj``'s source (ADVICE r18).

    Queries frequently do ``from ..operators.x import helper`` inside
    the function body; those bindings are invisible to module globals
    and closure cells, so the round-18 tracer silently skipped them
    (``multimodal_ahash_neardup`` et al. kept green fingerprints while
    their operators changed). Walk Import/ImportFrom nodes and resolve
    them the way the interpreter would, relative to the function's own
    module, so locally imported helpers join the closure.
    """
    ns: dict[str, object] = {}
    mod_name = getattr(obj, "__module__", "") or ""
    mod = sys.modules.get(mod_name)
    pkg = getattr(mod, "__package__", None) or mod_name.rpartition(".")[0]
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.asname:
                    target = _import_module(alias.name)
                    if target is not None:
                        ns[alias.asname] = target
                else:
                    top = alias.name.split(".")[0]
                    _import_module(alias.name)  # ensure submodule attrs exist
                    target = _import_module(top)
                    if target is not None:
                        ns[top] = target
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                rel = "." * node.level + (node.module or "")
                try:
                    resolved = importlib.util.resolve_name(rel, pkg)
                except (ImportError, ValueError):
                    continue
            else:
                resolved = node.module or ""
            from_mod = _import_module(resolved)
            if from_mod is None:
                continue
            for alias in node.names:
                target = getattr(from_mod, alias.name, None)
                if target is None:
                    target = _import_module(f"{resolved}.{alias.name}")
                if target is not None:
                    ns[alias.asname or alias.name] = target
    return ns


def _closure_sources(fn) -> dict[str, str]:
    """name -> source for fn plus its in-package reference closure.

    Names resolve through the function's module globals, its closure
    cells (``co_freevars``) — registry queries are typically defined
    inside ``_register_*`` wrapper functions, so helpers they call
    (round 17's first miss: ``cosine_topk_bruteforce`` inside
    ``sim_knn_loo_eval``) arrive as cell references, not globals — and
    imports written INSIDE the function body (round 18's miss:
    ``from ..operators.multimodal import ahash_near_dups`` in the query
    body left the operator outside the fingerprint)."""
    sources: dict[str, str] = {}
    seen: set[int] = set()
    # (qualifier, object) worklist; qualifier is a stable display name.
    stack: list[tuple[str, object]] = [(fn.__qualname__, fn)]
    while stack:
        qual, obj = stack.pop()
        if id(obj) in seen:
            continue
        seen.add(id(obj))
        src = _source(obj)
        if src is None:
            continue
        key = f"{getattr(obj, '__module__', '?')}.{qual}"
        sources[key] = src
        try:
            tree: ast.AST | None = ast.parse(src)
        except SyntaxError:
            tree = None
        if tree is None:
            continue
        glb = dict(getattr(obj, "__globals__", None) or {})
        if not glb:  # a class: resolve names through its module
            mod = sys.modules.get(getattr(obj, "__module__", ""), None)
            glb = dict(getattr(mod, "__dict__", {}))
        cells = getattr(obj, "__closure__", None)
        if cells:
            for cname, cell in zip(obj.__code__.co_freevars, cells):
                try:
                    glb[cname] = cell.cell_contents
                except ValueError:  # empty cell
                    continue
        # Function-local imports shadow globals inside the body.
        glb.update(_local_import_namespace(obj, tree))
        for name, attr in _referenced_names(tree):
            target = glb.get(name)
            if target is None:
                continue
            if attr is not None:
                target = getattr(target, attr, None)
                if target is None:
                    continue
            # unwrap plain module aliases only via the attr hop above
            if inspect.isfunction(target) or inspect.isclass(target):
                if _in_package(target):
                    stack.append((getattr(target, "__qualname__", name), target))
    return sources


# Dynamic registry composition: queries like the recall/ndcg reports
# call other queries via QUERIES["name"].fn and interpolate their
# .oracle into an f-string at registration time — neither edge is
# visible to static name resolution, so a component change would leave
# the composed query's fingerprint unmoved. Chase the string literals.
# The alias set is checked by tests/test_stale_by_code.py against the
# package source (round 19: the `_QQ` body-local alias was invisible,
# leaving docs_neardup_overlap_matrix/docs_decontamination_report/
# sim_hybrid_rrf unmoved while their components changed).
_REGISTRY_REF = re.compile(r"(?:_QQ|_Q|QUERIES)\[\s*['\"]([A-Za-z0-9_]+)['\"]\s*\]")


def _fingerprint_inputs(name, spec, registry, stack=()) -> list[str]:
    if name in stack:  # cycle guard (mutual composition)
        return [f"### cycle:{name}"]
    parts = _closure_sources(spec.fn)
    blob = [f"### {k}\n{parts[k]}" for k in sorted(parts)]
    # the RESOLVED oracle (composed oracles embed component SQL) + tags
    blob.append(f"### oracle:{name}\n{spec.oracle or ''}")
    blob.append(f"### tags:{name}\n{tuple(spec.tags or ())!r}")
    refs = sorted(
        {m for src in parts.values() for m in _REGISTRY_REF.findall(src)}
    )
    for ref in refs:
        if ref in registry and ref != name:
            blob.extend(
                _fingerprint_inputs(ref, registry[ref], registry, stack + (name,))
            )
    return blob


def query_fingerprint(name, spec, registry) -> str:
    blob = "\n".join(_fingerprint_inputs(name, spec, registry))
    return hashlib.sha256(blob.encode()).hexdigest()


_TRACER = (
    _source,
    _in_package,
    _referenced_names,
    _import_module,
    _local_import_namespace,
    _closure_sources,
    _fingerprint_inputs,
    query_fingerprint,
)


def tracer_digest() -> str:
    """SHA-256 over the tracer's own source: every function that decides
    what a fingerprint covers, plus the package name and the registry-
    reference pattern. A dump records it, so ``rebase`` can tell a dump
    made by a different tracer without a hand-bumped version constant."""
    parts = [inspect.getsource(f) for f in _TRACER]
    parts += [PACKAGE, _REGISTRY_REF.pattern]
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()


def _git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=REPO,
            capture_output=True,
            text=True,
            timeout=10,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None
    return out or None


def load_dump(path: str) -> dict[str, str]:
    """The fingerprints of a ``dump`` file, after printing its provenance.
    Refuses (SystemExit) a dump with no provenance or one made by a
    tracer other than this one: ``rebase`` compares its hashes with HEAD
    hashes, which is only meaningful when one tracer made both."""
    with open(path) as f:
        dump = json.load(f)
    prov = dump.get("provenance") if isinstance(dump, dict) else None
    if not isinstance(prov, dict):
        raise SystemExit(f"{path}: dump has no provenance; re-run `dump`")
    print(f"dump provenance: git_sha={prov.get('git_sha')} tracer={prov.get('tracer')}")
    if prov.get("tracer") != tracer_digest():
        raise SystemExit(
            f"{path}: dump was made by a different tracer "
            f"({prov.get('tracer')} != {tracer_digest()}); re-run `dump` "
            "with this tools/fingerprints.py"
        )
    return dump["fingerprints"]


def head_fingerprints() -> dict[str, str]:
    import __spark_entry__  # noqa: F401  (registers every query)
    from mk_kafka_connect_spark.plans.registry import QUERIES

    return {
        name: query_fingerprint(name, spec, QUERIES)
        for name, spec in QUERIES.items()
    }


def drifted(ledger: dict | None = None) -> dict[str, dict]:
    """Queries whose HEAD fingerprint differs from the ledgered one."""
    ledger = load_ledger() if ledger is None else ledger
    head = head_fingerprints()
    out: dict[str, dict] = {}
    for name, fp in head.items():
        row = ledger.get(name)
        if row is None:
            out[name] = {"reason": "never-ledgered", "head": fp}
        elif row["fingerprint"] != fp:
            out[name] = {
                "reason": "drifted",
                "head": fp,
                "ledgered": row["fingerprint"],
                "evidence_round": row.get("evidence_round"),
            }
    return out


def _green(row) -> bool:
    """True when a driver row certifies its query: rows, schema and value
    hash all agree (``hash_match`` None = a rows-only check) and no error."""
    return (
        isinstance(row, dict)
        and bool(row.get("rows_match"))
        and row.get("schema_match") is not False
        and row.get("hash_match") in (True, None)
        and not row.get("err")
    )


def _write_ledger(ledger: dict) -> None:
    with open(LEDGER, "w") as f:
        json.dump(ledger, f, indent=1, sort_keys=True)
        f.write("\n")


def mark_drift(ledger: dict, drift: dict[str, dict]) -> list[str]:
    """Set ``drifted`` on the rows ``drift`` reports drifted, clear it on
    every other row; returns the flagged names."""
    flagged = []
    for name, row in sorted(ledger.items()):
        if drift.get(name, {}).get("reason") == "drifted":
            row["drifted"] = True
            flagged.append(name)
        else:
            row.pop("drifted", None)
    return flagged


def refresh(ledger: dict, rows: dict, head: dict[str, str], round_no: int) -> list[str]:
    """Re-stamp every registered query ``rows`` certifies green at its
    HEAD fingerprint and ``round_no`` (dropping any drift flag)."""
    stamped = sorted(n for n, r in rows.items() if n in head and _green(r))
    for name in stamped:
        ledger[name] = {"fingerprint": head[name], "evidence_round": round_no}
    return stamped


def rebase(
    ledger: dict, old: dict[str, str], head: dict[str, str], round_no: int
) -> tuple[list[str], list[str], list[str]]:
    """Re-stamp PURE tracer-coverage flips after a tracer upgrade.

    When the fingerprint TRACER itself improves (round 19: function-
    local imports joined the closure), every query whose closure grew
    flips its hash with zero code change. ``old`` must be the
    fingerprints of a ``dump`` run with the UPGRADED tracer in a
    checkout of the commit the evidence round certified (``load_dump``
    refuses a dump whose recorded tracer differs). A ``round_no`` row is
    re-stamped (fingerprint updated, evidence round preserved) ONLY
    when the old-commit fingerprint equals the HEAD fingerprint — i.e.
    the full closure, as measured by the new tracer, is byte-identical
    to what the driver certified. Anything else is genuinely stale and
    is left drifted. Rows naming no registered query are skipped.

    Returns (re-stamped, left stale, unregistered) names.
    """
    restamped, left, unregistered = [], [], []
    for name, row in sorted(ledger.items()):
        if row.get("evidence_round") != round_no:
            continue
        if name not in head:
            unregistered.append(name)
        elif row["fingerprint"] == head[name]:
            continue  # not drifted
        elif old.get(name) == head[name]:
            ledger[name] = {"fingerprint": head[name], "evidence_round": round_no}
            restamped.append(name)
        else:
            left.append(name)
    return restamped, left, unregistered


def cmd_mark_drift() -> None:
    ledger = load_ledger()
    flagged = mark_drift(ledger, drifted(ledger))
    _write_ledger(ledger)
    print(f"flagged {len(flagged)} drifted ledger rows")


def cmd_refresh(round_no: int, certified_path: str) -> None:
    with open(certified_path) as f:
        rows = json.load(f)
    ledger = load_ledger()
    stamped = refresh(ledger, rows, head_fingerprints(), round_no)
    _write_ledger(ledger)
    print(f"refreshed {len(stamped)} fingerprints at round {round_no}")


def cmd_rebase(round_no: int, old_path: str) -> None:
    old = load_dump(old_path)
    ledger = load_ledger()
    restamped, left, unregistered = rebase(ledger, old, head_fingerprints(), round_no)
    _write_ledger(ledger)
    print(f"re-stamped {len(restamped)} coverage-only flips at round {round_no}")
    if left:
        print(f"left {len(left)} genuinely stale (need recert seats): {left}")
    if unregistered:
        print(f"skipped {len(unregistered)} rows naming no registered query: {unregistered}")


def cmd_dump(out_path: str) -> None:
    dump = {
        "provenance": {"git_sha": _git_sha(), "tracer": tracer_digest()},
        "fingerprints": head_fingerprints(),
    }
    with open(out_path, "w") as f:
        json.dump(dump, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"dumped to {out_path}")


def cmd_check() -> int:
    d = drifted()
    if not d:
        print("clean: every query matches its ledgered fingerprint")
        return 0
    for name, row in sorted(d.items()):
        print(f"{name}: {row['reason']} (evidence r{row.get('evidence_round')})")
    return 1


if __name__ == "__main__":
    import argparse

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    sub.add_parser("mark-drift")
    r = sub.add_parser("refresh")
    r.add_argument("--round", type=int, required=True)
    r.add_argument("--certified", required=True)
    rb = sub.add_parser("rebase")
    rb.add_argument("--round", type=int, required=True)
    rb.add_argument("--old", required=True)
    d = sub.add_parser("dump")
    d.add_argument("--out", required=True)
    sub.add_parser("check")
    args = p.parse_args()
    if args.cmd == "mark-drift":
        cmd_mark_drift()
    elif args.cmd == "refresh":
        cmd_refresh(args.round, args.certified)
    elif args.cmd == "rebase":
        cmd_rebase(args.round, args.old)
    elif args.cmd == "dump":
        cmd_dump(args.out)
    else:
        raise SystemExit(cmd_check())
