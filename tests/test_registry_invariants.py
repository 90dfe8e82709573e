"""Registry hygiene invariants (VERDICT r5 #4).

A dict assignment like ``QUERIES["key"] = fn`` (or a repeated key inside a
``QUERIES = {...}`` literal) silently overwrites an earlier registration, so
a duplicate (the r5 ``winsorized_stats`` case) is invisible at runtime — a
later edit to one copy would silently shadow the other. These tests parse
the module source via ``ast`` and assert every key is registered exactly
once across the whole package, plus the structural invariants the driver
contract relies on (oracle keys subset of query keys, the registry merge
drops nothing, keys come back in sorted order).
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / (
    "etl_process_for_detecting_fraudulent_transactions_spark"
)
QUERY_DIR = PKG / "queries"


def _registrations(kind: str) -> Counter:
    """Count every source-level registration of a key into QUERIES/ORACLES:
    ``KIND = {"k": ...}`` dict literals and ``KIND["k"] = ...`` subscript
    assignments, in every module of the queries package."""
    counts: Counter = Counter()
    for path in sorted(QUERY_DIR.glob("*.py")):
        if path.name == "__init__.py":
            continue
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            # del QUERIES["k"] — an explicit retraction (used to convert a
            # gate to rows-only) cancels one registration.
            if isinstance(node, ast.Delete):
                for tgt in node.targets:
                    if (
                        isinstance(tgt, ast.Subscript)
                        and isinstance(tgt.value, ast.Name)
                        and tgt.value.id == kind
                        and isinstance(tgt.slice, ast.Constant)
                        and isinstance(tgt.slice.value, str)
                    ):
                        counts[tgt.slice.value] -= 1
                continue
            if not isinstance(node, ast.Assign):
                continue
            for tgt in node.targets:
                # QUERIES = {"k": fn, ...}
                if (
                    isinstance(tgt, ast.Name)
                    and tgt.id == kind
                    and isinstance(node.value, ast.Dict)
                ):
                    for key in node.value.keys:
                        if isinstance(key, ast.Constant) and isinstance(
                            key.value, str
                        ):
                            counts[key.value] += 1
                # QUERIES["k"] = fn
                if (
                    isinstance(tgt, ast.Subscript)
                    and isinstance(tgt.value, ast.Name)
                    and tgt.value.id == kind
                    and isinstance(tgt.slice, ast.Constant)
                    and isinstance(tgt.slice.value, str)
                ):
                    counts[tgt.slice.value] += 1
    return counts


def test_no_key_registered_twice():
    for kind in ("QUERIES", "ORACLES"):
        dupes = {k: n for k, n in _registrations(kind).items() if n > 1}
        assert not dupes, f"{kind} keys registered more than once: {dupes}"


def test_source_registrations_match_runtime_registry():
    from etl_process_for_detecting_fraudulent_transactions_spark.queries import (
        all_oracles,
        all_queries,
    )

    src_q = {k for k, n in _registrations("QUERIES").items() if n > 0}
    rt_q = set(all_queries())
    assert src_q == rt_q, (
        "registry merge dropped or invented keys: "
        f"src-only={sorted(src_q - rt_q)} runtime-only={sorted(rt_q - src_q)}"
    )
    assert set(all_oracles()) <= rt_q


def test_registry_is_sorted():
    from etl_process_for_detecting_fraudulent_transactions_spark.queries import (
        all_oracles,
        all_queries,
    )

    qs, oracles = all_queries(), all_oracles()
    assert list(qs) == sorted(qs)
    assert list(oracles) == sorted(oracles)
    assert len(qs) == len(oracles) == 231


def test_rehearsal_rejects_unknown_keys_before_spark():
    """An unknown key must fail fast instead of running nothing and
    reporting success. JAVA_HOME points nowhere, so a Spark start would
    die with a traceback (exit 1); exit 2 comes only from the key check."""
    import os
    import subprocess
    import sys

    tool = PKG.parent / "tools" / "driver_rehearsal.py"
    env = {**os.environ, "JAVA_HOME": "/nonexistent-java-home"}
    proc = subprocess.run(
        [sys.executable, str(tool), "sf0.001", "no_such_gate"],
        capture_output=True, text=True, env=env, timeout=120,
    )
    assert proc.returncode == 2, proc.stdout + proc.stderr
    assert "unknown query keys: no_such_gate" in proc.stderr
