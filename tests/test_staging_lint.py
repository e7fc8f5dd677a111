"""Staging lint: session-staged artifacts under ``queries/`` go through the
one primitive (queries/staging.py:stage).  A hand-rolled per-session cache
(a ``spark._lhl_*`` attribute) or a ``tempfile.mkdtemp`` staging dir there
fails this test; per-run dirs with their own reaping are listed below."""

from __future__ import annotations

import ast
import os

QUERIES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "lakehouse_loader_spark",
    "queries",
)

# the registry attribute itself
REGISTRY = ("staging.py", "_lhl_staged")

# (file, function) -> why its mkdtemp is not a staged artifact
PER_RUN_DIRS = {
    # the streaming-parity checkpoint root, reaped at exit by its own hook
    ("extensions.py", "_parity_stream_session"),
    # one table+checkpoint dir per call, reaped when the next call starts
    ("extensions.py", "streaming_upsert_parity"),
}


def _violations(rel, tree):
    out = []
    scopes = [(tree, None)]
    while scopes:
        node, fn = scopes.pop()
        for child in ast.iter_child_nodes(node):
            inner = child.name if isinstance(child, ast.FunctionDef) else fn
            scopes.append((child, inner))
            name = None
            if isinstance(child, ast.Attribute):
                name = child.attr
            elif isinstance(child, ast.Constant) and isinstance(child.value, str):
                name = child.value
            if name and name.startswith("_lhl_") and (rel, name) != REGISTRY:
                out.append((rel, child.lineno, name))
            if (
                isinstance(child, ast.Call)
                and getattr(child.func, "attr", getattr(child.func, "id", None))
                == "mkdtemp"
                and (rel, fn) not in PER_RUN_DIRS
            ):
                out.append((rel, child.lineno, f"mkdtemp in {fn}"))
    return out


def test_queries_stage_only_through_the_primitive():
    bad = []
    for f in sorted(os.listdir(QUERIES)):
        if f.endswith(".py"):
            with open(os.path.join(QUERIES, f)) as fh:
                bad += _violations(f, ast.parse(fh.read()))
    assert not bad, f"stage through queries/staging.py:stage instead: {bad}"


def test_per_run_allowlist_is_not_stale():
    found = set()
    for rel, fn in PER_RUN_DIRS:
        with open(os.path.join(QUERIES, rel)) as fh:
            for node in ast.walk(ast.parse(fh.read())):
                if isinstance(node, ast.FunctionDef) and node.name == fn:
                    if "mkdtemp" in ast.unparse(node):
                        found.add((rel, fn))
    assert found == PER_RUN_DIRS
