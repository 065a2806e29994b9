"""Static guard: every Delta commit goes through ``delta/transaction.py``.

The engine once had a dozen hand-rolled commit/retry loops, each with its
own copy of the conflict checks, row-id and in-commit-timestamp stamping
and post-commit hooks, and the copies drifted apart. ``Transaction`` now
owns all of that once; this test fails when a module writes a commit or
handles a lost race on its own again.

Allowed outside the transaction:

* ``delta/log.py`` — ``DeltaLog.commit`` itself maps a catalog rejection
  onto ``CommitConflictError``;
* ``DeltaWriter._maybe_auto_compact`` — an opportunistic OPTIMIZE after an
  append may lose its race and simply tries again after the next append;
* ``testing/fixtures.py`` — simulates foreign writers committing raw
  actions.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(__file__), "..", "duckdb_delta_spark")

COMMIT_ALLOWED = {"delta/transaction.py", "testing/fixtures.py"}
CATCH_ALLOWED = {
    ("delta/transaction.py", None),
    ("delta/log.py", "commit"),
    ("delta/writer.py", "_maybe_auto_compact"),
    ("testing/fixtures.py", None),
}


def _modules():
    for root, _dirs, files in os.walk(PKG):
        if "__pycache__" in root:
            continue
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                rel = os.path.relpath(path, PKG).replace(os.sep, "/")
                with open(path, encoding="utf-8") as fh:
                    yield rel, ast.parse(fh.read(), filename=path)


def _enclosing_functions(tree):
    """node → name of the innermost function containing it."""
    out = {}

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            name = (child.name if isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn)
            out[child] = name
            visit(child, name)

    visit(tree, None)
    return out


def _catches_conflict(handler: ast.ExceptHandler) -> bool:
    if handler.type is None:
        return False
    names = {n.id for n in ast.walk(handler.type) if isinstance(n, ast.Name)}
    names |= {n.attr for n in ast.walk(handler.type)
              if isinstance(n, ast.Attribute)}
    return "CommitConflictError" in names


def test_only_the_transaction_writes_commits():
    # DeltaLog.commit(version, actions) is the only two-argument
    # ``.commit(`` in the package (Transaction.commit takes the actions)
    offenders = []
    for rel, tree in _modules():
        if rel in COMMIT_ALLOWED:
            continue
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "commit"
                    and len(node.args) + len(node.keywords) == 2):
                offenders.append((rel, node.lineno))
    assert offenders == [], (
        f"DeltaLog.commit called outside delta/transaction.py: {offenders}; "
        "commit through Transaction so conflict checks, ICT, row ids and "
        "post-commit hooks stay in one place")


def test_only_the_transaction_handles_lost_races():
    offenders = []
    for rel, tree in _modules():
        fn_of = _enclosing_functions(tree)
        for node in ast.walk(tree):
            if isinstance(node, ast.ExceptHandler) and _catches_conflict(node):
                fn = fn_of.get(node)
                if (rel, None) not in CATCH_ALLOWED \
                        and (rel, fn) not in CATCH_ALLOWED:
                    offenders.append((rel, fn, node.lineno))
    assert offenders == [], (
        f"CommitConflictError handled outside the transaction: {offenders}; "
        "express the operation's conflict rule as a ReadSet / rebase "
        "instead of a retry loop")
