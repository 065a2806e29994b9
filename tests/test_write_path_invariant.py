"""Static guard: every ``DeltaWriter`` data write takes one path from rows
to files to actions.

Append, UPDATE, MERGE, overwrite / replaceWhere, REORG, OPTIMIZE and the
change-data writer once each kept their own column-mapping rename,
staging directory, remove-action literal and ``txn`` literal, and the
copies drifted apart (only append conformed structs by name). Each step
now lives in one place; this test fails when a copy comes back:

* ``_to_physical`` is called only by ``DeltaWriter._stage``;
* ``_stage`` is the only code that writes parquet into a ``_staging_*``
  directory;
* ``AddFile.remove_action`` is the only remove literal that stamps a
  fresh ``deletionTimestamp`` (the checkpoint writer copies tombstones
  with their recorded timestamps);
* ``_txn_action`` is the only ``txn`` literal that stamps a fresh
  ``lastUpdated`` (the checkpoint writer copies recorded ones).
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(__file__), "..", "duckdb_delta_spark")
SCOPE = ("delta/", "streaming/")


def _modules():
    for sub in SCOPE:
        root = os.path.join(PKG, sub)
        for name in sorted(os.listdir(root)):
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path, encoding="utf-8") as fh:
                    yield sub + name, ast.parse(fh.read(), filename=path)


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


def _sites(match) -> set[tuple[str, str | None]]:
    """(module, enclosing function) of every node ``match`` accepts."""
    found = set()
    for rel, tree in _modules():
        fn_of = _enclosing_functions(tree)
        for node in ast.walk(tree):
            if match(node):
                found.add((rel, fn_of.get(node)))
    return found


def _is_call_to(node, attr: str) -> bool:
    return (isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == attr)


def _dict_value(node, key: str):
    if not isinstance(node, ast.Dict):
        return None
    for k, v in zip(node.keys, node.values):
        if isinstance(k, ast.Constant) and k.value == key:
            return v
    return None


def _fresh_stamp(value) -> bool:
    """A timestamp taken now (a clock read or a ``now_ms`` local), not
    one copied from a recorded action."""
    if isinstance(value, ast.Name):
        return value.id == "now_ms"
    return any(isinstance(n, ast.Attribute) and n.attr == "time"
               for n in ast.walk(value))


def test_one_column_mapping_rename():
    assert _sites(lambda n: _is_call_to(n, "_to_physical")) == {
        ("delta/writer.py", "_stage")}


def test_one_staging_write():
    def staging_dir(n):
        return (isinstance(n, ast.JoinedStr) and n.values
                and isinstance(n.values[0], ast.Constant)
                and str(n.values[0].value).startswith("_staging_"))

    def write_to_staging(n):
        return (_is_call_to(n, "parquet") and n.args
                and isinstance(n.args[0], ast.Name)
                and n.args[0].id == "staging")

    assert _sites(staging_dir) == {("delta/writer.py", "_stage")}
    assert _sites(write_to_staging) == {("delta/writer.py", "_stage")}


def test_one_remove_builder():
    def fresh_remove(n):
        v = _dict_value(n, "deletionTimestamp")
        return v is not None and _fresh_stamp(v)

    assert _sites(fresh_remove) == {("delta/snapshot.py", "remove_action")}


def test_one_txn_builder():
    def fresh_txn(n):
        v = _dict_value(n, "lastUpdated")
        return (v is not None and _dict_value(n, "appId") is not None
                and _fresh_stamp(v))

    assert _sites(fresh_txn) == {("delta/writer.py", "_txn_action")}
