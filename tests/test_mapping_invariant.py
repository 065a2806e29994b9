"""Static guard: column mapping is known to ``delta/mapping.py`` alone.

The rule "logical Delta schema → the files' physical schema" was once
written out by hand in about twelve places across the scan, the change
feed, the writer, the snapshot and both ends of the streaming source, and
the copies disagreed (two "make a type nullable" helpers differed on map
keys, so a column-mapped table the engine wrote could not be read back).
``delta/mapping.py`` now owns the name map, the read and write schemas,
the physical→logical rename, id assignment and ``nullable_type``; this
test fails when another module starts doing one of them on its own again:

* reading the ``delta.columnMapping.physicalName`` / ``delta.columnMapping.id``
  metadata keys (by literal, or through ``mapping.PHYS_KEY`` / ``ID_KEY``);
* building a dict keyed by ``parquet.field.id``;
* defining a second nullable-type helper.

``testing/`` is exempt: fixtures write foreign mapped tables on purpose.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(__file__), "..", "duckdb_delta_spark")

MAPPING_KEYS = {"delta.columnMapping.physicalName", "delta.columnMapping.id"}
KEY_NAMES = {"PHYS_KEY", "ID_KEY"}


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


def _offences(tree) -> list[tuple[str, int]]:
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and node.value in MAPPING_KEYS:
            out.append((f"mapping key {node.value!r}", node.lineno))
        elif isinstance(node, ast.Attribute) and node.attr in KEY_NAMES:
            out.append((f"mapping key {node.attr}", node.lineno))
        elif isinstance(node, ast.ImportFrom) and any(
                a.name in KEY_NAMES for a in node.names):
            out.append(("mapping key import", node.lineno))
        elif isinstance(node, ast.Dict) and any(
                isinstance(k, ast.Constant) and k.value == "parquet.field.id"
                for k in node.keys):
            out.append(("parquet.field.id dict", node.lineno))
        elif (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
              and "nullable" in node.name.lower()):
            out.append((f"nullable-type helper {node.name}", node.lineno))
    return out


def test_column_mapping_lives_in_one_module():
    offenders = []
    for rel, tree in _modules():
        if rel == "delta/mapping.py" or rel.startswith("testing/"):
            continue
        offenders += [(rel, what, line) for what, line in _offences(tree)]
    assert offenders == [], (
        f"column mapping done outside delta/mapping.py: {offenders}; "
        "use the delta.mapping helpers instead")


def test_guard_catches_each_offence():
    src = '''
md.get("delta.columnMapping.physicalName", name)
fid = md[mapping.ID_KEY]
meta = {"parquet.field.id": 3}
def _nullable_copy(dt):
    return dt
'''
    assert [w for w, _ in sorted(_offences(ast.parse(src)),
                                 key=lambda o: o[1])] == [
        "mapping key 'delta.columnMapping.physicalName'",
        "mapping key ID_KEY",
        "parquet.field.id dict",
        "nullable-type helper _nullable_copy",
    ]
