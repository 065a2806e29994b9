"""Static guard: every protocol the engine commits is built in
``delta/protocol.py``.

The rule "which table features a commit needs, and how the protocol grows
to list them" was once hand-built in about twenty protocol dicts across
the writer and the streaming sink, and the copies disagreed (a feature
listed by one operation and forgotten by another, writer-only features in
``readerFeatures``). ``delta/protocol.py`` now derives every upgrade and
``Transaction`` applies it to every ``metaData`` commit; this test fails
when a module builds a protocol dict on its own again.

Allowed outside ``delta/protocol.py``:

* ``DeltaWriter.create`` and ``DeltaWriter.convert_from_parquet`` — the
  ``(1, 2)`` protocol a new table starts from — and ``Snapshot``'s
  ``(1, 2)`` default before any protocol action is replayed;
* ``testing/`` — fixtures write foreign and damaged protocols on purpose;
* dict literals inside ``assert`` statements — an expectation, not a
  protocol being built.
"""

from __future__ import annotations

import ast
import os

from duckdb_delta_spark.delta import protocol
from duckdb_delta_spark.delta.snapshot import (
    SUPPORTED_READER_FEATURES,
    SUPPORTED_WRITER_FEATURES,
)

PKG = os.path.join(os.path.dirname(__file__), "..", "duckdb_delta_spark")

FIELDS = {"minReaderVersion", "minWriterVersion", "readerFeatures",
          "writerFeatures"}
ALLOWED = {
    ("delta/writer.py", "create"),
    ("delta/writer.py", "convert_from_parquet"),
    ("delta/snapshot.py", "__init__"),
}
LEGACY_BASE = {"minReaderVersion": 1, "minWriterVersion": 2}


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


def _protocol_dicts(tree):
    """(enclosing function, dict node) for every dict literal of
    protocol fields with a writer version or writer features, skipping
    those inside ``assert``."""
    out = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Assert):
                continue
            name = (child.name if isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn)
            if isinstance(child, ast.Dict):
                keys = {k.value for k in child.keys
                        if isinstance(k, ast.Constant)}
                if keys <= FIELDS and keys & {"minWriterVersion",
                                              "writerFeatures"}:
                    out.append((name, child))
            visit(child, name)

    visit(tree, None)
    return out


def _is_legacy_base(node: ast.Dict) -> bool:
    try:
        return ast.literal_eval(node) == LEGACY_BASE
    except ValueError:
        return False


def test_protocols_are_built_in_one_module():
    offenders = []
    for rel, tree in _modules():
        if rel == "delta/protocol.py" or rel.startswith("testing/"):
            continue
        for fn, node in _protocol_dicts(tree):
            if (rel, fn) in ALLOWED and _is_legacy_base(node):
                continue
            offenders.append((rel, fn, node.lineno))
    assert offenders == [], (
        f"protocol dict built outside delta/protocol.py: {offenders}; "
        "derive it with protocol.with_features / required instead")


def test_every_supported_feature_has_a_rule():
    assert SUPPORTED_WRITER_FEATURES <= set(protocol.FEATURES)
    assert SUPPORTED_READER_FEATURES <= set(protocol.FEATURES)
    # the legacy versions a feature raises a protocol to imply it
    for name, (_rw, legacy) in protocol.FEATURES.items():
        if legacy is not None:
            r, w = protocol.implied_features(
                {"minReaderVersion": legacy[0], "minWriterVersion": legacy[1]})
            assert name in w and (not _rw or name in r), name
