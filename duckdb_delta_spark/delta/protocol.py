"""Table features: which features a commit needs, and how the protocol
grows to list them (Delta spec "Table Features").

Reference analogue: the reference leaves these rules to delta-kernel-rs
(``TableConfiguration`` / ``table_features``). Here they are one module:
:func:`required` derives the features a ``metaData`` action needs,
:func:`with_features` grows a protocol to support a feature set, and
:func:`check_writable` is the writer gate. :class:`Transaction` widens the
protocol of every commit that carries a ``metaData`` or a protocol action
with ``required``, so no operation builds a protocol by hand.
"""

from __future__ import annotations

import json
from typing import Iterable

from duckdb_delta_spark.delta.errors import UnsupportedFeatureError
from duckdb_delta_spark.delta.snapshot import SUPPORTED_WRITER_FEATURES

# Delta spec (table features appendix): legacy protocol versions imply
# feature sets; a (3,7) upgrade must list EVERY implied feature explicitly
# or spec-compliant readers/writers (delta-spark, kernel) reject the table.
_READER_LEGACY_FEATURES = {1: frozenset(), 2: frozenset({"columnMapping"})}
_WRITER_LEGACY_FEATURES = {
    1: frozenset(),
    2: frozenset({"appendOnly", "invariants"}),
    3: frozenset({"appendOnly", "invariants", "checkConstraints"}),
    4: frozenset({"appendOnly", "invariants", "checkConstraints",
                  "changeDataFeed", "generatedColumns"}),
    5: frozenset({"appendOnly", "invariants", "checkConstraints",
                  "changeDataFeed", "generatedColumns", "columnMapping"}),
    6: frozenset({"appendOnly", "invariants", "checkConstraints",
                  "changeDataFeed", "generatedColumns", "columnMapping",
                  "identityColumns"}),
}

#: feature → (reader-writer?, the legacy (reader, writer) versions a
#: legacy protocol is raised to for it; None: listed in table-features
#: form instead). Writer-only features never enter ``readerFeatures``.
FEATURES: dict[str, tuple[bool, tuple[int, int] | None]] = {
    "appendOnly": (False, None),
    "invariants": (False, None),
    "checkConstraints": (False, (1, 3)),
    "changeDataFeed": (False, (1, 4)),
    "generatedColumns": (False, (1, 4)),
    "columnMapping": (True, (2, 5)),
    "identityColumns": (False, None),
    "allowColumnDefaults": (False, None),
    "deletionVectors": (True, None),
    "timestampNtz": (True, None),
    "typeWidening": (True, None),
    "typeWidening-preview": (True, None),
    "v2Checkpoint": (True, None),
    "vacuumProtocolCheck": (True, None),
    "variantType": (True, None),
    "variantType-preview": (True, None),
    "variantShredding": (True, None),
    "variantShredding-preview": (True, None),
    "domainMetadata": (False, None),
    "clustering": (False, None),
    "rowTracking": (False, None),
    "inCommitTimestamp": (False, None),
    "checkpointProtection": (False, None),
}


def implied_features(proto: dict) -> tuple[set[str], set[str]]:
    """(readerFeatures, writerFeatures) a protocol carries — explicit
    lists for (3,7) tables, the spec's implied sets for legacy versions.
    Refuses loudly on versions the spec doesn't define rather than
    silently dropping features."""
    r_ver = int(proto.get("minReaderVersion", 1))
    w_ver = int(proto.get("minWriterVersion", 2))
    if r_ver >= 3:
        r = set(proto.get("readerFeatures") or [])
    elif r_ver in _READER_LEGACY_FEATURES:
        r = set(_READER_LEGACY_FEATURES[r_ver])
    else:
        raise UnsupportedFeatureError(
            f"unknown legacy minReaderVersion {r_ver}"
        )
    if w_ver >= 7:
        w = set(proto.get("writerFeatures") or [])
    elif w_ver in _WRITER_LEGACY_FEATURES:
        w = set(_WRITER_LEGACY_FEATURES[w_ver])
    else:
        raise UnsupportedFeatureError(
            f"unknown legacy minWriterVersion {w_ver}"
        )
    return r, w


def _supports(feature: str, r: set[str], w: set[str]) -> bool:
    """A feature, or its ``-preview`` twin, is listed where it must be."""
    names = {feature, f"{feature}-preview"}
    return bool(names & w) and (not FEATURES[feature][0] or bool(names & r))


def _listed(reader_version: int, r: set[str], w: set[str]) -> dict:
    """The table-features form: writer version 7, and reader version 3
    with an explicit reader list only when ``reader_version`` is 3."""
    out = {"minReaderVersion": reader_version, "minWriterVersion": 7}
    if reader_version >= 3:
        out["readerFeatures"] = sorted(r)
    out["writerFeatures"] = sorted(w)
    return out


def with_features(proto: dict, features: Iterable[str],
                  table_features: bool = False) -> dict | None:
    """``proto`` grown to support ``features``, or None when it already
    does. A legacy protocol first takes the legacy versions its missing
    features have (checkConstraints → writer 3; changeDataFeed and
    generatedColumns → writer 4; columnMapping → (2, 5)); features still
    missing are then listed in table-features form, carrying every
    feature the legacy versions implied. The reader version goes to 3
    only for a reader-writer feature. ``table_features`` skips the legacy
    versions (``addFeatureSupport`` always lists)."""
    r, w = implied_features(proto)
    missing = {f for f in features if not _supports(f, r, w)}
    if not missing:
        return None
    r_ver = int(proto.get("minReaderVersion", 1))
    w_ver = int(proto.get("minWriterVersion", 2))
    if w_ver < 7 and not table_features:
        for f in missing:
            legacy = FEATURES[f][1]
            if legacy is not None:
                r_ver, w_ver = max(r_ver, legacy[0]), max(w_ver, legacy[1])
        raised = {"minReaderVersion": r_ver, "minWriterVersion": w_ver}
        r, w = implied_features(raised)
        missing = {f for f in missing if not _supports(f, r, w)}
        if not missing:
            return raised
    readers = {f for f in missing if FEATURES[f][0]}
    return _listed(3 if readers else r_ver, r | readers, w | missing)


def with_versions(proto: dict, min_reader: int,
                  min_writer: int) -> dict | None:
    """``upgradeTableProtocol``: ``proto`` raised to at least the given
    versions (never lowered), or None when nothing changes. Reader version
    3 requires writer version 7 (Delta spec; delta-spark validates the
    same), and crossing into either lists every implied feature."""
    r_old = int(proto.get("minReaderVersion", 1))
    w_old = int(proto.get("minWriterVersion", 2))
    r_new, w_new = max(r_old, int(min_reader)), max(w_old, int(min_writer))
    if r_new >= 3:
        w_new = max(w_new, 7)
    if (r_new, w_new) == (r_old, w_old):
        return None
    if w_new < 7:
        return {"minReaderVersion": r_new, "minWriterVersion": w_new}
    r, w = implied_features(proto)
    return _listed(min(r_new, 3), r, w)


def without(proto: dict, name: str, truncate_history: bool) -> dict:
    """``DROP FEATURE``: ``proto`` with ``name`` removed. With
    ``truncate_history`` the result also lists ``checkpointProtection``
    (a legacy protocol moves to the table-features form to list it).
    Otherwise a legacy protocol can only drop ``checkConstraints`` from
    writer version 3, by stepping down to 2."""
    r_ver = int(proto["minReaderVersion"])
    w_ver = int(proto["minWriterVersion"])
    r = set(proto.get("readerFeatures") or [])
    w = set(proto.get("writerFeatures") or [])
    protect = {"checkpointProtection"} if truncate_history else set()
    if name in (r | w) or proto.get("writerFeatures") is not None:
        out = {"minReaderVersion": r_ver, "minWriterVersion": w_ver}
        if proto.get("readerFeatures") is not None:
            out["readerFeatures"] = sorted(r - {name})
        if proto.get("writerFeatures") is not None:
            out["writerFeatures"] = sorted((w - {name}) | protect)
        return out
    if truncate_history:
        _, w_all = implied_features(proto)
        return _listed(r_ver, set(), (w_all - {name}) | protect)
    if name != "checkConstraints" or w_ver != 3:
        raise UnsupportedFeatureError(
            f"DROP FEATURE {name!r}: implied by legacy protocol "
            f"{proto} — no supported downgrade")
    return {"minReaderVersion": r_ver, "minWriterVersion": 2}


def normalized(proto: dict) -> dict:
    """The four protocol fields with integer versions (a checkpoint's
    ``protocol`` row)."""
    return {
        "minReaderVersion": int(proto.get("minReaderVersion", 1)),
        "minWriterVersion": int(proto.get("minWriterVersion", 2)),
        "readerFeatures": proto.get("readerFeatures"),
        "writerFeatures": proto.get("writerFeatures"),
    }


def _type_names(dtype) -> set[str]:
    """Primitive type names anywhere in a schema-JSON type."""
    if isinstance(dtype, str):
        return {dtype}
    kind = dtype.get("type")
    if kind == "struct":
        return set().union(*(_type_names(f["type"])
                             for f in dtype.get("fields", [])))
    if kind == "array":
        return _type_names(dtype["elementType"])
    if kind == "map":
        return _type_names(dtype["keyType"]) | _type_names(dtype["valueType"])
    return set()


def required(meta: dict) -> set[str]:
    """The features a ``metaData`` action needs the protocol to list:
    generated, identity and default columns, column mapping, VARIANT and
    TIMESTAMP_NTZ anywhere in the schema, CHECK constraints, the change
    data feed, deletion vectors and the v2 checkpoint policy."""
    config = meta.get("configuration") or {}

    def on(key: str) -> bool:
        return str(config.get(key, "")).lower() == "true"

    out = set()
    if config.get("delta.columnMapping.mode", "none") != "none":
        out.add("columnMapping")
    if any(k.startswith("delta.constraints.") for k in config):
        out.add("checkConstraints")
    # a writer that does not know the feature would commit row changes
    # without cdc files, and the feed would silently lie
    if on("delta.enableChangeDataFeed"):
        out.add("changeDataFeed")
    # listed from the moment the property is set: another writer may
    # write the table's first deletion vector
    if on("delta.enableDeletionVectors"):
        out.add("deletionVectors")
    # readers must know v2Checkpoint before any v2 checkpoint exists
    if str(config.get("delta.checkpointPolicy", "")).lower() == "v2":
        out.add("v2Checkpoint")
    schema = json.loads(meta.get("schemaString") or '{"type": "struct"}')
    for field in schema.get("fields", []):
        md = field.get("metadata") or {}
        if md.get("delta.generationExpression"):
            out.add("generatedColumns")
        if any(k.startswith("delta.identity.") for k in md):
            out.add("identityColumns")
        if md.get("CURRENT_DEFAULT"):
            out.add("allowColumnDefaults")
    types = _type_names(schema)
    if "variant" in types:
        out.add("variantType")
    if "timestamp_ntz" in types:
        out.add("timestampNtz")
    return out


def check_writable(proto: dict) -> None:
    """Writer gate (Delta spec): a writer must not commit to a table that
    lists a writer feature it does not implement."""
    if int(proto.get("minWriterVersion", 2)) >= 7:
        unsupported = (set(proto.get("writerFeatures") or [])
                       - SUPPORTED_WRITER_FEATURES)
        if unsupported:
            raise UnsupportedFeatureError(
                f"writer features not supported: {sorted(unsupported)}"
            )
