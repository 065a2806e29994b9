"""Golden protocol matrix: the protocol every feature-adding operation
commits, from each starting protocol.

Every protocol upgrade is derived by one rule (``delta/protocol.py``) and
``Transaction`` applies it to every ``metaData`` commit. This table pins
what that rule produces per operation, so an operation that forgets a
feature, lists a writer-only feature as a reader feature, or grows the
protocol differently from its siblings shows up as one changed cell.

A cell is ``"<reader>,<writer>"`` plus ``r=`` / ``w=`` for the explicit
feature lists; an operation that refuses records ``error:<class>``.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duckdb_delta_spark.delta.log import DeltaLog
from duckdb_delta_spark.delta.snapshot import Snapshot
from duckdb_delta_spark.delta.transaction import Transaction
from duckdb_delta_spark.delta.writer import DeltaWriter, _commit_info

BASE = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("s", T.StringType()),
    T.StructField("x", T.IntegerType()),
])

STARTS = {
    "1,2": {"minReaderVersion": 1, "minWriterVersion": 2},
    "1,3": {"minReaderVersion": 1, "minWriterVersion": 3},
    "1,4": {"minReaderVersion": 1, "minWriterVersion": 4},
    "2,5": {"minReaderVersion": 2, "minWriterVersion": 5},
    "1,7": {"minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["appendOnly", "checkpointProtection",
                               "invariants"]},
    "3,7": {"minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["vacuumProtocolCheck"],
            "writerFeatures": ["appendOnly", "invariants",
                               "vacuumProtocolCheck"]},
}

_W4 = "appendOnly,changeDataFeed,checkConstraints,generatedColumns,invariants"
_W5 = _W4.replace("generatedColumns", "columnMapping,generatedColumns")


def _cell(proto: dict) -> str:
    out = f"{proto['minReaderVersion']},{proto['minWriterVersion']}"
    for key, tag in (("readerFeatures", "r"), ("writerFeatures", "w")):
        if proto.get(key) is not None:
            out += f" {tag}=" + ",".join(sorted(proto[key]))
    return out


def _field(name, dtype, **md):
    return T.StructField(name, dtype, True, md)


def _with(*fields):
    return T.StructType(BASE.fields + list(fields))


_NESTED_NTZ = T.StructType([_field("t", T.TimestampNTZType())])

# create(schema, configuration, cluster_by) — no starting protocol
CREATE = {
    "plain": (BASE, {}, None),
    "generated": (_with(_field("g", T.IntegerType(),
                               **{"delta.generationExpression": "x + 1"})),
                  {}, None),
    "identity": (_with(_field("n", T.LongType(),
                              **{"delta.identity.start": 1,
                                 "delta.identity.step": 1})), {}, None),
    "default": (_with(_field("d", T.IntegerType(), CURRENT_DEFAULT="5")),
                {}, None),
    "mapping": (BASE, {"delta.columnMapping.mode": "name"}, None),
    "variant": (_with(_field("v", T.VariantType())), {}, None),
    "ntz": (_with(_field("t", T.TimestampNTZType())), {}, None),
    "ntz_nested": (_with(_field("st", _NESTED_NTZ)), {}, None),
    "check": (BASE, {"delta.constraints.pos": "x > 0"}, None),
    "cdf": (BASE, {"delta.enableChangeDataFeed": "true"}, None),
    "dv": (BASE, {"delta.enableDeletionVectors": "true"}, None),
    "v2_policy": (BASE, {"delta.checkpointPolicy": "v2"}, None),
    "cluster_by": (BASE, {}, ["x"]),
    "row_tracking": (BASE, {"delta.enableRowTracking": "true"}, None),
    "ict": (BASE, {"delta.enableInCommitTimestamps": "true"}, None),
    "generated+identity": (
        _with(_field("g", T.IntegerType(),
                     **{"delta.generationExpression": "x + 1"}),
              _field("n", T.LongType(), **{"delta.identity.start": 1,
                                           "delta.identity.step": 1})),
        {}, None),
    "mapping+variant": (_with(_field("v", T.VariantType())),
                        {"delta.columnMapping.mode": "name"}, None),
}

CREATE_GOLDEN = {
    "plain": "1,2",
    "generated": "1,4",
    "identity": "1,7 w=appendOnly,identityColumns,invariants",
    "default": "1,7 w=allowColumnDefaults,appendOnly,invariants",
    "mapping": "2,5",
    "variant": "3,7 r=variantType w=appendOnly,invariants,variantType",
    "ntz": "3,7 r=timestampNtz w=appendOnly,invariants,timestampNtz",
    "ntz_nested": "3,7 r=timestampNtz w=appendOnly,invariants,timestampNtz",
    "check": "1,3",
    "cdf": "1,4",
    "dv": "3,7 r=deletionVectors w=appendOnly,deletionVectors,invariants",
    "v2_policy": "3,7 r=v2Checkpoint w=appendOnly,invariants,v2Checkpoint",
    "cluster_by": "1,7 w=appendOnly,clustering,domainMetadata,invariants",
    "row_tracking": "1,7 w=appendOnly,domainMetadata,invariants,rowTracking",
    "ict": "1,7 w=appendOnly,inCommitTimestamp,invariants",
    "generated+identity": "1,7 w=" + _W4.replace(
        "generatedColumns", "generatedColumns,identityColumns"),
    "mapping+variant": (f"3,7 r=columnMapping,variantType "
                        f"w={_W5},variantType"),
}


def _props(updates):
    return lambda spark, w: w.set_properties(updates)


def _delete(spark, w):
    w.append(spark.range(4).select(
        F.col("id"), F.lit("a").alias("s"),
        F.col("id").cast("int").alias("x")).coalesce(1))
    w.delete("id = 1")


def _overwrite(sql):
    def op(spark, w):
        w.overwrite(spark.range(2).selectExpr("id", sql),
                    overwrite_schema=True)
    return op


def _shred(spark, w):
    w.add_column("v", T.VariantType())
    w.enable_variant_shredding()


OPS = {
    "set_cdf": _props({"delta.enableChangeDataFeed": "true"}),
    "set_dv": _props({"delta.enableDeletionVectors": "true"}),
    "set_ict": _props({"delta.enableInCommitTimestamps": "true"}),
    "set_v2_policy": _props({"delta.checkpointPolicy": "v2"}),
    "set_row_tracking": _props({"delta.enableRowTracking": "true"}),
    "set_mapping": _props({"delta.columnMapping.mode": "name"}),
    "add_constraint": lambda spark, w: w.add_constraint("pos", "x > -1"),
    "set_default": lambda spark, w: w.set_default("x", "7"),
    "set_cluster_by": lambda spark, w: w.set_cluster_by(["x"]),
    "alter_column_type": lambda spark, w: w.alter_column_type("x", "bigint"),
    "enable_variant_shredding": _shred,
    "feature_writer_only": lambda spark, w: w.add_feature_support(
        "domainMetadata"),
    "feature_reader_writer": lambda spark, w: w.add_feature_support(
        "deletionVectors"),
    "upgrade_1_4": lambda spark, w: w.upgrade_protocol(1, 4),
    "upgrade_3_7": lambda spark, w: w.upgrade_protocol(3, 7),
    "first_dv_delete": _delete,
    "v2_checkpoint": lambda spark, w: w.checkpoint(v2=True),
    "add_column": lambda spark, w: w.add_column("n", "int"),
    "add_column_variant": lambda spark, w: w.add_column("v", T.VariantType()),
    "add_column_ntz": lambda spark, w: w.add_column(
        "t", T.TimestampNTZType()),
    "add_column_ntz_nested": lambda spark, w: w.add_column(
        "st", _NESTED_NTZ),
    "merge_schema_variant": lambda spark, w: w.merge_schema_with(
        _with(_field("v", T.VariantType()))),
    "merge_schema_ntz": lambda spark, w: w.merge_schema_with(
        _with(_field("st", _NESTED_NTZ))),
    "overwrite_ntz": _overwrite("TIMESTAMP_NTZ'2024-01-02 03:04:05' AS t"),
    "overwrite_variant": _overwrite("""parse_json('{"a": 1}') AS v"""),
}

_R_DV = "deletionVectors"
_FEAT = {
    # start → (reader features, writer features) a (3,7) upgrade carries
    "1,2": ("", "appendOnly,invariants"),
    "1,3": ("", "appendOnly,checkConstraints,invariants"),
    "1,4": ("", _W4),
    "2,5": ("columnMapping", _W5),
    "1,7": ("", "appendOnly,checkpointProtection,invariants"),
    "3,7": ("vacuumProtocolCheck",
            "appendOnly,invariants,vacuumProtocolCheck"),
}


def _rw(start: str, *feats: str) -> str:
    """The (3,7) form of ``start`` plus reader-writer ``feats``."""
    r, w = _FEAT[start]
    rs = sorted({*filter(None, r.split(",")), *feats})
    ws = sorted({*w.split(","), *feats})
    return f"3,7 r={','.join(rs)} w={','.join(ws)}"


def _wo(start: str, *feats: str) -> str:
    """``start`` with writer-only ``feats`` listed (writer version 7,
    reader version kept)."""
    r, w = _FEAT[start]
    reader = STARTS[start]["minReaderVersion"]
    ws = ",".join(sorted({*w.split(","), *feats}))
    return f"{reader},7" + (f" r={r}" if reader >= 3 else "") + f" w={ws}"


def _all(fn):
    return {s: fn(s) for s in STARTS}


GOLDEN = {
    "set_cdf": {"1,2": "1,4", "1,3": "1,4", "1,4": "1,4", "2,5": "2,5",
                "1,7": _wo("1,7", "changeDataFeed"),
                "3,7": _wo("3,7", "changeDataFeed")},
    "set_dv": _all(lambda s: _rw(s, _R_DV)),
    "set_ict": _all(lambda s: _wo(s, "inCommitTimestamp")),
    "set_v2_policy": _all(lambda s: _rw(s, "v2Checkpoint")),
    "set_row_tracking": _all(lambda s: _wo(s, "domainMetadata",
                                           "rowTracking")),
    "set_mapping": {"1,2": "2,5", "1,3": "2,5", "1,4": "2,5", "2,5": "2,5",
                    "1,7": _rw("1,7", "columnMapping"),
                    "3,7": _rw("3,7", "columnMapping")},
    "add_constraint": {"1,2": "1,3", "1,3": "1,3", "1,4": "1,4",
                       "2,5": "2,5",
                       "1,7": _wo("1,7", "checkConstraints"),
                       "3,7": _wo("3,7", "checkConstraints")},
    "set_default": _all(lambda s: _wo(s, "allowColumnDefaults")),
    "set_cluster_by": _all(lambda s: _wo(s, "clustering", "domainMetadata")),
    "alter_column_type": _all(lambda s: _rw(s, "typeWidening")),
    "enable_variant_shredding": _all(
        lambda s: _rw(s, "variantShredding", "variantType")),
    "feature_writer_only": _all(lambda s: _wo(s, "domainMetadata")),
    "feature_reader_writer": _all(lambda s: _rw(s, _R_DV)),
    "upgrade_1_4": {"1,2": "1,4", "1,3": "1,4", "1,4": "1,4", "2,5": "2,5",
                    "1,7": _wo("1,7"), "3,7": _wo("3,7")},
    "upgrade_3_7": _all(lambda s: _rw(s)),
    "first_dv_delete": _all(lambda s: _rw(s, _R_DV)),
    "v2_checkpoint": _all(lambda s: _rw(s, "v2Checkpoint")),
    "add_column": {s: _cell(p) for s, p in STARTS.items()},
    "add_column_variant": _all(lambda s: _rw(s, "variantType")),
    "add_column_ntz": _all(lambda s: _rw(s, "timestampNtz")),
    "add_column_ntz_nested": _all(lambda s: _rw(s, "timestampNtz")),
    "merge_schema_variant": _all(lambda s: _rw(s, "variantType")),
    "merge_schema_ntz": _all(lambda s: _rw(s, "timestampNtz")),
    "overwrite_ntz": _all(lambda s: _rw(s, "timestampNtz")),
    "overwrite_variant": _all(lambda s: _rw(s, "variantType")),
}


def _protocol(path: str) -> str:
    return _cell(Snapshot.build(DeltaLog(path)).protocol)


def observe_create(spark, root: str, name: str) -> str:
    schema, config, cluster_by = CREATE[name]
    path = os.path.join(root, f"create-{name}")
    try:
        DeltaWriter.create(spark, path, schema, configuration=dict(config),
                           cluster_by=cluster_by)
    except Exception as e:  # noqa: BLE001 - the refusal is the cell
        return f"error:{type(e).__name__}"
    return _protocol(path)


def observe(spark, root: str, op: str, start: str) -> str:
    """Create a BASE table, force ``start`` as its protocol, run ``op``
    and return the protocol it leaves."""
    path = os.path.join(root, f"{op}-{start.replace(',', '_')}")
    w = DeltaWriter.create(spark, path, BASE)
    Transaction(w.log, w._snapshot).commit([
        {"commitInfo": _commit_info("UPGRADE PROTOCOL")},
        {"protocol": dict(STARTS[start])},
    ])
    try:
        OPS[op](spark, DeltaWriter(path, spark))
    except Exception as e:  # noqa: BLE001 - the refusal is the cell
        return f"error:{type(e).__name__}"
    return _protocol(path)


def test_create_protocol_matrix(spark, tmp_path):
    got = {n: observe_create(spark, str(tmp_path), n) for n in CREATE}
    assert got == CREATE_GOLDEN


@pytest.mark.parametrize("op", sorted(OPS))
def test_protocol_matrix(spark, tmp_path, op):
    got = {s: observe(spark, str(tmp_path), op, s) for s in STARTS}
    assert got == GOLDEN[op]


def test_protocol_commit_lists_what_the_metadata_needs(spark, tmp_path):
    """A table whose metadata needs features its protocol lacks (a
    TIMESTAMP_NTZ column and CDF on a (1,2) table, as other writers leave
    them): the next protocol upgrade lists those features too, so the
    table it leaves is valid for spec readers."""
    path = str(tmp_path / "t")
    schema = _with(_field("t", T.TimestampNTZType()))
    meta = {"id": "m", "format": {"provider": "parquet", "options": {}},
            "schemaString": schema.json(), "partitionColumns": [],
            "configuration": {"delta.enableChangeDataFeed": "true"}}
    os.makedirs(os.path.join(path, "_delta_log"))
    DeltaLog(path).commit(0, [
        {"commitInfo": _commit_info("CREATE TABLE")},
        {"protocol": dict(STARTS["1,2"])},
        {"metaData": meta},
    ])
    DeltaWriter(path, spark).set_cluster_by(["x"])
    assert _protocol(path) == (
        "3,7 r=timestampNtz w=appendOnly,changeDataFeed,clustering,"
        "domainMetadata,invariants,timestampNtz")
