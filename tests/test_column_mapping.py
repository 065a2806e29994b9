"""Column-mapped tables the engine writes read back through every path:
the scan, the change feed and compaction all derive their physical schema
and rename from ``delta/mapping.py``, and schema changes assign ids there."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from duckdb_delta_spark.delta.table import DeltaTable
from duckdb_delta_spark.delta.writer import DeltaWriter

KEY = T.StructType([T.StructField("a", T.LongType(), False)])
MAP_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("s", T.StructType([
        T.StructField("m", T.MapType(KEY, T.LongType()))])),
])


def _rows(df):
    return sorted((r["id"], {k["a"]: v for k, v in r["s"]["m"].items()})
                  for r in df.collect())


@pytest.mark.parametrize("mode", ["name", "id"])
def test_struct_keyed_map_reads_back(spark, tdir, mode):
    """A NOT NULL field inside a struct map key: the file read types it
    nullable, so the physical→logical cast must target a nullable key."""
    w = DeltaWriter.create(spark, tdir, MAP_SCHEMA,
                           configuration={"delta.columnMapping.mode": mode})
    for i in (1, 2):
        w.append(spark.createDataFrame([(i, ({(i,): 10 * i},))], MAP_SCHEMA))
    want = [(1, {1: 10}), (2, {2: 20})]
    assert _rows(DeltaTable(tdir).to_df(spark)) == want

    feed = DeltaTable(tdir).changes(spark, 0, 2)
    assert _rows(feed) == want
    assert {r["_change_type"] for r in feed.collect()} == {"insert"}

    w.compact()
    assert len(DeltaTable(tdir).snapshot.add_files()) == 1
    assert _rows(DeltaTable(tdir).to_df(spark)) == want


def test_add_struct_column_assigns_nested_ids(spark, tdir):
    """``add_column`` gives the new field AND its nested fields mapping ids
    and physical names, and advances maxColumnId past all of them."""
    schema = T.StructType([T.StructField("id", T.LongType())])
    w = DeltaWriter.create(spark, tdir, schema,
                           configuration={"delta.columnMapping.mode": "name"})
    w.append(spark.createDataFrame([(1,)], schema))
    w.add_column("info", "struct<a:long,b:long>")

    snap = DeltaTable(tdir).snapshot
    info = snap.schema["info"]
    ids = [info.metadata["delta.columnMapping.id"]] + [
        f.metadata["delta.columnMapping.id"] for f in info.dataType.fields]
    assert ids == [2, 3, 4]
    for f in [info] + list(info.dataType.fields):
        assert f.metadata["delta.columnMapping.physicalName"].startswith("col-")
    assert snap.configuration["delta.columnMapping.maxColumnId"] == "4"

    wide = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("info", T.StructType([
            T.StructField("a", T.LongType()),
            T.StructField("b", T.LongType())])),
    ])
    DeltaWriter(tdir, spark).append(
        spark.createDataFrame([(2, (20, 21))], wide))
    got = sorted((r["id"], r["info"] and tuple(r["info"]))
                 for r in DeltaTable(tdir).to_df(spark).collect())
    assert got == [(1, None), (2, (20, 21))]


def test_foreign_struct_map_key_with_physical_names(spark, tdir):
    """A spec writer maps the fields inside a map key too: a name-mapped
    table whose key struct field ``a`` is stored as ``pk`` reads ``a``
    back through the batch scan (it read NULL when keys kept their
    logical names) and the streaming source (its Arrow cast refused)."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from duckdb_delta_spark.delta.log import DeltaLog

    os.makedirs(os.path.join(tdir, "_delta_log"))
    key = pa.struct([pa.field("pk", pa.int64())])
    pq.write_table(pa.table({
        "pid": pa.array([1, 2], pa.int64()),
        "pm": pa.array([[({"pk": 7}, 70)], [({"pk": 8}, 80)]],
                       pa.map_(key, pa.int64())),
    }), os.path.join(tdir, "f.parquet"))

    def field(name, typ, fid, phys):
        return {"name": name, "type": typ, "nullable": True, "metadata": {
            "delta.columnMapping.id": fid,
            "delta.columnMapping.physicalName": phys}}

    schema = {"type": "struct", "fields": [
        field("id", "long", 1, "pid"),
        field("m", {"type": "map", "keyType": {
            "type": "struct", "fields": [field("a", "long", 3, "pk")]},
            "valueType": "long", "valueContainsNull": True}, 2, "pm"),
    ]}
    DeltaLog(tdir).commit(0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "t", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema), "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "name",
                              "delta.columnMapping.maxColumnId": "3"}}},
        {"add": {"path": "f.parquet", "partitionValues": {},
                 "size": os.path.getsize(os.path.join(tdir, "f.parquet")),
                 "modificationTime": 0, "dataChange": True}},
    ])
    def rows(df):
        return sorted((r["id"], {k["a"]: v for k, v in r["m"].items()})
                      for r in df.collect())

    want = [(1, {7: 70}), (2, {8: 80})]
    assert rows(DeltaTable(tdir).to_df(spark)) == want

    from duckdb_delta_spark.streaming.delta_source import DeltaPySource

    spark.dataSource.register(DeltaPySource)
    q = (spark.readStream.format("delta_py").option("path", tdir)
         .option("startingVersion", "0").load()
         .writeStream.format("memory").queryName("map_key_stream")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert rows(spark.table("map_key_stream")) == want


ELEM = T.StructType([T.StructField("x", T.LongType())])
VAL = T.StructType([T.StructField("y", T.LongType())])
NESTED = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("arr", T.ArrayType(ELEM)),
    T.StructField("m", T.MapType(T.StringType(), VAL)),
])


def _ids(dt):
    """(name, id, physical name) of every struct field under ``dt``."""
    if isinstance(dt, T.StructType):
        return [(f.name, f.metadata.get("delta.columnMapping.id"),
                 f.metadata.get("delta.columnMapping.physicalName"))
                for f in dt.fields] + [
                    x for f in dt.fields for x in _ids(f.dataType)]
    if isinstance(dt, T.ArrayType):
        return _ids(dt.elementType)
    if isinstance(dt, T.MapType):
        return _ids(dt.keyType) + _ids(dt.valueType)
    return []


def test_assign_ids_maps_structs_in_arrays_and_maps():
    """Fields of structs inside array elements and map values get ids and
    physical names like every other nested field; an already-mapped column
    whose array structs carry no mapping at all (written before they were
    mapped, so its files hold them under logical names) keeps them so."""
    from duckdb_delta_spark.delta.mapping import assign_ids

    out, max_id = assign_ids(T.StructType(NESTED.fields[1:]))
    assert max_id == 4
    got = {name: (fid, phys) for name, fid, phys in _ids(out)}
    assert sorted(fid for fid, _ in got.values()) == [1, 2, 3, 4]
    assert all(phys.startswith("col-") for _, phys in got.values())

    legacy = T.StructType([T.StructField(
        "arr", T.ArrayType(ELEM), True,
        {"delta.columnMapping.id": 1,
         "delta.columnMapping.physicalName": "col-arr"})])
    again, max_id = assign_ids(legacy, start_id=1)
    assert max_id == 1
    assert again == legacy


@pytest.mark.parametrize("mode", ["name", "id"])
def test_structs_in_arrays_and_maps_round_trip(spark, tdir, monkeypatch,
                                               mode):
    """A mapped table with structs inside an array and a map writes those
    fields under their physical names and reads them back through the
    Spark scan, the driver-side scan (name mode) and the change feed."""
    import glob

    import pyarrow.parquet as pq

    from duckdb_delta_spark.delta.scan import DeltaScanBuilder

    w = DeltaWriter.create(spark, tdir, NESTED,
                           configuration={"delta.columnMapping.mode": mode})
    snap = DeltaTable(tdir).snapshot
    assert snap.configuration["delta.columnMapping.maxColumnId"] == "5"
    x = snap.schema["arr"].dataType.elementType["x"]
    y = snap.schema["m"].dataType.valueType["y"]
    for i in (1, 2):
        w.append(spark.createDataFrame(
            [(i, [(10 * i,)], {"k": (100 * i,)})], NESTED))
    want = [(1, [10], {"k": 100}), (2, [20], {"k": 200})]

    def rows(df):
        return sorted((r["id"], [e["x"] for e in r["arr"]],
                       {k: v["y"] for k, v in r["m"].items()})
                      for r in df.collect())

    assert rows(DeltaTable(tdir).to_df(spark)) == want
    monkeypatch.setattr(DeltaScanBuilder, "LOCAL_SCAN_MAX_SHARE", 1.0)
    sb = DeltaTable(tdir).scan(spark).filter_sql("id = 2")
    assert rows(sb.to_df()) == want[1:]
    assert sb.route == ("local" if mode == "name" else "spark")
    assert rows(DeltaTable(tdir).changes(spark, 0, 2)) == want

    f = pq.read_schema(glob.glob(f"{tdir}/*.parquet")[0])
    phys = _arrow_names(f)
    assert x.metadata["delta.columnMapping.physicalName"] in phys
    assert y.metadata["delta.columnMapping.physicalName"] in phys
    assert "x" not in phys and "y" not in phys


def _arrow_names(schema):
    """Every field name at every level of a pyarrow schema."""
    import pyarrow as pa

    out = []

    def walk(t):
        if pa.types.is_struct(t):
            for i in range(t.num_fields):
                out.append(t.field(i).name)
                walk(t.field(i).type)
        elif pa.types.is_list(t):
            walk(t.value_type)
        elif pa.types.is_map(t):
            walk(t.key_type)
            walk(t.item_type)

    for fld in schema:
        out.append(fld.name)
        walk(fld.type)
    return out
