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
