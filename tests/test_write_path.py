"""Behaviour every ``DeltaWriter`` data write shares through the one
rows-to-files path: struct columns conform by name on append, overwrite,
replaceWhere and MERGE insert alike; a nested shape mismatch refuses with
SchemaError on each of them; a replayed app-transaction version is
skipped by every idempotent op, MERGE included, and by each foreachBatch
sink."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from duckdb_delta_spark import DeltaTable, DeltaWriter
from duckdb_delta_spark.delta import logging as dlog
from duckdb_delta_spark.delta.errors import SchemaError
from duckdb_delta_spark.delta.log import DeltaLog
from duckdb_delta_spark.streaming.foreach_sink import (
    delta_foreach_batch,
    delta_foreach_merge,
    delta_foreach_replace_where,
)

STRUCT_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("s", T.StructType([
        T.StructField("a", T.LongType()),
        T.StructField("b", T.LongType()),
    ])),
])

WRITES = {
    "append": lambda w, df: w.append(df),
    "overwrite": lambda w, df: w.overwrite(df),
    "replace_where": lambda w, df: w.overwrite(df, where="id = 1"),
    "merge_insert": lambda w, df: w.merge(df, "t.id = s.id"),
}


def _struct_table(spark, tdir):
    w = DeltaWriter.create(spark, tdir, STRUCT_SCHEMA)
    w.append(spark.createDataFrame([(0, (1, 2))], STRUCT_SCHEMA))
    return DeltaWriter(tdir, spark)


@pytest.mark.parametrize("op", sorted(WRITES))
def test_reordered_struct_conforms_by_name(spark, tdir, op):
    """``s = {b: 20, a: 10}`` lands as ``a=10, b=20``: a positional cast
    would swap the same-typed fields."""
    w = _struct_table(spark, tdir)
    df = spark.createDataFrame(
        [(1, (20, 10))], "id long, s struct<b: long, a: long>")
    WRITES[op](w, df)
    got = DeltaTable(tdir).to_df(spark).where("id = 1").select(
        "s.a", "s.b").collect()
    assert [tuple(r) for r in got] == [(10, 20)]


@pytest.mark.parametrize("op", sorted(WRITES))
def test_struct_missing_field_refuses(spark, tdir, op):
    w = _struct_table(spark, tdir)
    version = DeltaLog(tdir).latest_version()
    df = spark.createDataFrame([(1, (10,))], "id long, s struct<a: long>")
    with pytest.raises(SchemaError, match="nested shape mismatch"):
        WRITES[op](w, df)
    assert DeltaLog(tdir).latest_version() == version


def test_replayed_merge_version_is_skipped(spark, tdir):
    schema = T.StructType([T.StructField("k", T.LongType()),
                           T.StructField("n", T.LongType())])
    DeltaWriter.create(spark, tdir, schema).append(
        spark.createDataFrame([(1, 0)], schema))
    src = spark.createDataFrame([(1, 1)], schema)

    def merge():
        return DeltaWriter(tdir, spark).merge(
            src, "t.k = s.k", when_matched_update={"n": "t.n + s.n"},
            txn_app_id="job", txn_version=1)

    assert merge() is not None
    version = DeltaLog(tdir).latest_version()
    assert merge() is None
    assert DeltaLog(tdir).latest_version() == version
    assert [tuple(r) for r in DeltaTable(tdir).to_df(spark).collect()] \
        == [(1, 1)]


SINKS = {
    "stream.foreach.skip_replayed": lambda p: delta_foreach_batch(p),
    "stream.merge.skip_replayed": lambda p: delta_foreach_merge(
        p, "t.k = s.k", when_matched_update={"v": "s.v"}),
    "stream.replace.skip_replayed": lambda p: delta_foreach_replace_where(
        p, "k >= 0"),
}


@pytest.mark.parametrize("event", sorted(SINKS))
def test_foreach_sink_skips_replayed_batch(spark, tdir, event):
    schema = T.StructType([T.StructField("k", T.LongType()),
                           T.StructField("v", T.LongType())])
    DeltaWriter.create(spark, tdir, schema)
    fn = SINKS[event](tdir)
    fn(spark.createDataFrame([(1, 10)], schema), 0)
    version = DeltaLog(tdir).latest_version()
    rows = sorted(map(tuple, DeltaTable(tdir).to_df(spark).collect()))

    seen: list[dict] = []
    dlog.add_sink(seen.append)
    try:
        fn(spark.createDataFrame([(1, 99), (2, 20)], schema), 0)
    finally:
        dlog.remove_sink(seen.append)
    assert DeltaLog(tdir).latest_version() == version
    assert sorted(map(tuple, DeltaTable(tdir).to_df(spark).collect())) == rows
    skips = [r for r in seen if r["event"] == event]
    assert len(skips) == 1
    assert (skips[0]["batch_id"], skips[0]["last_committed"]) == (0, 0)
