"""UPDATE and MERGE-update assignments of a whole struct column conform by
name, as inserts do: ``s = named_struct('b', 20, 'a', 10)`` on
``s struct<a, b>`` stores ``a=10, b=20`` (a positional cast would swap the
same-typed fields), and a struct lacking a field refuses with
SchemaError."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from duckdb_delta_spark import DeltaTable, DeltaWriter
from duckdb_delta_spark.delta.errors import SchemaError
from duckdb_delta_spark.delta.log import DeltaLog

SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("s", T.StructType([
        T.StructField("a", T.LongType()),
        T.StructField("b", T.LongType()),
    ])),
])


def _src(spark, s_ddl, value):
    return spark.createDataFrame([(1, value)], f"id long, s {s_ddl}")


def _keys(spark, *ids):
    return spark.createDataFrame([(i,) for i in ids], "id long")


ASSIGN = {
    "update": lambda spark, w, e: w.update("id = 1", {"s": e}),
    "merge_update": lambda spark, w, e: w.merge(
        _keys(spark, 1), "t.id = s.id", when_matched_update={"s": e},
        when_not_matched_insert=False),
    "merge_by_source_update": lambda spark, w, e: w.merge(
        _keys(spark, 99), "t.id = s.id",
        when_not_matched_by_source_update={"s": e},
        when_not_matched_insert=False),
}


def _table(spark, tdir):
    DeltaWriter.create(spark, tdir, SCHEMA).append(
        spark.createDataFrame([(1, (1, 2))], SCHEMA))
    return DeltaWriter(tdir, spark)


@pytest.mark.parametrize("op", sorted(ASSIGN))
def test_struct_assignment_conforms_by_name(spark, tdir, op):
    w = _table(spark, tdir)
    ASSIGN[op](spark, w, "named_struct('b', 20L, 'a', 10L)")
    got = DeltaTable(tdir).to_df(spark).select("id", "s.a", "s.b").collect()
    assert [tuple(r) for r in got] == [(1, 10, 20)]


def test_merge_update_from_reordered_source_struct(spark, tdir):
    w = _table(spark, tdir)
    w.merge(_src(spark, "struct<b: long, a: long>", (20, 10)), "t.id = s.id",
            when_matched_update={"s": "s.s"}, when_not_matched_insert=False)
    got = DeltaTable(tdir).to_df(spark).select("id", "s.a", "s.b").collect()
    assert [tuple(r) for r in got] == [(1, 10, 20)]


@pytest.mark.parametrize("op", sorted(ASSIGN))
def test_struct_assignment_lacking_field_refuses(spark, tdir, op):
    w = _table(spark, tdir)
    version = DeltaLog(tdir).latest_version()
    with pytest.raises(SchemaError, match="nested shape mismatch"):
        ASSIGN[op](spark, w, "named_struct('b', 20L)")
    assert DeltaLog(tdir).latest_version() == version
