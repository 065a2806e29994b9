"""``filter_blocked_domains`` with a blocklist entry holding a backslash:
the literal array is built with ``F.lit`` for it instead of refusing to
render, and the entry is matched literally."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from duckdb_delta_spark.operators import text as X
from duckdb_delta_spark.operators.exprlit import lit_strings, sql_string


def test_backslash_blocklist_entry(spark):
    docs = spark.createDataFrame(
        [(1, "see http://bad.com/x"), (2, "see http://good.com/y"),
         (3, "no links")], "doc_id long, text string")
    blocklist = spark.createDataFrame([("a\\b.com",), ("bad.com",)], "d string")
    got = X.filter_blocked_domains(docs, blocklist).select(
        "doc_id", "blocked").collect()
    assert sorted(map(tuple, got)) == [(1, True), (2, False), (3, False)]


def test_lit_strings_keeps_backslashes_literal(spark):
    vals = ["a\\b.com", "it's", "\\n"]
    with pytest.raises(ValueError):
        sql_string(vals[0])
    row = spark.range(1).select(lit_strings(vals).alias("a"),
                                F.array(*map(F.lit, vals)).alias("b")).first()
    assert row["a"] == row["b"] == vals
