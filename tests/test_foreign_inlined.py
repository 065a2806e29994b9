"""Reads (and writes) against REAL foreign-engine Delta tables.

The reference repo checks in six Delta tables written by OTHER engines
(``data/inlined/*`` — Apache-Spark/Delta-Lake 3.3.1 and a delta-spark
4.0 snapshot, per each log's engineInfo) and drives its own acceptance
tests over them. Everything else in this repo's foreign-golden suite is
hand-encoded from the spec (testing/foreign.py); these tables are the
one place the sandbox holds genuine second-engine artifacts, so every
test here is end-to-end validation against another implementation's
bytes — including a pretty-printed multi-line action log
(null_constraints_*), a foreign classic checkpoint with variant columns
(unshredded-variant), and the partition-equality regression table
(issue_303). Expected values cite the reference test that pins them.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duckdb_delta_spark.delta import errors
from duckdb_delta_spark.delta.table import DeltaTable
from duckdb_delta_spark.delta.writer import DeltaWriter

REF = "/root/reference/data/inlined"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF), reason="reference inlined tables not present"
)


def _copy(name: str, tdir: str) -> str:
    dest = os.path.join(tdir, os.path.basename(name))
    shutil.copytree(os.path.join(REF, name), dest)
    return dest


def test_simple_table_read_and_append(spark, tdir):
    """delta-rs-era simple table: 10 rows, sum(i)=45 (reference:
    test/sql/generated/writing/append/transaction_append.test:19-21);
    appending 5 through THIS writer lands 11 rows / sum 50 (:36-48)."""
    path = _copy("simple_table/delta_lake", tdir)
    df = DeltaTable(path).to_df(spark)
    row = df.agg(
        F.count(F.lit(1)).alias("c"), F.sum("i").alias("s")).collect()[0]
    assert (row["c"], row["s"]) == (10, 45)

    w = DeltaWriter(path, spark)
    w.append(spark.createDataFrame(
        [(5,)], T.StructType([T.StructField("i", T.LongType())])))
    row = DeltaTable(path).to_df(spark).agg(
        F.count(F.lit(1)).alias("c"), F.sum("i").alias("s")).collect()[0]
    assert (row["c"], row["s"]) == (11, 50)


def test_issue_303_partition_equality_never_overprunes(spark):
    """Equality/IN/range filters on a partition column with a single
    partition value must keep all 16 rows — the reference's v1.5.1
    pruning regression (test/sql/issues/
    partition_equality_filter__issue_303.test:30-55), checked through
    BOTH the pushdown scan builder and a plain DataFrame filter."""
    path = os.path.join(REF, "issue_303_partitioned/delta_lake")
    t = DeltaTable(path)
    assert t.to_df(spark).count() == 16

    sb = t.scan(spark).filter("part", "=", 42)
    assert sb.to_df().count() == 16
    rep = sb.skip_report()
    assert rep["files_skipped_by_partition"] == 0

    assert t.scan(spark).filter("part", "in", [42]).to_df().count() == 16
    assert t.scan(spark).filter("part", "in", [31, 42]).to_df().count() == 16
    assert t.scan(spark).filter("part", ">", 40).to_df().count() == 16
    # and the non-matching literal really prunes
    assert t.scan(spark).filter("part", "=", 31).to_df().count() == 0

    df = t.to_df(spark)
    assert df.where(F.col("part") == 42).count() == 16
    assert df.where(F.col("part").isin(42)).count() == 16


def test_pretty_printed_log_reads(spark):
    """null_constraints_* logs are PRETTY-PRINTED multi-line JSON
    documents (Delta-Lake 3.3.1 artifacts) — the concatenated-document
    fallback must replay them; 10 rows each (reference:
    test/sql/main/writing/non_nullable.test:22-26,78-82)."""
    for name in ("null_constraints_structs", "null_constraints_lists"):
        t = DeltaTable(os.path.join(REF, name, "delta_lake"))
        assert t.to_df(spark).count() == 10, name


def test_null_constraints_structs_enforced_on_append(spark, tdir):
    """Nested NOT NULL from a foreign schema binds THIS writer: a null
    in nested_struct.value.a must reject the append (reference mirrors:
    non_nullable.test:28-57); a fully non-null row lands 11 rows."""
    from duckdb_delta_spark.delta.mapping import nullable_type as _nullable_type

    path = _copy("null_constraints_structs/delta_lake", tdir)
    w = DeltaWriter(path, spark)
    # nullable-widened input schema: createDataFrame would otherwise
    # reject the null itself — the point is that the WRITER enforces
    schema = T.StructType([
        T.StructField(f.name, _nullable_type(f.dataType), True)
        for f in DeltaTable(path).snapshot.schema.fields
    ])

    bad = spark.createDataFrame([(1, (1,), ((None, 1),))], schema)
    with pytest.raises(errors.ConstraintViolationError, match="NOT NULL"):
        w.append(bad)
    assert DeltaTable(path).to_df(spark).count() == 10  # rolled back

    good = spark.createDataFrame([(1, (1,), ((1, 1),))], schema)
    w.append(good)
    assert DeltaTable(path).to_df(spark).count() == 11


def test_null_constraints_lists_append_refused(spark, tdir):
    """NOT NULL inside an array element is unverifiable from footer
    stats: ANY append must refuse, matching the reference
    (non_nullable.test:84: 'null constraints in arrays is not
    supported'), and leave the table untouched."""
    from duckdb_delta_spark.delta.mapping import nullable_type as _nullable_type

    path = _copy("null_constraints_lists/delta_lake", tdir)
    w = DeltaWriter(path, spark)
    schema = T.StructType([
        T.StructField(f.name, _nullable_type(f.dataType), True)
        for f in DeltaTable(path).snapshot.schema.fields
    ])
    rows = spark.createDataFrame([(1, [(1,)])], schema)
    with pytest.raises(errors.UnsupportedFeatureError, match="array"):
        w.append(rows)
    assert DeltaTable(path).to_df(spark).count() == 10


def test_pretty_printed_log_roundtrip_any_table(spark, tdir):
    """Property: reformatting EVERY commit JSON of a table this engine
    wrote (appends, DV deletes, update, restore) into pretty-printed
    multi-document form must change nothing — reads, time travel, and
    the derived change feed all stay byte-identical. Hardens the
    concatenated-document parser beyond the two checked-in foreign
    logs."""
    import glob
    import json as _json

    from duckdb_delta_spark.delta.log import DeltaLog

    path = os.path.join(tdir, "pp")
    schema = T.StructType([T.StructField("k", T.LongType()),
                           T.StructField("v", T.LongType())])
    w = DeltaWriter.create(spark, path, schema)
    w.append(spark.createDataFrame([(i, i * 10) for i in range(20)], schema))
    w.delete("k < 5")
    w.update("k = 7", {"v": "v + 1"})
    w.restore(version=1)

    def state():
        t = DeltaTable(path)
        rows = sorted(map(tuple, t.to_df(spark).collect()))
        v1 = sorted(map(tuple, DeltaTable(path, version=1)
                        .to_df(spark).collect()))
        ch = sorted(
            (r["_commit_version"], r["_change_type"], r["k"], r["v"])
            for r in t.changes(spark, starting_version=0).collect()
        )
        return rows, v1, ch

    before = state()
    for f in glob.glob(os.path.join(path, "_delta_log", "*.json")):
        actions = DeltaLog(path).read_actions_file(f)
        with open(f, "w") as fh:
            for a in actions:
                fh.write(_json.dumps(a, indent=2) + "\n")
    after = state()
    assert after == before
    assert len(before[2]) > 0  # the feed actually has rows


def test_pretty_printed_log_keeps_ict(spark, tdir):
    """In-commit timestamps must survive pretty-printing: a decode
    failure on the line path falls back to a full-document parse
    instead of silently swapping the commit clock for file mtime."""
    import glob
    import json as _json

    from duckdb_delta_spark.delta.log import DeltaLog

    path = os.path.join(tdir, "ict")
    schema = T.StructType([T.StructField("k", T.LongType())])
    w = DeltaWriter.create(
        spark, path, schema,
        configuration={"delta.enableInCommitTimestamps": "true"})
    w.append(spark.createDataFrame([(1,)], schema))

    before = [DeltaLog(path).read_ict(v) for v in (0, 1)]
    assert all(t is not None for t in before)

    for f in glob.glob(os.path.join(path, "_delta_log", "*.json")):
        actions = DeltaLog(path).read_actions_file(f)
        with open(f, "w") as fh:
            for a in actions:
                fh.write(_json.dumps(a, indent=2) + "\n")
    assert [DeltaLog(path).read_ict(v) for v in (0, 1)] == before


def test_variant_basic_deep_get(spark):
    """Spark-written unshredded variant table: one row, id=21,
    data = {'a': 'test', 'b': [21, 'test', true, {'c': 42}]}
    (reference: test/sql/inlined/variant/basic.test:22-45)."""
    t = DeltaTable(os.path.join(REF, "variant/basic"))
    df = t.to_df(spark)
    got = df.select(
        "id",
        F.try_variant_get("data", "$.a", "string").alias("a"),
        F.try_variant_get("data", "$.b[0]", "long").alias("b0"),
        F.try_variant_get("data", "$.b[2]", "boolean").alias("b2"),
        F.try_variant_get("data", "$.b[3].c", "long").alias("b3c"),
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["id"], r["a"], r["b0"], r["b2"], r["b3c"]) == (
        21, "test", 21, True, 42)


def test_unshredded_variant_checkpoint_replay(spark):
    """delta-kernel's 'spark-variant-checkpoint' golden (info.txt):
    100 CTAS rows + one-row appends of id 0 and 1 (102 total, sum 4951)
    over 3 commits with a FOREIGN classic checkpoint at v2
    (checkpointInterval=2), v = {'key': id}, array/struct/map of
    variants. Snapshot replay must go through the foreign checkpoint
    and every variant path must decode."""
    t = DeltaTable(os.path.join(REF, "unshredded-variant"))
    df = t.to_df(spark)
    agg = df.agg(
        F.count(F.lit(1)).alias("c"), F.sum("id").alias("s")).collect()[0]
    assert (agg["c"], agg["s"]) == (102, 4951)

    # v = {"key": id} for every row — zero mismatches
    assert df.where(
        F.try_variant_get("v", "$.key", "long") != F.col("id")
    ).count() == 0
    # array_of_variants = [j, null, j, null, j]
    arr = df.select(
        "id",
        F.size("array_of_variants").alias("n"),
        F.try_variant_get(F.col("array_of_variants")[0], "$.key", "long")
        .alias("k0"),
        F.col("array_of_variants")[1].alias("null1"),
    )
    assert arr.where(F.col("n") != 5).count() == 0
    assert arr.where(F.col("k0") != F.col("id")).count() == 0
    assert arr.where(F.col("null1").isNotNull()).count() == 0
    # the checkpoint was actually consulted (v2 classic, foreign bytes)
    assert t.snapshot.checkpoint_version == 2
    # struct_of_variants.v mirrors v
    assert df.where(
        F.try_variant_get(F.col("struct_of_variants.v"), "$.key", "long")
        != F.col("id")
    ).count() == 0


def test_unshredded_variant_change_feed(spark):
    """Derived CDF over the foreign commit history: v0 CTAS inserts 100
    rows, v1 and v2 append one row each (id 0 and 1) — the log-derived
    feed must reproduce exactly that, from the pre-table baseline."""
    t = DeltaTable(os.path.join(REF, "unshredded-variant"))
    ch = t.changes(spark, starting_version=-1)
    per = {
        (r["_commit_version"], r["_change_type"]): r["n"]
        for r in ch.groupBy("_commit_version", "_change_type")
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per == {(0, "insert"): 100, (1, "insert"): 1, (2, "insert"): 1}
    v12 = t.changes(spark, starting_version=0).select(
        "id", F.try_variant_get("v", "$.key", "long").alias("k")).collect()
    assert sorted((r["id"], r["k"]) for r in v12) == [(0, 0), (1, 1)]


def test_parse_action_text_format_matrix():
    """The concatenated-document parser accepts every real-world layout:
    NDJSON, CRLF NDJSON, pretty-printed multi-line, back-to-back docs on
    ONE line, and mixtures — and rejects trailing garbage."""
    from duckdb_delta_spark.delta.log import DeltaLog

    docs = [{"commitInfo": {"timestamp": 1}},
            {"add": {"path": "p", "partitionValues": {}, "size": 1}}]
    import json as _json

    nd = "\n".join(_json.dumps(d) for d in docs)
    crlf = "\r\n".join(_json.dumps(d) for d in docs) + "\r\n"
    pretty = "\n".join(_json.dumps(d, indent=3) for d in docs)
    oneline = "".join(_json.dumps(d) for d in docs)
    mixed = _json.dumps(docs[0], indent=2) + "\n" + _json.dumps(docs[1])
    for text in (nd, crlf, pretty, oneline, mixed):
        assert DeltaLog._parse_action_text(text) == docs, text
    assert DeltaLog._parse_action_text(nd + "\n{broken") is None
    assert DeltaLog._parse_action_text("") == []


def test_stream_foreign_variant_table(spark):
    """The Python streaming source over the FOREIGN variant table:
    snapshot init goes through the foreign classic checkpoint, the
    Arrow bridge carries variant (struct-backed) columns, and every
    row's v = {'key': id} decodes in the stream output."""
    from duckdb_delta_spark.streaming.delta_source import DeltaPySource

    spark.dataSource.register(DeltaPySource)
    df = (
        spark.readStream.format("delta_py")
        .option("path", os.path.join(REF, "unshredded-variant"))
        .option("startingVersion", "0")
        .load()
    )
    q = (
        df.selectExpr("id", "try_variant_get(v, '$.key', 'long') AS k")
        .writeStream.format("memory").queryName("foreign_variant_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    row = spark.sql(
        "SELECT count(*) c, sum(id) s,"
        " sum(CASE WHEN k = id THEN 1 ELSE 0 END) m"
        " FROM foreign_variant_stream"
    ).collect()[0]
    assert (row["c"], row["s"], row["m"]) == (102, 4951, 102)


def test_attach_foreign_issue_303(spark):
    """ATTACH-equivalent over the foreign partitioned table: SQL through
    the catalog view must match the reference's ATTACH block
    (partition_equality_filter__issue_303.test:58-72)."""
    from duckdb_delta_spark.delta.catalog import DeltaCatalog

    cat = DeltaCatalog(spark)
    cat.attach("issue_303", os.path.join(REF, "issue_303_partitioned/delta_lake"))
    try:
        q = lambda s: spark.sql(s).collect()[0][0]  # noqa: E731
        assert q("SELECT count(*) FROM issue_303") == 16
        assert q("SELECT count(*) FROM issue_303 WHERE part = 42") == 16
        assert q("SELECT count(*) FROM issue_303 WHERE part IN (42)") == 16
    finally:
        cat.detach("issue_303")


def test_append_variant_rows_to_foreign_table(spark, tdir):
    """THIS writer appends variant rows to the FOREIGN variant table
    (mirror of the reference's INSERT block, variant/basic.test:47-59):
    scalar, object, and array variants land next to the Spark-written
    row and every path decodes on re-read."""
    path = _copy("variant/basic", tdir)
    w = DeltaWriter(path, spark)
    rows = spark.sql(
        "SELECT 42 AS id, parse_json('\"test\"') AS data"
        " UNION ALL SELECT 84, parse_json('{\"d\": [1, 2, 3]}')"
        " UNION ALL SELECT 1337,"
        " parse_json('[\"testing\", 21, true, {\"hello\": \"world\"}]')"
    )
    w.append(rows)

    df = DeltaTable(path).to_df(spark)
    assert df.count() == 4
    got = {
        r["id"]: (r["s"], r["d0"], r["arr3h"])
        for r in df.selectExpr(
            "id",
            "try_variant_get(data, '$', 'string') AS s",
            "try_variant_get(data, '$.d[0]', 'long') AS d0",
            "try_variant_get(data, '$[3].hello', 'string') AS arr3h",
        ).collect()
    }
    assert got[42] == ("test", None, None)
    assert got[84][1] == 1
    assert got[1337][2] == "world"
    assert 21 in got  # the original Spark-written row survives


def test_variant_table_sibling_stats_and_skipping(spark, tdir):
    """A variant column must carry NO stats (reference:
    write_stats_no_variant_stats.test:25-33) — but its SIBLING columns
    must: this pyarrow cannot open footers bearing the VARIANT logical
    type, and before round 11 the writer degraded the whole file to
    numRecords-only, disabling file skipping on every variant table.
    The fallback now computes full sibling stats in one Spark job, and
    stats-based pruning works."""
    import glob
    import json as _json

    path = os.path.join(tdir, "vstats")
    df1 = spark.sql(
        "SELECT id, parse_json(format_string('{\"k\": %s}', id)) AS data"
        " FROM range(0, 10)")
    w = DeltaWriter.create(spark, path, df1.schema)
    w.append(df1.coalesce(1))
    w.append(spark.sql(
        "SELECT id, parse_json('1') AS data FROM range(100, 110)"
    ).coalesce(1))

    adds = []
    for f in sorted(glob.glob(os.path.join(path, "_delta_log", "*.json"))):
        for line in open(f):
            a = _json.loads(line)
            if a.get("add"):
                adds.append(_json.loads(a["add"]["stats"]))
    assert len(adds) == 2
    for st in adds:
        assert "data" not in st["minValues"], st
        assert "data" not in st["nullCount"], st
        assert st["minValues"]["id"] is not None
        assert st["tightBounds"] is True

    sb = DeltaTable(path).scan(spark).filter("id", ">=", 100)
    assert sb.to_df().count() == 10
    assert sb.skip_report()["files_skipped_by_stats"] == 1


def test_variant_table_compact_and_convert_stats(spark, tdir):
    """The variant footer-fallback covers COMPACT rewrites and CONVERT
    too: compacted files and converted parquet dirs keep full sibling
    stats (numRecords feeds cardinality estimates; min/max feeds
    skipping) with the variant column stat-less."""
    import json as _json

    path = os.path.join(tdir, "vcomp")
    df = spark.sql(
        "SELECT id, parse_json('{\"x\": 1}') AS data FROM range(0, 1)")
    w = DeltaWriter.create(spark, path, df.schema)
    for i in range(3):
        w.append(spark.sql(
            f"SELECT id, parse_json('{{\"x\": 1}}') AS data"
            f" FROM range({i * 50}, {i * 50 + 50})").coalesce(1))
    assert w.compact() is not None
    files = DeltaTable(path).snapshot.add_files()
    assert len(files) == 1
    st = _json.loads(files[0].stats)
    assert st["numRecords"] == 150
    assert st["minValues"]["id"] == 0 and st["maxValues"]["id"] == 149
    assert "data" not in st["minValues"]

    src = os.path.join(tdir, "vconv")
    spark.sql("SELECT id, parse_json('7') AS data FROM range(0, 20)") \
        .coalesce(1).write.parquet(src)
    DeltaWriter.convert_from_parquet(spark, src)
    cf = DeltaTable(src).snapshot.add_files()
    cst = _json.loads(cf[0].stats)
    assert cst["numRecords"] == 20 and cst["maxValues"]["id"] == 19


def test_variant_table_dml_restore_cdf(spark, tdir):
    """Full DML + derived CDF on a variant table: DV delete, rewrite
    update, RESTORE (exercising the round-11 DV-shrink insert direction
    with a variant payload), and every variant value decoding at the
    end."""
    from collections import Counter

    path = os.path.join(tdir, "vdml")
    df = spark.sql(
        "SELECT id, parse_json(format_string('{\"k\": %s}', id)) AS data"
        " FROM range(0, 30)")
    w = DeltaWriter.create(spark, path, df.schema)
    w.append(df.coalesce(1))                      # v1
    w.delete("id < 5")                            # v2: DV
    w.update("id = 10", {"id": "id + 1000"})      # v3: delete+insert
    w.restore(version=1)                          # v4: shrink + re-add

    t = DeltaTable(path)
    assert t.to_df(spark).count() == 30
    c = Counter(
        (r["_commit_version"], r["_change_type"])
        for r in t.changes(spark, starting_version=1).collect()
    )
    # v4: 5 DV-shrink inserts + original id=10 back = 6; 1010 deleted
    assert dict(c) == {(2, "delete"): 5, (3, "insert"): 1,
                       (3, "delete"): 1, (4, "insert"): 6,
                       (4, "delete"): 1}
    ok = t.to_df(spark).selectExpr(
        "sum(CASE WHEN try_variant_get(data, '$.k', 'long') = id"
        " THEN 1 ELSE 0 END) AS m").collect()[0]["m"]
    assert ok == 30


# ---------------------------------------------------------------------------
# Parametrized dual-scan equivalence over EVERY inlined table — the DAT
# pattern (reference: test/sql/dat/all.test:14-27, delta_scan vs
# parquet_scan of the expected files). Auto-discovers table roots, so a
# reference update that adds a seventh table is covered without a new test.
# The expected side is computed INDEPENDENTLY of the scan under test:
# pyarrow reads each live file, drops DV-masked row indexes, maps physical
# column names back to logical, and injects log partition values.
# ---------------------------------------------------------------------------


def _discover_inlined_tables() -> list[str]:
    roots = []
    for dirpath, dirnames, _ in os.walk(REF):
        if "_delta_log" in dirnames:
            roots.append(dirpath)
            dirnames.clear()  # a table root never nests another table
    return sorted(roots)


def _norm_cell(v):
    """Comparable scalar: datetimes → epoch µs UTC, floats → repr,
    Decimals → str, bytes → hex."""
    import datetime as dt
    from decimal import Decimal as _Dec

    if isinstance(v, dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=dt.timezone.utc)
        return int(v.timestamp() * 1_000_000)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, _Dec):
        return str(v.normalize())
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


@pytest.mark.parametrize(
    "root",
    _discover_inlined_tables(),
    ids=lambda r: os.path.relpath(r, REF).replace("/", "__"),
)
def test_inlined_dual_scan_equivalence(spark, root):
    """Our full Delta scan (log replay → checkpoint → column mapping →
    DV mask → partition injection) must equal an independent pyarrow
    read of the live files for every foreign table the reference inlines
    — row counts on all columns, cell values on every atomic column."""
    import datetime as dt

    import pyarrow.parquet as pq

    from pyspark.sql import types as T

    from duckdb_delta_spark.delta.dv import read_dv_from_descriptor
    from duckdb_delta_spark.delta.mapping import physical_path_map

    t = DeltaTable(root)
    snap = t.snapshot
    pcols = snap.partition_columns
    paths = physical_path_map(snap.schema)

    atomic = (T.LongType, T.IntegerType, T.ShortType, T.ByteType,
              T.DoubleType, T.FloatType, T.StringType, T.BooleanType,
              T.DateType, T.TimestampType, T.DecimalType, T.BinaryType)
    cols = [f.name for f in snap.schema.fields
            if isinstance(f.dataType, atomic)]

    # ---- expected side: independent pyarrow reconstruction ----
    exp_rows: list[tuple] = []
    exp_total = 0
    for f in snap.add_files():
        try:
            table = pq.read_table(f.absolute_path(root))
        except OSError:
            # pyarrow can't parse this file's metadata (e.g. the VARIANT
            # Thrift LogicalType in variant/basic) — fall back to Spark's
            # JVM parquet reader as the independent side, selecting only
            # the physically-present atomic columns
            import pyarrow as pa

            sdf = spark.read.parquet(f.absolute_path(root))
            want_phys = [paths.get(c, c) for c in cols
                         if c not in pcols and paths.get(c, c) in sdf.columns]
            rows = sdf.select(*want_phys).collect() if want_phys else []
            n = sdf.count()
            table = pa.table({
                p: [r[i] for r in rows]
                for i, p in enumerate(want_phys)
            }) if want_phys else pa.table({"__n": list(range(n))})
        keep = None
        if f.deletion_vector:
            import numpy as np

            deleted = read_dv_from_descriptor(f.deletion_vector, root)
            keep = np.ones(table.num_rows, dtype=bool)
            keep[deleted.astype("int64")] = False
            table = table.filter(keep)
        exp_total += table.num_rows
        file_cols = {}
        for c in cols:
            if c in pcols:
                raw = f.partition_values.get(c)
                sf = snap.schema[c]
                if raw in (None, ""):
                    v = None
                elif isinstance(sf.dataType, (T.LongType, T.IntegerType,
                                              T.ShortType, T.ByteType)):
                    v = int(raw)
                elif isinstance(sf.dataType, (T.DoubleType, T.FloatType)):
                    v = float(raw)
                elif isinstance(sf.dataType, T.BooleanType):
                    v = str(raw).lower() == "true"
                elif isinstance(sf.dataType, T.DateType):
                    v = dt.date.fromisoformat(str(raw)[:10])
                else:
                    v = raw
                file_cols[c] = [v] * table.num_rows
            else:
                pname = paths.get(c, c)
                if pname in table.column_names:
                    file_cols[c] = table.column(pname).to_pylist()
                else:  # file predates a schema widening
                    file_cols[c] = [None] * table.num_rows
        exp_rows += list(zip(*(file_cols[c] for c in cols)))

    # ---- scan under test ----
    df = t.to_df(spark)
    assert df.count() == exp_total
    got = sorted(
        tuple(_norm_cell(v) for v in r)
        for r in df.select(*cols).collect()
    )
    want = sorted(tuple(_norm_cell(v) for v in r) for r in exp_rows)
    assert got == want, (root, len(got), len(want))
