"""The driver-side route of ``DeltaScanBuilder.to_df``: a scan whose
pruning keeps a small share of a table's files, holding at most
``LOCAL_SCAN_MAX_BYTES`` (on disk and decoded), is read with pyarrow and
answered from a local relation. Every
case here reads the same scan twice, once as the gate decides and once with
the route closed (``LOCAL_SCAN_MAX_BYTES = 0``), and the two must return the
same schema and rows. Cases the route must leave to Spark's parquet reader
(a timestamp column, an id-mapped table, a file written before a column was
added, dates Spark rebases, a small file that decodes past the limit)
assert the fallback."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from duckdb_delta_spark import DeltaTable, DeltaWriter
from duckdb_delta_spark.delta import logging as dlog
from duckdb_delta_spark.delta.mapping import nullable_type
from duckdb_delta_spark.delta.scan import DeltaScanBuilder

ROWS = 1280
FILES = 128  # one repartitioned append: a point read keeps 1-3 files


def _rows(spark, lo, hi):
    i = F.col("id")
    return spark.range(lo, hi).select(
        i,
        (i / 7).cast("decimal(12,3)").alias("dec"),
        F.date_add(F.lit("2020-01-01").cast("date"), i.cast("int")).alias("d"),
        F.struct(i.alias("a"), i.cast("string").alias("b")).alias("s"),
        F.array(i.cast("int"), (i + 1).cast("int")).alias("arr"),
        F.create_map(F.lit("k"), i).alias("m"),
        F.when(i % 3 == 0, None).when(i % 3 == 1, "").otherwise(
            F.concat(F.lit("p"), (i % 5).cast("string"))).alias("p"),
    )


def _table(spark, path, df, partition_by=None, configuration=None):
    DeltaWriter.create(spark, path, nullable_type(df.schema),
                       partition_by=partition_by, configuration=configuration)
    DeltaWriter(path, spark).append(df.repartitionByRange(FILES, "id"))
    return path


def _build(spark, root):
    """Each fixture table, keyed by name."""
    t = {}
    base = _rows(spark, 0, ROWS)
    t["plain"] = _table(spark, os.path.join(root, "plain"), base.drop("p"))
    DeltaWriter(t["plain"], spark).delete("id IN (11, 500, 501)")
    t["partitioned"] = _table(spark, os.path.join(root, "partitioned"),
                              base, partition_by=["p"])
    DeltaWriter(t["partitioned"], spark).delete("id = 31")
    t["name_mapped"] = _table(
        spark, os.path.join(root, "name_mapped"), base, partition_by=["p"],
        configuration={"delta.columnMapping.mode": "name"})
    t["timestamp"] = _table(
        spark, os.path.join(root, "timestamp"),
        base.withColumn("ts", F.timestamp_seconds("id")))
    t["id_mapped"] = _table(
        spark, os.path.join(root, "id_mapped"), base.drop("p"),
        configuration={"delta.columnMapping.mode": "id"})
    t["evolved"] = _table(spark, os.path.join(root, "evolved"),
                          base.select("id", "dec"))
    DeltaWriter(t["evolved"], spark).append(
        spark.range(ROWS, ROWS + 10).select(
            "id", (F.col("id") / 7).cast("decimal(12,3)").alias("dec"),
            F.col("id").cast("string").alias("extra")).coalesce(1),
        merge_schema=True)
    return t


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    return _build(spark, str(tmp_path_factory.mktemp("local_scan")))


CASES = [
    # (table, where, select or None, route expected at the default gate)
    ("plain", "id = 10", None, "local"),
    ("plain", "id >= 498 AND id <= 503", None, "local"),      # DV rows
    ("plain", "id = 11", None, "local"),                      # empty result
    ("plain", "dec = 1.429", ["id", "dec", "m"], "local"),
    ("partitioned", "id >= 30 AND id <= 35", None, "local"),  # NULL, "", DV
    ("partitioned", "p IS NULL AND id < 12", None, "local"),
    ("name_mapped", "id >= 40 AND id <= 44", None, "local"),
    ("name_mapped", "s.a = 700", ["s", "arr", "p"], "local"),
    ("evolved", "id = 1283", None, "local"),                  # the new file
    ("timestamp", "id = 5", None, "spark"),
    ("id_mapped", "id = 5", None, "spark"),
    ("evolved", "id = 5", None, "spark"),                     # lacks `extra`
]


def _scan(spark, path, where, select, events):
    dlog.add_sink(events.append)
    try:
        sb = DeltaTable(path).scan(spark).filter_sql(where)
        if select:
            sb = sb.select(*select)
        df = sb.to_df()
    finally:
        dlog.remove_sink(events.append)
    return df, sorted(df.collect(), key=lambda r: repr(r))


def _routes(events, name):
    return [r["route"] for r in events if r["event"] == name]


@pytest.mark.parametrize(
    "table,where,select,route", CASES,
    ids=[f"{c[0]}:{c[1]}" for c in CASES])
def test_local_route_matches_spark_route(spark, tables, monkeypatch,
                                         table, where, select, route):
    path = tables[table]
    ev_gate, ev_spark = [], []
    df, rows = _scan(spark, path, where, select, ev_gate)
    monkeypatch.setattr(DeltaScanBuilder, "LOCAL_SCAN_MAX_BYTES", 0)
    ref_df, ref = _scan(spark, path, where, select, ev_spark)
    assert _routes(ev_gate, "scan.plan") == [route]
    assert _routes(ev_spark, "scan.plan") == ["spark"]
    assert df.schema == ref_df.schema
    assert rows == ref
    if where == "id = 11":
        assert rows == []


def test_route_events(spark, tables, monkeypatch):
    """``scan.plan`` names the route; DVs applied on the driver report
    ``scan.dv_route`` with ``route="local"``, the fallback its Spark route."""
    path = tables["plain"]
    sc = spark.sparkContext
    events = []
    sc.setJobGroup("local_scan_probe", "local route")
    try:
        _scan(spark, path, "id >= 498 AND id <= 503", None, events)
        jobs = sc.statusTracker().getJobIdsForGroup("local_scan_probe")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _routes(events, "scan.plan") == ["local"]
    assert _routes(events, "scan.dv_route") == ["local"]
    assert jobs == []  # answered from a local relation: no Spark job

    events = []
    monkeypatch.setattr(DeltaScanBuilder, "LOCAL_SCAN_MAX_BYTES", 0)
    _scan(spark, path, "id >= 498 AND id <= 503", None, events)
    assert _routes(events, "scan.plan") == ["spark"]
    assert _routes(events, "scan.dv_route") == ["anti_join"]


def _differential(spark, path, where, monkeypatch):
    """Routes and rows of a scan of a small table, whose share of kept
    files the gate would refuse: the share limit is lifted so the check
    under test decides."""
    monkeypatch.setattr(DeltaScanBuilder, "LOCAL_SCAN_MAX_SHARE", 1.0)
    ev_gate, ev_spark = [], []
    df, rows = _scan(spark, path, where, None, ev_gate)
    monkeypatch.setattr(DeltaScanBuilder, "LOCAL_SCAN_MAX_BYTES", 0)
    ref_df, ref = _scan(spark, path, where, None, ev_spark)
    assert df.schema == ref_df.schema
    assert rows == ref
    return _routes(ev_gate, "scan.plan"), rows


def test_gate_keeps_large_scans_on_spark(spark, tables):
    """A scan keeping more than 1/16 of the files, or a restricted scan
    keeping all it may see, plans the Spark file scan."""
    path = tables["plain"]
    events = []
    _scan(spark, path, "id < 200", None, events)      # ~20 of 128 files
    dlog.add_sink(events.append)
    try:
        snap = DeltaTable(path).snapshot
        one = next(iter(snap.files.values())).path
        DeltaTable(path).scan(spark).restrict_paths([one]).to_df()
    finally:
        dlog.remove_sink(events.append)
    assert _routes(events, "scan.plan") == ["spark", "spark"]


def test_decoded_size_bounds_the_route(spark, tmp_path, monkeypatch):
    """A file far below the limit on disk whose rows decode past it (one
    run-length-encoded column) plans the Spark file scan."""
    n = 400_000  # 3.2 MB of int64 once decoded
    path = _table(spark, str(tmp_path / "compressible"),
                  spark.range(n).select((F.col("id") * 0).alias("id"))
                  .coalesce(1))
    size = sum(f.size for f in DeltaTable(path).snapshot.files.values())
    assert size < DeltaScanBuilder.LOCAL_SCAN_MAX_BYTES
    routes, rows = _differential(spark, path, "id = 0", monkeypatch)
    assert routes == ["spark"]
    assert len(rows) == n


def _foreign_dates(spark, path, metadata, days):
    """A one-file Delta table converted from parquet that pyarrow wrote
    with footer key-value ``metadata`` and the date column ``days``."""
    os.makedirs(path)
    t = pa.table({"id": pa.array(range(len(days)), pa.int64()),
                  "d": pa.array(days, pa.date32())})
    pq.write_table(t.replace_schema_metadata(metadata),
                   os.path.join(path, "part-0.parquet"))
    DeltaWriter.convert_from_parquet(spark, path)
    return path


OLD, NEW = -354_285, 18_262  # 1000-01-01, 2020-01-01
SPARK2 = {"org.apache.spark.version": "2.4.8"}
LEGACY = {"org.apache.spark.version": "3.5.1",
          "org.apache.spark.legacyDateTime": ""}
SPARK4 = {"org.apache.spark.version": "4.0.0"}


@pytest.mark.parametrize("metadata,days,route,rebased", [
    (SPARK2, [OLD, NEW], "spark", True),
    (LEGACY, [OLD, NEW], "spark", True),
    (SPARK4, [OLD, NEW], "spark", False),
    (SPARK2, [NEW, NEW + 1], "local", False),
], ids=["spark2_old", "legacy_old", "spark4_old", "spark2_new"])
def test_pre_gregorian_dates_take_spark_route(spark, tmp_path, monkeypatch,
                                              metadata, days, route, rebased):
    """Spark rebases dates before 1582-10-15 from the hybrid calendar for
    files written by Spark 2 or with ``legacyDateTime`` (and refuses them
    from unknown writers); pyarrow would not, so files with such dates stay
    on Spark's reader. From the cutover on the calendars agree and the
    local route holds."""
    path = _foreign_dates(spark, str(tmp_path / "dates"), metadata, days)
    routes, rows = _differential(spark, path, "id >= 0", monkeypatch)
    assert routes == [route]
    raw = pq.read_table(os.path.join(path, "part-0.parquet"))["d"].to_pylist()
    assert ([r["d"] for r in rows] != raw) == rebased


def test_empty_file_between_files(spark, tmp_path, monkeypatch):
    """A kept file that yields no rows (here a 0-row file; a file whose
    rows a DV all deletes is the same) does not hide the files after it."""
    path = str(tmp_path / "gaps")
    os.makedirs(path)
    for i, n in enumerate([2, 0, 3, 0, 2]):
        pq.write_table(pa.table({"id": pa.array(range(10 * i, 10 * i + n),
                                                pa.int64())}),
                       os.path.join(path, f"part-{i}.parquet"))
    DeltaWriter.convert_from_parquet(spark, path)
    routes, rows = _differential(spark, path, "id >= 0", monkeypatch)
    assert routes == ["local"]
    assert [r["id"] for r in rows] == [0, 1, 20, 21, 22, 40, 41]
