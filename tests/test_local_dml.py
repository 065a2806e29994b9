"""The driver-side route of a DV-masking DML (DELETE, UPDATE,
``overwrite(where=...)``): a SQL condition in the pushable grammar skips
files, a scan that keeps few and small files is read on the driver, and
the deletion vectors are built there. Every case here runs the same op on
two fresh copies of one table, once as the gate decides and once with the
local route closed (``LOCAL_SCAN_MAX_BYTES = 0``). The two must leave the
same rows, the same per-file DV cardinalities and the same commit shape
(remove / add-with-DV / add / cdc), and return the same result. Each
table is built once per module and copied for every run, so both runs of
a case start from the same files."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from duckdb_delta_spark import DeltaTable, DeltaWriter
from duckdb_delta_spark.delta import logging as dlog
from duckdb_delta_spark.delta.log import DeltaLog
from duckdb_delta_spark.delta.mapping import nullable_type
from duckdb_delta_spark.delta.scan import FILE_COL, ROW_COL, DeltaScanBuilder

ROWS = 320
FILES = 32  # ten rows a file: a key-range condition keeps 1-2 files


def _rows(spark):
    i = F.col("id")
    return spark.range(0, ROWS, 1, FILES).select(
        i, (i * 2).alias("v"),
        F.when(i % 3 == 0, None).otherwise(
            F.concat(F.lit("p"), (i % 2).cast("string"))).alias("p"))


def _create(spark, path, partition_by=None, **configuration):
    df = _rows(spark)
    if partition_by is None:
        df = df.drop("p")
    DeltaWriter.create(spark, path, nullable_type(df.schema),
                       partition_by=partition_by,
                       configuration=configuration or None)
    DeltaWriter(path, spark).append(df)
    return path


def _plain(spark, path):
    return _create(spark, path)


def _prior_dv(spark, path):
    _create(spark, path)
    DeltaWriter(path, spark).delete("id IN (11, 12)")
    return path


def _partitioned(spark, path):
    return _create(spark, path, partition_by=["p"])


def _name_mapped(spark, path):
    return _create(spark, path, partition_by=["p"],
                   **{"delta.columnMapping.mode": "name"})


def _cdf(spark, path):
    return _create(spark, path, **{"delta.enableChangeDataFeed": "true"})


def _delete(cond):
    return lambda spark, w: w.delete(cond)


def _replace_where(spark, w):
    df = spark.range(60, 65).select("id", F.lit(-1).cast("long").alias("v"))
    return w.overwrite(df, where="id >= 60 AND id < 65")


CASES = [
    # (name, table builder, op, route expected at the default gate)
    ("prior_dv", _prior_dv, _delete("id >= 10 AND id < 15"), "local"),
    ("full_file", _plain, _delete("id >= 20 AND id < 30"), "local"),
    ("partitioned", _partitioned, _delete("id >= 40 AND id < 46"), "local"),
    ("null_partition", _partitioned, _delete("p IS NULL AND id < 12"),
     "local"),
    ("name_mapped", _name_mapped, _delete("id >= 40 AND id <= 44"), "local"),
    ("cdf", _cdf, _delete("id >= 33 AND id < 36"), "local"),
    ("cdf_full_file", _cdf, _delete("id >= 30 AND id < 40"), "local"),
    ("update", _plain,
     lambda spark, w: w.update("id >= 50 AND id < 55", {"v": "v + 1"}),
     "local"),
    ("cdf_update", _cdf,
     lambda spark, w: w.update("id >= 50 AND id < 55", {"v": "v + 1"}),
     "local"),
    ("replace_where", _plain, _replace_where, "local"),
    ("column_condition", _plain,
     lambda spark, w: w.delete(F.col("id") == 70), "spark"),
    ("out_of_grammar", _plain, _delete("id % 7 = 0"), "spark"),
    ("no_match_kept_file", _plain, _delete("id > 80 AND id < 81"), "local"),
    ("no_match_no_file", _plain, _delete("id = 100000"), "spark"),
]


def _commit_shape(path, version):
    """The commit's remove and add actions, each with its DV cardinality,
    and whether it carries cdc files (how many follows the write's
    partitioning; their rows are compared through ``changes()``)."""
    acts = DeltaLog(path).read_commit(version)
    out = sorted(((kind, (a[kind].get("deletionVector") or {})
                   .get("cardinality"))
                  for a in acts for kind in ("add", "remove") if kind in a),
                 key=repr)
    return out + [("cdc",)] * any("cdc" in a for a in acts)


def _file_dvs(path):
    """Each live file's (partition values, min stats, numRecords, DV
    cardinality) — names and paths differ between the two copies."""
    out = (
        (tuple(sorted((f.partition_values or {}).values(), key=repr)),
         tuple(sorted(map(repr, f.parsed_stats().get("minValues", {})
                          .values()))),
         f.num_records,
         f.deletion_vector and f.deletion_vector["cardinality"])
        for f in DeltaTable(path).snapshot.files.values())
    return sorted(out, key=repr)


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    """``base(build)``: the table ``build`` makes, built on first use;
    callers copy it, never write it."""
    root = tmp_path_factory.mktemp("local_dml_base")
    built = {}

    def get(build):
        if build not in built:
            built[build] = build(spark, str(root / build.__name__.strip("_")))
        return built[build]

    return get


def _run(spark, path, table, op):
    shutil.copytree(table, path)
    events = []
    dlog.add_sink(events.append)
    try:
        res = op(spark, DeltaWriter(path, spark))
    finally:
        dlog.remove_sink(events.append)
    rows = sorted(DeltaTable(path).to_df(spark).collect(), key=repr)
    out = {"result": res, "rows": rows, "dvs": _file_dvs(path)}
    if res is not None:
        out["shape"] = _commit_shape(path, res[0] if isinstance(res, tuple)
                                     else res)
        if "cdf" in os.path.basename(path):
            out["changes"] = sorted(
                (r.asDict() for r in DeltaTable(path).changes(
                    spark, out["result"][0] - 1)
                 .drop("_commit_timestamp").collect()),
                key=repr)
    return out, events


def _routes(events, name="scan.plan"):
    return [r["route"] for r in events if r["event"] == name]


@pytest.mark.parametrize("name,build,op,route", CASES,
                         ids=[c[0] for c in CASES])
def test_local_dml_matches_spark_route(spark, tmp_path, monkeypatch, base,
                                       name, build, op, route):
    got, ev_gate = _run(spark, str(tmp_path / f"{name}_gate"), base(build),
                        op)
    with monkeypatch.context() as m:
        m.setattr(DeltaScanBuilder, "LOCAL_SCAN_MAX_BYTES", 0)
        ref, ev_spark = _run(spark, str(tmp_path / f"{name}_spark"),
                             base(build), op)
    assert _routes(ev_gate)[0] == route  # the DML's own scan
    assert set(_routes(ev_spark)) == {"spark"}
    assert got == ref
    if name.startswith("no_match"):
        assert got["result"] is None
    if name == "full_file":
        assert got["shape"] == [("remove", None)]
    if name == "prior_dv":
        assert got["shape"] == [("add", 5), ("remove", 2)]  # 11, 12 + 10..14


def _mixed(spark, path):
    """Twelve files, one for each ``g`` in 0..11, holding the ids g and
    g + 12: ``v`` (twice the id) spans one- and two-digit values in most
    of them, and ``ts`` is the id in hours past 2024-01-01 00:00 UTC."""
    i = F.col("id")
    df = spark.range(0, 24, 1, 1).select(
        i, (i * 2).alias("v"), (i % 12).cast("int").alias("g"),
        F.timestamp_seconds(F.lit(1704067200) + i * 3600).alias("ts"))
    DeltaWriter.create(spark, path, nullable_type(df.schema),
                       partition_by=["g"])
    DeltaWriter(path, spark).append(df)
    return path


def _replace_g(spark, w):
    df = spark.createDataFrame([(100 + g, 0, g) for g in (9, 10, 11)],
                               "id long, v long, g int")
    return w.overwrite(df.withColumn("ts", F.timestamp_seconds(F.lit(0))),
                       where="g >= '9'")


#: conditions whose literal is not of the column's type: Spark casts the
#: literal to the column's type, so as text the stats would rule out
#: files that hold matches ('8' > '32', '10' < '9', 'T' > ' ')
MIXED = [
    ("delete_long", _delete("v = '8'")),
    ("delete_int_partition", _delete("g >= '9'")),
    ("delete_timestamp", _delete("ts < '2024-01-01 05:00:00'")),
    ("update_long",
     lambda spark, w: w.update("v = '8'", {"v": "v + 1"})),
    ("replace_where_int_partition", _replace_g),
]


@pytest.mark.parametrize("name,op", MIXED, ids=[c[0] for c in MIXED])
def test_mixed_type_literal_matches_unpruned_run(spark, tmp_path,
                                                 monkeypatch, base, name,
                                                 op):
    """A literal of another type than its column skips no file: the DML
    leaves the rows a run that scans every file leaves."""
    got, _ = _run(spark, str(tmp_path / "pruned"), base(_mixed), op)
    with monkeypatch.context() as m:
        m.setattr(DeltaScanBuilder, "filter_sql", lambda self, where: self)
        ref, _ = _run(spark, str(tmp_path / "unpruned"), base(_mixed), op)
    assert got == ref
    assert got["result"] is not None
    if name.startswith(("delete", "update")):
        assert got["result"][1] > 0


@pytest.mark.parametrize("cond", ["v = '8'", "g >= '9'",
                                  "ts < '2024-01-01 05:00:00'"])
def test_mixed_type_literal_scan_keeps_matches(spark, base, cond):
    """A read through ``filter_sql`` returns the rows Spark's filter does."""
    path = base(_mixed)
    got = DeltaTable(path).scan(spark).filter_sql(cond).to_df().collect()
    ref = DeltaTable(path).to_df(spark).where(cond).collect()
    assert ref and sorted(got, key=repr) == sorted(ref, key=repr)


@pytest.mark.parametrize("build", [_prior_dv, _partitioned])
def test_virtual_columns_same_order_on_both_routes(spark, monkeypatch, base,
                                                   build):
    """A virtual-column scan gives the same columns, in the same order, and
    the same rows on the local route as on the Spark route."""
    def scan():
        sb = DeltaScanBuilder(DeltaTable(base(build)).snapshot, spark)
        sb = sb.with_virtual_columns().filter_sql("id >= 10 AND id < 15")
        df = sb.to_df()
        return sb.route, df.columns, sorted(df.collect(), key=repr)

    local = scan()
    with monkeypatch.context() as m:
        m.setattr(DeltaScanBuilder, "LOCAL_SCAN_MAX_BYTES", 0)
        ref = scan()
    assert (local[0], ref[0]) == ("local", "spark")
    assert local[1:] == ref[1:]
    assert local[1][-5:] == [FILE_COL, ROW_COL, "filename",
                             "file_row_number", "delta_file_number"]


def test_local_delete_runs_no_spark_job(spark, tmp_path, base):
    """A DELETE whose condition keeps one small file plans the local route,
    skips the other files and starts no Spark job; ``delete.apply``
    carries the route and the files scanned."""
    path = str(tmp_path / "t")
    shutil.copytree(base(_plain), path)
    w = DeltaWriter(path, spark)
    sc = spark.sparkContext
    events = []
    dlog.add_sink(events.append)
    sc.setJobGroup("local_dml_probe", "local DELETE")
    try:
        res = w.delete("id >= 100 AND id < 104")
        jobs = sc.statusTracker().getJobIdsForGroup("local_dml_probe")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        dlog.remove_sink(events.append)
    assert res[1] == 4
    assert jobs == []
    plan = [r for r in events if r["event"] == "scan.plan"]
    assert [(p["route"], p["files_scanned"], p["files_total"])
            for p in plan] == [("local", 1, FILES)]
    apply = [r for r in events if r["event"] == "delete.apply"]
    assert [(a["route"], a["n_files_scanned"], a["n_files"])
            for a in apply] == [("local", 1, 1)]


def test_apply_events_name_the_route(spark, tmp_path, base):
    """``update.apply`` and ``delete.apply`` report ``route`` and
    ``n_files_scanned``: a Column condition scans every file on Spark."""
    path = str(tmp_path / "t")
    shutil.copytree(base(_plain), path)
    w = DeltaWriter(path, spark)
    events = []
    dlog.add_sink(events.append)
    try:
        w.update("id >= 100 AND id < 104", {"v": "0"})
        w.delete(F.col("id") == 200)
    finally:
        dlog.remove_sink(events.append)
    got = [(r["event"], r["route"], r["n_files_scanned"])
           for r in events if r["event"].endswith(".apply")]
    assert got == [("update.apply", "local", 1),
                   ("delete.apply", "spark", FILES + 1)]
