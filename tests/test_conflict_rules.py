"""Conflict rules, one case per (operation, racer).

Each case copies a small prepared table, arms a racer, and runs one
operation. The racer's commit lands at exactly the version the operation
is about to commit (it is injected into the operation's first
``DeltaLog.commit`` call), so the operation always loses one race and the
outcome is decided by its conflict rule alone:

* ``COMMIT`` — the operation rebased past the racer and committed at the
  next version;
* ``CommitConflictError`` / ``IdempotencyError`` — it aborted, and none of
  the files it staged (data, deletion vectors) are left in the table
  directory;
* ``NOOP`` — the racer already committed the same streaming batch, so the
  operation succeeded without a commit and dropped its files.

Base table (``plain``): v0 create, v1 deletionVectors feature, v2 file A
(k 0..9), v3 file B (k 10..19, app txn ``app`` = 0). Operations touch
file A; the appending racer adds k >= 1000, which matches no predicate.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from duckdb_delta_spark import DeltaWriter
from duckdb_delta_spark.delta.errors import CommitConflictError, IdempotencyError
from duckdb_delta_spark.delta.log import DeltaLog
from duckdb_delta_spark.delta.snapshot import Snapshot
from duckdb_delta_spark.delta.writer import _commit_info

SCHEMA = T.StructType([T.StructField("k", T.LongType()),
                       T.StructField("v", T.LongType())])
IDENT_SCHEMA = T.StructType([
    T.StructField("id", T.LongType(), metadata={
        "delta.identity.start": 1, "delta.identity.step": 1,
        "delta.identity.allowExplicitInsert": False}),
    T.StructField("v", T.LongType()),
])
COMMIT, NOOP = "commit", "noop"
CCE, IDEM = CommitConflictError, IdempotencyError


def _rows(spark, lo, hi, v=0):
    return spark.createDataFrame([(k, v) for k in range(lo, hi)], SCHEMA)


@pytest.fixture(scope="module")
def bases(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("conflict_bases")
    plain = str(root / "plain")
    w = DeltaWriter.create(spark, plain, SCHEMA)
    w.add_feature_support("deletionVectors")
    w.append(_rows(spark, 0, 10).coalesce(1))
    w.append(_rows(spark, 10, 20).coalesce(1), txn_app_id="app",
             txn_version=0)
    ident = str(root / "identity")
    w = DeltaWriter.create(spark, ident, IDENT_SCHEMA)
    w.append(spark.createDataFrame([(1,), (2,)], "v long").coalesce(1))
    return {"plain": plain, "identity": ident}


# ---------------------------------------------------------------- racers


def _file(snap, lo):
    return next(f for f in snap.add_files()
                if f.parsed_stats()["minValues"]["k"] == lo)


def _parquet_add(tdir, table, data_change=True):
    rel = f"racer-{uuid.uuid4().hex}.parquet"
    pq.write_table(table, os.path.join(tdir, rel))
    stats = {"numRecords": table.num_rows,
             "minValues": {c: pc.min(table[c]).as_py()
                           for c in table.column_names},
             "maxValues": {c: pc.max(table[c]).as_py()
                           for c in table.column_names},
             "nullCount": {c: 0 for c in table.column_names}}
    add = {"path": rel, "partitionValues": {},
           "size": os.path.getsize(os.path.join(tdir, rel)),
           "modificationTime": 0, "dataChange": data_change,
           "stats": json.dumps(stats)}
    return {"add": add}, [os.path.join(tdir, rel)]


def _remove(f, data_change=True):
    r = {"path": f.path, "deletionTimestamp": 0, "dataChange": data_change,
         "partitionValues": {}, "size": f.size}
    if f.deletion_vector:
        r["deletionVector"] = f.deletion_vector
    return {"remove": r}


def racer_append(tdir, snap):
    return _parquet_add(tdir, pa.table({"k": [1000, 1001], "v": [0, 0]}))


def racer_append_matching(tdir, snap):
    return _parquet_add(tdir, pa.table({"k": [1, 2], "v": [0, 0]}))


def racer_dv(tdir, snap):
    from duckdb_delta_spark.delta.dv import dv_file_path, write_dv_file

    a = _file(snap, 0)
    desc = write_dv_file(tdir, [np.array([7], dtype=np.uint64)],
                         seed=uuid.uuid4().hex)[0]
    add = {"path": a.path, "partitionValues": {}, "size": a.size,
           "modificationTime": a.modification_time, "dataChange": True,
           "stats": a.stats, "deletionVector": desc}
    return [_remove(a), {"add": add}], [dv_file_path(tdir, desc)]


def racer_metadata(tdir, snap):
    meta = dict(snap.metadata)
    meta["configuration"] = {**snap.configuration, "racer.tag": "1"}
    return {"metaData": meta}, []


def racer_protocol(tdir, snap):
    proto = dict(snap.protocol)
    proto["writerFeatures"] = sorted(
        set(proto.get("writerFeatures") or []) | {"domainMetadata"})
    return {"protocol": proto}, []


def racer_info(tdir, snap):
    return [], []


def racer_optimize(tdir, snap):
    a, b = _file(snap, 0), _file(snap, 10)
    table = pa.concat_tables(
        [pq.read_table(f.absolute_path(tdir)) for f in (a, b)])
    add, created = _parquet_add(tdir, table, data_change=False)
    return [_remove(a, False), _remove(b, False), add], created


def racer_txn(tdir, snap):
    return {"txn": {"appId": "app", "version": 1}}, []


def racer_sink_twin(tdir, snap):
    return {"txn": {"appId": "sink", "version": 0}}, []


def racer_hwm(tdir, snap):
    fields = [T.StructField(f.name, f.dataType, f.nullable,
                            {**f.metadata,
                             "delta.identity.highWaterMark": 1000})
              if f.name == "id" else f for f in snap.schema.fields]
    meta = dict(snap.metadata)
    meta["schemaString"] = T.StructType(fields).json()
    return {"metaData": meta}, []


RACERS = {
    "append": racer_append, "dv": racer_dv, "metadata": racer_metadata,
    "protocol": racer_protocol, "info": racer_info,
    "optimize": racer_optimize,
}


# ---------------------------------------------------------------- operations


def op_append(spark, tdir):
    return DeltaWriter(tdir, spark).append(
        _rows(spark, 500, 503).coalesce(1), max_retries=1)


def op_append_txn(spark, tdir):
    return DeltaWriter(tdir, spark).append(
        _rows(spark, 500, 503).coalesce(1), txn_app_id="app",
        txn_version=1, txn_expected_last=0, max_retries=1)


def op_append_identity(spark, tdir):
    return DeltaWriter(tdir, spark).append(
        spark.createDataFrame([(3,), (4,)], "v long").coalesce(1),
        max_retries=1)


def op_sink(spark, tdir):
    from duckdb_delta_spark.streaming.delta_source import (
        DeltaStreamWriter,
        _WrittenFile,
    )

    rel = f"sink-{uuid.uuid4().hex}.parquet"
    pq.write_table(pa.table({"k": [700], "v": [0]}), os.path.join(tdir, rel))
    sink = DeltaStreamWriter(tdir, SCHEMA, {"txnAppId": "sink"})
    messages = [_WrittenFile(rel_path=rel,
                             size=os.path.getsize(os.path.join(tdir, rel)))]
    try:
        return sink.commit(messages, batchId=0)
    except Exception:
        sink.abort(messages, 0)  # what the streaming engine does on failure
        raise


def op_delete(spark, tdir):
    return DeltaWriter(tdir, spark).delete("k < 5")


def op_update(spark, tdir):
    return DeltaWriter(tdir, spark).update("k < 5", {"v": "v + 100"})


def op_replace_where(spark, tdir):
    return DeltaWriter(tdir, spark).overwrite(
        _rows(spark, 0, 5, v=9).coalesce(1), where="k < 5")


def op_merge(spark, tdir):
    src = spark.createDataFrame([(1, 99), (2, 99)], SCHEMA)
    return DeltaWriter(tdir, spark).merge(
        src, "t.k = s.k", when_matched_update={"v": "s.v"})


def op_overwrite(spark, tdir):
    return DeltaWriter(tdir, spark).overwrite(
        _rows(spark, 0, 3, v=9).coalesce(1))


def op_restore(spark, tdir):
    return DeltaWriter(tdir, spark).restore(2)


def op_compact(spark, tdir):
    return DeltaWriter(tdir, spark).compact(min_files=2)


def op_vacuum(spark, tdir):
    return DeltaWriter(tdir, spark).vacuum(retention_ms=10**12, logging=True)


def op_set_properties(spark, tdir):
    return DeltaWriter(tdir, spark).set_properties({"op.tag": "1"})


#: today's verdict per racer: append, dv, metadata, protocol, info, optimize
RULES = {
    op_append: (COMMIT, COMMIT, COMMIT, COMMIT, COMMIT, COMMIT),
    op_sink: (COMMIT, COMMIT, CCE, CCE, COMMIT, COMMIT),
    op_delete: (COMMIT, CCE, CCE, CCE, COMMIT, CCE),
    op_update: (COMMIT, CCE, CCE, CCE, COMMIT, CCE),
    op_replace_where: (COMMIT, CCE, CCE, CCE, COMMIT, CCE),
    op_merge: (CCE, CCE, CCE, CCE, COMMIT, CCE),
    op_overwrite: (CCE, CCE, CCE, CCE, COMMIT, CCE),
    op_restore: (CCE, CCE, CCE, CCE, COMMIT, CCE),
    op_compact: (COMMIT, CCE, CCE, COMMIT, COMMIT, CCE),
    op_vacuum: (COMMIT, COMMIT, COMMIT, COMMIT, COMMIT, COMMIT),
    op_set_properties: (CCE, CCE, CCE, CCE, CCE, CCE),
}

CASES = [(op, racer, want, "plain")
         for op, verdicts in RULES.items()
         for racer, want in zip(RACERS.values(), verdicts)]
CASES += [
    (op_delete, racer_append_matching, CCE, "plain"),
    (op_update, racer_append_matching, CCE, "plain"),
    (op_append_txn, racer_txn, IDEM, "plain"),
    (op_append_identity, racer_hwm, CCE, "identity"),
    (op_sink, racer_sink_twin, NOOP, "plain"),
]


def _case_id(case):
    op, racer, _want, _base = case
    return f"{op.__name__[3:]}-{racer.__name__[6:]}"


def _table_files(tdir):
    out = set()
    for root, dirs, names in os.walk(tdir):
        dirs[:] = [d for d in dirs if d != "_delta_log"]
        out.update(os.path.join(root, n) for n in names)
    return out


@pytest.mark.parametrize("case", CASES, ids=[_case_id(c) for c in CASES])
def test_conflict_rule(spark, tmp_path, bases, monkeypatch, case):
    op, racer, want, base = case
    tdir = str(tmp_path / "t")
    shutil.copytree(bases[base], tdir)
    before = _table_files(tdir)
    real_commit = DeltaLog.commit
    raced: dict = {}

    def commit_after_racer(self, version, actions):
        if not raced:
            snap = Snapshot.build(DeltaLog(tdir))
            assert snap.version == version - 1
            acts, created = racer(tdir, snap)
            acts = acts if isinstance(acts, list) else [acts]
            real_commit(DeltaLog(tdir), version,
                        [{"commitInfo": _commit_info("RACER")}, *acts])
            raced.update(version=version, created=set(created))
        return real_commit(self, version, actions)

    monkeypatch.setattr(DeltaLog, "commit", commit_after_racer)
    if want in (COMMIT, NOOP):
        op(spark, tdir)
    else:
        with pytest.raises(want):
            op(spark, tdir)
    monkeypatch.undo()

    assert raced, "the operation never reached its commit"
    v = raced["version"]
    log = DeltaLog(tdir)
    ops = [a["commitInfo"]["operation"]
           for a in log.read_commit(v) if "commitInfo" in a]
    assert ops == ["RACER"]
    if want is COMMIT:
        assert log.latest_version() > v
    else:
        assert log.latest_version() == v
        leftover = _table_files(tdir) - before - raced["created"]
        assert not leftover, f"staged files left behind: {sorted(leftover)}"
