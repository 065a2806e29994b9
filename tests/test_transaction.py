"""Behaviour the single commit path guarantees to every operation: the
idempotency bookmark's compare-and-set, in-commit timestamps and
checksums on every commit, and one post-commit snapshot that the
checksum and the auto-checkpoint share."""

from __future__ import annotations

import json
import os
import time

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duckdb_delta_spark import DeltaTable, DeltaWriter
from duckdb_delta_spark.delta import logging as dlog
from duckdb_delta_spark.delta.errors import IdempotencyError
from duckdb_delta_spark.delta.log import DeltaLog
from duckdb_delta_spark.delta.writer import _commit_info

SCHEMA = T.StructType([T.StructField("i", T.LongType())])


def _ids(spark, n, lo=0):
    return spark.range(lo, lo + n).select(F.col("id").alias("i")).coalesce(1)


def test_bookmark_compare_and_set_and_ict(spark, tdir):
    """A stale ``expected_last`` is re-checked against the winning
    commits and refused, so the bookmark never moves backwards; on an
    ICT table every bookmark commit is stamped and checksummed."""
    DeltaWriter.create(spark, tdir, SCHEMA, configuration={
        "delta.enableInCommitTimestamps": "true"})
    v1 = DeltaTable(tdir).set_transaction_version(spark, "app", 3)
    stale = DeltaTable(tdir)                     # sees bookmark 3
    v2 = DeltaTable(tdir).set_transaction_version(
        spark, "app", 5, expected_last=3)        # a racer moves it to 5
    with pytest.raises(IdempotencyError, match="expected last version 3"):
        stale.set_transaction_version(spark, "app", 4, expected_last=3)
    assert DeltaTable(tdir).get_transaction_version("app") == 5
    log = DeltaLog(tdir)
    assert log.latest_version() == v2 == v1 + 1

    # the bookmark rebases past racers that leave the app alone
    DeltaWriter(tdir, spark).append(_ids(spark, 3))
    v4 = stale.set_transaction_version(spark, "other", 1)
    assert v4 == log.latest_version() == v2 + 2
    assert DeltaTable(tdir).get_transaction_version("app") == 5

    icts = [log.read_ict(v) for v in range(v4 + 1)]
    assert None not in icts and icts == sorted(icts), icts
    for v in (v1, v2, v4):
        crc = os.path.join(tdir, "_delta_log", f"{v:020d}.crc")
        assert os.path.isfile(crc)
    assert DeltaTable(tdir).snapshot.verify_checksum() is not None


def test_ict_listed_in_protocol_without_config_still_stamps(spark, tdir):
    """A foreign writer enabled ICT through the protocol alone (the
    feature listed, ``delta.enableInCommitTimestamps`` unset, its commit
    stamped): later commits keep the every-commit-carries-ICT invariant."""
    DeltaWriter.create(spark, tdir, SCHEMA).append(_ids(spark, 5))
    ci = _commit_info("UPGRADE PROTOCOL")
    ict0 = int(time.time() * 1000) + 60_000        # ahead of the wall clock
    ci["inCommitTimestamp"] = ict0
    DeltaLog(tdir).commit(2, [
        {"commitInfo": ci},
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 7,
                      "writerFeatures": ["appendOnly", "invariants",
                                         "inCommitTimestamp"]}},
    ])
    v = DeltaWriter(tdir, spark).append(_ids(spark, 3, lo=5))
    assert DeltaLog(tdir).read_ict(v) == ict0 + 1  # monotonic past it


def test_append_builds_the_post_commit_snapshot_once(spark, tdir,
                                                     monkeypatch):
    """One append whose commit is due an auto-checkpoint builds the
    post-commit snapshot once, from the actions just written, and never
    reads a commit back: the checksum and the checkpoint use it, and the
    writer's pin advances to HEAD from it. The auto-checkpoint equals a
    manual checkpoint of the same version."""
    w = DeltaWriter.create(spark, tdir, SCHEMA, configuration={
        "delta.checkpointInterval": "2"})
    w.append(_ids(spark, 5))                                  # v1
    reads: list = []
    real_read = DeltaLog.read_commit
    monkeypatch.setattr(DeltaLog, "read_commit",
                        lambda self, v: reads.append(v) or real_read(self, v))
    events: list = []
    dlog.add_sink(events.append)
    try:
        v = w.append(_ids(spark, 5, lo=5))                    # v2
    finally:
        dlog.remove_sink(events.append)
    monkeypatch.undo()
    assert v == 2 and reads == []
    # the post-commit build, then the checkpoint's and the pin's refreshes
    # of it, which find nothing newer to replay
    builds = [(e["version"], e["replay_start"]) for e in events
              if e["event"] == "snapshot.build"]
    assert builds == [(2, 2), (2, 3), (2, 3)], builds
    assert [e["version"] for e in events
            if e["event"] == "checkpoint.write"] == [2]
    assert w._snapshot.version == 2

    path = os.path.join(tdir, "_delta_log", f"{2:020d}.checkpoint.parquet")

    def rows():
        return sorted(json.dumps(r, sort_keys=True, default=str)
                      for r in pq.read_table(path).to_pylist())

    auto = rows()
    os.remove(path)
    assert DeltaWriter(tdir, spark).checkpoint() == 2
    assert rows() == auto
