"""Structured Streaming: bounded-stream results equal their batch analogues."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_stream_hourly_equals_batch(spark):
    from duckdb_delta_spark.queries import load
    from duckdb_delta_spark.streaming import (
        hourly_event_counts_stream,
        run_stream_to_memory,
        stream_events,
    )

    got = run_stream_to_memory(
        hourly_event_counts_stream(stream_events(spark, SF)),
        output_mode="complete",
    ).select("hour", "event_type", "n")

    want = (
        load(spark, SF, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}


def test_sessionize_stream_emits_closed_sessions(spark):
    from duckdb_delta_spark.streaming import (
        run_stream_to_memory,
        sessionize_stream,
        stream_events,
    )

    out = run_stream_to_memory(
        sessionize_stream(stream_events(spark, SF), gap_min=30,
                          watermark="36500 days"),
        output_mode="append",
    ).collect()
    assert len(out) > 0
    for r in out:
        assert r["session_end"] >= r["session_start"]
        assert r["n_events"] >= 1


def test_delta_py_streaming_source(spark, tmp_path):
    """readStream.format('delta_py'): offsets are log versions; each
    restart resumes from the checkpoint and sees only NEW commits."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from duckdb_delta_spark import DeltaTable, DeltaWriter
    from duckdb_delta_spark.streaming.delta_source import DeltaPySource

    spark.dataSource.register(DeltaPySource)
    tdir = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    schema = T.StructType([T.StructField("i", T.LongType()),
                           T.StructField("g", T.LongType())])
    w = DeltaWriter.create(spark, tdir, schema, partition_by=["g"])
    w.append(spark.range(20).select(F.col("id").alias("i"),
                                    (F.col("id") % 2).alias("g")))

    def run_batch():
        q = (
            spark.readStream.format("delta_py")
            .option("path", tdir)
            .option("startingVersion", "0")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_batch()
    got = spark.read.schema(schema).parquet(out)
    assert got.count() == 20
    assert got.agg(F.sum("i")).collect()[0][0] == sum(range(20))
    assert {r["g"] for r in got.select("g").distinct().collect()} == {0, 1}

    # second commit; a resumed stream picks up ONLY the delta
    DeltaWriter(tdir, spark).append(
        spark.range(20, 30).select(F.col("id").alias("i"),
                                   (F.col("id") % 2).alias("g")))
    run_batch()
    got2 = spark.read.schema(schema).parquet(out)
    assert got2.count() == 30
    assert got2.agg(F.sum("i")).collect()[0][0] == sum(range(30))

    # OPTIMIZE is invisible to the stream; a DELETE fails it by default
    assert DeltaWriter(tdir, spark).compact(target_file_bytes=64 << 20) is not None
    run_batch()
    assert spark.read.schema(schema).parquet(out).count() == 30
    DeltaWriter(tdir, spark).delete("i < 2")
    import pyspark.errors

    try:
        run_batch()
        raised = False
    except Exception:
        raised = True
    assert raised, "stream over a DELETE commit must fail without ignoreChanges"


def test_delta_py_streaming_sink_roundtrip(spark, tmp_path):
    """Delta -> stream -> Delta: the sink commits one Delta version per
    micro-batch with txn(appId, batchId) idempotency; a second availableNow
    run with the same checkpoint adds nothing."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from duckdb_delta_spark import DeltaTable, DeltaWriter
    from duckdb_delta_spark.streaming.delta_source import DeltaPySource

    spark.dataSource.register(DeltaPySource)
    src_dir = str(tmp_path / "src")
    dst_dir = str(tmp_path / "dst")
    ckpt = str(tmp_path / "ck")

    schema = T.StructType([T.StructField("i", T.LongType()),
                           T.StructField("x", T.DoubleType())])
    w = DeltaWriter.create(spark, src_dir, schema)
    w.append(spark.range(25).select(F.col("id").alias("i"),
                                    (F.col("id") * 0.5).alias("x")))
    DeltaWriter.create(spark, dst_dir, schema)

    def run():
        q = (
            spark.readStream.format("delta_py")
            .option("path", src_dir)
            .option("startingVersion", "0")
            .load()
            .writeStream.format("delta_py")
            .option("path", dst_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    t = DeltaTable(dst_dir)
    assert t.to_df(spark).count() == 25
    assert t.to_df(spark).agg(F.sum("i")).collect()[0][0] == sum(range(25))
    # add actions carry footer stats; commit carries the txn action
    (last_v,) = [t.version]
    import json as _json
    import os as _os

    actions = [
        _json.loads(line)
        for line in open(_os.path.join(
            dst_dir, "_delta_log", f"{last_v:020d}.json"))
    ]
    assert any("txn" in a for a in actions)
    add = next(a["add"] for a in actions if "add" in a)
    assert _json.loads(add["stats"])["numRecords"] > 0

    # re-running with the same checkpoint must not duplicate anything
    run()
    assert DeltaTable(dst_dir).to_df(spark).count() == 25
    # a new source commit flows through as exactly one new version
    DeltaWriter(src_dir, spark).append(
        spark.range(25, 30).select(F.col("id").alias("i"),
                                   (F.col("id") * 0.5).alias("x")))
    run()
    assert DeltaTable(dst_dir).to_df(spark).count() == 30


def test_sink_commit_snapshot_cache_incremental(spark, tmp_path):
    """The sink's per-batch snapshot refresh is INCREMENTAL from a cached
    snapshot (replay_start == previous version + 1) — a long-lived stream
    must not pay O(log length) driver replay per batch. Driven directly
    (Spark runs commit() in a separate Python runner process, so the
    in-process log sink can only observe a direct call)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    from duckdb_delta_spark import DeltaTable, DeltaWriter
    from duckdb_delta_spark.delta import logging as dlog
    from duckdb_delta_spark.streaming.delta_source import (
        DeltaStreamWriter,
        _WrittenFile,
    )

    dst = str(tmp_path / "dst")
    schema = T.StructType([T.StructField("i", T.LongType())])
    DeltaWriter.create(spark, dst, schema)

    sink = DeltaStreamWriter(dst, schema, {"txnAppId": "probe"})
    events = []
    dlog.add_sink(events.append)
    try:
        for batch_id in (0, 1, 2):
            rel = f"probe-{batch_id}.parquet"
            pq.write_table(
                pa.Table.from_pydict(
                    {"i": [batch_id]}, schema=to_arrow_schema(schema)
                ),
                f"{dst}/{rel}",
            )
            sink.commit(
                [_WrittenFile(rel_path=rel, size=100)], batchId=batch_id
            )
    finally:
        dlog.remove_sink(events.append)

    t = DeltaTable(dst)
    assert t.version == 3
    assert sorted(r["i"] for r in t.to_df(spark).collect()) == [0, 1, 2]
    builds = [e for e in events
              if e["event"] == "snapshot.build" and e["table_path"] == dst]
    incr = [e for e in builds if e.get("incremental")]
    assert incr, "sink must refresh its snapshot incrementally"
    # each refresh replays AT MOST the one commit the sink itself wrote
    # (replay_start == version+1 when the cache is already current)
    assert all(e["replay_start"] >= e["version"] for e in incr)
    # batches 1 and 2 both refresh incrementally — never a full replay
    assert len(incr) >= 2


def test_sink_and_source_gates(spark, tmp_path):
    """Stream-start gating mirrors DeltaWriter._assert_writable: the sink
    refuses partitioned / column-mapped / CDF tables instead of corrupting
    them; the source refuses column-mapped tables it cannot read."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from duckdb_delta_spark import DeltaWriter
    from duckdb_delta_spark.delta.errors import UnsupportedFeatureError
    from duckdb_delta_spark.streaming.delta_source import (
        DeltaStreamReader,
        DeltaStreamWriter,
    )

    schema = T.StructType([T.StructField("i", T.LongType()),
                           T.StructField("g", T.LongType())])

    part = str(tmp_path / "part")
    DeltaWriter.create(spark, part, schema, partition_by=["g"])
    narrow = T.StructType([T.StructField("i", T.LongType())])
    with pytest.raises(UnsupportedFeatureError, match="partition columns"):
        DeltaStreamWriter(part, narrow, {})  # input lacks partition col g

    # CDF-enabled tables are writable since r14 — blind appends never
    # need _change_data (the feed derives their rows as inserts); the
    # sink constructs without raising (value coverage:
    # test_sink_into_cdf_table_feeds_inserts)
    cdf = str(tmp_path / "cdf")
    DeltaWriter.create(spark, cdf, schema,
                       configuration={"delta.enableChangeDataFeed": "true"})
    DeltaStreamWriter(cdf, schema, {})

    cm = str(tmp_path / "cm")
    DeltaWriter.create(spark, cm, schema,
                       configuration={"delta.columnMapping.mode": "name"})
    # column-mapped tables stream BOTH WAYS since r14 — reader (flat r13,
    # nested via the Arrow physical-name rename) and writer (positional
    # physical rename + field-id'd schema) construct without raising
    # (positive value coverage: test_source_flat_column_mapping_*,
    # test_source_nested_column_mapping_*, test_sink_on_column_mapped_table)
    from duckdb_delta_spark.delta.log import DeltaLog
    from duckdb_delta_spark.delta.snapshot import Snapshot

    flat_schema = Snapshot.build(DeltaLog(cm)).schema
    DeltaStreamWriter(cm, flat_schema, {})
    DeltaStreamReader(cm, flat_schema, {"startingVersion": "0"})
    # ...but an input column the table lacks refuses loudly (unless
    # mergeSchema widens it — test_sink_merge_schema_option)
    extra = T.StructType(list(flat_schema.fields)
                         + [T.StructField("zz", T.LongType())])
    with pytest.raises(UnsupportedFeatureError, match="mergeSchema"):
        DeltaStreamWriter(cm, extra, {})

    nested = str(tmp_path / "cm_nested")
    nschema = T.StructType([
        T.StructField("i", T.LongType()),
        T.StructField("info", T.StructType(
            [T.StructField("a", T.LongType())])),
    ])
    DeltaWriter.create(spark, nested, nschema,
                       configuration={"delta.columnMapping.mode": "name"})
    nested_schema = Snapshot.build(DeltaLog(nested)).schema
    DeltaStreamReader(nested, nested_schema, {"startingVersion": "0"})


def test_source_old_files_yield_nulls_for_widened_schema(spark, tmp_path):
    """startingVersion=0 replay across a mergeSchema widening: files from
    before the widening yield typed NULLs for the new column (batch scan's
    missing-column defaulting, mirrored in the Arrow slice reader)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from duckdb_delta_spark import DeltaWriter
    from duckdb_delta_spark.streaming.delta_source import DeltaPySource

    spark.dataSource.register(DeltaPySource)
    tdir = str(tmp_path / "t")
    ckpt = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    s1 = T.StructType([T.StructField("i", T.LongType())])
    w = DeltaWriter.create(spark, tdir, s1)
    w.append(spark.range(5).select(F.col("id").alias("i")))
    wide = spark.range(5, 8).select(
        F.col("id").alias("i"), F.lit(1.5).alias("x"))
    DeltaWriter(tdir, spark).append(wide, merge_schema=True)

    q = (
        spark.readStream.format("delta_py")
        .option("path", tdir)
        .option("startingVersion", "0")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    s2 = T.StructType([T.StructField("i", T.LongType()),
                       T.StructField("x", T.DoubleType())])
    got = spark.read.schema(s2).parquet(out)
    assert got.count() == 8
    assert got.where("x IS NULL").count() == 5
    assert got.where("x = 1.5").count() == 3


def test_partitioned_sink_roundtrip(spark, tmp_path):
    """Streaming sink on a hive-partitioned table: each task splits its
    Arrow batches per partition value, files land under col=value/ dirs,
    and the add actions carry matching partitionValues — so the batch
    scan's partition pruning works on the streamed table."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from duckdb_delta_spark import DeltaTable, DeltaWriter
    from duckdb_delta_spark.streaming.delta_source import DeltaPySource

    spark.dataSource.register(DeltaPySource)
    src_dir = str(tmp_path / "src")
    dst_dir = str(tmp_path / "dst")
    ckpt = str(tmp_path / "ck")

    schema = T.StructType([T.StructField("i", T.LongType()),
                           T.StructField("g", T.LongType())])
    w = DeltaWriter.create(spark, src_dir, schema)
    w.append(spark.range(30).select(F.col("id").alias("i"),
                                    (F.col("id") % 3).alias("g")))
    DeltaWriter.create(spark, dst_dir, schema, partition_by=["g"])

    q = (
        spark.readStream.format("delta_py")
        .option("path", src_dir)
        .option("startingVersion", "0")
        .load()
        .writeStream.format("delta_py")
        .option("path", dst_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    t = DeltaTable(dst_dir)
    df = t.to_df(spark)
    assert df.count() == 30
    assert df.agg(F.sum("i")).collect()[0][0] == sum(range(30))
    assert {r["g"] for r in df.select("g").distinct().collect()} == {0, 1, 2}
    # add actions carry partitionValues; files live in hive dirs
    for f in t.snapshot.add_files():
        assert f.partition_values.get("g") in {"0", "1", "2"}
        assert f.path.startswith(f"g={f.partition_values['g']}/")
    # partition pruning prunes streamed files like batch-written ones
    sb = t.scan(spark).filter("g", "=", 1)
    out = sb.to_df()
    assert out.count() == 10
    rep = sb.skip_report()
    assert rep["files_skipped_by_partition"] > 0


def test_source_max_files_per_trigger(spark, tdir):
    """delta-spark parity: .option('maxFilesPerTrigger', N) bounds each
    micro-batch's file admission — latestOffset walks commit-by-commit
    spending the budget (≥1 commit per batch), instead of jumping the
    whole backlog into one batch."""
    from pyspark.sql import types as T

    from duckdb_delta_spark.delta.table import DeltaTable
    from duckdb_delta_spark.delta.writer import DeltaWriter
    from duckdb_delta_spark.streaming.delta_source import DeltaStreamReader

    schema_in = T.StructType([T.StructField("i", T.LongType()),
                              T.StructField("g", T.LongType())])
    w = DeltaWriter.create(spark, tdir, schema_in)
    for k in range(3):
        w.append(spark.range(40 * k, 40 * (k + 1)).select(
            F.col("id").alias("i"), (F.col("id") % 2).alias("g"))
            .repartition(4))  # 4 files each

    schema = DeltaTable(tdir).schema()
    r = DeltaStreamReader(
        tdir, schema, {"startingVersion": "0", "maxFilesPerTrigger": "4"})
    assert r.initialOffset() == {"version": -1}
    # each poll admits exactly one 4-file commit; small files PACK into
    # fewer input partitions (Spark FilePartition binning), so count
    # FILES across the splits, not splits
    assert r.latestOffset() == {"version": 1}
    slices = r.partitions({"version": -1}, {"version": 1})
    assert sum(len(s.files) for s in slices) == 4
    assert r.latestOffset() == {"version": 2}
    assert r.latestOffset() == {"version": 3}
    assert r.latestOffset() == {"version": 3}  # caught up: no progress

    # unlimited: straight to HEAD
    r2 = DeltaStreamReader(tdir, schema, {"startingVersion": "0"})
    assert r2.latestOffset() == {"version": 3}


def test_source_rate_cursor_survives_restart(spark, tdir):
    """Restart safety for maxFilesPerTrigger: a FRESH reader instance
    (checkpoint recovery) must never hand Spark an offset behind the
    committed position — offsets are opaque, so a regressed latestOffset
    would re-plan and re-emit already-processed commits. partitions()
    clamps the rate cursor to observed progress."""
    from pyspark.sql import types as T

    from duckdb_delta_spark.delta.table import DeltaTable
    from duckdb_delta_spark.delta.writer import DeltaWriter
    from duckdb_delta_spark.streaming.delta_source import DeltaStreamReader

    schema_in = T.StructType([T.StructField("i", T.LongType()),
                              T.StructField("g", T.LongType())])
    w = DeltaWriter.create(spark, tdir, schema_in)
    for k in range(3):
        w.append(spark.range(40 * k, 40 * (k + 1)).select(
            F.col("id").alias("i"), (F.col("id") % 2).alias("g"))
            .repartition(4))  # v1..v3, 4 files each

    schema = DeltaTable(tdir).schema()
    # restart: new instance, Spark replays the committed batch (2, 3]
    r = DeltaStreamReader(
        tdir, schema, {"startingVersion": "0", "maxFilesPerTrigger": "4"})
    replay = r.partitions({"version": 2}, {"version": 3})
    assert sum(len(s.files) for s in replay) == 4
    # the next poll must NOT regress behind the committed offset 3
    assert r.latestOffset() == {"version": 3}

    # same, replaying an intermediate batch: never goes below its start
    r2 = DeltaStreamReader(
        tdir, schema, {"startingVersion": "0", "maxFilesPerTrigger": "4"})
    r2.partitions({"version": 1}, {"version": 2})
    assert r2.latestOffset()["version"] >= 2


def test_sink_per_batch_operation_metrics(spark, tdir):
    """Every streaming-sink micro-batch commit carries its own cost
    breakdown in commitInfo.operationMetrics (delta-spark surface), and
    the driver-side phases stay bounded: the per-batch cost of the sink
    is snapshot-refresh + action build, NOT O(log) replay or sequential
    footer reads. The unavoidable remainder of a cold streaming query is
    the one-time Python-worker fleet spawn, which this test demonstrates
    by running two identical streams: the second (warm) stream must be
    substantially cheaper than the first."""
    import json as _json
    import os
    import time as _time

    from pyspark.sql import types as T

    from duckdb_delta_spark.delta.log import DeltaLog
    from duckdb_delta_spark.delta.writer import DeltaWriter
    from duckdb_delta_spark.streaming.delta_source import DeltaPySource

    try:
        spark.dataSource.register(DeltaPySource)
    except Exception:  # noqa: BLE001
        pass
    schema_in = T.StructType([T.StructField("i", T.LongType()),
                              T.StructField("g", T.LongType())])
    src = tdir + "_src"
    w = DeltaWriter.create(spark, src, schema_in)
    for k in range(2):
        w.append(spark.range(500 * k, 500 * (k + 1)).select(
            F.col("id").alias("i"), (F.col("id") % 2).alias("g"))
            .coalesce(2))

    def roundtrip(tag):
        dst = os.path.join(tdir, tag, "dst")
        DeltaWriter.create(spark, dst, schema_in)
        t0 = _time.time()
        q = (spark.readStream.format("delta_py").option("path", src)
             .option("startingVersion", "0").load()
             .writeStream.format("delta_py").option("path", dst)
             .option("checkpointLocation", os.path.join(tdir, tag, "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return dst, _time.time() - t0

    dst1, cold = roundtrip("cold")
    dst2, warm = roundtrip("warm")

    # breakdown present on every data commit, with bounded driver phases
    for dst in (dst1, dst2):
        infos = [a["commitInfo"] for a in DeltaLog(dst).read_commit(1)
                 if "commitInfo" in a]
        m = infos[0].get("operationMetrics")
        assert m, f"no operationMetrics in {dst}"
        for key in ("numFiles", "numOutputRows", "numOutputBytes",
                    "executorWriteTimeMs", "snapshotRefreshTimeMs",
                    "commitPrepareTimeMs", "numStatsFallback"):
            assert key in m, key
        assert int(m["numOutputRows"]) == 1000
        assert int(m["numStatsFallback"]) == 0  # stats ship executor-side
        # driver-side per-batch phases: generous bound (contended CI box)
        # — the point is they are millisecond-scale, not O(job)
        assert int(m["snapshotRefreshTimeMs"]) < 2000, _json.dumps(m)
        assert int(m["commitPrepareTimeMs"]) < 2000, _json.dumps(m)

    # the cold/warm gap is fleet spawn, not per-batch work: warm must be
    # well under cold and under the framework bound documented in
    # docs/streaming_sink_budget.md
    assert warm < max(6.0, cold), (cold, warm)


def test_foreach_sink_exactly_once_replay(spark, tdir):
    """foreachBatch production sink: batches commit via the batch
    DeltaWriter with txn(appId,batchId); a REPLAYED batch id is skipped
    (no duplicate rows), later batch ids append."""
    from pyspark.sql import types as T

    from duckdb_delta_spark.delta.table import DeltaTable
    from duckdb_delta_spark.delta.writer import DeltaWriter
    from duckdb_delta_spark.streaming.foreach_sink import delta_foreach_batch

    schema_in = T.StructType([T.StructField("i", T.LongType()),
                              T.StructField("g", T.LongType())])
    DeltaWriter.create(spark, tdir, schema_in)
    fn = delta_foreach_batch(tdir)

    df1 = spark.range(10).select(F.col("id").alias("i"),
                                 (F.col("id") % 2).alias("g"))
    fn(df1, 0)
    assert DeltaTable(tdir).to_df(spark).count() == 10
    fn(df1, 0)  # Spark replays batch 0 after a failure
    assert DeltaTable(tdir).to_df(spark).count() == 10  # skipped, not doubled
    df2 = spark.range(10, 15).select(F.col("id").alias("i"),
                                     (F.col("id") % 2).alias("g"))
    fn(df2, 1)
    got = DeltaTable(tdir).to_df(spark)
    assert got.count() == 15
    assert {r["i"] for r in got.collect()} == set(range(15))


def test_source_change_commit_options(spark, tdir):
    """delta-spark option parity on the streaming source:
    skipChangeCommits skips remove-carrying commits entirely,
    ignoreDeletes admits delete-only commits, ignoreChanges admits the
    rewrite images, and startingTimestamp resolves the start version."""
    import time as _time

    from pyspark.sql import types as T

    from duckdb_delta_spark.delta.writer import DeltaWriter
    from duckdb_delta_spark.streaming.delta_source import DeltaStreamReader

    schema_in = T.StructType([T.StructField("i", T.LongType()),
                              T.StructField("g", T.LongType())])
    w = DeltaWriter.create(spark, tdir, schema_in)
    w.append(spark.range(10).select(
        F.col("id").alias("i"), (F.col("id") % 2).alias("g")).coalesce(1))
    _time.sleep(0.05)
    t_mid = int(_time.time() * 1000)
    _time.sleep(0.05)
    w.delete("i < 3")                                       # v2: add+remove (DV)
    w.append(spark.range(10, 15).select(
        F.col("id").alias("i"), (F.col("id") % 2).alias("g")).coalesce(1))

    def slices(opts):
        r = DeltaStreamReader(tdir, schema_in,
                              {"startingVersion": "0", **opts})
        return r.partitions({"version": -1}, {"version": 3})

    # default: remove-carrying commit errors
    import pytest as _pytest

    with _pytest.raises(ValueError, match="removes data"):
        slices({})
    # skipChangeCommits: v2 skipped entirely -> v1 + v3 files only
    got = [f for s in slices({"skipChangeCommits": "true"}) for f in s.files]
    assert len(got) == 2 and all(f.dv is None for f in got)
    # ignoreChanges: v2's rewrite image flows through (with its DV)
    got2 = [f for s in slices({"ignoreChanges": "true"}) for f in s.files]
    assert len(got2) == 3 and any(f.dv for f in got2)

    # delete-only commit (full-file DELETE -> removes, no adds):
    # ignoreDeletes admits it silently
    w.delete("i >= 0")                                       # v4 removes all
    r = DeltaStreamReader(tdir, schema_in,
                          {"startingVersion": "4", "ignoreDeletes": "true"})
    assert r.partitions({"version": 3}, {"version": 4}) == []

    # startingTimestamp between v1 and v2 starts the stream at v2
    r2 = DeltaStreamReader(tdir, schema_in,
                           {"startingTimestamp": t_mid,
                            "ignoreChanges": "true"})
    assert r2.initialOffset() == {"version": 1}  # first batch includes v2


def test_source_read_change_feed(spark, tdir):
    """.option('readChangeFeed','true'): the stream yields CDF rows
    (schema + _change_type/_commit_version/_commit_timestamp) matching
    the batch change feed — log-derived inserts, DV-diff deletes, and
    cdc-file commits consumed through their _change_data files."""
    import shutil as _sh

    from pyspark.sql import types as T

    from duckdb_delta_spark.delta.changes import table_changes
    from duckdb_delta_spark.delta.log import DeltaLog
    from duckdb_delta_spark.delta.table import DeltaTable
    from duckdb_delta_spark.delta.writer import DeltaWriter

    schema_in = T.StructType([T.StructField("i", T.LongType()),
                              T.StructField("s", T.StringType())])
    w = DeltaWriter.create(
        spark, tdir, schema_in,
        configuration={"delta.enableChangeDataFeed": "true"})
    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").alias("i"), F.concat(F.lit("s"), F.col("id")).alias("s"))
    w.append(mk(0, 30).coalesce(1))          # v1: inserts
    w.append(mk(30, 50).coalesce(1))         # v2: inserts
    w.delete("i % 10 = 3")                   # v3: DV/cdc deletes
    w.update("i = 7", {"s": "'updated'"})    # v4: cdc update pair

    from duckdb_delta_spark.streaming.delta_source import DeltaPySource

    spark.dataSource.register(DeltaPySource)
    batch = table_changes(DeltaLog(tdir), spark, starting_version=0)
    exp = sorted(
        (r["_change_type"], r["_commit_version"], r["i"])
        for r in batch.collect()
    )

    out = str(tdir) + "_cdf_out"
    ckpt = str(tdir) + "_cdf_ckpt"
    q = (
        spark.readStream.format("delta_py")
        .option("path", tdir)
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got_df = spark.read.parquet(out)
    got = sorted(
        (r["_change_type"], r["_commit_version"], r["i"])
        for r in got_df.collect()
    )
    assert got == exp
    # commit timestamps present and sane (epoch of this test run)
    tss = [r["_commit_timestamp"] for r in got_df.select("_commit_timestamp").collect()]
    assert all(ts is not None and ts.year >= 2024 for ts in tss)
    _sh.rmtree(out, ignore_errors=True)
    _sh.rmtree(ckpt, ignore_errors=True)

def test_source_cdf_non_cdc_table(spark, tdir):
    """readChangeFeed on a table WITHOUT cdc files: deletes derive from
    the log alone.  Guards two lookup bugs — prev.files is keyed
    (path, dvUniqueId), so the dropped-path branch needs a bare-path map,
    and the DV re-add branch must take the old DV from the REMOVE action
    (a bare-path get returned None, re-emitting all prior deletes)."""
    import shutil as _sh

    from pyspark.sql import types as T

    from duckdb_delta_spark.delta.changes import table_changes
    from duckdb_delta_spark.delta.log import DeltaLog
    from duckdb_delta_spark.delta.writer import DeltaWriter

    schema_in = T.StructType([T.StructField("i", T.LongType()),
                              T.StructField("s", T.StringType())])
    w = DeltaWriter.create(spark, tdir, schema_in)  # no CDF config
    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").alias("i"), F.concat(F.lit("s"), F.col("id")).alias("s"))
    w.append(mk(0, 30).coalesce(1))          # v1: inserts
    w.delete("i < 5")                        # v2: DV deletes rows 0-4
    w.delete("i < 8")                        # v3: DV update -> diff 5,6,7
    w.update("i = 20", {"s": "'upd'"})       # v4: DV delete + insert
    w.overwrite(mk(100, 105).coalesce(1))    # v5: dropped paths + insert

    from duckdb_delta_spark.streaming.delta_source import DeltaPySource

    spark.dataSource.register(DeltaPySource)
    batch = table_changes(DeltaLog(tdir), spark, starting_version=0)
    exp = sorted(
        (r["_change_type"], r["_commit_version"], r["i"])
        for r in batch.collect()
    )
    # the batch oracle itself: v3 emits ONLY the newly deleted rows
    assert [t for t in exp if t[1] == 3] == [
        ("delete", 3, 5), ("delete", 3, 6), ("delete", 3, 7)]
    # v5 overwrite: dropped-path deletes = live rows at v4 (30 - 8 DV'd,
    # incl. the updated row), never the already-deleted ones
    v5_del = [t for t in exp if t[1] == 5 and t[0] == "delete"]
    assert len(v5_del) == 22 and ("delete", 5, 0) not in v5_del

    out = str(tdir) + "_ncdf_out"
    ckpt = str(tdir) + "_ncdf_ckpt"
    q = (
        spark.readStream.format("delta_py")
        .option("path", tdir)
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["_change_type"], r["_commit_version"], r["i"])
        for r in spark.read.parquet(out).collect()
    )
    assert got == exp
    _sh.rmtree(out, ignore_errors=True)
    _sh.rmtree(ckpt, ignore_errors=True)

def test_source_cdf_restore_resurrects_dv_rows(spark, tdir):
    """Streaming twin of the batch DV-shrink regression: a RESTORE that
    rolls back a DV delete must stream the resurrected rows as ``insert``
    (emit-DV over the dvOld − dvNew set), matching the batch feed row for
    row."""
    import shutil as _sh

    from pyspark.sql import types as T

    from duckdb_delta_spark.delta.changes import table_changes
    from duckdb_delta_spark.delta.log import DeltaLog
    from duckdb_delta_spark.delta.writer import DeltaWriter
    from duckdb_delta_spark.streaming.delta_source import DeltaPySource

    schema = T.StructType([T.StructField("k", T.LongType()),
                           T.StructField("v", T.LongType())])
    w = DeltaWriter.create(spark, tdir, schema)                    # v0
    w.append(spark.createDataFrame(
        [(7, 70), (29, 290), (20, 200), (26, 260)], schema))       # v1
    w.compact()                                                    # v2
    w.append(spark.createDataFrame([(0, 0)], schema))              # v3
    w.delete("k <= 22")                                            # v4
    w.restore(version=3)                                           # v5

    exp = sorted(
        (r["_change_type"], r["_commit_version"], r["k"], r["v"])
        for r in table_changes(DeltaLog(tdir), spark,
                               starting_version=0).collect()
    )
    assert [t for t in exp if t[1] == 5] == [
        ("insert", 5, 0, 0), ("insert", 5, 7, 70), ("insert", 5, 20, 200)]

    spark.dataSource.register(DeltaPySource)
    out = str(tdir) + "_rcdf_out"
    ckpt = str(tdir) + "_rcdf_ckpt"
    q = (
        spark.readStream.format("delta_py")
        .option("path", tdir)
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["_change_type"], r["_commit_version"], r["k"], r["v"])
        for r in spark.read.parquet(out).collect()
    )
    assert got == exp
    _sh.rmtree(out, ignore_errors=True)
    _sh.rmtree(ckpt, ignore_errors=True)


def test_source_cdf_rate_limited_restart(spark, tdir):
    """readChangeFeed + maxFilesPerTrigger combined (the two interact in
    latestOffset): a checkpoint restart must not re-emit change rows —
    the fresh reader's rate cursor clamps to committed progress in CDF
    mode too, and the resumed stream picks up exactly the unseen
    commits."""
    import shutil as _sh

    from pyspark.sql import types as T

    from duckdb_delta_spark.delta.table import DeltaTable
    from duckdb_delta_spark.delta.writer import DeltaWriter
    from duckdb_delta_spark.streaming.delta_source import (
        DeltaPySource,
        DeltaStreamReader,
    )

    schema_in = T.StructType([T.StructField("i", T.LongType()),
                              T.StructField("g", T.LongType())])
    w = DeltaWriter.create(spark, tdir, schema_in)
    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").alias("i"), (F.col("id") % 2).alias("g"))
    for k in range(3):
        w.append(mk(40 * k, 40 * (k + 1)).repartition(4))  # v1..v3
    w.delete("i < 10")                                     # v4: DV deletes

    # reader-level: a fresh CDF reader replaying the committed batch
    # (2, 3] plans only that range, and the next poll never regresses
    schema = DeltaTable(tdir).schema()
    r = DeltaStreamReader(
        tdir, schema,
        {"startingVersion": "0", "readChangeFeed": "true",
         "maxFilesPerTrigger": "4"})
    replay = r.partitions({"version": 2}, {"version": 3})
    vs = {f.commit_version for s in replay for f in s.files}
    assert vs == {3}
    assert r.latestOffset()["version"] >= 3

    # end-to-end: run to completion, add commits, RESTART on the same
    # checkpoint — every (change_type, version, i) appears exactly once
    spark.dataSource.register(DeltaPySource)
    out = str(tdir) + "_cdfr_out"
    ckpt = str(tdir) + "_cdfr_ckpt"

    # availableNow through the Python-source bridge captures ONE
    # rate-limited latestOffset as the run's end, so a rate-limited
    # backlog needs a continuous trigger (or repeated runs) to drain;
    # run with processingTime and stop once caught up — restart included
    def run_until(n_expected):
        import time as _time

        q = (
            spark.readStream.format("delta_py")
            .option("path", tdir)
            .option("readChangeFeed", "true")
            .option("startingVersion", "1")
            .option("maxFilesPerTrigger", "2")   # forces multi-batch
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="1 seconds")
            .start()
        )
        try:
            deadline = _time.time() + 120
            while _time.time() < deadline:
                try:
                    if spark.read.parquet(out).count() >= n_expected:
                        break
                except Exception:  # noqa: BLE001 - sink dir not born yet
                    pass
                _time.sleep(0.5)
        finally:
            q.stop()

    run_until(130)
    n_first = spark.read.parquet(out).count()
    assert n_first == 120 + 10  # 3 inserts x 40 + 10 DV deletes

    w.append(mk(200, 210).coalesce(1))  # v5
    w.delete("i >= 205")                # v6: 5 more DV deletes
    run_until(n_first + 15)             # restart from checkpoint

    rows = [(r2["_change_type"], r2["_commit_version"], r2["i"])
            for r2 in spark.read.parquet(out).collect()]
    assert len(rows) == n_first + 10 + 5
    assert len(set(rows)) == len(rows), "re-emitted change rows"
    _sh.rmtree(out, ignore_errors=True)
    _sh.rmtree(ckpt, ignore_errors=True)


def test_source_max_bytes_per_trigger(spark, tdir):
    """delta-spark parity: .option('maxBytesPerTrigger', N) is a soft byte
    cap per micro-batch — commits are admitted until the byte budget is
    spent (always ≥ 1), composing with maxFilesPerTrigger (whichever
    budget ends first wins)."""
    from pyspark.sql import types as T

    from duckdb_delta_spark.delta.table import DeltaTable
    from duckdb_delta_spark.delta.writer import DeltaWriter
    from duckdb_delta_spark.streaming.delta_source import DeltaStreamReader

    schema_in = T.StructType([T.StructField("i", T.LongType()),
                              T.StructField("g", T.LongType())])
    w = DeltaWriter.create(spark, tdir, schema_in)
    for k in range(3):
        w.append(spark.range(40 * k, 40 * (k + 1)).select(
            F.col("id").alias("i"), (F.col("id") % 2).alias("g"))
            .repartition(2))
    sizes = {}
    from duckdb_delta_spark.delta.log import DeltaLog

    for v in (1, 2, 3):
        sizes[v] = sum(a["add"]["size"] for a in DeltaLog(tdir).read_commit(v)
                       if a.get("add"))
    schema = DeltaTable(tdir).schema()

    # budget = one commit's bytes → one commit per batch
    r = DeltaStreamReader(
        tdir, schema,
        {"startingVersion": "0", "maxBytesPerTrigger": str(sizes[1])})
    assert r.latestOffset() == {"version": 1}
    assert r.latestOffset() == {"version": 2}
    assert r.latestOffset() == {"version": 3}
    assert r.latestOffset() == {"version": 3}

    # budget covering two commits → two per batch
    r2 = DeltaStreamReader(
        tdir, schema,
        {"startingVersion": "0",
         "maxBytesPerTrigger": str(sizes[1] + sizes[2])})
    assert r2.latestOffset() == {"version": 2}
    assert r2.latestOffset() == {"version": 3}

    # tiny budget still admits one whole commit (no stall)
    r3 = DeltaStreamReader(
        tdir, schema, {"startingVersion": "0", "maxBytesPerTrigger": "1"})
    assert r3.latestOffset() == {"version": 1}

    # composes with maxFilesPerTrigger: file budget ends the batch first
    r4 = DeltaStreamReader(
        tdir, schema,
        {"startingVersion": "0", "maxBytesPerTrigger": str(10 << 30),
         "maxFilesPerTrigger": "2"})
    assert r4.latestOffset() == {"version": 1}


def test_dedup_stream_is_jvm_native_and_suppresses_cross_batch(spark, tmp_path):
    """Exact dedup runs in the JVM state store (dropDuplicates), NOT via a
    per-key Python state function: the plan must contain a streaming
    dedup node and no FlatMapGroupsInPandasWithState. Two waves with the
    same fingerprints → only wave 1 survives."""
    import os

    from pyspark.sql import types as T

    from duckdb_delta_spark.streaming import (
        dedup_stream,
        run_stream_to_memory,
    )

    schema = T.StructType([
        T.StructField("fingerprint", T.StringType()),
        T.StructField("doc_id", T.LongType()),
    ])
    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    w1 = spark.createDataFrame(
        [(f"fp{i}", i) for i in range(50)], schema)
    w2 = spark.createDataFrame(
        [(f"fp{i}", i + 1000) for i in range(50)], schema)
    w1.coalesce(1).write.parquet(str(tmp_path / "w1"))
    w2.coalesce(1).write.parquet(str(tmp_path / "w2"))
    import shutil

    for i, d in enumerate(("w1", "w2")):
        (part,) = [f for f in os.listdir(tmp_path / d)
                   if f.endswith(".parquet")]
        dest = os.path.join(stage, f"wave{i}.parquet")
        shutil.copyfile(str(tmp_path / d / part), dest)
        os.utime(dest, (1000 + i, 1000 + i))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    deduped = dedup_stream(stream)

    # mechanism: JVM streaming dedup, zero Python state crossings
    plan = deduped._jdf.queryExecution().analyzed().toString()
    assert "Deduplicate" in plan, plan
    assert "FlatMapGroupsInPandasWithState" not in plan, plan

    out = run_stream_to_memory(deduped, output_mode="append")
    rows = out.collect()
    assert len(rows) == 50
    assert {r["doc_id"] for r in rows} == set(range(50))  # wave 2 suppressed
    assert {r["fingerprint"] for r in rows} == {f"fp{i}" for i in range(50)}


def test_dedup_stream_counts_tracks_arrivals(spark, tmp_path):
    """dedup_stream_counts: plain JVM streaming aggregation giving per-
    fingerprint arrival counts (the companion stat the dedup operator no
    longer threads through its state)."""
    import os
    import shutil

    from pyspark.sql import types as T

    from duckdb_delta_spark.streaming import (
        dedup_stream_counts,
        run_stream_to_memory,
    )

    schema = T.StructType([
        T.StructField("fingerprint", T.StringType()),
        T.StructField("doc_id", T.LongType()),
    ])
    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    w1 = spark.createDataFrame([(f"fp{i}", i) for i in range(10)], schema)
    w2 = spark.createDataFrame(
        [(f"fp{i}", i + 100) for i in range(5)], schema)
    w1.coalesce(1).write.parquet(str(tmp_path / "w1"))
    w2.coalesce(1).write.parquet(str(tmp_path / "w2"))
    for i, d in enumerate(("w1", "w2")):
        (part,) = [f for f in os.listdir(tmp_path / d)
                   if f.endswith(".parquet")]
        shutil.copyfile(str(tmp_path / d / part),
                        os.path.join(stage, f"wave{i}.parquet"))

    stream = spark.readStream.schema(schema).parquet(stage)
    out = run_stream_to_memory(
        dedup_stream_counts(stream), output_mode="complete")
    got = {r["fingerprint"]: r["n_arrivals"] for r in out.collect()}
    assert got == {f"fp{i}": (2 if i < 5 else 1) for i in range(10)}


def test_view_purchase_join_stream_equals_batch(spark):
    """Stream-stream interval join result == the batch join; the plan is
    a watermark-bounded symmetric hash join (JVM state, no Python)."""
    from duckdb_delta_spark.streaming import (
        run_stream_to_memory,
        stream_events,
        view_purchase_join_stream,
    )

    joined = view_purchase_join_stream(
        stream_events(spark, SF), window_min=30, watermark="36500 days")
    plan = joined._jdf.queryExecution().analyzed().toString()
    assert "EventTimeWatermark" in plan, plan
    got = run_stream_to_memory(joined, output_mode="append")

    from duckdb_delta_spark.queries import load

    ev = load(spark, SF, "events")
    v = ev.where("event_type = 'view'").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts"))
    b = ev.where("event_type = 'purchase'").select(
        F.col("user_id").alias("b_user"), F.col("ts").alias("purchase_ts"))
    want = v.join(
        b,
        F.expr("v_user = b_user AND purchase_ts >= view_ts AND "
               "purchase_ts <= view_ts + interval 30 minutes"),
    ).select(F.col("v_user").alias("user_id"), "view_ts", "purchase_ts")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_foreach_merge_exactly_once_and_dedup_keys(spark, tdir):
    """delta_foreach_merge: replayed batch ids are skipped (txn on the
    MERGE commit), and dedup_keys reduces a batch to last-row-per-key
    before merging so the MERGE uniqueness precondition holds."""
    from pyspark.sql import types as T

    from duckdb_delta_spark import DeltaTable, DeltaWriter
    from duckdb_delta_spark.streaming.foreach_sink import delta_foreach_merge

    schema = T.StructType([T.StructField("k", T.LongType()),
                           T.StructField("v", T.LongType()),
                           T.StructField("seq", T.LongType())])
    w = DeltaWriter.create(spark, tdir, schema)
    w.append(spark.createDataFrame([(1, 10, 0), (2, 20, 0)], schema))

    fn = delta_foreach_merge(
        tdir, "t.k = s.k",
        when_matched_update={"v": "s.v", "seq": "s.seq"},
        dedup_keys=["k"], order_col="seq", txn_app_id="up")

    # batch 0: two updates for k=1 (seq 1 then 2 — last wins) + insert k=3
    b0 = spark.createDataFrame(
        [(1, 111, 1), (1, 222, 2), (3, 30, 1)], schema)
    fn(b0, 0)
    got = {r["k"]: (r["v"], r["seq"])
           for r in DeltaTable(tdir).to_df(spark).collect()}
    assert got == {1: (222, 2), 2: (20, 0), 3: (30, 1)}

    # replay of batch 0 with different data must be SKIPPED
    fn(spark.createDataFrame([(1, 999, 9)], schema), 0)
    got2 = {r["k"]: (r["v"], r["seq"])
            for r in DeltaTable(tdir).to_df(spark).collect()}
    assert got2 == got

    # next batch id applies normally
    fn(spark.createDataFrame([(2, 200, 3)], schema), 1)
    assert {r["k"]: r["v"] for r in DeltaTable(tdir).to_df(spark).collect()} \
        == {1: 222, 2: 200, 3: 30}


def test_session_window_stream_is_jvm_native(spark):
    """The built-in session_window plan must contain the JVM session-window
    aggregation and no pandas-state operator."""
    from duckdb_delta_spark.streaming import session_window_stream, stream_events

    ev = stream_events(spark, "/root/testdata/sf0.001")
    plan = session_window_stream(ev)._jdf.queryExecution().analyzed().toString()
    assert "session_window" in plan
    assert "FlatMapGroupsInPandasWithState" not in plan


def test_enrich_stream_broadcasts_dim(spark):
    """Stream-static enrichment keeps the dim on the broadcast side —
    stateless map-side join per micro-batch."""
    from duckdb_delta_spark.streaming import enrich_stream, stream_events
    from duckdb_delta_spark.queries import load

    ev = stream_events(spark, "/root/testdata/sf0.001")
    dim = load(spark, "/root/testdata/sf0.001", "customer").select(
        "c_custkey", "c_nationkey")
    df = enrich_stream(ev, dim)
    # streaming plans only optimize at execution; the analyzed plan must
    # carry the broadcast hint on the dim side
    ana = df._jdf.queryExecution().analyzed().toString()
    assert "broadcast" in ana.lower()
    assert df.isStreaming


def test_available_now_drain_golden(spark, tdir):
    """Trigger.AvailableNow drain golden — the production backfill mode.

    The Python-source bridge lacks prepareForTriggerAvailableNow, so one
    availableNow run advances exactly one rate-limited batch;
    drain_available_now loops runs on ONE checkpoint until caught up.
    Asserts: (a) multiple planned batches, each honoring
    maxFilesPerTrigger, (b) full coverage with every row exactly once,
    (c) clean stop (no active query, terminal empty run), (d) the
    checkpoint offsets are live: a later continuous-trigger run on the
    SAME checkpoint resumes past the drained commits and picks up only
    new ones, still exactly-once."""
    import os
    import time as _time

    from pyspark.sql import types as T

    from duckdb_delta_spark.delta.writer import DeltaWriter
    from duckdb_delta_spark.streaming.delta_source import (
        DeltaPySource, drain_available_now,
    )

    try:
        spark.dataSource.register(DeltaPySource)
    except Exception:  # noqa: BLE001 - already registered
        pass
    src = os.path.join(tdir, "src")
    out = os.path.join(tdir, "out")
    ck = os.path.join(tdir, "ck")
    schema_in = T.StructType([T.StructField("i", T.LongType())])
    w = DeltaWriter.create(spark, src, schema_in)
    for k in range(6):  # v1..v6, 2 files each
        w.append(spark.range(10 * k, 10 * (k + 1))
                 .select(F.col("id").alias("i")).coalesce(2))

    def start():
        return (
            spark.readStream.format("delta_py").option("path", src)
            .option("startingVersion", "0")
            .option("maxFilesPerTrigger", "2").load()
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )

    runs = drain_available_now(start)
    # (a) the 6-commit backlog needed 6 planned batches of <= 2 files
    assert len(runs) == 6, [p["numInputRows"] for p in runs]
    assert all(int(p["numInputRows"]) == 10 for p in runs)
    def _off(o):
        # the Python-source bridge stringifies dict offsets with repr()
        import ast as _ast
        return _ast.literal_eval(o) if isinstance(o, str) else o

    ends = [_off(p["sources"][0]["endOffset"])["version"] for p in runs]
    assert ends == [1, 2, 3, 4, 5, 6]  # one commit per batch, in order
    # (b) full coverage, exactly once
    got = sorted(r["i"] for r in spark.read.parquet(out).collect())
    assert got == list(range(60))
    # (c) clean stop
    assert not any(q.isActive for q in spark.streams.active)

    # (d) new commits + a continuous run on the SAME checkpoint: resumes
    # from the drained offsets, no replay of old commits
    for k in range(6, 8):
        w.append(spark.range(10 * k, 10 * (k + 1))
                 .select(F.col("id").alias("i")).coalesce(2))
    q = (
        spark.readStream.format("delta_py").option("path", src)
        .option("startingVersion", "0")
        .option("maxFilesPerTrigger", "2").load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(processingTime="1 seconds").start()
    )
    try:
        deadline = _time.time() + 120
        while _time.time() < deadline:
            if spark.read.parquet(out).count() >= 80:
                break
            _time.sleep(0.5)
        first = q.recentProgress[0] if q.recentProgress else None
    finally:
        q.stop()
    got = sorted(r["i"] for r in spark.read.parquet(out).collect())
    assert got == list(range(80))  # old rows NOT duplicated
    if first is not None and first["sources"][0]["startOffset"] is not None:
        assert _off(first["sources"][0]["startOffset"])["version"] >= 6


def test_left_outer_interval_join_null_gating_and_withheld_tail(spark, tdir):
    """Left-outer stream-stream interval join semantics, pinned with
    hand-placed timestamps: (a) matched pairs emit, (b) an unmatched
    view in the watermark-SAFE region emits exactly once with NULL,
    (c) an unmatched view inside the tail (view_ts + window >= final
    watermark) is WITHHELD — the bounded run ends before the watermark
    can prove it unmatched. Final watermark = min(side maxes) - 1h."""
    import datetime as dt
    import os

    from pyspark.sql import types as T

    from duckdb_delta_spark.streaming import (
        run_stream_to_memory, view_purchase_left_join_stream,
    )

    t0 = dt.datetime(2024, 1, 1)
    M = lambda m: t0 + dt.timedelta(minutes=m)
    rows = [
        # (event_id, ts, user, type): watermark anchors push max ts high
        (1, M(0), 1, "view"),        # matched by purchase at +10
        (2, M(10), 1, "purchase"),
        (3, M(5), 2, "view"),        # unmatched, SAFE (5+30 << wm)
        (4, M(20), 3, "view"),       # purchase at +51 > +30 window: null
        (5, M(71), 3, "purchase"),
        (6, M(500), 8, "view"),      # tail: 500+30 > wm=440 -> withheld
        (7, M(490), 9, "view"),      # anchor view max = 490; unmatched
        (8, M(500), 10, "purchase"), # anchor purchase max = 500 (no view)
    ]
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
    ])
    src = os.path.join(tdir, "ev")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    out = run_stream_to_memory(
        view_purchase_left_join_stream(stream), output_mode="append"
    ).collect()
    got = {(r["user_id"], r["view_ts"], r["purchase_ts"]) for r in out}
    # final watermark = min(maxView=490, maxPurchase=500) - 60 = 430
    assert (1, M(0), M(10)) in got            # matched
    assert (2, M(5), None) in got             # safe unmatched -> null
    assert (3, M(20), None) in got            # out-of-window -> null
    assert not any(u == 8 for u, *_ in got)   # tail withheld
    # user 9's view at 490: 490+30 >= 430 -> also withheld
    assert not any(u == 9 for u, *_ in got)
    assert len(out) == 3


def test_source_cdf_dv_diff_plans_without_driver_decode(spark, tdir, monkeypatch):
    """Streaming twin of the batch big-route regression
    (test_change_feed_big_diff_executor_decode): CDF planning ships the
    [dvNew, dvOld] descriptor PAIR in the file-ref and never decodes a
    deletion vector on the driver — read_dv_from_descriptor is
    monkeypatched to raise in this process, and planning must still
    succeed for grow (DELETE), re-grow (second DELETE) and shrink
    (RESTORE) commits alike."""
    from pyspark.sql import types as T

    from duckdb_delta_spark.delta import dv as dvmod
    from duckdb_delta_spark.delta.writer import DeltaWriter
    from duckdb_delta_spark.streaming.delta_source import DeltaPySource

    schema_in = T.StructType([T.StructField("i", T.LongType())])
    w = DeltaWriter.create(spark, tdir, schema_in)
    w.append(spark.range(40).select(F.col("id").alias("i")).coalesce(1))  # v1
    w.delete("i < 6")        # v2: dvNew vs none
    w.delete("i < 10")       # v3: dvNew vs dvOld (grow)
    w.restore(version=2)     # v4: dvOld vs dvNew (shrink)

    def _boom(*a, **k):
        raise AssertionError("driver-side DV decode in CDF stream planning")

    monkeypatch.setattr(dvmod, "read_dv_from_descriptor", _boom)

    src = DeltaPySource({"path": tdir, "readChangeFeed": "true",
                         "startingVersion": "1"})
    reader = src.streamReader(src.schema())
    refs = reader._cdf_file_refs(1, 4)
    diffs = [f for f in refs if f.diff_pair]
    assert len(diffs) == 3 and all(
        f.change_type == "__dv_diff__" for f in diffs)
    import json as _json
    for f in diffs:
        new_dv, old_dv = _json.loads(f.diff_pair)
        assert new_dv or old_dv  # a real pair, not a decoded index list
    # v2: old side absent (first DV on the file)
    assert _json.loads(
        [f for f in diffs if f.commit_version == 2][0].diff_pair)[1] is None


def test_source_cdf_many_masked_paths_stays_o_descriptors(spark, tdir,
                                                          monkeypatch):
    """A single DELETE masking MANY files must plan as one descriptor-pair
    ref per file — driver memory O(#descriptors), no row-index list, no
    cap — and the executor-decoded stream must match the batch feed row
    for row."""
    import shutil as _sh

    from pyspark.sql import types as T

    from duckdb_delta_spark.delta import dv as dvmod
    from duckdb_delta_spark.delta.changes import table_changes
    from duckdb_delta_spark.delta.log import DeltaLog
    from duckdb_delta_spark.delta.writer import DeltaWriter
    from duckdb_delta_spark.streaming.delta_source import DeltaPySource

    schema_in = T.StructType([T.StructField("i", T.LongType())])
    w = DeltaWriter.create(spark, tdir, schema_in)
    w.append(spark.range(2400).select(
        F.col("id").alias("i")).repartition(24))   # v1: 24 files
    w.delete("i % 3 = 0")                           # v2: DV on every file

    def _boom(*a, **k):
        raise AssertionError("driver-side DV decode in CDF stream planning")

    monkeypatch.setattr(dvmod, "read_dv_from_descriptor", _boom)
    src = DeltaPySource({"path": tdir, "readChangeFeed": "true"})
    reader = src.streamReader(src.schema())
    refs = reader._cdf_file_refs(1, 2)
    assert len(refs) == 24 and all(f.diff_pair for f in refs)
    # payload is descriptor-sized (a reference / inline DV bytes), never
    # a materialized row-index list: 800 masked rows per 100-row file
    # would dwarf this bound if anything decoded driver-side
    assert all(len(f.diff_pair) < 10_000 for f in refs)
    monkeypatch.undo()

    # end-to-end: executor decode reproduces the batch feed exactly
    spark.dataSource.register(DeltaPySource)
    out = str(tdir) + "_many_out"
    ckpt = str(tdir) + "_many_ckpt"
    q = (
        spark.readStream.format("delta_py")
        .option("path", tdir)
        .option("readChangeFeed", "true")
        .option("startingVersion", "2")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["_change_type"], r["_commit_version"], r["i"])
        for r in spark.read.parquet(out).collect()
    )
    exp = sorted(
        (r["_change_type"], r["_commit_version"], r["i"])
        for r in table_changes(DeltaLog(tdir), spark,
                               starting_version=1).collect()  # (1, HEAD]
    )
    assert got == exp and len(got) == 800
    _sh.rmtree(out, ignore_errors=True)
    _sh.rmtree(ckpt, ignore_errors=True)


def test_drain_end_version_skips_empty_run(spark, tdir):
    """drain_available_now(end_version=HEAD) must stop after the run that
    commits through HEAD — no extra empty-run lifecycle — and leave the
    checkpoint exactly caught up (a follow-up drain admits zero runs)."""
    from pyspark.sql import types as T

    from duckdb_delta_spark.delta.writer import DeltaWriter
    from duckdb_delta_spark.streaming.delta_source import (
        DeltaPySource, drain_available_now,
    )

    schema_in = T.StructType([T.StructField("i", T.LongType())])
    w = DeltaWriter.create(spark, tdir, schema_in)                    # v0
    w.append(spark.range(10).select(F.col("id").alias("i")))          # v1
    w.append(spark.range(10, 25).select(F.col("id").alias("i")))      # v2

    spark.dataSource.register(DeltaPySource)
    out, ck = str(tdir) + "_dv_out", str(tdir) + "_dv_ck"

    def start():
        return (
            spark.readStream.format("delta_py")
            .option("path", tdir)
            .option("startingVersion", "0")
            .option("maxFilesPerTrigger", "1").load()
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )

    runs = drain_available_now(start, end_version=2)
    # one commit per run (maxFilesPerTrigger=1, always >= 1 commit): the
    # loop stops at 2 data runs, never starting the empty third lifecycle
    assert len(runs) == 2
    assert sum(int(p["numInputRows"]) for p in runs) == 25
    assert spark.read.parquet(out).count() == 25
    # checkpoint is exactly caught up: a fresh drain plans nothing
    assert drain_available_now(start) == []
    import shutil as _sh
    _sh.rmtree(out, ignore_errors=True)
    _sh.rmtree(ck, ignore_errors=True)


def test_source_where_option_prunes_and_filters(spark, tdir):
    """.option('where', ...): files disproved by partition values/stats
    never enter a micro-batch (planner-side, asserted via partitions()),
    surviving files are row-filtered executor-side, and the streamed
    result equals the batch scan with the same clause."""
    import shutil as _sh

    from pyspark.sql import types as T

    from duckdb_delta_spark.delta.table import DeltaTable
    from duckdb_delta_spark.delta.writer import DeltaWriter
    from duckdb_delta_spark.streaming.delta_source import DeltaPySource

    schema_in = T.StructType([T.StructField("i", T.LongType()),
                              T.StructField("g", T.StringType())])
    w = DeltaWriter.create(spark, tdir, schema_in, partition_by=["g"])
    df = spark.range(600).select(
        F.col("id").alias("i"),
        F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias("g"))
    w.append(df.repartitionByRange(4, "i"))   # 3 partitions x 4 ranges
    w.append(spark.range(600, 900).select(
        F.col("id").alias("i"), F.lit("g1").alias("g")).coalesce(1))

    clause = "g = 'g1' AND (i < 100 OR i >= 700)"

    # planner-side: partitions() admits only files that may match
    src = DeltaPySource({"path": tdir, "startingVersion": "0",
                         "where": clause})
    reader = src.streamReader(src.schema())
    parts = reader.partitions({"version": -1}, {"version": 2})
    admitted = [f for p in parts for f in p.files]
    total_files = len(DeltaTable(tdir).snapshot.add_files())
    assert 0 < len(admitted) < total_files, (len(admitted), total_files)

    # end-to-end: stream result == batch scan with the same clause
    spark.dataSource.register(DeltaPySource)
    out, ck = str(tdir) + "_w_out", str(tdir) + "_w_ck"
    q = (
        spark.readStream.format("delta_py")
        .option("path", tdir)
        .option("startingVersion", "0")
        .option("where", clause)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted((r["i"], r["g"])
                 for r in spark.read.parquet(out).collect())
    want = sorted((r["i"], r["g"])
                  for r in DeltaTable(tdir).to_df(spark, where=clause)
                  .collect())
    assert got == want and len(got) > 0

    # where + readChangeFeed: ROW-level only (no file pruning — the
    # feed's delete derivation needs every masked file), evaluated over
    # the projected output so _change_type is filterable too
    DeltaWriter(tdir, spark).delete("i >= 850")        # v3: DV deletes
    cdf_out, cdf_ck = str(tdir) + "_wc_out", str(tdir) + "_wc_ck"
    q2 = (
        spark.readStream.format("delta_py")
        .option("path", tdir)
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .option("where", "g = 'g1' AND (i < 100 OR i >= 700)")
        .load()
        .writeStream.format("parquet")
        .option("path", cdf_out)
        .option("checkpointLocation", cdf_ck)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    from duckdb_delta_spark.delta.changes import table_changes
    from duckdb_delta_spark.delta.log import DeltaLog
    got_cdf = sorted(
        (r["_change_type"], r["_commit_version"], r["i"], r["g"])
        for r in spark.read.parquet(cdf_out).collect())
    want_cdf = sorted(
        (r["_change_type"], r["_commit_version"], r["i"], r["g"])
        for r in table_changes(DeltaLog(tdir), spark, starting_version=0)
        .where("g = 'g1' AND (i < 100 OR i >= 700)").collect())
    assert got_cdf == want_cdf and len(got_cdf) > 0
    # the DV-delete commit's rows survive the filter (v3 deletes i>=850,
    # all in g1's second file)
    assert any(t[0] == "delete" and t[1] == 3 for t in got_cdf)
    for d in (out, ck, cdf_out, cdf_ck):
        _sh.rmtree(d, ignore_errors=True)


def test_source_select_option_projects_and_prunes_read(spark, tdir):
    """.option('select', ...): the stream's schema is the subset and the
    executor reads only those parquet columns (footer-checked pruned
    read). Composes with where — a filter column OUTSIDE the selection
    is read for masking, then dropped from the output."""
    import shutil as _sh

    from pyspark.sql import types as T

    from duckdb_delta_spark.delta.table import DeltaTable
    from duckdb_delta_spark.delta.writer import DeltaWriter
    from duckdb_delta_spark.streaming.delta_source import DeltaPySource

    schema_in = T.StructType([T.StructField("i", T.LongType()),
                              T.StructField("s", T.StringType()),
                              T.StructField("x", T.DoubleType()),
                              T.StructField("g", T.LongType())])
    w = DeltaWriter.create(spark, tdir, schema_in, partition_by=["g"])
    w.append(spark.range(200).select(
        F.col("id").alias("i"),
        F.concat(F.lit("s"), F.col("id")).alias("s"),
        (F.col("id") * 0.5).alias("x"),
        (F.col("id") % 2).alias("g")))

    spark.dataSource.register(DeltaPySource)
    out, ck = str(tdir) + "_sel_out", str(tdir) + "_sel_ck"
    stream = (
        spark.readStream.format("delta_py")
        .option("path", tdir)
        .option("startingVersion", "0")
        .option("select", "i,g")              # s and x never ship
        .option("where", "x < 50.0 AND g = 1")  # x is select-excluded
        .load()
    )
    assert stream.schema.fieldNames() == ["i", "g"]
    q = (stream.writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted((r["i"], r["g"])
                 for r in spark.read.parquet(out).collect())
    want = sorted(
        (r["i"], r["g"])
        for r in DeltaTable(tdir).to_df(spark, where="x < 50.0 AND g = 1")
        .select("i", "g").collect())
    assert got == want and len(got) == 50  # i in [0,100) with g=1
    assert spark.read.parquet(out).schema.fieldNames() == ["i", "g"]

    # unknown select column refuses loudly at schema time
    import pytest as _pytest
    with _pytest.raises(Exception):
        DeltaPySource({"path": tdir, "select": "i,nope"}).schema()

    # select on a CDF stream: subset data columns + meta columns
    cdf = (
        spark.readStream.format("delta_py")
        .option("path", tdir)
        .option("readChangeFeed", "true")
        .option("select", "i")
        .load()
    )
    assert cdf.schema.fieldNames() == [
        "i", "_change_type", "_commit_version", "_commit_timestamp"]
    _sh.rmtree(out, ignore_errors=True)
    _sh.rmtree(ck, ignore_errors=True)


def test_source_flat_column_mapping_streams_correct_values(spark, tdir):
    """Positive coverage for flat column-mapped streaming reads (shipped
    in r13 with zero tests): a name-mapped partitioned table streams the
    correct logical-named values end-to-end, matching the batch scan."""
    import shutil as _sh

    from pyspark.sql import types as T

    from duckdb_delta_spark.delta.table import DeltaTable
    from duckdb_delta_spark.delta.writer import DeltaWriter
    from duckdb_delta_spark.streaming.delta_source import DeltaPySource

    schema_in = T.StructType([T.StructField("i", T.LongType()),
                              T.StructField("s", T.StringType()),
                              T.StructField("g", T.LongType())])
    w = DeltaWriter.create(
        spark, tdir, schema_in, partition_by=["g"],
        configuration={"delta.columnMapping.mode": "name"})
    w.append(spark.range(30).select(
        F.col("id").alias("i"),
        F.concat(F.lit("v"), F.col("id")).alias("s"),
        (F.col("id") % 3).alias("g")))

    spark.dataSource.register(DeltaPySource)
    out, ck = str(tdir) + "_cm_out", str(tdir) + "_cm_ck"
    q = (
        spark.readStream.format("delta_py")
        .option("path", tdir)
        .option("startingVersion", "0")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted((r["i"], r["s"], r["g"])
                 for r in spark.read.parquet(out).collect())
    want = sorted((r["i"], r["s"], r["g"])
                  for r in DeltaTable(tdir).to_df(spark).collect())
    assert got == want and len(got) == 30
    for d in (out, ck):
        _sh.rmtree(d, ignore_errors=True)


def test_source_where_option_on_column_mapped_table(spark, tdir):
    """r13 regression (silent wrong answer): .option('where', 'g = 0') on
    a flat column-mapped table returned ZERO rows — _admit evaluated
    logical-named preds against the add action's PHYSICAL-name-keyed
    partitionValues, so '=' skipped every file. Now the preds translate
    logical→physical before pruning (like the batch scan), and both the
    partition-pred and stats-pred paths return exact results while still
    actually pruning files."""
    import shutil as _sh

    from pyspark.sql import types as T

    from duckdb_delta_spark.delta.table import DeltaTable
    from duckdb_delta_spark.delta.writer import DeltaWriter
    from duckdb_delta_spark.streaming.delta_source import DeltaPySource

    schema_in = T.StructType([T.StructField("i", T.LongType()),
                              T.StructField("g", T.LongType())])
    w = DeltaWriter.create(
        spark, tdir, schema_in, partition_by=["g"],
        configuration={"delta.columnMapping.mode": "name"})
    w.append(spark.range(60).select(
        F.col("id").alias("i"), (F.col("id") % 3).alias("g"))
        .repartitionByRange(4, "i"))

    # planner-side: the partition pred admits a real subset (pruning
    # works), not zero (the bug) and not everything (no translation)
    total = len(DeltaTable(tdir).snapshot.add_files())
    for clause in ("g = 0",        # partition-value path
                   "i >= 40"):     # stats min/max path
        src = DeltaPySource({"path": tdir, "startingVersion": "0",
                             "where": clause})
        reader = src.streamReader(src.schema())
        parts = reader.partitions({"version": -1}, {"version": 1})
        admitted = [f for p in parts for f in p.files]
        assert 0 < len(admitted) < total, (clause, len(admitted), total)

    spark.dataSource.register(DeltaPySource)
    for tag, clause in (("p", "g = 0"), ("s", "i >= 40 AND g != 1")):
        out, ck = f"{tdir}_cmw_{tag}_out", f"{tdir}_cmw_{tag}_ck"
        q = (
            spark.readStream.format("delta_py")
            .option("path", tdir)
            .option("startingVersion", "0")
            .option("where", clause)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted((r["i"], r["g"])
                     for r in spark.read.parquet(out).collect())
        want = sorted((r["i"], r["g"])
                      for r in DeltaTable(tdir).to_df(spark, where=clause)
                      .collect())
        assert got == want and len(got) > 0, clause
        _sh.rmtree(out, ignore_errors=True)
        _sh.rmtree(ck, ignore_errors=True)


def test_source_cdf_where_select_across_dv_diff(spark, tdir):
    """readChangeFeed + where + select composed across a DV re-add
    (__dv_diff__ ref): a second DELETE on an already-DV-masked file emits
    its incremental delete rows, the where option filters rows (including
    on _change_type) AFTER projection, and select prunes the data columns
    — all three r13 options in one stream, matching the batch feed."""
    import shutil as _sh

    from pyspark.sql import types as T

    from duckdb_delta_spark.delta.changes import table_changes
    from duckdb_delta_spark.delta.log import DeltaLog
    from duckdb_delta_spark.delta.writer import DeltaWriter
    from duckdb_delta_spark.streaming.delta_source import DeltaPySource

    schema_in = T.StructType([T.StructField("i", T.LongType()),
                              T.StructField("s", T.StringType())])
    w = DeltaWriter.create(spark, tdir, schema_in)
    w.append(spark.range(10).select(
        F.col("id").alias("i"),
        F.concat(F.lit("v"), F.col("id")).alias("s")).coalesce(1))
    DeltaWriter(tdir, spark).delete("i = 3")   # v2: fresh DV on the file
    DeltaWriter(tdir, spark).delete("i = 5")   # v3: DV RE-ADD (diff pair)

    spark.dataSource.register(DeltaPySource)
    out, ck = str(tdir) + "_cdfws_out", str(tdir) + "_cdfws_ck"
    clause = "_change_type = 'delete' AND i >= 4"
    q = (
        spark.readStream.format("delta_py")
        .option("path", tdir)
        .option("readChangeFeed", "true")
        .option("startingVersion", "2")
        .option("select", "i")                 # s never ships
        .option("where", clause)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    res = spark.read.parquet(out)
    assert res.schema.fieldNames() == [
        "i", "_change_type", "_commit_version", "_commit_timestamp"]
    got = sorted((r["i"], r["_change_type"], r["_commit_version"])
                 for r in res.collect())
    want = sorted((r["i"], r["_change_type"], r["_commit_version"])
                  for r in table_changes(DeltaLog(tdir), spark,
                                         starting_version=2)
                  .where(clause).select(
                      "i", "_change_type", "_commit_version").collect())
    # v2's delete of i=3 fails i>=4; v3's dv-diff delete of i=5 survives
    assert got == want == [(5, "delete", 3)], got
    for d in (out, ck):
        _sh.rmtree(d, ignore_errors=True)


def test_source_nested_column_mapping_streams_correct_values(spark, tdir):
    """NESTED column-mapped streaming (the last CM shape the source
    lacked): struct fields rename by their physicalName metadata at every
    level executor-side (id-mode foreign fixture: struct + array + map +
    a spec-byte DV on file 2), and a where option on a nested dotted path
    prunes files via the PHYSICAL-keyed nested stats and row-filters
    exactly — all matching the batch scan."""
    import shutil as _sh

    from duckdb_delta_spark.delta.table import DeltaTable
    from duckdb_delta_spark.streaming.delta_source import DeltaPySource
    from duckdb_delta_spark.testing import foreign

    foreign.build_foreign_nested_cm_dv(tdir)

    spark.dataSource.register(DeltaPySource)
    out, ck = str(tdir) + "_ncm_out", str(tdir) + "_ncm_ck"
    q = (
        spark.readStream.format("delta_py")
        .option("path", tdir)
        .option("startingVersion", "0")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    key = ("id", "info", "tags", "attrs")
    got = sorted(repr(tuple(r[k] for k in key))
                 for r in spark.read.parquet(out).collect())
    want = sorted(repr(tuple(r[k] for k in key))
                  for r in DeltaTable(tdir).to_df(spark).collect())
    # ids 0..23 minus the DV-deleted {12, 15, 18, 21}
    assert got == want and len(got) == 20
    res = spark.read.parquet(out)
    assert sorted(r["id"] for r in res.collect()) == [
        i for i in range(24) if not (i >= 12 and i % 3 == 0)]
    assert res.where("info.name = concat('n', id)").count() == 20
    assert res.where("attrs['b'] = 2 * id").count() == 20

    # where on a NESTED dotted path: file 1 (scores 0..16.5) is disproved
    # by the physical-keyed nested stats, file 2 survives
    src = DeltaPySource({"path": tdir, "startingVersion": "0",
                         "where": "info.score >= 18.0"})
    reader = src.streamReader(src.schema())
    parts = reader.partitions({"version": -1}, {"version": 1})
    admitted = [f for p in parts for f in p.files]
    total = len(DeltaTable(tdir).snapshot.add_files())
    assert 0 < len(admitted) < total, (len(admitted), total)

    wout, wck = str(tdir) + "_ncmw_out", str(tdir) + "_ncmw_ck"
    q2 = (
        spark.readStream.format("delta_py")
        .option("path", tdir)
        .option("startingVersion", "0")
        .option("where", "info.score >= 18.0")
        .load()
        .writeStream.format("parquet")
        .option("path", wout)
        .option("checkpointLocation", wck)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    got_w = sorted(r["id"] for r in spark.read.parquet(wout).collect())
    assert got_w == [i for i in range(12, 24) if i % 3 != 0]
    for d in (out, ck, wout, wck):
        _sh.rmtree(d, ignore_errors=True)


def test_sink_on_column_mapped_table(spark, tdir):
    """Streaming INTO a column-mapped table (nested mapping included):
    executor tasks rename the Arrow batches to physical names
    positionally and write under the field-id'd physical schema, so the
    files carry physical names + PARQUET field ids at every level,
    partitionValues key physically, stats key physically — and the batch
    scan reads it all back logical with partition pruning intact."""
    import json as _json
    import shutil as _sh

    import pyarrow.parquet as pq

    from pyspark.sql import types as T

    from duckdb_delta_spark.delta.table import DeltaTable
    from duckdb_delta_spark.delta.writer import DeltaWriter
    from duckdb_delta_spark.streaming.delta_source import DeltaPySource

    schema = T.StructType([
        T.StructField("i", T.LongType()),
        T.StructField("info", T.StructType([
            T.StructField("a", T.LongType()),
            T.StructField("s", T.StringType())])),
        T.StructField("g", T.LongType()),
    ])
    DeltaWriter.create(spark, tdir, schema, partition_by=["g"],
                       configuration={"delta.columnMapping.mode": "name"})
    src = str(tdir) + "_src"
    sw = DeltaWriter.create(spark, src, schema)
    sw.append(spark.range(20).select(
        F.col("id").alias("i"),
        F.struct(F.col("id").alias("a"),
                 F.concat(F.lit("n"), F.col("id")).alias("s")).alias("info"),
        (F.col("id") % 2).alias("g")).coalesce(1))

    spark.dataSource.register(DeltaPySource)
    ck = str(tdir) + "_ck"
    q = (
        spark.readStream.format("delta_py")
        .option("path", src)
        .option("startingVersion", "0")
        .load()
        .writeStream.format("delta_py")
        .option("path", tdir)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    t = DeltaTable(tdir)
    got = t.to_df(spark)
    assert got.count() == 20
    assert got.where("info.a = i AND info.s = concat('n', i)").count() == 20

    files = t.snapshot.add_files()
    assert len(files) == 2  # one per partition value
    f0 = files[0]
    # partitionValues keyed by the PHYSICAL partition column name
    assert all(k.startswith("col-") for k in f0.partition_values)
    pf = pq.ParquetFile(f0.absolute_path(tdir))
    assert all(n.startswith("col-") for n in pf.schema_arrow.names)
    # nested physical names + field ids on every level
    sf = next(f for f in pf.schema_arrow
              if str(f.type).startswith("struct"))
    assert all(sf.type.field(j).name.startswith("col-")
               for j in range(sf.type.num_fields))
    assert all(pf.schema_arrow.field(i).metadata
               and b"PARQUET:field_id" in pf.schema_arrow.field(i).metadata
               for i in range(len(pf.schema_arrow.names)))
    stats = _json.loads(f0.stats)
    assert all(k.startswith("col-") for k in stats["minValues"])

    # partition pruning through the mapping on the streamed table
    sb = t.scan(spark).filter("g", "=", 0)
    assert sb.to_df().count() == 10
    assert sb.skip_report()["files_skipped_by_partition"] == 1
    for d in (src, ck):
        _sh.rmtree(d, ignore_errors=True)


def test_sink_enforces_check_and_not_null_constraints(spark, tdir):
    """The sink ENFORCES table constraints (Delta spec: a writer honoring
    checkConstraints/invariants must enforce or refuse — before r14 it
    silently committed violating rows): CHECK constraints evaluate
    executor-side per Arrow batch (violations = rows where NOT(expr)
    definitely holds, so NULL passes), NOT NULL fails the batch, aborted
    files are cleaned up, and constraints outside the pushable predicate
    grammar refuse loudly at stream start instead of going unenforced."""
    import glob as _glob
    import shutil as _sh

    from pyspark.sql import types as T

    from duckdb_delta_spark.delta.table import DeltaTable
    from duckdb_delta_spark.delta.writer import DeltaWriter
    from duckdb_delta_spark.streaming.delta_source import (
        DeltaPySource,
        DeltaStreamWriter,
    )

    spark.dataSource.register(DeltaPySource)
    schema = T.StructType([T.StructField("i", T.LongType()),
                           T.StructField("v", T.LongType())])

    def run(dst, src_rows, tag):
        src, ck = f"{tdir}_src_{tag}", f"{tdir}_ck_{tag}"
        sw = DeltaWriter.create(spark, src, schema)
        sw.append(src_rows.coalesce(1))
        q = (
            spark.readStream.format("delta_py")
            .option("path", src)
            .option("startingVersion", "0")
            .load()
            .writeStream.format("delta_py")
            .option("path", dst)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        except Exception:
            pass
        exc = q.exception()
        _sh.rmtree(src, ignore_errors=True)
        _sh.rmtree(ck, ignore_errors=True)
        return exc

    # CHECK violation: batch fails, nothing commits, no files leak
    dst1 = str(tdir) + "_t1"
    DeltaWriter.create(spark, dst1, schema)
    DeltaWriter(dst1, spark).add_constraint("v_pos", "v >= 0")
    exc = run(dst1, spark.range(5).select(
        F.col("id").alias("i"), (F.col("id") - 3).alias("v")), "c1")
    assert exc is not None and "v_pos" in str(exc)
    assert DeltaTable(dst1).to_df(spark).count() == 0
    assert not _glob.glob(dst1 + "/*.parquet")

    # clean stream on the same constrained table commits
    exc = run(dst1, spark.range(5).select(
        F.col("id").alias("i"), (F.col("id") + 3).alias("v")), "c2")
    assert exc is None
    assert DeltaTable(dst1).to_df(spark).count() == 5

    # unparseable constraint: refuse at stream start, never unenforced
    import pytest as _pytest

    DeltaWriter(dst1, spark).add_constraint("hard", "i + v >= 0")
    with _pytest.raises(Exception, match="hard"):
        DeltaStreamWriter(dst1, schema, {})

    # NOT NULL: violating batch fails and commits nothing
    dst2 = str(tdir) + "_t2"
    nn = T.StructType([T.StructField("i", T.LongType(), False),
                       T.StructField("v", T.LongType())])
    DeltaWriter.create(spark, dst2, nn)
    exc = run(dst2, spark.createDataFrame([(None, 1), (2, 2)], schema), "n1")
    assert exc is not None and "NOT NULL" in str(exc)
    assert DeltaTable(dst2).to_df(spark).count() == 0


def test_sink_merge_schema_option(spark, tdir):
    """.option('mergeSchema','true') on the sink: input columns and
    NESTED struct fields the table lacks widen the table schema once at
    stream start (metadata-only commit via merge_schema_with), old rows
    read the new fields as NULLs; without the option the mismatch
    refuses at stream start instead of writing out-of-schema files."""
    import shutil as _sh

    from pyspark.sql import types as T

    from duckdb_delta_spark.delta.table import DeltaTable
    from duckdb_delta_spark.delta.writer import DeltaWriter
    from duckdb_delta_spark.streaming.delta_source import (
        DeltaPySource,
        DeltaStreamWriter,
    )

    spark.dataSource.register(DeltaPySource)
    tbl_schema = T.StructType([
        T.StructField("i", T.LongType()),
        T.StructField("info", T.StructType(
            [T.StructField("a", T.LongType())])),
    ])
    DeltaWriter.create(spark, tdir, tbl_schema)
    DeltaWriter(tdir, spark).append(spark.range(3).select(
        F.col("id").alias("i"),
        F.struct(F.col("id").alias("a")).alias("info")).coalesce(1))

    wide = spark.range(3, 6).select(
        F.col("id").alias("i"),
        F.struct(F.col("id").alias("a"),
                 (F.col("id") * 2).alias("b")).alias("info"),
        (F.col("id") * 1.5).alias("x"))
    src = str(tdir) + "_src"
    DeltaWriter.create(spark, src, wide.schema).append(wide.coalesce(1))

    # without the option: loud stream-start refusal naming the columns
    import pytest as _pytest

    with _pytest.raises(Exception, match="mergeSchema"):
        DeltaStreamWriter(tdir, wide.schema, {})

    ck = str(tdir) + "_ck"
    q = (
        spark.readStream.format("delta_py")
        .option("path", src)
        .option("startingVersion", "0")
        .load()
        .writeStream.format("delta_py")
        .option("path", tdir)
        .option("mergeSchema", "true")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None

    t = DeltaTable(tdir)
    sch = t.snapshot.schema
    assert sch.fieldNames() == ["i", "info", "x"]
    assert [f.name for f in sch["info"].dataType.fields] == ["a", "b"]
    got = t.to_df(spark)
    assert got.count() == 6
    assert got.where("info.b IS NULL AND x IS NULL").count() == 3
    assert got.where("info.b = 2 * i AND x = 1.5 * i").count() == 3
    for d in (src, ck):
        _sh.rmtree(d, ignore_errors=True)


def test_sink_assigns_row_ids_on_row_tracked_table(spark, tdir):
    """Streaming into a row-tracked table allocates baseRowId /
    defaultRowCommitVersion for the batch's adds from the
    rowIdHighWaterMark — same allocator as the batch writer (before r14
    the sink committed adds WITHOUT baseRowId, silently breaking the
    table's row-tracking contract for every reader)."""
    import json as _json
    import shutil as _sh

    from pyspark.sql import types as T

    from duckdb_delta_spark.delta.table import DeltaTable
    from duckdb_delta_spark.delta.writer import DeltaWriter
    from duckdb_delta_spark.streaming.delta_source import DeltaPySource

    spark.dataSource.register(DeltaPySource)
    schema = T.StructType([T.StructField("i", T.LongType())])
    w = DeltaWriter.create(spark, tdir, schema,
                           configuration={"delta.enableRowTracking": "true"})
    w.append(spark.range(100, 103).select(F.col("id").alias("i"))
             .coalesce(1))                      # batch file: ids 0..2
    src, ck = str(tdir) + "_src", str(tdir) + "_ck"
    DeltaWriter.create(spark, src, schema).append(
        spark.range(7).select(F.col("id").alias("i")).coalesce(1))
    q = (
        spark.readStream.format("delta_py")
        .option("path", src)
        .option("startingVersion", "0")
        .load()
        .writeStream.format("delta_py")
        .option("path", tdir)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None

    t = DeltaTable(tdir)
    assert sorted(f.base_row_id for f in t.snapshot.add_files()) == [0, 3]
    ids = sorted(r["_row_id"] for r in t.scan(spark).with_row_ids()
                 .to_df().select("_row_id").collect())
    assert ids == list(range(10))
    hwm = _json.loads(t.snapshot.domain_metadata["delta.rowTracking"])
    assert hwm["rowIdHighWaterMark"] == 9
    for d in (src, ck):
        _sh.rmtree(d, ignore_errors=True)


def test_sink_into_cdf_table_feeds_inserts(spark, tdir):
    """Streaming appends INTO a CDF-enabled table (the sink refused these
    before r14): blind appends need no _change_data files — the derived
    feed (batch table_changes AND a readChangeFeed stream) must surface
    every streamed row as an insert at the sink's commit versions, plus a
    subsequent DELETE's cdc-derived rows on top."""
    import shutil as _sh

    from pyspark.sql import types as T

    from duckdb_delta_spark.delta.changes import table_changes
    from duckdb_delta_spark.delta.log import DeltaLog
    from duckdb_delta_spark.delta.table import DeltaTable
    from duckdb_delta_spark.delta.writer import DeltaWriter
    from duckdb_delta_spark.streaming.delta_source import DeltaPySource

    spark.dataSource.register(DeltaPySource)
    schema = T.StructType([T.StructField("i", T.LongType())])
    DeltaWriter.create(spark, tdir, schema,
                       configuration={"delta.enableChangeDataFeed": "true"})
    src, ck = str(tdir) + "_src", str(tdir) + "_ck"
    DeltaWriter.create(spark, src, schema).append(
        spark.range(6).select(F.col("id").alias("i")).coalesce(1))
    q = (
        spark.readStream.format("delta_py")
        .option("path", src)
        .option("startingVersion", "0")
        .load()
        .writeStream.format("delta_py")
        .option("path", tdir)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert DeltaTable(tdir).to_df(spark).count() == 6

    # CDF DML still works on the streamed-into table (writes cdc files)
    DeltaWriter(tdir, spark).delete("i = 4")

    got = sorted((r["_change_type"], r["i"]) for r in table_changes(
        DeltaLog(tdir), spark, starting_version=0).collect())
    assert got == sorted(
        [("insert", k) for k in range(6)] + [("delete", 4)])

    # the readChangeFeed STREAM over the sink's output agrees
    out, ck2 = str(tdir) + "_cdf_out", str(tdir) + "_cdf_ck"
    q2 = (
        spark.readStream.format("delta_py")
        .option("path", tdir)
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck2)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    got2 = sorted((r["_change_type"], r["i"])
                  for r in spark.read.parquet(out).collect())
    assert got2 == got
    for d in (src, ck, out, ck2):
        _sh.rmtree(d, ignore_errors=True)


def test_sink_not_null_struct_all_nullable_children(spark, tdir):
    """A NON-NULLABLE STRUCT column whose children are all nullable has
    no non-nullable descendant leaf to catch a parent NULL, so the sink
    checks the struct column's own Arrow validity (exact, unlike parquet
    footer stats): a NULL struct fails the batch; child-only nulls under
    a valid parent commit fine."""
    import shutil as _sh

    from pyspark.sql import types as T

    from duckdb_delta_spark.delta.table import DeltaTable
    from duckdb_delta_spark.delta.writer import DeltaWriter
    from duckdb_delta_spark.streaming.delta_source import DeltaPySource

    spark.dataSource.register(DeltaPySource)
    inner = T.StructType([T.StructField("a", T.LongType(), True),
                          T.StructField("b", T.StringType(), True)])
    dst = str(tdir) + "_nns"
    DeltaWriter.create(spark, dst, T.StructType([
        T.StructField("i", T.LongType()),
        T.StructField("s", inner, False),
    ]))
    src_schema = T.StructType([T.StructField("i", T.LongType()),
                               T.StructField("s", inner, True)])

    def run(rows_sql, tag):
        src, ck = f"{tdir}_nns_src_{tag}", f"{tdir}_nns_ck_{tag}"
        sw = DeltaWriter.create(spark, src, src_schema)
        sw.append(spark.sql(rows_sql).coalesce(1))
        q = (
            spark.readStream.format("delta_py")
            .option("path", src).option("startingVersion", "0").load()
            .writeStream.format("delta_py")
            .option("path", dst).option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        try:
            q.awaitTermination(120)
        except Exception:
            pass
        exc = q.exception()
        _sh.rmtree(src, ignore_errors=True)
        _sh.rmtree(ck, ignore_errors=True)
        return exc

    # child nulls under a valid parent: every leaf is null somewhere,
    # but the struct itself never — must commit
    exc = run(
        "SELECT * FROM VALUES "
        "(1L, named_struct('a', CAST(NULL AS BIGINT), 'b', 'x')), "
        "(2L, named_struct('a', 2L, 'b', CAST(NULL AS STRING))) AS t(i, s)",
        "ok")
    assert exc is None
    assert DeltaTable(dst).to_df(spark).count() == 2

    # a NULL struct violates the column's NOT NULL (pre-fix: silently
    # committed because struct nodes were skipped)
    exc = run(
        "SELECT * FROM VALUES "
        "(3L, named_struct('a', 3L, 'b', 'y')), "
        "(4L, CAST(NULL AS STRUCT<a: BIGINT, b: STRING>)) AS t(i, s)",
        "bad")
    assert exc is not None and "NOT NULL" in str(exc)
    assert DeltaTable(dst).to_df(spark).count() == 2
    _sh.rmtree(dst, ignore_errors=True)


def test_sink_check_constraint_on_absent_input_column(spark, tdir):
    """A CHECK constraint referencing a table column the stream input
    omits must evaluate with that column ≡ NULL (it null-fills on read),
    not crash with a KeyError: NULL satisfies a comparison constraint
    (commit), fails an IS NOT NULL one (reject), and a constraint on a
    MISSING NESTED field refuses at stream start."""
    import shutil as _sh

    from pyspark.sql import types as T

    from duckdb_delta_spark.delta.table import DeltaTable
    from duckdb_delta_spark.delta.writer import DeltaWriter
    from duckdb_delta_spark.streaming.delta_source import (
        DeltaPySource,
        DeltaStreamWriter,
    )

    spark.dataSource.register(DeltaPySource)
    src_schema = T.StructType([T.StructField("i", T.LongType())])

    def run(dst, tag):
        src, ck = f"{tdir}_cac_src_{tag}", f"{tdir}_cac_ck_{tag}"
        sw = DeltaWriter.create(spark, src, src_schema)
        sw.append(spark.range(3).select(F.col("id").alias("i")).coalesce(1))
        q = (
            spark.readStream.format("delta_py")
            .option("path", src).option("startingVersion", "0").load()
            .writeStream.format("delta_py")
            .option("path", dst).option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        try:
            q.awaitTermination(120)
        except Exception:
            pass
        exc = q.exception()
        _sh.rmtree(src, ignore_errors=True)
        _sh.rmtree(ck, ignore_errors=True)
        return exc

    two_col = T.StructType([T.StructField("i", T.LongType()),
                            T.StructField("v", T.LongType())])

    # comparison CHECK on the absent column: NULL satisfies → commits
    dst1 = str(tdir) + "_cac1"
    DeltaWriter.create(spark, dst1, two_col)
    DeltaWriter(dst1, spark).add_constraint("v_pos", "v >= 0")
    exc = run(dst1, "a")
    assert exc is None, exc
    rows = DeltaTable(dst1).to_df(spark).collect()
    assert len(rows) == 3 and all(r["v"] is None for r in rows)

    # IS NOT NULL CHECK on the absent column: every row violates
    dst2 = str(tdir) + "_cac2"
    DeltaWriter.create(spark, dst2, two_col)
    DeltaWriter(dst2, spark).add_constraint("v_req", "v IS NOT NULL")
    exc = run(dst2, "b")
    assert exc is not None and "v_req" in str(exc)
    assert DeltaTable(dst2).to_df(spark).count() == 0

    # constraint on a nested field the input's struct LACKS: the whole
    # top-level column is present, so null-extension can't represent it —
    # refuse at stream start (enforce-or-refuse)
    import pytest as _pytest

    dst3 = str(tdir) + "_cac3"
    nested = T.StructType([
        T.StructField("i", T.LongType()),
        T.StructField("s", T.StructType([
            T.StructField("a", T.LongType()),
            T.StructField("z", T.LongType())])),
    ])
    DeltaWriter.create(spark, dst3, nested)
    DeltaWriter(dst3, spark).add_constraint("z_pos", "s.z >= 0")
    in_schema = T.StructType([
        T.StructField("i", T.LongType()),
        T.StructField("s", T.StructType([
            T.StructField("a", T.LongType())])),
    ])
    with _pytest.raises(Exception, match="s.z"):
        DeltaStreamWriter(dst3, in_schema, {})
    for d in (dst1, dst2, dst3):
        _sh.rmtree(d, ignore_errors=True)


def test_sink_merge_schema_on_column_mapped_table(spark, tdir):
    """COMBINATION: sink mergeSchema × column-mapped table. Widening a
    name-mode table from inside the sink's stream-start gate must assign
    the new column a FRESH physical name + mapping id, advance
    maxColumnId, write the new files under the just-assigned physical
    name, null-fill old rows, and make the new column's (physically
    keyed) stats prunable — the exact seam r13's two wrong answers
    lived next to (untested passing combinations)."""
    import json as _json
    import shutil as _sh

    import pyarrow.parquet as pq

    from pyspark.sql import types as T

    from duckdb_delta_spark.delta.log import DeltaLog
    from duckdb_delta_spark.delta.table import DeltaTable
    from duckdb_delta_spark.delta.writer import DeltaWriter
    from duckdb_delta_spark.streaming.delta_source import DeltaPySource

    spark.dataSource.register(DeltaPySource)
    DeltaWriter.create(
        spark, tdir,
        T.StructType([T.StructField("i", T.LongType())]),
        configuration={"delta.columnMapping.mode": "name"})
    DeltaWriter(tdir, spark).append(
        spark.range(3).select(F.col("id").alias("i")).coalesce(1))
    base_snap = DeltaTable(tdir).snapshot
    base_max = int(base_snap.configuration["delta.columnMapping.maxColumnId"])
    widen_at = base_snap.version + 1

    def run(lo, hi, tag):
        src, ck = f"{tdir}_src_{tag}", f"{tdir}_ck_{tag}"
        DeltaWriter.create(spark, src, T.StructType([
            T.StructField("i", T.LongType()),
            T.StructField("v", T.LongType())])).append(
            spark.range(lo, hi).select(
                F.col("id").alias("i"),
                (F.col("id") * 10).alias("v")).coalesce(1))
        q = (
            spark.readStream.format("delta_py")
            .option("path", src).option("startingVersion", "0").load()
            .writeStream.format("delta_py")
            .option("path", tdir)
            .option("mergeSchema", "true")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        assert q.exception() is None, q.exception()
        _sh.rmtree(src, ignore_errors=True)
        _sh.rmtree(ck, ignore_errors=True)

    run(10, 13, "a")   # widens, then writes v ∈ {100,110,120}
    run(50, 53, "b")   # second run: no re-widen, v ∈ {500,510,520}

    t = DeltaTable(tdir)
    snap = t.snapshot
    # fresh mapping id on the widened column, maxColumnId advanced
    vf = snap.schema["v"]
    phys = vf.metadata["delta.columnMapping.physicalName"]
    vid = int(vf.metadata["delta.columnMapping.id"])
    assert phys.startswith("col-") and vid == base_max + 1
    assert int(snap.configuration["delta.columnMapping.maxColumnId"]) \
        == base_max + 1
    # the widen commit is metadata-only and carries the new field
    widen = [a for a in DeltaLog(tdir).read_commit(widen_at)
             if "metaData" in a]
    assert widen, "expected the schema widen at the next version"
    wsch = _json.loads(widen[0]["metaData"]["schemaString"])
    wv = next(f for f in wsch["fields"] if f["name"] == "v")
    assert wv["metadata"]["delta.columnMapping.physicalName"] == phys

    # sink files carry the PHYSICAL name (+ field id) for v
    new_files = [f for f in snap.add_files() if "part-stream" in f.path]
    assert len(new_files) == 2
    for f in new_files:
        names = pq.ParquetFile(f.absolute_path(tdir)).schema_arrow.names
        assert phys in names and "v" not in names
        # stats keyed physically
        st = _json.loads(f.stats) if isinstance(f.stats, str) else f.stats
        assert phys in (st or {}).get("minValues", {})

    # old rows null-fill, new rows read logically
    got = t.to_df(spark)
    assert got.count() == 9
    assert got.where("v IS NULL").count() == 3
    assert got.where("v = 10 * i").count() == 6

    # new-column stats prune: v >= 500 disproves run-a's file (and the
    # pre-widen file, which lacks v entirely → all-NULL)
    sb = t.scan(spark).filter("v", ">=", 500)
    assert sorted(r["i"] for r in sb.to_df().collect()) == [50, 51, 52]
    rep = sb.skip_report()
    assert rep["files_skipped_by_stats"] >= 1, rep


def test_sink_merge_schema_on_row_tracked_table(spark, tdir):
    """COMBINATION: sink mergeSchema × row tracking. The widen commit at
    stream start must not disturb row-id allocation — the data commit
    that follows still assigns baseRowId/defaultRowCommitVersion from
    the high-water mark, and materialized row ids stay dense."""
    import json as _json
    import shutil as _sh

    from pyspark.sql import types as T

    from duckdb_delta_spark.delta.table import DeltaTable
    from duckdb_delta_spark.delta.writer import DeltaWriter
    from duckdb_delta_spark.streaming.delta_source import DeltaPySource

    spark.dataSource.register(DeltaPySource)
    schema = T.StructType([T.StructField("i", T.LongType())])
    w = DeltaWriter.create(spark, tdir, schema,
                           configuration={"delta.enableRowTracking": "true"})
    w.append(spark.range(4).select(F.col("id").alias("i")).coalesce(1))

    src, ck = str(tdir) + "_src", str(tdir) + "_ck"
    DeltaWriter.create(spark, src, T.StructType([
        T.StructField("i", T.LongType()),
        T.StructField("v", T.LongType())])).append(
        spark.range(4, 9).select(
            F.col("id").alias("i"), (F.col("id") * 2).alias("v"))
        .coalesce(1))
    q = (
        spark.readStream.format("delta_py")
        .option("path", src).option("startingVersion", "0").load()
        .writeStream.format("delta_py")
        .option("path", tdir)
        .option("mergeSchema", "true")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    assert q.exception() is None, q.exception()

    t = DeltaTable(tdir)
    assert t.snapshot.schema.fieldNames() == ["i", "v"]
    assert sorted(f.base_row_id for f in t.snapshot.add_files()) == [0, 4]
    ids = sorted(r["_row_id"] for r in t.scan(spark).with_row_ids()
                 .to_df().select("_row_id").collect())
    assert ids == list(range(9))
    hwm = _json.loads(t.snapshot.domain_metadata["delta.rowTracking"])
    assert hwm["rowIdHighWaterMark"] == 8
    got = t.to_df(spark)
    assert got.where("v IS NULL").count() == 4
    assert got.where("v = 2 * i").count() == 5
    for d in (src, ck):
        _sh.rmtree(d, ignore_errors=True)


def test_sink_into_cm_cdf_table_changes_agree(spark, tdir):
    """COMBINATION: column-mapped × CDF × streaming sink. Sink appends
    into a name-mode CDF table write physical-named files; the derived
    insert feed (batch table_changes AND the readChangeFeed stream) must
    decode them back to LOGICAL names — nested fields included — and a
    follow-up DELETE's cdc files (physical-named on CM tables) must
    round-trip too."""
    import shutil as _sh

    import pyarrow.parquet as pq

    from pyspark.sql import types as T

    from duckdb_delta_spark.delta.changes import table_changes
    from duckdb_delta_spark.delta.log import DeltaLog
    from duckdb_delta_spark.delta.table import DeltaTable
    from duckdb_delta_spark.delta.writer import DeltaWriter
    from duckdb_delta_spark.streaming.delta_source import DeltaPySource

    spark.dataSource.register(DeltaPySource)
    schema = T.StructType([
        T.StructField("i", T.LongType()),
        T.StructField("info", T.StructType([
            T.StructField("a", T.LongType()),
            T.StructField("s", T.StringType())])),
    ])
    DeltaWriter.create(spark, tdir, schema, configuration={
        "delta.columnMapping.mode": "name",
        "delta.enableChangeDataFeed": "true"})
    src, ck = str(tdir) + "_src", str(tdir) + "_ck"
    DeltaWriter.create(spark, src, schema).append(
        spark.range(5).select(
            F.col("id").alias("i"),
            F.struct(F.col("id").alias("a"),
                     F.concat(F.lit("n"), F.col("id")).alias("s"))
            .alias("info")).coalesce(1))
    q = (
        spark.readStream.format("delta_py")
        .option("path", src).option("startingVersion", "0").load()
        .writeStream.format("delta_py")
        .option("path", tdir)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    assert q.exception() is None, q.exception()

    t = DeltaTable(tdir)
    # physical-named sink files
    for f in t.snapshot.add_files():
        names = pq.ParquetFile(f.absolute_path(tdir)).schema_arrow.names
        assert all(n.startswith("col-") for n in names)

    # DML on the streamed-into CM+CDF table writes cdc files
    DeltaWriter(tdir, spark).delete("i = 2")

    got = sorted((r["_change_type"], r["i"], r["info"]["a"], r["info"]["s"])
                 for r in table_changes(
                     DeltaLog(tdir), spark, starting_version=0).collect())
    want = sorted([("insert", k, k, f"n{k}") for k in range(5)]
                  + [("delete", 2, 2, "n2")])
    assert got == want

    # the readChangeFeed STREAM decodes the same rows
    out, ck2 = str(tdir) + "_cdf_out", str(tdir) + "_cdf_ck"
    q2 = (
        spark.readStream.format("delta_py")
        .option("path", tdir)
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck2)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert q2.exception() is None, q2.exception()
    got2 = sorted((r["_change_type"], r["i"], r["info"]["a"], r["info"]["s"])
                  for r in spark.read.parquet(out).collect())
    assert got2 == want
    for d in (src, ck, out, ck2):
        _sh.rmtree(d, ignore_errors=True)


def test_sink_two_independent_queries_both_commit(spark, tdir):
    """REGRESSION: the sink's exactly-once appId is keyed by CHECKPOINT
    location, not table path. Two independent streaming queries (fresh
    checkpoints) into the same table both start at batchId 0 — with a
    table-path appId the second query's batch looked already-committed
    and was SILENTLY DROPPED (q.exception() None, no rows). Replay dedup
    within one checkpoint must still hold."""
    import json as _json
    import os as _os
    import shutil as _sh

    from pyspark.sql import types as T

    from duckdb_delta_spark.delta.table import DeltaTable
    from duckdb_delta_spark.delta.writer import DeltaWriter
    from duckdb_delta_spark.streaming.delta_source import DeltaPySource

    spark.dataSource.register(DeltaPySource)
    schema = T.StructType([T.StructField("i", T.LongType())])
    DeltaWriter.create(spark, tdir, schema)

    def run(lo, hi, tag):
        src, ck = f"{tdir}_src_{tag}", f"{tdir}_ck_{tag}"
        if not _os.path.exists(src):
            DeltaWriter.create(spark, src, schema).append(
                spark.range(lo, hi).select(F.col("id").alias("i"))
                .coalesce(1))
        q = (
            spark.readStream.format("delta_py")
            .option("path", src).option("startingVersion", "0").load()
            .writeStream.format("delta_py")
            .option("path", tdir).option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        assert q.exception() is None, q.exception()

    run(0, 3, "q1")
    run(10, 13, "q2")   # fresh checkpoint: MUST commit, not dedup-skip
    t = DeltaTable(tdir)
    assert sorted(r["i"] for r in t.to_df(spark).collect()) == \
        [0, 1, 2, 10, 11, 12]

    # distinct per-checkpoint txn appIds in the log
    app_ids = set()
    for v in range(1, t.version + 1):
        for line in open(_os.path.join(
                tdir, "_delta_log", f"{v:020d}.json")):
            a = _json.loads(line)
            if "txn" in a:
                app_ids.add(a["txn"]["appId"])
    assert len(app_ids) == 2, app_ids

    # replay dedup within ONE checkpoint still holds
    run(10, 13, "q2")
    assert DeltaTable(tdir).to_df(spark).count() == 6
    for tag in ("q1", "q2"):
        _sh.rmtree(f"{tdir}_src_{tag}", ignore_errors=True)
        _sh.rmtree(f"{tdir}_ck_{tag}", ignore_errors=True)


def test_drain_all_single_lifecycle(spark, tdir):
    """.option('drainAll','true'): the whole multi-commit backlog drains
    in ONE availableNow lifecycle (the bridge pins availableNow to a
    single batch, so without it a rate-limited backfill pays one
    ~1.2-1.5s process lifecycle per capped batch). Per-trigger caps are
    ignored; split packing still bounds per-task bytes. Exactly-once
    across a restart holds: a second run on the same checkpoint adds
    nothing."""
    import shutil as _sh

    from pyspark.sql import types as T

    from duckdb_delta_spark.delta.writer import DeltaWriter
    from duckdb_delta_spark.streaming.delta_source import (
        DeltaPySource,
        drain_available_now,
    )

    spark.dataSource.register(DeltaPySource)
    schema = T.StructType([T.StructField("i", T.LongType())])
    w = DeltaWriter.create(spark, tdir, schema)
    for k in range(5):   # 5 data commits, one file each
        w.append(spark.range(10 * k, 10 * k + 10)
                 .select(F.col("id").alias("i")).coalesce(1))

    out, ck = str(tdir) + "_out", str(tdir) + "_ck"

    def start():
        return (
            spark.readStream.format("delta_py")
            .option("path", tdir)
            .option("startingVersion", "0")
            .option("maxFilesPerTrigger", "1")   # ignored under drainAll
            .option("drainAll", "true")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )

    runs = drain_available_now(start)
    import json as _json
    progs = [(_json.loads(r) if isinstance(r, str) else r) for r in runs]
    data_runs = [p for p in progs
                 if p and int(p.get("numInputRows") or 0) > 0]
    assert len(data_runs) == 1, f"expected ONE draining run, got {progs}"
    assert sorted(r["i"] for r in spark.read.parquet(out).collect()) \
        == list(range(50))

    # restart on the same checkpoint: nothing re-emitted
    q = start()
    q.awaitTermination(120)
    assert q.exception() is None
    assert spark.read.parquet(out).count() == 50
    for d in (out, ck):
        _sh.rmtree(d, ignore_errors=True)


def test_drain_all_composes_with_where_and_cdf(spark, tdir):
    """drainAll composes with the source's other options: (a) a `where`
    predicate still file-prunes and row-filters across the whole
    multi-commit backlog in the single batch; (b) a readChangeFeed
    stream drains every commit's change rows in one lifecycle."""
    import shutil as _sh

    from pyspark.sql import types as T

    from duckdb_delta_spark.delta.writer import DeltaWriter
    from duckdb_delta_spark.streaming.delta_source import DeltaPySource

    spark.dataSource.register(DeltaPySource)
    schema = T.StructType([T.StructField("i", T.LongType())])
    w = DeltaWriter.create(spark, tdir, schema,
                           configuration={
                               "delta.enableChangeDataFeed": "true"})
    for k in range(4):
        w.append(spark.range(10 * k, 10 * k + 10)
                 .select(F.col("id").alias("i")).coalesce(1))
    DeltaWriter(tdir, spark).delete("i = 5")

    # (a) where × drainAll: one lifecycle, filtered rows from the whole
    # backlog — the DELETE commit is a data change the plain stream
    # refuses, so read only versions 0..4 via endingVersion-free where
    # stream against a second, DELETE-free table
    src2 = str(tdir) + "_plain"
    w2 = DeltaWriter.create(spark, src2, schema)
    for k in range(4):
        w2.append(spark.range(10 * k, 10 * k + 10)
                  .select(F.col("id").alias("i")).coalesce(1))
    out, ck = str(tdir) + "_w_out", str(tdir) + "_w_ck"
    q = (
        spark.readStream.format("delta_py")
        .option("path", src2).option("startingVersion", "0")
        .option("maxFilesPerTrigger", "1")
        .option("drainAll", "true")
        .option("where", "i >= 25")
        .load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    got = sorted(r["i"] for r in spark.read.parquet(out).collect())
    assert got == list(range(25, 40))

    # (b) readChangeFeed × drainAll: all five commits' change rows in
    # one lifecycle (4 insert commits + the DELETE's cdc rows)
    cout, cck = str(tdir) + "_c_out", str(tdir) + "_c_ck"
    q2 = (
        spark.readStream.format("delta_py")
        .option("path", tdir)
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .option("maxFilesPerTrigger", "1")
        .option("drainAll", "true")
        .load()
        .writeStream.format("parquet").option("path", cout)
        .option("checkpointLocation", cck)
        .trigger(availableNow=True).start()
    )
    q2.awaitTermination(120)
    assert q2.exception() is None
    ch = sorted((r["_change_type"], r["i"])
                for r in spark.read.parquet(cout).collect())
    assert ch == sorted([("insert", k) for k in range(40)]
                        + [("delete", 5)])
    for d in (src2, out, ck, cout, cck):
        _sh.rmtree(d, ignore_errors=True)


def test_stream_reads_table_upgraded_to_column_mapping(spark, tdir):
    """Streaming source over a table UPGRADED to name-mode column
    mapping mid-history (plus a rename): pre-upgrade files carry no
    parquet field ids and logical==physical names, post-upgrade files
    carry ids — the stream must read both shapes as one logical
    schema."""
    import shutil as _sh

    from pyspark.sql import types as T

    from duckdb_delta_spark.delta.writer import DeltaWriter
    from duckdb_delta_spark.streaming.delta_source import DeltaPySource

    spark.dataSource.register(DeltaPySource)
    schema = T.StructType([
        T.StructField("i", T.LongType()),
        T.StructField("info", T.StructType([
            T.StructField("a", T.LongType())])),
    ])
    w = DeltaWriter.create(spark, tdir, schema)
    w.append(spark.range(5).select(
        F.col("id").alias("i"),
        F.struct(F.col("id").alias("a")).alias("info")).coalesce(1))
    w.set_properties({"delta.columnMapping.mode": "name"})
    w.rename_column("i", "row_id")
    DeltaWriter(tdir, spark).append(spark.range(5, 10).select(
        F.col("id").alias("row_id"),
        F.struct(F.col("id").alias("a")).alias("info")).coalesce(1))

    out, ck = str(tdir) + "_out", str(tdir) + "_ck"
    q = (
        spark.readStream.format("delta_py")
        .option("path", tdir).option("startingVersion", "0").load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    res = spark.read.parquet(out)
    assert sorted(r["row_id"] for r in res.collect()) == list(range(10))
    assert res.where("info.a = row_id").count() == 10
    for d in (out, ck):
        _sh.rmtree(d, ignore_errors=True)


def test_foreach_replace_where_exactly_once(spark, tdir):
    """delta_foreach_replace_where: each batch replaces exactly the
    region its per-batch predicate covers (streaming partition-backfill
    pattern), replayed batch ids are skipped (txn rides the OVERWRITE
    commit), and a racing disjoint append survives via the replaceWhere
    conflict re-validation."""
    from pyspark.sql import types as T

    from duckdb_delta_spark import DeltaTable, DeltaWriter
    from duckdb_delta_spark.streaming.foreach_sink import (
        delta_foreach_replace_where,
    )

    schema = T.StructType([T.StructField("day", T.LongType()),
                           T.StructField("v", T.LongType())])
    w = DeltaWriter.create(spark, tdir, schema, partition_by=["day"])
    w.append(spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (3, 30)], schema))

    def days_pred(batch_df):
        days = sorted(r["day"] for r in
                      batch_df.select("day").distinct().collect())
        return "day in (" + ",".join(map(str, days)) + ")"

    fn = delta_foreach_replace_where(tdir, days_pred, txn_app_id="rw")

    # batch 0 recompacts day 1 down to a single corrected row
    fn(spark.createDataFrame([(1, 111)], schema), 0)
    got = sorted(map(tuple, DeltaTable(tdir).to_df(spark).select("day", "v").collect()))
    assert got == [(1, 111), (2, 20), (3, 30)]

    # replay of batch 0 with DIFFERENT data must be skipped
    fn(spark.createDataFrame([(1, 999)], schema), 0)
    assert sorted(map(tuple, DeltaTable(tdir).to_df(spark)
                      .select("day", "v").collect())) == got

    # a racing append on a DIFFERENT day commutes: the sink's writer holds
    # a now-stale snapshot, loses the version race, re-validates, commits
    DeltaWriter(tdir, spark).append(
        spark.createDataFrame([(9, 90)], schema))
    fn(spark.createDataFrame([(2, 222)], schema), 1)
    got = sorted(map(tuple, DeltaTable(tdir).to_df(spark)
                      .select("day", "v").collect()))
    assert got == [(1, 111), (2, 222), (3, 30), (9, 90)]

    # full-overwrite mode: predicate callable returning None
    fn2 = delta_foreach_replace_where(tdir, lambda b: None, txn_app_id="fo")
    fn2(spark.createDataFrame([(7, 70)], schema), 0)
    assert sorted(map(tuple, DeltaTable(tdir).to_df(spark)
                      .select("day", "v").collect())) == [(7, 70)]


def test_partitioned_sink_escapes_partition_values(spark, tmp_path):
    """Partition values that need escaping in a path (a space, a percent
    sign) and NULL: the sink writes them under hive-escaped directories
    and logs the add paths url-encoded, so every row reads back."""
    import os

    from pyspark.sql import types as T

    from duckdb_delta_spark import DeltaTable, DeltaWriter
    from duckdb_delta_spark.streaming.delta_source import DeltaPySource

    spark.dataSource.register(DeltaPySource)
    src_dir = str(tmp_path / "src")
    dst_dir = str(tmp_path / "dst")
    schema = T.StructType([T.StructField("i", T.LongType()),
                           T.StructField("g", T.StringType())])
    rows = [(0, "a b"), (1, "50%"), (2, None), (3, "a b")]
    w = DeltaWriter.create(spark, src_dir, schema)
    w.append(spark.createDataFrame(rows, schema))
    DeltaWriter.create(spark, dst_dir, schema, partition_by=["g"])

    q = (
        spark.readStream.format("delta_py")
        .option("path", src_dir)
        .option("startingVersion", "0")
        .load()
        .writeStream.format("delta_py")
        .option("path", dst_dir)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = DeltaTable(dst_dir).to_df(spark).select("i", "g").collect()
    assert sorted(tuple(r) for r in got) == rows
    dirs = {e for e in os.listdir(dst_dir) if e.startswith("g=")}
    assert dirs == {"g=a%20b", "g=50%25", "g=__HIVE_DEFAULT_PARTITION__"}


def test_cdf_stream_plan_reads_each_commit_once(spark, tdir, monkeypatch):
    """Planning a change-feed batch over five commits lists the log once
    and reads each commit once: the parsed actions feed the snapshot
    replay, the classification and the commit clock."""
    from pyspark.sql import types as T

    from duckdb_delta_spark import DeltaWriter
    from duckdb_delta_spark.delta.log import DeltaLog
    from duckdb_delta_spark.streaming.delta_source import DeltaPySource

    schema = T.StructType([T.StructField("i", T.LongType())])
    w = DeltaWriter.create(spark, tdir, schema)
    for n in range(4):
        w.append(spark.range(n, n + 1).toDF("i"))
    src = DeltaPySource({"path": tdir, "readChangeFeed": "true",
                         "startingVersion": "0"})
    reader = src.streamReader(src.schema())

    calls = {"list": 0, "read": 0, "ict": 0}
    for name, key in (("list_log_files", "list"), ("read_commit", "read"),
                      ("read_ict", "ict")):
        def counted(self, *a, _orig=getattr(DeltaLog, name), _key=key,
                    **kw):
            calls[_key] += 1
            return _orig(self, *a, **kw)
        monkeypatch.setattr(DeltaLog, name, counted)

    parts = reader.partitions(reader.initialOffset(), {"version": 4})
    assert calls == {"list": 1, "read": 5, "ict": 0}
    refs = [f for p in parts for f in p.files]
    assert sorted(f.commit_version for f in refs) == [1, 2, 3, 4]
