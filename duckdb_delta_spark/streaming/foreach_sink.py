"""foreachBatch Delta sink — the recommended PRODUCTION write path.

Two ways to stream into a Delta table with this engine:

* ``writeStream.format("delta_py")`` (delta_source.DeltaStreamWriter) —
  fully portable Python DataSource sink; every task runs a Python
  worker that encodes parquet with pyarrow. Exactly-once, Arrow
  end-to-end, but the write side pays a Python worker per task.
* ``writeStream.foreachBatch(delta_foreach_batch(path))`` (this module)
  — the same pattern delta-spark documents for streaming upserts: each
  micro-batch DataFrame is written by the BATCH :class:`DeltaWriter`,
  so the parquet encode runs JVM-side (Tungsten + vectorized parquet,
  no Python write fleet) and only the commit protocol runs in Python
  on the driver. Same exactly-once guarantee via ``txn(appId,
  version=batchId)``: a replayed batch is detected from the snapshot's
  app-transaction map and skipped.

At 100 TB the foreachBatch path is strictly better for plain appends:
the write job is a native Spark parquet write (codegen, columnar
encoders, executor-local spill), and the per-batch Python cost is one
driver-side commit. The DataSource sink remains for environments that
need a pure ``format(...)`` pipeline (no closures in the query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _writer_for_batch(state: dict, table_path: str, batch_df: DataFrame,
                      app_id: str, batch_id: int, replay_event: str):
    """The sink's cached :class:`DeltaWriter`, refreshed incrementally to
    HEAD (other writers may have committed), or None when ``batch_id`` is
    already committed for ``app_id`` — a replayed batch, reported as
    ``replay_event``."""
    from duckdb_delta_spark.delta.logging import emit
    from duckdb_delta_spark.delta.snapshot import Snapshot
    from duckdb_delta_spark.delta.writer import DeltaWriter, _replayed

    w: DeltaWriter | None = state.get("writer")
    if w is None:
        w = state["writer"] = DeltaWriter(table_path, batch_df.sparkSession)
    else:
        w._snapshot = Snapshot.build(w.log, base=w._snapshot)
    if _replayed(w._snapshot, app_id, batch_id):
        emit(replay_event, table_path=table_path,
             batch_id=int(batch_id),
             last_committed=w._snapshot.transaction_version(app_id))
        return None
    return w


def delta_foreach_batch(
    table_path: str,
    txn_app_id: str | None = None,
    merge_schema: bool = False,
):
    """Build a ``foreachBatch`` function writing each micro-batch to the
    Delta table at ``table_path`` exactly once.

    Usage::

        q = (df.writeStream
               .foreachBatch(delta_foreach_batch(path))
               .option("checkpointLocation", ck)
               .trigger(availableNow=True)
               .start())

    Exactly-once: the commit carries ``txn(appId, version=batchId)``;
    when Spark replays a batch after a failure, ``batchId <= last``
    committed transaction version for the app and the batch is skipped
    (delta-spark's idempotent-write contract). The writer (and its
    incrementally-refreshed snapshot) is cached across batches, so a
    long-running stream pays O(new commits), not O(log), per batch.
    """
    import os

    app_id = txn_app_id or f"delta_py_foreach:{os.path.abspath(table_path)}"
    state: dict = {}

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        import time as _time

        from duckdb_delta_spark.delta.logging import emit

        _t0 = _time.time()
        w = _writer_for_batch(state, table_path, batch_df, app_id, batch_id,
                              "stream.foreach.skip_replayed")
        if w is None:
            return
        version = w.append(
            batch_df,
            txn_app_id=app_id,
            txn_version=int(batch_id),
            max_retries=3,
            merge_schema=merge_schema,
            skip_if_empty=True,
        )
        if version is None:
            # empty micro-batch: nothing appended, nothing committed — an
            # idle stream must not grow the log (decided from the write's
            # own footer stats inside append, zero probe jobs)
            emit("stream.foreach.skip_empty", table_path=table_path,
                 batch_id=int(batch_id))
            return
        emit(
            "stream.foreach.commit",
            table_path=table_path,
            version=version,
            batch_id=int(batch_id),
            duration_ms=int((_time.time() - _t0) * 1000),
        )

    return _write


def delta_foreach_merge(
    table_path: str,
    on: str,
    when_matched_update: dict | None = None,
    when_not_matched_insert: bool = True,
    dedup_keys: list[str] | None = None,
    order_col: str | None = None,
    txn_app_id: str | None = None,
):
    """Build a ``foreachBatch`` function UPSERTING each micro-batch into
    the Delta table — delta-spark's documented streaming-upsert pattern
    (foreachBatch + MERGE INTO), with the same exactly-once contract as
    :func:`delta_foreach_batch` (the MERGE commit carries
    ``txn(appId, batchId)``; replayed batches are skipped).

    ``dedup_keys``/``order_col``: MERGE requires the source unique on the
    join keys, but a micro-batch can carry several updates for one key —
    when set, the batch is reduced to the LAST row per key
    (``max_by``-style, ordered by ``order_col``) before merging, all
    JVM-side. At 100 TB each micro-batch's merge is one broadcast-or-
    shuffle join against the target scan plus a bounded DV build — cost
    scales with batch size and touched files, not table size."""
    import os

    app_id = txn_app_id or f"delta_py_merge:{os.path.abspath(table_path)}"
    state: dict = {}

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        import time as _time

        from pyspark.sql import functions as F

        from duckdb_delta_spark.delta.logging import emit

        _t0 = _time.time()
        w = _writer_for_batch(state, table_path, batch_df, app_id, batch_id,
                              "stream.merge.skip_replayed")
        if w is None:
            return
        src = batch_df
        if dedup_keys:
            order = F.col(order_col) if order_col else F.lit(1)
            others = [c for c in src.columns if c not in dedup_keys]
            src = (
                src.groupBy(*dedup_keys)
                .agg(*[F.max_by(c, order).alias(c) for c in others])
                .select(*batch_df.columns)
            )
        res = w.merge(
            src, on,
            when_matched_update=when_matched_update,
            when_not_matched_insert=when_not_matched_insert,
            txn_app_id=app_id, txn_version=int(batch_id),
        )
        emit("stream.merge.commit", table_path=table_path,
             batch_id=int(batch_id),
             version=None if res is None else res[0],
             n_matched=0 if res is None else res[1],
             n_inserted=0 if res is None else res[2],
             duration_ms=int((_time.time() - _t0) * 1000))

    return _write


def delta_foreach_replace_where(
    table_path: str,
    where,
    txn_app_id: str | None = None,
    skip_empty: bool | None = None,
):
    """Build a ``foreachBatch`` function that REPLACES a region of the
    Delta table with each micro-batch — the standard streaming
    compaction / partition-backfill pattern (foreachBatch +
    ``replaceWhere``), exactly-once like the other foreach sinks: the
    overwrite commit carries ``txn(appId, batchId)`` and replayed
    batches are recognized from the snapshot's app-transaction map and
    skipped. Losing a commit race re-validates with the replace
    predicate (racer-added rows inside the region → loud conflict;
    disjoint racers → retry commits).

    ``where``: the replace predicate — a SQL string, or a CALLABLE
    ``batch_df -> str`` evaluated per batch (e.g. build an ``IN`` list
    of the partition values present in the batch, so each micro-batch
    replaces exactly the partitions it covers). ``where=None`` (or the
    callable returning None) makes the batch a FULL overwrite.

    ``skip_empty``: whether an EMPTY micro-batch skips its commit (an
    idle stream must not inflate log replay — or TRUNCATE the table).
    Default (None): skip when ``where`` is a callable (a batch-derived
    predicate is meaningless for a batch with no rows) AND when
    ``where`` is None — Structured Streaming DOES deliver empty batches
    (stateful queries emitting nothing, recovery re-execution), and a
    full overwrite of an empty batch wipes whatever the previous batch
    just wrote, so truncate-on-idle must be the explicit opt-in
    (``skip_empty=False``), never the default. For a STATIC SQL-string
    predicate, replace-with-empty remains a real pipeline semantic
    (clear the region on an empty batch), so that mode commits by
    default — but the sink emits a loud ``stream.replace.empty_commit``
    event whenever an empty batch clears a region, so an unintended
    idle-stream wipe is visible in the log; pass ``skip_empty=True`` to
    opt in to skipping. Skipping is replay-safe without a txn stamp:
    re-running an empty batch is itself a no-op.

    Cost shape: emptiness is decided from the batch write's OWN footer
    stats inside :meth:`DeltaWriter.overwrite` (``skip_if_empty``) — a
    non-empty batch pays ZERO extra probe jobs (no ``isEmpty()``), an
    empty one rolls back its zero staged files and commits nothing.

    Scale shape: one distributed write of the batch plus a DV build over
    only the files straddling the predicate — cost follows batch size
    and the replaced region, never table size.
    """
    import os

    app_id = txn_app_id or f"delta_py_replace:{os.path.abspath(table_path)}"
    state: dict = {}
    skip = (
        (callable(where) or where is None)
        if skip_empty is None
        else bool(skip_empty)
    )

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        import time as _time

        from duckdb_delta_spark.delta.logging import emit

        _t0 = _time.time()
        w = _writer_for_batch(state, table_path, batch_df, app_id, batch_id,
                              "stream.replace.skip_replayed")
        if w is None:
            return
        # the callable predicate is resolved INSIDE overwrite, after the
        # skip_if_empty decision — it never runs against an empty batch
        version = w.overwrite(
            batch_df, where=where,
            txn_app_id=app_id, txn_version=int(batch_id),
            skip_if_empty=skip,
        )
        if version is None:
            emit("stream.replace.skip_empty", table_path=table_path,
                 batch_id=int(batch_id))
            return
        if w.last_overwrite_added_files == 0:
            # committed an EMPTY batch (skip_empty opted out, or static
            # predicate default): the region was cleared / table
            # truncated with zero replacement rows — loud by design so
            # an unintended idle-stream wipe is visible in the log
            emit("stream.replace.empty_commit", table_path=table_path,
                 version=version, batch_id=int(batch_id),
                 predicate=w.last_overwrite_predicate)
        emit("stream.replace.commit", table_path=table_path,
             version=version, batch_id=int(batch_id),
             predicate=w.last_overwrite_predicate,
             duration_ms=int((_time.time() - _t0) * 1000))

    return _write
