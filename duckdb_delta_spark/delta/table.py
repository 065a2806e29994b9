"""DeltaTable: the user-facing handle (≈ ``delta_scan`` + metadata functions).

Reference analogues: ``delta_scan(path)`` (src/functions/delta_scan/delta_scan.cpp:83-121),
time travel via pinned version (delta_catalog.cpp:13-23, timetravel.test:27-33),
``delta_list_files`` (src/functions/delta_metadata_scan.cpp:65-148),
``delta_domain_metadata`` (src/functions/delta_domain_metadata.cpp:20-77),
idempotent-write helpers ``delta_get/set_transaction_version``
(idempotency_helpers.cpp:41-145).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from duckdb_delta_spark.localrel import local_df as _local_df
from duckdb_delta_spark.delta.log import DeltaLog
from duckdb_delta_spark.delta.scan import DeltaScanBuilder
from duckdb_delta_spark.delta.snapshot import Snapshot
from duckdb_delta_spark.delta.writer import DeltaWriter


def _to_epoch_ms(ts) -> int:
    """datetime / ISO-8601 string / epoch millis → epoch millis (UTC)."""
    import datetime as dt

    if isinstance(ts, (int, float)):
        return int(ts)
    if isinstance(ts, str):
        ts = dt.datetime.fromisoformat(ts)
    if isinstance(ts, dt.datetime):
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=dt.timezone.utc)
        return int(ts.timestamp() * 1000)
    raise TypeError(f"unsupported timestamp {ts!r}")


class DeltaTable:
    """One Delta table at one (possibly pinned) version."""

    def __init__(self, path: str, version: int | None = None,
                 snapshot: Snapshot | None = None,
                 log_tail: list[str] | None = None,
                 timestamp=None):
        """``timestamp``: time travel to the latest version committed at or
        before it (datetime, ISO-8601 string, or epoch millis) — the
        ``AT (TIMESTAMP => ...)`` analogue, resolved against commit-file
        modification times like delta-spark. Mutually exclusive with
        ``version``."""
        self.log = DeltaLog(path, log_tail=log_tail)
        self.path = self.log.table_path
        if timestamp is not None:
            if version is not None:
                raise ValueError("pass either version or timestamp, not both")
            version = self.log.version_at_timestamp(_to_epoch_ms(timestamp))
        # ``snapshot`` serves as a base: reused or replayed forward
        self.snapshot = Snapshot.build(self.log, version, base=snapshot)
        self.version = self.snapshot.version

    # ---------- read ----------

    def scan(self, spark: SparkSession, pushdown: str = "all") -> DeltaScanBuilder:
        return DeltaScanBuilder(self.snapshot, spark, pushdown=pushdown)

    def to_df(self, spark: SparkSession, where: str | None = None) -> DataFrame:
        """Full-table DataFrame; ``where`` (a SQL clause in the pushable
        grammar — see :meth:`DeltaScanBuilder.filter_sql`) prunes at the
        manifest AND filters row-level."""
        sb = self.scan(spark)
        if where is not None:
            sb = sb.filter_sql(where)
        return sb.to_df()

    def refreshed(self) -> "DeltaTable":
        """Re-resolve HEAD, reusing this snapshot as incremental base."""
        return DeltaTable(self.path, version=None, snapshot=self.snapshot)

    # ---------- write ----------

    def writer(self, spark: SparkSession) -> DeltaWriter:
        return DeltaWriter(self.path, spark)

    def insert(self, df: DataFrame, **kwargs) -> int:
        return self.writer(df.sparkSession).append(df, **kwargs)

    def delete(self, spark: SparkSession, condition) -> tuple[int, int] | None:
        """Row-level DELETE via deletion vectors (see DeltaWriter.delete)."""
        return self.writer(spark).delete(condition)

    def changes(
        self,
        spark: SparkSession,
        starting_version: int | None = None,
        ending_version: int | None = None,
        starting_timestamp=None,
        ending_timestamp=None,
    ) -> DataFrame:
        """Row-level change feed for commits (starting_version,
        ending_version]: table columns + _change_type + _commit_version
        (see delta/changes.py — derived from the log, no _change_data
        files needed).

        Timestamp bounds (delta-spark CDF parity): ``starting_timestamp``
        includes every commit whose clock is AT or AFTER it,
        ``ending_timestamp`` every commit at or before it — resolved via
        the same ICT-aware clocks as timestamp travel."""
        from duckdb_delta_spark.delta.changes import table_changes

        if starting_timestamp is not None:
            if starting_version is not None:
                raise ValueError(
                    "pass either starting_version or starting_timestamp")
            from duckdb_delta_spark.delta.errors import (
                InvalidTableVersionError,
            )

            ms = _to_epoch_ms(starting_timestamp)
            try:
                at = self.log.version_at_timestamp(ms)
                exact = self.log.commit_timestamp(at) == ms
            except InvalidTableVersionError:
                # ts before the table existed: include everything.
                # (Only this error — genuine log corruption must NOT be
                # silently mapped to 'return the full feed'.)
                starting_version = -1
            else:
                if exact:
                    # 'at or after' contract: mtime clocks have ms
                    # granularity, so SEVERAL commits can share the exact
                    # bound — walk back over the tie so the earliest
                    # commit at ms is included too, not just the latest
                    while at - 1 >= 0:
                        try:
                            if self.log.commit_timestamp(at - 1) != ms:
                                break
                        except InvalidTableVersionError:
                            break  # predecessor expired: stop the walk
                        at -= 1
                    starting_version = at - 1
                else:
                    starting_version = at
        elif starting_version is None:
            raise ValueError(
                "changes() needs starting_version or starting_timestamp")
        if ending_timestamp is not None:
            if ending_version is not None:
                raise ValueError(
                    "pass either ending_version or ending_timestamp")
            ending_version = self.log.version_at_timestamp(
                _to_epoch_ms(ending_timestamp))
        return table_changes(self.log, spark, starting_version, ending_version)

    def update(self, spark: SparkSession, condition, assignments) -> tuple[int, int] | None:
        """Row-level UPDATE via DV mask + image append (see DeltaWriter.update)."""
        return self.writer(spark).update(condition, assignments)

    def merge(self, spark: SparkSession, source: DataFrame, on, **kwargs):
        """MERGE INTO upsert (see DeltaWriter.merge)."""
        return self.writer(spark).merge(source, on, **kwargs)

    def restore(self, spark: SparkSession, version: int) -> int | None:
        """RESTORE TABLE TO VERSION (see DeltaWriter.restore)."""
        return self.writer(spark).restore(version)

    def compact(self, spark: SparkSession, **kwargs) -> int | None:
        """OPTIMIZE bin-packing compaction (see DeltaWriter.compact)."""
        return self.writer(spark).compact(**kwargs)

    def vacuum(self, spark: SparkSession, **kwargs) -> list[str]:
        """Delete unreferenced data/DV files (see DeltaWriter.vacuum)."""
        return self.writer(spark).vacuum(**kwargs)

    # ---------- metadata functions ----------

    def file_manifest(self, spark: SparkSession) -> DataFrame:
        """= ``delta_list_files``: (data_file, cardinality, partition_values,
        have_deletes, delete_count)."""
        rows = []
        for f in self.snapshot.add_files():
            dv = f.deletion_vector or {}
            rows.append(
                (
                    f.absolute_path(self.path),
                    f.num_records,
                    {k: v for k, v in f.partition_values.items()},
                    bool(f.deletion_vector),
                    int(dv.get("cardinality") or 0),
                    f.size,
                )
            )
        schema = T.StructType(
            [
                T.StructField("data_file", T.StringType()),
                T.StructField("cardinality", T.LongType()),
                T.StructField("partition_values", T.MapType(T.StringType(), T.StringType())),
                T.StructField("have_deletes", T.BooleanType()),
                T.StructField("delete_count", T.LongType()),
                T.StructField("size", T.LongType()),
            ]
        )
        return _local_df(spark, rows, schema)

    def domain_metadata(self, spark: SparkSession) -> DataFrame:
        schema = T.StructType(
            [
                T.StructField("domain", T.StringType()),
                T.StructField("configuration", T.StringType()),
            ]
        )
        rows = sorted(self.snapshot.domain_metadata.items())
        return _local_df(spark, rows, schema)

    def history(self, spark: SparkSession) -> DataFrame:
        """Commit history (version, timestamp, operation) from commitInfo."""
        commits, _ = self.log.list_log_files()
        rows = []
        for v in sorted(commits):
            op = None
            ts = None
            for a in self.log.read_commit(v):
                ci = a.get("commitInfo")
                if ci:
                    op = ci.get("operation")
                    ts = ci.get("timestamp")
                    break
            rows.append((v, ts, op))
        schema = T.StructType(
            [
                T.StructField("version", T.LongType()),
                T.StructField("timestamp", T.LongType()),
                T.StructField("operation", T.StringType()),
            ]
        )
        return _local_df(spark, rows, schema)

    def get_transaction_version(self, app_id: str) -> int | None:
        return self.snapshot.transaction_version(app_id)

    def set_transaction_version(
        self, spark: SparkSession, app_id: str, version: int,
        expected_last: int | None = None,
    ) -> int:
        """Commit a bare ``txn`` action (idempotency bookmark) — the
        ``delta_set_transaction_version`` analogue. ``expected_last`` is a
        compare-and-set: the bookmark commits only while the app's last
        version is still ``expected_last``, re-checked after every lost
        race (IdempotencyError otherwise)."""
        from duckdb_delta_spark.delta.errors import IdempotencyError
        from duckdb_delta_spark.delta.transaction import Transaction
        from duckdb_delta_spark.delta.writer import _commit_info, _txn_action

        def recheck(old, snap, actions):
            have = snap.transaction_version(app_id)
            if expected_last is not None and have != expected_last:
                raise IdempotencyError(
                    f"app {app_id!r}: expected last version {expected_last}, found {have}"
                )
            return actions

        actions = recheck(None, self.snapshot, [
            {"commitInfo": _commit_info("SET TRANSACTION")},
            _txn_action(app_id, version),
        ])
        # a state-free marker: it rebases past any racer that left the
        # app's version alone
        return Transaction(self.log, self.snapshot, retries=7,
                           rebase=recheck).commit(actions)

    # ---------- introspection ----------

    def schema(self) -> T.StructType:
        return self.snapshot.schema

    def detail(self) -> dict:
        """DESCRIBE DETAIL (delta-spark parity, one metadata pass): table
        identity, protocol, layout and size facts — nothing reads data
        files. ``numRecords`` is the DV-adjusted stats estimate (exact
        when every add action carries numRecords, as this writer's do)."""
        s = self.snapshot
        proto = s.protocol
        features = sorted(
            set(proto.get("readerFeatures") or [])
            | set(proto.get("writerFeatures") or [])
        )
        return {
            "format": "delta",
            "id": s.metadata.get("id"),
            "name": s.metadata.get("name"),
            "location": self.path,
            "createdAt": s.metadata.get("createdTime"),
            "lastModified": self.log.commit_timestamp(s.version),
            "version": s.version,
            "numFiles": len(s.files),
            "partitionColumns": s.partition_columns,
            "clusteringColumns": s.clustering_columns,
            "configuration": s.configuration,
            "sizeInBytes": sum(f.size for f in s.files.values()),
            "numRecords": s.num_records_estimate(),
            "minReaderVersion": proto.get("minReaderVersion"),
            "minWriterVersion": proto.get("minWriterVersion"),
            "tableFeatures": features,
            "schema": json.loads(s.metadata.get("schemaString", "{}")),
        }

    def detail_df(self, spark: SparkSession) -> DataFrame:
        """``detail()`` as the one-row DataFrame DESCRIBE DETAIL returns."""
        d = self.detail()
        schema = T.StructType([
            T.StructField("format", T.StringType()),
            T.StructField("id", T.StringType()),
            T.StructField("name", T.StringType()),
            T.StructField("location", T.StringType()),
            T.StructField("createdAt", T.LongType()),
            T.StructField("lastModified", T.LongType()),
            T.StructField("version", T.LongType()),
            T.StructField("numFiles", T.LongType()),
            T.StructField("partitionColumns", T.ArrayType(T.StringType())),
            T.StructField("clusteringColumns", T.ArrayType(T.StringType())),
            T.StructField("properties", T.MapType(T.StringType(), T.StringType())),
            T.StructField("sizeInBytes", T.LongType()),
            T.StructField("numRecords", T.LongType()),
            T.StructField("minReaderVersion", T.LongType()),
            T.StructField("minWriterVersion", T.LongType()),
            T.StructField("tableFeatures", T.ArrayType(T.StringType())),
        ])
        row = [(d["format"], d["id"], d["name"], d["location"],
                d["createdAt"], d["lastModified"], d["version"],
                d["numFiles"], d["partitionColumns"], d["clusteringColumns"],
                d["configuration"], d["sizeInBytes"], d["numRecords"],
                d["minReaderVersion"], d["minWriterVersion"],
                d["tableFeatures"])]
        return _local_df(spark, row, schema)
