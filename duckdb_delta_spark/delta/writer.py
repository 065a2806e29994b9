"""DeltaWriter: create / append / DML / schema changes / maintenance.

Reference analogue: the write path — ``PlanInsert`` building a parquet COPY
with uuid filenames and hive-partitioned layout (reference:
src/storage/delta_insert.cpp:304-408), per-file stats shaped into the Delta
``stats`` JSON (delta_insert.cpp:114-149, delta_transaction.cpp:178-293),
NOT NULL enforcement (delta_insert.cpp:186-203), idempotent txn app
versions (idempotency_helpers.cpp:41-145), commitInfo stamping
(delta_transaction.cpp:45-94), and ``CHECKPOINT``
(delta_transaction_manager.cpp:54-74). Every operation plans its actions
here and commits them through one ``Transaction`` (delta/transaction.py:
conflicts, retries, rollback-deletes-files, post-commit hooks).

Spark-first shape: the data job is one ``df.write.parquet`` (executors do
all IO, hive layout via ``partitionBy``); everything after — stats from
parquet *footers*, action JSON, put-if-absent commit — is driver-side and
O(#files), not O(rows). Footer-based stats cost zero extra Spark jobs and
are exact for min/max/nullCount (same numbers the reference parses from
COPY's WRITTEN_FILE_STATISTICS).
"""

from __future__ import annotations

import copy
import datetime as _dt
import json
import os
import re
import shutil
import time
import urllib.parse
import uuid
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from duckdb_delta_spark.localrel import local_df as _local_df
from duckdb_delta_spark.delta.errors import (
    CommitConflictError,
    ConstraintViolationError,
    IdempotencyError,
    InvalidTableLocationError,
    SchemaError,
    TransactionError,
    UnsupportedFeatureError,
)
from duckdb_delta_spark.delta.log import DeltaLog
from duckdb_delta_spark.delta.snapshot import SUPPORTED_WRITER_FEATURES, Snapshot
from duckdb_delta_spark.delta.transaction import (
    ReadSet,
    Transaction,
    remove_staged,
)

ENGINE_INFO = "duckdb-delta-spark/0.1"

#: types whose values map to quantile-rank codes for Z-value interleaving
_ZORDERABLE = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
    T.DateType, T.TimestampType,
)
_STATS_TRUNC = 32
_MAX_CODEPOINT = 0x10FFFF

#: nondeterministic SQL functions a TEXTUAL predicate scan can still catch
#: when the JVM plan surface is unavailable (Spark Connect) — the fallback
#: twin of the analyzed-plan determinism check in
#: :meth:`DeltaWriter._assert_deterministic_condition`
_NONDET_FUNC_RE = re.compile(
    r"\b(rand|randn|random|uuid|shuffle|monotonically_increasing_id)"
    r"\s*\(",
    re.IGNORECASE,
)

#: quoted string literals inside a predicate's text — stripped before the
#: nondeterministic-function scan so a LITERAL containing "uuid(" (e.g.
#: ``msg = 'call uuid() first'``) is not a false positive. Handles SQL
#: doubled-quote ('it''s' matches as two adjacent literals — both
#: removed) and backslash escapes.
_QUOTED_LITERAL_RE = re.compile(
    r"'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"")


def _strip_string_literals(text: str) -> str:
    """``text`` with every quoted string literal replaced by an empty
    literal, for the textual nondeterminism fallback — function names
    appearing inside literals must not trip the scan. A ``Column<'…'>``
    repr (callers that only have a Column) is unwrapped first: its
    outer quotes would otherwise invert the literal/non-literal parity
    of every quote inside."""
    if text.startswith("Column<'") and text.endswith("'>"):
        text = text[8:-2]
    return _QUOTED_LITERAL_RE.sub("''", text)


def _plan_all_deterministic(df: DataFrame) -> bool | None:
    """True/False from the analyzed plan's top expressions via the
    classic-session JVM surface; None when that surface is absent (Spark
    Connect has no ``_jdf``) — callers fall back to a textual scan of the
    original predicate instead of silently passing. Routed through
    :func:`duckdb_delta_spark.plans.jdf_or_none`, the package-wide seam
    for the classic-only JVM surface."""
    from duckdb_delta_spark.plans import jdf_or_none

    jdf = jdf_or_none(df)
    if jdf is None:
        return None
    try:
        exprs = jdf.queryExecution().analyzed().expressions()
        return all(exprs.apply(i).deterministic()
                   for i in range(exprs.size()))
    except Exception:
        return None

# Delta spec (table features appendix): legacy protocol versions imply
# feature sets; a (3,7) upgrade must list EVERY implied feature explicitly
# or spec-compliant readers/writers (delta-spark, kernel) reject the table.
_READER_LEGACY_FEATURES = {1: frozenset(), 2: frozenset({"columnMapping"})}
_WRITER_LEGACY_FEATURES = {
    1: frozenset(),
    2: frozenset({"appendOnly", "invariants"}),
    3: frozenset({"appendOnly", "invariants", "checkConstraints"}),
    4: frozenset({"appendOnly", "invariants", "checkConstraints",
                  "changeDataFeed", "generatedColumns"}),
    5: frozenset({"appendOnly", "invariants", "checkConstraints",
                  "changeDataFeed", "generatedColumns", "columnMapping"}),
    6: frozenset({"appendOnly", "invariants", "checkConstraints",
                  "changeDataFeed", "generatedColumns", "columnMapping",
                  "identityColumns"}),
}


def _legacy_features(proto: dict) -> tuple[set[str], set[str]]:
    """(readerFeatures, writerFeatures) a protocol carries — explicit
    lists for (3,7) tables, the spec's implied sets for legacy versions.
    Shared by every (3,7) upgrade path so no upgrade drops columnMapping /
    changeDataFeed / etc. Refuses loudly on versions the spec doesn't
    define rather than silently dropping features."""
    r_ver = int(proto.get("minReaderVersion", 1))
    w_ver = int(proto.get("minWriterVersion", 2))
    if r_ver >= 3:
        r = set(proto.get("readerFeatures") or [])
    elif r_ver in _READER_LEGACY_FEATURES:
        r = set(_READER_LEGACY_FEATURES[r_ver])
    else:
        raise UnsupportedFeatureError(
            f"unknown legacy minReaderVersion {r_ver}"
        )
    if w_ver >= 7:
        w = set(proto.get("writerFeatures") or [])
    elif w_ver in _WRITER_LEGACY_FEATURES:
        w = set(_WRITER_LEGACY_FEATURES[w_ver])
    else:
        raise UnsupportedFeatureError(
            f"unknown legacy minWriterVersion {w_ver}"
        )
    return r, w


def _ensure_mapping_metadata(
    schema: T.StructType, start_id: int = 0,
    physical_names: str = "uuid",
) -> tuple[T.StructType, int]:
    """Assign ``delta.columnMapping.id``/``physicalName`` to every struct
    field (nested included) that lacks them — what delta-spark does when
    column mapping is enabled. Existing metadata is preserved, so
    fixture-authored schemas keep their ids; returns (schema, maxColumnId).
    With stable physical names in place, RENAME/DROP COLUMN become pure
    metadata commits.

    ``physical_names="logical"`` assigns each field's LOGICAL name as its
    physical name instead of a fresh ``col-<uuid>`` — the delta-spark
    UPGRADE semantics (enabling name mode on an EXISTING table), where
    the already-written files are keyed by logical names and a fresh
    physical name would orphan every one of them."""
    max_id = start_id

    # global pre-scan FIRST: ids already present anywhere in the schema
    # (arbitrarily deep, incl. structs inside arrays/maps) must never
    # collide with freshly assigned parent-level ids (spec: unique)
    def scan(dt: T.DataType) -> None:
        nonlocal max_id
        if isinstance(dt, T.StructType):
            for f in dt.fields:
                fid = (f.metadata or {}).get("delta.columnMapping.id")
                if fid is not None:
                    max_id = max(max_id, int(fid))
                scan(f.dataType)
        elif isinstance(dt, T.ArrayType):
            scan(dt.elementType)
        elif isinstance(dt, T.MapType):
            scan(dt.keyType)
            scan(dt.valueType)

    scan(schema)

    def walk(struct: T.StructType) -> T.StructType:
        nonlocal max_id
        out = []
        for f in struct.fields:
            md = dict(f.metadata or {})
            if "delta.columnMapping.id" not in md:
                max_id += 1
                md["delta.columnMapping.id"] = max_id
            md.setdefault(
                "delta.columnMapping.physicalName",
                f.name if physical_names == "logical"
                else f"col-{uuid.uuid4()}",
            )
            dt = f.dataType
            if isinstance(dt, T.StructType):
                dt = walk(dt)
            out.append(T.StructField(f.name, dt, f.nullable, md))
        return T.StructType(out)

    return walk(schema), max_id


def _contains_variant(dt: T.DataType) -> bool:
    """True when a VariantType appears anywhere in the (nested) type."""
    if isinstance(dt, T.VariantType):
        return True
    if isinstance(dt, T.StructType):
        return any(_contains_variant(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _contains_variant(dt.elementType)
    if isinstance(dt, T.MapType):
        return _contains_variant(dt.keyType) or _contains_variant(dt.valueType)
    return False


def _json_stat_value(v):
    if isinstance(v, bytes):
        return None  # binary: no stats (reference skips blobs too)
    if isinstance(v, _dt.datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%S.%f")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, float) and (v != v):  # NaN is not a usable bound
        return None
    return v


def _hive_escape(v: str | None) -> str:
    """Partition value → hive directory component (Spark's escaping:
    percent-encode the chars hive reserves; NULL → the default token)."""
    if v is None:
        return "__HIVE_DEFAULT_PARTITION__"
    return urllib.parse.quote(str(v), safe="")


def _log_path(rel_path: str) -> str:
    """Relative file path → the url-encoded ``path`` of an add/cdc action."""
    return urllib.parse.quote(rel_path.replace(os.sep, "/"), safe="/=-_.~")


def _truncate_min(s: str) -> str:
    return s[:_STATS_TRUNC]


def _truncate_max(s: str) -> str | None:
    """Truncated max must stay ≥ the true max: bump the last bumpable char
    (reference stats fidelity concern: delta_insert.cpp:114-149)."""
    if len(s) <= _STATS_TRUNC:
        return s
    prefix = s[:_STATS_TRUNC]
    for i in range(len(prefix) - 1, -1, -1):
        cp = ord(prefix[i])
        if cp < _MAX_CODEPOINT:
            return prefix[:i] + chr(cp + 1)
    return None  # cannot bound — omit


class DeltaWriter:
    """Writer for one table: create, append, DML, schema/property changes
    and maintenance. Each call plans its actions on the pinned snapshot
    and commits them through one :class:`Transaction`.

    Every data write takes one path from rows to files to actions, as the
    reference's insert does (delta_insert.cpp:304-408): conform the rows
    to the table schema (:func:`_conform_rows`), enforce CHECK constraints
    and generated columns, stage the parquet under physical column names
    and promote it into the table (:meth:`_stage`), then build the add
    actions from footer stats (:meth:`_write_data`) or the cdc actions
    (:meth:`_write_cdc`). Files leave the table through
    :meth:`AddFile.remove_action`."""

    def __init__(self, table_path: str, spark: SparkSession, store=None,
                 commit_fn=None, log_tail: list[str] | None = None):
        self.table_path = os.path.abspath(table_path)
        self.spark = spark
        # ``store``: optional LogStore (put-if-absent seam) — object-store
        # backends plug in conditional-PUT here (delta/log.py LogStore).
        # ``commit_fn``: catalog-managed-commit seam (CCv2, see
        # DeltaLog.__init__) — every DML path (append/DELETE/UPDATE/MERGE/
        # OPTIMIZE/streaming sink) inherits it because they all land in
        # DeltaLog.commit. ``log_tail`` composes: a catalog can both
        # ratify commits and feed back the known tail for LIST-free reads.
        self.log = DeltaLog(self.table_path, store=store,
                            commit_fn=commit_fn, log_tail=log_tail)
        # pin table state at transaction start, like the reference
        # (delta_transaction.cpp:490-537): a commit that lands between
        # construction and our commit is a conflict, not silently absorbed
        self._snapshot = Snapshot.build(self.log)

    @classmethod
    def _at(cls, log: DeltaLog, snapshot: Snapshot, spark=None) -> "DeltaWriter":
        """A writer on ``log`` pinned at ``snapshot``, without re-reading
        the log (post-commit maintenance, freshly created tables)."""
        w = cls.__new__(cls)
        w.table_path, w.spark, w.log, w._snapshot = (
            log.table_path, spark, log, snapshot)
        return w

    @staticmethod
    def _create_table(spark, log: DeltaLog, actions: list[dict]) -> "DeltaWriter":
        """Commit version 0 and return a writer pinned at it."""
        txn = Transaction(log, Snapshot(log, -1))
        txn.commit(actions)
        return DeltaWriter._at(log, txn.snapshot, spark)

    # ---------- table creation ----------

    @staticmethod
    def create(
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        partition_by: list[str] | None = None,
        configuration: dict[str, str] | None = None,
        name: str | None = None,
        cluster_by: list[str] | None = None,
    ) -> "DeltaWriter":
        """CREATE TABLE: version-0 commit with protocol + metaData.

        (The reference throws on CREATE — delta_schema_entry.cpp:36-97 — we
        support it because fixtures and pipelines need it.)

        ``cluster_by``: liquid clustering (Delta spec "Clustered Table").
        Writes the ``delta.clustering`` domain metadata (physical-name
        paths) and lists the ``clustering`` + ``domainMetadata`` writer
        features; :meth:`compact` then clusters on these columns without
        being told. Mutually exclusive with ``partition_by``
        (delta-spark refuses the combination too), max 4 columns.
        """
        path = os.path.abspath(path)
        partition_by = partition_by or []
        for p in partition_by:
            if p not in schema.fieldNames():
                raise SchemaError(f"partition column {p!r} not in schema")
        if cluster_by:
            if partition_by:
                raise UnsupportedFeatureError(
                    "CLUSTER BY and PARTITIONED BY are mutually exclusive"
                )
            if len(cluster_by) > 4:
                raise UnsupportedFeatureError(
                    "CLUSTER BY supports at most 4 columns"
                )
            for c in cluster_by:
                if c not in schema.fieldNames():
                    raise SchemaError(f"clustering column {c!r} not in schema")
        if (configuration or {}).get("delta.columnMapping.mode", "none") != "none":
            schema, max_id = _ensure_mapping_metadata(schema)
            configuration = dict(configuration or {})
            prev_max = int(configuration.get("delta.columnMapping.maxColumnId", 0))
            configuration["delta.columnMapping.maxColumnId"] = str(
                max(max_id, prev_max)
            )
        os.makedirs(os.path.join(path, "_delta_log"), exist_ok=True)
        log = DeltaLog(path)
        meta = {
            "id": str(uuid.uuid4()),
            "name": name,
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema.json(),
            "partitionColumns": partition_by,
            "configuration": configuration or {},
            "createdTime": int(time.time() * 1000),
        }
        proto = {"minReaderVersion": 1, "minWriterVersion": 2}
        if _generated_exprs(schema):
            # generated columns are a writer concern (Delta spec: legacy
            # minWriterVersion 4); readers are unaffected
            proto = {"minReaderVersion": 1, "minWriterVersion": 4}
        if (configuration or {}).get("delta.columnMapping.mode", "none") != "none":
            proto = {"minReaderVersion": 2, "minWriterVersion": 5}
        if _identity_columns(schema):
            # identity columns are a writer-only concern (legacy v6 /
            # the identityColumns v7 feature); readers are unaffected
            r_implied, w_implied = _legacy_features(proto)
            proto = {
                "minReaderVersion": proto["minReaderVersion"],
                "minWriterVersion": 7,
                "writerFeatures": sorted(w_implied | {"identityColumns"}),
            }
            if proto["minReaderVersion"] >= 3:
                proto["readerFeatures"] = sorted(r_implied)
        if _contains_variant(schema):
            # variant is a v3/v7 table feature (Delta spec "Variant Data
            # Type"): a table with a variant column must LIST variantType
            # in both feature sets or spec-compliant engines reject it
            r_implied, w_implied = _legacy_features(proto)
            proto = {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": sorted(r_implied | {"variantType"}),
                "writerFeatures": sorted(w_implied | {"variantType"}),
            }
        if _default_exprs(schema):
            # column defaults are a writer-only table feature (Delta spec
            # "Default Columns": allowColumnDefaults); readers unaffected
            r_implied, w_implied = _legacy_features(proto)
            proto = {
                "minReaderVersion": proto["minReaderVersion"],
                "minWriterVersion": 7,
                "writerFeatures": sorted(w_implied | {"allowColumnDefaults"}),
            }
            if proto["minReaderVersion"] >= 3:
                proto["readerFeatures"] = sorted(r_implied)
        if cluster_by:
            # clustered tables are writer-only: the clustering feature
            # DEPENDS on domainMetadata (the column list lives there)
            r_implied, w_implied = _legacy_features(proto)
            proto = {
                "minReaderVersion": proto["minReaderVersion"],
                "minWriterVersion": 7,
                "writerFeatures": sorted(
                    w_implied | {"clustering", "domainMetadata"}
                ),
            }
            if proto["minReaderVersion"] >= 3:
                proto["readerFeatures"] = sorted(r_implied)
        if (configuration or {}).get(
            "delta.enableRowTracking", ""
        ).lower() == "true":
            # rowTracking is a writer feature that DEPENDS on
            # domainMetadata (the rowIdHighWaterMark lives there)
            r_implied, w_implied = _legacy_features(proto)
            proto = {
                "minReaderVersion": proto["minReaderVersion"],
                "minWriterVersion": 7,
                "writerFeatures": sorted(
                    w_implied | {"rowTracking", "domainMetadata"}
                ),
            }
            if proto["minReaderVersion"] >= 3:
                proto["readerFeatures"] = sorted(r_implied)
        if (configuration or {}).get(
            "delta.enableInCommitTimestamps", ""
        ).lower() == "true":
            # inCommitTimestamp is a v7 table feature: list it alongside
            # the features the legacy writer version implied
            r_implied, w_implied = _legacy_features(proto)
            proto = {
                "minReaderVersion": proto["minReaderVersion"],
                "minWriterVersion": 7,
                "writerFeatures": sorted(w_implied | {"inCommitTimestamp"}),
            }
            if proto["minReaderVersion"] >= 3:
                proto["readerFeatures"] = sorted(r_implied)
        actions = [
            {"commitInfo": _commit_info("CREATE TABLE")},
            {"protocol": proto},
            {"metaData": meta},
        ]
        if cluster_by:
            # spec: clusteringColumns are PHYSICAL-name paths
            phys = {
                f.name: (f.metadata or {}).get(
                    "delta.columnMapping.physicalName", f.name
                )
                for f in schema.fields
            }
            actions.append({"domainMetadata": {
                "domain": "delta.clustering",
                "configuration": json.dumps(
                    {"clusteringColumns": [[phys[c]] for c in cluster_by]}
                ),
                "removed": False,
            }})
        if proto.get("writerFeatures") and "inCommitTimestamp" in proto["writerFeatures"]:
            # the enablement commit itself carries the first ICT
            actions[0]["commitInfo"]["inCommitTimestamp"] = int(
                time.time() * 1000
            )
        return DeltaWriter._create_table(spark, log, actions)

    @staticmethod
    def convert_from_parquet(
        spark: SparkSession,
        path: str,
        partition_by: list[str] | None = None,
    ) -> "DeltaWriter":
        """CONVERT TO DELTA (delta-spark parity): turn a plain parquet
        directory — flat or hive-partitioned — into a Delta table
        IN PLACE. No data file is read row-wise, moved, or rewritten: the
        version-0 commit lists the existing files as ``add`` actions with
        footer-derived stats (thread-pooled footer reads, the same
        O(#files) driver cost as a normal commit), so converting a
        petabyte directory costs exactly one metadata pass.

        Hive partition directories (``k=v``) are recovered into
        ``partitionValues`` and the partition columns land in the table
        schema with their Spark-inferred types; ``partition_by``
        (optional) asserts the expected partition layout and refuses on
        mismatch — the same guard delta-spark's ``CONVERT TO DELTA ...
        PARTITIONED BY`` applies, because silently mis-typed partition
        columns poison every later partition prune."""
        path = os.path.abspath(path)
        if os.path.isdir(os.path.join(path, "_delta_log")):
            raise UnsupportedFeatureError(
                f"CONVERT TO DELTA: {path!r} is already a Delta table"
            )
        rel_files: list[tuple[str, dict[str, str | None]]] = []
        for root, dirs, names in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for n in sorted(names):
                if not n.endswith(".parquet") or n.startswith(("_", ".")):
                    continue
                rel = os.path.relpath(os.path.join(root, n), path)
                pvals: dict[str, str | None] = {}
                head = os.path.dirname(rel)
                if head:
                    for comp in head.split(os.sep):
                        k, eq, v = comp.partition("=")
                        if not eq:
                            raise SchemaError(
                                "CONVERT TO DELTA: non-hive subdirectory "
                                f"{comp!r} under {path!r}"
                            )
                        pvals[k] = (
                            None if v == "__HIVE_DEFAULT_PARTITION__"
                            else urllib.parse.unquote(v)
                        )
                rel_files.append((rel, pvals))
        if not rel_files:
            raise InvalidTableLocationError(
                f"CONVERT TO DELTA: no parquet files under {path!r}"
            )
        discovered = list(rel_files[0][1].keys())
        if any(list(p.keys()) != discovered for _, p in rel_files):
            raise SchemaError(
                "CONVERT TO DELTA: inconsistent partition layout across files"
            )
        if partition_by is not None and list(partition_by) != discovered:
            raise SchemaError(
                f"CONVERT TO DELTA: declared partitioning {partition_by} "
                f"does not match discovered layout {discovered}"
            )

        schema = spark.read.parquet(path).schema  # partition cols inferred
        data_schema = T.StructType(
            [f for f in schema.fields if f.name not in discovered]
        )
        fulls = [os.path.join(path, rel) for rel, _ in rel_files]
        stats = _footer_stats_many(
            fulls, data_schema, set(discovered),
            allow=_indexed_stat_leaves(schema, set(discovered), {}, False),
        )
        if any(st is None for st, _ in stats):
            # variant parquet: footer unreadable → one Spark job
            from duckdb_delta_spark.delta.scan import DeltaScanBuilder

            by_uri = _spark_stats_fallback(
                spark,
                [f for f, (st, _) in zip(fulls, stats) if st is None],
                data_schema, set(discovered),
                _indexed_stat_leaves(schema, set(discovered), {}, False),
            )
            stats = [
                (st, size) if st is not None
                else (by_uri.get(DeltaScanBuilder._spark_file_uri(f)), size)
                for (st, size), f in zip(stats, fulls)
            ]

        os.makedirs(os.path.join(path, "_delta_log"), exist_ok=True)
        log = DeltaLog(path)
        meta = {
            "id": str(uuid.uuid4()),
            "name": None,
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema.json(),
            "partitionColumns": discovered,
            "configuration": {},
            "createdTime": int(time.time() * 1000),
        }
        actions: list[dict] = [
            {"commitInfo": _commit_info(
                "CONVERT", {"numFiles": str(len(rel_files)),
                            "partitionedBy": json.dumps(discovered)})},
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": meta},
        ]
        now_ms = int(time.time() * 1000)
        for (rel, pvals), (st, size) in zip(rel_files, stats):
            actions.append({"add": {
                "path": urllib.parse.quote(
                    rel.replace(os.sep, "/"), safe="/=-_.~"),
                "partitionValues": pvals,
                "size": size,
                "modificationTime": now_ms,
                "dataChange": True,
                "stats": None if st is None else json.dumps(
                    st, separators=(",", ":")),
            }})
        return DeltaWriter._create_table(spark, log, actions)

    @staticmethod
    def clone(
        spark: SparkSession, src_path: str, dest_path: str,
        shallow: bool = True,
    ) -> "DeltaWriter":
        """CLONE (delta-spark parity). ``shallow=True``: a zero-copy new
        table whose version-0 commit references the source's CURRENT
        data files by ABSOLUTE path (Delta spec "File Paths": paths may
        be absolute); file-relative DV descriptors (``u``) convert to
        absolute (``p``) so they keep resolving from the clone. Stats,
        partition values and row-tracking ids carry over; domain
        metadata (incl. the rowIdHighWaterMark) is copied so future
        writes to the clone allocate correctly; the clone's subsequent
        commits never touch the source. 100-TB shape: the clone commit
        is O(#files) driver metadata — no data moves.

        ``shallow=False`` (DEEP CLONE): data + DV files are copied
        byte-identical into the clone under their source-relative paths,
        so the add actions (paths, stats, DV descriptors, row ids) carry
        over UNCHANGED and the clone is fully source-independent —
        vacuuming or dropping the source cannot break it. The copy is a
        Spark job above 64 files (each task copies its slice; on a real
        cluster the copies run where the executors sit next to the
        storage), a driver thread pool below (task-dispatch overhead
        beats the copy time for small tables)."""
        from duckdb_delta_spark.delta.dv import dv_file_path

        src = os.path.abspath(src_path)
        dest = os.path.abspath(dest_path)
        src_snap = Snapshot.build(DeltaLog(src))
        os.makedirs(os.path.join(dest, "_delta_log"), exist_ok=False)
        if not shallow:
            return DeltaWriter._deep_clone(spark, src, dest, src_snap)
        meta = dict(src_snap.metadata)
        meta["id"] = str(uuid.uuid4())
        meta["createdTime"] = int(time.time() * 1000)
        info = _commit_info("CLONE", {"source": src, "sourceVersion":
                                      src_snap.version, "isShallow": True})
        actions: list[dict] = [
            {"commitInfo": info},
            {"protocol": dict(src_snap.protocol)},
            {"metaData": meta},
        ]
        for domain, conf in sorted(src_snap.domain_metadata.items()):
            actions.append({"domainMetadata": {
                "domain": domain, "configuration": conf, "removed": False}})
        # app txn versions carry over (delta-spark parity): an idempotent
        # or streaming writer re-pointed at the clone must see its
        # last-committed version, or it would double-apply a batch
        for app_id, ver in sorted(src_snap.app_transactions.items()):
            actions.append({"txn": {"appId": app_id, "version": int(ver)}})
        for f in src_snap.add_files():
            dv = f.deletion_vector
            if dv and dv.get("storageType") == "u":
                dv = dict(dv)
                dv["pathOrInlineDv"] = dv_file_path(src, f.deletion_vector)
                dv["storageType"] = "p"
            add = {
                "path": urllib.parse.quote(f.absolute_path(src), safe="/"),
                "partitionValues": dict(f.partition_values),
                "size": f.size,
                "modificationTime": f.modification_time,
                "dataChange": True,
                "stats": f.stats,
            }
            if f.tags:
                add["tags"] = f.tags
            if dv:
                add["deletionVector"] = dv
            if f.base_row_id is not None:
                add["baseRowId"] = f.base_row_id
                add["defaultRowCommitVersion"] = f.default_row_commit_version
            actions.append({"add": add})
        return DeltaWriter._create_table(spark, DeltaLog(dest), actions)

    @staticmethod
    def _deep_clone(
        spark: SparkSession, src: str, dest: str, src_snap: Snapshot
    ) -> "DeltaWriter":
        """DEEP CLONE body (see :meth:`clone`): byte-identical file copy
        under source-relative paths, add actions carried over unchanged
        (stats / DV descriptors / row ids stay valid because the bytes
        and relative layout do)."""
        from duckdb_delta_spark.delta.dv import dv_file_path

        copies: list[tuple[str, str]] = []
        adds: list[dict] = []
        for f in src_snap.add_files():
            p = urllib.parse.unquote(f.path)
            if "://" in p or os.path.isabs(p):
                # absolute source path (e.g. the source is itself a
                # shallow clone): materialize under a fresh root name —
                # partition VALUES live in the action, dirs are cosmetic
                rel = f"part-{uuid.uuid4().hex}.parquet"
            else:
                rel = p
            copies.append((f.absolute_path(src), os.path.join(dest, rel)))
            dv = f.deletion_vector
            if dv:
                dv = dict(dv)
                if dv.get("storageType") == "u":
                    # same descriptor resolves in the clone once the DV
                    # file sits at the same relative location
                    copies.append((
                        dv_file_path(src, f.deletion_vector),
                        dv_file_path(dest, f.deletion_vector),
                    ))
                elif dv.get("storageType") == "p":
                    # re-home absolute-path DVs as table-relative 'u'
                    # descriptors (fresh uuid, verbatim bytes: offset /
                    # sizeInBytes / cardinality stay valid) — an absolute
                    # dest path would break the clone if the table
                    # directory is later moved or renamed
                    from duckdb_delta_spark.delta.dv import z85_encode

                    dv_uid = uuid.uuid4()
                    dv["storageType"] = "u"
                    dv["pathOrInlineDv"] = z85_encode(dv_uid.bytes)
                    copies.append((
                        dv_file_path(src, f.deletion_vector),
                        os.path.join(
                            dest, f"deletion_vector_{dv_uid}.bin"),
                    ))
                # 'i' (inline): travels inside the descriptor, no file
            add = {
                "path": urllib.parse.quote(rel, safe="/"),
                "partitionValues": dict(f.partition_values),
                "size": f.size,
                "modificationTime": f.modification_time,
                "dataChange": True,
                "stats": f.stats,
            }
            if f.tags:
                add["tags"] = f.tags
            if dv:
                add["deletionVector"] = dv
            if f.base_row_id is not None:
                add["baseRowId"] = f.base_row_id
                add["defaultRowCommitVersion"] = f.default_row_commit_version
            adds.append({"add": add})

        seen: set[str] = set()
        uniq = [c for c in copies
                if not (c[1] in seen or seen.add(c[1]))]

        def _copy(pair) -> None:
            import os as _os
            import shutil as _shutil

            s_, d_ = pair
            _os.makedirs(_os.path.dirname(d_), exist_ok=True)
            _shutil.copyfile(s_, d_)

        if len(uniq) <= 64:
            # task-dispatch overhead beats the copy time for small tables
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=16) as ex:
                list(ex.map(_copy, uniq))
        else:
            # distributed copy: each task copies its slice of files where
            # the executors sit next to the storage
            spark.sparkContext.parallelize(
                uniq, min(len(uniq) // 8 + 1, 256)
            ).foreach(_copy)

        meta = dict(src_snap.metadata)
        meta["id"] = str(uuid.uuid4())
        meta["createdTime"] = int(time.time() * 1000)
        actions: list[dict] = [
            {"commitInfo": _commit_info("CLONE", {
                "source": src, "sourceVersion": src_snap.version,
                "isShallow": False})},
            {"protocol": dict(src_snap.protocol)},
            {"metaData": meta},
        ]
        for domain, conf in sorted(src_snap.domain_metadata.items()):
            actions.append({"domainMetadata": {
                "domain": domain, "configuration": conf, "removed": False}})
        for app_id, ver in sorted(src_snap.app_transactions.items()):
            actions.append({"txn": {"appId": app_id, "version": int(ver)}})
        actions.extend(adds)
        return DeltaWriter._create_table(spark, DeltaLog(dest), actions)

    # ---------- append ----------

    def append(
        self,
        df: DataFrame,
        txn_app_id: str | None = None,
        txn_version: int | None = None,
        txn_expected_last: int | None = None,
        max_retries: int = 0,
        merge_schema: bool = False,
        shred: dict[str, dict[str, str]] | None = None,
        skip_if_empty: bool = False,
    ) -> int | None:
        """Blind append. Returns the committed version (or None when
        ``skip_if_empty=True`` and the input carried zero rows — the
        streaming foreachBatch mode; an idle stream must not grow the
        log with no-op commits).

        ``shred``: opt-in shredded-variant encoding (Delta spec "Variant
        Shredding") — {variant column → {field → scalar type}}. The
        listed fields are written as typed subcolumns
        (``typed_value.f.typed_value``), type-mismatching rows ride the
        field residual, everything else the object residual ``value``;
        the table must already declare the ``variantShredding`` writer
        feature (see :meth:`enable_variant_shredding`). Shredding is a
        per-file choice: shredded and legacy appends interleave freely
        on the same table.

        ``merge_schema``: columns in ``df`` the table lacks widen the
        table schema (added nullable) in the SAME commit — the mergeSchema
        append users expect; old files read the new columns as typed NULLs
        (the schema-evolution read path). With it set, existing columns
        absent from ``df`` fill with NULL instead of erroring.

        Conflict handling: data files are written once (uuid names cannot
        collide); on a lost commit race we re-resolve the snapshot and retry
        the commit ``max_retries`` times, else clean up the files and raise
        (reference default is fail: delta_transaction_manager.cpp:20-32).
        """
        snapshot = self._snapshot
        schema = snapshot.schema
        parts = snapshot.partition_columns

        self._assert_writable("WRITE")
        schema_widened = False
        widened_config: dict | None = None
        if merge_schema:
            merged, cfg, changed = _merged_table_schema(snapshot, df.schema)
            if changed:
                widened_config = cfg
                schema = merged
                schema_widened = True
        ident_exprs = self._identity_value_exprs(schema, df)
        df, computed = _conform_rows(df, schema, fill=ident_exprs,
                                     null_fill=merge_schema)
        self._enforce_check_constraints(df)
        # generated columns the caller provided must MATCH their expression
        # (Delta spec: writers enforce generation exprs as invariants);
        # absent ones were computed above
        self._enforce_generated_columns(df, schema, skip=set(computed))

        if shred:
            if snapshot.column_mapping_mode != "none":
                raise UnsupportedFeatureError(
                    "shredded variant write on a column-mapped table is not "
                    "supported (shredded subcolumns would need their own "
                    "parquet field ids)"
                )
            wf = set(snapshot.protocol.get("writerFeatures") or [])
            if not wf & {"variantShredding", "variantShredding-preview"}:
                raise UnsupportedFeatureError(
                    "table does not declare the variantShredding writer "
                    "feature; call enable_variant_shredding() first "
                    "(Delta spec: writers must not produce shredded files "
                    "on a table without the feature)"
                )
            from duckdb_delta_spark.delta.variant import shred_variant_column

            for colname, fieldmap in shred.items():
                if colname not in schema.fieldNames() or not isinstance(
                    schema[colname].dataType, T.VariantType
                ):
                    raise SchemaError(
                        f"shred target {colname!r} is not a variant column"
                    )
                df = shred_variant_column(df, colname, fieldmap)

        if txn_app_id is not None and txn_expected_last is not None:
            have = snapshot.transaction_version(txn_app_id)
            if have != txn_expected_last:
                raise IdempotencyError(
                    f"app {txn_app_id!r}: expected last version {txn_expected_last}, "
                    f"found {have}"
                )

        moved, adds = self._write_data(df, schema, parts)
        if skip_if_empty and not adds and not schema_widened:
            # streaming-sink mode (delta_foreach_batch): an idle stream's
            # empty micro-batch must not grow the log — a no-op commit
            # per sparse batch inflates replay for every reader forever.
            # Decided from the write's own footer stats (zero probe jobs;
            # _write_data already dropped zero-row part files). Replay-
            # safe without a txn stamp: re-running an empty batch is
            # itself a no-op. A batch that WIDENS the schema still
            # commits (the metaData change is real). Plain append keeps
            # its committed-empty-version semantics (see
            # test_append_drops_empty_part_files).
            from duckdb_delta_spark.delta.logging import emit

            emit("append.skip_empty", table_path=self.table_path)
            return None

        actions: list[dict] = [{"commitInfo": _commit_info("WRITE", {"mode": "Append"})}]
        # identity high-water-mark advance: read the new extremes from the
        # footer stats already collected for the adds (zero extra data
        # passes), fold into the schema metadata, and ship the metaData
        # update in the SAME commit as the rows it covers
        ident_meta = self._identity_hwm_meta(
            schema, adds, snapshot, widened=schema_widened,
            widened_schema=schema if schema_widened else None,
        )
        if ident_meta is not None:
            if widened_config is not None:
                ident_meta["configuration"] = widened_config
            actions.append({"metaData": ident_meta})
        elif schema_widened:
            meta = dict(snapshot.metadata)
            meta["schemaString"] = schema.json()
            if widened_config is not None:
                meta["configuration"] = widened_config
            actions.append({"metaData": meta})
        if txn_app_id is not None and txn_version is not None:
            actions.append(_txn_action(txn_app_id, txn_version))
        actions.extend({"add": a} for a in adds)

        def rebase(old: Snapshot, fresh: Snapshot, acts: list[dict]):
            """Re-plan after a lost race (conflict rules:
            delta/transaction.py). The table MOVED: blindly replaying
            the stale actions would clobber a concurrent schema change
            with our old metaData and skip CHECK constraints / appendOnly
            / writer features the winners added. Re-run the gates when
            protocol/metadata changed, recompute the widened schema
            against the fresh snapshot, and abort (SchemaError) when our
            already-written files no longer conform."""
            if txn_app_id is not None and txn_expected_last is not None:
                if fresh.transaction_version(txn_app_id) != txn_expected_last:
                    raise IdempotencyError(
                        f"app {txn_app_id!r}: version advanced during retry")
            # a concurrent writer may have allocated the same identity
            # range (we both read the same high-water mark): retrying would
            # commit duplicate values, so any HWM movement is a hard
            # conflict (delta-spark treats concurrent identity generation
            # the same way)
            old_ident = _identity_columns(old.schema)
            new_ident = _identity_columns(fresh.schema)
            if any(new_ident.get(n, {}).get("hwm")
                   != old_ident.get(n, {}).get("hwm") for n in ident_exprs):
                raise CommitConflictError(
                    "concurrent identity high-water mark change during WRITE "
                    "retry")
            prev_snap = self._snapshot
            self._snapshot = fresh
            try:
                meta_changed = fresh.metadata != old.metadata
                if fresh.protocol != old.protocol or meta_changed:
                    self._assert_writable("WRITE")
                    if fresh.configuration != old.configuration:
                        self._enforce_check_constraints(df)
                schema_changed = (fresh.metadata.get("schemaString")
                                  != old.metadata.get("schemaString"))
                if schema_changed and fresh.column_mapping_mode != "none":
                    raise SchemaError(
                        "concurrent schema change on a column-mapped table "
                        "during commit retry"
                    )
                if schema_changed or (schema_widened and meta_changed):
                    fresh_fields = {f.name: f for f in fresh.schema.fields}
                    old_names = {f.name for f in old.schema.fields}
                    # every column our files carry must still exist with
                    # the same type
                    for f in schema.fields:
                        ff = fresh_fields.get(f.name)
                        if ff is not None and (_nullable_type(ff.dataType)
                                               != _nullable_type(f.dataType)):
                            raise SchemaError(
                                "concurrent schema change retyped column "
                                f"{f.name!r} during commit retry")
                        if ff is None and (f.name in old_names
                                           or not schema_widened):
                            # a column from the PINNED schema vanished: a
                            # concurrent commit dropped it — the mergeSchema
                            # re-merge below must not resurrect it, so abort
                            raise SchemaError(
                                "concurrent schema change dropped column "
                                f"{f.name!r} during commit retry")
                    acts = [a for a in acts if "metaData" not in a]
                    if schema_widened:
                        # only the columns OUR write introduced (absent
                        # from the pinned schema) may be re-merged into
                        # the fresh metadata
                        new_fields = [
                            T.StructField(f.name, _nullable_type(f.dataType),
                                          True)
                            for f in schema.fields
                            if f.name not in fresh_fields
                            and f.name not in old_names
                        ]
                        if new_fields:
                            merged = T.StructType(
                                list(fresh.schema.fields) + new_fields)
                            meta = dict(fresh.metadata)
                            meta["schemaString"] = merged.json()
                            acts.insert(1, {"metaData": meta})
                return acts
            finally:
                self._snapshot = prev_snap

        version = self._commit(snapshot, actions, retries=max_retries,
                               staged=[rel for rel, _ in moved],
                               rebase=rebase)
        self._maybe_auto_compact()
        return version

    def _commit(self, snap: Snapshot, actions: list[dict], retries: int = 0,
                read: ReadSet = ReadSet(), staged=(), rebase=None,
                preserve_row_ids: bool = False) -> int | None:
        """Commit ``actions``, planned on ``snap``, through one
        :class:`Transaction` (conflict rules: delta/transaction.py), then
        advance the pinned snapshot to HEAD from the post-commit
        snapshot."""
        txn = Transaction(self.log, snap, retries=retries, read=read,
                          staged=staged, rebase=rebase, spark=self.spark,
                          preserve_row_ids=preserve_row_ids)
        version = txn.commit(actions)
        self._snapshot = Snapshot.build(self.log, base=txn.snapshot)
        return version

    ROW_TRACKING_DOMAIN = "delta.rowTracking"

    def _maybe_auto_compact(self) -> None:
        """``delta.autoOptimize.autoCompact = true`` (delta-spark parity,
        OPT-IN): after an append lands, opportunistically bin-pack any
        partition that has accumulated ≥ ``delta.autoOptimize.minNumFiles``
        (default 50) files under the 128 MiB bar — the steady-state answer
        to streaming/micro-batch small-file accumulation, without a
        separate OPTIMIZE scheduler. The compaction is its own
        ``dataChange: false`` commit; losing its version race to a
        concurrent writer is fine (opportunistic — the next append tries
        again), and a failure never un-lands the already-durable append."""
        cfg = self._snapshot.configuration
        if cfg.get("delta.autoOptimize.autoCompact", "").lower() != "true":
            return
        try:
            min_files = int(cfg.get("delta.autoOptimize.minNumFiles", 50))
        except ValueError:
            min_files = 50
        try:
            self.compact(target_file_bytes=128 << 20, min_files=min_files)
        except CommitConflictError:
            pass

    def _assert_writable(self, operation: str, removes_rows: bool = False) -> None:
        """Writer-protocol gate (Delta spec: a writer must not commit to a
        table whose writer features/config it cannot honor)."""
        snap = self._snapshot
        proto = snap.protocol
        if int(proto.get("minWriterVersion", 2)) >= 7:
            unsupported = set(proto.get("writerFeatures") or []) - SUPPORTED_WRITER_FEATURES
            if unsupported:
                raise UnsupportedFeatureError(
                    f"writer features not supported: {sorted(unsupported)}"
                )
        conf = snap.configuration
        # delta.enableChangeDataFeed is honored: DELETE/UPDATE/MERGE write
        # _change_data files + cdc actions (_write_cdc); appends need none
        # (readers derive inserts from the add actions, per spec)
        # generated columns are SUPPORTED (computed when absent, enforced
        # when provided — _generated_exprs); identity columns allocate
        # values in append() (_identity_columns) and refuse explicit
        # inserts there unless allowExplicitInsert
        if removes_rows and conf.get("delta.appendOnly", "").lower() == "true":
            raise UnsupportedFeatureError(
                f"{operation} on an append-only table (delta.appendOnly)"
            )

    def _identity_value_exprs(self, schema: T.StructType, df) -> dict:
        """column → generation expression for identity columns ABSENT
        from the input (Delta spec: Identity Columns). Values are
        ``base + step * monotonically_increasing_id()`` — unique, strictly
        beyond the high-water mark in step direction, allocated with NO
        extra pass over the data (Spark's mid is partition-local counters;
        like delta-spark's allocator, values are sparse — the spec allows
        gaps). Explicit inserts refuse unless allowExplicitInsert."""
        from pyspark.sql import functions as F

        out = {}
        for name, info in _identity_columns(schema).items():
            if name in df.columns:
                if not info["allow"]:
                    raise UnsupportedFeatureError(
                        f"explicit insert into identity column {name!r} "
                        "(delta.identity.allowExplicitInsert is false)"
                    )
                continue
            base = (
                info["start"]
                if info["hwm"] is None
                else info["hwm"] + info["step"]
            )
            out[name] = (
                F.lit(base).cast("long")
                + F.lit(info["step"]).cast("long")
                * F.monotonically_increasing_id()
            )
        return out

    def _identity_hwm_meta(
        self,
        logical_schema: T.StructType,
        adds: list[dict],
        snapshot: Snapshot,
        widened: bool = False,
        widened_schema: T.StructType | None = None,
    ) -> dict | None:
        """metaData action advancing delta.identity.highWaterMark from the
        adds' footer stats (maxValues for positive step, minValues for
        negative — stats are keyed by PHYSICAL name on mapped tables), or
        None when no identity column moved and no widening happened."""
        ident = _identity_columns(logical_schema)
        updates: dict[str, int] = {}
        if ident:
            phys_of = {
                f.name: (f.metadata or {}).get(
                    "delta.columnMapping.physicalName", f.name
                )
                for f in logical_schema.fields
            }
            for name, info in ident.items():
                key = "maxValues" if info["step"] > 0 else "minValues"
                vals = []
                for a in adds:
                    st = json.loads(a.get("stats") or "{}")
                    v = (st.get(key) or {}).get(phys_of[name])
                    if v is not None:
                        vals.append(int(v))
                if not vals:
                    continue
                new = max(vals) if info["step"] > 0 else min(vals)
                old = info["hwm"]
                if old is not None:
                    new = max(old, new) if info["step"] > 0 else min(old, new)
                if new != old:
                    updates[name] = new
        if not updates:
            return None
        base = widened_schema if widened else logical_schema
        fields = []
        for f in base.fields:
            if f.name in updates:
                md = dict(f.metadata or {})
                md["delta.identity.highWaterMark"] = updates[f.name]
                f = T.StructField(f.name, f.dataType, f.nullable, md)
            fields.append(f)
        meta = dict(snapshot.metadata)
        meta["schemaString"] = T.StructType(fields).json()
        return meta

    def _enforce_generated_columns(
        self, df: DataFrame, schema: T.StructType, skip: set[str] = frozenset()
    ) -> None:
        """Generation expressions are writer invariants (Delta spec,
        writerFeature generatedColumns): a provided value must equal the
        expression's result row-for-row. Columns in ``skip`` were computed
        BY the expression and need no re-check. One job for all columns."""
        gen = _generated_exprs(schema)
        checks = [
            (name, expr) for name, expr in gen.items() if name not in skip
        ]
        if not checks:
            return
        from pyspark.sql import functions as F

        conds = [
            F.when(
                ~F.col(name).eqNullSafe(F.expr(expr).cast(
                    _nullable_type(schema[name].dataType))),
                F.lit(name),
            )
            for name, expr in checks
        ]
        bad = (
            df.select(F.array(*conds).alias("_viol"))
            .select(F.explode("_viol").alias("c"))
            .where(F.col("c").isNotNull())
            .limit(1)
            .collect()
        )
        if bad:
            name = bad[0]["c"]
            raise ConstraintViolationError(
                f"generated column {name!r} does not match its expression: "
                f"{gen[name]}"
            )

    def _enforce_check_constraints(self, df: DataFrame) -> None:
        """CHECK constraints from ``delta.constraints.<name>`` config —
        violated when the expression is FALSE (NULL passes), evaluated in
        ONE job across all constraints (writer feature checkConstraints)."""
        from pyspark.sql import functions as F

        checks = [
            (name[len("delta.constraints."):], expr)
            for name, expr in self._snapshot.configuration.items()
            if name.startswith("delta.constraints.")
        ]
        if not checks:
            return
        flags = df.agg(
            *[
                F.max(
                    F.when(~F.coalesce(F.expr(e), F.lit(True)), 1).otherwise(0)
                ).alias(f"c{i}")
                for i, (_n, e) in enumerate(checks)
            ]
        ).first()
        for i, (name, expr) in enumerate(checks):
            if flags[f"c{i}"]:
                raise ConstraintViolationError(
                    f"CHECK constraint {name!r} violated: {expr}"
                )

    def _write_data(
        self, df: DataFrame, schema: T.StructType, parts: list[str]
    ) -> tuple[list[tuple[str, dict]], list[dict]]:
        """Write ``df`` (logical ``schema``) as table data files: ONE
        distributed write job (:meth:`_stage`), then footer stats (a
        Spark job only for footers pyarrow cannot read) + NOT NULL
        enforcement. Returns (moved, add_actions) —
        nothing is committed."""
        moved, schema, parts = self._stage(df, parts, schema=schema)
        adds = self._build_add_actions(moved, schema, parts)

        # Spark's parquet committer emits a zero-row part file when a
        # task's partition is empty (a 1-row df repartitioned to 8 tasks
        # yields one real + one empty file). Committing those bloats the
        # manifest forever — every snapshot replay, stats prune and scan
        # plan pays for files that can never match. Drop them here.
        dead_rels = {
            urllib.parse.unquote(a["path"])
            for a in adds
            if json.loads(a.get("stats") or "{}").get("numRecords") == 0
        }
        if dead_rels:
            adds = [
                a for a in adds
                if urllib.parse.unquote(a["path"]) not in dead_rels
            ]
            kept_moved = []
            for rel, pvals in moved:
                if rel in dead_rels:
                    try:
                        os.unlink(os.path.join(self.table_path, rel))
                    except OSError:
                        pass
                else:
                    kept_moved.append((rel, pvals))
            moved = kept_moved

        self._enforce_not_null(adds, schema, parts, moved)
        return moved, adds

    def _cdf_enabled(self, snap: Snapshot) -> bool:
        return (
            snap.configuration.get("delta.enableChangeDataFeed", "").lower()
            == "true"
        )

    @staticmethod
    def _assert_deterministic_condition(
        filtered: DataFrame, op: str, condition=None
    ) -> None:
        """Refuse predicates whose re-evaluation could select different
        rows, on paths that inherently evaluate them more than once —
        replaceWhere's contract check ("input rows inside the region")
        and region mask are separate queries over separate datasets, so
        a ``rand()`` predicate would replace one region and validate
        another (delta-spark likewise rejects nondeterministic DML
        conditions). DELETE needs no such bar: its single predicate
        evaluation feeds the DV build, and cdc pre-images derive from
        the DV diff (`_dv_diff_preimages`), never a re-scan. Primary
        check: the analyzed plan's top (Filter) expressions through the
        classic-session JVM surface; when that surface is absent (Spark
        Connect), ``condition``'s TEXT — with quoted string literals
        stripped, so a literal containing "uuid(" is not a false
        positive — is scanned for the known nondeterministic functions
        instead of silently passing. The textual fallback is
        pattern-limited BY DESIGN: nondeterministic Python UDFs and
        generator functions outside the list pass it (the JVM plan
        check, which runs on every classic session, catches those)."""
        det = _plan_all_deterministic(filtered)
        if det is None and condition is not None:
            det = _NONDET_FUNC_RE.search(
                _strip_string_literals(str(condition))) is None
        if det is False:
            raise UnsupportedFeatureError(
                f"{op}: nondeterministic condition — this path evaluates "
                "the predicate more than once (region/contract checks, "
                "cdc pre-images), and two evaluations would select "
                "different rows. Materialize the sampling decision into "
                "a column first (delta-spark rejects these too)."
            )

    def _write_cdc(
        self, df: DataFrame, parts: list[str]
    ) -> tuple[list[tuple[str, dict]], list[dict]]:
        """Write change-data rows (table columns + ``_change_type``) as
        hive-partitioned parquet under ``_change_data/`` and return
        (moved, cdc_actions) — the CDF write half of the Delta spec: a
        commit carrying cdc actions is read from THOSE files exclusively.
        One distributed write job; nothing is committed here.

        Column-mapped tables: data columns are written under their
        PHYSICAL names with parquet field ids (the spec requires cdc
        files to mirror data files); ``_change_type`` stays literal."""
        moved, _, _ = self._stage(
            df, parts, schema=self._snapshot.schema, prefix="_change_data",
            extra_cols=("_change_type",))
        actions = [{"cdc": {
            "path": _log_path(rel),
            "partitionValues": {
                p: (None if v is None else str(v)) for p, v in pvals.items()},
            "size": os.path.getsize(os.path.join(self.table_path, rel)),
            "dataChange": False,
        }} for rel, pvals in moved]
        return moved, actions

    def _to_physical(
        self,
        df,
        schema: T.StructType,
        parts: list[str],
        extra_cols: tuple[str, ...] = (),
    ):
        """Rename columns to their column-mapping physical names and attach
        parquet field ids for the write — at EVERY nesting level: nested
        struct fields rename via a Catalyst cast to the physical-named
        type (struct casts are positional, so a cast to the same shape
        with different field names IS the rename, codegen-side; the cast
        target carries ``parquet.field.id`` metadata on every level, which
        the parquet writer emits with fieldId.write enabled). The stats
        footer then comes out keyed by physical names at every level, as
        the spec requires. ``extra_cols`` pass through unrenamed (e.g. the
        cdc ``_change_type``, which the spec keeps literal in change-data
        files)."""
        from pyspark.sql import functions as F

        from duckdb_delta_spark.delta.mapping import physical_type

        phys_fields = []
        sel = []
        for f in schema.fields:
            md = f.metadata or {}
            phys = md.get("delta.columnMapping.physicalName", f.name)
            fid = md.get("delta.columnMapping.id")
            meta = {"parquet.field.id": int(fid)} if fid is not None else {}
            p_dt = physical_type(f.dataType)
            phys_fields.append(T.StructField(phys, p_dt, f.nullable, meta))
            col = F.col(f.name)
            if p_dt != f.dataType:
                col = col.cast(p_dt)
            sel.append(col.alias(phys, metadata=meta))
        for c in extra_cols:
            sel.append(F.col(c))
        self.spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
        phys_parts = []
        for p in parts:
            md = next(f.metadata or {} for f in schema.fields if f.name == p)
            phys_parts.append(md.get("delta.columnMapping.physicalName", p))
        return T.StructType(phys_fields), phys_parts, df.select(*sel)

    def _stage(
        self, df: DataFrame, parts: list[str], schema: T.StructType | None = None,
        prefix: str = "", extra_cols: tuple[str, ...] = (),
    ) -> tuple[list[tuple[str, dict]], T.StructType | None, list[str]]:
        """Stage ``df`` as parquet and promote it into the table: ONE
        distributed write job into a fresh ``_staging_*`` directory, then
        every file moves to ``prefix/<hive dirs>/<Spark's task-uuid
        name>`` (``prefix``: ``""`` for data, ``_change_data`` for cdc, a
        partition directory for compact). ``schema`` is ``df``'s logical
        schema; on a column-mapped table the columns are written under
        their physical names with parquet field ids (``extra_cols`` pass
        through unrenamed). Compact passes no schema: its frame is
        physical already. Returns (moved as [(relative path,
        partitionValues)], write schema, write partition columns)."""
        if schema is not None and self._snapshot.column_mapping_mode != "none":
            # the reference reads field ids from footers
            # (delta_utils.hpp:300-311); stats and partitionValues are
            # keyed by physical names, as the spec requires
            schema, parts, df = self._to_physical(df, schema, parts,
                                                  extra_cols)
        staging = os.path.join(self.table_path, f"_staging_{uuid.uuid4().hex}")
        # INT96 (Spark's legacy default) carries no parquet min/max stats —
        # write modern TIMESTAMP_MICROS so timestamp columns are skippable
        self.spark.conf.set(
            "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
        )
        writer = df.write.mode("overwrite")
        if parts:
            writer = writer.partitionBy(*parts)
        writer.parquet(staging)
        moved: list[tuple[str, dict]] = []
        try:
            for root, _dirs, names in os.walk(staging):
                rel_dir = os.path.relpath(root, staging)
                pvals: dict[str, str | None] = {}
                if rel_dir != ".":
                    for comp in rel_dir.split(os.sep):
                        k, _, v = comp.partition("=")
                        pvals[k] = (None if v == "__HIVE_DEFAULT_PARTITION__"
                                    else urllib.parse.unquote(v))
                for name in sorted(names):
                    if not name.endswith(".parquet"):
                        continue
                    rel_path = os.path.join(
                        prefix, name if rel_dir == "." else
                        os.path.join(rel_dir, name))
                    dest = os.path.join(self.table_path, rel_path)
                    os.makedirs(os.path.dirname(dest), exist_ok=True)
                    shutil.move(os.path.join(root, name), dest)
                    moved.append((rel_path, {p: pvals.get(p) for p in parts}))
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return moved, schema, parts

    def _stats_allowlist(self, write_schema, parts) -> set[str] | None:
        """Resolve the stats-selection config against the current snapshot
        (see :func:`_indexed_stat_leaves`). On mapped tables the config
        names logical columns, so the allowlist is derived from the
        snapshot's logical schema (which carries the physical names);
        unmapped tables use the write schema directly — it may be WIDER
        than the snapshot during a mergeSchema append, and fresh columns
        must stay indexable."""
        snap = self._snapshot
        mapped = snap.column_mapping_mode != "none"
        logical = snap.schema if mapped else write_schema
        return _indexed_stat_leaves(
            logical, set(parts), snap.configuration, mapped
        )

    def _build_add_actions(
        self, moved: list[tuple[str, dict]], schema: T.StructType, parts: list[str]
    ) -> list[dict]:
        adds = []
        now_ms = int(time.time() * 1000)
        no_footer: list[int] = []
        fulls = [os.path.join(self.table_path, rel) for rel, _ in moved]
        results = _footer_stats_many(
            fulls, schema, set(parts),
            allow=self._stats_allowlist(schema, parts),
        )
        for i, (rel_path, pvals) in enumerate(moved):
            stats, size = results[i]
            if stats is None:
                # e.g. VARIANT logical type is unknown to this pyarrow;
                # fall back to a Spark count below
                no_footer.append(i)
            adds.append(
                {
                    "path": _log_path(rel_path),
                    "partitionValues": {
                        k: (None if v is None else str(v)) for k, v in pvals.items()
                    },
                    "size": size,
                    "modificationTime": now_ms,
                    "dataChange": True,
                    "stats": None if stats is None else json.dumps(
                        stats, separators=(",", ":")
                    ),
                }
            )
        if no_footer:
            paths = [
                os.path.join(self.table_path, moved[i][0]) for i in no_footer
            ]
            by_uri = _spark_stats_fallback(
                self.spark, paths, schema, set(parts),
                self._stats_allowlist(schema, parts),
            )
            from duckdb_delta_spark.delta.scan import DeltaScanBuilder

            for i in no_footer:
                # key must match _metadata.file_path rendering (percent-
                # escaped), else paths with spaces/% record numRecords=0
                uri = DeltaScanBuilder._spark_file_uri(
                    os.path.join(self.table_path, moved[i][0])
                )
                adds[i]["stats"] = json.dumps(
                    by_uri.get(uri, {"numRecords": 0}),
                    separators=(",", ":"),
                )
        return adds

    def _enforce_not_null(self, adds, schema, parts, moved) -> None:
        # nested constraints count too (reference extracts them from struct
        # children: delta_multi_file_list.cpp:567-584)
        required: list[str] = []

        def has_inner_constraint(dt) -> bool:
            # a NOT NULL somewhere beneath an array/map element is not
            # verifiable from parquet footer stats (leaf null counts
            # conflate element-null with list-null) — refuse the append
            # rather than silently skip the check, matching the
            # reference's behavior on data/inlined/null_constraints_lists
            # ("Inserting into a table with null constraints in arrays is
            # not supported", test/sql/main/writing/non_nullable.test:84)
            if isinstance(dt, T.StructType):
                return any(
                    (not f.nullable) or has_inner_constraint(f.dataType)
                    for f in dt.fields
                )
            if isinstance(dt, T.ArrayType):
                return has_inner_constraint(dt.elementType)
            if isinstance(dt, T.MapType):
                return has_inner_constraint(dt.valueType)
            return False

        def walk(prefix: str, fields) -> None:
            for f in fields:
                name = f"{prefix}.{f.name}" if prefix else f.name
                if name in parts:
                    continue
                if not f.nullable:
                    required.append(name)
                if isinstance(f.dataType, T.StructType):
                    walk(name, f.dataType.fields)
                elif isinstance(f.dataType, (T.ArrayType, T.MapType)):
                    inner = (
                        f.dataType.elementType
                        if isinstance(f.dataType, T.ArrayType)
                        else f.dataType.valueType
                    )
                    if has_inner_constraint(inner):
                        self._rollback(moved)
                        raise UnsupportedFeatureError(
                            "writing to a table with NOT NULL constraints "
                            f"inside array/map column {name!r} is not "
                            "supported (element null counts are not "
                            "verifiable from file stats)"
                        )

        walk("", schema.fields)
        if not required:
            return

        def _field_at(path: str):
            segs = path.split(".")
            dt: T.DataType = schema
            for seg in segs:
                dt = dt[seg].dataType
            return dt

        def _has_required_leaf(dt) -> bool:
            # a non-nullable NON-struct descendant reachable through
            # structs only — its own leaf-stats check (it is also in
            # `required`) catches a null anywhere up its parent chain,
            # because a null ancestor nulls every leaf beneath it
            if not isinstance(dt, T.StructType):
                return False
            return any(
                (not f.nullable and not isinstance(f.dataType, T.StructType))
                or _has_required_leaf(f.dataType)
                for f in dt.fields
            )

        def _min_leaf(v) -> int | None:
            # smallest numeric leaf nullCount in a nested stats subtree;
            # None when the subtree records no numeric leaves at all
            if isinstance(v, dict):
                vals = [m for m in (_min_leaf(x) for x in v.values())
                        if m is not None]
                return min(vals) if vals else None
            return int(v or 0)

        def _struct_nulls_exact(add, col: str) -> int:
            # parquet footer stats conflate parent-null with child-null,
            # but the data pages' def levels do NOT: pyarrow reconstructs
            # struct validity exactly on read.  Only reached for the rare
            # shape "non-nullable struct with no non-nullable leaf
            # beneath it" AND only when every leaf under it has nulls —
            # a bounded read of one just-written (page-cache-warm) column.
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            rel = urllib.parse.unquote(add["path"])
            segs = col.split(".")
            tbl = pq.read_table(
                os.path.join(self.table_path, rel), columns=[segs[0]]
            )
            arr = tbl.column(segs[0])
            for seg in segs[1:]:
                # struct_field propagates parent nulls, matching the
                # leaf-stats semantics (null ancestor ⇒ violation)
                arr = pc.struct_field(arr, seg)
            return arr.null_count

        for add in adds:
            stats = json.loads(add["stats"]) if add.get("stats") else {}
            nulls = stats.get("nullCount") or {}
            for col in required:
                v = _get_nested(nulls, col)
                if isinstance(_field_at(col), T.StructType):
                    if _has_required_leaf(_field_at(col)):
                        continue  # its required leaves verify it below
                    # cheap proof first — a null struct nulls EVERY leaf
                    # beneath it, so any zero-null leaf proves the struct
                    # itself has no nulls; otherwise (or with no recorded
                    # leaf stats) fall back to the exact read-back
                    m = _min_leaf(v) if isinstance(v, dict) else None
                    if m == 0:
                        continue
                    try:
                        exact = _struct_nulls_exact(add, col)
                    except Exception:
                        # an unreadable/corrupt just-written file must
                        # not leak promoted staging files as orphans
                        self._rollback(moved)
                        raise
                    if exact == 0:
                        continue
                    self._rollback(moved)
                    raise ConstraintViolationError(
                        f"NOT NULL constraint violated for column {col!r}"
                    )
                if isinstance(v, dict):
                    continue
                if int(v or 0) > 0:
                    self._rollback(moved)
                    raise ConstraintViolationError(
                        f"NOT NULL constraint violated for column {col!r}"
                    )

    def _rollback(self, moved: list[tuple[str, dict]]) -> None:
        """Abandoned write ⇒ delete the files it staged."""
        remove_staged(self.table_path, [rel for rel, _ in moved])

    # ---------- DELETE (deletion vectors) ----------

    def delete(
        self, condition,
        txn_app_id: str | None = None, txn_version: int | None = None,
    ) -> tuple[int, int] | None:
        """Row-level DELETE via deletion vectors. Returns
        ``(committed_version, rows_deleted)``, or None when nothing matched.

        Beyond the reference (DELETE throws there —
        delta_schema_entry.cpp:36-97), but it is the natural write-side
        complement of the DV *read* path both engines have: no data file
        is rewritten; matching rows are masked by per-file roaring
        bitmaps, the same mechanism delta-spark uses under
        ``delta.enableDeletionVectors``.

        Scale shape: ONE distributed job finds matching rows (scanning
        only stats-surviving files, predicate pushed to parquet row
        groups), then ``groupBy(file).applyInPandas`` builds, merges
        (with any prior DV, decoded executor-side) and WRITES each
        file's roaring bitmap on the executor that owns the group. Only
        O(#touched-files) descriptor rows ever reach the driver, which
        turns them into the commit — deleting 10% of a 100 TB table
        ships kilobytes, not billions of row indexes. Files whose every
        live row matched are dropped outright (remove, no re-add).

        Spec compliance: the first DV write upgrades the protocol to
        (3, 7) + ``deletionVectors`` feature, and every remove carries
        the replaced file's DV descriptor so external kernels reconcile
        (path, dvId) correctly.

        ``condition`` is a Spark Column or SQL string over the table's
        logical schema (partition columns included).
        """
        from pyspark.sql import functions as F

        from duckdb_delta_spark.delta.scan import DeltaScanBuilder

        snap = self._snapshot
        self._assert_writable("DELETE", removes_rows=True)
        if _replayed(snap, txn_app_id, txn_version):
            return None
        if isinstance(condition, str):
            condition = F.expr(condition)

        scan = DeltaScanBuilder(snap, self.spark).with_virtual_columns()
        cdf = self._cdf_enabled(snap)
        rows = scan.to_df().where(condition)
        cdc_moved: list[tuple[str, dict]] = []
        cdc_actions: list[dict] = []
        # the DV build consumes only (filename, row#) — Catalyst prunes
        # every payload column out of this scan
        matched = rows.select(
            F.col("filename").alias("f"),
            F.col("file_row_number").alias("r"),
        )
        results = self._dv_results(snap, matched)
        if not results:
            return None
        if cdf and not all(r["full"] for r in results):
            # Delta spec: a commit with NO cdc actions serves CDF
            # from its add/remove actions, and a fully-removed
            # file's rows read as 'delete' at the previous version —
            # so a pure partition-drop DELETE skips cdc entirely
            # instead of REWRITING the dropped data as _change_data
            # (the retention job on 100 TB must not copy 100 TB).
            # Any partial file in the commit forces cdc for ALL rows
            # (readers use ONLY cdc actions once one is present).
            # Pre-images come from the DV DIFF the delete just built —
            # NOT a second evaluation of the predicate — so the cdc
            # rows equal the masked rows BY CONSTRUCTION, even for
            # wall-clock ("ts < now()") or nondeterministic sampling
            # ("rand() < p") predicates, where a re-scan would diverge.
            # Cheaper at scale than persisting full payloads through
            # the DV build just in case cdc needs them.
            pre = self._dv_diff_preimages(snap, results)
            cdc_moved, cdc_actions = self._write_cdc(
                pre, snap.partition_columns
            )

        n_deleted = sum(r["n_new"] for r in results)
        actions: list[dict] = [
            {
                "commitInfo": _commit_info(
                    "DELETE", {"numDeletedRows": str(n_deleted)}
                )
            }
        ]
        actions.extend(self._dv_actions(snap, results))
        actions.extend(cdc_actions)
        if txn_app_id is not None and txn_version is not None:
            actions.append(_txn_action(txn_app_id, txn_version))

        undo = cdc_moved + self._dv_moved(results)
        version = self._commit(
            snap, actions, retries=3, staged=[rel for rel, _ in undo],
            read=ReadSet(metadata=True, protocol=True, predicate=condition))
        from duckdb_delta_spark.delta.logging import emit

        emit(
            "delete.apply",
            table_path=self.table_path,
            version=version,
            n_deleted=n_deleted,
            n_files=len(results),
        )
        return version, n_deleted

    def _by_uri(self, snap: Snapshot) -> dict:
        from duckdb_delta_spark.delta.scan import DeltaScanBuilder

        return {
            DeltaScanBuilder._spark_file_uri(
                f.absolute_path(self.table_path)
            ): f
            for f in snap.add_files()
        }

    def _dv_results(self, snap: Snapshot, matched: DataFrame) -> list:
        """Distributed DV construction: ``matched`` is (f: file uri, r: row
        index) plus an optional ``_live`` boolean — rows with
        ``_live=false`` are counted for fan-out detection but NOT deleted
        (MERGE ships its raw ON-join here so the multi-match probe rides
        the same job instead of a second target×source join). Each file
        group builds, merges (with any prior DV) and WRITES its roaring
        bitmap executor-side; only descriptor rows return. Columns: f,
        n_src (input rows BEFORE dedup), n_fan (raw rows minus distinct
        raw rows — >0 means the caller's join fanned out, e.g. MERGE
        multi-match), n_new (distinct live rows), full, desc(JSON).
        Groups with no live rows return n_new=0 and no descriptor —
        callers drop them before building remove/add actions."""
        import pandas as pd

        by_uri = self._by_uri(snap)
        # small per-file context shipped to executors: prior DV + row count
        ctx = {
            uri: (f.deletion_vector, f.num_records) for uri, f in by_uri.items()
        }
        table_path = self.table_path
        ctx_bc = self.spark.sparkContext.broadcast(ctx)

        def _build_dv(pdf: pd.DataFrame) -> pd.DataFrame:
            import numpy as np

            from duckdb_delta_spark.delta import dv as dvmod

            uri = pdf["f"].iloc[0]
            n_src = len(pdf)
            raw = pdf["r"].to_numpy(dtype="uint64")
            n_fan = n_src - len(np.unique(raw))
            live = (
                pdf[pdf["_live"].astype(bool)] if "_live" in pdf.columns
                else pdf
            )
            rows = np.unique(live["r"].to_numpy(dtype="uint64"))
            n_new = len(rows)
            if n_new == 0:
                # fan-out-only group (every match failed the clause
                # condition): nothing to delete, no DV bin to orphan
                return pd.DataFrame(
                    {"f": [uri], "n_src": [n_src], "n_fan": [n_fan],
                     "n_new": [0], "full": [False], "desc": [None]}
                )
            prior_desc, num_records = ctx_bc.value.get(uri, (None, None))
            if prior_desc:
                prior = dvmod.read_dv_from_descriptor(prior_desc, table_path)
                rows = np.union1d(rows, prior)
            # numRecords == 0 with matched rows means the stat is wrong —
            # never treat that as a full-file delete
            full = bool(
                num_records is not None
                and num_records > 0
                and len(rows) >= num_records
            )
            desc = None
            if not full:
                desc = dvmod.write_dv_file(
                    table_path, [rows], seed=uuid.uuid4().hex
                )[0]
            return pd.DataFrame(
                {
                    "f": [uri],
                    "n_src": [n_src],
                    "n_fan": [n_fan],
                    "n_new": [n_new],
                    "full": [full],
                    "desc": [None if desc is None else json.dumps(desc)],
                }
            )

        return (
            matched.groupBy("f")
            .applyInPandas(
                _build_dv,
                "f string, n_src long, n_fan long, n_new long, "
                "full boolean, desc string",
            )
            .collect()
        )

    def _dv_moved(self, results: list) -> list[tuple[str, dict]]:
        """Rollback entries for the DV ``.bin`` files written by
        ``_dv_results`` — a failed commit must delete them too, else they
        sit orphaned for vacuum's full retention window (no tombstone, so
        only the mtime gate ever reclaims them)."""
        from duckdb_delta_spark.delta.dv import dv_file_path

        out: list[tuple[str, dict]] = []
        for r in results:
            if r["desc"]:
                full = dv_file_path(self.table_path, json.loads(r["desc"]))
                out.append((os.path.relpath(full, self.table_path), {}))
        return out

    def _dv_protocol_upgrade(self, snap: Snapshot) -> dict | None:
        """First DV write upgrades to (3,7) + deletionVectors feature.
        Carries over EVERY feature the legacy versions implied (a
        column-mapped (2,5) table keeps columnMapping in readerFeatures,
        changeDataFeed/checkConstraints stay in writerFeatures) — dropping
        them would make spec-compliant external readers reject the table
        even though this engine derives mapping from metadata."""
        proto = snap.protocol
        if int(proto.get("minReaderVersion", 1)) >= 3 and "deletionVectors" in (
            proto.get("readerFeatures") or []
        ):
            return None
        r, w = _legacy_features(proto)
        return {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": sorted(r | {"deletionVectors"}),
                "writerFeatures": sorted(w | {"deletionVectors"}),
            }
        }

    def _dv_diff_preimages(self, snap: Snapshot, results: list) -> DataFrame:
        """cdc 'delete' pre-images for a DV-masking DML, derived from the
        vectors just built instead of re-evaluating the predicate:

        * fully-covered files contribute ALL their live rows at ``snap``
          (one restricted scan, no predicate);
        * partially-masked files contribute rows in ``dvNew − dvOld``,
          routed exactly like the CDF reader (changes.py): descriptor
          pairs broadcast + executor-side decode above ``DIFF_JOIN_MAX``,
          driver decode + broadcast semi-join below.

        Exactness by construction: a predicate re-scan is a SECOND
        evaluation, which diverges for wall-clock predicates
        (``ts < current_timestamp()`` moves between the mask job and
        the re-scan) and nondeterministic sampling (``rand() < p``) —
        the DV bytes are the single source of truth for what this
        commit masked."""
        from pyspark.sql import functions as F

        from duckdb_delta_spark.delta.changes import (
            DIFF_JOIN_MAX,
            _dv_diffs,
            _rows_at,
            _rows_at_big,
        )
        from duckdb_delta_spark.delta.scan import DeltaScanBuilder

        by_uri = self._by_uri(snap)
        data_cols = [F.col(f.name) for f in snap.schema.fields]
        # n_new == 0 rows carry no descriptor (desc=None) and masked
        # nothing — drop them like MERGE does instead of relying on the
        # caller to have pre-filtered (an n_new==0 row reaching the
        # json.loads below would crash with an opaque TypeError)
        results = [r for r in results if r["n_new"]]
        full_paths = [by_uri[r["f"]].path for r in results if r["full"]]
        pairs: dict[str, tuple[dict | None, dict | None]] = {}
        card = 0
        for r in results:
            if r["full"]:
                continue
            f = by_uri[r["f"]]
            dv_new = json.loads(r["desc"])
            pairs[f.path] = (dv_new, f.deletion_vector)
            card += int(dv_new.get("cardinality") or 0)
            card += int((f.deletion_vector or {}).get("cardinality") or 0)

        parts: list[DataFrame] = []
        if full_paths:
            parts.append(
                DeltaScanBuilder(snap, self.spark)
                .restrict_paths(full_paths)
                .to_df()
                .select(*data_cols)
            )
        if pairs and card > DIFF_JOIN_MAX:
            parts.append(
                _rows_at_big(snap, self.spark, pairs, shrink=False)
                .select(*data_cols)
            )
        elif pairs:
            del_rows, _ = _dv_diffs(self.table_path, pairs)
            if del_rows:
                parts.append(
                    _rows_at(snap, self.spark, list(del_rows), del_rows)
                    .select(*data_cols)
                )
        if not parts:
            # every surviving result's DV diff was empty — unreachable
            # from DELETE/replaceWhere (a partial file's DV strictly
            # grows, and full files always carry live rows), but a future
            # caller deserves an explicit empty feed, not an IndexError
            return self.spark.createDataFrame(
                [],
                T.StructType(
                    list(snap.schema.fields)
                    + [T.StructField("_change_type", T.StringType())]
                ),
            )
        pre = parts[0]
        for p in parts[1:]:
            pre = pre.unionByName(p)
        return pre.select(
            *data_cols, F.lit("delete").alias("_change_type")
        )

    def _dv_actions(self, snap: Snapshot, results: list) -> list[dict]:
        """remove + add-with-DV actions for the touched files (fully
        deleted files get remove only), preceded by the protocol upgrade
        when a DV is MATERIALIZED: a delete whose every touched file is
        fully covered commits remove-only actions and must leave a legacy
        table legacy (delta-spark parity — and a protocol action would
        needlessly conflict concurrent DML retries, whose read set
        includes the protocol)."""
        by_uri = self._by_uri(snap)
        now_ms = int(time.time() * 1000)
        actions: list[dict] = []
        if any(not r["full"] for r in results):
            proto_action = self._dv_protocol_upgrade(snap)
            if proto_action:
                actions.append(proto_action)
        for r in results:
            f = by_uri[r["f"]]
            actions.append(f.remove_action(now_ms))
            if not r["full"]:
                actions.append(
                    {
                        "add": {
                            "path": f.path,
                            "partitionValues": dict(f.partition_values),
                            "size": f.size,
                            "modificationTime": f.modification_time,
                            "dataChange": True,
                            # the DV invalidates row-exact bounds:
                            # numRecords still counts masked rows, min/max
                            # may describe deleted ones — spec (and
                            # delta-spark) mark the stats wide
                            "stats": _untighten_stats(f.stats),
                            "deletionVector": json.loads(r["desc"]),
                        }
                    }
                )
        return actions

    # ---------- UPDATE / MERGE (DV-masked rewrite) ----------

    def update(
        self, condition, assignments: dict,
        txn_app_id: str | None = None, txn_version: int | None = None,
    ) -> tuple[int, int] | None:
        """Row-level UPDATE: mask matched rows with deletion vectors and
        append their updated images — ONE atomic commit, no file rewrite.

        ``assignments`` maps column name → SQL expression string (or
        Column) evaluated against the pre-update row. Returns
        ``(version, rows_updated)`` or None when nothing matched.

        Scale shape: the matched set streams through the same distributed
        DV build as DELETE, and the updated images are one distributed
        write job — driver handles only descriptors + the commit.
        """
        from pyspark.sql import functions as F

        from duckdb_delta_spark.delta.scan import DeltaScanBuilder

        snap = self._snapshot
        self._assert_writable("UPDATE", removes_rows=True)
        if _replayed(snap, txn_app_id, txn_version):
            return None
        if isinstance(condition, str):
            condition = F.expr(condition)
        schema = snap.schema
        # validates targets (incl. dotted nested struct paths → withField)
        assigned_exprs = _assignment_exprs(schema, assignments, F.col)
        assigned_tops = set(assigned_exprs)

        scan = DeltaScanBuilder(snap, self.spark).with_virtual_columns()
        full = scan.to_df()
        # matched feeds two jobs (DV build + new-image write) — persist so
        # the scan/filter runs once, spilling to disk if it doesn't fit
        matched = full.where(condition).persist()
        pinned: list = []
        try:
            results = self._dv_results(
                snap,
                matched.select(
                    F.col("filename").alias("f"), F.col("file_row_number").alias("r")
                ),
            )
            if not results:
                return None
            n_updated = sum(r["n_new"] for r in results)

            def _assigned(name):
                return assigned_exprs.get(name, F.col(name))

            new_rows = matched.select(
                *[
                    _assigned(f.name).cast(_nullable_type(f.dataType)).alias(f.name)
                    for f in schema.fields
                ]
            )
            # generated columns not explicitly assigned are RE-COMPUTED
            # (sources may have changed); explicitly assigned ones are
            # enforced against their expression
            gen = _generated_exprs(schema)
            new_rows = _apply_generated(new_rows, schema, keep=assigned_tops)
            if self._cdf_enabled(snap):
                # pin ONE evaluation of the assignment expressions: the
                # data write and the cdc postimage write are separate
                # jobs, and a nondeterministic assignment (SET v =
                # uuid(), rand()-salted ids) would otherwise write one
                # value to the data file and a DIFFERENT one to
                # _change_data — silent feed corruption. (delta-spark
                # computes both in one rewrite job; our DV path has two.)
                # BEST-EFFORT: persist() (MEMORY_AND_DISK) recomputes a
                # cache block lost to executor failure, re-evaluating the
                # nondeterministic expression for that block — hard
                # exactness would need a checkpoint or a write-then-read
                # of the data files, at a full extra materialization per
                # DML. Single-JVM local mode cannot lose blocks.
                pinned.append(new_rows.persist())
            self._enforce_check_constraints(new_rows)
            self._enforce_generated_columns(
                new_rows, schema, skip={c for c in gen if c not in assigned_tops}
            )
            moved, adds_new = self._write_data(
                new_rows, schema, snap.partition_columns)
            cdc_actions: list[dict] = []
            if self._cdf_enabled(snap):
                data_cols = [F.col(f.name) for f in schema.fields]
                cdc = matched.select(
                    *data_cols, F.lit("update_preimage").alias("_change_type")
                ).unionByName(
                    new_rows.select(
                        *data_cols,
                        F.lit("update_postimage").alias("_change_type"),
                    )
                )
                cdc_moved, cdc_actions = self._write_cdc(
                    cdc, snap.partition_columns
                )
                moved = moved + cdc_moved
        finally:
            matched.unpersist()
            for df_ in pinned:
                df_.unpersist()

        actions: list[dict] = [
            {"commitInfo": _commit_info("UPDATE", {"numUpdatedRows": str(n_updated)})}
        ]
        if txn_app_id is not None and txn_version is not None:
            actions.append(_txn_action(txn_app_id, txn_version))
        actions.extend(self._dv_actions(snap, results))
        actions.extend({"add": a} for a in adds_new)
        actions.extend(cdc_actions)

        undo = moved + self._dv_moved(results)
        version = self._commit(
            snap, actions, retries=3, staged=[rel for rel, _ in undo],
            read=ReadSet(metadata=True, protocol=True, predicate=condition))
        from duckdb_delta_spark.delta.logging import emit

        emit(
            "update.apply",
            table_path=self.table_path,
            version=version,
            n_updated=n_updated,
        )
        return version, n_updated

    def merge(
        self,
        source: DataFrame,
        on,
        when_matched_update: dict | None = None,
        when_matched_delete: bool = False,
        when_not_matched_insert: bool = True,
        txn_app_id: str | None = None,
        txn_version: int | None = None,
        when_matched_condition=None,
        when_not_matched_condition=None,
        when_not_matched_by_source_update: dict | None = None,
        when_not_matched_by_source_delete: bool = False,
        when_not_matched_by_source_condition=None,
        merge_schema: bool = False,
    ) -> tuple[int, int, int] | None:
        """MERGE INTO: upsert ``source`` into the table — ONE atomic commit.

        ``on`` is a join condition (SQL string or Column) between the
        target (alias ``t``) and source (alias ``s``). Matched target rows
        are DV-masked and, for ``when_matched_update``, re-appended with
        the assignment expressions applied (expressions may reference
        ``s.<col>``/``t.<col>``). ``when_not_matched_insert`` appends
        source rows with no target match (source must carry the table's
        columns). Returns ``(version, n_matched, n_inserted)`` or None
        when the merge is a no-op.

        delta-spark's full clause surface (DeltaMergeBuilder parity):

        * ``when_matched_condition`` — extra predicate on the matched
          clause (may reference ``t.*``/``s.*``); matched rows failing it
          stay untouched.
        * ``when_not_matched_condition`` — predicate on the insert clause
          (``s.*``).
        * ``when_not_matched_by_source_update`` /
          ``when_not_matched_by_source_delete`` (+ optional
          ``when_not_matched_by_source_condition``, ``t.*`` only) —
          delta-spark's ``whenNotMatchedBySource``: target rows with NO
          source match are updated in place (assignments may reference
          ``t.*`` only) or deleted. Counted in commitInfo's
          ``numTargetRowsNotMatchedBySource``.

        The source must be unique on the join keys whenever a
        when-matched UPDATE (or conditional DELETE) is present: a target
        row matching more than one source row raises (delta-spark's
        DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW) instead of
        silently appending one updated image per match. Unconditional
        when-matched DELETE tolerates duplicates (deterministic).

        ``merge_schema=True`` (delta-spark ``withSchemaEvolution``):
        source columns / nested struct fields the table lacks widen the
        table schema ATOMICALLY with the merge — the ``metaData`` action
        rides the merge commit itself (delta-spark parity), so a merge
        that fails validation / multi-match / conflict retries leaves
        the table schema untouched. The merge plans against an in-memory
        overlay snapshot carrying the widened metadata (old rows read
        typed NULLs), so inserts carry the new columns and matched
        updates may assign them. Without the flag, extra source columns
        are simply ignored (the insert projects the table schema).
        """
        from pyspark.sql import functions as F

        from duckdb_delta_spark.delta.scan import DeltaScanBuilder

        snap = read_snap = self._snapshot
        self._assert_writable(
            "MERGE", removes_rows=bool(when_matched_update) or when_matched_delete
        )
        if when_matched_update and when_matched_delete:
            raise ValueError("choose either when_matched_update or when_matched_delete")
        if when_not_matched_by_source_update and \
                when_not_matched_by_source_delete:
            raise ValueError(
                "choose either when_not_matched_by_source_update or "
                "when_not_matched_by_source_delete")
        touch_by_source = bool(when_not_matched_by_source_update) or \
            when_not_matched_by_source_delete
        if touch_by_source:
            self._assert_writable("MERGE", removes_rows=True)
        if _replayed(snap, txn_app_id, txn_version):
            return None
        pending_meta: dict | None = None
        if merge_schema:
            # withSchemaEvolution: widen to the union with the source
            # schema IN THE MERGE COMMIT (no separate metadata commit —
            # a failed merge must not leave a widened schema behind).
            # The merge plans under an overlay snapshot carrying the
            # widened metadata; old files read the new columns as typed
            # NULLs via the evolution scan path.
            merged_schema, merged_cfg, changed = _merged_table_schema(
                snap, source.schema)
            if changed:
                pending_meta = dict(snap.metadata)
                pending_meta["schemaString"] = merged_schema.json()
                if merged_cfg is not None:
                    pending_meta["configuration"] = merged_cfg
                overlay = copy.copy(snap)
                overlay.metadata = pending_meta
                snap = overlay
        schema = snap.schema
        on_expr = F.expr(on) if isinstance(on, str) else on

        def _cond(c):
            return F.expr(c) if isinstance(c, str) else c

        scan = DeltaScanBuilder(snap, self.spark).with_virtual_columns()
        t = scan.to_df().alias("t")
        s = source.alias("s")
        # the insert frame conforms before any file (DV or data) is
        # written, so a source that cannot conform leaves nothing behind
        ins = None
        ins_skip: list = []
        if when_not_matched_insert:
            ins = s.join(t, on_expr, "left_anti")
            if when_not_matched_condition is not None:
                ins = ins.where(_cond(when_not_matched_condition))
            ins, ins_skip = _conform_rows(
                ins, schema, col=lambda n: F.col("s." + n))

        # matched-clause frame (condition may reference s.*, so a
        # conditional clause joins inner instead of left_semi). An
        # UPDATE clause also joins inner even without a condition: the
        # semi join would hide source fan-out from the multi-match
        # uniqueness check below (the DV build dedupes rows either way,
        # and with a key-unique source the row sets are identical)
        if when_matched_condition is not None:
            matched_t = t.join(s, on_expr, "inner").where(
                _cond(when_matched_condition))
        elif when_matched_update is not None:
            matched_t = t.join(s, on_expr, "inner")
        else:
            matched_t = t.join(s, on_expr, "left_semi")
        # delta-spark raises on ON-join multi-match for any modifying
        # matched clause except an unconditional DELETE. For CONDITIONAL
        # clauses the fan-out is filtered out of matched_t, so the DV
        # mask below ships the RAW join with a `_live` condition marker
        # instead: the probe rides the DV-build job (n_fan), no second
        # target×source join
        cond_modifying = (
            when_matched_condition is not None
            and (when_matched_update is not None or when_matched_delete))
        # not-matched-by-source frame: target rows with NO source match
        bys = None
        if touch_by_source:
            bys = t.join(s, on_expr, "left_anti")
            if when_not_matched_by_source_condition is not None:
                bys = bys.where(_cond(when_not_matched_by_source_condition))

        results = []
        n_matched = n_by_source = 0
        touch_matched = bool(when_matched_update) or when_matched_delete
        if touch_matched or touch_by_source:
            mask_parts = []
            if touch_matched:
                if cond_modifying:
                    # raw ON join, condition as a marker: `_live=false`
                    # rows are fan-out evidence only, never deleted
                    mask_parts.append(t.join(s, on_expr, "inner").select(
                        F.col("filename").alias("f"),
                        F.col("file_row_number").alias("r"),
                        F.lit("m").alias("_tag"),
                        F.coalesce(
                            _cond(when_matched_condition).cast("boolean"),
                            F.lit(False),
                        ).alias("_live")))
                else:
                    mask_parts.append(matched_t.select(
                        F.col("filename").alias("f"),
                        F.col("file_row_number").alias("r"),
                        F.lit("m").alias("_tag"),
                        F.lit(True).alias("_live")))
            if bys is not None:
                mask_parts.append(bys.select(
                    F.col("filename").alias("f"),
                    F.col("file_row_number").alias("r"),
                    F.lit("b").alias("_tag"),
                    F.lit(True).alias("_live")))
            mask_df = mask_parts[0]
            for p in mask_parts[1:]:
                mask_df = mask_df.unionByName(p)
            if len(mask_parts) > 1:
                # matched and by-source rows are disjoint by definition;
                # ONE DV round over the union, counts split in one job.
                # DISTINCT target rows: a conditional matched clause
                # joins inner, so a multi-match source fans (f, r) out —
                # plain count() would overstate numTargetRowsMatched
                # `_live=false` rows (condition-failed fan-out evidence)
                # must not count as matched
                counts = {r["_tag"]: r["n"] for r in
                          mask_df.groupBy("_tag").agg(
                              F.countDistinct(
                                  F.when(F.col("_live"), F.col("f")),
                                  F.when(F.col("_live"), F.col("r")),
                              ).alias("n")
                          ).collect()}
                n_matched = int(counts.get("m", 0))
                n_by_source = int(counts.get("b", 0))
                results = self._dv_results(snap, mask_df.drop("_tag"))
            else:
                results = self._dv_results(snap, mask_df.drop("_tag"))
                n_rows = sum(r["n_new"] for r in results)
                if touch_matched:
                    n_matched = n_rows
                else:
                    n_by_source = n_rows
            # delta-spark DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW:
            # a target row matched by >1 source row makes an UPDATE (or a
            # conditional DELETE) ambiguous — and our inner-join rewrite
            # would silently append one updated image PER match. Detected
            # for free from the DV build: n_fan counts raw ON-join rows
            # minus distinct target rows (conditional clauses ship the
            # raw join with `_live`, so condition-filtered fan-out is
            # still seen; by-source rows are join-unique and contribute
            # nothing). Unconditional DELETE stays legal — deleting a row
            # twice is deterministic (delta-spark parity).
            if (when_matched_update is not None
                    or (when_matched_delete
                        and when_matched_condition is not None)):
                if sum(r["n_fan"] for r in results) > 0:
                    self._rollback(self._dv_moved(results))
                    raise TransactionError(
                        "MERGE: a target row matches more than one source "
                        "row, making the when-matched clause ambiguous — "
                        "de-duplicate the source on the join keys "
                        "(delta-spark raises "
                        "DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW)"
                    )
            # fan-out-only groups (all matches failed the condition)
            # carry no deletions — drop before building actions
            results = [r for r in results if r["n_new"]]

        gen = _generated_exprs(schema)
        new_parts = []  # (frame, generated-cols-already-consistent)
        if when_matched_update and n_matched:
            upd_exprs = _assignment_exprs(
                schema, when_matched_update, lambda n: F.col("t." + n)
            )
            upd_tops = set(upd_exprs)
            upd = t.join(s, on_expr, "inner")
            if when_matched_condition is not None:
                upd = upd.where(_cond(when_matched_condition))
            upd = upd.select(
                *[
                    upd_exprs.get(f.name, F.col("t." + f.name))
                    .cast(_nullable_type(f.dataType))
                    .alias(f.name)
                    for f in schema.fields
                ]
            )
            # recompute generated columns the assignments didn't set
            # (their sources may have changed); enforce the assigned ones
            upd = _apply_generated(upd, schema, keep=upd_tops)
            new_parts.append(
                (upd, {c for c in gen if c not in upd_tops})
            )
        bys_upd = None
        if when_not_matched_by_source_update and n_by_source:
            bys_exprs = _assignment_exprs(
                schema, when_not_matched_by_source_update,
                lambda n: F.col("t." + n)
            )
            bys_tops = set(bys_exprs)
            bys_upd = bys.select(
                *[
                    bys_exprs.get(f.name, F.col("t." + f.name))
                    .cast(_nullable_type(f.dataType))
                    .alias(f.name)
                    for f in schema.fields
                ]
            )
            bys_upd = _apply_generated(bys_upd, schema, keep=bys_tops)
            new_parts.append(
                (bys_upd, {c for c in gen if c not in bys_tops})
            )
        # ONE write job per branch, each frame computed exactly once —
        # n_inserted comes from the written files' footer numRecords
        # instead of a separate count() job re-running the anti-join
        cdf_on = self._cdf_enabled(snap)
        pinned: list = []
        if cdf_on:
            # pin ONE evaluation of every image frame: each is consumed
            # by TWO jobs (data write, then the cdc write below), and a
            # nondeterministic assignment or insert expression (SET v =
            # uuid()) would otherwise put one value in the data file and
            # a DIFFERENT one in _change_data — silent feed corruption.
            # (delta-spark computes data + cdc in one rewrite job; the
            # DV path has two.) Unpersisted in the finally below.
            # BEST-EFFORT like UPDATE's pin: a cache block lost to
            # executor failure is recomputed, re-evaluating the
            # nondeterministic expression for that block; hard exactness
            # would need a checkpoint or write-then-read of the data
            # files. Single-JVM local mode cannot lose blocks.
            new_parts = [(b.persist(), sk) for b, sk in new_parts]
            pinned.extend(b for b, _ in new_parts)
            if ins is not None:
                ins = ins.persist()
                pinned.append(ins)
        try:
            moved, adds_new, n_inserted = [], [], 0
            for branch, gen_skip in new_parts:
                self._enforce_check_constraints(branch)
                self._enforce_generated_columns(branch, schema, skip=gen_skip)
                m, a = self._write_data(branch, schema, snap.partition_columns)
                moved.extend(m)
                adds_new.extend(a)
            if ins is not None:
                self._enforce_check_constraints(ins)
                self._enforce_generated_columns(ins, schema, skip=set(ins_skip))
                m, a = self._write_data(ins, schema, snap.partition_columns)
                n_inserted = sum(
                    int(json.loads(ad.get("stats") or "{}").get("numRecords") or 0)
                    for ad in a
                )
                if n_inserted:
                    moved.extend(m)
                    adds_new.extend(a)
                else:
                    self._rollback(m)

            if not results and not n_inserted:
                self._rollback(moved)
                return None

            cdc_actions: list[dict] = []
            if self._cdf_enabled(snap):
                data_cols = [F.col(f.name) for f in schema.fields]
                t_cols = [F.col("t." + f.name).alias(f.name)
                          for f in schema.fields]
                cdc_parts = []
                if touch_matched and n_matched:
                    pre_tag = (
                        "update_preimage" if when_matched_update else "delete"
                    )
                    cdc_parts.append(matched_t.select(
                        *t_cols).select(
                        *data_cols, F.lit(pre_tag).alias("_change_type")
                    ))
                    if when_matched_update:
                        cdc_parts.append(upd.select(
                            *data_cols,
                            F.lit("update_postimage").alias("_change_type"),
                        ))
                if touch_by_source and n_by_source:
                    bys_pre = ("update_preimage"
                               if when_not_matched_by_source_update else "delete")
                    cdc_parts.append(bys.select(*t_cols).select(
                        *data_cols, F.lit(bys_pre).alias("_change_type")))
                    if bys_upd is not None:
                        cdc_parts.append(bys_upd.select(
                            *data_cols,
                            F.lit("update_postimage").alias("_change_type"),
                        ))
                if ins is not None and n_inserted:
                    cdc_parts.append(ins.select(
                        *data_cols, F.lit("insert").alias("_change_type")
                    ))
                if cdc_parts:
                    cdc = cdc_parts[0]
                    for p in cdc_parts[1:]:
                        cdc = cdc.unionByName(p)
                    cdc_moved, cdc_actions = self._write_cdc(
                        cdc, snap.partition_columns
                    )
                    moved = moved + cdc_moved
        finally:
            for df_ in pinned:
                df_.unpersist()

        actions: list[dict] = [
            {
                "commitInfo": _commit_info(
                    "MERGE",
                    {
                        "numTargetRowsMatched": str(n_matched),
                        "numTargetRowsInserted": str(n_inserted),
                        "numTargetRowsNotMatchedBySource": str(n_by_source),
                    },
                )
            }
        ]
        if pending_meta is not None:
            # withSchemaEvolution: the widening lands atomically with the
            # merge (racing writers see ONE commit changing metadata)
            actions.append({"metaData": pending_meta})
        actions.extend(self._dv_actions(snap, results))
        actions.extend({"add": a} for a in adds_new)
        actions.extend(cdc_actions)
        if txn_app_id is not None and txn_version is not None:
            actions.append(_txn_action(txn_app_id, txn_version))

        # MERGE's read set is the source join, not a predicate: any
        # concurrently added data file could flip a not-matched decision.
        # The commit rests on the snapshot read from the log, not on the
        # overlay: the widened metaData travels in the actions
        undo = moved + self._dv_moved(results)
        version = self._commit(
            read_snap, actions, retries=3, staged=[rel for rel, _ in undo],
            read=ReadSet(metadata=True, protocol=True, any_data=True))
        from duckdb_delta_spark.delta.logging import emit

        emit(
            "merge.apply",
            table_path=self.table_path,
            version=version,
            n_matched=n_matched,
            n_inserted=n_inserted,
        )
        return version, n_matched, n_inserted

    # ---------- OVERWRITE (INSERT OVERWRITE / replaceWhere) ----------

    def overwrite(
        self, df: DataFrame, where=None, overwrite_schema: bool = False,
        partition_by: list[str] | None = None,
        txn_app_id: str | None = None, txn_version: int | None = None,
        skip_if_empty: bool = False,
    ) -> int | None:
        """INSERT OVERWRITE: atomically replace the whole table
        (``where=None``) or exactly the rows matching ``where``
        (replaceWhere) with ``df`` — ONE commit. Returns the version.

        ``where`` may also be a CALLABLE ``df -> str | None`` (batch-
        derived predicates, e.g. an IN-list of the partition values
        present in ``df``); it is resolved lazily, AFTER the
        ``skip_if_empty`` decision, so it never runs against an empty
        frame it cannot describe.

        ``skip_if_empty=True`` (the foreachBatch replaceWhere sink's
        mode): the data files are written FIRST and their own footer
        stats decide emptiness — a zero-row input rolls the staged files
        back and returns None WITHOUT committing (an idle stream must not
        grow the log or truncate the table), and a non-empty input pays
        no ``isEmpty()``/``count()`` probe job at all.

        ``overwrite_schema=True`` is delta-spark's ``overwriteSchema``
        (REPLACE TABLE semantics): the commit also replaces the table
        schema with ``df``'s (and optionally the partitioning via
        ``partition_by``) — see :meth:`_overwrite_with_schema` for the
        guard matrix (no replaceWhere, no CDF, constraints/generated/
        identity columns must not be present; column-mapped tables get a
        fresh id/physical-name assignment past the current maxColumnId).

        Beyond the reference (all DML throws there —
        delta_schema_entry.cpp:36-97); semantics follow delta-spark's
        ``mode("overwrite")`` / ``replaceWhere``, including the contract
        that every input row must satisfy ``where``.

        Scale shape: the new data is one distributed write job. For
        replaceWhere the replaced region is handled WITHOUT rewriting
        unmatched rows: matching rows stream through the same distributed
        DV build as DELETE, so files wholly inside the predicate become
        plain removes and straddling files get a deletion vector. A
        full overwrite never reads old data at all (remove actions come
        from the manifest) unless change data feed needs preimages.
        """
        from pyspark.sql import functions as F

        from duckdb_delta_spark.delta.scan import DeltaScanBuilder

        snap = self._snapshot
        self._assert_writable("OVERWRITE", removes_rows=True)
        # observability for foreachBatch sinks: callable predicates
        # resolve INSIDE this method (after the skip_if_empty decision),
        # so the caller can't log the per-batch predicate string unless
        # we surface it — reset per call so a skipped batch never shows
        # a stale predicate/count from the previous commit
        self.last_overwrite_predicate: str | None = None
        self.last_overwrite_added_files: int | None = None
        if _replayed(snap, txn_app_id, txn_version):
            return None
        cdf = self._cdf_enabled(snap)
        if overwrite_schema:
            if where is not None:
                raise UnsupportedFeatureError(
                    "overwriteSchema cannot be combined with replaceWhere "
                    "(delta-spark refuses the combination too)")
            return self._overwrite_with_schema(snap, df, partition_by, cdf)
        if partition_by is not None:
            raise UnsupportedFeatureError(
                "changing partitioning requires overwrite_schema=True")

        schema = snap.schema
        parts = snap.partition_columns
        df, computed = _conform_rows(df, schema)
        self._enforce_check_constraints(df)
        self._enforce_generated_columns(df, schema, skip=set(computed))

        pinned: DataFrame | None = None
        pre_written: tuple[list, list] | None = None
        if skip_if_empty or (cdf and where is not None):
            # pin ONE evaluation of df: with CDF on, the cdc 'insert'
            # image write and the data write are separate jobs, and a
            # nondeterministic projection (a uuid()/rand()-bearing input,
            # a now()-valued default) would otherwise write one value to
            # the data file and a DIFFERENT one to _change_data — the
            # same feed corruption the UPDATE/MERGE image pin prevents.
            # BEST-EFFORT like those pins: persist() (MEMORY_AND_DISK)
            # recomputes a cache block lost to executor failure,
            # re-evaluating the nondeterministic expression for that
            # block; single-JVM local mode cannot lose blocks.
            df = pinned = df.persist()
        try:
            if skip_if_empty:
                # write-first: the write's own footer stats decide
                # emptiness (_write_data drops zero-row part files, so
                # "no adds" == zero records) — the common non-empty
                # micro-batch pays no isEmpty()/count() probe job, and
                # an empty one skips the commit so an idle stream never
                # grows the log (or truncates in full-overwrite mode)
                pre_written = self._write_data(df, schema, parts)
                if not pre_written[1]:
                    self._rollback(pre_written[0])
                    from duckdb_delta_spark.delta.logging import emit

                    emit("overwrite.skip_empty", table_path=self.table_path)
                    return None
            if callable(where):
                # batch-derived predicate: resolved only for a batch that
                # actually carries rows (see skip_if_empty above)
                where = where(df)
            pred_str = where if isinstance(where, str) else None
            if isinstance(where, str):
                where = F.expr(where)
            # replaceWhere inherently evaluates the predicate several
            # times (contract check below, region mask) — a
            # nondeterministic one would replace one region and validate
            # another, so refuse it at entry (delta-spark parity)
            if where is not None:
                # textual fallback wants the ORIGINAL SQL string when we
                # have one: Column.__repr__ wraps the text in Column<'…'>
                # whose outer quotes break literal-stripping quote parity
                self._assert_deterministic_condition(
                    df.where(where), "replaceWhere",
                    condition=pred_str if pred_str is not None else where)
            # NULL predicate counts as a violation (replaceWhere
            # constraint semantics, matching delta-spark): ~where alone
            # drops NULL rows.
            if (
                where is not None
                and df.where(
                    ~F.coalesce(where, F.lit(False))).limit(1).count() > 0
            ):
                raise ConstraintViolationError(
                    "overwrite(where=...): input rows fall outside the "
                    "replaced region (replaceWhere contract)"
                )

            data_cols = [F.col(f.name) for f in schema.fields]
            now_ms = int(time.time() * 1000)
            results: list = []
            removes: list[dict] = []
            rows = None
            if where is None:
                removes = [f.remove_action(now_ms) for f in snap.add_files()]
                # no cdc pre-images: a full overwrite is whole-file
                # removes + adds, which readers derive CDF from directly
                # (see below)
            else:
                scan = DeltaScanBuilder(
                    snap, self.spark).with_virtual_columns()
                rows = scan.to_df().where(where)

            cdc_moved: list[tuple[str, dict]] = []
            cdc_actions: list[dict] = []
            if rows is not None:
                # the DV build consumes only (filename, row#) — Catalyst
                # prunes every payload column out of this scan
                matched = rows.select(
                    F.col("filename").alias("f"),
                    F.col("file_row_number").alias("r"),
                )
                results = self._dv_results(snap, matched)
            # Delta spec: with NO cdc actions in the commit, readers
            # derive CDF from add/remove (adds → 'insert', a dropped
            # path's live rows → 'delete') — exactly OVERWRITE's change
            # set. So cdc files are written ONLY when a replaceWhere
            # DV-masked a file partially (once one cdc action exists,
            # readers use cdc exclusively, so it must then carry
            # everything). A full INSERT OVERWRITE of 100 TB with CDF
            # on must not write the table twice.
            needs_cdc = bool(results) and any(
                not r["full"] for r in results)
            if cdf and needs_cdc:
                # pre-images from the DV DIFF just built (not a second
                # predicate evaluation — a wall-clock predicate like
                # "ts < now()" would match a different row set by the
                # time a re-scan ran); fully-replaced files contribute
                # their live rows, partial files exactly their
                # newly-masked rows. Insert images read the PINNED df
                # (persisted above whenever cdf and where != None).
                pre = self._dv_diff_preimages(snap, results)
                cdc = pre.unionByName(df.select(
                    *data_cols, F.lit("insert").alias("_change_type")
                ))
                cdc_moved, cdc_actions = self._write_cdc(cdc, parts)

            moved, adds = pre_written or self._write_data(df, schema, parts)
        except BaseException:
            # write-first mode: a post-write failure (contract violation,
            # callable error, DV-build failure) must not leak the staged
            # data files — they were never committed
            if pre_written is not None:
                self._rollback(pre_written[0])
            raise
        finally:
            if pinned is not None:
                pinned.unpersist()

        info = {"mode": "Overwrite"}
        if where is not None:
            info["predicate"] = pred_str or str(where)
        self.last_overwrite_predicate = info.get("predicate")
        self.last_overwrite_added_files = len(adds)
        actions: list[dict] = [{"commitInfo": _commit_info("WRITE", info)}]
        actions.extend(self._dv_actions(snap, results))
        actions.extend(removes)
        actions.extend({"add": a} for a in adds)
        actions.extend(cdc_actions)
        if txn_app_id is not None and txn_version is not None:
            actions.append(_txn_action(txn_app_id, txn_version))

        # replaceWhere reads the replaced region; a FULL overwrite's read
        # set is the whole manifest, so it only rebases past state-free
        # racers (VACUUM START/END logging, txn markers)
        undo = moved + cdc_moved + self._dv_moved(results)
        version = self._commit(
            snap, actions, retries=3, staged=[rel for rel, _ in undo],
            read=ReadSet(metadata=True, protocol=True, predicate=where,
                         whole_table=where is None))
        from duckdb_delta_spark.delta.logging import emit

        emit(
            "overwrite.apply",
            table_path=self.table_path,
            version=version,
            n_removed_files=len(removes),
            n_dv_files=len(results),
            n_added_files=len(adds),
        )
        return version

    def _overwrite_with_schema(
        self, snap: Snapshot, df: DataFrame,
        partition_by: list[str] | None, cdf: bool,
    ) -> int:
        """Full overwrite that REPLACES the table schema (delta-spark
        ``overwriteSchema`` / REPLACE TABLE). One commit: new metaData +
        manifest removes + new adds; old data is never read.

        Guards (each refused loudly rather than silently mishandled):
        CDF (pre/post images would straddle two schemas — delta-spark's
        batch CDF readers refuse such ranges; enable-after-replace
        instead), CHECK constraints / generated columns / column defaults
        / identity columns (their expressions reference the OLD schema),
        and new-schema types whose table features the protocol lacks.
        Column-mapped tables work: every new column gets a fresh id +
        physical name strictly past the current ``maxColumnId`` (old ids
        are never reused, per spec)."""
        cfg = dict(snap.configuration)
        if cdf:
            raise UnsupportedFeatureError(
                "overwriteSchema on a change-data-feed table: the feed "
                "cannot span a schema replacement — disable CDF first")
        if any(k.startswith("delta.constraints.") for k in cfg):
            raise UnsupportedFeatureError(
                "overwriteSchema with CHECK constraints present — "
                "drop_constraint() them first")
        old_schema = snap.schema
        if _generated_exprs(old_schema) or _default_exprs(old_schema) \
                or _identity_columns(old_schema):
            raise UnsupportedFeatureError(
                "overwriteSchema with generated/default/identity columns "
                "present — their expressions bind to the old schema")
        new_schema = df.schema
        proto = snap.protocol
        declared = set(proto.get("readerFeatures") or []) | set(
            proto.get("writerFeatures") or [])
        if any(_contains_variant(f.dataType) for f in new_schema.fields) \
                and not ({"variantType", "variantType-preview"} & declared):
            raise UnsupportedFeatureError(
                "overwriteSchema introduces VARIANT but the protocol "
                "lacks variantType")
        if any(isinstance(f.dataType, T.TimestampNTZType)
               for f in new_schema.fields) \
                and proto.get("minReaderVersion", 1) >= 3 \
                and "timestampNtz" not in declared:
            raise UnsupportedFeatureError(
                "overwriteSchema introduces TIMESTAMP_NTZ but the "
                "protocol lacks timestampNtz")
        parts = (list(partition_by) if partition_by is not None
                 else list(snap.partition_columns))
        for p in parts:
            if p not in new_schema.fieldNames():
                raise SchemaError(
                    f"partition column {p!r} not in the replacement schema"
                    " (pass partition_by=... to change partitioning)")

        meta = dict(snap.metadata)
        if snap.column_mapping_mode != "none":
            start = int(cfg.get("delta.columnMapping.maxColumnId", 0))
            # strip any caller-supplied mapping metadata: ids must be
            # freshly assigned past the table's high-water mark
            bare = T.StructType([
                T.StructField(f.name, f.dataType, f.nullable)
                for f in new_schema.fields])
            new_schema, max_id = _ensure_mapping_metadata(bare, start)
            cfg["delta.columnMapping.maxColumnId"] = str(max_id)
            meta["configuration"] = cfg
        meta["schemaString"] = new_schema.json()
        meta["partitionColumns"] = parts

        now_ms = int(time.time() * 1000)
        removes = [f.remove_action(now_ms) for f in snap.add_files()]
        moved, adds = self._write_data(df, new_schema, parts)

        actions: list[dict] = [
            {"commitInfo": _commit_info(
                "WRITE", {"mode": "Overwrite", "overwriteSchema": "true"})},
            {"metaData": meta},
        ]
        actions.extend(removes)
        actions.extend({"add": a} for a in adds)
        version = self._commit(snap, actions,
                               staged=[rel for rel, _ in moved])
        from duckdb_delta_spark.delta.logging import emit

        emit(
            "overwrite.schema",
            table_path=self.table_path,
            version=version,
            n_removed_files=len(removes),
            n_added_files=len(adds),
        )
        return version

    # ---------- RESTORE ----------

    def restore(self, version: int | None = None, timestamp=None) -> int | None:
        """RESTORE TABLE TO VERSION / TIMESTAMP: commit the diff that makes
        HEAD's file set equal the target version's (standard Delta RESTORE —
        history is preserved, the restore is itself a new commit). Returns
        the new version, or None when HEAD already matches. ``timestamp``
        (datetime / ISO-8601 / epoch millis) resolves to the latest version
        committed at or before it, like time travel.

        Raises MissingVersionError when a required data file has been
        vacuumed away (restore outside the retention window).
        """
        from duckdb_delta_spark.delta.errors import MissingVersionError

        if timestamp is not None:
            if version is not None:
                raise ValueError("pass either version or timestamp, not both")
            from duckdb_delta_spark.delta.table import _to_epoch_ms

            version = self.log.version_at_timestamp(_to_epoch_ms(timestamp))
        if version is None:
            raise ValueError("RESTORE needs a version or timestamp")
        snap_now = self._snapshot
        self._assert_writable("RESTORE", removes_rows=True)
        snap_old = Snapshot.build(self.log, version)

        re_add = [
            f for k, f in snap_old.files.items() if k not in snap_now.files
        ]
        drop = [
            f for k, f in snap_now.files.items() if k not in snap_old.files
        ]
        meta_changed = snap_old.metadata.get("schemaString") != snap_now.metadata.get(
            "schemaString"
        ) or snap_old.metadata.get("partitionColumns") != snap_now.metadata.get(
            "partitionColumns"
        )
        if not re_add and not drop and not meta_changed:
            return None
        from duckdb_delta_spark.delta.dv import dv_file_path

        for f in re_add:
            if not os.path.exists(f.absolute_path(self.table_path)):
                raise MissingVersionError(
                    f"cannot restore to version {version}: data file "
                    f"{f.path!r} no longer exists (vacuumed)"
                )
            dv = f.deletion_vector or {}
            if dv.get("storageType") in ("u", "p"):
                # a replaced DV's .bin is tombstoned and vacuumable while
                # its DATA file stays live — restoring past the
                # replacement must not resurrect a dangling DV reference
                try:
                    dv_path = dv_file_path(self.table_path, dv)
                except Exception:  # noqa: BLE001 - undecodable descriptor
                    dv_path = None
                if dv_path is not None and not os.path.exists(dv_path):
                    raise MissingVersionError(
                        f"cannot restore to version {version}: deletion "
                        f"vector file for {f.path!r} no longer exists "
                        "(vacuumed)"
                    )

        now_ms = int(time.time() * 1000)
        actions: list[dict] = [
            {
                "commitInfo": _commit_info(
                    "RESTORE",
                    {
                        "version": str(version),
                        "numRestoredFiles": str(len(re_add)),
                        "numRemovedFiles": str(len(drop)),
                    },
                )
            }
        ]
        if meta_changed:
            actions.append({"metaData": dict(snap_old.metadata)})
        for f in re_add:
            add = {
                "path": f.path,
                "partitionValues": dict(f.partition_values),
                "size": f.size,
                "modificationTime": f.modification_time,
                "dataChange": True,
                "stats": f.stats,
            }
            if f.tags:
                add["tags"] = f.tags
            if f.deletion_vector:
                add["deletionVector"] = f.deletion_vector
            if f.base_row_id is not None:
                # row-id STABILITY across RESTORE (spec "Row Tracking"):
                # the resurrected rows keep the ids they were first
                # allocated — reallocating would break every downstream
                # consumer keyed on _row_id
                add["baseRowId"] = f.base_row_id
                add["defaultRowCommitVersion"] = (
                    f.default_row_commit_version
                )
            actions.append({"add": add})
        actions.extend(f.remove_action(now_ms) for f in drop)

        # the diff is against the whole manifest: rebase only past
        # state-free racers (VACUUM START/END logging, app-txn markers)
        new_version = self._commit(
            snap_now, actions, retries=3, preserve_row_ids=True,
            read=ReadSet(metadata=True, protocol=True, whole_table=True))
        from duckdb_delta_spark.delta.logging import emit

        emit(
            "restore.apply",
            table_path=self.table_path,
            version=new_version,
            restored_to=version,
            n_readded=len(re_add),
            n_removed=len(drop),
        )
        return new_version

    def upgrade_protocol(self, min_reader: int, min_writer: int) -> int | None:
        """delta-spark ``upgradeTableProtocol``: raise the protocol's
        legacy versions (never lowers — downgrades go through
        ``drop_feature``). Crossing into the table-features versions
        (reader 3 / writer 7) carries every feature the legacy versions
        implied, exactly like the automatic upgrade paths. Returns the
        committed version, or None when nothing changes."""
        snap = self._snapshot = Snapshot.build(self.log, base=self._snapshot)
        proto = snap.protocol
        r_old = int(proto.get("minReaderVersion", 1))
        w_old = int(proto.get("minWriterVersion", 2))
        r_new, w_new = max(r_old, int(min_reader)), max(w_old, int(min_writer))
        # Delta protocol spec: reader version 3 (readerFeatures) REQUIRES
        # writer version 7 (writerFeatures) — a table cannot list reader
        # features while its writer side stays legacy. delta-spark's
        # upgradeTableProtocol validates the same way, so mirror it by
        # forcing the writer side up rather than committing a protocol
        # spec-compliant readers would reject.
        if r_new >= 3:
            w_new = max(w_new, 7)
        if (r_new, w_new) == (r_old, w_old):
            return None
        new_proto: dict = {"minReaderVersion": r_new,
                           "minWriterVersion": w_new}
        if r_new >= 3 or w_new >= 7:
            r_implied, w_implied = _legacy_features(proto)
            if w_new >= 7:
                new_proto["minWriterVersion"] = 7
                new_proto["writerFeatures"] = sorted(w_implied)
            if r_new >= 3:
                new_proto["minReaderVersion"] = 3
                new_proto["readerFeatures"] = sorted(r_implied)
        actions = [
            {"commitInfo": _commit_info(
                "UPGRADE PROTOCOL",
                {"newProtocol": json.dumps(new_proto)})},
            {"protocol": new_proto},
        ]
        return self._commit(snap, actions)

    def add_feature_support(self, feature: str) -> int | None:
        """delta-spark ``addFeatureSupport``: upgrade to the
        table-features protocol (3,7) and list ``feature`` — in BOTH
        lists for reader-writer features, writer-only otherwise. Unknown
        features refuse (a feature this engine cannot honor must not be
        advertised). Returns the committed version, or None when the
        feature is already supported."""
        from duckdb_delta_spark.delta.snapshot import (
            SUPPORTED_READER_FEATURES,
            SUPPORTED_WRITER_FEATURES,
        )

        if feature not in SUPPORTED_WRITER_FEATURES | \
                SUPPORTED_READER_FEATURES:
            raise UnsupportedFeatureError(
                f"cannot add support for unknown feature {feature!r}"
            )
        snap = self._snapshot = Snapshot.build(self.log, base=self._snapshot)
        proto = snap.protocol
        r, w = _legacy_features(proto)
        is_reader = feature in SUPPORTED_READER_FEATURES
        if feature in w and (not is_reader or feature in r):
            return None
        new_proto = {
            "minReaderVersion": 3 if is_reader else max(
                int(proto.get("minReaderVersion", 1)), 1),
            "minWriterVersion": 7,
            "writerFeatures": sorted(w | {feature}),
        }
        if new_proto["minReaderVersion"] >= 3:
            new_proto["readerFeatures"] = sorted(
                r | ({feature} if is_reader else set()))
        actions = [
            {"commitInfo": _commit_info(
                "UPGRADE PROTOCOL", {"newFeature": feature})},
            {"protocol": new_proto},
        ]
        return self._commit(snap, actions)

    # ---------- ALTER TABLE SET/UNSET TBLPROPERTIES ----------

    def set_properties(
        self,
        updates: dict[str, str] | None = None,
        unset: list[str] | None = None,
    ) -> int:
        """ALTER TABLE SET/UNSET TBLPROPERTIES: commit a metaData action
        with the merged table configuration (delta-spark parity; the
        reference is read-only here). Values are stringified, keys in
        ``unset`` are dropped. Returns the committed version.

        The commit's own version is governed by the NEW configuration —
        e.g. setting ``delta.checkpointInterval`` on a version divisible
        by the interval checkpoints immediately (see
        the post-commit hooks in delta/transaction.py)."""
        snap = self._snapshot = Snapshot.build(self.log, base=self._snapshot)
        config = dict(snap.configuration)
        for k, v in (updates or {}).items():
            config[str(k)] = str(v)
        for k in unset or []:
            config.pop(k, None)
        meta = dict(snap.metadata)
        meta["configuration"] = config

        # delta.columnMapping.mode transitions are NOT plain properties:
        # enabling name mode on an existing table must also assign
        # mapping ids + LOGICAL-named physicalNames to every field
        # (existing files are keyed by logical names — fresh col-<uuid>
        # names would orphan them all), set maxColumnId, and upgrade the
        # protocol — otherwise spec readers reject or misread the table.
        # delta-spark semantics: none→name upgrades; none→id is refused
        # on existing tables (their parquet files carry no field ids);
        # disabling or switching an enabled mode is refused.
        old_mode = snap.column_mapping_mode
        new_mode = config.get("delta.columnMapping.mode", "none")
        proto_action: dict | None = None
        extra_actions: list[dict] = []
        if new_mode != old_mode:
            if old_mode != "none":
                raise UnsupportedFeatureError(
                    f"cannot change delta.columnMapping.mode "
                    f"{old_mode!r} → {new_mode!r}: disabling or switching "
                    "an enabled mapping mode is not supported (the files "
                    "are keyed under the existing mapping)"
                )
            if new_mode == "id":
                raise UnsupportedFeatureError(
                    "cannot enable id-mode column mapping on an existing "
                    "table: already-written parquet files carry no "
                    "parquet field ids (delta-spark refuses identically; "
                    "create the table with the mode instead)"
                )
            if new_mode != "name":
                raise UnsupportedFeatureError(
                    f"unknown delta.columnMapping.mode {new_mode!r}"
                )
            start = int(config.get("delta.columnMapping.maxColumnId", 0))
            mapped, max_id = _ensure_mapping_metadata(
                snap.schema, start_id=start, physical_names="logical")
            config["delta.columnMapping.maxColumnId"] = str(max_id)
            meta["schemaString"] = mapped.json()
            proto = snap.protocol
            r_ver = int(proto.get("minReaderVersion", 1))
            w_ver = int(proto.get("minWriterVersion", 2))
            if r_ver >= 3 or w_ver >= 7:
                r, w = _legacy_features(proto)
                proto_action = {"protocol": {
                    "minReaderVersion": 3, "minWriterVersion": 7,
                    "readerFeatures": sorted(r | {"columnMapping"}),
                    "writerFeatures": sorted(w | {"columnMapping"}),
                }}
            elif r_ver < 2 or w_ver < 5:
                proto_action = {"protocol": {
                    "minReaderVersion": 2,
                    "minWriterVersion": max(w_ver, 5),
                }}

        def _flag(c: dict, key: str) -> bool:
            return str(c.get(key, "false")).lower() == "true"

        base_proto = (proto_action or {}).get("protocol") or snap.protocol

        # enabling CDF is a WRITER-protocol event (Delta spec: legacy
        # minWriterVersion 4 / the changeDataFeed feature): without the
        # upgrade, a spec v2-writer would keep committing row-changing
        # DML with no cdc files and the feed would silently lie
        if _flag(config, "delta.enableChangeDataFeed") and not _flag(
                snap.configuration, "delta.enableChangeDataFeed"):
            r_ver = int(base_proto.get("minReaderVersion", 1))
            w_ver = int(base_proto.get("minWriterVersion", 2))
            if w_ver >= 7:
                r, w = _legacy_features(base_proto)
                if "changeDataFeed" not in w:
                    p = dict(base_proto)
                    p["writerFeatures"] = sorted(w | {"changeDataFeed"})
                    proto_action = {"protocol": p}
            elif w_ver < 4:
                proto_action = {"protocol": {
                    "minReaderVersion": r_ver, "minWriterVersion": 4}}
            base_proto = (proto_action or {}).get("protocol") or base_proto

        # enabling ROW TRACKING on an existing table is an upgrade +
        # BACKFILL (delta-spark semantics): (3,7)-feature protocol, every
        # already-live file re-committed with a freshly allocated
        # baseRowId/defaultRowCommitVersion (dataChange=false — the bytes
        # are untouched), and the rowIdHighWaterMark domain metadata in
        # the same commit. O(#files) driver metadata, no data rewrite.
        # delta.enableDeletionVectors=true requires the deletionVectors
        # feature to be SUPPORTED from the moment the property is set
        # (spec) — not only once our own first DV lands (an external
        # writer could write the first DV before us)
        if _flag(config, "delta.enableDeletionVectors") and not _flag(
                snap.configuration, "delta.enableDeletionVectors"):
            r_implied, w_implied = _legacy_features(base_proto)
            if "deletionVectors" not in r_implied:
                proto_action = {"protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": sorted(
                        r_implied | {"deletionVectors"}),
                    "writerFeatures": sorted(
                        w_implied | {"deletionVectors"}),
                }}
                base_proto = proto_action["protocol"]

        # enabling IN-COMMIT TIMESTAMPS mid-life: writer-feature upgrade
        # plus the spec's provenance properties (enablementVersion /
        # enablementTimestamp = this very commit and its ICT) so foreign
        # readers know where the ICT/mtime clock boundary sits without
        # the binary search our own reader does. The enabling commit
        # itself must carry the first ICT (spec) — stamped here because
        # the transaction reads the OLD config and would skip it.
        ict_stamp: int | None = None
        if _flag(config, "delta.enableInCommitTimestamps") and not _flag(
                snap.configuration, "delta.enableInCommitTimestamps"):
            r_implied, w_implied = _legacy_features(base_proto)
            p = {
                "minReaderVersion": int(
                    base_proto.get("minReaderVersion", 1)),
                "minWriterVersion": 7,
                "writerFeatures": sorted(
                    w_implied | {"inCommitTimestamp"}),
            }
            if p["minReaderVersion"] >= 3:
                p["readerFeatures"] = sorted(r_implied)
            proto_action = {"protocol": p}
            base_proto = p
            prev_ict = self.log.read_ict(snap.version) or 0
            ict_stamp = max(int(time.time() * 1000), prev_ict + 1)
            config["delta.inCommitTimestampEnablementVersion"] = str(
                snap.version + 1)
            config["delta.inCommitTimestampEnablementTimestamp"] = str(
                ict_stamp)

        # delta.checkpointPolicy classic→v2 requires the v2Checkpoint
        # READER feature before any v2 checkpoint exists — upgrade in the
        # same commit, exactly what the lazy checkpoint-time upgrade does
        if config.get("delta.checkpointPolicy", "classic") == "v2" and \
                snap.configuration.get(
                    "delta.checkpointPolicy", "classic") != "v2":
            r_implied, w_implied = _legacy_features(base_proto)
            if any(isinstance(f.dataType, T.TimestampNTZType)
                   for f in snap.schema.fields):
                r_implied = r_implied | {"timestampNtz"}
                w_implied = w_implied | {"timestampNtz"}
            proto_action = {"protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": sorted(r_implied | {"v2Checkpoint"}),
                "writerFeatures": sorted(w_implied | {"v2Checkpoint"}),
            }}
            base_proto = proto_action["protocol"]

        if _flag(config, "delta.enableRowTracking") and not _flag(
                snap.configuration, "delta.enableRowTracking"):
            r_implied, w_implied = _legacy_features(base_proto)
            p = {
                "minReaderVersion": int(
                    base_proto.get("minReaderVersion", 1)),
                "minWriterVersion": 7,
                "writerFeatures": sorted(
                    w_implied | {"rowTracking", "domainMetadata"}),
            }
            if p["minReaderVersion"] >= 3:
                p["readerFeatures"] = sorted(r_implied)
            proto_action = {"protocol": p}
            try:
                rt_conf = json.loads(
                    snap.domain_metadata.get(self.ROW_TRACKING_DOMAIN)
                    or "{}")
            except json.JSONDecodeError:
                rt_conf = {}
            hwm = int(rt_conf.get("rowIdHighWaterMark", -1))
            backfill_version = snap.version + 1
            for f in snap.add_files():
                if f.base_row_id is not None:
                    continue
                n = f.parsed_stats().get("numRecords")
                if n is None:
                    raise UnsupportedFeatureError(
                        "cannot enable row tracking: file "
                        f"{f.path!r} has no numRecords stats to "
                        "allocate a baseRowId range from"
                    )
                add = {
                    "path": f.path,
                    "partitionValues": dict(f.partition_values),
                    "size": f.size,
                    "modificationTime": f.modification_time,
                    "dataChange": False,
                    "stats": f.stats,
                    "baseRowId": hwm + 1,
                    "defaultRowCommitVersion": backfill_version,
                }
                if f.tags:
                    add["tags"] = f.tags
                if f.deletion_vector:
                    add["deletionVector"] = f.deletion_vector
                extra_actions.append({"add": add})
                hwm += int(n)
            extra_actions.append({"domainMetadata": {
                "domain": self.ROW_TRACKING_DOMAIN,
                "configuration": json.dumps(
                    {"rowIdHighWaterMark": hwm}, separators=(",", ":")),
                "removed": False,
            }})

        actions: list[dict] = [
            {
                "commitInfo": _commit_info(
                    "SET TBLPROPERTIES",
                    {"properties": json.dumps(updates or {}),
                     "unset": json.dumps(unset or [])},
                )
            },
            *([proto_action] if proto_action else []),
            {"metaData": meta},
            *extra_actions,
        ]
        if ict_stamp is not None:
            # the ICT-enabling commit carries the first ICT (spec);
            # the transaction reads the OLD config and would not stamp it
            actions[0]["commitInfo"]["inCommitTimestamp"] = ict_stamp
        return self._commit(snap, actions)

    def rename_column(self, old: str, new: str) -> int:
        """ALTER TABLE RENAME COLUMN (delta-spark parity): on a
        column-mapped table this is a pure metaData commit — the LOGICAL
        name changes, the physical name in every parquet footer stays, so
        zero data rewrites at any scale. Dotted paths rename nested
        struct fields. Refuses without column mapping (the files are
        keyed by logical name there, delta-spark refuses identically)."""
        return self._alter_schema("RENAME COLUMN", old, new=new)

    def drop_column(self, name: str) -> int:
        """ALTER TABLE DROP COLUMN: metadata-only removal under column
        mapping (the physical column stays in the files and is simply no
        longer read — spec semantics); refuses on unmapped tables and for
        partition columns."""
        return self._alter_schema("DROP COLUMN", name)

    def merge_schema_with(self, in_schema: T.StructType) -> int | None:
        """Widen the table schema to the mergeSchema union with
        ``in_schema`` in a METADATA-ONLY commit (nested struct widening
        included; mapped tables assign fresh ids + advance maxColumnId).
        Returns the committed version, or None when nothing widens. The
        streaming sink's ``mergeSchema`` option runs this once at stream
        start; batch appends get the same union inline via
        ``append(merge_schema=True)``."""
        snap = self._snapshot = Snapshot.build(self.log, base=self._snapshot)
        merged, cfg, changed = _merged_table_schema(snap, in_schema)
        if not changed:
            return None
        meta = dict(snap.metadata)
        meta["schemaString"] = merged.json()
        if cfg is not None:
            meta["configuration"] = cfg
        actions = [
            {"commitInfo": _commit_info("ADD COLUMNS",
                                        {"mergeSchema": "true"})},
            {"metaData": meta},
        ]
        return self._commit(snap, actions)

    def add_column(self, name: str, dtype, comment: str | None = None) -> int:
        """ALTER TABLE ADD COLUMN (nullable; existing files read typed
        NULLs via the schema-evolution path). Works on mapped AND
        unmapped tables; on mapped tables the new field gets the next
        columnMapping id + a fresh physical name. DOTTED paths add the
        field INSIDE an existing struct (``add_column("info.b", "long")``
        — end of the struct, delta-spark's default position); old files
        null-fill nested additions exactly like top-level ones."""
        snap = self._snapshot = Snapshot.build(self.log, base=self._snapshot)
        schema = snap.schema
        if isinstance(dtype, str):
            dtype = getattr(T, "_parse_datatype_string")(dtype)
        md: dict = {}
        if comment:
            md["comment"] = comment
        meta = dict(snap.metadata)
        if snap.column_mapping_mode != "none":
            config = dict(snap.configuration)
            next_id = int(config.get("delta.columnMapping.maxColumnId", 0)) + 1
            md["delta.columnMapping.id"] = next_id
            md["delta.columnMapping.physicalName"] = f"col-{uuid.uuid4()}"
            config["delta.columnMapping.maxColumnId"] = str(next_id)
            meta["configuration"] = config
        new_field = T.StructField(
            name.rpartition(".")[2], _nullable_type(dtype), True, md
        )

        def walk(struct: T.StructType, path: str) -> T.StructType:
            seg, _, tail = path.partition(".")
            if not tail:
                if seg in struct.fieldNames():
                    raise SchemaError(f"column {name!r} already exists")
                return T.StructType(list(struct.fields) + [new_field])
            out = []
            hit = False
            for f in struct.fields:
                if f.name == seg:
                    hit = True
                    if not isinstance(f.dataType, T.StructType):
                        raise SchemaError(f"{name!r}: {seg!r} is not a struct")
                    out.append(T.StructField(
                        f.name, walk(f.dataType, tail), f.nullable,
                        f.metadata))
                else:
                    out.append(f)
            if not hit:
                raise SchemaError(f"no such column: {seg!r}")
            return T.StructType(out)

        fields = walk(schema, name).fields
        meta["schemaString"] = T.StructType(fields).json()
        actions = [
            {"commitInfo": _commit_info("ADD COLUMNS",
                                        {"column": name})},
            {"metaData": meta},
        ]
        return self._commit(snap, actions)

    def alter_column_type(self, name: str, new_type) -> int:
        """ALTER TABLE ALTER COLUMN ... TYPE (Delta spec "Type Widening"):
        a pure-metadata commit — existing parquet files keep their narrow
        physical type and upcast at scan (the read path already green via
        the foreign ``orders_widen`` fixture); only spec-allowed
        widenings commit, narrowing or unrelated casts refuse loudly.
        The commit records the change in the field's
        ``delta.typeChanges`` metadata and upgrades the protocol to
        (3,7) + typeWidening on first use, carrying implied features.
        Dotted paths widen nested struct fields."""
        snap = self._snapshot = Snapshot.build(self.log, base=self._snapshot)
        if isinstance(new_type, str):
            new_type = getattr(T, "_parse_datatype_string")(new_type)
        if name.partition(".")[0] in snap.partition_columns:
            raise UnsupportedFeatureError(
                f"ALTER COLUMN TYPE on partition column {name!r}"
            )
        version = snap.version + 1

        def walk(struct: T.StructType, path: str) -> T.StructType:
            out = []
            hit = False
            for f in struct.fields:
                if f.name == path.partition(".")[0]:
                    hit = True
                    seg, _, tail = path.partition(".")
                    if tail:
                        if not isinstance(f.dataType, T.StructType):
                            raise SchemaError(
                                f"{name!r}: {seg!r} is not a struct")
                        out.append(T.StructField(
                            f.name, walk(f.dataType, tail), f.nullable,
                            f.metadata))
                        continue
                    if not _is_widening(f.dataType, new_type):
                        raise SchemaError(
                            f"ALTER COLUMN {name!r} TYPE: "
                            f"{f.dataType.jsonValue()} -> "
                            f"{new_type.jsonValue()} is not an allowed "
                            "widening (Delta typeWidening spec)"
                        )
                    md = dict(f.metadata or {})
                    changes = list(md.get("delta.typeChanges") or [])
                    changes.append({
                        "fromType": f.dataType.jsonValue(),
                        "toType": new_type.jsonValue(),
                        "tableVersion": version,
                    })
                    md["delta.typeChanges"] = changes
                    out.append(T.StructField(
                        f.name, new_type, f.nullable, md))
                else:
                    out.append(f)
            if not hit:
                raise SchemaError(f"no such column: {name!r}")
            return T.StructType(out)

        new_schema = walk(snap.schema, name)
        meta = dict(snap.metadata)
        meta["schemaString"] = new_schema.json()
        actions: list[dict] = [
            {"commitInfo": _commit_info("CHANGE COLUMN",
                                        {"column": name,
                                         "to": new_type.jsonValue()})},
        ]
        proto = snap.protocol
        if "typeWidening" not in (proto.get("readerFeatures") or []):
            r, w = _legacy_features(proto)
            actions.append({"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": sorted(r | {"typeWidening"}),
                "writerFeatures": sorted(w | {"typeWidening"}),
            }})
        actions.append({"metaData": meta})
        return self._commit(snap, actions)

    def enable_variant_shredding(self) -> int:
        """Declare the ``variantShredding`` table feature (reader+writer,
        (3,7) protocol) so subsequent ``append(..., shred=...)`` calls may
        write shredded variant files. Pure protocol commit; a no-op
        version bump is avoided when the feature is already present.
        The table must have a variant column (feature without one is
        meaningless and delta-spark refuses likewise)."""
        snap = self._snapshot = Snapshot.build(self.log, base=self._snapshot)
        if not _contains_variant(snap.schema):
            raise SchemaError(
                "enable_variant_shredding: table has no variant column")
        proto = snap.protocol
        if "variantShredding" in (proto.get("writerFeatures") or []):
            return snap.version
        r, w = _legacy_features(proto)
        actions = [
            {"commitInfo": _commit_info(
                "SET TBLPROPERTIES", {"feature": "variantShredding"})},
            {"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": sorted(r | {"variantType",
                                              "variantShredding"}),
                "writerFeatures": sorted(w | {"variantType",
                                              "variantShredding"}),
            }},
        ]
        return self._commit(snap, actions)

    def reorg_purge(self) -> int | None:
        """REORG TABLE ... APPLY (PURGE) (delta-spark parity): rewrite
        every file carrying a deletion vector with its deleted rows
        physically materialized out. Rows do not change logically, so the
        rewrite commits with ``dataChange: false``; the removes carry the
        replaced DVs. This is the mandatory precursor to
        ``drop_feature('deletionVectors')``.

        Scale shape: ONE Spark job reads exactly the DV-carrying files
        (``restrict_paths``) with the normal executor-side DV masking and
        rewrites them; untouched files never move. Returns the committed
        version or None when no file carries a DV."""
        from duckdb_delta_spark.delta.scan import DeltaScanBuilder

        snap = self._snapshot = Snapshot.build(self.log, base=self._snapshot)
        self._assert_writable("REORG")
        dv_files = [f for f in snap.add_files() if f.deletion_vector]
        if not dv_files:
            return None
        sb = DeltaScanBuilder(snap, self.spark).restrict_paths(
            [f.path for f in dv_files]
        )
        df = sb.to_df()  # DV-masked live rows of exactly those files
        moved, adds = self._write_data(df, snap.schema,
                                       snap.partition_columns)
        now_ms = int(time.time() * 1000)
        for a in adds:
            a["dataChange"] = False
        actions: list[dict] = [
            {"commitInfo": _commit_info(
                "REORG", {"applyPurge": "true",
                          "numRemovedFiles": str(len(dv_files)),
                          "numAddedFiles": str(len(adds))})},
        ]
        actions.extend(f.remove_action(now_ms, data_change=False)
                       for f in dv_files)
        actions.extend({"add": a} for a in adds)
        return self._commit(snap, actions, staged=[rel for rel, _ in moved])

    #: drop_feature support matrix: feature → (reader-relevant, guard)
    _DROPPABLE_FEATURES = ("deletionVectors", "checkConstraints",
                           "allowColumnDefaults", "variantShredding")

    def drop_feature(self, name: str, truncate_history: bool = False) -> int:
        """ALTER TABLE ... DROP FEATURE (delta-spark parity, pragmatic
        subset): remove a table feature from the protocol once nothing in
        the CURRENT snapshot depends on it — the downgrade that makes a
        table readable/writable by engines without the feature.

        Supported: ``deletionVectors`` (requires :meth:`reorg_purge`
        first — refused while any live file carries a DV; also unsets
        ``delta.enableDeletionVectors``), ``checkConstraints`` (no
        constraints defined), ``allowColumnDefaults`` (no defaults
        defined), ``variantShredding`` (write-side opt-out; refused —
        historical shredded FILES may persist in the current snapshot and
        this writer cannot cheaply prove none do, so only tables that
        never wrote shredded files should drop it; pass
        ``force_shredding_drop`` via configuration is intentionally NOT
        offered). Everything else refuses loudly.

        ``truncate_history=True`` is DROP FEATURE ... TRUNCATE HISTORY
        (delta-spark parity): the downgrade commit additionally declares
        the ``checkpointProtection`` writer feature and stamps
        ``delta.requireCheckpointProtectionBeforeVersion`` to the
        downgrade version, then expired history below the fresh
        checkpoint is cleaned immediately — readers can never replay the
        dropped feature's historical actions, and later partial cleanups
        below the boundary are refused (see
        :meth:`cleanup_expired_logs`). Without it, a fresh checkpoint is
        still cut after the downgrade so replay from ``_last_checkpoint``
        never visits the feature's historical actions (time travel to
        pre-drop versions then needs a feature-aware reader, as the spec
        warns)."""
        snap = self._snapshot = Snapshot.build(self.log, base=self._snapshot)
        proto = snap.protocol
        r = set(proto.get("readerFeatures") or [])
        w = set(proto.get("writerFeatures") or [])
        r_all, w_all = _legacy_features(proto)  # explicit + legacy-implied
        if name not in (r_all | w_all):
            raise UnsupportedFeatureError(
                f"DROP FEATURE {name!r}: table does not declare it")
        if name not in self._DROPPABLE_FEATURES:
            raise UnsupportedFeatureError(
                f"DROP FEATURE {name!r} is not supported (droppable: "
                f"{list(self._DROPPABLE_FEATURES)})")
        meta_action: dict | None = None
        if name == "deletionVectors":
            if any(f.deletion_vector for f in snap.add_files()):
                raise UnsupportedFeatureError(
                    "DROP FEATURE deletionVectors: live files still carry "
                    "deletion vectors — run reorg_purge() first")
            cfg = dict(snap.configuration)
            if cfg.pop("delta.enableDeletionVectors", None) is not None:
                meta = dict(snap.metadata)
                meta["configuration"] = cfg
                meta_action = {"metaData": meta}
        elif name == "checkConstraints":
            if any(k.startswith("delta.constraints.")
                   for k in snap.configuration):
                raise UnsupportedFeatureError(
                    "DROP FEATURE checkConstraints: constraints exist — "
                    "drop_constraint() them first")
        elif name == "allowColumnDefaults":
            if _default_exprs(snap.schema):
                raise UnsupportedFeatureError(
                    "DROP FEATURE allowColumnDefaults: columns still have "
                    "defaults — drop_default() them first")
        elif name == "variantShredding":
            raise UnsupportedFeatureError(
                "DROP FEATURE variantShredding: historical shredded files "
                "may remain in the current snapshot; dropping the reader "
                "feature would strand them")
        if name in (r | w) or proto.get("writerFeatures") is not None:
            # explicit feature lists: drop from them
            new_proto = {
                "minReaderVersion": proto["minReaderVersion"],
                "minWriterVersion": proto["minWriterVersion"],
            }
            if proto.get("readerFeatures") is not None:
                new_proto["readerFeatures"] = sorted(r - {name})
            if proto.get("writerFeatures") is not None:
                keep = w - {name}
                if truncate_history:
                    keep = keep | {"checkpointProtection"}
                new_proto["writerFeatures"] = sorted(keep)
        elif truncate_history:
            # legacy protocol: declaring checkpointProtection needs the
            # features form — upgrade to (minReader, 7) with the
            # legacy-implied writer features made explicit (delta-spark
            # does the same protocol normalization on TRUNCATE HISTORY)
            new_proto = {
                "minReaderVersion": proto["minReaderVersion"],
                "minWriterVersion": 7,
                "writerFeatures": sorted(
                    (w_all - {name}) | {"checkpointProtection"}
                ),
            }
        else:
            # legacy-implied feature: downgrade the legacy writer version
            # (delta-spark's legacy downgrade path). checkConstraints is
            # the one droppable feature a legacy version implies — implied
            # at minWriterVersion >= 3, so the table steps down to 2.
            if name != "checkConstraints" or proto["minWriterVersion"] != 3:
                raise UnsupportedFeatureError(
                    f"DROP FEATURE {name!r}: implied by legacy protocol "
                    f"{proto} — no supported downgrade")
            new_proto = {
                "minReaderVersion": proto["minReaderVersion"],
                "minWriterVersion": 2,
            }
        version = snap.version + 1
        if truncate_history:
            # stamp the protection boundary in the SAME commit as the
            # downgrade: cleanup below `version` is then all-or-nothing
            meta = (meta_action or {"metaData": dict(snap.metadata)})[
                "metaData"
            ]
            cfg = dict(meta.get("configuration") or {})
            cfg["delta.requireCheckpointProtectionBeforeVersion"] = str(
                version
            )
            meta = dict(meta)
            meta["configuration"] = cfg
            meta_action = {"metaData": meta}
        actions = [
            {"commitInfo": _commit_info("DROP FEATURE",
                                        {"feature": name})},
            {"protocol": new_proto},
        ]
        if meta_action is not None:
            actions.append(meta_action)
        self._commit(snap, actions)
        # cut a checkpoint at the downgraded version so fresh readers
        # replay from here and never visit the feature's history
        self.checkpoint()
        if truncate_history:
            # TRUNCATE HISTORY: expire everything below the fresh
            # checkpoint right now (horizon == boundary → allowed)
            self.cleanup_expired_logs(retention_ms=0)
        return version

    def set_default(self, name: str, sql_expr: str) -> int:
        """ALTER TABLE ALTER COLUMN ... SET DEFAULT (Delta spec "Default
        Columns" / the ``allowColumnDefaults`` writer feature): a pure
        metadata commit stamping ``CURRENT_DEFAULT`` into the field
        metadata and upgrading the protocol to (x,7) + allowColumnDefaults
        on first use. Subsequent :meth:`append` calls that omit the column
        fill it by evaluating the expression — JVM-side, per batch, no
        extra pass.

        The expression must be self-contained and foldable (no column
        references — delta-spark enforces literal-foldability the same
        way); it is validated here by evaluating it once. Refused for
        generated / identity / partition columns (each already has an
        authoritative value source) and for nested paths (delta-spark:
        top-level columns only)."""
        snap = self._snapshot = Snapshot.build(self.log, base=self._snapshot)
        if "." in name:
            raise UnsupportedFeatureError(
                "SET DEFAULT on nested fields (top-level columns only)")
        if name in snap.partition_columns:
            raise UnsupportedFeatureError(
                f"SET DEFAULT on partition column {name!r}")
        schema = snap.schema
        if name not in schema.fieldNames():
            raise SchemaError(f"no such column: {name!r}")
        field = schema[name]
        md = dict(field.metadata or {})
        if "delta.generationExpression" in md:
            raise UnsupportedFeatureError(
                f"SET DEFAULT on generated column {name!r}")
        if "delta.identity.start" in md or "delta.identity.step" in md:
            raise UnsupportedFeatureError(
                f"SET DEFAULT on identity column {name!r}")
        from pyspark.sql import functions as F

        try:
            self.spark.range(1).select(
                F.expr(sql_expr).cast(field.dataType)
            ).collect()
        except Exception as e:  # noqa: BLE001 - analysis errors vary
            raise SchemaError(
                f"DEFAULT for {name!r} must be a self-contained foldable "
                f"expression castable to {field.dataType.simpleString()}: {e}"
            ) from None
        md["CURRENT_DEFAULT"] = sql_expr
        fields = [
            T.StructField(f.name, f.dataType, f.nullable,
                          md if f.name == name else f.metadata)
            for f in schema.fields
        ]
        meta = dict(snap.metadata)
        meta["schemaString"] = T.StructType(fields).json()
        actions: list[dict] = [
            {"commitInfo": _commit_info(
                "ALTER COLUMN", {"column": name, "default": sql_expr})},
        ]
        proto = snap.protocol
        if "allowColumnDefaults" not in (proto.get("writerFeatures") or []):
            r, w = _legacy_features(proto)
            p = {
                "minReaderVersion": proto["minReaderVersion"],
                "minWriterVersion": 7,
                "writerFeatures": sorted(w | {"allowColumnDefaults"}),
            }
            if p["minReaderVersion"] >= 3:
                p["readerFeatures"] = sorted(r)
            actions.append({"protocol": p})
        actions.append({"metaData": meta})
        return self._commit(snap, actions)

    def add_constraint(self, name: str, sql_expr: str) -> int:
        """ALTER TABLE ADD CONSTRAINT (delta-spark parity): stores the
        CHECK expression as ``delta.constraints.<name>`` table config
        after verifying EVERY existing row satisfies it (one distributed
        scan — the same contract delta-spark enforces), and upgrades the
        protocol for the checkConstraints writer feature (legacy
        minWriterVersion 3; listed explicitly on (x,7) tables). NULL
        evaluations pass, matching SQL CHECK semantics and this writer's
        own enforcement (:meth:`_enforce_check_constraints`)."""
        from pyspark.sql import functions as F

        from duckdb_delta_spark.delta.scan import DeltaScanBuilder

        snap = self._snapshot = Snapshot.build(self.log, base=self._snapshot)
        key = f"delta.constraints.{name.lower()}"
        if key in snap.configuration:
            raise SchemaError(f"constraint {name!r} already exists")
        df = DeltaScanBuilder(snap, self.spark).to_df()
        try:
            bad = df.filter(
                ~F.coalesce(F.expr(sql_expr), F.lit(True))
            ).limit(1).count()
        except ConstraintViolationError:
            raise
        except Exception as e:  # noqa: BLE001 - analysis errors vary
            raise SchemaError(
                f"CHECK expression for {name!r} does not resolve against "
                f"the table schema: {e}"
            ) from None
        if bad:
            raise ConstraintViolationError(
                f"cannot ADD CONSTRAINT {name!r}: existing rows violate "
                f"{sql_expr}"
            )
        config = dict(snap.configuration)
        config[key] = sql_expr
        meta = dict(snap.metadata)
        meta["configuration"] = config
        actions: list[dict] = [
            {"commitInfo": _commit_info(
                "ADD CONSTRAINT", {"name": name, "expr": sql_expr})},
        ]
        proto = snap.protocol
        if proto["minWriterVersion"] >= 7:
            if "checkConstraints" not in (proto.get("writerFeatures") or []):
                r, w = _legacy_features(proto)
                p = {
                    "minReaderVersion": proto["minReaderVersion"],
                    "minWriterVersion": 7,
                    "writerFeatures": sorted(w | {"checkConstraints"}),
                }
                if p["minReaderVersion"] >= 3:
                    p["readerFeatures"] = sorted(r)
                actions.append({"protocol": p})
        elif proto["minWriterVersion"] < 3:
            actions.append({"protocol": {
                "minReaderVersion": proto["minReaderVersion"],
                "minWriterVersion": 3,
            }})
        actions.append({"metaData": meta})
        return self._commit(snap, actions)

    def drop_constraint(self, name: str, if_exists: bool = False) -> int | None:
        """ALTER TABLE DROP CONSTRAINT: removes the config key; with
        ``if_exists`` a missing constraint is a no-op returning None
        (delta-spark's IF EXISTS)."""
        snap = self._snapshot = Snapshot.build(self.log, base=self._snapshot)
        key = f"delta.constraints.{name.lower()}"
        if key not in snap.configuration:
            if if_exists:
                return None
            raise SchemaError(f"no such constraint: {name!r}")
        config = dict(snap.configuration)
        config.pop(key)
        meta = dict(snap.metadata)
        meta["configuration"] = config
        actions = [
            {"commitInfo": _commit_info("DROP CONSTRAINT", {"name": name})},
            {"metaData": meta},
        ]
        return self._commit(snap, actions)

    def set_cluster_by(self, cluster_by: list[str]) -> int:
        """ALTER TABLE CLUSTER BY: re-declare the clustering columns of a
        table (or make an existing table clustered) — one domainMetadata
        commit, protocol upgraded with ``clustering`` + ``domainMetadata``
        on first use. ``[]`` means CLUSTER BY NONE (the domain stays with
        an empty column list, per delta-spark). Existing files are NOT
        rewritten — the next :meth:`compact` applies the new layout."""
        snap = self._snapshot = Snapshot.build(self.log, base=self._snapshot)
        if snap.partition_columns and cluster_by:
            raise UnsupportedFeatureError(
                "CLUSTER BY on a partitioned table"
            )
        if len(cluster_by) > 4:
            raise UnsupportedFeatureError(
                "CLUSTER BY supports at most 4 columns"
            )
        schema = snap.schema
        for c in cluster_by:
            if c not in schema.fieldNames():
                raise SchemaError(f"clustering column {c!r} not in schema")
        phys = {
            f.name: (f.metadata or {}).get(
                "delta.columnMapping.physicalName", f.name
            )
            for f in schema.fields
        }
        actions: list[dict] = [
            {"commitInfo": _commit_info(
                "CLUSTER BY", {"clusterBy": json.dumps(cluster_by)})},
        ]
        proto = snap.protocol
        have = set(proto.get("writerFeatures") or [])
        if not {"clustering", "domainMetadata"} <= have:
            r, w = _legacy_features(proto)
            p = {
                "minReaderVersion": proto["minReaderVersion"],
                "minWriterVersion": 7,
                "writerFeatures": sorted(
                    w | {"clustering", "domainMetadata"}
                ),
            }
            if p["minReaderVersion"] >= 3:
                p["readerFeatures"] = sorted(r)
            actions.append({"protocol": p})
        actions.append({"domainMetadata": {
            "domain": "delta.clustering",
            "configuration": json.dumps(
                {"clusteringColumns": [[phys[c]] for c in cluster_by]}
            ),
            "removed": False,
        }})
        return self._commit(snap, actions)

    def drop_default(self, name: str) -> int:
        """ALTER TABLE ALTER COLUMN ... DROP DEFAULT: removes the
        ``CURRENT_DEFAULT`` metadata (the feature stays listed — table
        features are never downgraded); later appends must supply the
        column again."""
        snap = self._snapshot = Snapshot.build(self.log, base=self._snapshot)
        schema = snap.schema
        if name not in schema.fieldNames():
            raise SchemaError(f"no such column: {name!r}")
        md = dict(schema[name].metadata or {})
        if "CURRENT_DEFAULT" not in md:
            raise SchemaError(f"column {name!r} has no default")
        md.pop("CURRENT_DEFAULT")
        fields = [
            T.StructField(f.name, f.dataType, f.nullable,
                          md if f.name == name else f.metadata)
            for f in schema.fields
        ]
        meta = dict(snap.metadata)
        meta["schemaString"] = T.StructType(fields).json()
        actions = [
            {"commitInfo": _commit_info(
                "ALTER COLUMN", {"column": name, "default": None})},
            {"metaData": meta},
        ]
        return self._commit(snap, actions)

    def _alter_schema(self, op: str, target: str, new: str | None = None) -> int:
        snap = self._snapshot = Snapshot.build(self.log, base=self._snapshot)
        if snap.column_mapping_mode == "none":
            raise UnsupportedFeatureError(
                f"{op} requires column mapping (files are keyed by "
                "logical name without it; set delta.columnMapping.mode)"
            )
        if target.partition(".")[0] in snap.partition_columns:
            raise UnsupportedFeatureError(f"{op} on partition column {target!r}")

        # dependent-expression guard (delta-spark parity: refuses both):
        # a column referenced by a CHECK constraint or another column's
        # generation expression cannot be dropped or renamed — committing
        # would break every subsequent append, or worse, a rename chain
        # could silently repoint generated-partition pruning at a
        # different column
        deps = []
        for key, cexpr in sorted(snap.configuration.items()):
            if key.startswith("delta.constraints.") and _expr_references(
                cexpr, target
            ):
                deps.append(
                    f"CHECK constraint {key[len('delta.constraints.'):]!r}"
                    f" ({cexpr})"
                )
        for col, gexpr in sorted(_generated_exprs(snap.schema).items()):
            if col != target and _expr_references(gexpr, target):
                deps.append(f"generated column {col!r} ({gexpr})")
        if deps:
            raise SchemaError(
                f"{op} {target!r}: column is referenced by "
                + "; ".join(deps)
                + " — drop the constraint / generated column first"
            )

        def walk(struct: T.StructType, path: str) -> T.StructType:
            out = []
            hit = False
            for f in struct.fields:
                if f.name == path.partition(".")[0]:
                    hit = True
                    seg, _, tail = path.partition(".")
                    if tail:
                        if not isinstance(f.dataType, T.StructType):
                            raise SchemaError(
                                f"{target!r}: {seg!r} is not a struct")
                        out.append(T.StructField(
                            f.name, walk(f.dataType, tail), f.nullable,
                            f.metadata))
                    elif op == "DROP COLUMN":
                        continue
                    else:
                        if new in {x.name for x in struct.fields}:
                            raise SchemaError(
                                f"column {new!r} already exists")
                        out.append(T.StructField(
                            new, f.dataType, f.nullable, f.metadata))
                else:
                    out.append(f)
            if not hit:
                raise SchemaError(f"no such column: {target!r}")
            return T.StructType(out)

        new_schema = walk(snap.schema, target)
        if op == "DROP COLUMN" and not new_schema.fields:
            raise SchemaError("cannot drop the last column")
        meta = dict(snap.metadata)
        meta["schemaString"] = new_schema.json()
        actions = [
            {"commitInfo": _commit_info(op, {"column": target,
                                             "to": new or ""})},
            {"metaData": meta},
        ]
        return self._commit(snap, actions)

    def generate_symlink_manifest(self) -> list[str]:
        """GENERATE symlink_format_manifest (delta-spark parity): write
        ``_symlink_format_manifest/<partition dirs>/manifest`` text files,
        one absolute ``file:`` URI per live data file, so Hive/Presto/
        Trino external tables can read the current snapshot without a
        Delta reader. Returns the manifest paths written.

        Refused on tables with live deletion vectors (a symlink reader
        would resurrect deleted rows) — the same guard delta-spark
        applies. Stale manifests for partitions that no longer exist are
        removed; regenerate after every commit that should be visible to
        the symlink readers (or wire it into foreachBatch)."""
        snap = self._snapshot = Snapshot.build(self.log, base=self._snapshot)
        files = snap.add_files()
        if any(f.deletion_vector for f in files):
            raise UnsupportedFeatureError(
                "GENERATE symlink_format_manifest: table has deletion "
                "vectors — symlink readers cannot apply them (run "
                "reorg_purge() first)"
            )
        root = os.path.join(self.table_path, "_symlink_format_manifest")
        parts = snap.partition_columns
        groups: dict[str, list[str]] = {}
        for f in files:
            rel_dir = ""
            if parts:
                rel_dir = os.path.join(*[
                    f"{p}={_hive_escape(f.partition_values.get(p))}"
                    for p in parts
                ])
            uri = "file://" + urllib.parse.quote(
                f.absolute_path(self.table_path), safe="/")
            groups.setdefault(rel_dir, []).append(uri)
        shutil.rmtree(root, ignore_errors=True)
        written = []
        for rel_dir, uris in sorted(groups.items()):
            d = os.path.join(root, rel_dir) if rel_dir else root
            os.makedirs(d, exist_ok=True)
            mpath = os.path.join(d, "manifest")
            with open(mpath, "w", encoding="utf-8") as fh:
                fh.write("\n".join(sorted(uris)) + "\n")
            written.append(mpath)
        from duckdb_delta_spark.delta.logging import emit

        emit("generate.symlink_manifest", table_path=self.table_path,
             version=snap.version, n_manifests=len(written),
             n_files=len(files))
        return written

    # ---------- maintenance: compaction / vacuum ----------

    def compact(
        self,
        target_file_bytes: int | None = None,
        min_files: int = 2,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        where: str | None = None,
    ) -> int | None:
        """OPTIMIZE-style bin-packing compaction. Returns the committed
        version, or None when nothing qualified.

        Beyond the reference (which supports no DML —
        delta_schema_entry.cpp:36-97) but essential at scale: frequent
        appends leave thousands of small files, and scan parallelism +
        (``target_file_bytes`` defaults to the table's ``delta.targetFileSize``
        property when set, else 128 MiB.)
        footer overhead degrade. Per partition, files smaller than
        ``target_file_bytes`` are rewritten into ``ceil(total/target)``
        files by one Spark job reading exactly those files; the commit
        marks old files ``remove`` and new files ``add`` with
        ``dataChange: false`` (readers see identical rows; incremental
        consumers skip it). Files carrying deletion vectors are left
        alone — this pass reorganizes layout, it does not materialize
        deletes. Old files stay on disk for time travel until
        :meth:`vacuum`.

        ``sort_by``: cluster the rewrite on these columns — output files
        get DISJOINT ranges (``repartitionByRange`` + sorted runs), so
        stats-based file skipping on those columns prunes aggressively
        afterwards (lexicographic — only the LEADING column prunes well).
        Column-mapped tables are handled by rewriting under physical
        names with field ids (sort_by names stay logical).

        ``zorder_by``: MULTI-dimensional clustering (OPTIMIZE ... ZORDER):
        each column's values map to 8-bit quantile-rank codes
        (``approxQuantile`` boundaries, executor-side ``searchsorted``)
        whose bits interleave into one Z-value; the rewrite range-
        partitions on it, so file min/max windows stay tight on EVERY
        listed column and stats skipping prunes on any of them — the
        property lexicographic sort cannot give trailing columns.
        Numeric/date/timestamp columns only. Mutually exclusive with
        ``sort_by``.
        """
        snap = self._snapshot
        self._assert_writable("OPTIMIZE")
        if target_file_bytes is None:
            # delta-spark parity: the table can size its own OPTIMIZE
            # output via the delta.targetFileSize property (bytes)
            target_file_bytes = int(
                snap.configuration.get("delta.targetFileSize", 128 << 20)
            )
        schema = snap.schema
        parts = snap.partition_columns
        mode = snap.column_mapping_mode
        # clustered table (liquid clustering): when the caller doesn't
        # specify a layout, OPTIMIZE clusters on the table's declared
        # clustering columns — Z-order when 2+ numeric/temporal columns,
        # else a range sort (single column, or lexicographic fallback for
        # string keys where bit-interleaving has no meaning)
        clustered_by: list[str] | None = None
        if not sort_by and not zorder_by:
            cc = snap.clustering_columns
            if cc:
                clustered_by = list(cc)
                ltypes = {f.name: f.dataType for f in schema.fields}
                zable = all(
                    isinstance(ltypes.get(c), _ZORDERABLE) for c in cc
                )
                if len(cc) >= 2 and zable:
                    zorder_by = cc
                else:
                    sort_by = cc
        phys_of: dict[str, str] = {}
        if mode != "none":
            for f in schema.fields:
                md = f.metadata or {}
                phys_of[f.name] = md.get(
                    "delta.columnMapping.physicalName", f.name
                )
            if mode == "id":
                self.spark.conf.set(
                    "spark.sql.parquet.fieldId.read.enabled", "true")
            self.spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
            from duckdb_delta_spark.delta.mapping import physical_type

            # physical names at EVERY nesting level — a logical nested
            # type here would name-match nothing in the files and the
            # rewrite would silently NULL every nested field. Field ids
            # in the READ schema only for id mode: name mode matches by
            # name, and a table UPGRADED to name mode has pre-upgrade
            # files without ids that an id-carrying schema would reject.
            ids_ok = mode == "id"
            phys_schema = T.StructType(
                [
                    T.StructField(
                        phys_of[f.name],
                        physical_type(f.dataType, with_field_ids=ids_ok),
                        True,
                        {"parquet.field.id": int((f.metadata or {})["delta.columnMapping.id"])}
                        if ids_ok
                        and "delta.columnMapping.id" in (f.metadata or {})
                        else {},
                    )
                    for f in schema.fields
                    if f.name not in parts
                ]
            )
        else:
            phys_schema = T.StructType(
                [f for f in schema.fields if f.name not in parts]
            )
        if sort_by and zorder_by:
            raise ValueError("pass either sort_by or zorder_by, not both")
        sort_cols = [phys_of.get(c, c) for c in (sort_by or [])]
        z_cols = [phys_of.get(c, c) for c in (zorder_by or [])]
        for c in sort_cols + z_cols:
            if c not in phys_schema.fieldNames():
                raise SchemaError(f"clustering column {c!r} not a data column")
        z_types = {f.name: f.dataType for f in phys_schema.fields}
        for c in z_cols:
            if not isinstance(z_types[c], _ZORDERABLE):
                raise SchemaError(
                    f"zorder_by column {c!r}: only numeric/date/timestamp "
                    "columns are Z-orderable"
                )

        # row tracking: a dataChange=false rewrite MUST keep row ids stable
        # (Delta spec "Row Tracking" preserved-ids requirement), so the
        # rewrite materializes each row's id/commit-version into physical
        # columns named by table config — readers prefer the materialized
        # value over baseRowId + index
        try:
            _, wfeats = _legacy_features(snap.protocol)
        except UnsupportedFeatureError:
            wfeats = set()
        row_tracked = "rowTracking" in wfeats
        mat_id = mat_ver = None
        new_mat_config = False
        read_schema = phys_schema
        if row_tracked:
            mat_id, mat_ver = snap.materialized_row_id_cols
            if not mat_id or not mat_ver:
                new_mat_config = True
                mat_id = mat_id or f"_row-id-col-{uuid.uuid4()}"
                mat_ver = mat_ver or f"_row-commit-version-col-{uuid.uuid4()}"
            # files from an earlier OPTIMIZE already carry the columns;
            # newer append-only files read them as NULL (schema-on-read)
            read_schema = T.StructType(
                list(phys_schema.fields)
                + [T.StructField(mat_id, T.LongType()),
                   T.StructField(mat_ver, T.LongType())]
            )

        allowed_keys: set[tuple] | None = None
        if where is not None:
            # OPTIMIZE ... WHERE <partition predicate> (delta-spark
            # parity): restrict the rewrite to matching partitions. The
            # predicate is evaluated by Spark over one row per DISTINCT
            # partition tuple (typed per the table schema) — O(#partitions)
            # driver work, and a predicate referencing a non-partition
            # column fails resolution loudly instead of silently rewriting
            # everything.
            if not parts:
                raise UnsupportedFeatureError(
                    "OPTIMIZE WHERE needs a partitioned table")
            from pyspark.sql import functions as F

            ptypes = {f.name: f.dataType for f in snap.schema.fields}
            keys = sorted({
                tuple(sorted(
                    (k, f.partition_values.get(k)) for k in parts))
                for f in snap.add_files()
            })
            kdf = _local_df(
                self.spark,
                [tuple(dict(k).get(p) for p in parts) + (i,)
                 for i, k in enumerate(keys)],
                T.StructType(
                    [T.StructField(p, T.StringType()) for p in parts]
                    + [T.StructField("__ki", T.LongType())]),
            ).select(
                *[F.col(p).cast(ptypes[p]).alias(p) for p in parts], "__ki"
            )
            hit = kdf.where(F.expr(where)).select("__ki").collect()
            allowed_keys = {keys[r["__ki"]] for r in hit}

        groups: dict[tuple, list] = {}
        for f in snap.add_files():
            if f.deletion_vector or f.size >= target_file_bytes:
                continue
            key = tuple(sorted((k, v) for k, v in f.partition_values.items()))
            if allowed_keys is not None and key not in allowed_keys:
                continue
            groups.setdefault(key, []).append(f)

        now_ms = int(time.time() * 1000)

        def _compact_group(files):
            """Rewrite one partition group. Returns (removes, adds, written)."""
            total = sum(f.size for f in files)
            n_out = max(1, -(-total // target_file_bytes))
            if n_out >= len(files) and not sort_cols and not z_cols:
                # without clustering there is nothing to gain from a
                # rewrite that doesn't shrink the file count
                return [], [], []
            n_out = min(n_out, len(files))
            paths = [f.absolute_path(self.table_path) for f in files]
            src = self.spark.read.schema(read_schema).parquet(*paths)
            if row_tracked:
                from pyspark.sql import functions as F

                from duckdb_delta_spark.delta.scan import DeltaScanBuilder

                rmap = _local_df(self.spark, 
                    [
                        (
                            DeltaScanBuilder._spark_file_uri(
                                f.absolute_path(self.table_path)),
                            None if f.base_row_id is None
                            else int(f.base_row_id),
                            None if f.default_row_commit_version is None
                            else int(f.default_row_commit_version),
                        )
                        for f in files
                    ],
                    T.StructType([
                        T.StructField("__file", T.StringType()),
                        T.StructField("__base", T.LongType()),
                        T.StructField("__drcv", T.LongType()),
                    ]),
                )
                src = (
                    src.withColumn("__file", F.col("_metadata.file_path"))
                    .withColumn("__idx", F.col("_metadata.row_index"))
                    .join(F.broadcast(rmap), on="__file", how="left")
                    .withColumn(
                        mat_id,
                        F.coalesce(
                            F.col(f"`{mat_id}`"),
                            F.col("__base") + F.col("__idx"),
                        ),
                    )
                    .withColumn(
                        mat_ver,
                        F.coalesce(F.col(f"`{mat_ver}`"), F.col("__drcv")),
                    )
                    .drop("__file", "__idx", "__base", "__drcv")
                )
            if sort_cols:
                # range-cluster: each output file owns a disjoint range of
                # the sort key → post-compaction stats skipping bites
                src = src.repartitionByRange(
                    int(n_out), *sort_cols
                ).sortWithinPartitions(*sort_cols)
            elif z_cols:
                # Z-order: range-partition on the interleaved quantile-
                # rank bits so every listed column's min/max stays tight
                src = (
                    src.withColumn(
                        "__zval", _zvalue_column(src, z_cols, z_types)
                    )
                    .repartitionByRange(int(n_out), "__zval")
                    .sortWithinPartitions("__zval")
                    .drop("__zval")
                )
            else:
                src = src.coalesce(int(n_out))
            if mode == "name":
                # the READ schema is id-less (pre-upgrade files have no
                # ids and would be rejected), but the spec requires
                # WRITERS to emit field ids whenever column mapping is
                # enabled — re-attach the mapping metadata before the
                # write (DataFrame.to applies nested field metadata)
                from duckdb_delta_spark.delta.mapping import physical_type

                id_schema = T.StructType([
                    T.StructField(
                        phys_of[f.name], physical_type(f.dataType), True,
                        {"parquet.field.id": int(
                            (f.metadata or {})["delta.columnMapping.id"])}
                        if "delta.columnMapping.id" in (f.metadata or {})
                        else {},
                    )
                    for f in schema.fields if f.name not in parts
                ])
                if row_tracked:
                    id_schema = T.StructType(
                        list(id_schema.fields)
                        + [T.StructField(mat_id, T.LongType()),
                           T.StructField(mat_ver, T.LongType())])
                src = src.to(id_schema)
            # new files live in the same (hive) directory as the old ones;
            # phys_schema matches the parquet column names (logical ==
            # physical on unmapped tables)
            moved, _, _ = self._stage(
                src, [], prefix=os.path.dirname(
                    urllib.parse.unquote(files[0].path)))
            pvals = dict(files[0].partition_values)
            adds = self._build_add_actions(
                [(rel, pvals) for rel, _ in moved], phys_schema, parts)
            for a in adds:
                a["dataChange"] = False
            removes = [f.remove_action(now_ms, data_change=False)
                       for f in files]
            return removes, adds, [rel for rel, _ in moved]

        # Submit group rewrites CONCURRENTLY: Spark's scheduler interleaves
        # the jobs across executors, so 10k partitions is a pool-bounded
        # stream of jobs, not 10k serial driver round-trips.
        from concurrent.futures import ThreadPoolExecutor

        todo = [fs for _k, fs in sorted(groups.items()) if len(fs) >= min_files]
        removes: list[dict] = []
        adds: list[dict] = []
        written: list[str] = []  # relative (decoded) paths for rollback
        if todo:
            with ThreadPoolExecutor(max_workers=min(8, len(todo))) as pool:
                for g_removes, g_adds, g_written in pool.map(_compact_group, todo):
                    removes.extend(g_removes)
                    adds.extend(g_adds)
                    written.extend(g_written)

        if not removes:
            return None
        actions = [
            {
                "commitInfo": _commit_info(
                    "OPTIMIZE",
                    {
                        "targetSize": str(target_file_bytes),
                        "numRemovedFiles": str(len(removes)),
                        "numAddedFiles": str(len(adds)),
                        **(
                            {"clusterBy": json.dumps(clustered_by)}
                            if clustered_by
                            else {}
                        ),
                    },
                )
            }
        ]
        if row_tracked and new_mat_config:
            # first preserved rewrite names the materialized columns —
            # config ships in the SAME commit as the files carrying them
            meta = dict(snap.metadata)
            cfgd = dict(meta.get("configuration") or {})
            cfgd["delta.rowTracking.materializedRowIdColumnName"] = mat_id
            cfgd["delta.rowTracking.materializedRowCommitVersionColumnName"] = (
                mat_ver
            )
            meta["configuration"] = cfgd
            actions.append({"metaData": meta})
        actions.extend(removes)
        actions.extend({"add": a} for a in adds)
        # OPTIMIZE commutes with concurrent appends (disjoint files), so
        # losing the version race is retryable — the norm on a busy table
        # where maintenance runs beside ingest; a racer that removed or
        # DV-masked a rewritten file (the rewrite would resurrect its
        # rows) or changed metadata (our metaData/stats were built
        # against it) aborts
        version = self._commit(snap, actions, retries=5, staged=written,
                               read=ReadSet(metadata=True))
        from duckdb_delta_spark.delta.logging import emit

        emit(
            "compact.apply",
            table_path=self.table_path,
            version=version,
            n_removed=len(removes),
            n_added=len(adds),
        )
        return version

    def vacuum(
        self, retention_ms: int | None = None, dry_run: bool = False,
        inventory: "DataFrame | None" = None,
        logging: bool | None = None,
        lite: bool = False,
    ) -> list[str]:
        """Delete data files no longer referenced by the current snapshot
        whose remove tombstone is older than ``retention_ms`` (default:
        the table's ``delta.deletedFileRetentionDuration``, itself
        defaulting to the spec's 7 days). Returns deleted relative paths.
        ``dry_run`` (VACUUM ... DRY RUN): list what WOULD be deleted,
        touching nothing.

        Standard Delta VACUUM semantics: the clock is the remove action's
        ``deletionTimestamp``, NOT the file's mtime — a file created long
        ago but compacted away seconds ago must survive the retention
        window so pinned readers and time travel keep working. Orphans the
        log never mentions (e.g. crashed staging leftovers) have no
        tombstone and fall back to the mtime gate.

        ``inventory`` (VACUUM ... USING INVENTORY, delta-spark 3.1): a
        DataFrame of candidate files — columns ``path`` (relative to the
        table root or absolute) and optionally ``isDir`` /
        ``modificationTime`` (epoch ms, used as the orphan clock instead
        of a per-file stat). Supplying one skips the table tree walk
        entirely — at object-store scale the LISTING is the vacuum
        bottleneck, and warehouses already have S3-Inventory-style
        reports. Rows stream through ``toLocalIterator`` so the driver
        never holds the whole inventory.

        ``lite`` (VACUUM ... LITE, delta-spark 3.3): candidate files come
        from the LOG's remove tombstones alone — NO directory walk, so
        cost is O(tombstones the snapshot retains), not O(files on
        disk). At object-store scale the listing is the vacuum
        bottleneck; a lite pass between full passes cleans everything
        the log knows about. Orphans the log never mentions (crashed
        staging leftovers) are left for a FULL vacuum — exactly
        delta-spark's LITE contract. Mutually exclusive with
        ``inventory``.

        ``logging`` (delta-spark vacuum protocol logging): bracket the
        deletion with a ``VACUUM START`` commit (numFilesToDelete /
        sizeOfDataToDelete) and a ``VACUUM END`` commit
        (status COMPLETED, numDeletedFiles) so the maintenance run is
        auditable from the log alone. Defaults to the table property
        ``delta.vacuum.logging.enabled`` (our table-scoped analogue of
        delta-spark's spark conf), else off. The commits are
        commitInfo-only and re-base freely past concurrent writers.
        """
        from duckdb_delta_spark.delta.dv import dv_file_path

        snap = Snapshot.build(self.log)
        if logging is None:
            logging = snap.configuration.get(
                "delta.vacuum.logging.enabled", "").lower() == "true"
        if retention_ms is None:
            retention_ms = _parse_interval_ms(
                snap.configuration.get("delta.deletedFileRetentionDuration"),
                7 * 24 * 3600 * 1000,
            )
        live = set()
        for f in snap.add_files():
            live.add(os.path.abspath(f.absolute_path(self.table_path)))
            dv = f.deletion_vector or {}
            if dv.get("storageType") == "u":
                # DV files are named from the descriptor; resolve via codec
                try:
                    live.add(os.path.abspath(
                        dv_file_path(self.table_path, dv)))
                except Exception:  # noqa: BLE001 - unknown descriptor: keep
                    pass
        # tombstone timestamps keyed by the absolute path they govern
        tomb_ts: dict[str, int] = {}
        for path, r in snap.tombstones.items():
            p = urllib.parse.unquote(path)
            if "://" not in p and not os.path.isabs(p):
                p = os.path.join(self.table_path, p)
            tomb_ts[os.path.abspath(p)] = int(r.get("deletionTimestamp") or 0)
        for (storage, path_or_inline), ts in snap.dv_tombstones.items():
            try:
                p = dv_file_path(
                    self.table_path,
                    {"storageType": storage, "pathOrInlineDv": path_or_inline},
                )
                tomb_ts[os.path.abspath(p)] = max(
                    ts, tomb_ts.get(os.path.abspath(p), 0)
                )
            except Exception:  # noqa: BLE001 - unknown descriptor: skip
                pass
        now_ms = int(time.time() * 1000)
        cutoff_ms = now_ms - retention_ms

        def _log_vacuum(operation: str, params: dict, metrics: dict) -> None:
            # commitInfo-only: touches no files or metadata, so it
            # rebases past any concurrent writer
            info = _commit_info(operation, params)
            info["operationMetrics"] = dict(metrics)
            self._commit(Snapshot.build(self.log, base=self._snapshot),
                         [{"commitInfo": info}], retries=7)

        # the table tree walk is pure IO — at millions of files a serial
        # os.walk is a long driver stall; fan the per-directory listings
        # and the stat+unlink decisions across a thread pool (listing on
        # object stores would parallelize the same way, per prefix)
        from concurrent.futures import ThreadPoolExecutor

        def _scan_dir(d: str) -> tuple[list[str], list[str]]:
            fs: list[str] = []
            ds: list[str] = []
            try:
                it = os.scandir(d)
            except FileNotFoundError:
                # raced away: a concurrent writer's transient dir (or an
                # emptied partition dir) was listed by the parent scan
                # and removed before this scan reached it — exactly the
                # soak-captured triad flake (vacuum walking a racer's
                # _staging_* dir mid-rollback). Vanished == nothing to
                # vacuum there.
                return fs, ds
            with it:
                for e in it:
                    if e.is_dir(follow_symlinks=False):
                        if e.name == "_delta_log":
                            continue  # the log is never a candidate
                        if e.name.startswith("_staging_"):
                            # a writer's PRIVATE uncommitted workspace
                            # (files move out on commit, the dir is
                            # deleted on rollback) — never a vacuum
                            # candidate while LIVE, which also closes
                            # the listed-then-vanished race at its
                            # hottest site. But a dir orphaned by a
                            # hard-crashed writer must still be
                            # reclaimable or repeated crashes leak disk
                            # unboundedly: descend only once the dir
                            # itself has aged past the retention cutoff
                            # (a live writer's staging dir is seconds
                            # old — its mtime moves with every file it
                            # stages; the aged-mtime signal is the same
                            # one delta-spark's retention window applies
                            # to uncommitted files).
                            try:
                                if e.stat(follow_symlinks=False
                                          ).st_mtime * 1000 > cutoff_ms:
                                    continue
                            except OSError:
                                continue  # raced away: nothing there
                        ds.append(e.path)
                    elif e.name.endswith((".parquet", ".bin")):
                        fs.append(os.path.abspath(e.path))
            return fs, ds

        def _decide(item) -> str | None:
            full, inv_ts = item
            if full in live:
                return None
            ts = tomb_ts.get(full)
            if ts is None and inv_ts is not None:
                ts = inv_ts  # inventory clock: no per-file stat needed
            if ts is None:
                # no tombstone: orphan — mtime is the only signal
                try:
                    ts = int(os.path.getmtime(full) * 1000)
                except OSError:
                    return None  # raced away
            if ts > cutoff_ms:
                return None
            return full

        def _maybe_delete(item) -> str | None:
            full = _decide(item)
            if full is None:
                return None
            if not dry_run:
                try:
                    os.unlink(full)
                except OSError:
                    return None  # raced away / permission — leave next run
            return os.path.relpath(full, self.table_path)

        def _unlink(full: str) -> str | None:
            try:
                os.unlink(full)
            except OSError:
                return None  # raced away / permission — leave next run
            return os.path.relpath(full, self.table_path)

        if lite and inventory is not None:
            raise ValueError("vacuum: lite and inventory are mutually "
                             "exclusive candidate sources")
        candidates: list[tuple[str, int | None]] = []
        with ThreadPoolExecutor(max_workers=16) as ex:
            if lite:
                # LITE: the log's tombstones ARE the candidate list — no
                # tree walk. The existence check keeps dry-run honest
                # (a prior vacuum may already have unlinked the file);
                # one stat per tombstone, still O(log) not O(disk) —
                # fanned through the pool: at object-store latency a
                # sequential loop over ~1M tombstones would be the lite
                # pass's own bottleneck.
                tombs = list(tomb_ts)
                candidates.extend(
                    (p, None)
                    for p, ok in zip(tombs, ex.map(os.path.exists, tombs))
                    if ok)
            elif inventory is not None:
                cols = set(inventory.columns)
                for row in inventory.toLocalIterator():
                    if "isDir" in cols and row["isDir"]:
                        continue
                    p = urllib.parse.unquote(str(row["path"]))
                    if not p.endswith((".parquet", ".bin")):
                        continue
                    if "://" not in p and not os.path.isabs(p):
                        p = os.path.join(self.table_path, p)
                    if os.sep + "_delta_log" + os.sep in p:
                        continue
                    mt = (int(row["modificationTime"])
                          if "modificationTime" in cols
                          and row["modificationTime"] is not None else None)
                    candidates.append((os.path.abspath(p), mt))
            else:
                pending = [self.table_path]
                while pending:
                    batch = list(ex.map(_scan_dir, pending))
                    pending = []
                    for fs, ds in batch:
                        candidates.extend((f, None) for f in fs)
                        pending.extend(ds)
            if logging and not dry_run:
                # delta-spark vacuum protocol logging: decide first, log
                # the plan, delete, log the outcome — two commitInfo-only
                # commits bracketing the deletion
                plan = [f for f in ex.map(_decide, candidates) if f]
                size = 0
                for f in plan:
                    try:
                        size += os.path.getsize(f)
                    except OSError:
                        pass
                _log_vacuum("VACUUM START", {
                    "retentionDurationMs": str(retention_ms),
                }, {
                    "numFilesToDelete": str(len(plan)),
                    "sizeOfDataToDelete": str(size),
                })
                deleted = [r for r in ex.map(_unlink, plan) if r]
                _log_vacuum("VACUUM END", {
                    "status": "COMPLETED",
                }, {
                    "numDeletedFiles": str(len(deleted)),
                })
            else:
                deleted = [r for r in ex.map(_maybe_delete, candidates)
                           if r]
        from duckdb_delta_spark.delta.logging import emit

        emit(
            "vacuum.apply",
            table_path=self.table_path,
            n_deleted=len(deleted),
            retention_ms=retention_ms,
            dry_run=dry_run,
        )
        return deleted

    # ---------- checkpoint ----------

    def compact_log(self, lo: int, hi: int) -> str:
        """Minor log compaction (delta-spark layout
        ``<lo>.<hi>.compacted.json``): one reconciled action file that
        substitutes for the per-commit JSONs of ``[lo, hi]`` during
        replay. Reconciliation per the spec's add/remove primary key
        (path, dvUniqueId): the range's net effect — latest
        metaData/protocol, latest txn per app, latest domainMetadata per
        domain, removes before adds so cross-file eviction order is
        preserved; commitInfo rows are dropped (they describe individual
        commits, not the range). Listing a 1M-commit log tail collapses
        to O(#segments) reads — the long-tail replay cost killer between
        checkpoints."""
        from duckdb_delta_spark.delta.snapshot import _dv_unique_id

        if lo > hi:
            raise ValueError(f"compact_log: lo {lo} > hi {hi}")
        meta = proto = None
        txns: dict[str, dict] = {}
        domains: dict[str, dict] = {}
        adds: dict[tuple, dict] = {}
        removes: dict[tuple, dict] = {}
        for v in range(lo, hi + 1):
            for action in self.log.read_commit(v):
                if action.get("metaData"):
                    meta = action
                elif action.get("protocol"):
                    proto = action
                elif action.get("txn"):
                    txns[action["txn"]["appId"]] = action
                elif action.get("domainMetadata"):
                    domains[action["domainMetadata"]["domain"]] = action
                elif action.get("add"):
                    a = action["add"]
                    key = (a["path"], _dv_unique_id(a.get("deletionVector")))
                    adds[key] = action
                    # an add supersedes an earlier same-key remove
                    removes.pop(key, None)
                elif action.get("remove"):
                    r = action["remove"]
                    key = (r["path"], _dv_unique_id(r.get("deletionVector")))
                    adds.pop(key, None)
                    removes[key] = action
        out: list[dict] = []
        if proto:
            out.append(proto)
        if meta:
            out.append(meta)
        out.extend(txns[k] for k in sorted(txns))
        out.extend(domains[k] for k in sorted(domains))
        out.extend(removes[k] for k in sorted(removes))
        out.extend(adds[k] for k in sorted(adds))
        path = os.path.join(
            self.log.log_path, f"{lo:020d}.{hi:020d}.compacted.json"
        )
        tmp = path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            for a in out:
                f.write(json.dumps(a, separators=(",", ":")) + "\n")
        os.replace(tmp, path)
        return path

    def cleanup_expired_logs(self, retention_ms: int | None = None) -> list[str]:
        """Metadata cleanup (delta-spark's log retention; the reference
        delegates it to the kernel): delete the CONTIGUOUS PREFIX of
        commit JSONs strictly below the newest checkpoint once they age
        past ``delta.logRetentionDuration`` (default 30 days), plus any
        older superseded checkpoint files. Replay is unaffected — it
        starts at the surviving checkpoint; time travel below the deleted
        prefix becomes unavailable, exactly as in delta-spark.

        Deletion stops at the first too-young commit so the remaining log
        never has an internal gap. Commit age = in-commit timestamp when
        the table writes them (immune to copied-file mtimes), else file
        mtime. Returns deleted paths.

        ``checkpointProtection`` (Delta spec "Checkpoint Protection", the
        feature DROP FEATURE ... TRUNCATE HISTORY writes): when the table
        declares it with ``delta.requireCheckpointProtectionBeforeVersion``
        = V, history below V may only be removed ALL AT ONCE — a partial
        sweep that strands versions in [h, V) behind a deleted prefix is
        refused (returns [] untouched). A sweep whose aged-out horizon
        reaches V proceeds normally."""
        segment = self.log.list_log_files()
        commits, checkpoints = segment
        if not checkpoints:
            return []
        ckpt = max(checkpoints)
        snap = Snapshot.build(self.log)
        if retention_ms is None:
            retention_ms = _parse_interval_ms(
                snap.configuration.get("delta.logRetentionDuration"),
                default_ms=30 * 24 * 3600 * 1000,
            )
        cutoff = int(time.time() * 1000) - retention_ms
        protect_before = 0
        if "checkpointProtection" in (
            snap.protocol.get("writerFeatures") or []
        ):
            protect_before = int(
                snap.configuration.get(
                    "delta.requireCheckpointProtectionBeforeVersion", "0"
                )
            )
        if protect_before:
            # pre-compute the aged-out contiguous horizon h (first KEPT
            # version); deleting [0, h) is legal only if h >= V
            h = 0
            for v in sorted(commits):
                if v >= ckpt:
                    break
                ts = self.log.read_ict(v)
                if ts is None:
                    try:
                        ts = int(os.path.getmtime(commits[v]) * 1000)
                    except OSError:
                        break
                if ts > cutoff:
                    break
                h = v + 1
            if 0 < h < protect_before:
                from duckdb_delta_spark.delta.logging import emit

                emit(
                    "log.cleanup.protected",
                    table_path=self.table_path,
                    horizon=h,
                    protect_before=protect_before,
                )
                return []
        deleted: list[str] = []
        last_deleted = -1
        for v in sorted(commits):
            if v >= ckpt:
                break
            path = commits[v]
            ts = self.log.read_ict(v)
            if ts is None:
                try:
                    ts = int(os.path.getmtime(path) * 1000)
                except OSError:
                    break
            if ts > cutoff:
                break  # keep everything newer — prefix stays contiguous
            try:
                os.unlink(path)
                deleted.append(path)
                last_deleted = v
            except OSError:
                break
            # the commit's advisory checksum expires with it
            crc = os.path.join(self.log.log_path, f"{v:020d}.crc")
            if os.path.isfile(crc):
                try:
                    os.unlink(crc)
                    deleted.append(crc)
                except OSError:
                    pass
        # superseded checkpoints fully inside the deleted prefix — EXCEPT
        # a checkpoint at exactly last_deleted: it is the replay floor for
        # the surviving commits (last_deleted, next checkpoint). Deleting
        # it would leave those versions unreconstructable (no checkpoint
        # ≤ them whose follow-on commits survive) even though their
        # commit JSONs were retained.
        for v, parts in checkpoints.items():
            if v < last_deleted:
                for p in parts:
                    try:
                        os.unlink(p)
                        deleted.append(p)
                    except OSError:
                        pass
        # minor-compacted segments entirely below the replay floor serve
        # nothing (time travel there is already unavailable); segments
        # straddling the floor stay — replay keyed at lo never consults
        # them, but a still-pinned incremental base might
        for lo, (hi, seg_path) in segment.compacted.items():
            if hi <= last_deleted:
                try:
                    os.unlink(seg_path)
                    deleted.append(seg_path)
                except OSError:
                    pass
        if deleted:
            from duckdb_delta_spark.delta.logging import emit

            emit(
                "log.cleanup",
                table_path=self.table_path,
                n_deleted=len(deleted),
                through_version=last_deleted,
                checkpoint_version=ckpt,
            )
        return deleted

    def checkpoint(
        self, max_rows_per_part: int | None = None, v2: bool = False
    ) -> int:
        """Write ``<v>.checkpoint.parquet`` + ``_last_checkpoint`` for HEAD.

        Aggregates reconciled snapshot state into parquet — idempotent,
        like the reference (checkpoint.test:26-41). ``max_rows_per_part``
        splits the manifest into classic multi-part checkpoint files
        (``<v>.checkpoint.<i>.<n>.parquet``) so a 10M-file table's
        checkpoint is written (and later read) in bounded chunks instead
        of one giant row group.

        ``v2=True`` writes the v2Checkpoint layout instead: file actions
        go to parquet SIDECARS under ``_delta_log/_sidecars/`` (split by
        ``max_rows_per_part``) and a UUID-named manifest carries the
        protocol/metaData/txn/domainMetadata rows, a checkpointMetadata
        action and the sidecar references — readable by this engine's
        existing v2 reader and by any v2Checkpoint-capable kernel.
        """
        import pyarrow as pa
        import pyarrow.parquet as pq

        # incremental from the pinned snapshot (post-commit hooks pin the
        # snapshot they just committed, so they read nothing)
        snap = Snapshot.build(self.log, base=self._snapshot)
        # a table whose checkpointPolicy is v2 must not get classic
        # checkpoints from a manual call (auto-checkpoints already honor
        # the policy; spec: the policy property governs the format)
        if not v2 and snap.configuration.get(
                "delta.checkpointPolicy", "classic") == "v2":
            v2 = True
        if v2:
            # spec: tables must advertise the v2Checkpoint reader feature
            # before a v2 checkpoint exists — upgrade (one commit) if absent
            snap = self._ensure_v2_checkpoint_feature(snap)
            self._snapshot = snap  # the upgrade advanced the table
        v = snap.version

        rows: list[dict] = []
        rows.append({"protocol": {
            "minReaderVersion": int(snap.protocol.get("minReaderVersion", 1)),
            "minWriterVersion": int(snap.protocol.get("minWriterVersion", 2)),
            "readerFeatures": snap.protocol.get("readerFeatures"),
            "writerFeatures": snap.protocol.get("writerFeatures"),
        }})
        md = snap.metadata
        rows.append({"metaData": {
            "id": md.get("id"),
            "name": md.get("name"),
            "description": md.get("description"),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": md.get("schemaString"),
            "partitionColumns": list(md.get("partitionColumns") or []),
            "configuration": dict(md.get("configuration") or {}),
            "createdTime": md.get("createdTime"),
        }})
        # setTransaction retention (Delta spec "Transaction Identifiers"):
        # when delta.setTransactionRetentionDuration is set, txn actions
        # whose lastUpdated aged past it are EXPIRED from the checkpoint —
        # replay from this checkpoint then no longer knows the appId, so
        # get_transaction_version returns None (exactly delta-spark).
        # Actions without lastUpdated never expire (no clock to judge by).
        txn_retention = _parse_interval_ms(
            snap.configuration.get("delta.setTransactionRetentionDuration"),
            default_ms=-1,
        )
        txn_cutoff = (
            int(time.time() * 1000) - txn_retention
            if txn_retention >= 0 else None
        )
        for app_id, ver in sorted(snap.app_transactions.items()):
            lu = snap.app_txn_updated.get(app_id)
            if txn_cutoff is not None and lu is not None and lu < txn_cutoff:
                continue
            rows.append({"txn": {"appId": app_id, "version": ver,
                                 "lastUpdated": lu}})
        for domain, conf in sorted(snap.domain_metadata.items()):
            rows.append({"domainMetadata": {"domain": domain, "configuration": conf,
                                            "removed": False}})
        for f in snap.add_files():
            dv = f.deletion_vector
            rows.append({"add": {
                "path": f.path,
                "partitionValues": {k: v for k, v in f.partition_values.items()},
                "size": f.size,
                "modificationTime": f.modification_time,
                "dataChange": True,
                "stats": f.stats,
                "tags": f.tags,
                "baseRowId": f.base_row_id,
                "defaultRowCommitVersion": f.default_row_commit_version,
                "deletionVector": None if not dv else {
                    "storageType": dv.get("storageType"),
                    "pathOrInlineDv": dv.get("pathOrInlineDv"),
                    "offset": dv.get("offset"),
                    "sizeInBytes": dv.get("sizeInBytes"),
                    "cardinality": dv.get("cardinality"),
                },
            }})
        # remove tombstones survive checkpointing (spec: they expire only
        # after the retention window) so VACUUM keeps its deletion clocks
        for path, r in sorted(snap.tombstones.items()):
            dv = r.get("deletionVector")
            rows.append({"remove": {
                "path": path,
                "deletionTimestamp": int(r.get("deletionTimestamp") or 0),
                "dataChange": bool(r.get("dataChange", False)),
                "deletionVector": None if not dv else {
                    "storageType": dv.get("storageType"),
                    "pathOrInlineDv": dv.get("pathOrInlineDv"),
                    "offset": dv.get("offset"),
                    "sizeInBytes": dv.get("sizeInBytes"),
                    "cardinality": dv.get("cardinality"),
                },
            }})

        if v2:
            return self._checkpoint_v2(v, rows, max_rows_per_part)

        schema = _checkpoint_arrow_schema()
        if (
            snap.configuration.get("delta.checkpoint.writeStatsAsStruct", "")
            .lower() == "true"
        ):
            # delta-spark parity: add.stats_parsed — TYPED per-column stats
            # readers consume without re-parsing N JSON blobs per planning
            # pass (the fast path delta-spark's checkpoint reader takes)
            schema = _with_stats_parsed(
                schema, snap.schema, set(snap.partition_columns)
            )
            parsed_t = schema.field("add").type.field("stats_parsed").type
            for r in rows:
                if r.get("add"):
                    r["add"]["stats_parsed"] = _parse_stats_typed(
                        r["add"].get("stats"), parsed_t
                    )
        cols = {name: [r.get(name) for r in rows] for name in schema.names}
        table = pa.Table.from_pydict(cols, schema=schema)
        def _write_atomic(part_table, final_path):
            # temp + rename: a concurrent reader listing the log mid-write
            # must never see (and validate) a torn or short parquet part
            tmp = final_path + ".tmp"
            pq.write_table(part_table, tmp)
            os.replace(tmp, final_path)

        if max_rows_per_part and len(rows) > max_rows_per_part:
            n_parts = -(-len(rows) // max_rows_per_part)
            for i in range(n_parts):
                part = table.slice(i * max_rows_per_part, max_rows_per_part)
                _write_atomic(
                    part,
                    os.path.join(
                        self.log.log_path,
                        f"{v:020d}.checkpoint.{i + 1:010d}.{n_parts:010d}.parquet",
                    ),
                )
            self.log.write_last_checkpoint(v, len(rows), parts=n_parts)
        else:
            _write_atomic(
                table,
                os.path.join(self.log.log_path, f"{v:020d}.checkpoint.parquet"),
            )
            self.log.write_last_checkpoint(v, len(rows))
        from duckdb_delta_spark.delta.logging import emit

        emit(
            "checkpoint.write",
            table_path=self.table_path,
            version=v,
            n_rows=len(rows),
        )
        return v

    def _ensure_v2_checkpoint_feature(self, snap: Snapshot) -> Snapshot:
        """Commit a (3,7) protocol upgrade adding v2Checkpoint (plus the
        features the legacy versions implied) when the table doesn't have
        it yet; returns the (possibly advanced) snapshot."""
        proto = snap.protocol
        if "v2Checkpoint" in (proto.get("readerFeatures") or []):
            return snap
        r_legacy, w_implied = _legacy_features(proto)
        if any(isinstance(f.dataType, T.TimestampNTZType)
               for f in snap.schema.fields):
            r_legacy = r_legacy | {"timestampNtz"}
            w_implied = w_implied | {"timestampNtz"}
        actions = [
            {"commitInfo": _commit_info(
                "UPGRADE PROTOCOL", {"newFeature": "v2Checkpoint"})},
            {"protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": sorted(r_legacy | {"v2Checkpoint"}),
                "writerFeatures": sorted(w_implied | {"v2Checkpoint"}),
            }},
        ]
        txn = Transaction(self.log, snap)
        txn.commit(actions)
        return txn.snapshot

    def _checkpoint_v2(
        self, v: int, rows: list[dict], max_rows_per_part: int | None
    ) -> int:
        """v2Checkpoint writer: sidecar parquet files (add/remove actions)
        + a UUID-named parquet manifest (meta actions, checkpointMetadata,
        sidecar references). Mirrors ``DeltaLog._read_checkpoint_v2``."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        def _write_atomic(tbl, final_path):
            tmp = final_path + ".tmp"
            pq.write_table(tbl, tmp)
            os.replace(tmp, final_path)

        full = _checkpoint_arrow_schema()
        file_rows = [r for r in rows if "add" in r or "remove" in r]
        meta_rows = [r for r in rows if "add" not in r and "remove" not in r]

        file_schema = pa.schema([full.field("add"), full.field("remove")])
        side_dir = os.path.join(self.log.log_path, "_sidecars")
        os.makedirs(side_dir, exist_ok=True)
        now_ms = int(time.time() * 1000)
        chunk = max_rows_per_part or max(len(file_rows), 1)
        sidecars: list[dict] = []
        for i in range(0, max(len(file_rows), 1), chunk):
            part = file_rows[i : i + chunk]
            tbl = pa.Table.from_pydict(
                {n: [r.get(n) for r in part] for n in file_schema.names},
                schema=file_schema,
            )
            rel = f"{uuid.uuid4()}.parquet"
            dest = os.path.join(side_dir, rel)
            _write_atomic(tbl, dest)
            sidecars.append(
                {
                    "path": rel,
                    "sizeInBytes": os.path.getsize(dest),
                    "modificationTime": now_ms,
                }
            )

        man_schema = pa.schema(
            [
                full.field("protocol"),
                full.field("metaData"),
                full.field("txn"),
                full.field("domainMetadata"),
                pa.field(
                    "checkpointMetadata",
                    pa.struct([pa.field("version", pa.int64())]),
                ),
                pa.field(
                    "sidecar",
                    pa.struct(
                        [
                            pa.field("path", pa.string()),
                            pa.field("sizeInBytes", pa.int64()),
                            pa.field("modificationTime", pa.int64()),
                        ]
                    ),
                ),
            ]
        )
        man_rows = (
            meta_rows
            + [{"checkpointMetadata": {"version": v}}]
            + [{"sidecar": sc} for sc in sidecars]
        )
        _write_atomic(
            pa.Table.from_pydict(
                {n: [r.get(n) for r in man_rows] for n in man_schema.names},
                schema=man_schema,
            ),
            os.path.join(
                self.log.log_path, f"{v:020d}.checkpoint.{uuid.uuid4()}.parquet"
            ),
        )
        self.log.write_last_checkpoint(v, len(rows))
        from duckdb_delta_spark.delta.logging import emit

        emit(
            "checkpoint.write",
            table_path=self.table_path,
            version=v,
            n_rows=len(rows),
            v2=True,
            n_sidecars=len(sidecars),
        )
        return v


def _apply_generated(
    df: DataFrame, schema: T.StructType, keep: set = frozenset()
) -> DataFrame:
    """Recompute every generated column not in ``keep`` from its
    generation expression (unqualified references — call on a frame whose
    columns match the table schema)."""
    from pyspark.sql import functions as F

    gen = _generated_exprs(schema)
    recompute = {c for c in gen if c not in keep}
    if not recompute:
        return df
    return df.select(
        *[
            (
                F.expr(gen[f.name]) if f.name in recompute else F.col(f.name)
            ).cast(_nullable_type(f.dataType)).alias(f.name)
            for f in schema.fields
        ]
    )


#: integer digits each integral type needs when widening into a decimal
_INT_DECIMAL_DIGITS = {T.ByteType: 3, T.ShortType: 5,
                       T.IntegerType: 10, T.LongType: 20}


def _is_widening(frm: T.DataType, to: T.DataType) -> bool:
    """Spec-allowed type widenings (Delta PROTOCOL.md "Type Widening"):
    integral up-chain, int->double, float->double, date->timestampNtz,
    integral->decimal with enough integer digits, and decimal precision
    growth that never loses integer digits or scale."""
    if isinstance(frm, T.ByteType):
        if isinstance(to, (T.ShortType, T.IntegerType, T.LongType,
                           T.DoubleType)):
            return True
    elif isinstance(frm, T.ShortType):
        if isinstance(to, (T.IntegerType, T.LongType, T.DoubleType)):
            return True
    elif isinstance(frm, T.IntegerType):
        if isinstance(to, (T.LongType, T.DoubleType)):
            return True
    elif isinstance(frm, T.FloatType) and isinstance(to, T.DoubleType):
        return True
    elif isinstance(frm, T.DateType) and isinstance(to, T.TimestampNTZType):
        return True
    if isinstance(to, T.DecimalType):
        need = _INT_DECIMAL_DIGITS.get(type(frm))
        if need is not None:
            return to.precision - to.scale >= need
        if isinstance(frm, T.DecimalType):
            return (
                to.scale >= frm.scale
                and to.precision - to.scale >= frm.precision - frm.scale
                and (to.precision, to.scale)
                != (frm.precision, frm.scale)
            )
    return False


def _expr_references(expr: str, column: str) -> bool:
    """Conservative check: does SQL expression ``expr`` reference
    ``column``?  String literals are stripped first; identifiers match
    case-insensitively, bare or backtick-quoted; a dotted target matches
    its full path, and a struct root matches any reference into it.
    False positives only refuse an ALTER loudly — never corrupt state."""
    no_strings = re.sub(r"'(?:[^'\\]|\\.)*'", "''", expr)
    pat = (
        r"(?<![\w.`])`?"
        + re.escape(column).replace(r"\.", r"`?\.`?")
        + r"`?(?![\w`])"
    )
    return bool(re.search(pat, no_strings, re.IGNORECASE))


def _generated_exprs(schema: T.StructType) -> dict[str, str]:
    """column → ``delta.generationExpression`` (SQL string) from field
    metadata (Delta spec: Generated Columns)."""
    out: dict[str, str] = {}
    for f in schema.fields:
        md = f.metadata or {}
        expr = md.get("delta.generationExpression")
        if expr:
            out[f.name] = expr
    return out


def _default_exprs(schema: T.StructType) -> dict[str, str]:
    """column → ``CURRENT_DEFAULT`` (SQL string) from field metadata
    (Delta spec: Default Columns, the ``allowColumnDefaults`` writer
    feature). Writers fill these when an insert omits the column; readers
    are unaffected (old files still surface NULL for later-added columns
    — which is why ADD COLUMN with a default is refused, matching
    delta-spark)."""
    out: dict[str, str] = {}
    for f in schema.fields:
        md = f.metadata or {}
        expr = md.get("CURRENT_DEFAULT")
        if expr:
            out[f.name] = expr
    return out


def _identity_columns(schema: T.StructType) -> dict[str, dict]:
    """column → identity spec from field metadata (Delta spec: Identity
    Columns): ``delta.identity.start`` / ``.step`` (required, step ≠ 0),
    ``.allowExplicitInsert`` (default false), ``.highWaterMark`` (absent
    until the first generating write)."""
    out: dict[str, dict] = {}
    for f in schema.fields:
        md = f.metadata or {}
        if not any(k.startswith("delta.identity.") for k in md):
            continue
        step = int(md.get("delta.identity.step", 1))
        if step == 0:
            raise SchemaError(f"identity column {f.name!r}: step must be nonzero")
        if not isinstance(f.dataType, T.LongType):
            raise SchemaError(
                f"identity column {f.name!r} must be BIGINT, got {f.dataType.simpleString()}"
            )
        hwm = md.get("delta.identity.highWaterMark")
        out[f.name] = {
            "start": int(md.get("delta.identity.start", 1)),
            "step": step,
            "allow": bool(md.get("delta.identity.allowExplicitInsert", False)),
            "hwm": None if hwm is None else int(hwm),
        }
    return out


def _commit_info(operation: str, params: dict | None = None) -> dict:
    return {
        "timestamp": int(time.time() * 1000),
        "operation": operation,
        "operationParameters": params or {},
        "engineCommitInfo": {"engineInfo": ENGINE_INFO},
        "engineInfo": ENGINE_INFO,
    }


def _txn_action(app_id: str, txn_version: int) -> dict:
    """The app-transaction (``txn``) action recording ``txn_version`` as
    ``app_id``'s last committed version (idempotency_helpers.cpp:41-145)."""
    return {"txn": {"appId": app_id, "version": int(txn_version),
                    "lastUpdated": int(time.time() * 1000)}}


def _replayed(snap: Snapshot, app_id: str | None,
              txn_version: int | None) -> bool:
    """True when ``snap`` already holds ``txn_version`` (or a later one)
    for ``app_id``: a replayed idempotent write that must be skipped."""
    if app_id is None or txn_version is None:
        return False
    last = snap.transaction_version(app_id)
    return last is not None and int(txn_version) <= last


def assign_row_ids(version: int, actions: list[dict], snap: Snapshot,
                   preserve_existing: bool = False) -> None:
    """Row tracking (Delta spec "Row Tracking"): on tables with the
    ``rowTracking`` writer feature, every NEW add gets a ``baseRowId``
    (fresh row id of row i = baseRowId + i) and
    ``defaultRowCommitVersion``; re-adds of a live path (DV updates,
    stats rewrites) KEEP their ids — the file bytes are unchanged. The
    ``rowIdHighWaterMark`` advances in the same commit via the
    delta.rowTracking domain metadata. Two writers racing the same
    watermark conflict on the version instead of double-allocating —
    :class:`Transaction` calls this on every attempt, so a retry
    reallocates past the race winner's ranges."""
    domain = DeltaWriter.ROW_TRACKING_DOMAIN
    try:
        _, wfeats = _legacy_features(snap.protocol)
    except UnsupportedFeatureError:
        return
    if "rowTracking" not in wfeats:
        return
    adds = [a["add"] for a in actions if a.get("add")]
    if not adds:
        return
    existing: dict[str, AddFile] = {}
    for f in snap.add_files():
        existing[f.path] = f
    try:
        conf = json.loads(snap.domain_metadata.get(domain) or "{}")
    except json.JSONDecodeError:
        conf = {}
    hwm = int(conf.get("rowIdHighWaterMark", -1))
    moved = False
    for a in adds:
        if preserve_existing and a.get("baseRowId") is not None:
            # the action carries ids that MUST survive (RESTORE re-adds
            # of files absent from the current snapshot keep the ids the
            # rows were first allocated; the watermark already covered
            # those ranges). NEVER the default: a conflict RETRY re-runs
            # this function on actions that still carry the LOSING
            # attempt's ids, and keeping them would overlap the winner's
            # ranges — retries must reallocate.
            continue
        prior = existing.get(a["path"])
        if prior is not None and prior.base_row_id is not None:
            a["baseRowId"] = prior.base_row_id
            a["defaultRowCommitVersion"] = (
                prior.default_row_commit_version
            )
            continue
        stats = json.loads(a.get("stats") or "{}")
        n = stats.get("numRecords")
        if n is None:
            raise UnsupportedFeatureError(
                f"rowTracking needs numRecords stats to allocate "
                f"baseRowId for {a['path']!r}"
            )
        a["baseRowId"] = hwm + 1
        a["defaultRowCommitVersion"] = version
        hwm += int(n)
        moved = True
    if moved:
        # idempotent across retries: drop any stale watermark action
        actions[:] = [
            x for x in actions
            if not (
                x.get("domainMetadata")
                and x["domainMetadata"].get("domain") == domain
            )
        ]
        actions.append({"domainMetadata": {
            "domain": domain,
            "configuration": json.dumps(
                {"rowIdHighWaterMark": hwm}, separators=(",", ":")
            ),
            "removed": False,
        }})


def _nullable_type(dt: T.DataType) -> T.DataType:
    """Deep copy of a type with every nested field marked nullable."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _nullable_type(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable_type(dt.elementType), True)
    if isinstance(dt, T.MapType):
        # the map KEY itself has no null flag, but fields INSIDE a
        # struct-typed key do — Spark's parquet read types them nullable,
        # so a cast target keeping them NOT NULL refuses to resolve
        return T.MapType(
            _nullable_type(dt.keyType), _nullable_type(dt.valueType), True
        )
    return dt


def _assignment_exprs(schema: T.StructType, assignments: dict, col_for):
    """UPDATE/MERGE ``SET`` targets → {top-level column: Column},
    supporting DOTTED NESTED struct paths (``{"info.a": "expr"}`` →
    ``Column.withField`` — delta-spark's ``SET info.a = ...`` surface;
    sibling fields keep their pre-update values). Every target is
    validated against the schema (unknown columns AND unknown nested
    paths refuse — silent typo-drops were possible in MERGE before);
    assigning a column wholesale and one of its nested fields in the
    same statement is ambiguous and refuses. ``col_for(name)`` supplies
    the base column (plain or alias-qualified for MERGE's ``t.``)."""
    from pyspark.sql import functions as F

    tops = {f.name: f for f in schema.fields}
    whole: dict = {}
    nested: dict[str, list] = {}
    bad: list[str] = []
    for target, a in assignments.items():
        head, _, rest = target.partition(".")
        f = tops.get(head)
        if f is None:
            bad.append(target)
            continue
        if not rest:
            whole[head] = a
            continue
        dt = f.dataType
        ok = True
        for seg in rest.split("."):
            if not isinstance(dt, T.StructType) or seg not in dt.fieldNames():
                ok = False
                break
            dt = dt[seg].dataType
        if not ok:
            bad.append(target)
            continue
        nested.setdefault(head, []).append((rest, a))
    if bad:
        raise SchemaError(f"assignments target unknown columns: {bad}")
    conflict = sorted(set(whole) & set(nested))
    if conflict:
        raise SchemaError(
            f"both whole-column and nested-field assignments for: {conflict}"
        )

    def to_expr(a):
        return F.expr(a) if isinstance(a, str) else a

    out = {name: to_expr(a) for name, a in whole.items()}
    for name, subs in nested.items():
        col = col_for(name)
        for sub, a in subs:
            col = col.withField(sub, to_expr(a))
        out[name] = col
    return out


def _merged_table_schema(snapshot, in_schema: T.StructType):
    """mergeSchema union of the table schema and an input schema:
    ``(merged_schema, widened_config_or_None, changed)``. New top-level
    columns append (nullable); NESTED widening too (delta-spark parity):
    input struct fields the table lacks append at the end of their
    struct, existing fields keep order/metadata (mapping ids). On mapped
    tables fresh columns/nested fields get the next mapping ids + uuid
    physical names and maxColumnId advances (returned in the config)."""
    schema = snapshot.schema
    known = set(schema.fieldNames())
    by_in = {f.name: f for f in in_schema.fields}
    new_fields = [f for f in in_schema.fields if f.name not in known]
    widened_fields = []
    nested_widened = False
    for f in schema.fields:
        d = by_in.get(f.name)
        mdt = (
            _merge_nested_types(f.dataType, d.dataType)
            if d is not None else f.dataType
        )
        if mdt != f.dataType:
            nested_widened = True
        widened_fields.append(
            T.StructField(f.name, mdt, f.nullable, f.metadata)
        )
    if not new_fields and not nested_widened:
        return schema, None, False
    merged = T.StructType(widened_fields + [
        T.StructField(f.name, _nullable_type(f.dataType), True)
        for f in new_fields
    ])
    cfg = None
    if snapshot.column_mapping_mode != "none":
        cfg = dict(snapshot.configuration)
        start = int(cfg.get("delta.columnMapping.maxColumnId", 0))
        merged, new_max = _ensure_mapping_metadata(merged, start_id=start)
        cfg["delta.columnMapping.maxColumnId"] = str(new_max)
    return merged, cfg, True


def _merge_nested_types(t_dt: T.DataType, d_dt: T.DataType) -> T.DataType:
    """Recursive mergeSchema union of a table type and an input type:
    struct fields the input adds are appended (nullable, at the end of
    their struct, delta-spark's placement); existing fields keep their
    order, nullability and metadata (mapping ids!). Leaf type conflicts
    keep the TABLE type — the conform cast upcasts compatible input and
    fails loudly on incompatible input, same as today."""
    if isinstance(t_dt, T.StructType) and isinstance(d_dt, T.StructType):
        by_df = {f.name: f for f in d_dt.fields}
        out = []
        for f in t_dt.fields:
            nf = by_df.pop(f.name, None)
            dt = _merge_nested_types(f.dataType, nf.dataType) if nf else f.dataType
            out.append(T.StructField(f.name, dt, f.nullable, f.metadata))
        for f in d_dt.fields:  # df-only fields, in the input's order
            if f.name in by_df:
                out.append(T.StructField(f.name, _nullable_type(f.dataType), True))
        return T.StructType(out)
    if isinstance(t_dt, T.ArrayType) and isinstance(d_dt, T.ArrayType):
        return T.ArrayType(
            _merge_nested_types(t_dt.elementType, d_dt.elementType),
            t_dt.containsNull,
        )
    if isinstance(t_dt, T.MapType) and isinstance(d_dt, T.MapType):
        return T.MapType(
            _merge_nested_types(t_dt.keyType, d_dt.keyType),
            _merge_nested_types(t_dt.valueType, d_dt.valueType),
            t_dt.valueContainsNull,
        )
    return t_dt


def _nested_name_diffs(
    src_dt: T.DataType, dst_dt: T.DataType, prefix: str = ""
) -> tuple[list[str], list[str]]:
    """(input-only, table-only) dotted struct-field paths between two
    types — the schema-enforcement diff for nested shapes."""
    src_only: list[str] = []
    dst_only: list[str] = []
    if isinstance(src_dt, T.StructType) and isinstance(dst_dt, T.StructType):
        s_by = {f.name: f for f in src_dt.fields}
        d_by = {f.name: f for f in dst_dt.fields}
        for n in s_by:
            if n not in d_by:
                src_only.append(f"{prefix}{n}")
        for n, f in d_by.items():
            if n not in s_by:
                dst_only.append(f"{prefix}{n}")
            else:
                a, b = _nested_name_diffs(
                    s_by[n].dataType, f.dataType, f"{prefix}{n}."
                )
                src_only += a
                dst_only += b
    elif isinstance(src_dt, T.ArrayType) and isinstance(dst_dt, T.ArrayType):
        return _nested_name_diffs(
            src_dt.elementType, dst_dt.elementType, prefix
        )
    elif isinstance(src_dt, T.MapType) and isinstance(dst_dt, T.MapType):
        return _nested_name_diffs(src_dt.valueType, dst_dt.valueType, prefix)
    return src_only, dst_only


def _needs_nested_conform(src_dt: T.DataType, dst_dt: T.DataType) -> bool:
    """True when a plain Catalyst cast would be wrong: struct field NAME
    LISTS differ anywhere (missing fields would fail the cast; reordered
    same-type fields would SILENTLY swap values — struct casts are
    positional)."""
    if isinstance(src_dt, T.StructType) and isinstance(dst_dt, T.StructType):
        if [f.name for f in src_dt.fields] != [f.name for f in dst_dt.fields]:
            return True
        return any(
            _needs_nested_conform(a.dataType, b.dataType)
            for a, b in zip(src_dt.fields, dst_dt.fields)
        )
    if isinstance(src_dt, T.ArrayType) and isinstance(dst_dt, T.ArrayType):
        return _needs_nested_conform(src_dt.elementType, dst_dt.elementType)
    if isinstance(src_dt, T.MapType) and isinstance(dst_dt, T.MapType):
        return _needs_nested_conform(
            src_dt.keyType, dst_dt.keyType
        ) or _needs_nested_conform(src_dt.valueType, dst_dt.valueType)
    return False


def _conform_nested_expr(col, src_dt: T.DataType, dst_dt: T.DataType):
    """Column expression reshaping ``col`` (of ``src_dt``) to ``dst_dt``:
    struct fields match BY NAME (missing → typed NULL, order normalized),
    arrays/maps conform element-wise via ``transform`` /
    ``transform_values`` (lambda-wrapped — transform feeds (element,
    index) to binary callables), NULL structs stay NULL. All JVM-side
    expressions, no UDFs."""
    from pyspark.sql import functions as F

    if isinstance(dst_dt, T.StructType) and isinstance(src_dt, T.StructType):
        if not _needs_nested_conform(src_dt, dst_dt):
            return col.cast(_nullable_type(dst_dt))
        s_by = {f.name: f.dataType for f in src_dt.fields}
        inner = []
        for f in dst_dt.fields:
            if f.name in s_by:
                e = _conform_nested_expr(
                    col.getField(f.name), s_by[f.name], f.dataType
                )
            else:
                e = F.lit(None).cast(_nullable_type(f.dataType))
            inner.append(e.alias(f.name))
        return F.when(
            col.isNull(), F.lit(None).cast(_nullable_type(dst_dt))
        ).otherwise(F.struct(*inner))
    if isinstance(dst_dt, T.ArrayType) and isinstance(src_dt, T.ArrayType):
        if not _needs_nested_conform(src_dt, dst_dt):
            return col.cast(_nullable_type(dst_dt))
        return F.transform(
            col,
            lambda x: _conform_nested_expr(
                x, src_dt.elementType, dst_dt.elementType
            ),
        )
    if isinstance(dst_dt, T.MapType) and isinstance(src_dt, T.MapType):
        if not _needs_nested_conform(src_dt, dst_dt):
            return col.cast(_nullable_type(dst_dt))
        out = col
        if _needs_nested_conform(src_dt.keyType, dst_dt.keyType):
            # map KEYS conform too — but only pure struct-field REORDERS
            # are safe: injecting a NULL for a missing key field would
            # silently change the key's identity, so differing field
            # SETS refuse loudly instead
            src_only, dst_only = _nested_name_diffs(
                src_dt.keyType, dst_dt.keyType
            )
            if src_only or dst_only:
                raise SchemaError(
                    "cannot conform map KEY type "
                    f"{src_dt.keyType.simpleString()} to "
                    f"{dst_dt.keyType.simpleString()}: key struct field "
                    f"sets differ (input-only {src_only}, table-only "
                    f"{dst_only}) and null-filling a key field would "
                    "silently change key identity"
                )
            out = F.transform_keys(
                out,
                lambda k, _v: _conform_nested_expr(
                    k, src_dt.keyType, dst_dt.keyType
                ),
            )
        if _needs_nested_conform(src_dt.valueType, dst_dt.valueType):
            out = F.transform_values(
                out,
                lambda _k, v: _conform_nested_expr(
                    v, src_dt.valueType, dst_dt.valueType
                ),
            )
        # trailing cast aligns scalar key/value types the by-name
        # conform above left untouched (e.g. int keys → long keys)
        return out.cast(_nullable_type(dst_dt))
    return col.cast(_nullable_type(dst_dt))


def _conform_rows(df: DataFrame, schema: T.StructType, col=None,
                  fill: dict | None = None, null_fill: bool = False):
    """Project input rows onto the table ``schema``: the one conform step
    of every data write (append, overwrite / replaceWhere, MERGE insert).

    A present column whose struct/array/map shape differs from the
    table's conforms BY NAME (struct casts are positional: they would
    fail or silently swap same-typed fields); every other column casts to
    the nullable table type (Spark refuses to cast a nullable value into
    a non-nullable field, and NOT NULL is enforced from footer stats
    after the write). An absent column fills from its generation
    expression, then ``fill`` (append's identity expressions), then its
    default. With ``null_fill`` (mergeSchema append) anything else is
    NULL; without it an unfillable column or a nested shape mismatch
    raises SchemaError. ``col(name)`` resolves an input column (MERGE
    passes the source alias). Returns the conformed frame and the
    columns computed from their generation expression."""
    from pyspark.sql import functions as F

    col = col or F.col
    fill = fill or {}
    gen = _generated_exprs(schema)
    dflt = _default_exprs(schema)
    by_df = {f.name: f.dataType for f in df.schema.fields}
    missing = [f.name for f in schema.fields
               if f.name not in by_df and f.name not in gen
               and f.name not in fill and f.name not in dflt]
    if missing and not null_fill:
        raise SchemaError(f"input missing table columns: {missing}")
    sel, computed = [], []
    for f in schema.fields:
        src = by_df.get(f.name)
        if src is not None and not null_fill:
            extra, lacking = _nested_name_diffs(src, f.dataType)
            if extra or lacking:
                raise SchemaError(
                    f"column {f.name!r}: nested shape mismatch (input-only "
                    f"fields {extra}, table-only fields {lacking}); evolve "
                    "the table first (merge_schema=True on append or merge)"
                )
        if src is not None and _needs_nested_conform(src, f.dataType):
            sel.append(_conform_nested_expr(col(f.name), src, f.dataType)
                       .alias(f.name))
            continue
        if src is not None:
            e = col(f.name)
        elif f.name in gen:
            e = F.expr(gen[f.name])
            computed.append(f.name)
        elif f.name in fill:
            e = fill[f.name]
        elif f.name in dflt:
            e = F.expr(dflt[f.name])
        else:
            e = F.lit(None)
        sel.append(e.cast(_nullable_type(f.dataType)).alias(f.name))
    return df.select(*sel), computed


def _indexed_stat_leaves(
    logical_schema: T.StructType,
    parts: set[str],
    config: dict[str, str],
    mapped: bool,
) -> set[str] | None:
    """PHYSICAL dotted leaf paths whose per-column stats this writer
    records, or ``None`` meaning "all leaves" (no restriction configured).

    delta-spark parity for the two stats-selection knobs — the difference
    between a 40-byte and a 40-KILOBYTE stats blob per add action on a
    3000-column ML feature table, which at 100 TB is the difference
    between a manifest the driver prunes in milliseconds and one it
    can't even hold:

    - ``delta.dataSkippingStatsColumns``: comma-separated LOGICAL column
      names (nested dotted paths allowed; naming a struct indexes every
      leaf under it). Overrides NumIndexedCols. Unknown names raise
      (delta-spark validates the same way).
    - ``delta.dataSkippingNumIndexedCols`` (default 32, delta-spark's
      default; -1 = all): index the first N leaves in depth-first schema
      order.

    Leaves the ENGINE needs regardless are force-included: non-nullable
    leaves (NOT NULL enforcement reads footer nullCount — writer
    ``_enforce_not_null``) and identity columns (the high-water mark
    advances from footer max — ``_identity_hwm_meta``). Writing stats for
    extra columns is spec-legal (readers treat stats as optional,
    per-column).
    """
    stats_cols = (config.get("delta.dataSkippingStatsColumns") or "").strip()
    n_indexed = int(config.get("delta.dataSkippingNumIndexedCols", "32"))
    if not stats_cols and n_indexed < 0:
        return None

    # (logical dotted, physical dotted, leaf?, nullable, identity?) walk
    rows: list[tuple[str, str, bool, bool, bool]] = []

    def walk(lprefix: str, pprefix: str, fields) -> None:
        for f in fields:
            md = f.metadata or {}
            phys = (
                md.get("delta.columnMapping.physicalName", f.name)
                if mapped
                else f.name
            )
            lp = f"{lprefix}.{f.name}" if lprefix else f.name
            pp = f"{pprefix}.{phys}" if pprefix else phys
            if lp in parts or pp in parts:
                continue
            if isinstance(f.dataType, T.StructType):
                rows.append((lp, pp, False, f.nullable, False))
                walk(lp, pp, f.dataType.fields)
            elif not isinstance(
                f.dataType, (T.ArrayType, T.MapType, T.BinaryType)
            ):
                rows.append((
                    lp, pp, True, f.nullable,
                    "delta.identity.start" in md or "delta.identity.step" in md,
                ))

    walk("", "", logical_schema.fields)
    leaves = [r for r in rows if r[2]]

    allow: set[str] = set()
    if stats_cols:
        wanted = [c.strip().strip("`") for c in stats_cols.split(",") if c.strip()]
        known = {r[0] for r in rows}
        unknown = [c for c in wanted if c not in known]
        if unknown:
            raise SchemaError(
                f"delta.dataSkippingStatsColumns: unknown column(s) {unknown}"
            )
        for lp, pp, is_leaf, _, _ in leaves + [r for r in rows if not r[2]]:
            if any(lp == w or lp.startswith(w + ".") for w in wanted):
                if is_leaf:
                    allow.add(pp)
    else:
        allow = {pp for _, pp, _, _, _ in leaves[:n_indexed]}

    # engine-required superset: NOT NULL enforcement + identity HWM
    for lp, pp, is_leaf, nullable, ident in leaves:
        if not nullable or ident:
            allow.add(pp)
    return allow


def _stat_leaf_paths(schema: T.StructType, parts: set[str]) -> list[str]:
    """Dotted paths of every stat-able leaf, descending into structs
    (reference collects nested stats: delta_insert.cpp:114-149). Array/map
    subtrees and binary leaves carry no usable min/max and are skipped."""
    out: list[str] = []

    def walk(prefix: str, fields) -> None:
        for f in fields:
            name = f"{prefix}.{f.name}" if prefix else f.name
            if isinstance(f.dataType, T.StructType):
                walk(name, f.dataType.fields)
            elif not isinstance(
                f.dataType,
                (T.ArrayType, T.MapType, T.BinaryType, T.VariantType),
            ):
                out.append(name)

    walk("", [f for f in schema.fields if f.name not in parts])
    return out


def _set_nested(d: dict, dotted: str, value) -> None:
    keys = dotted.split(".")
    for k in keys[:-1]:
        d = d.setdefault(k, {})
    d[keys[-1]] = value


def _get_nested(d: dict | None, dotted: str):
    for k in dotted.split("."):
        if not isinstance(d, dict):
            return None
        d = d.get(k)
    return d


def _zvalue_column(src, cols: list[str], types: dict):
    """Z-value expression: per column, an 8-bit quantile-rank code
    (driver holds ≤255 approxQuantile boundaries; executors map values
    with a vectorized ``searchsorted``), bits interleaved across columns
    into one int64. Equal-depth codes make the interleave meaningful for
    ANY value distribution — raw-value bit interleaving degenerates on
    skewed or offset ranges."""
    import numpy as np
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    def as_num(c):
        t = types[c]
        col = F.col(c)
        if isinstance(t, T.DateType):
            return F.datediff(col, F.lit("1970-01-01")).cast("double")
        if isinstance(t, T.TimestampType):
            return col.cast("long").cast("double")
        return col.cast("double")

    tmp = src.select(*[as_num(c).alias(f"__z{i}") for i, c in enumerate(cols)])
    qs = [i / 256.0 for i in range(1, 256)]
    bounds = [
        np.asarray(tmp.approxQuantile(f"__z{i}", qs, 0.01), dtype="float64")
        for i in range(len(cols))
    ]
    n = len(cols)

    @pandas_udf("long")
    def zval(*series):
        import pandas as pd

        out = np.zeros(len(series[0]), dtype=np.int64)
        for i, s in enumerate(series):
            vals = s.to_numpy(dtype="float64", na_value=np.nan)
            code = np.searchsorted(bounds[i], vals, side="right").astype(
                np.int64
            )
            code = np.clip(code, 0, 255)
            code[np.isnan(vals)] = 0  # NULLs cluster at the low corner
            for b in range(8):
                out |= ((code >> b) & 1) << (b * n + i)
        return pd.Series(out)

    return zval(*[as_num(c) for c in cols])


def _parse_interval_ms(text: str | None, default_ms: int) -> int:
    """Parse a Delta interval config value ('interval 30 days',
    'interval 12 hours', …) to milliseconds; unknown/absent → default."""
    if not text:
        return default_ms
    import re

    m = re.fullmatch(
        r"\s*(?:interval\s+)?(\d+)\s*"
        r"(week|day|hour|minute|second|milli(?:second)?)s?\s*",
        text.strip(), re.IGNORECASE,
    )
    if not m:
        return default_ms
    n = int(m.group(1))
    unit = m.group(2).lower()
    scale = {
        "week": 7 * 24 * 3600 * 1000,
        "day": 24 * 3600 * 1000,
        "hour": 3600 * 1000,
        "minute": 60 * 1000,
        "second": 1000,
        "milli": 1,
        "millisecond": 1,
    }[unit]
    return n * scale


def _untighten_stats(stats: str | None) -> str | None:
    """Stats JSON with ``tightBounds`` forced false — required on every
    add that ATTACHES a deletion vector (bounds may describe masked
    rows). Unparseable/absent stats pass through untouched."""
    if not stats:
        return stats
    try:
        d = json.loads(stats)
    except json.JSONDecodeError:
        return stats
    d["tightBounds"] = False
    return json.dumps(d, separators=(",", ":"))


def _spark_stats_fallback(
    spark, paths: list[str], schema: T.StructType, parts: set[str],
    allow: set[str] | None = None,
) -> dict[str, dict]:
    """Full Delta stats via ONE Spark job when the parquet footer is
    unreadable (e.g. the VARIANT logical type is unknown to this
    pyarrow) — losing min/max on every sibling column just because a
    variant column is present would disable file skipping on the whole
    table. Returns {spark file uri: stats dict}; variant/array/map/
    binary leaves stay stat-less per spec (reference:
    write_stats_no_variant_stats.test)."""
    from pyspark.sql import functions as F

    stat_cols = _stat_leaf_paths(schema, parts)
    if allow is not None:
        stat_cols = [c for c in stat_cols if c in allow]
    aggs = [F.count(F.lit(1)).alias("__n")]
    for j, c in enumerate(stat_cols):
        aggs.append(F.min(F.col(c)).alias(f"__mn{j}"))
        aggs.append(F.max(F.col(c)).alias(f"__mx{j}"))
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__nc{j}"))
    out: dict[str, dict] = {}
    for r in (
        spark.read.parquet(*paths)
        .groupBy(F.col("_metadata.file_path").alias("__f"))
        .agg(*aggs)
        .collect()
    ):
        st: dict = {"numRecords": int(r["__n"])}
        mins: dict = {}
        maxs: dict = {}
        nulls: dict = {}
        for j, c in enumerate(stat_cols):
            mn = _json_stat_value(r[f"__mn{j}"])
            mx = _json_stat_value(r[f"__mx{j}"])
            if isinstance(mn, str):
                mn = _truncate_min(mn)
            if isinstance(mx, str):
                mx = _truncate_max(mx)
            if mn is not None:
                _set_nested(mins, c, mn)
            if mx is not None:
                _set_nested(maxs, c, mx)
            _set_nested(nulls, c, int(r[f"__nc{j}"] or 0))
        st.update(minValues=mins, maxValues=maxs, nullCount=nulls,
                  tightBounds=True)
        out[r["__f"]] = st
    return out


def _footer_stats_many(
    paths: list[str], schema: T.StructType, parts: set[str],
    max_workers: int = 16, allow: set[str] | None = None,
) -> list[tuple[dict | None, int]]:
    """(stats-or-None, file size) per path with the footer reads
    THREAD-POOLED: a thousand-file commit issues its footer reads as
    concurrent object-store round-trips, never a sequential driver loop
    (the 100-TB seam flagged in round 4 — pyarrow releases the GIL on
    IO; pattern shared with the VACUUM lister). Per-file failures map to
    (None, size): callers fall back to a Spark count for those files."""
    def one(p: str) -> tuple[dict | None, int]:
        size = os.path.getsize(p)
        try:
            return _footer_stats(p, schema, parts, allow), size
        except Exception:  # noqa: BLE001 - exotic logical types
            return None, size

    if len(paths) <= 1:
        return [one(p) for p in paths]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(max_workers, len(paths))) as ex:
        return list(ex.map(one, paths))


def _footer_stats(
    path: str, schema: T.StructType, parts: set[str],
    allow: set[str] | None = None,
) -> dict:
    """Exact per-file stats from the parquet footer (no extra Spark job):
    {numRecords, minValues, maxValues, nullCount, tightBounds}. Nested
    struct leaves appear as nested JSON objects, matching the Delta stats
    shape external engines skip on."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    meta = pf.metadata
    num_rows = meta.num_rows
    stat_cols = _stat_leaf_paths(schema, parts)
    if allow is not None:
        stat_cols = [c for c in stat_cols if c in allow]
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {c: 0 for c in stat_cols}
    seen_stats = {c: False for c in stat_cols}
    name_set = set(stat_cols)
    for rg in range(meta.num_row_groups):
        g = meta.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema  # dotted for nested leaves
            if name not in name_set:
                continue
            st = col.statistics
            if st is None:
                continue
            if st.null_count is not None:
                nulls[name] += st.null_count
            if st.has_min_max:
                seen_stats[name] = True
                mn, mx = st.min, st.max
                if name not in mins or (mn is not None and mins[name] is not None and mn < mins[name]):
                    mins[name] = mn
                if name not in maxs or (mx is not None and maxs[name] is not None and mx > maxs[name]):
                    maxs[name] = mx

    min_values: dict = {}
    max_values: dict = {}
    for c in stat_cols:
        if not seen_stats.get(c):
            continue
        mn = _json_stat_value(mins.get(c))
        mx = _json_stat_value(maxs.get(c))
        if isinstance(mn, str):
            mn = _truncate_min(mn)
        if isinstance(mx, str):
            mx = _truncate_max(mx)
        if mn is not None:
            _set_nested(min_values, c, mn)
        if mx is not None:
            _set_nested(max_values, c, mx)
    null_counts: dict = {}
    for c, v in nulls.items():
        _set_nested(null_counts, c, v)
    return {
        "numRecords": num_rows,
        "minValues": min_values,
        "maxValues": max_values,
        "nullCount": null_counts,
        "tightBounds": True,
    }


def _checkpoint_arrow_schema():
    import pyarrow as pa

    str_map = pa.map_(pa.string(), pa.string())
    dv_struct = pa.struct([
        pa.field("storageType", pa.string()),
        pa.field("pathOrInlineDv", pa.string()),
        pa.field("offset", pa.int32()),
        pa.field("sizeInBytes", pa.int32()),
        pa.field("cardinality", pa.int64()),
    ])
    return pa.schema(
        [
            pa.field("protocol", pa.struct([
                pa.field("minReaderVersion", pa.int32()),
                pa.field("minWriterVersion", pa.int32()),
                pa.field("readerFeatures", pa.list_(pa.string())),
                pa.field("writerFeatures", pa.list_(pa.string())),
            ])),
            pa.field("metaData", pa.struct([
                pa.field("id", pa.string()),
                pa.field("name", pa.string()),
                pa.field("description", pa.string()),
                pa.field("format", pa.struct([
                    pa.field("provider", pa.string()),
                    pa.field("options", str_map),
                ])),
                pa.field("schemaString", pa.string()),
                pa.field("partitionColumns", pa.list_(pa.string())),
                pa.field("configuration", str_map),
                pa.field("createdTime", pa.int64()),
            ])),
            pa.field("txn", pa.struct([
                pa.field("appId", pa.string()),
                pa.field("version", pa.int64()),
                pa.field("lastUpdated", pa.int64()),
            ])),
            pa.field("domainMetadata", pa.struct([
                pa.field("domain", pa.string()),
                pa.field("configuration", pa.string()),
                pa.field("removed", pa.bool_()),
            ])),
            pa.field("add", pa.struct([
                pa.field("path", pa.string()),
                pa.field("partitionValues", str_map),
                pa.field("size", pa.int64()),
                pa.field("modificationTime", pa.int64()),
                pa.field("dataChange", pa.bool_()),
                pa.field("stats", pa.string()),
                pa.field("tags", str_map),
                pa.field("deletionVector", dv_struct),
                pa.field("baseRowId", pa.int64()),
                pa.field("defaultRowCommitVersion", pa.int64()),
            ])),
            pa.field("remove", pa.struct([
                pa.field("path", pa.string()),
                pa.field("deletionTimestamp", pa.int64()),
                pa.field("dataChange", pa.bool_()),
                pa.field("deletionVector", dv_struct),
            ])),
        ]
    )


def _with_stats_parsed(cp_schema, table_schema: T.StructType, parts: set[str]):
    """Extend the checkpoint arrow schema's ``add`` struct with a typed
    ``stats_parsed`` field (delta.checkpoint.writeStatsAsStruct):
    {numRecords, minValues{...}, maxValues{...}, nullCount{...},
    tightBounds} with min/max leaves at the column's own type. Decimal
    leaves are left to the JSON stats (their text round-trip is exact
    there); binary/array/map carry no stats anywhere."""
    import pyarrow as pa

    arrow_of = {
        T.ByteType: pa.int8(), T.ShortType: pa.int16(),
        T.IntegerType: pa.int32(), T.LongType: pa.int64(),
        T.FloatType: pa.float32(), T.DoubleType: pa.float64(),
        T.BooleanType: pa.bool_(), T.StringType: pa.string(),
        T.DateType: pa.date32(),
        T.TimestampType: pa.timestamp("us", tz="UTC"),
        T.TimestampNTZType: pa.timestamp("us"),
    }

    def walk(fields, prefix=""):
        mm, nc = [], []
        for f in fields:
            name = f"{prefix}.{f.name}" if prefix else f.name
            if name in parts:
                continue
            if isinstance(f.dataType, T.StructType):
                smm, snc = walk(f.dataType.fields, name)
                if smm:
                    mm.append(pa.field(f.name, pa.struct(smm)))
                    nc.append(pa.field(f.name, pa.struct(snc)))
            elif type(f.dataType) in arrow_of:
                mm.append(pa.field(f.name, arrow_of[type(f.dataType)]))
                nc.append(pa.field(f.name, pa.int64()))
        return mm, nc

    mm, nc = walk(table_schema.fields)
    parsed = pa.struct([
        pa.field("numRecords", pa.int64()),
        pa.field("minValues", pa.struct(mm)),
        pa.field("maxValues", pa.struct(mm)),
        pa.field("nullCount", pa.struct(nc)),
        pa.field("tightBounds", pa.bool_()),
    ])
    out = []
    for fld in cp_schema:
        if fld.name == "add":
            add_t = pa.struct(
                list(fld.type) + [pa.field("stats_parsed", parsed)]
            )
            out.append(pa.field("add", add_t))
        else:
            out.append(fld)
    return pa.schema(out)


def _parse_stats_typed(stats_json: str | None, parsed_type):
    """stats JSON string → python dict shaped for the stats_parsed arrow
    struct, coercing ISO date/timestamp strings to typed values."""
    import datetime as _dt

    import pyarrow as pa

    if not stats_json:
        return None
    try:
        st = json.loads(stats_json)
    except ValueError:
        return None

    def coerce(value, typ):
        if value is None:
            return None
        if pa.types.is_struct(typ):
            if not isinstance(value, dict):
                return None
            return {
                f.name: coerce(value.get(f.name), f.type) for f in typ
            }
        if pa.types.is_date32(typ):
            try:
                return _dt.date.fromisoformat(str(value))
            except ValueError:
                return None
        if pa.types.is_timestamp(typ):
            try:
                s = str(value).replace("Z", "+00:00")
                ts = _dt.datetime.fromisoformat(s)
                if typ.tz is None:
                    return ts.replace(tzinfo=None)
                if ts.tzinfo is None:
                    ts = ts.replace(tzinfo=_dt.timezone.utc)
                return ts
            except ValueError:
                return None
        if pa.types.is_boolean(typ):
            return bool(value) if isinstance(value, bool) else None
        if pa.types.is_integer(typ):
            return int(value) if isinstance(value, (int, float)) else None
        if pa.types.is_floating(typ):
            return float(value) if isinstance(value, (int, float)) else None
        return str(value)

    return {
        "numRecords": st.get("numRecords"),
        "minValues": coerce(st.get("minValues") or {},
                            parsed_type.field("minValues").type),
        "maxValues": coerce(st.get("maxValues") or {},
                            parsed_type.field("maxValues").type),
        "nullCount": coerce(st.get("nullCount") or {},
                            parsed_type.field("nullCount").type),
        "tightBounds": st.get("tightBounds"),
    }
