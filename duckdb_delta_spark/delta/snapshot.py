"""Snapshot: reconciled table state at a version.

Reference analogue: ``DeltaMultiFileList`` — the lazily expanded file list +
per-file metadata (reference: src/functions/delta_scan/delta_multi_file_list.hpp:56-166,
``DeltaFileMetaData`` :22-43) plus snapshot lifecycle ``InitializeSnapshot``
(delta_multi_file_list.cpp:694-744). Incremental refresh mirrors
delta_multi_file_list.cpp:706-718: moving *forward* replays only the new log
tail on top of a cached snapshot; moving backward rebuilds.

Snapshots are immutable once built, so one process-wide cache keyed by
``(table_path, version)`` serves every caller (``DeltaTable``,
``DeltaWriter``, catalogs, ``changes()``, the streaming source and sink) —
the reference's ``PIN_SNAPSHOT`` entry cache, and delta-kernel-rs's
``Snapshot::try_new_from`` refresh. :meth:`Snapshot.build` lists the log
once (a :class:`~duckdb_delta_spark.delta.log.LogSegment`) and derives the
target version's :class:`~duckdb_delta_spark.delta.log.Replay`:

* **hit** — a cached snapshot at the target is returned only when its
  replay equals the fresh one (same checkpoint files, same compacted
  ranges, same commits) and the last file it replayed, plus any v2
  sidecar it read, still has the same ``(st_ino, st_mtime_ns,
  st_size)``. A hit therefore returns exactly what a cold build returns,
  and a table recreated at the same path, an unlinked sidecar or history
  removed by ``cleanup_expired_logs`` fall through to a build that raises
  where a cold build raises;
* **miss** — replay from the nearest cached snapshot at or below the
  target whose replay is a prefix of the fresh one and whose files pass
  the same stat check, else from the checkpoint.

The cache is bounded by file entries (:data:`_CACHE_TABLE_ENTRIES` per
table, least recently used versions first; :data:`_CACHE_TOTAL_ENTRIES`
and :data:`_CACHE_TABLES` across tables, least recently used whole tables
first); tables whose ``_delta_log`` is gone are dropped. ``log_tail`` logs
bypass it. Only builds from the log are cached: a transaction's
post-commit snapshot serves its own writer as a ``base``, while the next
open elsewhere replays the commit from the newest cached version.

The Delta ``metaData.schemaString`` is Spark's own ``StructType.json()``
format, so schema decoding is exact via ``StructType.fromJson`` — a material
simplification vs. the reference's FFI schema visitor
(reference: src/delta_utils.cpp:539-573).
"""

from __future__ import annotations

import json
import os
import threading
import urllib.parse
from collections import OrderedDict
from dataclasses import dataclass, field

from pyspark.sql.types import StructType

from duckdb_delta_spark.delta.errors import (
    MalformedLogError,
    SchemaError,
    UnsupportedFeatureError,
)
from duckdb_delta_spark.delta.log import EMPTY_REPLAY, DeltaLog, Replay
from duckdb_delta_spark.delta.logging import emit

#: reader features this engine implements; anything else in protocol.readerFeatures fails
#: writer features this engine honors when committing; a table listing
#: anything else in protocol.writerFeatures must not be written to
SUPPORTED_WRITER_FEATURES = {
    "appendOnly",
    "invariants",
    "checkConstraints",
    "deletionVectors",
    "columnMapping",
    "timestampNtz",
    "typeWidening",
    "typeWidening-preview",
    "domainMetadata",
    "vacuumProtocolCheck",
    "generatedColumns",  # computed when absent, enforced when provided (writer.py)
    "changeDataFeed",  # DML writes _change_data + cdc actions (writer._write_cdc)
    "inCommitTimestamp",  # monotonic commitInfo.inCommitTimestamp (transaction.py)
    "v2Checkpoint",  # sidecar checkpoints written by writer._checkpoint_v2
    "variantType",  # declared by create() when the schema has a variant column
    "variantType-preview",
    # shredding is a PER-FILE choice (Delta spec): appending legacy
    # two-field variant files to a shredded table is spec-legal, so the
    # feature's presence must not block writes
    "variantShredding",
    "variantShredding-preview",
    "identityColumns",  # value allocation + HWM tracking in writer.append
    "allowColumnDefaults",  # CURRENT_DEFAULT fill on append (writer.set_default)
    "clustering",  # clustered tables: delta.clustering domain metadata; OPTIMIZE clusters
    "rowTracking",  # baseRowId allocation + rowIdHighWaterMark (writer.assign_row_ids)
    # all-or-nothing history cleanup below requireCheckpointProtectionBeforeVersion
    # (writer.cleanup_expired_logs honors it; DROP FEATURE TRUNCATE HISTORY writes it)
    "checkpointProtection",
}

SUPPORTED_READER_FEATURES = {
    "deletionVectors",
    "columnMapping",
    "timestampNtz",
    "typeWidening",
    "typeWidening-preview",
    "vacuumProtocolCheck",
    "v2Checkpoint",  # UUID-named manifests (json/parquet) + _sidecars resolved in DeltaLog
    "domainMetadata",
    "appendOnly",
    "invariants",
    # Spark-4 VariantType end-to-end (parse_json write / variant_get read).
    "variantType",
    "variantType-preview",
    # Shredded layouts ({metadata, value, typed_value…} per the Parquet
    # Variant Shredding spec) reassemble inside Spark's vectorized parquet
    # reader (SparkShreddingUtils) whenever the requested schema says
    # VariantType — typed subcolumns, field/object residuals, per-file
    # shred schemas, arrays. Oracle-gated via the foreign fixture
    # (testing/foreign.build_foreign_shredded_variant).
    "variantShredding",
    "variantShredding-preview",
}


def resolve_log_path(table_path: str, raw: str) -> str:
    """A log action's ``path`` field (relative url-encoded, or absolute)
    → filesystem path. THE resolution rule — add actions
    (:meth:`AddFile.absolute_path`), cdc actions (changes._read_cdc) and
    any future consumer must share it so a path-handling fix lands
    everywhere at once."""
    p = urllib.parse.unquote(raw)
    if "://" in p or os.path.isabs(p):
        return p
    return os.path.join(table_path, p)


@dataclass(slots=True)
class AddFile:
    """One live data file (a reconciled ``add`` action)."""

    path: str  # path exactly as in the log (relative url-encoded, or absolute)
    partition_values: dict[str, str | None]
    size: int
    modification_time: int
    stats: str | None = None
    deletion_vector: dict | None = None
    tags: dict | None = None
    #: row tracking (Delta spec "Row Tracking"): fresh row id of row i in
    #: this file = base_row_id + i; None on untracked tables
    base_row_id: int | None = None
    default_row_commit_version: int | None = None

    _parsed_stats: dict | None = field(default=None, repr=False, compare=False)

    def absolute_path(self, table_path: str) -> str:
        return resolve_log_path(table_path, self.path)

    def parsed_stats(self) -> dict:
        """Parse the stats JSON once: {numRecords, minValues, maxValues, nullCount}."""
        if self._parsed_stats is None:
            try:
                self._parsed_stats = json.loads(self.stats) if self.stats else {}
            except json.JSONDecodeError:
                self._parsed_stats = {}
        return self._parsed_stats

    @property
    def num_records(self) -> int | None:
        n = self.parsed_stats().get("numRecords")
        return int(n) if n is not None else None

    def dv_unique_id(self) -> str | None:
        return _dv_unique_id(self.deletion_vector)

    def remove_action(self, now_ms: int, data_change: bool = True) -> dict:
        """The ``remove`` action retiring this file. It carries the file's
        deletion vector, so readers reconcile the (path, dvId) key."""
        remove = {
            "path": self.path,
            "deletionTimestamp": now_ms,
            "dataChange": data_change,
            "partitionValues": dict(self.partition_values),
            "size": self.size,
        }
        if self.deletion_vector:
            remove["deletionVector"] = self.deletion_vector
        return {"remove": remove}


def _dv_unique_id(dv: dict | None) -> str | None:
    if not dv:
        return None
    return f"{dv.get('storageType')}{dv.get('pathOrInlineDv')}@{dv.get('offset') or 0}"


def _file_key(path: str, dv: dict | None) -> str:
    """The add/remove primary key (path, deletionVector.uniqueId)."""
    return path + "\x00" + (_dv_unique_id(dv) or "")


class Snapshot:
    """Reconciled state of one Delta table at one version."""

    def __init__(self, log: DeltaLog, version: int):
        self.log = log
        self.version = version
        self.metadata: dict = {}
        self.protocol: dict = {"minReaderVersion": 1, "minWriterVersion": 2}
        # Reconciliation key is the Delta spec's add/remove primary key
        # (path, deletionVector.uniqueId): a commit may legitimately carry
        # add(path, dvNew) AND remove(path, dvOld) for the same path in any
        # order, so a remove only evicts the entry whose dvId matches its
        # own descriptor (kernel semantics); every action applies O(1).
        self.files: dict[str, AddFile] = {}
        #: remove tombstones: path → latest remove action (vacuum gates file
        #: deletion on remove.deletionTimestamp, not fs mtime)
        self.tombstones: dict[str, dict] = {}
        #: (storageType, pathOrInlineDv) of DV files referenced by removes →
        #: latest deletionTimestamp (vacuum retention for replaced DVs)
        self.dv_tombstones: dict[tuple, int] = {}
        self.app_transactions: dict[str, int] = {}
        #: appId -> lastUpdated epoch-ms (None when the action lacked it);
        #: drives delta.setTransactionRetentionDuration expiry at checkpoint
        self.app_txn_updated: dict[str, int | None] = {}
        self.domain_metadata: dict[str, str] = {}
        self._stats_manifest = None
        self._stats_manifest_built = False
        self._sorted_files: list[AddFile] | None = None
        self._partition_arrays: dict[str, object] = {}
        #: version of the checkpoint replay started from (None = full
        #: commit walk)
        self.checkpoint_version: int | None = None
        #: the replay this snapshot was built by (None: not a listing's
        #: replay, never cached), and the stat stamps a hit re-checks: of
        #: the last file replayed, and of the v2 sidecars read
        self._replay: Replay | None = None
        self._last: tuple | None = None
        self._sidecars: tuple[tuple | None, ...] = ()

    def __copy__(self) -> "Snapshot":
        """A shallow copy a caller may alter (e.g. a metadata overlay to
        plan under): it is never served from the cache or replayed
        forward as a base."""
        snap = Snapshot.__new__(Snapshot)
        snap.__dict__.update(self.__dict__)
        snap._replay = None
        return snap

    # ---------- construction ----------

    @classmethod
    def build(
        cls, log: DeltaLog, version: int | None = None,
        base: "Snapshot | None" = None,
        actions: "list[dict] | None" = None,
    ) -> "Snapshot":
        """Replay the log up to ``version`` (default HEAD), from one
        listing, the process-wide snapshot cache (module docstring) or
        ``base``.

        ``base``: a previously built snapshot of the same table; it
        serves like a cache entry — returned when it is the target's
        snapshot, replayed forward when its replay is a prefix of the
        target's.

        ``actions``: the TARGET commit's already-parsed actions — a
        caller walking the log commit-by-commit (CDF), or a transaction
        that has just written the commit, holds the actions it is asking
        this build to apply. With ``base`` at ``version - 1`` the build
        then neither lists the log nor reads the commit; otherwise they
        are ignored.
        """
        same_table = base is not None and base.log.table_path == log.table_path
        if (same_table and actions is not None and version is not None
                and version == base.version + 1):
            snap = base._successor(log, version)
            for action in actions:
                snap._apply(action)
            snap._validate()
            return snap._built(version, incremental=version > 0)
        segment = log.list_log_files()
        target = log.resolve_version(version, segment)
        replay = segment.replay(target)
        shared = log.log_tail is None  # log_tail logs bypass the cache
        found = _nearest(log.table_path, replay,
                         base if same_table else None, shared)
        if found is not None and found.version == target:
            return found._built(target + 1, incremental=True, cached=True)
        if found is not None:
            snap = found._successor(log, target)
            done = len(found._replay.steps)
        else:
            snap = cls(log, target)
            done = 0
        # stamped before reading: a file replaced after this stat fails
        # the next hit's check instead of passing it
        snap._last = _stamp(replay.steps[-1][2] if replay.steps
                            else replay.checkpoint_parts[0])
        if found is None and replay.checkpoint is not None:
            sidecars: list[str] = []
            snap._apply_checkpoint_columnar(log.read_checkpoint_table(
                list(replay.checkpoint_parts), sidecars))
            snap.checkpoint_version = replay.checkpoint
            snap._sidecars = tuple(_stamp(p) for p in sidecars)
        for lo, hi, path in replay.steps[done:]:
            if path.endswith(".compacted.json"):
                # minor-compacted segment covers [lo, hi]: its reconciled
                # actions stand in for the per-commit JSONs
                acts = log.read_actions_file(path)
            else:
                acts = log.read_commit(lo)
            for action in acts:
                snap._apply(action)
        snap._validate()
        start = (found.version + 1 if found is not None
                 else 0 if replay.checkpoint is None else replay.checkpoint + 1)
        snap._replay = replay
        if shared:
            _remember(snap)
        return snap._built(start, incremental=found is not None)

    def _successor(self, log: DeltaLog, version: int) -> "Snapshot":
        """A new snapshot at ``version`` holding this one's state, for
        the commits after this one to be applied onto."""
        snap = Snapshot(log, version)
        snap.metadata = dict(self.metadata)
        snap.protocol = dict(self.protocol)
        snap.files = dict(self.files)
        snap.tombstones = dict(self.tombstones)
        snap.dv_tombstones = dict(self.dv_tombstones)
        snap.app_transactions = dict(self.app_transactions)
        snap.app_txn_updated = dict(self.app_txn_updated)
        snap.domain_metadata = dict(self.domain_metadata)
        snap.checkpoint_version = self.checkpoint_version
        snap._sidecars = self._sidecars
        return snap

    def _built(self, replay_start: int, incremental: bool,
               cached: bool = False) -> "Snapshot":
        emit(
            "snapshot.build",
            table_path=self.log.table_path,
            version=self.version,
            n_files=len(self.files),
            incremental=incremental,
            replay_start=replay_start,
            cached=cached,
        )
        return self

    def _apply_checkpoint_columnar(self, table) -> None:
        """Replay a checkpoint from pyarrow columns.

        The add manifest is the bulk of a checkpoint (1M rows for a 1M-file
        table); materializing it as per-row Python dicts (``to_pylist`` of
        the full struct + recursive map normalization) is GBs of driver
        garbage. Instead each struct FIELD converts once, columnar →
        flat Python lists, and stats stay lazy JSON strings
        (SURVEY §3.1's driver-side manifest plan).
        """
        import pyarrow.compute as pc

        from duckdb_delta_spark.delta.log import _normalize_maps

        names = set(table.column_names)
        # low-cardinality actions: generic dict path is fine
        for key in ("protocol", "metaData", "txn", "domainMetadata"):
            if key not in names:
                continue
            col = table.column(key)
            if col.null_count == len(col):
                continue
            for val in pc.drop_null(col).to_pylist():
                self._apply({key: _normalize_maps(val)})

        for key, bulk in (("add", self._apply_adds_columnar),
                          ("remove", self._apply_removes_columnar)):
            if key in names:
                col = table.column(key).combine_chunks()
                if col.null_count < len(col):
                    bulk(col.drop_null())

    @staticmethod
    def _struct_field_list(arr, name: str, n: int) -> list:
        """One checkpoint struct field → flat Python list. All-null fields
        (deletionVector/tags on most tables) short-circuit: ``to_pylist``
        of 1M nulls still costs ~1s/field."""
        if name not in {f.name for f in arr.type}:
            return [None] * n
        f = arr.field(name)
        if f.null_count == n:
            return [None] * n
        return f.to_pylist()

    @staticmethod
    def _map_field_dicts(arr, name: str, n: int) -> list:
        """A map<str,str> struct field → list of dicts (or None for empty).

        ``MapArray.to_pylist`` materializes a list of (k, v) tuples per row
        — ~5s for 1M rows even when every map is EMPTY. Decoding from the
        flattened keys/items + offsets skips the tuple garbage; the common
        unpartitioned case (all offsets equal) is pure numpy."""
        if name not in {f.name for f in arr.type}:
            return [None] * n
        import pyarrow as pa

        f = arr.field(name)
        if isinstance(f, pa.ChunkedArray):
            f = f.combine_chunks()
        offs = f.offsets.to_numpy(zero_copy_only=False)
        if offs[-1] == offs[0]:  # every map empty (unpartitioned table)
            return [None] * n
        keys = f.keys.to_pylist()
        vals = f.items.to_pylist()
        return [
            dict(zip(keys[lo:hi], vals[lo:hi])) if hi > lo else None
            for lo, hi in zip(offs[:-1], offs[1:])
        ]

    def _apply_adds_columnar(self, arr) -> None:
        n = len(arr)
        fl = self._struct_field_list
        paths = fl(arr, "path", n)
        pvals = self._map_field_dicts(arr, "partitionValues", n)
        sizes = fl(arr, "size", n)
        mtimes = fl(arr, "modificationTime", n)
        stats = fl(arr, "stats", n)
        dvs = fl(arr, "deletionVector", n)
        tags = fl(arr, "tags", n)
        brids = fl(arr, "baseRowId", n)
        drcvs = fl(arr, "defaultRowCommitVersion", n)
        files = self.files
        tombstones = self.tombstones
        for i in range(n):
            f = AddFile(
                path=paths[i],
                partition_values=pvals[i] or {},
                size=int(sizes[i] or 0),
                modification_time=int(mtimes[i] or 0),
                stats=stats[i],
                deletion_vector=dvs[i],
                tags=dict(tags[i]) if isinstance(tags[i], list) else tags[i],
                base_row_id=None if brids[i] is None else int(brids[i]),
                default_row_commit_version=(
                    None if drcvs[i] is None else int(drcvs[i])
                ),
            )
            files[_file_key(f.path, f.deletion_vector)] = f
            tombstones.pop(f.path, None)

    def _apply_removes_columnar(self, arr) -> None:
        n = len(arr)
        fl = self._struct_field_list
        paths = fl(arr, "path", n)
        tss = fl(arr, "deletionTimestamp", n)
        dvs = fl(arr, "deletionVector", n)
        for i in range(n):
            self._apply(
                {"remove": {"path": paths[i],
                            "deletionTimestamp": tss[i],
                            "deletionVector": dvs[i]}})

    def _apply(self, action: dict) -> None:
        if "metaData" in action and action["metaData"]:
            self.metadata = action["metaData"]
        elif "protocol" in action and action["protocol"]:
            self.protocol = action["protocol"]
        elif "add" in action and action["add"]:
            a = action["add"]
            f = AddFile(
                path=a["path"],
                partition_values=a.get("partitionValues") or {},
                size=int(a.get("size") or 0),
                modification_time=int(a.get("modificationTime") or 0),
                stats=a.get("stats"),
                deletion_vector=a.get("deletionVector"),
                tags=a.get("tags"),
                base_row_id=(
                    None if a.get("baseRowId") is None
                    else int(a["baseRowId"])
                ),
                default_row_commit_version=(
                    None if a.get("defaultRowCommitVersion") is None
                    else int(a["defaultRowCommitVersion"])
                ),
            )
            # same (path, dvId) replaces; a different dvId for the same path
            # coexists until its remove tombstone lands (spec reconciliation)
            self.files[_file_key(f.path, f.deletion_vector)] = f
            self.tombstones.pop(f.path, None)
        elif "remove" in action and action["remove"]:
            r = action["remove"]
            path = r["path"]
            dv = r.get("deletionVector")
            evicted = self.files.pop(_file_key(path, dv), None)
            ts = int(r.get("deletionTimestamp") or 0)
            prev = self.tombstones.get(path)
            if prev is None or int(prev.get("deletionTimestamp") or 0) <= ts:
                self.tombstones[path] = r
            # the removed entry's DV file becomes vacuum-able after retention
            for d in (dv, evicted.deletion_vector if evicted else None):
                if d and d.get("storageType") in ("u", "p"):
                    key = (d["storageType"], d["pathOrInlineDv"])
                    self.dv_tombstones[key] = max(self.dv_tombstones.get(key, 0), ts)
        elif "txn" in action and action["txn"]:
            t = action["txn"]
            self.app_transactions[t["appId"]] = int(t["version"])
            lu = t.get("lastUpdated")
            self.app_txn_updated[t["appId"]] = (
                int(lu) if lu is not None else None)
        elif "domainMetadata" in action and action["domainMetadata"]:
            d = action["domainMetadata"]
            if d.get("removed"):
                self.domain_metadata.pop(d["domain"], None)
            else:
                self.domain_metadata[d["domain"]] = d.get("configuration", "")

    def _validate(self) -> None:
        if not self.metadata:
            raise MalformedLogError(
                f"no metaData action found replaying {self.log.table_path} @v{self.version}"
            )
        reader = int(self.protocol.get("minReaderVersion", 1))
        if reader >= 3:
            feats = set(self.protocol.get("readerFeatures") or [])
            unsupported = feats - SUPPORTED_READER_FEATURES
            if unsupported:
                raise UnsupportedFeatureError(
                    f"reader features not supported: {sorted(unsupported)}"
                )

    def verify_checksum(self) -> dict | None:
        """Cross-check this snapshot against the writer's ``<v>.crc``
        VersionChecksum (delta-spark parity). Returns the checksum dict
        when it exists and matches, None when no checksum was written;
        raises MalformedLogError on any aggregate mismatch — the cheap
        tripwire for a torn or tampered log."""
        path = os.path.join(self.log.log_path, f"{self.version:020d}.crc")
        if not os.path.isfile(path):
            return None
        try:
            with open(path, encoding="utf-8") as f:
                crc = json.load(f)
        except (OSError, json.JSONDecodeError) as e:
            raise MalformedLogError(
                f"unreadable checksum file {path}: {e}"
            ) from None
        files = self.add_files()
        actual = {
            "numFiles": len(files),
            "tableSizeBytes": int(sum(f.size for f in files)),
        }
        for key, got in actual.items():
            want = crc.get(key)
            if want is not None and int(want) != got:
                raise MalformedLogError(
                    f"checksum mismatch at version {self.version}: "
                    f"{key} is {got}, {os.path.basename(path)} says {want}"
                )
        return crc

    # ---------- derived properties ----------

    @property
    def schema(self) -> StructType:
        raw = self.metadata.get("schemaString")
        if not raw:
            raise SchemaError(f"metaData.schemaString missing at {self.log.table_path}")
        try:
            return StructType.fromJson(json.loads(raw))
        except Exception as e:  # noqa: BLE001 - surface as taxonomy error
            raise SchemaError(f"unparseable schemaString: {e}") from None

    @property
    def partition_columns(self) -> list[str]:
        return list(self.metadata.get("partitionColumns") or [])

    @property
    def configuration(self) -> dict[str, str]:
        return dict(self.metadata.get("configuration") or {})

    @property
    def column_mapping_mode(self) -> str:
        return self.configuration.get("delta.columnMapping.mode", "none")

    @property
    def materialized_row_id_cols(self) -> tuple[str | None, str | None]:
        """(row-id column, row-commit-version column) PHYSICAL names under
        which preserved row ids are materialized in rewritten data files
        (Delta spec "Row Tracking": dataChange=false rewrites must keep
        row ids stable; the names live in table configuration)."""
        c = self.configuration
        return (
            c.get("delta.rowTracking.materializedRowIdColumnName"),
            c.get("delta.rowTracking.materializedRowCommitVersionColumnName"),
        )

    @property
    def clustering_columns(self) -> list[str]:
        """LOGICAL clustering column names of a clustered table (Delta
        spec "Clustered Table": the ``delta.clustering`` domain metadata
        holds ``clusteringColumns`` as physical-name paths; the
        ``clustering`` writer feature gates it). Empty for unclustered
        tables. Physical names map back to logical through the schema's
        columnMapping metadata."""
        raw = self.domain_metadata.get("delta.clustering")
        if not raw:
            return []
        try:
            cols = (json.loads(raw) or {}).get("clusteringColumns") or []
        except (ValueError, AttributeError):
            return []
        phys2log = {}
        for f in self.schema.fields:
            md = f.metadata or {}
            phys2log[md.get("delta.columnMapping.physicalName", f.name)] = f.name
        out = []
        for path in cols:
            name = path[0] if isinstance(path, (list, tuple)) else path
            out.append(phys2log.get(name, name))
        return out

    def add_files(self) -> list[AddFile]:
        """Live files in deterministic (path) order. The sort is cached
        (len-guarded; snapshots are immutable once built) — at 1M files
        re-sorting per prune would dominate planning time."""
        if self._sorted_files is None or len(self._sorted_files) != len(
            self.files
        ):
            self._sorted_files = sorted(
                self.files.values(), key=lambda f: f.path
            )
        return list(self._sorted_files)

    def partition_array(self, col: str):
        """Partition values of ``col`` as one arrow string array (row i =
        ``add_files()[i]``; None/'' → null), cached — a pinned snapshot
        re-plans many queries and must not rebuild the per-file Python
        list each time at 1M files."""
        arr = self._partition_arrays.get(col)
        if arr is None or len(arr) != len(self.files):
            import pyarrow as pa

            vals = [f.partition_values.get(col) for f in self.add_files()]
            arr = pa.array(
                [None if v in (None, "") else str(v) for v in vals],
                type=pa.string(),
            )
            self._partition_arrays[col] = arr
        return arr

    def stats_manifest(self):
        """Parsed add-file stats as ONE columnar pyarrow table (row i =
        ``add_files()[i]``; columns numRecords/minValues/maxValues/
        nullCount as parsed by pyarrow's C++ JSON reader). This is what
        keeps manifest pruning off the per-file-Python-JSON path: at 1M
        add-files a per-file ``json.loads`` + predicate loop is tens of
        driver seconds per query plan; one batched ``read_json`` plus
        vectorized compute is sub-second. Cached (snapshots are
        immutable). None when the batch parse fails (heterogeneous stats
        types across files, exotic layouts) — callers fall back to
        ``AddFile.parsed_stats``."""
        if not self._stats_manifest_built:
            import io

            import pyarrow.json as pj

            manifest = None
            files = self.add_files()
            if files and any(f.stats for f in files):
                payload = b"\n".join(
                    (f.stats or "{}").encode("utf-8") for f in files
                )
                try:
                    tbl = pj.read_json(
                        io.BytesIO(payload),
                        parse_options=pj.ParseOptions(newlines_in_values=True),
                    )
                    if tbl.num_rows == len(files):
                        manifest = tbl.combine_chunks()
                except Exception:  # noqa: BLE001 - fallback path is exact
                    pass
            # the flag goes up only after the manifest is stored, and the
            # first thread to publish wins: a snapshot shared across
            # threads hands every caller the same table
            with _manifest_lock:
                if not self._stats_manifest_built:
                    self._stats_manifest = manifest
                    self._stats_manifest_built = True
        return self._stats_manifest

    def num_records_estimate(self) -> int | None:
        """Sum of per-file numRecords stats — the reference's optimizer
        cardinality (reference: delta_multi_file_list.cpp:1046-1071
        ``GetCardinality``). None when any file lacks stats."""
        total = 0
        for f in self.files.values():
            n = f.num_records
            if n is None:
                return None
            dv = f.deletion_vector
            total += n - int(dv.get("cardinality") or 0) if dv else n
        return total

    def transaction_version(self, app_id: str) -> int | None:
        """Latest committed txn version for an app (reference:
        src/functions/delta_transaction_utils/idempotency_helpers.cpp:41-145)."""
        return self.app_transactions.get(app_id)


# ---------- the process-wide snapshot cache (module docstring) ----------

#: file entries (live files + tombstones) one table's cached snapshots
#: may hold before its least recently used versions are dropped
_CACHE_TABLE_ENTRIES = 20_000
#: file entries, and tables, all cached snapshots may hold before the
#: least recently used whole tables are dropped
_CACHE_TOTAL_ENTRIES = 100_000
_CACHE_TABLES = 64

_cache_lock = threading.Lock()
_manifest_lock = threading.Lock()
#: table path → [file entries, version → snapshot], both levels in LRU order
_cache: "OrderedDict[str, list]" = OrderedDict()


def clear_snapshot_cache() -> None:
    """Forget every cached snapshot (the next build of any table is cold)."""
    with _cache_lock:
        _cache.clear()


def record_commit(post: Snapshot, base: Snapshot, path: str) -> None:
    """Give ``post`` — the snapshot a transaction built by applying the
    commit it wrote at ``path`` to ``base`` — the replay (``base``'s, then
    that commit) and stamp that let the writer's next build reuse it as
    its ``base``. It is not put in the shared cache: it holds the
    writer's in-memory actions, while every other open gets what the log
    says."""
    prev = base._replay or (EMPTY_REPLAY if base.version < 0 else None)
    if prev is not None:
        post._replay = prev.then(post.version, path)
        post._last = _stamp(path)


def _stamp(path: str) -> tuple | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (path, st.st_ino, st.st_mtime_ns, st.st_size)


def _unchanged(snap: Snapshot) -> bool:
    return all(s is not None and _stamp(s[0]) == s
               for s in (snap._last, *snap._sidecars))


def _nearest(table_path: str, replay: Replay, base: Snapshot | None,
             shared: bool) -> Snapshot | None:
    """The newest snapshot — ``base`` or, when ``shared``, a cached one —
    at or below ``replay.version`` whose replay is a prefix of
    ``replay`` and whose stamped files are unchanged."""
    candidates = [base] if base is not None and base._replay is not None else []
    if shared:
        with _cache_lock:
            entry = _cache.get(table_path)
            if entry is not None:
                candidates += [s for v, s in entry[1].items()
                               if v <= replay.version]
    for snap in sorted(candidates, key=lambda s: s.version, reverse=True):
        if replay.extends(snap._replay) and _unchanged(snap):
            if shared:
                with _cache_lock:
                    entry = _cache.get(table_path)
                    if entry is not None and entry[1].get(snap.version) is snap:
                        entry[1].move_to_end(snap.version)
                        _cache.move_to_end(table_path)
            return snap
    return None


def _entries(snap: Snapshot) -> int:
    return len(snap.files) + len(snap.tombstones) + 1


def _remember(snap: Snapshot) -> None:
    if snap._last is None or None in snap._sidecars:
        return  # a file vanished while building: nothing to re-check
    path = snap.log.table_path
    with _cache_lock:
        entry = _cache.get(path)
        if entry is None:
            # a new table: first forget tables whose log is gone
            for p in [p for p in _cache
                      if not os.path.isdir(os.path.join(p, "_delta_log"))]:
                del _cache[p]
            entry = _cache[path] = [0, OrderedDict()]
        versions = entry[1]
        old = versions.pop(snap.version, None)
        if old is not None:
            entry[0] -= _entries(old)
        versions[snap.version] = snap
        entry[0] += _entries(snap)
        _cache.move_to_end(path)
        while entry[0] > _CACHE_TABLE_ENTRIES and len(versions) > 1:
            entry[0] -= _entries(versions.popitem(last=False)[1])
        while len(_cache) > 1 and (
                len(_cache) > _CACHE_TABLES
                or sum(e[0] for e in _cache.values()) > _CACHE_TOTAL_ENTRIES):
            _cache.popitem(last=False)
