"""Structured Streaming source for Delta tables (Python DataSource API).

Spark-native incremental consumption: offsets are Delta log VERSIONS, a
micro-batch is the set of data files the commits in ``(start, end]``
added, and each file is one input partition read executor-side with
pyarrow — so `readStream.format("delta_py")` follows a table commit by
commit exactly like delta-spark's streaming source follows appends.

Semantics: append-driven. Commits whose adds are ``dataChange: false``
(OPTIMIZE) are skipped outright; a commit that REMOVES data with
``dataChange: true`` (DELETE/UPDATE/MERGE/RESTORE) fails the stream
unless ``ignoreChanges=true`` (then its added image files still flow, the
standard delta-spark contract). Deletion-vector masks on newly added
files are honored by dropping masked row indexes at read time.

Usage::

    from duckdb_delta_spark.streaming.delta_source import DeltaPySource
    spark.dataSource.register(DeltaPySource)
    df = (spark.readStream.format("delta_py")
          .option("path", table_path)
          .option("startingVersion", "0")   # default: table HEAD at start
          .load())
"""

from __future__ import annotations

import json
import os
import urllib.parse
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from duckdb_delta_spark.delta import mapping


@dataclass
class _FileRef:
    """One data file inside a split.

    ``change_type`` is None on the plain stream; on a readChangeFeed
    stream it is ``insert``/``delete`` (log-derived), ``__cdc__`` (a
    ``_change_data`` file whose rows carry their own ``_change_type``),
    or ``__dv_diff__`` (a DV re-add: ``diff_pair`` carries the
    ``[dvNew, dvOld]`` descriptor pair, and the EXECUTOR decodes both
    vectors next to the file bytes and emits dvNew−dvOld rows as deletes
    plus dvOld−dvNew rows as inserts from one file read — the driver
    never materializes a row-index list, mirroring the batch feed's
    big-diff route in delta/changes._rows_at_big).
    ``dv`` rows are EXCLUDED at read time."""

    path: str  # absolute data-file path
    partition_values: tuple  # ((col, value or None), ...)
    dv: str | None  # deletion-vector descriptor JSON
    size: int = 0
    change_type: str | None = None
    commit_version: int = -1
    commit_ts: int = 0  # epoch ms
    diff_pair: str | None = None  # JSON [dvNew, dvOld] for __dv_diff__


@dataclass
class _SplitSlice(InputPartition):
    """One input partition = one or more PACKED files (Spark's own
    FilePartition strategy): a micro-batch over a backlog of thousands
    of small files must not become thousands of tasks — each task costs
    a Python-worker spawn + scheduler overhead, so small files are
    binned up to maxSplitBytes = min(maxBytesPerPartition,
    max(4MB open cost, total/minPartitions)), exactly the formula
    Spark's FileSourceScanExec uses for parquet splits."""

    files: tuple  # of _FileRef
    table_path: str


class DeltaPySource(DataSource):
    """``format("delta_py")`` — Delta table as a STREAMING source/sink
    through the Python DataSource API (batch reads use the native
    ``DeltaTable.to_df`` scan, which owns pruning/DV/column mapping)."""

    @classmethod
    def name(cls) -> str:
        return "delta_py"

    def __init__(self, options):
        super().__init__(options)
        self._path = options.get("path")
        if not self._path:
            raise ValueError("delta_py requires .option('path', <table dir>)")

    def schema(self) -> StructType:
        from pyspark.sql import types as T

        from duckdb_delta_spark.delta.log import DeltaLog
        from duckdb_delta_spark.delta.snapshot import Snapshot

        snap = Snapshot.build(DeltaLog(self._path))
        fields = list(snap.schema.fields)
        sel = self.options.get("select")
        if sel:
            # .option('select', 'a,b,c') — projection pushdown: the
            # stream's schema is the subset, and the reader prunes the
            # parquet column read to it (the Python DataSource bridge
            # has no native column-pruning hook, so a downstream
            # .select() alone would still READ every column)
            names = [c.strip() for c in str(sel).split(",") if c.strip()]
            by = {f.name: f for f in fields}
            unknown = [c for c in names if c not in by]
            if unknown:
                raise ValueError(
                    f"select option names unknown columns {unknown}; "
                    f"table has {sorted(by)}")
            fields = [by[c] for c in names]
        if str(self.options.get("readChangeFeed", "false")).lower() == "true":
            from duckdb_delta_spark.delta.changes import (
                CHANGE_TYPE,
                COMMIT_TIMESTAMP,
                COMMIT_VERSION,
            )

            fields = fields + [
                T.StructField(CHANGE_TYPE, T.StringType()),
                T.StructField(COMMIT_VERSION, T.LongType()),
                T.StructField(COMMIT_TIMESTAMP, T.TimestampType()),
            ]
        return T.StructType(fields)

    def streamReader(self, schema: StructType) -> "DeltaStreamReader":
        return DeltaStreamReader(self._path, schema, self.options)

    def streamWriter(self, schema: StructType, overwrite: bool) -> "DeltaStreamWriter":
        return DeltaStreamWriter(self._path, schema, self.options)


class DeltaStreamReader(DataSourceStreamReader):
    def __init__(self, table_path: str, schema: StructType, options):
        from duckdb_delta_spark.delta.log import DeltaLog
        from duckdb_delta_spark.delta.snapshot import Snapshot

        self.table_path = os.path.abspath(table_path)
        self.schema = schema
        self.ignore_changes = (
            str(options.get("ignoreChanges", "false")).lower() == "true"
        )
        #: delta-spark parity: ignoreDeletes admits DELETE-ONLY commits
        #: (removes, no adds) silently; skipChangeCommits skips any
        #: data-changing commit that carries removes ENTIRELY (its adds
        #: are rewrite images, not new data)
        self.ignore_deletes = (
            str(options.get("ignoreDeletes", "false")).lower() == "true"
        )
        self.skip_change_commits = (
            str(options.get("skipChangeCommits", "false")).lower() == "true"
        )
        #: delta-spark parity: .option('readChangeFeed','true') streams
        #: CDF rows (schema + _change_type/_commit_version/_commit_
        #: timestamp) instead of the table rows. Like the batch feed
        #: (delta/changes.py) it is log-DERIVED, so it works on tables
        #: that never wrote _change_data; commits that DID write cdc
        #: files are consumed through them exclusively (Delta spec).
        self.read_change_feed = (
            str(options.get("readChangeFeed", "false")).lower() == "true"
        )
        #: .option('where', '<sql clause>') — predicate pushdown for the
        #: stream: files whose partition values / stats disprove the
        #: clause never enter a micro-batch (driver-side prune, same
        #: evaluator as the batch scan), and surviving files are
        #: row-filtered executor-side over the Arrow batches, so the
        #: option is EXACT on its own. A stream over a 100-TB partitioned
        #: table reading one partition plans + reads only that partition.
        #: on a readChangeFeed stream the option is ROW-LEVEL ONLY (file
        #: pruning would be unsound for the feed's delete derivation:
        #: every masked file must stay planned so DV diffs and
        #: dropped-path deletes materialize) — rows filter executor-side
        #: AFTER projection, so _change_type/_commit_version are
        #: filterable columns too.
        wsql = options.get("where")
        self.where_preds = []
        if wsql:
            from duckdb_delta_spark.delta.predicates import parse_where

            self.where_preds = parse_where(str(wsql))
        #: delta-spark parity: cap how many FILES one micro-batch admits.
        #: On a 100-TB backlog the first batch otherwise swallows the
        #: whole table; with the cap, latestOffset advances commit-by-
        #: commit until the file budget is spent (always ≥ 1 commit so
        #: the stream can't stall on an over-budget commit).
        #: NOTE trigger(availableNow) + this cap: the Python-source
        #: bridge has no prepareForTriggerAvailableNow, so Spark fixes
        #: ONE rate-limited latestOffset as the run's end — each
        #: availableNow run advances one capped batch (exactly-once, no
        #: loss); use a continuous trigger to drain a rate-limited
        #: backlog in one run (tests/test_streaming.py restart golden).
        mft = options.get("maxFilesPerTrigger")
        self.max_files_per_trigger = int(mft) if mft is not None else None
        #: delta-spark parity: soft byte cap per micro-batch (admits whole
        #: commits until the byte budget is spent, always ≥ 1 commit).
        #: Composes with maxFilesPerTrigger — whichever budget runs out
        #: first ends the batch.
        mbt = options.get("maxBytesPerTrigger")
        self.max_bytes_per_trigger = int(mbt) if mbt is not None else None
        #: .option('drainAll','true') — backfill the WHOLE backlog in one
        #: micro-batch: latestOffset ignores the per-trigger caps and
        #: returns HEAD, so one availableNow lifecycle (which the bridge
        #: pins to a single batch, lacking prepareForTriggerAvailableNow)
        #: drains everything instead of one capped batch per ~1.2-1.5s
        #: process lifecycle. Executor memory stays bounded regardless:
        #: _pack_splits caps every task at maxBytesPerPartition, which is
        #: the WITHIN-batch budget the trigger caps can't provide anyway.
        #: Exactly-once granularity coarsens to the whole backlog (a
        #: mid-drain failure replays from the start), the documented
        #: availableNow-fallback trade.
        self.drain_all = (
            str(options.get("drainAll", "false")).lower() == "true"
        )
        #: Arrow batch emit shape (guide §4: fewer, larger batches across
        #: the Python↔JVM socket). Default 'combined' concatenates each
        #: file's chunked columns once and emits ONE record batch per
        #: file instead of one per parquet row group — same bytes, a
        #: fraction of the socket frames and JVM-side batch handling.
        #: 'chunks' keeps the historical per-row-group emit (the A/B
        #: lever; also the right choice if a caller needs to bound peak
        #: batch size below file size).
        self.arrow_emit = str(options.get("arrowEmitMode", "combined"))
        if self.arrow_emit not in ("combined", "chunks"):
            raise ValueError(
                f"arrowEmitMode must be 'combined' or 'chunks', "
                f"got {self.arrow_emit!r}"
            )
        #: split packing knobs (see _pack_splits): defaults mirror
        #: spark.sql.files.maxPartitionBytes and a per-host core floor
        self.max_bytes_per_partition = int(
            options.get("maxBytesPerPartition", 128 << 20))
        self.min_partitions = int(
            options.get("minPartitions", os.cpu_count() or 8))
        self._rate_pos: int | None = None  # last offset handed to Spark
        self._n_adds_cache: dict[int, int] = {}
        self._log = DeltaLog(self.table_path)
        start = options.get("startingVersion")
        start_ts = options.get("startingTimestamp")
        if start is not None and start_ts is not None:
            raise ValueError(
                "pass either startingVersion or startingTimestamp, not both"
            )
        if start_ts is not None:
            # delta-spark semantics: start at the first commit AT or
            # AFTER the timestamp
            from duckdb_delta_spark.delta.table import _to_epoch_ms

            ms = _to_epoch_ms(start_ts)
            try:
                at = self._log.version_at_timestamp(ms)
                # version_at_timestamp = latest commit <= ts; the stream
                # starts at the next commit unless that commit is exactly
                # at the timestamp
                start = at if self._log.commit_timestamp(at) >= ms \
                    else at + 1
            except Exception:  # noqa: BLE001 - ts before table: start at 0
                start = 0
        if start is None:
            self._initial = self._log.latest_version()
        else:
            self._initial = int(start) - 1  # first batch INCLUDES this version
        # partition columns fixed at stream start
        snap = Snapshot.build(self._log)
        self._partition_columns = snap.partition_columns
        #: full table schema, kept for typing where-only columns that a
        #: select-projected stream still needs to READ for filtering
        self._full_schema = snap.schema
        #: the version whose schema the stream is pinned to — a CDF
        #: stream validates every served commit's schema era against it
        #: and fails LOUDLY on a non-additive boundary (_check_cdf_schema)
        self._pinned_version = snap.version
        #: schema eras already validated against the pinned schema,
        #: keyed by DIRECTION (era ≤ pinned vs era > pinned) — the two
        #: directions check opposite containments (old→pinned admits
        #: pure adds, pinned→new admits drops-of-post-pin adds), so a
        #: schema validated as an OLDER era must NOT be trusted when the
        #: same schema reappears AFTER the pin (column added at pin,
        #: then dropped post-pin: the post-pin DROP must still raise).
        #: Object references kept alive so identity checks stay sound.
        self._cdf_schema_ok_old: list = []
        self._cdf_schema_ok_new: list = []
        #: .option('schemaTrackingDir', <dir>) — delta-spark's
        #: ``schemaTrackingLocation`` analogue: when a non-additive
        #: boundary fails the stream, the boundary version is PERSISTED
        #: to <dir>/boundary.json before raising; a RESTARTED reader
        #: (which naturally re-pins at HEAD) sees the record and serves
        #: pre-pin eras under the pinned schema via columnMapping-id /
        #: physicalName matching (_non_additive_changes, relaxed) — renames
        #: relabel, drops project away, adds null-fill — so recovery is
        #: ONE restart from the checkpointed offset instead of a manual
        #: startingVersion computation. Without the option, today's
        #: fail-loud behavior is unchanged.
        self._schema_tracking_dir = options.get("schemaTrackingDir")
        self._auto_advance = False
        self._tracked_boundary: int | None = None
        if self._schema_tracking_dir:
            rec = os.path.join(self._schema_tracking_dir, "boundary.json")
            if os.path.isfile(rec):
                # the record gates a SEMANTIC relaxation (eras before the
                # acknowledged boundary are served relabeled) — a corrupt
                # or hand-edited record must be LOUD, not silently treated
                # as absent (which would re-fail an already-acknowledged
                # boundary) nor trusted (garbage version)
                from duckdb_delta_spark.delta.errors import SchemaError

                try:
                    with open(rec) as fh:
                        b = int(json.load(fh)["version"])
                    if b < 0:
                        raise ValueError(f"negative version {b}")
                except (ValueError, KeyError, OSError, TypeError) as e:
                    raise SchemaError(
                        f"schemaTrackingDir record {rec} is unreadable or "
                        f"corrupt: {e!r}. Delete the file to reset "
                        "tracking — the stream then fails loudly at the "
                        "next schema boundary and re-records it."
                    ) from e
                self._auto_advance = True
                self._tracked_boundary = b
        self.select = bool(options.get("select"))
        #: column mapping (name/id mode): files + stats + partitionValues
        #: carry PHYSICAL names at EVERY nesting level — top-level columns
        #: resolve through ``_phys``, nested struct fields are renamed
        #: executor-side by :func:`_to_logical_arrow` (physical-name
        #: matching, the spec's resolution rule), and where-option paths
        #: translate through ``_phys_paths`` before pruning.
        self._phys: dict[str, str] = {}
        self._phys_paths: dict[str, str] = {}
        if snap.column_mapping_mode != "none":
            from pyspark.sql import types as T

            self._phys = mapping.name_map(snap.schema)
            self._phys_paths = mapping.physical_path_map(snap.schema)
            # the schema Spark hands back may have been stripped of field
            # metadata in transit; the nested rename needs the
            # physicalName annotations, so re-source data fields from the
            # snapshot schema (CDF meta columns pass through untouched)
            full_by = {f.name: f for f in snap.schema.fields}
            self.schema = T.StructType(
                [full_by.get(f.name, f) for f in self.schema.fields]
            )
        #: driver-side pruning twin of where_preds with columns translated
        #: logical→physical — add-action partitionValues/stats are keyed
        #: by PHYSICAL names on mapped tables, so evaluating logical-named
        #: preds against them would read every partition key as NULL and
        #: '=' would silently skip EVERY file (mirrors the batch scan's
        #: xlate, scan.py:706-731). Row filtering keeps the LOGICAL
        #: preds: it runs over the projected table, already renamed.
        self._pcols_phys = [
            self._phys.get(c, c) for c in self._partition_columns
        ]
        self._where_preds_phys = (
            [self._xlate_pred(p) for p in self.where_preds]
            if self._phys else self.where_preds
        )

    def _xlate_pred(self, p):
        """Pred/OrPred with its column path translated to the log's
        physical dotted path (nested levels included, via the snapshot's
        physical_path_map — same translation the batch scan applies,
        scan.py:706-731)."""
        from duckdb_delta_spark.delta.scan import OrPred, Pred

        if isinstance(p, OrPred):
            return OrPred(
                [[self._xlate_pred(q) for q in br] for br in p.branches]
            )
        col = self._phys_paths.get(p.column)
        if col is None:
            head, _, rest = p.column.partition(".")
            col = self._phys.get(head, head) + ("." + rest if rest else "")
        return Pred(col, p.op, p.value)

    # ---- offsets ----

    def initialOffset(self) -> dict:
        return {"version": self._initial}

    def latestOffset(self) -> dict:
        head = self._log.latest_version()
        if self.drain_all or (self.max_files_per_trigger is None
                              and self.max_bytes_per_trigger is None):
            return {"version": head}
        base = self._rate_pos if self._rate_pos is not None else self._initial
        f_budget = self.max_files_per_trigger or float("inf")
        b_budget = self.max_bytes_per_trigger or float("inf")
        v = base
        admitted = 0  # data files admitted — "≥1 commit" means ≥1 WITH data
        while v < head:
            n, b = self._n_adds(v + 1)
            if admitted and (n > f_budget or b > b_budget):
                break
            v += 1
            admitted += n
            f_budget -= n
            b_budget -= b
            if admitted and (f_budget <= 0 or b_budget <= 0):
                break
        self._rate_pos = v
        return {"version": v}

    def _n_adds(self, version: int) -> tuple[int, int]:
        """Per-commit (add-file count, add bytes), cached — rate-limited
        polling walks the same commits every trigger; commits are
        immutable so the numbers never change."""
        n = self._n_adds_cache.get(version)
        if n is None:
            adds = self._classify(version)[0]
            n = self._n_adds_cache[version] = (
                len(adds), sum(int(a.get("size") or 0) for a in adds)
            )
        return n

    def partitions(self, start: dict, end: dict):
        import time as _time

        _t0 = _time.time()
        # Restart safety: a fresh reader instance starts with
        # _rate_pos=None and would fall back to self._initial in
        # latestOffset, handing Spark an offset BEHIND its committed
        # offset (offsets are opaque, so the regressed batch would be
        # planned and re-emit already-processed commits). Clamp the
        # cursor to observed progress: it never starts behind the last
        # batch start Spark has shown us.
        prev = self._rate_pos if self._rate_pos is not None else -1
        self._rate_pos = max(prev, int(start["version"]))
        if self.read_change_feed:
            files = self._cdf_file_refs(
                int(start["version"]), int(end["version"])
            )
            parts = self._pack_splits(files)
            from duckdb_delta_spark.delta.logging import emit

            emit(
                "stream.source.plan",
                table_path=self.table_path,
                start_version=int(start["version"]),
                end_version=int(end["version"]),
                n_files=len(files),
                n_slices=len(parts),
                change_feed=True,
                duration_ms=int((_time.time() - _t0) * 1000),
            )
            return parts
        files: list[_FileRef] = []
        for v in range(int(start["version"]) + 1, int(end["version"]) + 1):
            adds, has_removal = self._classify(v)
            if has_removal:
                if self.skip_change_commits:
                    continue  # rewrite images are not new data
                if not adds and self.ignore_deletes:
                    continue
                if not self.ignore_changes:
                    raise ValueError(
                        f"commit {v} removes data; streaming a table with "
                        "updates/deletes requires "
                        ".option('ignoreChanges','true') (or "
                        "'skipChangeCommits'/'ignoreDeletes')"
                    )
            for a in adds:
                if not self._admit(a):
                    continue  # where-option pruned (partition/stats proof)
                rel = urllib.parse.unquote(a["path"])
                full = (
                    rel
                    if "://" in rel or os.path.isabs(rel)
                    else os.path.join(self.table_path, rel)
                )
                pv = a.get("partitionValues") or {}
                files.append(
                    _FileRef(
                        path=full,
                        partition_values=tuple(
                            (c, pv.get(self._phys.get(c, c)))
                            for c in self._partition_columns
                        ),
                        dv=json.dumps(a["deletionVector"])
                        if a.get("deletionVector")
                        else None,
                        size=int(a.get("size") or 0),
                    )
                )
        parts = self._pack_splits(files)
        from duckdb_delta_spark.delta.logging import emit

        emit(
            "stream.source.plan",
            table_path=self.table_path,
            start_version=int(start["version"]),
            end_version=int(end["version"]),
            n_files=len(files),
            n_slices=len(parts),
            duration_ms=int((_time.time() - _t0) * 1000),
        )
        return parts

    def _pack_splits(self, files: list[_FileRef]) -> list[_SplitSlice]:
        """Bin files into input partitions with Spark's FilePartition
        formula. One task per FILE does not scale down (a 10k-small-file
        backlog would spawn 10k Python workers for a few MB each) nor up
        (tiny tasks drown in scheduler overhead); one task per
        ~maxSplitBytes of data is what Spark's own parquet scan does.
        Order is preserved (commit order → locality within a split)."""
        if not files:
            return []
        open_cost = 4 << 20  # spark.sql.files.openCostInBytes default
        max_pb = int(self.max_bytes_per_partition)
        min_parts = max(1, int(self.min_partitions))
        total = sum(f.size + open_cost for f in files)
        split_bytes = min(max_pb, max(open_cost, total // min_parts + 1))
        out: list[_SplitSlice] = []
        cur: list[_FileRef] = []
        cur_bytes = 0
        for f in files:
            w = f.size + open_cost
            if cur and cur_bytes + w > split_bytes:
                out.append(_SplitSlice(files=tuple(cur),
                                       table_path=self.table_path))
                cur, cur_bytes = [], 0
            cur.append(f)
            cur_bytes += w
        if cur:
            out.append(_SplitSlice(files=tuple(cur),
                                   table_path=self.table_path))
        return out

    def _admit(self, a: dict) -> bool:
        """where-option file pruning: same conservative evaluator as the
        batch scan (partition values exact, stats min/max/nullCount,
        missing evidence keeps). Uses the PHYSICAL-name twins of the
        preds and partition columns — the add action's partitionValues
        and stats carry physical keys on column-mapped tables."""
        if not self.where_preds:
            return True
        from duckdb_delta_spark.delta.scan import file_may_match
        from duckdb_delta_spark.delta.snapshot import AddFile

        f = AddFile(
            path=a["path"],
            partition_values=a.get("partitionValues") or {},
            size=int(a.get("size") or 0),
            modification_time=0,
            stats=a.get("stats"),
            deletion_vector=a.get("deletionVector"),
        )
        return all(
            file_may_match(f, p, self._pcols_phys)
            for p in self._where_preds_phys
        )

    def _classify(self, version: int):
        adds, removes, cdcs = self._classify_full(version)
        return adds, bool(removes)

    def _classify_full(self, version: int, actions=None):
        adds, removes, cdcs = [], [], []
        if actions is None:
            actions = self._log.read_commit(version)
        for action in actions:
            if action.get("cdc"):
                cdcs.append(action["cdc"])
            elif action.get("add") and action["add"].get("dataChange", True):
                adds.append(action["add"])
            elif action.get("remove") and action["remove"].get("dataChange", True):
                removes.append(action["remove"])
        return adds, removes, cdcs

    def _check_cdf_schema(self, snap, v: int) -> None:
        """Fail LOUDLY when a commit's schema era is NON-ADDITIVE relative
        to the stream's pinned schema (delta-spark parity: a CDF stream
        fails on rename/drop/non-widening type change and requires a
        restart) — the alternative is silent corruption: under column
        mapping the executor read matches files by physicalName, so a
        post-rename commit's rows would be served under the OLD logical
        column name without any error.

        Direction-aware like the batch walker (changes.py): a commit AT
        OR BEFORE the pinned version is an older era — the batch rule
        ``era → pinned`` applies (pure column ADDS between era and pinned
        null-fill, anything else raises); a commit AFTER it is a newer
        era — ``pinned → era`` applies (columns ADDED after stream start
        are projected away by the pinned stream schema, matching the
        plain stream's pinned-projection semantics; renames/drops/type
        changes raise). Validated eras are cached PER DIRECTION by
        object identity — snapshot replay shares the schema object
        across commits that didn't change it, so the check is
        O(changes), not O(commits); the two directions never share a
        cache because their containment rules are opposite (a schema
        green as an older era — pure add up to the pin — can reappear
        post-pin via a DROP of the added column, which must raise)."""
        sch = snap.schema
        old_era = v <= self._pinned_version
        cache = (self._cdf_schema_ok_old if old_era
                 else self._cdf_schema_ok_new)
        if any(sch is s or sch == s for s in cache):
            return
        from duckdb_delta_spark.delta.changes import _non_additive_changes
        from duckdb_delta_spark.delta.errors import SchemaError

        # the relaxation only covers eras STRICTLY BEFORE the recorded
        # (user-acknowledged) boundary — a boundary that committed while
        # the stream was OFFLINE is past the record, so its eras take
        # the strict check and fail loudly exactly once (the failure
        # advances the record to the new boundary; the next restart
        # serves it). Without the gate, any boundary.json would silently
        # cross every boundary ≤ pin, acknowledged or not.
        relaxed = (old_era and self._auto_advance
                   and self._tracked_boundary is not None
                   and v < self._tracked_boundary)
        if old_era:
            # relaxed: a restart acknowledged a persisted boundary, so old
            # eras are served under the PINNED schema via id/physical
            # matching (renames relabel, drops project away, adds
            # null-fill); only an unrepresentable type change refuses
            probs = _non_additive_changes(
                sch.fields, self._full_schema.fields, relaxed=relaxed)
        else:
            probs = _non_additive_changes(
                self._full_schema.fields, sch.fields)
        if relaxed and not probs:
            from duckdb_delta_spark.delta.logging import emit

            emit("stream.cdf.schema_advance",
                 table_path=self.table_path, era_version=v,
                 pinned_version=self._pinned_version)
        if probs:
            remedy = (
                "restart the stream past the boundary "
                f"(startingVersion {v}), or drain the range in batch "
                "with table_changes_segments(), one frame per schema era."
            )
            if self._schema_tracking_dir and not relaxed:
                # persist the boundary BEFORE raising so the restarted
                # reader auto-advances: re-pins at HEAD and serves every
                # era under the new schema from its checkpointed offset.
                # For an OLD-era failure the failing commit v is not the
                # boundary itself (v's era STARTS before the change that
                # broke it) — record the version from which every later
                # era is strict-additive to the pin, else the next
                # restart would relax v but re-fail at v+1.
                # (An auto-advancing reader that STILL refuses hit an
                # unrepresentable type change — recording again would
                # promise a restart that cannot help; the segments
                # remedy above stands.)
                self._record_boundary(self._boundary_to_record(v))
                remedy = (
                    "the boundary was recorded in schemaTrackingDir — "
                    "RESTART the stream and it resumes from its "
                    "checkpointed offset under the current schema "
                    "(renamed columns relabel, dropped columns project "
                    "away)."
                )
            raise SchemaError(
                f"readChangeFeed stream: the schema at version {v} is "
                "non-additive relative to the stream's schema (pinned at "
                f"version {self._pinned_version}): " + "; ".join(probs)
                + ". A CDF stream cannot serve rows across a rename/drop/"
                "type change — " + remedy
            )
        cache.append(sch)

    def _record_boundary(self, v: int) -> None:
        """Persist the failed era boundary (monotonic: never regress a
        later recorded boundary) so the next restart auto-advances."""
        import time as _time

        d = self._schema_tracking_dir
        os.makedirs(d, exist_ok=True)
        rec = os.path.join(d, "boundary.json")
        prev = -1
        if os.path.isfile(rec):
            try:
                with open(rec) as fh:
                    prev = int(json.load(fh).get("version", -1))
            except (ValueError, OSError):
                prev = -1
        if v <= prev:
            return
        tmp = rec + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"version": v,
                       "pinned_version": self._pinned_version,
                       "recorded_ms": int(_time.time() * 1000)}, fh)
        os.replace(tmp, rec)

    def _boundary_to_record(self, v: int) -> int:
        """The version the tracking record must carry so that ONE restart
        serves the failed era: the first version from which every later
        schema era is strict-additive to the pinned schema. For a
        NEW-era failure (v > pinned) that is v itself — the failing
        commit IS the boundary metaData. For an OLD-era failure the
        boundary lies somewhere in (v, pinned]: scan that range's
        metaData actions (failure-path only, one driver pass over commit
        JSON the log has mostly already read) and return the first
        schema version after the LAST one that is still non-additive to
        the pin. Recording v itself would leave the restart relaxing
        only eras < v and re-failing at the very next commit."""
        if v > self._pinned_version:
            return v
        from pyspark.sql.types import StructType as _ST

        from duckdb_delta_spark.delta.changes import _non_additive_changes

        metas: list[tuple[int, object]] = []
        for ver in range(v + 1, self._pinned_version + 1):
            try:
                actions = self._log.read_commit(ver)
            except Exception:  # noqa: BLE001 - compacted/absent commit
                continue
            for action in actions:
                md = action.get("metaData")
                if md and md.get("schemaString"):
                    try:
                        metas.append((ver, _ST.fromJson(
                            json.loads(md["schemaString"]))))
                    except Exception:  # noqa: BLE001 - unparseable: skip
                        pass
        last_bad = v
        for ver, sch in metas:
            if _non_additive_changes(sch.fields, self._full_schema.fields):
                last_bad = ver
        for ver, _sch in metas:
            if ver > last_bad:
                return ver
        # no servable era follows the last bad one (cannot happen when
        # the pin's own schema era lives in the range); fall back to the
        # failing commit — monotonic record, strictly better than stale
        return max(v, last_bad)

    def _cdf_file_refs(self, start_v: int, end_v: int) -> list[_FileRef]:
        """Change-feed refs for commits (start_v, end_v] — the streaming
        twin of delta/changes.table_changes: cdc files exclusively when a
        commit wrote them, else adds→insert, dropped paths→delete (rows
        live at the PREVIOUS version: old DV excluded), DV re-adds→one
        ``__dv_diff__`` ref carrying the [dvNew, dvOld] descriptor PAIR.
        The executor decodes the pair next to the file bytes and emits
        dvNew−dvOld rows as deletes plus dvOld−dvNew rows (a mask shrink,
        e.g. RESTORE resurrecting DV-deleted rows) as inserts — the
        DRIVER never decodes a DV or materializes a row-index list, so
        planning memory stays O(#descriptors) no matter how many rows a
        100-TB table's DELETE masked (mirror of the batch feed's
        delta/changes._rows_at_big executor route)."""
        from duckdb_delta_spark.delta.snapshot import Snapshot, _dv_unique_id

        # one listing and one read per commit for the whole plan, as in
        # the batch walk (changes._walk_changes): the parsed actions feed
        # the snapshot replay, the classification and the commit clock
        segment = self._log.list_log_files()
        prev = (
            Snapshot.build(self._log, start_v, segment=segment)
            if start_v >= 0
            else Snapshot(self._log, -1)
        )
        if start_v >= 0:
            # the start snapshot's era serves dropped-path deletes for the
            # first commit — it must be servable under the pinned schema
            self._check_cdf_schema(prev, start_v)
        out: list[_FileRef] = []

        def ref(path_rel: str, pv: dict, size, **kw) -> _FileRef:
            rel = urllib.parse.unquote(path_rel)
            full = (
                rel
                if "://" in rel or os.path.isabs(rel)
                else os.path.join(self.table_path, rel)
            )
            return _FileRef(
                path=full,
                partition_values=tuple(
                    (c, (pv or {}).get(self._phys.get(c, c)))
                    for c in self._partition_columns
                ),
                size=int(size or 0),
                **kw,
            )

        for v in range(start_v + 1, end_v + 1):
            actions = self._log.read_commit(v)
            snap = Snapshot.build(self._log, v, base=prev, actions=actions)
            self._check_cdf_schema(snap, v)
            adds, removes, cdcs = self._classify_full(v, actions)
            common = dict(commit_version=v, commit_ts=self._log.commit_time(
                v, actions, segment.commits))
            if cdcs:
                for c in cdcs:
                    out.append(ref(c["path"], c.get("partitionValues"),
                                   c.get("size"), dv=None,
                                   change_type="__cdc__", **common))
                prev = snap
                continue
            add_paths = {a["path"]: a for a in adds}
            rem_paths = {r["path"]: r for r in removes}
            for p, a in add_paths.items():
                if p in rem_paths:
                    continue  # DV re-add handled below
                out.append(ref(p, a.get("partitionValues"), a.get("size"),
                               dv=json.dumps(a["deletionVector"])
                               if a.get("deletionVector") else None,
                               change_type="insert", **common))
            for p, a in add_paths.items():
                if p not in rem_paths:
                    continue
                # old DV comes from the REMOVE action's own descriptor —
                # prev.files is keyed (path, dvUniqueId), a bare-path get
                # would miss (mirror of changes._dv_diff_descriptors)
                old_dv = rem_paths[p].get("deletionVector")
                new_dv = a.get("deletionVector")
                if _dv_unique_id(new_dv) == _dv_unique_id(old_dv):
                    continue  # same mask re-added (metadata-only rewrite)
                # ship the descriptor PAIR, decode nothing here: the
                # executor computes both setdiff directions from ONE
                # file read (grow → deletes, shrink → inserts)
                out.append(ref(
                    p, a.get("partitionValues"), a.get("size"), dv=None,
                    diff_pair=json.dumps([new_dv, old_dv]),
                    change_type="__dv_diff__", **common))
            prev_by_path = None
            for p, r in rem_paths.items():
                if p in add_paths:
                    continue
                if prev_by_path is None:
                    # prev.files is keyed (path, dvUniqueId); dropped-path
                    # lookup needs a bare-path view (built once per commit,
                    # only when a commit actually drops files)
                    prev_by_path = {f.path: f for f in prev.add_files()}
                old_f = prev_by_path.get(p)
                if old_f is None:
                    continue  # removed file unknown at prev (already gone)
                out.append(ref(
                    p, old_f.partition_values, old_f.size,
                    dv=json.dumps(old_f.deletion_vector)
                    if old_f.deletion_vector else None,
                    change_type="delete", **common))
            prev = snap
        n_diff = sum(1 for f in out if f.diff_pair)
        if n_diff:
            from duckdb_delta_spark.delta.logging import emit

            emit(
                "stream.cdf_dv_route",
                table_path=self.table_path,
                n_descriptors=n_diff,
                route="executor_decode",
            )
        return out

    def commit(self, end: dict) -> None:
        pass  # offsets live in the stream's checkpoint

    # ---- executor-side read ----

    def read(self, partition: _SplitSlice):
        """Yield pyarrow RecordBatches (Spark 4.1 Arrow fast path) — the
        data never materializes as Python rows on either side of the
        socket; DV masks and partition constants are applied columnar.
        A partition is a PACKED split: files stream one at a time, so
        peak memory is one file, not the split."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_schema

        from pyspark.sql import types as T

        # select-projected streams may still need where-only columns for
        # the row filter: extend the projection with them (typed from the
        # full table schema), mask, then drop them in _emit
        fields = list(self.schema.fields)
        out_names = [f.name for f in fields]
        if self.where_preds:
            have = set(out_names)
            full_by = {f.name: f for f in self._full_schema.fields}
            for p in self._where_top_cols():
                if p not in have and p in full_by:
                    fields.append(full_by[p])
                    have.add(p)
        proj_schema = T.StructType(fields)
        arrow_schema = to_arrow_schema(proj_schema)

        def project(table, fref, change_type):
            """Shape a (possibly row-subset) file table to the stream
            schema: change-feed metadata columns, partition constants,
            mergeSchema NULL defaulting."""
            pvals = dict(fref.partition_values)
            cols = []
            for f, af in zip(proj_schema.fields, arrow_schema):
                if change_type is not None and f.name == "_change_type":
                    # pa.repeat: C++-level constant column — the old
                    # [v] * num_rows built a 600k-element Python list
                    # per file before converting (guide §4.2)
                    cols.append(
                        table.column(f.name).cast(af.type)
                        if change_type == "__cdc__"
                        else pa.repeat(
                            pa.scalar(change_type, type=af.type),
                            table.num_rows,
                        )
                    )
                elif change_type is not None and f.name == "_commit_version":
                    cols.append(pa.array(
                        np.full(table.num_rows, fref.commit_version,
                                dtype="int64")))
                elif change_type is not None and f.name == "_commit_timestamp":
                    cols.append(pa.array(
                        np.full(table.num_rows, fref.commit_ts * 1000,
                                dtype="int64")).cast(af.type))
                elif f.name in pvals:
                    v = _coerce_pv(pvals[f.name], f.dataType)
                    cols.append(
                        pa.nulls(table.num_rows, af.type)
                        if v is None
                        else pa.repeat(
                            pa.scalar(v, type=af.type), table.num_rows
                        )
                    )
                elif self._phys.get(f.name, f.name) not in table.column_names:
                    # file predates a mergeSchema widening
                    # (startingVersion=0 replay / RESTORE re-add) —
                    # surface typed NULLs, exactly like the batch scan's
                    # missing-column defaulting
                    cols.append(pa.nulls(table.num_rows, af.type))
                else:
                    # column-mapped tables: file carries the PHYSICAL name
                    # (nested struct fields too — renamed recursively);
                    # unmapped struct columns take the same name-matching
                    # route so files predating a NESTED mergeSchema
                    # widening null-fill the new struct fields (a plain
                    # pyarrow cast refuses mismatched field counts)
                    src = table.column(self._phys.get(f.name, f.name))
                    cols.append(
                        _to_logical_arrow(src, f.dataType, af.type)
                        if mapping.contains_type(f.dataType, T.StructType)
                        else src.cast(af.type)
                    )
            return pa.Table.from_arrays(cols, schema=arrow_schema)

        for fref in partition.files:
            if self.select:
                # projection pushdown reaches the parquet read: footer
                # names first, then a column-pruned read of exactly the
                # projected (+ where-only) columns present in the file
                pf = pq.ParquetFile(fref.path)
                avail = set(pf.schema_arrow.names)
                want = [self._phys.get(f.name, f.name)
                        for f in proj_schema.fields
                        if self._phys.get(f.name, f.name) in avail]
                table = pf.read(columns=want)
            else:
                table = pq.read_table(fref.path)
            if fref.dv:
                from duckdb_delta_spark.delta.dv import (
                    read_dv_from_descriptor,
                )

                deleted = read_dv_from_descriptor(
                    json.loads(fref.dv), partition.table_path
                )
                keep = np.ones(table.num_rows, dtype=bool)
                keep[deleted.astype("int64")] = False
                table = table.filter(keep)
            if fref.diff_pair:
                # DV re-add: the driver shipped only the [dvNew, dvOld]
                # descriptor pair — decode both HERE, next to the file
                # bytes, and emit the two setdiff directions from this
                # single file read: newly-masked rows (dvNew − dvOld) as
                # deletes, resurrected rows (dvOld − dvNew, e.g. RESTORE
                # rolling back a DV delete) as inserts. No driver-side
                # row-index list exists at any point.
                from duckdb_delta_spark.delta.dv import (
                    read_dv_from_descriptor,
                )

                dv_new, dv_old = json.loads(fref.diff_pair)
                new_rows = (
                    read_dv_from_descriptor(dv_new, partition.table_path)
                    if dv_new else np.empty(0, dtype="uint64")
                )
                old_rows = (
                    read_dv_from_descriptor(dv_old, partition.table_path)
                    if dv_old else np.empty(0, dtype="uint64")
                )
                for ct, idx in (
                    ("delete", np.setdiff1d(new_rows, old_rows)),
                    ("insert", np.setdiff1d(old_rows, new_rows)),
                ):
                    if len(idx):
                        sub = table.take(pa.array(idx.astype("int64")))
                        yield from self._emit(project(sub, fref, ct),
                                              out_names)
                continue

            yield from self._emit(
                project(table, fref, fref.change_type), out_names)

    def _where_top_cols(self) -> list[str]:
        """Top-level column names the where option's trees reference."""
        from duckdb_delta_spark.delta.scan import OrPred

        out: list[str] = []

        def walk(p):
            if isinstance(p, OrPred):
                for br in p.branches:
                    for q in br:
                        walk(q)
            else:
                out.append(p.column.split(".")[0])

        for p in self.where_preds:
            walk(p)
        return sorted(set(out))

    def _emit(self, out, keep: list[str]):
        """Row half of the where option: evaluate the same Pred/OrPred
        trees over the projected Arrow table (file pruning above was
        only conservative; on a CDF stream it's the ONLY filter, and the
        projected table includes _change_type/_commit_version, so those
        are filterable too), then drop where-only columns a select
        projection excluded."""
        if self.where_preds:
            from duckdb_delta_spark.delta.predicates import arrow_mask

            out = out.filter(arrow_mask(out, self.where_preds))
            if out.column_names != keep:
                out = out.select(keep)
        if self.arrow_emit == "combined":
            # one record batch per file instead of one per row group /
            # filter fragment: same bytes, far fewer socket frames and
            # JVM-side batch boundaries (the DV filter and CDF takes
            # leave multi-chunk columns behind even on single-row-group
            # files)
            out = out.combine_chunks()
        return out.to_batches()


def _to_logical_arrow(arr, dt, at):
    """Physical-named parquet Arrow column → logical-named stream column
    for column-mapped tables. Struct fields resolve by their
    ``delta.columnMapping.physicalName`` metadata at EVERY nesting level —
    the spec's resolution rule (positional matching breaks once nested
    schema evolution adds or reorders fields); fields the file predates
    null-fill, and leaves cast to the stream's Arrow types. This is the
    Arrow-side twin of the batch scan's logical rename (Catalyst struct
    casts there, scan.py nested CM; pyarrow casts don't rename struct
    fields, so the arrays rebuild zero-copy from their children).

    ``dt`` is the logical Spark type (metadata-bearing), ``at`` the
    target Arrow type derived from it."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from pyspark.sql import types as T

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.type.equals(at):
        return arr  # shapes already agree — zero work
    if isinstance(dt, T.StructType) and pa.types.is_struct(arr.type):
        by_phys = {
            arr.type.field(i).name: i for i in range(arr.type.num_fields)
        }
        children = []
        for i, sf in enumerate(dt.fields):
            sub_at = at.field(i).type
            j = by_phys.get(mapping.physical_name(sf))
            children.append(
                pa.nulls(len(arr), sub_at)
                if j is None
                else _to_logical_arrow(arr.field(j), sf.dataType, sub_at)
            )
        return pa.StructArray.from_arrays(
            children, fields=list(at),
            mask=pc.is_null(arr) if arr.null_count else None,
        )
    if isinstance(dt, T.ArrayType) and (
        pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type)
    ):
        cls = (pa.LargeListArray if pa.types.is_large_list(arr.type)
               else pa.ListArray)
        out = cls.from_arrays(
            arr.offsets,
            _to_logical_arrow(arr.values, dt.elementType, at.value_type),
            mask=pc.is_null(arr) if arr.null_count else None,
        )
        return out if out.type.equals(at) else out.cast(at)
    if isinstance(dt, T.MapType) and pa.types.is_map(arr.type):
        offs = arr.offsets
        if arr.null_count:
            # MapArray.from_arrays has no mask kwarg; null entries are
            # marked by NULL OFFSETS (the ListArray convention)
            import numpy as np

            off_np = offs.to_numpy(zero_copy_only=False)
            nulls = np.zeros(len(off_np), dtype=bool)
            nulls[:-1] = pc.is_null(arr).to_numpy(zero_copy_only=False)
            offs = pa.array(off_np, mask=nulls)
        out = pa.MapArray.from_arrays(
            offs,
            _to_logical_arrow(arr.keys, dt.keyType, at.key_type),
            _to_logical_arrow(arr.items, dt.valueType, at.item_type),
        )
        return out if out.type.equals(at) else out.cast(at)
    return arr if arr.type.equals(at) else arr.cast(at)


def _coerce_pv(v, dtype):
    """Partition value (log string) → Python value for the row tuples."""
    import datetime as dt

    from pyspark.sql import types as T

    if v is None or v == "":
        return None
    if isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return int(v)
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return float(v)
    if isinstance(dtype, T.BooleanType):
        return str(v).lower() == "true"
    if isinstance(dtype, T.DateType):
        return dt.date.fromisoformat(str(v)[:10])
    return v


def _arrow_with_field_ids(aschema, sschema):
    """Arrow schema (from to_arrow_schema, which drops metadata) +
    metadata-bearing Spark physical schema → Arrow schema carrying
    ``PARQUET:field_id`` on every field at every nesting level, which
    pyarrow's parquet writer emits as real field ids."""
    import pyarrow as pa

    from pyspark.sql import types as T

    def fld(af, sf: T.StructField):
        meta = dict(af.metadata or {})
        fid = (sf.metadata or {}).get("parquet.field.id")
        if fid is not None:
            meta[b"PARQUET:field_id"] = str(int(fid)).encode()
        return pa.field(af.name, typ(af.type, sf.dataType), af.nullable,
                        meta or None)

    def typ(at, dt):
        if isinstance(dt, T.StructType) and pa.types.is_struct(at):
            return pa.struct([
                fld(at.field(i), dt.fields[i])
                for i in range(at.num_fields)
            ])
        if isinstance(dt, T.ArrayType) and pa.types.is_list(at):
            return pa.list_(typ(at.value_type, dt.elementType))
        if isinstance(dt, T.MapType) and pa.types.is_map(at):
            return pa.map_(at.key_type, typ(at.item_type, dt.valueType))
        return at

    return pa.schema([
        fld(aschema.field(i), sschema.fields[i])
        for i in range(len(sschema.fields))
    ])


def _rename_arrow_positional(arr, at):
    """Logical-named Arrow array → physical-named target type of the SAME
    shape (the sink-side inverse of :func:`_to_logical_arrow`): struct
    fields match by POSITION — incoming batches follow the stream schema
    exactly, so no name resolution or null-filling is needed — rebuilt
    zero-copy from children."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.type.equals(at):
        return arr
    if pa.types.is_struct(arr.type) and pa.types.is_struct(at):
        children = [
            _rename_arrow_positional(arr.field(i), at.field(i).type)
            for i in range(at.num_fields)
        ]
        return pa.StructArray.from_arrays(
            children, fields=list(at),
            mask=pc.is_null(arr) if arr.null_count else None,
        )
    if pa.types.is_list(arr.type) and pa.types.is_list(at):
        return pa.ListArray.from_arrays(
            arr.offsets,
            _rename_arrow_positional(arr.values, at.value_type),
            mask=pc.is_null(arr) if arr.null_count else None,
        )
    if pa.types.is_map(arr.type) and pa.types.is_map(at):
        offs = arr.offsets
        if arr.null_count:
            import numpy as np

            off_np = offs.to_numpy(zero_copy_only=False)
            nulls = np.zeros(len(off_np), dtype=bool)
            nulls[:-1] = pc.is_null(arr).to_numpy(zero_copy_only=False)
            offs = pa.array(off_np, mask=nulls)
        out = pa.MapArray.from_arrays(
            offs,
            _rename_arrow_positional(arr.keys, at.key_type),
            _rename_arrow_positional(arr.items, at.item_type),
        )
        return out if out.type.equals(at) else out.cast(at)
    return arr.cast(at)


# ---------------------------------------------------------------- sink side


@dataclass
class _WrittenFile(WriterCommitMessage):
    rel_path: str
    size: int
    # hive-partitioned sinks: ((col, value-or-None), ...) carried into the
    # add action's partitionValues
    partition_values: tuple = ()
    #: stats JSON computed EXECUTOR-SIDE right after the task closed the
    #: file (local footer read) and shipped in the commit message — the
    #: driver never loops sequential footer reads at commit time (the
    #: 100-TB seam flagged in round 4). None → driver pooled fallback.
    stats: str | None = None


@dataclass
class _WrittenFiles(WriterCommitMessage):
    """Per-task commit message: a partitioned task writes one file PER
    PARTITION VALUE it sees."""

    files: tuple = ()
    #: task wall-clock (ms) spent in write(): Arrow consume + parquet
    #: encode + footer stats. Summed into commitInfo.operationMetrics so
    #: every micro-batch carries its own cost breakdown in the log.
    write_ms: int = 0
    rows: int = 0


class DeltaStreamWriter(DataSourceStreamArrowWriter):
    """``writeStream.format("delta_py")`` — every micro-batch is one Delta
    commit, made EXACTLY-ONCE by the transaction-version machinery: the
    commit carries ``txn(appId, version=batchId)``, and a replayed batch
    (failure → Spark re-runs it) is detected from the snapshot's
    app-transaction map and skipped instead of double-appended.

    Executors stream Arrow RecordBatches straight into parquet slices in
    the table directory (uuid names cannot collide) — no Python row
    materialization; the driver turns the commit messages into add
    actions with footer stats. Partitioned tables split Arrow-side: each
    task writes one hive-pathed file per partition value it sees, and the
    add actions carry the matching partitionValues.
    """

    # class-level defaults: write()/commit() stay well-defined on
    # partially-constructed instances (tests build via __new__)
    _phys: dict = {}
    _phys_schema = None
    _constraints: list = []
    _not_null: list = []
    _not_null_parts: list = []
    _legacy_app_id = None

    def __init__(self, table_path: str, schema: StructType, options):
        self.table_path = os.path.abspath(table_path)
        self.schema = schema
        # exactly-once lineage key: the CHECKPOINT LOCATION, not the table
        # path — a replayed batch (failure → Spark re-runs it) always
        # comes from the same checkpoint, while two INDEPENDENT queries
        # writing the same table have distinct checkpoints and must not
        # collide (a table-path appId made the second query's batch 0
        # look already-committed and silently dropped it).  delta-spark
        # keys the same way via the queryId persisted in the checkpoint.
        ckpt = options.get("checkpointlocation")
        self.app_id = options.get(
            "txnAppId",
            f"delta_py_sink:{ckpt if ckpt else self.table_path}",
        )
        # one-time migration seam: a pipeline created before the
        # checkpoint-keyed appId (when the default was table-path-keyed)
        # that resumes from its old checkpoint gets a NEW appId, so its
        # last committed batch would be re-committed once.  Opting in to
        # .option('legacyTxnAppIdMigration','true') makes commit() also
        # consult the legacy table-path appId when the new one has no
        # transaction yet.  Opt-in, never default: the legacy key is
        # shared by EVERY query on the table, so consulting it from a
        # genuinely new query would skip its first batches — the exact
        # collision the checkpoint-keyed default fixed.
        self._legacy_app_id = (
            f"delta_py_sink:{self.table_path}"
            if "txnAppId" not in options and str(options.get(
                "legacyTxnAppIdMigration", "false")).lower() == "true"
            else None
        )
        self.partition_columns: list[str] = []
        #: column mapping: logical→physical top-level names, and the
        #: PHYSICAL data-column schema (names + parquet.field.id at every
        #: nesting level) the executors write files and stats under
        self._phys: dict[str, str] = {}
        self._phys_schema = None
        #: .option('mergeSchema','true') — widen the table schema to the
        #: union with the stream schema at stream start (metadata-only
        #: commit, nested fields included), delta-spark sink parity
        self._merge_schema_opt = (
            str(options.get("mergeSchema", "false")).lower() == "true"
        )
        self._gate()

    def _gate(self) -> None:
        """Writer-protocol gate at stream start (mirror of
        DeltaWriter._assert_writable): refuse tables this sink's blind
        appends would corrupt or whose features it cannot honor."""
        from duckdb_delta_spark.delta import protocol
        from duckdb_delta_spark.delta.errors import UnsupportedFeatureError
        from duckdb_delta_spark.delta.log import DeltaLog
        from duckdb_delta_spark.delta.snapshot import Snapshot

        snap = Snapshot.build(DeltaLog(self.table_path))
        self.partition_columns = list(snap.partition_columns)
        missing = [c for c in self.partition_columns
                   if c not in self.schema.fieldNames()]
        if missing:
            raise UnsupportedFeatureError(
                f"streaming sink input lacks partition columns {missing}"
            )
        # input columns / nested struct fields the table lacks: widen the
        # table once (metadata-only mergeSchema commit) when
        # .option('mergeSchema','true'); refuse otherwise — a file
        # carrying columns outside the table schema is dead weight at
        # best and a silent divergence at worst
        from duckdb_delta_spark.delta.writer import _nested_name_diffs

        snap_by = {f.name: f for f in snap.schema.fields}
        extras = [f.name for f in self.schema.fields
                  if f.name not in snap_by]
        for f in self.schema.fields:
            tf = snap_by.get(f.name)
            if tf is not None:
                a, _ = _nested_name_diffs(
                    f.dataType, tf.dataType, f"{f.name}.")
                extras += a
        if extras:
            if self._merge_schema_opt:
                from pyspark.sql import SparkSession

                from duckdb_delta_spark.delta.writer import DeltaWriter

                DeltaWriter(
                    self.table_path, SparkSession.getActiveSession()
                ).merge_schema_with(self.schema)
                snap = Snapshot.build(DeltaLog(self.table_path))
                snap_by = {f.name: f for f in snap.schema.fields}
            else:
                raise UnsupportedFeatureError(
                    "streaming sink input has columns the table lacks "
                    f"({extras}); pass .option('mergeSchema', 'true') to "
                    "widen the table schema at stream start"
                )
        if snap.column_mapping_mode != "none":
            # column-mapped sink (r14): files, stats and partitionValues
            # come out PHYSICALLY named — tasks rename the Arrow batches
            # positionally (same logical shape, physical names at every
            # level) and write under the field-id'd physical schema
            from pyspark.sql import types as T

            snap_by = {f.name: f for f in snap.schema.fields}
            unknown = [f.name for f in self.schema.fields
                       if f.name not in snap_by]
            if unknown:
                raise UnsupportedFeatureError(
                    f"streaming sink input columns {unknown} are not in "
                    "the column-mapped table schema"
                )
            self._phys = mapping.name_map(snap.schema)
            data = [snap_by[f.name] for f in self.schema.fields
                    if f.name not in self.partition_columns]
            # the write schema, its top-level columns nullable in the file
            self._phys_schema = mapping.physical_type(T.StructType([
                T.StructField(f.name, f.dataType, True, f.metadata)
                for f in data]))
        protocol.check_writable(snap.protocol)
        conf = snap.configuration
        # CDF-enabled tables are WRITABLE by this sink: blind appends
        # never need _change_data files (the spec derives their rows as
        # inserts from the add actions, exactly what the batch feed and
        # the readChangeFeed stream do) — only row-CHANGING DML must
        # write cdc files, and the sink performs none.
        for f in snap.schema.fields:
            md = f.metadata or {}
            if "delta.generationExpression" in md or any(
                k.startswith("delta.identity.") for k in md
            ):
                raise UnsupportedFeatureError(
                    f"write with generated/identity column {f.name!r}"
                )
        # CHECK constraints: a writer honoring checkConstraints must
        # ENFORCE them (Delta spec) — the sink evaluates each one
        # executor-side per Arrow batch through the predicate machinery:
        # violations = rows where NOT(expr) definitely holds (NULL passes
        # a constraint, and parse_where's De Morgan keeps that exact).
        # Constraints outside the pushable grammar refuse at stream
        # start — enforce-or-refuse, never silently skip.
        from pyspark.sql import types as T

        from duckdb_delta_spark.delta.predicates import parse_where

        self._constraints: list[tuple] = []
        for key, cexpr in sorted(conf.items()):
            if not key.startswith("delta.constraints."):
                continue
            cname = key[len("delta.constraints."):]
            try:
                negated = parse_where(f"NOT ({cexpr})")
            except ValueError as e:
                raise UnsupportedFeatureError(
                    f"streaming sink cannot enforce CHECK constraint "
                    f"{cname!r} ({cexpr}): {e}"
                ) from None
            self._constraints.append((cname, cexpr, negated))
        # Constraint columns must RESOLVE: the sink permits input that
        # omits nullable table columns (they null-fill on read), so a
        # constraint referencing such a column must be evaluated with
        # that column ≡ NULL — not crash with a KeyError on
        # table.column().  Wholly-absent top-level columns are appended
        # as typed null arrays per batch (exact delta-spark semantics:
        # NULL satisfies a comparison CHECK, fails an IS NOT NULL one);
        # a top-level column that IS present but lacks a referenced
        # nested field refuses at stream start — enforce-or-refuse.
        self._constraint_null_cols: list[tuple] = []
        if self._constraints:
            from pyspark.sql.pandas.types import to_arrow_type

            def _leaf_cols(preds, out):
                for p in preds:
                    br = getattr(p, "branches", None)
                    if br is not None:
                        for b in br:
                            _leaf_cols(b, out)
                    else:
                        out.add(p.column)

            refs: set[str] = set()
            for _cn, _ce, negated in self._constraints:
                _leaf_cols(negated, refs)

            def _resolve(dt_fields, path: list[str]):
                f = next((x for x in dt_fields if x.name == path[0]), None)
                if f is None:
                    return None
                dt = f.dataType
                for seg in path[1:]:
                    if not isinstance(dt, T.StructType) \
                            or seg not in dt.fieldNames():
                        return None
                    dt = dt[seg].dataType
                return dt

            null_tops: dict[str, object] = {}
            for ref in sorted(refs):
                segs = ref.split(".")
                if _resolve(self.schema.fields, segs) is not None:
                    continue  # present in the input — evaluates directly
                in_table = _resolve(snap.schema.fields, segs)
                if in_table is None:
                    raise UnsupportedFeatureError(
                        f"CHECK constraint references column {ref!r} "
                        "that exists in neither the stream input nor the "
                        "table schema"
                    )
                top = next((x for x in self.schema.fields
                            if x.name == segs[0]), None)
                if top is not None:
                    raise UnsupportedFeatureError(
                        f"CHECK constraint references nested field {ref!r}"
                        f" but the stream input's {segs[0]!r} column lacks"
                        " it; add the field to the input or drop the "
                        "constraint"
                    )
                if segs[0] not in null_tops:
                    tf = next(x for x in snap.schema.fields
                              if x.name == segs[0])
                    null_tops[segs[0]] = to_arrow_type(tf.dataType)
            self._constraint_null_cols = sorted(null_tops.items())
        # NOT NULL: same stats-free executor-side walk the batch writer
        # enforces — struct NODES are checked too (Arrow carries exact
        # struct-level validity, so a non-nullable struct whose children
        # are all nullable — invisible to the batch writer's footer
        # stats — is caught here directly); NOT NULL under array/map
        # elements is unverifiable and refuses loudly.
        self._not_null: list[str] = []
        self._not_null_parts: list[str] = []

        def _inner_constraint(dt) -> bool:
            if isinstance(dt, T.StructType):
                return any((not f.nullable) or _inner_constraint(f.dataType)
                           for f in dt.fields)
            if isinstance(dt, T.ArrayType):
                return _inner_constraint(dt.elementType)
            if isinstance(dt, T.MapType):
                return _inner_constraint(dt.valueType)
            return False

        def _walk_nn(prefix: str, fields) -> None:
            for f in fields:
                name = f"{prefix}.{f.name}" if prefix else f.name
                if name in self.partition_columns:
                    if not f.nullable:
                        self._not_null_parts.append(name)
                    continue
                if not f.nullable:
                    self._not_null.append(name)
                if isinstance(f.dataType, T.StructType):
                    _walk_nn(name, f.dataType.fields)
                elif isinstance(f.dataType, (T.ArrayType, T.MapType)):
                    inner = (f.dataType.elementType
                             if isinstance(f.dataType, T.ArrayType)
                             else f.dataType.valueType)
                    if _inner_constraint(inner):
                        raise UnsupportedFeatureError(
                            "streaming sink to a table with NOT NULL "
                            f"constraints inside array/map column {name!r} "
                            "is not supported"
                        )

        _walk_nn("", snap.schema.fields)

        # every required (NOT NULL) path must exist in the INPUT schema —
        # a file omitting a nullable column reads back as NULLs (fine),
        # but omitting a required one would violate the constraint
        def _resolvable(path: str) -> bool:
            segs = path.split(".")
            f = next((x for x in self.schema.fields
                      if x.name == segs[0]), None)
            if f is None:
                return False
            dt = f.dataType
            for seg in segs[1:]:
                if not isinstance(dt, T.StructType) \
                        or seg not in dt.fieldNames():
                    return False
                dt = dt[seg].dataType
            return True

        lacking = [p for p in self._not_null + self._not_null_parts
                   if not _resolvable(p)]
        if lacking:
            raise UnsupportedFeatureError(
                f"streaming sink input lacks NOT NULL columns {lacking}"
            )

    def write(self, iterator) -> _WrittenFiles:
        import time as _time
        import uuid

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_schema

        from duckdb_delta_spark.delta.writer import _hive_escape

        _t0 = _time.time()
        _rows = 0
        arrow_schema = to_arrow_schema(self.schema)
        parts = self.partition_columns
        data_names = [f.name for f in self.schema.fields
                      if f.name not in parts]
        # hive layout: partition columns live in the PATH + log, not the file
        if self._phys_schema is not None:
            # column-mapped: physical names + PARQUET:field_id at every
            # nesting level so both name- and id-resolving readers work
            file_schema = _arrow_with_field_ids(
                to_arrow_schema(self._phys_schema), self._phys_schema
            )
        else:
            file_schema = (
                pa.schema([f for f in arrow_schema if f.name not in parts])
                if parts
                else arrow_schema
            )

        def _render(data_tbl: pa.Table) -> pa.Table:
            """Logical-named data columns → the file schema (positional
            physical rename on mapped tables; identity otherwise)."""
            if self._phys_schema is None:
                return data_tbl
            cols = [
                _rename_arrow_positional(
                    data_tbl.column(i), file_schema.field(i).type
                )
                for i in range(data_tbl.num_columns)
            ]
            return pa.Table.from_arrays(cols, schema=file_schema)
        # one open writer per partition tuple seen by this task
        writers: dict[tuple, tuple] = {}  # pv_tuple -> (writer, rel, full)

        def _open(pv: tuple):
            dirs = "/".join(f"{c}={_hive_escape(v)}" for c, v in pv)
            rel = (f"{dirs}/" if dirs else "") + \
                f"part-stream-{uuid.uuid4().hex}.parquet"
            full = os.path.join(self.table_path, rel)
            os.makedirs(os.path.dirname(full), exist_ok=True)
            return pq.ParquetWriter(full, file_schema), rel, full

        def _sink(pv: tuple, tbl: pa.Table):
            w = writers.get(pv)
            if w is None:
                w = writers[pv] = _open(pv)
            w[0].write_table(tbl)

        def _enforce(tbl: pa.Table) -> None:
            """Per-batch constraint enforcement, Arrow-side (fail-fast:
            a raise fails the task, Spark aborts the batch, abort()
            unlinks the partial files — no violating commit can land)."""
            from duckdb_delta_spark.delta.errors import (
                ConstraintViolationError,
            )
            from duckdb_delta_spark.delta.predicates import arrow_mask

            ctbl = tbl
            for name, atype in self._constraint_null_cols:
                # table column absent from the stream input: it null-fills
                # on read, so the constraint sees it as all-NULL
                ctbl = ctbl.append_column(
                    name, pa.nulls(len(ctbl), type=atype)
                )
            for cname, cexpr, negated in self._constraints:
                m = arrow_mask(ctbl, negated)
                if m is not None and pc.any(m).as_py():
                    raise ConstraintViolationError(
                        f"CHECK constraint {cname} ({cexpr}) violated by "
                        "streaming batch"
                    )
            for path in self._not_null:
                segs = path.split(".")
                arr = tbl.column(segs[0])
                for seg in segs[1:]:
                    arr = pc.struct_field(arr, seg)
                if arr.null_count:
                    raise ConstraintViolationError(
                        f"NOT NULL constraint violated for column {path!r}"
                    )

        for batch in iterator:
            if batch.num_rows == 0:
                continue
            _rows += batch.num_rows
            tbl = pa.Table.from_batches([batch])
            if tbl.schema != arrow_schema:
                tbl = tbl.cast(arrow_schema)
            _enforce(tbl)
            if not parts:
                _sink((), _render(tbl.select(data_names)))
                continue
            # split by distinct partition tuples (few per batch by design)
            keys = tbl.select(parts)
            distinct = keys.group_by(parts).aggregate([]).to_pylist()
            for combo in distinct:
                for nc in self._not_null_parts:
                    if combo.get(nc) is None:
                        from duckdb_delta_spark.delta.errors import (
                            ConstraintViolationError,
                        )

                        raise ConstraintViolationError(
                            "NOT NULL constraint violated for partition "
                            f"column {nc!r}"
                        )
                mask = None
                for c in parts:
                    v = combo[c]
                    m = (
                        pc.is_null(tbl.column(c))
                        if v is None
                        else pc.equal(tbl.column(c), pa.scalar(v))
                    )
                    mask = m if mask is None else pc.and_(mask, m)
                pv = tuple(
                    # partitionValues keys (and hive dirs) are PHYSICAL
                    # names on mapped tables, like the batch writer's
                    (self._phys.get(c, c),
                     None if combo[c] is None else _pv_str(combo[c]))
                    for c in parts
                )
                _sink(pv, _render(tbl.filter(mask).select(data_names)))

        out = []
        for pv, (w, rel, full) in writers.items():
            w.close()
            try:
                from duckdb_delta_spark.delta.writer import _footer_stats

                # mapped tables: stats keyed by the PHYSICAL schema the
                # file was written under (spec) — partition cols already
                # excluded from it
                stats = json.dumps(
                    _footer_stats(full, *(
                        (self._phys_schema, set())
                        if self._phys_schema is not None
                        else (self.schema, set(self.partition_columns))
                    )),
                    separators=(",", ":"),
                )
            except Exception:  # noqa: BLE001 - driver fallback fills in
                stats = None
            out.append(_WrittenFile(
                rel_path=rel, size=os.path.getsize(full),
                partition_values=pv, stats=stats,
            ))
        return _WrittenFiles(
            files=tuple(out),
            write_ms=int((_time.time() - _t0) * 1000),
            rows=_rows,
        )

    def commit(self, messages, batchId: int) -> None:
        """Per-batch exactly-once commit. Wall-clock profile (structured
        event ``stream.sink.commit``): with stats computed executor-side
        and shipped in the messages, this is one incremental snapshot
        refresh + one O(files) action build + one put-if-absent — the
        per-batch cost is O(new files) with NO sequential footer reads;
        the dominant cold-session cost of a streaming query is Spark's
        own Python-worker fleet startup, which a long-running stream
        amortizes to zero."""
        import time

        _t0 = time.time()

        from duckdb_delta_spark.delta.log import DeltaLog
        from duckdb_delta_spark.delta.snapshot import Snapshot
        from duckdb_delta_spark.delta.writer import (
            _commit_info,
            _footer_stats_many,
            _log_path,
            _txn_action,
        )

        log = DeltaLog(self.table_path)
        # the snapshot cache (delta/snapshot.py) holds the snapshot the
        # previous batch started from: this replays only the commits
        # since — a long-lived stream must not pay O(log length) driver
        # replay per batch (O(n²) cumulative)
        snap = Snapshot.build(log)
        last = snap.transaction_version(self.app_id)
        if last is None and getattr(self, "_legacy_app_id", None):
            # opt-in upgrade path: no transaction yet under the
            # checkpoint-keyed appId — honor the pre-upgrade table-path
            # appId's version so the resumed pipeline's last committed
            # batch is not re-committed (see __init__)
            last = snap.transaction_version(self._legacy_app_id)
        files = [f for m in messages if m is not None
                 for f in _message_files(m) if f.rel_path]
        if last is not None and batchId <= last:
            # replayed batch: already committed — drop the rewritten files
            for m in files:
                try:
                    os.unlink(os.path.join(self.table_path, m.rel_path))
                except OSError:
                    pass
            return
        if not files:
            # empty micro-batch: an idle stream must not grow the log
            # with a no-op commit per trigger (~1M commits/year at a 30s
            # trigger — every reader replays them forever). Emptiness is
            # already known from the executor commit messages, zero probe
            # jobs. Replay-safe without the txn stamp: the replayed batch
            # re-plans the same (empty) offset range and skips again.
            from duckdb_delta_spark.delta.logging import emit

            emit("stream.sink.skip_empty", table_path=self.table_path,
                 batch_id=int(batchId))
            return
        t_snapshot_ms = int((time.time() - _t0) * 1000)
        now_ms = int(time.time() * 1000)
        info = _commit_info("STREAMING UPDATE", {"epochId": str(batchId)})
        actions = [
            {"commitInfo": info},
            _txn_action(self.app_id, batchId),
        ]
        pcols = set(self.partition_columns)
        # stats normally arrive in the commit messages (computed by the
        # task that wrote each file); pool the footer reads only for
        # stragglers
        missing = [m for m in files if getattr(m, "stats", None) is None]
        fallback: dict[str, str] = {}
        if missing:
            results = _footer_stats_many(
                [os.path.join(self.table_path, m.rel_path) for m in missing],
                *((self._phys_schema, set())
                  if self._phys_schema is not None
                  else (self.schema, pcols)),
            )
            for m, (stats, _size) in zip(missing, results):
                if stats is not None:
                    fallback[m.rel_path] = json.dumps(
                        stats, separators=(",", ":"))
        for m in files:
            actions.append({"add": {
                "path": _log_path(m.rel_path),
                "partitionValues": dict(m.partition_values),
                "size": m.size,
                "modificationTime": now_ms,
                "dataChange": True,
                "stats": getattr(m, "stats", None) or fallback.get(m.rel_path),
            }})
        # per-batch cost breakdown IN the commit itself (delta-spark's
        # operationMetrics surface): executor write wall-time arrives in
        # the task messages, the driver-side phases are measured here —
        # so every micro-batch of a production stream is auditable from
        # the log alone (no profiler attach), and tests bound the
        # per-batch commit cost against it
        prepare_ms = int((time.time() - _t0) * 1000) - t_snapshot_ms
        info["operationMetrics"] = {
            "numFiles": str(len(files)),
            "numOutputRows": str(sum(
                getattr(m, "rows", 0) for m in messages if m is not None)),
            "numOutputBytes": str(sum(f.size for f in files)),
            "executorWriteTimeMs": str(sum(
                getattr(m, "write_ms", 0) for m in messages
                if m is not None)),
            "snapshotRefreshTimeMs": str(t_snapshot_ms),
            # action build + stats fallback; the put-if-absent itself is
            # a single local JSON write and cannot time itself from
            # inside its own commitInfo
            "commitPrepareTimeMs": str(prepare_ms),
            "numStatsFallback": str(len(missing)),
        }
        from duckdb_delta_spark.delta.transaction import ReadSet, Transaction

        def twin(old, fresh, acts):
            # the racer was a twin of this very batch (duplicate query on
            # the same checkpoint): already committed
            replayed = fresh.transaction_version(self.app_id)
            return None if replayed is not None and batchId <= replayed \
                else acts

        # a blind append: it commutes with any racer (maintenance
        # OPTIMIZE, another batch job) that left metadata and protocol
        # intact — rebase instead of failing the whole streaming query
        txn = Transaction(log, snap, retries=5,
                          read=ReadSet(metadata=True, protocol=True),
                          staged=[m.rel_path for m in files], rebase=twin)
        version = txn.commit(actions)
        if version is None:
            return
        from duckdb_delta_spark.delta.logging import emit

        emit(
            "stream.sink.commit",
            table_path=self.table_path,
            version=version,
            batch_id=int(batchId),
            n_files=len(files),
            n_stats_fallback=len(missing),
            snapshot_ms=t_snapshot_ms,
            duration_ms=int((time.time() - _t0) * 1000),
        )

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is None:
                continue
            for f in _message_files(m):
                if f.rel_path:
                    try:
                        os.unlink(os.path.join(self.table_path, f.rel_path))
                    except OSError:
                        pass


def _message_files(m) -> tuple:
    """Both message shapes: per-task _WrittenFiles or a bare _WrittenFile."""
    if isinstance(m, _WrittenFiles):
        return m.files
    return (m,)


def _pv_str(v) -> str:
    """Python partition value → Delta-log partitionValues string."""
    import datetime as dt

    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    return str(v)


# ------------------------------------------------------------- drain helper

def drain_available_now(
    start_query,
    await_seconds: float = 120.0,
    max_runs: int = 10_000,
    end_version: int | None = None,
) -> list:
    """Run-until-drained backfill for rate-limited Python-bridge sources.

    Spark's ``Trigger.AvailableNow`` needs source-side support
    (``prepareForTriggerAvailableNow``); the Python data-source bridge
    (``PythonMicroBatchStream``, pyspark 4.1) has none, so Spark logs
    "Falling back to single batch execution" and one availableNow run
    advances exactly ONE rate-limited batch. This helper is the
    production catch-up-then-stop shape for that bridge: call
    ``start_query()`` (which must start an availableNow query on a FIXED
    checkpointLocation) repeatedly until a run admits no new rows. The
    checkpoint makes the loop exactly-once — every run resumes from the
    committed offset, replaying at most one planned-but-uncommitted
    batch — and when the loop exits the checkpoint offsets are exactly
    where a subsequent continuous-trigger run picks up.

    Returns the per-run ``lastProgress`` dicts of the runs that moved
    data (so ``len(result)`` is the number of planned batches and
    ``sum(p["numInputRows"])`` the total drained rows).

    ``end_version``: the table's HEAD version at drain start, when known.
    Each run's committed ``endOffset`` is compared against it so the loop
    stops the moment the backlog is drained — WITHOUT paying one extra
    full query lifecycle (~1-2 s of stream startup on the Python bridge,
    measured in docs/bench_environment_notes.md) just to observe an
    empty batch. Without it the loop still terminates on the first
    zero-row run.
    """
    progresses = []
    for _ in range(max_runs):
        q = start_query()
        q.awaitTermination(await_seconds)
        p = q.lastProgress
        if not q.isActive and p is None:
            break  # nothing planned at all: caught up
        if q.isActive:  # pragma: no cover - defensive stop on timeout
            q.stop()
            raise TimeoutError("availableNow run did not terminate")
        if int(p["numInputRows"]) == 0:
            break  # empty batch: caught up
        progresses.append(p)
        if end_version is not None:
            try:
                off = p["sources"][0]["endOffset"]
                if isinstance(off, str):
                    off = json.loads(off)
                reached = int(off["version"]) if isinstance(off, dict) else None
            except (KeyError, IndexError, TypeError, ValueError):
                reached = None
            if reached is not None and reached >= end_version:
                break  # committed through HEAD: drained, skip the empty run
    else:  # pragma: no cover
        raise RuntimeError(f"backlog not drained in {max_runs} runs")
    return progresses
