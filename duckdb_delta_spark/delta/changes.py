"""Change-feed computation: row-level changes between two table versions.

Beyond the reference (read-only scans there), but a core need of
incremental 100 TB pipelines: consume only what changed instead of
re-scanning the table. Delta's native CDF relies on writer-produced
``_change_data`` files; this engine derives the same information from the
log alone, so it works on ANY table:

* a commit's brand-new data files (``add`` without a paired ``remove`` of
  the same path) contribute their rows as ``insert``;
* a path re-added with a new deletion vector contributes the rows in
  ``dvNew − dvOld`` as ``delete`` AND the rows in ``dvOld − dvNew`` as
  ``insert`` (the file's bytes are unchanged; a RESTORE that rolls back
  a DV delete SHRINKS the mask, resurrecting rows — those must surface
  as inserts, read at the NEW snapshot where they are live again);
* a path removed outright contributes its live rows at the previous
  version as ``delete``;
* ``dataChange: false`` commits (OPTIMIZE) contribute nothing.

An UPDATE/MERGE therefore appears as delete+insert pairs — the
pre/post-image split CDF would give, without needing ``_change_data``.

Scale shape: per commit, file classification is driver-side O(#actions);
row materialization is one restricted scan per class (Catalyst prunes to
exactly the touched files), and DV diffs route like the scan's DV mask —
broadcast semi-join for small diffs, Arrow-batched ``searchsorted`` keep
filter for large ones.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from duckdb_delta_spark.delta import mapping
from duckdb_delta_spark.delta.dv import read_dv_from_descriptor
from duckdb_delta_spark.delta.log import DeltaLog
from duckdb_delta_spark.delta.scan import DeltaScanBuilder
from duckdb_delta_spark.delta.snapshot import Snapshot, _dv_unique_id

CHANGE_TYPE = "_change_type"
COMMIT_VERSION = "_commit_version"
COMMIT_TIMESTAMP = "_commit_timestamp"

#: above this many diff rows, the row filter switches from a broadcast
#: semi-join to an Arrow-batched searchsorted filter
DIFF_JOIN_MAX = 5_000_000


def _non_additive_changes(old_fields, new_fields, prefix: str = "",
                          relaxed: bool = False):
    """Rename/drop detection between two schema versions inside a CDF
    range. Matches fields by ``delta.columnMapping.id`` when present
    (renames are only expressible under column mapping) and by name
    otherwise. Returns human-readable problem strings; empty means the
    newer schema is a pure widening (added columns / relaxed types),
    which CDF serves by null-filling — anything else must raise, or
    pre-change rows would silently read NULL where they have values
    (delta-spark raises a non-additive-schema-change error here).

    ``relaxed`` is the check behind the streaming source's
    ``schemaTrackingDir``: after a restart acknowledged a schema
    boundary, old eras are served under the newer schema by id/physical
    matching, so a rename just relabels and a dropped column is projected
    away; only a type that cannot widen remains a problem."""
    problems: list[str] = []

    fid = mapping.field_id
    new_by_id = {fid(g): g for g in new_fields if fid(g) is not None}
    new_by_name = {g.name: g for g in new_fields}
    for f in old_fields:
        i = fid(f)
        nf = new_by_id.get(i) if i is not None else None
        if nf is None:
            nf = new_by_name.get(f.name)
            if nf is not None and i is not None and \
                    fid(nf) not in (None, i):
                nf = None  # same logical name but a DIFFERENT column
        if nf is None:
            if not relaxed:
                problems.append(f"column {prefix}{f.name!r} was dropped")
            continue
        if nf.name != f.name and not relaxed:
            problems.append(
                f"column {prefix}{f.name!r} was renamed to {nf.name!r}")
        problems += _dtype_problems(
            f.dataType, nf.dataType, f"{prefix}{f.name}", relaxed)
    return problems


def _dtype_problems(od, nd, path: str, relaxed: bool = False) -> list[str]:
    """Type-pair leg of :func:`_non_additive_changes`, recursing through
    CONTAINERS: additive evolution is legal at any nesting level (Delta
    ALTER TABLE ADD COLUMNS reaches ``array<struct<...>>`` elements and
    map values), so a field added or spec-widened inside an array
    element / map entry must not be flagged — only genuine
    rename/drop/non-widening changes anywhere in the tree are
    non-additive. A non-widening type change (e.g. overwrite_schema
    long -> string) is just as non-additive as a rename: serving would
    implicitly cast pre-change rows."""
    if od == nd:
        return []
    if isinstance(od, T.StructType) and isinstance(nd, T.StructType):
        return _non_additive_changes(od.fields, nd.fields, path + ".",
                                     relaxed)
    if isinstance(od, T.ArrayType) and isinstance(nd, T.ArrayType):
        return _dtype_problems(od.elementType, nd.elementType,
                               path + ".element", relaxed)
    if isinstance(od, T.MapType) and isinstance(nd, T.MapType):
        return (_dtype_problems(od.keyType, nd.keyType, path + ".key",
                                relaxed)
                + _dtype_problems(od.valueType, nd.valueType,
                                  path + ".value", relaxed))
    if mapping.is_widening(od, nd):
        return []
    return [
        f"column {path!r} changed type {od.simpleString()} -> "
        f"{nd.simpleString()} (not a spec-allowed widening)"
    ]


def _conform_col(c, frm, to):
    """Catalyst expression conforming a column of era type ``frm`` to
    serving type ``to`` — the NESTED twin of the top-level null-fill:
    struct fields match by name (renames/drops are refused upstream, so
    surviving names are stable), fields the era predates null-fill,
    arrays/maps recurse via ``F.transform`` (whole-stage codegen, no
    UDF), scalars cast (spec widenings only, enforced upstream).
    Identity when the shapes already agree. Mirrors the streaming
    source's Arrow-side ``_to_logical_arrow`` null-fill semantics."""
    if frm.simpleString() == to.simpleString():
        return c
    if isinstance(frm, T.StructType) and isinstance(to, T.StructType):
        by = {f.name: f for f in frm.fields}
        parts = []
        for g in to.fields:
            f = by.get(g.name)
            sub = (F.lit(None).cast(g.dataType) if f is None
                   else _conform_col(c.getField(g.name), f.dataType,
                                     g.dataType))
            parts.append(sub.alias(g.name))
        # a NULL struct must stay NULL, not become struct(null, ...)
        return F.when(c.isNull(), F.lit(None).cast(to)).otherwise(
            F.struct(*parts))
    if isinstance(frm, T.ArrayType) and isinstance(to, T.ArrayType):
        return F.transform(
            c, lambda x: _conform_col(x, frm.elementType, to.elementType))
    if isinstance(frm, T.MapType) and isinstance(to, T.MapType):
        return F.map_from_entries(F.transform(
            F.map_entries(c),
            lambda e: F.struct(
                _conform_col(e.getField("key"), frm.keyType,
                             to.keyType).alias("key"),
                _conform_col(e.getField("value"), frm.valueType,
                             to.valueType).alias("value"))))
    return c.cast(to)


def table_changes(
    log: DeltaLog,
    spark: SparkSession,
    starting_version: int,
    ending_version: int | None = None,
) -> DataFrame:
    """Row-level changes in commits ``(starting_version, ending_version]``.

    Returns the table schema + ``_change_type`` ('insert'|'delete') +
    ``_commit_version``.
    """
    segs = _walk_changes(log, spark, starting_version, ending_version,
                         split=False)
    return segs[0][2]


def _walk_changes(
    log: DeltaLog,
    spark: SparkSession,
    starting_version: int,
    ending_version: int | None,
    split: bool,
) -> list[tuple[int, int, DataFrame]]:
    """One driver pass over the range's commits, shared by
    :func:`table_changes` (``split=False``: one frame for the whole
    range, raising on a non-additive schema change inside it) and
    :func:`table_changes_segments` (``split=True``: close the current
    segment at every non-additive ``metaData`` commit and start the
    next era AT it). The segment walk reads each commit JSON exactly
    once — boundary detection rides the same snapshot replay that
    derives the row changes, and a metadata-only boundary commit is
    known row-free by construction, so no probe job is ever issued
    for it."""
    # one directory listing for the whole walk — commit_timestamp would
    # otherwise re-list per version, making CDF O(versions × listdir)
    segment = log.list_log_files()
    end = log.resolve_version(ending_version, segment)
    if starting_version > end:
        raise ValueError(f"starting_version {starting_version} > end {end}")
    from duckdb_delta_spark.delta.errors import SchemaError

    commit_paths = segment.commits
    parts: list[DataFrame] = []
    if starting_version < 0:
        # pre-table baseline (timestamp bound before the first commit):
        # an empty snapshot so even version 0's changes are included
        snap = Snapshot(log, -1)
    else:
        snap = Snapshot.build(log, starting_version, segment=segment)
    # every distinct schema observed in the current segment, oldest
    # first — each is validated against the segment's END schema at
    # finalize (rename/drop inside a segment must raise, not null-fill;
    # see _non_additive_changes). The pre-table baseline (-1) has no
    # schema and contributes nothing.
    schema_versions: list[tuple[int, object]] = (
        [] if starting_version < 0 else [(starting_version, snap.schema)])
    segments: list[tuple[int, int, DataFrame]] = []
    seg_start = starting_version

    def _finalize(seg_end: int, end_snap: Snapshot) -> DataFrame:
        # rename/drop inside the segment → loud error (delta-spark
        # parity); only genuinely ADDED columns may be null-filled below
        end_fields = end_snap.schema.fields
        for sv, sch in schema_versions[:-1]:
            probs = _non_additive_changes(sch.fields, end_fields)
            if probs:
                raise SchemaError(
                    "table_changes: non-additive schema change inside the "
                    f"requested range (schema at version {sv} vs end "
                    f"{seg_end}): " + "; ".join(probs) + ". Use "
                    "table_changes_segments() to drain the range split at "
                    "the schema boundary, one frame per schema era."
                )
        if not parts:
            schema = T.StructType(
                list(end_snap.schema.fields)
                + [
                    T.StructField(CHANGE_TYPE, T.StringType()),
                    T.StructField(COMMIT_VERSION, T.LongType()),
                    T.StructField(COMMIT_TIMESTAMP, T.TimestampType()),
                ]
            )
            return spark.createDataFrame([], schema)

        # normalize EVERY part to the ENDING version's schema before the
        # union — delta-spark CDF semantics: a range is served under the
        # end schema, old rows read the added columns as NULL. The
        # per-part conform (rather than unionByName(allowMissingColumns)
        # + a top-level select) is what makes ADDITIVE NESTED evolution
        # servable: unionByName cannot null-fill a field added inside an
        # array element or map value, _conform_col can (F.transform).
        def _conform(df: DataFrame) -> DataFrame:
            by = {f.name: f for f in df.schema.fields}
            cols = []
            for g in end_snap.schema.fields:
                f = by.get(g.name)
                cols.append(
                    (F.lit(None).cast(g.dataType) if f is None
                     else _conform_col(F.col(g.name), f.dataType,
                                       g.dataType)).alias(g.name))
            cols += [F.col(CHANGE_TYPE), F.col(COMMIT_VERSION),
                     F.col(COMMIT_TIMESTAMP)]
            return df.select(*cols)

        out = _conform(parts[0])
        for p in parts[1:]:
            out = out.unionByName(_conform(p))
        return out

    for v in range(starting_version + 1, end + 1):
        # ONE read_commit per version: the same parsed actions feed the
        # snapshot replay (Snapshot.build(actions=...)), the add/remove/
        # cdc classification, and the commit clock below — previously
        # each commit JSON was parsed twice and probed a third time for
        # the ICT.
        actions = log.read_commit(v)
        prev = snap
        snap = Snapshot.build(log, v, base=prev, actions=actions)
        schema_changed = not schema_versions or (
            snap.schema is not schema_versions[-1][1]
            and snap.schema != schema_versions[-1][1])
        adds: dict[str, dict] = {}
        removes: dict[str, dict] = {}
        cdcs: list[dict] = []
        for action in actions:
            if action.get("cdc"):
                cdcs.append(action["cdc"])
            elif action.get("add") and action["add"].get("dataChange", True):
                adds[action["add"]["path"]] = action["add"]
            elif action.get("remove") and action["remove"].get("dataChange", True):
                removes[action["remove"]["path"]] = action["remove"]
        if split and schema_changed and schema_versions and \
                _non_additive_changes(schema_versions[-1][1].fields,
                                      snap.schema.fields):
            if adds or removes or cdcs:
                raise SchemaError(
                    f"table_changes_segments: commit {v} changes the "
                    "schema non-additively AND carries data changes — "
                    "its row changes span two schemas and cannot be "
                    "served under either"
                )
            # metadata-only boundary: the era ends just before it and the
            # next era starts AT it (exclusive start). The boundary commit
            # contributes no rows by construction, so a zero-commit era
            # ((s, s]) is dropped without any probe job.
            if v - 1 > max(seg_start, -1):
                segments.append((seg_start, v - 1, _finalize(v - 1, prev)))
            seg_start = v
            parts = []
            schema_versions = [(v, snap.schema)]
            continue
        if schema_changed:
            schema_versions.append((v, snap.schema))
        if not adds and not removes and not cdcs:
            continue
        # commit clock from the actions already in hand and the one
        # up-front listing — no per-version re-open of the JSON
        ts_ms = log.commit_time(v, actions, commit_paths)
        if cdcs:
            # Delta spec: when a commit carries cdc actions, readers use
            # the _change_data files EXCLUSIVELY for that commit — richer
            # than the derived view (update_preimage/update_postimage)
            parts.append(_read_cdc(snap, spark, cdcs, v, ts_ms))
            continue

        new_paths = [p for p in adds if p not in removes]
        masked = [p for p in adds if p in removes]
        dropped = [p for p in removes if p not in adds]

        if new_paths:
            ins = (
                DeltaScanBuilder(snap, spark)
                .restrict_paths(new_paths)
                .to_df()
            )
            parts.append(_tag(ins, "insert", v, ts_ms))

        if masked:
            pairs, card = _dv_diff_descriptors(adds, removes, masked)
            if pairs and card > DIFF_JOIN_MAX:
                # big diffs: never decode on the driver — ship descriptor
                # PAIRS, decode + setdiff1d executor-side (scan big-DV
                # pattern, scan.py _apply_deletion_vectors). Grown rows
                # (dvNew − dvOld) are deletes read at PREV (prev's scan
                # leaves them live); shrunk rows (dvOld − dvNew, e.g. a
                # RESTORE rolling back a DV delete) are inserts read at
                # the NEW snapshot, where they are live again. Each
                # direction scans only the paths whose source DV is
                # non-empty (a grow needs dvNew rows, a shrink dvOld
                # rows), so the common one-direction commit — first
                # delete on a file, or a restore dropping a DV outright
                # — never pays a second scan of the masked files.
                def _dir_pairs(idx):
                    # prune a direction only on PROOF of emptiness: no
                    # descriptor on that side, or an explicit cardinality
                    # of 0. The spec requires cardinality, but a foreign
                    # descriptor that omits it must still route to the
                    # executor decode (which computes the true diff) —
                    # silently dropping it would lose feed rows with no
                    # error, and the small route (which always decodes)
                    # would disagree with this one by route.
                    out = {}
                    for p, d in pairs.items():
                        desc = d[idx]
                        if not desc:
                            continue
                        c = desc.get("cardinality")
                        if c is not None and int(c) == 0:
                            continue
                        out[p] = d
                    return out

                grow_pairs = _dir_pairs(0)
                shrink_pairs = _dir_pairs(1)
                if grow_pairs:
                    dels = _rows_at_big(prev, spark, grow_pairs,
                                        shrink=False)
                    parts.append(_tag(dels, "delete", v, ts_ms))
                if shrink_pairs:
                    ins = _rows_at_big(snap, spark, shrink_pairs,
                                       shrink=True)
                    parts.append(_tag(ins, "insert", v, ts_ms))
            elif pairs:
                del_rows, ins_rows = _dv_diffs(log.table_path, pairs)
                if del_rows:
                    dels = _rows_at(prev, spark, list(del_rows), del_rows)
                    parts.append(_tag(dels, "delete", v, ts_ms))
                if ins_rows:
                    ins = _rows_at(snap, spark, list(ins_rows), ins_rows)
                    parts.append(_tag(ins, "insert", v, ts_ms))

        if dropped:
            dels = (
                DeltaScanBuilder(prev, spark)
                .restrict_paths(dropped)
                .to_df()
            )
            parts.append(_tag(dels, "delete", v, ts_ms))

    if not split:
        return [(seg_start, end, _finalize(end, snap))]
    if end > max(seg_start, -1):
        segments.append((seg_start, end, _finalize(end, snap)))
    return segments


def _read_cdc(
    snap: Snapshot, spark: SparkSession, cdcs: list[dict], version: int,
    ts_ms: int | None = None,
) -> DataFrame:
    """Materialize a commit's ``_change_data`` files: table columns (with
    partition constants injected from the cdc actions) + the file-borne
    ``_change_type`` + ``_commit_version``.

    Column-mapped tables: cdc files mirror data files (Delta spec), so
    they are read and renamed back to logical names like the batch scan
    (:mod:`delta.mapping`); cdc-action partitionValues are keyed
    physically too."""
    pcols = snap.partition_columns
    schema = snap.schema
    mode = snap.column_mapping_mode
    ptypes = {f.name: f.dataType for f in schema.fields}
    phys = mapping.name_map(schema)
    data = [f for f in schema.fields if f.name not in pcols]
    file_schema = mapping.read_schema(spark, data, mode)

    from duckdb_delta_spark.delta.scan import FILE_COL, pv_string_to_col
    from duckdb_delta_spark.delta.snapshot import resolve_log_path

    # ONE parquet read for the commit's cdc files + a broadcast
    # (file → partition values) map join — never a read/union per
    # distinct partition tuple (a replaceWhere cdc commit touching 500
    # partitions would otherwise build a 500-branch union plan); same
    # FinalizeBind mechanism as the batch scan's
    # _inject_partition_values, sharing its pv_string_to_col ladder.
    by_uri_pv: dict[str, tuple] = {}  # keyed by uri: dedupes, join-safe
    paths: list[str] = []
    for c in cdcs:
        full = resolve_log_path(snap.log.table_path, c["path"])
        uri = DeltaScanBuilder._spark_file_uri(full)
        if uri in by_uri_pv:
            continue
        paths.append(full)
        pv = c.get("partitionValues", {})
        by_uri_pv[uri] = (
            uri,
            *[None if (v := pv.get(phys[k])) in (None, "") else str(v)
              for k in pcols])
    pv_rows = list(by_uri_pv.values())

    df = spark.read.schema(T.StructType(
        list(file_schema.fields)
        + [T.StructField(CHANGE_TYPE, T.StringType())])).parquet(*paths)
    df = df.select(
        *[mapping.to_logical(p.name, f, mode)
          for f, p in zip(data, file_schema.fields)],
        F.col(CHANGE_TYPE),
        F.col("_metadata.file_path").alias(FILE_COL),
    )
    if pcols:
        pmap_schema = T.StructType(
            [T.StructField(FILE_COL, T.StringType())]
            + [T.StructField(f"__pv_{p}", T.StringType()) for p in pcols])
        pmap = spark.createDataFrame(pv_rows, pmap_schema)
        df = df.join(F.broadcast(pmap), on=FILE_COL, how="left")
        for p in pcols:
            df = df.withColumn(
                p, pv_string_to_col(F.col(f"__pv_{p}"), ptypes[p]))
    return df.select(
        *[F.col(f.name) for f in schema.fields],
        F.col(CHANGE_TYPE),
        F.lit(version).cast("long").alias(COMMIT_VERSION),
        (
            F.timestamp_millis(F.lit(int(ts_ms)))
            if ts_ms is not None
            else F.lit(None).cast("timestamp")
        ).alias(COMMIT_TIMESTAMP),
    )


def _tag(df: DataFrame, change: str, version: int,
         ts_ms: int | None = None) -> DataFrame:
    out = df.withColumn(CHANGE_TYPE, F.lit(change)).withColumn(
        COMMIT_VERSION, F.lit(version).cast("long")
    )
    # delta-spark CDF parity: the commit's clock (ICT-aware) rides along
    return out.withColumn(
        COMMIT_TIMESTAMP,
        F.timestamp_millis(F.lit(int(ts_ms))) if ts_ms is not None
        else F.lit(None).cast("timestamp"),
    )


def _dv_diff_descriptors(
    adds: dict, removes: dict, masked: list[str]
) -> tuple[dict[str, tuple[dict | None, dict | None]], int]:
    """Per path: the (dvNew, dvOld) DESCRIPTOR pair when the mask changed,
    plus an upper bound on diff rows (sum of BOTH cardinalities — the grow
    diff is bounded by |dvNew|, the shrink diff by |dvOld|) — routing needs
    no decode, exactly like the scan's DV router."""
    out: dict[str, tuple[dict | None, dict | None]] = {}
    card = 0
    for path in masked:
        dv_new = adds[path].get("deletionVector")
        dv_old = removes[path].get("deletionVector")
        if _dv_unique_id(dv_new) == _dv_unique_id(dv_old):
            continue  # same mask re-added (e.g. metadata-only rewrite)
        out[path] = (dv_new, dv_old)
        card += int((dv_new or {}).get("cardinality") or 0)
        card += int((dv_old or {}).get("cardinality") or 0)
    return out, card


def _dv_diffs(
    table_path: str, pairs: dict[str, tuple[dict | None, dict | None]]
) -> tuple[dict[str, np.ndarray], dict[str, np.ndarray]]:
    """Small-diff path: decode on the driver (bounded by DIFF_JOIN_MAX
    cardinality). Returns per-path row indexes in BOTH directions:
    ``(dvNew − dvOld → deletes, dvOld − dvNew → inserts)`` — each DV is
    decoded exactly once."""
    dels: dict[str, np.ndarray] = {}
    inss: dict[str, np.ndarray] = {}
    for path, (dv_new, dv_old) in pairs.items():
        new_rows = (
            read_dv_from_descriptor(dv_new, table_path)
            if dv_new
            else np.empty(0, dtype=np.uint64)
        )
        old_rows = (
            read_dv_from_descriptor(dv_old, table_path)
            if dv_old
            else np.empty(0, dtype=np.uint64)
        )
        grow = np.setdiff1d(new_rows, old_rows)
        if len(grow):
            dels[path] = grow.astype("int64")
        shrink = np.setdiff1d(old_rows, new_rows)
        if len(shrink):
            inss[path] = shrink.astype("int64")
    return dels, inss


def _rows_at_big(
    at: Snapshot,
    spark: SparkSession,
    pairs: dict[str, tuple[dict | None, dict | None]],
    shrink: bool = False,
) -> DataFrame:
    """Big-diff path: broadcast only the O(#files) descriptor PAIRS; each
    executor decodes the two DV files behind its splits and keeps rows in
    ``dvNew − dvOld`` (``shrink=False``, deletes — read at the PREVIOUS
    snapshot) or ``dvOld − dvNew`` (``shrink=True``, resurrected inserts —
    read at the NEW snapshot, where those rows are live). Driver memory
    stays O(#descriptors) — never O(diff rows) (mirror of scan.py's
    big-DV route)."""
    from duckdb_delta_spark.delta.logging import emit
    from duckdb_delta_spark.delta.scan import FILE_COL, ROW_COL

    table_path = at.log.table_path
    paths = list(pairs)
    emit(
        "changes.dv_route",
        table_path=table_path,
        n_descriptors=len(pairs),
        route="executor_decode",
        direction="shrink" if shrink else "grow",
    )
    sb = DeltaScanBuilder(at, spark).with_virtual_columns().restrict_paths(paths)
    df = sb.to_df()
    by_uri = {
        DeltaScanBuilder._spark_file_uri(
            f.absolute_path(table_path)
        ): pairs[f.path]
        for f in at.add_files()
        if f.path in pairs
    }
    bc = spark.sparkContext.broadcast(by_uri)
    want_shrink = bool(shrink)

    @F.pandas_udf(T.BooleanType())
    def _in_diff(file_path: pd.Series, row_index: pd.Series) -> pd.Series:
        from duckdb_delta_spark.delta import dv as dvmod
        from duckdb_delta_spark.delta.scan import _executor_dv_cache

        cache = _executor_dv_cache()
        keep = np.zeros(len(file_path), dtype=bool)
        for uri, grp in pd.DataFrame(
            {"f": file_path, "r": row_index}
        ).groupby("f", sort=False):
            descs = bc.value.get(uri)
            if descs is None:
                continue
            dv_new, dv_old = descs
            key = (
                table_path,
                "shrinkdiff" if want_shrink else "diff",
                (dv_new or {}).get("pathOrInlineDv"),
                (dv_new or {}).get("offset"),
                (dv_old or {}).get("pathOrInlineDv"),
                (dv_old or {}).get("offset"),
            )
            arr = cache.get(key)
            if arr is None:
                new_rows = (
                    dvmod.read_dv_from_descriptor(dv_new, table_path)
                    if dv_new
                    else np.empty(0, dtype=np.uint64)
                )
                old_rows = (
                    dvmod.read_dv_from_descriptor(dv_old, table_path)
                    if dv_old
                    else np.empty(0, dtype=np.uint64)
                )
                arr = (
                    np.setdiff1d(old_rows, new_rows)
                    if want_shrink
                    else np.setdiff1d(new_rows, old_rows)
                ).astype("int64")
                cache[key] = arr
            if len(arr) == 0:
                continue
            rows = grp["r"].to_numpy(dtype="int64")
            pos = np.searchsorted(arr, rows)
            hit = (pos < len(arr)) & (arr[np.minimum(pos, len(arr) - 1)] == rows)
            keep[grp.index.to_numpy()] = hit
        return pd.Series(keep)

    data_cols = [c for c in df.columns
                 if c not in ("filename", "file_row_number", "delta_file_number",
                              FILE_COL, ROW_COL)]
    return df.filter(
        _in_diff(F.col("filename"), F.col("file_row_number"))
    ).select(*data_cols)


def _rows_at(
    at: Snapshot, spark: SparkSession, paths: list[str],
    rows_by_path: dict[str, np.ndarray],
) -> DataFrame:
    """Materialize specific (path, row_index) rows at a snapshot where
    they are LIVE: the previous one for grown-DV deletes, the new one for
    shrunk-DV inserts (file bytes are unchanged by a DV commit — only
    which snapshot's mask leaves the rows visible differs)."""
    sb = DeltaScanBuilder(at, spark).with_virtual_columns().restrict_paths(paths)
    df = sb.to_df()
    by_uri = {
        DeltaScanBuilder._spark_file_uri(
            f.absolute_path(at.log.table_path)
        ): rows_by_path[f.path]
        for f in at.add_files()
        if f.path in rows_by_path
    }
    from duckdb_delta_spark.delta.scan import FILE_COL, ROW_COL

    data_cols = [c for c in df.columns
                 if c not in ("filename", "file_row_number", "delta_file_number",
                              FILE_COL, ROW_COL)]
    # only reached on the small route (diff cardinality ≤ DIFF_JOIN_MAX):
    # pure-JVM broadcast semi-joins; big diffs go through _rows_at_big.
    # The wanted set ships as two INT64 columns keyed by a per-file
    # surrogate id — numpy end to end, no per-row Python tuples and no
    # file URI repeated per row (at the threshold that repetition alone
    # was hundreds of driver-side MB): a tiny (filename -> id) broadcast
    # join tags the scan, then the (id, row) semi-join keeps the rows.
    uris = list(by_uri)
    if not uris:
        return df.limit(0).select(*data_cols)
    wanted_pd = pd.concat(
        [pd.DataFrame({
            "__cdf_fid": np.full(len(by_uri[u]), i, dtype="int64"),
            "file_row_number": by_uri[u].astype("int64"),
        }) for i, u in enumerate(uris)],
        ignore_index=True,
    )
    wanted = spark.createDataFrame(
        wanted_pd, schema="__cdf_fid long, file_row_number long")
    fmap = spark.createDataFrame(
        pd.DataFrame({"filename": uris,
                      "__cdf_fid": np.arange(len(uris), dtype="int64")}),
        schema="filename string, __cdf_fid long")
    return (
        df.join(F.broadcast(fmap), on="filename", how="inner")
        .join(F.broadcast(wanted), on=["__cdf_fid", "file_row_number"],
              how="left_semi")
        .select(*data_cols)
    )


def table_changes_segments(
    log: DeltaLog,
    spark: SparkSession,
    starting_version: int,
    ending_version: int | None = None,
) -> list[tuple[int, int, DataFrame]]:
    """Drain a CDF range that CROSSES non-additive schema changes — the
    escape hatch :func:`table_changes`' error recommends (delta-spark's
    streaming schema-tracking restart, done eagerly for batch): split
    the range at every non-additive ``metaData`` commit (rename / drop /
    non-widening type change) and return ``[(start, end, frame), ...]``
    sub-ranges, each valid for :func:`table_changes` and served under
    its own END schema.

    Non-additive schema commits in this engine are METADATA-ONLY
    (RENAME/DROP/ALTER TYPE; overwriteSchema is refused on CDF tables),
    so they contribute no row changes and the concatenated segments are
    exactly the full range's row-change stream — each era under the
    schema its rows actually have, never null-filled across a rename. A
    non-additive commit that itself carries data actions cannot be
    represented under either schema and raises.

    One driver pass: boundary detection rides the same snapshot replay
    that derives each segment's row changes (each commit JSON is read
    once for the walk), and metadata-only boundary commits are known
    row-free by construction — no per-segment probe job.
    """
    return _walk_changes(log, spark, starting_version, ending_version,
                         split=True)
