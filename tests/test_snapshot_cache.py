"""The one-listing table open and the process-wide snapshot cache: a
cached or incrementally built snapshot equals a cold build, a repeated
open reads nothing but the listing, and shared snapshots stay immutable
under every writer operation."""

from __future__ import annotations

import copy
import dataclasses
import json
import os
import shutil
import sys
import threading

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from duckdb_delta_spark import DeltaTable, DeltaWriter
from duckdb_delta_spark.delta import snapshot as snapshot_mod
from duckdb_delta_spark.delta.errors import (
    InvalidTableVersionError,
    MalformedLogError,
)
from duckdb_delta_spark.delta.log import _CHECKPOINT_V2_RE, DeltaLog, _normalize_maps
from duckdb_delta_spark.delta.snapshot import Snapshot, clear_snapshot_cache

SCHEMA = T.StructType([T.StructField("k", T.LongType()),
                       T.StructField("v", T.LongType())])
SCHEMA_STRING = json.dumps({"type": "struct", "fields": [
    {"name": "i", "type": "long", "nullable": True, "metadata": {}}]})


# ---------------------------------------------------------------- helpers


def _raw_table(path: str, n_commits: int, tag: str = "a") -> DeltaLog:
    """A table written straight to the log: v0 creates it, every later
    commit adds one file (the files themselves are never read)."""
    os.makedirs(os.path.join(path, "_delta_log"))
    log = DeltaLog(path)
    log.commit(0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": tag, "format": {"provider": "parquet", "options": {}},
                      "schemaString": SCHEMA_STRING, "partitionColumns": [],
                      "configuration": {}}},
    ])
    _add_commits(log, range(1, n_commits), tag)
    return log


def _add_commits(log: DeltaLog, versions, tag: str = "a") -> None:
    for v in versions:
        stats = {"numRecords": v, "minValues": {"i": v}, "maxValues": {"i": v},
                 "nullCount": {"i": 0}}
        log.commit(v, [{"add": {
            "path": f"{tag}-{v}.parquet", "partitionValues": {}, "size": v,
            "modificationTime": 0, "dataChange": True,
            "stats": json.dumps(stats)}}])


def _state(snap: Snapshot) -> dict:
    """Everything a snapshot reconstructs from the log."""
    return {
        "version": snap.version,
        "files": {k: {f.name: getattr(a, f.name) for f in dataclasses.fields(a)
                      if f.compare}
                  for k, a in snap.files.items()},
        "tombstones": snap.tombstones,
        "dv_tombstones": snap.dv_tombstones,
        "metadata": snap.metadata,
        "protocol": snap.protocol,
        "app_transactions": snap.app_transactions,
        "app_txn_updated": snap.app_txn_updated,
        "domain_metadata": snap.domain_metadata,
        "checkpoint_version": snap.checkpoint_version,
    }


def _fingerprint(snap: Snapshot) -> str:
    return repr(_state(snap))


def _cold(path: str, version: int | None):
    """``(state, None)`` of a build with the cache cleared, or
    ``(None, error class)`` when that build raises. The cache is put back
    afterwards, so the caller's warm state is undisturbed."""
    with snapshot_mod._cache_lock:
        saved = [(p, [e[0], e[1].copy()]) for p, e in snapshot_mod._cache.items()]
    clear_snapshot_cache()
    try:
        return _state(Snapshot.build(DeltaLog(path), version)), None
    except Exception as exc:  # noqa: BLE001 - compared by class
        return None, type(exc)
    finally:
        with snapshot_mod._cache_lock:
            snapshot_mod._cache.clear()
            snapshot_mod._cache.update(saved)


def _check_open(path: str, version: int | None) -> None:
    """A cached / incremental open of ``version`` equals a cold build,
    or raises the same error class."""
    want, err = _cold(path, version)
    if err is not None:
        with pytest.raises(err):
            DeltaTable(path, version=version)
        return
    assert _state(DeltaTable(path, version=version).snapshot) == want


class _Counts:
    """Counts calls into DeltaLog's listing and read entry points."""

    NAMES = ("list_log_files", "read_commit", "read_checkpoint_table")

    def __init__(self, monkeypatch):
        self.n = dict.fromkeys(self.NAMES, 0)
        for name in self.NAMES:
            raw = getattr(DeltaLog, name)

            def wrapped(*a, _raw=raw, _name=name, **kw):
                self.n[_name] += 1
                return _raw(*a, **kw)

            monkeypatch.setattr(DeltaLog, name, wrapped)

    def reset(self) -> None:
        self.n = dict.fromkeys(self.NAMES, 0)


def _to_json_manifest(path: str, version: int) -> None:
    """Rewrite the v2 checkpoint at ``version`` with a JSON manifest."""
    log_dir = os.path.join(path, "_delta_log")
    name = next(n for n in os.listdir(log_dir)
                if _CHECKPOINT_V2_RE.match(n) and n.endswith(".parquet")
                and int(n[:20]) == version)
    lines = []
    for row in pq.read_table(os.path.join(log_dir, name)).to_pylist():
        for key in ("protocol", "metaData", "txn", "domainMetadata", "sidecar"):
            if row.get(key) is not None:
                lines.append(json.dumps({key: _normalize_maps(row[key])}))
    with open(os.path.join(log_dir, name[:-len("parquet")] + "json"), "w") as f:
        f.write("\n".join(lines) + "\n")
    os.unlink(os.path.join(log_dir, name))


# ---------------------------------------------------------------- counts


def test_second_open_reads_only_the_listing(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    log = _raw_table(path, 11)
    DeltaWriter(path, spark).checkpoint()
    _add_commits(log, range(11, 14))
    counts = _Counts(monkeypatch)
    first = DeltaTable(path)
    assert counts.n == {"list_log_files": 1, "read_commit": 3,
                        "read_checkpoint_table": 1}
    manifest = first.snapshot.stats_manifest()
    assert manifest is not None

    import pyarrow.json as pj

    parses = []
    real = pj.read_json
    monkeypatch.setattr(pj, "read_json", lambda *a, **kw: parses.append(1) or real(*a, **kw))
    counts.reset()
    second = DeltaTable(path)
    assert counts.n == {"list_log_files": 1, "read_commit": 0,
                        "read_checkpoint_table": 0}
    assert second.snapshot.stats_manifest() is manifest and not parses


def test_log_tail_cold_build_lists_once(tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    _raw_table(path, 20)
    tail = [os.path.join(path, "_delta_log", f"{v:020d}.json") for v in range(20)]
    counts = _Counts(monkeypatch)
    snap = Snapshot.build(DeltaLog(path, log_tail=tail))
    assert snap.version == 19 and len(snap.files) == 19
    assert counts.n["list_log_files"] == 1
    assert counts.n["read_commit"] == 20


def test_open_after_commit_replays_only_that_commit(spark, tmp_path, monkeypatch):
    """Readers get what the log says: the first open after a commit
    replays that one commit from the newest cached version; the writer's
    own refresh and every later open read nothing."""
    path = str(tmp_path / "t")
    w = DeltaWriter.create(spark, path, SCHEMA)
    w.append(spark.createDataFrame([(1, 1)], SCHEMA))
    DeltaTable(path)
    counts = _Counts(monkeypatch)
    w.append(spark.createDataFrame([(2, 2)], SCHEMA))
    assert counts.n["read_commit"] == 0
    assert DeltaTable(path).version == 2
    assert counts.n["read_commit"] == 1
    counts.reset()
    assert DeltaWriter(path, spark)._snapshot is DeltaTable(path).snapshot
    assert counts.n["read_commit"] == 0 and counts.n["read_checkpoint_table"] == 0


# ---------------------------------------------------------------- threads


def _run_threads(fn, n: int) -> None:
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=fn, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)


def test_stats_manifest_is_published_once_across_threads(tmp_path):
    path = str(tmp_path / "t")
    _raw_table(path, 30)
    clear_snapshot_cache()
    snap = Snapshot.build(DeltaLog(path))
    barrier = threading.Barrier(8)
    got: list = [None] * 8

    def run(i: int) -> None:
        barrier.wait()
        got[i] = snap.stats_manifest()

    _run_threads(run, 8)
    assert got[0] is not None
    assert all(g is got[0] for g in got)


def test_concurrent_opens_under_eviction(tmp_path, monkeypatch):
    """Threads opening random versions of two tables while a small
    budget evicts: every open sees exactly its version's files."""
    monkeypatch.setattr(snapshot_mod, "_CACHE_TABLE_ENTRIES", 40)
    monkeypatch.setattr(snapshot_mod, "_CACHE_TOTAL_ENTRIES", 60)
    paths = [str(tmp_path / name) for name in ("a", "b")]
    for p in paths:
        _raw_table(p, 25, tag=os.path.basename(p))
    wrong: list = []

    def run(i: int) -> None:
        rng = np.random.default_rng(i)
        for _ in range(40):
            p = paths[int(rng.integers(2))]
            v = int(rng.integers(25))
            files = DeltaTable(p, version=v).snapshot.files
            if len(files) != v or any(f.size > v for f in files.values()):
                wrong.append((p, v, len(files)))

    _run_threads(run, 8)
    assert not wrong
    assert sum(e[0] for e in snapshot_mod._cache.values()) <= 60


# ---------------------------------------------------------------- named cases


def test_recreated_table_at_same_path(tmp_path):
    """Same path, same number of commits, different content: the cached
    snapshot is not served."""
    path = str(tmp_path / "t")
    _raw_table(path, 6, tag="old")
    assert {f.path for f in DeltaTable(path).snapshot.files.values()} == {
        f"old-{v}.parquet" for v in range(1, 6)}
    DeltaTable(path, version=3)
    shutil.rmtree(path)
    _raw_table(path, 6, tag="recreated")
    for version in (None, 3, 5):
        _check_open(path, version)
    assert {f.path for f in DeltaTable(path).snapshot.files.values()} == {
        f"recreated-{v}.parquet" for v in range(1, 6)}


def test_unlinked_sidecar_after_caching(spark, tmp_path):
    path = str(tmp_path / "t")
    w = DeltaWriter.create(spark, path, SCHEMA)
    w.append(spark.createDataFrame([(1, 1), (2, 2)], SCHEMA))
    w.checkpoint(v2=True)
    w.append(spark.createDataFrame([(3, 3)], SCHEMA))
    head = DeltaTable(path)
    assert head.snapshot.checkpoint_version is not None  # replayed from v2
    sidecars = os.path.join(path, "_delta_log", "_sidecars")
    for name in os.listdir(sidecars):
        os.unlink(os.path.join(sidecars, name))
    with pytest.raises(MalformedLogError, match="sidecar missing"):
        DeltaTable(path)
    _check_open(path, None)


def test_past_version_after_cleanup_expired_logs(spark, tmp_path):
    """History removed by cleanup_expired_logs is not served from the
    cache: the open raises like a cold build."""
    path = str(tmp_path / "t")
    w = DeltaWriter.create(spark, path, SCHEMA)
    for i in range(4):
        w.append(spark.createDataFrame([(i, i)], SCHEMA))
    past = DeltaTable(path, version=2).snapshot
    w.checkpoint()
    assert w.cleanup_expired_logs(retention_ms=0)
    with pytest.raises(InvalidTableVersionError, match="predates retained history"):
        DeltaTable(path, version=2)
    _check_open(path, 2)
    _check_open(path, None)
    assert past.version == 2  # a handle already holding it keeps it


def test_altered_copy_is_never_a_base(tmp_path):
    """A metadata overlay (a copy a writer plans under) must not leak into
    builds or the cache as if the log said so."""
    path = str(tmp_path / "t")
    log = _raw_table(path, 5)
    overlay = copy.copy(DeltaTable(path).snapshot)
    overlay.metadata = dict(overlay.metadata, schemaString="uncommitted")
    _add_commits(log, [5])
    for snap in (Snapshot.build(DeltaLog(path), base=overlay),
                 Snapshot.build(DeltaLog(path), 4, base=overlay)):
        assert snap.metadata["schemaString"] == SCHEMA_STRING
    _check_open(path, None)


# ---------------------------------------------------------------- property


def _append(spark, w, rng, state):
    n = int(rng.integers(1, 4))
    rows = [(state["next"] + i, int(rng.integers(100))) for i in range(n)]
    state["next"] += n
    w.append(spark.createDataFrame(rows, SCHEMA).coalesce(1))


def _delete(spark, w, rng, state):
    w.delete(f"k % 5 = {int(rng.integers(5))}")


def _merge(spark, w, rng, state):
    keys = rng.integers(0, state["next"] + 2, size=3).tolist()
    src = spark.createDataFrame([(int(k), 1000 + int(k)) for k in keys], SCHEMA)
    w.merge(src.dropDuplicates(["k"]), "t.k = s.k",
            when_matched_update={"v": "s.v"})


def _checkpoint(spark, w, rng, state):
    w.checkpoint()


def _checkpoint_multipart(spark, w, rng, state):
    w.checkpoint(max_rows_per_part=2)


def _checkpoint_v2_parquet(spark, w, rng, state):
    w.checkpoint(v2=True)


def _checkpoint_v2_json(spark, w, rng, state):
    v = w.checkpoint(v2=True)
    _to_json_manifest(w.table_path, v)


def _compact_log(spark, w, rng, state):
    commits, _ = DeltaLog(w.table_path).list_log_files()
    head = max(commits)
    lo = head - int(rng.integers(1, 3))
    if all(v in commits for v in range(lo, head)):
        w.compact_log(lo, head)


def _cleanup(spark, w, rng, state):
    w.checkpoint()
    w.cleanup_expired_logs(retention_ms=0)


OPS = [_append, _append, _delete, _merge, _checkpoint, _checkpoint_multipart,
       _checkpoint_v2_parquet, _checkpoint_v2_json, _compact_log, _cleanup]


@pytest.mark.parametrize("seed", [3, 11])
def test_cached_and_incremental_opens_equal_cold_builds(spark, tmp_path, seed):
    rng = np.random.default_rng(seed)
    path = str(tmp_path / "t")
    DeltaWriter.create(spark, path, SCHEMA, configuration={
        "delta.enableDeletionVectors": "true"})
    state = {"next": 0}
    _append(spark, DeltaWriter(path, spark), rng, state)
    for step in range(12):
        op = OPS[int(rng.integers(len(OPS)))]
        w = DeltaWriter(path, spark)
        op(spark, w, rng, state)
        _check_open(path, None)  # straight after the commit
        # warm and incremental opens of random versions, oldest first
        head = DeltaLog(path).latest_version()
        for v in sorted(rng.integers(0, head + 1, size=3).tolist()):
            _check_open(path, int(v))
            _check_open(path, int(v))


# ---------------------------------------------------------------- immutability


def test_writer_ops_leave_shared_snapshots_unchanged(spark, tmp_path):
    path = str(tmp_path / "t")
    DeltaWriter.create(spark, path, SCHEMA, configuration={
        "delta.enableDeletionVectors": "true"})
    DeltaWriter(path, spark).append(
        spark.createDataFrame([(k, k) for k in range(10)], SCHEMA).coalesce(2))
    df = spark.createDataFrame([(k, -k) for k in range(5, 15)], SCHEMA)
    ops = {
        "append": lambda w: w.append(df),
        "delete": lambda w: w.delete("k < 2"),
        "update": lambda w: w.update("k = 4", {"v": "v + 100"}),
        "merge": lambda w: w.merge(df, "t.k = s.k", when_matched_update={"v": "s.v"}),
        "overwrite": lambda w: w.overwrite(df.where("k >= 12"), where="k >= 12"),
        "restore": lambda w: w.restore(2),
        "compact": lambda w: w.compact(),
        "set_properties": lambda w: w.set_properties({"delta.appendOnly": "false"}),
        "checkpoint": lambda w: w.checkpoint(),
    }
    seen: list[tuple[str, Snapshot, str]] = []
    for name, op in ops.items():
        snap = DeltaTable(path).snapshot
        w = DeltaWriter(path, spark)
        assert w._snapshot is snap, name  # the writer shares the cached one
        snap.stats_manifest()
        snap.add_files()
        seen.append((name, snap, _fingerprint(snap)))
        op(w)
        for before, s, fp in seen:
            assert _fingerprint(s) == fp, f"{name} changed the snapshot taken before {before}"
