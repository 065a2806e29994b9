"""Span recorder for the traced run.

Spans are recorded from the benchmark's own files: :class:`Tracer` wraps the
engine's public entry points (class attributes, restored on ``uninstall``)
and opens one root span per op. Each span keeps its name, layer, start,
end, parent and op id; all spans stay in memory until the pass ends. The
engine's structured events (``duckdb_delta_spark.delta.logging``) are
counted per op through a sink.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import os
import threading
import time
import uuid
from collections import Counter
from dataclasses import dataclass, field

#: (module, class, method, span name, layer)
ENTRY_POINTS = [
    ("duckdb_delta_spark.delta.log", "DeltaLog", "list_log_files", "log.list", "log"),
    ("duckdb_delta_spark.delta.log", "DeltaLog", "read_commit", "log.read_commit", "log"),
    ("duckdb_delta_spark.delta.log", "DeltaLog", "read_checkpoint_table", "log.checkpoint_read", "log"),
    ("duckdb_delta_spark.delta.log", "DeltaLog", "commit", "log.commit", "log"),
    ("duckdb_delta_spark.delta.snapshot", "Snapshot", "build", "snapshot.build", "snapshot"),
    ("duckdb_delta_spark.delta.snapshot", "Snapshot", "stats_manifest", "snapshot.stats_manifest", "snapshot"),
    ("duckdb_delta_spark.delta.catalog", "DeltaCatalog", "table", "catalog.refresh", "catalog"),
    ("duckdb_delta_spark.delta.scan", "DeltaScanBuilder", "filter_sql", "scan.filter_sql", "scan"),
    ("duckdb_delta_spark.delta.scan", "DeltaScanBuilder", "to_df", "scan.plan", "scan"),
    ("duckdb_delta_spark.delta.writer", "DeltaWriter", "append", "writer.append", "writer"),
    ("duckdb_delta_spark.delta.writer", "DeltaWriter", "delete", "writer.delete", "writer"),
    ("duckdb_delta_spark.delta.writer", "DeltaWriter", "merge", "writer.merge", "writer"),
    ("duckdb_delta_spark.delta.writer", "DeltaWriter", "checkpoint", "writer.checkpoint", "writer"),
    ("duckdb_delta_spark.delta.table", "DeltaTable", "changes", "changes", "changes"),
]

LAYERS = ("log", "snapshot", "catalog", "scan", "writer", "changes", "exec", "other")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op: int
    result_bytes: int = 0


@dataclass
class OpRecord:
    op: int
    name: str
    span: int
    events: Counter = field(default_factory=Counter)
    files_total: int = 0
    files_kept: int = 0
    dv_files: int = 0
    commits_replayed: int = 0
    incremental_builds: int = 0
    jobs: int = 0
    bytes_written: int = 0
    user_bytes: int = 0


class NullTracer:
    """Untraced runs: every hook is a no-op."""

    enabled = False

    @contextlib.contextmanager
    def op(self, name: str, table_root: str | None = None, user_bytes: int = 0):
        yield

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        yield

    def note_dv(self, snapshot) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.ops: list[OpRecord] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._current: OpRecord | None = None
        self._saved: list[tuple[type, str, object]] = []
        # job groups must not repeat across tracers: the status tracker
        # keeps the jobs of earlier passes
        self._group = f"perfbench-{uuid.uuid4().hex}"

    # ---------- install / uninstall ----------

    def install(self) -> None:
        import importlib

        from duckdb_delta_spark.delta import logging as dlog

        for mod_name, cls_name, meth, span_name, layer in ENTRY_POINTS:
            cls = getattr(importlib.import_module(mod_name), cls_name)
            raw = cls.__dict__[meth]
            self._saved.append((cls, meth, raw))
            if isinstance(raw, classmethod):
                wrapped = classmethod(self._wrap(raw.__func__, span_name, layer))
            else:
                wrapped = self._wrap(raw, span_name, layer)
            setattr(cls, meth, wrapped)
        dlog.add_sink(self._on_event)

    def uninstall(self) -> None:
        from duckdb_delta_spark.delta import logging as dlog

        dlog.remove_sink(self._on_event)
        for cls, meth, raw in reversed(self._saved):
            setattr(cls, meth, raw)
        self._saved.clear()

    # ---------- recording ----------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _push(self, name: str, layer: str) -> Span:
        op = self._current
        stack = self._stack()
        parent = stack[-1] if stack else (op.span if op else None)
        sp = Span(next(self._ids), name, layer, time.perf_counter(), 0.0,
                  parent, op.op if op else -1)
        stack.append(sp.id)
        return sp

    def _pop(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self._stack().pop()
        self.spans.append(sp)

    def _wrap(self, fn, span_name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            sp = tracer._push(span_name, layer)
            try:
                result = fn(*args, **kwargs)
                if span_name == "log.commit" and isinstance(result, str):
                    sp.result_bytes = os.path.getsize(result)
                return result
            finally:
                tracer._pop(sp)

        return wrapper

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        sp = self._push(name, layer)
        try:
            yield
        finally:
            self._pop(sp)

    @contextlib.contextmanager
    def op(self, name: str, table_root: str | None = None, user_bytes: int = 0):
        """Root span of one op. ``table_root``: measure the bytes the op
        adds to that directory (outside the op's own span)."""
        from perfbench.gen import dir_bytes

        before = dir_bytes(table_root) if table_root else 0
        sc = self.spark.sparkContext
        group = f"{self._group}-{len(self.ops)}"
        sc.setJobGroup(group, name)
        root = Span(next(self._ids), "op", "other", 0.0, 0.0, None, len(self.ops))
        rec = OpRecord(len(self.ops), name, root.id, user_bytes=user_bytes)
        self._current = rec
        root.start = time.perf_counter()
        try:
            yield
        finally:
            root.end = time.perf_counter()
            self.spans.append(root)
            self._current = None
            sc.setLocalProperty("spark.jobGroup.id", None)
            rec.jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            if table_root:
                rec.bytes_written = dir_bytes(table_root) - before
            self.ops.append(rec)

    def note_dv(self, snapshot) -> None:
        """Count the deletion-vector files of a snapshot the op reads."""
        if self._current is not None:
            self._current.dv_files += sum(
                1 for f in snapshot.files.values() if f.deletion_vector)

    def _on_event(self, record: dict) -> None:
        rec = self._current
        if rec is None:
            return
        ev = record.get("event", "")
        rec.events[ev] += 1
        if ev == "scan.plan":
            rec.files_total += int(record.get("files_total") or 0)
            rec.files_kept += int(record.get("files_scanned") or 0)
        elif ev == "snapshot.build":
            start = int(record.get("replay_start") or 0)
            rec.commits_replayed += max(0, int(record["version"]) - start + 1)
            rec.incremental_builds += bool(record.get("incremental"))

    # ---------- analysis ----------

    def op_counts(self) -> list[tuple]:
        """Per-op counts that must repeat exactly for the same seed."""
        by_op: dict[int, Counter] = {}
        for sp in self.spans:
            by_op.setdefault(sp.op, Counter())[sp.name] += 1
        out = []
        for rec in self.ops:
            c = by_op.get(rec.op, Counter())
            out.append((rec.name, c["log.list"], c["log.read_commit"],
                        c["snapshot.build"], rec.commits_replayed,
                        rec.files_kept, rec.jobs,
                        rec.events["checkpoint.write"]))
        return out

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the part of it its children cover."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        out = {}
        for sp in self.spans:
            covered = 0.0
            cur_end = sp.start
            for ch in sorted(children.get(sp.id, ()), key=lambda s: s.start):
                lo, hi = max(ch.start, cur_end), min(ch.end, sp.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[sp.id] = (sp.end - sp.start) - covered
        return out


def layer_metrics(tr: Tracer) -> dict[str, tuple[float, str]]:
    """The per-layer metrics of one traced pass: name → (value, unit)."""
    n_ops = max(1, len(tr.ops))
    by_name: dict[str, list[Span]] = {}
    for sp in tr.spans:
        by_name.setdefault(sp.name, []).append(sp)

    def calls(name):
        return by_name.get(name, [])

    def mean_ms(name):
        sps = calls(name)
        return 1e3 * sum(s.end - s.start for s in sps) / len(sps) if sps else 0.0

    def events(ev):
        return sum(r.events[ev] for r in tr.ops)

    builds = calls("snapshot.build")
    commits = calls("log.commit")
    refreshes = calls("catalog.refresh")
    build_parents = {s.parent for s in builds}
    # a refresh that built no snapshot re-used the cached one
    refresh_hits = sum(1 for s in refreshes if s.id not in build_parents)
    files_total = sum(r.files_total for r in tr.ops)
    user_bytes = sum(r.user_bytes for r in tr.ops)
    changes_ids = {s.id for s in calls("changes")}
    parent_of = {s.id: s.parent for s in tr.spans}

    def under(sp: Span, ids: set[int]) -> bool:
        p = sp.parent
        while p is not None:
            if p in ids:
                return True
            p = parent_of.get(p)
        return False

    walked = sum(1 for s in calls("log.read_commit") if under(s, changes_ids))

    self_t = tr.self_times()
    layer_self = Counter()
    op_wall = 0.0
    for sp in tr.spans:
        layer_self[sp.layer] += self_t[sp.id]
        if sp.name == "op":
            op_wall += sp.end - sp.start
    op_wall = op_wall or 1.0

    m = {
        "log.list_calls_per_op": (len(calls("log.list")) / n_ops, "count"),
        "log.list_ms": (mean_ms("log.list"), "ms"),
        "log.commit_reads_per_op": (len(calls("log.read_commit")) / n_ops, "count"),
        "log.read_commit_ms": (mean_ms("log.read_commit"), "ms"),
        "log.checkpoint_read_ms": (mean_ms("log.checkpoint_read"), "ms"),
        "log.commit_ms": (mean_ms("log.commit"), "ms"),
        "log.commit_conflicts": (float(events("commit.conflict")), "count"),
        "log.bytes_per_commit": (
            sum(s.result_bytes for s in commits) / len(commits) if commits else 0.0, "B"),
        "snapshot.builds_per_op": (len(builds) / n_ops, "count"),
        "snapshot.build_ms": (mean_ms("snapshot.build"), "ms"),
        "snapshot.commits_replayed_per_build": (
            sum(r.commits_replayed for r in tr.ops) / len(builds) if builds else 0.0, "count"),
        "snapshot.incremental_share": (
            sum(r.incremental_builds for r in tr.ops) / len(builds) if builds else 0.0, "ratio"),
        "snapshot.stats_manifest_ms": (mean_ms("snapshot.stats_manifest"), "ms"),
        "catalog.refresh_ms": (mean_ms("catalog.refresh"), "ms"),
        "catalog.refresh_hit_ratio": (
            refresh_hits / len(refreshes) if refreshes else 0.0, "ratio"),
        "scan.plan_ms": (mean_ms("scan.plan"), "ms"),
        "scan.files_kept_ratio": (
            sum(r.files_kept for r in tr.ops) / files_total if files_total else 0.0, "ratio"),
        "scan.dv_files_per_op": (sum(r.dv_files for r in tr.ops) / n_ops, "count"),
        "exec.ms": (mean_ms("exec"), "ms"),
        "exec.jobs_per_op": (sum(r.jobs for r in tr.ops) / n_ops, "count"),
        "writer.append_ms": (mean_ms("writer.append"), "ms"),
        "writer.delete_ms": (mean_ms("writer.delete"), "ms"),
        "writer.merge_ms": (mean_ms("writer.merge"), "ms"),
        "writer.checkpoint_ms": (mean_ms("writer.checkpoint"), "ms"),
        "writer.checkpoints": (float(events("checkpoint.write")), "count"),
        "writer.bytes_written_per_user_byte": (
            sum(r.bytes_written for r in tr.ops) / user_bytes if user_bytes else 0.0, "ratio"),
        "changes.ms": (mean_ms("changes"), "ms"),
        "changes.commits_walked": (
            walked / len(calls("changes")) if calls("changes") else 0.0, "count"),
    }
    for layer in LAYERS:
        m[f"self_share.{layer}"] = (layer_self[layer] / op_wall, "ratio")
    return m
