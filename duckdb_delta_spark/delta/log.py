"""Delta log access: listing, commit/checkpoint reading, atomic commit writes.

Reference analogue: snapshot resolution in delta-kernel-rs driven from
``InitializeSnapshot`` (reference: src/functions/delta_scan/delta_multi_file_list.cpp:694-744).
The protocol mechanics (what's in ``_delta_log``, how ``_last_checkpoint``
works, put-if-absent commits) come from the public Delta protocol spec.

Log JSON files are small relative to the data they describe (even a 100 TB
table has a log in the low GBs, and checkpoints collapse it), so they are
read driver-side with ``json``/``pyarrow`` — the same placement as the
reference, whose kernel runs on the client. Nothing here touches executors.

One listing per resolution, as in delta-kernel-rs's ``LogSegment``:
:meth:`DeltaLog.list_log_files` makes the single ``os.listdir`` and
returns a :class:`LogSegment` — commits, validated checkpoint parts,
minor-compacted segments and the latest version. Version resolution,
checkpoint choice and replay all read that one value;
:meth:`LogSegment.replay` turns it into the :class:`Replay` of one
version: the checkpoint a snapshot starts from and the JSON files applied
on top, in order. Two snapshots with equal replays applied the same
files in the same order, which is what the snapshot cache's hit rule
(delta/snapshot.py) compares. A ``log_tail`` log (CCv2) lists nothing:
its segment is the tail plus the ``_last_checkpoint`` hint.
"""

from __future__ import annotations

import json
import os
import re
import tempfile
from dataclasses import dataclass, field
from typing import Iterable

from duckdb_delta_spark.delta.errors import (
    CommitConflictError,
    InvalidTableLocationError,
    InvalidTableVersionError,
    MalformedLogError,
    MissingVersionError,
)

_COMMIT_RE = re.compile(r"^(\d{20})\.json$")
#: staged / catalog-owned commit naming (coordinated commits):
#: ``<version>.<uuid>.json`` under ``_delta_log/_staged_commits/`` — only
#: ever reachable via an explicit log_tail (a catalog hands out the
#: paths); directory listing ignores them because an unratified staged
#: file is not a commit
_STAGED_COMMIT_RE = re.compile(r"^(\d{20})\.[0-9a-fA-F-]{8,}\.json$")
_COMPACTED_RE = re.compile(r"^(\d{20})\.(\d{20})\.compacted\.json$")
_CHECKPOINT_RE = re.compile(r"^(\d{20})\.checkpoint(\.\d+\.\d+)?\.parquet$")
_CHECKPOINT_PART_RE = re.compile(r"^(\d{20})\.checkpoint\.(\d+)\.(\d+)\.parquet$")
#: v2 checkpoints: UUID-named manifest (json or parquet) + optional sidecars
#: under _delta_log/_sidecars/ (Delta protocol spec, v2Checkpoint feature)
_CHECKPOINT_V2_RE = re.compile(
    r"^(\d{20})\.checkpoint\.[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}"
    r"-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}\.(json|parquet)$"
)

ACTION_KEYS = ("metaData", "protocol", "add", "remove", "txn", "domainMetadata", "commitInfo", "cdc")


@dataclass(frozen=True)
class Replay:
    """How the snapshot at ``version`` is rebuilt: the checkpoint it
    starts from (``checkpoint_parts`` empty: from version 0) and the JSON
    files applied on top, in order, as ``(lo, hi, path)`` steps — the
    commit ``lo == hi``, or a minor-compacted segment (its path ends in
    ``.compacted.json``) covering ``[lo, hi]``."""

    version: int
    checkpoint: int | None
    checkpoint_parts: tuple[str, ...]
    steps: tuple[tuple[int, int, str], ...]

    def extends(self, base: "Replay") -> bool:
        """True when ``base`` replays a prefix of this replay: the same
        checkpoint, and its steps are the first of these."""
        return (base.version <= self.version
                and base.checkpoint_parts == self.checkpoint_parts
                and self.steps[:len(base.steps)] == base.steps)

    def then(self, version: int, path: str) -> "Replay":
        """This replay followed by the commit ``version`` at ``path``."""
        return Replay(version, self.checkpoint, self.checkpoint_parts,
                      self.steps + ((version, version, path),))


#: the replay of the empty table before version 0
EMPTY_REPLAY = Replay(-1, None, (), ())


@dataclass
class LogSegment:
    """One listing of ``_delta_log`` (delta-kernel-rs ``LogSegment``).

    Unpacks as ``(commits, checkpoints)``: version → commit JSON path,
    and version → the one complete checkpoint part set. ``compacted``:
    minor-compacted segments, lo → (hi, path), widest hi per lo."""

    table_path: str
    commits: dict[int, str]
    checkpoints: dict[int, list[str]]
    compacted: dict[int, tuple[int, str]] = field(default_factory=dict)

    def __iter__(self):
        return iter((self.commits, self.checkpoints))

    @property
    def latest(self) -> int:
        """The newest version the listing shows. A minor-compacted
        segment may be the only surviving record of its range (the
        per-commit JSONs can be cleaned under it)."""
        versions = set(self.commits) | set(self.checkpoints)
        versions |= {hi for hi, _ in self.compacted.values()}
        if not versions:
            raise MalformedLogError(f"empty _delta_log at {self.table_path}")
        return max(versions)

    def replay(self, target: int) -> Replay:
        """The replay of version ``target``: the newest complete
        checkpoint at or below it, then each later version's commit — or
        the widest compacted segment starting there that ends at or below
        ``target``, which stands in for its commits (retention may
        already have deleted them)."""
        ckpt = max((v for v in self.checkpoints if v <= target), default=None)
        steps = []
        v = 0 if ckpt is None else ckpt + 1
        while v <= target:
            seg = self.compacted.get(v)
            if seg is not None and seg[0] <= target:
                steps.append((v, seg[0], seg[1]))
                v = seg[0] + 1
                continue
            path = self.commits.get(v)
            if path is None:
                # distinguish an expired prefix (log retention cleanup
                # removed commits 0..k and no checkpoint ≤ target
                # survives) from genuine log corruption: the former is a
                # version-unavailable condition, not a malformed log
                if self.commits and v < min(self.commits):
                    raise InvalidTableVersionError(
                        f"version {target} predates retained history at "
                        f"{self.table_path}: earliest retained commit is "
                        f"{min(self.commits)} and no checkpoint covers "
                        f"{target} (log retention cleanup)"
                    )
                raise MalformedLogError(
                    f"log has a gap: commit {v} missing (target {target})"
                )
            steps.append((v, v, path))
            v += 1
        parts = tuple(self.checkpoints[ckpt]) if ckpt is not None else ()
        return Replay(target, ckpt, parts, tuple(steps))


class LogStore:
    """Commit-file store: the ONE seam object stores differ on.

    The Delta protocol needs exactly one primitive for transactional
    correctness: conditional create ("put-if-absent") of the next commit
    file. Local filesystems get it from ``O_EXCL`` links; S3/GCS/Azure get
    it from conditional PUT (If-None-Match) — the reference reaches the
    same seam through the kernel's object-store clients
    (delta_multi_file_list.cpp:65-335 builder). Implement
    :meth:`put_if_absent` for a new backend and every commit path
    (append/DELETE/UPDATE/MERGE/OPTIMIZE/streaming sink) inherits it."""

    def put_if_absent(self, path: str, data: bytes) -> None:
        """Create ``path`` with ``data`` iff it does not exist; raise
        FileExistsError when it does (→ CommitConflictError upstream)."""
        raise NotImplementedError


class LocalLogStore(LogStore):
    """Local-FS conditional create: write a temp file, ``os.link`` it into
    place — the link fails atomically when the target exists."""

    def put_if_absent(self, path: str, data: bytes) -> None:
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".tmp")
        try:
            with os.fdopen(fd, "wb") as f:
                f.write(data)
            os.link(tmp, path)  # fails if path exists → conflict
        finally:
            try:
                os.unlink(tmp)
            except OSError:
                pass


class DeltaLog:
    """Handle on one table's ``_delta_log`` directory."""

    def __init__(
        self,
        table_path: str,
        log_tail: list[str] | None = None,
        store: LogStore | None = None,
        commit_fn=None,
    ):
        """``log_tail``: optional explicit list of commit-JSON paths (the
        reference's CCv2 ``log_tail`` attach option, delta_utils.cpp:884-888
        — a catalog that already knows the recent commits passes them in so
        snapshot resolution never LISTs storage, which on object stores is
        the slow call). When set, commit discovery uses exactly these files
        plus the ``_last_checkpoint`` hint.

        ``commit_fn``: catalog-managed-commit seam (CCv2). When set,
        :meth:`commit` does NOT put-if-absent the ``<version>.json`` itself;
        it stages the payload and calls
        ``commit_fn(version, payload) -> final_path | None`` — the catalog
        ratifies the commit (returns the published path) or rejects it
        (returns None / raises), which maps to :class:`CommitConflictError`.
        Mirrors the reference's staged-commit routing through the parent
        catalog's commit function (delta_transaction.cpp:318-409): the
        engine prepares everything, the catalog owns the version ledger.
        Composes with ``log_tail``: a catalog that ratified commits can
        hand back the tail so reads never LIST."""
        self.table_path = os.path.abspath(table_path)
        self.log_path = os.path.join(self.table_path, "_delta_log")
        self.log_tail = list(log_tail) if log_tail else None
        self.store = store or LocalLogStore()
        self.commit_fn = commit_fn
        #: version → commit path of a log_tail log (entries may live
        #: OUTSIDE _delta_log: CCv2 staged commits)
        self._tail: dict[int, str] | None = None
        if self.log_tail is not None:
            self._tail = {}
            for p in self.log_tail:
                name = os.path.basename(p)
                m = _COMMIT_RE.match(name) or _STAGED_COMMIT_RE.match(name)
                if not m:
                    raise MalformedLogError(f"log_tail entry is not a commit file: {p}")
                self._tail[int(m.group(1))] = p
        elif not os.path.isdir(self.log_path):
            raise InvalidTableLocationError(
                f"no Delta table found at {table_path!r} (missing _delta_log)"
            )

    # ---------- listing ----------

    def list_log_files(self) -> LogSegment:
        """The one listing of the log, as a :class:`LogSegment` (unpacks
        as ``(commits, checkpoints)``)."""
        if self._tail is not None:
            return LogSegment(self.table_path, dict(self._tail),
                              self._hinted_checkpoint())
        commits: dict[int, str] = {}
        compacted: dict[int, tuple[int, str]] = {}
        raw: dict[int, list[str]] = {}
        for name in os.listdir(self.log_path):
            m = _COMMIT_RE.match(name)
            if m:
                commits[int(m.group(1))] = os.path.join(self.log_path, name)
                continue
            m = _CHECKPOINT_RE.match(name) or _CHECKPOINT_V2_RE.match(name)
            if m:
                raw.setdefault(int(m.group(1)), []).append(
                    os.path.join(self.log_path, name)
                )
                continue
            m = _COMPACTED_RE.match(name)
            if m:
                lo, hi = int(m.group(1)), int(m.group(2))
                cur = compacted.get(lo)
                if cur is None or hi > cur[0]:
                    compacted[lo] = (hi, os.path.join(self.log_path, name))
        checkpoints: dict[int, list[str]] = {}
        for v, parts in raw.items():
            usable = self._validate_checkpoint_parts(v, parts)
            if usable:
                checkpoints[v] = usable
        return LogSegment(self.table_path, commits, checkpoints, compacted)

    def _hinted_checkpoint(self) -> dict[int, list[str]]:
        """A ``log_tail`` log's checkpoint: the one ``_last_checkpoint``
        names, when all of its parts exist."""
        hint = self.last_checkpoint_hint()
        if not hint or "version" not in hint:
            return {}
        v = int(hint["version"])
        n = int(hint.get("parts") or 0)
        if n:
            parts = [
                os.path.join(
                    self.log_path,
                    f"{v:020d}.checkpoint.{i + 1:010d}.{n:010d}.parquet",
                )
                for i in range(n)
            ]
            return {v: parts} if all(os.path.isfile(p) for p in parts) else {}
        part = os.path.join(self.log_path, f"{v:020d}.checkpoint.parquet")
        if os.path.isfile(part):
            return {v: [part]}
        import glob as _glob

        v2 = [
            p
            for p in _glob.glob(os.path.join(self.log_path, f"{v:020d}.checkpoint.*"))
            if _CHECKPOINT_V2_RE.match(os.path.basename(p))
        ]
        return {v: [sorted(v2)[-1]]} if v2 else {}

    @staticmethod
    def _validate_checkpoint_parts(version: int, paths: list[str]) -> list[str] | None:
        """Reduce a version's checkpoint files to ONE complete, usable set —
        or None when nothing complete exists.

        The Delta spec requires readers to verify ALL n parts of a
        multi-part checkpoint before using it: a crash mid-checkpoint (or a
        concurrent reader racing the writer) leaves a partial part set that
        would otherwise silently replay as a TRUNCATED snapshot — lost
        files at read time, and a subsequent vacuum() deleting live data."""
        paths = sorted(paths)
        single = [p for p in paths
                  if _CHECKPOINT_RE.match(os.path.basename(p))
                  and not _CHECKPOINT_PART_RE.match(os.path.basename(p))]
        if single:
            return [single[0]]
        multi: dict[int, dict[int, str]] = {}
        for p in paths:
            m = _CHECKPOINT_PART_RE.match(os.path.basename(p))
            if m:
                multi.setdefault(int(m.group(3)), {})[int(m.group(2))] = p
        for n, by_idx in sorted(multi.items()):
            if len(by_idx) == n and set(by_idx) == set(range(1, n + 1)):
                return [by_idx[i] for i in range(1, n + 1)]
        v2 = [p for p in paths if _CHECKPOINT_V2_RE.match(os.path.basename(p))]
        if v2:
            return [v2[-1]]  # any one manifest is self-complete
        return None

    def latest_version(self, segment: LogSegment | None = None) -> int:
        """HEAD, from ``segment`` or a fresh listing."""
        return (segment or self.list_log_files()).latest

    def last_checkpoint_hint(self) -> dict | None:
        """Parse ``_last_checkpoint`` (a pointer so clients can avoid a full
        directory listing on huge logs)."""
        path = os.path.join(self.log_path, "_last_checkpoint")
        if not os.path.isfile(path):
            return None
        try:
            with open(path, "r", encoding="utf-8") as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError):
            return None  # hint only; fall back to listing

    # ---------- reading ----------

    def list_compacted_segments(self) -> dict[int, tuple[int, str]]:
        """Minor-compacted log segments (delta-spark layout
        ``<lo>.<hi>.compacted.json``): lo → (hi, path), widest hi per lo.
        Segments substitute for the per-commit JSONs of their range
        during replay — the individual commits may even be deleted."""
        return self.list_log_files().compacted

    @staticmethod
    def _parse_action_text(text: str) -> list[dict] | None:
        """Concatenated-JSON fallback: the Delta spec says one action per
        line, but real foreign artifacts exist with PRETTY-PRINTED
        multi-line action documents (e.g. the reference repo's
        data/inlined/null_constraints_* logs, consumed by its
        test/sql/main/writing/non_nullable.test) — a raw_decode walk
        accepts any whitespace-separated document stream. Returns None
        when the text is not a valid document stream (caller keeps its
        line-oriented error message)."""
        dec = json.JSONDecoder()
        actions: list[dict] = []
        i, n = 0, len(text)
        while i < n:
            while i < n and text[i] in " \t\r\n":
                i += 1
            if i >= n:
                break
            try:
                obj, i = dec.raw_decode(text, i)
            except json.JSONDecodeError:
                return None
            actions.append(obj)
        return actions

    def read_actions_file(self, path: str) -> list[dict]:
        """Parse one JSON action file (commit or compacted segment):
        newline-delimited on the fast path, with a concatenated-document
        fallback for pretty-printed foreign logs."""
        actions: list[dict] = []
        with open(path, "r", encoding="utf-8") as f:
            text = f.read()
        for lineno, line in enumerate(text.splitlines(), 1):
            line = line.strip()
            if not line:
                continue
            try:
                actions.append(json.loads(line))
            except json.JSONDecodeError as e:
                parsed = self._parse_action_text(text)
                if parsed is not None:
                    return parsed
                raise MalformedLogError(
                    f"{path}:{lineno}: invalid JSON ({e})"
                ) from None
        return actions

    def read_commit(self, version: int) -> list[dict]:
        """Actions of commit ``version``."""
        try:
            return self.read_actions_file(self._commit_path(version))
        except FileNotFoundError:
            raise MissingVersionError(
                f"commit {version} missing from log at {self.table_path}"
            ) from None

    def _commit_path(self, version: int) -> str:
        """Where commit ``version`` lives: the path a listing finds it
        at, without listing."""
        path = os.path.join(self.log_path, f"{version:020d}.json")
        return self._tail.get(version, path) if self._tail is not None else path

    def read_checkpoint(self, paths: list[str]) -> list[dict]:
        """Read checkpoint parquet part(s) into action dicts (same shape as
        commit-JSON actions). Slow generic path — snapshot replay uses
        :meth:`read_checkpoint_table` + columnar apply instead."""
        actions: list[dict] = []
        table = self.read_checkpoint_table(paths)
        cols = [c for c in table.column_names if c in ACTION_KEYS]
        for row in table.select(cols).to_pylist():
            for key in cols:
                val = row.get(key)
                if val is not None:
                    actions.append({key: _normalize_maps(val)})
        return actions

    def read_checkpoint_table(self, paths: list[str],
                              sidecars: list[str] | None = None):
        """Checkpoint part(s) as one concatenated pyarrow Table.

        v2 (UUID-named manifest): sidecar references resolve against
        ``_delta_log/_sidecars/``; a missing sidecar is a loud
        MalformedLogError, never a silently truncated snapshot. The
        sidecar paths read are appended to ``sidecars`` when given."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        if len(paths) == 1 and _CHECKPOINT_V2_RE.match(os.path.basename(paths[0])):
            return self._read_checkpoint_v2(
                paths[0], sidecars if sidecars is not None else [])
        tables = [pq.read_table(p) for p in paths]
        return tables[0] if len(tables) == 1 else pa.concat_tables(
            tables, promote_options="permissive"
        )

    def _read_checkpoint_v2(self, manifest_path: str, read: list[str]):
        import pyarrow as pa
        import pyarrow.parquet as pq

        sidecar_dir = os.path.join(self.log_path, "_sidecars")

        def _sidecar_table(rel: str):
            full = os.path.join(sidecar_dir, rel)
            if not os.path.isfile(full):
                raise MalformedLogError(
                    f"v2 checkpoint sidecar missing: {full} "
                    f"(manifest {manifest_path})"
                )
            read.append(full)
            return pq.read_table(full)

        if manifest_path.endswith(".parquet"):
            manifest = pq.read_table(manifest_path)
            tables = [manifest]
            if "sidecar" in manifest.column_names:
                import pyarrow.compute as pc

                for sc in pc.drop_null(manifest.column("sidecar")).to_pylist():
                    rel = (sc or {}).get("path")
                    if rel:
                        tables.append(_sidecar_table(rel))
                tables[0] = manifest.drop_columns(["sidecar"])
            return tables[0] if len(tables) == 1 else pa.concat_tables(
                tables, promote_options="permissive"
            )

        # JSON manifest: actions parsed driver-side (manifests are small —
        # the bulk file actions live in the parquet sidecars); same
        # pretty-printed-document tolerance as commit files
        meta_rows: list[dict] = []
        sidecars: list[str] = []
        with open(manifest_path, "r", encoding="utf-8") as f:
            text = f.read()
        manifest_actions = self._parse_action_text(text)
        if manifest_actions is None:
            raise MalformedLogError(
                f"invalid JSON in v2 checkpoint manifest {manifest_path}"
            )
        for a in manifest_actions:
            if a.get("sidecar"):
                sidecars.append(a["sidecar"]["path"])
            elif a.get("add") or a.get("remove"):
                # spec-legal but writer-unusual; refuse loudly rather
                # than mis-shape the columnar replay
                raise MalformedLogError(
                    "inline file actions in a JSON v2 checkpoint "
                    f"manifest are not supported: {manifest_path}"
                )
            elif any(a.get(k) for k in
                     ("protocol", "metaData", "txn", "domainMetadata")):
                meta_rows.append(a)
        tables = [_sidecar_table(rel) for rel in sidecars]
        if meta_rows:
            # one inferred column per action key (from_pylist would infer
            # the schema from the first row only and drop the rest)
            keys = [k for k in ("protocol", "metaData", "txn", "domainMetadata")
                    if any(r.get(k) is not None for r in meta_rows)]
            tables.insert(
                0,
                pa.Table.from_pydict(
                    {k: [r.get(k) for r in meta_rows] for k in keys}
                ),
            )
        if not tables:
            raise MalformedLogError(f"empty v2 checkpoint manifest: {manifest_path}")
        return tables[0] if len(tables) == 1 else pa.concat_tables(
            tables, promote_options="permissive"
        )

    # ---------- writing ----------

    def commit(self, version: int, actions: Iterable[dict]) -> str:
        """Atomically write ``<version>.json`` (put-if-absent).

        Local-FS atomicity = ``O_CREAT|O_EXCL``, the same single-writer
        guarantee the reference relies on through the kernel (reference:
        src/storage/delta_transaction.cpp:411-481). Object stores would use
        put-if-absent; hook point kept small on purpose.
        """
        from duckdb_delta_spark.delta.logging import emit

        path = os.path.join(self.log_path, f"{version:020d}.json")
        actions = list(actions)
        payload = "".join(json.dumps(a, separators=(",", ":")) + "\n" for a in actions)
        operation = next(
            (
                a["commitInfo"].get("operation")
                for a in actions
                if isinstance(a.get("commitInfo"), dict)
            ),
            None,
        )
        if self.commit_fn is not None:
            # catalog-managed commit (CCv2): the catalog owns the version
            # ledger — it publishes the payload (or refuses on conflict).
            try:
                final = self.commit_fn(version, payload.encode("utf-8"))
            except (FileExistsError, CommitConflictError):
                final = None
            if final is None:
                emit("commit.conflict", table_path=self.table_path,
                     version=version, managed=True)
                raise CommitConflictError(
                    f"version {version} rejected by catalog commit function "
                    f"at {self.table_path}"
                )
            emit("commit.write", table_path=self.table_path, version=version,
                 operation=operation, n_actions=len(actions), managed=True)
            return final
        try:
            self.store.put_if_absent(path, payload.encode("utf-8"))
        except FileExistsError:
            emit("commit.conflict", table_path=self.table_path, version=version)
            raise CommitConflictError(
                f"version {version} already committed at {self.table_path}"
            ) from None
        emit(
            "commit.write",
            table_path=self.table_path,
            version=version,
            operation=operation,
            n_actions=len(actions),
        )
        return path

    def write_last_checkpoint(
        self, version: int, size: int, parts: int | None = None
    ) -> None:
        path = os.path.join(self.log_path, "_last_checkpoint")
        hint: dict = {"version": version, "size": size}
        if parts:
            hint["parts"] = parts
        with open(path, "w", encoding="utf-8") as f:
            json.dump(hint, f)

    # ---------- helpers ----------

    def read_ict(self, version: int) -> int | None:
        """``commitInfo.inCommitTimestamp`` of a commit, or None when the
        commit predates the feature (or is unreadable). Streams the commit
        line-by-line and stops at the first commitInfo (the spec pins it
        to the first action when ICT is enabled), so the probe is O(1)
        even for thousand-add-file commits."""
        if version < 0:
            return None
        path = self._commit_path(version)
        try:
            with open(path, "r", encoding="utf-8") as f:
                for line in f:
                    line = line.strip()
                    if not line:
                        continue
                    try:
                        ci = json.loads(line).get("commitInfo")
                    except json.JSONDecodeError:
                        # pretty-printed foreign log: full-document parse
                        # (losing the ICT here would silently swap the
                        # commit clock for file mtime)
                        with open(path, "r", encoding="utf-8") as f2:
                            parsed = self._parse_action_text(f2.read())
                        for a in parsed or []:
                            ci = a.get("commitInfo")
                            if ci is not None:
                                v = ci.get("inCommitTimestamp")
                                return int(v) if v is not None else None
                        return None
                    if ci is not None:
                        v = ci.get("inCommitTimestamp")
                        return int(v) if v is not None else None
        except Exception:  # noqa: BLE001 - truncated/foreign log: no ICT
            return None
        return None

    def commit_time(self, version: int, actions: list[dict],
                    commits: dict[int, str]) -> int:
        """:meth:`commit_timestamp` from the commit's already-read
        ``actions`` (the ICT of its first commitInfo, read_ict's rule)
        and one listing's ``commits`` (the mtime fallback), for walks
        that must not re-open or re-list per version."""
        info = next((a["commitInfo"] for a in actions
                     if a.get("commitInfo") is not None), None)
        ict = (info or {}).get("inCommitTimestamp")
        if ict is not None:
            return int(ict)
        if commits.get(version):
            return int(os.path.getmtime(commits[version]) * 1000)
        return self.commit_timestamp(version, commits=commits)

    def commit_timestamp(
        self, version: int, commits: dict[int, str] | None = None
    ) -> int:
        """Commit clock: in-commit timestamp when present (robust to file
        copies), else the commit file's mtime — the same resolution
        timestamp travel uses.

        ``commits`` (from one :meth:`list_log_files` call) lets loops
        like CDF's per-version walk avoid re-listing the directory on
        every call; a commit whose JSON is gone (e.g. removed by
        ``cleanup_expired_logs``) raises :class:`InvalidTableVersionError`
        instead of a raw ``KeyError``."""
        ts = self.read_ict(version)
        if ts is not None:
            return ts
        if commits is None:
            commits, _ = self.list_log_files()
        path = commits.get(version)
        if path is None:
            raise InvalidTableVersionError(
                f"commit {version} is not in the retained log at "
                f"{self.table_path} (expired or never existed)"
            )
        return int(os.path.getmtime(path) * 1000)

    def version_at_timestamp(self, ts_ms: int,
                             segment: LogSegment | None = None) -> int:
        """Timestamp → version: the LATEST commit whose timestamp is
        ≤ ``ts_ms`` (standard Delta timestamp travel). The clock is
        ``commitInfo.inCommitTimestamp`` when the table writes them
        (inCommitTimestamp feature — robust to file copies/restores),
        else the commit file's modification time, exactly as delta-spark
        resolves it; raises InvalidTableVersionError for a timestamp
        before the table existed. ``segment``: a listing the caller
        already holds, used instead of listing again."""
        commits, _ = segment or self.list_log_files()
        # feature detection: one read of the newest commit
        use_ict = bool(commits) and self.read_ict(max(commits)) is not None
        # Partition the search at the ICT enablement version (Delta spec):
        # commits >= the first ICT-bearing version resolve via ICT ONLY,
        # the contiguous pre-ICT prefix via mtime. Mixing clocks per-commit
        # need not be monotonic when ICT was enabled mid-life (foreign
        # writers), so 'latest version <= ts' could skip versions.
        # ICT presence is monotone in version → binary search, O(log n) reads.
        ict_boundary = None
        if use_ict:
            versions = sorted(commits)
            lo, hi = 0, len(versions) - 1
            ict_boundary = versions[-1]
            while lo <= hi:
                mid = (lo + hi) // 2
                if self.read_ict(versions[mid]) is not None:
                    ict_boundary = versions[mid]
                    hi = mid - 1
                else:
                    lo = mid + 1

        if ict_boundary is not None:
            # ICTs are spec-monotonic within the domain → binary-search the
            # greatest version with ict <= ts instead of reading EVERY ICT
            # commit (a long-history table would pay O(n) commit reads per
            # timestamp-travel resolution otherwise). Spec-violating
            # commits missing their ICT read as None → treated as > ts
            # here (never resolved by a lying mtime); the linear fallback
            # below only runs for the pre-ICT prefix.
            ict_versions = [v for v in sorted(commits) if v >= ict_boundary]
            lo, hi = 0, len(ict_versions) - 1
            best_ict: int | None = None
            corrupt = False
            while lo <= hi:
                mid = (lo + hi) // 2
                t = self.read_ict(ict_versions[mid])
                if t is None:
                    # spec violation (ICT-domain commit missing its ICT):
                    # monotonicity is broken, binary search is unsound —
                    # degrade to a linear scan that skips the bad commits
                    corrupt = True
                    break
                if t <= ts_ms:
                    best_ict = ict_versions[mid]
                    lo = mid + 1
                else:
                    hi = mid - 1
            if corrupt:
                best_ict = None
                for v in ict_versions:
                    t = self.read_ict(v)
                    if t is not None and t <= ts_ms and (
                        best_ict is None or v > best_ict
                    ):
                        best_ict = v
            if best_ict is not None:
                return best_ict

        best: int | None = None
        earliest: tuple[int, int] | None = None
        for v, path in commits.items():
            if ict_boundary is not None and v >= ict_boundary:
                continue  # ICT domain handled above
            try:
                t = int(os.path.getmtime(path) * 1000)
            except OSError:
                continue
            if earliest is None or t < earliest[1]:
                earliest = (v, t)
            if t <= ts_ms and (best is None or v > best):
                best = v
        if best is None:
            raise InvalidTableVersionError(
                f"no commit at or before timestamp {ts_ms} at {self.table_path}"
                + (f" (earliest commit is {earliest[1]})" if earliest else "")
            )
        return best

    def resolve_version(self, version: int | None,
                        segment: LogSegment | None = None) -> int:
        """``version`` checked against HEAD (default HEAD), from
        ``segment`` or a fresh listing."""
        latest = self.latest_version(segment)
        if version is None:
            return latest
        if version < 0 or version > latest:
            raise InvalidTableVersionError(
                f"version {version} not in [0, {latest}] at {self.table_path}"
            )
        return version


def _normalize_maps(value):
    """pyarrow map columns materialize as list-of-(k, v) tuples; commit JSON
    uses plain dicts. Normalize recursively so both read paths look alike."""
    if isinstance(value, list) and value and isinstance(value[0], tuple) and len(value[0]) == 2:
        return {k: _normalize_maps(v) for k, v in value}
    if isinstance(value, dict):
        return {k: _normalize_maps(v) for k, v in value.items()}
    return value
