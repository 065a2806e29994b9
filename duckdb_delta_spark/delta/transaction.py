"""One write transaction for every Delta commit the engine makes.

Reference analogue: the reference routes every write through one
transaction object — ``DeltaTransaction`` commits, maps a lost race to a
conflict and rolls back by deleting the files it wrote
(src/storage/delta_transaction.cpp:411-537), driven by
``DeltaTransactionManager`` (src/storage/delta_transaction_manager.cpp);
delta-kernel-rs's ``Transaction`` has the same shape. An operation reads a
snapshot, plans its actions and calls :meth:`Transaction.commit`, which
owns everything a commit does, once:

* row-id assignment and the in-commit timestamp (ICT);
* put-if-absent through :meth:`DeltaLog.commit`, so the ``LogStore`` and
  catalog ``commit_fn`` seams apply to every write;
* retries within the budget the caller passes, each gated by ONE conflict
  check of the winning commits against the operation's :class:`ReadSet`;
* rollback of the operation's staged files when it gives up;
* the post-commit snapshot, built from the actions without reading the
  log back, which the writer's next refresh reuses while the log still
  ends at that commit (delta/snapshot.py);
* the post-commit hooks: ``<version>.crc``, auto-checkpoint
  (``delta.checkpointInterval``), auto log compaction
  (``delta.compactLog.interval``) and expired-log cleanup.

Conflict rules — what a lost race does, per operation (delta-spark's
ConflictChecker semantics; budget = retries after the first attempt):

====================  ===================================================  ======
operation             aborts when the winning commits ...                  budget
====================  ===================================================  ======
append                moved its app-txn version (IdempotencyError) or an   caller
                      identity high-water mark; a metadata/protocol change
                      re-runs its gates and schema re-merge instead
streaming sink        changed metadata or protocol; a twin of the same     5
                      batch makes the commit a no-op success
DELETE, UPDATE,       changed metadata or protocol, removed or re-masked   3
replaceWhere          a file the commit removes, or added dataChange rows
                      matching the predicate
MERGE                 as above, but any added dataChange file aborts       3
full OVERWRITE,       changed metadata, protocol, domain metadata or the   3
RESTORE               live file set
OPTIMIZE              changed metadata, or removed or re-masked a file it  5
                      rewrote
VACUUM START/END,     nothing (always rebase); a bookmark's stale          7
txn bookmark          ``expected_last`` raises IdempotencyError
everything else       any winning commit                                   0
====================  ===================================================  ======

The writer gate (unsupported writer features, ``delta.appendOnly``) lives
in protocol and metadata, so an operation that aborts on those changes
cannot see the gate flip underneath it. The first deletion vector a DML
writes on a legacy ``(1, 2)`` table upgrades the protocol, so it aborts
every in-flight concurrent DML once; enabling ``deletionVectors`` when the
table is set up avoids that.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from typing import Callable, Iterable

from duckdb_delta_spark.delta.errors import CommitConflictError
from duckdb_delta_spark.delta.log import DeltaLog
from duckdb_delta_spark.delta.logging import emit
from duckdb_delta_spark.delta.snapshot import Snapshot, _file_key, record_commit


@dataclass(frozen=True)
class ReadSet:
    """What an operation's plan depended on. Files the commit removes
    must still be live whatever the read set says."""

    #: the plan was built against this metaData
    metadata: bool = False
    #: ... and this protocol
    protocol: bool = False
    #: Column: racers' added dataChange rows matching it abort
    predicate: object = None
    #: any added dataChange file aborts (MERGE: the read set is a join)
    any_data: bool = False
    #: the plan read the whole table: any domain-metadata or live-file
    #: change aborts
    whole_table: bool = False


class Transaction:
    """Commit one operation's actions on top of ``read_snapshot``.

    ``retries``: attempts after the first lost race. ``staged``:
    table-relative paths the operation wrote (deleted on abort).
    ``rebase(old, fresh, actions)``: the operation's own re-plan after a
    lost race that passed the read-set check; returns the actions to
    retry with, or None when the winners already did this operation's
    work. ``spark`` runs the predicate probe. After :meth:`commit`,
    :attr:`snapshot` is the post-commit snapshot."""

    def __init__(
        self,
        log: DeltaLog,
        read_snapshot: Snapshot,
        retries: int = 0,
        read: ReadSet = ReadSet(),
        staged: Iterable[str] = (),
        rebase: Callable | None = None,
        spark=None,
        preserve_row_ids: bool = False,
    ):
        self.log = log
        self.snapshot = read_snapshot
        self.retries = retries
        self.read = read
        self.staged = list(staged)
        self.rebase = rebase
        self.spark = spark
        self.preserve_row_ids = preserve_row_ids

    def commit(self, actions: list[dict]) -> int | None:
        """Commit ``actions``; returns the version, or None when a
        ``rebase`` found the work already committed."""
        from duckdb_delta_spark.delta.writer import assign_row_ids

        snap = self.snapshot
        info = next((a["commitInfo"] for a in actions if "commitInfo" in a),
                    None)
        caller_ict = (info or {}).get("inCommitTimestamp")
        attempt = 0
        while True:
            version = snap.version + 1
            assign_row_ids(version, actions, snap, self.preserve_row_ids)
            self._stamp_ict(actions, snap, caller_ict)
            try:
                path = self.log.commit(version, actions)
                break
            except CommitConflictError:
                attempt += 1
                if attempt > self.retries:
                    remove_staged(self.log.table_path, self.staged)
                    raise
                fresh = Snapshot.build(self.log, base=snap)
                try:
                    self._check(snap, fresh, actions)
                    if self.rebase is not None:
                        actions = self.rebase(snap, fresh, actions)
                except Exception:
                    remove_staged(self.log.table_path, self.staged)
                    raise
                snap = fresh
                if actions is None:
                    remove_staged(self.log.table_path, self.staged)
                    self.snapshot = snap
                    return None
        self.snapshot = Snapshot.build(self.log, version, base=snap,
                                       actions=actions)
        record_commit(self.snapshot, snap, path)
        self._post_commit(version)
        return version

    def _stamp_ict(self, actions: list[dict], snap: Snapshot,
                   caller_ict) -> None:
        """Monotonic ``inCommitTimestamp`` (max of the wall clock and the
        predecessor's ICT + 1) when the table writes them, re-stamped on
        every attempt. The predecessor is always the attempt's snapshot,
        so its configuration decides; only a table whose protocol lists
        the feature without configuring it probes the predecessor."""
        flag = snap.configuration.get("delta.enableInCommitTimestamps")
        prev = None
        if flag is None and "inCommitTimestamp" in (
                snap.protocol.get("writerFeatures") or []):
            prev = self.log.read_ict(snap.version)
            on = prev is not None
        else:
            on = (flag or "").lower() == "true"
            if on:
                prev = self.log.read_ict(snap.version)
        info = next((a["commitInfo"] for a in actions if "commitInfo" in a),
                    None)
        if info is None:
            if not on:
                return
            from duckdb_delta_spark.delta.writer import _commit_info

            info = _commit_info("COMMIT")
            actions.insert(0, {"commitInfo": info})
        if on:
            info["inCommitTimestamp"] = max(int(time.time() * 1000),
                                            (prev or 0) + 1)
        elif caller_ict is None:
            # a losing attempt's stamp must not outlive the enablement
            info.pop("inCommitTimestamp", None)
        else:
            info["inCommitTimestamp"] = caller_ict

    def _check(self, old: Snapshot, fresh: Snapshot,
               actions: list[dict]) -> None:
        """The one conflict check: may ``actions``, planned on ``old``,
        commit on ``fresh``? Raises CommitConflictError when not."""
        rs = self.read
        op = next((a["commitInfo"].get("operation") for a in actions
                   if "commitInfo" in a), "COMMIT")
        if rs.metadata and fresh.metadata != old.metadata:
            raise CommitConflictError(
                f"concurrent metadata change during {op} retry")
        if rs.protocol and fresh.protocol != old.protocol:
            raise CommitConflictError(
                f"concurrent protocol change during {op} retry")
        if rs.whole_table:
            if fresh.domain_metadata != old.domain_metadata:
                raise CommitConflictError(
                    f"concurrent domain-metadata change during {op} retry")
            if fresh.files.keys() != old.files.keys():
                raise CommitConflictError(
                    f"concurrent data change during {op}; re-run {op} "
                    "against the current version")
        for a in actions:
            r = a.get("remove")
            if r and _file_key(r["path"], r.get("deletionVector")) \
                    not in fresh.files:
                raise CommitConflictError(
                    f"concurrent commit modified file {r['path']!r} "
                    f"during {op} retry")
        if rs.predicate is None and not rs.any_data:
            return
        added = self._added_data_paths(old, fresh)
        if not added:
            return
        if rs.any_data:
            raise CommitConflictError(
                f"concurrent commit added {len(added)} data file(s) "
                f"during {op}; re-run {op} against the current version")
        from duckdb_delta_spark.delta.scan import DeltaScanBuilder

        probe = (DeltaScanBuilder(fresh, self.spark).restrict_paths(added)
                 .to_df().where(rs.predicate))
        if not probe.isEmpty():
            raise CommitConflictError(
                f"concurrent commit added rows matching the {op} "
                f"condition; re-run {op} against the current version")

    def _added_data_paths(self, old: Snapshot, fresh: Snapshot) -> list[str]:
        """Paths added with ``dataChange: true`` by the winning commits
        that can hold rows the operation never evaluated. OPTIMIZE's
        dataChange:false rewrites reorganize bytes, not rows; a re-add of
        a live path with a GROWN deletion vector only removes rows, while
        an equal or shrunk one (RESTORE resurrecting rows) re-exposes
        rows the operation never saw."""
        fresh_by = {f.path: f for f in fresh.add_files()}
        old_by = {f.path: f for f in old.add_files()}

        def _cardinality(f) -> int:
            return int((f.deletion_vector or {}).get("cardinality") or 0)

        added = []
        for v in range(old.version + 1, fresh.version + 1):
            for action in self.log.read_commit(v):
                a = action.get("add")
                if not a or not a.get("dataChange", True):
                    continue
                f_new, f_old = fresh_by.get(a["path"]), old_by.get(a["path"])
                if f_new is not None and (
                        f_old is None
                        or _cardinality(f_new) <= _cardinality(f_old)):
                    added.append(a["path"])
        return added

    # ---------- post-commit hooks ----------

    def _post_commit(self, version: int) -> None:
        """The just-committed configuration governs its own version (the
        commit that enables an interval already counts). Maintenance
        never fails the durable commit."""
        post = self.snapshot
        _write_crc(self.log, post)
        config = post.configuration
        interval = _interval(config, "delta.checkpointInterval")
        if interval and version > 0 and version % interval == 0:
            try:
                w = self._maintenance_writer()
                w.checkpoint(v2=config.get(
                    "delta.checkpointPolicy", "classic").lower() == "v2")
                if config.get("delta.enableExpiredLogCleanup",
                              "").lower() == "true":
                    w.cleanup_expired_logs()
            except Exception as exc:  # noqa: BLE001 - see docstring
                emit("checkpoint.auto_failed", table_path=self.log.table_path,
                     version=version, error=str(exc))
        interval = _interval(config, "delta.compactLog.interval")
        if interval and version >= interval - 1 and (version + 1) % interval == 0:
            try:
                self._maintenance_writer().compact_log(
                    version - interval + 1, version)
            except Exception as exc:  # noqa: BLE001 - see docstring
                emit("compact_log.auto_failed",
                     table_path=self.log.table_path, version=version,
                     error=str(exc))

    def _maintenance_writer(self):
        from duckdb_delta_spark.delta.writer import DeltaWriter

        return DeltaWriter._at(self.log, self.snapshot, self.spark)


def remove_staged(table_path: str, rels: Iterable[str]) -> None:
    """Delete files an operation staged for a commit that will never
    land (reference: delta_transaction.cpp:483-488)."""
    for rel in rels:
        try:
            os.unlink(os.path.join(table_path, rel))
        except OSError:
            pass


def _interval(config: dict, key: str) -> int:
    try:
        return max(int(config.get(key, 0) or 0), 0)
    except (TypeError, ValueError):
        return 0


def _write_crc(log: DeltaLog, post: Snapshot) -> None:
    """delta-spark parity: a ``<version>.crc`` VersionChecksum next to
    every commit — table-level aggregates a reader can cross-check
    against its reconstructed state (Snapshot.verify_checksum). Advisory:
    never fails the durable commit."""
    try:
        files = post.add_files()
        dvs = [f.deletion_vector for f in files if f.deletion_vector]
        crc = {
            "tableSizeBytes": int(sum(f.size for f in files)),
            "numFiles": len(files),
            "numMetadata": 1,
            "numProtocol": 1,
            "numDeletionVectorsOpt": len(dvs),
            "numDeletedRecordsOpt": int(
                sum(int(d.get("cardinality") or 0) for d in dvs)
            ),
            "metadata": post.metadata,
            "protocol": post.protocol,
            "setTransactions": [
                {"appId": a, "version": v}
                for a, v in sorted(post.app_transactions.items())
            ],
        }
        path = os.path.join(log.log_path, f"{post.version:020d}.crc")
        tmp = path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(crc, f, separators=(",", ":"))
        os.replace(tmp, path)
    except Exception:  # noqa: BLE001 - checksum is advisory, commit is durable
        pass
