"""Structured event logging: the engine's observability surface.

Reference analogue: the kernel → engine log forwarding in
``delta_kernel_logging`` / ``LoggerCallback`` (reference:
src/delta_utils.cpp:1175-1242), where every kernel event arrives as a
structured record (level, target, message) and is re-emitted through the
host engine's logger. Here each event is a dict with a stable ``event``
name plus event-specific fields; records flow to

* registered sinks (``add_sink``) — a catalog, metrics pipeline, or test
  collects them as data, and
* the standard ``logging`` logger ``duckdb_delta_spark`` at DEBUG/INFO —
  so plain Python logging config works with zero setup.

Emission is fire-and-forget: a sink raising must never fail the engine
operation that logged.
"""

from __future__ import annotations

import json
import logging
import time
from typing import Callable

_LOG = logging.getLogger("duckdb_delta_spark")

_SINKS: list[Callable[[dict], None]] = []

#: event names emitted by the engine (stable surface, tests match on these)
EVENTS = (
    "snapshot.build",      # table_path, version, n_files, incremental, replay_start, cached
    "scan.plan",           # table_path, version, route (local|spark), skip report fields
    "scan.dv_route",       # table_path, n_descriptors, cardinality, route (anti_join|executor_decode|local)
    "commit.write",        # table_path, version, operation, n_actions
    "commit.conflict",     # table_path, version
    "checkpoint.write",    # table_path, version, n_rows
    "delete.apply",        # table_path, version, n_deleted, n_files, route (local|spark), n_files_scanned
    "update.apply",        # table_path, version, n_updated, route (local|spark), n_files_scanned
    "merge.apply",         # table_path, version, n_matched, n_inserted
    "restore.apply",       # table_path, version, restored_to, n_readded, n_removed
    "compact.apply",       # table_path, version, n_removed, n_added
    "vacuum.apply",        # table_path, n_deleted
)


def add_sink(sink: Callable[[dict], None]) -> None:
    """Register a callback receiving every structured record (a dict)."""
    _SINKS.append(sink)


def remove_sink(sink: Callable[[dict], None]) -> None:
    try:
        _SINKS.remove(sink)
    except ValueError:
        pass


def emit(event: str, **fields) -> None:
    """Emit one structured record. Never raises."""
    record = {"event": event, "ts_ms": int(time.time() * 1000), **fields}
    for sink in list(_SINKS):
        try:
            sink(record)
        except Exception:  # noqa: BLE001 - observability must not fail ops
            pass
    try:
        _LOG.log(
            logging.INFO if not event.startswith("scan.") else logging.DEBUG,
            "%s %s", event, json.dumps(fields, separators=(",", ":"), default=str),
        )
    except Exception:  # noqa: BLE001
        pass
