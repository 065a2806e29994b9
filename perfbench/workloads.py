"""The workloads: tables built from the seed, seeded op streams, and the
models that every op's result is checked against.

Each op is timed from the call into the engine until its result is
collected (reads) or its commit is acknowledged (writes). Inputs an op
needs (DataFrames of rows to write) are built before the clock starts.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Callable, Iterator

import numpy as np
import pyarrow as pa

from perfbench import gen


@dataclass
class Op:
    kind: str                 # "read" or "write"
    name: str
    run: Callable[[], bool]   # True when the result matches the model
    table_root: str | None = None
    user_bytes: int = 0


def spark_schema(schema: pa.Schema):
    from pyspark.sql import types as T

    types = {pa.int64(): T.LongType(), pa.int32(): T.IntegerType(),
             pa.float64(): T.DoubleType(), pa.string(): T.StringType(),
             pa.date32(): T.DateType()}
    return T.StructType([T.StructField(f.name, types[f.type]) for f in schema])


def create_table(spark, root: str, schema: pa.Schema, configuration=None):
    """Version 0 through the engine's CREATE; returns the table's log."""
    from duckdb_delta_spark import DeltaLog, DeltaWriter

    DeltaWriter.create(spark, root, spark_schema(schema), configuration=configuration)
    return DeltaLog(root)


def commit_adds(log, version: int, adds: list[dict]) -> None:
    info = {"commitInfo": {"timestamp": 1_600_000_000_000 + 1000 * version,
                           "operation": "WRITE"}}
    log.commit(version, [info, *adds])


def live_bytes(root: str) -> int:
    from duckdb_delta_spark import DeltaTable

    return sum(f.size for f in DeltaTable(root).snapshot.files.values())


class Workload:
    name = ""

    def __init__(self, spark, seed: int, tracer):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer

    def data_rng(self) -> np.random.Generator:
        return np.random.default_rng([self.seed, 1])

    def final_check(self, built) -> list[str]:
        """Checks on the table after the measured ops; one line per error."""
        return []

    def stored_ratio(self, built) -> float:
        """Table-directory bytes (data, DVs, log, checkpoints) per live
        add-file byte."""
        return gen.dir_bytes(built.root) / live_bytes(built.root)

    def exec_collect(self, df) -> list:
        with self.tracer.span("exec", "exec"):
            return df.collect()


# ---------------------------------------------------------------- meta_point


@dataclass
class MetaBuilt:
    root: str
    okey: np.ndarray
    lnum: np.ndarray
    bounds: np.ndarray
    row_file: np.ndarray
    commit_of_file: np.ndarray
    rows: int


class MetaPoint(Workload):
    """Point reads on a table whose metadata outweighs the data it finds.

    Lineitem rows sorted by key are cut into files of ROWS_PER_FILE rows
    with tight ``l_orderkey`` ranges, added in seeded order over COMMITS
    commits, with a checkpoint every CHECKPOINT_EVERY commits and an
    uncheckpointed tail after the last one."""

    name = "meta_point"
    ROWS_PER_FILE = 30
    COMMITS = 2000
    CHECKPOINT_EVERY = 500
    HEAD_SHARE = 0.7
    WARM_OPS = 16
    SF = 0.01  # ~60k lineitem rows: ~2000 files
    mix = {"point_head": HEAD_SHARE, "point_past": 1 - HEAD_SHARE}

    def build(self, root: str) -> MetaBuilt:
        from duckdb_delta_spark import DeltaWriter

        rng = self.data_rng()
        li = gen.lineitem(rng, self.SF)
        okey = li.column("l_orderkey").to_numpy()
        adds = gen.write_table_files(root, li, self.ROWS_PER_FILE)
        n_files = len(adds)
        bounds = np.minimum(np.arange(n_files + 1) * self.ROWS_PER_FILE, li.num_rows)
        for j, a in enumerate(adds):
            if json.loads(a["add"]["stats"])["minValues"]["l_orderkey"] != okey[bounds[j]]:
                raise RuntimeError(f"file {j} does not start at row {bounds[j]}")
        order = rng.permutation(n_files)
        commit_of_file = np.empty(n_files, dtype=np.int64)
        log = create_table(self.spark, root, li.schema)
        for v, files in enumerate(np.array_split(order, self.COMMITS), 1):
            commit_of_file[files] = v
            commit_adds(log, v, [adds[j] for j in files])
            if v % self.CHECKPOINT_EVERY == 0 and v < self.COMMITS:
                DeltaWriter(root, self.spark).checkpoint()
        return MetaBuilt(root, okey, li.column("l_linenumber").to_numpy(), bounds,
                         np.repeat(np.arange(n_files), np.diff(bounds)),
                         commit_of_file, li.num_rows)

    def facts(self, b: MetaBuilt) -> dict:
        return {"files": len(b.commit_of_file), "commits": self.COMMITS + 1,
                "rows": b.rows,
                "checkpoints": (self.COMMITS - 1) // self.CHECKPOINT_EVERY,
                "bytes": gen.dir_bytes(b.root)}

    def _op(self, b: MetaBuilt, head: bool, version: int,
            rng: np.random.Generator) -> Op:
        from duckdb_delta_spark import DeltaTable

        live = np.flatnonzero(b.commit_of_file <= version)
        j = live[rng.integers(len(live))]
        key = int(b.okey[rng.integers(b.bounds[j], b.bounds[j + 1])])
        lo, hi = np.searchsorted(b.okey, key), np.searchsorted(b.okey, key, "right")
        present = b.commit_of_file[b.row_file[lo:hi]] <= version
        want = (int(present.sum()), int(b.lnum[lo:hi][present].sum()))

        def run() -> bool:
            t = DeltaTable(b.root) if head else DeltaTable(b.root, version=version)
            self.tracer.note_dv(t.snapshot)
            df = (t.scan(self.spark).filter_sql(f"l_orderkey = {key}")
                  .select("l_orderkey", "l_linenumber").to_df())
            rows = self.exec_collect(df)
            return (all(r[0] == key for r in rows)
                    and (len(rows), sum(r[1] for r in rows)) == want)

        return Op("read", "point_head" if head else "point_past", run)

    def ops(self, b: MetaBuilt, rng: np.random.Generator) -> Iterator[Op]:
        while True:
            head = rng.random() < self.HEAD_SHARE
            version = self.COMMITS if head else int(rng.integers(1, self.COMMITS))
            yield self._op(b, head, version, rng)

    def warm_ops(self, b: MetaBuilt, rng: np.random.Generator) -> Iterator[Op]:
        # reads stay ~1.5x slower than steady state for the first ~20 ops
        # (JIT of the planning and scheduling paths); the rest of that
        # warm-up is left to the per-type medians of the measured ops
        ops = self.ops(b, rng)
        for _ in range(self.WARM_OPS):
            yield next(ops)


# ---------------------------------------------------------------- write_mix


class WriteModel:
    """Acknowledged writes: live key → value, plus per-commit change rows."""

    def __init__(self):
        self.rows: dict[int, int] = {}
        self.version = 0
        self.changes: dict[int, int] = {}
        self.sum_k = 0
        self.sum_v = 0
        self.next_key = 0

    def put(self, k: int, v: int) -> None:
        old = self.rows.get(k)
        if old is None:
            self.sum_k += k
        else:
            self.sum_v -= old
        self.rows[k] = v
        self.sum_v += v

    def drop(self, k: int) -> None:
        v = self.rows.pop(k)
        self.sum_k -= k
        self.sum_v -= v


@dataclass
class WriteBuilt:
    root: str
    catalog: object
    model: WriteModel


class WriteMix(Workload):
    """One table under a seeded deck of appends, key-range DV deletes,
    MERGE upserts and change-feed reads; every write is followed by a HEAD
    read through an unpinned catalog (the incremental-refresh path)."""

    name = "write_mix"
    TABLE = "write_mix"
    SCHEMA = pa.schema([("k", pa.int64()), ("v", pa.int64()), ("s", pa.string())])
    BASE_COMMITS = 4
    BASE_ROWS_PER_COMMIT = 5000
    CHECKPOINT_INTERVAL = 5
    APPEND_ROWS = 200
    DELETE_KEYS = 100
    MERGE_MATCH_KEYS = 100
    MERGE_NEW_KEYS = 50
    CHANGES_COMMITS = 3
    DECK = ["append"] * 12 + ["delete"] * 3 + ["merge"] * 3 + ["changes"] * 2
    # every write in the deck is followed by a HEAD read
    mix = {"append": 12, "delete": 3, "merge": 3, "changes": 2, "head_read": 18}

    def build(self, root: str) -> WriteBuilt:
        from duckdb_delta_spark import DeltaCatalog

        model = WriteModel()
        log = create_table(self.spark, root, self.SCHEMA, configuration={
            "delta.checkpointInterval": str(self.CHECKPOINT_INTERVAL)})
        keys = np.arange(self.BASE_COMMITS * self.BASE_ROWS_PER_COMMIT)
        adds = gen.write_table_files(root, self._rows(keys, 0, "base"),
                                     self.BASE_ROWS_PER_COMMIT)
        for v, add in enumerate(adds, 1):
            commit_adds(log, v, [add])
            model.changes[v] = json.loads(add["add"]["stats"])["numRecords"]
        for k in keys.tolist():
            model.put(k, 0)
        model.next_key = len(keys)
        model.version = len(adds)
        catalog = DeltaCatalog(self.spark)
        catalog.attach(self.TABLE, root)
        return WriteBuilt(root, catalog, model)

    def facts(self, b: WriteBuilt) -> dict:
        return {"files": self.BASE_COMMITS, "commits": self.BASE_COMMITS + 1,
                "rows": len(b.model.rows), "bytes": gen.dir_bytes(b.root)}

    def _rows(self, keys: np.ndarray, v: int, tag: str) -> pa.Table:
        n = len(keys)
        return pa.table({"k": keys.astype(np.int64), "v": np.full(n, v, dtype=np.int64),
                         "s": pa.array([f"{tag}-{v}"] * n)}, schema=self.SCHEMA)

    def _df(self, tbl: pa.Table):
        return self.spark.createDataFrame(tbl.to_pandas(),
                                          spark_schema(self.SCHEMA)).coalesce(1)

    def _writer(self, b: WriteBuilt):
        from duckdb_delta_spark import DeltaWriter

        return DeltaWriter(b.root, self.spark)

    def _append(self, b: WriteBuilt, seq: int) -> Op:
        m = b.model
        keys = np.arange(m.next_key, m.next_key + self.APPEND_ROWS)
        m.next_key += len(keys)
        tbl = self._rows(keys, seq, "a")
        df = self._df(tbl)

        def run() -> bool:
            v = self._writer(b).append(df)
            ok = v == m.version + 1
            for k in keys.tolist():
                m.put(k, seq)
            m.version, m.changes[v] = v, len(keys)
            return ok

        return Op("write", "append", run, b.root, tbl.nbytes)

    def _delete(self, b: WriteBuilt, rng: np.random.Generator) -> Op:
        m = b.model
        lo = int(rng.integers(0, m.next_key - self.DELETE_KEYS))
        hi = lo + self.DELETE_KEYS
        hits = [k for k in range(lo, hi) if k in m.rows]

        def run() -> bool:
            res = self._writer(b).delete(f"k >= {lo} AND k < {hi}")
            if not hits:
                return res is None
            ok = tuple(res) == (m.version + 1, len(hits))
            for k in hits:
                m.drop(k)
            m.version = res[0]
            m.changes[m.version] = len(hits)
            return ok

        return Op("write", "delete", run, b.root)

    def _merge(self, b: WriteBuilt, rng: np.random.Generator, seq: int) -> Op:
        m = b.model
        lo = int(rng.integers(0, m.next_key - self.MERGE_MATCH_KEYS))
        keys = np.concatenate([
            np.arange(lo, lo + self.MERGE_MATCH_KEYS),
            np.arange(m.next_key, m.next_key + self.MERGE_NEW_KEYS)])
        m.next_key += self.MERGE_NEW_KEYS
        matched = sum(1 for k in keys.tolist() if k in m.rows)
        tbl = self._rows(keys, seq, "m")
        df = self._df(tbl)

        def run() -> bool:
            res = self._writer(b).merge(
                df, "t.k = s.k", when_matched_update={"v": "s.v", "s": "s.s"})
            ok = tuple(res) == (m.version + 1, matched, len(keys) - matched)
            for k in keys.tolist():
                m.put(k, seq)
            m.version = res[0]
            # derived change feed: a matched row is a delete of the old
            # image plus an insert of the new one
            m.changes[m.version] = 2 * matched + (len(keys) - matched)
            return ok

        return Op("write", "merge", run, b.root, tbl.nbytes)

    def _changes(self, b: WriteBuilt) -> Op:
        from duckdb_delta_spark import DeltaTable

        m = b.model
        hi = m.version
        lo = hi - self.CHANGES_COMMITS
        want = sum(m.changes.get(v, 0) for v in range(lo + 1, hi + 1))

        def run() -> bool:
            df = DeltaTable(b.root).changes(self.spark, lo, hi)
            with self.tracer.span("exec", "exec"):
                return df.count() == want

        return Op("read", "changes", run)

    def _head_read(self, b: WriteBuilt) -> Op:
        m = b.model

        def run() -> bool:
            self.tracer.note_dv(b.catalog.table(self.TABLE).snapshot)
            row = self.exec_collect(self.spark.sql(
                f"SELECT count(*), sum(k), sum(v) FROM {self.TABLE}"))[0]
            return tuple(row) == (len(m.rows), m.sum_k, m.sum_v)

        return Op("read", "head_read", run)

    def _stream(self, b: WriteBuilt, rng: np.random.Generator,
                kinds: Iterator[str]) -> Iterator[Op]:
        for seq, kind in enumerate(kinds, 1):
            if kind == "changes":
                yield self._changes(b)
                continue
            if kind == "append":
                yield self._append(b, seq)
            elif kind == "delete":
                yield self._delete(b, rng)
            else:
                yield self._merge(b, rng, seq)
            yield self._head_read(b)

    def ops(self, b: WriteBuilt, rng: np.random.Generator) -> Iterator[Op]:
        def kinds():
            while True:
                yield from (self.DECK[i] for i in rng.permutation(len(self.DECK)))

        return self._stream(b, rng, kinds())

    def warm_ops(self, b: WriteBuilt, rng: np.random.Generator) -> Iterator[Op]:
        return self._stream(b, rng, iter(["append", "delete", "merge", "changes"]))

    def final_check(self, b: WriteBuilt) -> list[str]:
        """Reopen the table from disk and compare it with the model."""
        from duckdb_delta_spark import DeltaTable

        rows = DeltaTable(b.root).to_df(self.spark).select("k", "v").collect()
        got = {r[0]: r[1] for r in rows}
        if len(got) != len(rows):
            return [f"duplicate keys after reopen: {len(rows)} rows, {len(got)} keys"]
        if got != b.model.rows:
            missing = len(b.model.rows.keys() - got.keys())
            extra = len(got.keys() - b.model.rows.keys())
            return [f"reopened table differs from the model: {missing} keys missing, "
                    f"{extra} unexpected, {len(got)} rows vs {len(b.model.rows)}"]
        return []


WORKLOADS = {w.name: w for w in (MetaPoint, WriteMix)}
