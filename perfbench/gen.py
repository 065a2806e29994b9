"""Seeded TPC-H-shaped data and the Delta add actions describing its files.

Everything here is a pure function of a ``numpy.random.Generator``: the same
seed gives byte-identical tables. Data is generated in Python (numpy +
pyarrow) rather than read from disk, so the benchmark needs nothing outside
its checkout.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds

EPOCH = dt.date(1970, 1, 1)
START = (dt.date(1992, 1, 1) - EPOCH).days
END = (dt.date(1998, 8, 2) - EPOCH).days
CUTOFF = (dt.date(1995, 6, 17) - EPOCH).days

INSTRUCT = ["DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN"]
MODES = ["REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB"]


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(rng.integers(0, len(values), n), pa.int32()), pa.array(values)
    ).cast(pa.string())


def _dates(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int32), pa.date32())


def lineitem(rng: np.random.Generator, sf: float) -> pa.Table:
    """TPC-H lineitem at scale factor ``sf``: 1-7 lines for each of
    ``1.5M * sf`` orders (mean 4), rows sorted by ``l_orderkey``."""
    n_orders = int(1_500_000 * sf)
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), lines)
    n = len(okey)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    odate = np.repeat(rng.integers(START, END - 151, n_orders), lines)
    partkey = rng.integers(1, 200_001, n).astype(np.int64)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * (900.0 + (partkey % 1000) + 0.01 * (partkey % 100)), 2)
    ship = odate + rng.integers(1, 122, n)
    commit = odate + rng.integers(30, 91, n)
    receipt = ship + rng.integers(1, 31, n)
    flag = np.where(receipt <= CUTOFF, np.where(rng.random(n) < 0.5, "R", "A"), "N")
    return pa.table({
        "l_orderkey": okey,
        "l_partkey": partkey,
        "l_suppkey": rng.integers(1, 10_001, n).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(flag),
        "l_linestatus": pa.array(np.where(ship > CUTOFF, "O", "F")),
        "l_shipdate": _dates(ship),
        "l_commitdate": _dates(commit),
        "l_receiptdate": _dates(receipt),
        "l_shipinstruct": _pick(rng, INSTRUCT, n),
        "l_shipmode": _pick(rng, MODES, n),
    })


def _stat(v):
    return v.isoformat() if isinstance(v, dt.date) else v


def _stats_json(md) -> str:
    """Delta ``add.stats`` from a parquet footer, as a writer records it."""
    mins, maxs, nulls = {}, {}, {}
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for c in range(rg.num_columns):
            col = rg.column(c)
            st, name = col.statistics, col.path_in_schema
            lo, hi = _stat(st.min), _stat(st.max)
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
            nulls[name] = nulls.get(name, 0) + st.null_count
    return json.dumps({"numRecords": md.num_rows, "minValues": mins,
                       "maxValues": maxs, "nullCount": nulls},
                      separators=(",", ":"))


def write_table_files(root: str, table: pa.Table, rows_per_file: int) -> list[dict]:
    """Write ``table`` as parquet files of at most ``rows_per_file`` rows,
    in row order, and return their Delta ``add`` actions in file order."""
    written = []
    ds.write_dataset(
        table, root, format="parquet", basename_template="part-{i}.parquet",
        max_rows_per_file=rows_per_file,
        max_rows_per_group=min(rows_per_file, 1 << 20), min_rows_per_group=0,
        use_threads=False, existing_data_behavior="overwrite_or_ignore",
        file_visitor=lambda f: written.append((f.path, f.metadata)))

    def file_order(item):
        name = os.path.basename(item[0])
        return int(name[len("part-"):-len(".parquet")])

    adds = []
    for path, md in sorted(written, key=file_order):
        adds.append({"add": {"path": os.path.basename(path),
                             "partitionValues": {},
                             "size": os.path.getsize(path),
                             "modificationTime": 0, "dataChange": True,
                             "stats": _stats_json(md)}})
    return adds


def dir_bytes(root: str) -> int:
    total = 0
    for base, _, names in os.walk(root):
        for n in names:
            total += os.path.getsize(os.path.join(base, n))
    return total
