"""Seeded, single-process input generator for the benchmark.

Writes parquet tables with the schemas, value domains and file layout
of the repository's sf0.1 fixture (one file per table, one row group,
snappy, parquet 2.6), drawn from ``numpy.random.Generator(PCG64(seed))``.
Every foreign key is drawn from the closed domain of its parent table,
so every registry query and its DuckDB twin runs unchanged. The same
seed gives byte-identical files.

Only the tables a workload reads are written: the star schema plus
``events`` for ``reference_reports``, and ``events`` plus its split into
a file-drop stream for ``event_ingest``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.1 fixture.
ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
}

# Event-stream layout: the time-ordered log is cut into STREAM_FILES
# consecutive files; a LATE_SHARE of events is moved to a file 1..LATE_FILES
# later, so each micro-batch also re-touches the day partitions of earlier
# batches (this sets how many day partitions an upsert rewrites).
STREAM_FILES = 10
LATE_SHARE = 0.05
LATE_FILES = 1

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "green", "dark", "shiny", "tiny", "bright", "soft"]
P_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget"]
O_STATUS = ["F", "O", "P"]
O_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURNFLAGS = ["A", "N", "R"]
LINESTATUS = ["F", "O"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
N_USERS = 1_500

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH = np.datetime64("1970-01-01", "D")


def _days(start: str, end: str) -> tuple[int, int]:
    return (
        int((np.datetime64(start, "D") - _EPOCH).astype(int)),
        int((np.datetime64(end, "D") - _EPOCH).astype(int)),
    )


def _ts_days(rng, n: int, start: str, end: str) -> pa.Array:
    lo, hi = _days(start, end)
    us = rng.integers(lo, hi + 1, n).astype(np.int64) * _US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def star_tables(rng) -> dict[str, pa.Table]:
    n = ROWS
    t = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    c = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
            "c_name": _names("Customer", c),
            "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, c, -999.99, 9999.99)),
            "c_mktsegment": _pick(rng, SEGMENTS, c),
        }
    )
    s = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
            "s_name": _names("Supplier", s),
            "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, s, -999.99, 9999.99)),
        }
    )
    p = n["part"]
    adj = np.asarray(P_ADJ, dtype=object)[rng.integers(0, len(P_ADJ), p)]
    noun = np.asarray(P_NOUN, dtype=object)[rng.integers(0, len(P_NOUN), p)]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(p, dtype=np.int64)),
            "p_name": pa.array(adj + " " + noun, pa.string()),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)]),
            "p_type": _pick(rng, P_TYPES, p),
            "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2)),
        }
    )
    o = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, c, o).astype(np.int64)),
            "o_orderstatus": _pick(rng, O_STATUS, o),
            "o_totalprice": pa.array(_money(rng, o, 1000.0, 500000.0)),
            "o_orderdate": _ts_days(rng, o, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, O_PRIORITY, o),
        }
    )
    li = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, o, li).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, p, li).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, s, li).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, li, 900.0, 105000.0)),
            "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
            "l_returnflag": _pick(rng, RETURNFLAGS, li),
            "l_linestatus": _pick(rng, LINESTATUS, li),
            "l_shipdate": _ts_days(rng, li, "1995-01-02", "2001-11-04"),
        }
    )
    return t


def events_table(rng) -> pa.Table:
    """Time-ordered event log: event_id follows ts, 30 days of Jan 2024."""
    e = ROWS["events"]
    lo, _ = _days("2024-01-01", "2024-01-01")
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, e)) + lo * _US_PER_DAY
    return pa.table(
        {
            "event_id": pa.array(np.arange(e, dtype=np.int64)),
            "ts": pa.array(ts.astype(np.int64), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, e).astype(np.int64)),
            "event_type": _pick(rng, EVENT_TYPES, e),
            "value": pa.array(np.round(rng.exponential(50.0, e), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
        }
    )


def stream_file_of(rng, n_events: int) -> np.ndarray:
    """File index of each event in the split log: consecutive time slices,
    with LATE_SHARE of the events delivered 1..LATE_FILES files late."""
    idx = np.arange(n_events) * STREAM_FILES // n_events
    late = rng.random(n_events) < LATE_SHARE
    shift = rng.integers(1, LATE_FILES + 1, n_events)
    return np.minimum(idx + np.where(late, shift, 0), STREAM_FILES - 1)


def _write(table: pa.Table, path: str) -> None:
    # One file, one row group: the fixture's layout.
    pq.write_table(table, path, row_group_size=table.num_rows, compression="snappy")


def write_tables(root: str, seed: int) -> dict[str, int]:
    """Write the star schema and ``events`` as ``<root>/<table>.parquet``;
    returns row counts."""
    os.makedirs(root, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    tables = star_tables(rng)
    tables["events"] = events_table(rng)
    for name, table in tables.items():
        _write(table, os.path.join(root, f"{name}.parquet"))
    return {k: v.num_rows for k, v in tables.items()}


def write_event_stream(root: str, seed: int) -> dict[str, object]:
    """Write ``<root>/events.parquet`` (the whole log, for the batch
    oracles) and ``<root>/drops/part-NNNNN.parquet`` (its split into
    STREAM_FILES drops). File modification times increase with the file
    index, which is the order the file source picks them in."""
    os.makedirs(os.path.join(root, "drops"), exist_ok=True)
    rng = np.random.Generator(np.random.PCG64([seed, 1]))
    events = events_table(rng)
    _write(events, os.path.join(root, "events.parquet"))
    file_of = stream_file_of(rng, events.num_rows)
    files, file_rows = [], []
    for i in range(STREAM_FILES):
        path = os.path.join(root, "drops", f"part-{i:05d}.parquet")
        part = events.filter(pa.array(file_of == i))
        _write(part, path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
        files.append(path)
        file_rows.append(part.num_rows)
    return {"events": events.num_rows, "files": files, "file_rows": file_rows}
