"""Correctness gate: Spark results against DuckDB on the same parquet.

Runs outside every timed window. Each registry query is compared with
its ``QuerySpec.sql`` twin through the repository's own comparison
helper (``tests/parity.compare``: same columns, same numeric type
classes, order-insensitive exact values). A mismatch is reported as a
failure, never hidden.
"""

from __future__ import annotations

import os
import traceback

import duckdb

# Hourly rollup of the whole event log: what the streamed zone must hold.
HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS hour,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1
"""


class Collected:
    """A materialized Spark result in the shape ``parity.compare`` reads
    (``columns``, ``schema``, ``collect()``), fetched through Arrow."""

    def __init__(self, df):
        self.columns = df.columns
        self.schema = df.schema
        self._rows = df.toArrow().to_pylist()

    def collect(self):
        return self._rows


def connect(data_dir: str, tables, threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect(config={"threads": threads})
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'")
    return con


def check(result: Collected, con, sql: str) -> str | None:
    """None when ``result`` equals the DuckDB answer to ``sql``, else the
    reason it does not."""
    from tests.parity import compare

    try:
        compare(result, con.sql(sql))
    except AssertionError as e:
        return f"mismatch: {e}"
    except Exception:
        return "oracle error: " + traceback.format_exc(limit=2)
    return None
