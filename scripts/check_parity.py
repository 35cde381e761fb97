#!/usr/bin/env python
"""Run every registered query against its DuckDB oracle in one Spark
session; report all mismatches (does not stop at first). Usage:

    python scripts/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from big_data_analytics_final_project_spark import get_session
from big_data_analytics_final_project_spark.queries import all_queries
from tests.parity import compare


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--trace"]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])

    spark = get_session(
        app_name="check-parity",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "false"},
    )
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    specs = all_queries()
    unknown = only - specs.keys()
    if unknown:
        # a typo'd / unregistered name must fail loudly — silently
        # checking nothing reads as "0 failures"
        print(f"unknown queries: {sorted(unknown)}", file=sys.stderr)
        return 2
    failed: list[str] = []
    for name in sorted(specs):
        if only and name not in only:
            continue
        spec = specs[name]
        if spec.sql is None:
            print(f"SKIP  {name} (no oracle)")
            continue
        t0 = time.time()
        try:
            compare(spec.fn(spark, sf_dir), con.sql(spec.sql))
            print(f"OK    {name} ({time.time() - t0:.1f}s)")
        except Exception as e:  # noqa: BLE001
            failed.append(name)
            msg = str(e).split("\n")
            print(f"FAIL  {name}: " + " | ".join(msg[:6]))
            if "--trace" in sys.argv:
                traceback.print_exc()
    print(f"\n{len(failed)} failures: {failed}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
