"""Run every `queries()` entry on a PLAIN SparkSession.

A caller of `__spark_entry__` may build its OWN SparkSession and pass
it into `queries()[name](spark, sf_dir)`; none of the engine's
session.py configuration reaches it. 18 events-reading queries once
failed on exactly that gap (`spark.sql.legacy.parquet.nanosAsLong`
lived only in the repo session factory). This smoke re-creates that
posture: a default session with NO engine confs — only performance
knobs (shuffle partitions, UI) that cannot mask a conf-dependence
bug — and executes every registered query.

Usage:
    python scripts/driver_posture_smoke.py [sf_dir] [query ...]

Exit code 0 iff every query builds AND executes (limit-5 collect).
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main(argv: list[str]) -> int:
    sf_dir = argv[1] if len(argv) > 1 else "/root/testdata/sf0.001"
    only = set(argv[2:])

    from pyspark.sql import SparkSession

    # Deliberately NOT big_data_analytics_final_project_spark.get_session:
    # no AQE tweaks, no optimizer exclusions, no legacy parquet confs.
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("driver-posture-smoke")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import types as T

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures: list[str] = []
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            # Oracle-checked output must stay pandas-hashable: a
            # pandas canonicalization sorts result columns, and a raw
            # array/map/struct cell kills it with "unhashable type"
            # (once `nested_order_items`). Serialize such columns
            # (array_join / to_json) before returning them.
            if name in oracles:
                bad = [
                    f.name
                    for f in df.schema.fields
                    if isinstance(
                        f.dataType, (T.ArrayType, T.MapType, T.StructType)
                    )
                ]
                if bad:
                    raise TypeError(
                        f"unhashable output columns {bad} in an "
                        "oracle-checked query"
                    )
            df.limit(5).collect()
            print(f"OK    {name} ({time.time() - t0:.1f}s)", flush=True)
        except Exception as exc:  # noqa: BLE001 — report every query
            failures.append(name)
            first = str(exc).splitlines()[0] if str(exc) else repr(exc)
            print(f"FAIL  {name}: {first}", flush=True)
    spark.stop()
    print(f"{len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
