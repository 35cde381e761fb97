"""Self-tests of the benchmark itself (no Spark session needed).

    python3 perfbench/selftest.py          # or: python3 -m pytest perfbench/selftest.py

- the same seed gives byte-identical inputs, another seed different ones;
- generated schemas equal the repository's sf0.1 fixture, when present;
- the metric names and units the benchmark prints match BENCHMARK.json;
- the correctness gate flags a deliberately wrong result.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import oracle  # noqa: E402
import perlayer  # noqa: E402
import run  # noqa: E402
from workloads import EventIngest, ReferenceReports, Window  # noqa: E402

SCRATCH = os.path.join(ROOT, ".perfbench_selftest")


def _digests(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _inputs(seed: int, tag: str) -> dict[str, str]:
    root = os.path.join(SCRATCH, tag)
    shutil.rmtree(root, ignore_errors=True)
    gen.write_tables(os.path.join(root, "tables"), seed)
    gen.write_event_stream(os.path.join(root, "stream"), seed)
    return _digests(root)


def test_same_seed_same_bytes_other_seed_other_bytes():
    a, b, c = _inputs(7, "a"), _inputs(7, "b"), _inputs(8, "c")
    assert a == b, "same seed must give byte-identical inputs"
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a if not k.endswith(("region.parquet", "nation.parquet")))


def test_schemas_match_fixture():
    from tests.conftest import SF_SMOKE

    fixture = os.path.join(os.path.dirname(SF_SMOKE), "sf0.1")
    if not os.path.isdir(fixture):
        print(f"skip: no fixture at {fixture}")
        return
    root = os.path.join(SCRATCH, "schema")
    gen.write_tables(root, 3)
    for t, n in gen.ROWS.items():
        ours = pq.ParquetFile(os.path.join(root, f"{t}.parquet"))
        theirs = pq.ParquetFile(os.path.join(fixture, f"{t}.parquet"))
        assert ours.schema_arrow.remove_metadata().equals(theirs.schema_arrow.remove_metadata()), t
        assert ours.metadata.num_rows == theirs.metadata.num_rows == n, t
        assert ours.metadata.num_row_groups == theirs.metadata.num_row_groups == 1, t


def test_stream_split_is_late_by_the_stated_share():
    rng = np.random.Generator(np.random.PCG64(5))
    n = 100_000
    file_of = gen.stream_file_of(rng, n)
    on_time = np.arange(n) * gen.STREAM_FILES // n
    late = file_of != on_time
    assert np.all(file_of >= on_time) and np.all(file_of - on_time <= gen.LATE_FILES)
    assert abs(late.mean() - gen.LATE_SHARE) < 0.01


def test_printed_metrics_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == [ReferenceReports.name, EventIngest.name]

    class Fake:
        def rows_per_s(self, win):
            return 1.0

    win = Window(wall=1.0, passes=[1.0], latencies=[0.5, 1.0, 1.5])
    printed = {k: u for k, (_, u) in run.end_to_end(Fake(), win, 2.0).items()}
    assert printed == {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert perlayer.PER_LAYER == {m["name"]: m["unit"] for m in spec["per_layer"]}


def test_gate_flags_a_wrong_result():
    from pyspark.sql import types as T

    root = os.path.join(SCRATCH, "gate")
    gen.write_event_stream(root, 11)
    con = oracle.connect(root, ["events"], 1)
    truth = con.sql(oracle.HOURLY_SQL).fetchall()
    schema = T.StructType([
        T.StructField("hour", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ])

    class Result:
        columns = schema.names

        def __init__(self, rows):
            self.schema = schema
            self._rows = [dict(zip(self.columns, r)) for r in rows]

        def collect(self):
            return self._rows

    assert oracle.check(Result(truth), con, oracle.HOURLY_SQL) is None
    off_by_one = [(h, n + 1, s) if i == 3 else (h, n, s) for i, (h, n, s) in enumerate(truth)]
    assert "mismatch" in oracle.check(Result(off_by_one), con, oracle.HOURLY_SQL)
    assert "mismatch" in oracle.check(Result(truth[1:]), con, oracle.HOURLY_SQL)
    last_bit = [(h, n, np.nextafter(s, np.inf)) if i == 0 else (h, n, s) for i, (h, n, s) in enumerate(truth)]
    assert "mismatch" in oracle.check(Result(last_bit), con, oracle.HOURLY_SQL)
    con.close()


if __name__ == "__main__":
    failed = 0
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            try:
                fn()
                print(f"ok   {name}")
            except Exception as e:
                failed += 1
                print(f"FAIL {name}: {type(e).__name__}: {e}")
    shutil.rmtree(SCRATCH, ignore_errors=True)
    sys.exit(1 if failed else 0)
