"""Every registered query must run on a PLAIN SparkSession.

A caller of `__spark_entry__` may pass its own default session into
`queries()[name](spark, sf_dir)` — any dependence on the engine's
session.py configuration is invisible to pytest (whose fixture uses
`get_session`) but fatal to that caller. This test re-creates that
posture in a SUBPROCESS: a fresh default session cannot be built
in-process because `SparkSession.builder.getOrCreate()` would reuse
the test JVM's already-configured SparkContext.

Past regression: `spark.sql.legacy.parquet.nanosAsLong` lived only in
session.py, so all 18 events-reading queries errored on a plain
session while the whole local suite stayed green.
"""

from __future__ import annotations

import os
import subprocess
import sys

from .conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_registry_counts_match_readme():
    """README's registry/twin counts are asserted here so the prose
    can't drift from the code (round-5 ADVICE caught exactly that
    drift). Every registered query must carry a SQL twin — sketch
    queries included, via acceptance-bound oracles."""
    import re

    from big_data_analytics_final_project_spark.queries import all_queries

    specs = all_queries()
    n_total = len(specs)
    n_twinned = sum(1 for s in specs.values() if s.sql)
    # The ONLY queries allowed to ship without a SQL twin: each must
    # instead be pinned bit-equal to a pure-Python reference in a
    # dedicated pytest (corpus_bpe_merges -> tests/test_bpe.py —
    # greedy BPE merge induction has no relational oracle).
    ROWS_ONLY = {"corpus_bpe_merges"}
    untwinned = {n for n, s in specs.items() if not s.sql}
    assert untwinned == ROWS_ONLY, sorted(untwinned ^ ROWS_ONLY)
    with open(os.path.join(REPO, "README.md")) as f:
        readme = f.read()
    m = re.search(r"\((\d+) of (\d+) as of", readme)
    assert m, "README registry-count sentence missing"
    assert (int(m.group(1)), int(m.group(2))) == (n_twinned, n_total)


def test_entry_exposes_registry_order():
    """`__spark_entry__` adapts the registry without reordering or
    filtering it: `queries()` has exactly `all_queries()`'s names in
    the same order, and `oracle_sql()` holds exactly the specs whose
    `sql` is set."""
    import __spark_entry__ as entrymod

    from big_data_analytics_final_project_spark.queries import all_queries

    specs = all_queries()
    fns = entrymod.queries()
    assert list(fns) == list(specs)
    assert all(fns[n] is s.fn for n, s in specs.items())
    oracles = entrymod.oracle_sql()
    twinned = {n: s.sql for n, s in specs.items() if s.sql is not None}
    assert list(oracles) == list(twinned)
    assert oracles == twinned


def test_all_queries_run_on_plain_session():
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "scripts", "driver_posture_smoke.py"),
            SF_SMOKE,
        ],
        capture_output=True,
        text=True,
        timeout=1800,
        cwd=REPO,
    )
    tail = proc.stdout[-4000:] + "\n" + proc.stderr[-2000:]
    assert proc.returncode == 0, f"plain-session smoke failed:\n{tail}"
    assert "0 failures" in proc.stdout
