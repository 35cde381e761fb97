"""Block hygiene for iterative operators built on ``localCheckpoint``.

The iterative operators (BPE training, connected components) truncate
lineage each round with an eager ``localCheckpoint`` — the only lever
when the round's state is the data itself (kmeans re-derives from
literal centroids instead). ``localCheckpoint`` persists the dataset's
internal RDD, and those blocks live until the JVM garbage-collects the
RDD: across an n-round loop that is n state-sized block sets pinned in
executor storage memory for the life of the session. At 100 TB that is
gigabytes of dead blocks per job; in a shared session it squeezes the
unified-memory execution pool for every LATER query (measured 3-4x
slowdowns on unrelated bench queries before this hook existed).

The fix: each round frees the previous round's checkpoint as soon as
the current round's eager checkpoint has materialized — the old blocks
were read exactly once, just then, and have no further reader.
"""

from __future__ import annotations

import logging
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)

# Default for operators whose result materialization is optional
# (pagerank, triangle_count): True = checkpoint the result and release
# the loop-invariant persisted frames (the production posture). Plan
# tooling (scripts/dump_query_plan.py) flips this to False via
# ``lazy_results`` so the dumped plans show the real join/aggregate
# shapes instead of an opaque post-checkpoint RDD scan. The override
# is THREAD-LOCAL (r12 verdict finding #3): a lazy_results scope on
# one thread can no longer leak lazy plans into queries built
# concurrently on another (e.g. a parallel pytest runner), while the
# single-threaded plan tooling behaves exactly as before.
MATERIALIZE_RESULTS = True

_tl = threading.local()


def resolve_materialize(flag: bool | None) -> bool:
    """Per-call override if given, else this thread's scoped override
    (set by ``lazy_results``), else the module default."""
    if flag is not None:
        return flag
    return getattr(_tl, "materialize", MATERIALIZE_RESULTS)


@contextmanager
def lazy_results():
    """Scoped ``materialize=False`` default for plan tooling.

    Every plan-inspection site (scripts/dump_query_plan.py, plans/lint.py,
    the plan-shape tests) needs the same flip-and-restore;
    centralizing it here means none of them can forget the restore.
    The override lives in a thread-local, so concurrent operator
    calls on OTHER threads keep the production materialize=True
    posture; nesting restores the outer scope's value."""
    old = getattr(_tl, "materialize", None)
    _tl.materialize = False
    try:
        yield
    finally:
        if old is None:
            del _tl.materialize
        else:
            _tl.materialize = old


def unpersist_local_checkpoint(df: DataFrame) -> None:
    """Free the block store behind an eager ``localCheckpoint`` frame.

    The checkpointed frame's analyzed plan is a ``LogicalRDD`` wrapping
    exactly the internal RDD ``localCheckpoint`` persisted, so
    unpersist it directly. Classic-mode internals (``_jdf``), hence the
    broad except: on any other backend this degrades to the old
    GC-eventually behavior rather than failing the job. Callers must
    only invoke this once nothing will read the frame again —
    a locally-checkpointed RDD cannot be recomputed.
    """
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        # Degrading silently would let the leak this module exists to
        # fix return unnoticed (e.g. on Spark Connect, or if a future
        # Spark stops exposing the checkpoint as a bare LogicalRDD) —
        # leave a trace without failing the job.
        _log.warning(
            "unpersist_local_checkpoint could not free checkpoint "
            "blocks; storage-memory cleanup degraded to GC-eventually",
            exc_info=True,
        )
