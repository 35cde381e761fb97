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

# Operators that checkpoint their result and release their staging or
# loop-invariant frames do so unless ``lazy_results`` is active: plan
# tooling (scripts/dump_query_plan.py, plans/lint.py, the plan-shape
# tests) then sees the real join/aggregate shapes instead of an opaque
# post-checkpoint RDD scan. The scope is THREAD-LOCAL: a lazy_results
# scope on one thread cannot leak lazy plans into queries built
# concurrently on another (e.g. a parallel pytest runner).
_tl = threading.local()


def resolve_materialize() -> bool:
    """False inside this thread's ``lazy_results`` scope, else True."""
    return getattr(_tl, "materialize", True)


@contextmanager
def lazy_results():
    """Keep operators' lazy plans for the scope, on this thread only.

    Every plan-inspection site needs the same flip-and-restore;
    centralizing it here means none of them can forget the restore.
    Calls on OTHER threads keep checkpointing their results; nesting
    restores the outer scope's value."""
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

    Spark warns "RDD … was locally checkpointed, its lineage has been
    truncated" when the blocks go. The message is logged by RDD code
    (``RDD.class`` in spark-core) under the concrete RDD class's
    logger (``org.apache.spark.rdd.MapPartitionsRDD`` for a DataFrame
    checkpoint), which every other warning of that class shares, so
    it stays on: silencing it would hide those too.
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
