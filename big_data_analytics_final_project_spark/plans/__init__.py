"""Plan inspection helpers — the engine's "did Catalyst do what we
designed for?" assertions, used by tests and by bench tuning.

The brief's scale checklist (pushdown reached the scan, dims went
broadcast, codegen spans are wide) becomes executable checks here
instead of eyeballing `.explain` output.
"""

from __future__ import annotations

import hashlib
import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def assert_broadcast_join(df: DataFrame) -> None:
    plan = physical_plan(df)
    if "BroadcastHashJoin" not in plan and "BroadcastNestedLoopJoin" not in plan:
        raise AssertionError(f"expected a broadcast join in plan:\n{plan}")


def assert_no_cartesian(df: DataFrame) -> None:
    plan = physical_plan(df)
    if "CartesianProduct" in plan:
        raise AssertionError(f"unexpected cartesian product in plan:\n{plan}")


def assert_pushed_filters(df: DataFrame, fragment: str) -> None:
    """Check a predicate reached the parquet scan (PushedFilters)."""
    plan = physical_plan(df)
    if "PushedFilters" not in plan or fragment not in plan:
        raise AssertionError(
            f"expected pushed filter containing {fragment!r} in plan:\n{plan}"
        )


def count_shuffles(df: DataFrame) -> int:
    """Number of SHUFFLE exchanges (numbered `(n) Exchange` nodes in the
    formatted plan; BroadcastExchange excluded) — the metric to
    minimize; tests pin upper bounds for key operators."""
    return len(re.findall(r"\(\d+\) Exchange\b", physical_plan(df)))


def count_broadcasts(df: DataFrame) -> int:
    """Number of BroadcastExchange nodes in the physical plan."""
    return len(re.findall(r"\(\d+\) BroadcastExchange\b", physical_plan(df)))


def count_scans(df: DataFrame) -> int:
    """Number of parquet scan nodes (numbered nodes in the formatted
    plan, which lists every node twice — tree and detail section)."""
    return len(re.findall(r"\(\d+\) Scan parquet", physical_plan(df)))


def count_broadcast_hints(df: DataFrame) -> int:
    """Number of EXPLICIT broadcast hints (`ResolvedHint` nodes) in
    the analyzed logical plan. Distinct from `count_broadcasts`: AQE
    choosing a broadcast from runtime stats is adaptive and safe, but
    a FORCED hint on an unbounded-cardinality side is a 100 TB OOM no
    optimizer can undo — tests pin hint counts to the bounded-side
    joins that were designed to carry them."""
    analyzed = df._jdf.queryExecution().analyzed().toString()
    return len(re.findall(r"ResolvedHint \(strategy=broadcast\)", analyzed))


def executed_scan_counts(spark, run, extras=None):
    """Per-table parquet FileScan counts across EVERY SQL execution
    fired by ``run()`` — construction-time materializations included.

    ``extras``, if a dict, additionally receives exact EXECUTED node
    counts summed the same dedup-safe way (AQE-final trees only,
    cached recipes once): ``shuffles`` (Exchange nodes — the count a
    static plan census can't see inside checkpoint stages),
    ``broadcasts`` (BroadcastExchange nodes), and
    ``reused_exchanges`` (ReusedExchange / ReusedQueryStage reference
    nodes — each marks a shuffle or broadcast the engine SKIPPED by
    reusing an earlier stage's output; counted across the swept
    descriptions, not the final frame's plan, which under the
    materialize-by-default posture is a post-checkpoint RDD scan
    that always reads 0 — r14 advice #1).

    CONCURRENCY / RETENTION CONTRACT: the sweep attributes every
    execution that STARTS on this session after ``run`` begins — the
    caller must hold the session exclusively (no parallel test runner
    sharing it), or foreign executions inflate the counts. And the
    status store retains only ``spark.sql.ui.retainedExecutions``
    entries (default 1000); a ``run`` that fires more executions than
    the limit silently undercounts — when the store is within 10% of
    the limit this function adds a ``retention_near_limit`` parse
    flag so the caller sees the risk instead of a quietly-low number
    (scripts/scan_audit.py raises the limit to 5000).

    The final DataFrame's executed plan is blind to work done while
    the query was BUILT: under the eager-checkpoint idiom
    (operators/checkpoints.py) the fact scans happen inside
    ``localCheckpoint`` jobs and the returned plan reads only RDD
    blocks, so a plan-only audit reports `{}` (the r13 scan audit's
    acknowledged blind spot). This sweeps the SQL status store
    (fed by the listener bus regardless of UI) for executions that
    started after ``run`` began, takes each one's AQE-FINAL plan
    description, and sums FileScan-per-table — the true "how many
    times did we read the corpus" number.

    Returns ``(result, Counter)`` where ``result`` is ``run()``'s
    return value. ``run`` must leave every job it wants counted
    FINISHED (collect inside it); the listener bus is drained before
    the sweep so late adaptive-plan updates are included.
    """
    from collections import Counter

    store = spark._jsparkSession.sharedState().statusStore()

    def _ids() -> set[int]:
        lst = store.executionsList()
        return {lst.apply(i).executionId() for i in range(lst.size())}

    before = _ids()
    # The descriptions are rendered when each execution starts and at
    # each adaptive re-plan, in the session's explain mode; the parser
    # needs formatted's numbered detail headers to resolve scan nodes
    # to tables. Only this sweep pays for that format.
    mode_key = "spark.sql.ui.explainMode"
    mode_before = spark.conf.get(mode_key)
    spark.conf.set(mode_key, "formatted")
    try:
        result = run()
    finally:
        spark.conf.set(mode_key, mode_before)
    try:  # drain async listener events (final AQE plan updates)
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10000)
    except Exception:  # pragma: no cover — non-classic backends
        import time as _t

        _t.sleep(1.0)
    tables: Counter[str] = Counter()
    xch: Counter[str] = Counter()
    seen_recipes: set[str] = set()
    all_flags: set[str] = set()
    n_new = 0
    lst = store.executionsList()
    for i in range(lst.size()):
        e = lst.apply(i)
        if e.executionId() in before:
            continue
        n_new += 1
        direct, d_xch, recipes, flags = _desc_scan_tables(
            e.physicalPlanDescription()
        )
        tables.update(direct)
        xch.update(d_xch)
        all_flags.update(flags)
        for fp, (rtables, r_xch) in recipes.items():
            if fp not in seen_recipes:  # the cache fill — runs once
                seen_recipes.add(fp)
                tables.update(rtables)
                xch.update(r_xch)
    try:
        retained = int(spark.conf.get("spark.sql.ui.retainedExecutions"))
    except Exception:  # pragma: no cover — conf not readable
        retained = 1000
    # Flag on THIS RUN's execution count, not the store's total size
    # (r15 ADVICE): the store is session-cumulative, so on a long
    # shared audit session every late query would trip a total-size
    # check even though its own executions are fully retained. The
    # risk the flag guards — this run's early executions evicted
    # before the sweep — arises only when the run ITSELF fires close
    # to the limit. Eviction drops oldest first, so with
    # n_new < retained the run's executions all survive; n_new is
    # itself an undercount once eviction has eaten this run's oldest,
    # but any such run necessarily fired > retained executions and
    # still trips the 0.9 threshold.
    if n_new >= retained * 0.9:
        all_flags.add("retention_near_limit")
    if extras is not None:
        extras["shuffles"] = xch["shuffle"]
        extras["broadcasts"] = xch["broadcast"]
        extras["reused_exchanges"] = xch["reused"]
        if all_flags:
            extras["parse_flags"] = sorted(all_flags)
    return result, tables


def _desc_scan_tables(desc: str):
    """Parse ONE execution's plan description (formatted-explain text:
    a tree section with ``Scan parquet (n)`` nodes and a detail
    section mapping ``(n) Scan parquet`` to its Location).

    Returns ``(direct, direct_xch, recipes, flags)``:

    - ``direct``: Counter of tables scanned by the execution itself —
      scan nodes in the AQE-FINAL tree (the ``== Initial Plan ==``
      reprint is cut, and a subtree AQE collapsed into a
      ReusedQueryStage/ReusedExchange is not re-printed there, so
      runtime-reused scans are naturally excluded), EXCLUDING nodes
      nested under an ``InMemoryRelation``.
    - ``direct_xch``: Counter with keys ``shuffle`` / ``broadcast`` —
      executed Exchange / BroadcastExchange nodes under the same
      exclusion rules (ShuffleQueryStage/AQEShuffleRead wrappers and
      ReusedExchange references are not counted; each physical
      exchange prints exactly one ``Exchange`` node).
    - ``recipes``: normalized-fingerprint -> (tables, xch) per
      ``InMemoryRelation`` subtree. That subtree is the cache's
      recipe, reprinted in EVERY consumer's plan; its reads and
      exchanges run exactly once — whichever execution fills the
      cache — so the caller counts each distinct recipe once across
      the query's executions. Known limit: a frame UNPERSISTED and
      RE-persisted with a structurally identical plan fingerprints
      the same and its refill is counted once — none of the engine's
      iterative operators do that (kmeans re-derives from literal
      centroids; components/pagerank persist loop-invariants ONCE and
      iterate on checkpoints), and a future one should persist
      distinct stages, not churn one cache.

    The detail section (which lives BELOW the initial-plan reprint,
    so it is parsed from the full text) resolves each node id to its
    parquet table."""
    from collections import Counter

    id_to_table: dict[str, str] = {}
    for m in re.finditer(
        r"^\((\d+)\) Scan parquet", desc, flags=re.M
    ):
        # search the scan's WHOLE detail block (up to the next node
        # header), not a fixed char window — a wide Output column
        # list must not push the Location line out of reach — and
        # attribute by the path's LAST segment, not the first
        # '.parquet' substring anywhere in it (r14 self-review #3)
        rest = desc[m.end() :]
        nxt = re.search(r"^\(\d+\) ", rest, flags=re.M)
        block = rest[: nxt.start()] if nxt else rest
        loc = re.search(r"Location:[^\[\n]*\[([^\]\n]*)", block)
        table = "_nontable"
        if loc:
            first_path = loc.group(1).split(",")[0].strip()
            base = first_path.rstrip("/").rsplit("/", 1)[-1]
            if base.endswith(".parquet"):
                table = base[: -len(".parquet")]
        # scans of non-table paths (scratch zones, staging dirs) are
        # grouped under one label — their paths carry run-specific
        # suffixes that would make baselines unstable
        id_to_table[m.group(1)] = table

    flags: set[str] = set()
    # Guard the formatted-explain assumption: executed_scan_counts sets
    # spark.sql.ui.explainMode=formatted while its run executes, but a
    # description rendered in another mode carries scan nodes with NO
    # numbered detail headers and every scan would silently attribute
    # to '?'. Flag it instead.
    if not id_to_table and "Scan parquet" in desc:
        flags.add("no_detail_headers")

    def _tally_exchange(name: str, ctr: "Counter[str]") -> None:
        if name.startswith("BroadcastExchange"):
            ctr["broadcast"] += 1
        elif name.startswith("Exchange"):
            ctr["shuffle"] += 1
        elif name.startswith(("ReusedExchange", "ReusedQueryStage")):
            # a reference to an earlier stage's output — a shuffle or
            # broadcast the engine did NOT re-run
            ctr["reused"] += 1

    direct: Counter[str] = Counter()
    direct_xch: Counter[str] = Counter()
    recipes: dict[str, tuple[Counter[str], Counter[str]]] = {}
    # A description holds SEVERAL executed trees — the main plan,
    # then the main DETAIL section, then one "Subquery:N ..." tree +
    # detail section per subquery — and both ``== Initial Plan ==``
    # reprints and ``InMemoryRelation`` cache recipes appear as
    # indented subtrees. The walk is a depth-stack over the TREE
    # regions:
    #
    # - an Initial-Plan marker at depth d skips lines at depth >= d
    #   (its children print AT the marker's depth) until a REAL line
    #   strictly shallower — those nodes did not execute;
    # - an InMemoryRelation at depth d opens a recipe capturing its
    #   subtree, EXCLUDING nested Initial subtrees and nested
    #   recipes; a closed child recipe folds its fingerprint into the
    #   parent's body, so same-shaped per-iteration caches with
    #   different chain depths fingerprint apart while reprints of
    #   one cache in later executions still collapse;
    # - a node-detail header ("(n) Name" at column 0) enters detail
    #   mode — detail bodies REPRINT cached plans and must not be
    #   walked — until the next column-0 "Subquery:" tree header;
    #   a header hosting a ReusedSubquery stays in detail mode (its
    #   tree is a reprint of an already-counted subquery);
    # - PATHOLOGY STOP: deep cache chains (persisted frames built on
    #   persisted frames — part_pagerank, part_triangle_count) make
    #   the printer OUTDENT a nested adaptive cached plan's Final /
    #   Initial markers past their context, which no indentation
    #   walk can scope. On a marker strictly shallower than the
    #   enclosing skip/recipe, parsing of this description STOPS and
    #   the counts so far return with the ``nested_adaptive`` flag —
    #   conservative and deterministic (same plan text → same count),
    #   never silently wrong. Ground truth for the two known cases is
    #   byte-counter-measured and recorded in their audit baselines.
    skip_depths: list[int] = []
    open_recipes: list[tuple[int, list[str]]] = []
    in_details = False

    def _close_one_recipe() -> None:
        depth, lines = open_recipes.pop()
        body = "\n".join(lines)
        fp = re.sub(r"\(\d+\)|#\d+|Statistics\([^)]*\)", "", body)
        rt: Counter[str] = Counter()
        rx: Counter[str] = Counter()
        for sm in re.finditer(r"Scan parquet[^(\n]*\((\d+)\)", body):
            rt[id_to_table.get(sm.group(1), "?")] += 1
        for ln in lines:
            _tally_exchange(ln, rx)
        recipes.setdefault(fp, (rt, rx))
        if open_recipes:  # fold into the parent for distinctness
            # content hash, NOT built-in hash(): the latter is
            # PYTHONHASHSEED-randomized, so parent fingerprints would
            # only be stable within one process (r14 advice #4)
            digest = hashlib.md5(fp.encode()).hexdigest()[:8]
            open_recipes[-1][1].append(f"<recipe:{digest}>")

    for line in desc.splitlines():
        if in_details:
            if line.startswith("Subquery:"):
                if "ReusedSubquery" not in line:
                    in_details = False
            continue
        if re.match(r"\(\d+\) ", line):
            in_details = True
            while open_recipes:
                _close_one_recipe()
            skip_depths.clear()
            continue
        if line.startswith("Subquery:") and "ReusedSubquery" in line:
            in_details = True
            continue
        m = re.match(r"^[\s:|+*-]*", line)
        depth = m.end()
        name = line[depth:]
        if not name:
            continue
        is_marker = name.startswith(
            ("== Initial Plan ==", "== Final Plan ==")
        )
        if is_marker:
            if (skip_depths and depth < skip_depths[-1]) or (
                open_recipes and depth < open_recipes[-1][0]
            ):
                flags.add("nested_adaptive")
                break
            if name.startswith("== Initial Plan =="):
                skip_depths.append(depth)
            continue
        # the Initial-Plan pseudo-node prints its children at the
        # SAME depth as the marker text, so the region ends only at
        # a STRICTLY shallower REAL line
        while skip_depths and depth < skip_depths[-1]:
            skip_depths.pop()
        while open_recipes and depth <= open_recipes[-1][0]:
            _close_one_recipe()
        if skip_depths:
            continue
        if name.startswith("InMemoryRelation"):
            open_recipes.append((depth, []))
            continue
        if open_recipes:
            open_recipes[-1][1].append(name)
            continue
        sm = re.match(r"Scan parquet[^(\n]*\((\d+)\)", name)
        if sm:
            direct[id_to_table.get(sm.group(1), "?")] += 1
        _tally_exchange(name, direct_xch)
    while open_recipes:
        _close_one_recipe()
    return direct, direct_xch, recipes, flags


# Back-compat alias (previous name counted raw substring occurrences).
count_exchanges = count_shuffles
