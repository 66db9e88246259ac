"""Mechanical plan-quality audit over the driver gate.

For every `__spark_entry__.queries()` entry (plus bench extras with
--extras), build the plan at a small sf and extract measurable plan
facts from the EXECUTED plan string:

  * n_exchange       — shuffle count (Exchange hashpartitioning/range)
  * n_broadcast      — BroadcastExchange count (dimension joins)
  * n_sort_merge     — SortMergeJoin count
  * n_python_udf     — BatchEvalPython / ArrowEvalPython / mapInPandas
                       operators (row-at-a-time Python = red flag;
                       Arrow = declared slow path)
  * pushed_filters   — True if any scan carries PushedFilters: [...]
  * wscg             — WholeStageCodegen span count (JVM fused stages)
  * cartesian        — CartesianProduct/BroadcastNestedLoopJoin count
                       (single-row broadcast bounds joins are the only
                       sanctioned use)
  * build_jobs       — Spark jobs started while the query callable built
                       its plan (eager gates, loops, cache fills, schema
                       inference), before any action
  * n_python_rdd_scan — `Scan ExistingRDD` nodes over a PythonRDD:
                       driver data handed to `createDataFrame` as a row
                       list (or an empty pandas frame), which every
                       scan re-runs as a Python-worker job;
                       `smallio.local_frame` tables show as
                       `LocalTableScan` instead
  * max_python_per_task — the most Python exec nodes one task runs
                       pipelined between stage boundaries; each holds
                       its own Python worker for the whole task, so 2
                       means a producer pass (a blob encoder) stacked
                       on a consumer pass in one stage

The audit is descriptive, not pass/fail — its value is DIFFS: a new
round that doubles a query's exchanges or sprouts a CartesianProduct
shows up immediately.  Prints one JSON line; the round snapshot can
store it as PLAN_AUDIT_r{N}.json.

Usage: python tools/plan_audit.py [sf_dir] [--extras] [query ...]
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.001"


#: pass-through nodes that cannot increase a subtree's row count —
#: walking through them preserves a ≤1-row proof
_ONE_ROW_WRAPPERS = (
    "WholeStageCodegen", "InputAdapter", "Project", "Filter", "Sort",
    "Coalesce", "Exchange", "BroadcastExchange", "AQEShuffleRead",
    "ColumnarToRow", "InMemoryRelation",
)


def _max_one_row(node) -> bool:
    """True when the physical subtree PROVABLY produces ≤1 row: a
    global (keys=[]) aggregate, a limit ≤1, or a ≤1-row local table —
    possibly under row-preserving wrappers.  Conservative: anything
    unproven is False."""
    name = node.nodeName()
    if name == "ReusedExchange":
        # leaf node referencing the original exchange: children() is
        # empty by design, the referenced plan hangs off .child()
        try:
            return _max_one_row(node.child())
        except Exception:
            return False
    if name == "InMemoryTableScan":
        # persisted frames (plans.cachereg.track of 1-row sketches):
        # the cached plan hangs off the relation, not children()
        try:
            return _max_one_row(node.relation().cachedPlan())
        except Exception:
            return False
    if name == "AdaptiveSparkPlan":
        # cached plans persisted under AQE wrap in AdaptiveSparkPlanExec;
        # the physical tree hangs off executedPlan()
        try:
            return _max_one_row(node.executedPlan())
        except Exception:
            return False
    if name.endswith("QueryStage"):  # Shuffle/Broadcast/TableCache stage
        try:
            return _max_one_row(node.plan())
        except Exception:
            return False
    if name in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        # a cross of two ≤1-row sides is itself ≤1 row (stacked
        # broadcast-bounds joins: corpus × sketch-row × total-row)
        ch = node.children()
        return all(_max_one_row(ch.apply(i)) for i in range(ch.size()))
    if "Aggregate" in name:  # HashAggregate / SortAggregate / Object…
        # MUST precede the wrapper branch: "Sort" is a prefix of
        # "SortAggregate", and a keyed SortAggregate is NOT ≤1-row.
        return bool(re.search(r"Aggregate\s*\(?keys=\[\s*\]",
                              node.verboseString(10)))
    if (name in _ONE_ROW_WRAPPERS
            or name.startswith("WholeStageCodegen")):  # "… (3)" suffix
        ch = node.children()
        if ch.size() == 1:
            return _max_one_row(ch.apply(0))
        return False
    if name in ("GlobalLimit", "LocalLimit", "CollectLimit"):
        return bool(re.match(rf"{name}\s+1[,\s]", node.verboseString(10)))
    if name == "LocalTableScan":
        try:
            return node.rows().size() <= 1
        except Exception:
            return False
    return False


def classify_cartesians(jplan) -> "tuple[int, int]":
    """(total, real) CartesianProduct/BroadcastNestedLoopJoin count in
    an executed plan.  A cartesian is BENIGN when one input is provably
    ≤1 row (the sanctioned broadcast-bounds pattern, plans/core.py) —
    cost is linear in the other side.  Anything else is REAL: a
    scale-killer the audit must fail on instead of letting it blend
    into the benign population (VERDICT r6 #6)."""
    total = real = 0
    stack = [jplan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name in ("CartesianProduct", "BroadcastNestedLoopJoin"):
            total += 1
            ch = node.children()
            kids = [ch.apply(i) for i in range(ch.size())]
            if not any(_max_one_row(k) for k in kids):
                real += 1
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
        # subqueries host their own plans (scalar bounds live there)
        try:
            sq = node.subqueries()
            for i in range(sq.size()):
                stack.append(sq.apply(i))
        except Exception:
            pass
    return total, real


def _plan_nodes(jplan):
    """Every node of an executed plan, by TREE WALK with cached-plan
    dedup (r10): a string count overstates persisted plans, since an
    InMemoryRelation referenced k times prints its cached lineage k
    times, but the cache materializes ONCE.  Descends into each
    DISTINCT cached plan exactly once and skips what a ReusedExchange
    references (reuse doesn't re-run it)."""
    seen_caches = set()
    stack = [jplan]
    while stack:
        node = stack.pop()
        yield node
        name = node.nodeName()
        if name == "ReusedExchange":
            continue
        if name == "InMemoryTableScan":
            try:
                cp = node.relation().cachedPlan()
                key = cp.toString()
                if key not in seen_caches:
                    seen_caches.add(key)
                    stack.append(cp)
            except Exception:
                pass
            continue
        if name == "AdaptiveSparkPlan":
            try:
                stack.append(node.executedPlan())
            except Exception:
                pass
            continue
        if name.endswith("QueryStage"):
            # materialized-cache internals (Shuffle/Broadcast/Result
            # stages) hang off .plan(), not children()
            try:
                stack.append(node.plan())
            except Exception:
                pass
            continue
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
        try:
            sq = node.subqueries()
            for i in range(sq.size()):
                stack.append(sq.apply(i))
        except Exception:
            pass


#: physical nodes that run their input through a Python worker
_PYTHON_EXECS = frozenset((
    "MapInPandas", "MapInArrow", "PythonMapInArrow", "ArrowEvalPython",
    "BatchEvalPython", "ArrowEvalPythonUDTF", "BatchEvalPythonUDTF",
    "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas", "FlatMapCoGroupsInArrow",
    "ArrowAggregatePython", "ArrowWindowPython",
    "FlatMapGroupsInPandasWithState", "TransformWithStateInPySpark",
))

#: nodes a task's pipeline ends at: their input runs as other tasks
_STAGE_INPUTS = frozenset((
    "Exchange", "BroadcastExchange", "Subquery", "SubqueryBroadcast"))
#: ... plus the edges whose input is walked elsewhere: at the original
#: of a reuse, at the exchange under an AQE query stage
_STAGE_EDGES = _STAGE_INPUTS | {
    "ReusedExchange", "ReusedSubquery", "ShuffleQueryStage",
    "BroadcastQueryStage"}


def _task_python(node) -> int:
    """Python exec nodes in the pipeline one task of ``node`` runs, up
    to the stage edges below it.  A Union's task runs one child's
    partition, so it takes the max; any other multi-child node reads
    all its children in the same task, so it takes the sum.  A cached
    frame is computed inside the task that first reads it, so the walk
    descends into the cached plan."""
    name = node.nodeName()
    if name in _STAGE_EDGES:
        return 0
    if name == "InMemoryTableScan":
        kids = [node.relation().cachedPlan()]
    elif name == "AdaptiveSparkPlan":
        kids = [node.executedPlan()]
    elif name.endswith("QueryStage"):  # TableCache / Result stage
        kids = [node.plan()]
    else:
        ch = node.children()
        kids = [ch.apply(i) for i in range(ch.size())]
    counts = [_task_python(k) for k in kids] or [0]
    return ((name in _PYTHON_EXECS)
            + (max(counts) if name == "Union" else sum(counts)))


def max_python_per_task(jplan) -> int:
    """The most Python workers one task of the plan holds at once:
    :func:`_task_python` of the plan's root and of the input of every
    stage edge :func:`_plan_nodes` reaches."""
    roots = [jplan] + [n.child() for n in _plan_nodes(jplan)
                       if n.nodeName() in _STAGE_INPUTS]
    return max(_task_python(r) for r in roots)


def count_exchanges(jplan) -> int:
    """Shuffle-exchange count over :func:`_plan_nodes`."""
    return sum(n.nodeName() == "Exchange" for n in _plan_nodes(jplan))


def count_python_rdd_scans(jplan) -> int:
    """`Scan ExistingRDD` nodes whose RDD is fed by a PythonRDD: driver
    data handed to `createDataFrame` as a row list (or an empty pandas
    frame), which every scan re-runs as a Python-worker job.  A
    `localCheckpoint` scan prints the same node name but reads a
    JVM-side checkpoint, so it does not count."""
    return sum(n.nodeName() == "Scan ExistingRDD"
               and "PythonRDD" in n.rdd().toDebugString()
               for n in _plan_nodes(jplan))


def plan_facts(df) -> dict:
    # the audit session runs with AQE OFF (main() sets it): under AQE
    # a DataFrame's executedPlan stays an unmaterialized
    # AdaptiveSparkPlan wrapper with no codegen markers or final join
    # choices.  The static plan is the deterministic, diffable object;
    # AQE at runtime only improves on it (skew splits, broadcast
    # promotions, partition coalescing).
    jplan = df._jdf.queryExecution().executedPlan()
    s = jplan.toString()
    wscg = len(set(re.findall(r"\*\((\d+)\)", s)))
    n_cart, n_real = classify_cartesians(jplan)
    return {
        "n_exchange": count_exchanges(jplan),
        "n_broadcast": s.count("BroadcastExchange"),
        "n_sort_merge": s.count("SortMergeJoin"),
        "n_python_udf": (s.count("BatchEvalPython")
                         + s.count("ArrowEvalPython")
                         + s.count("FlatMapGroupsInPandas")
                         + s.count("MapInPandas")),
        "n_row_python_udf": s.count("BatchEvalPython"),
        "n_python_rdd_scan": count_python_rdd_scans(jplan),
        "max_python_per_task": max_python_per_task(jplan),
        "pushed_filters": bool(re.search(r"PushedFilters: \[[^\]]", s)),
        "wscg": wscg,
        "cartesian": n_cart,
        "real_cartesian": n_real,
        # r8: substituted-predicate smell.  PushPredicateThroughNonJoin
        # inlines filter conditions through deterministic Projects with
        # NO cost guard — a filter on a derived column of an expensive
        # projection silently becomes a giant interpreted per-row
        # predicate (the corpus_filter keep_only bug: 20x).  A Filter
        # node whose condition text exceeds the threshold is that
        # smell made mechanical.
        "giant_filter": _max_filter_len(s) > 4000,
        "max_filter_len": _max_filter_len(s),
    }


def _max_filter_len(plan_str: str) -> int:
    """Length of the longest Filter node's condition text (one line in
    the plan rendering)."""
    best = 0
    for line in plan_str.splitlines():
        t = line.lstrip(" +-:*()0123456789")
        if t.startswith("Filter ") or t.startswith("PhotonFilter "):
            best = max(best, len(t))
    return best


#: gate-pin weight budget (VERDICT r9 #2)
BUDGET_SEC_SF01 = 10.0
BUDGET_EXCHANGES = 60


def _over_budget(report: dict, gate_names: set) -> dict:
    """Gate pins breaching the weight budget: > BUDGET_EXCHANGES
    exchanges (from this audit's plans) or > BUDGET_SEC_SF01 seconds
    at sf0.1 (from the latest bench_out.json, when present and at the
    budget's sf).  Returns {pin: {"exchanges": n, "sec": s}} with only
    the breaching dimension(s) populated."""
    sec = {}
    bench = Path(__file__).resolve().parent.parent / "bench_out.json"
    try:
        b = json.loads(bench.read_text())
        if abs(float(b.get("sf", 0)) - 0.1) < 1e-9:
            sec = b.get("queries", {})
        # ADVICE r10: bench_out.json has no tie to the audited
        # revision — a benchmark older than the newest source file can
        # fail a pin already fixed or green-light one that regressed.
        # Skip the seconds dimension (with a stderr note) when any
        # audited source is newer than the benchmark.
        import sys as _sys
        root = bench.parent
        src_mtime = max(
            (p.stat().st_mtime for pat in
             ("conduino_spark/**/*.py", "__spark_entry__.py")
             for p in root.glob(pat)), default=0.0)
        if bench.stat().st_mtime < src_mtime:
            sec = {}
            print("plan_audit: bench_out.json predates the audited "
                  "source — seconds budget skipped (re-run bench.py "
                  "to restore it)", file=_sys.stderr)
    except Exception:
        pass
    flagged = {}
    for name in sorted(gate_names):
        entry = {}
        f = report.get(name)
        if f and f["n_exchange"] > BUDGET_EXCHANGES:
            entry["exchanges"] = f["n_exchange"]
        if name in sec and sec[name] > BUDGET_SEC_SF01:
            entry["sec"] = sec[name]
        if entry:
            flagged[name] = entry
    return flagged


def _next_job_id(spark) -> int:
    """The scheduler's job counter, read synchronously (the status
    tracker lags behind the listener bus)."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def main() -> None:
    import importlib.util

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf = args[0] if args and "/" in args[0] else SF_DIR
    only = [a for a in args if "/" not in a]
    extras = "--extras" in sys.argv

    spec = importlib.util.spec_from_file_location(
        "entry", Path(__file__).resolve().parent.parent / "__spark_entry__.py")
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    from conduino_spark import release_caches
    from conduino_spark.session import get_spark

    spark = get_spark("plan_audit", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    gate_names = set(m.queries())
    qs = dict(m.queries())
    if extras and hasattr(m, "bench_extras"):
        qs.update(m.bench_extras())
    if only:
        qs = {k: v for k, v in qs.items() if k in only}

    report, errors = {}, {}
    for name, q in qs.items():
        try:
            jobs0 = _next_job_id(spark)
            df = q(spark, sf)
            build_jobs = _next_job_id(spark) - jobs0
            # query builders re-assert the driver conf (AQE on); the
            # plan is materialized lazily, so flip it back before
            # reading executedPlan
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            report[name] = dict(plan_facts(df), build_jobs=build_jobs)
        except Exception as e:  # noqa: BLE001 — audit must cover the rest
            errors[name] = f"{type(e).__name__}: {e}"[:200]
        finally:
            release_caches()
            spark.catalog.clearCache()

    totals = {
        "queries": len(report),
        "with_cartesian": sorted(n for n, f in report.items()
                                 if f["cartesian"]),
        "with_real_cartesian": sorted(n for n, f in report.items()
                                      if f["real_cartesian"]),
        "with_row_python_udf": sorted(n for n, f in report.items()
                                      if f["n_row_python_udf"]),
        "with_giant_filter": sorted(n for n, f in report.items()
                                    if f["giant_filter"]),
        # descriptive: eager jobs paid at plan build on every call
        "with_build_jobs": sorted(n for n, f in report.items()
                                  if f["build_jobs"]),
        "build_jobs": sum(f["build_jobs"] for f in report.values()),
        # descriptive: driver tables scanned through a Python-worker RDD
        "with_python_rdd_scan": sorted(n for n, f in report.items()
                                       if f["n_python_rdd_scan"]),
        # descriptive: tasks that hold two or more Python workers
        "with_stacked_python": sorted(n for n, f in report.items()
                                      if f["max_python_per_task"] > 1),
        "max_exchanges": max((f["n_exchange"] for f in report.values()),
                             default=0),
        # r10 (VERDICT r9 #2): per-GATE-pin weight budget — a pin over
        # ~10 s at sf0.1 or over ~60 exchanges slows every driver gate
        # pass and makes a red row hard to localize; the rotation
        # strategy must split it instead of concentrating arms.
        # Seconds come from the latest bench_out.json when its sf
        # matches the budget's (bench-only extras are exempt — floors
        # may legitimately be heavy, e.g. the full-corpus exact
        # tf-idf join).
        "over_budget": _over_budget(report, gate_names),
    }
    out = {"sf": sf, "totals": totals, "plans": report}
    if errors:
        out["errors"] = errors
    print(json.dumps(out))
    spark.stop()
    # a REAL (neither-side-≤1-row) cartesian is a scale-killer, not a
    # style note: fail the audit so it can't blend into the benign
    # broadcast-bounds population; an over-budget gate pin is the same
    # class of must-fix (the budget exists to stay enforced)
    if totals["with_real_cartesian"] or totals["over_budget"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
