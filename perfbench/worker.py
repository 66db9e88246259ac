"""One benchmark run, inside the isolated run directory ``run.py``
prepares (its own TMPDIR, Spark local dirs, warehouse and, for a traced
run, event log).  Writes the run's result as JSON to ``--out``.

Phases:

1. generate the seeded inputs (not timed, not part of set-up);
2. set-up (``setup_s``): session start and a fixed warm-up job that
   takes the JVM's first-job and codegen cost, then one call (without
   its action) of each query whose first call builds a persisted index.
   The first start launches the JVM while DuckDB computes the expected
   outputs; then the session is stopped and started again in the same
   JVM ``SETUPS`` times, and the median of those starts + warm-ups
   counts;
3. the timed closed loop: one client calls the next query only after
   the previous one finished; each call is the query callable followed
   by ``collect()``; the loop runs whole passes over the workload's
   query list and stops at the first pass boundary after ``--seconds``
   of timed wall;
4. checks, outside the timed region: every timed output is hashed with
   ``tools/check_oracle.py``'s normalisation and compared with DuckDB's
   output over the same generated tables.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import statistics
import sys
import threading
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import system  # noqa: E402


@dataclass(frozen=True)
class Workload:
    order: tuple        # query names, called round-robin
    scale: float        # generator scale (0.1 = sf0.1 row counts)
    memo: tuple = ()    # queries whose first call builds a persisted index


#: session starts + warm-ups per run after the one that launches the
#: JVM; ``setup_s`` takes their median
SETUPS = 3
#: timed steal share (``/proc/stat``) above which a run flags itself
HIGH_STEAL = 0.05

#: Each list is sized so that one pass takes well over the benchmark's
#: 5 s on 4 cores (8-20 s as the host's load varies), so a run always
#: times one whole pass, never a second, warmer one.
WORKLOADS = {
    # TPC-H shapes interleaved with ordered-stream pins (as-of join,
    # skew salting, streaming-hostable windowed sketches, set algebra,
    # session windows)
    "analytics": Workload((
        "tpch_q1", "asof_events_bidir", "tpch_q3", "salted_group_revenue",
        "tpch_q5", "windowed_quantiles_value", "set_ops", "session_window",
        "tpch_q18"), 0.01),
    # LLM-data operators: MinHash survivors through graph connected
    # components and k-core, the ANN methods with BM25 over a persisted
    # index, IVF-index semantic dedup, media decode on Python workers,
    # text profile, classifier, DSIR and mixture sampling (the two short
    # text queries keep the median call away from the noisy media
    # decode).  dedup_against and line_dedup_docs (the exact, MinHash
    # and dup-span indexes) are left out: with their index builds a run
    # would not fit the benchmark's time budget
    "corpus": Workload((
        "minhash_survivors", "text_profile", "knn_methods", "profile_media",
        "semantic_dedup_emb", "quality_classifier_docs", "dsir_select_docs",
        "mixture_sample"),
        0.001, memo=("knn_methods", "semantic_dedup_emb")),
}


def _load(path: str, name: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def warm_up(spark, data: str) -> None:
    """A fixed scan/join/window/aggregate job: takes the JVM's first-job,
    class-loading and codegen cost out of the first timed query."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    li = spark.read.parquet(os.path.join(data, "lineitem.parquet"))
    od = spark.read.parquet(os.path.join(data, "orders.parquet"))
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    (li.join(od, li.l_orderkey == od.o_orderkey)
       .where(F.col("l_discount") > 0.02)
       .withColumn("r", F.row_number().over(w))
       .groupBy("l_returnflag")
       .agg(F.sum("l_extendedprice"), F.avg("l_quantity"), F.max("r"))
       .collect())


class Oracle:
    """DuckDB over the generated tables; one expected hash per query."""

    def __init__(self, data: str, entry, check) -> None:
        import duckdb
        self.con = duckdb.connect()
        for t in gen.TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"'{os.path.join(data, t + '.parquet')}'")
        self.sql = {**entry.TPCH_SUITE_ORACLES, **entry.oracle_sql()}
        self.check = check
        self._memo: dict = {}

    def expected(self, name: str):
        if name not in self._memo:
            cur = self.con.execute(self.sql[name])
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
            self._memo[name] = (len(rows), sorted(cols),
                                self.check.value_hash(cols, rows))
        return self._memo[name]


def set_up(wl: Workload, qs: dict, data: str, tracer, phases: dict,
           after_first):
    """Starts the session and runs the warm-up job, then does so again
    ``SETUPS`` times, then builds the workload's indexes once.  The
    first start launches the JVM; ``after_first`` is called after it.
    Each later start stops the session and starts a new one in the same
    JVM.  Returns the last session and the set-up time: the median of
    the later starts + warm-ups, plus the index builds."""
    from conduino_spark import release_caches
    from conduino_spark.session import get_spark
    spark, starts = None, []
    for k in range(SETUPS + 1):
        if spark is not None:
            if tracer is not None:
                tracer.sc = None
            spark.stop()
            t0 = time.perf_counter()
            after_first()
            phases["oracle_wait"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        if tracer is not None:
            tracer.sc = spark.sparkContext
        warm_up(spark, data)
        t2 = time.perf_counter()
        phases.update({f"setup{k}.session": t1 - t0,
                       f"setup{k}.warm": t2 - t1})
        if k:
            starts.append(t2 - t0)
    t0 = time.perf_counter()
    for name in wl.memo:
        qs[name](spark, data)
    release_caches()
    spark.catalog.clearCache()
    phases["memo"] = time.perf_counter() - t0
    return spark, statistics.median(starts) + phases["memo"]


def timed_loop(spark, qs: dict, order, data: str, seconds: float, check,
               tracer=None) -> "tuple[list, int]":
    """Closed loop, one client, over whole passes of ``order``: it stops
    at the first pass boundary after ``seconds`` of timed wall, so every
    run times the same query mix.  Returns the operation records and
    the count of caches ``release_caches`` freed between operations."""
    from conduino_spark import release_caches
    ops, released, timed = [], 0, 0.0
    while timed < seconds or len(ops) % len(order):
        name = order[len(ops) % len(order)]
        op = {"name": name, "op": len(ops) + 1}
        if tracer is not None:
            tracer.op = op["op"]
        span = (tracer.span(name, "query") if tracer is not None
                else contextlib.nullcontext())
        with span:
            t_a = time.perf_counter()
            start = time.time()
            try:
                df = qs[name](spark, data)
                t_b = time.perf_counter()
                rows = df.collect()
                t_c = time.perf_counter()
                op.update(build_s=t_b - t_a, action_s=t_c - t_b)
            except Exception as e:  # noqa: BLE001 -- counted as failed
                t_c = time.perf_counter()
                op["error"] = f"{type(e).__name__}: {e}"[:300]
        if "error" not in op:
            cols = df.columns
            op["got"] = (len(rows), sorted(cols),
                         check.value_hash(cols, [tuple(r) for r in rows]))
        op.update(wall_s=t_c - t_a, start=start, end=start + (t_c - t_a))
        timed += t_c - t_a
        ops.append(op)
        if tracer is not None:
            tracer.op = None
        released += release_caches()
        spark.catalog.clearCache()
    return ops, released


def run(args) -> dict:
    root = args.root
    wl = WORKLOADS[args.workload]
    cond = system.Conditions()
    phases = {}
    t = time.perf_counter()
    data = os.path.join(args.run_dir, "data")
    gen.generate(data, args.seed, wl.scale)
    phases["gen_s"] = time.perf_counter() - t

    tracer = None
    if args.trace:
        import spans
        tracer = spans.Tracer()
        spans.install(tracer)
    # __spark_entry__ binds names at import, so it loads after install()
    entry = _load(os.path.join(root, "__spark_entry__.py"), "pb_entry")
    check = _load(os.path.join(root, "tools", "check_oracle.py"),
                  "pb_check_oracle")
    qs = {**entry.queries(), **entry.bench_extras()}
    oracle = Oracle(data, entry, check)
    missing = [n for n in wl.order if n not in qs or n not in oracle.sql]
    if missing:
        raise SystemExit(f"queries or DuckDB oracles not found: {missing}")

    # DuckDB computes the expected outputs during the first session
    # start, which no metric counts; the memory peak restarts after it
    oracles = threading.Thread(
        target=lambda: [oracle.expected(n) for n in wl.order], daemon=True)
    oracles.start()
    pid = os.getpid()
    sampler = system.RssSampler(pid)

    def after_first() -> None:
        oracles.join()
        sampler.peak = 0

    with sampler:
        spark, setup_s = set_up(wl, qs, data, tracer, phases, after_first)
        cpu0 = system.cpu_split(pid)
        stat0 = system.proc_stat_cpu()
        ops, released = timed_loop(spark, qs, wl.order, data, args.seconds,
                                   check, tracer)
        stat1 = system.proc_stat_cpu()
        cpu1 = system.cpu_split(pid)
    phases["timed_s"] = sum(op["wall_s"] for op in ops)

    t = time.perf_counter()
    n_failed = 0
    for op in ops:
        if "error" in op:
            n_failed += 1
            continue
        op["ok"] = op.pop("got") == oracle.expected(op["name"])
        n_failed += not op["ok"]
    phases["check_s"] = time.perf_counter() - t

    n_done = len(ops) - sum("error" in op for op in ops)
    walls = [op["wall_s"] for op in ops]
    metrics = {
        "setup_s": (setup_s, "s"),
        "queries_per_min": (60.0 * n_done / sum(walls), "1/min"),
        "query_p50_s": (statistics.median(walls), "s"),
        "peak_rss_mb": (sampler.peak / 2 ** 20, "MB"),
    }
    timed_steal = system.steal_share(stat0, stat1)
    result = {
        "workload": args.workload, "seed": args.seed,
        "attempted": len(ops), "failed": n_failed,
        "metrics": metrics,
        "queries": [{k: op[k] for k in ("name", "wall_s", "ok", "error")
                     if k in op} for op in ops],
        "conditions": {**cond.finish(sampler.load_max),
                       "timed_steal_pct": round(100.0 * timed_steal, 2),
                       "high_steal": timed_steal > HIGH_STEAL,
                       "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
                       "spark_driver_mem": os.environ.get("SPARK_DRIVER_MEM"),
                       "seed": args.seed, "scale": wl.scale,
                       "phases_s": {k: round(v, 3)
                                    for k, v in phases.items()}},
    }
    if tracer is not None:
        import layers
        index_files = layers.count_files(tracer.index_paths)
        spark.stop()
        session_s = statistics.median(phases[f"setup{k}.session"]
                                      for k in range(1, SETUPS + 1))
        result["layers"] = layers.per_layer(
            tracer, ops, os.environ["PERFBENCH_EVENT_DIR"],
            session_s=session_s, cpu=(cpu0, cpu1),
            released=released, index_files=index_files, e2e=metrics)
    return result


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--root", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    result = run(args)
    with open(args.out, "w") as f:
        json.dump(result, f)
    # run.py stops what is left of the process group (the JVM and its
    # Python workers) and waits for it; a clean session stop would only
    # add seconds to every run
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    main()
