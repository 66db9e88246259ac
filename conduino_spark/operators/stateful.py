"""Ordered / stateful operators: scan, mapAccum, pairs, consecutive,
passthrough (SURVEY §2.4 ordered rows, §7 M2).

Total order vs parallelism (SURVEY §7 "what's hard" #1): associative
state vectorizes as a DISTRIBUTED TWO-PHASE PREFIX SCAN —
  phase 1: range-partition by ``__seq``; per-partition running
           aggregate (window partitioned by partition id: parallel);
  phase 2: per-partition totals (one tiny row each) are prefix-combined
           on the driver-sized side and broadcast-joined back.
No global single-partition window anywhere on the scale path; the
shuffle is ONE range repartition, reused by both phases (Spark
ReuseExchange).  Non-associative ``mapAccum`` is inherently sequential
(so is the reference — it is single-threaded); we provide the honest
single-pass ``mapInPandas`` fallback and document the loss.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Mapping, Optional, Union

import pandas as pd
from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from conduino_spark.plans.cachereg import track
from conduino_spark.plans.core import SEQ, Stage
from conduino_spark.operators.smallio import local_frame

_SCAN_FNS = {"sum": F.sum, "min": F.min, "max": F.max, "count": F.count,
             "product": F.product}
#: phase-2 recombiner over per-partition TOTALS.  NOT the same as the
#: per-row aggregator: a count of counts must SUM them (count would
#: count the preceding partitions instead — r1 ADVICE bug).
_RECOMBINE = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max,
              "product": F.product}
_COMBINE = {
    "sum": lambda loc, off: loc + F.coalesce(off, F.lit(0)),
    "count": lambda loc, off: loc + F.coalesce(off, F.lit(0)),
    "min": lambda loc, off: F.least(loc, F.coalesce(off, loc)),
    "max": lambda loc, off: F.greatest(loc, F.coalesce(off, loc)),
    "product": lambda loc, off: loc * F.coalesce(off, F.lit(1.0)),
}


def _with_pid(df: DataFrame, npart: Optional[int] = None, *,
              persist: bool = True, key: str = SEQ) -> DataFrame:
    """Attach a chunk id ``__pid`` that is MONOTONE in ``key`` — the
    basis of every two-phase ordered plan (scan/pairs/consecutive).

    r2 plan: ``__pid = width_bucket(key, min, max+1, n)`` from one
    cheap key-only min/max aggregate.  Because the id is a
    DETERMINISTIC function of the key (not ``spark_partition_id`` after
    a range shuffle), the ONLY full-data exchange in the whole operator
    is the consumer window's own hash-partition on ``__pid`` — the r1
    formulation paid a range shuffle AND that hash shuffle (Catalyst
    cannot see that range distribution satisfies the window), i.e. 2×
    the data movement at 100 TB.  Global order = (``__pid``, key),
    monotone by construction; value-gapped keys (e.g.
    monotonically_increasing_id's pid<<33 blocks) just leave some
    bucket ids EMPTY — consumers must order by ``__pid``, not assume
    adjacency (pairs maps each chunk to its next non-empty successor).

    Uniform value buckets skew when key values cluster heavily; unique
    ``__seq`` keys from dense counters, keyspace-uniform keys, and
    mono-id blocks all bucket evenly.

    ``persist=True`` (default): the two branches (local window +
    per-chunk totals) then read ONE materialization of the input; the
    totals branch partial-aggregates map-side straight off the cache,
    shuffling only npart tiny rows.
    """
    n = npart or df.sparkSession.sparkContext.defaultParallelism
    # lazy bounds: a broadcast 1-row (min, max) aggregate referenced
    # inside the bucket expression — no driver action, same shape as the
    # take/>> boundary machinery (core._after_boundary).  The bounds
    # branch reads ONLY the key column (pruned scan; the r1 range
    # partitioner ran a comparable sampling job over the same input).
    bounds = df.agg(F.min(key).cast("double").alias("__lo"),
                    F.max(key).cast("double").alias("__hi"))
    bucket = F.width_bucket(F.col(key).cast("double"),
                            F.col("__lo"), F.col("__hi") + 1.0, F.lit(int(n)))
    # __hi+1 can collapse onto __hi for huge keys, pushing key==max into
    # bucket n+1 — clamp back into [1, n]
    part = (df.crossJoin(F.broadcast(bounds))
              .withColumn("__pid", F.least(bucket, F.lit(int(n))).cast("int"))
              .drop("__lo", "__hi"))
    return track(part) if persist else part


def scan(how: str = "sum", expr: Union[str, Column] = "v", *, out: str = "v",
         strategy: str = "chunked", npart: Optional[int] = None,
         keep: bool = False, rescan: bool = False) -> Stage:
    """``scan`` (Combinators.hs:362-371): running left fold, yields every
    accumulator, initial seed NOT yielded (README.md:17-20 golden:
    ``scan (+) 0`` over 1..10 ⇒ [1,3,6,...,55]).

    ``how``: declared-associative reducer (sum/min/max/count) — the
    declaration is what unlocks the parallel two-phase plan (SURVEY §4
    custom job (c)).  ``strategy='window'`` = simple global window
    (small data / test oracle); ``'chunked'`` = two-phase prefix scan
    (the 100 TB path).  Non-associative f → use :func:`map_accum`.

    ``rescan=True`` declares the upstream CHEAP TO RECOMPUTE (a bare
    pruned columnar scan): the two phases then re-read it instead of
    persisting one materialization — at any scale re-scanning parquet
    twice beats caching it (measured 0.73s → 0.42s at sf0.1).  Safe
    because the chunk id is a deterministic function of the key
    (``_with_pid``); only set it when the upstream really is a
    deterministic scan, not an expensive pipeline.
    """
    if how not in _SCAN_FNS:
        raise ValueError(f"scan requires a declared-associative reducer, got {how!r}")
    col = F.expr(expr) if isinstance(expr, str) else expr
    aggf, recomb, comb = _SCAN_FNS[how], _RECOMBINE[how], _COMBINE[how]

    def fn_window(df: DataFrame) -> DataFrame:
        w = W.orderBy(SEQ).rowsBetween(W.unboundedPreceding, W.currentRow)
        res = df.withColumn(out, aggf(col).over(w))
        return res if keep else res.select(SEQ, out if out == "v" else F.col(out).alias(out))

    def fn_chunked(df: DataFrame) -> DataFrame:
        part = _with_pid(df, npart, persist=not rescan)
        wloc = (W.partitionBy("__pid").orderBy(SEQ)
                 .rowsBetween(W.unboundedPreceding, W.currentRow))
        local = part.withColumn("__loc", aggf(col).over(wloc))
        # phase 2: per-partition totals → exclusive prefix combine.
        totals = part.groupBy("__pid").agg(aggf(col).alias("__tot"))
        woff = (W.orderBy("__pid")
                 .rowsBetween(W.unboundedPreceding, -1))  # tiny DF: npart rows
        offsets = totals.withColumn("__off", recomb(F.col("__tot")).over(woff)) \
                        .select("__pid", "__off")
        res = (local.join(F.broadcast(offsets), "__pid")
                    .withColumn(out, comb(F.col("__loc"), F.col("__off")))
                    .drop("__pid", "__loc", "__off"))
        if keep:
            return res
        return res.select(SEQ, F.col(out).alias(out) if out != "v" else F.col("v"))

    fn = fn_window if strategy == "window" else fn_chunked
    return Stage(fn, name=f"scan_{how}")


def scan_multi(aggs: "Mapping[str, tuple[str, Union[str, Column]]]", *,
               strategy: str = "chunked", npart: Optional[int] = None,
               keep: bool = True, rescan: bool = False,
               name: str = "scan_multi") -> Stage:
    """Several running folds in ONE two-phase pass: ``aggs`` maps
    output name → (reducer, expr) with the same declared-associative
    reducers as :func:`scan`.  Chaining k ``scan`` stages costs k
    local windows + k totals aggregates + k broadcast joins;
    ``scan_multi`` evaluates all k accumulators in one Window node,
    one totals groupBy, one offsets window, and one broadcast join —
    the plan a fused runner would produce (plan-tested)."""
    if not aggs:
        raise ValueError("scan_multi: aggs must be non-empty")
    specs = {}
    for out, (how, expr) in aggs.items():
        if how not in _SCAN_FNS:
            raise ValueError(
                f"scan requires a declared-associative reducer, got {how!r}")
        specs[out] = (_SCAN_FNS[how], _RECOMBINE[how], _COMBINE[how],
                      F.expr(expr) if isinstance(expr, str) else expr)

    def fn_window(df: DataFrame) -> DataFrame:
        w = W.orderBy(SEQ).rowsBetween(W.unboundedPreceding, W.currentRow)
        res = df.select("*", *[aggf(col).over(w).alias(out)
                               for out, (aggf, _, _, col) in specs.items()])
        return res if keep else res.select(SEQ, *specs)

    def fn_chunked(df: DataFrame) -> DataFrame:
        part = _with_pid(df, npart, persist=not rescan)
        wloc = (W.partitionBy("__pid").orderBy(SEQ)
                 .rowsBetween(W.unboundedPreceding, W.currentRow))
        local = part.select(
            "*", *[aggf(col).over(wloc).alias(f"__loc_{out}")
                   for out, (aggf, _, _, col) in specs.items()])
        totals = part.groupBy("__pid").agg(
            *[aggf(col).alias(f"__tot_{out}")
              for out, (aggf, _, _, col) in specs.items()])
        woff = (W.orderBy("__pid")
                 .rowsBetween(W.unboundedPreceding, -1))  # npart tiny rows
        offsets = totals.select(
            "__pid", *[recomb(F.col(f"__tot_{out}")).over(woff)
                       .alias(f"__off_{out}")
                       for out, (_, recomb, _, _) in specs.items()])
        res = local.join(F.broadcast(offsets), "__pid")
        res = res.select(
            *[c for c in local.columns
              if c != "__pid" and not c.startswith("__loc_")],
            *[comb(F.col(f"__loc_{out}"), F.col(f"__off_{out}")).alias(out)
              for out, (_, _, comb, _) in specs.items()])
        return res if keep else res.select(SEQ, *specs)

    fn = fn_window if strategy == "window" else fn_chunked
    return Stage(fn, name=name)


def map_accum(step: Callable[[Any, Any], tuple[Any, Any]], seed: Any, *,
              returns: str = "double", col: str = "v") -> Stage:
    """``mapAccum`` (Combinators.hs:344-353): general order-dependent
    per-element state ``(i, s) -> (s, o)``.

    THE documented sequential case (SURVEY §7 hard #1): arbitrary state
    does not parallelize; the reference runs it single-threaded too.
    Implementation: one sorted pass via Arrow ``mapInPandas`` on a
    single range partition.  When the accumulator is associative,
    declare it and use :func:`scan` instead (parallel plan).
    """

    def fn(df: DataFrame) -> DataFrame:
        schema = f"{SEQ} long, v {returns}"
        in_cols = [SEQ, col]

        def run(batches: Iterable[pd.DataFrame]):
            s = seed
            for pdf in batches:
                outs = []
                for v in pdf[col]:
                    s, o = step(v, s)
                    outs.append(o)
                yield pd.DataFrame({SEQ: pdf[SEQ], "v": outs})

        return (df.select(*in_cols)
                  .repartitionByRange(1, SEQ)
                  .sortWithinPartitions(SEQ)
                  .mapInPandas(run, schema))

    return Stage(fn, name="map_accum")


def map_accum_chunked(step: Callable[[Any, Any], tuple[Any, Any]], seed: Any,
                      *, merge: Callable[[Any, Any], Any], identity: Any,
                      returns: str = "double", col: str = "v",
                      npart: Optional[int] = None) -> Stage:
    """Parallel ``mapAccum`` for MONOID-ACTION state — the middle ground
    between :func:`scan` (declared-associative column reducers) and
    :func:`map_accum` (arbitrary state, sequential).

    The user declares ``(identity, merge)`` such that running ``step``
    over a sequence starting from state ``A`` leaves the state at
    ``merge(A, E)`` where ``E`` is the sequence's "effect" (its terminal
    state when started from ``identity``).  Then the classic two-pass
    parallel scan applies:

      1. per chunk: terminal state from ``identity`` (one Arrow pass);
         npart tiny rows to the driver;
      2. prefix-``merge`` the chunk effects (driver, O(npart));
      3. per chunk: replay ``step`` from its TRUE start state (second
         Arrow pass), emitting outputs.

    Two passes over the data instead of one global sequential pass —
    each pass is embarrassingly parallel.  State must be
    pickle-serializable.  Example: running sum — ``step=(v,s)->(s+v,
    s+v)``, ``identity=0``, ``merge=+``.  (Alt-sum's sign-flipping
    state is NOT merge-able without tracking length parity — encode it
    in the state or fall back to :func:`map_accum`.)"""
    import pickle

    def fn(df: DataFrame) -> DataFrame:
        part = _with_pid(df, npart).select("__pid", SEQ, F.col(col))

        def chunk_effect(pdf: pd.DataFrame) -> pd.DataFrame:
            s = identity
            for v in pdf.sort_values(SEQ)[col]:
                s, _ = step(v, s)
            return pd.DataFrame({"__pid": [int(pdf["__pid"].iloc[0])],
                                 "__st": [pickle.dumps(s).hex()]})

        effects = (part.groupBy("__pid")
                       .applyInPandas(chunk_effect, "__pid int, __st string")
                       .collect())
        start, acc = {}, seed
        for row in sorted(effects, key=lambda r: r["__pid"]):
            start[row["__pid"]] = acc
            acc = merge(acc, pickle.loads(bytes.fromhex(row["__st"])))

        out_schema = f"{SEQ} long, v {returns}"

        def replay(pdf: pd.DataFrame) -> pd.DataFrame:
            s = start[int(pdf["__pid"].iloc[0])]
            pdf = pdf.sort_values(SEQ)
            outs = []
            for v in pdf[col]:
                s, o = step(v, s)
                outs.append(o)
            return pd.DataFrame({SEQ: pdf[SEQ], "v": outs})

        return part.groupBy("__pid").applyInPandas(replay, out_schema)

    return Stage(fn, name="map_accum_chunked", seq_preserving=False)


def pairs(*, col: str = "v", strategy: str = "chunked",
          npart: Optional[int] = None, rescan: bool = False) -> Stage:
    """``pairs`` (Combinators.hs:379-385): consecutive overlapping pairs
    [1..5] ⇒ (1,2),(2,3),(3,4),(4,5).

    Chunked plan: per-partition ``lag`` (parallel) + stitch partition
    boundaries by shipping each partition's LAST row (tiny: npart rows)
    to the next partition via broadcast join — no global window.
    """

    def fn_window(df: DataFrame) -> DataFrame:
        w = W.orderBy(SEQ)
        return (df.select(SEQ, F.lag(col, 1).over(w).alias("fst"),
                          F.col(col).alias("snd"))
                  .where(F.col("fst").isNotNull()))

    def fn_chunked(df: DataFrame) -> DataFrame:
        part = _with_pid(df, npart, persist=not rescan)
        wloc = W.partitionBy("__pid").orderBy(SEQ)
        local = part.select("__pid", SEQ, F.lag(col, 1).over(wloc).alias("fst"),
                            F.col(col).alias("snd"))
        # last element of each chunk, addressed to the next NON-EMPTY
        # chunk (bucket ids skip when __seq has value gaps): the
        # successor comes from a lead() over the tiny npart-row table
        wdesc = W.partitionBy("__pid").orderBy(F.desc(SEQ))
        lasts = (part.withColumn("__rn", F.row_number().over(wdesc))
                     .where("__rn = 1")
                     .select("__pid", F.col(col).alias("__prev")))
        wsucc = W.orderBy("__pid")  # npart rows: driver-scale window
        lasts = (lasts.withColumn("__pid", F.lead("__pid", 1).over(wsucc))
                      .where(F.col("__pid").isNotNull()))
        res = (local.join(F.broadcast(lasts), "__pid", "left")
                    .withColumn("fst", F.coalesce("fst", "__prev"))
                    .where(F.col("fst").isNotNull())
                    .select(SEQ, "fst", "snd"))
        return res

    fn = fn_window if strategy == "window" else fn_chunked
    return Stage(fn, name="pairs", seq_preserving=False)


def _last_n(arr: Column, n: int) -> Column:
    """Suffix of ≤ n elements (slice with a negative start returns []
    when |start| > size, so guard with the short case)."""
    return F.when(F.size(arr) <= n, arr) \
            .otherwise(F.slice(arr, F.size(arr) - n + 1, n))


def consecutive(n: int, *, col: str = "v", full_only: bool = False,
                strategy: str = "chunked", npart: Optional[int] = None,
                rescan: bool = False) -> Stage:
    """``consecutive n`` (Combinators.hs:404-410): sliding windows of ≤ n
    **yielded before consuming each element**, starting from the empty
    prefix; one final window at termination.  [1..6], n=3 ⇒
    [],[1],[1,2],[1,2,3],[2,3,4],[3,4,5],[4,5,6] (Combinators.hs:392-403).

    Frame ``rowsBetween(-n, -1)`` (the last ≤n rows STRICTLY BEFORE the
    current row) reproduces the yield-before-consume off-by-one (SURVEY
    §2.4 pins it); the terminal window (last n elements) is appended
    with ``__seq = max+1``.  ``full_only`` keeps only length-n windows
    (the reference's ``filter ((== n) . length)`` idiom).

    ``strategy='chunked'`` (default, the 100 TB path): per-partition
    window after a range shuffle; each partition's first rows borrow
    their missing prefix from a broadcast "carry" — the last ≤n elements
    of all PRECEDING partitions, prefix-folded on the npart-row tails
    table (same tiny-table shape as scan's phase 2).  No unpartitioned
    window ever sees the data.  ``'window'`` = the simple global window
    (test oracle)."""

    def fn_window(df: DataFrame) -> DataFrame:
        w = W.orderBy(SEQ).rowsBetween(-n, -1)
        per_row = df.select(SEQ, F.collect_list(col).over(w).alias("v"))
        return _with_tail(df, per_row)

    def fn_chunked(df: DataFrame) -> DataFrame:
        part = _with_pid(df, npart, persist=not rescan)
        wloc = W.partitionBy("__pid").orderBy(SEQ).rowsBetween(-n, -1)
        local = part.select("__pid", SEQ,
                            F.collect_list(col).over(wloc).alias("__w"))
        # per-partition tail = last ≤n values in __seq order (npart rows)
        tails = (part.groupBy("__pid")
                     .agg(F.array_sort(
                              F.collect_list(F.struct(SEQ, F.col(col).alias("x"))))
                           .alias("__t"))
                     .select("__pid",
                             _last_n(F.transform("__t", lambda s: s.x), n).alias("__t")))
        # carry for partition p = last ≤n of concat(tails of partitions < p);
        # recursion works because a partition with < n elements contributes
        # ALL of them to its tail, so the flattened window always holds the
        # true last n preceding elements.
        wprev = W.orderBy("__pid").rowsBetween(W.unboundedPreceding, -1)
        carries = (tails.withColumn("__cat", F.flatten(F.collect_list("__t").over(wprev)))
                        .select("__pid", _last_n(F.col("__cat"), n).alias("__carry")))
        per_row = (local.join(F.broadcast(carries), "__pid")
                        .select(SEQ, _last_n(F.concat("__carry", "__w"), n).alias("v")))
        return _with_tail(df, per_row)

    def _with_tail(df: DataFrame, per_row: DataFrame) -> DataFrame:
        tail = (df.orderBy(F.desc(SEQ)).limit(n)
                  .agg((F.max(SEQ) + 1).alias(SEQ),
                       F.array_sort(F.collect_list(F.struct(SEQ, F.col(col).alias("x"))))
                        .alias("__s"))
                  .select(SEQ, F.transform("__s", lambda s: s.x).alias("v")))
        out = per_row.unionByName(tail)
        if full_only:
            out = out.where(F.size("v") == n)
        return out

    fn = fn_window if strategy == "window" else fn_chunked
    return Stage(fn, name=f"consecutive({n})", seq_preserving=False)


def passthrough(stage: Stage, *, in_cols: Optional[list[str]] = None) -> Stage:
    """``passthrough`` (Data/Conduino.hs:409-420): tag each output with
    the input that triggered it.  For seq-preserving stages this is a
    join on ``__seq`` (Spark's default behavior of keeping input columns
    makes the common case free — this wrapper is for stages that drop
    them)."""
    if not stage.seq_preserving:
        raise TypeError("passthrough requires a seq-preserving stage")

    def fn(df: DataFrame) -> DataFrame:
        inp = df
        if in_cols:
            inp = df.select(SEQ, *in_cols)
        renamed = inp.select(
            F.col(SEQ),
            *[F.col(c).alias(f"in_{c}") for c in inp.columns if c != SEQ])
        return stage(df).join(renamed, SEQ, "left")

    return Stage(fn, name=f"passthrough({stage.name})")


def ewma(alpha: float, expr: Union[str, Column] = "v", *, out: str = "ewma",
         strategy: str = "chunked", npart: Optional[int] = None,
         keep: bool = True, max_chunks: int = 2_000_000,
         name: str = "ewma") -> Stage:
    """Exponentially weighted moving average over the ordered stream:
    ``s_1 = x_1``, ``s_i = α·x_i + (1−α)·s_{i−1}`` (pandas
    ``ewm(adjust=False)``).

    A linear recurrence is not a plain associative reducer, but each
    element acts on the state as the affine map ``s → (1−α)s + αx``,
    and affine maps compose associatively — so the two-phase chunked
    plan still applies:

    * phase 1, per chunk: the standalone (carry-free) EWMA prefix via
      one windowed sum of pre-scaled values.  Chunk VALUE-width is
      capped at ``L ≈ 600/−ln(1−α)`` so every ``(1−α)^±pos`` stays
      inside double range (the prescale trick overflows past ~708/−ln q
      — the cap is what makes the formulation safe, and contributions
      older than L rows are < e^−600, i.e. zero in doubles anyway).
    * phase 2: chunk summaries (row count, standalone tail) — at most
      one per L stream values — fold into per-chunk incoming carries by
      an exact driver-side linear pass (``carry' = tail + q^n·carry``,
      tiny data, broadcast back).  Streams needing more than
      ``max_chunks`` summaries raise loudly rather than collect
      unboundedly — lift ``alpha`` or pre-aggregate first.
    * recombine: ``s = t_local + carry·(1−α)^pos_local``.

    No exact cross-engine oracle (float-order sensitive); tested
    against a driver reference at 1e-9 relative."""
    import math

    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    col = F.expr(expr) if isinstance(expr, str) else expr
    q = 1.0 - alpha

    if alpha == 1.0:
        def fn_id(df: DataFrame) -> DataFrame:
            res = df.withColumn(out, col.cast("double"))
            return res if keep else res.select(SEQ, out)
        return Stage(fn_id, name=name)

    L = max(1, int(600.0 / -math.log(q)))

    def fn_chunked(df: DataFrame) -> DataFrame:
        spark = df.sparkSession
        target = npart or spark.sparkContext.defaultParallelism
        bounds = df.agg(F.min(SEQ).cast("double").alias("__lo"),
                        F.max(SEQ).cast("double").alias("__hi"))
        # chunk width: parallelism wants span/target, numerics cap at L
        width = F.greatest(F.lit(1.0), F.least(
            F.lit(float(L)),
            F.ceil((F.col("__hi") - F.col("__lo") + 1.0) / target).cast("double")))
        part = (df.crossJoin(F.broadcast(bounds))
                  .withColumn("__pid", F.floor(
                      (F.col(SEQ) - F.col("__lo")) / width).cast("long"))
                  .drop("__lo", "__hi"))
        part = track(part)

        wloc = (W.partitionBy("__pid").orderBy(SEQ)
                 .rowsBetween(W.unboundedPreceding, W.currentRow))
        pos = F.count(F.lit(1)).over(wloc)
        local = (part
                 .withColumn("__pos", pos)
                 .withColumn("__ps", F.sum(
                     col * F.pow(F.lit(q), -F.col("__pos"))).over(wloc))
                 .withColumn("__t", F.lit(alpha)
                             * F.pow(F.lit(q), F.col("__pos"))
                             * F.col("__ps")))

        sums = (local.groupBy("__pid")
                     .agg(F.max("__pos").alias("__n"),
                          F.max_by("__t", "__pos").alias("__tail"),
                          F.min_by(col.cast("double"), F.col("__pos"))
                           .alias("__head"))
                     .orderBy("__pid"))
        rows = sums.limit(max_chunks + 1).collect()
        if len(rows) > max_chunks:
            raise RuntimeError(
                f"ewma: stream needs > {max_chunks} chunk summaries at "
                f"alpha={alpha} (chunk cap {L} values); raise alpha, "
                "pre-aggregate, or raise max_chunks")
        # adjust=False pins s_1 = x_1, which is the same recurrence run
        # from initial state s_0 = x_1 (s_1 = alpha*x_1 + q*x_1 = x_1):
        # the stream-level incoming carry is the first element itself
        carry, carries = (rows[0]["__head"] if rows else 0.0), []
        for r in rows:
            carries.append((r["__pid"], carry))
            carry = r["__tail"] + (q ** r["__n"]) * carry
        offs = local_frame(spark, carries or [(0, 0.0)],
                           "__pid long, __carry double")
        res = (local.join(F.broadcast(offs), "__pid")
                    .withColumn(out, F.col("__t") + F.col("__carry")
                                * F.pow(F.lit(q), F.col("__pos")))
                    .drop("__pid", "__pos", "__ps", "__t", "__carry"))
        return res if keep else res.select(SEQ, out)

    def fn_window(df: DataFrame) -> DataFrame:
        # small-data oracle: the global prescale overflows past ~L rows,
        # which the chunked strategy exists to avoid
        w = W.orderBy(SEQ).rowsBetween(W.unboundedPreceding, W.currentRow)
        pos = F.count(F.lit(1)).over(w)
        ps = F.sum(col * F.pow(F.lit(q), -pos)).over(w)
        xf = F.first(col.cast("double")).over(w)   # s_0 = x_1 (see fold)
        res = df.withColumn(out, F.lit(alpha) * F.pow(F.lit(q), pos) * ps
                            + xf * F.pow(F.lit(q), pos))
        return res if keep else res.select(SEQ, out)

    return Stage(fn_window if strategy == "window" else fn_chunked,
                 name=name)
