"""Temporal joins — as-of (nearest-event) and interval-containment.

Engine extensions beyond the reference (SURVEY §2.7 spirit: capabilities
a training-data pipeline needs that neither conduino nor stock Spark
expresses directly).  Both are built so the BIG side never meets a
quadratic plan:

* ``asof_join``: the union trick — tag both streams, ONE shuffle by
  key, per-key sort by (time, side), ``last(..., ignorenulls)`` window.
  This is the canonical distributed as-of; no per-row range probe, no
  BroadcastNestedLoopJoin.
* ``interval_join``: time-binning — explode each interval into the
  fixed-width bins it covers, point rows land in exactly ONE bin, the
  bin (+ optional key) becomes an equi-join key and the exact predicate
  filters within the bucket.  Cost ~ |intervals| × (len/bin_width)
  instead of |points| × |intervals|.

Skew caveat (both): the shuffle key is the join key — a single hot key
serializes its partition exactly like any keyed window; pre-split hot
keys upstream (operators/skew.py) when one entity dominates.
"""

from __future__ import annotations

from typing import Mapping, Optional

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from conduino_spark.plans.core import SEQ, Source, Stage

# rolling_agg(strategy="auto") RANGE-frame work bounds (see its doc)
RANGE_AVG_FRAME = 32
RANGE_KEY_CAP = 4_000_000


def asof_join(right: Source, *, on: "str | Sequence[str]", left_time: str,
              right_time: Optional[str] = None,
              right_cols: Mapping[str, str],
              direction: str = "backward",
              tolerance: Optional[float] = None,
              how: str = "left") -> Stage:
    """As-of join: for each left row, the single right row with the same
    key and the greatest right_time ≤ left_time (``backward``; ties
    include equal times) or smallest right_time ≥ left_time
    (``forward``).

    ``right_cols`` maps OUTPUT name → right column; output names must
    not collide with left columns.  ``tolerance`` (same units as the
    time columns) nulls the match when the gap exceeds it; ``how``
    ∈ left/inner (inner drops unmatched left rows).

    Plan: union the tagged streams, window ``last(col, ignorenulls)``
    per key ordered by (time, side) — right rows sort before left rows
    at equal times so the ≤/≥ bound is inclusive.  One shuffle, linear
    work, scales with the key cardinality like any keyed window.

    Determinism: the right side should be unique per (key, time) —
    among duplicates the surviving row is sort-order-dependent
    (pre-aggregate with ``max_by`` to pin it; the gate queries do).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward/forward, got {direction!r}")
    if how not in ("left", "inner"):
        raise ValueError(f"how must be left/inner, got {how!r}")
    rt = right_time or left_time
    keys = [on] if isinstance(on, str) else list(on)

    def fn(df: DataFrame) -> DataFrame:
        clash = [c for c in right_cols if c in df.columns]
        if clash:
            raise ValueError(f"asof_join output columns collide with left: {clash}")
        r = right.df(df.sparkSession)
        if SEQ in r.columns:
            r = r.drop(SEQ)
        R = r.select(*[F.col(k) for k in keys],
                     F.col(rt).cast("double").alias("__at"),
                     *[F.col(src).alias(out) for out, src in right_cols.items()]) \
             .withColumn("__side", F.lit(0))
        L = df.withColumn("__at", F.col(left_time).cast("double")) \
              .withColumn("__side", F.lit(1))
        u = L.unionByName(R, allowMissingColumns=True)

        order = [F.col("__at"), F.col("__side")] if direction == "backward" \
            else [F.col("__at").desc(), F.col("__side")]
        w = (W.partitionBy(*keys).orderBy(*order)
              .rowsBetween(W.unboundedPreceding, W.currentRow))
        mt = F.last(F.when(F.col("__side") == 0, F.col("__at")),
                    ignorenulls=True).over(w)
        matched = [F.last(F.when(F.col("__side") == 0, F.col(c)),
                          ignorenulls=True).over(w).alias(c)
                   for c in right_cols]
        out = (u.select(*[c for c in L.columns if c not in ("__side",)],
                        F.col("__side"), mt.alias("__mt"), *matched)
                .where(F.col("__side") == 1))
        valid = F.col("__mt").isNotNull()
        if tolerance is not None:
            gap = (F.col("__at") - F.col("__mt")) if direction == "backward" \
                else (F.col("__mt") - F.col("__at"))
            valid = valid & (gap <= F.lit(float(tolerance)))
        if how == "inner":
            out = out.where(valid)
        else:
            out = out.select(
                *[c for c in out.columns if c not in right_cols],
                *[F.when(valid, F.col(c)).alias(c) for c in right_cols])
        return out.drop("__at", "__side", "__mt")

    return Stage(fn, name=f"asof_join({direction})", seq_preserving=True)


def interval_join(intervals: Source, *, point: str, start: str, end: str,
                  out_cols: Mapping[str, str],
                  on: Optional[str] = None,
                  bin_width: float = 3600.0,
                  closed: str = "left",
                  max_bins: int = 100_000) -> Stage:
    """Interval-containment join: each left POINT row against every
    right INTERVAL [start, end) (``closed='left'``; 'both' makes the
    end inclusive) — optionally key-scoped via ``on``.

    Plan: intervals explode into the ⌈len/bin_width⌉ fixed-width time
    bins they cover; a point lives in exactly one bin, so (key, bin) is
    an equi-join key and each (point, interval) pair meets AT MOST ONCE
    — no distinct needed.  Pick ``bin_width`` near the typical interval
    length: cost ~ |intervals| × bins-per-interval, never
    |points| × |intervals|.

    Malformed intervals (end before start) are dropped; an interval
    spanning more than ``max_bins`` bins raises — a single bad row
    would otherwise explode into an unbounded sequence (pick a larger
    ``bin_width`` instead).
    """
    if closed not in ("left", "both"):
        raise ValueError(f"closed must be left/both, got {closed!r}")

    def fn(df: DataFrame) -> DataFrame:
        clash = [c for c in out_cols if c in df.columns]
        if clash:
            raise ValueError(f"interval_join output columns collide with left: {clash}")
        r = intervals.df(df.sparkSession)
        if SEQ in r.columns:
            r = r.drop(SEQ)
        rs, re_ = F.col(start).cast("double"), F.col(end).cast("double")
        ikeys = ([F.col(on)] if on else [])
        I = (r.where(re_ >= rs)  # drop malformed intervals
              .select(*ikeys, rs.alias("__s"), re_.alias("__e"),
                      *[F.col(src).alias(out) for out, src in out_cols.items()]))
        b0 = F.floor(F.col("__s") / F.lit(bin_width))
        b1 = F.floor(F.col("__e") / F.lit(bin_width))
        guard = F.when(b1 - b0 < max_bins, b1).otherwise(F.raise_error(F.lit(
            f"interval_join: interval spans >= {max_bins} bins; "
            "increase bin_width")))
        I = I.withColumn("__bin", F.explode(F.sequence(b0, guard)))
        P = df.withColumn("__p", F.col(point).cast("double")) \
              .withColumn("__bin", F.floor(F.col("__p") / F.lit(bin_width)))
        keys = ([on] if on else []) + ["__bin"]
        hit = F.col("__p") >= F.col("__s")
        hit = hit & (F.col("__p") <= F.col("__e") if closed == "both"
                     else (F.col("__p") < F.col("__e")))
        return (P.join(I, keys).where(hit)
                 .drop("__bin", "__p", "__s", "__e"))

    return Stage(fn, name="interval_join", seq_preserving=False)


def _epoch_us(df: DataFrame, time_col: str) -> "F.Column":
    """Exact long microseconds from a timestamp (unix_micros; NTZ is
    first reinterpreted in the session zone — timeutil.ts_col) or a
    numeric epoch-seconds column (rounded at micro resolution)."""
    if dict(df.dtypes).get(time_col) in ("timestamp", "timestamp_ntz"):
        from ..timeutil import epoch_micros
        return epoch_micros(time_col)
    return F.round(F.col(time_col).cast("double") * 1_000_000, 0).cast("long")


def rolling_agg(time_col: str, preceding: float, *,
                keys: "Sequence[str]" = (),
                aggs: "Optional[Mapping[str, object]]" = None,
                strategy: str = "auto",
                name: str = "rolling_agg") -> Stage:
    """Rolling time-RANGE aggregates per key: for each row, aggregate
    over the rows of the same key whose time lies in
    ``[t − preceding, t]`` (inclusive both ends — SQL RANGE frame
    peers-included semantics).  The classic "7-day rolling revenue per
    user" shape that tumbling windows (:func:`event_window`) cannot
    express because every row anchors its own frame.

    ``time_col`` may be a timestamp or numeric epoch SECONDS;
    ``preceding`` is in seconds.  Internally both become exact long
    MICROSECONDS (Spark's range frames take integer bounds, and long
    micros are bit-identical across engines where epoch-seconds doubles
    differ in the last ulp).

    ``aggs`` maps output name → either a DECLARED aggregate
    ``(op, col)`` tuple with op in ``sum | count | avg`` (col a
    column name, a scalar Column expression, or ``"*"`` for
    count-star), or an arbitrary aggregate Column.  Default: row
    count.  The two forms pick the strategy; mixing them in one call
    raises.

    * Declared tuples (scale path, r15): Spark evaluates a SLIDING
      range frame by re-aggregating the whole frame for every row —
      cost O(rows × frame) per key, which the real-sf1 scale probe
      measured at 64× for 10× rows under a Zipf head user
      (SCALE_PROBE_r15).  Declared aggs instead decompose into two
      GROWING frames Spark maintains incrementally:
      ``rolling = cum(t) − cum_before(t−W)``, with ``cum_before``
      read off probe rows at ``t−W`` in a union pass ordered so each
      probe sorts just before the reals at its instant (the
      :func:`asof_join` union trick — one extra exchange, never
      quadratic).  An all-null/empty sum frame still yields NULL (a
      non-null-count primitive guards the difference), so declared
      results are bit-equal to the range frame's.
    * Column aggs (exact path for arbitrary aggregates — min/max/
      collect/UDAFs — which have no prefix inverse): ONE shuffle on
      the key, per-partition sort, a single RANGE window frame; all
      ``aggs`` share the frame in one pass.  Skew caveat as for
      :func:`asof_join`: a hot key pays rows×frame on its partition —
      prefer declared tuples when the aggregate allows.

    ``strategy`` (declared tuples only — Column aggs always take the
    RANGE frame) gates the two physical plans (r16, VERDICT r15 #6):

    * ``"auto"`` (default): ONE cheap narrow stats pass bins the
      timestamps at window width — a row's frame spans at most its own
      and the previous bin, so ``Σ_{key,bin} c·(c + c_prev)`` upper-
      bounds total frame work without computing any frame.  When the
      bound proves the data sparse (mean frame at most
      ``RANGE_AVG_FRAME`` rows AND no key's work past
      ``RANGE_KEY_CAP``), the plain RANGE frame is
      strictly cheaper (one window pass, no union); past the bound the
      linear prefix-difference plan wins (the 64×-at-10×-rows probe).
    * ``"prefix"`` / ``"range"`` force a branch (law tests; callers
      who already know their density).

    Both branches compute the same frame semantics; results are
    bit-equal for integer/exact inputs (the gate queries ride scaled
    longs).  For float sums the two plans add in different orders —
    same RANGE-frame contract, possible last-ulp difference.

    Output = input rows + the rolling columns, either way."""
    if preceding < 0:
        raise ValueError(f"preceding must be >= 0, got {preceding}")
    if strategy not in ("auto", "prefix", "range"):
        raise ValueError(f"strategy must be auto/prefix/range, "
                         f"got {strategy!r}")
    aggs = aggs or {"n": ("count", "*")}
    declared = [isinstance(a, tuple) for a in aggs.values()]
    if any(declared) and not all(declared):
        raise ValueError("rolling_agg: mix of declared (op, col) "
                         "tuples and Column aggs — pick one form")
    if not all(declared) and strategy == "prefix":
        raise ValueError("rolling_agg: Column aggs have no prefix "
                         "inverse — strategy='prefix' needs declared "
                         "(op, col) tuples")
    for out, a in aggs.items():
        if isinstance(a, tuple) and (
                len(a) != 2 or a[0] not in ("sum", "count", "avg")):
            raise ValueError(
                f"rolling_agg: declared agg {out!r} must be "
                f"(op, col) with op in sum/count/avg, got {a!r}")

    w_us = int(round(preceding * 1_000_000))

    def fn_range(df: DataFrame) -> DataFrame:
        t = _epoch_us(df, time_col)
        w = (W.partitionBy(*[F.col(k) for k in keys])
              .orderBy(t)
              .rangeBetween(-w_us, 0))
        # all aggs in ONE select over the same frame: per-agg
        # withColumn chains block Spark's window collapse and emit one
        # Window+Sort pair per aggregate (plan-tested)
        return df.select("*", *[agg.over(w).alias(out_name)
                                for out_name, agg in aggs.items()])

    # primitive columns, shared across aggs AND across the two declared
    # branches: ("sum", c) and ("cnt", c) / ("cnt", "*").  Dedupe key is
    # the expression's string form (Columns are unhashable).  Built once
    # at stage-construction time so fn_prefix and fn_range_decl compute
    # their outputs from the SAME primitive expressions (bit-equality by
    # construction for exact inputs).
    prims: "dict[tuple, tuple]" = {}   # (kind, key) -> (col, nm)

    def prim(kind: str, col) -> str:
        k = (kind, col if isinstance(col, str) else str(col))
        if k not in prims:
            prims[k] = (col, f"__rp{len(prims)}")
        return prims[k][1]

    plan = {}                    # out name -> (op, prim names)
    if all(declared):
        for out, (op, col) in aggs.items():
            if op == "count":
                plan[out] = ("count", prim("cnt", col))
            elif op == "sum":
                plan[out] = ("sum", prim("sum", col),
                             prim("cnt", col))
            else:                    # avg
                plan[out] = ("avg", prim("sum", col),
                             prim("cnt", col))

    def contrib(kind: str, col) -> "F.Column":
        if kind == "cnt" and isinstance(col, str) and col == "*":
            return F.lit(1).cast("long")
        c = F.col(col) if isinstance(col, str) else col
        if kind == "cnt":
            return F.when(c.isNotNull(), F.lit(1)).cast("long")
        return c

    def fn_prefix(df: DataFrame) -> DataFrame:
        t = _epoch_us(df, time_col)
        kcols = list(keys)
        base_cols = df.columns
        annot = df.withColumn("__t_us", t)
        # growing peers-included cumulative at t (incremental in
        # Spark: the UnboundedPreceding frame only ever adds rows)
        wcum = (W.partitionBy(*[F.col(k) for k in kcols])
                 .orderBy("__t_us")
                 .rangeBetween(W.unboundedPreceding, 0))
        annot = annot.select(
            "*", *[F.sum(contrib(kind, col)).over(wcum).alias(nm)
                   for (kind, _k), (col, nm) in prims.items()])
        payload = [c for c in annot.columns if c not in kcols]
        vtypes = dict(annot.dtypes)
        # probes carry the full annotated row at t−W; reals carry only
        # keys + time + this row's contributions (payload nulled, so
        # the union shuffles ~n extra narrow rows, not 2n wide ones)
        probe = annot.select(
            *kcols,
            (F.col("__t_us") - F.lit(w_us)).alias("__pt"),
            F.lit(0).alias("__isreal"), *payload,
            *[F.lit(None).cast(vtypes[nm]).alias(f"__v_{nm}")
              for _, (_c, nm) in prims.items()])
        real = annot.select(
            *kcols, F.col("__t_us").alias("__pt"),
            F.lit(1).alias("__isreal"),
            *[F.lit(None).cast(vtypes[c]).alias(c) for c in payload],
            *[contrib(kind, col).cast(vtypes[nm]).alias(f"__v_{nm}")
              for (kind, _k), (col, nm) in prims.items()])
        u = probe.unionByName(real)
        # probes sort BEFORE reals at the same instant (0 < 1), so a
        # probe's running sum covers exactly time < t−W... plus rows
        # AT t−W must be IN the frame (inclusive), hence strictly-less
        wrun = (W.partitionBy(*[F.col(k) for k in kcols])
                 .orderBy("__pt", "__isreal")
                 .rowsBetween(W.unboundedPreceding, W.currentRow))
        u = u.select(
            "*", *[F.sum(f"__v_{nm}").over(wrun).alias(f"__b_{nm}")
                   for _, (_c, nm) in prims.items()])
        rows = u.where(F.col("__isreal") == 0)

        def diff(nm: str) -> "F.Column":
            return (F.coalesce(F.col(nm), F.lit(0)) -
                    F.coalesce(F.col(f"__b_{nm}"), F.lit(0)))

        outs = []
        for out, spec in plan.items():
            if spec[0] == "count":
                outs.append(diff(spec[1]).alias(out))
            else:
                s = diff(spec[1])
                n = diff(spec[2])
                # empty/all-null frame → NULL, matching SQL sum/avg
                val = F.when(n > 0, s if spec[0] == "sum"
                             else s / n)
                outs.append(val.alias(out))
        return rows.select(*base_cols, *outs)

    def fn_range_decl(df: DataFrame) -> DataFrame:
        # declared tuples over the plain sliding RANGE frame: the SAME
        # primitive contributions as fn_prefix, summed directly over
        # [t−W, t] instead of differenced between growing frames —
        # identical NULL semantics (count-of-non-null guards sum/avg)
        t = _epoch_us(df, time_col)
        w = (W.partitionBy(*[F.col(k) for k in keys])
              .orderBy(t)
              .rangeBetween(-w_us, 0))
        vals = {nm: F.sum(contrib(kind, col)).over(w)
                for (kind, _k), (col, nm) in prims.items()}
        outs = []
        for out, spec in plan.items():
            if spec[0] == "count":
                outs.append(F.coalesce(vals[spec[1]], F.lit(0))
                            .alias(out))
            else:
                s, n = vals[spec[1]], vals[spec[2]]
                val = F.when(n > 0, s if spec[0] == "sum" else s / n)
                outs.append(val.alias(out))
        return df.select("*", *outs)

    def range_work_small(df: DataFrame) -> bool:
        # r16 (VERDICT r15 #6): bound Σ_rows |frame| WITHOUT computing
        # any frame — bin timestamps at window width; a row's frame
        # [t−W, t] spans at most its own and the previous bin, so
        #   total work ≤ Σ_{key,bin} c · (c + c_prev)
        # One narrow partial-aggregated pass over (keys, bin) + a
        # bins-sized window.  Over-estimates by ≤2× on uniform data,
        # never under-estimates — a burst inside one bin is counted at
        # its full c² (binning precision only moves rows between
        # adjacent bins, which moves the BOUND, never correctness:
        # both branches compute the same result).
        t = _epoch_us(df, time_col)
        wb = float(max(w_us, 1))
        per = (df.select(*[F.col(k) for k in keys],
                         F.floor(t.cast("double") / F.lit(wb))
                          .alias("__b"))
                 .groupBy(*[F.col(k) for k in keys], F.col("__b"))
                 .agg(F.count(F.lit(1)).alias("__n")))
        wspec = W.partitionBy(*[F.col(k) for k in keys]).orderBy("__b")
        cprev = F.when(F.lag("__b").over(wspec) == F.col("__b") - 1,
                       F.lag("__n").over(wspec)).otherwise(F.lit(0))
        work = (F.col("__n").cast("double")
                * (F.col("__n") + cprev).cast("double"))
        kw = (per.select(*[F.col(k) for k in keys],
                         F.col("__n"), work.alias("__w"))
                 .groupBy(*[F.col(k) for k in keys])
                 .agg(F.sum("__n").alias("__rows"),
                      F.sum("__w").alias("__work")))
        row = kw.agg(F.coalesce(F.sum("__rows"), F.lit(0)).alias("r"),
                     F.coalesce(F.sum("__work"), F.lit(0.0)).alias("w"),
                     F.coalesce(F.max("__work"), F.lit(0.0)).alias("m")
                     ).collect()[0]
        rows, tot, mx = row["r"], row["w"], row["m"]
        return rows == 0 or (tot <= RANGE_AVG_FRAME * rows
                             and mx <= RANGE_KEY_CAP)

    def fn_declared(df: DataFrame) -> DataFrame:
        if strategy == "range" or (strategy == "auto"
                                   and range_work_small(df)):
            return fn_range_decl(df)
        return fn_prefix(df)

    return Stage(fn_declared if declared and all(declared) else fn_range,
                 name=name, seq_preserving=True)


def sessionize(time_col: str = "ts", gap: float = 1800.0, *,
               keys: "Sequence[str]" = ("user_id",),
               out: str = "session_id",
               name: str = "sessionize") -> Stage:
    """Row-level sessionization: tag EVERY event with a per-key session
    ordinal, where a new session starts when the gap to the key's
    previous event exceeds ``gap`` seconds (strict >, matching
    ``F.session_window``'s boundary).  Complements
    :func:`~conduino_spark.operators.relational.session_window`, which
    AGGREGATES per session — sessionize labels the rows, the shape
    training pipelines need for session-scoped features, sequence
    packing, and per-session downstream groupBys.

    Output: input rows + ``out`` (long, 0-based per key, ordered by
    event time).

    Plan: ONE shuffle on the keys, per-partition sort, then lag +
    running sum over the SAME window spec — Catalyst collapses both
    into a single Window operator (one sort, plan-tested).  Session
    ids are a prefix count of boundary flags, so ties in ``time_col``
    can never split a session regardless of tie order (a tie's gap is
    0), making the labeling deterministic without a tie-break column.
    Skew caveat as for :func:`asof_join`: one hot key serializes its
    partition."""
    if gap < 0:
        raise ValueError(f"gap must be >= 0, got {gap}")

    def fn(df: DataFrame) -> DataFrame:
        t = _epoch_us(df, time_col)
        kcols = [F.col(k) for k in keys]
        w = W.partitionBy(*kcols).orderBy(t)
        run = (W.partitionBy(*kcols).orderBy(t)
                .rowsBetween(W.unboundedPreceding, W.currentRow))
        gap_us = int(round(gap * 1_000_000))
        # two window steps (lag can't nest inside the running sum), but
        # identical partition/order — one exchange, one sort
        flagged = df.withColumn(
            "__new_sess",
            F.coalesce((t - F.lag(t).over(w) > gap_us).cast("long"),
                       F.lit(0)))
        return (flagged.withColumn(out, F.sum("__new_sess").over(run))
                       .drop("__new_sess"))

    return Stage(fn, name=name, seq_preserving=True)


def funnel(steps: "Sequence[str]", *, key: str = "user_id",
           type_col: str = "event_type", time_col: str = "ts",
           horizon: Optional[float] = None,
           name: str = "funnel") -> Stage:
    """Ordered funnel analysis: for each key, the earliest completion
    of ``steps`` in order — ``t1 = min time of step 1``,
    ``t_i = min time of step i strictly after t_{i−1}`` — keeping keys
    that complete ALL steps (with ``t_k − t_1 ≤ horizon`` when given).
    Without a horizon, greedy-earliest exactly decides "completed in
    order" (earliest feasible times maximize what can still follow).
    WITH a horizon the anchor is FIRST-TOUCH: the window is measured
    from the first step-1 event only — a completion that would fit a
    later anchor is not re-tried (the common product-analytics
    convention, and the distributed-cost-honest one: re-anchoring needs
    per-key event replay).

    Plan: k−1 keyed equi-joins over per-step min-aggregates — each step
    filters ``type = step`` (pushed to the scan), pre-aggregates
    map-side, and joins on the key.  NO per-key event-list
    materialization (the collect_list anti-pattern) and no windows;
    every stage is a hash agg or hash join on the same key, so AQE can
    plan them together.  Output: (key, t1 … tk) epoch-second doubles —
    computed as exact long micros / 1e6, so the values are bit-identical
    to an oracle doing ``epoch_us(ts) / 1e6`` (plain epoch-seconds
    doubles differ across engines in the last ulp).
    """
    if not steps:
        raise ValueError("funnel: steps must be non-empty")
    if horizon is not None and horizon < 0:
        raise ValueError(f"horizon must be >= 0, got {horizon}")

    def fn(df: DataFrame) -> DataFrame:
        ev = df.select(F.col(key), F.col(type_col).alias("__et"),
                       _epoch_us(df, time_col).alias("__t"))
        cur = (ev.where(F.col("__et") == steps[0])
                 .groupBy(key).agg(F.min("__t").alias("__t1")))
        for i, step in enumerate(steps[1:], start=2):
            nxt = ev.where(F.col("__et") == step)
            cur = (cur.join(nxt, key)
                      .where(F.col("__t") > F.col(f"__t{i-1}"))
                      .groupBy(key, *[f"__t{j}" for j in range(1, i)])
                      .agg(F.min("__t").alias(f"__t{i}")))
        if horizon is not None and len(steps) > 1:
            us = int(round(horizon * 1_000_000))
            cur = cur.where(
                F.col(f"__t{len(steps)}") - F.col("__t1") <= F.lit(us))
        return cur.select(
            key, *[(F.col(f"__t{i}") / F.lit(1_000_000.0)).alias(f"t{i}")
                   for i in range(1, len(steps) + 1)])

    return Stage(fn, name=name, seq_preserving=False)
