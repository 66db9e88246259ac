"""Streaming — the incremental (push/micro-batch) path (SURVEY §3.2).

conduino's ``feedPipe``/``squeezePipe`` (Data/Conduino.hs:229-296) IS
the micro-batch contract: feed a batch, collect outputs, persist the
continuation state.  Structured Streaming is Spark's implementation of
exactly that loop, so the engine compiles the same Stage algebra onto
``readStream``/``writeStream``:

* stateless stages (map/filter/concatMap/windowed aggs) run unchanged
  on a streaming DataFrame;
* stateful per-key state uses ``transformWithStateInPandas``
  (value-state ≙ the reified continuation closure);
* ``Trigger.AvailableNow`` replays a bounded source as micro-batches —
  the engine's incremental-equivalence tests (batch result == concat of
  micro-batch outputs, the feedPipe law) are built on it.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
import uuid
from datetime import timedelta
from typing import Any, Callable, Iterable, Optional

import numpy as _np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from conduino_spark.plans.core import SEQ, Sink, Source, Stage
from conduino_spark.operators.smallio import local_frame


def rate_source(rows_per_second: int = 100) -> Source:
    """``repeat``/``unfold`` unbounded analog (SURVEY §2.3): the rate
    source yields (timestamp, value) forever."""

    def fn(spark: SparkSession) -> DataFrame:
        df = (spark.readStream.format("rate")
              .option("rowsPerSecond", rows_per_second).load())
        return df.select(F.col("value").alias(SEQ), F.col("timestamp"),
                         F.col("value").alias("v"))

    return Source(fn, name="rate", bounded=False)


def file_stream_source(path: str, schema: str, *, fmt: str = "parquet",
                       seq_col: Optional[str] = None,
                       max_files_per_trigger: int = 1) -> Source:
    """File-arrival stream (``sourceHandle`` streaming analog)."""

    def fn(spark: SparkSession) -> DataFrame:
        r = (spark.readStream.schema(schema)
             .option("maxFilesPerTrigger", max_files_per_trigger))
        df = r.parquet(path) if fmt == "parquet" else r.format(fmt).load(path)
        if seq_col:
            df = df.withColumn(SEQ, F.col(seq_col).cast("long"))
        return df

    return Source(fn, name=f"stream({path})", bounded=False)


def run_stream_to_memory(src: Source, spark: SparkSession, *,
                         name: Optional[str] = None,
                         mode: str = "append",
                         available_now: bool = True) -> DataFrame:
    """Run a streaming pipeline into a memory sink and return the result
    table as a batch DataFrame (drained with Trigger.AvailableNow).
    The runner of the streaming path — ``runPipe`` ≙ start()+await."""
    name = name or f"mem_{uuid.uuid4().hex[:8]}"
    df = src.df(spark)
    q = (df.writeStream.format("memory").queryName(name)
         .outputMode(mode)
         .trigger(availableNow=available_now)
         .start())
    q.awaitTermination()
    return spark.table(name)


def feed_pipe(stage: Stage, batches: Iterable[list], spark: SparkSession,
              *, value_type: str = "long") -> tuple[list, list]:
    """``feedPipe`` (Data/Conduino.hs:245-257): run a stage over a
    sequence of input micro-batches, returning (per-batch outputs,
    flattened outputs).

    For stateless seq-preserving stages this implements the feedPipe law
    directly (outputs concat); stateful stages should go through
    :func:`run_stream_to_memory` / transformWithStateInPandas instead.
    """
    from conduino_spark.sources import source_list

    outs = []
    offset = 0
    for batch in batches:
        src = source_list(list(batch))
        df = src.df(spark)
        df = df.withColumn(SEQ, F.col(SEQ) + F.lit(offset))
        out = stage(df)
        cols = [c for c in out.columns if c != SEQ]
        rows = out.select(SEQ, *cols).collect()
        rows.sort(key=lambda r: r[0])
        outs.append([r[1] if len(cols) == 1 else tuple(r[1:]) for r in rows])
        offset += len(batch)
    flat = [x for b in outs for x in b]
    return outs, flat


def feedback_pipe_stream(stage: Stage, src: Source, spark: SparkSession,
                         *, out_dir: Optional[str] = None,
                         max_iters: int = 100,
                         until_empty: bool = True) -> DataFrame:
    """Streaming ``feedbackPipe`` (Data/Conduino.hs:429-462; closes
    SURVEY M7's streaming half).

    In the reference, a fed-back output is consumed BEFORE the next
    upstream element — feedback has priority over upstream input — so
    each element's feedback chain fully drains before new input is
    read.  The micro-batch rendering is therefore exact, not a
    relaxation: every micro-batch runs the same bounded driver
    fixpoint as the batch :func:`conduino_spark.lift.feedback_pipe`
    (rounds, localCheckpoint-bounded), and its drained output is
    appended before the next batch's upstream rows are consumed.

    Replay law (tested): streaming over any micro-batch split ==
    concatenation of per-batch ``feedback_pipe`` fixpoints; a single
    batch == ``feedback_pipe`` exactly.

    Output accumulates in ``out_dir`` as parquet (a temp dir when not
    given) — appended per batch, never collected to the driver — and
    is returned as a batch DataFrame.  Scale posture: state between
    batches is nothing but the output files; each fixpoint is
    distributed; driver holds only the loop counter."""
    from conduino_spark.lift import fixpoint_rounds

    out_dir = out_dir or tempfile.mkdtemp(prefix="feedback_stream_")
    schema_holder: list = []

    def one_batch(batch_df: DataFrame, batch_id: int) -> None:
        res = fixpoint_rounds(stage, batch_df, max_iters=max_iters,
                              until_empty=until_empty)
        schema_holder.append(res.schema)
        res.write.mode("append").parquet(out_dir)

    q = (src.df(spark).writeStream.foreachBatch(one_batch)
         .option("checkpointLocation",
                 os.path.join(out_dir, "_checkpoint"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    try:
        return spark.read.parquet(out_dir)
    except Exception:
        if schema_holder:           # every batch fixpointed to empty
            return local_frame(spark, [], schema_holder[-1])
        raise


def map_accum_stream(step: Callable[[Any, Any], tuple[Any, Any]], seed: Any, *,
                     key_col: str, returns: str = "double",
                     api: str = "auto") -> Stage:
    """Streaming ``mapAccum`` (Combinators.hs:344-353) per key: state-
    store value state carries the accumulator across micro-batches —
    the reified continuation of squeezePipe (SURVEY §3.2).

    Two backends: ``transformWithStateInPandas`` (Spark 4 preferred;
    needs google.protobuf) and ``applyInPandasWithState`` (GroupState,
    Arrow-only).  ``api='auto'`` picks TWS when protobuf is importable
    — this container lacks it, so the GroupState path is the tested
    one.  Order within a key follows ``__seq`` inside each batch;
    cross-batch order = arrival order (the reference's push semantics).
    """
    if api == "auto":
        try:
            import google.protobuf  # noqa: F401 — TWS hard-depends on it
            api = "tws"
        except ImportError:
            api = "group_state"

    out_schema = f"key long, {SEQ} long, v {returns}"
    state_schema = "s string"

    def fn_group_state(df: DataFrame) -> DataFrame:
        import json

        from pyspark.sql.streaming.state import GroupStateTimeout

        def handle(key, pdf_iter, state):
            s = json.loads(state.get[0]) if state.exists else seed
            if isinstance(s, list):
                s = tuple(s)
            out_seq, out_v = [], []
            for pdf in pdf_iter:
                for _, r in pdf.sort_values(SEQ).iterrows():
                    s, o = step(r["v"], s)
                    out_seq.append(int(r[SEQ]))
                    out_v.append(o)
            state.update((json.dumps(s),))
            yield pd.DataFrame({"key": [key[0]] * len(out_seq),
                                SEQ: out_seq, "v": out_v})

        return (df.withColumn("key", F.col(key_col).cast("long"))
                  .groupBy("key")
                  .applyInPandasWithState(
                      handle, out_schema, state_schema,
                      "append", GroupStateTimeout.NoTimeout))

    def fn_tws(df: DataFrame) -> DataFrame:
        import json

        from pyspark.sql.streaming.stateful_processor import StatefulProcessor

        class P(StatefulProcessor):
            def init(self, handle):
                self.state = handle.getValueState("acc", state_schema)

            def handleInputRows(self, key, rows, timerValues):
                s = (json.loads(self.state.get()[0])
                     if self.state.exists() else seed)
                if isinstance(s, list):
                    s = tuple(s)
                out_seq, out_v = [], []
                for pdf in rows:
                    for _, r in pdf.sort_values(SEQ).iterrows():
                        s, o = step(r["v"], s)
                        out_seq.append(int(r[SEQ]))
                        out_v.append(o)
                self.state.update((json.dumps(s),))
                yield pd.DataFrame({"key": [key[0]] * len(out_seq),
                                    SEQ: out_seq, "v": out_v})

            def close(self):
                pass

        return (df.withColumn("key", F.col(key_col).cast("long"))
                  .groupBy("key")
                  .transformWithStateInPandas(
                      P(), outputStructType=out_schema,
                      outputMode="append", timeMode="none"))

    fn = fn_tws if api == "tws" else fn_group_state
    return Stage(fn, name="map_accum_stream", seq_preserving=False)


#: event_type value of watermark-flushing sentinel rows (filter out of
#: results); see ``stage_events_dir(sentinel_hours=...)``.
SENTINEL_TYPE = "__sentinel__"


def stage_events_dir(spark_parquet_path: str, out_dir: Optional[str] = None,
                     n_chunks: int = 4, *,
                     sentinel_hours: Optional[float] = None,
                     ts_col: str = "ts", type_col: str = "event_type") -> str:
    """Split one parquet file into n chunk-files in a temp dir so the
    file-stream source replays it as n micro-batches (test utility).

    ``sentinel_hours``: additionally append TWO single-row sentinel
    files (``type_col = SENTINEL_TYPE``, ``ts = max(ts) +
    sentinel_hours``) that arrive as the LAST two micro-batches.  The
    first advances the watermark past every real window; the second
    triggers the batch in which append mode EMITS them — the replay law
    (feedPipe, Data/Conduino.hs:245-257): a drained stream with the
    watermark beyond all data equals the batch aggregation exactly, so
    the query gains a plain GROUP BY oracle.  Two files (not one)
    because emission uses the watermark computed from PRIOR batches."""
    import pyarrow.parquet as pq
    import pyarrow as pa

    out_dir = out_dir or tempfile.mkdtemp(prefix="stream_src_")
    t = pq.read_table(spark_parquet_path)
    # nanosecond timestamps are unreadable by Spark 4 parquet; downcast
    fields = []
    changed = False
    for f in t.schema:
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            fields.append(pa.field(f.name, pa.timestamp("us")))
            changed = True
        else:
            fields.append(f)
    if changed:
        import pyarrow.compute as pc
        cols = [
            pc.cast(t.column(f.name), f.type, safe=False)
            if t.schema.field(f.name).type != f.type else t.column(f.name)
            for f in fields
        ]
        t = pa.table(cols, schema=pa.schema(fields))
    n = t.num_rows
    chunk = max(1, n // n_chunks)
    t0 = time.time()
    for i in range(n_chunks):
        lo = i * chunk
        hi = n if i == n_chunks - 1 else min(n, (i + 1) * chunk)
        if lo >= hi:
            break
        p = os.path.join(out_dir, f"part_{i:03d}.parquet")
        pq.write_table(t.slice(lo, hi - lo), p)
        # the file source orders pending files by MODIFICATION TIME, and
        # small chunks all land inside one clock tick — tie order is then
        # listing-dependent, which scrambled the in-order replay law for
        # order-sensitive consumers (observed: stream_sessionize under
        # full-suite timing).  Force strictly increasing mtimes.
        os.utime(p, (t0 + i, t0 + i))
    if sentinel_hours is not None:
        import pyarrow.compute as pc

        max_ts = pc.max(t.column(ts_col)).as_py()
        far = max_ts + timedelta(hours=sentinel_hours)
        base = t.slice(t.num_rows - 1, 1)  # clone a real row's shape
        for j, ts in enumerate((far, far + timedelta(seconds=1))):
            cols = []
            for f in base.schema:
                if f.name == ts_col:
                    cols.append(pa.array([ts], type=f.type))
                elif f.name == type_col:
                    cols.append(pa.array([SENTINEL_TYPE], type=f.type))
                else:
                    cols.append(base.column(f.name))
            p = os.path.join(out_dir, f"part_{900 + j:03d}.parquet")
            pq.write_table(pa.table(cols, schema=base.schema), p)
            # the file source orders pending files by modification time:
            # force the sentinels strictly after the data chunks' forced
            # mtimes (t0 + i above) and after each other so they form
            # the final micro-batches
            bump = t0 + n_chunks + 1.0 + j
            os.utime(p, (bump, bump))
    return out_dir


def socket_source(host: str = "localhost", port: int = 9999) -> Source:
    """``stdin`` chunked / console source (Combinators.hs:228-243): an
    unbounded line stream pushed by an external writer.  Spark-native
    analog: the socket text source — one row per line in column
    ``line``.  Arrival order IS the stream order (no key-derived
    ``__seq`` exists for a console); compose ordered operators after a
    bounded drain, mirroring how the reference's ``stdinLines`` is
    stdin + lines + takeWhile (tests/test_streaming.py).  Dev/test
    source exactly like the reference's stdin; production streams use
    file/rate/Kafka-style sources."""

    def fn(spark: SparkSession) -> DataFrame:
        df = (spark.readStream.format("socket")
              .option("host", host).option("port", port).load())
        return df.withColumnRenamed("value", "line")

    return Source(fn, name=f"socket({host}:{port})", bounded=False)


def console_stream_sink(src: Source, spark: SparkSession, *,
                        truncate: bool = False,
                        available_now: bool = True):
    """``stdout`` streaming analog (Combinators.hs:287-297): write each
    micro-batch to the console.  Returns the started query (caller
    stops/awaits)."""
    return (src.df(spark).writeStream.format("console")
            .option("truncate", str(truncate).lower())
            .trigger(availableNow=available_now)
            .start())


def stream_stream_join(left: Source, right: Source, *, on: str,
                       left_time: str, right_time: str,
                       lookback: str = "1 hour",
                       watermark: str = "1 hour",
                       right_cols: Optional[dict] = None) -> Source:
    """Watermarked stream-stream inner join: each left row matches right
    rows with the same key whose time falls in
    ``[left_time - lookback, left_time]`` — the streaming analog of
    ``asof/interval`` joins (operators/temporal.py).

    Watermarks bound BOTH sides' state: Spark drops buffered rows older
    than the watermark, so state is O(key-cardinality x lookback), not
    unbounded — the required shape for an infinite stream."""
    rc = right_cols or {}

    def fn(spark: SparkSession) -> DataFrame:
        l = left.df(spark).withWatermark(left_time, watermark).alias("l")
        clash = [c for c in rc if c in l.columns]
        if clash:
            raise ValueError(
                f"stream_stream_join output columns collide with left: {clash}")
        r = right.df(spark).withWatermark(right_time, watermark)
        r = r.select(F.col(on).alias("__rk"),
                     F.col(right_time).alias("__rt"),
                     *[F.col(src).alias(out) for out, src in rc.items()]).alias("r")
        cond = (
            (F.col(f"l.{on}") == F.col("__rk"))
            & (F.col("__rt") <= F.col(f"l.{left_time}"))
            & (F.col("__rt") >= F.col(f"l.{left_time}") - F.expr(f"interval {lookback}"))
        )
        return l.join(r, cond, "inner").drop("__rk", "__rt")

    return Source(fn, name=f"stream_join({left.name},{right.name})", bounded=False)


def stream_dedup(keys: list, *, watermark_col: Optional[str] = None,
                 delay: str = "1 hour") -> Stage:
    """Streaming exact dedup on ``keys`` (``dedup_exact``'s incremental
    analog): state holds one entry per key, and the watermark bounds it
    — without ``watermark_col`` Spark would keep EVERY key forever,
    which no infinite stream survives.  Batch DataFrames pass through
    ``dropDuplicates`` unchanged (same semantics, no state)."""

    def fn(df: DataFrame) -> DataFrame:
        if df.isStreaming and watermark_col:
            return (df.withWatermark(watermark_col, delay)
                      .dropDuplicatesWithinWatermark(keys))
        return df.dropDuplicates(keys)

    return Stage(fn, name=f"stream_dedup({','.join(keys)})",
                 seq_preserving=False)


def stream_sessionize(gap: float = 1800.0, *, key_col: str = "user_id",
                      time_col: str = "ts", id_col: str = "event_id",
                      out: str = "session_id") -> Stage:
    """Streaming row-level sessionization: per-key GroupState carries
    ``(last event time, current session ordinal)`` and labels every
    incoming event — the push-mode counterpart of
    ``operators.temporal.sessionize`` (same strict-> gap rule and
    0-based per-key ordinals; on a time-ordered stream the labels are
    identical, replay-law tested).

    State per key is O(1) — two longs + a seen flag — and the label
    arithmetic is vectorized (sort + diff + cumsum), no per-row Python
    loop.  The group's WHOLE micro-batch is concatenated and sorted
    ONCE before labeling: Arrow hands the handler a chunk iterator
    whose boundaries can interleave mapper outputs, so sorting chunks
    independently would mislabel any cross-chunk reordering (the
    replay law would silently fail past one Arrow batch per key).
    Memory is bounded by the per-key micro-batch slice, which
    micro-batch sizing already bounds.  Late (out-of-order ACROSS
    micro-batches) events are labeled against the running state rather
    than re-splitting closed sessions — the standard streaming
    relaxation; replay in order for exactness."""
    if gap < 0:
        raise ValueError(f"gap must be >= 0, got {gap}")
    gap_us = int(round(gap * 1_000_000))
    # `seen` disambiguates "no previous event" from any real last_t —
    # a -1 sentinel would misread legitimate pre-1970 timestamps
    state_schema = "last_t long, sess long, seen long"

    def fn(df: DataFrame) -> DataFrame:
        from pyspark.sql.streaming.state import GroupStateTimeout

        # group by the key AS TYPED: casting to long would turn string
        # keys into NULL and collapse every key into one session stream
        ktype = df.schema[key_col].dataType.simpleString()
        out_schema = f"key {ktype}, {id_col} long, {out} long"

        def handle(key, pdf_iter, state):
            last_t, sess, seen = state.get if state.exists else (0, 0, 0)
            pdf = pd.concat(list(pdf_iter), ignore_index=True)
            if len(pdf):
                pdf = pdf.sort_values("__t")
                t = pdf["__t"].to_numpy()
                prev = _np.concatenate(([last_t], t[:-1]))
                first_ok = _np.ones(len(t), dtype=bool)
                first_ok[0] = bool(seen)
                brk = (first_ok & (t - prev > gap_us)).astype("int64")
                ids = sess + _np.cumsum(brk)
                yield pd.DataFrame({"key": pdf["key"],
                                    id_col: pdf[id_col], out: ids})
                sess = int(ids[-1])
                last_t = int(t[-1])
                seen = 1
            state.update((last_t, sess, seen))

        from ..timeutil import epoch_micros
        ev = df.select(F.col(key_col).alias("key"),
                       F.col(id_col),
                       epoch_micros(time_col).alias("__t"))
        return (ev.groupBy("key")
                  .applyInPandasWithState(
                      handle, out_schema, state_schema,
                      "append", GroupStateTimeout.NoTimeout))

    return Stage(fn, name="stream_sessionize", seq_preserving=False)


def stream_funnel(steps: list, *, key_col: str = "user_id",
                  type_col: str = "event_type", time_col: str = "ts") -> Stage:
    """Streaming ordered-funnel: per-key GroupState advances through
    ``steps`` as events arrive and emits ONE row (key, t1…tk) the
    micro-batch the last step completes — the push-mode counterpart of
    ``operators.temporal.funnel`` (same greedy-earliest semantics; on
    a time-ordered stream the results are identical, replay-law
    tested).  Times are epoch-second doubles computed as exact long
    micros / 1e6, matching the batch operator bit-for-bit.

    State per key is O(k) (step index + accepted times, JSON) and is
    retained after completion so a key converts at most once.  Late
    (out-of-order) events cannot retro-fill an earlier step — the
    standard streaming relaxation; replay in order for exactness."""
    if not steps:
        raise ValueError("stream_funnel: steps must be non-empty")
    k = len(steps)
    state_schema = "s string"

    def fn(df: DataFrame) -> DataFrame:
        import json

        from pyspark.sql.streaming.state import GroupStateTimeout

        # same typed-key rule as stream_sessionize: never cast the key
        ktype = df.schema[key_col].dataType.simpleString()
        out_schema = (f"key {ktype}, " +
                      ", ".join(f"t{i} double" for i in range(1, k + 1)))

        def handle(key, pdf_iter, state):
            st = (json.loads(state.get[0]) if state.exists
                  else {"i": 0, "ts": [], "done": False})
            hit = None
            for pdf in pdf_iter:
                if st["done"]:
                    break
                for _, r in pdf.sort_values("__t").iterrows():
                    if st["done"]:
                        break
                    want = steps[st["i"]]
                    t = int(r["__t"])
                    if r["__et"] == want and (st["i"] == 0
                                              or t > st["ts"][-1]):
                        st["ts"].append(t)
                        st["i"] += 1
                        if st["i"] == k:
                            st["done"] = True
                            hit = list(st["ts"])
            state.update((json.dumps(st),))
            if hit is not None:
                yield pd.DataFrame(
                    {"key": [key[0]],
                     **{f"t{i + 1}": [hit[i] / 1_000_000.0]
                        for i in range(k)}})

        from ..timeutil import epoch_micros
        ev = df.select(F.col(key_col).alias("key"),
                       F.col(type_col).alias("__et"),
                       epoch_micros(time_col).alias("__t"))
        return (ev.groupBy("key")
                  .applyInPandasWithState(
                      handle, out_schema, state_schema,
                      "append", GroupStateTimeout.NoTimeout))

    return Stage(fn, name="stream_funnel", seq_preserving=False)


def windowed_quantiles(ts_col: str, duration: str, expr: str,
                       qs: "dict[str, float] | None" = None, *,
                       lo: float, hi: float, bins: int = 128,
                       keys: "tuple[str, ...]" = (),
                       slide: "str | None" = None,
                       watermark: "str | None" = None) -> Stage:
    """Per-event-time-window deterministic histogram quantiles — the
    STREAMING form of ``operators.sketches.binned_quantiles``
    (explicit-bounds mode), and proof of its docstring's claim that the
    explicit-``lo``/``hi`` sketch is the one a streaming aggregation
    can host: per (window, keys) group the state is exactly ``bins``
    conditional counters (simple sums — valid in append mode behind a
    watermark), and the quantile pick is a pure post-aggregation
    projection over the count array.

    Works identically on batch and streaming DataFrames (the
    ``event_window`` contract), and on batch matches
    ``binned_quantiles(..., lo=..., hi=...)`` grouped by the same
    window BIT-FOR-BIT: same clamp, same bin expression, same
    edge arithmetic, same first-bin-at-cum-threshold pick.

    State per group is O(bins) regardless of stream length; values are
    clamped into the edge bins like the batch sketch.  Keep ``bins``
    modest (default 128): each bin is one aggregate expression."""
    from conduino_spark.operators.sketches import QUANTILES_DEFAULT
    qs = dict(qs) if qs else dict(QUANTILES_DEFAULT)
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    if not lo < hi:
        raise ValueError(f"need lo < hi, got [{lo}, {hi}]")
    for name, q in qs.items():
        if not 0.0 < q <= 1.0:
            raise ValueError(f"quantile {name}={q} outside (0, 1]")
    lo, hi = float(lo), float(hi)
    step = (hi - lo) / float(bins)  # same IEEE value the batch sketch
    #                                 computes engine-side from literals

    def fn(df: DataFrame) -> DataFrame:
        d = df.drop(SEQ) if SEQ in df.columns else df
        if watermark and d.isStreaming:
            d = d.withWatermark(ts_col, watermark)
        x = F.greatest(F.lit(lo), F.least(F.lit(hi),
                                          F.expr(expr).cast("double")))
        bin_ = F.least(F.floor((x - F.lit(lo)) / (F.lit(hi) - F.lit(lo))
                               * bins),
                       F.lit(bins - 1)).cast("long")
        win = (F.window(ts_col, duration, slide) if slide
               else F.window(ts_col, duration))
        binned = (d.where(F.expr(expr).isNotNull())
                   .withColumn("__bin", bin_))
        if d.isStreaming:
            # streaming: ONE aggregation (chained streaming aggs are
            # unsupported) — bins conditional counters, O(bins) state
            cnts = [F.sum(F.when(F.col("__bin") == b, 1).otherwise(0))
                     .cast("long") for b in range(bins)]
            agg = (binned.groupBy(win.alias("w"), *keys)
                         .agg(F.array(*cnts).alias("__cnt")))
        else:
            # batch fast path: two-phase — per-(window, keys, bin)
            # counts (narrow, map-side partials) then a sparse→dense
            # map lookup, instead of `bins` aggregate expressions per
            # row.  Same counts, same arithmetic → BIT-identical to
            # the streaming form (the replay law crosses the two
            # implementations, which is what makes it a real check).
            per_bin = (binned.groupBy(win.alias("w"), *keys, F.col("__bin"))
                             .agg(F.count(F.lit(1)).alias("__c")))
            mp = F.map_from_entries(
                F.collect_list(F.struct("__bin", "__c")))
            agg = (per_bin.groupBy("w", *keys)
                          .agg(mp.alias("__m"))
                          .select("w", *keys, F.transform(
                              F.sequence(F.lit(0).cast("long"),
                                         F.lit(bins - 1)),
                              lambda b: F.coalesce(
                                  F.element_at(F.col("__m"), b),
                                  F.lit(0).cast("long"))).alias("__cnt")))
        n = F.aggregate("__cnt", F.lit(0).cast("long"), lambda a, c: a + c)
        agg = agg.withColumn("__n", n)

        def pick(q: float):
            acc0 = F.struct(F.lit(0).cast("long").alias("cum"),
                            F.lit(None).cast("double").alias("edge"))

            def step_fn(acc, i):
                cum = acc["cum"] + F.element_at(F.col("__cnt"),
                                                i.cast("int"))
                edge = F.coalesce(
                    acc["edge"],
                    F.when(cum.cast("double") >= F.col("__n") * F.lit(q),
                           F.lit(lo) + i.cast("double") * F.lit(step)))
                return F.struct(cum.alias("cum"), edge.alias("edge"))

            return F.aggregate(F.sequence(F.lit(1), F.lit(bins)), acc0,
                               step_fn, lambda a: a["edge"])

        return agg.select(F.col("w.start").alias("w_start"),
                          F.col("w.end").alias("w_end"), *keys,
                          *[pick(q).alias(name) for name, q in qs.items()])

    return Stage(fn, name=f"windowed_quantiles(bins={bins})",
                 seq_preserving=False)


def ingest_corpus_stream(stream: DataFrame, spark: SparkSession, *,
                         out_dir: str, sig_dir: str,
                         checkpoint_dir: Optional[str] = None,
                         text_col: str = "text", id_col: str = "doc_id",
                         rules: "dict | None" = None,
                         within_batch_dedup: bool = True,
                         available_now: bool = True) -> DataFrame:
    """Incremental corpus ingestion — the production loop that turns a
    stream of raw documents into a deduplicated, quality-gated training
    corpus, composing the engine's pieces per micro-batch via
    ``foreachBatch``:

    1. ``corpus_filter(keep_only=True)`` — the one-projection quality
       gate (no shuffle, streaming-safe by construction);
    2. ``minhash_dedup`` — within-batch near-dup removal (lower id
       survives, deterministic);
    3. ``minhash_dedup_against(ref_sigs=True)`` — drop docs LSH-similar
       to ANYTHING already kept, against the accumulated SIGNATURE
       table (never the kept text: the 100 TB economics — each batch
       pays its own signing + one band equi-join against a narrow
       16-long-per-doc table);
    4. write survivors to ``out_dir/batch=<id>`` and their signatures
       to ``sig_dir/batch=<id>`` (the state the next batch dedups
       against).

    Everything inside the batch function is JVM column algebra (no
    Python UDFs), so executors never import this package.  The result
    is deterministic for a given batch ORDER: batch k's survivors
    depend only on batches < k — the replay law (a drained
    ``availableNow`` run equals the same per-batch loop run as plain
    batch jobs) is pinned in tests/test_round6c.py.

    Fault posture (ADVICE r6): prior signatures are detected by a
    SPARK-level read of ``sig_dir`` — never a driver-local ``os.path``
    probe, which returns False for every object-store URI (s3/hdfs/
    dbfs) and would silently disable cross-batch dedup, the operator's
    whole point.  Writes are batch_id-SCOPED OVERWRITES: foreachBatch
    is at-least-once, so a batch retried after a partial write rewrites
    its own ``batch=<id>`` subdirectory instead of appending
    duplicates, and the dedup reference excludes the retrying batch's
    own signatures (a completed-then-retried batch must not dedup
    against itself and vanish).  tests/test_round7.py pins both.

    Returns the final kept-corpus DataFrame (``out_dir`` read back,
    minus the ``batch`` layout column).
    """
    cols = stream.columns

    def one_batch(batch_df: DataFrame, batch_id: int) -> None:
        _ingest_one_batch(batch_df, batch_id, out_dir=out_dir,
                          sig_dir=sig_dir, cols=cols, text_col=text_col,
                          id_col=id_col, rules=rules,
                          within_batch_dedup=within_batch_dedup)

    ckpt = checkpoint_dir or tempfile.mkdtemp(prefix="ingest_ckpt_")
    q = (stream.writeStream.foreachBatch(one_batch)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=available_now)
         .start())
    q.awaitTermination()
    return (spark.read.option("basePath", out_dir).parquet(out_dir)
                 .drop("batch"))


def _read_prior_sigs(spark: SparkSession, sig_dir: str,
                     batch_id: int) -> "DataFrame | None":
    """Accumulated signature table from batches OTHER than
    ``batch_id``, or None when none exist yet.  The probe is the Spark
    reader itself (AnalysisException ⇒ absent/empty), so it works on
    any Hadoop filesystem, not just file:// (ADVICE r6)."""
    from pyspark.errors import AnalysisException
    try:
        sigs = spark.read.option("basePath", sig_dir).parquet(sig_dir)
    except AnalysisException:
        return None  # path absent or no parquet yet: first batch
    # self-exclusion: under at-least-once retry, this batch's own prior
    # (partial or complete) signature write must not be the reference
    return sigs.where(F.col("batch") != batch_id).drop("batch")


def _ingest_one_batch(batch_df: DataFrame, batch_id: int, *,
                      out_dir: str, sig_dir: str,
                      cols: "list[str]", text_col: str, id_col: str,
                      rules: "dict | None",
                      within_batch_dedup: bool) -> None:
    """One micro-batch of :func:`ingest_corpus_stream` — module-level so
    the retry-idempotency contract is directly testable."""
    from conduino_spark.operators.dedup import (
        minhash_dedup, minhash_dedup_against, minhash_signatures,
    )
    from conduino_spark.operators.text import corpus_filter

    kept = corpus_filter(text_col, rules=rules, keep_only=True)(
        batch_df).select(*cols)
    if within_batch_dedup:
        kept = minhash_dedup(text_col, id_col)(kept)
    ref = _read_prior_sigs(batch_df.sparkSession, sig_dir, batch_id)
    if ref is not None:
        kept = minhash_dedup_against(ref, text_col, id_col,
                                     ref_sigs=True)(kept)
    kept = kept.persist()
    try:
        kept.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")
        minhash_signatures(text_col, id_col)(kept) \
            .write.mode("overwrite").parquet(f"{sig_dir}/batch={batch_id}")
    finally:
        kept.unpersist()


def windowed_countmin_cells(ts_col: str, duration: str, expr: str, *,
                            width: int = 2048, depth: int = 4,
                            keys: "tuple[str, ...]" = (),
                            watermark: "str | None" = None) -> Stage:
    """Per-event-time-window Count-Min CELLS — streaming frequency
    sketching ("how often did each URL appear this hour, within
    2n/width") as ONE valid append-mode aggregation: ``COUNT(*) GROUP
    BY (window, keys, d, c)`` with the same md5-salted cell positions
    as :func:`~conduino_spark.operators.sketches.countmin_build`.
    Emits finalized sparse (w_start, w_end, keys…, d, c, n) rows once
    the watermark passes each window;
    :func:`~conduino_spark.operators.sketches.countmin_assemble` turns
    them into build-shaped dense rows for ``countmin_estimate``
    downstream.  Completes the streaming sketch trio with
    :func:`windowed_hll_registers` (distincts) and
    :func:`windowed_quantiles` (quantiles).

    Works identically on batch and streaming DataFrames; on batch the
    assembled row is BIT-identical to ``countmin_build`` over that
    window's rows (law-tested).  State per (window, keys) group is ≤
    depth·width cells regardless of stream length."""
    from conduino_spark.operators.sketches import _countmin_cells
    if width < 1 or depth < 1:
        raise ValueError(f"need width >= 1 and depth >= 1, got "
                         f"width={width}, depth={depth}")

    def fn(df: DataFrame) -> DataFrame:
        d = df.drop(SEQ) if SEQ in df.columns else df
        if watermark and d.isStreaming:
            d = d.withWatermark(ts_col, watermark)
        col = F.expr(expr)
        return (d.where(col.isNotNull())
                 .select(F.window(ts_col, duration).alias("w"), *keys,
                         F.explode(_countmin_cells(col, width, depth))
                         .alias("__p"))
                 .groupBy("w", *keys, F.col("__p.d").alias("d"),
                          F.col("__p.c").alias("c"))
                 .agg(F.count(F.lit(1)).alias("n"))
                 .select(F.col("w.start").alias("w_start"),
                         F.col("w.end").alias("w_end"), *keys,
                         "d", "c", "n"))

    return Stage(fn, name=f"windowed_countmin(w={width},d={depth})",
                 seq_preserving=False)


def windowed_hll_registers(ts_col: str, duration: str, expr: str, *,
                           p: int = 12,
                           keys: "tuple[str, ...]" = (),
                           watermark: "str | None" = None) -> Stage:
    """Per-event-time-window HyperLogLog registers — streaming distinct
    counts ("unique users per hour") as ONE valid append-mode
    aggregation: ``max(rho) GROUP BY (window, keys, bucket)``.  Emits
    finalized (w_start, w_end, keys…, b, rho) register rows once the
    watermark passes each window; :func:`~conduino_spark.operators.
    sketches.hll_assemble` + ``hll_estimate`` turn them into per-window
    estimates downstream (a second aggregation, so it runs in the batch
    that consumes the stream's output — append mode allows one).

    Works identically on batch and streaming DataFrames, and on batch
    matches ``hll_build(expr, p=p, keys=(window,…))``'s register
    content EXACTLY (same md5 bucket/rho split) — the replay law is
    pinned in tests.  State per (window, keys) group is ≤ 2^p register
    rows regardless of stream length — the whole point of HLL as the
    streaming distinct sketch."""
    from conduino_spark.operators.sketches import _hll_cell
    if not 4 <= p <= 18:
        raise ValueError(f"p must be in [4, 18], got {p}")
    m = 1 << p

    def fn(df: DataFrame) -> DataFrame:
        d = df.drop(SEQ) if SEQ in df.columns else df
        if watermark and d.isStreaming:
            d = d.withWatermark(ts_col, watermark)
        col = F.expr(expr)
        bucket, rho = _hll_cell(col, m)
        return (d.where(col.isNotNull())
                 .groupBy(F.window(ts_col, duration).alias("w"), *keys,
                          bucket.alias("b"))
                 .agg(F.max(rho).alias("rho"))
                 .select(F.col("w.start").alias("w_start"),
                         F.col("w.end").alias("w_end"), *keys, "b", "rho"))

    return Stage(fn, name=f"windowed_hll_registers(p={p})",
                 seq_preserving=False)
