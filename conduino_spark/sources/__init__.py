"""Sources — conduino Combinators.hs §sources re-expressed on Spark.

All sources are "scans" in relational terms (SURVEY §2.3).  Every source
attaches the ``__seq`` order column.  The reference's only connectors
are stdin/file handles (Combinators.hs:228-307); this engine adds the
format-aware readers (parquet/csv/json/text/binaryFile) the reference
lacks (SURVEY §2.7) as pure Spark built-ins.
"""

from __future__ import annotations

import itertools
import os
import threading
import urllib.parse
from collections import OrderedDict
from typing import Any, Callable, Iterable, Optional, Sequence, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from conduino_spark.operators.smallio import local_frame
from conduino_spark.plans.core import SEQ, Source, with_seq_from


def _rows_from_values(values: Sequence[Any]) -> tuple[list, Optional[T.StructType]]:
    """Scalar values become single-column ``v`` rows; dicts/Rows pass through."""
    vals = list(values)
    if vals and isinstance(vals[0], dict):
        return [dict(r, **{SEQ: i}) for i, r in enumerate(vals)], None
    schema = T.StructType([
        T.StructField(SEQ, T.LongType(), False),
        T.StructField("v", _infer_scalar_type(vals), True),
    ])
    return [(i, v) for i, v in enumerate(vals)], schema


def _infer_scalar_type(vals: list) -> T.DataType:
    for v in vals:
        if v is None:
            continue
        if isinstance(v, bool):
            return T.BooleanType()
        if isinstance(v, int):
            return T.LongType()
        if isinstance(v, float):
            return T.DoubleType()
        if isinstance(v, str):
            return T.StringType()
        if isinstance(v, (list, tuple)):
            return T.ArrayType(T.LongType())
    return T.LongType()


def source_list(values: Iterable[Any], *, name: str = "source_list") -> Source:
    """``sourceList`` (Combinators.hs:175-177) — the canonical test source.

    Yields every element of a container; ``__seq`` = enumeration index.
    """
    vals = list(values)

    def fn(spark: SparkSession) -> DataFrame:
        rows, schema = _rows_from_values(vals)
        if schema is None:      # dict rows keep Spark's schema inference
            return spark.createDataFrame(rows)
        return local_frame(spark, rows, schema)

    return Source(fn, name=name)


def range_source(n: int, *, start: int = 0, step: int = 1,
                 num_partitions: Optional[int] = None) -> Source:
    """Dense integer stream via ``spark.range`` — fully parallel, no
    driver materialization (the scale path for synthetic streams)."""

    def fn(spark: SparkSession) -> DataFrame:
        df = spark.range(start, start + n * step, step, num_partitions)
        return df.select(
            ((F.col("id") - F.lit(start)) / F.lit(step)).cast("long").alias(SEQ),
            F.col("id").alias("v"),
        )

    return Source(fn, name=f"range({n})")


# -- unfold family (Combinators.hs:97-172) ------------------------------
# Driver-side generators: inherently sequential state (the reference is
# single-threaded too).  Bounded prefixes of closed-form streams should
# use range_source + an expression instead (documented scale path).

def unfold_maybe(step: Callable[[Any], Optional[tuple[Any, Any]]], seed: Any,
                 *, max_elems: int = 1_000_000) -> Source:
    """``unfoldMaybe`` (Combinators.hs:110-115): stateful generator until None."""

    def gen():
        s = seed
        for _ in range(max_elems):
            r = step(s)
            if r is None:
                return
            o, s = r
            yield o

    return source_list(list(gen()), name="unfold_maybe")


def unfold_either(step: Callable[[Any], Any], seed: Any, *,
                  max_elems: int = 1_000_000) -> tuple[Source, Any]:
    """``unfoldEither`` (Combinators.hs:97-106): unfold that stops WITH a
    typed result.  Returns (source, terminal_result) — the ``a`` channel
    is driver-side plumbing (SURVEY §1.3 on the ``u`` channel)."""
    out, result, s = [], None, seed
    for _ in range(max_elems):
        r = step(s)
        if not isinstance(r, tuple):
            result = r
            break
        o, s = r
        out.append(o)
    return source_list(out, name="unfold_either"), result


def unfold(step: Callable[[Any], tuple[Any, Any]], seed: Any, *, take: int) -> Source:
    """``unfold`` (Combinators.hs:121-130) is infinite; a bounded prefix
    must be requested (``take``) for batch execution.  Unbounded use =
    streaming rate source (conduino_spark.streaming)."""
    def stepper(s):
        return step(s)
    out, s = [], seed
    for _ in range(take):
        o, s = stepper(s)
        out.append(o)
    return source_list(out, name="unfold")


def iterate_source(f: Callable[[Any], Any], x0: Any, *, take: int) -> Source:
    """``iterate`` (Combinators.hs:167-172): f x0, f (f x0), ... —
    EXCLUDES the seed (Combinators.hs:153-166; golden-tested)."""
    out, x = [], x0
    for _ in range(take):
        x = f(x)
        out.append(x)
    return source_list(out, name="iterate")


def iterate_maybe(f: Callable[[Any], Optional[Any]], x0: Any,
                  *, max_elems: int = 1_000_000) -> Source:
    """``iterateMaybe`` (Combinators.hs:143-148): iterate until None."""
    out, x = [], x0
    for _ in range(max_elems):
        x = f(x)
        if x is None:
            break
        out.append(x)
    return source_list(out, name="iterate_maybe")


class Left:
    """Terminal-result marker for the Either-flavored generators
    (``iterateEither``/``repeatEitherM``): returning ``Left(r)`` stops
    the stream WITH typed result ``r``; any other value is the
    reference's ``Right`` (continue/yield).  The ``a`` result channel
    is driver-side plumbing, per the SURVEY §1.3 contract."""

    __slots__ = ("value",)

    def __init__(self, value: Any) -> None:
        self.value = value

    def __repr__(self) -> str:  # pragma: no cover
        return f"Left({self.value!r})"


def iterate_either(f: Callable[[Any], Any], x0: Any,
                   *, max_elems: int = 1_000_000) -> tuple[Source, Any]:
    """``iterateEither`` (Combinators.hs:134-139): iterate, yielding each
    value, until ``f`` returns :class:`Left` — then stop WITH that typed
    result.  Like the reference (``unfoldEither (fmap (join (,)) . f)``)
    the seed itself is NOT yielded.  Returns (source, terminal_result);
    result is None if ``max_elems`` cut the stream first."""
    out, result, x = [], None, x0
    for _ in range(max_elems):
        x = f(x)
        if isinstance(x, Left):
            result = x.value
            break
        out.append(x)
    return source_list(out, name="iterate_either"), result


def repeat_either_m(eff: Callable[[], Any],
                    *, max_elems: int = 1_000_000) -> tuple[Source, Any]:
    """``repeatEitherM`` (Combinators.hs:190-199): repeat a driver
    effect, yielding each plain value, until it returns :class:`Left` —
    the typed-result flavor of ``repeatMaybeM`` (which it generalizes in
    the reference).  Returns (source, terminal_result)."""
    out, result = [], None
    for _ in range(max_elems):
        v = eff()
        if isinstance(v, Left):
            result = v.value
            break
        out.append(v)
    return source_list(out, name="repeat_either_m"), result


def repeat_source(x: Any, *, take: int) -> Source:
    """``repeat`` (Combinators.hs:180-182): constant forever; bounded
    prefix for batch (streaming: rate + lit)."""
    def fn(spark: SparkSession) -> DataFrame:
        return spark.range(take).select(F.col("id").alias(SEQ), F.lit(x).alias("v"))
    return Source(fn, name=f"repeat({x!r})")


def replicate_source(n: int, x: Any) -> Source:
    """``replicate`` (Combinators.hs:185-187): spark.range(n) + lit —
    distributed, no driver list."""
    return repeat_source(x, take=n)


def repeat_m(eff: Callable[[], Any], *, take: int) -> Source:
    """``repeatM`` (Combinators.hs:313-320): driver effect per element,
    bounded prefix."""
    return source_list([eff() for _ in range(take)], name="repeat_m")


def repeat_maybe_m(eff: Callable[[], Optional[Any]], *, max_elems: int = 1_000_000) -> Source:
    """``repeatMaybeM`` (Combinators.hs:206-211): poll effect until None —
    the basis of the reference's file sources."""
    out = []
    for _ in range(max_elems):
        v = eff()
        if v is None:
            break
        out.append(v)
    return source_list(out, name="repeat_maybe_m")


def replicate_m(n: int, eff: Callable[[], Any]) -> Source:
    """``replicateM`` (Combinators.hs:218-224)."""
    return repeat_m(eff, take=n)


# -- file / handle sources (Combinators.hs:228-307) ----------------------

def source_text_lines(path: str, *, name: str = "text_lines") -> Source:
    """``sourceHandleLines`` / ``sourceHandleLinesText``
    (Combinators.hs:245-275): one row per line, blank lines PASSED
    (since 0.2.3.0, CHANGELOG.md:23-24).  ``spark.read.text`` gives one
    row per line; __seq = file order."""

    def fn(spark: SparkSession) -> DataFrame:
        df = spark.read.text(path).withColumnRenamed("value", "line")
        return with_seq_from(df)

    return Source(fn, name=name)


def source_binary(path: str) -> Source:
    """``sourceHandle`` (Combinators.hs:280-288): chunked binary.
    ``binaryFile`` format reads whole files as BinaryType + metadata;
    chunking is Spark's job (partitioned columnar scan)."""

    def fn(spark: SparkSession) -> DataFrame:
        df = spark.read.format("binaryFile").load(path)
        return with_seq_from(df.select("path", "length", "content"))

    return Source(fn, name="binary")


#: session confs the parquet-to-Spark type mapping reads (Spark 4.1's
#: ``ParquetToSparkSchemaConverter``): part of every schema-memo key
_PARQUET_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
)
#: schemas kept by the process-wide footer-keyed memo (LRU beyond this)
_PARQUET_SCHEMA_MEMO_SIZE = 256
_parquet_schemas: "OrderedDict[tuple, T.StructType]" = OrderedDict()
_parquet_schemas_lock = threading.Lock()


def _is_local_file(spark: SparkSession, path: str) -> bool:
    """True when ``path`` names one file on the local default filesystem
    that Spark reads as given: absolute (the JVM resolves a relative
    path against its own working directory), no scheme, no glob."""
    glob = any(c in path for c in "{}[]*?\\")
    if (urllib.parse.urlsplit(path).scheme or glob
            or not os.path.isabs(path) or not os.path.isfile(path)):
        return False
    fs = spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS")
    return fs is None or fs.startswith("file:")


def _parquet_schema_key(spark: SparkSession, path: str) -> tuple:
    """Footer (parquet schema + key-value metadata, which carries
    Spark's own ``org.apache.spark.sql.parquet.row.metadata`` schema)
    plus the type-mapping confs: everything Spark's inference reads."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    # repr's first line is the Python object address, not the schema
    schema = repr(md.schema).split("\n", 1)[-1]
    kv = tuple(sorted((md.metadata or {}).items()))
    return schema, kv, tuple(spark.conf.get(k, None)
                             for k in _PARQUET_SCHEMA_CONFS)


def _scan_local_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` for one local file, minus the
    footer-inference Spark job once this footer has been seen under
    these confs: a hit passes the stored schema, which launches no job."""
    from pyarrow import ArrowException

    try:
        key = _parquet_schema_key(spark, path)
    except (OSError, ArrowException):  # unreadable footer: Spark reports it
        return spark.read.parquet(path)
    with _parquet_schemas_lock:
        schema = _parquet_schemas.get(key)
        if schema is not None:
            _parquet_schemas.move_to_end(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    schema = df.schema
    try:
        # the file may have been replaced while Spark inferred
        unchanged = _parquet_schema_key(spark, path) == key
    except (OSError, ArrowException):
        unchanged = False
    if unchanged:
        with _parquet_schemas_lock:
            _parquet_schemas[key] = schema
            _parquet_schemas.move_to_end(key)
            while len(_parquet_schemas) > _PARQUET_SCHEMA_MEMO_SIZE:
                _parquet_schemas.popitem(last=False)
    return df


def _file_uri_path(uri: str) -> str:
    """Local path of a ``file:`` URI from ``inputFiles()``, %-escapes
    decoded (``file:///a%20b/x`` → ``/a b/x``); other URIs unchanged."""
    u = urllib.parse.urlsplit(uri)
    return urllib.parse.unquote(u.path) if u.scheme == "file" else uri


def read_parquet(path: str, *, seq_col: Optional[str] = None,
                 min_partitions: Union[int, str, None] = None,
                 name: Optional[str] = None) -> Source:
    """Format-aware scan (reference gap, SURVEY §2.7).  ``seq_col``
    designates an existing unique key as the stream order — zero-cost
    at any scale (no global sort, no row_number).

    Building the plan of a single local file (absolute path) launches
    no Spark job after the first time: its schema is inferred once per
    (footer, type-mapping confs) per process and reused from a bounded
    memo.
    The file is still listed and read on every scan, so new contents
    under the same footer schema are seen.  Directories and
    ``scheme://`` paths are inferred on every build (their partition
    columns come from directory names, which a footer cannot show).

    ``min_partitions`` (or ``"auto"`` = the cluster's default
    parallelism) repartitions ONLY when the scan yields fewer splits —
    parquet can't split inside a row group, so a small file with one
    row group pins all downstream per-row compute to ONE task however
    many cores exist.  At scale inputs have thousands of row groups,
    the condition is false, and no shuffle happens."""

    def fn(spark: SparkSession) -> DataFrame:
        local = _is_local_file(spark, path)
        df = (_scan_local_parquet(spark, path) if local
              else spark.read.parquet(path))
        if min_partitions:
            want = (spark.sparkContext.defaultParallelism
                    if min_partitions == "auto" else int(min_partitions))
            # plan-only split estimate (ADVICE r5 pattern): this is a
            # bare scan, so its task count is ~max(n_files, bytes /
            # maxPartitionBytes) — derivable from metadata without
            # .rdd's eager out-of-AQE conversion
            try:
                files = [path] if local else [
                    _file_uri_path(f) for f in df.inputFiles()]
                total = sum(os.path.getsize(f) for f in files)
                mpb = int(spark.conf.get(
                    "spark.sql.files.maxPartitionBytes",
                    "134217728").rstrip("b"))
                n_splits = max(len(files), total // max(mpb, 1))
            except Exception:
                n_splits = 0
            if n_splits < want:
                df = df.repartition(want)
        return with_seq_from(df, seq_col) if seq_col else df

    return Source(fn, name=name or f"parquet({path})")


def read_orc(path: str, *, seq_col: Optional[str] = None,
             name: Optional[str] = None) -> Source:
    """ORC scan — the other columnar warehouse format Spark reads
    natively.  Same contract as :func:`read_parquet`: predicate
    pushdown + column pruning reach the ORC reader (min/max + bloom
    stripe stats), ``seq_col`` designates an existing unique key as the
    stream order at zero cost."""

    def fn(spark: SparkSession) -> DataFrame:
        df = spark.read.orc(path)
        return with_seq_from(df, seq_col) if seq_col else df

    return Source(fn, name=name or f"orc({path})")


def read_csv(path: str, *, schema: Optional[str] = None, header: bool = True,
             seq_col: Optional[str] = None, name: Optional[str] = None,
             **options) -> Source:
    """CSV scan (``sourceHandleLines`` + parse, generalized — reference
    gap, SURVEY §2.7).  Pass an explicit ``schema`` at scale: schema
    inference is an extra full read."""

    def fn(spark: SparkSession) -> DataFrame:
        r = spark.read.option("header", str(header).lower())
        for k, v in options.items():
            r = r.option(k, v)
        df = r.csv(path, schema=schema) if schema else \
            r.option("inferSchema", "true").csv(path)
        return with_seq_from(df, seq_col) if seq_col else df

    return Source(fn, name=name or f"csv({path})")


def read_json(path: str, *, schema: Optional[str] = None,
              seq_col: Optional[str] = None, name: Optional[str] = None,
              **options) -> Source:
    """JSON-lines scan.  Explicit ``schema`` avoids the inference pass
    and keeps unknown fields out of the plan (column pruning reaches
    the parser)."""

    def fn(spark: SparkSession) -> DataFrame:
        r = spark.read
        for k, v in options.items():
            r = r.option(k, v)
        df = r.json(path, schema=schema) if schema else r.json(path)
        return with_seq_from(df, seq_col) if seq_col else df

    return Source(fn, name=name or f"json({path})")


def read_table(sf_dir: str, table: str, *, seq_col: Optional[str] = None,
               min_partitions: Union[int, str, None] = None) -> Source:
    """Driver testdata table (TESTDATA.md).

    ``events.ts`` has arrived as parquet TIMESTAMP(NANOS) (→ bigint
    under the session's ``nanosAsLong`` flag), tz-aware ``timestamp``,
    and tz-naive ``timestamp[us]`` (→ ``timestamp_ntz`` if NTZ inference
    is on) across driver regenerations — normalized here to a
    session-zone microsecond ``timestamp`` (what DuckDB sees too)."""
    base = read_parquet(f"{sf_dir}/{table}.parquet", seq_col=seq_col,
                        min_partitions=min_partitions, name=table)
    if table != "events":
        return base

    def fn(spark: SparkSession) -> DataFrame:
        df = base.df(spark)
        dt = dict(df.dtypes).get("ts")
        if dt == "bigint":
            df = df.withColumn(
                # integer DIV, not /1000: nanos ~1.7e18 exceed double's
                # 2^53 mantissa, so float division rounds at ~256 ns
                # granularity and lands ±1 µs off DuckDB's exact
                # truncation (observed in the funnel oracle replay)
                "ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif dt == "timestamp_ntz":
            # session zone is UTC, so this is value-identical to the
            # naive semantics DuckDB's oracle uses
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df

    return Source(fn, name=table)


def stdin_lines(*, stream=None, max_lines: int = 1_000_000) -> Source:
    """``stdinLines`` (Combinators.hs:228-231): line source that stops at
    EOF **or the first empty line** (the reference composes
    ``sourceHandleLines .| takeWhile (not . null)``)."""
    import sys

    stream = stream if stream is not None else sys.stdin
    out = []
    for _ in range(max_lines):
        line = stream.readline()
        if not line:
            break
        line = line.rstrip("\n")
        if line == "":
            break
        out.append(line)
    src = source_list(out, name="stdin_lines")

    def fn(spark: SparkSession) -> DataFrame:
        return src.df(spark).withColumnRenamed("v", "line")

    return Source(fn, name="stdin_lines")


def lift_zip_source(value: Any) -> Source:
    """``liftZipSource`` (Data/Conduino.hs:531-533): one-element source
    from a driver-side value."""
    return source_list([value], name="lift_zip_source")


def gen_source(gen: Callable[[], Iterable[Any]]) -> Source:
    """``genSource`` (Data/Conduino.hs:570-577): generator ⇒ source."""
    return source_list(list(gen()), name="gen_source")


def from_dataframe(df: DataFrame, *, seq_col: Optional[str] = None,
                   name: str = "df") -> Source:
    """Wrap an existing DataFrame as a Source (``fromListT``-ish interop,
    Data/Conduino.hs:552-564)."""
    out = with_seq_from(df, seq_col) if SEQ not in df.columns else df
    return Source(lambda spark: out, name=name)
