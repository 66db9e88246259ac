"""Distributed sketches with engine-portable determinism.

``kmv_distinct`` — K-Minimum-Values distinct-count sketch (the classic
bottom-k estimator): hash every value, keep the k smallest DISTINCT
hashes, estimate ``|D| ≈ (k-1) · M / h_(k)`` where ``M`` is the hash
space size and ``h_(k)`` the k-th minimum.  Standard in Theta-sketch
lineage; mergeable by construction (the k smallest of a union is a
function of each side's k smallest).

Scale shape: hashing is a projection; the distinct() is one shuffle on
a 4-byte hash (never the value); the bottom-k compiles to
TakeOrderedAndProject — a size-k heap per partition, k·partitions rows
to the driver-side merge.  State is O(k) regardless of data size.

Determinism: hashes are md5-derived (functions/hashing.h32), so a
DuckDB oracle replays the ESTIMATE bit-identically — unlike
approx_count_distinct (HLL++), whose sketch is engine-private.
"""

from __future__ import annotations

from typing import Union

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from conduino_spark.functions.hashing import h32, h32_sql
from conduino_spark.plans.core import Stage

#: h32 values live in [0, 2^32): first 8 hex digits of md5
KMV_SPACE = 4294967296.0


def kmv_distinct(expr: Union[str, Column], k: int = 256, *,
                 out: str = "approx_distinct") -> Stage:
    """Bottom-k distinct estimate of ``expr``; exact when fewer than k
    distinct values exist (the sketch saw everything)."""
    col = F.expr(expr) if isinstance(expr, str) else expr

    def fn(df: DataFrame) -> DataFrame:
        h = (df.select(h32(col).alias("__h"))
               .where(col.isNotNull())
               .distinct())
        smallest = h.orderBy("__h").limit(k)
        agg = smallest.agg(F.count(F.lit(1)).alias("__n"),
                           F.max("__h").alias("__kth"))
        est = F.when(F.col("__n") < k, F.col("__n").cast("double")) \
               .otherwise(F.round(F.lit((k - 1) * KMV_SPACE) / F.col("__kth"), 6))
        return agg.select(est.alias(out))

    return Stage(fn, name=f"kmv_distinct(k={k})", seq_preserving=False)


def kmv_distinct_sql(expr: str, k: int = 256, *,
                     out: str = "approx_distinct",
                     from_clause: str = "") -> str:
    """DuckDB rendering of :func:`kmv_distinct` — bit-identical."""
    return f"""
      WITH __h AS (SELECT DISTINCT {h32_sql(expr)} AS h {from_clause}
                   WHERE {expr} IS NOT NULL),
      __s AS (SELECT h FROM __h ORDER BY h LIMIT {k}),
      __a AS (SELECT count(*) AS n, max(h) AS kth FROM __s)
      SELECT CASE WHEN n < {k} THEN CAST(n AS DOUBLE)
                  ELSE round({float((k - 1) * KMV_SPACE)!r} / kth, 6)
             END AS {out} FROM __a"""


#: bloom filter word width: 63 bits per long keeps every shift result
#: positive in BOTH Spark and DuckDB (bit 63 would flip the sign and
#: the engines disagree on overflow behavior)
BLOOM_WORD_BITS = 63


def _salted_pos(col: Column, i: int, size: int) -> Column:
    """``h32('i|' || col) % size``: the Bloom bit / Count-Min cell of
    ``col`` under salt ``i``, for every build and probe of both."""
    return h32(F.concat(F.lit(f"{i}|"), col.cast("string"))) % size


def bloom_build(expr: Union[str, Column], *, m_bits: int = 1 << 20,
                k: int = 5, out: str = "bloom") -> Stage:
    """Build a Bloom filter over ``expr`` as ONE row holding the bit
    array (``array<long>``, 63 bits per word) — the classic membership
    sketch for join/filter pre-pruning: O(m) state regardless of data
    size, mergeable by word-wise OR, ~``(1−e^{−kn/m})^k`` false-positive
    rate and NO false negatives.

    Deterministic across engines: positions are ``h32(i || value) %
    m_bits`` (md5-derived), so a DuckDB oracle rebuilds the identical
    words — unlike Spark's own ``bloomFilter``, whose layout is
    engine-private.

    Plan: projection → posexplode(k positions) → distinct → ONE hash
    aggregate over ≤ ``m_bits/63`` word groups (map-side partials; only
    int pairs shuffle) → dense array via a sparse-to-dense aggregate.
    Use :func:`bloom_contains` to probe.

    The result row CARRIES its parameters (``m_bits``/``k`` columns)
    so a probe can never silently run with mismatched geometry — a
    build/probe parameter mismatch is the one way a Bloom filter
    produces false NEGATIVES."""
    if m_bits < BLOOM_WORD_BITS:
        raise ValueError(f"m_bits must be >= {BLOOM_WORD_BITS}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    col = F.expr(expr) if isinstance(expr, str) else expr
    n_words = (m_bits + BLOOM_WORD_BITS - 1) // BLOOM_WORD_BITS

    def fn(df: DataFrame) -> DataFrame:
        pos = F.array(*[_salted_pos(col, i, m_bits) for i in range(k)])
        p = (df.where(col.isNotNull())
               .select(F.explode(pos).alias("__p"))
               .distinct())
        # F.shiftleft only accepts a literal shift; call_function routes
        # the column-valued bit index through the SQL function
        words = (p.groupBy((F.col("__p") / BLOOM_WORD_BITS)
                           .cast("long").alias("__w"))
                  .agg(F.bit_or(F.call_function(
                      "shiftleft", F.lit(1).cast("long"),
                      (F.col("__p") % BLOOM_WORD_BITS).cast("int")))
                       .alias("__bits")))
        # sparse -> dense in ONE pass: word map -> per-index lookup
        # (an aggregate-with-transform fold here would be O(n_words^2)
        # column ops on a single row — 270M at the default m)
        m = F.map_from_entries(F.collect_list(F.struct("__w", "__bits")))
        dense = words.agg(m.alias("__m")).select(
            F.transform(
                F.sequence(F.lit(0).cast("long"), F.lit(n_words - 1)),
                lambda w: F.coalesce(F.element_at(F.col("__m"), w),
                                     F.lit(0).cast("long"))).alias(out),
            F.lit(m_bits).cast("long").alias("m_bits"),
            F.lit(k).cast("long").alias("k"))
        return dense

    return Stage(fn, name=f"bloom_build(m={m_bits},k={k})",
                 seq_preserving=False)


def bloom_contains(bloom: DataFrame, expr: Union[str, Column], *,
                   m_bits: "int | None" = None, k: "int | None" = None,
                   bloom_col: str = "bloom",
                   out: str = "might_contain") -> Stage:
    """Probe a :func:`bloom_build` result: broadcast the single-row bit
    array and evaluate all ``k`` positions as a pure expression — rows
    flagged ``False`` are DEFINITELY absent (prune before an expensive
    join); ``True`` rows need the real check.  No shuffle of the probed
    data.

    Geometry (``m_bits``/``k``) is read from the sketch row itself
    (the columns :func:`bloom_build` emits), so a probe can never
    silently run with mismatched parameters — the failure mode that
    yields false NEGATIVES.  Passing ``m_bits``/``k`` explicitly is an
    override that is VALIDATED against the carried values (mismatch
    raises); it is required only for legacy single-column sketches.
    Reading the values costs one driver peek of the 1-row sketch —
    persist the sketch if its build is expensive (you probe it many
    times anyway; that is the sketch's whole point)."""
    col = F.expr(expr) if isinstance(expr, str) else expr

    def fn(df: DataFrame) -> DataFrame:
        nonlocal m_bits, k
        carried = set(bloom.columns) >= {"m_bits", "k"}
        if carried:
            row = bloom.select("m_bits", "k").first()
            got_m, got_k = int(row["m_bits"]), int(row["k"])
            if m_bits is not None and m_bits != got_m:
                raise ValueError(
                    f"bloom_contains: m_bits={m_bits} does not match the "
                    f"sketch's m_bits={got_m} — probing with mismatched "
                    "geometry would produce false negatives")
            if k is not None and k != got_k:
                raise ValueError(
                    f"bloom_contains: k={k} does not match the sketch's "
                    f"k={got_k} — probing with mismatched geometry would "
                    "produce false negatives")
            m_bits, k = got_m, got_k
        elif m_bits is None or k is None:
            raise ValueError(
                "bloom_contains: sketch carries no m_bits/k columns "
                "(pre-carriage build?) — pass m_bits= and k= explicitly")
        d = df.crossJoin(F.broadcast(
            bloom.select(F.col(bloom_col).alias("__bloom"))))
        hit = F.lit(True)
        for i in range(k):
            p = _salted_pos(col, i, m_bits)
            word = F.element_at(
                "__bloom", (p / BLOOM_WORD_BITS).cast("int") + 1)
            bit = F.call_function("shiftleft", F.lit(1).cast("long"),
                                  (p % BLOOM_WORD_BITS).cast("int"))
            hit = hit & (word.bitwiseAND(bit) != 0)
        return d.withColumn(
            out, F.when(col.isNull(), F.lit(False)).otherwise(hit)) \
                .drop("__bloom")

    geom = "carried" if m_bits is None else f"m={m_bits},k={k}"
    return Stage(fn, name=f"bloom_contains({geom})", seq_preserving=True)


def bloom_build_sql(expr: str, *, m_bits: int = 1 << 20, k: int = 5,
                    table: str) -> str:
    """DuckDB rendering of :func:`bloom_build`'s word table (sparse
    (w, bits) rows, ordered by w) — compare against the dense array's
    non-zero entries for a bit-identical replay."""
    parts = []
    for i in range(k):
        salted = f"concat('{i}|', CAST({expr} AS VARCHAR))"
        parts.append(
            f"SELECT ({h32_sql(salted)}) % {m_bits} AS p "
            f"FROM {table} WHERE {expr} IS NOT NULL")
    pos_exprs = " UNION ALL ".join(parts)
    return f"""
      WITH __pos AS (SELECT DISTINCT p FROM ({pos_exprs})),
      __w AS (SELECT CAST(p // {BLOOM_WORD_BITS} AS BIGINT) AS w,
                     bit_or(CAST(1 AS BIGINT)
                            << CAST(p % {BLOOM_WORD_BITS} AS INT)) AS bits
              FROM __pos GROUP BY 1)
      SELECT w, bits FROM __w ORDER BY w"""


def _countmin_cells(col: Column, width: int, depth: int) -> Column:
    """``col``'s ``depth`` cells as an array of (d, c) structs."""
    return F.array(*[F.struct(F.lit(d).alias("d"),
                              _salted_pos(col, d, width).alias("c"))
                     for d in range(depth)])


def countmin_build(expr: Union[str, Column], *, width: int = 2048,
                   depth: int = 4, out: str = "cms") -> Stage:
    """Count-Min sketch over ``expr`` as ONE row of ``depth`` count
    arrays — the classic mergeable frequency sketch (Cormode &
    Muthukrishnan 2005): estimate(v) = min over rows of
    ``counts[d][h_d(v)]``, always an OVER-estimate (never under), with
    error ≤ ``2n/width`` at probability ``1 − 2^-depth``.  O(depth ×
    width) state regardless of data size; mergeable by cell-wise add —
    the shape a streaming/partitioned frequency monitor keeps.

    Deterministic across engines: cell positions are ``h32(d || value)
    % width`` (md5-derived), so :func:`countmin_build_sql` rebuilds the
    identical cells — probe estimates replay bit-for-bit.

    Plan: projection → posexplode(depth positions) → ONE hash aggregate
    over ≤ depth·width (d, cell) groups (map-side partials; only int
    pairs shuffle) → dense per-depth arrays via the same sparse-to-dense
    map-lookup as :func:`bloom_build`.  NULLs are skipped (no hash → no
    count), matching the other sketches' rule.

    Like :func:`bloom_build`, the result row CARRIES its geometry
    (``width``/``depth`` columns) and :func:`countmin_estimate` reads
    and validates it — mismatched geometry would silently misestimate."""
    if width < 1:
        raise ValueError(f"width must be >= 1, got {width}")
    if depth < 1:
        raise ValueError(f"depth must be >= 1, got {depth}")
    col = F.expr(expr) if isinstance(expr, str) else expr

    def fn(df: DataFrame) -> DataFrame:
        cells = (df.where(col.isNotNull())
                   .select(F.explode(_countmin_cells(col, width, depth))
                           .alias("__p"))
                   .groupBy(F.col("__p.d").alias("__d"),
                            F.col("__p.c").alias("__c"))
                   .agg(F.count(F.lit(1)).alias("__n")))
        m = F.map_from_entries(F.collect_list(F.struct("__c", "__n")))
        per_d = (cells.groupBy("__d")
                      .agg(m.alias("__m"))
                      .select("__d", F.transform(
                          F.sequence(F.lit(0).cast("long"),
                                     F.lit(width - 1)),
                          lambda c: F.coalesce(
                              F.element_at(F.col("__m"), c),
                              F.lit(0).cast("long"))).alias("__row")))
        rows = F.map_from_entries(F.collect_list(F.struct("__d", "__row")))
        dense = per_d.agg(rows.alias("__r")).select(
            F.transform(
                F.sequence(F.lit(0), F.lit(depth - 1)),
                lambda d: F.coalesce(
                    F.element_at(F.col("__r"), d),
                    F.array_repeat(F.lit(0).cast("long"), width))
            ).alias(out),
            F.lit(width).cast("long").alias("width"),
            F.lit(depth).cast("long").alias("depth"))
        # total items counted, for free from the depth-0 row (every
        # non-null value lands in exactly one cell per depth) — saves
        # consumers like heavy_hitters a separate full count pass
        return dense.withColumn(
            "n_total", F.aggregate(F.element_at(F.col(out), 1),
                                   F.lit(0).cast("long"),
                                   lambda a, c: a + c))

    return Stage(fn, name=f"countmin_build(w={width},d={depth})",
                 seq_preserving=False)


def countmin_assemble(*, width: int, depth: int,
                      keys: "tuple[str, ...]" = ("w_start", "w_end"),
                      out: str = "cms") -> Stage:
    """Assemble sparse (keys…, d, c, n) CELL ROWS — e.g. the output of
    ``streaming.windowed_countmin_cells`` — into one
    :func:`countmin_build`-shaped dense sketch row per key group
    (``cms`` array-of-arrays + carried ``width``/``depth`` +
    ``n_total``), ready for :func:`countmin_estimate`.  The CM twin of
    :func:`hll_assemble`; same sparse-to-dense construction as
    :func:`countmin_build`, so on batch input the assembled row is
    BIT-identical to a per-group build (law-tested)."""
    if width < 1 or depth < 1:
        raise ValueError(f"need width >= 1 and depth >= 1, got "
                         f"width={width}, depth={depth}")

    def fn(df: DataFrame) -> DataFrame:
        # duplicate cells SUM (merging partial sketches — unioned cell
        # tables from two runs/shards — is the canonical CM use); without
        # this pre-aggregate, map_from_entries raises DUPLICATED_MAP_KEY
        # under Spark's default mapKeyDedupPolicy on any repeated cell
        cells = (df.groupBy(*keys, F.col("d").cast("int").alias("__d"),
                            F.col("c").cast("long").alias("c"))
                   .agg(F.sum(F.col("n").cast("long")).alias("n")))
        m = F.map_from_entries(F.collect_list(F.struct("c", "n")))
        per_d = (cells.groupBy(*keys, "__d")
                      .agg(m.alias("__m"))
                   .select(*keys, "__d", F.transform(
                       F.sequence(F.lit(0).cast("long"),
                                  F.lit(width - 1)),
                       lambda c: F.coalesce(
                           F.element_at(F.col("__m"), c),
                           F.lit(0).cast("long"))).alias("__row")))
        rows = F.map_from_entries(F.collect_list(F.struct("__d", "__row")))
        dense = (per_d.groupBy(*keys)
                      .agg(rows.alias("__r"))
                      .select(*keys, F.transform(
                          F.sequence(F.lit(0), F.lit(depth - 1)),
                          lambda d: F.coalesce(
                              F.element_at(F.col("__r"), d),
                              F.array_repeat(F.lit(0).cast("long"),
                                             width))).alias(out),
                          F.lit(width).cast("long").alias("width"),
                          F.lit(depth).cast("long").alias("depth")))
        return dense.withColumn(
            "n_total", F.aggregate(F.element_at(F.col(out), 1),
                                   F.lit(0).cast("long"),
                                   lambda a, c: a + c))

    return Stage(fn, name=f"countmin_assemble(w={width},d={depth})",
                 seq_preserving=False)


def countmin_estimate(cms: DataFrame, expr: Union[str, Column], *,
                      width: "int | None" = None,
                      depth: "int | None" = None,
                      cms_col: str = "cms",
                      out: str = "est_count") -> Stage:
    """Probe a :func:`countmin_build` result: broadcast the single-row
    sketch and take the min over depth cells as a pure expression — no
    shuffle of the probed data.  Estimates are exact for values whose
    cells saw no collision and over-estimates otherwise (never under).

    Geometry is read from the sketch row (same carriage contract as
    :func:`bloom_contains`); explicit ``width``/``depth`` args are
    validated overrides.  NULL probe values estimate NULL."""
    col = F.expr(expr) if isinstance(expr, str) else expr

    def fn(df: DataFrame) -> DataFrame:
        nonlocal width, depth
        carried = set(cms.columns) >= {"width", "depth"}
        if carried:
            row = cms.select("width", "depth").first()
            got_w, got_d = int(row["width"]), int(row["depth"])
            if width is not None and width != got_w:
                raise ValueError(
                    f"countmin_estimate: width={width} does not match the "
                    f"sketch's width={got_w} — mismatched geometry "
                    "misestimates silently")
            if depth is not None and depth != got_d:
                raise ValueError(
                    f"countmin_estimate: depth={depth} does not match the "
                    f"sketch's depth={got_d} — mismatched geometry "
                    "misestimates silently")
            width, depth = got_w, got_d
        elif width is None or depth is None:
            raise ValueError(
                "countmin_estimate: sketch carries no width/depth columns "
                "— pass width= and depth= explicitly")
        d = df.crossJoin(F.broadcast(
            cms.select(F.col(cms_col).alias("__cms"))))
        est = None
        for dd in range(depth):
            p = _salted_pos(col, dd, width)
            cell = F.element_at(F.element_at("__cms", dd + 1),
                                p.cast("int") + 1)
            est = cell if est is None else F.least(est, cell)
        return d.withColumn(
            out, F.when(col.isNull(), F.lit(None).cast("long"))
                  .otherwise(est)).drop("__cms")

    geom = "carried" if width is None else f"w={width},d={depth}"
    return Stage(fn, name=f"countmin_estimate({geom})",
                 seq_preserving=True)


def bloom_prefilter_join(other: DataFrame, key: str, *,
                         other_key: "str | None" = None,
                         how: str = "semi",
                         m_bits: int = 1 << 20, k: int = 5,
                         name: str = "bloom_prefilter_join") -> Stage:
    """EXACT semi/anti join with a Bloom pre-filter on the probe side —
    the sketch-accelerated join pattern: build a Bloom filter over
    ``other``'s keys (one narrow aggregate), pre-filter the big side
    with the broadcast probe expression, and run the exact join only on
    the survivors.

    Results are IDENTICAL to the plain semi/anti join (the no-false-
    negatives law does the work):

    * ``semi``: a row probing False is definitely absent → dropping it
      pre-join is safe; survivors get the exact semi join.
    * ``anti``: a row probing False is definitely absent → keep it
      WITHOUT joining; only rows probing True (maybe-present) pay the
      exact anti join.

    100 TB posture: the join's shuffle now moves only
    ``true_matches + fp_rate · non_matches`` of the big side instead of
    all of it — the classic reason engines push runtime bloom filters
    into scans (Spark's own `spark.sql.optimizer.runtimeFilter` does
    this engine-side; this operator is the explicit, oracle-checkable
    form).  The small side is aggregated to O(m_bits) once."""
    if how not in ("semi", "anti"):
        raise ValueError(f"how must be 'semi' or 'anti', got {how!r}")
    ok = other_key or key

    def fn(df: DataFrame) -> DataFrame:
        bloom = bloom_build(ok, m_bits=m_bits, k=k)(
            other.select(F.col(ok)))
        probed = bloom_contains(bloom, key, out="__mc")(df)
        rhs = other.select(F.col(ok).alias("__rk")).distinct()
        cond = F.col(key) == F.col("__rk")
        if how == "semi":
            return (probed.where(F.col("__mc")).drop("__mc")
                          .join(rhs, cond, "semi"))
        definite = probed.where(~F.col("__mc")).drop("__mc")
        maybe = (probed.where(F.col("__mc")).drop("__mc")
                       .join(rhs, cond, "anti"))
        return definite.unionByName(maybe)

    return Stage(fn, name=f"{name}({how})", seq_preserving=False)


def heavy_hitters(expr: Union[str, Column], *, min_frac: float = 0.001,
                  width: int = 8192, depth: int = 4,
                  out_value: str = "value", out_count: str = "n",
                  name: str = "heavy_hitters") -> Stage:
    """EXACT frequent-item detection (all values with true count ≥
    ``min_frac·n``) behind a Count-Min pre-filter — the sketch-
    accelerated heavy-hitters pattern: because a CM estimate NEVER
    under-counts, filtering rows on ``estimate ≥ threshold`` keeps
    every true heavy hitter, and the exact aggregate then runs only on
    the survivors.  Results are IDENTICAL to the plain
    ``GROUP BY … HAVING count ≥ φ·n`` (the oracle), with the final
    counts exact, not estimates.

    100 TB posture: the plain query's shuffle moves one partial-agg row
    per distinct value per partition — at web-corpus vocabulary sizes,
    that IS the data.  Here the CM probe is a pure broadcast expression
    (zero shuffle), so the exact groupBy only receives rows whose value
    is plausibly heavy: ``true_hitters + collision_survivors``, a
    vanishing fraction when ``width ≫ 1/min_frac``.  The sketch build
    itself shuffles ≤ depth·width cells.  This composes
    :func:`countmin_build`/:func:`countmin_estimate` the way
    :func:`bloom_prefilter_join` composes the Bloom primitives."""
    if not 0.0 < min_frac <= 1.0:
        raise ValueError(f"min_frac must be in (0, 1], got {min_frac}")
    col = F.expr(expr) if isinstance(expr, str) else expr

    def fn(df: DataFrame) -> DataFrame:
        from conduino_spark.plans.cachereg import track
        base = df.where(col.isNotNull())
        # persist the 1-row sketch: the estimate's geometry peek and the
        # probe's broadcast would otherwise each rebuild it
        cms = track(countmin_build(col, width=width, depth=depth)(base))
        # total count rides the sketch row (n_total) — no second pass
        nrow = cms.select(F.col("n_total").alias("__n"))
        probed = countmin_estimate(cms, col, out="__est")(
            base.crossJoin(F.broadcast(nrow)))
        thresh = F.greatest(
            F.ceil(F.lit(float(min_frac)) * F.col("__n")).cast("long"),
            F.lit(1).cast("long"))
        cand = probed.where(F.col("__est") >= thresh)
        return (cand.groupBy(col.alias(out_value))
                    .agg(F.count(F.lit(1)).alias(out_count),
                         F.first("__n").alias("__n"))
                    .where(F.col(out_count) >= F.greatest(
                        F.ceil(F.lit(float(min_frac)) * F.col("__n"))
                         .cast("long"), F.lit(1).cast("long")))
                    .drop("__n"))

    return Stage(fn, name=f"{name}(φ={min_frac})", seq_preserving=False)


def heavy_hitters_sql(expr: str, *, min_frac: float = 0.001, table: str,
                      out_value: str = "value", out_count: str = "n") -> str:
    """DuckDB rendering of :func:`heavy_hitters` — the sketch is a pure
    accelerator, so the oracle is the plain exact query."""
    return f"""
      WITH __t AS (SELECT count(*) AS total FROM {table}
                   WHERE {expr} IS NOT NULL)
      SELECT {expr} AS {out_value}, count(*) AS {out_count}
      FROM {table}, __t
      WHERE {expr} IS NOT NULL
      GROUP BY {expr}, total
      HAVING count(*) >= greatest(
        CAST(ceil(CAST({float(min_frac)!r} AS DOUBLE) * total) AS BIGINT),
        1)"""


def winsorize(expr: str, *, lo: float = 0.01, hi: float = 0.99,
              bins: int = 4096, keys: "tuple[str, ...]" = (),
              out: "str | None" = None,
              name: str = "winsorize") -> Stage:
    """Winsorize (clip) ``expr`` to its [lo, hi] quantile range, per
    ``keys`` group or globally — the standard outlier-robust feature
    clamp, using :func:`binned_quantiles` for the cut points so the
    whole operator stays deterministic and oracle-replayable (the
    sketch's cuts are bit-identical in SQL, hence so is the clip).

    Plan: the two cheap histogram aggregation passes (state O(bins) per
    group) + a broadcast (global) or keyed join of ONE row per group +
    a pure clamp projection.  Quantile error ≤ (max − min)/bins moves
    the cut by at most one bin edge — winsorization tolerates that by
    design (the tails are noise by assumption)."""
    if not 0.0 < lo < hi <= 1.0:
        raise ValueError(f"need 0 < lo < hi <= 1, got ({lo}, {hi})")
    target = out or expr
    qs = {"__wlo": lo, "__whi": hi}

    def fn(df: DataFrame) -> DataFrame:
        cuts = binned_quantiles(expr, qs, bins=bins, keys=keys)(df)
        if keys:
            j = df.join(cuts, list(keys))
        else:
            j = df.crossJoin(F.broadcast(cuts))
        clipped = F.greatest(F.col("__wlo"),
                             F.least(F.col("__whi"),
                                     F.col(expr).cast("double")))
        return (j.withColumn(target, clipped)
                 .drop("__wlo", "__whi"))

    return Stage(fn, name=f"{name}[{lo},{hi}]", seq_preserving=False)


def winsorize_sql(expr: str, *, lo: float = 0.01, hi: float = 0.99,
                  bins: int = 4096, keys: "tuple[str, ...]" = (),
                  out: "str | None" = None, table: str,
                  select_cols: str = "*") -> str:
    """DuckDB rendering of :func:`winsorize` — bit-identical (the cuts
    come from :func:`binned_quantiles_sql`)."""
    target = out or expr
    cuts = binned_quantiles_sql(expr, {"__wlo": lo, "__whi": hi},
                                bins=bins, keys=keys, table=table)
    joined = (f"JOIN ({cuts}) q USING ({', '.join(keys)})" if keys
              else f"CROSS JOIN ({cuts}) q")
    return f"""
      SELECT {select_cols},
             greatest(q.__wlo, least(q.__whi, CAST(t.{expr} AS DOUBLE)))
               AS {target}
      FROM {table} t {joined}"""


def countmin_build_sql(expr: str, *, width: int = 2048, depth: int = 4,
                       table: str) -> str:
    """DuckDB rendering of :func:`countmin_build`'s sparse cell table
    ((d, c, n) rows, ordered) — compare against the dense arrays'
    non-zero cells for a bit-identical replay."""
    parts = []
    for d in range(depth):
        salted = f"concat('{d}|', CAST({expr} AS VARCHAR))"
        parts.append(
            f"SELECT {d} AS d, ({h32_sql(salted)}) % {width} AS c "
            f"FROM {table} WHERE {expr} IS NOT NULL")
    return f"""
      WITH __cells AS ({' UNION ALL '.join(parts)})
      SELECT d, c, COUNT(*) AS n FROM __cells GROUP BY d, c
      ORDER BY d, c"""


#: HLL rho ceiling: a 32-bit hash has first-one positions 1..32; 33
#: marks the all-zero hash.  Harmonic terms are scaled by 2^RHO_MAX so
#: the sum is an exact (order-free) long — doubles would make the
#: estimate depend on aggregation order.
HLL_RHO_MAX = 33


def _hll_alpha(m: int) -> float:
    """Standard HLL bias constant (Flajolet et al. 2007)."""
    if m <= 16:
        return 0.673
    if m <= 32:
        return 0.697
    if m <= 64:
        return 0.709
    return 0.7213 / (1 + 1.079 / m)


def _hll_rho(h: Column) -> Column:
    """Position of the first 1-bit of a 32-bit value (1-based from the
    MSB); HLL_RHO_MAX for zero.  ``32 − floor(log2(h))`` is EXACT for
    every 32-bit integer despite libm: the closest log2(h) ever comes
    to an integer from above is log2(2^31 + 1) − 31 ≈ 3.4e-10, while
    double log2 is correct to ~1e-15 relative — five orders of margin,
    in both JVM StrictMath and DuckDB's C libm.  (The string
    alternative, instr(lpad(bin(h))), measures ~2× slower: three
    string ops per row.)"""
    return F.when(h == 0, F.lit(HLL_RHO_MAX)).otherwise(
        F.lit(32) - F.floor(F.log2(h))).cast("long")


def _hll_cell(col: Column, m: int) -> "tuple[Column, Column]":
    """(bucket, rho) of ``col`` in an ``m``-register HLL, from ONE md5:
    bucket = ``hex[1:8] % m``, rho = first-one position of
    ``hex[9:16]`` (see :func:`hll_build`)."""
    hx = F.md5(col.cast("string"))
    return (F.conv(F.substring(hx, 1, 8), 16, 10).cast("long") % m,
            _hll_rho(F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")))


def hll_build(expr: Union[str, Column], *, p: int = 12,
              keys: "tuple[str, ...]" = (),
              out: str = "hll") -> Stage:
    """HyperLogLog distinct-count sketch (Flajolet et al. 2007) as ONE
    row holding the ``m = 2^p`` register array — THE production distinct
    sketch: O(m) state at any data size, mergeable by register-wise max
    (:func:`hll_merge`), relative error ≈ ``1.04/sqrt(m)``.

    Deterministic across engines: ONE md5 per value supplies both
    coordinates — bucket = ``hex[1:8] % m``, rho = first-one position
    of ``hex[9:16]`` (disjoint digest bits are independent) — so
    :func:`hll_build_sql` rebuilds the IDENTICAL registers, unlike
    ``approx_count_distinct``, whose HLL++ sketch is engine-private
    and partitioning-dependent.

    Plan: projection → ONE hash aggregate ``max(rho) GROUP BY bucket``
    (map-side partial max reduces every partition to ≤ m rows before
    the shuffle — strictly tighter than a distinct pre-pass, and the
    value itself never shuffles) → sorted SPARSE register array
    (``array<struct<b,rho>>``, HLL++-sparse-mode style: only occupied
    buckets are stored, empty buckets are implied — the dense
    alternative's sparse-to-dense map lookup is O(m) per element, an
    O(m²) single-row tail that measured ~1 s at p=12).  The row
    carries ``p`` so estimate/merge validate geometry, same contract
    as bloom/count-min.

    ``keys`` builds ONE SKETCH PER GROUP from a single scan (per-source
    / per-shard / per-day distinct counts) — the register aggregate
    just gains the keys as extra grouping columns, and
    :func:`hll_merge` collapses grouped rows back to one (a grouped
    build + merge ≡ the ungrouped build, the mergeability law).

    Complements :func:`kmv_distinct`: KMV is exact-until-k and replays
    its estimate bit-identically; HLL is the mergeable fixed-memory
    form whose REGISTERS replay bit-identically (the estimate's
    linear-counting branch carries a libm-ln tolerance like BM25)."""
    if not 4 <= p <= 18:
        raise ValueError(f"p must be in [4, 18], got {p}")
    col = F.expr(expr) if isinstance(expr, str) else expr
    m = 1 << p

    def fn(df: DataFrame) -> DataFrame:
        bucket, rho = _hll_cell(col, m)
        pairs = df.where(col.isNotNull()) \
                  .select(*keys, bucket.alias("__b"), rho.alias("__r"))
        regs = pairs.groupBy(*keys, "__b").agg(F.max("__r").alias("__rho"))
        sparse = F.array_sort(F.collect_list(
            F.struct(F.col("__b").alias("b"), F.col("__rho").alias("rho"))))
        return regs.groupBy(*keys).agg(sparse.alias(out)).select(
            *keys, F.col(out), F.lit(p).cast("long").alias("p"))

    return Stage(fn, name=f"hll_build(p={p})", seq_preserving=False)


def hll_merge(*, hll_col: str = "hll", out: str = "hll") -> Stage:
    """Merge MANY :func:`hll_build` rows (a union of per-shard / per-day
    sketches) into one by register-wise max — the whole reason HLL is
    the production sketch: shards/streams aggregate without re-reading
    data.  Sparse entries explode to narrow (b, rho) rows, one
    ``max GROUP BY b`` re-aggregates (linear in total entries), and a
    broadcast bounds row raises on mixed-``p`` inputs."""

    def fn(df: DataFrame) -> DataFrame:
        bounds = df.agg(F.min("p").alias("__plo"), F.max("p").alias("__phi"))
        regs = (df.select(F.explode(hll_col).alias("__e"))
                  .groupBy(F.col("__e.b").alias("__b"))
                  .agg(F.max("__e.rho").alias("__rho")))
        sparse = F.array_sort(F.collect_list(
            F.struct(F.col("__b").alias("b"), F.col("__rho").alias("rho"))))
        merged = regs.agg(sparse.alias(out)) \
                     .crossJoin(F.broadcast(bounds))
        return merged.select(
            F.when(F.col("__plo") != F.col("__phi"),
                   F.raise_error(F.lit(
                       "hll_merge: sketches have different p — registers "
                       "are not alignable")))
             .otherwise(F.col(out)).alias(out),
            F.col("__phi").alias("p"))

    return Stage(fn, name="hll_merge", seq_preserving=False)


def hll_estimate(*, hll_col: str = "hll",
                 out: str = "approx_distinct") -> Stage:
    """Estimate from a :func:`hll_build`/:func:`hll_merge` row: harmonic
    mean over the broadcast-size register array as a PURE expression —
    terms ``2^(33−rho)`` are summed as exact longs (order-free), the
    single double division is bit-identical in both engines, and only
    the small-range linear-counting branch (``E ≤ 2.5m`` with empty
    registers) touches libm ``ln`` (tolerance contract, like BM25).
    Reads ``p`` from the sketch row; rounds to 6 decimals."""

    def fn(df: DataFrame) -> DataFrame:
        regs = F.col(hll_col)
        # m from the carried p (column-valued shift via call_function)
        m = F.call_function("shiftleft", F.lit(1).cast("long"),
                            F.col("p").cast("int"))
        # sparse: present entries contribute 2^(33-rho); the m - size
        # ABSENT buckets each contribute the full 2^33 term
        s = F.aggregate(
            regs, F.lit(0).cast("long"),
            lambda acc, e: acc + F.call_function(
                "shiftleft", F.lit(1).cast("long"),
                (F.lit(HLL_RHO_MAX) - e["rho"]).cast("int"))) \
            + (m - F.size(regs)) * F.lit(1 << HLL_RHO_MAX).cast("long")
        zeros = (m - F.size(regs)).cast("double")
        md = m.cast("double")
        # alpha depends only on m; inline the m>=128 closed form and
        # literal small-m constants via CASE so one expression serves
        # every carried p
        alpha = (F.when(md <= 16, F.lit(0.673))
                  .when(md <= 32, F.lit(0.697))
                  .when(md <= 64, F.lit(0.709))
                  .otherwise(F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / md)))
        scale = F.call_function(
            "shiftleft", F.lit(1).cast("long"),
            F.lit(HLL_RHO_MAX).cast("int")).cast("double")
        e_raw = alpha * md * md * scale / s.cast("double")
        est = F.when((e_raw <= 2.5 * md) & (zeros > 0),
                     md * F.log(md / zeros)).otherwise(e_raw)
        # grouped builds (hll_build(keys=...)) carry key columns — keep
        # them alongside the estimate
        carry = [c for c in df.columns if c not in (hll_col, "p")]
        return df.select(*carry, F.round(est, 6).alias(out))

    return Stage(fn, name="hll_estimate", seq_preserving=False)


def hll_build_sql(expr: str, *, p: int = 12, table: str) -> str:
    """DuckDB rendering of :func:`hll_build`'s register table (sparse
    (bucket, rho) rows, ordered) — compare against the dense array's
    non-zero entries for a bit-identical replay."""
    m = 1 << p
    return f"""
      WITH __h AS (
        SELECT ('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 8))::BIGINT
                 % {m} AS b,
               ('0x' || substr(md5(CAST({expr} AS VARCHAR)), 9, 8))::BIGINT
                 AS hr
        FROM {table} WHERE {expr} IS NOT NULL)
      SELECT b, max(CASE WHEN hr = 0 THEN {HLL_RHO_MAX}
                         ELSE 32 - CAST(floor(log2(hr)) AS BIGINT)
                    END) AS rho
      FROM __h GROUP BY b ORDER BY b"""


def hll_estimate_sql(expr: str, *, p: int = 12, table: str,
                     out: str = "approx_distinct") -> str:
    """DuckDB rendering of the full build + estimate — same scaled-long
    harmonic sum (empty buckets contribute ``2^33`` via the
    ``m − present`` term), same single division, same linear-counting
    branch.  Bit-identical except the ``ln`` branch's last ulp."""
    m = 1 << p
    # DuckDB parses bare float literals as DECIMAL (whose multiplication
    # overflows at this magnitude) — pre-multiply the exact constant in
    # Python and emit ONE double literal, identical to the Spark side's
    # alpha * m^2 * 2^33 evaluation order
    num = _hll_alpha(m) * float(m) * float(m)
    num = num * float(1 << HLL_RHO_MAX)
    return f"""
      WITH __regs AS ({hll_build_sql(expr, p=p, table=table)}),
      __s AS (
        SELECT sum(1::BIGINT << ({HLL_RHO_MAX} - rho))
                 + ({m} - count(*)) * ((1::BIGINT << {HLL_RHO_MAX})) AS s,
               {m} - count(*) AS zeros
        FROM __regs)
      SELECT round(CASE WHEN (CAST({num!r} AS DOUBLE) / CAST(s AS DOUBLE))
                             <= CAST({2.5 * m!r} AS DOUBLE) AND zeros > 0
                        THEN CAST({float(m)!r} AS DOUBLE)
                             * ln(CAST({float(m)!r} AS DOUBLE)
                                  / CAST(zeros AS DOUBLE))
                        ELSE CAST({num!r} AS DOUBLE) / CAST(s AS DOUBLE)
                   END, 6) AS {out}
      FROM __s"""


#: default quantile set for binned_quantiles
QUANTILES_DEFAULT = {"p25": 0.25, "p50": 0.5, "p75": 0.75,
                     "p90": 0.9, "p99": 0.99}


def binned_quantiles(expr: Union[str, Column],
                     qs: "dict[str, float] | None" = None, *,
                     bins: int = 1024,
                     keys: "tuple[str, ...]" = (),
                     lo: "float | None" = None,
                     hi: "float | None" = None) -> Stage:
    """Deterministic fixed-bin histogram quantiles (per ``keys`` group,
    or global): two cheap aggregation passes whose state is O(bins)
    per group, with error bounded by ``(max − min) / bins``.

    Why not ``percentile_approx``: its GK sketch is engine-private —
    no oracle can replay it, and two runs over differently-partitioned
    data may disagree.  The equi-width histogram is the classic
    mergeable alternative (every streaming/OLAP engine's fallback):
    pass 1 = per-group min/max (map-side partials), pass 2 = per-group
    per-bin counts (≤ groups × bins rows shuffle — raw values never
    shuffle), then a window over the ≤ ``bins`` rows of each group
    picks, for each q, the upper edge of the first bin where the
    cumulative count reaches ``q·n``.  All arithmetic is
    order-identical IEEE doubles, so :func:`binned_quantiles_sql`
    replays the result bit-for-bit.

    Pass explicit ``lo``/``hi`` (both) to skip the bounds pass: the
    sketch becomes a SINGLE aggregation pass with literal bin edges —
    the form to use when the domain is known (scores in [0, 1], bounded
    sensors) and the only form a STREAMING aggregation can host (a
    stream can't see its min/max before binning).  Values outside
    [lo, hi] are clamped into the edge bins (the standard relaxation:
    the q-estimate then degrades only at the clamped tails).

    Returns one row per group: ``keys + [<name> for name in qs]``."""
    qs = dict(qs) if qs else dict(QUANTILES_DEFAULT)
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    if (lo is None) != (hi is None):
        raise ValueError("pass both lo and hi, or neither")
    if lo is not None and not lo < hi:
        raise ValueError(f"need lo < hi, got [{lo}, {hi}]")
    for name, q in qs.items():
        if not 0.0 < q <= 1.0:
            raise ValueError(f"quantile {name}={q} outside (0, 1]")
    col = F.expr(expr) if isinstance(expr, str) else expr

    def fn(df: DataFrame) -> DataFrame:
        base = df.where(col.isNotNull()) \
                 .select(*keys, col.cast("double").alias("__x"))
        if lo is not None:
            j = base.withColumn("__lo", F.lit(float(lo))) \
                    .withColumn("__hi", F.lit(float(hi))) \
                    .withColumn("__x", F.greatest(F.lit(float(lo)),
                                                  F.least(F.lit(float(hi)),
                                                          F.col("__x"))))
        else:
            bounds = base.groupBy(*keys).agg(F.min("__x").alias("__lo"),
                                             F.max("__x").alias("__hi"))
            if keys:
                j = base.join(bounds, list(keys))
            else:
                j = base.crossJoin(F.broadcast(bounds))
        # identical expression shape in binned_quantiles_sql — keep in sync
        bin_ = F.when(F.col("__hi") == F.col("__lo"), F.lit(0)).otherwise(
            F.least(F.floor((F.col("__x") - F.col("__lo"))
                            / (F.col("__hi") - F.col("__lo")) * bins),
                    F.lit(bins - 1))).cast("long")
        hist = (j.withColumn("__bin", bin_)
                 .groupBy(*keys, "__bin", "__lo", "__hi")
                 .agg(F.count(F.lit(1)).alias("__c")))
        wcum = (W.partitionBy(*[F.col(k) for k in keys]).orderBy("__bin")
                 .rowsBetween(W.unboundedPreceding, W.currentRow))
        wtot = (W.partitionBy(*[F.col(k) for k in keys])
                 .rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        hist = hist.withColumn("__cum", F.sum("__c").over(wcum)) \
                   .withColumn("__n", F.sum("__c").over(wtot))
        edge = (F.col("__lo") + (F.col("__bin") + 1)
                * ((F.col("__hi") - F.col("__lo")) / F.lit(float(bins))))
        picks = [F.min(F.when(
                    F.col("__cum") >= F.col("__n") * F.lit(q), edge))
                  .alias(name) for name, q in qs.items()]
        return hist.groupBy(*keys).agg(*picks)

    return Stage(fn, name=f"binned_quantiles(bins={bins})",
                 seq_preserving=False)


def binned_quantiles_sql(expr: str, qs: "dict[str, float] | None" = None, *,
                         bins: int = 1024, keys: "tuple[str, ...]" = (),
                         lo: "float | None" = None,
                         hi: "float | None" = None,
                         table: str) -> str:
    """DuckDB rendering of :func:`binned_quantiles` — bit-identical
    (same expression shapes, same IEEE-double evaluation order), for
    BOTH modes: derived bounds (default) and explicit ``lo``/``hi``
    (literal edges + the same greatest/least clamp the stage applies).
    ``expr`` must be a bare column name (it is qualified as
    ``t.{expr}``)."""
    qs = dict(qs) if qs else dict(QUANTILES_DEFAULT)
    if (lo is None) != (hi is None):
        raise ValueError("pass both lo and hi, or neither")
    kl = ", ".join(keys)
    kcomma = f"{kl}, " if keys else ""
    part = f"PARTITION BY {kl}" if keys else ""
    group = f"GROUP BY {kl}" if keys else ""
    picks = ",\n             ".join(
        f"min(CASE WHEN cum >= n * {q!r} THEN edge END) AS {name}"
        for name, q in qs.items())
    if lo is not None:
        bounds_cte = ""
        x = (f"greatest({float(lo)!r}, least({float(hi)!r}, "
             f"CAST(t.{expr} AS DOUBLE)))")
        j_cte = f"""
      __j AS (
        SELECT {''.join('t.' + k + ', ' for k in keys)}
               CAST(CASE WHEN {float(hi)!r} = {float(lo)!r} THEN 0 ELSE
                 least(floor(({x} - {float(lo)!r})
                             / ({float(hi)!r} - {float(lo)!r}) * {bins}),
                       {bins - 1})
               END AS BIGINT) AS bin,
               {float(lo)!r} AS lo, {float(hi)!r} AS hi
        FROM {table} t
        WHERE t.{expr} IS NOT NULL),"""
    else:
        bounds_cte = f"""
      __b AS (
        SELECT {kcomma}min(CAST({expr} AS DOUBLE)) AS lo,
               max(CAST({expr} AS DOUBLE)) AS hi
        FROM {table} WHERE {expr} IS NOT NULL {group}),"""
        j_cte = f"""
      __j AS (
        SELECT {''.join('t.' + k + ', ' for k in keys)}
               CAST(CASE WHEN b.hi = b.lo THEN 0 ELSE
                 least(floor((CAST(t.{expr} AS DOUBLE) - b.lo)
                             / (b.hi - b.lo) * {bins}), {bins - 1})
               END AS BIGINT) AS bin, b.lo AS lo, b.hi AS hi
        FROM {table} t {'JOIN __b b USING (' + kl + ')' if keys else 'CROSS JOIN __b b'}
        WHERE t.{expr} IS NOT NULL),"""
    return f"""
      WITH {bounds_cte}{j_cte}
      __h AS (
        SELECT {kcomma}bin, lo, hi, count(*) AS c
        FROM __j GROUP BY {kcomma}bin, lo, hi),
      __c AS (
        SELECT {kcomma}bin, lo, hi, c,
               sum(c) OVER ({part} ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) AS cum,
               sum(c) OVER ({part}) AS n,
               lo + (bin + 1) * ((hi - lo) / {float(bins)!r}) AS edge
        FROM __h)
      SELECT {kcomma}{picks}
      FROM __c {group}"""


def hll_assemble(*, p: int, keys: "tuple[str, ...]" = ("w_start", "w_end"),
                 out: str = "hll") -> Stage:
    """Assemble sparse (keys…, b, rho) REGISTER ROWS — e.g. the output
    of ``streaming.windowed_hll_registers`` — into one
    :func:`hll_build`-shaped sketch row per key group, ready for
    :func:`hll_estimate`/:func:`hll_merge`.  One grouped collect of ≤
    2^p tiny structs per group."""
    if not 4 <= p <= 18:
        raise ValueError(f"p must be in [4, 18], got {p}")

    def fn(df: DataFrame) -> DataFrame:
        sparse = F.array_sort(F.collect_list(
            F.struct(F.col("b").cast("long").alias("b"),
                     F.col("rho").cast("long").alias("rho"))))
        return df.groupBy(*keys).agg(sparse.alias(out)) \
                 .withColumn("p", F.lit(p).cast("long"))

    return Stage(fn, name=f"hll_assemble(p={p})", seq_preserving=False)


def quantile_buckets(expr: Union[str, Column],
                     edges: "dict[str, float]", *,
                     rest: str = "tail",
                     keys: "tuple[str, ...]" = (),
                     bins: int = 1024,
                     lo: "float | None" = None,
                     hi: "float | None" = None,
                     out: str = "bucket") -> Stage:
    """Label every ROW by the quantile band its value falls in — the
    row-level companion of :func:`binned_quantiles` (which returns one
    cut row per group) and the labeling sibling of :func:`winsorize`
    (which clamps instead).  ``edges`` maps band name → upper quantile
    fraction, in ascending order; values above the last edge take
    ``rest``.  NULL values get a NULL label.

    The CCNet head/middle/tail selection shape: bucket documents by a
    model score per group (e.g. per language), then train on the head.

    Plan: the O(bins)-state deterministic cut computation (one or two
    aggregate passes, raw values never shuffle) + a BROADCAST join of
    the one-row-per-group cut table back onto the rows + one CASE
    projection.  Same IEEE-identical arithmetic as binned_quantiles,
    so the labels replay bit-for-bit in SQL."""
    if not edges:
        raise ValueError("edges must be non-empty")
    fr = list(edges.values())
    if fr != sorted(fr) or len(set(fr)) != len(fr):
        raise ValueError(f"edge fractions must be strictly ascending, "
                         f"got {fr}")
    if rest in edges:
        raise ValueError(f"rest label {rest!r} collides with an edge")
    col = F.expr(expr) if isinstance(expr, str) else expr
    cut_stage = binned_quantiles(
        col, {f"__q_{name}": q for name, q in edges.items()},
        bins=bins, keys=keys, lo=lo, hi=hi)

    def fn(df: DataFrame) -> DataFrame:
        cuts = cut_stage(df)
        # LEFT join: a group whose values are ALL NULL has no cut row —
        # its rows survive with a NULL label (same as a NULL value),
        # they don't silently vanish
        j = (df.join(F.broadcast(cuts), list(keys), "left") if keys
             else df.crossJoin(F.broadcast(cuts)))
        first = next(iter(edges))
        label = F.when(col.isNull()
                       | F.col(f"__q_{first}").isNull(),
                       F.lit(None).cast("string"))
        for name in edges:
            label = label.when(col.cast("double") <= F.col(f"__q_{name}"),
                               F.lit(name))
        label = label.otherwise(F.lit(rest))
        return j.withColumn(out, label) \
                .drop(*[f"__q_{name}" for name in edges])

    return Stage(fn, name="quantile_buckets", seq_preserving=False)
