"""Deduplication for LLM-data pipelines (north star, BASELINE.json):
exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

Scale design (the part that matters at 100 TB):
  * exact dedup: ONE hash-shuffle on a 16-byte digest, never on the
    full text column.
  * MinHash+LSH: per-doc signature is a narrow projection (no shuffle);
    candidate generation is a self-equi-join on (band_id, packed
    band key) —
    the classic band-bucket join whose cost is ~sum of squared bucket
    sizes, not n².  No pairwise comparison outside buckets.
  * SimHash: same banding idea on bit-slices of the signature.
  * n-gram Jaccard: exact verification, run ONLY on LSH candidates.
  * embedding near-dup: bucketed by coarse quantizer (IVF-style);
    brute-force only inside buckets.

All hashes are md5-derived (functions/hashing.py) so each operator has
a bit-identical DuckDB oracle.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, ShortType

from conduino_spark.plans.cachereg import track
from conduino_spark.plans.core import Stage
from conduino_spark.functions.hashing import (MERSENNE31, h32, h32_shard,
                                              lcg_params)
from conduino_spark.operators.smallio import (driver_collect, local_frame,
                                              read_meta, write_meta)
from conduino_spark.operators.text import tokens_col

# default MinHash configuration, shared with the oracle SQL.  The
# whole signature/banding family accepts optional ``n_perm``/``bands``
# overrides (so a :func:`tune_minhash_bands` choice is directly
# consumable); the defaults keep every existing result bit-stable.
MINHASH_K = 16
MINHASH_BANDS = 4
MINHASH_ROWS = MINHASH_K // MINHASH_BANDS
MINHASH_PARAMS = lcg_params(MINHASH_K)
SHINGLE_N = 3


def _minhash_params(n_perm: int) -> "list[tuple[int, int]]":
    """Permutation params for an ``n_perm``-minima signature.  The LCG
    stream is prefix-stable, so n_perm=MINHASH_K is exactly
    MINHASH_PARAMS and larger configs extend it."""
    if n_perm < 2:
        raise ValueError(f"n_perm must be >= 2, got {n_perm}")
    return MINHASH_PARAMS if n_perm == MINHASH_K else lcg_params(n_perm)


def _banding_rows(n_perm: int, bands: int) -> int:
    """rows-per-band for an (n_perm, bands) config; bands × rows
    consumes the signature prefix (bands·rows ≤ n_perm, the
    datasketch convention when bands ∤ n_perm)."""
    if not 1 <= bands <= n_perm:
        raise ValueError(f"need 1 <= bands <= n_perm, got bands={bands}, "
                         f"n_perm={n_perm}")
    return n_perm // bands


def _check_n(n: int) -> None:
    """Refuse a shingle length below 1 (the slice arithmetic of
    :func:`shingles_col` would run it as 1)."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")


def shingles_col(text: Column, n: int = SHINGLE_N) -> Column:
    """Word n-gram shingles (distinct).  Empty when fewer than n tokens.

    Built by zipping n shifted slices of the token array — NOT
    ``transform(sequence, i -> slice(toks, i, n))``: interpreted
    higher-order lambdas do no common-subexpression elimination, so the
    per-position slice re-evaluated the tokenize expression every
    shingle (measured 2.5× slower at sf0.1; same lesson as
    text.repetition_stats' 2-grams).  ``m = 0`` when k < n makes every
    slice empty, so the zip yields the empty array without a branch."""
    _check_n(n)
    toks = tokens_col(text)
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    acc = F.slice(toks, 1, m)
    for j in range(2, n + 1):
        acc = F.zip_with(acc, F.slice(toks, j, m),
                         lambda x, y: F.concat(x, F.lit(" "), y))
    return F.array_distinct(acc)


def minhash_signature(text: Column, *, n_perm: int = MINHASH_K) -> Column:
    """Array of ``n_perm`` minima: sig_j = min_{sh} (a_j·h32(sh)+b_j) % P.
    NULL-free: docs with no shingles get P (sentinel max) everywhere."""
    hashes = F.transform(shingles_col(text), h32)

    def _perm(a: int, b: int):
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE31)

    sigs = [
        F.coalesce(F.array_min(F.transform(hashes, _perm(a, b))), F.lit(MERSENNE31))
        for a, b in _minhash_params(n_perm)
    ]
    return F.array(*sigs)


def _spread(df: DataFrame, key: Optional[str]) -> DataFrame:
    """Ensure CPU-bound per-doc work (md5 over shingles) is spread over
    all cores even when the source is one small parquet file (one input
    split).  The shuffle moves only raw text — cheap next to the
    hashing it parallelizes.  No-op cost at real scale (many splits).

    ``key`` must be HIGH-cardinality (doc id) or None for round-robin —
    spreading by a low-cardinality column (source, split) would cap
    parallelism at its distinct count, the opposite of the point
    (ADVICE r6)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    # plan-only guard (same rationale as similarity.lsh_index_write,
    # ADVICE r5): .rdd would leave AQE and eagerly run upstream
    # shuffles.  Scan inputs expose files as metadata; non-scan inputs
    # ([]) spread unconditionally — at worst one narrow re-shuffle.
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files >= target:
        return df
    return df.repartition(target, key) if key else df.repartition(target)


def _shingle_hashes(df: DataFrame, text_col: str, id_col: str,
                    n: int = SHINGLE_N, spread: bool = True) -> DataFrame:
    """(id, __h) — one row per distinct word-``n``-gram shingle hash
    per doc (md5 runs exactly once per shingle); docs with no shingles
    keep a NULL row (``explode_outer``).  The one (id, shingle-hash)
    table of the MinHash signatures, the exact n-gram joins and
    decontamination — persist it so one tokenize+md5 pass over the
    corpus feeds both a signature and a verify.

    ``spread=False`` skips the :func:`_spread` repartition — for
    callers whose input is a MID-PIPELINE frame that is already
    well-partitioned (r16: _spread cannot see plan partitioning, only
    scan files, so a non-scan input always paid a full raw-TEXT
    Exchange here; at scale that is a gratuitous corpus shuffle).
    Partitioning-only: results are identical either way."""
    base = _spread(df, id_col) if spread else df
    return base.select(
        F.col(id_col),
        F.explode_outer(F.transform(shingles_col(F.col(text_col), n), h32))
        .alias("__h"))


def _shingle_rows(hs: DataFrame, id_col: str) -> DataFrame:
    """(id, g): the non-NULL rows of a :func:`_shingle_hashes` table —
    the feature table the exact n-gram joins verify on."""
    return hs.where(F.col("__h").isNotNull()) \
             .select(F.col(id_col), F.col("__h").alias("g"))


def _sig_from_hashes(h: DataFrame, id_col: str, *,
                     n_perm: int = MINHASH_K) -> DataFrame:
    """(id, sig array): the ``n_perm`` permutation minima as parallel
    partial aggregates over the exploded rows (map-side combine,
    shuffle key = doc id).  The naive column formulation (array_min of
    16 transforms) re-evaluates the md5 transform per permutation —
    ~16× the work; measured 138s → ~4s at sf0.1."""
    aggs = [
        F.coalesce(
            F.min((F.lit(a) * F.col("__h") + F.lit(b)) % F.lit(MERSENNE31)),
            F.lit(MERSENNE31)).alias(f"__s{j}")
        for j, (a, b) in enumerate(_minhash_params(n_perm))
    ]
    return (h.groupBy(id_col).agg(*aggs)
             .select(F.col(id_col),
                     F.array(*[f"__s{j}" for j in range(n_perm)]).alias("sig")))


def _minhash_sig_df(df: DataFrame, text_col: str, id_col: str, *,
                    n_perm: int = MINHASH_K,
                    spread: bool = True) -> DataFrame:
    """(id, sig array) via explode + ONE hash-aggregate."""
    return _sig_from_hashes(
        _shingle_hashes(df, text_col, id_col, spread=spread), id_col,
        n_perm=n_perm)


def _band_key_cols(n_perm: int, bands: int) -> "list[str]":
    """Names of the packed band-key columns :func:`_band_explode`
    emits alongside ``band_id`` — ⌈rows/2⌉ longs."""
    rows = _banding_rows(n_perm, bands)
    return [f"band_h{j}" for j in range((rows + 1) // 2)]


def _band_shard(n_perm: int, bands: int, n_shards: int) -> Column:
    """Deterministic shard id over the packed band key — the
    ``pt = hash(band key) % n_shards`` rule the persisted MinHash
    index families write and probe with (must be one expression so
    write, merge and probe can never disagree)."""
    return F.pmod(F.xxhash64(F.col("band_id"),
                             *[F.col(c) for c in
                               _band_key_cols(n_perm, bands)]),
                  F.lit(n_shards))


def _lsh_pairs(hs: DataFrame, id_col: str, *, n_perm: int = MINHASH_K,
               bands: int = MINHASH_BANDS) -> DataFrame:
    """Distinct (id_a < id_b) MinHash-LSH candidate pairs of a
    :func:`_shingle_hashes` table: the registry-tracked signature
    table (``n_perm`` longs/doc), filled once, then the band self-join
    (:func:`_band_pairs`)."""
    sigs = track(_sig_from_hashes(hs, id_col, n_perm=n_perm))
    # r16 (guide §5 caching): materialize the cache BEFORE the band
    # self-join fans out.  Both join sides read it, and when their
    # map stages launch concurrently they RACE the lazy fill — each
    # recomputes the whole tokenize+md5 signature pipeline (observed
    # as duplicated 6-7 s-task stages in the web_ingest /
    # minhash_survivors profiles: 2× the most expensive pass in the
    # operator, at any scale, for the price of one tiny count job).
    sigs.count()
    return _band_pairs(sigs, id_col, n_perm=n_perm, bands_n=bands)


def _pair_sides(pairs: DataFrame, per_doc: DataFrame, id_col: str,
                *cols: str) -> DataFrame:
    """``pairs`` (id_a, id_b, …) joined to both docs' ``cols`` of the
    one-row-per-doc table ``per_doc``, as ``<col>_a`` / ``<col>_b``."""
    for s in ("a", "b"):
        pairs = pairs.join(
            per_doc.select(F.col(id_col).alias(f"id_{s}"),
                           *[F.col(c).alias(f"{c}_{s}") for c in cols]),
            f"id_{s}")
    return pairs


def _jaccard_at_least(inter: DataFrame, sizes: DataFrame, id_col: str,
                      threshold: float) -> DataFrame:
    """(id_a, id_b, jaccard) of the (id_a, id_b, i = |A∩B|) pairs whose
    6-dp ROUNDED Jaccard ``i / (sz_a + sz_b − i)`` reaches
    ``threshold`` — the compare :func:`ngram_jaccard_pairs` and
    :func:`ngram_jaccard_lsh` pin (:func:`jaccard_prefix_pairs`
    compares the unrounded counts instead)."""
    jac = F.round(F.col("i") / (F.col("sz_a") + F.col("sz_b") - F.col("i")),
                  6)
    return (_pair_sides(inter, sizes, id_col, "sz")
            .withColumn("jaccard", jac)
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def _band_explode(sigs: DataFrame, id_col: str, alias: str, *,
                  n_perm: int = MINHASH_K,
                  bands: int = MINHASH_BANDS) -> DataFrame:
    """(alias, band_id, band_h0..band_h{⌈rows/2⌉−1}) — one row per LSH
    band per doc.  The banding layout (bands × rows over the signature
    prefix) is the collision CONTRACT shared by within-batch pairing
    (:func:`_band_pairs`) and incremental dedup
    (:func:`minhash_dedup_against`); both MUST go through this one
    function or they silently stop agreeing on what "similar" means.

    r16 (guide §2.3, VERDICT r15 #2): the band key used to be the
    ','-joined decimal STRING of the band's signature values — up to
    ~43 bytes + offset per row through every band Exchange and a
    string compare in the join.  Each signature value is < 2^31
    (mod MERSENNE31), so PAIRS of values pack EXACTLY into one long
    (``hi·2^31 + lo`` < 2^62 — no overflow, injective), giving
    byte-identical collision sets with ⌈rows/2⌉ fixed-width longs
    (16 bytes at the default 16/4 config) instead of the string.
    Persisted-index note: the band files store these packed longs,
    and the index ``_meta`` carries the layout's ``format``
    (smallio.META_FORMAT), so a merge or probe of an index written in
    another layout raises instead of mixing the two."""
    rows = _banding_rows(n_perm, bands)

    def pack(b: int, j: int) -> Column:
        lo = F.element_at("sig", b * rows + 2 * j + 1)
        if 2 * j + 1 < rows:
            return (lo * F.lit(2 ** 31).cast("long")
                    + F.element_at("sig", b * rows + 2 * j + 2))
        return lo  # odd tail value rides alone

    npack = (rows + 1) // 2
    return (sigs.select(
        F.col(id_col).alias(alias),
        F.posexplode(F.array(*[
            F.struct(*[pack(b, j).alias(f"h{j}") for j in range(npack)])
            for b in range(bands)])).alias("band_id", "__bk"))
        .select(alias, "band_id",
                *[F.col(f"__bk.h{j}").alias(f"band_h{j}")
                  for j in range(npack)]))


def _band_pairs(sigs: DataFrame, id_col: str, *, n_perm: int = MINHASH_K,
                bands_n: int = MINHASH_BANDS) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing ≥1 LSH band
    bucket.  ``sigs`` should be persisted by the caller: the self-join
    otherwise recomputes the md5 pipeline on BOTH sides (AQE's
    broadcast conversion defeats exchange reuse) — measured 15s → 0.3s
    at sf0.1.  Standard LSH practice at any scale."""
    bands = _band_explode(sigs, id_col, id_col, n_perm=n_perm,
                          bands=bands_n)
    keys = ["band_id"] + _band_key_cols(n_perm, bands_n)
    a, b = bands.alias("a"), bands.alias("b")
    return (a.join(b, keys)
              .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
              .select(F.col(f"a.{id_col}").alias("id_a"),
                      F.col(f"b.{id_col}").alias("id_b"))
              .distinct())


def _simhash_df(df: DataFrame, text_col: str, id_col: str, *,
                bits: int = 32, out: str = "simhash") -> DataFrame:
    """(id, simhash) — pure per-row projection, NO shuffle.

    r1 plan (explode + 32 scalar sum-aggregates) was the slowest bench
    query; this is one :func:`simhash_signature` fold per row (single
    traversal of the token array, md5 computed once per token) —
    measured ~2× faster warm at sf0.1 and drops the groupBy shuffle."""
    return _spread(df, id_col).select(
        F.col(id_col),
        simhash_signature(F.col(text_col), bits=bits).alias(out))


def dedup_exact(text_col: str = "text", id_col: str = "doc_id", *,
                keep: str = "min") -> Stage:
    """Exact dedup: group by md5(text) digest, keep the min-id doc.
    The shuffle key is the 16-byte digest — constant width regardless
    of document size (partial agg kicks in map-side)."""

    def fn(df: DataFrame) -> DataFrame:
        agg = F.min(id_col) if keep == "min" else F.max(id_col)
        keep_ids = (df.groupBy(F.md5(F.col(text_col)).alias("__h"))
                      .agg(agg.alias(id_col))
                      .select(id_col))
        return df.join(keep_ids, id_col, "semi")

    return Stage(fn, name="dedup_exact", seq_preserving=False)


def exact_index_write(corpus: DataFrame, path: str, *,
                      text_col: str = "text", n_shards: int = 64,
                      mode: str = "overwrite") -> None:
    """Materialize the EXACT dedup reference — the EIGHTH persisted
    index family (bm25/ivf/ivfpq/lsh/minhash/dupspan/simhash
    siblings), closing the dedup-against set across every modality
    (exact bytes here; shingle sets = minhash, token profiles =
    simhash, substrings = dupspan, embeddings = ivf): the DISTINCT
    ``md5(text)`` digests of the kept corpus, ``partitionBy(pt)`` with
    ``pt = h32(digest) % n_shards``, so a daily batch drops its exact
    clones of yesterday's corpus (:func:`dedup_exact_against`) without
    re-hashing it.  Digests only, never text — membership is all an
    exact-match probe needs.  ``_meta`` (n_shards) is written
    DRIVER-side (operators/smallio)."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    _exact_put(corpus, path, mode, text_col, n_shards=n_shards)


def _exact_put(docs: DataFrame, path: str, mode: str, text_col: str, *,
               n_shards: int) -> None:
    """The exact index's one writer (write and merge): ``docs``'
    distinct digests into ``keys/``, then ``_meta``."""
    keys = (docs.select(F.md5(F.col(text_col)).alias("digest"))
                .distinct()
                .withColumn("pt", h32_shard(F.col("digest"), n_shards)))
    (keys.repartition(min(n_shards, 32), "pt")
         .write.partitionBy("pt").mode(mode).parquet(f"{path}/keys"))
    write_meta(path, "exact", mode, n_shards=n_shards)


def exact_index_merge(new_docs: DataFrame, path: str, *,
                      text_col: str = "text") -> None:
    """Fold a NEW kept batch's digests into a persisted
    :func:`exact_index_write` index — one append under the STORED
    n_shards.  md5 is a per-row function, so a probe against the
    merged index equals one against a from-scratch rebuild over the
    union corpus (membership is append-idempotent; law-tested).  Cost
    scales with the new batch only."""
    _exact_put(new_docs, path, "append", text_col,
               **read_meta(path, "exact"))


def dedup_exact_against(path: str, text_col: str = "text",
                        id_col: str = "doc_id", *,
                        broadcast_batch: bool = True) -> Stage:
    """Drop every incoming doc whose EXACT text (md5) already exists
    in the persisted reference index — :func:`dedup_exact`'s
    daily-crawl sibling (the reference holds the canonical copy).
    Batch-internal duplicates are kept (compose :func:`dedup_exact`
    for those) — a doc is dropped solely for matching the reference.

    With ``broadcast_batch`` (default) the batch's digest probe
    broadcasts carrying the shard key, so dynamic partition pruning
    reads only the ``pt`` shard directories the batch hashes into;
    set False for huge batches (plain shuffle join on (pt, digest))."""

    def fn(df: DataFrame) -> DataFrame:
        spark = df.sparkSession
        n_shards = read_meta(path, "exact")["n_shards"]
        probe = (df.select(F.col(id_col),
                           F.md5(F.col(text_col)).alias("digest"))
                   .withColumn("pt", h32_shard(F.col("digest"), n_shards)))
        if broadcast_batch:
            probe = F.broadcast(probe)
        ref = spark.read.parquet(f"{path}/keys")
        hits = (probe.join(ref, ["pt", "digest"])
                     .select(id_col).distinct())
        return df.join(hits, id_col, "anti")

    return Stage(fn, name="dedup_exact_against", seq_preserving=False)


def minhash_signatures(text_col: str = "text", id_col: str = "doc_id", *,
                       n_perm: int = MINHASH_K) -> Stage:
    """Per-doc MinHash signature (narrow projection, no shuffle)."""
    _minhash_params(n_perm)  # validate eagerly

    def fn(df: DataFrame) -> DataFrame:
        return _minhash_sig_df(df, text_col, id_col, n_perm=n_perm)

    return Stage(fn, name="minhash_signatures", seq_preserving=False)


def minhash_dedup_pairs(text_col: str = "text", id_col: str = "doc_id", *,
                        n_perm: int = MINHASH_K,
                        bands: int = MINHASH_BANDS,
                        spread: bool = True) -> Stage:
    """Candidate near-dup pairs by MinHash LSH banding: docs sharing at
    least one (band_id, packed band key) bucket.  Returns distinct
    (id_a < id_b) pairs.

    ``n_perm``/``bands`` accept a :func:`tune_minhash_bands` choice;
    defaults are the module constants every oracle pins."""
    _banding_rows(n_perm, bands)  # validate eagerly

    def fn(df: DataFrame) -> DataFrame:
        return _lsh_pairs(_shingle_hashes(df, text_col, id_col,
                                          spread=spread),
                          id_col, n_perm=n_perm, bands=bands)

    return Stage(fn, name="minhash_dedup_pairs", seq_preserving=False)


def minhash_dedup_against(reference: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", *,
                          ref_sigs: bool = False,
                          new_sigs: "DataFrame | None" = None,
                          n_perm: int = MINHASH_K,
                          bands: int = MINHASH_BANDS) -> Stage:
    """INCREMENTAL dedup: drop every incoming doc that is LSH-similar
    to ANY document of an existing ``reference`` corpus — the ingestion
    pattern (new batch vs the corpus you already kept), where
    :func:`minhash_dedup` is the within-batch pattern.

    ``reference`` is either raw docs (``id_col``/``text_col``) or, with
    ``ref_sigs=True``, a precomputed ``minhash_signatures`` table
    (id, sig) — the 100 TB shape: sign the reference ONCE, persist the
    narrow 16-long signature table, and every future batch pays only
    its own signing + one band equi-join.  The incoming batch's raw
    text never joins anything; only band hashes shuffle.

    Keeps batch-internal duplicates (compose ``minhash_dedup`` /
    ``minhash_dedup_cc`` for those) — a doc is dropped solely for
    colliding with the reference.

    ``new_sigs`` is the batch-side twin of ``ref_sigs``: a precomputed
    ``minhash_signatures`` table for the INCOMING docs, for callers
    that probe the same batch against several references/indexes (sign
    it once, share the narrow table).  As with ``ref_sigs``, the
    caller owns the config agreement (same ``n_perm``, ids covering
    exactly the stage input).

    With ``ref_sigs=True`` the caller owns the config agreement: the
    precomputed signature table must have been built with the SAME
    ``n_perm`` (the banding layout is positional over the prefix)."""
    _banding_rows(n_perm, bands)  # validate eagerly
    bcfg = dict(n_perm=n_perm, bands=bands)

    def fn(df: DataFrame) -> DataFrame:
        # no persist: unlike _band_pairs' self-join, each signature
        # table is consumed exactly once here — a track() would pay a
        # full materialization per batch for zero recompute savings
        ns = (new_sigs if new_sigs is not None
              else _minhash_sig_df(df, text_col, id_col, n_perm=n_perm))
        rs = (reference if ref_sigs
              else _minhash_sig_df(reference, text_col, id_col,
                                   n_perm=n_perm))
        hits = (_band_explode(ns, id_col, "__new_id", **bcfg)
                .join(_band_explode(rs, id_col, "__ref_id", **bcfg),
                      ["band_id"] + _band_key_cols(**bcfg))
                .select(F.col("__new_id").alias(id_col))
                .distinct())
        return df.join(hits, id_col, "anti")

    return Stage(fn, name="minhash_dedup_against", seq_preserving=False)


def minhash_index_write(corpus: DataFrame, path: str, *,
                        text_col: str = "text", id_col: str = "doc_id",
                        n_perm: int = MINHASH_K,
                        bands: int = MINHASH_BANDS,
                        n_shards: int = 64,
                        mode: str = "overwrite") -> None:
    """Materialize the dedup-reference SIGNATURE INDEX once — the
    MinHash member of the persisted-index family (bm25/ivf/ivfpq/lsh
    are its siblings), and the production shape of
    :func:`minhash_dedup_against`'s ``ref_sigs`` hook: sign the kept
    corpus ONE time and write its banded signature rows
    ``partitionBy(pt)`` with ``pt = xxhash64(band key) % n_shards``, so an
    incoming batch's dedup probe reads only the shards its own band
    hashes land in (dynamic partition pruning — the bm25 token-shard
    posture) instead of the corpus-wide signature table.

    Layout under ``path``:

    * ``bands/`` — (id, band_id, band_h0..) partitioned by ``pt``
      (packed long band keys — see :func:`_band_explode`).
    * ``_meta/`` — (n_perm, bands, n_shards), written DRIVER-side
      (operators/smallio): the banding layout is the collision
      contract, and storing it in-band means
      :func:`minhash_index_merge` / :func:`minhash_index_dedup` can
      never drift from the config the index was built with (the
      n_shards rule all four sibling families follow).

    The bands write repartitions BY shard first (the lsh_index_write
    file-churn rule)."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    _banding_rows(n_perm, bands)  # validate eagerly
    _minhash_put(corpus, path, mode, text_col, id_col, n_perm=n_perm,
                 bands=bands, n_shards=n_shards)


def _minhash_put(docs: DataFrame, path: str, mode: str, text_col: str,
                 id_col: str, *, n_perm: int, bands: int,
                 n_shards: int) -> None:
    """The MinHash index's one writer (write and merge): ``docs``'
    banded signature rows into ``bands/``, then ``_meta``."""
    sigs = _minhash_sig_df(docs, text_col, id_col, n_perm=n_perm)
    rows = (_band_explode(sigs, id_col, id_col, n_perm=n_perm,
                          bands=bands)
            .withColumn("pt", _band_shard(n_perm, bands, n_shards)))
    (rows.repartition(n_shards, "pt")
         .write.partitionBy("pt").mode(mode).parquet(f"{path}/bands"))
    write_meta(path, "minhash", mode, n_perm=n_perm, bands=bands,
               n_shards=n_shards)


def minhash_index_merge(new_docs: DataFrame, path: str, *,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> None:
    """Fold a NEW kept batch into a persisted
    :func:`minhash_index_write` index — the daily-crawl ingestion
    step: after a batch survives dedup, its signatures join the
    reference so TOMORROW's batch dedups against it too.  One append
    under the STORED (n_perm, bands, n_shards) — signatures and shard
    assignment are pure per-row functions of the in-band config, so a
    probe against the merged index is BIT-EQUAL to a from-scratch
    rebuild over the union corpus (law-tested).  Cost scales with the
    new batch only; append-only contract as for the sibling merges."""
    _minhash_put(new_docs, path, "append", text_col, id_col,
                 **read_meta(path, "minhash"))


def minhash_index_dedup(path: str, *, text_col: str = "text",
                        id_col: str = "doc_id",
                        new_sigs: "DataFrame | None" = None,
                        broadcast_batch: bool = True) -> Stage:
    """:func:`minhash_dedup_against` against a PERSISTED
    :func:`minhash_index_write` index: identical survivors
    (law-tested bit-equal), but the reference side is the already-paid
    banded signature table and — with ``broadcast_batch`` (default;
    right whenever the incoming batch is small next to the corpus) —
    the band join carries the shard key, so dynamic partition pruning
    reads only the shard directories the batch's band hashes touch.
    Set ``broadcast_batch=False`` for batches too large to broadcast:
    the probe becomes a plain shuffle join on (pt, band_id,
    packed band key), still never touching raw reference text.

    ``new_sigs`` takes a precomputed ``minhash_signatures`` table for
    the batch (the :func:`minhash_dedup_against` hook): sign an
    incoming batch ONCE and share it across the in-memory and
    persisted-index probes.  Caller owns the config agreement — the
    table's ``n_perm`` must match the index ``_meta``."""

    def fn(df: DataFrame) -> DataFrame:
        spark = df.sparkSession
        m = read_meta(path, "minhash")
        n_perm, bands, n_shards = m["n_perm"], m["bands"], m["n_shards"]
        ns = (new_sigs if new_sigs is not None
              else _minhash_sig_df(df, text_col, id_col, n_perm=n_perm))
        probe = (_band_explode(ns, id_col, "__new_id",
                               n_perm=n_perm, bands=bands)
                 .withColumn("pt", _band_shard(n_perm, bands, n_shards)))
        if broadcast_batch:
            probe = F.broadcast(probe)
        ref = spark.read.parquet(f"{path}/bands")
        hits = (probe.join(ref, ["pt", "band_id"]
                           + _band_key_cols(n_perm, bands))
                     .select(F.col("__new_id").alias(id_col))
                     .distinct())
        return df.join(hits, id_col, "anti")

    return Stage(fn, name="minhash_index_dedup", seq_preserving=False)


def minhash_dedup(text_col: str = "text", id_col: str = "doc_id", *,
                  pairs: "DataFrame | None" = None,
                  n_perm: int = MINHASH_K,
                  bands: int = MINHASH_BANDS,
                  spread: bool = True) -> Stage:
    """MinHash-LSH dedup: drop every doc that is LSH-similar to a
    lower-id doc (connected-component-free greedy rule: survivor = not
    the larger id of any candidate pair).

    ``pairs`` accepts a precomputed :func:`minhash_dedup_pairs` result
    (id_a < id_b) — the reuse hook for jobs that consume the candidate
    table more than once (e.g. evaluating BOTH survivor policies, or
    auditing with :func:`minhash_eval`): sign and band the corpus
    ONCE, persist the narrow pair table, share it."""
    pairs_stage = minhash_dedup_pairs(text_col, id_col, n_perm=n_perm,
                                      bands=bands, spread=spread)

    def fn(df: DataFrame) -> DataFrame:
        p = pairs if pairs is not None else pairs_stage(df)
        losers = p.select(F.col("id_b").alias(id_col)).distinct()
        return df.join(losers, id_col, "anti")

    return Stage(fn, name="minhash_dedup", seq_preserving=False)


def _cc_driver(pdf, dt: str, spark, max_iters: int) -> DataFrame:
    """Driver fast path for :func:`_cc_min_label`: run the SAME
    min-label propagation, vectorized over the collected (src, dst)
    arrays — ``np.minimum.at`` per pass IS the per-round
    min-over-neighbours join.  Same unique fixpoint, same acceptance
    bound (a graph needing more than ``max_iters + 1`` label-changing
    rounds raises exactly like the 2-round-batched loop)."""
    import numpy as np

    sd = np.concatenate([pdf["src"].to_numpy(), pdf["dst"].to_numpy()])
    verts, inv = np.unique(sd, return_inverse=True)
    n = len(verts)
    s, d = inv[:len(pdf)], inv[len(pdf):]
    lbl = np.arange(n)  # position == sorted-vertex order; min id == min pos
    # EXACTLY the distributed loop's batched control flow (budget
    # max_iters + 2, two rounds per convergence check) so the
    # acceptance boundary — including its parity at diameter
    # max_iters + 1 — is bit-identical; one numpy pass IS one
    # propagation round (labels monotone non-increasing, so an
    # unchanged batch proves both rounds changed nothing)
    rounds_left = max_iters + 2
    converged = False
    while rounds_left > 0:
        batch = min(2, rounds_left)
        changed = False
        for _ in range(batch):
            new = lbl.copy()
            np.minimum.at(new, d, lbl[s])  # edges carry both directions
            if not np.array_equal(new, lbl):
                changed = True
            lbl = new
        rounds_left -= batch
        if not changed:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected-components did not converge within max_iters="
            f"{max_iters} rounds (graph diameter exceeds the bound); "
            f"raise max_iters")
    import pandas as pd
    out = pd.DataFrame({"id": verts, "lbl": verts[lbl]})
    return local_frame(spark, out, f"id {dt}, lbl {dt}")


def _cc_min_label(pairs: DataFrame, *, max_iters: int = 25) -> DataFrame:
    """Connected components by min-label propagation (Pregel-style).

    ``pairs`` = undirected edges (id_a, id_b).  Returns (id, lbl) where
    lbl = the component's minimum id, for every id appearing in a pair.

    100 TB shape: per round ONE shuffle join of two narrow (long, long)
    tables plus a 1-row convergence aggregate; rounds ≈ graph diameter
    (near-dup clusters are shallow).  localCheckpoint bounds lineage
    exactly like feedback_pipe's driver fixpoint (lift.py), whose
    relaxation of the reference's feedback loop this reuses
    (Data/Conduino.hs:429-442).  When :func:`smallio.driver_collect`
    accepts the edge table the loop runs on the driver
    (:func:`_cc_driver`) — identical labels, identical acceptance
    bound, no per-round driver syncs."""
    # lazy checkpoints throughout (r15 job-count trim, guide §2.4):
    # the convergence aggregate right after each checkpoint materializes
    # it, so every round costs ONE driver-synchronous job instead of
    # two (checkpoint + agg) — the loop is gap-bound, not compute-bound
    edges = (pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
             .unionByName(pairs.select(F.col("id_b").alias("src"),
                                       F.col("id_a").alias("dst")))
             .localCheckpoint(eager=False))  # reused every round
    # the count materializes the checkpoint (replacing the first-touch
    # the initial label sum used to pay) AND gates the driver path
    n_directed = edges.count()
    # width 8: a directed edge's two ids plus the numpy work arrays
    pdf = driver_collect(edges, n_directed, width=8)
    if pdf is not None:
        return _cc_driver(pdf, dict(edges.dtypes)["src"],
                          pairs.sparkSession, max_iters)
    labels = (edges.select(F.col("src").alias("id")).distinct()
                   .select("id", F.col("id").alias("lbl"))
                   .localCheckpoint(eager=False))
    prev = labels.agg(F.sum("lbl")).collect()[0][0]
    converged = False

    def _round(lbls: DataFrame) -> DataFrame:
        nbr = (edges.join(lbls.select(F.col("id").alias("dst"),
                                      F.col("lbl").alias("dlbl")), "dst")
                    .groupBy("src").agg(F.min("dlbl").alias("__m")))
        return (lbls.join(nbr.withColumnRenamed("src", "id"), "id", "left")
                    .select("id", F.least(F.col("lbl"),
                                          F.coalesce("__m", "lbl")).alias("lbl")))

    # max_iters + 1 propagation rounds: convergence is detected one
    # round AFTER the last label change (the confirming cur == prev
    # pass), so without the extra round a graph whose propagation needs
    # exactly max_iters changes would raise at its own fixpoint (ADVICE
    # r3) — the bound documents "diameter ≤ max_iters", and the +1 pays
    # for the check.
    # r15 round 2 (guide §2.4/§5.4): TWO propagation rounds per
    # driver-synchronous convergence check — the loop is gap-bound
    # (each round is one small shuffle join + a 1-row aggregate; the
    # driver round-trip dominates), so halving the sync points halves
    # the loop's wall clock at the cost of at most one wasted round's
    # plan past the fixpoint (a no-op propagation: labels are
    # element-wise monotone non-increasing, so an unchanged SUM over
    # a 2-round batch still proves BOTH rounds changed nothing).  The
    # batch's intermediate labels table appears twice in round 2's
    # plan (as join input and as message source), so EVERY round keeps
    # its lazy localCheckpoint — round 2's stages then read round 1's
    # persisted blocks instead of recomputing (or racing on) its
    # subtree, and nothing relies on runtime exchange reuse; only the
    # convergence AGGREGATE moves to once per batch.
    # budget max_iters + 2 (not + 1): with 2-round batches the
    # confirming check lands on a batch boundary, so a graph whose
    # propagation needs exactly max_iters changes needs rounds
    # max_iters + 1 AND + 2 to fall inside a checked batch; all
    # post-fixpoint rounds are no-ops, so the looser budget never
    # changes returned labels.  Contract note (ADVICE r15): the batch
    # granularity means a graph needing exactly max_iters + 1 label-
    # changing rounds ALSO converges inside the budget instead of
    # raising — the bound is therefore "diameter ≤ max_iters + 1", one
    # looser than the parameter name suggests; labels returned in that
    # extra round are fully converged and correct, so acceptance is
    # strictly more permissive, never wrong
    rounds_left = max_iters + 2
    while rounds_left > 0:
        batch = min(2, rounds_left)
        for _ in range(batch):
            labels = _round(labels).localCheckpoint(eager=False)
        rounds_left -= batch
        cur = labels.agg(F.sum("lbl")).collect()[0][0]
        if cur == prev:  # label sum strictly decreases until the fixpoint
            converged = True
            break
        prev = cur
    if not converged:
        # silently returning partial labels would split a component whose
        # diameter exceeds max_iters into several survivors (ADVICE r2)
        raise RuntimeError(
            f"connected-components did not converge within max_iters="
            f"{max_iters} rounds (graph diameter exceeds the bound); "
            f"raise max_iters")
    return labels


def minhash_cc_labels(pairs: DataFrame, *,
                      max_iters: int = 25) -> DataFrame:
    """Connected-component labels ``(id, lbl)`` of a near-dup pair
    table (id_a, id_b) — ``lbl`` = the component's minimum id.

    The reuse hook companion of the ``pairs=`` hook: a job that
    consumes the SAME pair graph under several survivor policies
    (:func:`minhash_dedup_cc` min-id and :func:`minhash_dedup_cc_best`
    quality — the gate's minhash_survivors pin) computes the Pregel
    min-label loop ONCE and passes the result to both via their
    ``labels=`` parameter, halving the iterative driver rounds (r15
    optimization; the output of either policy is unchanged)."""
    return _cc_min_label(pairs, max_iters=max_iters)


def minhash_dedup_cc(text_col: str = "text", id_col: str = "doc_id", *,
                     max_iters: int = 25,
                     pairs: "DataFrame | None" = None,
                     labels: "DataFrame | None" = None,
                     n_perm: int = MINHASH_K,
                     bands: int = MINHASH_BANDS) -> Stage:
    """MinHash-LSH dedup with CONNECTED-COMPONENT survivor selection:
    keep exactly one doc — the minimum id — per transitive near-dup
    cluster.

    :func:`minhash_dedup`'s greedy rule drops every doc paired with a
    lower id, so a chain a—b—c (no direct a—c pair) keeps only ``a``:
    ``c`` is dropped although its sole near-dup ``b`` is gone too.  CC
    semantics keep the min-id representative per cluster — the standard
    corpus-dedup contract.

    ``max_iters`` bounds the propagation rounds at the cluster graph
    diameter (near-dup clusters are shallow; 25 covers any realistic
    corpus).  A graph needing more rounds raises rather than silently
    splitting components."""
    pairs_stage = minhash_dedup_pairs(text_col, id_col, n_perm=n_perm,
                                      bands=bands)

    def fn(df: DataFrame) -> DataFrame:
        if labels is not None:
            lbls = labels
        else:
            p = pairs if pairs is not None else pairs_stage(df)
            lbls = _cc_min_label(p, max_iters=max_iters)
        losers = (lbls.where(F.col("lbl") != F.col("id"))
                      .select(F.col("id").alias(id_col)))
        return df.join(losers, id_col, "anti")

    return Stage(fn, name="minhash_dedup_cc", seq_preserving=False)


def minhash_dedup_cc_best(score_col: str, text_col: str = "text",
                          id_col: str = "doc_id", *,
                          max_iters: int = 25,
                          pairs: "DataFrame | None" = None,
                          labels: "DataFrame | None" = None,
                          n_perm: int = MINHASH_K,
                          bands: int = MINHASH_BANDS) -> Stage:
    """:func:`minhash_dedup_cc` with QUALITY-based survivor selection:
    keep the cluster member with the highest ``score_col`` (ties by
    lowest id) instead of the lowest id — the policy production dedup
    actually wants (near-dup clusters keep their best-quality copy,
    e.g. a :func:`~conduino_spark.operators.text.quality_score`
    column, not an arbitrary id).

    NULL scores lose to any non-NULL score (they coalesce to -inf);
    an all-NULL cluster falls back to the min-id rule.  Docs in no
    near-dup pair survive untouched.

    Plan: the same banded pair table and Pregel min-label CC as the
    min-id policy, then ONE per-cluster struct-max aggregate over the
    narrow (cluster, score, id) rows and an anti-join of the losers —
    no new shuffle class; deterministic, RNG-free, and replayable by
    a recursive-CTE + row_number DuckDB oracle.

    Cites reference semantics: conduino has no dedup; north-star
    extension (SURVEY §7 M6), Lee et al. 2022 survivor-policy
    refinement."""
    pairs_stage = minhash_dedup_pairs(text_col, id_col, n_perm=n_perm,
                                      bands=bands)

    def fn(df: DataFrame) -> DataFrame:
        if labels is not None:
            lbls = labels
        else:
            p = pairs if pairs is not None else pairs_stage(df)
            lbls = _cc_min_label(p, max_iters=max_iters)  # (id, lbl)
        sc = F.coalesce(F.col(score_col).cast("double"),
                        F.lit(float("-inf")))
        member = lbls.join(
            df.select(F.col(id_col).alias("id"), sc.alias("__sc")), "id")
        # struct max orders by (score, -id): highest score wins, ties
        # go to the LOWEST id — all-NULL clusters reduce to min-id
        winners = (member.groupBy("lbl")
                   .agg(F.max(F.struct(F.col("__sc"),
                                       (-F.col("id")).alias("__ni")))
                        .alias("__w"))
                   .select((-F.col("__w.__ni")).alias("__keep_id")))
        losers = (lbls.join(
            winners, lbls["id"] == winners["__keep_id"], "anti")
            .select(F.col("id").alias(id_col)))
        return df.join(losers, id_col, "anti")

    return Stage(fn, name="minhash_dedup_cc_best", seq_preserving=False)


def simhash_signature(text: Column, *, bits: int = 32) -> Column:
    """SimHash over token hashes: bit i of the signature = sign of
    Σ_tokens (bit_i(h32(tok)) ? +1 : −1).  Duplicate tokens count with
    multiplicity (no distinct) — standard SimHash weighting by tf.

    ONE ``F.aggregate`` fold with a ``bits``-slot array accumulator:
    the token-hash subtree appears exactly once (Catalyst would inline
    a per-bit formulation ``bits``× — the r1 138s trap), each token
    updates all bit-counters via ``zip_with`` in a single pass, then a
    second tiny fold packs sign bits into the signature long.

    NULL text folds like empty text (signature 0) — matches the r1
    ``explode_outer`` behavior."""
    hashes = F.coalesce(F.transform(tokens_col(text), h32),
                        F.array().cast("array<long>"))
    masks = F.array(*[F.lit(1 << i).cast("long") for i in range(bits)])
    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc, masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) > 0, 1).otherwise(-1)))
    return F.aggregate(
        F.zip_with(counts, masks,
                   lambda c, m: F.when(c > 0, m).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"), lambda s, x: s + x)


def simhash(text_col: str = "text", id_col: str = "doc_id", *,
            out: str = "simhash") -> Stage:
    """Per-doc 32-bit SimHash (narrow projection, no shuffle)."""

    def fn(df: DataFrame) -> DataFrame:
        return _simhash_df(df, text_col, id_col, out=out)

    return Stage(fn, name="simhash", seq_preserving=False)


def _simhash_bands(sigs: DataFrame, id_col: str, *, bits: int,
                   max_hamming: int, sig_col: str = "sh") -> DataFrame:
    """Pigeonhole band explode shared by the SimHash dedup family:
    split the signature into ``max_hamming + 1`` nearly-equal bit
    slices — any pair within the hamming budget shares at least one
    INTACT slice, so the (band_id, band_val) equi-join has guaranteed
    recall; ``bit_count`` verifies exactly."""
    n_bands = max_hamming + 1
    cuts = [round(i * bits / n_bands) for i in range(n_bands + 1)]
    slices = [
        F.shiftright(F.col(sig_col), cuts[b])
         .bitwiseAND(F.lit((1 << (cuts[b + 1] - cuts[b])) - 1))
        for b in range(n_bands)
    ]
    return sigs.select(
        id_col, sig_col,
        F.posexplode(F.array(*slices)).alias("band_id", "band_val"))


def simhash_dedup_pairs(text_col: str = "text", id_col: str = "doc_id", *,
                        max_hamming: int = 3, bits: int = 32) -> Stage:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming.

    Candidate generation: split the signature into ``max_hamming + 1``
    bit-slices — by pigeonhole, any pair within the distance budget
    shares at least one INTACT slice, so the equi-join on
    (band_id, band_val) has guaranteed recall; bit_count verifies
    exactly.  More bands = more candidates: callers trade recall
    distance for join fan-out explicitly."""
    n_bands = max_hamming + 1

    def fn(df: DataFrame) -> DataFrame:
        sigs = track(_simhash_df(df, text_col, id_col, bits=bits, out="sh"))
        bands = _simhash_bands(sigs, id_col, bits=bits,
                               max_hamming=max_hamming)
        a, b = bands.alias("a"), bands.alias("b")
        return (a.join(b, ["band_id", "band_val"])
                  .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
                  .where(F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))) <= max_hamming)
                  .select(F.col(f"a.{id_col}").alias("id_a"),
                          F.col(f"b.{id_col}").alias("id_b"))
                  .distinct())

    return Stage(fn, name="simhash_dedup_pairs", seq_preserving=False)


def simhash_dedup_against(reference: DataFrame,
                          text_col: str = "text",
                          id_col: str = "doc_id", *,
                          new_sigs: "DataFrame | None" = None,
                          max_hamming: int = 3, bits: int = 32) -> Stage:
    """Incremental-ingestion SimHash dedup: drop every batch doc whose
    signature is within ``max_hamming`` bits of ANY reference doc —
    the hamming-ball sibling of :func:`minhash_dedup_against` (SimHash
    catches near-dups by token-frequency profile where MinHash works
    on shingle sets).  Candidates via the pigeonhole band equi-join
    (guaranteed recall), exact ``bit_count`` verify; only signatures
    and band slices shuffle, never text.

    ``new_sigs`` takes a precomputed batch signature table
    (``simhash(out='sh')``) — the :func:`minhash_dedup_against`
    ``new_sigs`` hook for this family: sign the incoming batch ONCE
    and share it across the in-memory and persisted-index probes.
    Caller owns the config agreement (same ``bits``, column ``sh``,
    ids covering exactly the stage input)."""

    def fn(df: DataFrame) -> DataFrame:
        ref_sigs = _simhash_df(reference, text_col, id_col, bits=bits,
                               out="sh")
        ref_bands = (_simhash_bands(ref_sigs, id_col, bits=bits,
                                    max_hamming=max_hamming)
                     .select(F.col("sh").alias("__ref_sh"),
                             "band_id", "band_val"))
        ns = (new_sigs if new_sigs is not None
              else _simhash_df(df, text_col, id_col, bits=bits, out="sh"))
        new_bands = _simhash_bands(ns, id_col, bits=bits,
                                   max_hamming=max_hamming)
        hits = (new_bands.join(ref_bands, ["band_id", "band_val"])
                .where(F.bit_count(F.col("sh").bitwiseXOR(
                    F.col("__ref_sh"))) <= max_hamming)
                .select(id_col).distinct())
        return df.join(hits, id_col, "anti")

    return Stage(fn, name="simhash_dedup_against", seq_preserving=False)


def _simhash_put(docs: DataFrame, path: str, mode: str, text_col: str,
                 id_col: str, *, bits: int, max_hamming: int,
                 n_shards: int) -> None:
    """The SimHash index's one writer (write and merge): ``docs``'
    (sh, band_id, band_val) rows into ``bands/``, then ``_meta``."""
    sigs = _simhash_df(docs, text_col, id_col, bits=bits, out="sh")
    rows = (_simhash_bands(sigs, id_col, bits=bits,
                           max_hamming=max_hamming)
            .select("sh", "band_id", "band_val")
            .withColumn("pt", h32_shard(
                F.concat_ws(":", "band_id", "band_val"), n_shards)))
    (rows.repartition(n_shards, "pt")
         .write.partitionBy("pt").mode(mode).parquet(f"{path}/bands"))
    write_meta(path, "simhash", mode, bits=bits, max_hamming=max_hamming,
               n_shards=n_shards)


def simhash_index_write(corpus: DataFrame, path: str, *,
                        text_col: str = "text", id_col: str = "doc_id",
                        max_hamming: int = 3, bits: int = 32,
                        n_shards: int = 64,
                        mode: str = "overwrite") -> None:
    """Materialize the SimHash dedup reference — the SEVENTH persisted
    index family: each kept doc's signature exploded into its
    pigeonhole band rows ``(sh, band_id, band_val)``, written
    ``partitionBy(pt)`` with ``pt = h32(band_id ':' band_val) %
    n_shards`` so an incoming batch's probe reads only the shards its
    own band slices land in (the family's DPP posture).  The full
    signature rides every band row — the probe's hamming verify never
    fetches anything else, and doc ids never enter the index
    (membership is all a dedup reference needs).

    ``_meta`` (driver-side, operators/smallio): (bits, max_hamming,
    n_shards) — the banding layout is the recall contract; merges and
    probes can never drift from the build config."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    if not 1 <= max_hamming < bits:
        raise ValueError(
            f"max_hamming must be in [1, bits), got {max_hamming}")
    _simhash_put(corpus, path, mode, text_col, id_col, bits=bits,
                 max_hamming=max_hamming, n_shards=n_shards)


def simhash_index_merge(new_docs: DataFrame, path: str, *,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> None:
    """Fold a NEW kept batch's signatures into a persisted
    :func:`simhash_index_write` index — one append under the STORED
    (bits, max_hamming, n_shards).  Band rows are per-row functions of
    the config, so a probe against the merged index equals one against
    a from-scratch rebuild over the union corpus (law-tested); cost
    scales with the new batch only."""
    _simhash_put(new_docs, path, "append", text_col, id_col,
                 **read_meta(path, "simhash"))


def simhash_index_dedup(path: str, text_col: str = "text",
                        id_col: str = "doc_id", *,
                        new_sigs: "DataFrame | None" = None,
                        broadcast_batch: bool = True) -> Stage:
    """:func:`simhash_dedup_against` against a PERSISTED
    :func:`simhash_index_write` index: identical survivors
    (law-tested), but the reference side is the already-paid band
    table and — with ``broadcast_batch`` (default) — the band join
    carries the shard key so dynamic partition pruning reads only the
    shard directories the batch's band slices touch.  Set it False
    for huge batches: a plain shuffle join on (pt, band_id,
    band_val).

    ``new_sigs`` takes a precomputed batch signature table
    (``simhash(out='sh')``) — sign the incoming batch ONCE, share it
    across probes; caller owns the config agreement (the table's
    ``bits`` must match the index ``_meta``)."""

    def fn(df: DataFrame) -> DataFrame:
        spark = df.sparkSession
        m = read_meta(path, "simhash")
        bits, max_hamming = m["bits"], m["max_hamming"]
        ns = (new_sigs if new_sigs is not None
              else _simhash_df(df, text_col, id_col, bits=bits, out="sh"))
        probe = (_simhash_bands(ns, id_col, bits=bits,
                                max_hamming=max_hamming)
                 .withColumn("pt", h32_shard(
                     F.concat_ws(":", "band_id", "band_val"),
                     m["n_shards"])))
        if broadcast_batch:
            probe = F.broadcast(probe)
        ref = (spark.read.parquet(f"{path}/bands")
                    .withColumnRenamed("sh", "__ref_sh"))
        hits = (probe.join(ref, ["pt", "band_id", "band_val"])
                .where(F.bit_count(F.col("sh").bitwiseXOR(
                    F.col("__ref_sh"))) <= max_hamming)
                .select(id_col).distinct())
        return df.join(hits, id_col, "anti")

    return Stage(fn, name="simhash_index_dedup", seq_preserving=False)


def ngram_jaccard_pairs(text_col: str = "text", id_col: str = "doc_id", *,
                        threshold: float = 0.5, n: int = SHINGLE_N) -> Stage:
    """Exact n-gram Jaccard similarity pairs ≥ threshold.

    Plan: explode distinct shingles → self-equi-join on shingle (the
    shared-shingle inverted index) → |A∩B| by count, |A∪B| = |A|+|B|−∩.
    At scale the join key is a 32-bit shingle hash, and extremely
    frequent shingles should be stop-listed; here the corpus is clean.
    """
    _check_n(n)

    def fn(df: DataFrame) -> DataFrame:
        # reused by sizes + both sides of the inverted-index join
        sh = track(_shingle_rows(_shingle_hashes(df, text_col, id_col, n),
                                 id_col))
        sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
        if _gemm_verify(sh, id_col):
            # on output-dense corpora the inverted-index self-join
            # explodes to ~all pairs x shared shingles (the 48 MB match
            # shuffle this query used to pay) — a per-block-pair GEMM
            # over per-(doc, g) MULTIPLICITY vectors computes the
            # identical i = sum_g cnt_a(g)*cnt_b(g) without shipping a
            # single match row.  The kernel mask is a slack superset
            # (0.5 integer + 1e-6 rounding) of the final
            # round-then-compare filter, which re-runs in Spark.
            vec = (sh.groupBy(id_col, "g")
                   .agg(F.count("*").alias("__m"))
                   .groupBy(id_col)
                   .agg(F.collect_list(
                       F.struct("g", F.col("__m").cast("double")
                                .alias("w"))).alias("fw"))
                   .select(F.col(id_col).alias("__id"),
                           F.col("fw").getField("g").alias("gs"),
                           F.col("fw").getField("w").alias("ws")))
            th_eff = float(threshold) - 1e-6
            inter = _blocked_gemm_pairs(
                vec,
                lambda dots, la, lb:
                dots >= th_eff * (la[:, None] + lb[None, :] - dots) - 0.5
            ).withColumnRenamed("__dot", "i")
        else:
            a, b = sh.alias("a"), sh.alias("b")
            inter = (a.join(b, "g")
                       .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
                       .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                                F.col(f"b.{id_col}").alias("id_b"))
                       .agg(F.count("*").alias("i")))
        return _jaccard_at_least(inter, sizes, id_col, threshold)

    return Stage(fn, name="ngram_jaccard_pairs", seq_preserving=False)


def ngram_jaccard_lsh(text_col: str = "text", id_col: str = "doc_id", *,
                      threshold: float = 0.5, n: int = SHINGLE_N) -> Stage:
    """n-gram Jaccard dedup, the 100 TB shape: MinHash-LSH candidate
    pairs (band-bucket join, ~linear) verified by EXACT Jaccard — the
    quadratic inverted-index join of :func:`ngram_jaccard_pairs` runs
    only on the candidate set (broadcast-joinable by construction).
    The signatures and the verify read the same word-``n``-gram
    shingle sets, so the banding's recall curve is over the Jaccard
    being verified."""
    _check_n(n)

    def fn(df: DataFrame) -> DataFrame:
        # ONE tokenize+md5 pass feeds both the MinHash signatures
        # and the exact-Jaccard shingle table (r2: was two full
        # corpus passes — the slowest bench query at 2.5s)
        hs = track(_shingle_hashes(df, text_col, id_col, n))
        cand = _lsh_pairs(hs, id_col)
        sh = _shingle_rows(hs, id_col)
        sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
        inter = (cand
                 .join(sh.select(F.col(id_col).alias("id_a"), F.col("g")), "id_a")
                 .join(sh.select(F.col(id_col).alias("id_b"), F.col("g")), ["id_b", "g"])
                 .groupBy("id_a", "id_b").agg(F.count("*").alias("i")))
        return _jaccard_at_least(inter, sizes, id_col, threshold)

    return Stage(fn, name="ngram_jaccard_lsh", seq_preserving=False)


def jaccard_prefix_pairs(text_col: str = "text", id_col: str = "doc_id", *,
                         threshold: float = 0.5, n: int = SHINGLE_N) -> Stage:
    """EXACT n-gram Jaccard threshold self-join via prefix filtering
    (the AllPairs/PPJoin family, Bayardo et al. WWW'07) — the
    deterministic complement of :func:`ngram_jaccard_lsh`: zero false
    negatives (banding misses a true pair with prob (1−s^r)^b) and no
    (bands, rows) tuning, at the cost of one extra narrow window pass.

    The filter: order each doc's distinct shingle hashes by GLOBAL
    rarity (document frequency asc, hash asc — rarest first).  If
    J(x,y) ≥ t then |x∩y| ≥ t·|x∪y| ≥ t·max(|x|,|y|), so the SMALLEST
    common shingle under that order sits inside both docs' prefixes of
    length |d| − ⌈t·|d|⌉ + 1 (were it outside x's prefix, all common
    shingles would fit in x's ⌈t·|x|⌉−1 rarest-last slots — fewer than
    the overlap requires).  Only prefix rows enter the inverted-index
    join; globally common shingles — the quadratic bucket blowup the
    naive join suffers — land outside every prefix and generate no
    candidates: the frequency stoplist, derived from the data, exactly.

    Plan: one tokenize+md5 pass (the shared ``_shingle_hashes`` base),
    one (shingle) hash-agg for document frequency, one per-doc window
    over narrow (id, g, df) rows — raw text never shuffles — the
    prefix-row equi-join with the length filter
    ``least(sz) ≥ ceil(t·greatest(sz))``, then the exact verify join
    on the full shingle table.  The threshold comparison is on the
    UNROUNDED ratio (``i ≥ t·union`` in integer counts), so the prefix
    guarantee and the emitted set coincide exactly; ``jaccard`` is
    rounded to 6dp for display like the rest of the family.

    Cites reference semantics: conduino has no similarity join; this
    is a north-star engine extension (SURVEY §2 gap list).
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    _check_n(n)

    def fn(df: DataFrame) -> DataFrame:
        sh = track(_shingle_rows(_shingle_hashes(df, text_col, id_col, n),
                                 id_col))
        # per-doc sorted shingle-set ARRAYS: the verify side — one row
        # per doc (the doc's own size, never corpus-scale; cap giant
        # outlier docs upstream via corpus_filter), so verification is
        # one codegen'd array_intersect per candidate pair instead of
        # a second explode join + pair groupBy (measured 13.6s → ~3s
        # at sf0.1, threshold 0.2, where the prefix prunes least)
        sets = track(sh.groupBy(id_col).agg(
            F.sort_array(F.collect_list("g")).alias("__gs"),
            F.count("*").alias("sz")))
        th = float(threshold)
        if _gemm_verify(sh, id_col, sets):
            # on output-dense corpora the prefix equi-join admits ~all
            # pairs, so verify by per-block-pair set-intersection GEMM
            # instead; the kernel mask is a 0.5-slack superset of the
            # exact integer filter below.  array_distinct: h32
            # collisions can leave duplicate g per doc; the pair
            # path's array_intersect dedups matches, so the kernel
            # must count distinct matches too (the sparse sub-kernel
            # ADDS duplicates, the dense one assigns them)
            vec = sets.select(F.col(id_col).alias("__id"),
                              F.array_distinct("__gs").alias("gs"))
            hits = _blocked_gemm_pairs(
                vec,
                lambda dots, la, lb:
                dots >= th * (la[:, None] + lb[None, :] - dots) - 0.5,
                binary=True)
            inter = (_pair_sides(hits, sets, id_col, "sz")
                     .withColumnRenamed("__dot", "i"))
        else:
            dfreq = sh.groupBy("g").agg(F.count("*").alias("__df"))
            w = Window.partitionBy(id_col).orderBy("__df", "g")
            pref = (sh.join(dfreq, "g")
                      .withColumn("__pos", F.row_number().over(w))
                      .join(sets.select(id_col, "sz"), id_col)
                      .where(F.col("__pos")
                             <= F.col("sz")
                             - F.ceil(F.lit(threshold) * F.col("sz")) + 1)
                      .select(F.col(id_col), "g", "sz"))
            a = pref.select(F.col(id_col).alias("id_a"), "g",
                            F.col("sz").alias("sz_a"))
            b = pref.select(F.col(id_col).alias("id_b"), "g",
                            F.col("sz").alias("sz_b"))
            cand = (a.join(b, "g")
                     .where((F.col("id_a") < F.col("id_b"))
                            & (F.least("sz_a", "sz_b")
                               >= F.ceil(F.lit(threshold)
                                         * F.greatest("sz_a", "sz_b"))))
                     .select("id_a", "id_b").distinct())
            inter = (_pair_sides(cand, sets, id_col, "__gs", "sz")
                     .withColumn("i", F.size(F.array_intersect("__gs_a",
                                                               "__gs_b"))))
        union = F.col("sz_a") + F.col("sz_b") - F.col("i")
        return (inter.where(F.col("i") >= F.lit(threshold) * union)
                     .select("id_a", "id_b",
                             F.round(F.col("i") / union, 6).alias("jaccard")))

    return Stage(fn, name="jaccard_prefix_pairs", seq_preserving=False)


def embedding_near_dup_pairs(vec_col: str = "embedding", id_col: str = "vec_id", *,
                             threshold: float = 0.98,
                             bucket_col: Optional[str] = "label",
                             kernel: str = "exact") -> Stage:
    """Embedding-cosine near-dup pairs ≥ threshold.

    ``bucket_col`` is the coarse quantizer (IVF cell / cluster id):
    pairwise comparison happens only INSIDE buckets — the 100 TB
    posture.  Pass ``bucket_col=None`` for exact brute force (test
    scale only).

    ``kernel``: "exact" (default) = JVM fold per pair, bit-replayable
    in DuckDB (the gate path); "gemm" = ONE numpy V·Vᵀ per bucket via
    ``applyInPandas`` — the SemDeDup-paper kernel shape.  Same pairs
    (law-tested); cosines can differ in the last ulp before the
    6-decimal round."""
    if kernel not in ("exact", "gemm"):
        raise ValueError(f"kernel must be 'exact' or 'gemm', got {kernel!r}")
    if kernel == "gemm" and bucket_col is None:
        raise ValueError("kernel='gemm' needs bucket_col (the per-bucket "
                         "matrix is the unit of work)")

    def fn(df: DataFrame) -> DataFrame:
        v = F.col(vec_col).cast("array<double>")
        norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda s, x: s + x * x))
        base = df.select(F.col(id_col), v.alias("v"), norm.alias("n"),
                         *( [F.col(bucket_col).alias("bk")] if bucket_col else []))
        if kernel == "gemm":
            import numpy as _np
            import pandas as _pd
            from pyspark.sql.types import (DoubleType, StructField,
                                           StructType)
            th = float(threshold)
            # NULL parity with the exact kernel: the equi-join never
            # matches a NULL bucket key, and a NULL vector folds to a
            # NULL cosine (filtered by >= threshold) — so drop both
            # here rather than letting groupBy treat NULL bk as a
            # joinable group / np.array crash on a NULL embedding.
            base = base.where(F.col("v").isNotNull()
                              & F.col("bk").isNotNull())

            def _out_schema(df: DataFrame) -> StructType:
                idt = df.schema[id_col].dataType
                return StructType([
                    StructField("id_a", idt),
                    StructField("id_b", idt),
                    StructField("cosine", DoubleType()),
                ])
            _id = id_col

            def bucket_pairs(pdf: "_pd.DataFrame") -> "_pd.DataFrame":
                if len(pdf) < 2:
                    return _pd.DataFrame({"id_a": [], "id_b": [],
                                          "cosine": []})
                V = _np.array([_np.asarray(x, dtype=_np.float64)
                               for x in pdf["v"]])
                nn = _np.sqrt((V * V).sum(axis=1))
                cos = _np.round((V @ V.T) / (nn[:, None] * nn[None, :]), 6)
                ids = pdf[_id].to_numpy()
                ii, jj = _np.nonzero(cos >= th)
                keep = ids[ii] < ids[jj]
                return _pd.DataFrame({"id_a": ids[ii][keep],
                                      "id_b": ids[jj][keep],
                                      "cosine": cos[ii, jj][keep]})

            return base.groupBy("bk").applyInPandas(bucket_pairs,
                                                    _out_schema(df))
        if bucket_col is not None:
            # fenced not-null pre-filter: the equi-join would otherwise
            # INFER isnotnull(bk) constraints that Catalyst substitutes
            # through the quantizer's assignment projection (when bk is
            # a computed cell, e.g. ivf_build output) — re-evaluating
            # the whole k-centroid distance argmin in an interpreted
            # per-row predicate.  Same survivors: NULL keys never
            # equi-join.  (plans.core.fenced_where)
            from conduino_spark.plans.core import fenced_where as _fw
            base = _fw(base, F.col("bk").isNotNull()
                       & F.col(id_col).isNotNull())
        a, b = base.alias("a"), base.alias("b")
        on = [F.col("a.bk") == F.col("b.bk")] if bucket_col else []
        cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
        joined = a.join(b, on + [cond] if on else [cond])
        dot = F.aggregate(F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
                          F.lit(0.0), lambda s, x: s + x)
        from conduino_spark.plans.core import fenced_where
        scored = joined.withColumn(
            "cosine", F.round(dot / (F.col("a.n") * F.col("b.n")), 6))
        # fenced: a naked where would substitute the zip_with fold into
        # the predicate and evaluate it twice per candidate pair
        return (fenced_where(scored, F.col("cosine") >= threshold)
                .select(F.col(f"a.{id_col}").alias("id_a"),
                        F.col(f"b.{id_col}").alias("id_b"), "cosine"))

    return Stage(fn, name="embedding_near_dup", seq_preserving=False)


def leakage_safe_split(weights, *, text_col: str = "text",
                       id_col: str = "doc_id", salt: str = "",
                       out: str = "split", max_iters: int = 25,
                       pairs: "DataFrame | None" = None,
                       n_perm: int = MINHASH_K,
                       bands: int = MINHASH_BANDS) -> Stage:
    """Dedup-aware train/val/test assignment: near-duplicate documents
    MUST land in the same split, or the val/test sets leak training
    data (the classic contamination bug a plain per-doc hash split
    ships silently).

    Plan: MinHash-LSH candidate pairs -> connected components (the
    minhash_dedup_cc machinery — min-id label per transitive near-dup
    cluster) -> every doc keyed by its CLUSTER REPRESENTATIVE
    (singletons represent themselves) -> :func:`~conduino_spark.
    operators.sampling.hash_split` on the representative.  Same
    deterministic md5 bucket arithmetic as hash_split, so the split
    frontier is reproducible across runs and engines.

    Scale: the only additions over minhash_dedup_cc are one left join
    (doc -> label) and a pure projection; the LSH/CC work is the
    banded candidate graph, never all-pairs.  Pass ``pairs`` to reuse
    an already-computed candidate table."""
    from conduino_spark.operators.sampling import hash_split
    pairs_stage = minhash_dedup_pairs(text_col, id_col, n_perm=n_perm,
                                      bands=bands)
    split_stage = hash_split(F.col("__rep"), weights, salt=salt, out=out)

    def fn(df: DataFrame) -> DataFrame:
        p = pairs if pairs is not None else pairs_stage(df)
        labels = _cc_min_label(p, max_iters=max_iters)
        # __lbl: keep the label column out of the user's namespace —
        # an input column named "lbl" must survive untouched.
        rep = (df.join(labels.withColumnRenamed("id", id_col)
                             .withColumnRenamed("lbl", "__lbl"),
                       id_col, "left")
                 .withColumn("__rep", F.coalesce(F.col("__lbl"),
                                                 F.col(id_col)))
                 .drop("__lbl"))
        return split_stage(rep).drop("__rep")

    return Stage(fn, name="leakage_safe_split", seq_preserving=False)


def decontaminate(benchmark, *, text_col: str = "text",
                  id_col: str = "doc_id", bench_text_col: str = "text",
                  n: int = SHINGLE_N, out: str = "contam_frac",
                  name: str = "decontaminate") -> Stage:
    """Benchmark decontamination: score every training document by the
    fraction of its distinct word n-gram shingles that also occur in a
    held-out ``benchmark`` corpus (a DataFrame or Source of texts) —
    the standard guard against test-set leakage.  Filter on the score
    downstream (``filter_(f"{out} <= 0.1")`` etc.).

    Output = input columns + ``n_shingles`` / ``n_contam`` / ``out``
    (0.0 for docs with fewer than n tokens — nothing to leak).

    Plan: both corpora reduce to narrow (id, shingle-hash) streams via
    the shared tokenize+md5 pass (:func:`shingles_col` + h32, the same
    machinery the MinHash family uses); the benchmark side collapses to
    DISTINCT hashes and broadcasts when small (a benchmark is ~10⁴-10⁶
    shingles — tiny next to a 100 TB corpus), falling back to a hash
    join on the shuffle key ``__h`` otherwise (Spark's planner decides
    by stats).  One groupBy(id) closes the score; the raw corpus text
    never shuffles."""
    _check_n(n)

    def fn(df: DataFrame) -> DataFrame:
        spark = df.sparkSession
        b = benchmark.df(spark) if hasattr(benchmark, "df") else benchmark
        bench = (b.select(F.explode(
                    F.transform(shingles_col(F.col(bench_text_col), n), h32))
                    .alias("__h"))
                  .distinct())
        doc_h = _shingle_hashes(df.select(id_col, text_col), text_col,
                                id_col, n)
        hits = (doc_h.join(F.broadcast(bench.withColumn("__hit", F.lit(1))),
                           "__h", "left")
                     .groupBy(id_col)
                     .agg(F.count("__h").alias("n_shingles"),
                          F.count("__hit").alias("n_contam")))
        frac = F.when(F.col("n_shingles") > 0,
                      F.round(F.col("n_contam")
                              / F.col("n_shingles").cast("double"), 6)
                      ).otherwise(F.lit(0.0))
        return (df.join(hits, id_col, "left")
                  .withColumn(out, frac)
                  .na.fill({"n_shingles": 0, "n_contam": 0}))

    return Stage(fn, name=name, seq_preserving=False)


def dup_span_window_table(df: DataFrame, window_tokens: int = 32,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """ONE tracked (id, __nt, __w) sliding-window-STRING table shared
    by the whole exact-substring family via their ``windows=`` hooks
    (r16, VERDICT r15 #4): :func:`dup_span_stats` hashes the windows
    with h32, :func:`dup_span_trim` / :func:`dup_span_trim_against`
    with full md5 — different hash functions over the SAME expensive
    tokenize + slice/concat window build, which used to run once per
    consumer.  ``__nt`` = size of the raw token array (−1 for NULL
    text — the stats NULL contract), ``__w`` = the window strings
    (NULL for NULL text; consumers that coalesce NULL text to ''
    coalesce ``__w`` to the empty array, which is exactly
    ``_window_strings(tokens(''))``).  Caller owns the config
    agreement: every consumer must use the same ``window_tokens`` (the
    ``ref_sigs`` precedent)."""
    tk = df.select(F.col(id_col),
                   tokens_col(F.col(text_col)).alias("__tk"))
    return track(tk.select(
        F.col(id_col), F.size("__tk").alias("__nt"),
        _window_strings(F.col("__tk"), window_tokens).alias("__w")))


def dup_span_stats(window_tokens: int = 32, text_col: str = "text",
                   id_col: str = "doc_id", *, min_dup: int = 2,
                   windows: "DataFrame | None" = None,
                   name: str = "dup_span_stats") -> Stage:
    """Exact-substring duplication signal (the practical relaxation of
    suffix-array substring dedup — Lee et al. 2022's "dedup makes LMs
    better" setting): slide a ``window_tokens``-token window at stride
    1 over every document, hash each window, and flag windows whose
    EXACT token sequence appears ``min_dup``+ times across the corpus.
    Emits per-document audit columns:

    * ``n_windows`` / ``n_dup_windows`` / ``dup_window_frac``
    * ``n_dup_spans`` — maximal runs of overlapping duplicated windows
    * ``dup_token_frac`` — fraction of the doc's tokens covered by a
      duplicated span

    Feed ``dup_token_frac`` to :func:`~conduino_spark.operators.text.
    corpus_filter` as a custom rule (mark-and-gate, like the Gopher
    stats) — removal policy stays explicit and auditable instead of
    silently rewriting documents.

    Plan: window build = :func:`_window_strings` over a materialized
    token column (single transform pass; the shingles_col CSE lesson —
    no per-position tokenizer re-evaluation),
    h32 once per window; ONE (hash, count) aggregate over the corpus;
    one semi-join back; per-doc interval-merge fold over the sorted
    duplicated positions (pure ``aggregate`` expression).  Shuffles
    carry only (hash) ints and (id, pos) pairs — never window text."""
    if window_tokens < 1:
        raise ValueError(f"window_tokens must be >= 1, got {window_tokens}")
    if min_dup < 2:
        raise ValueError(f"min_dup must be >= 2, got {min_dup}")
    L = window_tokens

    def fn(df: DataFrame) -> DataFrame:
        if windows is not None:
            # shared window-string table (dup_span_window_table): only
            # the cheap h32 transform runs per consumer
            base = windows.select(F.col(id_col), F.col("__nt"),
                                  F.transform("__w", h32).alias("__ws"))
        else:
            tk = df.select(F.col(id_col),
                           tokens_col(F.col(text_col)).alias("__tk"))
            base = track(tk.select(
                F.col(id_col), F.size("__tk").alias("__nt"),
                F.transform(_window_strings(F.col("__tk"), L), h32)
                 .alias("__ws")))
        wins = base.select(id_col, "__nt",
                           F.posexplode_outer("__ws").alias("__p", "__h"))
        dup_h = (wins.groupBy("__h")
                     .agg(F.count(F.lit(1)).alias("__c"))
                     .where(F.col("__c") >= min_dup)
                     .select("__h"))
        dup_pos = (wins.join(dup_h, "__h", "semi")
                       .groupBy(id_col)
                       .agg(F.array_sort(F.collect_list("__p")).alias("__dp")))
        j = base.join(dup_pos, id_col, "left") \
                .select(id_col, "__nt",
                        F.size("__ws").alias("__nw"),
                        F.coalesce("__dp", F.array().cast("array<int>"))
                         .alias("__dp"))
        # interval-merge fold over sorted positions: spans = runs with
        # gap < L; coverage = union length of [p, p+L)
        zero = F.struct(F.lit(-(10 ** 9)).cast("long").alias("end"),
                        F.lit(0).cast("long").alias("cov"),
                        F.lit(0).cast("long").alias("spans"))

        def step(s, p):
            pl = p.cast("long")
            new_span = pl >= s["end"]
            cov_add = F.least(F.lit(L).cast("long"),
                              pl + F.lit(L) - F.greatest(s["end"], pl))
            return F.struct(
                (pl + F.lit(L)).alias("end"),
                (s["cov"] + cov_add).alias("cov"),
                (s["spans"] + F.when(new_span, 1).otherwise(0))
                .alias("spans"))

        folded = F.aggregate("__dp", zero, step)
        ndw = F.size("__dp").cast("long")
        return (j.withColumn("__f", folded)
                 .select(
                     id_col,
                     F.col("__nw").cast("long").alias("n_windows"),
                     ndw.alias("n_dup_windows"),
                     F.when(F.col("__nw") > 0,
                            ndw / F.col("__nw").cast("double"))
                      .otherwise(F.lit(0.0)).alias("dup_window_frac"),
                     F.col("__f.spans").alias("n_dup_spans"),
                     F.when(F.col("__nt") > 0,
                            F.least(F.lit(1.0),
                                    F.col("__f.cov").cast("double")
                                    / F.col("__nt").cast("double")))
                      .otherwise(F.lit(0.0)).alias("dup_token_frac")))

    return Stage(fn, name=name, seq_preserving=False)


def dup_span_trim(window_tokens: int = 32, text_col: str = "text",
                  id_col: str = "doc_id", *,
                  windows: "DataFrame | None" = None,
                  name: str = "dup_span_trim") -> Stage:
    """The REMOVAL half of exact-substring dedup (Lee et al. 2022):
    where :func:`dup_span_stats` only measures duplication, this
    rewrites the corpus — every occurrence of a duplicated
    ``window_tokens``-token window is cut EXCEPT the corpus-global
    first one (smallest ``(id, pos)``), so exactly one copy of each
    duplicated span survives.  Overlapping masked windows merge into
    maximal spans before cutting (a doc never loses a token twice).

    Emits ``(id_col, text, n_tokens, n_removed)``: untouched docs keep
    their original ``text`` byte-for-byte; trimmed docs get the
    canonical token stream (lowercased, single-space — the same
    :func:`tokens_col` normalization every text operator here shares;
    byte-exact splicing would need an offset map, documented out of
    scope).  NULL-id rows are dropped (the keep-first rule needs a
    total order — :func:`~conduino_spark.operators.sampling.
    hash_sample`'s NULL-key convention).

    Window keys are FULL md5 hex (128-bit): at 100 TB (~1e13 windows)
    a 32/64-bit key WOULD collide and a collision here silently
    deletes text, so the shuffle carries 32-char digests — wider than
    a long, still never the window text.  Plan: one tracked narrow
    (id, pos, digest) explode; one (digest) agg for counts + the
    arg-min winner; one digest equi-join back; one per-doc positions
    agg; one id-join to splice.  Cuts are pure ``aggregate``
    expressions (interval-merge fold, then slice-stitch fold) — no
    Python.  DuckDB replay: :func:`dup_span_trim_sql`.

    Reference parity: conduino has no corpus rewriter (closest is
    per-stream dedup, Combinators.hs:443 filter); this is north-star
    scope (SURVEY §6), semantics from the public ExactSubstr setting."""
    L = window_tokens
    if L < 1:
        raise ValueError(f"window_tokens must be >= 1, got {L}")

    def fn(df: DataFrame) -> DataFrame:
        df, toks, wins = _dup_span_wins(df, text_col, id_col, L,
                                        windows=windows)
        winners = (wins.groupBy("__h")
                       .agg(F.count(F.lit(1)).alias("__c"),
                            F.min(F.struct(F.col(id_col).alias("i"),
                                           F.col("__p").alias("p")))
                             .alias("__w"))
                       .where(F.col("__c") >= 2)
                       .select("__h", "__w"))
        masked = (wins.join(winners, "__h")
                      .where(F.struct(F.col(id_col).alias("i"),
                                      F.col("__p").alias("p"))
                             != F.col("__w"))
                      .groupBy(id_col)
                      .agg(F.array_sort(F.collect_list("__p"))
                            .alias("__mp")))
        return _dup_span_rewrite(df, masked, text_col, id_col, L, toks)

    return Stage(fn, name=name, seq_preserving=False)


def _window_strings(toks_attr: Column, L: int) -> Column:
    """``L``-token sliding windows (single-space joined) over a
    MATERIALIZED token-array column — one interpreted ``transform``
    over positions with ``slice`` + ``concat_ws``, O(n·L) string bytes
    per doc, instead of the L-pass ``zip_with`` chain whose pass ``j``
    re-copies every partial window (O(n·L²/2) bytes — measured 4×
    slower at L=16, sf0.1; bit-identical output).  ``toks_attr`` must
    be a bound column, not the tokenizer expression: interpreted
    lambdas do no CSE, so an expression would re-evaluate the tokenize
    regex per position (the shingles_col lesson — and multi-referenced
    non-cheap aliases are exactly what CollapseProject leaves alone).
    NULL propagates (size(NULL) = -1 under non-ANSI → the NULL branch),
    matching the zip chain's NULL-in/NULL-out."""
    m = F.greatest(F.size(toks_attr) - (L - 1), F.lit(0))
    return (F.when(m > 0, F.transform(
                F.sequence(F.lit(1), m),
                lambda i: F.concat_ws(" ", F.slice(toks_attr, i, L))))
             .when(toks_attr.isNotNull(),
                   F.array().cast("array<string>")))


def _dup_span_wins(df: DataFrame, text_col: str, id_col: str, L: int,
                   windows: "DataFrame | None" = None,
                   ) -> "tuple[DataFrame, Column, DataFrame]":
    """Shared window build for the exact-substring family: NULL-id
    rows dropped, NULL text coalesced (size(NULL) = -1 under non-ANSI
    config — a NULL-text doc must read n_tokens = 0 in BOTH engines),
    windows = :func:`_window_strings` over a materialized token
    column, FULL md5 hex keys (a 32/64-bit key would collide at
    100 TB and silently delete text).  Returns (filtered df, the toks
    column expr, the narrow tracked (id, __p, __h) window frame).

    ``windows`` takes a :func:`dup_span_window_table` — the md5 pass
    then reads the SHARED cached window strings instead of rebuilding
    tokenize + windows (NULL text: the table's NULL ``__w`` coalesces
    to the empty array, exactly ``_window_strings(tokens(''))``)."""
    df = df.where(F.col(id_col).isNotNull())
    toks = tokens_col(F.coalesce(F.col(text_col), F.lit("")))
    if windows is not None:
        src = windows.where(F.col(id_col).isNotNull())
        ws = F.transform(
            F.coalesce(F.col("__w"), F.array().cast("array<string>")),
            F.md5)
        wins = track(src.select(F.col(id_col),
                                F.posexplode(ws).alias("__p", "__h")))
        return df, toks, wins
    tk = df.select(F.col(id_col), toks.alias("__tk"))
    ws = F.transform(_window_strings(F.col("__tk"), L), F.md5)
    wins = track(tk.select(F.col(id_col),
                           F.posexplode(ws).alias("__p", "__h")))
    return df, toks, wins


def _dup_span_rewrite(df: DataFrame, masked: DataFrame, text_col: str,
                      id_col: str, L: int, toks: Column) -> DataFrame:
    """Shared removal machinery: given per-doc sorted masked window
    positions (``masked`` = (id_col, __mp)), merge overlapping
    [p, p+L) spans and splice the kept gaps back together — both pure
    ``aggregate`` expressions, no Python.  Untouched docs keep their
    original ``text`` byte-for-byte."""
    # interval-merge fold: sorted masked positions -> maximal
    # non-overlapping [s, e) spans (each position covers [p, p+L))
    iv_t = "array<struct<s:int,e:int>>"
    zero = F.struct(
        F.array().cast(iv_t).alias("ivs"),
        F.lit(-1).alias("s"), F.lit(-1).alias("e"))

    def step(a, p):
        closed = F.concat(a["ivs"], F.array(F.struct(
            a["s"].alias("s"), a["e"].alias("e"))))
        return (F.when(p < a["e"], F.struct(
                    a["ivs"].alias("ivs"), a["s"].alias("s"),
                    (p + L).alias("e")))
                 .when(a["s"] >= 0, F.struct(
                    closed.alias("ivs"), p.alias("s"),
                    (p + L).alias("e")))
                 .otherwise(F.struct(
                    a["ivs"].alias("ivs"), p.alias("s"),
                    (p + L).alias("e"))))

    def close(a):
        return F.when(a["s"] >= 0, F.concat(a["ivs"], F.array(
            F.struct(a["s"].alias("s"), a["e"].alias("e"))))) \
                .otherwise(a["ivs"])

    j = (df.join(masked, id_col, "left")
           .withColumn("__toks", toks)
           .withColumn("__ivs", F.aggregate(
               F.coalesce("__mp", F.array().cast("array<int>")),
               zero, step, close)))

    # slice-stitch fold: keep the gaps between spans + the tail
    nt = F.size("__toks")
    zero2 = F.struct(F.lit(0).alias("pos"),
                     F.array().cast("array<string>").alias("kept"))

    def cut(a, iv):
        return F.struct(
            iv["e"].alias("pos"),
            F.concat(a["kept"], F.slice(
                F.col("__toks"), a["pos"] + 1,
                iv["s"] - a["pos"])).alias("kept"))

    kept = F.aggregate(
        "__ivs", zero2, cut,
        lambda a: F.concat(a["kept"], F.slice(
            F.col("__toks"), a["pos"] + 1, nt - a["pos"])))

    n_kept = F.size(kept)
    return j.select(
        F.col(id_col),
        F.when(F.size("__ivs") == 0, F.col(text_col))
         .otherwise(F.concat_ws(" ", kept)).alias("text"),
        nt.cast("long").alias("n_tokens"),
        (nt - n_kept).cast("long").alias("n_removed"))


def winnow_fingerprints(k: int = 5, w: int = 4,
                        text_col: str = "text",
                        id_col: str = "doc_id", *,
                        name: str = "winnow_fingerprints") -> Stage:
    """Winnowing document fingerprints (Schleimer et al. SIGMOD'03 —
    the MOSS algorithm): hash every ``k``-token gram, slide a window
    of ``w`` consecutive gram hashes, select each window's MINIMUM
    hash (rightmost position on ties — the paper's robust-winnowing
    rule), and emit the distinct selected (id, pos, fp) rows.

    The guarantee (paper §2): any shared substring of at least
    ``w + k - 1`` tokens yields at least one COMMON fingerprint — so a
    fingerprint equi-join is a candidate generator for substring-level
    overlap with a hard detection floor, at ~2/(w+1) the density of
    the full gram set (the :func:`minhash_signatures` band-join
    posture with a positional guarantee instead of a probabilistic
    one).

    Plan: per-doc arrays end-to-end — gram build is the zip-slice CSE
    idiom, window minima are O(n·w) pure ``transform``/``aggregate``
    expressions, the output explodes to narrow (id, pos, fp) rows
    (text never shuffles).  Bit-replayable in DuckDB
    (:func:`winnow_fingerprints_sql`); NULL ids dropped (join-key
    rule)."""
    if k < 1 or w < 1:
        raise ValueError(f"need k >= 1 and w >= 1, got k={k}, w={w}")

    def fn(df: DataFrame) -> DataFrame:
        df = df.where(F.col(id_col).isNotNull())
        toks = tokens_col(F.col(text_col))
        m = F.greatest(F.size(toks) - (k - 1), F.lit(0))
        acc = F.slice(toks, 1, m)
        for j in range(2, k + 1):
            acc = F.zip_with(acc, F.slice(toks, j, m),
                             lambda x, y: F.concat(x, F.lit(" "), y))
        # per-window rightmost-min via the SAME zip-of-shifted-slices
        # trick the gram build uses: w slice copies TOTAL and w
        # element-wise zip passes — O(n·w) per doc.  (The naive
        # per-window formulation re-evaluates an O(n) slice copy per
        # element access — O(n²·w), measured minutes per task at
        # sf0.1.)  Left-to-right over j with `b <= a -> take b` keeps
        # the RIGHTMOST minimal position, the paper's robust rule.
        # __hs/__hsp land as REAL columns first (the shingles_col CSE
        # lesson: a repeated expression subtree inside higher-order
        # lambdas re-evaluates per reference; an attribute doesn't).
        b1 = df.select(F.col(id_col),
                       F.transform(acc, h32).alias("__hs"))
        hs = F.col("__hs")
        b2 = b1.select(
            id_col,
            F.zip_with(
                hs,
                F.when(F.size(hs) > 0,
                       F.sequence(F.lit(0), F.size(hs) - 1))
                 .otherwise(F.array().cast("array<int>")),
                lambda h, i: F.struct(h.alias("fp"), i.alias("pos")))
            .alias("__hsp"))
        hsp = F.col("__hsp")
        nw = F.greatest(F.size(hsp) - (w - 1), F.lit(0))
        sel = F.slice(hsp, 1, nw)
        for j in range(1, w):
            sel = F.zip_with(sel, F.slice(hsp, j + 1, nw),
                             lambda a, b: F.when(b["fp"] <= a["fp"], b)
                                           .otherwise(a))
        # array_distinct dedups identical (pos, fp) picks from
        # adjacent windows — the winnowing density win.  It is also
        # COMPLETE: rows never collide across docs (id differs), so no
        # corpus-wide distinct shuffle is needed.
        return (b2.select(F.col(id_col),
                          F.explode(F.array_distinct(sel))
                          .alias("__f"))
                  .select(id_col, F.col("__f.pos").alias("pos"),
                          F.col("__f.fp").alias("fp")))

    return Stage(fn, name=name, seq_preserving=False)


def winnow_fingerprints_sql(k: int = 5, w: int = 4, *,
                            table: str = "documents",
                            id_col: str = "doc_id",
                            text_col: str = "text") -> str:
    """DuckDB rendering of :func:`winnow_fingerprints` —
    bit-identical (same h32 grams, same rightmost-min rule)."""
    from conduino_spark.functions.hashing import h32_sql
    from conduino_spark.operators.text import tokens_sql
    toks = tokens_sql(text_col)
    gram = h32_sql(f"array_to_string(t[i:i+{k - 1}], ' ')")
    return f"""
        WITH tk AS (SELECT {id_col} AS d, {toks} AS t FROM {table}
                    WHERE {id_col} IS NOT NULL),
        g AS (SELECT d,
                     [{gram} for i in range(1, len(t) - {k - 2})] AS hs
              FROM tk),
        gi AS (SELECT d, hs,
                      unnest([x for x in range(0,
                          greatest(len(hs) - {w - 1}, 0))]) AS i
               FROM g),
        wins AS (SELECT d, i, j, hs[i + j + 1] AS h
                 FROM gi, range(0, {w}) s(j)),
        mn AS (SELECT d, i, MIN(h) AS mh FROM wins GROUP BY d, i),
        sel AS (SELECT w1.d, w1.i + MAX(w1.j) AS pos, mn.mh AS fp
                FROM wins w1 JOIN mn ON mn.d = w1.d AND mn.i = w1.i
                WHERE w1.h = mn.mh
                GROUP BY w1.d, w1.i, mn.mh)
        SELECT DISTINCT d AS {id_col}, CAST(pos AS INTEGER) AS pos, fp
        FROM sel"""


def dup_span_trim_sql(L: int = 32, table: str = "documents", *,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> str:
    """DuckDB rendering of :func:`dup_span_trim` — bit-identical
    (full-md5 window keys, ``row_number`` over ``(id, pos)`` = the
    struct arg-min winner, same span merge, same canonical rejoin)."""
    from conduino_spark.operators.text import tokens_sql
    toks = tokens_sql(f"coalesce({text_col}, '')")
    win = f"md5(array_to_string(t[i:i+{L - 1}], ' '))"
    return f"""
        WITH tk AS (SELECT {id_col} AS d, {text_col} AS orig, {toks} AS t
                    FROM {table} WHERE {id_col} IS NOT NULL),
        w AS (SELECT d, orig, len(t) AS nt, t,
                     [{win} for i in range(1, len(t) - {L - 2})] AS ws
              FROM tk),
        wins AS (SELECT d, unnest(ws) AS h,
                        generate_subscripts(ws, 1) - 1 AS p FROM w),
        rk AS (SELECT d, p,
                      ROW_NUMBER() OVER (PARTITION BY h
                                         ORDER BY d, p) AS rn,
                      COUNT(*) OVER (PARTITION BY h) AS c
               FROM wins),
        pos AS (SELECT d, p FROM rk WHERE c >= 2 AND rn >= 2),
        g AS (SELECT d, p,
                     CASE WHEN p - lag(p) OVER (PARTITION BY d
                                                ORDER BY p) < {L}
                          THEN 0 ELSE 1 END AS brk
              FROM pos),
        runs AS (SELECT d, p,
                        SUM(brk) OVER (PARTITION BY d ORDER BY p) AS run
                 FROM g),
        spans AS (SELECT d, run, MIN(p) AS s, MAX(p) + {L} AS e
                  FROM runs GROUP BY d, run),
        idx AS (SELECT d, unnest(t) AS tok,
                       generate_subscripts(t, 1) - 1 AS i FROM w),
        kept AS (SELECT idx.d, idx.tok, idx.i FROM idx
                 WHERE NOT EXISTS (SELECT 1 FROM spans sp
                                   WHERE sp.d = idx.d
                                     AND idx.i >= sp.s AND idx.i < sp.e)),
        agg AS (SELECT d, string_agg(tok, ' ' ORDER BY i) AS text,
                       COUNT(*) AS nk
                FROM kept GROUP BY d),
        cut AS (SELECT DISTINCT d FROM spans)
        SELECT w.d AS {id_col},
               CASE WHEN cut.d IS NULL THEN w.orig
                    ELSE coalesce(agg.text, '') END AS text,
               CAST(w.nt AS BIGINT) AS n_tokens,
               CAST(w.nt - CASE WHEN cut.d IS NULL THEN w.nt
                                ELSE coalesce(agg.nk, 0) END
                    AS BIGINT) AS n_removed
        FROM w LEFT JOIN agg USING (d) LEFT JOIN cut USING (d)"""


def dup_span_trim_against_sql(L: int = 32, *, batch: str = "documents",
                              ref: str = "documents",
                              id_col: str = "doc_id",
                              text_col: str = "text") -> str:
    """DuckDB rendering of :func:`dup_span_trim_against` — the direct
    semantics (mask = reference membership ∪ batch-internal non-first
    duplicates), so it replays the index probe even when reference and
    batch ids interleave (where the union-trim law doesn't apply).
    ``batch`` / ``ref`` are table expressions (subqueries in
    parens work)."""
    from conduino_spark.operators.text import tokens_sql
    toks = tokens_sql(f"coalesce({text_col}, '')")
    win = f"md5(array_to_string(t[i:i+{L - 1}], ' '))"
    return f"""
        WITH tk AS (SELECT {id_col} AS d, {text_col} AS orig, {toks} AS t
                    FROM {batch} WHERE {id_col} IS NOT NULL),
        w AS (SELECT d, orig, len(t) AS nt, t,
                     [{win} for i in range(1, len(t) - {L - 2})] AS ws
              FROM tk),
        wins AS (SELECT d, unnest(ws) AS h,
                        generate_subscripts(ws, 1) - 1 AS p FROM w),
        rtk AS (SELECT {toks} AS t FROM {ref}
                WHERE {id_col} IS NOT NULL),
        refk AS (SELECT DISTINCT
                        unnest([{win} for i in
                                range(1, len(t) - {L - 2})]) AS h
                 FROM rtk),
        rk AS (SELECT d, p,
                      ROW_NUMBER() OVER (PARTITION BY h
                                         ORDER BY d, p) AS rn,
                      COUNT(*) OVER (PARTITION BY h) AS c,
                      h IN (SELECT h FROM refk) AS inref
               FROM wins),
        pos AS (SELECT d, p FROM rk
                WHERE inref OR (c >= 2 AND rn >= 2)),
        g AS (SELECT d, p,
                     CASE WHEN p - lag(p) OVER (PARTITION BY d
                                                ORDER BY p) < {L}
                          THEN 0 ELSE 1 END AS brk
              FROM pos),
        runs AS (SELECT d, p,
                        SUM(brk) OVER (PARTITION BY d ORDER BY p) AS run
                 FROM g),
        spans AS (SELECT d, run, MIN(p) AS s, MAX(p) + {L} AS e
                  FROM runs GROUP BY d, run),
        idx AS (SELECT d, unnest(t) AS tok,
                       generate_subscripts(t, 1) - 1 AS i FROM w),
        kept AS (SELECT idx.d, idx.tok, idx.i FROM idx
                 WHERE NOT EXISTS (SELECT 1 FROM spans sp
                                   WHERE sp.d = idx.d
                                     AND idx.i >= sp.s AND idx.i < sp.e)),
        agg AS (SELECT d, string_agg(tok, ' ' ORDER BY i) AS text,
                       COUNT(*) AS nk
                FROM kept GROUP BY d),
        cut AS (SELECT DISTINCT d FROM spans)
        SELECT w.d AS {id_col},
               CASE WHEN cut.d IS NULL THEN w.orig
                    ELSE coalesce(agg.text, '') END AS text,
               CAST(w.nt AS BIGINT) AS n_tokens,
               CAST(w.nt - CASE WHEN cut.d IS NULL THEN w.nt
                                ELSE coalesce(agg.nk, 0) END
                    AS BIGINT) AS n_removed
        FROM w LEFT JOIN agg USING (d) LEFT JOIN cut USING (d)"""


def dupspan_index_write(corpus: DataFrame, path: str, *,
                        window_tokens: int = 32,
                        text_col: str = "text", id_col: str = "doc_id",
                        n_shards: int = 64,
                        mode: str = "overwrite") -> None:
    """Materialize the exact-substring dedup reference — the SIXTH
    persisted index family (bm25/ivf/ivfpq/lsh/minhash siblings): the
    DISTINCT full-md5 window keys of the kept corpus, written
    ``partitionBy(pt)`` with ``pt = h32(digest) % n_shards``, so a
    daily batch trims against yesterday's corpus (
    :func:`dup_span_trim_against`) without re-hashing it — the one
    heavy dedup path that was still computed from scratch per run
    (VERDICT r11 #6).

    Layout under ``path``:

    * ``keys/`` — (digest) distinct 32-char md5 hex, partitioned by
      ``pt``.  Keys only, never window text: membership is all the
      trim probe needs (the reference corpus by definition already
      holds the first copy of every indexed window).
    * ``_meta/`` — (window_tokens, n_shards), written DRIVER-side
      (operators/smallio): window length is the key contract; merges
      and probes can never drift from the build config."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    if window_tokens < 1:
        raise ValueError(
            f"window_tokens must be >= 1, got {window_tokens}")
    _dupspan_put(corpus, path, mode, text_col, id_col,
                 window_tokens=window_tokens, n_shards=n_shards)


def _dupspan_put(docs: DataFrame, path: str, mode: str, text_col: str,
                 id_col: str, *, window_tokens: int,
                 n_shards: int) -> None:
    """The dup-span index's one writer (write and merge): ``docs``'
    distinct window digests into ``keys/``, then ``_meta``."""
    _, _, wins = _dup_span_wins(docs, text_col, id_col, window_tokens)
    keys = (wins.select(F.col("__h").alias("digest")).distinct()
                .withColumn("pt", h32_shard(F.col("digest"), n_shards)))
    (keys.repartition(n_shards, "pt")
         .write.partitionBy("pt").mode(mode).parquet(f"{path}/keys"))
    write_meta(path, "dupspan", mode, window_tokens=window_tokens,
               n_shards=n_shards)


def dupspan_index_merge(new_docs: DataFrame, path: str, *,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> None:
    """Fold a NEW kept batch's window keys into a persisted
    :func:`dupspan_index_write` index — after a batch survives the
    trim, its (now canonical-first) windows join the reference so
    tomorrow's batch trims against them too.  One append under the
    STORED (window_tokens, n_shards); digests are per-row functions of
    the config, so a probe against the merged index equals one against
    a from-scratch rebuild over the union corpus (membership is
    append-idempotent — duplicate digests across appends cannot change
    a semi-join; law-tested).  Cost scales with the new batch only."""
    _dupspan_put(new_docs, path, "append", text_col, id_col,
                 **read_meta(path, "dupspan"))


def dup_span_trim_against(path: str, text_col: str = "text",
                          id_col: str = "doc_id", *,
                          broadcast_batch: bool = True,
                          windows: "DataFrame | None" = None) -> Stage:
    """:func:`dup_span_trim` for the daily-crawl shape: rewrite an
    incoming batch so that every occurrence of a window ALREADY IN the
    persisted reference index is cut (the reference holds the
    canonical first copy), and batch-internal duplicates keep exactly
    their batch-global first occurrence — together BIT-EQUAL to
    running :func:`dup_span_trim` over ``reference ∪ batch`` and
    keeping the batch rows, whenever reference ids order before batch
    ids (law-tested), at the cost of hashing only the batch.

    With ``broadcast_batch`` (default; right whenever the daily batch
    is small next to the corpus) the probe side broadcasts and carries
    the shard key, so dynamic partition pruning reads only the ``pt``
    shard directories the batch's digests land in.  Set it False for
    huge batches: the probe becomes a plain shuffle join on
    (pt, digest)."""

    def fn(df: DataFrame) -> DataFrame:
        spark = df.sparkSession
        m = read_meta(path, "dupspan")
        L = m["window_tokens"]
        d2, toks, wins = _dup_span_wins(df, text_col, id_col, L,
                                        windows=windows)
        probe = wins.withColumn("pt", h32_shard(F.col("__h"),
                                                m["n_shards"]))
        if broadcast_batch:
            probe = F.broadcast(probe)
        ref = (spark.read.parquet(f"{path}/keys")
                    .withColumnRenamed("digest", "__h"))
        ref_hits = (probe.join(ref, ["pt", "__h"])
                         .select(id_col, "__p").distinct())
        winners = (wins.groupBy("__h")
                       .agg(F.count(F.lit(1)).alias("__c"),
                            F.min(F.struct(F.col(id_col).alias("i"),
                                           F.col("__p").alias("p")))
                             .alias("__w"))
                       .where(F.col("__c") >= 2)
                       .select("__h", "__w"))
        internal = (wins.join(winners, "__h")
                        .where(F.struct(F.col(id_col).alias("i"),
                                        F.col("__p").alias("p"))
                               != F.col("__w"))
                        .select(id_col, "__p"))
        masked = (ref_hits.unionByName(internal).distinct()
                          .groupBy(id_col)
                          .agg(F.array_sort(F.collect_list("__p"))
                                .alias("__mp")))
        return _dup_span_rewrite(d2, masked, text_col, id_col, L, toks)

    return Stage(fn, name="dup_span_trim_against", seq_preserving=False)


def dup_span_flag_against(path: str, text_col: str = "text",
                          id_col: str = "doc_id", *,
                          broadcast_batch: bool = True,
                          out: str = "ref_dup_frac") -> Stage:
    """The MEASURE half of index-backed exact-substring dedup: score
    every batch doc by the fraction of its L-token windows already
    present in a persisted :func:`dupspan_index_write` reference —
    :func:`dup_span_stats`'s mark-and-gate posture (feed the fraction
    to ``corpus_filter`` as a custom rule) against yesterday's corpus
    or a benchmark index, where :func:`dup_span_trim_against` is the
    removal half.  Emits input columns + ``n_windows`` /
    ``n_ref_windows`` / ``out`` (0.0 for docs shorter than L tokens —
    nothing to leak).

    Same probe physics as the trim: batch windows broadcast with the
    shard key (DPP reads only touched shards), or a plain shuffle join
    with ``broadcast_batch=False``; reference text never moves."""

    def fn(df: DataFrame) -> DataFrame:
        spark = df.sparkSession
        m = read_meta(path, "dupspan")
        L = m["window_tokens"]
        d2, _toks, wins = _dup_span_wins(df, text_col, id_col, L)
        probe = wins.withColumn("pt", h32_shard(F.col("__h"),
                                                m["n_shards"]))
        if broadcast_batch:
            probe = F.broadcast(probe)
        ref = (spark.read.parquet(f"{path}/keys")
                    .withColumnRenamed("digest", "__h")
                    .select("pt", "__h").distinct())
        hits = (probe.join(ref, ["pt", "__h"], "left_semi")
                     .groupBy(id_col)
                     .agg(F.count(F.lit(1)).alias("n_ref_windows")))
        tot = (wins.groupBy(id_col)
                   .agg(F.count(F.lit(1)).alias("n_windows")))
        frac = F.when(F.col("n_windows") > 0,
                      F.round(F.col("n_ref_windows")
                              / F.col("n_windows").cast("double"), 6)
                      ).otherwise(F.lit(0.0))
        return (d2.join(tot, id_col, "left")
                  .join(hits, id_col, "left")
                  .na.fill({"n_windows": 0, "n_ref_windows": 0})
                  .withColumn(out, frac))

    return Stage(fn, name="dup_span_flag_against", seq_preserving=False)


def semantic_dedup(vec_col: str = "embedding", id_col: str = "vec_id", *,
                   threshold: float = 0.98,
                   bucket_col: "Optional[str]" = "label",
                   kernel: str = "exact") -> Stage:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): drop every
    vector that is cosine-similar (>= ``threshold``) to a LOWER-id
    vector in its cluster — the embedding twin of :func:`minhash_dedup`'s
    greedy survivor rule (survivor = never the larger id of a candidate
    pair), applied to :func:`embedding_near_dup_pairs` candidates.

    ``bucket_col`` is the coarse quantizer (IVF cell / k-means cluster):
    pairwise work stays INSIDE clusters — the 100 TB posture; the paper's
    pipeline is exactly cluster-then-prune.  Deterministic (id-ordered,
    no RNG), so the kept set is DuckDB-replayable bit-for-bit."""
    pairs_stage = embedding_near_dup_pairs(
        vec_col, id_col, threshold=threshold, bucket_col=bucket_col,
        kernel=kernel)

    def fn(df: DataFrame) -> DataFrame:
        pairs = pairs_stage(df)
        losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
        return df.join(losers, id_col, "anti")

    return Stage(fn, name="semantic_dedup", seq_preserving=False)


def semantic_dedup_against(index_path: str, *, threshold: float = 0.98,
                           nprobe: int = 2,
                           vec_col: str = "embedding",
                           id_col: str = "vec_id",
                           kernel: str = "exact") -> Stage:
    """SemDeDup at the daily-crawl shape: drop every batch vector
    whose nearest REFERENCE neighbor — probed through a persisted
    :func:`~conduino_spark.operators.similarity.ivf_index_write`
    index — has cosine ≥ ``threshold``.  The embedding-modality
    sibling of :func:`minhash_index_dedup` / :func:`simhash_index_dedup`
    / :func:`dup_span_trim_against`: the reference corpus is signed
    (here: cell-partitioned) once, and each day's batch pays only its
    own probe.

    Approximate by the same dial as :func:`semantic_dedup`'s IVF
    bucketing: candidates come from the batch vector's ``nprobe``
    best cells under the index's stored quantizer (at ``nprobe`` ≥
    n_cells the probe is exhaustive and the survivor set exact —
    law-tested against the brute cosine rule).  ``kernel='gemm'``
    scores cells as numpy matrix products (the 100 TB default)."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")

    def fn(df: DataFrame) -> DataFrame:
        from conduino_spark.operators.similarity import ivf_index_join
        hits = ivf_index_join(index_path, k=1, nprobe=nprobe,
                              vec_col=vec_col, id_col=id_col,
                              kernel=kernel)(df)
        drop = (hits.where(F.col("cosine") >= threshold)
                    .select(id_col).distinct())
        return df.join(drop, id_col, "anti")

    return Stage(fn, name="semantic_dedup_against", seq_preserving=False)


def source_overlap(text_col: str = "text", group_col: str = "source", *,
                   n: int = SHINGLE_N, min_jaccard: float = 0.0) -> Stage:
    """Cross-source contamination matrix: for every unordered pair of
    ``group_col`` values (sources, splits, snapshots), the Jaccard
    overlap of their DISTINCT word-``n``-gram shingle sets — the audit
    a training pipeline runs to find which subcorpora duplicate each
    other (or leak into a held-out split) BEFORE mixing them.

    Output: (group_a, group_b, n_a, n_b, n_common, jaccard), group_a <
    group_b, filtered to ``jaccard >= min_jaccard``.

    Plan: ONE shared tokenize+md5 pass (the same
    :func:`shingles_col`+h32 machinery the MinHash family uses) →
    distinct (group, hash) — the only full-width shuffle, of narrow int
    pairs → ``collect_set(group) GROUP BY hash`` (set size ≤ #groups,
    which is small by definition) → in-row pair expansion of each set →
    one count per pair + a broadcast join of per-group totals.  The
    corpus text never shuffles, and nothing is ever quadratic in
    documents — only in GROUPS, the point of aggregating by shingle
    first (contrast ``ngram_jaccard_pairs``, which pairs documents)."""
    _check_n(n)

    def fn(df: DataFrame) -> DataFrame:
        # round-robin spread: the group column has FEW distinct values
        # by definition, so hashing by it would funnel the per-doc
        # tokenize+md5 work onto #groups tasks (ADVICE r6)
        sh = (_spread(df.select(group_col, text_col), None)
              .select(F.col(group_col).alias("__g"),
                      F.explode(F.transform(
                          shingles_col(F.col(text_col), n), h32))
                       .alias("__h"))
              .distinct())
        sizes = sh.groupBy("__g").agg(F.count(F.lit(1)).alias("__n"))
        sets = (sh.groupBy("__h")
                  .agg(F.array_sort(F.collect_set("__g")).alias("__gs"))
                  .where(F.size("__gs") >= 2))
        pairs = (sets.select(F.explode("__gs").alias("group_a"), "__gs")
                     .select("group_a", F.explode("__gs").alias("group_b"))
                     .where(F.col("group_a") < F.col("group_b"))
                     .groupBy("group_a", "group_b")
                     .agg(F.count(F.lit(1)).alias("n_common")))
        out = (pairs
               .join(F.broadcast(sizes.select(
                   F.col("__g").alias("group_a"), F.col("__n").alias("n_a"))),
                   "group_a")
               .join(F.broadcast(sizes.select(
                   F.col("__g").alias("group_b"), F.col("__n").alias("n_b"))),
                   "group_b")
               .select("group_a", "group_b", "n_a", "n_b", "n_common",
                       (F.col("n_common").cast("double")
                        / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
                       .alias("jaccard")))
        if min_jaccard > 0.0:
            out = out.where(F.col("jaccard") >= min_jaccard)
        return out

    return Stage(fn, name=f"source_overlap({group_col})",
                 seq_preserving=False)


def minhash_eval(threshold: float = 0.5, *, text_col: str = "text",
                 id_col: str = "doc_id", n: int = SHINGLE_N,
                 n_perm: int = MINHASH_K,
                 bands: int = MINHASH_BANDS) -> Stage:
    """LSH-quality audit: precision/recall of the MinHash banding's
    candidate pairs against the EXACT n-gram-Jaccard ground truth at
    ``threshold`` — the measurement a pipeline runs (on a sample)
    before committing a banding configuration to a 100 TB dedup job.

    Output: ONE row — n_candidates, n_true, n_hit, precision (what
    fraction of candidate pairs are truly ≥ threshold), recall (what
    fraction of true pairs the bands caught).  Recall is the number
    that matters: a missed true pair is a duplicate that SURVIVES
    dedup; precision only costs verification work.

    Plan: both sides reduce to pair tables of (id_a < id_b) longs —
    LSH candidates from the banded self-join over signatures of the
    same word-``n``-gram shingles (:func:`ngram_jaccard_lsh`'s signing
    path, so the audited banding is the one that runs), truth from
    the exact shared-shingle inverted index — then two tiny counts + one
    pair-keyed join.  Empty sides yield 1.0 precision/recall by
    convention (nothing claimed, nothing missed → vacuous success);
    n_candidates == 0 with n_true > 0 yields recall 0.0."""
    _banding_rows(n_perm, bands)  # validate eagerly
    true_stage = ngram_jaccard_pairs(text_col, id_col,
                                     threshold=threshold, n=n)

    def fn(df: DataFrame) -> DataFrame:
        # the banding under audit signs the same n-gram shingles the
        # truth verifies (ngram_jaccard_lsh's signing path)
        cand = _lsh_pairs(_shingle_hashes(df, text_col, id_col, n),
                          id_col, n_perm=n_perm, bands=bands)
        true = true_stage(df).select("id_a", "id_b")
        cand = track(cand)
        true = track(true)
        hit = cand.join(true, ["id_a", "id_b"], "semi")
        counts = (cand.agg(F.count(F.lit(1)).alias("n_candidates"))
                  .crossJoin(true.agg(F.count(F.lit(1)).alias("n_true")))
                  .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit"))))
        one = F.lit(1.0)
        return counts.select(
            "n_candidates", "n_true", "n_hit",
            F.when(F.col("n_candidates") == 0, one)
             .otherwise(F.round(F.col("n_hit")
                                / F.col("n_candidates"), 6))
             .alias("precision"),
            F.when(F.col("n_true") == 0, one)
             .otherwise(F.round(F.col("n_hit") / F.col("n_true"), 6))
             .alias("recall"))

    return Stage(fn, name=f"minhash_eval(t={threshold})",
                 seq_preserving=False)


def lsh_candidate_prob(s: float, bands: int, rows: int) -> float:
    """P(a pair with Jaccard similarity ``s`` becomes an LSH candidate)
    under (bands × rows) MinHash banding: ``1 - (1 - s^rows)^bands`` —
    the S-curve every banding choice trades on (Leskovec/Rajaraman/
    Ullman, Mining of Massive Datasets §3.4)."""
    if not 0.0 <= s <= 1.0:
        raise ValueError(f"similarity must be in [0, 1], got {s}")
    return 1.0 - (1.0 - s ** rows) ** bands


def tune_minhash_bands(threshold: float, n_perm: int = MINHASH_K, *,
                       fn_weight: float = 0.5) -> "tuple[int, int]":
    """Pick (bands, rows) with ``bands * rows <= n_perm`` minimizing the
    weighted false-positive + false-negative area of the banding
    S-curve around ``threshold`` (the datasketch-style integral,
    evaluated by midpoint rule): FP = candidates below the threshold
    (wasted verification), FN = non-candidates above it (duplicates
    that SURVIVE dedup — weight them via ``fn_weight``; > 0.5 biases
    toward recall).  Driver-side pure arithmetic — run it BEFORE
    committing a banding config to a corpus-scale job, typically with
    :func:`minhash_eval` as the empirical check on a sample."""
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if n_perm < 2:
        raise ValueError(f"n_perm must be >= 2, got {n_perm}")
    if not 0.0 <= fn_weight <= 1.0:
        raise ValueError(f"fn_weight must be in [0, 1], got {fn_weight}")
    steps = 200
    best, best_cost = (1, n_perm), float("inf")
    for bands in range(1, n_perm + 1):
        rows = n_perm // bands
        if rows < 1:
            break
        fp = fn = 0.0
        for j in range(steps):
            s = (j + 0.5) / steps
            p = lsh_candidate_prob(s, bands, rows)
            if s < threshold:
                fp += p / steps
            else:
                fn += (1.0 - p) / steps
        cost = (1.0 - fn_weight) * fp + fn_weight * fn
        if cost < best_cost - 1e-12:
            best, best_cost = (bands, rows), cost
    return best


def cosine_tfidf_weights(text_col: str = "text", id_col: str = "doc_id", *,
                         weight_round: int = 6) -> Stage:
    """The vector-prep half of :func:`cosine_prefix_pairs`: tokenize →
    TF → document frequency → TF-IDF → unit-normalize → round to
    ``weight_round``-dp scaled longs.  Output schema is the weight
    table ``(id_col, g int, __df long, w6 long)`` that
    ``cosine_prefix_pairs(precomputed_weights=True)`` consumes.

    Exposed separately so the weights can be PERSISTED once per corpus
    snapshot (the index-memo idiom — they are deterministic integers,
    so a parquet round-trip is exact) and the prune+join+verify half
    replayed warm; recomputing five aggregation passes over raw text
    per probe is what made the exact-cosine floors swing between bench
    runs (r13 verdict #1)."""
    if not 1 <= weight_round <= 9:
        raise ValueError(f"weight_round must be in [1, 9], "
                         f"got {weight_round}")
    scale = 10 ** weight_round

    def fn(df: DataFrame) -> DataFrame:
        tf = track(
            _spread(df, id_col)
            .select(F.col(id_col),
                    F.explode(tokens_col(F.col(text_col))).alias("t"))
            .select(id_col, h32(F.col("t")).alias("g"))
            .groupBy(id_col, "g").agg(F.count("*").alias("__tf")))
        dfreq = tf.groupBy("g").agg(F.count("*").alias("__df"))
        n_docs = tf.select(id_col).distinct().count()
        w = (tf.join(dfreq, "g")
               .withColumn("__w", F.col("__tf")
                           * F.log(1.0 + F.lit(float(n_docs))
                                   / F.col("__df"))))
        nrm = w.groupBy(id_col).agg(
            F.sqrt(F.sum(F.col("__w") * F.col("__w"))).alias("__nr"))
        return (w.join(nrm, id_col).where(F.col("__nr") > 0)
                 .select(id_col, "g", "__df",
                         F.round(F.col("__w") / F.col("__nr")
                                 * F.lit(scale)).cast("long").alias("w6")))

    return Stage(fn, name=f"cosine_tfidf_weights(r={weight_round})",
                 seq_preserving=False)


# verify-strategy gate (per defaultParallelism core): below this
# n_docs^2/2 + sum(df^2) budget the output-dense blocked-GEMM verify
# replaces the prefix-filtered pair path; above it the candidate-bound
# pair path is the 100 TB shape.  Module constants so tests can force
# either branch on small data.
_GEMM_VERIFY_BUDGET = 3e9
# per-chunk flop ceiling above which the block kernel switches from the
# dense scatter+GEMM sub-path to the sparse match-expansion one
_GEMM_DENSE_FLOPS = 2e8

# edit_distance_pairs candidate strategy: up to this k the pigeonhole-
# chunk filter (O(k^3) windows per row) replaces the q-gram prefix
# filter; above it the window count grows cubically and q-grams win.
# Module constant so tests can force either branch.
_EDJOIN_CHUNK_MAX_K = 3


def _gemm_verify(feat: DataFrame, id_col: str,
                 docs: "DataFrame | None" = None) -> bool:
    """The verify-strategy gate of the exact similarity joins
    (:func:`ngram_jaccard_pairs`, :func:`jaccard_prefix_pairs`,
    :func:`cosine_prefix_pairs`): True when the blocked-GEMM verify
    (:func:`_blocked_gemm_pairs`) should replace the candidate-bound
    pair path.  ``feat`` is the join's (id, g) feature table.

    The pair paths cost ~Σ_g c(g)² candidate match rows through a
    shuffle, a dedup and a per-pair verify; the GEMM costs ~(n²/2 dot
    cells + Σ_g df² MACs) of exact float64 BLAS inside numpy.  On
    output-dense corpora (shared vocabulary — the prefix join admits
    ~all pairs anyway) GEMM wins by orders of magnitude; past the
    budget, which scales with cluster parallelism, the candidate-bound
    pair path stays the 100 TB shape.  ONE stats job reads n (rows of
    ``docs``, the caller's one-row-per-doc table when it persists one,
    so the job fills that cache; else the distinct ids of ``feat``)
    and Σ_g df²; the decision is deterministic and data-derived, and
    both paths are exact, so the rows are identical either way.  The
    kernel keys docs by a numeric id, so other id types take the pair
    path without the stats job."""
    if not isinstance(feat.schema[id_col].dataType,
                      (LongType, IntegerType, ShortType)):
        return False
    if docs is None:
        docs = feat.groupBy(id_col).agg(F.count("*").alias("sz"))
    row = (docs.agg(F.count("*").alias("n"))
           .crossJoin(feat.groupBy("g").agg(F.count("*").alias("c"))
                      .agg(F.coalesce(F.sum(F.col("c") * F.col("c")),
                                      F.lit(0)).alias("df2")))
           .collect()[0])
    par = feat.sparkSession.sparkContext.defaultParallelism
    return row["n"] * row["n"] / 2 + row["df2"] <= _GEMM_VERIFY_BUDGET * par


def _blocked_gemm_pairs(vec: DataFrame, keep, *,
                        binary: bool = False) -> DataFrame:
    """All pairs with exact integer dot selected by ``keep`` via
    per-block-pair dense GEMM — the verify strategy of the
    prefix-filtered similarity joins when the candidate set is
    output-dense (r15 optimization; guide §4.2/§8: hand whole blocks
    to a vectorized native kernel).  On such corpora the prefix
    equi-join admits ~all pairs anyway, so the prune machinery, the
    candidate exchange, the pair dedup and the per-pair interpreted
    fold are all pure overhead; the kernel emits every pair the
    ``keep(dots, na_sizes, nb_sizes) -> bool mask`` predicate admits
    (callers pass a predicate that is exactly, or a sound superset
    of, the operator's final filter, which re-runs in Spark) — the
    caller's flop-budget gate is what keeps this off big/sparse
    corpora, where the candidate-bound pair path remains the 100 TB
    shape.

    ``vec``: one row per doc — ``(__id numeric, gs array<long>[,
    ws array<long> unless binary])``.  ``binary=True`` scatters 1.0
    per feature (set intersection counts).

    Exactness: weights are nonneg scaled longs with per-term products
    <= scale^2 = 1e12 and dots <= ~1e12 (unit vectors / set sizes),
    so every float64 product and partial sum is an exact integer
    < 2^53 — BLAS may reassociate freely, the result is the same
    integer.

    Scale shape: blocks = deterministic ``pmod(xxhash64(id), B)`` with
    B(B+1)/2 ~ defaultParallelism; the narrow per-doc feature arrays
    are replicated to at most B+1 (block, partner) groups via a
    driver-sized assignment table; the block-pair exchange is a user
    repartition AQE may not coalesce, so kernel parallelism follows
    groups, not bytes; the kernel chunks both the vocab and the
    left-row axis to bound its dense slices."""
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    spark = vec.sparkSession
    par = spark.sparkContext.defaultParallelism
    n_blocks = max(2, math.ceil((math.isqrt(8 * par + 1) - 1) / 2) + 1)
    while n_blocks * (n_blocks + 1) // 2 < par:
        n_blocks += 1

    idt = vec.schema["__id"].dataType
    vec = vec.withColumn(
        "b", F.pmod(F.xxhash64(F.col("__id")), F.lit(n_blocks)).cast("int"))
    # one pass over the per-doc vectors: the side-role fan-out happens
    # on a TINY driver-built assignment table (block b -> its B+1
    # (ba, bb, side) groups), not on the corpus
    asn_rows = ([(b, b, q, 0) for b in range(n_blocks)
                 for q in range(b, n_blocks)]
                + [(q, p, q, 1) for p in range(n_blocks)
                   for q in range(p + 1, n_blocks)])
    asn = local_frame(spark, asn_rows, "b int, ba int, bb int, side int")
    cols = ["ba", "bb", "side", "__id", "gs"] + ([] if binary else ["ws"])
    sides = (vec.join(F.broadcast(asn), "b")
             .select(*cols)
             .repartition(par, "ba", "bb"))

    out_schema = StructType([StructField("id_a", idt),
                             StructField("id_b", idt),
                             StructField("__dot", LongType())])

    def kern(pdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame({"id_a": pd.Series([], dtype="int64"),
                              "id_b": pd.Series([], dtype="int64"),
                              "__dot": pd.Series([], dtype="int64")})
        same = bool(pdf["ba"].iat[0] == pdf["bb"].iat[0])
        a = pdf[pdf["side"].to_numpy() == 0]
        b = a if same else pdf[pdf["side"].to_numpy() == 1]
        if len(a) == 0 or len(b) == 0 or (same and len(a) < 2):
            return empty

        def unpack(part):
            gl = [np.asarray(g, dtype=np.int64) for g in part["gs"]]
            if binary:
                wl = None
            else:
                wl = np.concatenate(
                    [np.asarray(w, dtype=np.float64) for w in part["ws"]])
            return gl, wl

        ga, wa = unpack(a)
        gb, wb = (ga, wa) if same else unpack(b)
        vocab = np.unique(np.concatenate(ga + ([] if same else gb)))

        def trip(gl, wflat):
            lens = np.fromiter((len(g) for g in gl), dtype=np.int64,
                               count=len(gl))
            rows = np.repeat(np.arange(len(gl)), lens)
            cols = np.searchsorted(vocab, np.concatenate(gl))
            vals = (np.ones(len(rows)) if wflat is None else wflat)
            return rows, cols, vals, lens

        ra, ca, va, la = trip(ga, wa)
        rb, cb, vb, lb = (ra, ca, va, la) if same else trip(gb, wb)
        na, nb, nv = len(ga), len(gb), len(vocab)
        ia = a["__id"].to_numpy()
        ib = ia if same else b["__id"].to_numpy()
        # right side pre-sorted by feature for the sparse sub-kernel
        ob = np.argsort(cb, kind="stable")
        cb_s, rb_s, vb_s = cb[ob], rb[ob], vb[ob]
        cu_b, start_b = np.unique(cb_s, return_index=True)
        end_b = np.append(start_b[1:], len(cb_s))
        outs = []
        # left-row chunking bounds every dense slice AND the dot
        # matrix; chunked adds of exact integers are exact
        a_step = max(1, int(2e7) // max(nb, 1))
        for alo in range(0, na, a_step):
            ahi = min(na, alo + a_step)
            sel_a = (ra >= alo) & (ra < ahi)
            nca = ahi - alo
            if nca * nb * nv <= _GEMM_DENSE_FLOPS:
                # dense BLAS sub-kernel (small local vocab): vocab-
                # chunked scatter + GEMM
                dots = np.zeros((nca, nb))
                step = max(1, int(4e7 // max(nca + nb, 1)))
                for lo in range(0, nv, step):
                    hi = min(nv, lo + step)
                    sa = sel_a & (ca >= lo) & (ca < hi)
                    ma = np.zeros((nca, hi - lo))
                    ma[ra[sa] - alo, ca[sa] - lo] = va[sa]
                    sb = (cb >= lo) & (cb < hi)
                    mb = np.zeros((nb, hi - lo))
                    mb[rb[sb], cb[sb] - lo] = vb[sb]
                    dots += ma @ mb.T
            else:
                # sparse sub-kernel (large local vocab): per-feature
                # match expansion + one bincount — cost follows
                # Σ_g df_a·df_b actual matches, not dense flops
                ca_c, ra_c, va_c = ca[sel_a], ra[sel_a] - alo, va[sel_a]
                oa = np.argsort(ca_c, kind="stable")
                ca_c, ra_c, va_c = ca_c[oa], ra_c[oa], va_c[oa]
                cu_a, start_a = np.unique(ca_c, return_index=True)
                end_a = np.append(start_a[1:], len(ca_c))
                _, ixa, ixb = np.intersect1d(cu_a, cu_b,
                                             assume_unique=True,
                                             return_indices=True)
                keys, vals = [], []
                for t in range(len(ixa)):
                    a0, a1 = start_a[ixa[t]], end_a[ixa[t]]
                    b0, b1 = start_b[ixb[t]], end_b[ixb[t]]
                    keys.append((ra_c[a0:a1, None] * nb
                                 + rb_s[None, b0:b1]).ravel())
                    vals.append((va_c[a0:a1, None]
                                 * vb_s[None, b0:b1]).ravel())
                if keys:
                    dots = np.bincount(
                        np.concatenate(keys),
                        weights=np.concatenate(vals),
                        minlength=nca * nb).reshape(nca, nb)
                else:
                    dots = np.zeros((nca, nb))
            mask = keep(dots, la[alo:ahi], lb)
            ii, jj = np.nonzero(mask)
            id1, id2, vv = ia[ii + alo], ib[jj], dots[ii, jj]
            if same:
                sel = id1 < id2
                id1, id2, vv = id1[sel], id2[sel], vv[sel]
            outs.append(pd.DataFrame({"id_a": np.minimum(id1, id2),
                                      "id_b": np.maximum(id1, id2),
                                      "__dot": vv.astype(np.int64)}))
        return pd.concat(outs, ignore_index=True) if outs else empty

    return sides.groupBy("ba", "bb").applyInPandas(kern, out_schema)


def cosine_prefix_pairs(text_col: str = "text", id_col: str = "doc_id", *,
                        threshold: float = 0.5,
                        weight_round: int = 6,
                        precomputed_weights: bool = False) -> Stage:
    """EXACT weighted-cosine threshold self-join over TF-IDF document
    vectors — the WEIGHTED companion of :func:`jaccard_prefix_pairs`
    (Bayardo et al. WWW'07, all-pairs with the max-weight suffix
    bound): find every pair of documents whose unit-normalized TF-IDF
    cosine is >= ``threshold``, without all-pairs work and without an
    approximation to tune.

    Vectors: w(d,t) = tf · ln(1 + N/df), unit-normalized per doc, then
    ROUNDED to ``weight_round`` decimals as scaled longs — every dot
    product afterwards is an order-free exact integer, so the prune
    bound, the verify filter, and a DuckDB brute-force oracle all
    agree bit-for-bit (the term_round convention; ln's last ulp is
    the one accepted risk, as everywhere in this repo).

    The prune: order features globally by (document frequency asc,
    hash) — rare first.  For each doc, index feature position i ONLY
    if the suffix bound ``sum_{j>=i} w_j · maxw_j`` (maxw = the
    corpus-wide max rounded weight of that feature) still reaches the
    threshold: if two docs share no indexed feature, the globally
    smallest common feature would sit in both suffixes and the dot is
    provably < t.  Common low-idf features — exactly the heavy join
    keys — fall out of every prefix because their weights are small.

    Plan: one tokenize pass -> (doc, feature, tf), one df aggregate,
    one per-doc norm aggregate, one max-weight aggregate, one per-doc
    suffix-sum window over narrow rows, the prefix equi-join, and a
    verify join against per-doc sorted (feature, weight) maps — dot =
    one codegen'd ``aggregate`` over ``array_intersect``.  Raw text
    never shuffles.

    With ``precomputed_weights=True`` the input DataFrame must already
    BE the weight table produced by :func:`cosine_tfidf_weights` with
    the same ``id_col``/``weight_round`` (columns ``id_col, g, __df,
    w6``) — e.g. read back from a persisted parquet snapshot — and the
    five prep passes are skipped; only the prune + candidate join +
    exact verify run."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if not 1 <= weight_round <= 9:
        raise ValueError(f"weight_round must be in [1, 9], "
                         f"got {weight_round}")
    scale = 10 ** weight_round
    tau = int(threshold * scale * scale)  # dot threshold, scaled^2
    prep = cosine_tfidf_weights(text_col, id_col,
                                weight_round=weight_round)

    def fn(df: DataFrame) -> DataFrame:
        if precomputed_weights:
            missing = {id_col, "g", "__df", "w6"} - set(df.columns)
            if missing:
                raise ValueError(
                    "cosine_prefix_pairs(precomputed_weights=True) "
                    f"input lacks weight-table columns {sorted(missing)}"
                    " — produce it with cosine_tfidf_weights()")
            # a persisted weight snapshot read back from narrow
            # parquet arrives in FILE-split partitioning (often one
            # task) and has lost the hash-by-doc co-partitioning the
            # computed path gets for free from its final join — the
            # windows, the per-doc map aggregation and the norm agg
            # all fan out of this cache, so a 1-partition cache
            # serializes every one of them (measured 2x the COLD
            # recompute at sf0.1 before this repartition; 0.8x after)
            par = df.sparkSession.sparkContext.defaultParallelism
            w6 = track(df.repartition(par, id_col))
        else:
            w6 = track(prep.fn(df))
        # integer dots are order-free, so both verify paths are exact
        if _gemm_verify(w6, id_col):
            vec = (w6.groupBy(id_col)
                   .agg(F.collect_list(F.struct("g", "w6")).alias("fw"))
                   .select(F.col(id_col).alias("__id"),
                           F.col("fw").getField("g").alias("gs"),
                           F.col("fw").getField("w6").alias("ws")))
            tau_f = float(tau)
            hits = _blocked_gemm_pairs(
                vec, lambda dots, la, lb: dots >= tau_f)
        else:
            # the largest rounded squared norm across docs: the ||y||
            # factor of the Cauchy-Schwarz bound (exact integer; rounding
            # can push it slightly above scale²)
            max_tot = (w6.groupBy(id_col)
                       .agg(F.sum(F.col("w6") * F.col("w6")).alias("__t"))
                       .agg(F.coalesce(F.max("__t"), F.lit(0)))
                       .collect()[0][0])
            mw = w6.groupBy("g").agg(F.max("w6").alias("mw6"))
            # CS prune floor: keep position i iff
            # sqrt(suffix_sq_i · max_tot) >= t·scale², i.e. suffix_sq_i >=
            # t²·scale⁴ / max_tot — computed on the driver with a safety
            # margin (a smaller floor only keeps MORE rows, never unsound)
            cs_floor = (threshold * threshold * float(scale) ** 4
                        / max_tot - 1e3) if max_tot else 0.0
            # TWO independent suffix bounds in the rare-first global order
            # (cumulative desc sums INCLUDING the current row); a position
            # is indexed only if BOTH still reach the threshold:
            #   * max-weight (Bayardo):  dot ≤ Σ_sfx w·maxw
            #   * Cauchy-Schwarz:        dot ≤ ||x_sfx||·||y||
            # CS is what bites on corpora whose common features carry most
            # of the energy (maxw stays near 1 there and prunes nothing)
            ws = (Window.partitionBy(id_col)
                  .orderBy(F.desc("__df"), F.desc("g"))
                  .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            pref = (w6.join(mw, "g")
                      .withColumn("__susp",
                                  F.sum(F.col("w6") * F.col("mw6")).over(ws))
                      .withColumn("__sfx2",
                                  F.sum(F.col("w6") * F.col("w6")).over(ws))
                      .where((F.col("__susp") >= F.lit(tau))
                             & (F.col("__sfx2") >= F.lit(cs_floor)))
                      .select(F.col(id_col), "g"))
            # cached: the candidate self-join below consumes pref twice
            # (both aliases) — without the persist the whole mw-join +
            # double-window pipeline ran once per side (r15)
            pref = track(pref)
            # explicit repartition BEFORE the dedup: the candidate table is
            # narrow (two longs) so AQE's size-based coalescing would hand
            # the verify stage 2-3 fat partitions — but each row costs a
            # map intersection, so parallelism must follow ROWS, not bytes.
            # Hash-partitioning by (id_a, id_b) with an explicit count does
            # double duty: AQE never coalesces a user-numbered repartition,
            # and it satisfies dropDuplicates' clustering requirement, so
            # the distinct agg AND the fused broadcast-join + dot verify
            # all run at full width off this ONE exchange.
            par = df.sparkSession.sparkContext.defaultParallelism
            cand = (pref.select(F.col(id_col).alias("id_a"), "g")
                    .join(pref.select(F.col(id_col).alias("id_b"), "g"), "g")
                    .where(F.col("id_a") < F.col("id_b"))
                    .select("id_a", "id_b")
                    .repartition(par, "id_a", "id_b")
                    .dropDuplicates(["id_a", "id_b"]))
            vecs = w6.groupBy(id_col).agg(
                F.map_from_entries(
                    F.sort_array(F.collect_list(F.struct("g", "w6"))))
                .alias("__fw"))
            # dot via map_zip_with (hash-merged, O(|a|+|b|)) — NOT
            # array_intersect + element_at, whose MapType lookup is a
            # linear scan (O(|a|·|b|) per pair — 10× slower measured)
            dot = F.aggregate(
                F.map_values(F.map_zip_with(
                    "__fw_a", "__fw_b",
                    lambda _, x, y: F.coalesce(x, F.lit(0))
                    * F.coalesce(y, F.lit(0)))),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v)
            hits = (_pair_sides(cand, vecs, id_col, "__fw")
                    .withColumn("__dot", dot))
        return (hits.where(F.col("__dot") >= F.lit(tau))
                    .select("id_a", "id_b",
                            F.round(F.col("__dot")
                                    / F.lit(float(scale * scale)), 6)
                            .alias("cosine")))

    return Stage(fn, name="cosine_prefix_pairs", seq_preserving=False)


def cosine_pairs_sql(threshold: float, *, weight_round: int = 6,
                     table: str = "documents", id_col: str = "doc_id",
                     expr: str = "text") -> str:
    """DuckDB rendering of :func:`cosine_prefix_pairs` — BRUTE FORCE
    over the same ``weight_round``-dp rounded integer weights, so the
    pruned Spark join replays bit-for-bit (exactness of the
    max-weight / Cauchy-Schwarz prunes is the claim under test)."""
    from conduino_spark.functions.hashing import h32_sql
    from conduino_spark.operators.text import tokens_sql
    toks = tokens_sql(expr)
    scale = 10 ** weight_round
    tau = int(threshold * scale * scale)
    return f"""
        WITH tk AS (SELECT {id_col},
                           unnest([{h32_sql('t')} for t in {toks}]) AS g
                    FROM {table}),
        tf AS (SELECT {id_col}, g, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
        dfq AS (SELECT g, COUNT(*) AS df FROM tf GROUP BY g),
        nn AS (SELECT COUNT(DISTINCT {id_col}) AS n FROM tf),
        w AS (SELECT {id_col}, g, tf * ln(1.0 + n * 1.0 / df) AS w
              FROM tf JOIN dfq USING (g) CROSS JOIN nn),
        nrm AS (SELECT {id_col}, sqrt(SUM(w * w)) AS nr FROM w
                GROUP BY {id_col}),
        w6 AS (SELECT w.{id_col}, w.g,
                      CAST(ROUND(w.w / nrm.nr * {scale}) AS BIGINT) AS w6
               FROM w JOIN nrm USING ({id_col}) WHERE nrm.nr > 0),
        dot AS (SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
                       SUM(a.w6 * b.w6) AS d
                FROM w6 a JOIN w6 b
                  ON a.g = b.g AND a.{id_col} < b.{id_col}
                GROUP BY 1, 2)
        SELECT id_a, id_b,
               ROUND(d / {float(scale * scale)}, 6) AS cosine
        FROM dot WHERE d >= {tau}"""


def edit_distance_pairs(text_col: str = "text", id_col: str = "doc_id", *,
                        k: int = 2, q: int = 2) -> Stage:
    """EXACT edit-distance threshold self-join (Ed-Join family, Xiao
    et al. VLDB'08 / Gravano et al. VLDB'01 q-gram filtering) — the
    STRING companion of :func:`jaccard_prefix_pairs` (token sets) and
    :func:`cosine_prefix_pairs` (weighted vectors): every pair of rows
    whose Levenshtein distance on ``text_col`` is <= ``k``, without
    all-pairs work.

    The filters, all lossless:

    * **length**: ``|len(a) - len(b)| <= k`` (each edit changes
      length by at most 1).
    * **q-gram prefix** (pigeonhole): one edit destroys at most ``q``
      of a string's overlapping q-grams, so ``dist <= k`` implies the
      occurrence-numbered gram multisets share
      ``>= |G| - k*q`` elements.  Under a global rare-first total
      order on (gram, occurrence), any such pair must collide inside
      the first ``k*q + 1`` grams of each LONG string (the standard
      prefix-filter lemma) — common grams never generate candidates.
      Gram hashes may collide (h32): a collision only ADDS candidates,
      never drops a true pair.
    * **short strings** (``n_grams <= k*q``, where the lemma's
      ``t >= 1`` fails): they index ALL their grams — which still
      catches every short-vs-long pair, because the overlap bound on
      the LONG side (``>= |G_long| - k*q >= 1``) drives the lemma —
      and short-vs-short pairs go through a separate length-bucket
      equi-join (each short string probes the 2k+1 partner lengths;
      bounded, since both sides are <= q*(k+1)-1 chars by definition —
      n_grams = len-q+1 <= k*q gives len <= q*(k+1)-1).

    Verify: banded ``levenshtein(a, b, threshold=k)`` — O(k*n) per
    candidate, JVM codegen.  Rows with NULL ``text_col`` are dropped
    (the hash_sample NULL-key rule).  Returns (id_a, id_b, dist).

    Plan: one gram explode + one gram-frequency agg + one per-string
    rank window over narrow (id, g, occ) rows — raw strings never
    shuffle until the verify join — the (g, occ) equi-join, the tiny
    short-side length-key join, one user-numbered repartition (AQE
    never coalesces it; parallelism follows candidate ROWS, not
    bytes), then the verify.

    Cites reference semantics: conduino has no similarity join; this
    is a north-star engine extension (SURVEY §2 gap list)."""
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    if q < 2:
        raise ValueError(f"q must be >= 2, got {q}")
    cap = k * q

    def short_pairs(shorts: DataFrame) -> DataFrame:
        # (id_a < id_b) pairs of (id, __len) rows whose lengths differ
        # by <= k: each row probes its 2k+1 partner lengths
        return (shorts.select(
            F.col(id_col).alias("id_a"),
            F.explode(F.sequence(F.col("__len") - k,
                                 F.col("__len") + k)).alias("__lb"))
            .join(shorts.select(F.col(id_col).alias("id_b"),
                                F.col("__len").alias("__lb")), "__lb")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b"))

    def chunk_candidates(s: DataFrame) -> DataFrame:
        # r15 candidate filter (guide §2.3/§3.2; PartEnum/pigeonhole,
        # Arasu et al. VLDB'06 family): dist <= k means an optimal
        # alignment has <= k edit ops, so of the k+1 fixed chunks of
        # EITHER string at least one contains no op — it appears in
        # the partner EXACTLY, shifted by at most the <= k net indels.
        # Candidates therefore come from an equi-join of chunk hashes
        # against partner windows (la in [len-k, len+k] schemes x k+1
        # chunks x 2k+1 offsets — O(k^3) windows/row, tiny for the
        # small-k contract) instead of shared q-grams.  On corpora of
        # similar strings this prunes orders of magnitude harder (the
        # measured sf0.1 40-char bench corpus: 6.6M q-gram candidate
        # pairs -> ~output-sized), and it stays LOSSLESS: h32 chunk
        # collisions only add candidates, the banded-levenshtein
        # verify below is unchanged.  Strings shorter than k+1 chars
        # cannot be chunked and go through the short-short length
        # join; (short, chunkable) pairs are caught here with the
        # chunkable member on the chunk side (an unchanged chunk must
        # FIT in the partner, so the window side needs no length
        # floor).
        kp1 = k + 1
        a_side = (s.where(F.col("__len") >= kp1)
                  .select(F.col(id_col),
                          F.col("__len").alias("la"),
                          F.posexplode(F.expr(
                              f"transform(sequence(0, {k}), i -> "
                              f"substring(__s, 1 + cast(floor(i * "
                              f"length(__s) / {kp1}) as int), "
                              f"cast(floor((i+1) * length(__s) / {kp1})"
                              f" - floor(i * length(__s) / {kp1}) "
                              f"as int)))")).alias("ci", "__c"))
                  .select(F.col(id_col), "la", "ci",
                          h32(F.col("__c")).alias("g")))
        wins = (
            f"filter(flatten(flatten(transform("
            f"if(length(__s) + {k} >= {kp1}, "
            f"sequence(greatest(length(__s) - {k}, {kp1}), "
            f"length(__s) + {k}), array()), "
            f"la -> transform(sequence(0, {k}), "
            f"i -> transform(sequence(-{k}, {k}), "
            f"d -> struct(la as la, i as ci, "
            f"cast(1 + floor(i * la / {kp1}) + d as int) as p, "
            f"cast(floor((i+1) * la / {kp1}) "
            f"- floor(i * la / {kp1}) as int) as ln)))))), "
            f"w -> w.p >= 1 and w.p + w.ln - 1 <= length(__s))")
        b_side = (s.select(F.col(id_col),
                           F.explode(F.expr(wins)).alias("w"),
                           F.col("__s"))
                  .select(F.col(id_col),
                          F.col("w.la").alias("la"),
                          F.col("w.ci").alias("ci"),
                          h32(F.expr("substring(__s, w.p, w.ln)"))
                          .alias("g")))
        both = (a_side.select(F.col(id_col).alias("id_a"),
                              "la", "ci", "g")
                .join(b_side.select(F.col(id_col).alias("id_b"),
                                    "la", "ci", "g"),
                      ["la", "ci", "g"])
                .where(F.col("id_a") != F.col("id_b"))
                .select(F.least("id_a", "id_b").alias("id_a"),
                        F.greatest("id_a", "id_b").alias("id_b")))
        return both.unionByName(short_pairs(
            s.where(F.col("__len") < kp1).select(F.col(id_col), "__len")))

    def fn(df: DataFrame) -> DataFrame:
        s = track(
            _spread(df, id_col)
            .where(F.col(text_col).isNotNull())
            .select(F.col(id_col),
                    F.col(text_col).cast("string").alias("__s"))
            .withColumn("__len", F.length("__s"))
            .withColumn("__ng", F.greatest(F.col("__len") - (q - 1),
                                           F.lit(0))))
        grams = (s.select(
            id_col, "__ng",
            F.posexplode(F.expr(
                f"transform(sequence(1, greatest(length(__s) - {q - 1},"
                f" 0)), i -> substring(__s, i, {q}))"))
            .alias("__pos", "__gram"))
            .select(id_col, "__ng", "__pos",
                    h32(F.col("__gram")).alias("g")))
        if k <= _EDJOIN_CHUNK_MAX_K:
            cand_pre = chunk_candidates(s)
        else:
            occ_w = Window.partitionBy(id_col, "g").orderBy("__pos")
            grams = grams.withColumn("__occ",
                                     F.row_number().over(occ_w))
            gfreq = grams.groupBy("g").agg(F.count("*").alias("__gf"))
            rank_w = Window.partitionBy(id_col).orderBy("__gf", "g",
                                                        "__occ")
            pref = (grams.join(gfreq, "g")
                    .withColumn("__r", F.row_number().over(rank_w))
                    .where((F.col("__r") <= cap + 1)
                           | (F.col("__ng") <= cap))
                    .select(F.col(id_col), "g", "__occ"))
            cand_gram = (pref.select(F.col(id_col).alias("id_a"),
                                     "g", "__occ")
                         .join(pref.select(F.col(id_col).alias("id_b"),
                                           "g", "__occ"),
                               ["g", "__occ"])
                         .where(F.col("id_a") < F.col("id_b"))
                         .select("id_a", "id_b"))
            cand_pre = cand_gram.unionByName(short_pairs(
                s.where(F.col("__ng") <= cap).select(F.col(id_col),
                                                     "__len")))
        par = df.sparkSession.sparkContext.defaultParallelism
        cand = (_pair_sides(cand_pre, s, id_col, "__len")
                .where(F.abs(F.col("__len_a") - F.col("__len_b")) <= k)
                .select("id_a", "id_b")
                .repartition(par, "id_a", "id_b")
                .dropDuplicates(["id_a", "id_b"]))
        dist = F.levenshtein("__s_a", "__s_b", k)
        return (_pair_sides(cand, s, id_col, "__s")
                    .withColumn("dist", dist)
                    .where((F.col("dist") >= 0) & (F.col("dist") <= k))
                    .select("id_a", "id_b",
                            F.col("dist").cast("int").alias("dist")))

    return Stage(fn, name="edit_distance_pairs", seq_preserving=False)


def edit_distance_pairs_sql(k: int, *, table: str = "documents",
                            id_col: str = "doc_id",
                            expr: str = "text") -> str:
    """DuckDB rendering of :func:`edit_distance_pairs` — BRUTE FORCE
    behind the same length filter, so the q-gram-pruned Spark join
    replays bit-for-bit (losslessness of the prefix + short-string
    arms is the claim under test)."""
    return f"""
        WITH s AS (SELECT {id_col}, CAST({expr} AS VARCHAR) AS s
                   FROM {table} WHERE {expr} IS NOT NULL)
        SELECT id_a, id_b, dist FROM (
          SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
                 CAST(levenshtein(a.s, b.s) AS INT) AS dist
          FROM s a JOIN s b
            ON a.{id_col} < b.{id_col}
           AND abs(length(a.s) - length(b.s)) <= {k})
        WHERE dist <= {k}"""
