"""Full-text retrieval over the documents table: inverted-index
postings and BM25 top-k scoring (north star — the query side of an
LLM-data pipeline: find training docs matching a probe query).

Scale posture (100 TB):

* ``build_postings`` is ONE shuffle keyed by (doc, token) — the
  map side explodes tokens and pre-aggregates, so the shuffle carries
  (doc_id, token, tf) partials, never raw text.
* ``bm25_search`` never builds the full index for a single query: the
  token array is filtered to the query terms BEFORE the explode, so
  the exploded row count is (query-term hits), not (corpus tokens).
  Per-term doc frequencies and the (N, avgdl) corpus stats are
  broadcast (≤ |query| + 1 rows); the final top-k is
  orderBy+limit = TakeOrderedAndProject (per-partition heap, no
  global sort).

Scoring is Lucene-flavoured BM25:
``idf = ln(1 + (N − df + 0.5)/(df + 0.5))`` (always positive),
``tf_norm = tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl))``.
``ln`` is IEEE-double libm — JVM vs DuckDB may differ in the last
ulp, so the oracle comparison is tolerance-based (1e-9 relative), not
hash-exact; tf/df/dl/top-k membership are integer-exact.
"""

from __future__ import annotations

import re
from typing import Sequence, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from conduino_spark.functions.hashing import h32_shard
from conduino_spark.plans.core import Stage
from conduino_spark.operators.smallio import (driver_parquet_read,
                                              driver_parquet_write,
                                              local_frame)
from conduino_spark.operators.text import TOKEN_SPLIT, tokens_col, tokens_sql


def query_terms(query: Union[str, Sequence[str]]) -> list[str]:
    """Normalize a query to distinct lowercase word terms with the SAME
    tokenizer as the corpus side (declaration order preserved)."""
    if isinstance(query, str):
        toks = [t for t in re.split(TOKEN_SPLIT, query.lower()) if t]
    else:
        toks = [t.lower() for t in query]
    seen: dict[str, None] = {}
    for t in toks:
        seen.setdefault(t)
    return list(seen)


def build_postings(text_col: str = "text", id_col: str = "doc_id") -> Stage:
    """Inverted-index postings: one row per (doc, token) with term
    frequency ``tf`` and doc token length ``dl`` — the materialized
    index a search service would write ``partitionBy(token-shard)``.

    ONE shuffle on (doc, token, dl); dl is functionally dependent on
    the doc so keying by it adds no skew."""

    def fn(df: DataFrame) -> DataFrame:
        toks = tokens_col(F.coalesce(F.col(text_col), F.lit("")))
        return (df.select(F.col(id_col), F.size(toks).alias("dl"),
                          F.explode(toks).alias("token"))
                  .groupBy(id_col, "token", "dl")
                  .agg(F.count(F.lit(1)).alias("tf")))

    return Stage(fn, name="build_postings", seq_preserving=False)


def _bm25_score(n: Column, avgdl: Column, k1: float, b: float,
                term_round: "int | None" = None) -> Column:
    """The one BM25 aggregate: Σ idf·tf_norm over a group's (tf, dl,
    df_t) rows, rounded to 6dp.  With ``term_round`` each term is
    first rounded to a scaled long, so the sum is order-free exact."""
    idf = F.ln(1.0 + (n - F.col("df_t") + 0.5)
               / (F.col("df_t") + 0.5))
    tf_norm = (F.col("tf") * (k1 + 1.0)
               / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl")
                                      / avgdl)))
    term = idf * tf_norm
    if term_round is None:
        return F.round(F.sum(term), 6)
    scale = 10 ** term_round
    return F.round(
        F.sum(F.round(term * F.lit(scale)).cast("long"))
        .cast("double") / F.lit(float(scale)), 6)


def _check_top_k(k: int, term_round: "int | None") -> None:
    if k < 1:
        raise ValueError(f"need k >= 1, got k={k}")
    if term_round is not None and not 1 <= term_round <= 9:
        raise ValueError(f"term_round must be in [1, 9], got {term_round}")


def _bm25_top_k(cand: DataFrame, score: Column, k: int, id_col: str,
                query_id_col: str, out: str) -> DataFrame:
    """Per-query top-``k`` of the (query, doc) scores over candidate
    postings rows: rank 1..k by (score desc, doc id)."""
    scored = cand.groupBy(query_id_col, id_col).agg(score.alias(out))
    w = Window.partitionBy(query_id_col).orderBy(F.desc(out),
                                                 F.col(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k))


def bm25_search(query: Union[str, Sequence[str]], k: int = 10, *,
                k1: float = 1.2, b: float = 0.75,
                text_col: str = "text", id_col: str = "doc_id",
                out: str = "bm25") -> Stage:
    """BM25 top-k over the corpus for one query.  Token arrays are
    filtered to the query terms before exploding (the scan reads text
    once; only query-term hits ever shuffle), per-term doc frequencies
    and corpus stats broadcast, and the top-k is a per-partition heap."""
    terms = query_terms(query)
    if not terms:
        raise ValueError("bm25_search: query has no terms")

    def fn(df: DataFrame) -> DataFrame:
        toks = tokens_col(F.coalesce(F.col(text_col), F.lit("")))
        base = df.select(F.col(id_col), toks.alias("__tk"))

        # (N, avgdl) — one tiny agg, broadcast via 1-row cross join
        stats = base.agg(F.count(F.lit(1)).alias("__n"),
                         F.avg(F.size("__tk")).alias("__avgdl"))

        hits = (base.select(
                    F.col(id_col), F.size("__tk").alias("dl"),
                    F.explode(F.filter(
                        "__tk", lambda t: t.isin(terms))).alias("token"))
                    .groupBy(id_col, "token", "dl")
                    .agg(F.count(F.lit(1)).alias("tf")))

        dfreq = hits.groupBy("token").agg(F.count(F.lit(1)).alias("df_t"))

        scored = (hits
                  .join(F.broadcast(dfreq), "token")
                  .crossJoin(F.broadcast(stats)))
        return (scored
                .groupBy(id_col)
                .agg(_bm25_score(F.col("__n"), F.col("__avgdl"),
                                 k1, b).alias(out))
                .orderBy(F.desc(out), F.col(id_col))
                .limit(k))

    return Stage(fn, name=f"bm25_search({k})", seq_preserving=False)


def bm25_sql(query: Union[str, Sequence[str]], k: int = 10, *,
             k1: float = 1.2, b: float = 0.75, table: str = "documents",
             id_col: str = "doc_id", expr: str = "text",
             out: str = "bm25") -> str:
    """DuckDB rendering of :func:`bm25_search` (same terms, stats,
    Lucene idf, and 6dp rounding) for tolerance-based comparison."""
    terms = query_terms(query)
    lst = ", ".join(f"'{t}'" for t in terms)
    toks = tokens_sql(f"coalesce({expr}, '')")
    return f"""
      WITH tk AS (SELECT {id_col}, {toks} AS t FROM {table}),
      stats AS (SELECT count(*) AS n, avg(len(t)) AS avgdl FROM tk),
      hits AS (SELECT {id_col}, len(t) AS dl,
                      unnest(list_filter(t, x -> x in ({lst}))) AS token
               FROM tk),
      tf AS (SELECT {id_col}, token, dl, count(*) AS tf
             FROM hits GROUP BY 1, 2, 3),
      dfreq AS (SELECT token, count(*) AS df_t FROM tf GROUP BY 1)
      SELECT {id_col},
             round(sum(ln(1.0 + (n - df_t + 0.5) / (df_t + 0.5))
                       * tf * ({k1} + 1.0)
                       / (tf + {k1} * (1.0 - {b} + {b} * dl / avgdl))), 6)
               AS {out}
      FROM tf JOIN dfreq USING (token) CROSS JOIN stats
      GROUP BY 1
      ORDER BY {out} DESC, {id_col} LIMIT {k}"""


def bm25_join(corpus: DataFrame, k: int = 10, *,
              k1: float = 1.2, b: float = 0.75,
              text_col: str = "text", id_col: str = "doc_id",
              query_text_col: str = "query",
              query_id_col: str = "query_id",
              term_round: "int | None" = None,
              out: str = "bm25") -> Stage:
    """Batched BM25 JOIN: top-``k`` corpus documents for EVERY query
    row — the sparse-retrieval counterpart of
    :func:`~conduino_spark.operators.similarity.ann_join` (lexical
    instead of dense), and the shape a retrieval-augmented pipeline
    runs to find training passages for a whole probe batch at once.

    Output: one row per (query, hit) — (query_id_col, id_col, out,
    rank), rank 1..k by (score desc, doc id).

    100 TB plan: the corpus side becomes the :func:`build_postings`
    table ONCE (one (doc, token) shuffle — materialize it with
    sink_parquet(partition_by=token-shard) to amortize across query
    batches); per-term document frequencies derive from it with one
    narrow agg; the candidate join moves only postings rows whose
    token appears in SOME query (an equi-join on the token key — AQE
    broadcasts a small query side); corpus stats ride a 1-row
    broadcast; per-query top-k is one window over each query's
    candidate set.  Raw text never shuffles — tokens do.

    ``term_round``: when set, each per-term contribution is rounded to
    that many decimals as a scaled long before the per-(query, doc)
    sum — order-free exact integers, so scores AND top-k membership
    replay bit-for-bit in DuckDB (the bigram_logprob convention).
    None keeps full-precision doubles under the module's tolerance
    contract (libm ``ln``).  Queries with no terms, or no term hits,
    yield no rows."""
    _check_top_k(k, term_round)
    from conduino_spark.plans.cachereg import track

    def fn(queries: DataFrame) -> DataFrame:
        post = track(build_postings(text_col, id_col)(corpus))
        # r16 A/B, REJECTED (§1.3): deriving (N, avgdl) from the cached
        # postings (avgdl = Σtf/N — bit-equal, one less corpus tokenize
        # pass) measured 1.69 → 2.58 s on the pin: the stats broadcast
        # then CHAINS behind (and races) the postings cache fill,
        # while this corpus-scan formulation builds CONCURRENTLY with
        # it and the cores absorb the extra pass.  An eager post.count()
        # recovered only half (2.10 s).  Reverted — the independent
        # scan's task-time is the price of the shorter critical path.
        ctoks = tokens_col(F.coalesce(F.col(text_col), F.lit("")))
        stats = corpus.agg(F.count(F.lit(1)).alias("__n"),
                           F.avg(F.size(ctoks)).alias("__avgdl"))
        dfreq = post.groupBy("token").agg(F.count(F.lit(1)).alias("df_t"))
        qt = queries.select(
            F.col(query_id_col),
            F.explode(F.array_distinct(tokens_col(
                F.coalesce(F.col(query_text_col), F.lit("")))))
            .alias("token"))
        cand = (qt.join(post, "token")
                  .join(dfreq, "token")
                  .crossJoin(F.broadcast(stats)))
        score = _bm25_score(F.col("__n"), F.col("__avgdl"), k1, b,
                            term_round)
        return _bm25_top_k(cand, score, k, id_col, query_id_col, out)

    return Stage(fn, name=f"bm25_join({k})", seq_preserving=False)


def bm25_join_sql(k: int = 10, *, k1: float = 1.2, b: float = 0.75,
                  table: str = "documents", id_col: str = "doc_id",
                  expr: str = "text", queries: str = "queries",
                  query_id_col: str = "query_id",
                  query_expr: str = "query",
                  term_round: "int | None" = None,
                  out: str = "bm25") -> str:
    """DuckDB rendering of :func:`bm25_join` — ``queries`` names a
    table/CTE with (query_id, query text).  With ``term_round`` the
    replay is bit-exact; without, tolerance-contract (libm ln)."""
    toks = tokens_sql(f"coalesce({expr}, '')")
    qtoks = tokens_sql(f"coalesce({query_expr}, '')")
    term = (f"ln(1.0 + (n - df_t + 0.5) / (df_t + 0.5)) * tf * ({k1} + 1.0)"
            f" / (tf + {k1} * (1.0 - {b} + {b} * dl / avgdl))")
    if term_round is None:
        agg = f"round(sum({term}), 6)"
    else:
        s = 10 ** term_round
        agg = (f"round(CAST(sum(CAST(round(({term}) * {s}) AS BIGINT)) "
               f"AS DOUBLE) / {float(s)}, 6)")
    return f"""
      WITH tk AS (SELECT {id_col}, {toks} AS t FROM {table}),
      stats AS (SELECT count(*) AS n, avg(len(t)) AS avgdl FROM tk),
      post AS (SELECT {id_col}, token, dl, count(*) AS tf FROM (
                 SELECT {id_col}, len(t) AS dl, unnest(t) AS token
                 FROM tk) GROUP BY 1, 2, 3),
      dfreq AS (SELECT token, count(*) AS df_t FROM post GROUP BY 1),
      qt AS (SELECT {query_id_col},
                    unnest(list_distinct({qtoks})) AS token
             FROM {queries}),
      scored AS (
        SELECT qt.{query_id_col}, post.{id_col}, {agg} AS {out}
        FROM qt
        JOIN post USING (token)
        JOIN dfreq USING (token)
        CROSS JOIN stats
        GROUP BY 1, 2)
      SELECT {query_id_col}, {id_col}, {out}, rank FROM (
        SELECT *, CAST(row_number() OVER (
                 PARTITION BY {query_id_col}
                 ORDER BY {out} DESC, {id_col}) AS INT) AS rank
        FROM scored)
      WHERE rank <= {k}"""


def phrase_terms(phrase: Union[str, Sequence[str]]) -> list[str]:
    """Normalize a phrase to its ORDERED token sequence (duplicates
    kept — unlike :func:`query_terms`, position is the point)."""
    if isinstance(phrase, str):
        return [t for t in re.split(TOKEN_SPLIT, phrase.lower()) if t]
    return [t.lower() for t in phrase]


def phrase_search(phrase: Union[str, Sequence[str]], *,
                  text_col: str = "text",
                  id_col: str = "doc_id") -> Stage:
    """EXACT phrase search: every document containing the token
    sequence ``phrase`` consecutively, with occurrence count and the
    first match position (0-based token offset).

    The anchor trick makes this ONE shuffle instead of m−1 positional
    self-joins: token i of the phrase at document position p implies
    the phrase would START at anchor ``p − i``; a document position
    range matches iff all m phrase indices vote for the same anchor —
    ``groupBy(doc, anchor).count_distinct(i) == m``.  The corpus token
    stream is filtered to the phrase's terms BEFORE the explode-join
    (a broadcast of ≤ m rows), so the shuffle carries phrase-term hits
    only, never the corpus token stream.

    Returns (id_col, n_hits, first_pos) for matching docs only.

    Cites reference semantics: conduino has no retrieval operators;
    north-star extension alongside bm25_search (SURVEY §2 gap list)."""
    terms = phrase_terms(phrase)
    if not terms:
        raise ValueError("phrase must contain at least one token")
    m = len(terms)

    def fn(df: DataFrame) -> DataFrame:
        spark = df.sparkSession
        tdf = local_frame(spark, [(t, i) for i, t in enumerate(terms)],
                          "__t string, __i int")
        toks = tokens_col(F.coalesce(F.col(text_col), F.lit("")))
        # r16 (guide §2.2/§2.3 — and what the docstring promised all
        # along): filter to the phrase's terms BEFORE the explode.  The
        # old plan posexploded the ENTIRE corpus token stream (one
        # generated row per corpus token) and only then broadcast-joined
        # the ≤ m terms, discarding almost every generated row; the
        # (token, position) structs are now built and filtered inside
        # the array, so only phrase-term hits are ever exploded.
        matches = F.filter(
            F.transform(toks, lambda t, i: F.struct(t.alias("__t"),
                                                    i.alias("__p"))),
            lambda s: s["__t"].isin(terms))
        pos = (df.select(F.col(id_col), F.explode(matches).alias("__m"))
                 .select(F.col(id_col), F.col("__m.__p").alias("__p"),
                         F.col("__m.__t").alias("__t")))
        anchors = (pos.join(F.broadcast(tdf), "__t")
                   .select(F.col(id_col),
                           (F.col("__p") - F.col("__i")).alias("__a"),
                           "__i")
                   .where(F.col("__a") >= 0))
        hits = (anchors.groupBy(id_col, "__a")
                .agg(F.count_distinct("__i").alias("__k"))
                .where(F.col("__k") == m))
        return (hits.groupBy(id_col)
                .agg(F.count(F.lit(1)).alias("n_hits"),
                     F.min("__a").cast("int").alias("first_pos")))

    return Stage(fn, name="phrase_search", seq_preserving=False)


def phrase_search_sql(phrase: Union[str, Sequence[str]], *,
                      table: str = "documents", id_col: str = "doc_id",
                      expr: str = "text") -> str:
    """DuckDB rendering of :func:`phrase_search` — same anchor
    semantics over parallel unnest positions; bit-exact (all-integer)."""
    terms = phrase_terms(phrase)
    m = len(terms)
    tlist = ", ".join(f"('{t}', {i})" for i, t in enumerate(terms))
    toks = tokens_sql(f"coalesce({expr}, '')")
    return f"""
        WITH td(t, i) AS (VALUES {tlist}),
        tk AS (SELECT {id_col}, ts[p] AS t, p - 1 AS p FROM (
                 SELECT {id_col}, ts,
                        unnest(generate_series(1, len(ts))) AS p
                 FROM (SELECT {id_col}, {toks} AS ts FROM {table}))),
        anchors AS (SELECT {id_col}, tk.p - td.i AS a, td.i
                    FROM tk JOIN td USING (t) WHERE tk.p - td.i >= 0),
        hits AS (SELECT {id_col}, a FROM anchors
                 GROUP BY {id_col}, a
                 HAVING COUNT(DISTINCT i) = {m})
        SELECT {id_col}, COUNT(*) AS n_hits,
               CAST(MIN(a) AS INT) AS first_pos
        FROM hits GROUP BY {id_col}"""


def bm25_index_write(corpus: DataFrame, path: str, *,
                     n_shards: int = 64, text_col: str = "text",
                     id_col: str = "doc_id",
                     mode: str = "overwrite") -> None:
    """Materialize the BM25 index ONCE (the build-once/probe-many
    posture :func:`bm25_join`'s docstring promises, made real —
    the lsh_index_write pattern for sparse retrieval): three parquet
    tables under ``path``:

    * ``postings/`` — (id, token, dl, tf) ``partitionBy`` token shard
      ``pt = h32(token) % n_shards``, so a probe batch reads only the
      shards its query tokens hash into (dynamic partition pruning —
      asserted in tests), not the corpus-wide postings.
    * ``dfreq/`` — per-token document frequency (narrow, one agg).
    * ``stats/`` — corpus size, TOTAL token count, and ``n_shards``
      itself (the probe side must shard queries with the SAME modulus;
      storing it in-band prevents drift).

    Every table is ADDITIVE — dfreq rows are per-batch deltas summed
    at probe time, stats rows are (count, long token sum) partials —
    which is what makes :func:`bm25_index_merge` three appends
    instead of a rewrite: long sums are order-free exact, so a merged
    index replays a from-scratch rebuild bit-for-bit.

    The postings write repartitions BY shard first — without it every
    input task writes a file into every shard directory."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    _bm25_put(corpus, path, mode, n_shards, n_shards, text_col, id_col)


def _bm25_put(docs: DataFrame, path: str, mode: str, n_shards: int,
              n_parts: int, text_col: str, id_col: str) -> None:
    """The BM25 index's one writer (write and merge): ``docs``'
    postings into ``n_parts`` shard-keyed tasks, their per-token df
    delta, and one (count, token-sum) stats partial row."""
    import pyarrow as pa
    post = (build_postings(text_col, id_col)(docs)
            .withColumn("pt", h32_shard(F.col("token"), n_shards)))
    (post.repartition(n_parts, "pt")
         .write.partitionBy("pt").mode(mode).parquet(f"{path}/postings"))
    (post.groupBy("token").agg(F.count(F.lit(1)).alias("df_t"))
         .write.mode(mode).parquet(f"{path}/dfreq"))
    ctoks = tokens_col(F.coalesce(F.col(text_col), F.lit("")))
    # the stats partial is ONE row: compute it with the agg job, then
    # write it driver-side (r11 — a Spark write of a 1-row table paid
    # the ~4.3 s job-commit floor on every cold build)
    st = docs.agg(F.count(F.lit(1)).alias("__n"),
                  F.coalesce(F.sum(F.size(ctoks)), F.lit(0))
                   .cast("long").alias("__sum_dl")).first()
    driver_parquet_write(
        f"{path}/stats",
        pa.table({"__n": pa.array([int(st["__n"])], pa.int64()),
                  "__sum_dl": pa.array([int(st["__sum_dl"])], pa.int64()),
                  "__n_shards": pa.array([int(n_shards)], pa.int32())}),
        mode=mode)


def _bm25_stats(path: str) -> "tuple[int, int, int]":
    """(n_shards, N, token sum) from the index's additive stats rows
    (one per write/merge batch — bounded, read driver-side).  Fails
    fast on a pre-additive (v1, ``__avgdl``) index instead of crashing
    on a missing field or mixing schemas, and on shard-modulus drift."""
    st = driver_parquet_read(f"{path}/stats")
    if st and "__sum_dl" not in st[0]:
        raise ValueError(
            f"BM25 index at {path} uses the old v1 stats format "
            f"(__avgdl); rebuild it with bm25_index_write — the "
            f"additive v2 format (__sum_dl) is what makes merges "
            f"exact")
    shards = {r["__n_shards"] for r in st}
    if len(shards) != 1:
        raise ValueError(f"inconsistent n_shards in index at {path}: "
                         f"{sorted(shards)}")
    return (shards.pop(), sum(r["__n"] for r in st),
            sum(r["__sum_dl"] for r in st))


def bm25_index_merge(new_docs: DataFrame, path: str, *,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> None:
    """Fold a NEW document batch into an existing
    :func:`bm25_index_write` index — incremental index maintenance,
    the shape a daily-crawl ingestion runs instead of rebuilding the
    index over the whole corpus.

    Three appends, no rewrite: new postings land as new files inside
    the token-shard directories they hash into (same in-band
    ``n_shards`` modulus — drift is impossible), per-token df deltas
    append to ``dfreq/``, and one (count, token-sum) partial row
    appends to ``stats/``.  All three are additive with long sums, so
    probes against the merged index are BIT-EQUAL to a from-scratch
    rebuild over the union corpus (law-tested).  Cost scales with the
    NEW batch only — the existing index is never read or touched
    beyond the 1-row-per-batch stats fetch.

    Contract: append-only — caller guarantees new ids are not already
    indexed (run :func:`~conduino_spark.operators.dedup.dedup_exact`
    or an anti-join upstream; checking here would force a full
    postings scan, defeating the point)."""
    n_shards = _bm25_stats(path)[0]
    _bm25_put(new_docs, path, "append", n_shards, min(n_shards, 8),
              text_col, id_col)


def bm25_index_join(index_path: str, k: int = 10, *,
                    k1: float = 1.2, b: float = 0.75,
                    id_col: str = "doc_id",
                    query_text_col: str = "query",
                    query_id_col: str = "query_id",
                    term_round: "int | None" = None,
                    broadcast_queries: bool = True,
                    out: str = "bm25") -> Stage:
    """:func:`bm25_join` against a persisted :func:`bm25_index_write`
    index: identical output (same scores, same top-k, law-tested),
    but the corpus pass is already paid — the probe reads only the
    token shards the query batch hashes into.

    The (1-row) stats table is fetched at plan-build time (a bounded
    model fetch, the centroid/codebook convention): corpus size and
    avgdl become literals — no crossJoin — and ``n_shards`` seeds the
    query-side shard key so the postings join carries the partition
    column, which is what lets dynamic partition pruning skip whole
    shard directories when the query side broadcasts."""
    _check_top_k(k, term_round)

    def fn(queries: DataFrame) -> DataFrame:
        spark = queries.sparkSession
        n_shards, n, sum_dl = _bm25_stats(index_path)
        if not (0 <= sum_dl < 2 ** 53):  # keep the double division exact
            raise ValueError(f"token sum {sum_dl} exceeds exact-double "
                             f"range; re-scale the index stats")
        avgdl = sum_dl / n if n else 0.0
        post = spark.read.parquet(f"{index_path}/postings")
        # dfreq rows are per-batch deltas — one narrow vocab-sized agg
        dfreq = (spark.read.parquet(f"{index_path}/dfreq")
                 .groupBy("token")
                 .agg(F.sum("df_t").cast("long").alias("df_t")))
        qt = (queries.select(
            F.col(query_id_col),
            F.explode(F.array_distinct(tokens_col(
                F.coalesce(F.col(query_text_col), F.lit("")))))
            .alias("token"))
            # int, not long: the partition column round-trips from the
            # directory names as int, and a cast(pt) on the scan side
            # would defeat dynamic partition pruning
            .withColumn("pt", h32_shard(F.col("token"),
                                        n_shards).cast("int")))
        # broadcast_queries=True is the probe-batch posture: the
        # broadcast is what arms dynamic partition pruning on the
        # sharded postings scan.  For a CORPUS-scale query side set
        # False — the join falls back to shuffle-hash on (pt, token)
        # (forfeiting DPP, which couldn't prune anyway when every
        # shard is probed).
        qside = F.broadcast(qt) if broadcast_queries else qt
        cand = (post.join(qside, ["pt", "token"])
                    .join(dfreq, "token"))
        score = _bm25_score(F.lit(float(n)), F.lit(float(avgdl)), k1, b,
                            term_round)
        return _bm25_top_k(cand, score, k, id_col, query_id_col, out)

    return Stage(fn, name=f"bm25_index_join({k})", seq_preserving=False)


def rrf_fuse(ranked: "dict[str, DataFrame]", *, c: int = 60,
             k: int = 10, query_id_col: str = "query_id",
             id_col: str = "doc_id", rank_col: str = "rank",
             scale: int = 10 ** 9) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack et al. SIGIR'09) over two or
    more ranked retrieval tables — the standard way to combine sparse
    (:func:`bm25_join`) and dense
    (:func:`~conduino_spark.operators.similarity.ann_join`) hits
    without score calibration: each system contributes
    ``1/(c + rank)`` for every (query, doc) it returned; fused top-k
    by the summed score.

    Determinism: each contribution is ``round(scale/(c+rank))`` as a
    long — order-free integer sums (the term_round convention), so the
    fusion replays bit-for-bit in DuckDB; ``rrf`` is the scaled sum
    /scale rounded to 6dp for display.  Ties break by doc id.  Input
    tables only need (query_id_col, id_col, rank_col).

    One union + one (query, doc) hash-agg + one per-query window —
    the inputs are already top-k-bounded, so the fused table is at
    most |systems|·k rows per query."""
    if not ranked:
        raise ValueError("need at least one ranked table")
    if c < 0:
        raise ValueError(f"c must be >= 0, got {c}")
    from pyspark.sql import Window
    parts = []
    for tag, df in ranked.items():
        parts.append(df.select(
            F.col(query_id_col), F.col(id_col),
            F.round(F.lit(float(scale)) / (F.col(rank_col) + c))
            .cast("long").alias("__contrib")))
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    scored = (u.groupBy(query_id_col, id_col)
              .agg(F.round(F.sum("__contrib").cast("double")
                           / F.lit(float(scale)), 6).alias("rrf")))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("rrf"),
                                                 F.col(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k))


def rrf_fuse_sql(ranked_sql: "dict[str, str]", *, c: int = 60,
                 k: int = 10, query_id_col: str = "query_id",
                 id_col: str = "doc_id", rank_col: str = "rank",
                 scale: int = 10 ** 9) -> str:
    """DuckDB rendering of :func:`rrf_fuse` — each value in
    ``ranked_sql`` is a subquery producing (query_id, id, rank);
    bit-exact (scaled-long contributions)."""
    unions = "\n          UNION ALL\n          ".join(
        f"SELECT {query_id_col}, {id_col}, "
        f"CAST(round({float(scale)} / ({rank_col} + {c})) AS BIGINT)"
        f" AS contrib FROM ({q})"
        for q in ranked_sql.values())
    return f"""
        SELECT {query_id_col}, {id_col}, rrf, rank FROM (
          SELECT {query_id_col}, {id_col}, rrf,
                 CAST(row_number() OVER (
                   PARTITION BY {query_id_col}
                   ORDER BY rrf DESC, {id_col}) AS INT) AS rank
          FROM (SELECT {query_id_col}, {id_col},
                       round(CAST(SUM(contrib) AS DOUBLE)
                             / {float(scale)}, 6) AS rrf
                FROM ({unions})
                GROUP BY {query_id_col}, {id_col}))
        WHERE rank <= {k}"""
