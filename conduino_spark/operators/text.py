"""Text analysis for LLM-data pipelines (north star, BASELINE.json):
tokenization, token counting, language ID, quality scoring, document
fingerprinting.  Everything is JVM-side ``pyspark.sql.functions`` —
whole-stage codegen, no Python in the hot path — and every operator has
a bit-identical DuckDB oracle rendering (see __spark_entry__).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from conduino_spark.plans.core import SEQ, Stage
from conduino_spark.functions.hashing import h32, rolling_fingerprint

#: word-splitting pattern shared with the oracle SQL (POSIX-safe class).
TOKEN_SPLIT = "[^a-z0-9]+"

#: BPE-ish subword pattern: words, numbers, punctuation runs — the
#: regex families GPT-2-style tokenizers pre-split on.
BPE_SPLIT = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+"

#: tiny deterministic stopword profiles for n-gram/stopword language ID.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "ich", "zu"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une", "que", "pour"],
    "es": ["el", "la", "de", "que", "los", "es", "un", "una", "por", "con"],
    "it": ["il", "la", "di", "che", "per", "un", "una", "sono", "con", "non"],
}

#: English stopwords for the quality score (subset, deterministic).
QUALITY_STOPWORDS = LANG_PROFILES["en"]


def tokens_col(text: Column) -> Column:
    """Lowercased word tokens; empty strings filtered (split artifacts)."""
    return F.filter(F.split(F.lower(text), TOKEN_SPLIT), lambda t: t != "")


def tokens_sql(expr: str) -> str:
    """DuckDB rendering of :func:`tokens_col`."""
    return (f"list_filter(string_split_regex(lower({expr}), '{TOKEN_SPLIT}'), "
            f"t -> t != '')")


def tokenize(text_col: str = "text", *, out: str = "tokens",
             bpe: bool = False) -> Stage:
    """Tokenization: whitespace/word (shared with oracle) or BPE-ish
    regex pre-splitting (``bpe=True``)."""

    def fn(df: DataFrame) -> DataFrame:
        if bpe:
            return df.withColumn(out, F.regexp_extract_all(F.col(text_col), F.lit(BPE_SPLIT), 0))
        return df.withColumn(out, tokens_col(F.col(text_col)))

    return Stage(fn, name="tokenize", seq_preserving=True)


def normalize_text(text_col: str = "text", *, out: str = "normalized",
                   lowercase: bool = True,
                   collapse_whitespace: bool = True,
                   strip_control: bool = True,
                   strip_punct: bool = False) -> Stage:
    """Canonical text normalization for dedup/tokenization prep:
    lowercase, strip C0/C1 control characters, collapse whitespace runs
    to single spaces and trim, optionally drop punctuation — the
    standard pre-hash canonicalization so near-identical documents
    (case/whitespace variants) collide in exact dedup.

    Pure chained ``lower``/``regexp_replace`` projection — no shuffle,
    one codegen pass, streaming-compatible.  Patterns stay in the
    Java∩RE2 regex subset (like :func:`redact_pii`) so
    :func:`normalize_text_sql` replays the result bit-for-bit."""

    def fn(df: DataFrame) -> DataFrame:
        c = F.coalesce(F.col(text_col), F.lit(""))
        if lowercase:
            c = F.lower(c)
        if strip_control:
            c = F.regexp_replace(c, r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]", "")
        if strip_punct:
            c = F.regexp_replace(c, r"[!-/:-@\[-`{-~]", " ")
        if collapse_whitespace:
            c = F.trim(F.regexp_replace(c, r"\s+", " "))
        return df.withColumn(out, c)

    return Stage(fn, name="normalize_text", seq_preserving=True)


def normalize_text_sql(expr: str = "text", out: str = "normalized", *,
                       lowercase: bool = True,
                       collapse_whitespace: bool = True,
                       strip_control: bool = True,
                       strip_punct: bool = False) -> str:
    """DuckDB rendering of :func:`normalize_text` (same chain order)."""
    c = f"coalesce({expr}, '')"
    if lowercase:
        c = f"lower({c})"
    if strip_control:
        c = (f"regexp_replace({c}, "
             r"'[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g')")
    if strip_punct:
        c = f"regexp_replace({c}, '[!-/:-@\\[-`{{-~]', ' ', 'g')"
    if collapse_whitespace:
        c = f"trim(regexp_replace({c}, '\\s+', ' ', 'g'))"
    return f"{c} AS {out}"


def token_count(text_col: str = "text", *, out: str = "n_tokens") -> Stage:
    """Token counting — one codegen'd expression, no shuffle."""

    def fn(df: DataFrame) -> DataFrame:
        return df.withColumn(out, F.size(tokens_col(F.col(text_col))).cast("long"))

    return Stage(fn, name="token_count", seq_preserving=True)


def _quality_components(t: Column) -> "dict[str, Column]":
    """The four :func:`quality_score` components of the text column
    ``t``, in the trainer's feature order
    (``classifier.QUALITY_FEATURES``); ``classifier.quality_features``
    returns them as they are."""
    n_chars = F.length(t)
    alpha = F.length(F.regexp_replace(t, "[^A-Za-z]", ""))
    punct = F.length(F.regexp_replace(t, "[^.,!?;:]", ""))
    toks = tokens_col(t)
    n_toks = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda x: x.isin(QUALITY_STOPWORDS)))
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0))
    return {
        "len_ok": (F.when(n_chars >= 8000, F.lit(8000.0) / n_chars)
                   .when(n_chars >= 200, F.lit(1.0))
                   .otherwise(n_chars / F.lit(200.0))),
        "alpha_ratio": F.when(n_chars > 0, alpha / n_chars)
                        .otherwise(F.lit(0.0)),
        "stop_sig": F.when(n_toks > 0,
                           F.least(F.lit(1.0),
                                   F.lit(5.0) * stop_hits / n_toks)
                           ).otherwise(F.lit(0.0)),
        "punct_ok": (F.lit(1.0)
                     - F.greatest(F.lit(0.0), punct_ratio - F.lit(0.1))
                     / F.lit(0.9)),
    }


def quality_score(text_col: str = "text", *, out: str = "quality") -> Stage:
    """Deterministic quality heuristic in [0,1]:

      0.25·len_ok + 0.25·alpha_ratio + 0.25·stop_sig + 0.25·punct_ok

    * len_ok: 1 if 200 ≤ n_chars ≤ 8000 else n_chars/200 (short) or
      8000/n_chars (long)
    * alpha_ratio: alphabetic chars / chars
    * stop_sig: min(1, 5 · stopword_tokens/tokens) — natural prose
      has ≥20% stopwords
    * punct_ok: 1 − max(0, punct_ratio − 0.1) / 0.9

    Each component is a ratio of exact integer counts (or a capped
    linear map of one); the sum is rounded to 6 dp.  Pure column
    algebra — scales to any corpus size with zero Python.
    """
    c = _quality_components(F.col(text_col))
    score = F.round(0.25 * c["len_ok"] + 0.25 * c["alpha_ratio"]
                    + 0.25 * c["stop_sig"] + 0.25 * c["punct_ok"], 6)

    def fn(df: DataFrame) -> DataFrame:
        return df.withColumn(out, score)

    return Stage(fn, name="quality_score", seq_preserving=True)


def quality_score_sql(expr: str = "text", out: str = "quality") -> str:
    """DuckDB rendering of :func:`quality_score` (same constants)."""
    toks = tokens_sql(expr)
    stops = ", ".join(f"'{w}'" for w in QUALITY_STOPWORDS)
    return f"""
      round(
        0.25 * (case when length({expr}) >= 8000 then 8000.0 / length({expr})
                     when length({expr}) >= 200 then 1.0
                     else length({expr}) / 200.0 end)
      + 0.25 * (case when length({expr}) > 0
                     then length(regexp_replace({expr}, '[^A-Za-z]', '', 'g')) * 1.0 / length({expr})
                     else 0.0 end)
      + 0.25 * (case when len({toks}) > 0
                     then least(1.0, 5.0 * len(list_filter({toks}, x -> x in ({stops}))) * 1.0 / len({toks}))
                     else 0.0 end)
      + 0.25 * (1.0 - greatest(0.0,
                    (case when length({expr}) > 0
                          then length(regexp_replace({expr}, '[^.,!?;:]', '', 'g')) * 1.0 / length({expr})
                          else 0.0 end) - 0.1) / 0.9)
      , 6) as {out}"""


def lang_id(text_col: str = "text", *, out: str = "lang_pred") -> Stage:
    """Language ID by stopword-profile hits (n-gram heuristic).  Argmax
    over profiles with a fixed tie order (profile declaration order,
    'und' = undetermined when no profile hits).

    Single pass over the token array: ONE ``F.aggregate`` fold carrying
    all profile counters at once.  (The naive per-profile
    size(filter(tokens)) formulation re-tokenizes per profile AND the
    argmax when-chain duplicates each count subtree — measured ~20×
    slower at sf0.1.)"""
    langs = list(LANG_PROFILES)

    def step(acc, t):
        return F.array(*[
            F.element_at(acc, i + 1)
            + F.when(t.isin(LANG_PROFILES[lang]), 1).otherwise(0)
            for i, lang in enumerate(langs)])

    counts_arr = F.aggregate(
        tokens_col(F.col(text_col)),
        F.array(*[F.lit(0) for _ in langs]),
        step)

    def fn(df: DataFrame) -> DataFrame:
        # materialize the counts array once, then cheap argmax over it
        tmp = df.withColumn("__lc", counts_arr)
        best = F.lit("und")
        best_n = F.lit(0)
        for i, lang in enumerate(langs):  # declaration order; > keeps earlier on ties
            c = F.element_at("__lc", i + 1)
            is_better = c > best_n
            best = F.when(is_better, F.lit(lang)).otherwise(best)
            best_n = F.when(is_better, c).otherwise(best_n)
        return tmp.withColumn(out, best).drop("__lc")

    return Stage(fn, name="lang_id", seq_preserving=True)


def lang_id_sql(expr: str = "text", out: str = "lang_pred") -> str:
    """DuckDB rendering of :func:`lang_id` — same argmax/tie logic,
    expressed as a fold over (count, lang) pairs."""
    toks = tokens_sql(expr)
    parts = []
    for lang, words in LANG_PROFILES.items():
        lst = ", ".join(f"'{w}'" for w in words)
        parts.append(f"len(list_filter({toks}, x -> x in ({lst})))")
    # same sequential argmax as the Spark loop
    sql = "'und'"
    sql_n = "0"
    for lang, cnt in zip(LANG_PROFILES, parts):
        sql = f"(case when {cnt} > {sql_n} then '{lang}' else {sql} end)"
        sql_n = f"greatest({sql_n}, {cnt})"
    return f"{sql} as {out}"


def fingerprint(text_col: str = "text", *, out: str = "fingerprint") -> Stage:
    """Document fingerprint: rolling hash over md5-derived token hashes
    (order-sensitive, engine-portable — functions/hashing.py)."""
    toks = tokens_col(F.col(text_col))
    fp = rolling_fingerprint(F.transform(toks, h32))

    def fn(df: DataFrame) -> DataFrame:
        return df.withColumn(out, fp)

    return Stage(fn, name="fingerprint", seq_preserving=True)


#: symbol marks for the Gopher-style symbol/word ratio (hash + ellipsis).
SYMBOL_PATTERN = r"#|\.\.\.|…"


def repetition_stats(text_col: str = "text", *, prefix: str = "") -> Stage:
    """Gopher-style repetition / shape filters (Rae et al. 2021 §A1.1),
    the standard LLM-corpus quality gates:

    * ``dup_line_frac``      — 1 − distinct/total over trimmed non-empty
      lines (fraction of lines that are repeats of an earlier line).
    * ``dup_line_char_frac`` — fraction of line characters living in
      lines that occur more than once.
    * ``top_2gram_char_frac``— chars covered by the most frequent word
      2-gram: ``max_count · gram_len / len(join(tokens, ' '))``; among
      equal-count grams the longest is charged (deterministic).
    * ``symbol_word_ratio``  — '#'/ellipsis marks per word.
    * ``mean_word_len``      — mean token length.
    * ``alpha_word_frac``    — fraction of tokens containing a letter.

    All pure column algebra — per-row compute, NO shuffle, so it scales
    embarrassingly to any corpus.  Duplicate counting is sort + one
    linear fold per array (O(L log L) per document — NOT the naive
    O(distinct·total) filter-per-distinct-element, which is quadratic
    and measured minutes-per-60-docs interpreted).  Every fraction is
    rounded to 6dp; :func:`repetition_stats_sql` is the equivalent
    explode/group-by DuckDB query (same values, idiomatic SQL shape).
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    toks = tokens_col(t)
    n_toks = F.size(toks)

    def _dup_chars(sorted_arr: Column) -> Column:
        """Chars in elements occurring >1×: in a SORTED array, element
        i is part of a duplicate group iff it equals a neighbor."""
        n = F.size(sorted_arr)
        return F.aggregate(
            F.sequence(F.lit(1), n), F.lit(0).cast("long"),
            lambda a, i: a + F.when(
                (F.element_at(sorted_arr, i) ==
                 F.element_at(sorted_arr, F.greatest(i - 1, F.lit(1))))
                & (i > 1)
                | (F.element_at(sorted_arr, i) ==
                   F.element_at(sorted_arr, F.least(i + 1, n)))
                & (i < n),
                F.length(F.element_at(sorted_arr, i))).otherwise(F.lit(0)))

    def _top_run(sorted_arr: Column) -> Column:
        """(best_cnt, best_len) of the longest run in a SORTED array;
        count ties broken by max element length — one linear fold."""
        n = F.size(sorted_arr)
        init = F.struct(
            F.lit(1).alias("run"),
            F.lit(1).alias("best_cnt"),
            F.length(F.element_at(sorted_arr, 1)).alias("best_len"))

        def step(acc, i):
            run = F.when(
                F.element_at(sorted_arr, i) == F.element_at(sorted_arr, i - 1),
                acc["run"] + 1).otherwise(F.lit(1))
            cur_len = F.length(F.element_at(sorted_arr, i))
            better = (run > acc["best_cnt"]) | (
                (run == acc["best_cnt"]) & (cur_len > acc["best_len"]))
            return F.struct(
                run.alias("run"),
                F.when(better, run).otherwise(acc["best_cnt"]).alias("best_cnt"),
                F.when(better, cur_len).otherwise(acc["best_len"]).alias("best_len"))

        return F.when(n >= 2,
                      F.aggregate(F.sequence(F.lit(2), n), init, step)
                      ).otherwise(init)

    p = prefix

    def fn(df: DataFrame) -> DataFrame:
        # intermediate arrays materialize once as columns; every stat
        # reads the column, not a re-derived expression tree
        out = (df
               .withColumn("__lines", F.array_sort(F.filter(
                   F.transform(F.split(t, "\n"), F.trim),
                   lambda l: F.length(l) > 0)))
               .withColumn("__toks", toks)
               # zip_with over two slices, NOT transform(sequence, i ->
               # element_at(toks, i)): interpreted higher-order lambdas
               # do no common-subexpression elimination, so element_at
               # over the tokens EXPRESSION re-tokenizes per element —
               # measured 14× slower (quadratic in doc length)
               .withColumn("__grams", F.array_sort(F.zip_with(
                   F.slice(toks, 1, F.greatest(n_toks - 1, F.lit(0))),
                   F.slice(toks, 2, F.greatest(n_toks - 1, F.lit(0))),
                   lambda a, b: F.concat(a, F.lit(" "), b)))))

        lines = F.col("__lines")
        n_lines = F.size(lines)
        dup_line_frac = F.when(
            n_lines > 0,
            F.round(1.0 - F.size(F.array_distinct(lines))
                    / n_lines.cast("double"), 6)
        ).otherwise(F.lit(0.0))
        line_chars = F.aggregate(lines, F.lit(0).cast("long"),
                                 lambda a, l: a + F.length(l))
        dup_line_char_frac = F.when(
            line_chars > 0,
            F.round(_dup_chars(lines) / line_chars.cast("double"), 6)
        ).otherwise(F.lit(0.0))

        grams = F.col("__grams")
        best = _top_run(grams)
        top_frac = F.when(
            F.size(grams) > 0,
            F.round(best["best_cnt"] * best["best_len"]
                    / F.length(F.array_join(F.col("__toks"), " ")).cast("double"), 6)
        ).otherwise(F.lit(0.0))

        ctoks = F.col("__toks")
        cn = F.size(ctoks)
        symbol_word_ratio = F.when(
            cn > 0, F.round(F.regexp_count(t, F.lit(SYMBOL_PATTERN))
                            / cn.cast("double"), 6)
        ).otherwise(F.lit(0.0))
        mean_word_len = F.when(
            cn > 0,
            F.round(F.aggregate(ctoks, F.lit(0).cast("long"),
                                lambda a, x: a + F.length(x))
                    / cn.cast("double"), 6)
        ).otherwise(F.lit(0.0))
        alpha_word_frac = F.when(
            cn > 0,
            F.round(F.size(F.filter(ctoks, lambda x: x.rlike("[a-z]")))
                    / cn.cast("double"), 6)
        ).otherwise(F.lit(0.0))

        return (out.withColumn(p + "dup_line_frac", dup_line_frac)
                   .withColumn(p + "dup_line_char_frac", dup_line_char_frac)
                   .withColumn(p + "top_2gram_char_frac", top_frac)
                   .withColumn(p + "symbol_word_ratio", symbol_word_ratio)
                   .withColumn(p + "mean_word_len", mean_word_len)
                   .withColumn(p + "alpha_word_frac", alpha_word_frac)
                   .drop("__lines", "__toks", "__grams"))

    return Stage(fn, name="repetition_stats", seq_preserving=True)


def repetition_stats_sql(table: str = "documents", id_col: str = "doc_id",
                         expr: str = "text") -> str:
    """DuckDB oracle for :func:`repetition_stats`: a full SELECT
    (id + the six stats) with the same trims, counts, tie-breaks
    (count desc, gram length desc), and 6dp rounding — expressed as
    idiomatic unnest/GROUP BY SQL rather than array folds."""
    toks = tokens_sql("t")
    return f"""
      WITH base AS (SELECT {id_col}, coalesce({expr}, '') AS t FROM {table}),
      tk AS (SELECT {id_col}, {toks} AS toks FROM base),
      lns AS (SELECT {id_col}, trim(l) AS line
              FROM base, unnest(string_split(t, chr(10))) AS u(l)
              WHERE length(trim(l)) > 0),
      lc AS (SELECT {id_col}, line, count(*) AS c, length(line) AS len
             FROM lns GROUP BY 1, 2),
      ls AS (SELECT {id_col},
                    round(1.0 - count(*) * 1.0 / sum(c), 6) AS dup_line_frac,
                    round(coalesce(sum(len * c) FILTER (c > 1), 0) * 1.0
                          / sum(len * c), 6) AS dup_line_char_frac
             FROM lc GROUP BY 1),
      gr AS (SELECT {id_col},
                    unnest([toks[i] || ' ' || toks[i + 1]
                            for i in range(1, len(toks))]) AS g
             FROM tk WHERE len(toks) >= 2),
      gc AS (SELECT {id_col}, g, count(*) AS c, length(g) AS len
             FROM gr GROUP BY 1, 2),
      gtop AS (SELECT {id_col}, c, len FROM gc
               QUALIFY row_number() OVER (PARTITION BY {id_col}
                                          ORDER BY c DESC, len DESC) = 1),
      gs AS (SELECT g.{id_col},
                    round(g.c * g.len * 1.0
                          / length(array_to_string(tk.toks, ' ')), 6)
                      AS top_2gram_char_frac
             FROM gtop g JOIN tk USING ({id_col})),
      ps AS (SELECT b.{id_col},
                    CASE WHEN len(tk.toks) > 0
                         THEN round(len(regexp_extract_all(b.t, '{SYMBOL_PATTERN}'))
                                    * 1.0 / len(tk.toks), 6)
                         ELSE 0.0 END AS symbol_word_ratio,
                    CASE WHEN len(tk.toks) > 0
                         THEN round(list_sum([length(x) for x in tk.toks])
                                    * 1.0 / len(tk.toks), 6)
                         ELSE 0.0 END AS mean_word_len,
                    CASE WHEN len(tk.toks) > 0
                         THEN round(len(list_filter(tk.toks,
                                        x -> regexp_matches(x, '[a-z]')))
                                    * 1.0 / len(tk.toks), 6)
                         ELSE 0.0 END AS alpha_word_frac
             FROM base b JOIN tk USING ({id_col}))
      SELECT b.{id_col},
             coalesce(ls.dup_line_frac, 0.0) AS dup_line_frac,
             coalesce(ls.dup_line_char_frac, 0.0) AS dup_line_char_frac,
             coalesce(gs.top_2gram_char_frac, 0.0) AS top_2gram_char_frac,
             ps.symbol_word_ratio, ps.mean_word_len, ps.alpha_word_frac
      FROM base b
      LEFT JOIN ls USING ({id_col})
      LEFT JOIN gs USING ({id_col})
      JOIN ps USING ({id_col})"""


def chunk_text(chunk_tokens: int = 128, overlap: int = 32, *,
               text_col: str = "text", id_col: str = "doc_id",
               out: str = "chunk", name: str = "chunk_text") -> Stage:
    """Split each document into overlapping token-window chunks — the
    standard LLM-training preprocessing step (context-window packing).

    Chunk i covers tokens ``[i·stride, i·stride + chunk_tokens)`` with
    ``stride = chunk_tokens − overlap``; the last chunk may be short;
    a doc shorter than one chunk yields itself.  Pure column algebra:
    ``sequence`` → ``transform(slice → concat_ws)`` → ``posexplode`` —
    no shuffle, whole-stage codegen, and each token materializes once.

    Output: (id, chunk_id, chunk text, n_tokens per chunk)."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap

    def fn(df: DataFrame) -> DataFrame:
        # NULL text folds like empty text: without the coalesce,
        # F.size(NULL) = -1 and the emitted chunk would carry
        # n_tokens = -1, corrupting pack_chunks' cumulative sums
        toks = F.coalesce(tokens_col(F.col(text_col)),
                          F.array().cast("array<string>"))
        n = F.size(toks)
        n_chunks = F.greatest(
            F.lit(1), F.ceil((n - F.lit(overlap)) / F.lit(stride)).cast("int"))
        windows = F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.slice(toks, i * stride + 1, chunk_tokens))
        return (df.select(F.col(id_col),
                          F.posexplode(windows).alias("chunk_id", "__w"))
                  .select(F.col(id_col), "chunk_id",
                          F.concat_ws(" ", F.col("__w")).alias(out),
                          F.size("__w").alias("n_tokens")))

    return Stage(fn, name=name, seq_preserving=False)


def pack_chunks(budget: int, *, order: Sequence[str] = ("doc_id", "chunk_id"),
                tokens_col: str = "n_tokens", out: str = "bin",
                name: str = "pack_chunks") -> Stage:
    """Greedy contiguous sequence packing: assign ordered chunks to
    fixed-token-budget training bins — ``bin = ⌊cum_before / budget⌋``
    where cum is the running token total in ``order``.  A bin may
    overflow by less than one chunk (the standard streaming-packing
    relaxation; exact bin packing is NP-hard and order-destroying).

    A FUSED two-phase prefix sum over ``order`` (r4 verdict #5): the
    general rerank→scan composition costs a range exchange + a rank
    window (with its own hash exchange) + a second persisted chunking +
    the scan's window exchange — but packing never needs the dense rank
    itself, only the running token total.  So: range-partition by the
    sort keys once, local cumsum per partition, broadcast the exclusive
    prefix of per-partition totals, combine.  ONE range exchange + ONE
    partition-local window exchange + one persist, everything JVM-side
    — the same plan shape at 100 TB, half the stages at any scale.
    The persist (cache registry) makes both branches read one
    materialization and one sampled set of range boundaries."""
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")

    def fn(df: DataFrame) -> DataFrame:
        from pyspark.sql import Window as W
        from conduino_spark.plans.cachereg import track
        kcols = [F.col(k) for k in order]
        part = track(df.repartitionByRange(*kcols)
                       .withColumn("__rrpid", F.spark_partition_id()))
        wloc = (W.partitionBy("__rrpid").orderBy(*kcols)
                 .rowsBetween(W.unboundedPreceding, W.currentRow))
        local = part.withColumn("__cum", F.sum(tokens_col).over(wloc))
        totals = part.groupBy("__rrpid").agg(F.sum(tokens_col).alias("__tot"))
        woff = W.orderBy("__rrpid").rowsBetween(W.unboundedPreceding, -1)
        offs = (totals
                .withColumn("__off",
                            F.coalesce(F.sum("__tot").over(woff), F.lit(0)))
                .select("__rrpid", "__off"))
        return (local.join(F.broadcast(offs), "__rrpid")
                     .withColumn(out, F.floor(
                         (F.col("__cum") + F.col("__off")
                          - F.col(tokens_col)) / F.lit(budget)).cast("long"))
                     .drop("__rrpid", "__cum", "__off", SEQ))

    return Stage(fn, name=name, seq_preserving=False)


def unigram_vocab(text_col: str = "text") -> "Stage":
    """Corpus unigram table: one row per distinct token with its count
    — the reference model :func:`unigram_logprob` scores against.
    Build it ONCE over a trusted corpus (e.g. wiki), persist it, and
    score candidate documents forever after — the CCNet-style LM
    quality-filter shape, with a unigram model standing in for the
    n-gram LM (the Spark-side plumbing is identical; heavier models
    plug into the same join).

    One (token → count) hash aggregate; tokens shuffle once as their
    md5-ready strings, counts partial map-side."""

    def fn(df: DataFrame) -> DataFrame:
        return (df.select(F.explode(tokens_col(F.col(text_col)))
                          .alias("token"))
                  .groupBy("token")
                  .agg(F.count(F.lit(1)).alias("count")))

    return Stage(fn, name="unigram_vocab", seq_preserving=False)


def hashing_tf(dim: int = 1024, text_col: str = "text", *,
               id_col: str = "doc_id", out: str = "tf",
               dense: bool = True) -> Stage:
    """Hashing-trick featurizer (Weinberger et al. ICML'09; the
    MLlib-HashingTF shape rebuilt as column algebra): token ``t``
    increments slot ``h32(t) % dim`` — a text vectorizer with NO
    vocabulary table, so the model side is O(dim) regardless of corpus
    size.  The canonical composition is ``hashing_tf`` →
    :func:`~conduino_spark.operators.classifier.logreg_train` over
    slot columns: a full distributed text classifier without a vocab
    join (law-tested in test_round9).

    ``dense=True`` appends ``out`` = array<long> of length ``dim``
    (slot counts, zeros filled); ``dense=False`` appends the sparse
    ``map<int,long>`` instead (the 100 TB representation when dim is
    large and docs are short).  Exact integer counts with the shared
    md5-derived h32 — bit-replayable in DuckDB (sparse rows; the dense
    fill is a trivial transform over the same map).

    Plan: one explode to narrow (id, slot) rows + one count agg
    (map-side partial combine) + one id-join back — text never
    shuffles, slots are ints.  NULL-id rows are dropped (the join-key
    rule the other id-keyed text operators follow; keeping them would
    silently zero their features across the non-null-safe join)."""
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")

    def fn(df: DataFrame) -> DataFrame:
        df = df.where(F.col(id_col).isNotNull())
        slot = F.pmod(h32(F.col("__t")), F.lit(dim)).cast("int")
        sparse = (df.select(F.col(id_col),
                            F.explode(tokens_col(F.col(text_col)))
                            .alias("__t"))
                    .select(id_col, slot.alias("__s"))
                    .groupBy(id_col, "__s")
                    .agg(F.count(F.lit(1)).alias("__c"))
                    .groupBy(id_col)
                    .agg(F.map_from_entries(F.array_sort(
                        F.collect_list(F.struct("__s", "__c"))))
                        .alias("__m")))
        j = df.join(sparse, id_col, "left")
        empty = F.map_from_arrays(F.array().cast("array<int>"),
                                  F.array().cast("array<long>"))
        m = F.coalesce("__m", empty)
        if dense:
            vec = F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: F.coalesce(F.element_at(m, i),
                                     F.lit(0).cast("long")))
            return j.withColumn(out, vec).drop("__m")
        return j.withColumn(out, m).drop("__m")

    return Stage(fn, name=f"hashing_tf(dim={dim})", seq_preserving=False)


def hashing_tf_sql(dim: int, *, table: str = "documents",
                   id_col: str = "doc_id",
                   text_col: str = "text") -> str:
    """DuckDB rendering of :func:`hashing_tf`'s SPARSE rows —
    (id, slot, count), the content the dense fill is a pure transform
    of; bit-identical (same h32, same pmod)."""
    from conduino_spark.functions.hashing import h32_sql
    toks = tokens_sql(text_col)
    return f"""
        SELECT {id_col}, CAST({h32_sql('t')} % {dim} AS INTEGER)
                 AS slot,
               COUNT(*) AS cnt
        FROM (SELECT {id_col}, unnest({toks}) AS t FROM {table}
              WHERE {id_col} IS NOT NULL)
        GROUP BY 1, 2"""


def unigram_logprob(vocab: DataFrame, text_col: str = "text", *,
                    id_col: str = "doc_id", alpha: float = 0.5,
                    term_round: "int | None" = None,
                    out: str = "logprob_per_token") -> "Stage":
    """Mean per-token unigram log-probability of each document under a
    ``vocab`` table (:func:`unigram_vocab` output) with additive
    ``alpha`` smoothing — the classic LM-score quality signal: fluent
    prose scores near the corpus distribution, gibberish and
    boilerplate score far below / above.  Empty-token documents get
    NULL.

    P(t) = (count(t) + alpha) / (N + alpha·(V + 1)); out-of-vocabulary
    tokens take count 0.  The +1 in the denominator reserves mass for
    the OOV event.

    Plan: explode to (doc, token), LEFT join the narrow (token, count)
    table — a plain hash join that AQE broadcasts when the vocab is
    small, stays shuffled when it is web-scale — then one per-doc mean
    aggregate.  Raw text shuffles only as single tokens.

    Scores are floating logs (libm ``ln`` differs across engines in the
    last ulp), so tests pin a tolerance reference, not a hash oracle —
    the same contract as BM25.  ``term_round`` (like
    :func:`bigram_logprob`'s) switches to the order-free exact mean of
    per-token logs rounded to that many decimals — the hash-replayable
    mode."""
    if alpha <= 0:
        raise ValueError(f"alpha must be positive, got {alpha}")
    if term_round is not None and not 1 <= term_round <= 9:
        raise ValueError(f"term_round must be in [1, 9], got {term_round}")

    def fn(df: DataFrame) -> DataFrame:
        # N/V ride a broadcast single-row aggregate into the expression
        # (no driver peek — the whole score stays one lazy plan)
        stats = vocab.agg(
            F.coalesce(F.sum("count"), F.lit(0)).alias("__N"),
            F.count(F.lit(1)).alias("__V"))
        denom = (F.col("__N").cast("double")
                 + F.lit(alpha) * (F.col("__V").cast("double") + 1))
        toks = df.select(F.col(id_col),
                         F.explode(tokens_col(F.col(text_col)))
                          .alias("token"))
        scored = (toks.join(vocab.select("token", "count"), "token", "left")
                      .crossJoin(F.broadcast(stats))
                      .select(id_col,
                              F.log((F.coalesce(F.col("count"), F.lit(0))
                                     .cast("double") + F.lit(alpha))
                                    / denom).alias("__lp")))
        if term_round is None:
            per_doc = scored.groupBy(id_col).agg(F.avg("__lp").alias(out))
        else:
            scale = 10 ** term_round
            sl = F.round(F.col("__lp") * F.lit(scale)).cast("long")
            per_doc = (scored.select(id_col, sl.alias("__sl"))
                             .groupBy(id_col)
                             .agg((F.sum("__sl").cast("double")
                                   / F.count("__sl").cast("double")
                                   / F.lit(float(scale))).alias(out)))
        return df.join(per_doc, id_col, "left")

    return Stage(fn, name=f"unigram_logprob(alpha={alpha})",
                 seq_preserving=False)


#: corpus_filter default gates — (column, op, threshold); Gopher-flavored
#: (Rae et al. 2021 §A1.1) plus the engine's quality heuristic
CORPUS_FILTER_DEFAULT: "dict[str, tuple[str, float]]" = {
    "quality":             (">=", 0.3),
    "dup_line_frac":       ("<=", 0.30),
    "dup_line_char_frac":  ("<=", 0.20),
    "top_2gram_char_frac": ("<=", 0.20),
    "symbol_word_ratio":   ("<=", 0.10),
    "mean_word_len":       ("between", (3.0, 10.0)),
    "alpha_word_frac":     (">=", 0.80),
}


def corpus_filter(text_col: str = "text", *,
                  rules: "dict | None" = None,
                  keep_only: bool = False,
                  reasons: str = "drop_reasons") -> Stage:
    """One-pass corpus quality gate: compute the engine's quality score
    and the Gopher repetition/shape stats, evaluate every rule, and
    attach ``keep`` (boolean) + ``reasons`` (array of failed rule
    names) — the audit-trail shape a data pipeline keeps so dropped
    documents are EXPLAINABLE.  ``keep_only=True`` returns survivors
    with the metric columns (drop the audit columns downstream).

    Rules: metric → ("<=" | ">=", threshold) or ("between", (lo, hi)).
    Everything is a single projection pipeline over the corpus — no
    shuffle, whole-stage codegen, streaming-compatible."""
    rules = dict(rules) if rules is not None else dict(CORPUS_FILTER_DEFAULT)
    # validate at CONSTRUCTION, not first execution — a typo'd op must
    # fail at pipeline build time, not hours into a submitted job
    for metric, (op, th) in rules.items():
        if op not in ("<=", ">=", "between"):
            raise ValueError(f"corpus_filter: unknown op {op!r} for {metric}")
        if op == "between" and (not isinstance(th, (tuple, list))
                                or len(th) != 2):
            # isinstance first: a scalar threshold must hit THIS message,
            # not a bare TypeError from len()
            raise ValueError(f"corpus_filter: between needs (lo, hi) "
                             f"for {metric}, got {th!r}")
    q_stage = quality_score(text_col)
    r_stage = repetition_stats(text_col)

    def fn(df: DataFrame) -> DataFrame:
        d = r_stage(q_stage(df))
        checks = []
        for metric, (op, th) in rules.items():
            c = F.col(metric)
            if op == "<=":
                ok = c <= F.lit(th)
            elif op == ">=":
                ok = c >= F.lit(th)
            else:
                lo, hi = th
                ok = (c >= F.lit(lo)) & (c <= F.lit(hi))
            checks.append((metric, F.coalesce(ok, F.lit(False))))
        reason_arr = F.filter(
            F.array(*[F.when(~ok, F.lit(m)).otherwise(F.lit(None))
                      for m, ok in checks]),
            lambda x: x.isNotNull())
        d = (d.withColumn(reasons, reason_arr)
              .withColumn("keep", F.size(F.col(reasons)) == 0))
        if keep_only:
            # fenced: a naked where("keep") would re-inline the whole
            # lambda-HOF metric chain into an interpreted per-row
            # predicate (~20x this operator's real cost — measured 57s
            # vs 2.9s on 500 docs; see plans.core.fenced_where)
            from conduino_spark.plans.core import fenced_where
            return fenced_where(d, F.col("keep")).drop("keep", reasons)
        return d

    return Stage(fn, name="corpus_filter", seq_preserving=True)


#: PII patterns valid in BOTH Java regex (Spark) and RE2 (DuckDB) —
#: no lookaround, no backrefs.  Replacement order matters only in that
#: tokens contain no digits/@, so earlier redactions never re-match.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ipv4": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    "phone": (r"\+?\d[\d\-\s().]{6,}\d", "<PHONE>"),
}


#: strip_html's regex chain — ORDER MATTERS (script/style bodies and
#: comments must go before the generic tag strip) and every pattern
#: stays in the Java∩RE2 subset with (?is)-free inline flags expressed
#: via explicit case classes, so :func:`strip_html_sql` replays the
#: result bit-for-bit.
HTML_STRIP_STEPS: "list[tuple[str, str]]" = [
    # script/style elements: drop the whole element incl. body
    (r"<[sS][cC][rR][iI][pP][tT][^>]*>[\s\S]*?</[sS][cC][rR][iI][pP][tT]>", " "),
    (r"<[sS][tT][yY][lL][eE][^>]*>[\s\S]*?</[sS][tT][yY][lL][eE]>", " "),
    # comments
    (r"<!--[\s\S]*?-->", " "),
    # any remaining tag
    (r"<[^>]+>", " "),
]

#: entity decode table (the handful that dominate web text; ampersand
#: LAST so &amp;lt; decodes to &lt; not <)
HTML_ENTITIES: "list[tuple[str, str]]" = [
    ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&"),
]


def strip_html(text_col: str = "text", *, out: str = "text",
               decode_entities: bool = True,
               collapse_whitespace: bool = True) -> Stage:
    """HTML → text for web-corpus ingestion: drop ``<script>``/
    ``<style>`` elements (including their bodies), comments, and all
    remaining tags; decode the common entities; collapse whitespace.
    The regex-heuristic extraction pass every web pipeline runs before
    quality scoring — NOT a full HTML5 parser (malformed nesting
    degrades gracefully to tag-stripping), which is exactly the
    trade the big web corpora (C4, CCNet) make at ingestion scale.

    Pure chained ``regexp_replace`` projection — no shuffle, one
    codegen pass, streaming-safe; patterns in the Java∩RE2 subset so
    :func:`strip_html_sql` replays bit-for-bit."""

    def fn(df: DataFrame) -> DataFrame:
        c = F.coalesce(F.col(text_col), F.lit(""))
        for rx, rep in HTML_STRIP_STEPS:
            c = F.regexp_replace(c, rx, rep)
        if decode_entities:
            for ent, ch in HTML_ENTITIES:
                c = F.replace(c, F.lit(ent), F.lit(ch))
        if collapse_whitespace:
            c = F.trim(F.regexp_replace(c, r"\s+", " "))
        return df.withColumn(out, c)

    return Stage(fn, name="strip_html", seq_preserving=True)


def strip_html_sql(expr: str = "text", out: str = "text", *,
                   decode_entities: bool = True,
                   collapse_whitespace: bool = True) -> str:
    """DuckDB rendering of :func:`strip_html` (same chain order)."""
    c = f"coalesce({expr}, '')"
    for rx, rep in HTML_STRIP_STEPS:
        c = f"regexp_replace({c}, '{rx}', '{rep}', 'g')"
    if decode_entities:
        for ent, ch in HTML_ENTITIES:
            ch_sql = ch.replace("'", "''")
            c = f"replace({c}, '{ent}', '{ch_sql}')"
    if collapse_whitespace:
        c = rf"trim(regexp_replace({c}, '\s+', ' ', 'g'))"
    return f"{c} AS {out}"


def redact_pii(text_col: str = "text", *, out: str = "redacted",
               patterns: "dict[str, tuple[str, str]] | None" = None,
               counts: bool = True) -> Stage:
    """PII redaction for corpus publishing: replace emails / IPv4s /
    phone-number-shaped digit runs with typed placeholder tokens, and
    (``counts=True``) report what each stage redacted as ``pii_<kind>``
    columns — the audit trail a release pipeline keeps.

    Pure chained ``regexp_replace``/``regexp_count`` projections — no
    shuffle, whole corpus in one codegen'd pass.  The patterns are
    deliberately conservative (high precision) and restricted to the
    regex subset Java and RE2 share, so the DuckDB oracle replays the
    redaction bit-for-bit; swap in domain-tuned patterns via
    ``patterns``."""
    pats = patterns if patterns is not None else PII_PATTERNS

    def fn(df: DataFrame) -> DataFrame:
        # counts run against the PROGRESSIVELY redacted text: each
        # stage reports what it actually redacts, so an IPv4 (whose
        # dotted digits also fit the phone shape) is never double-
        # counted by a later, looser pattern
        res = df
        red = F.coalesce(F.col(text_col), F.lit(""))
        for kind, (rx, token) in pats.items():
            if counts:
                res = res.withColumn(f"pii_{kind}",
                                     F.regexp_count(red, F.lit(rx)))
            red = F.regexp_replace(red, rx, token)
        return res.withColumn(out, red)

    return Stage(fn, name="redact_pii", seq_preserving=True)


def redact_pii_sql(expr: str = "text", out: str = "redacted",
                   patterns: "dict[str, tuple[str, str]] | None" = None,
                   counts: bool = True) -> str:
    """DuckDB rendering of :func:`redact_pii` (same patterns, same
    chain order) as SELECT fragments."""
    pats = patterns if patterns is not None else PII_PATTERNS
    red = f"coalesce({expr}, '')"
    frags = []
    for kind, (rx, token) in pats.items():
        q = rx.replace("'", "''")
        if counts:
            frags.append(
                f"len(regexp_extract_all({red}, '{q}')) AS pii_{kind}")
        red = f"regexp_replace({red}, '{q}', '{token}', 'g')"
    frags.append(f"{red} AS {out}")
    return ", ".join(frags)


def line_dedup(text_col: str = "text", *, id_col: str = "doc_id",
               min_count: int = 2, min_chars: int = 5,
               sep: str = "\n",
               out: "str | None" = None,
               name: str = "line_dedup") -> Stage:
    """Corpus-level duplicate-LINE removal (the Falcon/RefinedWeb
    boilerplate pass): any line whose normalized form (lower + trim)
    occurs ``min_count``+ times ACROSS THE CORPUS is removed from every
    document; surviving lines are reassembled in their original order.
    Lines shorter than ``min_chars`` after trimming (separators, stray
    punctuation) are exempt — they are structure, not boilerplate.

    Output = input columns + ``out`` (deduped text, default replaces
    ``text_col``) + ``n_lines`` / ``n_lines_dropped`` audit columns
    (0 for documents with NULL text, whose text passes through).

    Plan (100 TB posture): lines shuffle for the corpus-wide count as
    md5 DIGESTS only (raw text stays put); the duplicate set is the
    count-filtered digest table, hash-joined back (AQE broadcasts it
    when small); ONE groupBy(id) reassembles via conditional
    collect_list(struct(pos, line)) + array_sort — per-doc state is
    bounded by document size, the same contract as every per-doc fold
    here.  No RNG, no driver loop; DuckDB-replayable bit-for-bit
    (tests/test_round6b.py).

    ``sep`` picks the unit: "\n" (default) = lines; "\n\n" =
    PARAGRAPHS (the RefinedWeb paragraph-boilerplate variant — cookie
    banners and nav blocks usually repeat as whole paragraphs, and
    paragraph granularity never splits a sentence)."""
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    if not sep:
        raise ValueError("sep must be a non-empty literal separator")
    out_col = out or text_col

    def fn(df: DataFrame) -> DataFrame:
        import re as _re
        lines = df.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), _re.escape(sep)))
             .alias("__pos", "__line"))
        norm = F.lower(F.trim(F.col("__line")))
        # digest only for countable lines; short lines keep NULL (never
        # counted, never dropped)
        hashed = lines.withColumn(
            "__lh", F.when(F.length(norm) >= min_chars, F.md5(norm)))
        dup = (hashed.where(F.col("__lh").isNotNull())
                     .groupBy("__lh")
                     .agg(F.count(F.lit(1)).alias("__c"))
                     .where(F.col("__c") >= min_count)
                     .select("__lh", F.lit(True).alias("__dup")))
        flagged = (hashed.join(dup, "__lh", "left")
                         .withColumn("__drop",
                                     F.coalesce(F.col("__dup"),
                                                F.lit(False))))
        reasm = (flagged.groupBy(id_col).agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(F.col("__drop"), 1).otherwise(0))
             .alias("n_lines_dropped"),
            F.concat_ws(sep, F.transform(
                F.array_sort(F.collect_list(
                    F.when(~F.col("__drop"),
                           F.struct(F.col("__pos"), F.col("__line"))))),
                lambda s: s["__line"])).alias("__ld_text")))
        joined = df.join(reasm, id_col, "left")
        res = (joined.withColumn(
                   out_col,
                   F.when(F.col("n_lines").isNotNull(), F.col("__ld_text"))
                    .otherwise(F.col(text_col)))
                     .withColumn("n_lines",
                                 F.coalesce(F.col("n_lines"), F.lit(0)))
                     .withColumn("n_lines_dropped",
                                 F.coalesce(F.col("n_lines_dropped"),
                                            F.lit(0)))
                     .drop("__ld_text"))
        return res

    return Stage(fn, name=name, seq_preserving=False)


def bigram_vocab(text_col: str = "text") -> Stage:
    """Corpus bigram table: one row per distinct adjacent in-document
    token pair ``(prev, token)`` with its count — the conditional half
    of the interpolated LM :func:`bigram_logprob` scores with (build
    over a trusted corpus once, like :func:`unigram_vocab`).

    One (prev, token) hash aggregate; pairs shuffle as two short
    strings, counts partial map-side."""

    def fn(df: DataFrame) -> DataFrame:
        t = df.select(tokens_col(F.col(text_col)).alias("__t"))
        n1 = F.greatest(F.size("__t") - F.lit(1), F.lit(0))
        pairs = F.zip_with(
            F.slice("__t", F.lit(1), n1), F.slice("__t", F.lit(2), n1),
            lambda a, b: F.struct(a.alias("prev"), b.alias("token")))
        return (t.select(F.explode(pairs).alias("__p"))
                 .select("__p.prev", "__p.token")
                 .groupBy("prev", "token")
                 .agg(F.count(F.lit(1)).alias("count")))

    return Stage(fn, name="bigram_vocab", seq_preserving=False)


def bigram_logprob(bigrams: DataFrame, unigrams: DataFrame,
                   text_col: str = "text", *, id_col: str = "doc_id",
                   alpha: float = 0.5, lam: float = 0.7,
                   term_round: "int | None" = None,
                   out: str = "bigram_logprob_per_token") -> Stage:
    """Mean per-position interpolated bigram log-probability — the
    KenLM-style upgrade of :func:`unigram_logprob`:

        P(t | p) = lam * P_ML(t | p)  +  (1 - lam) * P_uni(t)

    where P_ML(t|p) = c(p,t) / c(p,·) (0 when the prefix is unseen)
    and P_uni is the alpha-smoothed unigram (same formula as
    unigram_logprob, so ``lam=0`` degenerates to it positionally).
    ``lam`` must be < 1: the unigram floor is what keeps unseen
    bigrams finite.  Documents with < 2 tokens score NULL (no bigram
    positions).

    Plan: explode to (doc, prev, token) pairs, LEFT-join three narrow
    tables — (prev,token,count), the prefix marginal c(p,·) derived
    from it, and the unigram table — each a plain hash join AQE
    broadcasts when the model is small; one per-doc mean closes the
    score.  Raw text shuffles only as token pairs.  Tolerance oracle
    (libm ln), the unigram/BM25 contract.

    ``term_round``: when set, each per-position log term is rounded to
    that many decimals and the mean becomes an exact scaled-long sum /
    count — order-free and hash-replayable across engines (a plain
    double ``avg`` depends on partition summation order; raw libm
    ``ln`` differs in the last ulp).  The DETERMINISTIC mode the driver
    gate runs; None keeps the full-precision tolerance-contract
    score."""
    if alpha <= 0:
        raise ValueError(f"alpha must be positive, got {alpha}")
    if not 0.0 <= lam < 1.0:
        raise ValueError(f"lam must be in [0, 1), got {lam}")
    if term_round is not None and not 1 <= term_round <= 9:
        raise ValueError(f"term_round must be in [1, 9], got {term_round}")

    def fn(df: DataFrame) -> DataFrame:
        stats = unigrams.agg(
            F.coalesce(F.sum("count"), F.lit(0)).alias("__N"),
            F.count(F.lit(1)).alias("__V"))
        denom = (F.col("__N").cast("double")
                 + F.lit(alpha) * (F.col("__V").cast("double") + 1))
        prefix = bigrams.groupBy("prev").agg(F.sum("count").alias("__cp"))
        t = df.select(F.col(id_col), tokens_col(F.col(text_col)).alias("__t"))
        n1 = F.greatest(F.size("__t") - F.lit(1), F.lit(0))
        pairs = F.zip_with(
            F.slice("__t", F.lit(1), n1), F.slice("__t", F.lit(2), n1),
            lambda a, b: F.struct(a.alias("prev"), b.alias("token")))
        pos = (t.select(F.col(id_col), F.explode(pairs).alias("__p"))
                .select(id_col, "__p.prev", "__p.token"))
        j = (pos.join(bigrams.withColumnRenamed("count", "__cbt"),
                      ["prev", "token"], "left")
                .join(prefix, "prev", "left")
                .join(unigrams.select("token",
                                      F.col("count").alias("__ct")),
                      "token", "left")
                .crossJoin(F.broadcast(stats)))
        p_uni = ((F.coalesce(F.col("__ct"), F.lit(0)).cast("double")
                  + F.lit(alpha)) / denom)
        p_big = F.when(
            F.coalesce(F.col("__cp"), F.lit(0)) > 0,
            F.coalesce(F.col("__cbt"), F.lit(0)).cast("double")
            / F.col("__cp").cast("double")).otherwise(F.lit(0.0))
        lp = F.log(F.lit(lam) * p_big + F.lit(1.0 - lam) * p_uni)
        if term_round is None:
            per_doc = (j.select(id_col, lp.alias("__lp"))
                         .groupBy(id_col).agg(F.avg("__lp").alias(out)))
        else:
            scale = 10 ** term_round
            sl = F.round(lp * F.lit(scale)).cast("long")
            per_doc = (j.select(id_col, sl.alias("__sl"))
                        .groupBy(id_col)
                        .agg((F.sum("__sl").cast("double")
                              / F.count("__sl").cast("double")
                              / F.lit(float(scale))).alias(out)))
        return df.join(per_doc, id_col, "left")

    return Stage(fn, name=f"bigram_logprob(alpha={alpha},lam={lam})",
                 seq_preserving=False)


#: script_profile character classes — explicit codepoint ranges in the
#: Java∩RE2 regex subset (named script classes differ between engines:
#: Java wants \p{IsHan}, RE2 wants \p{Han}).  Each pattern matches ONE
#: character, so counting = length difference after deletion — the same
#: portable trick redact_pii's audit counts use.
SCRIPT_RANGES = {
    "latin": "[A-Za-zÀ-ɏ]",
    "cyrillic": "[Ѐ-ӿ]",
    "cjk": ("[一-鿿぀-ヿ가-힯"
            "㐀-䶿豈-﫿]"),
    "arabic": "[؀-ۿݐ-ݿ]",
    "digit": "[0-9]",
}


def script_profile(text_col: str = "text") -> Stage:
    """Per-document Unicode-script composition: the fraction of
    non-whitespace characters in Latin, Cyrillic, CJK (Han + kana +
    hangul), Arabic, and digit ranges, plus ``other_frac`` for the
    rest — the multilingual triage signal that catches what a
    stopword-based :func:`lang_id` cannot (wrong-script boilerplate,
    mixed-script spam, mojibake).

    Pure projection (counts = length minus length-after-deletion, one
    ``regexp_replace`` per class), whole-stage codegen, no shuffle;
    fractions over NON-WHITESPACE chars so formatting doesn't dilute
    the signal.  NULL text → NULL fractions; all-whitespace → 0.0."""

    def fn(df: DataFrame) -> DataFrame:
        s = F.regexp_replace(F.col(text_col), r"\s", "")
        total = F.length(s)
        out = df
        covered = None
        for name, pat in SCRIPT_RANGES.items():
            cnt = total - F.length(F.regexp_replace(s, pat, ""))
            frac = F.when(F.col(text_col).isNull(),
                          F.lit(None).cast("double")) \
                    .when(total == 0, F.lit(0.0)) \
                    .otherwise(F.round(cnt / total, 6))
            out = out.withColumn(f"{name}_frac", frac)
            covered = cnt if covered is None else covered + cnt
        other = F.when(F.col(text_col).isNull(),
                       F.lit(None).cast("double")) \
                 .when(total == 0, F.lit(0.0)) \
                 .otherwise(F.round((total - covered) / total, 6))
        return out.withColumn("other_frac", other)

    return Stage(fn, name="script_profile", seq_preserving=True)


# ---------------------------------------------------------------------------
# DSIR data selection (Xie et al. 2023, "Data Selection for Language
# Models via Importance Resampling" — public literature)
# ---------------------------------------------------------------------------

def dsir_logratio(target_vocab: DataFrame, corpus_vocab: DataFrame,
                  text_col: str = "text", *, id_col: str = "doc_id",
                  alpha: float = 0.5, term_round: "int | None" = None,
                  out: str = "dsir_logratio") -> "Stage":
    """DSIR importance log-weight: for each document, the SUM over its
    tokens of ``ln P_target(t) - ln P_corpus(t)`` under two unigram
    models (:func:`unigram_vocab` tables) with the same add-``alpha``
    smoothing :func:`unigram_logprob` uses.  Documents that look like
    the target domain score high, generic-corpus documents score near
    zero, off-domain documents score negative — the selection signal
    DSIR resamples by.  Empty-token documents get NULL.

    Plan: ONE token explode, two LEFT joins against the narrow
    (token, count) tables (AQE broadcasts a small vocab, keeps a
    web-scale one shuffled on the token key), per-token ratio in
    codegen, one per-doc sum.  Raw text never shuffles.

    ``term_round`` (the :func:`bigram_logprob` convention) rounds each
    per-token log-ratio to that many decimals as a scaled long before
    the sum — order-free, hash-replayable across engines."""
    if alpha <= 0:
        raise ValueError(f"alpha must be positive, got {alpha}")
    if term_round is not None and not 1 <= term_round <= 9:
        raise ValueError(f"term_round must be in [1, 9], got {term_round}")

    def _smoothed(count_col: str, n_col: str, v_col: str) -> Column:
        denom = (F.col(n_col).cast("double")
                 + F.lit(alpha) * (F.col(v_col).cast("double") + 1))
        return F.log((F.coalesce(F.col(count_col), F.lit(0))
                      .cast("double") + F.lit(alpha)) / denom)

    def fn(df: DataFrame) -> DataFrame:
        t_stats = target_vocab.agg(
            F.coalesce(F.sum("count"), F.lit(0)).alias("__Nt"),
            F.count(F.lit(1)).alias("__Vt"))
        c_stats = corpus_vocab.agg(
            F.coalesce(F.sum("count"), F.lit(0)).alias("__Nc"),
            F.count(F.lit(1)).alias("__Vc"))
        toks = df.select(F.col(id_col),
                         F.explode(tokens_col(F.col(text_col)))
                          .alias("token"))
        lr = (_smoothed("__ct", "__Nt", "__Vt")
              - _smoothed("__cc", "__Nc", "__Vc"))
        scored = (toks
                  .join(target_vocab.select(
                      "token", F.col("count").alias("__ct")),
                      "token", "left")
                  .join(corpus_vocab.select(
                      "token", F.col("count").alias("__cc")),
                      "token", "left")
                  .crossJoin(F.broadcast(t_stats))
                  .crossJoin(F.broadcast(c_stats))
                  .select(id_col, lr.alias("__lr")))
        if term_round is None:
            per_doc = scored.groupBy(id_col).agg(F.sum("__lr").alias(out))
        else:
            scale = 10 ** term_round
            sl = F.round(F.col("__lr") * F.lit(scale)).cast("long")
            per_doc = (scored.select(id_col, sl.alias("__sl"))
                             .groupBy(id_col)
                             .agg((F.sum("__sl").cast("double")
                                   / F.lit(float(scale))).alias(out)))
        return df.join(per_doc, id_col, "left")

    return Stage(fn, name=f"dsir_logratio(alpha={alpha})",
                 seq_preserving=False)


def dsir_topk(k: int, *, weight_col: str = "dsir_logratio",
              id_col: str = "doc_id", salt: str = "",
              temperature: "float | None" = 1.0,
              name: str = "dsir_topk") -> "Stage":
    """DSIR's importance RESAMPLING step, deterministically: select
    ``k`` documents without replacement with probability proportional
    to ``softmax(weight / temperature)`` via the Gumbel-top-k trick —
    ``key = w/T - ln(-ln(u))`` with ``u`` a hash-derived uniform in
    (0, 1), take the k largest keys.  Membership is a pure function of
    (salt, id, weight): stable across runs, engines and partitionings,
    replayable by a DuckDB oracle like every sampler here — no RNG.

    ``temperature=None`` skips the Gumbel noise: plain greedy top-k by
    weight (the "DSIR top-k" ablation).  NULL weights are dropped (no
    score, no lottery ticket).  Keys round to 9 decimals with the id
    as tie-break, so ordering is total and engine-independent.

    Plan: pure projection + ``orderBy().limit(k)`` — Spark plans
    TakeOrderedAndProject (per-partition heaps, merge on the driver),
    never a global sort."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if temperature is not None and temperature <= 0:
        raise ValueError(
            f"temperature must be positive or None, got {temperature}")

    def fn(df: DataFrame) -> DataFrame:
        w = F.col(weight_col).cast("double")
        if temperature is None:
            key = w
        else:
            u = ((h32(F.concat(F.lit(salt), F.col(id_col).cast("string")))
                  .cast("double") + F.lit(0.5)) / F.lit(4294967296.0))
            key = w / F.lit(float(temperature)) - F.log(-F.log(u))
        # NULL ids are dropped alongside NULL weights (hash_sample's
        # NULL-key rule): a NULL id would propagate into the Gumbel
        # key via concat AND break the id tie-break's total order.
        return (df.where(w.isNotNull() & F.col(id_col).isNotNull())
                  .withColumn("__gkey", F.round(key, 9))
                  .orderBy(F.desc("__gkey"), F.col(id_col))
                  .limit(k)
                  .drop("__gkey"))

    return Stage(fn, name=name)


def perplexity_buckets(vocab: "DataFrame",
                       text_col: str = "text", *,
                       id_col: str = "doc_id",
                       keys: "tuple[str, ...]" = (),
                       edges: "dict[str, float] | None" = None,
                       rest: str = "tail",
                       bins: int = 1024,
                       alpha: float = 0.5,
                       term_round: "int | None" = None,
                       score_out: str = "log_ppl",
                       out: str = "ppl_bucket") -> "Stage":
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score
    every document under a reference LM (:func:`unigram_logprob`
    against a trusted-corpus ``vocab``), convert to a log-perplexity
    proxy (the negated mean per-token log-probability — ``exp`` of it
    IS the perplexity, and it is monotone, so buckets agree), then
    split the corpus into head / middle / tail thirds by per-group
    quantile cuts (``keys=('lang',)`` reproduces CCNet's per-language
    buckets).  Downstream keeps the head (or mixes buckets with
    :func:`~conduino_spark.operators.sampling.mixture`).

    Default ``edges``: head ≤ P33.3, middle ≤ P66.7, tail above.
    Token-free documents score NULL and bucket NULL.

    Plan: the LM score is one explode + one narrow join + one per-doc
    mean; the bucketing adds the O(bins) cut sketch and a broadcast
    CASE — nothing heavier than the score pass itself.  With
    ``term_round`` set, scores are exact scaled-long means and the
    whole pipeline (scores, cuts, labels) replays bit-for-bit in SQL.
    """
    from conduino_spark.operators.sketches import quantile_buckets
    edges = dict(edges) if edges else {"head": 1 / 3, "middle": 2 / 3}
    score_stage = unigram_logprob(vocab, text_col, id_col=id_col,
                                  alpha=alpha, term_round=term_round,
                                  out="__lp")
    bucket_stage = quantile_buckets(
        F.col(score_out), edges, rest=rest, keys=keys, bins=bins,
        out=out)

    def fn(df: DataFrame) -> DataFrame:
        scored = (score_stage(df)
                  .withColumn(score_out, -F.col("__lp"))
                  .drop("__lp"))
        return bucket_stage(scored)

    return Stage(fn, name="perplexity_buckets", seq_preserving=False)
