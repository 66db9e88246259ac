"""Quality-classifier training: distributed full-batch logistic
regression with order-free exact gradients.

The CCNet / LLaMA-style corpus build trains a small linear classifier
(fastText-shaped) to score documents as "reference-like" vs "random
web" and keeps the top bucket.  The *features* come from the engine's
text operators (quality components, length/shape stats); this module
supplies the trainer and scorer.

Scale shape: each of the ``iters`` epochs is ONE scan + a tiny hash
aggregate (d+2 sums) — the canonical distributed batch gradient
descent.  Weights live on the driver (d+1 doubles) and ride each
epoch's plan as literals, so the per-row math is whole-stage codegen
(sigmoid = JVM ``exp``); no Python touches a row.  The feature
projection is persisted once (narrow: d doubles + label per row), so
epochs re-scan the cached columnar block, not the raw table.

Determinism contract (the repo's gate rules): every per-row gradient
term is rounded to a scaled long (``term_scale``, default 1e4 — the
bigram_logprob term_round convention) BEFORE summing, so epoch sums
are order-free exact integers and the whole weight trajectory is
bit-reproducible — across partitionings AND across engines (the
DuckDB replay law drives the same loop with SQL-computed gradients).
libm-vs-JVM ``exp`` last-ulp differences can only flip a rounded term
when a value lands within one ulp of a 0.5 boundary at 1e-4
granularity (~1e-12/row — the accepted bigram_logprob risk).

Reference parity: an epoch is `foldl` with a (d+1)-vector accumulator
(Combinators.hs:480) re-expressed as Spark partial aggregation; the
driver loop is the same fixpoint shape as `feedbackPipe`
(Data/Conduino.hs:429).  The classifier itself is an engine addition
(SURVEY §2.7 LLM-pipeline posture).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import List, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from conduino_spark.operators.smallio import driver_collect
from conduino_spark.plans.core import Stage

TERM_SCALE = 10_000


@dataclass
class LogRegModel:
    """Driver-sized model: d feature weights + intercept."""
    weights: List[float]          # d
    intercept: float
    n: int
    feature_cols: List[str] = field(default_factory=list)
    loss_history: List[float] = field(default_factory=list)  # per epoch

    @property
    def dim(self) -> int:
        return len(self.weights)


def _sigmoid_col(z: Column) -> Column:
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


#: canonical quality-feature names, order matters (training contract)
QUALITY_FEATURES = ("len_ok", "alpha_ratio", "stop_sig", "punct_ok")


def quality_features(text_col: str = "text") -> dict:
    """The four :func:`~conduino_spark.operators.text.quality_score`
    components as separate feature columns (one definition, in
    text.py) — the trainer's stock featurizer, bit-identical across
    engines without rounding."""
    from conduino_spark.operators.text import _quality_components
    return _quality_components(F.col(text_col))


def quality_features_sql(expr: str = "text") -> dict:
    """DuckDB rendering of :func:`quality_features` (replay path)."""
    from conduino_spark.operators.text import QUALITY_STOPWORDS, tokens_sql
    toks = tokens_sql(expr)
    stops = ", ".join(f"'{w}'" for w in QUALITY_STOPWORDS)
    return {
        "len_ok": f"""(case when length({expr}) >= 8000
                            then 8000.0 / length({expr})
                            when length({expr}) >= 200 then 1.0
                            else length({expr}) / 200.0 end)""",
        "alpha_ratio": f"""(case when length({expr}) > 0
            then length(regexp_replace({expr}, '[^A-Za-z]', '', 'g'))
                 * 1.0 / length({expr}) else 0.0 end)""",
        "stop_sig": f"""(case when len({toks}) > 0
            then least(1.0, 5.0 * len(list_filter({toks},
                 x -> x in ({stops}))) * 1.0 / len({toks}))
            else 0.0 end)""",
        "punct_ok": f"""(1.0 - greatest(0.0,
            (case when length({expr}) > 0
                  then length(regexp_replace({expr}, '[^.,!?;:]', '', 'g'))
                       * 1.0 / length({expr}) else 0.0 end) - 0.1) / 0.9)""",
    }


def logreg_epoch_update(grads: Sequence[int], n: int, w: List[float],
                        b: float, lr: float, l2: float,
                        term_scale: int) -> tuple[List[float], float]:
    """One exact-integer gradient step — shared by the Spark path and
    the DuckDB replay (the two-path law feeds SQL-summed terms through
    this same function)."""
    d = len(w)
    gw = [grads[i] / term_scale / n + l2 * w[i] for i in range(d)]
    gb = grads[d] / term_scale / n
    return ([w[i] - lr * gw[i] for i in range(d)], b - lr * gb)


def _logreg_driver(pdf, d: int, n: int, iters: int,
                   lr: float, l2: float, term_scale: int,
                   track_loss: bool,
                   feature_cols: "List[str]") -> LogRegModel:
    """Driver fast path for :func:`logreg_train` (the _cc_min_label
    budget posture): the full-batch gradient epochs run vectorized
    over the collected feature matrix instead of one driver-
    synchronous aggregate collect per epoch.  The per-row arithmetic
    replays the Spark expression tree operation-for-operation
    (left-to-right z accumulation, (err·x)·scale multiply order,
    HALF-AWAY-FROM-ZERO rounding to int64 — the _hround convention),
    the gradient terms are the same exact integers, and the weight
    update goes through the SAME :func:`logreg_epoch_update` both
    paths share with the DuckDB replay.  ``exp``/``log1p`` ride each
    engine's libm exactly as the established JVM↔DuckDB two-path law
    already does — differences are absorbed by the 1e6-term rounding."""
    import numpy as np

    X = pdf[[f"__x{i}" for i in range(d)]].to_numpy(dtype=np.float64)
    y = pdf["__y"].to_numpy(dtype=np.float64)

    def hround_sum(v):
        r = np.where(v >= 0, np.floor(v + 0.5), np.ceil(v - 0.5))
        return int(r.astype(np.int64).sum())

    w = [0.0] * d
    b = 0.0
    history: List[float] = []
    for _ in range(iters):
        z = np.full(n, b)
        for i in range(d):
            z = z + w[i] * X[:, i]
        p = 1.0 / (1.0 + np.exp(-z))
        err = p - y
        grads = [hround_sum((err * X[:, i]) * term_scale)
                 for i in range(d)]
        grads.append(hround_sum(err * term_scale))
        if track_loss:
            ll = ((np.maximum(z, 0.0) - y * z)
                  + np.log1p(np.exp(-np.abs(z))))
            history.append(round(hround_sum(ll * term_scale)
                                 / term_scale / n, 6))
        w, b = logreg_epoch_update(grads, n, w, b, lr, l2, term_scale)
    return LogRegModel(weights=[round(x, 12) for x in w],
                       intercept=round(b, 12), n=n,
                       feature_cols=feature_cols,
                       loss_history=history)


def logreg_train(df: DataFrame, feature_cols: Sequence[str],
                 label_col: str, *, iters: int = 20, lr: float = 1.0,
                 l2: float = 0.0, term_scale: int = TERM_SCALE,
                 track_loss: bool = True) -> LogRegModel:
    """Train logistic regression ``P(label=1 | features)``.

    ``feature_cols`` are NUMERIC columns (cast to double); NULL
    features or labels exclude the row.  Weights init at zero — with
    the deterministic gradient sums the whole trajectory is
    reproducible bit-for-bit.
    """
    feature_cols = list(feature_cols)
    d = len(feature_cols)
    if d == 0:
        raise ValueError("logreg_train needs >= 1 feature column")
    cols = [F.col(c).cast("double").alias(f"__x{i}")
            for i, c in enumerate(feature_cols)]
    y = F.col(label_col).cast("double").alias("__y")
    feat = df.select(*cols, y).na.drop()
    # registry-tracked persist (ADVICE r8): the finally still releases
    # eagerly on the happy path, but an exception mid-train leaves the
    # cache visible to release_caches() auditing like every other
    # multi-use frame in the engine.
    from conduino_spark.plans.cachereg import mark, release_caches, track
    cache_mark = mark()
    feat = track(feat)
    try:
        # r16: budgeted driver fast path — the count gates it AND
        # materializes the cache the epochs read either way
        n_gate = feat.count()
        if n_gate == 0:
            raise ValueError("logreg_train: no complete rows")
        pdf = driver_collect(feat, n_gate, width=d + 1)
        if pdf is not None:
            return _logreg_driver(pdf, d, n_gate, iters, lr, l2,
                                  term_scale, track_loss, feature_cols)
        w = [0.0] * d
        b = 0.0
        n: Optional[int] = None
        history: List[float] = []
        for _ in range(iters):
            z = F.lit(b)
            for i in range(d):
                z = z + F.lit(w[i]) * F.col(f"__x{i}")
            p = _sigmoid_col(z)
            err = p - F.col("__y")
            aggs = [F.sum(F.round(err * F.col(f"__x{i}") * term_scale)
                          .cast("long")).alias(f"g{i}") for i in range(d)]
            aggs.append(F.sum(F.round(err * term_scale).cast("long"))
                        .alias(f"g{d}"))
            aggs.append(F.count(F.lit(1)).alias("n"))
            if track_loss:
                # numerically stable log-loss: max(z,0) - y*z + ln(1+e^-|z|)
                ll = (F.greatest(z, F.lit(0.0)) - F.col("__y") * z
                      + F.log1p(F.exp(-F.abs(z))))
                aggs.append(F.sum(F.round(ll * term_scale).cast("long"))
                            .alias("loss"))
            row = feat.agg(*aggs).collect()[0]
            n = int(row["n"])
            if n == 0:
                raise ValueError("logreg_train: no complete rows")
            grads = [int(row[f"g{i}"]) for i in range(d + 1)]
            if track_loss:
                history.append(round(int(row["loss"]) / term_scale / n, 6))
            w, b = logreg_epoch_update(grads, n, w, b, lr, l2, term_scale)
        return LogRegModel(weights=[round(x, 12) for x in w],
                           intercept=round(b, 12), n=n or 0,
                           feature_cols=feature_cols,
                           loss_history=history)
    finally:
        release_caches(since=cache_mark)


def logreg_score(model: LogRegModel, *, out: str = "score",
                 feature_cols: Optional[Sequence[str]] = None,
                 ndigits: Optional[int] = 6) -> Stage:
    """Append ``P(label=1)`` — a pure codegen projection (weights ride
    as literals), zero shuffle."""
    names = list(feature_cols or model.feature_cols)
    if len(names) != model.dim:
        raise ValueError(f"model has {model.dim} weights but "
                         f"{len(names)} feature columns given")

    def fn(df: DataFrame) -> DataFrame:
        z = F.lit(model.intercept)
        for wgt, c in zip(model.weights, names):
            z = z + F.lit(wgt) * F.col(c).cast("double")
        p = _sigmoid_col(z)
        return df.withColumn(out,
                             F.round(p, ndigits) if ndigits is not None
                             else p)

    return Stage(fn, name="logreg_score", seq_preserving=True)


# ---------------------------------------------------------------------------
# Multinomial naive Bayes: the fastText/CCNet-shaped token classifier
# whose MODEL is a distributed table (vocab never fits a driver at
# corpus scale, unlike logreg's d weights)
# ---------------------------------------------------------------------------

def _hround(x: float) -> int:
    """HALF_UP (away from zero) to integer — Spark's F.round / DuckDB's
    ROUND convention; Python's round() is banker's and would disagree
    on exact .5 boundaries."""
    return math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)


@dataclass
class NBModel:
    """Multinomial naive Bayes model.  ``classes``/``log_priors``/
    ``defaults`` are driver-sized (k entries); the per-token
    likelihood table is a DATAFRAME — (token, __lp array of k scaled
    longs), localCheckpoint-materialized so scoring never re-derives
    the training explode.  ``defaults[i]`` is the unseen-token
    log-likelihood ln(alpha / (N_i + alpha*(V+1))) for class i."""
    classes: List[str]
    log_priors: List[int]         # scaled longs (term_round decimals)
    defaults: List[int]           # scaled longs
    token_df: DataFrame
    n_docs: int
    vocab_size: int
    alpha: float
    term_round: int

    @property
    def k(self) -> int:
        return len(self.classes)


def nb_train(df: DataFrame, text_col: str = "text",
             label_col: str = "label", *, alpha: float = 0.5,
             term_round: int = 4) -> NBModel:
    """Train a multinomial naive Bayes token classifier — ONE explode
    + one (label, token) hash aggregate over the corpus; the three
    model fetches (class priors, per-class token totals, vocab size)
    are k-row / 1-row aggregates.  Add-``alpha`` smoothing with the
    :func:`~conduino_spark.operators.text.unigram_logprob` denominator
    convention ``N_c + alpha*(V+1)`` (the +1 is the unseen-token
    bucket), vocabulary shared across classes.

    Determinism contract: every log term is rounded to ``term_round``
    decimals as a scaled long (the bigram_logprob convention), so
    scoring sums are order-free exact integers and the whole
    train+score path replays bit-for-bit in DuckDB.  Driver-side
    constants (priors, defaults) round HALF_UP via :func:`_hround`,
    matching F.round / DuckDB ROUND.

    Scale shape: the model itself stays distributed — (token,
    k-vector) rows, localCheckpoint-materialized (it IS the artifact;
    write it with sink_parquet to persist across sessions).  Scoring
    (:func:`nb_score`) is one explode + one narrow hash join (AQE
    broadcasts a small model) + one per-doc aggregate.  Raw text never
    shuffles.  Engine addition (SURVEY §2.7 LLM-pipeline posture);
    the per-class fold shape cites foldl (Combinators.hs:480)."""
    if alpha <= 0:
        raise ValueError(f"alpha must be positive, got {alpha}")
    if not 1 <= term_round <= 9:
        raise ValueError(f"term_round must be in [1, 9], got {term_round}")
    from conduino_spark.plans.cachereg import mark, release_caches, track
    from conduino_spark.operators.text import tokens_col

    scale = 10 ** term_round
    labeled = df.where(F.col(label_col).isNotNull())
    cache_mark = mark()
    try:
        cnt = track(labeled.select(
            F.col(label_col).cast("string").alias("__y"),
            F.explode(tokens_col(F.col(text_col))).alias("token"))
            .groupBy("__y", "token").agg(F.count("*").alias("__c")))
        vocab_size = cnt.select("token").distinct().count()
        totals = {r["__y"]: r["__n"] for r in
                  cnt.groupBy("__y").agg(F.sum("__c").alias("__n"))
                     .collect()}
        prior_rows = {r["__y"]: r["__d"] for r in
                      labeled.groupBy(
                          F.col(label_col).cast("string").alias("__y"))
                      .agg(F.count("*").alias("__d")).collect()}
        if not prior_rows:
            raise ValueError("nb_train: no labeled rows")
        classes = sorted(prior_rows)
        n_docs = sum(prior_rows.values())
        denoms = [totals.get(c, 0) + alpha * (vocab_size + 1)
                  for c in classes]
        log_priors = [_hround(math.log(prior_rows[c] / n_docs) * scale)
                      for c in classes]
        defaults = [_hround(math.log(alpha / d) * scale) for d in denoms]
        lp_cols = [
            F.max(F.when(
                F.col("__y") == c,
                F.round(F.log((F.col("__c") + F.lit(alpha))
                              / F.lit(denoms[i])) * F.lit(scale))
                .cast("long"))).alias(f"__lp{i}")
            for i, c in enumerate(classes)
        ]
        token_df = (cnt.groupBy("token").agg(*lp_cols)
                    .select("token",
                            F.array(*[f"__lp{i}"
                                      for i in range(len(classes))])
                            .alias("__lp"))
                    .localCheckpoint())
        return NBModel(classes=classes, log_priors=log_priors,
                       defaults=defaults, token_df=token_df,
                       n_docs=n_docs, vocab_size=vocab_size,
                       alpha=alpha, term_round=term_round)
    finally:
        release_caches(since=cache_mark)


def nb_score(model: NBModel, text_col: str = "text", *,
             id_col: str = "doc_id", out: str = "nb_label",
             score_out: str = "nb_score") -> Stage:
    """Predict the max-posterior class per document under an
    :class:`NBModel`: explode tokens, ONE left hash join against the
    distributed likelihood table (unseen tokens take the class
    defaults), per-doc exact scaled-long sums, argmax with ties to the
    lexicographically-first class.  Documents with no tokens (or NULL
    text) get NULL — no evidence, the dsir_logratio convention.

    ``score_out`` is the winning log-joint (prior + sum likelihoods),
    unscaled back to a double at the end for display; the comparison
    happened on exact longs."""
    from conduino_spark.operators.text import tokens_col
    k = model.k
    scale = 10 ** model.term_round

    def fn(df: DataFrame) -> DataFrame:
        toks = df.select(F.col(id_col),
                         F.explode(tokens_col(F.col(text_col)))
                          .alias("token"))
        j = toks.join(model.token_df, "token", "left")
        sums = j.groupBy(id_col).agg(*[
            F.sum(F.coalesce(F.col("__lp")[i],
                             F.lit(model.defaults[i])))
            .alias(f"__s{i}") for i in range(k)])
        # argmax on structs: max (total, k-1-i) → max total, ties to
        # the SMALLEST class index (lexicographically first class)
        best = F.array_max(F.array(*[
            F.struct(
                (F.col(f"__s{i}") + F.lit(model.log_priors[i]))
                .alias("s"),
                F.lit(k - 1 - i).alias("j"))
            for i in range(k)]))
        names = F.array(*[F.lit(c) for c in model.classes])
        scored = sums.select(
            F.col(id_col),
            F.element_at(names, k - best["j"]).alias(out),
            (best["s"].cast("double") / F.lit(float(scale)))
            .alias(score_out))
        return df.join(scored, id_col, "left")

    return Stage(fn, name="nb_score", seq_preserving=False)
