"""10x scale probe (r5 verdict ask #5): no sf1 dataset exists in the
container (largest generated sf is 0.1 — see TESTDATA.md), so the
scale confirmation replicates the sf0.1 tables 10x WITH REMAPPED KEYS
(disjoint event/user/doc ids; per-replica salted text so the LSH
workload stays near-dup-realistic instead of pathologically
duplicated) and times the scale-sensitive operators at 1x vs 10x.

A chunked/ordered operator or banded LSH join whose plan is truly
linear should show a time ratio of roughly <= 10x (usually well under:
fixed per-query overhead amortizes); a super-linear ratio exposes a
hidden quadratic constant.

Usage: python tools/scale_probe.py [sf_dir] [replicas] [op ...]
(op names re-measure a subset without paying for the whole sweep).
Prints one JSON line; the round snapshot stores it as
SCALE_PROBE_r{N}.json.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
#: r15 (VERDICT r14 #6): pass "real:<dir>" as the second arg to probe
#: against a REAL larger generation (tools/gen_sf.py) instead of
#: replicated sf0.1 — fresh key spaces and Zipf-skewed activity, the
#: shape replication cannot produce.  The linearity bound is then the
#: row-count ratio of the real dataset.
REAL10: "str | None" = None
if len(sys.argv) > 2 and sys.argv[2].startswith("real:"):
    REAL10 = sys.argv[2][5:]
    REPLICAS = 10
else:
    REPLICAS = int(sys.argv[2]) if len(sys.argv) > 2 else 10
#: optional op-name filter (argv[3:]) — re-measure a subset without
#: paying for the whole sweep
ONLY = set(sys.argv[3:])
#: codec_mbps_single_core: rounds over all codecs, and the decode
#: time each codec gets per round (about 12 s for the 11 codecs)
CODEC_ROUNDS = 11
CODEC_SLICE_S = 0.1


def replicated_events(spark, n):
    if REAL10 and n > 1:
        # real larger generation (gen_sf.py) — no replicas
        return spark.read.parquet(f"{REAL10}/events.parquet")
    base = spark.read.parquet(f"{SF_DIR}/events.parquet")
    parts = [base.select(
        (F.col("event_id") + F.lit(i * 10_000_000)).alias("event_id"),
        "ts",
        (F.col("user_id") + F.lit(i * 1_000_000)).alias("user_id"),
        "event_type", "value", "props") for i in range(n)]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def replicated_docs(spark, n):
    if REAL10 and n > 1:
        # real larger generation (gen_sf.py) — no replicas
        return spark.read.parquet(f"{REAL10}/documents.parquet")
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    parts = [base.select(
        (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
        # per-replica salt keeps shingle sets distinct: without it every
        # doc has 9 exact clones and the LSH candidate set is quadratic
        # in the replica count by construction, not by data
        F.concat(F.lit(f"r{i} "), F.col("text")).alias("text"))
        for i in range(n)]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def replicated_embeddings(spark, n):
    if REAL10 and n > 1:
        # real larger generation (gen_sf.py) — no replicas
        return spark.read.parquet(f"{REAL10}/embeddings.parquet")
    base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    # remap BOTH ids and cell labels: replicas share no cells, so each
    # cell keeps its 1x size and the bucketed candidate join stays
    # linear in replicas (sharing labels would grow every cell 10x and
    # the within-cell work 100x by construction, not by data)
    parts = [base.select(
        (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
        (F.col("label") + F.lit(i * 1_000)).alias("label"),
        "embedding") for i in range(n)]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def main() -> None:
    from conduino_spark import (
        consecutive, from_dataframe, minhash_dedup_pairs, pack_chunks,
        chunk_text, release_caches, rolling_agg, run_pipe, scan_multi,
        sessionize, sink_df, pairs,
    )
    from conduino_spark.session import get_spark

    spark = get_spark("scale_probe", cpus=32, shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup

    def ev_pipe(stage_fn, df, seq=None):
        src = from_dataframe(df, seq_col=seq)
        return run_pipe(src | stage_fn | sink_df(), spark)

    OPS = {
        "scan_multi": lambda df: ev_pipe(
            scan_multi({"c": ("sum", F.round(F.col("value") * 100).cast("long")),
                        "n": ("count", "event_id")}), df, seq="event_id"),
        "pairs": lambda df: ev_pipe(
            pairs(), df.select("event_id", F.col("user_id").alias("v")),
            seq="event_id"),
        "consecutive": lambda df: ev_pipe(
            consecutive(3), df.select("event_id", F.col("user_id").alias("v")),
            seq="event_id"),
        "sessionize": lambda df: ev_pipe(
            sessionize("ts", 1800.0, keys=("user_id",)), df),
        "rolling_agg": lambda df: ev_pipe(
            rolling_agg("ts", 86400.0, keys=["user_id"]), df),
    }
    from conduino_spark import (
        heavy_hitters, hll_build, hll_estimate, line_dedup, source_overlap,
    )
    from conduino_spark.operators.text import tokens_col

    DOC_OPS = {
        "minhash_pairs": lambda df: ev_pipe(minhash_dedup_pairs(), df),
        "chunk_pack": lambda df: ev_pipe(
            chunk_text(64, 16) | pack_chunks(512), df),
        # r6 additions: corpus-wide line counts, group-quadratic overlap,
        # register sketch, CM-prefiltered exact heavy hitters
        "line_dedup": lambda df: ev_pipe(line_dedup(min_count=3), df),
        "source_overlap": lambda df: ev_pipe(
            source_overlap(group_col="__src"),
            df.withColumn("__src", (F.col("doc_id") % 8).cast("string"))),
        "hll_distinct": lambda df: ev_pipe(
            hll_build("text", p=12) | hll_estimate(), df),
        "heavy_hitters": lambda df: heavy_hitters("token", min_frac=0.002)(
            df.select(F.explode(tokens_col(F.col("text"))).alias("token"))),
    }

    def timed(fn, df) -> float:
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            fn(df).write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
            release_caches()
            spark.catalog.clearCache()
        return round(best, 3)

    from conduino_spark import ann_join

    from conduino_spark import (
        QUALITY_FEATURES, corpus_filter, logreg_train, minhash_dedup,
        quality_features, strip_html, vector_moments,
    )

    def _web_ingest(df):
        return ev_pipe(strip_html() | corpus_filter(keep_only=True)
                       | minhash_dedup() | chunk_text(64, 16)
                       | pack_chunks(512),
                       df.select("doc_id", F.concat(
                           F.lit("<html><script>a();\r\nb();</script>"
                                 "<body><p>"),
                           F.coalesce(F.col("text"), F.lit("")),
                           F.lit("</p><!-- c --></body></html>"))
                           .alias("text")))

    def _logreg(df):
        # 3 epochs is enough to expose the per-epoch scan scaling;
        # lr/threshold come from the gate so the probed shape is the
        # gated shape.
        import __spark_entry__ as entry
        fx = quality_features("text")
        feats = df.select(
            *[fx[k].alias(k) for k in QUALITY_FEATURES],
            (F.lit(0.25) * (fx["len_ok"] + fx["alpha_ratio"]
                            + fx["stop_sig"] + fx["punct_ok"])
             >= entry.LOGREG_THRESH).cast("int").alias("label"))
        logreg_train(feats, list(QUALITY_FEATURES), "label",
                     iters=3, lr=entry.LOGREG_LR, track_loss=False)
        return df.limit(0)  # timed() needs a writable frame

    def _dsir(df):
        # r8: both DSIR stages — vocab aggregates + token joins + the
        # Gumbel-top-k TakeOrderedAndProject (k fixed, data grows)
        from conduino_spark import dsir_logratio, dsir_topk, unigram_vocab
        # replicated_docs keeps only (doc_id, text) — target = a
        # deterministic 20% id slice standing in for the en-domain cut
        tv = unigram_vocab()(df.where(F.col("doc_id") % 5 == 0))
        cv = unigram_vocab()(df)
        return dsir_topk(100, salt="sp", temperature=2.0)(
            dsir_logratio(tv, cv, term_round=4)(df))

    DOC_OPS["web_ingest"] = _web_ingest
    DOC_OPS["logreg_3epoch"] = _logreg
    DOC_OPS["dsir_select"] = _dsir

    def _jaccard_prefix(df):
        # r9: per-replica token suffix makes replica shingle spaces
        # DISJOINT — the one-token salt of replicated_docs is not
        # enough here: clones would pair across replicas and the TRUE
        # output would grow replicas^2 by construction, hiding the
        # plan's own scaling.  Within a replica the suffix is uniform,
        # so the base similarity structure is preserved exactly.
        from conduino_spark import jaccard_prefix_pairs
        rep = (F.col("doc_id") / F.lit(10_000_000)).cast("int") \
            .cast("string")
        salted = df.select(
            "doc_id",
            F.regexp_replace(F.col("text"), F.lit(r"(\S+)"),
                             F.concat(F.lit("$1x"), rep)).alias("text"))
        return jaccard_prefix_pairs(threshold=0.2)(salted)

    def _nb_train_score(df):
        # r9: distributed-table NB — one explode+agg train pass, one
        # join+agg score pass; both must be flat-linear
        from conduino_spark import nb_score, nb_train
        lab = df.withColumn("lbl", (F.col("doc_id") % 7).cast("string"))
        m = nb_train(lab, "text", "lbl")
        return nb_score(m)(lab).select("doc_id", "nb_label")

    DOC_OPS["jaccard_prefix"] = _jaccard_prefix
    DOC_OPS["nb_train_score"] = _nb_train_score

    def _cosine_prefix(df):
        # r9, NOT in the default sweep (run by naming it): no replica
        # construction probes this operator fairly.  Disjoint-vocab
        # salting holds df while N grows — idf shifts compress the
        # unit-vector weight ratios, prefixes lengthen, and the first
        # r9 sweep read 18.6x (an idf artifact, not the plan).
        # Calibrated df/N (unsalted + per-(token, replica) occurrence
        # drops) restores real idf geometry but then bucket sizes
        # genuinely grow 10x and the candidate set grows ~100x — the
        # ALGORITHM (Bayardo all-pairs) is candidate-bound, and the
        # 10x run spills >80 GB (measured: filled the disk).  The
        # scale evidence for exact threshold self-joins is therefore
        # the PLAN (prefix pruning + bucketed verify, plan-audited)
        # plus the set-based jaccard_prefix probe (idf-free, sound).
        from conduino_spark import cosine_prefix_pairs
        from conduino_spark.functions.hashing import h32
        from conduino_spark.operators.text import tokens_col
        rep = (F.col("doc_id") / F.lit(10_000_000)).cast("int")
        kept = F.filter(
            tokens_col(F.col("text")),
            lambda t: F.pmod(h32(F.concat(t, F.lit("#"),
                                          rep.cast("string"))),
                             F.lit(100)) < 65)
        perturbed = df.select(
            "doc_id", F.concat_ws(" ", kept).alias("text"))
        return cosine_prefix_pairs(threshold=0.8)(perturbed)

    def _edit_distance(df):
        # r10 fix (two r9 construction flaws, exposed on an idle box):
        # the "%03dxyz " tag (a) differed by ONE char between
        # replicas, so every cross-replica clone pair was a TRUE pair
        # at distance 1, and (b) left the 40-char BODY identical
        # across replicas, so clone families shared their q-grams and
        # the candidate set grew C(n,2) per family — quadratic BY
        # CONSTRUCTION (the cosine_prefix unfairness class; measured
        # 53x at 10x).  Sound construction: per-replica Caesar
        # rotation of the alphabet — a BIJECTIVE char map preserves
        # every within-replica edit distance exactly, while replicas
        # share (almost) no q-grams and sit ~40 edits apart, so both
        # the true pair set and the candidate set stay per-replica
        # and the probe measures the PLAN.
        import string
        rep = (F.col("doc_id") / F.lit(10_000_000)).cast("int")
        from conduino_spark import edit_distance_pairs
        alpha = string.ascii_lowercase + string.digits
        s40 = F.substring("text", 1, 40)
        # ADVICE r10: the when-chain must cover EVERY replica id —
        # a run with more replicas than rotations would silently map
        # the excess onto the identity translation, colliding with
        # replica 0 and reintroducing the quadratic candidate growth
        # this map exists to remove.  |alpha| = 36 distinct rotations.
        if REPLICAS > len(alpha):
            raise SystemExit(
                f"edit_distance probe supports at most {len(alpha)} "
                f"replicas (bijective rotations), got {REPLICAS}")
        expr = F.translate(s40, alpha, alpha)
        for i in range(1, REPLICAS):
            shifted = alpha[i:] + alpha[:i]
            expr = F.when(rep == i,
                          F.translate(s40, alpha, shifted)) \
                    .otherwise(expr)
        keyed = df.select("doc_id", expr.alias("s"))
        return edit_distance_pairs(text_col="s", k=2)(keyed)

    def _bm25_join(df):
        # r9 (redesigned after the first r9 probe read 5.2x): scaling
        # corpus AND query batch together multiplies the candidate
        # join quadratically BY CONSTRUCTION (candidates ~ df_t x
        # qf_t).  The service shape is a FIXED probe batch against a
        # growing corpus — candidates scale with df alone, linear.
        from conduino_spark import bm25_join
        from conduino_spark.operators.text import tokens_col
        qs = (df.where((F.col("doc_id") % 50 == 0)
                       & (F.col("doc_id") < 10_000_000))
              .select(F.col("doc_id").alias("query_id"),
                      F.concat_ws(" ", F.slice(
                          tokens_col(F.col("text")), 1, 5))
                      .alias("query")))
        return bm25_join(df, k=5, term_round=6)(qs)

    def _phrase(df):
        from conduino_spark import phrase_search
        return phrase_search("row scan")(df)

    if "cosine_prefix" in ONLY:  # opt-in only — see _cosine_prefix
        DOC_OPS["cosine_prefix"] = _cosine_prefix
    DOC_OPS["edit_distance"] = _edit_distance
    DOC_OPS["bm25_join"] = _bm25_join
    DOC_OPS["phrase_search"] = _phrase

    def _ann_scaled(df):
        # r15: the real-sf1 run exposed that probing a FIXED cell
        # layout is inherently quadratic (candidates = N * nprobe *
        # N/C; ratio 56 at 10x even with the cell_split parallelism
        # fix) — the 100 TB protocol re-clusters so cells grow WITH
        # the corpus (C ~ N/250 keeps per-cell size flat and the
        # candidate count linear).  The probe now measures that
        # honest pipeline: ivf_build at scale-appropriate k + the
        # probe join.
        from conduino_spark import ivf_build
        n = df.count()
        cells = ivf_build(k=max(4, n // 250), iters=1)(df)
        j = df.join(cells.withColumnRenamed("cell", "__c2"), "vec_id")
        return ann_join(j, k=5, nprobe=2, exclude_self=True,
                        cell_col="__c2")(j)

    EMB_OPS = {
        # r7: batched ANN join — queries probe nprobe cells, corpus
        # partitions by cell; linear only when cells scale with the
        # corpus (see _ann_scaled)
        "ann_join": _ann_scaled,
        # r8: the integer-Gram moments pass — per-partition numpy
        # partials, vectors never shuffle; must be flat-linear
        "pca_moments": lambda df: ev_pipe(vector_moments(), df),
    }

    def _hard_negs(df):
        # r9: ann_join fetch + anti-join + re-rank — should track the
        # ann_join ratio (the added window is per-query constant
        # work).  r15: scale-appropriate cells, as for _ann_scaled.
        from conduino_spark import ivf_build, mine_hard_negatives
        n = df.count()
        cells = ivf_build(k=max(4, n // 250), iters=1)(df)
        j = df.join(cells.withColumnRenamed("cell", "__c2"), "vec_id")
        return mine_hard_negatives(j, None, k=5, skip_top=1,
                                   cell_col="__c2")(j)

    EMB_OPS["hard_negatives"] = _hard_negs

    def _mmr(df):
        # r12b: MMR diversification — per-query pools are constant
        # (top-16), queries scale with replicas, one keyed shuffle:
        # the ratio must be ~linear in the query count
        from conduino_spark import mmr_select
        cand = (ann_join(df, k=16, nprobe=2, exclude_self=True)
                (df.where(F.col("vec_id") % 50 == 0))
                .select(F.col("vec_id").alias("query_id"),
                        F.col("neighbor_id").alias("doc_id"),
                        F.col("cosine").alias("score"))
                .join(df.select(F.col("vec_id").alias("doc_id"),
                                "embedding"), "doc_id"))
        return mmr_select(k=5, lam=0.7, kernel="grouped")(cand)

    EMB_OPS["mmr_rerank"] = _mmr

    def _kcenter(df):
        # r12b: greedy k-center — k carried-minimum scans; the 10x
        # ratio measures the per-scan linearity (picks are k rows)
        from conduino_spark import kcenter_select
        from conduino_spark.operators.smallio import local_frame
        picks = kcenter_select(df, k=8)
        return local_frame(
            df.sparkSession, [(int(i), int(r), int(m)) for i, r, m in picks],
            "vec_id long, sel_round int, mind long")

    EMB_OPS["kcenter"] = _kcenter

    def _trim(df):
        # r9: keep-first exact-substring rewrite — one digest agg +
        # one digest join + per-doc folds; the per-replica "r{i} "
        # salt keeps duplicated windows per-replica, so the masked
        # set scales linearly and the ratio measures the plan
        from conduino_spark import dup_span_trim
        return dup_span_trim(window_tokens=16)(df)

    DOC_OPS["dup_span_trim"] = _trim

    def _winnow(df):
        # r9: per-doc array math + one narrow explode — flat-linear
        from conduino_spark import winnow_fingerprints
        return winnow_fingerprints(k=5, w=4)(df)

    DOC_OPS["winnow"] = _winnow

    def _sq(df):
        # r9: SQ8 train+encode+search — train is one posexplode agg
        # (linear), encode a projection, search TakeOrdered; the
        # whole pipeline should be flat-linear
        from conduino_spark import sq_encode, sq_search, sq_train
        m = sq_train(df)
        q = [0.0] * len(m.mins)
        return sq_search(m, q, kk=10)(sq_encode(m)(df))

    EMB_OPS["sq_pipeline"] = _sq

    ev1, evN = replicated_events(spark, 1), replicated_events(spark, REPLICAS)
    dc1, dcN = replicated_docs(spark, 1), replicated_docs(spark, REPLICAS)
    em1 = replicated_embeddings(spark, 1)
    emN = replicated_embeddings(spark, REPLICAS)
    result = {}

    # r10: incremental-index merge probes.  The CLAIM is "merge cost
    # scales with the NEW batch only" (bm25_index_merge /
    # ivf_index_merge never read the existing postings/vectors), so
    # the protocol is a FIXED new batch folded into an index built
    # (untimed) over a 1x vs REPLICASx corpus — a flat ratio (~1)
    # proves it.  Repeated merges into the same index double-append,
    # which is exactly the right timing harness here: if cost were a
    # function of index size, the min-of-2 would still grow.
    def _merge_probe(name, build, merge, new_batch, c1, cN):
        import os
        import shutil
        import tempfile
        ts = {}
        for tag, corpus in (("1x", c1), (f"{REPLICAS}x", cN)):
            d = os.path.join(tempfile.gettempdir(),
                             f"probe_{name}_{os.getpid()}_{tag}")
            shutil.rmtree(d, ignore_errors=True)
            build(corpus, d)                    # untimed index build
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                merge(new_batch, d)
                best = min(best, time.time() - t0)
            ts[tag] = round(best, 3)
            release_caches()
            spark.catalog.clearCache()
        result[name] = {"t_1x": ts["1x"], f"t_{REPLICAS}x": ts[f"{REPLICAS}x"],
                        "ratio": round(ts[f"{REPLICAS}x"]
                                       / max(ts["1x"], 1e-9), 2),
                        "protocol": "fixed new batch vs grown index"}

    if not ONLY or "bm25_index_merge" in ONLY:
        from conduino_spark.operators.search import (bm25_index_merge,
                                                     bm25_index_write)
        newd = dc1.select((F.col("doc_id") + F.lit(900_000_000))
                          .alias("doc_id"), "text")
        _merge_probe("bm25_index_merge",
                     lambda c, d: bm25_index_write(c, d, n_shards=64),
                     lambda b, d: bm25_index_merge(b, d),
                     newd, dc1, dcN)
    if not ONLY or "ivf_index_merge" in ONLY:
        from conduino_spark import (ivf_index_merge, ivf_index_write,
                                    kmeans_fit)
        model = kmeans_fit(em1, k=8, iters=1)  # frozen quantizer
        newe = em1.select((F.col("vec_id") + F.lit(900_000_000))
                          .alias("vec_id"), "label", "embedding")
        _merge_probe("ivf_index_merge",
                     lambda c, d: ivf_index_write(c, d, model),
                     lambda b, d: ivf_index_merge(b, d),
                     newe, em1, emN)
    if not ONLY or "minhash_index_merge" in ONLY:
        # r11: the dedup signature index joins the merge-flatness
        # family — fixed new batch vs 10x-grown index; merge cost must
        # scale with the batch's own signing, never the corpus
        from conduino_spark import minhash_index_merge, minhash_index_write
        newd = dc1.select((F.col("doc_id") + F.lit(900_000_000))
                          .alias("doc_id"), "text")
        _merge_probe("minhash_index_merge",
                     lambda c, d: minhash_index_write(c, d, n_shards=64),
                     lambda b, d: minhash_index_merge(b, d),
                     newd, dc1, dcN)
    if not ONLY or "simhash_index_merge" in ONLY:
        # r12: the hamming-ball index (seventh family) joins the
        # merge-flatness protocol — folding a fixed batch's band rows
        # must never re-sign the grown corpus
        from conduino_spark import simhash_index_merge, simhash_index_write
        newd = dc1.select((F.col("doc_id") + F.lit(900_000_000))
                          .alias("doc_id"), "text")
        _merge_probe("simhash_index_merge",
                     lambda c, d: simhash_index_write(c, d, n_shards=64),
                     lambda b, d: simhash_index_merge(b, d),
                     newd, dc1, dcN)
    if not ONLY or "dupspan_index_merge" in ONLY:
        # r12: the exact-substring key index (sixth family) joins the
        # merge-flatness protocol — merging a fixed batch's window
        # digests must never re-hash the grown corpus
        from conduino_spark import dupspan_index_merge, dupspan_index_write
        newd = dc1.select((F.col("doc_id") + F.lit(900_000_000))
                          .alias("doc_id"), "text")
        _merge_probe("dupspan_index_merge",
                     lambda c, d: dupspan_index_write(
                         c, d, window_tokens=16, n_shards=64),
                     lambda b, d: dupspan_index_merge(b, d),
                     newd, dc1, dcN)

    if not ONLY or "exact_index_merge" in ONLY:
        # r12b: the exact md5 reference (eighth family) joins the
        # merge-flatness protocol
        from conduino_spark import exact_index_merge, exact_index_write
        newd = dc1.select((F.col("doc_id") + F.lit(900_000_000))
                          .alias("doc_id"), "text")
        _merge_probe("exact_index_merge",
                     lambda c, d: exact_index_write(c, d, n_shards=64),
                     lambda b, d: exact_index_merge(b, d),
                     newd, dc1, dcN)

    def _blob_decode_probe():
        # r12 (VERDICT r11 #7): codec throughput measured, not guessed.
        # (a) Spark-path linearity: one wav + one png blob per doc
        # (synth, materialized to parquet UNTIMED), decoded via the
        # mixed-dispatch media_profile — 10x blobs must be ~10x wall.
        # (b) single-core MB/s per codec, driver-side decode loops —
        # the honest pure-Python codec numbers behind the README table
        # (the Spark path parallelizes them per-core; these decoders
        # are correctness-grade — wire PIL/soundfile when available).
        import os
        import shutil
        import tempfile
        import numpy as np
        from conduino_spark import (encode_png, encode_wav,
                                    media_profile, sniff_format)

        def synth(docs, tag):
            def gen(batches):
                import pandas as pd
                for pdf in batches:
                    ids, blobs = [], []
                    for i in pdf["doc_id"]:
                        i = int(i)
                        n = 4000 + (i % 7) * 100
                        x = ((np.arange(n, dtype=np.int64) * (3 + i))
                             % 20001 - 10000).astype("<i2")
                        ids.append(i)
                        blobs.append(encode_wav(x, 8000))
                        img = ((np.arange(32 * 32 * 3, dtype=np.int64)
                                * (3 + i) + i) % 251).astype("uint8") \
                            .reshape(32, 32, 3)
                        ids.append(i)
                        blobs.append(encode_png(img, filter_type=i % 5))
                    yield pd.DataFrame({"id": ids, "content": blobs})
            d = os.path.join(tempfile.gettempdir(),
                             f"probe_blobs_{os.getpid()}_{tag}")
            shutil.rmtree(d, ignore_errors=True)
            docs.select("doc_id").mapInPandas(
                gen, "id long, content binary").write.parquet(d)
            return d

        ts, mb = {}, {}
        for tag, docs in (("1x", dc1), (f"{REPLICAS}x", dcN)):
            d = synth(docs, tag)
            bdf = spark.read.parquet(d)
            nbytes = bdf.select(F.sum(F.length("content"))).first()[0]
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                media_profile(codec_col="format")(
                    sniff_format("content")(bdf)) \
                    .write.format("noop").mode("overwrite").save()
                best = min(best, time.time() - t0)
            ts[tag] = round(best, 3)
            mb[tag] = round(nbytes / 1e6 / best, 1)
            release_caches()
            spark.catalog.clearCache()
        result["blob_decode"] = {
            "t_1x": ts["1x"], f"t_{REPLICAS}x": ts[f"{REPLICAS}x"],
            "ratio": round(ts[f"{REPLICAS}x"] / max(ts["1x"], 1e-9), 2),
            "mbps_32core": mb,
            "protocol": "synth wav+png per doc, decode via media_profile"}

        # single-core MB/s per codec (driver-side loop, no Spark)
        from conduino_spark import (decode_flac, decode_gif, decode_jpeg,
                                    decode_png, decode_tiff, decode_wav,
                                    encode_flac, encode_gif, encode_jpeg,
                                    encode_tiff)
        x = ((np.arange(16000, dtype=np.int64) * 7) % 20001 - 10000) \
            .astype("<i2")
        img = ((np.arange(64 * 64 * 3, dtype=np.int64) * 3) % 251) \
            .astype("uint8").reshape(64, 64, 3)
        fixtures = {
            "wav": (encode_wav(x, 8000), decode_wav),
            "flac": (encode_flac(x[:4000], 8000), decode_flac),
            "png": (encode_png(img, filter_type=4), decode_png),
            "jpeg": (encode_jpeg(img, quality=90), decode_jpeg),
            "gif": (encode_gif(
                np.array([[i * 16 % 256] * 3 for i in range(16)],
                         np.uint8)[(np.arange(64 * 64) * 7 % 16)
                                   .astype(np.int64)].reshape(64, 64, 3)),
                decode_gif),
            "tiff": (encode_tiff(img, packbits=True),
                     decode_tiff),
        }
        from conduino_spark.operators.webp import (decode_webp,
                                                   encode_webp)
        fixtures["webp"] = (
            encode_webp(img, use_palette=False, predictor_mode=7,
                        cache_bits=6), decode_webp)
        from conduino_spark.operators.jpeg import \
            encode_jpeg_progressive
        fixtures["jpeg_prog"] = (
            encode_jpeg_progressive(img, quality=90), decode_jpeg)
        # r13: the two new lossy audio codecs (content, not silence)
        from conduino_spark import (decode_mp3, decode_vorbis,
                                    encode_mp3, encode_vorbis)
        fixtures["mp3"] = (
            encode_mp3(x[:4608].astype(np.float64) / 32768.0, 32000,
                       kbps=160), decode_mp3)
        fixtures["vorbis"] = (
            encode_vorbis(x[:8192], 32000, blocksize=1024,
                          value_bits=6), decode_vorbis)
        # MPEG-1 video: an I picture plus a P picture of the same
        # content shifted by one macroblock (forward MC)
        from conduino_spark.operators.mpeg1 import (decode_mpeg1,
                                                    encode_mpeg1)
        fixtures["mpeg1"] = (
            encode_mpeg1([img, np.roll(img, (16, 16), (0, 1))],
                         mv_search=16), decode_mpeg1)
        def _out_bytes(v):
            # decoded payload size: (rate, nch, samples) for audio,
            # (frames, delays) for gif, ndarray for images
            if isinstance(v, tuple):
                arr = v[2] if len(v) == 3 else v[0]
            else:
                arr = v
            return int(np.asarray(arr).size) * np.asarray(arr).itemsize

        # interleaved rounds: every round decodes each codec for one
        # time slice, so drift of the host's speed hits all codecs
        # alike, and the spread over rounds is the run's own noise
        outs = {c: _out_bytes(dec(blob))
                for c, (blob, dec) in fixtures.items()}
        rates = {c: [] for c in fixtures}   # decoded MB/s per round
        for _ in range(CODEC_ROUNDS):
            for codec, (blob, dec) in fixtures.items():
                reps, t0 = 0, time.perf_counter()
                while ((elapsed := time.perf_counter() - t0)
                       < CODEC_SLICE_S):
                    dec(blob)
                    reps += 1
                rates[codec].append(outs[codec] * reps / 1e6 / elapsed)
        single = {}
        for codec, (blob, _) in fixtures.items():
            q1, med, q3 = np.percentile(rates[codec], [25, 50, 75])
            single[codec] = {
                "decoded_mbps": round(med, 2),
                "decoded_mbps_iqr": [round(q1, 2), round(q3, 2)],
                "blob_mbps": round(med * len(blob) / outs[codec], 2)}
        result["codec_mbps_single_core"] = single
        result["codec_mbps_protocol"] = (
            f"{CODEC_ROUNDS} interleaved rounds of a {CODEC_SLICE_S} s "
            "decode slice per codec; median decoded MB/s with quartiles")

    def _crawl_mix_probe():
        # r15 (VERDICT r14 #4): the decoded-vs-error-row fraction over
        # a REALISTIC crawl blob mixture, measured instead of claimed.
        # 15 blob kinds per doc: 11 decode for real today (incl. the
        # r15 MPEG-PS stream with B-pictures + CBP residuals — an
        # error row before r15), 4 land as error rows by documented
        # policy (mp4/webm/opus sample decode and garbage bytes).
        import os
        import shutil
        import tempfile
        import numpy as np
        from conduino_spark import (encode_aiff, encode_flac,
                                    encode_gif, encode_jpeg,
                                    encode_mp3, encode_png,
                                    encode_tiff, encode_vorbis,
                                    encode_wav, media_profile,
                                    sniff_format)

        docs = dc1.select("doc_id").limit(200)

        def gen(batches):
            import pandas as pd
            from conduino_spark import (encode_bmp,
                                        encode_mp4_stub,
                                        encode_ogg_stub)
            from conduino_spark.operators.mpeg1 import (encode_mpeg1,
                                                        mux_mpeg_ps)
            from conduino_spark.operators.webp import encode_webp
            for pdf in batches:
                ids, blobs = [], []

                def put(i, b):
                    ids.append(i)
                    blobs.append(b)

                for i in pdf["doc_id"]:
                    i = int(i)
                    img = ((np.arange(48 * 48 * 3, dtype=np.int64)
                            * (3 + i) + i) % 251).astype("uint8") \
                        .reshape(48, 48, 3)
                    x = ((np.arange(4000, dtype=np.int64) * (3 + i))
                         % 20001 - 10000).astype("<i2")
                    put(i, encode_jpeg(img, quality=85))
                    put(i, encode_png(img, filter_type=i % 5))
                    pal = np.array([[k * 16 % 256] * 3
                                    for k in range(16)], np.uint8)
                    put(i, encode_gif(pal[(np.arange(48 * 48)
                                           * (7 + i) % 16)
                                          .astype(np.int64)]
                                      .reshape(48, 48, 3)))
                    put(i, encode_webp(img, use_palette=False,
                                       predictor_mode=i % 14))
                    put(i, encode_tiff(img, compression="packbits"))
                    put(i, encode_bmp(img))
                    put(i, encode_wav(x, 8000))
                    put(i, encode_flac(x[:2000], 8000))
                    put(i, encode_aiff(x[:2000], 16000))
                    put(i, encode_mp3(
                        x[:4608].astype(np.float64) / 32768.0,
                        32000, kbps=160))
                    put(i, encode_vorbis(x[:4096], 32000,
                                         blocksize=1024, value_bits=6))
                    # r15: MPEG-PS with B-pictures + CBP residuals
                    br9, bc9 = np.mgrid[0:3, 0:3]
                    v9 = ((i * 13 + br9 * 41 + bc9 * 67) % 200)
                    g9 = np.repeat(np.repeat(
                        v9.astype(np.uint8), 8, 0), 8, 1)
                    fa = np.repeat(g9[:, :, None], 3, 2)
                    fb = np.roll(fa, (8, 8), (0, 1))
                    fc = np.clip(fa.astype(np.int64) + 9,
                                 0, 255).astype(np.uint8)
                    put(i, mux_mpeg_ps(encode_mpeg1(
                        [fa, fb, fc], b_frames=1, gop=3, qscale=1,
                        inter_residual=True, mv_search=8),
                        packet_bytes=700))
                    # documented error-row classes
                    put(i, encode_mp4_stub(width=320, height=240,
                           duration=3000))
                    put(i, encode_ogg_stub("opus", rate=48000,
                           n_samples=4800))
                    put(i, b"\xde\xad" + bytes([(i * 7 + k) % 256
                                                for k in range(64)]))
                yield pd.DataFrame({"id": ids, "content": blobs})

        d = os.path.join(tempfile.gettempdir(),
                         f"probe_crawl_{os.getpid()}")
        shutil.rmtree(d, ignore_errors=True)
        docs.mapInPandas(gen, "id long, content binary") \
            .write.parquet(d)
        bdf = spark.read.parquet(d)
        t0 = time.time()
        prof = media_profile(codec_col="format")(
            sniff_format("content")(bdf))
        counts = {r["format"]: r["n"] for r in
                  prof.groupBy("format").agg(F.count("*").alias("n"))
                  .collect()}
        wall = time.time() - t0
        total = sum(counts.values())
        errors = counts.get("error", 0)
        nbytes = bdf.select(F.sum(F.length("content"))).first()[0]
        result["crawl_mix_decode_rate"] = {
            "n_blobs": total,
            "decoded_frac": round(1 - errors / total, 4),
            "error_frac": round(errors / total, 4),
            "by_format": {k: counts[k] for k in sorted(counts)},
            "mbps_32core": round(nbytes / 1e6 / wall, 1),
            "note": ("15 kinds/doc over 200 docs: jpeg/png/gif/webp/"
                     "tiff/bmp/wav/flac/aiff/mp3/vorbis/mpeg_ps(B+CBP,"
                     " decodes since r15) real; mp4/webm-style opus "
                     "and garbage land as error rows by documented "
                     "policy")}
        shutil.rmtree(d, ignore_errors=True)

    if not ONLY or "blob_decode" in ONLY:
        _blob_decode_probe()
    if not ONLY or "crawl_mix" in ONLY:
        _crawl_mix_probe()
    for name, fn in OPS.items():
        if ONLY and name not in ONLY:
            continue
        t1, tn = timed(fn, ev1), timed(fn, evN)
        result[name] = {"t_1x": t1, f"t_{REPLICAS}x": tn,
                        "ratio": round(tn / max(t1, 1e-9), 2)}
    for name, fn in DOC_OPS.items():
        if ONLY and name not in ONLY:
            continue
        t1, tn = timed(fn, dc1), timed(fn, dcN)
        result[name] = {"t_1x": t1, f"t_{REPLICAS}x": tn,
                        "ratio": round(tn / max(t1, 1e-9), 2)}
    for name, fn in EMB_OPS.items():
        if ONLY and name not in ONLY:
            continue
        t1, tn = timed(fn, em1), timed(fn, emN)
        result[name] = {"t_1x": t1, f"t_{REPLICAS}x": tn,
                        "ratio": round(tn / max(t1, 1e-9), 2)}

    note = (f"REAL sf1 generation at {REAL10} (tools/gen_sf.py: fresh "
            "key spaces, Zipf-skewed users/customers/words) vs sf0.1"
            if REAL10 else
            "no sf1 dataset baked into the container; probe = sf0.1 "
            f"tables replicated {REPLICAS}x with remapped keys; pass "
            "real:<dir> after gen_sf.py for the real-generation mode")
    print(json.dumps({
        "note": note,
        "sf_base": SF_DIR, "replicas": REPLICAS, "ops": result,
        "real10_dir": REAL10,
        "linear_bound": REPLICAS,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
