"""Benchmark headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS].  Prints ONE compact headline JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}
followed (when the per-query map cannot fit the headline line's budget)
by a second {"metric": "per_query", "queries": {...}} line carrying the
per-query floors at 0.1 s resolution (VERDICT r15 #1).

Results are materialized with a noop write (full row computation, no
driver collect) except tiny aggregates, which are collected.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# headline set: relational + ordered/stateful + LLM ops.  r4 adds the
# chunked/iterative plans (r2/r3 carried item #4): consecutive_windows,
# asof_events_bidir, minhash_dedup_cc, ivf_search_topk.  r6 renames
# follow the gate rotation (map_accum_altsum→map_accum_multi adds the
# chunked record-flag pass; pack_chunks_docs→chunk_pack_docs carries
# the chunk string; text_stats+lang_fingerprint→text_profile one pass;
# funnel_events→user_event_profile adds the pivot join) and add the
# r6 gate entries (bloom_prune, corpus_filter_keep, dedup_against,
# mixture_sample, train_pipeline) — cross-round floor comparisons for
# renamed queries should expect the merged query to cost roughly the
# SUM of its parents.
BENCH_QUERIES = [
    # r7 gate-rotation renames: map_project → map_filter_project,
    # det_shuffle_docs → layout_docs (absorbs hash_partition_docs),
    # winsorize_value → value_stats (absorbs quantiles_value), simhash
    # riding inside text_profile, cdc_latest_state absorbing
    # latest_event_per_user, knn_methods gaining the ivf_build cells
    # arm — merged floors ≈ the sum of their parents.
    "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6",
    # r8 gate-rotation merges: scan_cumsum absorbs map_accum_multi,
    # take_drop_sequel absorbs zip_concat_last, set_ops absorbs
    # group_rollup, heavy_hitters_tokens absorbs concat_map_tokens,
    # minhash_pairs absorbs the banding-quality audit,
    # windowed_quantiles_value absorbs the windowed Count-Min,
    # corpus_filter_keep gains the strip_html extraction arm — merged
    # floors ~ the sum of their parents.
    "scan_cumsum", "ordered_windows",
    "window_tumbling", "map_filter_project",
    "chunk_pack_docs", "asof_events_bidir",
    "rolling_user_day", "user_event_profile",
    "text_profile",
    "dedup_exact", "minhash_pairs", "minhash_survivors",
    "ngram_jaccard_lsh",
    "knn_methods", "sketch_profile",
    "sessionize_events", "bloom_prune", "corpus_filter_keep",
    "dedup_against", "mixture_sample", "train_pipeline",
    "text_normalize", "layout_docs", "value_stats",
    "cdc_latest_state",
    # bench-only (entry.bench_extras): cold index build + probe, so the
    # warm memoized knn_lsh_probe number has an honest counterpart;
    # binned_quantiles_value keeps its r5 floor comparable (absorbed
    # into the gated quantiles_value); r6 operator floors
    "knn_lsh_probe_cold", "binned_quantiles_value",
    "det_shuffle_orders", "bloom_semi_orders",
    "unigram_logprob_docs", "windowed_quantiles_value",
    "dup_span_docs", "pq_adc_search", "tpch_q14", "tpch_q19",
    "json_props",
    # r6 second half: full adapted TPC-H suite + the new corpus ops
    "tpch_q2", "tpch_q4", "tpch_q7", "tpch_q8", "tpch_q9", "tpch_q11",
    "tpch_q12", "tpch_q13", "tpch_q15", "tpch_q16", "tpch_q17",
    "tpch_q20", "tpch_q21", "tpch_q22",
    "line_dedup_docs", "bigram_logprob_docs", "semantic_dedup_emb",
    # r6 third batch
    "hll_distinct_partkey", "heavy_hitters_tokens", "source_overlap_docs",
    "profile_docs",
    # r15 (VERDICT r14 #2): the codec arms split out of profile_docs
    # into their own itemized pin, so per-codec regressions are
    # visible round-over-round; embedding_near_dup_ivf folded into
    # semantic_dedup_emb ('pairs' arm), standalone floor kept
    "profile_media", "embedding_near_dup_ivf",
    # r7: BPE merge-learning floor (driver-local fast path) + the
    # batched ANN-join kNN-graph shape
    "bpe_train_docs", "ann_join_emb", "ann_join_gemm",
    "semantic_dedup_gemm",
    # r8: the composed web-ingestion pipeline floor (VERDICT r7 #5)
    # + the new exact-moment PCA and logreg quality-distill operators
    "web_ingest_pipeline", "pca_embeddings", "quality_classifier_docs",
    "leakage_split_docs", "dsir_select_docs",
    # r9 new operator floors: exact prefix-filtered similarity join,
    # naive-Bayes classifier, CCNet perplexity buckets, hard-negative
    # mining, corpus drift report (the first three also ride gate pins
    # as merged arms — those pins' floors grow by ~their parents' sum)
    "jaccard_prefix_docs", "nb_classifier_docs",
    "perplexity_buckets_docs", "hard_negatives_emb",
    "profile_diff_docs", "bm25_join_docs", "label_prop_docs",
    "cosine_prefix_docs", "cosine_prefix_full_docs",
    "edit_distance_docs",
    "phrase_search_docs", "bm25_index_docs", "hybrid_retrieval_docs",
    "ann_recall_emb", "dup_span_trim_docs", "sq_search_emb",
    "ivf_index_emb", "hashing_tf_docs", "winnow_docs",
    # r10: incremental dense-index ingestion floor + the persisted
    # IVF-PQ warm probe.  r12 split (VERDICT r11 #2): ivf_merge_emb is
    # now merge+probe over a memoized base copy; ivf_merge_cold keeps
    # the full cold build honestly labeled.
    "ivf_merge_emb", "ivf_merge_cold", "ivfpq_index_emb", "k_core_docs",
    # r12: the sixth index family's warm daily-batch floor
    "dupspan_trim_against_docs",
    # r12b: MMR re-ranking of the dense pool, greedy k-center
    # coresets, and the eighth (exact-hash) index family's warm floor
    "mmr_rerank_emb", "kcenter_emb", "exact_against_docs",
    # r14 (VERDICT r13 #1): cosine_prefix_docs /
    # cosine_prefix_full_docs became warm probes over the memoized
    # TF-IDF weight snapshot; this keeps the honest cold floor (full
    # weight prep per call — comparable to the pre-r14 full floor)
    "cosine_prefix_cold_docs",
]

# r14 (VERDICT r13 #1): the two exact-cosine floors drifted 2-4x
# between clean records because their samples landed mid-run where
# co-tenant bursts are invisible to the start-of-run loadavg guard.
# They get a SOLO phase right after prewarm — min-of-3 while the box
# is freshly idle-checked — and their interleaved samples can only
# LOWER the floor afterwards.  Solo figures are recorded separately in
# the sidecar so round-over-round comparisons can use the pinned
# number.
SOLO_QUERIES = ["cosine_prefix_docs", "cosine_prefix_full_docs"]
SOLO_ROUNDS = 3

#: extra interleaved passes (up to MAX_ROUNDS total) for queries whose
#: max/min sample ratio exceeds NOISE_RATIO — one shared-box burst can
#: no longer set a query's reported floor (r3 verdict item #7).
#: r12 (VERDICT r11 #3): sub-CHEAP_SEC queries escalate earlier (ratio
#: 2.5) and deeper (up to MAX_ROUNDS_CHEAP) — extra samples of a 2 s
#: query are cheap, and min-of-3 floors on them hid 5-15x spreads
#: (winnow_docs 15.4x, dup_span_docs 7.5x in BENCH_r11).
BASE_ROUNDS = 3
MAX_ROUNDS = 5
MAX_ROUNDS_CHEAP = 8
NOISE_RATIO = 3.0
NOISE_RATIO_CHEAP = 2.5
CHEAP_SEC = 3.0


def materialize(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def main() -> None:
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry", Path(__file__).resolve().parent / "__spark_entry__.py")
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    from conduino_spark.session import get_spark

    spark = get_spark("bench", cpus=CPUS, shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    # loadavg guard (r12 verdict #1: a 230 s headline was recorded at
    # loadavg 12+ and did not reproduce on an idle box — 205 s).  A
    # floor taken under contention is not a floor.  Wait (bounded) for
    # the 1-min loadavg to drop below LOAD_MAX before sampling; if it
    # never does, still run but mark the record load_contaminated so
    # no one quotes it as a headline.
    LOAD_MAX = float(os.environ.get("SPARK_GRAFT_LOAD_MAX", "2.0"))
    LOAD_WAIT = int(os.environ.get("SPARK_GRAFT_LOAD_WAIT_SEC", "180"))
    waited = 0
    while os.getloadavg()[0] > LOAD_MAX and waited < LOAD_WAIT:
        print(f"bench: loadavg {os.getloadavg()[0]:.1f} > {LOAD_MAX} "
              f"— waiting for idle ({waited}/{LOAD_WAIT}s)",
              file=sys.stderr)
        time.sleep(15)
        waited += 15
    load_start = os.getloadavg()
    load_contaminated = load_start[0] > LOAD_MAX

    # r15 (final session): the box showed sustained hypervisor CPU
    # STEAL (vmstat st 4-15%) that inflated every floor of a whole
    # bench run 2-7x while loadavg stayed far below the 2x-CPUS bar —
    # a co-tenant on the HOST is invisible to loadavg.  Stamp the
    # run's aggregate steal share from /proc/stat so a stolen-CPU
    # record is self-labeling like a load-contaminated one.
    def _proc_stat():
        try:
            with open("/proc/stat") as f:
                parts = f.readline().split()
            vals = [int(x) for x in parts[1:9]]  # user..steal
            return sum(vals), vals[7]
        except Exception:
            return None, None

    stat_start = _proc_stat()
    # JVM/codegen warmup on an unrelated job
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    qs = dict(m.queries())
    if hasattr(m, "bench_extras"):
        qs.update(m.bench_extras())
    # warmup: run every headline plan once at the smallest sf so the
    # timed runs measure execution, not whole-stage-codegen compilation
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != SF_DIR:
        for name in BENCH_QUERIES:
            if name in qs:
                try:
                    materialize(qs[name](spark, warm_dir))
                except Exception:
                    pass
        spark.catalog.clearCache()

    # best-of-3, INTERLEAVED: the box is shared and noise bursts last
    # seconds-to-minutes — consecutive repeats of one query all land
    # inside a burst (observed: 3 straight runs at 20x).  Three passes
    # over the whole list spread each query's samples across the full
    # bench duration; min per query is the reproducible plan cost.
    from conduino_spark import release_caches

    # FAILURE-ISOLATED sampling (r4 verdict #2): one broken query must
    # never zero the whole perf record (BENCH_r04 was rc=1/parsed=null
    # because an analysis error aborted the run mid-loop).  A failed
    # sample marks the query failed and sampling of it stops; the JSON
    # line is always emitted, with failures listed under "failed".
    failed: dict[str, str] = {}

    # memoized-index queries: their FIRST sample at SF_DIR pays the
    # one-time index build ((sf_dir, mtime) memo miss) and the min
    # floor then hides a 5-25x sample spread (r10 verdict #6).  One
    # untimed pass populates the memo so every timed sample measures
    # the warm probe — the build cost has its own honest floors
    # (knn_lsh_probe_cold, ivf_merge_emb rebuild per call).
    # (r11: knn_methods / pq_adc_search / ann_join_emb joined the list —
    # their new merged-index arms memo-build on first call at SF_DIR)
    # (r12: line_dedup_docs / dupspan_trim_against_docs memo-build the
    # dupspan key index; ivf_merge_emb memo-builds its base index)
    # (r12b: dedup_against memo-builds the exact md5 index for its
    # 'xidx' arm; exact_against_docs shares that memo's shape)
    # (r14: the two cosine_prefix floors memo-build their TF-IDF
    # weight snapshot on first call at SF_DIR)
    for name in ("ivf_index_emb", "ivfpq_index_emb", "bm25_index_docs",
                 "knn_methods", "pq_adc_search", "ann_join_emb",
                 "dedup_against", "line_dedup_docs",
                 "dupspan_trim_against_docs", "ivf_merge_emb",
                 "exact_against_docs",
                 "cosine_prefix_docs", "cosine_prefix_full_docs"):
        if name in qs:
            try:
                materialize(qs[name](spark, SF_DIR))
            except Exception:
                pass
    try:
        release_caches()
        spark.catalog.clearCache()
    except Exception:
        pass

    # r14 (VERDICT r13 #8): mid-run contention stamping.  The bench
    # itself drives loadavg up to ~CPUS; anything well beyond that is
    # a co-tenant.  Any 1-min sample above 2x the bench's own expected
    # parallelism marks the record contaminated — externally-contended
    # runs must be self-labeling, not discovered by cross-round
    # archaeology.
    midrun_load = {"max": 0.0}

    def sample_once(name: str) -> float | None:
        t0 = time.time()
        try:
            materialize(qs[name](spark, SF_DIR))
        except Exception as e:  # noqa: BLE001 — record and continue
            failed[name] = f"{type(e).__name__}: {e}"[:300]
            return None
        finally:
            try:
                release_caches()            # registry-tracked persists
                spark.catalog.clearCache()  # plus anything cached
            except Exception:
                pass
            midrun_load["max"] = max(midrun_load["max"],
                                     os.getloadavg()[0])
        return time.time() - t0

    samples: dict[str, list[float]] = {n: [] for n in BENCH_QUERIES if n in qs}
    # SOLO phase for the pinned floors (r14, VERDICT r13 #1): sample
    # them back-to-back right after prewarm while the box has just
    # passed the idle gate, before 90+ interleaved queries spread
    # their samples across a contention-exposed half hour
    solo_floors: dict[str, float] = {}
    # r15 (VERDICT r14 #5): the 2x-CPUS midrun threshold can't flag a
    # co-tenant burst during the solo sampling itself — stamp the solo
    # floors with their own loadavg ceiling and a tighter 1.5x-CPUS
    # contamination bar, so the pinned numbers are self-labeling
    solo_loadavg_max = 0.0
    for name in SOLO_QUERIES:
        if name not in samples:
            continue
        for _ in range(SOLO_ROUNDS):
            if name in failed:
                break
            dt = sample_once(name)
            solo_loadavg_max = max(solo_loadavg_max,
                                   os.getloadavg()[0])
            if dt is not None:
                samples[name].append(dt)
        if samples[name]:
            solo_floors[name] = round(min(samples[name]), 3)
    solo_contaminated = solo_loadavg_max > 1.5 * CPUS
    for _round in range(BASE_ROUNDS):
        for name in samples:
            if name in failed:
                continue
            dt = sample_once(name)
            if dt is not None:
                samples[name].append(dt)
    # noise escalation: queries whose spread exceeds their ratio
    # threshold get more interleaved samples — cheap queries (floor <
    # CHEAP_SEC) escalate at 2.5x up to MAX_ROUNDS_CHEAP, expensive
    # ones at 3x up to MAX_ROUNDS
    def _noisy(rs: list[float]) -> bool:
        lo = max(min(rs), 1e-9)
        cap = MAX_ROUNDS_CHEAP if lo < CHEAP_SEC else MAX_ROUNDS
        ratio = NOISE_RATIO_CHEAP if lo < CHEAP_SEC else NOISE_RATIO
        return len(rs) < cap and max(rs) / lo > ratio

    for _round in range(BASE_ROUNDS, MAX_ROUNDS_CHEAP):
        noisy = [n for n, rs in samples.items()
                 if n not in failed and rs and len(rs) == _round
                 and _noisy(rs)]
        if not noisy:
            break
        for name in noisy:
            dt = sample_once(name)
            if dt is not None:
                samples[name].append(dt)
    # a query that failed is excluded from the total even if earlier
    # rounds sampled it — otherwise two runs with the same broken query
    # report incomparable totals depending on WHEN the failure fired
    times = {n: round(min(rs), 3) for n, rs in samples.items()
             if rs and n not in failed}
    spread = {n: round(max(rs) / max(min(rs), 1e-9), 1)
              for n, rs in samples.items() if rs and n not in failed}

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    # FULL record (3dp floors, per-query noise ratios, failure detail)
    # goes to a sidecar file + stderr; stdout carries ONLY a compact
    # machine line.  The driver captures the last 2000 bytes of stdout
    # (BENCH_r06 was parsed:null because the old single line grew past
    # that and lost its head), so the stdout line is hard-budgeted.
    full = {
        "metric": "headline_queries_total",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": float(sf) if sf else SF_DIR,
        "cpus": CPUS,
        # max/min sample ratio per query: >3 means the box was bursty
        # during this run and the floor (min) is the trustworthy number
        "noise_max_over_min": spread,
        # run conditions (VERDICT r11 #4): builder-box vs driver-box
        # headline gaps should be self-explaining — a loadavg well
        # above CPUS means the floors below were taken under
        # contention and the total is not comparable across boxes
        "conditions": {
            "loadavg_start": [round(x, 2) for x in load_start],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "loadavg_midrun_max": round(midrun_load["max"], 2),
            "os_cpus": os.cpu_count(),
            "sampling": (f"interleaved min-of-{BASE_ROUNDS}"
                         f"..{MAX_ROUNDS_CHEAP}, warmup at sf0.001, "
                         "index memos prewarmed, solo phase for "
                         f"{SOLO_QUERIES}"),
            "n_samples": {n: len(rs) for n, rs in samples.items()
                          if len(rs) > BASE_ROUNDS},
            # the pinned floors taken in the post-idle-gate solo phase
            "solo_floors": solo_floors,
            # r15: the solo phase's own loadavg ceiling (bar 1.5xCPUS)
            "solo_loadavg_max": round(solo_loadavg_max, 2),
            "solo_contaminated": solo_contaminated,
        },
    }
    stat_end = _proc_stat()
    if stat_start[0] is not None and stat_end[0] is not None \
            and stat_end[0] > stat_start[0]:
        steal_pct = round(100.0 * (stat_end[1] - stat_start[1])
                          / (stat_end[0] - stat_start[0]), 2)
        full["conditions"]["cpu_steal_pct"] = steal_pct
        if steal_pct > 5.0:
            # a co-tenant on the HYPERVISOR host ate >5% of this VM's
            # cycles across the run — floors are inflated; the record
            # must never read as a clean baseline
            load_contaminated = True
    if failed:
        full["failed"] = failed
    if midrun_load["max"] > 2 * CPUS:
        # r14 (VERDICT r13 #8): a co-tenant arrived mid-run — the
        # start-of-run idle gate could not see it, but the record must
        # still be self-labeling
        load_contaminated = True
    if load_contaminated:
        # surfaced in BOTH the sidecar and the compact stdout line: a
        # record taken on a busy box must never read as a clean floor
        full["load_contaminated"] = True
    sidecar = Path(__file__).resolve().parent / "bench_out.json"
    try:
        sidecar.write_text(json.dumps(full, indent=1) + "\n")
        # r16 (VERDICT r15 wrong #5): the driver's low-core sidecar run
        # overwrote the 32-core record; a cpus-suffixed copy makes every
        # record survive the clobber
        sidecar_c = Path(__file__).resolve().parent / f"bench_out_c{CPUS}.json"
        sidecar_c.write_text(json.dumps(full, indent=1) + "\n")
    except OSError as e:  # read-only checkout: stderr still has it all
        print(f"bench: could not write {sidecar}: {e}", file=sys.stderr)
    print(json.dumps(full), file=sys.stderr)

    out = dict(full)
    out["queries"] = {n: round(t, 2) for n, t in times.items()}
    del out["noise_max_over_min"]
    del out["conditions"]  # full record lives in bench_out.json
    if failed:
        out["failed"] = sorted(failed)  # names only; detail in sidecar
    line = json.dumps(out, separators=(",", ":"))
    need_pq_line = len(line) > 1900
    if need_pq_line:  # tail-buffer headroom: keep the headline compact
        out.pop("queries", None)
        out["queries_file"] = "bench_out.json"
        line = json.dumps(out, separators=(",", ":"))
    print(line)
    if need_pq_line:
        # r16 (VERDICT r15 #1): with 100 pins the compact line always
        # over-ran its budget and the per-query floors were silently
        # DROPPED from stdout, leaving the driver's PERF blind
        # (per_query {}, geomean null, empty scaling block).  Carry
        # them on a second stable line at 0.1 s resolution instead —
        # additions only, the headline line above is unchanged.
        pq = {"metric": "per_query", "unit": "sec",
              "value": full["value"], "failed": sorted(failed),
              "queries": {n: round(t, 1) for n, t in times.items()},
              "sf": full["sf"], "cpus": CPUS}
        print(json.dumps(pq, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
