"""r16 optimization-round laws: the packed LSH band key must be
collision-identical to the r15 ','-joined string key, across every
consumer (pair self-join, two-sided incremental dedup, the persisted
index round trip); the shared dup-span window table must be bit-equal
to the per-operator window builds, including the NULL-text/NULL-id
edge semantics that differ between stats and trim."""

import pytest
from pyspark.sql import functions as F

from conduino_spark import (
    from_dataframe, minhash_dedup_against, read_table, run_pipe, sink_df,
)
from conduino_spark.operators import smallio
from conduino_spark.operators.dedup import (
    MINHASH_BANDS, MINHASH_K, _band_explode, _band_key_cols, _band_pairs,
    _banding_rows, _minhash_sig_df,
)

DEFAULT_CELLS = smallio.DRIVER_CELLS


def _string_band_pairs(sigs, id_col, n_perm, bands_n):
    """The r15 band-pair formulation (','-joined string key) — kept
    here as the reference the packed key must reproduce exactly."""
    rows = _banding_rows(n_perm, bands_n)
    bands = sigs.select(
        F.col(id_col).alias(id_col),
        F.posexplode(F.array(*[
            F.concat_ws(",", *[
                F.element_at("sig", b * rows + r + 1).cast("string")
                for r in range(rows)])
            for b in range(bands_n)])).alias("band_id", "band_hash"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (a.join(b, ["band_id", "band_hash"])
              .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
              .select(F.col(f"a.{id_col}").alias("id_a"),
                      F.col(f"b.{id_col}").alias("id_b"))
              .distinct())


def test_packed_band_key_equals_string_key(spark, sf_dir):
    """Candidate pair sets from the packed long key and the r15 string
    key are identical on real documents — the packing (pairs of 31-bit
    values into one long) is injective, so collisions cannot differ."""
    docs = read_table(sf_dir, "documents").df(spark)
    sigs = _minhash_sig_df(docs, "text", "doc_id").cache()
    try:
        got = {(r.id_a, r.id_b) for r in
               _band_pairs(sigs, "doc_id").collect()}
        want = {(r.id_a, r.id_b) for r in
                _string_band_pairs(sigs, "doc_id", MINHASH_K,
                                   MINHASH_BANDS).collect()}
        assert got == want and got  # non-trivial on real data
    finally:
        sigs.unpersist()


def test_packed_band_key_injective_odd_rows(spark):
    """Non-default configs with an odd rows-per-band (the lone tail
    value rides its own long) keep the exact collision contract —
    docs collide iff a band's full value tuple matches."""
    # two docs sharing band 0 exactly; two differing only in the tail
    # value of their band (must NOT collide)
    sig_a = [7, 11, 13, 1, 2, 3]      # n_perm=6, bands=2, rows=3
    sig_b = [7, 11, 13, 4, 5, 6]      # band 0 == a -> pair
    sig_c = [7, 11, 99, 8, 9, 10]     # band-0 tail differs -> no pair
    sig_d = [99, 11, 13, 20, 21, 22]  # band-0 head differs -> no pair
    sigs = spark.createDataFrame(
        [(1, sig_a), (2, sig_b), (3, sig_c), (4, sig_d)],
        "doc_id long, sig array<long>")
    assert _band_key_cols(6, 2) == ["band_h0", "band_h1"]
    pairs = {(r.id_a, r.id_b) for r in
             _band_pairs(sigs, "doc_id", n_perm=6, bands_n=2).collect()}
    assert pairs == {(1, 2)}


def test_packed_band_key_dedup_against(spark, sf_dir):
    """minhash_dedup_against over the packed key: survivors equal the
    string-key reference (anti-join of docs colliding with the
    reference corpus)."""
    docs = read_table(sf_dir, "documents").df(spark)
    batch = docs.where(F.col("doc_id") % 2 == 1)
    ref = docs.where(F.col("doc_id") % 2 == 0)
    kept = run_pipe(from_dataframe(batch)
                    | minhash_dedup_against(ref) | sink_df(), spark)
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    # reference: string-key collision set between batch and ref bands
    bs = _minhash_sig_df(batch, "text", "doc_id")
    rs = _minhash_sig_df(ref, "text", "doc_id")
    hit = _string_band_pairs(
        bs.unionByName(rs).cache(), "doc_id",
        MINHASH_K, MINHASH_BANDS)
    want = {r.doc_id for r in batch.select("doc_id").collect()}
    # drop batch docs colliding with ANY ref doc (string-key truth)
    coll = hit.where((F.col("id_a") % 2 == 1) != (F.col("id_b") % 2 == 1))
    dropped = ({r.id_a for r in coll.collect() if r.id_a % 2 == 1}
               | {r.id_b for r in coll.collect() if r.id_b % 2 == 1})
    assert kept_ids == want - dropped


def _collect_sorted(df):
    return sorted([tuple(r) for r in df.collect()],
                  key=lambda t: tuple((x is None, x) for x in t))


def test_dup_span_windows_hook_bit_equal(spark, sf_dir):
    """dup_span_stats / dup_span_trim over the shared window table
    equal the standalone builds bit-for-bit on real documents AND on
    the NULL edge cases (stats keeps NULL-id rows and reads
    n_windows=-1 for NULL text; trim drops NULL ids and coalesces NULL
    text to '')."""
    from conduino_spark import dup_span_stats, dup_span_trim
    from conduino_spark.operators.dedup import dup_span_window_table

    docs = read_table(sf_dir, "documents").df(spark)
    edge = spark.createDataFrame(
        [(90001, None), (None, "a b c d e a b c d e a b c d e"),
         (90002, ""), (90003, "x y z")],
        "doc_id long, text string")
    df = docs.select("doc_id", "text").unionByName(edge)

    w = dup_span_window_table(df, 16)
    for mk in (lambda **kw: dup_span_stats(window_tokens=16, **kw),
               lambda **kw: dup_span_trim(window_tokens=16, **kw)):
        got = _collect_sorted(mk(windows=w)(df))
        want = _collect_sorted(mk()(df))
        assert got == want and got


def test_dup_span_windows_hook_trim_against(spark, sf_dir, tmp_path):
    """dup_span_trim_against over a filtered window-table slice equals
    the standalone build (the line_dedup pin wiring: hook table must
    cover exactly the stage input's rows)."""
    from conduino_spark import (
        dup_span_trim_against, dupspan_index_write)
    from conduino_spark.operators.dedup import dup_span_window_table

    docs = read_table(sf_dir, "documents").df(spark).select(
        "doc_id", "text")
    d = str(tmp_path / "ds_idx")
    dupspan_index_write(docs.where(F.col("doc_id") % 2 == 0), d,
                        window_tokens=16)
    batch = docs.where(F.col("doc_id") % 2 == 1)
    w = dup_span_window_table(docs, 16)
    got = _collect_sorted(
        dup_span_trim_against(
            d, windows=w.where(F.col("doc_id") % 2 == 1))(batch))
    want = _collect_sorted(dup_span_trim_against(d)(batch))
    assert got == want and got


def test_graph_driver_path_equals_distributed(spark, sf_dir, monkeypatch):
    """The budgeted driver fast paths for CC min-label and k-core
    compute the SAME unique fixpoints as the distributed loops — forced
    branch comparison on the real near-dup pair graph (DRIVER_CELLS 0
    pins the distributed loop; the default budget takes the driver
    path at this scale)."""
    from conduino_spark import k_core, read_table
    from conduino_spark.operators.dedup import (
        _cc_min_label, minhash_dedup_pairs)

    docs = read_table(sf_dir, "documents").df(spark)
    pairs = minhash_dedup_pairs()(docs).cache()
    try:
        monkeypatch.setattr(smallio, "DRIVER_CELLS", 0)
        dist_cc = {(r.id, r.lbl) for r in _cc_min_label(pairs).collect()}
        dist_core = {r.id for r in
                     k_core(2)(pairs.select("id_a", "id_b")).collect()}
        monkeypatch.setattr(smallio, "DRIVER_CELLS", DEFAULT_CELLS)
        drv_cc = {(r.id, r.lbl) for r in _cc_min_label(pairs).collect()}
        drv_core = {r.id for r in
                    k_core(2)(pairs.select("id_a", "id_b")).collect()}
        assert drv_cc == dist_cc and drv_cc
        assert drv_core == dist_core
    finally:
        pairs.unpersist()


def test_graph_driver_path_raise_parity(spark, monkeypatch):
    """The driver paths keep the bounded-iteration contract at the SAME
    boundary as the distributed loops (including the 2-round-batch
    parity at diameter max_iters + 1) — chains probed on both branches
    must agree raise-for-raise, accept-for-accept."""
    import pytest as _pt
    from conduino_spark.operators.dedup import _cc_min_label

    def outcome(n_chain, max_iters):
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(1, n_chain)],
            "id_a long, id_b long")
        try:
            res = _cc_min_label(pairs, max_iters=max_iters)
            return ("ok", tuple(sorted((r.id, r.lbl)
                                       for r in res.collect())))
        except RuntimeError:
            return ("raise", None)

    for n_chain in (3, 4, 5, 6, 7):
        for mi in (1, 2, 3):
            monkeypatch.setattr(smallio, "DRIVER_CELLS", 0)
            dist = outcome(n_chain, mi)
            monkeypatch.setattr(smallio, "DRIVER_CELLS", DEFAULT_CELLS)
            drv = outcome(n_chain, mi)
            assert drv == dist, (n_chain, mi, drv[0], dist[0])


def test_kcenter_driver_path_equals_distributed(spark, sf_dir, monkeypatch):
    """kcenter_select's budgeted driver path returns the SAME picks,
    rounds and selection distances as the distributed carried-minimum
    loop (exact scaled-long distances, (mind desc, id asc) ties)."""
    from conduino_spark import kcenter_select, read_table

    emb = read_table(sf_dir, "embeddings").df(spark)
    monkeypatch.setattr(smallio, "DRIVER_CELLS", 0)
    dist = kcenter_select(emb, k=6)
    monkeypatch.setattr(smallio, "DRIVER_CELLS", DEFAULT_CELLS)
    drv = kcenter_select(emb, k=6)
    assert [(int(i), int(r), int(m)) for i, r, m in drv] \
        == [(int(i), int(r), int(m)) for i, r, m in dist]
    assert len(drv) == 6


def test_lp_driver_path_equals_distributed(spark, sf_dir, monkeypatch):
    """label_propagation's budgeted driver path equals the distributed
    unrolled rounds — clamped seeds, weighted votes (incl. zero and
    negative weights), NULL-label voters, the (count desc, label asc)
    tie rule, NULL-id node rows, and unlabeled components."""
    from conduino_spark import label_propagation, read_table
    from conduino_spark.operators.dedup import minhash_dedup_pairs

    docs = read_table(sf_dir, "documents").df(spark)
    edges = minhash_dedup_pairs()(docs).select("id_a", "id_b").cache()
    nodes = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 10 == 0, F.col("lang")).alias("label"))

    def run(cells):
        monkeypatch.setattr(smallio, "DRIVER_CELLS", cells)
        st = label_propagation(edges, "label", "doc_id", iters=4)
        return sorted(((r.doc_id, r.label, r.label_prop)
                       for r in st(nodes).collect()),
                      key=lambda t: (t[0] is None, t[0]))

    try:
        assert run(0) == run(DEFAULT_CELLS) and run(DEFAULT_CELLS)
    finally:
        edges.unpersist()

    # synthetic edge semantics: weighted ties, NULL ids, negative votes
    e2 = spark.createDataFrame(
        [(1, 2, 1.0), (3, 2, 1.0), (4, 2, -0.5), (5, 6, 0.0),
         (None, 7, 1.0)],
        "a long, b long, w double")
    n2 = spark.createDataFrame(
        [(1, "b"), (3, "a"), (4, "c"), (5, "z"), (2, None), (6, None),
         (7, None), (None, "q"), (9, None)],
        "doc_id long, label string")

    def run2(cells):
        monkeypatch.setattr(smallio, "DRIVER_CELLS", cells)
        st = label_propagation(e2, "label", "doc_id", iters=3,
                               weight_col="w")
        return sorted(((r.doc_id, r.label_prop)
                       for r in st(n2).collect()),
                      key=lambda t: (t[0] is None, t[0]))

    assert run2(0) == run2(DEFAULT_CELLS)


def test_logreg_driver_path_equals_distributed(spark, sf_dir, monkeypatch):
    """logreg_train's budgeted driver path reproduces the distributed
    trajectory exactly: same integer gradient terms through the shared
    epoch update, same weights/intercept/loss history."""
    from conduino_spark import (
        QUALITY_FEATURES, logreg_train, quality_features, read_table)
    import __spark_entry__ as entry

    docs = read_table(sf_dir, "documents").df(spark)
    fx = quality_features("text")
    feats = docs.select(
        *[fx[k].alias(k) for k in QUALITY_FEATURES],
        (F.lit(0.25) * (fx["len_ok"] + fx["alpha_ratio"]
                        + fx["stop_sig"] + fx["punct_ok"])
         >= entry.LOGREG_THRESH).cast("int").alias("label")).cache()
    try:
        monkeypatch.setattr(smallio, "DRIVER_CELLS", 0)
        dist = logreg_train(feats, list(QUALITY_FEATURES), "label",
                            iters=6, lr=entry.LOGREG_LR)
        monkeypatch.setattr(smallio, "DRIVER_CELLS", DEFAULT_CELLS)
        drv = logreg_train(feats, list(QUALITY_FEATURES), "label",
                           iters=6, lr=entry.LOGREG_LR)
        assert drv.weights == dist.weights
        assert drv.intercept == dist.intercept
        assert drv.n == dist.n
        assert drv.loss_history == dist.loss_history
    finally:
        feats.unpersist()
