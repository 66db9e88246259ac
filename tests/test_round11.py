"""Round 11: driver-side metadata I/O for the persisted indexes (the
tiny-write-tax fix), bring-your-own-partitioner (cell_col) index
builds/merges, the k_core last-round fixpoint fix, and the
merged-index gate arms' underlying laws.

Reference anchor: conduino has no index maintenance — north-star
engine extensions (SURVEY §7, M6)."""

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# smallio: driver-side parquet metadata round-trips through Spark
# ---------------------------------------------------------------------------

def test_driver_parquet_roundtrip_spark_readable(spark, tmp_path):
    """driver_parquet_write produces directories Spark reads with the
    SAME schema the old createDataFrame writes produced (int32/int64
    physical types, LIST-of-double), and driver_parquet_read sees
    Spark's own writes (skipping _SUCCESS)."""
    from conduino_spark.operators.smallio import (
        centroids_arrow, driver_parquet_read, driver_parquet_write)
    d = str(tmp_path / "meta")
    driver_parquet_write(d, centroids_arrow({1: [0.5, 1.5], 0: [2.0, 3.0]}))
    df = spark.read.parquet(d)
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] \
        == [("cell", "bigint"), ("centroid", "array<double>")]
    assert sorted((r.cell, list(r.centroid)) for r in df.collect()) \
        == [(0, [2.0, 3.0]), (1, [0.5, 1.5])]
    # append mode adds rows beside the existing file
    import pyarrow as pa
    driver_parquet_write(d, centroids_arrow({9: [7.0, 8.0]}), mode="append")
    assert spark.read.parquet(d).count() == 3
    # driver read of a Spark-written dir (with _SUCCESS marker)
    d2 = str(tmp_path / "sparkw")
    spark.createDataFrame([(1, 2)], "a int, b int").write.parquet(d2)
    assert driver_parquet_read(d2) == [{"a": 1, "b": 2}]
    with pytest.raises(FileNotFoundError):
        driver_parquet_read(str(tmp_path / "missing"))


def test_driver_collect_budget_and_decline(spark, monkeypatch):
    """driver_collect returns the collected frame under the cell
    budget, and None (nothing to run on the driver) over it or when any
    collected cell is NULL or NaN."""
    from conduino_spark.operators import smallio
    df = spark.createDataFrame([(1, 0.5), (2, 1.5)], "a long, b double")
    monkeypatch.setattr(smallio, "DRIVER_CELLS", 4)
    got = smallio.driver_collect(df, 2, width=2)
    assert got.to_dict("list") == {"a": [1, 2], "b": [0.5, 1.5]}
    assert smallio.driver_collect(df, 2, width=3) is None
    null = spark.createDataFrame([(1, 0.5), (None, 1.5)], "a long, b double")
    assert smallio.driver_collect(null, 2, width=2) is None
    nan = spark.createDataFrame([(1, 0.5), (2, float("nan"))],
                                "a long, b double")
    assert smallio.driver_collect(nan, 2, width=2) is None


#: the index families with a one-row ``_meta``: family -> (data dir,
#: its partition column)
META_FAMILIES = {"exact": ("keys", "pt"), "minhash": ("bands", "pt"),
                 "simhash": ("bands", "pt"), "dupspan": ("keys", "pt"),
                 "lsh": ("", "bucket")}


def _meta_index(spark, family, d):
    """Build a small ``family`` index at ``d``; return (merge, probe),
    two thunks that run a merge into it and a probe against it (probe
    None for lsh: knn_lsh reads the bucket dirs, never ``_meta``)."""
    import conduino_spark as cs
    if family == "lsh":
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        cs.lsh_index_write(emb, d, dim=len(emb.first()["embedding"]))
        return lambda: cs.lsh_index_merge(emb.limit(5), d), None
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    getattr(cs, f"{family}_index_write")(docs, d, n_shards=4)
    probe = {"exact": cs.dedup_exact_against,
             "minhash": cs.minhash_index_dedup,
             "simhash": cs.simhash_index_dedup,
             "dupspan": cs.dup_span_trim_against}[family](d)
    return (lambda: getattr(cs, f"{family}_index_merge")(docs.limit(5), d),
            lambda: probe(docs.limit(5)))


@pytest.mark.parametrize("family", ["ivf", *META_FAMILIES])
def test_index_metadata_spark_compatible(spark, tmp_path, family):
    """The persisted index metadata written driver-side is readable by
    a PLAIN spark.read.parquet — a reader that never imports
    conduino_spark sees the same tables as before the r11 change: the
    ivf ``centroids/`` model, and each family's one ``_meta`` row,
    which the data-directory read never sees."""
    from conduino_spark import kmeans_fit, ivf_index_write
    from conduino_spark.operators.smallio import META_FORMAT
    d = str(tmp_path / family)
    if family == "ivf":
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        ivf_index_write(emb, d, kmeans_fit(emb, k=4, iters=1))
        cents = spark.read.parquet(f"{d}/centroids")
        assert cents.count() == 4
        assert cents.schema["cell"].dataType.simpleString() == "bigint"
        return
    _meta_index(spark, family, d)
    meta = spark.read.parquet(f"{d}/_meta").collect()
    assert len(meta) == 1 and meta[0]["format"] == META_FORMAT[family][0]
    key, want = ("planes", 8) if family == "lsh" else ("n_shards", 4)
    assert meta[0][key] == want
    data_dir, part = META_FAMILIES[family]
    data = spark.read.parquet(f"{d}/{data_dir}")
    assert part in data.columns and "format" not in data.columns


@pytest.mark.parametrize("family", META_FAMILIES)
def test_index_meta_without_format_raises(spark, tmp_path, family):
    """An index whose ``_meta`` has no ``format`` (written before the
    field existed) must be rebuilt: merge and probe both raise instead
    of appending or probing in a layout this build may not share."""
    import pyarrow as pa
    from conduino_spark.operators.smallio import (driver_parquet_read,
                                                  driver_parquet_write)
    d = str(tmp_path / family)
    merge, probe = _meta_index(spark, family, d)
    row = driver_parquet_read(f"{d}/_meta")[0]
    row.pop("format", None)
    driver_parquet_write(f"{d}/_meta", pa.Table.from_pylist([row]))
    with pytest.raises(ValueError, match="rebuild the index"):
        merge()
    if probe is not None:
        with pytest.raises(ValueError, match="rebuild the index"):
            probe()


def test_write_meta_append_keeps_stored_config(tmp_path):
    """write_meta in append mode keeps an equal ``_meta`` (still one
    row) and refuses a different config."""
    from conduino_spark.operators.smallio import read_meta, write_meta
    d = str(tmp_path / "idx")
    write_meta(d, "exact", n_shards=4)
    write_meta(d, "exact", "append", n_shards=4)
    assert read_meta(d, "exact") == {"n_shards": 4}
    with pytest.raises(ValueError, match="cannot append"):
        write_meta(d, "exact", "append", n_shards=8)


# ---------------------------------------------------------------------------
# bring-your-own-partitioner (cell_col) index builds + merges
# ---------------------------------------------------------------------------

def test_ivf_index_cell_col_merge_equals_in_memory(spark, tmp_path):
    """write(even)+merge(odd) in cell_col='label' mode with centroids
    = the per-cell data means probes BIT-EQUAL to the in-memory
    ann_join over the full corpus (the ann_join_emb 'mhit' gate arm's
    law)."""
    from conduino_spark import (KMeansModel, ann_join, cell_centroids,
                                hash_sample, ivf_index_join,
                                ivf_index_merge, ivf_index_write)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    model = KMeansModel(cell_centroids(emb, cell_col="label"))
    d = str(tmp_path / "ivfm")
    ivf_index_write(emb.where(F.col("vec_id") % 2 == 0), d, model,
                    cell_col="label")
    ivf_index_merge(emb.where(F.col("vec_id") % 2 == 1), d,
                    cell_col="label")
    batch = hash_sample("vec_id", 0.1, salt="annq")(emb)
    got = sorted(tuple(r) for r in
                 ivf_index_join(d, k=5, nprobe=2,
                                exclude_self=True)(batch).collect())
    want = sorted(tuple(r) for r in
                  ann_join(emb, k=5, nprobe=2,
                           exclude_self=True)(batch).collect())
    assert got == want and len(got) > 0


def test_ivfpq_index_cell_col_merge_equals_in_memory(spark, tmp_path):
    """write(even)+merge(odd) in cell_col='label' mode under a frozen
    book + label-mean centroids probes BIT-EQUAL to the in-memory
    ivfpq_search over the full encoded corpus (the pq_adc_search
    'ivfpqm' gate arm's law)."""
    from conduino_spark import (KMeansModel, cell_centroids,
                                ivfpq_index_merge, ivfpq_index_read,
                                ivfpq_index_write, ivfpq_search,
                                pq_encode, pq_train)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qv = [float(x) for x in
          emb.orderBy("vec_id").first()["embedding"]]
    book = pq_train(emb, m=8, k=16, iters=1)
    cents = cell_centroids(emb, cell_col="label")
    d = str(tmp_path / "ivfpqm")
    ivfpq_index_write(emb.where(F.col("vec_id") % 2 == 0), d,
                      KMeansModel(cents), book, cell_col="label")
    ivfpq_index_merge(emb.where(F.col("vec_id") % 2 == 1), d,
                      cell_col="label")
    codes, book_m, cents_m = ivfpq_index_read(spark, d)
    got = sorted(tuple(r) for r in
                 ivfpq_search(book_m, cents_m, qv, kk=10,
                              nprobe=2)(codes).collect())
    want = sorted(tuple(r) for r in
                  ivfpq_search(book, cents, qv, kk=10, nprobe=2,
                               cell_col="label")(
                      pq_encode(book)(emb)).collect())
    assert got == want and len(got) > 0


def test_lsh_merge_matches_full_write(spark, tmp_path):
    """write(even)+merge(odd) probes equal the one-shot full-corpus
    index (the knn_methods 'lshm' gate arm's law), and a mismatched
    batch width fails fast instead of silently truncating dots."""
    from conduino_spark import knn_lsh, lsh_index_merge, lsh_index_write
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    row = emb.first()
    qv = [float(x) for x in row["embedding"]]
    d1, d2 = str(tmp_path / "full"), str(tmp_path / "merged")
    lsh_index_write(emb, d1, dim=len(qv))
    lsh_index_write(emb.where(F.col("vec_id") % 2 == 0), d2, dim=len(qv))
    lsh_index_merge(emb.where(F.col("vec_id") % 2 == 1), d2)
    probe = knn_lsh(qv, k=10, bucket_col="bucket")
    got = sorted(tuple(r) for r in
                 probe(spark.read.parquet(d2)).collect())
    want = sorted(tuple(r) for r in
                  probe(spark.read.parquet(d1)).collect())
    assert got == want and len(got) > 0
    bad = emb.select("vec_id", F.slice("embedding", 1, 3)
                     .alias("embedding"))
    with pytest.raises(Exception, match="stored dim"):
        lsh_index_merge(bad, d2)


def test_knn_lsh_inline_filter_is_fenced(spark):
    """The indexless knn_lsh path must not re-inline the 2^planes-term
    SRP bucket expression into an interpreted per-row predicate (the
    r8 giant-filter smell — caught by plan_audit when this path joined
    the pq_adc_search pin)."""
    from conduino_spark import knn_lsh
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qv = [float(x) for x in emb.first()["embedding"]]
    plan = (knn_lsh(qv, k=5)(emb)
            ._jdf.queryExecution().executedPlan().toString())
    for line in plan.splitlines():
        if "Filter" in line and "Scan" not in line:
            assert len(line) < 2000, "SRP bucket expr re-inlined into filter"


# ---------------------------------------------------------------------------
# persisted MinHash dedup index (the fifth index family)
# ---------------------------------------------------------------------------

def test_minhash_index_merge_equals_against(spark, tmp_path):
    """write(half the reference) + merge(the other half) + probe must
    keep EXACTLY the docs minhash_dedup_against keeps vs the full
    reference (merge == rebuild for the dedup family), and a second
    merge folds a third slice in the same way."""
    from conduino_spark import (minhash_dedup_against, minhash_index_dedup,
                                minhash_index_merge, minhash_index_write)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ref = docs.where(F.col("doc_id") % 2 == 0)
    batch = docs.where(F.col("doc_id") % 2 == 1)
    d = str(tmp_path / "mh")
    minhash_index_write(ref.where(F.col("doc_id") % 4 == 0), d, n_shards=8)
    minhash_index_merge(ref.where(F.col("doc_id") % 4 == 2), d)
    got = sorted(r.doc_id for r in
                 minhash_index_dedup(d)(batch).select("doc_id").collect())
    want = sorted(r.doc_id for r in
                  minhash_dedup_against(ref)(batch)
                  .select("doc_id").collect())
    assert got == want and 0 < len(got) < batch.count()
    # non-broadcast probe path: same survivors
    got2 = sorted(r.doc_id for r in
                  minhash_index_dedup(d, broadcast_batch=False)(batch)
                  .select("doc_id").collect())
    assert got2 == want


def test_minhash_index_probe_prunes_shards(spark, tmp_path):
    """The broadcast probe's reference scan carries dynamic partition
    pruning on the shard directory column (the bm25 token-shard
    posture for dedup)."""
    from conduino_spark import minhash_index_dedup, minhash_index_write
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    d = str(tmp_path / "mh")
    minhash_index_write(docs.where(F.col("doc_id") % 2 == 0), d,
                        n_shards=8)
    one = docs.where(F.col("doc_id") == 1)
    plan = (minhash_index_dedup(d)(one)
            ._jdf.queryExecution().executedPlan().toString())
    assert "dynamicpruning" in plan


def test_minhash_index_guards(spark, tmp_path):
    from conduino_spark import (minhash_index_dedup, minhash_index_merge,
                                minhash_index_write)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    with pytest.raises(ValueError, match="no MinHash index"):
        minhash_index_merge(docs, str(tmp_path / "nope"))
    with pytest.raises(ValueError, match="no MinHash index"):
        minhash_index_dedup(str(tmp_path / "nope"))(docs).count()
    with pytest.raises(ValueError, match="n_shards"):
        minhash_index_write(docs, str(tmp_path / "bad"), n_shards=0)


def test_minhash_index_streaming_ingestion(spark, tmp_path):
    """The dedup-reference ingestion loop: a file-source stream of
    kept batches folds into the signature index via
    foreachBatch(minhash_index_merge); probes against the final index
    equal a one-shot build over everything ingested."""
    from conduino_spark import (minhash_index_dedup, minhash_index_merge,
                                minhash_index_write)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a = docs.where(F.col("doc_id") % 3 == 0)
    inbox = str(tmp_path / "inbox")
    docs.where(F.col("doc_id") % 3 == 1).coalesce(1) \
        .write.parquet(f"{inbox}/b1")
    docs.where(F.col("doc_id") % 3 == 2).coalesce(1) \
        .write.parquet(f"{inbox}/b2")
    idx = str(tmp_path / "idx")
    minhash_index_write(a, idx, n_shards=8)
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(f"{inbox}/*"))
    q = (stream.writeStream
         .foreachBatch(lambda b, _bid: minhash_index_merge(b, idx))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    full = str(tmp_path / "full")
    minhash_index_write(docs, full, n_shards=8)
    # probe batch: clones of indexed docs (must drop) + fresh texts
    # the corpus has never seen (must survive)
    fresh = F.concat(F.lit("zq xv qj blorptex "),
                     F.col("doc_id").cast("string"),
                     F.lit(" wubfrak vexqoz jiblun kroxvat"))
    batch = (docs.where(F.col("doc_id") % 7 == 0)
                 .select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                         F.when(F.col("doc_id") % 2 == 0, F.col("text"))
                          .otherwise(fresh).alias("text"),
                         "lang", "source", "n_chars"))
    got = sorted(r.doc_id for r in
                 minhash_index_dedup(idx)(batch).collect())
    want = sorted(r.doc_id for r in
                  minhash_index_dedup(full)(batch).collect())
    assert got == want and 0 < len(got) < batch.count()


# ---------------------------------------------------------------------------
# k_core: empty-core fixpoint on the last allowed round (ADVICE r10)
# ---------------------------------------------------------------------------

def test_k_core_empty_fixpoint_on_last_iteration(spark):
    """A chain peels to zero edges in exactly 2 rounds; max_iters=2
    must return the empty core, not raise the no-fixpoint error."""
    from conduino_spark import k_core
    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "id_a long, id_b long")
    assert k_core(2, max_iters=2)(chain).count() == 0
    # and a genuine non-convergence still raises
    with pytest.raises(RuntimeError, match="no fixpoint"):
        k_core(2, max_iters=1)(chain).count()


# ---------------------------------------------------------------------------
# real PNG codec (stdlib zlib + numpy — no external library)
# ---------------------------------------------------------------------------

def _synth_img(i, h=9, w=7, c=3):
    import numpy as np
    n = h * w * c
    return ((np.arange(n) * (3 + i) + i) % 251).astype("uint8") \
        .reshape(h, w, c)


def test_png_roundtrip_all_channel_counts():
    """encode→decode is the identity for gray / gray+alpha / RGB /
    RGBA, across every row filter type (0-4) — the filter matrix
    covers the sequential average/paeth reconstruction paths."""
    import numpy as np
    from conduino_spark import decode_png, encode_png
    for c in (1, 2, 3, 4):
        a = _synth_img(c, c=c)
        for f in range(5):
            out = decode_png(encode_png(a, filter_type=f))
            assert out.shape == a.shape and (out == a).all(), (c, f)
    g = _synth_img(0, c=1)[:, :, 0]              # 2-D gray input
    assert (decode_png(encode_png(g))[:, :, 0] == g).all()


def test_png_palette_and_validation():
    """Palette PNGs resolve through PLTE to RGB; non-PNG, truncated,
    sub-byte-depth, and unknown-interlace blobs raise ValueError."""
    import struct
    import zlib
    import numpy as np
    from conduino_spark import decode_png, encode_png

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    # 2x3 palette image: indices 0..5 into a 6-color table
    idx = np.arange(6, dtype=np.uint8).reshape(2, 3)
    plte = bytes(bytearray(range(18)))
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(2))
    blob = (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 3, 0, 0, 0))
            + chunk(b"PLTE", plte)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b""))
    out = decode_png(blob)
    assert out.shape == (2, 3, 3)
    assert (out.reshape(-1, 3) == np.frombuffer(plte, np.uint8)
            .reshape(6, 3)).all()

    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"JUNK" * 4)
    good = encode_png(_synth_img(1))
    with pytest.raises(ValueError, match="truncated PNG"):
        decode_png(good[:-6])
    # r12b: 16-bit depth and Adam7 interlace went REAL (laws in
    # test_mediainfo) — sub-byte depths still raise
    shallow = (b"\x89PNG\r\n\x1a\n"
               + chunk(b"IHDR",
                       struct.pack(">IIBBBBB", 3, 2, 4, 0, 0, 0, 0))
               + chunk(b"IDAT", zlib.compress(b"\x00" * 8))
               + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="8/16-bit"):
        decode_png(shallow)
    with pytest.raises(ValueError, match="interlace"):
        decode_png(b"\x89PNG\r\n\x1a\n"
                   + chunk(b"IHDR",
                           struct.pack(">IIBBBBB", 3, 2, 8, 2, 0, 0, 7))
                   + chunk(b"IDAT", zlib.compress(b"\x00" * 20))
                   + chunk(b"IEND", b""))


def test_png_operators_end_to_end(spark):
    """The Spark-side plumbing: image_metadata / image_resize /
    feature_extract with codec='png' decode for real through the same
    mapInPandas batches as bmp, and sniff_format tags the container."""
    import numpy as np
    from conduino_spark import (decode_png, encode_png, feature_extract,
                                image_metadata, image_resize, sniff_format)
    rows = [(i, bytearray(encode_png(_synth_img(i, h=10, w=6,
                                                c=[1, 3, 4][i % 3]),
                                     filter_type=i % 5)))
            for i in range(6)]
    df = spark.createDataFrame(rows, "id long, content binary")
    meta = {r.id: r for r in image_metadata(codec="png")(df).collect()}
    assert all(m.format == "png" and (m.width, m.height) == (6, 10)
               for m in meta.values())
    assert [meta[i].channels for i in range(3)] == [1, 3, 4]

    rs = image_resize(codec="png", width=3, height=5)(df) \
        .where(F.col("id") == 1).first()
    out = decode_png(bytes(rs.content))
    want = _synth_img(1, h=10, w=6, c=3)
    ys = np.linspace(0, 9, 5).round().astype(int)
    xs = np.linspace(0, 5, 3).round().astype(int)
    assert (out == want[ys][:, xs]).all()

    feats = feature_extract(codec="png", dim=8)(df) \
        .where(F.col("id") == 1).first().features
    a = want.astype(np.float64) / 255.0
    assert abs(feats[0] - 10.0) < 1e-9 and abs(feats[1] - 6.0) < 1e-9
    assert abs(feats[2] - a[:, :, 0].mean()) < 1e-12

    fmts = {r.id: r.format for r in sniff_format()(df).collect()}
    assert all(v == "png" for v in fmts.values())


def test_png_features_duckdb_numerical_oracle(spark):
    """The wav-oracle convention applied to PNG: blobs synthesize per
    id from a pure integer formula, so DuckDB computes the per-channel
    means straight from the formula — never parsing a byte — and must
    agree with the decode_png-based features to 12dp."""
    import duckdb
    from conduino_spark import encode_png, feature_extract
    h, w, c = 9, 7, 3
    rows = [(i, bytearray(encode_png(_synth_img(i, h, w, c),
                                     filter_type=i % 5)))
            for i in range(10)]
    df = spark.createDataFrame(rows, "id long, content binary")
    got = {r.id: tuple(round(x, 12) for x in r.features[2:5])
           for r in feature_extract(codec="png", dim=8)(df).collect()}
    con = duckdb.connect()
    want = {}
    for i in range(10):
        n = h * w * c
        means = con.execute(f"""
            SELECT ch, round(AVG(((j * {3 + i} + {i}) % 251) / 255.0), 12)
            FROM (SELECT j, j % {c} AS ch FROM range(0, {n}) t(j))
            GROUP BY ch ORDER BY ch""").fetchall()
        want[i] = tuple(m for _, m in means)
    assert got == want


# ---------------------------------------------------------------------------
# real baseline JPEG codec (pure numpy — tables ride in the file)
# ---------------------------------------------------------------------------

def _smooth_img(h=24, w=20):
    import numpy as np
    g = np.zeros((h, w, 3), np.uint8)
    for y in range(h):
        for x in range(w):
            g[y, x] = ((y * 3) % 256, (x * 4) % 256, ((x + y) * 2) % 256)
    return g


def test_jpeg_dct_matches_definition():
    """The 8x8 transform equals the textbook DCT-II double sum to
    1e-12, and inverse(forward) is the identity — the lossy half of
    the codec is pinned to the mathematical definition, not to itself."""
    import numpy as np
    from conduino_spark.operators.jpeg import _dct8, _idct8
    b = (np.arange(64, dtype=float).reshape(8, 8) * 7) % 97
    ref = np.zeros((8, 8))
    for u in range(8):
        for v in range(8):
            cu = np.sqrt(0.5) if u == 0 else 1.0
            cv = np.sqrt(0.5) if v == 0 else 1.0
            s = sum(b[x, y]
                    * np.cos((2 * x + 1) * u * np.pi / 16)
                    * np.cos((2 * y + 1) * v * np.pi / 16)
                    for x in range(8) for y in range(8))
            ref[u, v] = 0.25 * cu * cv * s
    assert np.abs(_dct8(b) - ref).max() < 1e-12
    assert np.abs(_idct8(_dct8(b)) - b).max() < 1e-9


def test_jpeg_entropy_layer_is_lossless():
    """Huffman encode→decode is the IDENTITY on quantized coefficient
    blocks (the only lossy steps are DCT+quantization): random sparse
    blocks with extreme categories, long zero runs (ZRL), and EOB all
    survive bit-exactly, including DC prediction across blocks."""
    import numpy as np
    from conduino_spark.operators.bitio import MsbWriter
    from conduino_spark.operators.jpeg import (
        _AC_LUMA, _DC_LUMA, _decode_block, _encode_block, _huff_codes,
        _huff_decoder, _scan_reader, _stuffed)
    rng = np.random.RandomState(7)
    blocks = []
    for i in range(40):
        zz = np.zeros(64, np.int64)
        for _ in range(rng.randint(0, 12)):
            zz[rng.randint(1, 64)] = int(rng.randint(-255, 256))
        zz[0] = int(rng.randint(-1000, 1000))
        blocks.append(zz)
    blocks.append(np.zeros(64, np.int64))          # pure EOB
    zrl = np.zeros(64, np.int64)
    zrl[63] = 1                                    # 62-zero run → 3 ZRL
    blocks.append(zrl)
    bw = MsbWriter()
    dc_codes, ac_codes = _huff_codes(*_DC_LUMA), _huff_codes(*_AC_LUMA)
    pred = 0
    for zz in blocks:
        pred = _encode_block(bw, zz, pred, dc_codes, ac_codes)
    data = _stuffed(bw)
    br, _ = _scan_reader(data, 0)
    dc, ac = _huff_decoder(*_DC_LUMA), _huff_decoder(*_AC_LUMA)
    pred = 0
    for zz in blocks:
        got, pred = _decode_block(br, pred, dc, ac)
        assert (got == zz).all()


def test_jpeg_roundtrip_bounds():
    """decode(encode(x)) error bounds: constant images are EXACT (DC
    only, zero quantization error at 128-anchored values), smooth
    gradients stay within tight bounds at q95 in 4:4:4, and 4:2:0 /
    restart-marker streams stay within the chroma-subsampling bound.
    Grayscale round-trips through the 1-component scan."""
    import numpy as np
    from conduino_spark import decode_jpeg, encode_jpeg
    const = np.full((16, 16, 3), 128, np.uint8)
    assert (decode_jpeg(encode_jpeg(const)) == const).all()
    g = _smooth_img()
    for kw, bound in (({"subsample": "444"}, 4),
                      ({"subsample": "420"}, 10),
                      ({"subsample": "444", "restart_interval": 2}, 4),
                      ({"subsample": "420", "restart_interval": 1}, 10)):
        out = decode_jpeg(encode_jpeg(g, quality=95, **kw))
        assert out.shape == g.shape
        d = np.abs(out.astype(int) - g.astype(int))
        assert d.max() <= bound, (kw, d.max())
    gray = (np.arange(15 * 13, dtype=np.uint8) % 251).reshape(15, 13)
    og = decode_jpeg(encode_jpeg(gray, quality=95))
    assert og.shape == (15, 13, 1)
    assert np.abs(og[:, :, 0].astype(int) - gray.astype(int)).max() <= 4


def test_jpeg_validation():
    import numpy as np
    from conduino_spark import decode_jpeg, encode_jpeg
    with pytest.raises(ValueError, match="not a JPEG"):
        decode_jpeg(b"JUNKJUNK")
    blob = encode_jpeg(_smooth_img())
    with pytest.raises(ValueError, match="truncated JPEG"):
        decode_jpeg(blob[:len(blob) // 2])
    # r12b: SOF2 dispatches to the REAL progressive decoder now —
    # arithmetic coding is the honest remaining raise
    forged = bytearray(blob)
    forged[blob.find(b"\xff\xc0") + 1] = 0xC9      # arithmetic SOF
    with pytest.raises(ValueError, match="SOF marker 0xc9"):
        decode_jpeg(bytes(forged))


def test_jpeg_operators_end_to_end(spark):
    """image_metadata / image_resize / feature_extract with
    codec='jpeg' through the same mapInPandas batches; sniff_format
    tags the container from magic bytes."""
    import numpy as np
    from conduino_spark import (decode_jpeg, encode_jpeg, feature_extract,
                                image_metadata, image_resize, sniff_format)
    rows = [(i, bytearray(encode_jpeg(
        _smooth_img(16, 12), quality=95,
        subsample="420" if i % 2 else "444"))) for i in range(4)]
    df = spark.createDataFrame(rows, "id long, content binary")
    meta = image_metadata(codec="jpeg")(df).collect()
    assert all(m.format == "jpeg" and (m.width, m.height) == (12, 16)
               and m.channels == 3 for m in meta)
    rs = image_resize(codec="jpeg", width=6, height=8)(df).first()
    out = decode_jpeg(bytes(rs.content))
    assert out.shape == (8, 6, 3)
    feats = feature_extract(codec="jpeg", dim=8)(df).first().features
    a = decode_jpeg(bytes(rows[0][1])).astype(np.float64) / 255.0
    assert feats[0] == 16.0 and feats[1] == 12.0
    assert abs(feats[2] - a[:, :, 0].mean()) < 1e-12
    fmts = {r.id: r.format for r in sniff_format()(df).collect()}
    assert all(v == "jpeg" for v in fmts.values())


# ---------------------------------------------------------------------------
# real GIF codec + REAL frame_sample fan-out
# ---------------------------------------------------------------------------

def _gif_frames(n=5, h=12, w=10, colors=9, seed=3):
    import numpy as np
    rng = np.random.RandomState(seed)
    pal = rng.randint(0, 256, (colors, 3)).astype(np.uint8)
    return [pal[rng.randint(0, colors, (h, w))] for _ in range(n)]


def test_gif_roundtrip_and_variants():
    """encode→decode is exact for single and multi-frame GIFs, for
    interlaced row order, and under LZW code-width growth (200-color
    palette); max_frames stops decoding early; truncation and junk
    raise ValueError."""
    import numpy as np
    from conduino_spark import decode_gif, encode_gif
    fr = _gif_frames()
    out, delays = decode_gif(encode_gif(fr, delay_cs=7))
    assert out.shape == (5, 12, 10, 3) and delays == [7] * 5
    assert all((out[i] == fr[i]).all() for i in range(5))
    one, _ = decode_gif(encode_gif(fr[0], interlace=True))
    assert (one[0] == fr[0]).all()
    early, _ = decode_gif(encode_gif(fr), max_frames=2)
    assert early.shape[0] == 2 and (early[1] == fr[1]).all()
    rng = np.random.RandomState(1)
    pal = rng.randint(0, 256, (200, 3)).astype(np.uint8)
    big = pal[rng.randint(0, 200, (40, 33))]
    back, _ = decode_gif(encode_gif(big))
    assert (back[0] == big).all()
    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"JUNKJUNKJUNK")
    blob = encode_gif(big)
    with pytest.raises(ValueError, match="truncated GIF"):
        decode_gif(blob[:len(blob) // 2])
    many = np.stack([np.arange(300) % 256, np.arange(300) // 256,
                     np.zeros(300)], axis=1).astype(np.uint8) \
        .reshape(15, 20, 3)  # 300 distinct (r, g) pairs
    with pytest.raises(ValueError, match="256 distinct"):
        encode_gif(many)


def test_gif_frame_sample_is_real(spark):
    """frame_sample(codec='gif') decodes the animation for REAL: one
    row per sampled frame, frame_no = the true frame index, and each
    emitted frame is a PNG whose pixels equal the composited GIF frame
    — so `frame_sample | image_resize(codec='png')` composes."""
    import numpy as np
    from conduino_spark import (decode_gif, decode_png, encode_gif,
                                frame_sample, image_metadata)
    fr = _gif_frames(n=7, seed=5)
    rows = [(1, bytearray(encode_gif(fr))),
            (2, bytearray(encode_gif(fr[0])))]
    df = spark.createDataFrame(rows, "id long, content binary")
    out = frame_sample(codec="gif", every_n=3, max_frames=2)(df).collect()
    got = {(r.id, r.frame_no): bytes(r.frame) for r in out}
    assert set(got) == {(1, 0), (1, 3), (2, 0)}
    assert (decode_png(got[(1, 3)]) == fr[3]).all()
    assert (decode_png(got[(2, 0)]) == fr[0]).all()
    meta = image_metadata(codec="gif")(df).first()
    assert (meta.width, meta.height, meta.channels, meta.format) \
        == (10, 12, 3, "gif")


# ---------------------------------------------------------------------------
# bm25 stats: driver-side partials keep the additive v2 contract
# ---------------------------------------------------------------------------

def test_lsh_index_merge_streaming_ingestion(spark, tmp_path):
    """LSH joins the ingestion-service family (bm25/ivf/ivfpq have the
    same law since r9/r10): a file-source stream of embedding batches
    folds into the persisted SRP index via foreachBatch(lsh_index_merge)
    — probes against the final index are bit-equal to a one-shot
    full-corpus lsh_index_write.  Bucketing under the in-band (dim,
    planes) is a pure per-row function, so merge order never matters."""
    from conduino_spark import knn_lsh, lsh_index_merge, lsh_index_write
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qv = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    a = emb.where(F.col("vec_id") % 3 == 0)
    inbox = str(tmp_path / "inbox")
    emb.where(F.col("vec_id") % 3 == 1).coalesce(1) \
       .write.parquet(f"{inbox}/b1")
    emb.where(F.col("vec_id") % 3 == 2).coalesce(1) \
       .write.parquet(f"{inbox}/b2")

    idx = str(tmp_path / "idx")
    lsh_index_write(a, idx, dim=len(qv))
    stream = (spark.readStream.schema(emb.schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(f"{inbox}/*"))
    q = (stream.writeStream
         .foreachBatch(lambda b, _bid: lsh_index_merge(b, idx))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    full = str(tmp_path / "full")
    lsh_index_write(emb, full, dim=len(qv))
    probe = knn_lsh(qv, k=10, bucket_col="bucket")
    got = sorted(tuple(r) for r in
                 probe(spark.read.parquet(idx)).collect())
    want = sorted(tuple(r) for r in
                  probe(spark.read.parquet(full)).collect())
    assert got == want and len(got) > 0


def test_wav_g711_and_adpcm_variants(spark):
    """decode_wav grew the telephony/compressed WAV formats: G.711
    μ-law (fmt 7) and A-law (fmt 6) expand exactly per the ITU
    tables (255/256 distinct symmetric levels, max 32124/32256), the
    nearest-level compressors are idempotent on the code lattice with
    round-trip error bounded by the top-segment half-spacing, and mono
    IMA ADPCM (fmt 0x11) tracks a smooth signal; the audio operators
    consume all three via the same codec='wav' dispatch."""
    import numpy as np
    from conduino_spark import audio_metadata, decode_wav, encode_wav
    from conduino_spark.operators.multimodal import (_alaw_to_pcm16,
                                                     _mulaw_to_pcm16)
    codes = np.arange(256, dtype=np.uint8)
    mu = _mulaw_to_pcm16(codes).astype(int)
    al = _alaw_to_pcm16(codes).astype(int)
    assert len(set(mu.tolist())) == 255 and mu.max() == 32124  # ±0 collide
    assert len(set(al.tolist())) == 256 and al.max() == 32256
    assert sorted(set((-mu).tolist())) == sorted(set(mu.tolist()))

    x = (np.sin(np.linspace(0, 20, 400)) * 30000).astype(np.int16)
    for fmt, bound in (("mulaw", 1024 // 2), ("alaw", 1024 // 2)):
        r, nch, y = decode_wav(encode_wav(x, 8000, fmt=fmt))
        assert (r, nch) == (8000, 1) and len(y) == len(x)
        assert np.abs(y.astype(int) - x.astype(int)).max() <= bound
        _, _, y2 = decode_wav(encode_wav(y, 8000, fmt=fmt))
        assert (y2 == y).all()            # idempotent on the lattice
    r, nch, y = decode_wav(encode_wav(x, 8000, fmt="ima"))
    n = len(x)
    assert len(y) >= n
    c = np.corrcoef(x.astype(float), y[:n].astype(float))[0, 1]
    assert c > 0.999

    df = spark.createDataFrame(
        [(1, bytearray(encode_wav(x, 8000, fmt="mulaw")))],
        "id long, content binary")
    m = audio_metadata(codec="wav")(df).first()
    assert (m.sample_rate, m.n_samples, m.format) == (8000, 400, "wav")

    with pytest.raises(ValueError, match="unsupported WAV format"):
        blob = bytearray(encode_wav(x, 8000))
        i = blob.find(b"fmt ") + 8
        blob[i:i + 2] = b"\x63\x00"       # forge an unknown format tag
        decode_wav(bytes(blob))


def test_tiff_roundtrips_and_operators(spark):
    """Baseline TIFF: exact round-trips for gray/RGB/RGBA with and
    without PackBits; a hand-built BIG-endian (MM) file decodes (the
    encoder only writes II, so MM exercises the byte-order path
    independently); truncation and unsupported compressions raise;
    the image operators consume codec='tiff' and sniff_format tags
    both byte orders."""
    import struct
    import numpy as np
    from conduino_spark import (decode_tiff, encode_tiff, image_metadata,
                                image_resize, sniff_format)
    rng = np.random.RandomState(2)
    for c in (1, 3, 4):
        a = rng.randint(0, 256, (13, 11, c)).astype(np.uint8)
        for pb in (False, True):
            out = decode_tiff(encode_tiff(a, packbits=pb))
            assert out.shape == a.shape and (out == a).all(), (c, pb)

    # minimal big-endian gray 2x3 file, one strip, built by hand
    pix = bytes(range(6))
    entries = [
        struct.pack(">HHI", 256, 3, 1) + struct.pack(">HH", 3, 0),
        struct.pack(">HHI", 257, 3, 1) + struct.pack(">HH", 2, 0),
        struct.pack(">HHI", 258, 3, 1) + struct.pack(">HH", 8, 0),
        struct.pack(">HHI", 259, 3, 1) + struct.pack(">HH", 1, 0),
        struct.pack(">HHII", 273, 4, 1, 8 + 2 + 12 * 6 + 4),
        struct.pack(">HHII", 279, 4, 1, 6),
    ]
    mm = (b"MM\x00*" + struct.pack(">I", 8)
          + struct.pack(">H", 6) + b"".join(entries)
          + struct.pack(">I", 0) + pix)
    out = decode_tiff(mm)
    assert out.shape == (2, 3, 1) and bytes(out.reshape(-1)) == pix

    with pytest.raises(ValueError, match="not a TIFF"):
        decode_tiff(b"XX\x00*" + b"\x00" * 8)
    blob = encode_tiff(rng.randint(0, 256, (20, 20, 3)).astype(np.uint8))
    with pytest.raises(ValueError, match="truncated TIFF"):
        decode_tiff(blob[:40])
    jpg = bytearray(encode_tiff(rng.randint(0, 256, (4, 4, 1))
                                .astype(np.uint8)))
    i = jpg.find(struct.pack("<HHI", 259, 3, 1))
    # forge JPEG-in-TIFF compression (LZW went real in r12b)
    jpg[i + 8:i + 10] = struct.pack("<H", 7)
    with pytest.raises(ValueError, match="compression 7"):
        decode_tiff(bytes(jpg))

    a = rng.randint(0, 256, (10, 6, 3)).astype(np.uint8)
    df = spark.createDataFrame(
        [(1, bytearray(encode_tiff(a, packbits=True))),
         (2, bytearray(mm))],
        "id long, content binary")
    meta = {r.id: r for r in image_metadata(codec="tiff")(df)
            .collect() if r.id == 1}
    assert (meta[1].width, meta[1].height, meta[1].channels,
            meta[1].format) == (6, 10, 3, "tiff")
    rs = image_resize(codec="tiff", width=3, height=5)(
        df.where(F.col("id") == 1)).first()
    out = decode_tiff(bytes(rs.content))
    ys = np.linspace(0, 9, 5).round().astype(int)
    xs = np.linspace(0, 5, 3).round().astype(int)
    assert (out == a[ys][:, xs]).all()
    fmts = {r.id: r.format for r in sniff_format()(df).collect()}
    assert fmts == {1: "tiff", 2: "tiff"}


def test_flac_lossless_roundtrips(spark):
    """FLAC is LOSSLESS: encode→decode is bit-exact for every subframe
    type the encoder can emit — constant, fixed-predictor (smooth
    signal), verbatim (noise), and explicit quantized-LPC frames (any
    coefficient choice is exact under the integer recurrence, which
    tests the decoder's LPC path without a reference encoder) — mono
    and stereo, across block boundaries; CRC-8/CRC-16 are verified and
    corruption raises; the audio operators consume codec='flac'."""
    import numpy as np
    from conduino_spark import (audio_metadata, decode_flac, encode_flac,
                                feature_extract)
    rng = np.random.RandomState(5)
    smooth = (np.sin(np.linspace(0, 50, 5000)) * 20000).astype(np.int16)
    noise = rng.randint(-32768, 32768, 3000).astype(np.int16)
    const = np.full(2000, -1234, np.int16)
    for x, bs in ((smooth, 1024), (noise, 777), (const, 2000)):
        r, nch, y = decode_flac(encode_flac(x, 16000, block_size=bs))
        assert (r, nch) == (16000, 1) and np.array_equal(y, x)
    for lpc in (([8192, -4096], 13), ([4000, 3000, -2000, 1000, -500], 12)):
        _, _, y = decode_flac(encode_flac(smooth, 16000,
                                          block_size=512, lpc=lpc))
        assert np.array_equal(y, smooth)
    st = np.stack([smooth[:4000],
                   (smooth[:4000] // 2 + 100).astype(np.int16)], axis=1)
    r, nch, y = decode_flac(encode_flac(st, 44100, block_size=512))
    il = np.empty(8000, np.int16)
    il[0::2], il[1::2] = st[:, 0], st[:, 1]
    assert (r, nch) == (44100, 2) and np.array_equal(y, il)

    with pytest.raises(ValueError, match="not a FLAC"):
        decode_flac(b"JUNKJUNKJUNK")
    blob = encode_flac(smooth, 16000)
    with pytest.raises(ValueError):
        decode_flac(blob[:len(blob) // 2])
    bad = bytearray(blob)
    bad[-3] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_flac(bytes(bad))
    with pytest.raises(ValueError, match="signed 15 bits"):
        encode_flac(smooth, 16000, lpc=([16384], 14))

    df = spark.createDataFrame(
        [(1, bytearray(encode_flac(smooth, 16000, block_size=1024)))],
        "id long, content binary")
    m = audio_metadata(codec="flac")(df).first()
    assert (m.sample_rate, m.n_samples, m.format) == (16000, 5000, "flac")
    f = feature_extract(codec="flac", dim=4)(df).first().features
    xs = smooth.astype(np.float64) / 32768.0
    assert abs(f[0] - 5000 / 16000) < 1e-9
    assert abs(f[1] - np.sqrt((xs * xs).mean())) < 1e-9


def test_decode_wav_rejects_truncation():
    """ADVICE r10: a data chunk whose declared size runs past the
    buffer must raise (it used to decode silently with fewer samples),
    and a short fmt body raises ValueError, not struct.error."""
    import struct
    from conduino_spark import decode_wav, encode_wav
    blob = encode_wav([1, 2, 3, 4], 8000)
    assert len(decode_wav(blob)[2]) == 4
    with pytest.raises(ValueError, match="truncated WAV"):
        decode_wav(blob[:-2])            # data chunk cut short
    short_fmt = (b"RIFF" + struct.pack("<I", 14) + b"WAVE"
                 + b"fmt " + struct.pack("<I", 6) + b"\x01\x00" * 3)
    with pytest.raises(ValueError, match="truncated WAV fmt"):
        decode_wav(short_fmt)


def test_bm25_stats_additive_after_driver_side_write(spark, tmp_path):
    """bm25_index_write + merge write their 1-row stats partials
    driver-side now; the probe must still see additive v2 stats (one
    row per batch, long sums) and reproduce the in-memory join."""
    from conduino_spark import bm25_index_merge, bm25_index_write
    from conduino_spark.operators.smallio import driver_parquet_read
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    d = str(tmp_path / "bm25")
    bm25_index_write(docs.where(F.col("doc_id") % 2 == 0), d, n_shards=8)
    bm25_index_merge(docs.where(F.col("doc_id") % 2 == 1), d)
    st = driver_parquet_read(f"{d}/stats")
    assert len(st) == 2 and all(r["__n_shards"] == 8 for r in st)
    assert sum(r["__n"] for r in st) == docs.count()
