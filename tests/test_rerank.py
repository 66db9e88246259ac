"""MMR diversity selection: pure-Python reference law, exact==grouped
kernel agreement, DuckDB bit replay of the unrolled selection rounds,
edge cases, and the one-shuffle plan shape.

Reference anchor: conduino has no retrieval ops — north-star engine
extension (SURVEY §7, M6).
"""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from conduino_spark.operators.rerank import mmr_select, mmr_select_sql

SF = "/root/testdata/sf0.001"


def _ref_mmr(cands, k, lam):
    """Independent brute-force MMR over [(id, rel, vec)] — sequential
    folds + 6dp rounds, ties to smallest id."""
    def r6(x):
        return round(x, 6)

    def cos(u, v):
        s = n1 = n2 = 0.0
        for x, y in zip(u, v):
            s += x * y
            n1 += x * x
            n2 += y * y
        return r6(s / (n1 ** 0.5 * n2 ** 0.5))

    pool = sorted(((i, r6(rel), vec) for i, rel, vec in cands),
                  key=lambda t: t[0])
    picked, out = [], []
    for rank in range(1, min(k, len(pool)) + 1):
        best = None
        for i, rel, vec in pool:
            if any(p[0] == i for p in picked):
                continue
            maxsim = None
            for j, _, pv, _m in picked:
                s = cos(vec, pv)
                if maxsim is None or s > maxsim:
                    maxsim = s
            m = lam * rel if maxsim is None \
                else lam * rel - (1.0 - lam) * maxsim
            if best is None or m > best[3]:
                best = (i, rel, vec, m)
        out.append((best[0], rank, best[3]))
        picked.append(best)
    return out


def _cands(seed=0, n_queries=3, n_cand=8, dim=6):
    rng = np.random.default_rng(seed)
    rows = []
    for q in range(n_queries):
        for c in range(n_cand):
            vec = [float(x) for x in
                   np.round(rng.normal(size=dim), 3)]
            rel = float(np.round(rng.uniform(0.1, 1.0), 3))
            rows.append((q, q * 100 + c, rel, vec))
    return rows


@pytest.mark.parametrize("kernel", ["exact", "grouped"])
def test_mmr_matches_reference(spark, kernel):
    rows = _cands(seed=1)
    df = spark.createDataFrame(
        rows, "query_id long, doc_id long, score double, "
              "embedding array<double>")
    got = mmr_select(k=4, lam=0.7, kernel=kernel)(df) \
        .orderBy("query_id", "mmr_rank").collect()
    for q in range(3):
        ref = _ref_mmr([(i, r, v) for qq, i, r, v in rows if qq == q],
                       4, 0.7)
        mine = [(r.doc_id, r.mmr_rank, r.mmr_score)
                for r in got if r.query_id == q]
        assert [(a, b) for a, b, _ in ref] == \
            [(a, b) for a, b, _ in mine]
        if kernel == "exact":
            assert ref == mine           # scores bit-equal too


def test_mmr_kernels_agree(spark):
    df = spark.createDataFrame(
        _cands(seed=2, n_queries=4, n_cand=10),
        "query_id long, doc_id long, score double, "
        "embedding array<double>")
    a = sorted((r.query_id, r.doc_id, r.mmr_rank) for r in
               mmr_select(k=5, lam=0.5, kernel="exact")(df).collect())
    b = sorted((r.query_id, r.doc_id, r.mmr_rank) for r in
               mmr_select(k=5, lam=0.5, kernel="grouped")(df).collect())
    assert a == b


def test_mmr_duckdb_bit_replay(spark):
    rows = _cands(seed=3, n_queries=3, n_cand=7, dim=5)
    df = spark.createDataFrame(
        rows, "query_id long, doc_id long, score double, "
              "embedding array<double>")
    got = sorted((r.query_id, r.doc_id, r.mmr_rank, r.mmr_score)
                 for r in mmr_select(k=4, lam=0.7,
                                     kernel="exact")(df).collect())
    con = duckdb.connect()
    con.execute("""CREATE TABLE cand (query_id BIGINT, doc_id BIGINT,
                   score DOUBLE, embedding DOUBLE[])""")
    con.executemany("INSERT INTO cand VALUES (?, ?, ?, ?)", rows)
    sql = mmr_select_sql("SELECT * FROM cand", k=4, lam=0.7)
    oracle = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert got == oracle                 # ids, ranks AND scores


def test_mmr_diversifies_duplicates(spark):
    # two near-identical high-relevance docs: plain top-2 takes both,
    # MMR (lam=0.5) takes one and the distinct lower-relevance doc
    rows = [
        (1, 10, 1.00, [1.0, 0.0, 0.0]),
        (1, 11, 0.99, [0.999, 0.01, 0.0]),
        (1, 12, 0.60, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(
        rows, "query_id long, doc_id long, score double, "
              "embedding array<double>")
    got = mmr_select(k=2, lam=0.5)(df).orderBy("mmr_rank").collect()
    assert [r.doc_id for r in got] == [10, 12]


def test_mmr_lam_one_is_pure_relevance(spark):
    rows = _cands(seed=4, n_queries=2, n_cand=6)
    df = spark.createDataFrame(
        rows, "query_id long, doc_id long, score double, "
              "embedding array<double>")
    got = mmr_select(k=3, lam=1.0)(df).collect()
    for q in (0, 1):
        pool = sorted(((r, i) for qq, i, r, v in rows if qq == q),
                      key=lambda t: (-round(t[0], 6), t[1]))
        want = [i for _, i in pool[:3]]
        mine = [r.doc_id for r in sorted(
            (x for x in got if x.query_id == q),
            key=lambda x: x.mmr_rank)]
        assert mine == want


def test_mmr_edges_and_validation(spark):
    df = spark.createDataFrame(
        [(1, 10, 0.9, [1.0, 0.0]),
         (1, None, 0.8, [0.0, 1.0]),            # NULL id dropped
         (1, 12, None, [0.0, 1.0]),             # NULL rel dropped
         (1, 13, 0.7, None),                    # NULL vec dropped
         (2, 20, 0.5, [1.0, 1.0])],             # pool smaller than k
        "query_id long, doc_id long, score double, "
        "embedding array<double>")
    got = mmr_select(k=3)(df).collect()
    assert sorted((r.query_id, r.doc_id) for r in got) == \
        [(1, 10), (2, 20)]
    assert all(r.mmr_rank == 1 for r in got)
    with pytest.raises(ValueError):
        mmr_select(k=0)
    with pytest.raises(ValueError):
        mmr_select(lam=0.0)
    with pytest.raises(ValueError):
        mmr_select(lam=1.5)
    with pytest.raises(ValueError):
        mmr_select(kernel="fast")


def test_mmr_plan_is_one_shuffle(spark):
    df = spark.createDataFrame(
        _cands(), "query_id long, doc_id long, score double, "
                  "embedding array<double>")
    plan = mmr_select(k=3)(df)._jdf.queryExecution().executedPlan() \
        .toString()
    assert plan.count("Exchange") <= 1


def test_mmr_over_real_embeddings(spark):
    # end-to-end over the testdata embeddings table: candidates =
    # 8 nearest by raw dot to 2 probe vectors, then MMR-diversify
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    from pyspark.sql import functions as F
    probes = emb.limit(2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"))
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("embedding"),
                   lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
    from pyspark.sql import Window
    cand = (probes.crossJoin(emb.select("vec_id", "embedding"))
            .withColumn("score", dot)
            .withColumn("rn", F.row_number().over(
                Window.partitionBy("query_id")
                .orderBy(F.desc("score"), "vec_id")))
            .where(F.col("rn") <= 8)
            .select("query_id", F.col("vec_id").alias("doc_id"),
                    "score", "embedding"))
    got = mmr_select(k=4, lam=0.6)(cand).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == 2
    for q, rows in by_q.items():
        assert [r.mmr_rank for r in
                sorted(rows, key=lambda r: r.mmr_rank)] == [1, 2, 3, 4]
        # rank 1 is the query vector itself (max self-dot relevance)
        assert sorted(rows, key=lambda r: r.mmr_rank)[0].doc_id == q


# ---------------------------------------------------------------------------
# greedy k-center coreset selection (the corpus-global sibling)
# ---------------------------------------------------------------------------

def test_kcenter_matches_brute_reference(spark):
    from conduino_spark import kcenter_select
    rng = np.random.default_rng(11)
    rows = [(int(i), [float(x) for x in
                      np.round(rng.normal(size=4), 3)])
            for i in range(25)]
    df = spark.createDataFrame(rows,
                               "vec_id long, embedding array<double>")
    got = kcenter_select(df, k=6)

    # brute reference: same per-term scaled-long distances
    def d2(u, v):
        return sum(int(round((x - y) * (x - y) * 1e6))
                   for x, y in zip(u, v))
    vecs = dict(rows)
    picks = [min(vecs)]
    want = [(picks[0], 1, 0)]
    for rnd in range(2, 7):
        best = None
        for i, v in sorted(vecs.items()):
            if i in picks:
                continue
            mind = min(d2(v, vecs[p]) for p in picks)
            if best is None or mind > best[1]:
                best = (i, mind)
        picks.append(best[0])
        want.append((best[0], rnd, best[1]))
    assert got == want


def test_kcenter_duckdb_bit_replay(spark):
    from conduino_spark import kcenter_select, kcenter_select_sql
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(200)
    got = kcenter_select(emb, k=5)
    con = duckdb.connect()
    con.execute(f"""CREATE VIEW embeddings AS
        SELECT * FROM '{SF}/embeddings.parquet'""")
    sql = kcenter_select_sql(
        "SELECT * FROM embeddings ORDER BY vec_id LIMIT 200", k=5)
    want = sorted(con.execute(sql).fetchall(), key=lambda r: r[1])
    assert [tuple(p) for p in got] == [tuple(w) for w in want]


def test_kcenter_edges(spark, monkeypatch):
    from conduino_spark import kcenter_select
    from conduino_spark.operators import smallio
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (None, [9.0, 9.0]),
         (3, None)],
        "vec_id long, embedding array<double>")
    got = kcenter_select(df, k=10)          # k > usable rows
    assert [p[0] for p in got] == [1, 2]
    assert got[0] == (1, 1, 0)
    assert got[1][2] == 1_000_000           # (1-0)^2 * 1e6
    one = kcenter_select(df, k=1)
    assert one == [(1, 1, 0)]
    with pytest.raises(ValueError):
        kcenter_select(df, k=0)
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="no usable rows"):
        kcenter_select(empty, k=2)
    # string ids and a NULL vector element decline the driver path to
    # the distributed loop (NULL distances sort last there)
    strs = spark.createDataFrame(
        [("b", [0.0, 0.0]), ("a", [1.0, 0.0]), ("c", [5.0, 5.0])],
        "vec_id string, embedding array<double>")
    holes = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [None, None]), (3, [0.0, 0.0]),
         (4, [3.0, 4.0])],
        "vec_id long, embedding array<double>")
    got_s, got_h = kcenter_select(strs, k=3), kcenter_select(holes, k=3)
    assert got_s == [("a", 1, 0), ("c", 2, 41_000_000), ("b", 3, 1_000_000)]
    assert got_h == [(1, 1, 0), (4, 2, 25_000_000), (3, 3, 0)]
    monkeypatch.setattr(smallio, "DRIVER_CELLS", 0)
    assert kcenter_select(strs, k=3) == got_s
    assert kcenter_select(holes, k=3) == got_h


def test_kcenter_duplicate_vectors_tie_on_id(spark):
    from conduino_spark import kcenter_select
    df = spark.createDataFrame(
        [(5, [0.0]), (6, [0.0]), (7, [10.0]), (8, [10.0])],
        "vec_id long, embedding array<double>")
    got = kcenter_select(df, k=3)
    # seed = 5; farthest = 7 (ties 7 vs 8 -> smaller id); third round:
    # all remaining have mind 0 -> smallest id 6
    assert [p[0] for p in got] == [5, 7, 6]


def test_mmr_microbatch_stream_equals_batch(spark, tmp_path):
    """MMR on a query stream (the retrieval feedPipe law,
    test_round10 conventions): selection is per-query-pool, so
    candidate pools arriving as micro-batches re-rank exactly as the
    batch run — foreachBatch union == batch, bit-for-bit."""
    from pyspark.sql import functions as F
    rows = _cands(seed=9, n_queries=6, n_cand=8)
    cand = spark.createDataFrame(
        rows, "query_id long, doc_id long, score double, "
              "embedding array<double>")
    stage = mmr_select(k=4, lam=0.7, kernel="exact")
    inbox = str(tmp_path / "inbox")
    cand.where(F.col("query_id") < 3).coalesce(1) \
        .write.parquet(f"{inbox}/b1")
    cand.where(F.col("query_id") >= 3).coalesce(1) \
        .write.parquet(f"{inbox}/b2")
    out = str(tmp_path / "out")
    stream = (spark.readStream.schema(cand.schema)
              .option("maxFilesPerTrigger", 1).parquet(f"{inbox}/*"))
    q = (stream.writeStream
         .foreachBatch(lambda b, _bid:
                       stage(b).write.mode("append").parquet(out))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    want = sorted(tuple(r) for r in stage(cand).collect())
    assert got == want and len(got) == 6 * 4


# ---------------------------------------------------------------------------
# rank_metrics: the full retrieval-quality audit
# ---------------------------------------------------------------------------

def _hits(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, neighbor_id long, rank int")


def test_rank_metrics_hand_example(spark):
    from conduino_spark import rank_metrics
    import math
    truth = _hits(spark, [(1, 10, 1), (1, 11, 2), (1, 12, 3),
                          (2, 20, 1), (2, 21, 2),
                          (3, 30, 1)])
    approx = _hits(spark, [(1, 11, 1), (1, 99, 2), (1, 10, 3),
                           (2, 98, 1), (2, 97, 2), (2, 96, 3)])
    got = {r.vec_id: r for r in
           rank_metrics(truth, k=3)(approx).collect()}
    # q1: rel set {10,11,12}; hits at ranks 1 (11) and 3 (10)
    w = [round(1e9 / math.log2(r + 1)) for r in (1, 2, 3)]
    assert (got[1].n_rel, got[1].n_hit) == (3, 2)
    assert got[1].prec == round(2 / 3.0, 6)
    assert got[1].mrr == 1.0
    assert got[1].ndcg == round((w[0] + w[2]) / (w[0] + w[1] + w[2]), 6)
    # q2: no relevant hits at all
    assert (got[2].n_hit, got[2].prec, got[2].mrr, got[2].ndcg) == \
        (0, 0.0, 0.0, 0.0)
    # q3: approximation returned nothing — still a row, all zero
    assert (got[3].n_rel, got[3].n_hit, got[3].ndcg) == (1, 0, 0.0)


def test_rank_metrics_perfect_retrieval(spark):
    from conduino_spark import rank_metrics
    rows = [(q, q * 10 + r, r) for q in (1, 2) for r in (1, 2, 3, 4)]
    truth = _hits(spark, rows)
    got = rank_metrics(truth, k=4)(_hits(spark, rows)).collect()
    for r in got:
        assert (r.prec, r.mrr, r.ndcg) == (1.0, 1.0, 1.0)


def test_rank_metrics_duckdb_bit_replay(spark):
    from conduino_spark import rank_metrics, rank_metrics_sql
    rng = np.random.default_rng(5)
    truth_rows, approx_rows = [], []
    for q in range(8):
        perm = rng.permutation(20)
        for r in range(1, 6):
            truth_rows.append((q, int(perm[r]), r))
        perm2 = rng.permutation(20)
        for r in range(1, 6):
            approx_rows.append((q, int(perm2[r]), r))
    got = sorted(tuple(r) for r in rank_metrics(
        _hits(spark, truth_rows), k=5)(
        _hits(spark, approx_rows)).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE t (vec_id BIGINT, neighbor_id BIGINT, "
                "rank INT)")
    con.execute("CREATE TABLE a (vec_id BIGINT, neighbor_id BIGINT, "
                "rank INT)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", truth_rows)
    con.executemany("INSERT INTO a VALUES (?,?,?)", approx_rows)
    sql = rank_metrics_sql("SELECT * FROM a", "SELECT * FROM t", k=5)
    want = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert got == want


def test_rank_metrics_validation(spark):
    from conduino_spark import rank_metrics, rank_metrics_sql
    with pytest.raises(ValueError):
        rank_metrics(None, k=0)
    with pytest.raises(ValueError):
        rank_metrics_sql("x", "y", k=0)


def test_mmr_zero_norm_vectors_dropped(spark):
    # a zero-norm candidate has no cosine: both kernels drop it (and
    # the SQL oracle mirrors the filter) instead of dividing by zero
    rows = [(1, 10, 0.9, [1.0, 0.0]),
            (1, 11, 0.99, [0.0, 0.0]),       # zero vector
            (1, 12, 0.5, [0.0, 1.0])]
    df = spark.createDataFrame(
        rows, "query_id long, doc_id long, score double, "
              "embedding array<double>")
    for kernel in ("exact", "grouped"):
        got = sorted(r.doc_id for r in
                     mmr_select(k=3, kernel=kernel)(df).collect())
        assert got == [10, 12]
    con = duckdb.connect()
    con.execute("CREATE TABLE cand (query_id BIGINT, doc_id BIGINT, "
                "score DOUBLE, embedding DOUBLE[])")
    con.executemany("INSERT INTO cand VALUES (?,?,?,?)", rows)
    sql = mmr_select_sql("SELECT * FROM cand", k=3)
    assert sorted(r[1] for r in con.execute(sql).fetchall()) == [10, 12]
