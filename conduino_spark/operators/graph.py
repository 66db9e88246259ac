"""Graph operators over edge DataFrames: connected components (public
face of the dedup engine's min-label machinery) and PageRank.

Both follow the engine's bounded-iteration pattern (lift.feedback_pipe,
the relaxation of the reference's feedback loop,
``Data/Conduino.hs:429-442``): per round a constant number of narrow
keyed joins/aggregates, ``localCheckpoint`` to bound lineage, a loud
error instead of a silent partial result when the bound is hit.

100 TB shape: state is one (id, value) table and edges one
(src, dst) table; every round shuffles only those two narrow tables on
the join key.  A hot vertex (celebrity in-degree) skews the contribs
aggregate — AQE skew handling plus the salting stage
(operators/skew.py) upstream are the mitigations, same as any keyed
agg.
"""

from __future__ import annotations

from typing import Optional, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conduino_spark.operators import smallio
from conduino_spark.plans.core import SEQ, Source, Stage


def _edges_df(edges: Union[DataFrame, Source], spark) -> DataFrame:
    e = edges.df(spark) if isinstance(edges, Source) else edges
    return e.drop(SEQ) if SEQ in e.columns else e


def connected_components(src: str = "id_a", dst: str = "id_b", *,
                         max_iters: int = 25,
                         name: str = "connected_components") -> Stage:
    """Undirected connected components: label every vertex with its
    component's MINIMUM vertex id.  Input = an edge stream (two id
    columns); output = (id, lbl).

    Delegates to the min-label propagation loop battle-tested by
    ``minhash_dedup_cc`` (operators/dedup.py, oracle-checked against a
    DuckDB recursive CTE): per round one narrow (long, long) join + a
    1-row convergence aggregate; raises past ``max_iters`` (diameter
    bound) instead of silently splitting components."""
    from conduino_spark.operators.dedup import _cc_min_label

    def fn(df: DataFrame) -> DataFrame:
        pairs = df.select(F.col(src).alias("id_a"), F.col(dst).alias("id_b"))
        return _cc_min_label(pairs, max_iters=max_iters)

    return Stage(fn, name=name, seq_preserving=False)


def pagerank(src: str = "src", dst: str = "dst", *, damping: float = 0.85,
             iters: int = 10, checkpoint_every: int = 3,
             ndigits: Optional[int] = None,
             name: str = "pagerank") -> Stage:
    """PageRank over a directed edge stream — fixed ``iters`` rounds of
    the standard power iteration with dangling-mass redistribution:

        rank' = (1−d)/N + d · (Σ_in rank/out_deg + dangling_mass/N)

    Vertices = distinct src ∪ dst.  Ranks sum to 1 every round (the
    dangling correction keeps the invariant — vertices with no
    out-edges donate their mass uniformly).

    Per round: ONE shuffle join (ranks ⋈ edges on src) + one grouped
    sum on dst + a 1-row dangling aggregate; edges and the out-degree
    table are computed once and checkpointed.  ``checkpoint_every``
    truncates the growing lineage (same trick as the CC loop).
    ``ndigits`` rounds the final rank (oracle-friendly).

    Output: (id, rank) for every vertex."""
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    if iters <= 0:
        raise ValueError(f"iters must be positive, got {iters}")

    def fn(df: DataFrame) -> DataFrame:
        spark = df.sparkSession
        edges = (df.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
                   .localCheckpoint(eager=True))
        nodes = (edges.select(F.col("src").alias("id"))
                 .unionByName(edges.select(F.col("dst").alias("id")))
                 .distinct().localCheckpoint(eager=True))
        n = nodes.count()
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
        # ranks ⋈ deg once up front: __deg rides along so the loop body
        # joins ONE table (ranks) against edges per round
        ranks = (nodes.join(deg.withColumnRenamed("src", "id"), "id", "left")
                      .select("id", F.lit(1.0 / n).alias("rank"), "__deg")
                      .localCheckpoint(eager=True))
        for i in range(iters):
            dangling = (ranks.where(F.col("__deg").isNull())
                             .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
                             .collect()[0][0])
            contribs = (edges.join(
                            ranks.where(F.col("__deg").isNotNull())
                                 .select(F.col("id").alias("src"),
                                         (F.col("rank") / F.col("__deg"))
                                         .alias("__c")), "src")
                             .groupBy("dst").agg(F.sum("__c").alias("__in")))
            base = (1.0 - damping) / n + damping * dangling / n
            ranks = (ranks.select("id", "__deg")
                          .join(contribs.withColumnRenamed("dst", "id"),
                                "id", "left")
                          .select("id",
                                  (F.lit(base) + F.lit(damping)
                                   * F.coalesce("__in", F.lit(0.0)))
                                  .alias("rank"),
                                  "__deg"))
            if (i + 1) % checkpoint_every == 0 or i == iters - 1:
                ranks = ranks.localCheckpoint(eager=True)
        out = ranks.select("id", "rank")
        if ndigits is not None:
            out = out.select("id", F.round("rank", ndigits).alias("rank"))
        return out

    return Stage(fn, name=name, seq_preserving=False)


def triangle_count(src: str = "id_a", dst: str = "id_b", *,
                   per_vertex: bool = False,
                   name: str = "triangle_count") -> Stage:
    """Count triangles in an undirected graph — the classic clustering
    / spam-structure signal.  Input = an edge stream (two id columns,
    either orientation, self-loops and duplicates tolerated); output =
    one row ``(triangles)``, or per-vertex counts ``(id, triangles)``
    with ``per_vertex=True``.

    The standard distributed algorithm (node-iterator join): canonicalize
    each edge to ``a < b`` and dedup, join edges-on-shared-lowest-vertex
    to enumerate open wedges ``a<b<c``, then semi-join the closing edge
    ``(b, c)``.  Each triangle is found EXACTLY once (at its lowest
    vertex), so no over-count division.  Two shuffle joins of the narrow
    canonical edge table — and because wedges are enumerated from each
    edge's LOWER endpoint, a high-degree hub only fans out through the
    vertices below it (the degree-ordering trick that bounds the wedge
    blow-up on skewed graphs)."""

    def fn(df: DataFrame) -> DataFrame:
        e = df.drop(SEQ) if SEQ in df.columns else df
        a, b = F.col(src), F.col(dst)
        canon = (e.select(F.least(a, b).alias("a"),
                          F.greatest(a, b).alias("b"))
                  .where(F.col("a") < F.col("b"))
                  .distinct())
        e1 = canon.select(F.col("a").alias("v"), F.col("b").alias("x"))
        e2 = canon.select(F.col("a").alias("v"), F.col("b").alias("y"))
        wedges = (e1.join(e2, "v")
                    .where(F.col("x") < F.col("y")))
        closing = canon.select(F.col("a").alias("x"),
                               F.col("b").alias("y"))
        tris = wedges.join(closing, ["x", "y"], "semi")
        if per_vertex:
            verts = tris.select(
                F.explode(F.array("v", "x", "y")).alias("id"))
            return (verts.groupBy("id")
                         .agg(F.count(F.lit(1)).alias("triangles")))
        return tris.agg(F.count(F.lit(1)).alias("triangles"))

    return Stage(fn, name=name, seq_preserving=False)


def k_core(k: int, src: str = "id_a", dst: str = "id_b", *,
           max_iters: int = 50, checkpoint_every: int = 3,
           name: str = "k_core") -> Stage:
    """k-core membership: iteratively peel every vertex of degree < k
    from the undirected graph until fixpoint; output = the surviving
    vertex set ``(id)`` — the standard web-graph curation signal
    (link farms and spam rings live in dense cores; long chains and
    trees peel away).  Input = an edge stream (two id columns, either
    orientation; self-loops and duplicates tolerated).

    Parallel peeling (all sub-k vertices drop simultaneously each
    round) converges to the same fixpoint as sequential peeling — the
    k-core is unique — and is order-independent, so a static unrolled
    CTE chain replays it exactly (the label-propagation oracle
    pattern).

    Plan per round: ONE degree aggregate over the narrow (a, b) edge
    table + two semi-joins of the survivors back onto the edges;
    lineage bounded by localCheckpoint every ``checkpoint_every``
    rounds; the per-round fixpoint check is a 1-row count (the
    sanctioned bounded-iteration collect, lift.feedback_pipe
    relaxation of Data/Conduino.hs:429-442).  Raises past
    ``max_iters`` instead of returning a partial core."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if max_iters < 1:
        raise ValueError(f"max_iters must be >= 1, got {max_iters}")

    def _driver_core(pdf, dt: str, n_directed: int, spark) -> DataFrame:
        """Driver fast path (r16, the _cc_min_label posture): the SAME
        parallel peeling, vectorized over the collected directed edge
        arrays — one np.bincount per round IS the degree aggregate.
        Iteration count and raise boundary mirror the distributed loop
        exactly; the k-core is unique, so the result cannot differ."""
        import numpy as np
        sd = np.concatenate([pdf["a"].to_numpy(), pdf["b"].to_numpy()])
        verts, inv = np.unique(sd, return_inverse=True)
        n = len(verts)
        s, d = inv[:len(pdf)], inv[len(pdf):]
        active = np.ones(len(pdf), dtype=bool)
        n_edges = n_directed
        import pandas as pd

        def survivors(mask):
            kept = np.unique(np.concatenate([s[mask], d[mask]]))
            return smallio.local_frame(
                spark, pd.DataFrame({"id": verts[kept]}), f"id {dt}")

        for _ in range(max_iters):
            if n_edges == 0:
                break
            deg = np.bincount(s[active], minlength=n)
            keepv = deg >= k
            nxt = active & keepv[s] & keepv[d]
            n_next = int(nxt.sum())
            if n_next == n_edges:
                return survivors(active)
            active, n_edges = nxt, n_next
            if n_edges == 0:
                break
        else:
            raise RuntimeError(
                f"k_core: no fixpoint after {max_iters} rounds — raise "
                f"max_iters (peeling depth exceeds the bound)")
        return survivors(active)  # peeled empty: empty core

    def fn(df: DataFrame) -> DataFrame:
        e = df.drop(SEQ) if SEQ in df.columns else df
        a, b = F.col(src), F.col(dst)
        canon = (e.select(F.least(a, b).alias("a"),
                          F.greatest(a, b).alias("b"))
                  .where(F.col("a") < F.col("b"))
                  .distinct())
        und = canon.unionAll(
            canon.select(F.col("b").alias("a"), F.col("a").alias("b")))
        # lazy checkpoint: the count right below materializes it in the
        # same job instead of running checkpoint + count back to back
        # (r15 job-count trim, guide §2.4)
        und = und.localCheckpoint(eager=False)
        n_edges = und.count()
        # width 8: a directed edge's two ids plus the numpy work arrays
        pdf = smallio.driver_collect(und, n_edges, width=8)
        if pdf is not None:
            return _driver_core(pdf, dict(und.dtypes)["a"], n_edges,
                                df.sparkSession)
        for it in range(max_iters):
            if n_edges == 0:
                break
            deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("__n"))
            keep = deg.where(F.col("__n") >= k).select("a")
            nxt = (und.join(keep, "a", "semi")
                      .join(keep.select(F.col("a").alias("b")),
                            "b", "semi"))
            if (it + 1) % checkpoint_every == 0:
                nxt = nxt.localCheckpoint(eager=False)  # count drives it
            n_next = nxt.count()
            if n_next == n_edges:
                return und.select(F.col("a").alias("id")).distinct()
            und, n_edges = nxt, n_next
            # n_next == 0 IS the fixpoint (empty core) — without this
            # a graph that peels empty exactly on the last allowed
            # round exhausted the loop and raised spuriously (ADVICE
            # r10); the top-of-loop guard only helps if a spare
            # iteration remains
            if n_edges == 0:
                break
        else:
            raise RuntimeError(
                f"k_core: no fixpoint after {max_iters} rounds — raise "
                f"max_iters (peeling depth exceeds the bound)")
        # graph peeled empty: the k-core is empty (und is the empty
        # edge table here — keeps the caller's id dtype)
        return und.select(F.col("a").alias("id")).distinct()

    return Stage(fn, name=f"{name}(k={k})", seq_preserving=False)


def _lp_driver(nodes: DataFrame, epdf, dt: str, label_col: str,
               id_col: str, iters: int, out: str,
               spark) -> "DataFrame | None":
    """Driver fast path for :func:`label_propagation` (the
    _cc_min_label budget posture): the clamped-majority rounds run
    vectorized over the collected edge arrays — one ``np.add.at`` into
    a (vertex × label) vote matrix IS the per-round weighted vote
    aggregate; ``argmax`` row-wise with order-preserving label codes
    reproduces the "max count, ties to the smallest label" struct-min
    exactly (np.unique sorts, so smaller code == lexicographically
    smaller label, and argmax returns the FIRST maximum).  Only the
    EDGE VERTICES' seed labels are collected (propagation can only
    reach them — everything else keeps its seed/NULL by the recompute-
    from-scratch semantics); the result re-attaches distributively as
    one broadcast join, so the nodes table itself never moves.
    Returns None to decline (duplicate ids among the edge vertices,
    or a label alphabet too wide for the dense vote matrix) — the
    distributed loop then runs unchanged."""
    import numpy as np
    import pandas as pd

    sd = np.concatenate([epdf["__s"].to_numpy(), epdf["__d"].to_numpy()])
    verts, inv = np.unique(sd, return_inverse=True)
    n = len(verts)
    s, d = inv[:len(epdf)], inv[len(epdf):]
    w = epdf["__w"].to_numpy()
    # seed labels for the edge vertices only (bounded by the budget)
    vdf = smallio.local_frame(spark, pd.DataFrame({"__vid": verts}),
                              f"__vid {dt}")
    spdf = (nodes.select(F.col(id_col).alias("__vid"),
                         F.col(label_col).cast("string").alias("__seed"))
                 .join(F.broadcast(vdf), "__vid").toPandas())
    if len(spdf) != n or spdf["__vid"].duplicated().any():
        return None  # duplicate/missing ids — keep exact distributed path
    order = np.searchsorted(verts, spdf["__vid"].to_numpy())
    seed = np.full(n, None, dtype=object)
    seed[order] = spdf["__seed"].to_numpy()
    labels_all = np.array(sorted({x for x in seed if x is not None}),
                          dtype=object)
    nl = len(labels_all)
    if nl == 0:
        # no seeds anywhere near the graph: every pick is NULL
        prop = seed.copy()
    else:
        if n * nl > smallio.DRIVER_CELLS:
            return None  # dense vote matrix would not be driver-sized
        code = {l: i for i, l in enumerate(labels_all)}
        seed_code = np.array([code[x] if x is not None else -1
                              for x in seed], dtype=np.int64)
        cur = seed_code.copy()
        lo = np.iinfo(np.int64).min
        votes = np.empty((n, nl), dtype=np.int64)
        nvote = np.empty((n, nl), dtype=np.int64)
        for _ in range(iters):
            votes.fill(0)
            nvote.fill(0)
            labeled = cur[s] >= 0
            np.add.at(votes, (d[labeled], cur[s][labeled]), w[labeled])
            np.add.at(nvote, (d[labeled], cur[s][labeled]), 1)
            # a (vertex, label) candidate EXISTS whenever any labeled
            # neighbour voted, even with zero/negative weight sums —
            # the distributed groupBy emits the row either way
            masked = np.where(nvote > 0, votes, lo)
            got = nvote.max(axis=1) > 0
            pick = np.where(got, masked.argmax(axis=1), -1)
            cur = np.where(seed_code >= 0, seed_code, pick)
        prop = np.where(cur >= 0, labels_all[np.clip(cur, 0, None)],
                        None)
    pout = pd.DataFrame({"__vid": verts, "__lpv": prop})
    prop_df = smallio.local_frame(spark, pout, f"__vid {dt}, __lpv string")
    joined = nodes.join(
        F.broadcast(prop_df.withColumnRenamed("__vid", id_col)),
        id_col, "left")
    # NULL-id node rows never match the distributed loop's final join,
    # so their out column is NULL even when seeded — replicate exactly
    return joined.select(
        *nodes.columns,
        F.when(F.col(id_col).isNotNull(),
               F.coalesce(F.col(label_col).cast("string"),
                          F.col("__lpv"))).alias(out))


def label_propagation(edges: Union[DataFrame, Source],
                      label_col: str = "label", id_col: str = "id", *,
                      iters: int = 5,
                      weight_col: Optional[str] = None,
                      weight_round: int = 6,
                      out: str = "label_prop") -> Stage:
    """Semi-supervised label propagation (Zhu & Ghahramani 2002,
    majority-vote variant): spread the labels of SEED nodes (rows
    whose ``label_col`` is non-NULL) across an undirected edge graph.
    The LLM-corpus use: rate a few thousand documents by hand, connect
    near-duplicates/neighbors (minhash_dedup_pairs, ann_join), and let
    the ratings cover the corpus.

    Semantics (deterministic, engine-replayable):
      * seeds are CLAMPED — a seed's label never changes;
      * each round, every NON-seed node takes the weighted majority
        label among its neighbors' PREVIOUS-round labels (NULLs cast
        no vote); ties break to the lexicographically smallest label;
      * non-seed labels are recomputed from scratch each round (a node
        whose labeled neighbors disappear reverts to NULL) — the state
        is a pure function of the previous round, which is what lets
        one static unrolled-CTE SQL replay the whole run;
      * ``weight_col`` votes are scaled-long sums (``weight_round``
        decimals) so vote totals are order-free exact integers.

    Plan per round (the bounded-iteration pattern of pagerank /
    _cc_min_label): symmetrized edges join the (id, label) state —
    both narrow — one (node, label) hash aggregate, one max-count
    aggregate + min-label tie resolve, one left join back to the
    seeds.  localCheckpoint every 3 rounds bounds lineage.  Output =
    input rows + ``out`` (the final label; seeds keep their own)."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if weight_col is not None and not 1 <= weight_round <= 9:
        raise ValueError(f"weight_round must be in [1, 9], "
                         f"got {weight_round}")

    def fn(nodes: DataFrame) -> DataFrame:
        e = _edges_df(edges, nodes.sparkSession)
        ecols = [c for c in e.columns if c != SEQ]
        src, dst = ecols[0], ecols[1]
        if weight_col is None:
            vote = F.lit(1).cast("long")
            base_e = e.select(F.col(src).alias("__s"),
                              F.col(dst).alias("__d"),
                              vote.alias("__w"))
        else:
            w = F.round(F.col(weight_col)
                        * F.lit(10 ** weight_round)).cast("long")
            base_e = e.select(F.col(src).alias("__s"),
                              F.col(dst).alias("__d"), w.alias("__w"))
        # r15 (guide §2.4/§5): sym is joined EVERY round, but its plan
        # can be an arbitrary caller subtree (the bench feeds the full
        # minhash banding) — without a materialization barrier the one
        # final action recomputes that subtree iters times.  track()
        # rewrites all round occurrences to one shared InMemoryRelation
        # (released between queries by the cache registry).
        from conduino_spark.plans.cachereg import track
        sym = track(base_e.unionByName(
            base_e.select(F.col("__d").alias("__s"),
                          F.col("__s").alias("__d"), "__w")))
        # r16: the count materializes the cache before the unrolled
        # rounds fan out over it (the minhash sig-cache fill-race fix)
        # AND gates the driver fast path
        n_directed = sym.count()
        # width 8: a directed edge's two ids plus the numpy work arrays
        epdf = smallio.driver_collect(sym, n_directed, width=8)
        if epdf is not None:
            out_df = _lp_driver(nodes, epdf, dict(sym.dtypes)["__s"],
                                label_col, id_col, iters, out,
                                nodes.sparkSession)
            if out_df is not None:
                return out_df
        seeds = nodes.select(F.col(id_col).alias("__id"),
                             F.col(label_col).cast("string")
                             .alias("__seed")).localCheckpoint(eager=False)
        cur = seeds.select("__id", F.col("__seed").alias("__lbl"))
        for r in range(iters):
            votes = (sym.join(cur.select(F.col("__id").alias("__s"),
                                         "__lbl"), "__s")
                        .where(F.col("__lbl").isNotNull())
                        .groupBy(F.col("__d").alias("__id"), "__lbl")
                        .agg(F.sum("__w").alias("__c")))
            # argmax fold (r15, guide §2.4): min over (-count, label)
            # structs == "max count, ties to the smallest label" in one
            # aggregate — replaces the max-count agg + equi-join +
            # tie-break agg (two exchanges + a join per round)
            pick = (votes.groupBy("__id")
                         .agg(F.min(F.struct(
                             (-F.col("__c")).alias("c"),
                             F.col("__lbl").alias("l"))).alias("__b"))
                         .select("__id", F.col("__b.l").alias("__new")))
            cur = (seeds.join(pick, "__id", "left")
                        .select("__id",
                                F.coalesce("__seed", "__new")
                                .alias("__lbl")))
            if (r + 1) % 3 == 0 and r + 1 < iters:
                # lazy: truncates lineage at the final action without
                # paying a mid-loop driver-synchronous job (r15, §2.4)
                cur = cur.localCheckpoint(eager=False)
        return nodes.join(
            cur.select(F.col("__id").alias(id_col),
                       F.col("__lbl").alias(out)), id_col, "left")

    return Stage(fn, name=f"label_propagation({iters})",
                 seq_preserving=False)
