"""Driver-held tables reach Spark as Arrow local relations.

Every site that turns a table the driver already holds into a
DataFrame goes through ``smallio.local_frame``.  The laws below check
each site on an empty and a non-empty input: the rows and the schema
(names, types, nullability) are the ones ``createDataFrame`` gave the
same data, and no frame the library builds, nor the result, scans a
``Scan ExistingRDD`` (a Python-worker job on every scan).  The last
law keeps ``createDataFrame`` out of the library outside the helper.
"""

import ast
import random
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql.types import (ArrayType, BooleanType, DoubleType,
                               IntegerType, LongType, StringType,
                               StructField, StructType)

from conduino_spark import sources, streaming
from conduino_spark.operators import (dedup, search, similarity, smallio,
                                      stateful)
from conduino_spark.operators.smallio import local_frame

ROOT = Path(__file__).resolve().parent.parent


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture
def built(monkeypatch):
    """Every frame the library builds through ``local_frame`` while the
    test runs."""
    frames = []
    real = smallio.local_frame

    def spy(spark, data, schema):
        df = real(spark, data, schema)
        frames.append(df)
        return df

    for mod in (smallio, dedup, search, similarity, stateful, sources,
                streaming):
        monkeypatch.setattr(mod, "local_frame", spy)
    return frames


def _local(result, built, *schemas):
    """The library built a frame of each DDL ``schemas``, every built
    frame is a LocalTableScan, and neither they nor ``result`` scan an
    RDD."""
    got = {f.schema.simpleString() for f in built}
    for ddl in schemas:
        assert f"struct<{ddl}>" in got, (ddl, got)
    for f in built:
        assert "LocalTableScan" in _plan(f), _plan(f)
    for f in built + [result]:
        assert "ExistingRDD" not in _plan(f), _plan(f)


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _same_as_create(spark, data, schema):
    df = local_frame(spark, data, schema)
    want = spark.createDataFrame(data, schema)
    assert df.schema == want.schema
    assert df.select("*").schema == want.schema   # the JVM side agrees
    assert _rows(df) == _rows(want)
    assert "LocalTableScan" in _plan(df)
    assert "ExistingRDD" not in _plan(df)
    return df


# ---------------------------------------------------------------------------
# the helper itself
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("rows", [[], [(1, "a", 2.5), (None, None, None)]])
def test_local_frame_ddl_rows(spark, rows):
    _same_as_create(spark, rows, "a int, b string, c double")


@pytest.mark.parametrize("rows", [[], [(1, True, [1, None]), (2, None, None)]])
def test_local_frame_struct_rows_keep_nullability(spark, rows):
    schema = StructType([StructField("k", LongType(), False),
                         StructField("f", BooleanType(), True),
                         StructField("xs", ArrayType(LongType()), True)])
    df = _same_as_create(spark, rows, schema)
    assert df.schema["k"].nullable is False


@pytest.mark.parametrize("n", [0, 3])
def test_local_frame_pandas(spark, n):
    pdf = pd.DataFrame({"id": pd.Series(range(n), dtype="int64"),
                        "s": pd.Series([f"x{i}" for i in range(n)],
                                       dtype=object)})
    df = _same_as_create(spark, pdf, "id bigint, s string")
    if n == 0:
        assert "LocalTableScan <empty>" in _plan(df)


@pytest.mark.parametrize("rows,schema", [
    ([("x",)], "a long"),
    ([(1.5,)], "a long"),
    ([(1,)], "a double"),
    ([(None,)], StructType([StructField("a", LongType(), False)])),
])
def test_local_frame_misfit_value_raises_like_create(spark, rows, schema):
    with pytest.raises((TypeError, ValueError)) as want:
        spark.createDataFrame(rows, schema)
    with pytest.raises(type(want.value)) as got:
        local_frame(spark, rows, schema)
    assert str(got.value) == str(want.value)


def test_local_frame_misfit_pandas_raises(spark):
    with pytest.raises((TypeError, ValueError)):
        local_frame(spark, pd.DataFrame({"a": ["x"]}), "a long")


# ---------------------------------------------------------------------------
# the converted sites, empty and non-empty
# ---------------------------------------------------------------------------

_NO_DUP = [(1, "the quick brown fox jumps over the lazy dog"),
           (2, "completely different words appear in this second document"),
           (3, "yet another unrelated text about spark engines and tables")]
_DUP = [(1, _NO_DUP[0][1]), (2, _NO_DUP[0][1]),
        (3, _NO_DUP[2][1]), (4, _NO_DUP[2][1])]


@pytest.mark.parametrize("docs,want", [(_NO_DUP, []),
                                       (_DUP, [(1, 1), (2, 1), (3, 3),
                                               (4, 3)])])
def test_minhash_cc_labels_driver_path(spark, built, docs, want):
    from conduino_spark import minhash_cc_labels, minhash_dedup_pairs
    d = local_frame(spark, docs, "doc_id long, text string")
    built.clear()
    out = minhash_cc_labels(minhash_dedup_pairs()(d))
    assert out.schema == StructType([StructField("id", LongType()),
                                     StructField("lbl", LongType())])
    assert _rows(out) == want
    _local(out, built, "id:bigint,lbl:bigint")


_E1 = [(1, 2), (2, 3), (3, 1), (3, 4)]


@pytest.mark.parametrize("edges,dt,want", [
    ([], "long", []), ([], "string", []), (_E1, "long", [(1,), (2,), (3,)])])
def test_k_core_driver_path(spark, built, edges, dt, want):
    from conduino_spark import k_core
    e = local_frame(spark, edges, f"id_a {dt}, id_b {dt}")
    built.clear()
    out = k_core(2)(e)
    t = LongType() if dt == "long" else StringType()
    assert out.schema == StructType([StructField("id", t)])
    assert _rows(out) == want
    _local(out, built, f"id:{t.simpleString()}")


@pytest.mark.parametrize("edges,want", [
    ([], [(1, "a", "a"), (2, None, None), (3, None, None), (4, "b", "b"),
          (5, None, None)]),
    (_E1, [(1, "a", "a"), (2, None, "a"), (3, None, "a"), (4, "b", "b"),
           (5, None, None)])])
def test_label_propagation_driver_path(spark, built, edges, want):
    from conduino_spark import label_propagation
    e = local_frame(spark, edges, "id_a long, id_b long")
    nodes = local_frame(spark, [(1, "a"), (2, None), (3, None), (4, "b"),
                                (5, None)], "id long, label string")
    built.clear()
    out = label_propagation(e)(nodes)
    assert out.schema == StructType([StructField("id", LongType()),
                                     StructField("label", StringType()),
                                     StructField("label_prop",
                                                 StringType())])
    assert _rows(out) == want
    _local(out, built, "__vid:bigint", "__vid:bigint,__lpv:string")


_ANN_SCHEMA = StructType([StructField("vec_id", LongType()),
                          StructField("neighbor_id", LongType()),
                          StructField("cosine", DoubleType()),
                          StructField("rank", IntegerType(), False)])


def _no_centroid_frame(built):
    """A ``centroids=`` model ranks cells straight from the dict: no
    (cell, dim, mean) frame is built for it."""
    assert not [f for f in built if "__m" in f.columns], built


def test_ann_join_centroid_means(spark, built, sf_dir):
    from conduino_spark import ann_join, cell_centroids, hash_sample
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    batch = hash_sample("vec_id", 0.1, salt="annq")(emb)
    cents = cell_centroids(emb, cell_col="label")
    out = ann_join(emb, k=3, nprobe=2, exclude_self=True,
                   centroids=cents)(batch)
    assert out.schema == _ANN_SCHEMA
    _local(out, built)
    _no_centroid_frame(built)
    want = ann_join(emb, k=3, nprobe=2, exclude_self=True)(batch)
    assert _rows(out) == _rows(want) and len(_rows(out)) > 0


def test_ann_join_no_means_empty_probes(spark, built, sf_dir):
    from conduino_spark import ann_join, hash_sample
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    batch = hash_sample("vec_id", 0.1, salt="annq")(emb)
    out = ann_join(emb, k=3, nprobe=2, exclude_self=True,
                   centroids={})(batch)
    assert out.schema == _ANN_SCHEMA
    assert _rows(out) == []
    _local(out, built, "vec_id:bigint,__cell:int")
    _no_centroid_frame(built)


@pytest.mark.parametrize("docs,want", [
    ([(1, "a b c d"), (2, "x a b y"), (3, "nothing")], [(1, 1, 0),
                                                       (2, 1, 1)]),
    ([], [])])
def test_phrase_search_terms(spark, built, docs, want):
    from conduino_spark import phrase_search
    d = local_frame(spark, docs, "doc_id long, text string")
    built.clear()
    out = phrase_search("a b")(d)
    assert out.schema == StructType([StructField("doc_id", LongType()),
                                     StructField("n_hits", LongType(),
                                                 False),
                                     StructField("first_pos",
                                                 IntegerType())])
    assert _rows(out) == want
    _local(out, built, "__t:string,__i:int")


@pytest.mark.parametrize("n_docs", [0, 36])
def test_blocked_gemm_assignment_table(spark, built, monkeypatch, n_docs):
    from conduino_spark import jaccard_prefix_pairs
    r = random.Random(5)
    words = [f"w{i}" for i in range(14)]
    d = local_frame(spark, [(i, " ".join(r.choices(words,
                                                   k=r.randint(4, 12))))
                            for i in range(n_docs)],
                    "doc_id long, text string")
    built.clear()
    q = jaccard_prefix_pairs(threshold=0.25, n=1)
    out = q(d)
    assert out.schema == StructType([StructField("id_a", LongType()),
                                     StructField("id_b", LongType()),
                                     StructField("jaccard", DoubleType())])
    _local(out, built, "b:int,ba:int,bb:int,side:int")
    got = _rows(out)
    monkeypatch.setattr(dedup, "_GEMM_VERIFY_BUDGET", -1.0)
    assert got == _rows(q(d)) and (len(got) > 0) == (n_docs > 0)


@pytest.mark.parametrize("xs,want", [
    ([1.0, 5.0, 2.0, 7.5], [(0, 1.0, 1.0), (1, 5.0, 3.0), (2, 2.0, 2.5),
                            (3, 7.5, 5.0)]),
    ([], [])])
def test_ewma_carries(spark, built, xs, want):
    from conduino_spark import ewma, run_pipe, sink_df, source_list
    out = run_pipe(source_list(xs) | ewma(0.5, "v", npart=2) | sink_df(),
                   spark)
    t = DoubleType() if xs else LongType()
    assert out.schema == StructType([StructField("__seq", LongType(), False),
                                     StructField("v", t),
                                     StructField("ewma", DoubleType())])
    assert _rows(out) == want
    _local(out, built, "__pid:bigint,__carry:double")


@pytest.mark.parametrize("vals,t", [
    ([3, 1, 2], LongType()), ([None, 1, None], LongType()),
    ([None, None], LongType()), ([], LongType()),
    ([True, False, None], BooleanType()), ([1.5, None, -0.0], DoubleType()),
    (["a", None, "b"], StringType()),
    ([[1, 2], None, [], [3, None]], ArrayType(LongType())),
    ([(1, 2)], ArrayType(LongType()))])
def test_source_list_scalars(spark, built, vals, t):
    from conduino_spark import source_list
    out = source_list(vals).df(spark)
    assert out.schema == StructType([StructField("__seq", LongType(), False),
                                     StructField("v", t)])
    want = [(i, list(v) if isinstance(v, tuple) else v)
            for i, v in enumerate(vals)]
    assert _rows(out) == sorted(want, key=repr)
    _local(out, built, f"__seq:bigint,v:{t.simpleString()}")


# ---------------------------------------------------------------------------
# one path: no other createDataFrame of driver data in the library
# ---------------------------------------------------------------------------

def _create_calls(path: Path):
    """(enclosing function names, call) for each ``.createDataFrame(``
    call in ``path``."""
    tree = ast.parse(path.read_text(), str(path))
    found = []

    def walk(node, scope):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = scope + (child.name,)
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "createDataFrame"):
                found.append((inner, child))
            walk(child, inner)

    walk(tree, ())
    return found


def test_create_dataframe_only_in_local_frame():
    files = sorted((ROOT / "conduino_spark").rglob("*.py"))
    files.append(ROOT / "__spark_entry__.py")
    stray = []
    for path in files:
        rel = path.relative_to(ROOT).as_posix()
        for scope, call in _create_calls(path):
            if (rel == "conduino_spark/operators/smallio.py"
                    and scope == ("local_frame",)):
                continue
            # source_list's dict rows keep Spark's schema inference
            if (rel == "conduino_spark/sources/__init__.py"
                    and scope[:1] == ("source_list",)
                    and len(call.args) == 1 and not call.keywords):
                continue
            stray.append(f"{rel}:{call.lineno} in {'.'.join(scope)}")
    assert stray == [], stray
