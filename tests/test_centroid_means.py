"""Laws of the one centroid mean behind the vector-index family.

Every centroid model in ``operators/similarity.py`` (kmeans_fit,
ivf_build, pq_train, cell_centroids, ivf_search's cell ranking and
ann_join's data means) comes from one guarded scaled-long
(key, dim) aggregate.  These laws pin what that aggregate shares:
NULL keys are no cells, an element too large for the fixed scale
raises under the caller's own label, and the ANN worker kernels
unpickle without importing the package.
"""

import subprocess
import sys
from pathlib import Path

import pytest
from pyspark import cloudpickle
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.pandas.group_ops import PandasCogroupedOps
import pyspark.sql.functions as F

from conduino_spark.operators import similarity as S

ROOT = Path(__file__).resolve().parent.parent


def _nulls(spark):
    # the two NULL-label vectors are the nearest to q = [1, 0]
    return spark.createDataFrame(
        [(1, 0, [1.0, 0.2]), (2, 1, [0.0, 1.0]), (3, 1, [0.2, 1.0]),
         (4, None, [1.0, 0.0]), (5, None, [1.0, 0.01])],
        "vec_id long, label long, embedding array<double>")


def test_null_cell_is_no_cell(spark):
    df = _nulls(spark)
    assert S.cell_centroids(df, cell_col="label") == {
        0: [1.0, 0.2], 1: [0.1, 1.0]}
    got = {nprobe: sorted(r["vec_id"] for r in S.ivf_search(
               [1.0, 0.0], 10, cell_col="label", nprobe=nprobe)(df)
               .collect())
           for nprobe in (1, 2)}
    assert got == {1: [1], 2: [1, 2, 3]}


def _ann(df):
    return S.ann_join(df, 2, cell_col="label")(df).collect()


@pytest.mark.parametrize("label,call", [
    ("cell_centroids", lambda df: S.cell_centroids(df, cell_col="label")),
    ("kmeans_fit means", lambda df: S.kmeans_fit(df, k=2, iters=1)),
    ("ivf_build means", lambda df: S.ivf_build(k=2)(df)),
    ("pq_train means", lambda df: S.pq_train(df, m=2, k=2)),
    ("ivf_search means",
     lambda df: S.ivf_search([1.0, 0.0], 2, cell_col="label")(df).collect()),
    ("ann_join means", _ann),
])
def test_overflowing_mean_raises_with_its_label(spark, label, call):
    df = spark.createDataFrame(
        [(1, 0, [1e8, 0.0]), (2, 0, [0.5, 0.5]), (3, 1, [0.0, 1.0])],
        "vec_id long, label long, embedding array<double>")
    with pytest.raises(Exception, match=rf"{label}: .*2\^53"):
        call(df)


def _kernels(monkeypatch):
    """Every function the library hands to mapInPandas, a cogrouped
    applyInPandas or pandas_udf while the returned list is live."""
    got = []
    real_map = ClassicDataFrame.mapInPandas
    real_cog = PandasCogroupedOps.applyInPandas
    real_udf = F.pandas_udf

    def spy_map(self, func, *a, **kw):
        got.append(func)
        return real_map(self, func, *a, **kw)

    def spy_cog(self, func, *a, **kw):
        got.append(func)
        return real_cog(self, func, *a, **kw)

    def spy_udf(*a, **kw):
        wrap = real_udf(*a, **kw)

        def capture(func):
            got.append(func)
            return wrap(func)
        return capture

    monkeypatch.setattr(ClassicDataFrame, "mapInPandas", spy_map)
    monkeypatch.setattr(PandasCogroupedOps, "applyInPandas", spy_cog)
    monkeypatch.setattr(F, "pandas_udf", spy_udf)
    return got


def test_ann_worker_kernels_import_no_package_module(spark, sf_dir,
                                                     monkeypatch,
                                                     tmp_path):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = _kernels(monkeypatch)
    S.ann_join(emb, 3, kernel="exact")(emb)
    S.ann_join(emb, 3, kernel="gemm")(emb)
    book = {s: {0: [0.0] * 8, 1: [1.0] * 8} for s in range(8)}
    S.pq_encode(book)(emb)
    names = [f.__name__ for f in got]
    assert names == ["rank_cells", "rank_cells", "cell_topk", "encode"]
    for i, f in enumerate(got):
        (tmp_path / f"k{i}.pkl").write_bytes(cloudpickle.dumps(f))
    # the pickle bytes name conduino_spark in __module__ either way:
    # what counts is which modules a fresh worker imports to load them
    probe = (
        "import pickle, sys\n"
        f"for i in range({len(got)}):\n"
        f"    pickle.loads(open(r'{tmp_path}/k%d.pkl' % i, 'rb').read())\n"
        "print(sorted(m for m in sys.modules\n"
        "             if m.split('.')[0] == 'conduino_spark'))\n")
    out = subprocess.run([sys.executable, "-c", probe], cwd=ROOT,
                         capture_output=True, text=True, check=True)
    assert out.stdout.strip() == "[]", out.stdout
