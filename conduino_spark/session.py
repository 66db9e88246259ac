"""SparkSession factory with the engine's scale-tuned defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def tuned_confs() -> "dict[str, str]":
    """The engine's scale-tuned session confs, shared by
    :func:`get_spark` AND the standalone tool sessions
    (tools/profile_stages.py) so the two can never silently drift
    (ADVICE r15) — a profile taken under different confs than the bench
    would attribute time to the wrong operator."""
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # r15 A/B (guide §1/§2.2, recorded in OPTIMIZATION_r15.md):
        # size-based coalescing (parallelismFirst=false + advisory
        # 16m-64m) measured 4-12% SLOWER on the local bench — in-JVM
        # task launch is cheap, so the 32-task fixed cost it removes is
        # smaller than the parallelism it costs CPU-dense-but-byte-
        # light sf0.1 stages.  Local default therefore stays Spark's
        # parallelism-first.  At cluster scale the trade flips (per-
        # task cost includes real scheduling + fetch RPCs; partition
        # bytes grow with data): a cluster session sets
        # parallelismFirst=false and an advisory size of 256m (guide §9).
        # Explicit repartition(N, ...) kernels are never coalesced
        # either way.
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
        # skewed sort-merge joins re-split at runtime (LSH band joins,
        # hot keys); free when unused
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # 128m splits: at 100 TB this bounds scan-task memory; local
        # parquet this small never reaches it
        "spark.sql.files.maxPartitionBytes": "134217728",
        # r15 (guide §6, file listing): the persisted shard-partitioned
        # indexes (lsh 248 leaf paths, minhash/simhash/exact/dupspan/
        # bm25 64 shards each) sit past Spark's default distributed-
        # listing threshold (32 paths), so EVERY probe paid 1-2 full
        # Spark jobs of hundreds of empty listing tasks — 2-4 s wall on
        # knn_methods alone (profile_stages: 'Listing leaf files ...
        # 248 paths' 2.15 + 4.41 s).  On a local FS the driver lists
        # O(1k) dirs in microseconds; raise the threshold so listing
        # stays driver-side.  Cluster posture: on object stores with
        # genuinely huge partition counts, distributed listing still
        # engages past 1024 paths, and manifest-based table formats
        # avoid the listing entirely (guide §6).
        "spark.sql.sources.parallelPartitionDiscovery.threshold": "1024",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "48g"),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # driver testdata stores events.ts as TIMESTAMP(NANOS), which
        # Spark 4 rejects; read as long and rebuild (sources.read_table)
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # tz-naive parquet timestamps arrive as TIMESTAMP (session UTC),
        # not TIMESTAMP_NTZ — value-identical to DuckDB's naive reads,
        # and NTZ rejects cast("long")/unix_micros in Spark 4.1.2.
        # timeutil.ts_col is the belt-and-braces if data still lands NTZ.
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        "spark.sql.warehouse.dir":
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-warehouse"),
    }


def get_spark(app: str = "conduino_spark", *, cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = shuffle_partitions or cpus
    b = (SparkSession.builder
         .master(f"local[{cpus}]")
         .appName(app)
         .config("spark.sql.shuffle.partitions", str(shuffle))
         .config("spark.ui.enabled", "false"))
    for k, v in tuned_confs().items():
        b = b.config(k, v)
    return b.getOrCreate()
