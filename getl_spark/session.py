"""SparkSession builder tuned for the CDC engine.

Reference parity: getl wires connections/drivers per backend
(/root/reference/src/main/groovy/getl/jdbc/JDBCConnection.groovy); here
the single backend is Spark itself, so this module is the whole
"connection" layer.

Scale notes (100 TB / 1000-executor design intent):
- AQE on: runtime coalescing, skew-join splitting.
- shuffle.partitions defaults to 2x cores locally; on a real cluster
  leave AQE's coalescing to size post-shuffle partitions.
- Arrow enabled for the pandas-UDF paths (simsearch's
  ``_all_buckets_udf`` and ``_ivf_cells_udf``).
- Session timezone pinned to UTC so results compare bit-for-bit with
  the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "getl-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    local_dir: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for the engine.

    ``cpus`` controls local-mode parallelism (``local[cpus]``); on a
    real cluster drop the ``master`` call and submit via spark-submit.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus * 2, 8)
    local_dir = local_dir or os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        # reliable checkpoints (connected_components checkpoint_dir
        # mode) are deleted when their RDD is GC'd instead of
        # accumulating one full copy per iteration forever
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # lz4, not zstd: zstd's JNI enters GCLocker critical sections
        # that intermittently stall G1 at high in-JVM thread counts
        # (measured: epoch latency 8s -> 25-54s spikes at local[32]);
        # lz4 is stall-free. On a real multi-executor cluster zstd is
        # fine (fewer threads per JVM) — override via extra_conf.
        .config("spark.sql.parquet.compression.codec", os.environ.get("SPARK_GRAFT_CODEC", "lz4"))
        # File-listing strategy: above this many paths Spark launches a
        # DISTRIBUTED listing job — one task per path. A MOR table a
        # few epochs in holds O(100) delta files, so with the default
        # threshold (32) every read paid a ~0.5 s 248-task job just to
        # stat local files (measured; ~1 s per bench replay). Local
        # filesystems stat thousands of paths in microseconds
        # driver-side; on an object store with 10k+ files per table,
        # lower this back via env so listing distributes again.
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            os.environ.get("SPARK_GRAFT_LIST_THRESHOLD", "4096"),
        )
    )
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
