"""SparkSession factory.

One place to configure the engine so tests, bench.py and spark-submit jobs
agree. Scale knobs follow SURVEY.md §7.4: shuffle partitions proportional to
cores so local[8] vs local[32] is an honest N-vs-4N comparison; AQE enabled
(incl. skew-join splitting) because the within-block self-join is skewed by
construction; Arrow enabled for the vectorized scoring UDF; the codegen
class cache sized to the engine's working set, so warm runs compile nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def cores_from_master(master: str) -> int:
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner == "*":
            return os.cpu_count() or 8
        return int(inner)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "belb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all cores).
    ``shuffle_partitions`` defaults to cores (single-box: 1 wave of tasks per
    shuffle; on a real cluster you would size this to ~2-3x total cores).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    cores = cores_from_master(master)
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local sandbox inputs are single small files; small scan ranges keep
        # every core busy (on a real cluster with many files, raise to 128m)
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # reliable-checkpoint files (dedup pair materialization, CC rounds)
        # are GC'd with their RDDs instead of accumulating on disk
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # generated classes are cached per (context class loader, source) in
        # an LRU of 100 entries by default. One TINY ER run needs 157 keys,
        # one perfbench `queries` pass 141 and all queries() entries 709, so
        # at 100 every warm run recompiled ~150 classes (~1 s). A resident
        # entry costs ~28 KB of heap: a full cache is ~29 MB. Static conf,
        # read once per JVM: it must be set on the JVM's first session.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_checkpoint_dir(spark: SparkSession) -> None:
    """Set an RDD checkpoint dir if none is configured (required before
    ``DataFrame.checkpoint``). On a cluster point this at durable shared
    storage (HDFS/S3/Iceberg scratch); locally a temp dir suffices."""
    sc = spark.sparkContext
    if sc._jsc.sc().getCheckpointDir().isEmpty():
        import tempfile

        sc.setCheckpointDir(tempfile.mkdtemp(prefix="belb_spark_rdd_ckpt_"))


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Janino has compiled so far. The counter is JVM-wide: it counts
    every session's and every thread's compiles, not one query's."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
