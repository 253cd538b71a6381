"""SparkSession factory tuned for this engine.

AQE on (runtime re-plan, skew-join splitting, partition coalescing), Arrow on
(the sketch pass and image/NL UDFs are Arrow-batched), shuffle partitions sized
to cores for local mode — on a real cluster leave shuffle partitions to AQE's
coalescing from a high initial value.

Two settings cut the per-call driver cost of a long-lived session that plans
the same query shapes again and again. Both are read once per process, so
they only take effect when set at session creation:

- ``spark.sql.codegen.cache.maxEntries`` (static SQL conf) is raised to
  :data:`CODEGEN_CACHE_ENTRIES`, so the generated classes of one validation
  cycle stay compiled across cycles instead of being evicted and recompiled.
- ``spark.python.sql.dataFrameDebugging.enabled`` is off. With it on, PySpark
  records the Python call site of every ``Column`` call (extra py4j round
  trips, a stack walk and an ``ipykernel`` import probe per call); errors then
  lose the "DataFrame query context" line naming the Python file and line
  that built the failing expression. Pass
  ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}`` to
  get it back.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Generated-class LRU size. Spark's default (100) is smaller than one
# validation cycle's working set: ~174 classes per cycle of exact + sketch
# stats, schema inference, drift, row checks, skew and near-dup over four
# tables, ~121 per cold validate_images cycle. At 100 every cycle recompiles
# ~158 classes with Janino; at 1000 a warm cycle recompiles none.
CODEGEN_CACHE_ENTRIES = 1000

ICEBERG_PACKAGE = "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0"


def iceberg_conf(warehouse: str, catalog: str = "local") -> dict:
    """Spark conf wiring a local Hadoop-catalog Iceberg warehouse.

    Usage (cluster or local; needs network / a jar cache for the runtime):

        spark = get_spark(extra_conf={
            "spark.jars.packages": ICEBERG_PACKAGE,
            **iceberg_conf("/path/warehouse"),
        })
        df = read_iceberg(spark, "local.db.images")

    or with spark-submit:

        spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0 \\
            --py-files dist/data_validation_spark.zip tools/run_validation.py \\
            --format iceberg --input local.db.images ...

    The sandbox image ships no Iceberg jar, so tests exercise identical
    partition-pruning semantics over hive-partitioned parquet (see
    tests/test_plans.py); the engine code paths are format-agnostic.
    """
    return {
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
    }


def get_spark(
    app_name: str = "data_validation_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER", "local[*]")
    if shuffle_partitions is None:
        # CPUs this process may run on (what ``nproc`` reports), not the
        # host's count; platforms without affinity fall back to the latter.
        if hasattr(os, "sched_getaffinity"):
            cores = len(os.sched_getaffinity(0))
        else:
            cores = os.cpu_count() or 8
        if master.startswith("local["):
            spec = master[6:-1]
            if spec.isdigit():
                cores = int(spec)
        shuffle_partitions = max(cores, 8)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Local-mode split sizing: sandbox inputs are a few hundred MB, so the
        # 128 MB default yields too few scan tasks to use all cores. On a real
        # cluster at 100 TB leave this at 128m — splits are plentiful there.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_FILES_MAX_PARTITION_BYTES", "16m"),
        )
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
