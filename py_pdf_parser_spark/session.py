"""SparkSession factory tuned for the extraction workload.

Local sandbox runs ``local[N]`` (single JVM); the same configuration set
applies on a real cluster via ``spark-submit --py-files`` (see README).
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import SparkSession


def iceberg_configs(
    warehouse: str, catalog: str = "corpus"
) -> dict:
    """Session configs for an Apache Iceberg catalog (the table format
    the north rule names for the 10^12-doc corpus).

    Apply BEFORE the session is created (``get_spark(iceberg_warehouse=
    ...)`` or spark-submit --conf).  Needs the public
    ``iceberg-spark-runtime`` jar on the cluster classpath — not baked
    into this sandbox, so nothing here activates by default; the parquet
    path layout (bucket partition column + dynamic partition overwrite)
    is the sandbox stand-in with the same idempotent-resume semantics.
    On Iceberg, dynamic overwrite maps to ``overwritePartitions()`` and
    the lineage table becomes a plain Iceberg table; bucketing uses a
    hidden ``bucket(B, doc_id)`` partition transform instead of the
    materialized bucket column."""
    return {
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions"
            ".IcebergSparkSessionExtensions"
        ),
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }


def get_spark(
    cores: Optional[int] = None,
    app_name: str = "spark-pdf-extract",
    shuffle_partitions: Optional[int] = None,
    iceberg_warehouse: Optional[str] = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or cores
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        # Shuffle partitions sized to cores, not the 200 default.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalescing + skew-join splitting.
        # Event-time semantics must not depend on the host timezone.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Anchor joins carry extra equalities (page_number) beyond the
        # bucketing key; allow subset-key co-partitioning so joins over
        # the bucketBy(doc_id) elements table stay exchange-free instead
        # of reshuffling both sides on the widened key set.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        # Arrow transfer for pandas UDF kernels.  Batch size is
        # load-bearing: small batches (e.g. 512) make the JVM<->Python
        # round-trip dominate and anti-scale under concurrency (measured:
        # 3x slower at local[32] vs 8192; 32768 is a further ~5% win at
        # 32 concurrent workers in local mode and ~20% in multi-executor
        # local-cluster mode — fewer handoffs per task).  32k docs x ~20
        # spans is ~40-80 MB per batch — well within worker memory.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "32768"),
        )
        # Input split sizing: keep scan tasks balanced at scale.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        # No console progress bars: the bench/driver contract is ONE
        # parseable JSON line on stdout, and progress output has
        # polluted the driver's capture before (BENCH_r03 parsed: null).
        .config("spark.ui.showConsoleProgress", "false")
        # Single-JVM local mode hosts all executor threads: GC pressure
        # at high core counts needs a big heap (measured: 8g heap cost
        # 1.5x at local[32]).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
    )
    if iceberg_warehouse:
        for k, v in iceberg_configs(iceberg_warehouse).items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
