"""SparkSession builder with the engine's scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "data-contract-engine-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """AQE on (skew-join + partition coalescing), Arrow on, UTC session
    timezone (deterministic timestamp semantics for oracle comparison),
    shuffle partitions sized to the parallelism level instead of the
    200 default.

    PySpark's per-call call-site capture is off
    (``spark.python.sql.dataFrameDebugging.enabled=false``): with it on,
    every ``functions.*`` and Column call walks the Python stack and makes
    JVM calls, and one validation makes hundreds of them. The cost is that
    analysis errors lose their Python call-site "DataFrame" context; pass
    the setting as ``true`` in ``extra_conf`` to get it back (it is read
    once per process, on the first such call)."""
    master = master or os.environ.get("SPARK_MASTER", "local[*]")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if shuffle_partitions is None:
        if master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = max(int(master[6:-1]), 4)
        elif cpus and cpus.isdigit():
            shuffle_partitions = max(int(cpus), 4)
        else:
            shuffle_partitions = 32
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # modern timestamp physical type: INT96 (the legacy default)
        # carries NO parquet footer min/max stats, which both kills scan
        # row-group pruning on ts predicates and blanks the snapshot
        # catalog's manifest stats (SnapshotParquetCatalog)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
