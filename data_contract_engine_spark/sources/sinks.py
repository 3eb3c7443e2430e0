"""Result sinks (SURVEY.md §2.1 S6/S7/S9).

Replaces the reference's per-record SQLAlchemy commits
(`app/core/validation_engine.py:141-161` — one transaction per record!)
with bulk columnar writes:

  * violations: parquet partitioned by the run's partition column —
    dynamic partition overwrite makes per-partition re-runs idempotent
    (the Iceberg deployment uses ``MERGE INTO`` keyed by
    (run_id, partition) instead);
  * results/run summaries: append-only small relations;
  * retention (S9): the reference deletes results older than 90 days
    weekly (`app/utils/scheduler.py:51-71`); for parquet we filter-rewrite,
    for Iceberg it is ``DELETE FROM ... WHERE validated_at < cutoff`` +
    ``expire_snapshots``.
"""

from __future__ import annotations

import datetime as dt
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

RETENTION_DAYS = 90


def write_violations(
    violations: DataFrame,
    path: str,
    partition_cols: Optional[Sequence[str]] = None,
) -> None:
    w = violations.write.mode("overwrite")
    if partition_cols:
        # dynamic overwrite: only partitions present in this run are replaced
        w = w.option("partitionOverwriteMode", "dynamic").partitionBy(
            *partition_cols
        )
    w.parquet(path)


def append_results(results: DataFrame, path: str) -> None:
    results.write.mode("append").parquet(path)


def append_run_summary(
    spark: SparkSession,
    path: str,
    run_id: str,
    contract_id: str,
    total: int,
    passed: int,
    failed: int,
    quality_score: Optional[float],
    execution_time_ms: float,
) -> None:
    row = [(run_id, contract_id, total, passed, failed,
            (passed / total * 100.0) if total else 0.0,
            quality_score, execution_time_ms)]
    df = spark.createDataFrame(
        row,
        "run_id string, contract_id string, total long, passed long, "
        "failed long, pass_rate double, quality_score double, "
        "execution_time_ms double",
    ).withColumn("written_at", F.current_timestamp())
    df.write.mode("append").parquet(path)


def write_quarantine(
    run,
    path: str,
    partition_cols: Optional[Sequence[str]] = None,
) -> None:
    """Quarantine sink: the failed SOURCE ROWS (full record + its error
    array), for reprocessing/repair pipelines — complements the exploded
    violations artifact. Cheap under lean predicates: the error structs
    are only materialized for the failing rows."""
    failed = run._failed_with_errors()
    w = failed.write.mode("overwrite")
    if partition_cols:
        w = w.option("partitionOverwriteMode", "dynamic").partitionBy(
            *partition_cols
        )
    w.parquet(path)


def expire_results(
    spark: SparkSession,
    path: str,
    ts_col: str = "validated_at",
    retention_days: int = RETENTION_DAYS,
    now: Optional[dt.datetime] = None,
) -> int:
    """Retention sweep: keep only rows newer than the cutoff.

    Parquet has no row deletes, so this rewrites the relation (fine for
    the metadata-scale results table); the Iceberg variant is a
    metadata-only ``DELETE`` + snapshot expiry. Returns rows removed.

    Clock semantics: with no explicit ``now``, the cutoff is computed
    Spark-side (``current_timestamp() - make_interval``) so both sides of
    the comparison share one clock AND one session timezone — a
    driver-built naive-UTC literal would be re-interpreted in the session
    timezone and skew retention by the host TZ offset. An explicit ``now``
    (deterministic tests) is interpreted in the session timezone as usual.
    """
    if now is not None:
        cutoff_col = F.lit(now - dt.timedelta(days=retention_days))
    else:
        cutoff_col = F.current_timestamp() - F.make_interval(
            days=F.lit(int(retention_days))
        )
    return filter_rewrite_keep(spark, path, F.col(ts_col) >= cutoff_col)


def filter_rewrite_keep(spark: SparkSession, path: str, keep_cond) -> int:
    """Rewrite the parquet relation at ``path`` keeping only rows matching
    ``keep_cond``; returns rows removed. The parquet stand-in for an
    Iceberg ``DELETE FROM`` (which would be metadata-only)."""
    df = spark.read.parquet(path).cache()
    total = df.count()
    kept = df.filter(keep_cond)
    n_kept = kept.count()
    if n_kept < total:
        tmp = path.rstrip("/") + "__tmp"
        kept.write.mode("overwrite").parquet(tmp)
        spark.read.parquet(tmp).write.mode("overwrite").parquet(path)
    df.unpersist()
    return total - n_kept
