"""Checkpoint / resume: partition-granular validation runs.

North-rule requirement: runs are resumable from a checkpoint table
recording per-partition lineage, watermarks and stats snapshots, so
re-runs validate only unfinished partitions.

Replaces the reference's per-record commit + DB-reconstructed progress
polling (`app/core/validation_engine.py:141-161`,
`app/api/validation.py:218-265`) with a tiny append-only checkpoint
relation:

    (run_id, partition_key, lineage_hash, status, total, passed, failed,
     min_ts, max_ts, completed_at)

Design notes for the 10^12-turn deployment:
  * the checkpoint table is metadata-scale (one row per input partition
    per run) — reading it driver-side is O(partitions), not O(rows);
  * the *storage* here is parquet-append with latest-wins dedup (no
    Iceberg jars in this sandbox). On a real cluster back it with an
    Iceberg table and flip appends to ``MERGE INTO`` keyed by
    (run_id, partition_key) — the ``CheckpointStore`` interface is the
    seam (`write_done` / `done_partitions`);
  * idempotence: a partition is re-validated only if absent OR written
    under a different ``lineage_hash`` (contract text or engine version
    changed ⇒ stale checkpoints are ignored, not trusted);
  * the pending-partition filter is a pushed-down predicate on the
    partition column, so skipped partitions are pruned at the scan —
    resuming a 95%-done run reads ~5% of the data;
  * violations should be written partitioned by the same key
    (``partitionBy(partition_col)``) so a re-run's overwrite of one
    partition is atomic-per-partition (dynamic partition overwrite).
"""

from __future__ import annotations

import hashlib
import time
from dataclasses import dataclass
from typing import List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from .contracts.model import Contract
from .engine import ContractEngine, ValidationRun

ENGINE_VERSION = "1"

CHECKPOINT_SCHEMA = (
    "run_id string, partition_key string, lineage_hash string, "
    "status string, total long, passed long, failed long, "
    "min_ts timestamp, max_ts timestamp, completed_at double"
)


def lineage_hash(contract: Contract) -> str:
    """Hash of everything that determines a partition's verdict: contract
    IR + engine version. Changing either invalidates old checkpoints."""
    payload = repr(contract) + "|" + ENGINE_VERSION
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


class CheckpointStore:
    """Parquet-backed checkpoint relation (Iceberg-ready interface)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _read(self) -> Optional[DataFrame]:
        """The checkpoint relation, or None when nothing was written yet
        (asked of the Hadoop FileSystem, so a first run does not make the
        parquet reader log a missing-path stack trace). Any other failure
        (unknown filesystem scheme, no access) raises: an unreadable
        checkpoint must not read as "nothing done"."""
        path = self.spark._jvm.org.apache.hadoop.fs.Path(self.path)
        fs = path.getFileSystem(self.spark._jsc.hadoopConfiguration())
        if not fs.exists(path):
            return None
        return self.spark.read.schema(CHECKPOINT_SCHEMA).parquet(self.path)

    def done_partitions(self, run_id: str, lineage: str) -> List[str]:
        df = self._read()
        if df is None:
            return []
        rows = (
            df.filter(
                (F.col("run_id") == run_id)
                & (F.col("lineage_hash") == lineage)
                & (F.col("status") == "DONE")
            )
            .select("partition_key")
            .distinct()
            .collect()
        )
        return [r["partition_key"] for r in rows]

    def write_done(self, rows_df: DataFrame) -> None:
        """Append completion rows. With Iceberg this becomes
        ``MERGE INTO checkpoint USING rows ON run_id, partition_key``."""
        rows_df.write.mode("append").parquet(self.path)

    def progress(self, run_id: str) -> DataFrame:
        df = self._read()
        if df is None:
            return self.spark.createDataFrame([], CHECKPOINT_SCHEMA)
        return df.filter(F.col("run_id") == run_id)


@dataclass
class ResumableResult:
    run_id: str
    pending_before: int
    validated_now: int
    skipped: int
    run: Optional[ValidationRun]   # None when nothing was pending


def validate_resumable(
    engine: ContractEngine,
    df: DataFrame,
    contract: Contract,
    store: CheckpointStore,
    run_id: str,
    partition_col: str,
    key_columns: Optional[Sequence[str]] = None,
    ts_col: Optional[str] = "ts",
    all_partitions: Optional[Sequence[str]] = None,
    violations_out: Optional[str] = None,
) -> ResumableResult:
    """Validate only partitions not yet checkpointed for (run_id, lineage).

    ``all_partitions``: pass the partition list when it is known from
    table metadata (Iceberg partition listing) to avoid the discovery
    scan; otherwise one distinct-scan computes it.

    ``violations_out``: when set, violation rows are written (partitioned
    by ``partition_col``, dynamic overwrite) BEFORE the checkpoint rows
    flip to DONE — a crash between the two re-validates those partitions
    on resume (idempotent overwrite) instead of leaving checkpointed
    partitions with missing violations. With Iceberg both writes join one
    transaction.
    """
    lin = lineage_hash(contract)
    if all_partitions is None:
        all_partitions = [
            r[0]
            for r in df.select(F.col(partition_col).cast("string"))
            .distinct()
            .collect()
        ]
    done = set(store.done_partitions(run_id, lin))
    pending = [p for p in all_partitions if p not in done]
    if not pending:
        return ResumableResult(run_id, 0, 0, len(done), None)

    # predicate on the partition column → partition pruning at the scan;
    # a pending NULL partition needs its own test (`x IN (NULL)` is NULL)
    part = F.col(partition_col)
    cond = part.cast("string").isin([p for p in pending if p is not None])
    if None in pending:
        cond = cond | part.isNull()
    sub = df.filter(cond)
    run = engine.validate(sub, contract, key_columns=key_columns)

    if violations_out:
        from .sources import sinks

        # ALWAYS project the partition column into the violations frame
        # (it exists in run.validated) so the write is partitioned by it —
        # a dynamic-overwrite re-run then replaces only its own partitions.
        # (Previously this silently fell back to a full unpartitioned
        # overwrite when partition_col was not among the key columns,
        # clobbering completed partitions' violations on resume.)
        viol = run.violations(extra_cols=[partition_col])
        sinks.write_violations(viol, violations_out, [partition_col])

    agg_cols = [
        F.count(F.lit(1)).alias("total"),
        F.sum(F.col("passed").cast("long")).alias("passed"),
        F.sum((~F.col("passed")).cast("long")).alias("failed"),
    ]
    if ts_col and ts_col in df.columns:
        agg_cols += [
            F.min(ts_col).alias("min_ts"),
            F.max(ts_col).alias("max_ts"),
        ]
    else:
        agg_cols += [
            F.lit(None).cast("timestamp").alias("min_ts"),
            F.lit(None).cast("timestamp").alias("max_ts"),
        ]
    per_part = (
        run.validated.groupBy(
            F.col(partition_col).cast("string").alias("partition_key")
        )
        .agg(*agg_cols)
        .select(
            F.lit(run_id).alias("run_id"),
            "partition_key",
            F.lit(lin).alias("lineage_hash"),
            F.lit("DONE").alias("status"),
            "total",
            "passed",
            "failed",
            "min_ts",
            "max_ts",
            F.lit(time.time()).alias("completed_at"),
        )
    )
    store.write_done(per_part)
    return ResumableResult(
        run_id=run_id,
        pending_before=len(pending),
        validated_now=len(pending),
        skipped=len(done),
        run=run,
    )
