"""Structured Streaming validation (SURVEY.md §2.9).

The reference is batch-only; its streaming-shaped semantics map to:

  * freshness ``max_latency_hours`` → event-time watermark; late rows
    become FRESHNESS violations instead of being silently dropped (the
    schema-rule projection is stateless, so no row is ever discarded by
    the watermark — only the windowed aggregation state is bounded by it);
  * 1000-record chunk processing → micro-batches via ``foreachBatch``,
    which reuses the exact batch engine (report + checkpoint + sinks) per
    micro-batch;
  * per-chunk counters → windowed verdict aggregation with watermarked
    tumbling windows.

All schema rules ride the same compiled Column expressions as batch —
one fused stateless projection — so streaming adds zero new rule code.
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, functions as F

from ..compiler.expressions import CompileOptions, compile_contract
from ..contracts.model import Contract


def validate_stream(
    stream_df: DataFrame,
    contract: Contract,
    ts_col: str = "ts",
    watermark: Optional[str] = None,
    options: Optional[CompileOptions] = None,
) -> DataFrame:
    """Stateless fused validation projection over a streaming frame:
    adds ``errors``/``passed`` plus a ``late`` flag derived from the
    freshness rule (event-time age at processing time)."""
    opts = options or CompileOptions()
    compiled = compile_contract(contract, stream_df.schema, opts)
    out = stream_df
    if watermark:
        out = out.withWatermark(ts_col, watermark)
    out = out.select(
        "*",
        compiled.errors_col.alias(opts.errors_column),
        compiled.passed_col.alias(opts.passed_column),
    )
    fresh = (contract.quality.freshness or {}).get("max_latency_hours")
    if fresh and ts_col in stream_df.columns:
        age_h = (
            F.unix_timestamp(F.current_timestamp())
            - F.unix_timestamp(F.col(ts_col))
        ) / 3600.0
        out = out.withColumn("late", age_h > F.lit(float(fresh)))
    return out


def stream_exact_dedup(
    stream_df: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup for ingest pipelines: keep the first arrival
    of each content digest, with dedup state BOUNDED by the watermark
    (``dropDuplicatesWithinWatermark``) — the standard shape for
    training-data ingestion where duplicates cluster in time (re-crawls,
    retries, multi-source overlap). Unbounded-state dropDuplicates would
    OOM a long-running stream; the watermark trades cross-horizon dup
    detection for O(horizon) state, and the batch ``exact_dedup`` pass
    downstream catches far-apart duplicates."""
    from ..operators.dedup import content_digest

    return (
        stream_df.withColumn("__digest", content_digest(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["__digest"])
        .drop("__digest")
    )


def windowed_verdicts(
    validated: DataFrame,
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling-window PASS/FAIL counters with a watermark bounding state
    (the streaming analog of partition verdicts)."""
    return (
        validated.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.sum(F.col("passed").cast("long")).alias("passed_count"),
            F.sum((~F.col("passed")).cast("long")).alias("failed_count"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "total",
            "passed_count",
            "failed_count",
            F.when(F.col("failed_count") == 0, "PASS").otherwise("FAIL").alias(
                "verdict"
            ),
        )
    )


def drift_monitor(
    snapshot: dict,
    exprs: dict,
    on_scores: Callable[[int, dict], None],
) -> Callable[[DataFrame, int], None]:
    """Streaming drift: per-micro-batch PSI/KL vs a precomputed baseline
    snapshot (from ``drift.baseline_snapshot`` — numeric quantile bins
    AND categorical top-k buckets are both scored, same as the batch
    engine).

    Each batch costs one fused histogram agg over the batch plus the tiny
    Arrow-scored histogram relation — the streaming analog of the batch
    drift stage, with the baseline fixed at snapshot time (re-snapshot to
    move the reference window)."""
    from ..operators import drift as drift_op

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if not snapshot or not batch_df.take(1):
            return
        on_scores(batch_id, drift_op.drift_scores(batch_df, snapshot, exprs))

    return handle


def foreach_batch_validator(
    engine,
    contract: Contract,
    on_batch: Callable[[int, "object"], None],
    key_columns: Optional[Sequence[str]] = None,
) -> Callable[[DataFrame, int], None]:
    """Adapter running the FULL batch engine (quality aggregates included)
    per micro-batch — the micro-batch is the chunk analog
    (`batch_processor.py:45-68`). ``on_batch(batch_id, run)`` receives the
    ValidationRun for sink wiring."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        run = engine.validate(batch_df, contract, key_columns=key_columns)
        on_batch(batch_id, run)

    return handle
