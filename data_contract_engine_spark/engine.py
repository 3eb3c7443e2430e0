"""ContractEngine: the library entry point.

Replaces the reference's HTTP + per-record interpreter lifecycle
(`app/core/validation_engine.py:23-161`, SURVEY.md §3) with:

    contract YAML → dataclass IR → compile to Column expressions →
    one fused select (schema rules) →
    one global agg (freshness/completeness/statistics/referential, every
    vocabulary inlined as a literal set) +
    uniqueness agg + drift →
    verdict/violation/report artifacts.

Everything distributed stays a DataFrame (violations, per-record results,
per-partition verdicts); only the tiny report row is collected.

Verdict semantics (parity):
  * record PASS iff no schema errors (`validation_engine.py:37`);
  * batch: total / passed / failed / pass_rate = passed/total*100, 0 for
    empty input (`validation_engine.py:91-122`);
  * quality stage runs only if at least one record passed schema
    (`validation_engine.py:105`), receives the full batch, and fails on
    any ERROR-severity rule; STATISTICS are WARNING-only;
  * quality_score = 100 − 10·ERRORs − 3·WARNINGs, floor 0;
  * error summary = counts by error_type (`validation_engine.py:124-126`);
  * per-failed-record sample keeps 5 errors, report keeps 50
    (`validation_engine.py:103,137`).
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, replace
from typing import Any, Dict, List, Optional, Sequence, Tuple, Union

from pyspark.sql import DataFrame, SparkSession, functions as F

from .compiler.expressions import CompileOptions, CompiledContract, compile_contract
from .contracts.model import Contract, SCHEMA_ERROR_TYPES, SEVERITY_ERROR
from .contracts.parser import parse_contract_yaml
from .operators import drift as drift_op
from .operators import referential as ref_op
from .operators import uniqueness as uniq_op
from .quality.aggregates import (
    QualityError,
    QualityResult,
    build_quality_agg_exprs,
    decode_quality_row,
    quality_score,
)


@dataclass
class BatchReport:
    """Mirror of the reference BatchValidationResult
    (`app/models/schemas.py:310-324`)."""

    batch_id: str
    total_records: int
    passed: int
    failed: int
    pass_rate: float
    errors_summary: Dict[str, int]
    sample_errors: List[Dict[str, Any]]
    quality: Optional[QualityResult]
    execution_time_ms: float
    total_violation_rows: int = 0


def _lean_error_counts(predicates, max_errors: int) -> Tuple[List, List]:
    """``(row_cols, aggs)`` for the lean error counts. ``row_cols`` holds
    one int flag per predicate (``coalesce(cond, false)``), projected
    under the aggregate, so each rule condition runs once per row in the
    codegen'd projection (where it shares its evaluation with ``passed``)
    and the aggregate only adds narrow columns: a ``sum`` of the flags per
    error type, and ``__over_cap``, the records whose flags sum past
    ``max_errors``.

    The error array keeps only a record's first ``max_errors`` errors, so
    the sums equal the written violation rows exactly when ``__over_cap``
    is 0; otherwise ``_finish_report`` recounts the failed records from the
    array, one extra job only then. Counting the cut here instead needs a
    prefix sum of the flags per rule, because which errors the cap drops
    depends on rule order; as aggregate expressions (measured on a 4-core
    host) shared running sums ran out of heap at 36 rules and unshared
    ones grew quadratically, past Spark's 64 KB generated-method limit at
    120 rules."""
    flags = [f"__hit{i}" for i in range(len(predicates))]
    row_cols = [
        F.coalesce(cond, F.lit(False)).cast("int").alias(flag)
        for flag, (_f, _et, cond) in zip(flags, predicates)
    ]
    by_type: Dict[str, List] = {}
    for flag, (_f, et, _c) in zip(flags, predicates):
        by_type.setdefault(et, []).append(F.col(flag))
    hits = sum((F.col(f) for f in flags), F.lit(0))
    aggs = [
        F.sum(sum(cols[1:], cols[0])).alias(f"__errtype__{et}")
        for et, cols in by_type.items()
    ] + [F.count_if(hits > max_errors).alias("__over_cap")]
    return row_cols, aggs


def _array_error_counts(errors_column: str) -> List:
    """Per-error-type counts from the (capped) error-struct array."""
    return [
        F.sum(
            F.size(
                F.filter(
                    F.col(errors_column), lambda e: e["error_type"] == F.lit(et)
                )
            ).cast("long")
        ).alias(f"__errtype__{et}")
        for et in SCHEMA_ERROR_TYPES
    ]


@dataclass
class ValidationRun:
    """Lazy handle over one validation: distributed artifacts stay
    DataFrames; `report()` collects only aggregates."""

    engine: "ContractEngine"
    contract: Contract
    df: DataFrame
    compiled: CompiledContract
    key_columns: List[str]
    validated: DataFrame            # source columns + passed (+ errors when
    #                                 the contract needs nested evaluation)
    _report: Optional[BatchReport] = None

    def _failed_with_errors(self) -> DataFrame:
        """Failed rows with the full error-struct array.

        When lean predicates exist, the cheap `passed` prefilter prunes
        ~pass-rate of the rows BEFORE the expensive error-struct projection
        runs, and the big expression tree only enters this plan — not the
        counting/verdict jobs."""
        ec = self.compiled.options.errors_column
        if ec in self.validated.columns:
            return self.validated.filter(~F.col("passed"))
        return self.validated.filter(~F.col("passed")).select(
            "*",
            self.compiled.errors_col.alias(ec),
        )

    def violations(self, extra_cols: Sequence[str] = ()) -> DataFrame:
        """Exploded violation rows:
        (contract_id, key columns..., field, error_type, message, value,
        expected) — the distributed sink artifact.

        ``extra_cols``: source columns to carry through, e.g. partition
        columns; :meth:`execute`, the one writer of this artifact, passes
        its ``partition_cols`` here.
        """
        carried = list(self.key_columns) + [
            c for c in extra_cols if c not in self.key_columns
        ]
        v = self._failed_with_errors().select(
            F.lit(self.contract.name).alias("contract_id"),
            *[F.col(k) for k in carried],
            F.explode("errors").alias("e"),
        )
        return v.select(
            "contract_id",
            *carried,
            F.col("e.field").alias("field"),
            F.col("e.error_type").alias("error_type"),
            F.col("e.message").alias("message"),
            F.col("e.value").alias("value"),
            F.col("e.expected").alias("expected"),
        )

    def partition_verdicts(self, partition_cols: Sequence[str]) -> DataFrame:
        """Per-partition PASS/FAIL + counts — the north rule's verdict
        artifact. One groupBy over the already-validated frame."""
        return (
            self.validated.groupBy(*partition_cols)
            .agg(
                F.count(F.lit(1)).alias("total"),
                F.sum(F.col("passed").cast("long")).alias("passed_count"),
            )
            .select(
                *partition_cols,
                "total",
                "passed_count",
                (F.col("total") - F.col("passed_count")).alias("failed_count"),
                F.when(F.col("total") == F.col("passed_count"), F.lit("PASS"))
                .otherwise(F.lit("FAIL"))
                .alias("verdict"),
            )
        )

    def _agg_exprs(self, drift_snapshot) -> Tuple[List, List]:
        """``(row_cols, aggs)`` of the fused pass. ``row_cols`` are the
        per-row values the aggregates need (rule hit flags, referential
        misses, drift bin ids), each computed once in the projection under
        the aggregate; ``aggs`` only count or collect those columns, plus
        the verdict counters, the error-type counts (finite taxonomy — the
        batch error summary needs no second scan) and the quality aggs.
        Both are applied as ``validated.select("*", *row_cols).agg(*aggs)``
        (or ``.observe``)."""
        rules = self.contract.quality
        ec = self.compiled.options.errors_column
        aggs = [
            F.count(F.lit(1)).alias("__total"),
            F.count_if(F.col("passed")).alias("__passed"),
        ]
        parts = []
        if self.compiled.predicates is not None:
            parts.append(_lean_error_counts(
                self.compiled.predicates, self.compiled.options.max_errors
            ))
        else:
            aggs += _array_error_counts(ec)
        aggs += build_quality_agg_exprs(self.df, rules)
        if rules.referential:
            # resolves every vocabulary first: a bad referential rule
            # raises here, before any fact-table job or write
            parts.append(ref_op.fused_vocab_miss_agg(
                self.df, rules.referential, self.engine.vocab_tables
            ))
        if rules.drift and drift_snapshot:
            parts.append(drift_op.snapshot_histogram_exprs(
                drift_snapshot, drift_op.drift_exprs(rules.drift)
            ))
        row_cols: List = []
        for cols, counts in parts:
            row_cols += cols
            aggs += counts
        return row_cols, aggs

    def report(self, sample_errors: int = 50) -> BatchReport:
        """One fused agg pass computes schema counters + error-type counts
        + freshness + completeness + statistics + referential (every
        vocabulary as a literal set; a vocabulary table costs one small
        read of that table, never of the fact table) + drift
        current-histograms; only uniqueness (its own shuffle) and the gated
        sample job add scans. See :meth:`execute` for the zero-extra-scan
        variant that also writes the violations artifact; after it, this
        returns the report :meth:`execute` computed."""
        if self._report is not None:
            return self._report
        t0 = time.time()
        snapshot = self.engine.drift_baseline_snapshot
        row_cols, aggs = self._agg_exprs(snapshot)
        # run over the validated frame (it carries the source columns)
        agg_row = (
            self.validated.select("*", *row_cols).agg(*aggs)
            .collect()[0].asDict()
        )
        self._report = self._finish_report(
            agg_row, snapshot, t0, sample_errors
        )
        return self._report

    def execute(
        self,
        violations_path: str,
        partition_cols: Optional[Sequence[str]] = None,
        sample_errors: int = 0,
    ) -> BatchReport:
        """ONE-action execution for the 100 TB shape: the violations
        artifact is written while the SAME scan's aggregates are collected
        via ``DataFrame.observe`` — no separate aggregate pass over the
        input, and referential rules included. Remaining extra jobs:
        vocabulary-table reads (before the write; they read only the vocab
        tables), uniqueness (needs its own shuffle) and drift scoring (tiny
        histogram relation). It is the one writer of the violations
        artifact: ``partition_cols`` are carried into the rows (key columns
        or not) and partition the write with dynamic overwrite. Every rule
        resolves before the write, so a bad rule raises with nothing
        written; a later :meth:`report` returns this report, with no job."""
        from pyspark.sql import Observation

        t0 = time.time()
        snapshot = self.engine.drift_baseline_snapshot
        row_cols, aggs = self._agg_exprs(snapshot)
        obs = Observation(f"contract:{self.contract.name}")
        observed = self.validated.select("*", *row_cols).observe(obs, *aggs)
        run_like = replace(self, validated=observed, _report=None)
        from .sources import sinks as _sinks  # local import avoids cycle

        _sinks.write_violations(
            run_like.violations(extra_cols=partition_cols or ()),
            violations_path,
            partition_cols,
        )
        agg_row = dict(obs.get)
        self._report = self._finish_report(
            agg_row, snapshot, t0, sample_errors
        )
        return self._report

    def _finish_report(
        self, agg_row, drift_snapshot, t0, sample_errors
    ) -> BatchReport:
        rules = self.contract.quality
        ec = self.compiled.options.errors_column
        total = agg_row["__total"]
        passed = agg_row["__passed"] or 0
        failed = total - passed
        pass_rate = (passed / total * 100.0) if total else 0.0

        if agg_row.get("__over_cap"):
            # a record failed more than max_errors rules, and the lean sums
            # also count the errors its array cuts: recount the failed
            # records from the array itself (an extra job only in this case)
            agg_row.update(
                self._failed_with_errors()
                .agg(*_array_error_counts(ec))
                .collect()[0]
                .asDict()
            )
        # ---- error summary decoded from the fused agg; the recount above
        # and the samples below are the only (gated) extra jobs
        errors_summary: Dict[str, int] = {
            et: agg_row[f"__errtype__{et}"]
            for et in SCHEMA_ERROR_TYPES
            if agg_row.get(f"__errtype__{et}")
        }
        samples: List[Dict[str, Any]] = []
        if failed and sample_errors > 0:
            # limit BEFORE explode: orderBy+limit compiles to
            # TakeOrderedAndProject (per-partition top-k, no global sort);
            # each sampled record contributes <=5 errors (reference parity,
            # validation_engine.py:103,137)
            sample_src = (
                self.validated.filter(~F.col("passed"))
                .orderBy(*self.key_columns)
                .limit(sample_errors)
            )
            if ec not in sample_src.columns:
                # attach the error structs only for the <=50 sampled rows
                sample_src = sample_src.select(
                    "*", self.compiled.errors_col.alias(ec)
                )
            sample_rows = (
                sample_src.select(F.explode(F.slice(ec, 1, 5)).alias("e"))
                .limit(sample_errors)
                .collect()
            )
            samples = [r["e"].asDict() for r in sample_rows]

        # ---- pass 2: quality stage (gated on any schema pass, parity)
        quality: Optional[QualityResult] = None
        if rules.any() and passed > 0:
            qerrors = decode_quality_row(agg_row, rules, now_epoch=self._now())
            qerrors += self._uniqueness_errors()
            qerrors += self._drift_errors_fused(agg_row, drift_snapshot)
            # reference rule order (quality_validator.py:63-75): freshness →
            # completeness → uniqueness → statistics; extensions follow
            order = {
                "FRESHNESS": 0,
                "COMPLETENESS": 1,
                "UNIQUENESS": 2,
                "STATISTICS": 3,
                "REFERENTIAL": 4,
                "DRIFT": 5,
            }
            qerrors.sort(key=lambda e: order.get(e.rule_type, 9))
            score = quality_score(qerrors)
            qpassed = not any(e.severity == SEVERITY_ERROR for e in qerrors)
            quality = QualityResult(
                passed=qpassed, errors=qerrors, quality_score=score
            )

        return BatchReport(
            batch_id=str(uuid.uuid4()),
            total_records=total,
            passed=passed,
            failed=failed,
            pass_rate=pass_rate,
            errors_summary=errors_summary,
            sample_errors=samples,
            quality=quality,
            execution_time_ms=(time.time() - t0) * 1000.0,
            # every violation row has exactly one schema error type
            total_violation_rows=sum(errors_summary.values()),
        )

    # -- quality sub-operators -------------------------------------------

    def _now(self) -> float:
        return self.engine.now_epoch if self.engine.now_epoch else time.time()

    def _uniqueness_errors(self) -> List[QualityError]:
        rules = self.contract.quality
        if not rules.uniqueness:
            return []
        keys = rules.uniqueness.get("fields", [])
        if len(keys) > 1:
            # all keys in ONE job via GROUPING SETS (one fact scan)
            reports = uniq_op.multi_duplicate_reports(self.df, keys)
        else:
            reports = {
                (k if isinstance(k, str) else ",".join(k)):
                uniq_op.duplicate_report(self.df, k)
                for k in keys
            }
        out: List[QualityError] = []
        for key in keys:
            label = key if isinstance(key, str) else ",".join(key)
            n_dups, top = reports[label]
            if n_dups:
                out.append(
                    QualityError(
                        rule_type="UNIQUENESS",
                        message=(
                            f"Duplicate values in '{label}': {', '.join(top)}"
                        ),
                        severity=SEVERITY_ERROR,
                        details={"field": label, "duplicate_count": n_dups},
                    )
                )
        return out

    def uniqueness_violations(self) -> Optional[DataFrame]:
        rules = self.contract.quality
        if not rules.uniqueness:
            return None
        frames = [
            uniq_op.duplicate_violations(
                self.df, key, self.contract.name
            ).select(
                "contract_id", "rule", "field",
                uniq_op._key_string(key).alias("key"),
                "dup_count",
            )
            for key in rules.uniqueness.get("fields", [])
        ]
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def _drift_errors_fused(
        self, agg_row: Dict[str, Any], drift_snapshot
    ) -> List[QualityError]:
        """Score drift from the fused current-histogram counts in
        ``agg_row`` vs the baseline snapshot: all columns in ONE
        mapInPandas job over the tiny histogram relation."""
        rules = self.contract.quality
        if not (rules.drift and drift_snapshot):
            return []
        scores = drift_op.score_snapshot_row(
            self.engine.spark, drift_snapshot, agg_row
        )
        out: List[QualityError] = []
        for column, spec in rules.drift.items():
            score = scores.get(column)
            if score is None:
                continue
            metric = spec.get("metric", "psi")
            threshold = spec.get("threshold", 0.2)
            value = score.psi if metric == "psi" else score.kl
            if value > threshold:
                out.append(
                    QualityError(
                        rule_type="DRIFT",
                        message=(
                            f"Field '{column}' {metric.upper()} {value:.4f} "
                            f"exceeds threshold {threshold}"
                        ),
                        severity=spec.get("severity", "WARNING"),
                        details={"field": column, "psi": score.psi,
                                 "kl": score.kl},
                    )
                )
        return out


class ContractEngine:
    """Facade: ``ContractEngine(spark).validate(df, contract_yaml)``.

    Options:
      * ``vocab_tables``: name → DataFrame registry for referential rules;
      * ``drift_baseline_snapshot``: the drift rules' baseline, from
        ``drift.contract_baseline_snapshot`` (or ``baseline_snapshot``);
      * ``now_epoch``: freeze "now" for deterministic freshness tests;
      * ``compile_options``: error cap / null policy.
    """

    def __init__(
        self,
        spark: SparkSession,
        vocab_tables: Optional[Dict[str, DataFrame]] = None,
        drift_baseline_snapshot: Optional[Dict[str, Dict[str, list]]] = None,
        now_epoch: Optional[float] = None,
        compile_options: Optional[CompileOptions] = None,
    ):
        self.spark = spark
        self.vocab_tables = vocab_tables or {}
        self.drift_baseline_snapshot = drift_baseline_snapshot
        self.now_epoch = now_epoch
        self.compile_options = compile_options or CompileOptions()

    def validate(
        self,
        df: DataFrame,
        contract: Union[Contract, str],
        key_columns: Optional[Sequence[str]] = None,
    ) -> ValidationRun:
        if isinstance(contract, str):
            contract = parse_contract_yaml(contract)
        compiled = compile_contract(contract, df.schema, self.compile_options)
        keys = list(key_columns) if key_columns else [
            c for c in df.columns[:2]
        ]
        ec = self.compile_options.errors_column
        if compiled.predicates is not None:
            # lean path: `passed` from the rule conditions — tiny expression
            # tree (fast planning per job, full codegen, no array
            # allocation); the error-struct array is only attached in the
            # violations/sample jobs (see _failed_with_errors)
            validated = df.withColumn(
                self.compile_options.passed_column, compiled.passed_col
            )
        else:
            # nested contracts: two-layer projection so the error-array
            # expression is evaluated once per row (a single select would
            # inline it twice; measured 2.6x slower)
            validated = df.select(
                "*",
                compiled.errors_col.alias(ec),
            ).withColumn(
                self.compile_options.passed_column, F.size(F.col(ec)) == 0
            )
        return ValidationRun(
            engine=self,
            contract=contract,
            df=df,
            compiled=compiled,
            key_columns=keys,
            validated=validated,
        )
