"""Dataset-level quality rules as single-pass Spark aggregations.

Parity target: `app/core/quality_validator.py:52-246` in the reference,
which loops over records in Python. Here:

  * freshness (A1), completeness row-count (A2), per-column null %% (A3),
    and statistics mean/std-dev (A5/A6) all fuse into ONE ``df.agg(...)``
    — a single scan + partial/final aggregation, no shuffle beyond the
    1-row reduce;
  * uniqueness (A4) is a two-stage salted hash-aggregate (its own module,
    :mod:`data_contract_engine_spark.operators.uniqueness`);
  * referential integrity (J2) rides the same fused aggregate: every
    vocabulary, literal or table-backed, resolves to a literal set
    (:func:`data_contract_engine_spark.operators.referential.
    fused_vocab_miss_agg`) and is decoded here;
  * drift (A16) counts histograms over the baseline snapshot's buckets in
    the same fused aggregate and scores KL/PSI in one pandas UDF job
    (:mod:`data_contract_engine_spark.operators.drift`).

Semantics pinned from the reference:
  * statistics use POPULATION std-dev (`quality_validator.py:199-200`) —
    ``stddev_pop``, not ``stddev``;
  * boolean values count as numbers in statistics (True == 1,
    `quality_validator.py:192` isinstance(int) accepts bool);
  * statistics violations are WARNING severity and do not fail the verdict
    (`quality_validator.py:210-233`);
  * quality_score = 100 − 10·#ERROR − 3·#WARNING, floored at 0
    (`quality_validator.py:237-246`);
  * freshness fails if ANY record's timestamp is older than
    ``max_latency_hours``; the reference reports the first stale record in
    data order (`quality_validator.py:91-120`) — order is undefined under
    parallelism, so we deterministically report the OLDEST record's age;
  * null-percentage checks run over every DataFrame column (the reference
    uses the first record's key set, `quality_validator.py:141`);
  * ``max_null_percentage`` uses a strict ``>`` compare and is skipped when
    falsy (0 disables it — reference `quality_validator.py:139-140`).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field as dc_field
from typing import Any, Dict, List, Optional

from pyspark.sql import DataFrame, functions as F

from ..contracts.model import (
    ERROR_PENALTY,
    QualityRules,
    SEVERITY_ERROR,
    SEVERITY_WARNING,
    WARNING_PENALTY,
)

# candidate event-time columns, in reference priority order
# (quality_validator.py:89)
FRESHNESS_FIELDS = ("timestamp", "created_at", "updated_at", "date")


@dataclass
class QualityError:
    rule_type: str
    message: str
    severity: str = SEVERITY_ERROR
    details: Dict[str, Any] = dc_field(default_factory=dict)

    def to_dict(self) -> Dict[str, Any]:
        return {
            "rule_type": self.rule_type,
            "message": self.message,
            "severity": self.severity,
            "details": self.details,
        }


@dataclass
class QualityResult:
    passed: bool
    errors: List[QualityError]
    quality_score: float

    def errors_by_severity(self) -> Dict[str, List[QualityError]]:
        out = {SEVERITY_ERROR: [], SEVERITY_WARNING: []}
        for e in self.errors:
            out[e.severity].append(e)
        return out


def quality_score(errors: List[QualityError]) -> float:
    score = 100.0
    for e in errors:
        score -= ERROR_PENALTY if e.severity == SEVERITY_ERROR else WARNING_PENALTY
    return max(0.0, score)


def _pctl_tag(p: float) -> str:
    """Stable alias fragment for a percentile (0.5 → '0_5') — shared by
    the expr builder and the row decoder so they always agree."""
    return f"{p:g}".replace(".", "_")


def _is_numeric(dtype) -> bool:
    from pyspark.sql import types as T

    return isinstance(
        dtype,
        (
            T.ByteType,
            T.ShortType,
            T.IntegerType,
            T.LongType,
            T.FloatType,
            T.DoubleType,
            T.DecimalType,
            T.BooleanType,  # True counts as 1 in reference statistics
        ),
    )


def build_quality_agg_exprs(
    df: DataFrame, rules: QualityRules
) -> List:
    """All single-pass aggregate expressions for freshness/completeness/
    statistics, aliased with stable names so the collected row can be
    decoded by :func:`decode_quality_row`."""
    from pyspark.sql import types as T

    exprs = [F.count(F.lit(1)).alias("__row_count")]
    dtypes = dict(df.dtypes)
    schema_by_name = {f.name: f.dataType for f in df.schema.fields}

    if rules.freshness:
        fields = rules.freshness.get("fields") or [
            c for c in FRESHNESS_FIELDS if c in dtypes
        ]
        candidates = []
        for c in fields:
            if c not in schema_by_name:
                continue
            dt = schema_by_name[c]
            if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
                candidates.append(F.col(c))
            elif isinstance(dt, T.StringType):
                candidates.append(F.col(c).try_cast("timestamp"))
            elif _is_numeric(dt):
                candidates.append(F.timestamp_seconds(F.col(c).cast("double")))
        if candidates:
            ts = F.coalesce(*candidates) if len(candidates) > 1 else candidates[0]
            exprs.append(F.min(ts).alias("__freshness_min_ts"))

    if rules.completeness and rules.completeness.get("max_null_percentage"):
        for c in df.columns:
            exprs.append(
                (F.avg(F.col(c).isNull().cast("double")) * 100.0).alias(
                    f"__nullpct__{c}"
                )
            )

    if rules.statistics:
        for c, constraints in rules.statistics.items():
            if c not in schema_by_name:
                continue
            # cardinality bounds (extension): HLL++ sketch — mergeable, so
            # it rides the same single-pass agg (any column type)
            if isinstance(constraints, dict) and constraints.get(
                "distinct_count"
            ):
                exprs.append(
                    F.approx_count_distinct(F.col(c)).alias(f"__adc__{c}")
                )
            if not _is_numeric(schema_by_name[c]):
                continue
            v = F.col(c).cast("double")
            exprs.append(F.mean(v).alias(f"__mean__{c}"))
            exprs.append(F.stddev_pop(v).alias(f"__stdpop__{c}"))
            # percentile bounds (extension): the DEFAULT is the mergeable
            # approx sketch (bounded executor state — scale-safe on
            # continuous columns); `exact_percentiles: true` opts into
            # Spark's exact percentile, which buffers a distinct-value→
            # count map per partial aggregate: fine for bounded-
            # cardinality ints, a memory hazard on high-cardinality
            # doubles at 100 TB. Both ride the same single-pass agg.
            pcts = (
                constraints.get("percentiles")
                if isinstance(constraints, dict)
                else None
            )
            if pcts:
                exact = bool(constraints.get("exact_percentiles"))
                for p in sorted(float(k) for k in pcts):
                    agg = (
                        F.percentile(v, F.lit(p))
                        if exact
                        else F.percentile_approx(v, F.lit(p), F.lit(10000))
                    )
                    exprs.append(agg.alias(f"__pctl__{c}__{_pctl_tag(p)}"))

    return exprs


def decode_quality_row(
    row: Dict[str, Any],
    rules: QualityRules,
    now_epoch: float,
) -> List[QualityError]:
    """Turn the collected 1-row aggregate into reference-parity
    QualityError objects (same rule order: freshness → completeness →
    [uniqueness/drift handled elsewhere] → referential, in declaration
    order → statistics)."""
    errors: List[QualityError] = []
    n = row["__row_count"]

    if rules.freshness:
        max_hours = rules.freshness.get("max_latency_hours")
        min_ts = row.get("__freshness_min_ts")
        if max_hours and min_ts is not None:
            age_hours = (now_epoch - min_ts.timestamp()) / 3600.0
            if age_hours > max_hours:
                errors.append(
                    QualityError(
                        rule_type="FRESHNESS",
                        message=(
                            f"Data is {age_hours:.1f} hours old, exceeds limit "
                            f"of {max_hours} hours"
                        ),
                        severity=SEVERITY_ERROR,
                        details={
                            "age_hours": age_hours,
                            "max_latency_hours": max_hours,
                        },
                    )
                )

    if rules.completeness:
        mrc = rules.completeness.get("min_row_count")
        if mrc and n < mrc:
            errors.append(
                QualityError(
                    rule_type="COMPLETENESS",
                    message=f"Insufficient records: got {n}, expected {mrc}",
                    severity=SEVERITY_ERROR,
                    details={"actual_count": n, "min_count": mrc},
                )
            )
        mnp = rules.completeness.get("max_null_percentage")
        if mnp and n > 0:
            for key, val in row.items():
                if not key.startswith("__nullpct__") or val is None:
                    continue
                col = key[len("__nullpct__"):]
                if val > mnp:
                    errors.append(
                        QualityError(
                            rule_type="COMPLETENESS",
                            message=(
                                f"Field '{col}' has {val:.1f}% nulls, "
                                f"exceeds {mnp}% limit"
                            ),
                            severity=SEVERITY_ERROR,
                            details={"field": col, "null_percentage": val},
                        )
                    )

    if rules.referential:
        for col in rules.referential:
            n_bad = row.get(f"__refbad__{col}")
            if n_bad is None or not n_bad:
                continue
            examples = row.get(f"__refex__{col}") or []
            errors.append(
                QualityError(
                    rule_type="REFERENTIAL",
                    message=(
                        f"Field '{col}' has {n_bad} values outside the "
                        f"reference vocabulary: {', '.join(examples)}"
                    ),
                    severity=SEVERITY_ERROR,
                    details={"field": col, "invalid_count": n_bad},
                )
            )

    if rules.statistics:
        for col, constraints in rules.statistics.items():
            dc = (
                constraints.get("distinct_count", {})
                if isinstance(constraints, dict)
                else {}
            )
            adc = row.get(f"__adc__{col}")
            if adc is not None and dc:
                if "min" in dc and adc < dc["min"]:
                    errors.append(
                        QualityError(
                            rule_type="STATISTICS",
                            message=(
                                f"Field '{col}' has ~{adc} distinct values, "
                                f"below minimum {dc['min']}"
                            ),
                            severity=SEVERITY_WARNING,
                            details={"field": col, "distinct_count": adc},
                        )
                    )
                if "max" in dc and adc > dc["max"]:
                    errors.append(
                        QualityError(
                            rule_type="STATISTICS",
                            message=(
                                f"Field '{col}' has ~{adc} distinct values, "
                                f"exceeds maximum {dc['max']}"
                            ),
                            severity=SEVERITY_WARNING,
                            details={"field": col, "distinct_count": adc},
                        )
                    )
            mean = row.get(f"__mean__{col}")
            std = row.get(f"__stdpop__{col}")
            if mean is None or (isinstance(mean, float) and math.isnan(mean)):
                continue
            mc = constraints.get("mean", {})
            if "min" in mc and mean < mc["min"]:
                errors.append(
                    QualityError(
                        rule_type="STATISTICS",
                        message=(
                            f"Field '{col}' mean {mean:.2f} below minimum "
                            f"{mc['min']}"
                        ),
                        severity=SEVERITY_WARNING,
                        details={"field": col, "mean": mean},
                    )
                )
            if "max" in mc and mean > mc["max"]:
                errors.append(
                    QualityError(
                        rule_type="STATISTICS",
                        message=(
                            f"Field '{col}' mean {mean:.2f} exceeds maximum "
                            f"{mc['max']}"
                        ),
                        severity=SEVERITY_WARNING,
                        details={"field": col, "mean": mean},
                    )
                )
            sc = constraints.get("std_dev", {})
            if std is not None and "max" in sc and std > sc["max"]:
                errors.append(
                    QualityError(
                        rule_type="STATISTICS",
                        message=(
                            f"Field '{col}' std dev {std:.2f} exceeds maximum "
                            f"{sc['max']}"
                        ),
                        severity=SEVERITY_WARNING,
                        details={"field": col, "std_dev": std},
                    )
                )
            pcts = constraints.get("percentiles") or {}
            for key in sorted(pcts, key=lambda k: float(k)):
                p = float(key)
                bounds = pcts[key] or {}
                val = row.get(f"__pctl__{col}__{_pctl_tag(p)}")
                if val is None or (isinstance(val, float) and math.isnan(val)):
                    continue
                if "min" in bounds and val < bounds["min"]:
                    errors.append(
                        QualityError(
                            rule_type="STATISTICS",
                            message=(
                                f"Field '{col}' p{p:g} {val:.2f} below "
                                f"minimum {bounds['min']}"
                            ),
                            severity=SEVERITY_WARNING,
                            details={"field": col, "percentile": p,
                                     "value": val},
                        )
                    )
                if "max" in bounds and val > bounds["max"]:
                    errors.append(
                        QualityError(
                            rule_type="STATISTICS",
                            message=(
                                f"Field '{col}' p{p:g} {val:.2f} exceeds "
                                f"maximum {bounds['max']}"
                            ),
                            severity=SEVERITY_WARNING,
                            details={"field": col, "percentile": p,
                                     "value": val},
                        )
                    )

    return errors
