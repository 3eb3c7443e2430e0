"""Distribution-drift checks: PSI / KL divergence and KS vs a baseline snapshot.

Upgrade path of the reference's `statistics` rules (SURVEY.md §2.3 A16,
`app/core/quality_validator.py:184-235`): instead of mean/std bounds, bin
the column into a histogram and compare against a persisted baseline
histogram.

Every score takes one path:

  1. :func:`baseline_snapshot` fixes each column's bucket space — numeric
     bin edges from ``approx_percentile`` over the baseline (one sketch
     aggregate, no sort), categorical top-k categories plus an
     ``__other__`` bucket — and counts the baseline into it:
     ``{name: {"edges"|"cats": [...], "counts": [...]}}``. Only this
     module reads that format; persist it and every later run needs zero
     baseline scans.
  2. :func:`histogram_counts` counts a frame into the same buckets: a
     CASE-chain bucket id projected once per row and one ``count_if`` per
     bucket, all columns in ONE aggregate. The engine adds the same
     expressions (:func:`snapshot_histogram_exprs`) to its fused pass.
  3. :func:`score_histograms_pandas` scores every column in one
     single-partition mapInPandas job over the bins-sized histogram
     relation — the only Python in the pipeline, over ~10s of rows.

:func:`psi_kl`, :func:`psi_kl_categorical` and :func:`ks_drift` are thin
wrappers over that path; they keep only the buckets seen on either side.
KS is the supremum distance of the two cumulative count lists (numpy).

PSI = Σ (p_i − q_i) · ln(p_i / q_i);  KL(p‖q) = Σ p_i · ln(p_i / q_i),
with epsilon-smoothed proportions so empty bins stay finite.
Conventional PSI reading: <0.1 stable, 0.1–0.2 moderate, >0.2 major shift.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Dict, List, Mapping, Optional, Sequence, Tuple, Union

import pandas as pd

from pyspark.sql import DataFrame, functions as F

EPS = 1e-6
OTHER_BUCKET = "__other__"


@dataclass
class DriftScore:
    column: str
    psi: float
    kl: float
    bins: int


def _psi_kl_numpy(pdf: pd.DataFrame) -> tuple:
    """Epsilon-smoothed (PSI, KL) of one histogram frame's ``cur_cnt`` vs
    ``base_cnt`` columns, vectorized over its rows (bins)."""
    import numpy as np

    c = pdf["cur_cnt"].to_numpy(dtype="float64")
    b = pdf["base_cnt"].to_numpy(dtype="float64")
    p = (c + EPS) / (c.sum() + EPS * len(c))
    q = (b + EPS) / (b.sum() + EPS * len(b))
    lr = np.log(p / q)
    return float(((p - q) * lr).sum()), float((p * lr).sum())


def _ks(cur: Sequence[int], base: Sequence[int]) -> float:
    """Two-sample Kolmogorov–Smirnov statistic of two histograms over the
    same buckets: max |CDF_cur − CDF_base|. No smoothing, so an external
    SQL oracle replays the arithmetic digit-for-digit."""
    import numpy as np

    c = np.asarray(cur, dtype="int64")
    b = np.asarray(base, dtype="int64")
    tc, tb = int(c.sum()), int(b.sum())
    # an empty side has no CDF, and reading it as 0.0 would say "no
    # drift" for a side with no data: fail loudly instead
    if not tc or not tb:
        raise ValueError(
            "ks_drift: KS is undefined when a histogram side has zero "
            f"total count (current={tc}, baseline={tb})"
        )
    return float(np.abs(np.cumsum(c) / tc - np.cumsum(b) / tb).max())


def _seen_buckets(current_df: DataFrame, snapshot: dict, column: str):
    """(current, baseline) counts of ``column`` over the snapshot's buckets
    that are non-empty on either side."""
    cur = histogram_counts(current_df, {column: column}, **_spaces(snapshot))
    pairs = [p for p in zip(cur[column], snapshot[column]["counts"]) if any(p)]
    return [c for c, _ in pairs], [b for _, b in pairs]


def _psi_kl_seen(current_df: DataFrame, snapshot: dict, column: str):
    if column not in snapshot:
        return DriftScore(column, 0.0, 0.0, 0)
    cur, base = _seen_buckets(current_df, snapshot, column)
    scores = score_histograms_pandas(
        current_df.sparkSession, {column: (cur, base)}
    )
    # no bucket seen on either side: nothing to score
    return scores.get(column, DriftScore(column, 0.0, 0.0, 0))


def _numeric_snapshot(baseline_df, column, bins, edges) -> dict:
    if edges is None:
        return baseline_snapshot(baseline_df, {column: column}, bins)
    return bucket_snapshot(baseline_df, {column: column}, edges={column: edges})


def ks_drift(
    current_df: DataFrame,
    baseline_df: DataFrame,
    column: str,
    bins: int = 10,
    edges: Optional[Sequence[float]] = None,
) -> float:
    """KS drift for one column: the baseline's snapshot (quantile edges,
    or ``edges``), the current side counted into it, KS over the buckets
    seen on either side. Complements PSI/KL: KS is the supremum-distance
    view (sensitive to a single shifted mode), PSI/KL the mass-ratio view.
    Raises ``ValueError`` when a side has no non-null value."""
    snapshot = _numeric_snapshot(baseline_df, column, bins, edges)
    if column not in snapshot:
        return 0.0
    return _ks(*_seen_buckets(current_df, snapshot, column))


def psi_kl(
    current_df: DataFrame,
    baseline_df: DataFrame,
    column: str,
    bins: int = 10,
    edges: Optional[Sequence[float]] = None,
) -> DriftScore:
    """PSI/KL drift for one column: the baseline's snapshot (quantile
    edges, or ``edges``), the current side counted into it, scored over
    the buckets seen on either side."""
    return _psi_kl_seen(
        current_df, _numeric_snapshot(baseline_df, column, bins, edges), column
    )


def psi_kl_categorical(
    current_df: DataFrame,
    baseline_df: DataFrame,
    column: str,
    top_k: int = 100,
) -> DriftScore:
    """PSI/KL over a CATEGORICAL column's frequency distribution — the
    drift check for enum-ish fields (role, tool, language, source) where
    numeric binning is meaningless. The category set is fixed by the
    BASELINE's top-k; current values outside it — a literal ``__other__``
    included — count in the ``__other__`` bucket, so a brand-new category
    registers as drift instead of silently changing the bucket space."""
    snapshot = baseline_snapshot(
        baseline_df, {column: column}, top_k, categorical=[column]
    )
    return _psi_kl_seen(current_df, snapshot, column)


def categorical_histogram(df: DataFrame, column: str, top_k: int = 100) -> dict:
    """The column's categorical histogram: ``{"cats": [...], "counts":
    [...]}`` with the ``top_k`` most frequent categories (ties broken by
    value), sorted, and their counts, the last count being the
    ``__other__`` rollup. Raises on a literal ``__other__`` value."""
    return baseline_snapshot(
        df, {column: column}, top_k, categorical=[column]
    ).get(column, {"cats": [], "counts": []})


def _top_categories(df: DataFrame, expr: str, column: str, top_k: int) -> list:
    """The ``top_k`` most frequent non-null values of ``expr`` (ties broken
    by value), sorted, in one job. The rollup bucket name is reserved: a
    real value ``__other__`` anywhere in the baseline would be
    indistinguishable from the rollup, so it sorts first and raises."""
    cat = F.col("cat")
    rows = (
        df.select(F.expr(expr).cast("string").alias("cat"))
        .where(cat.isNotNull())
        .groupBy(cat)
        .count()
        .orderBy((cat == OTHER_BUCKET).desc(), F.desc("count"), cat)
        .limit(top_k + 1)
        .collect()
    )
    if rows and rows[0]["cat"] == OTHER_BUCKET:
        raise ValueError(
            f"column {column!r} contains {OTHER_BUCKET!r} as a real value; "
            "it collides with the rollup bucket — rename or pre-map it"
        )
    return sorted(r["cat"] for r in rows[:top_k])


def _first_match(conds: Sequence, default: int):
    """``CASE WHEN conds[0] THEN 0 WHEN conds[1] THEN 1 … ELSE default``."""
    expr = None
    for i, cond in enumerate(conds):
        expr = F.when(cond, i) if expr is None else expr.when(cond, i)
    return F.lit(default) if expr is None else expr.otherwise(default)


def bin_expr(value, edges: Sequence[float]):
    """CASE-chain bin id for one value expression (Column or SQL string);
    codegen-fused. Returns (bin_col, value_col)."""
    v = (F.expr(value) if isinstance(value, str) else value).cast("double")
    return _first_match([v <= F.lit(float(e)) for e in edges], len(edges)), v


def multi_quantile_edges(
    df: DataFrame,
    exprs: dict,
    bins: Union[int, Mapping[str, int]] = 10,
    accuracy: int = 10000,
) -> dict:
    """Bin edges for MANY columns in ONE aggregate pass over the baseline.

    ``exprs``: {name: sql_expr_string}; ``bins``: one count for every
    column, or {name: bins}. Returns {name: [edges...]}.
    """
    n = bins if isinstance(bins, Mapping) else dict.fromkeys(exprs, bins)
    row = df.agg(*[
        F.percentile_approx(
            F.expr(e).cast("double"), [i / n[c] for i in range(1, n[c])],
            accuracy,
        ).alias(f"__q__{c}")
        for c, e in exprs.items()
    ]).collect()[0]
    return {
        c: sorted({q for q in row[f"__q__{c}"] or [] if q is not None})
        for c in exprs
    }


def multi_histogram_exprs(edges_by_name: dict, exprs: dict) -> Tuple[List, List]:
    """``(row_cols, aggs)`` of the fused per-bin counts for many columns,
    meant to ride along in the engine's single global agg pass: one row
    column ``__bin__{name}`` per column (its CASE-chain bin id, NULL for a
    NULL value), projected under the aggregate so the chain runs once per
    row, and one ``count_if(bin == i)`` per bin, aliased
    ``__driftbin__{name}__{i}``.
    """
    row_cols, aggs = [], []
    for name, edges in edges_by_name.items():
        b, v = bin_expr(exprs[name], edges)
        row_cols.append(F.when(v.isNotNull(), b).alias(f"__bin__{name}"))
        aggs += _bin_counts(name, len(edges) + 1)
    return row_cols, aggs


def categorical_histogram_exprs(cats_by_name: dict, exprs: dict) -> Tuple[List, List]:
    """Categorical twin of :func:`multi_histogram_exprs`: the bucket id is
    the baseline category's index, or len(cats) (the ``__other__`` bucket)
    for a value outside the baseline's category space — same row column
    and ``__driftbin__{name}__{i}`` aliases, so the decode path is
    shared."""
    row_cols, aggs = [], []
    for name, cats in cats_by_name.items():
        v = F.expr(exprs[name]).cast("string")
        bucket = _first_match([v == F.lit(c) for c in cats], len(cats))
        row_cols.append(F.when(v.isNotNull(), bucket).alias(f"__bin__{name}"))
        aggs += _bin_counts(name, len(cats) + 1)
    return row_cols, aggs


def _bin_counts(name: str, n_bins: int) -> List:
    b = F.col(f"__bin__{name}")
    return [F.count_if(b == i).alias(f"__driftbin__{name}__{i}")
            for i in range(n_bins)]


def decode_histogram_row(row: dict, name: str, n_bins: int) -> List[int]:
    return [int(row.get(f"__driftbin__{name}__{i}") or 0) for i in range(n_bins)]


def _spaces(snapshot: dict) -> dict:
    """A snapshot's bucket spaces, as :func:`histogram_counts` keywords."""
    return {k: {c: s[k] for c, s in snapshot.items() if s.get(k)}
            for k in ("edges", "cats")}


def _histogram_exprs(exprs, edges, cats) -> Tuple[List, List]:
    num = multi_histogram_exprs(edges, exprs)
    cat = categorical_histogram_exprs(cats, exprs)
    return num[0] + cat[0], num[1] + cat[1]


def _decode_counts(row: dict, edges: dict, cats: dict) -> Dict[str, List[int]]:
    # a column's bucket count is len(edges) + 1 or len(cats) + 1
    return {c: decode_histogram_row(row, c, len(b) + 1)
            for c, b in {**edges, **cats}.items()}


def histogram_counts(
    df: DataFrame,
    exprs: dict,
    edges: Optional[dict] = None,
    cats: Optional[dict] = None,
) -> Dict[str, List[int]]:
    """Count ``df`` into fixed buckets, every column in ONE aggregate:
    numeric columns binned on ``edges`` ({name: [edges...]}, ``len + 1``
    bins), categorical ones on ``cats`` ({name: [cats...]}, ``len + 1``
    buckets, the last ``__other__``); NULLs are not counted.
    ``exprs``: {name: sql_expr}. Returns {name: [counts...]}."""
    edges, cats = edges or {}, cats or {}
    row_cols, aggs = _histogram_exprs(exprs, edges, cats)
    if not aggs:
        return {}
    row = df.select(*row_cols).agg(*aggs).collect()[0].asDict()
    return _decode_counts(row, edges, cats)


def bucket_snapshot(
    df: DataFrame,
    exprs: dict,
    edges: Optional[dict] = None,
    cats: Optional[dict] = None,
) -> dict:
    """Snapshot of ``df`` over GIVEN bucket spaces (see
    :func:`histogram_counts`); a column with no edges or no categories is
    left out."""
    spaces = {
        "edges": {c: list(e) for c, e in (edges or {}).items() if e},
        "cats": {c: list(v) for c, v in (cats or {}).items() if v},
    }
    counts = histogram_counts(df, exprs, **spaces)
    return {
        c: {k: b, "counts": counts[c]}
        for k, space in spaces.items() for c, b in space.items()
    }


def baseline_snapshot(
    df: DataFrame,
    exprs: dict,
    bins: Union[int, Mapping[str, int]] = 10,
    categorical: Sequence[str] = (),
) -> dict:
    """Precompute the drift baseline:
    numeric columns → {name: {"edges": [...], "counts": [...]}},
    ``categorical`` columns → {name: {"cats": [...], "counts": [...]}}
    (top-``bins`` categories by frequency, last count = ``__other__``).
    ``bins``: one count for every column, or {name: bins}; a column whose
    baseline has no non-null value is left out.

    Run ONCE when the baseline is established (e.g. when a contract
    version is activated) and persist the (tiny) result — per-run
    validation then needs zero baseline scans. ``exprs``: {name: sql_expr}.
    """
    per_col = bins if isinstance(bins, Mapping) else dict.fromkeys(exprs, bins)
    numeric = {c: e for c, e in exprs.items() if c not in set(categorical)}
    edges = multi_quantile_edges(df, numeric, per_col) if numeric else {}
    cats = {
        c: _top_categories(df, exprs[c], c, per_col[c]) for c in categorical
    }
    return bucket_snapshot(df, exprs, edges, cats)


def drift_exprs(drift_rules: Mapping[str, dict]) -> Dict[str, str]:
    """{column: sql_expr} of a contract's ``quality_rules.drift`` spec: a
    column's ``expr``, else the column itself."""
    return {c: spec.get("expr") or c for c, spec in drift_rules.items()}


def contract_baseline_snapshot(
    df: DataFrame, drift_rules: Mapping[str, dict]
) -> dict:
    """:func:`baseline_snapshot` of a contract's ``quality_rules.drift``
    spec: each column's ``expr``, its own ``bins`` (default 10; the top-k
    of a ``type: categorical`` column)."""
    return baseline_snapshot(
        df,
        drift_exprs(drift_rules),
        {c: spec.get("bins", 10) for c, spec in drift_rules.items()},
        categorical=[
            c for c, spec in drift_rules.items()
            if spec.get("type") == "categorical"
        ],
    )


def snapshot_histogram_exprs(snapshot: dict, exprs: dict) -> Tuple[List, List]:
    """``(row_cols, aggs)`` counting a frame into the snapshot's buckets,
    for a caller's own fused aggregate (the engine's report pass); decode
    the aggregate row with :func:`score_snapshot_row`."""
    return _histogram_exprs(exprs, **_spaces(snapshot))


def _score(spark, snapshot: dict, counts: dict) -> Dict[str, DriftScore]:
    return score_histograms_pandas(
        spark, {c: (cur, snapshot[c]["counts"]) for c, cur in counts.items()}
    )


def score_snapshot_row(spark, snapshot: dict, row: dict) -> Dict[str, DriftScore]:
    """Score every snapshot column from an aggregate row that carries
    :func:`snapshot_histogram_exprs`' counts, in one Spark job."""
    return _score(spark, snapshot, _decode_counts(row, **_spaces(snapshot)))


def drift_scores(df: DataFrame, snapshot: dict, exprs: dict) -> Dict[str, DriftScore]:
    """Score ``df``'s drift against the snapshot over every bucket: one
    aggregate over ``df`` and one scoring job."""
    counts = histogram_counts(df, exprs, **_spaces(snapshot))
    return _score(df.sparkSession, snapshot, counts)


def score_histograms_pandas(spark, per_column: dict) -> dict:
    """Score MANY columns' drift in ONE Python job.

    ``per_column``: {name: (cur_counts, base_counts)} — tiny lists.
    Returns {name: DriftScore}. The pandas/Arrow UDF is the designated
    place for the KL/PSI arithmetic (north rule); input is the bins-sized
    histogram relation, never row data. The relation is built from an
    Arrow table (a JVM-side local relation, no Python-worker pass) and
    scored by one ``mapInPandas`` over a single partition (no shuffle),
    each column's rows in bin order.
    """
    import pyarrow as pa

    rows = [
        (name, i, int(c), int(b))
        for name, (cur, base) in per_column.items()
        for i, (c, b) in enumerate(zip(cur, base))
    ]
    if not rows:
        return {}
    names, bins, curs, bases = zip(*rows)
    hist = spark.createDataFrame(pa.table({
        "column": pa.array(names, pa.string()),
        "bin": pa.array(bins, pa.int32()),
        "cur_cnt": pa.array(curs, pa.int64()),
        "base_cnt": pa.array(bases, pa.int64()),
    }))

    def score(batches):
        pdf = pd.concat(list(batches)).sort_values(["column", "bin"])
        yield pd.DataFrame(
            [(name, *_psi_kl_numpy(g), len(g))
             for name, g in pdf.groupby("column", sort=False)],
            columns=["column", "psi", "kl", "bins"],
        )

    out = (
        hist.coalesce(1)
        .mapInPandas(score, "column string, psi double, kl double, bins long")
        .collect()
    )
    return {
        r["column"]: DriftScore(
            column=r["column"], psi=r["psi"], kl=r["kl"], bins=r["bins"]
        )
        for r in out
    }


def psi_kl_exact(
    cur_counts: Sequence[float], base_counts: Sequence[float]
) -> tuple:
    """Driver-side reference arithmetic (the tests' oracle)."""
    c = [float(x) for x in cur_counts]
    b = [float(x) for x in base_counts]
    sp = sum(c) + EPS * len(c)
    sq = sum(b) + EPS * len(b)
    psi = kl = 0.0
    for ci, bi in zip(c, b):
        p = (ci + EPS) / sp
        q = (bi + EPS) / sq
        lr = math.log(p / q)
        psi += (p - q) * lr
        kl += p * lr
    return psi, kl
