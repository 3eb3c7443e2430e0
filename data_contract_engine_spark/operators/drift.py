"""Distribution-drift checks: PSI / KL divergence vs a baseline snapshot.

Upgrade path of the reference's `statistics` rules (SURVEY.md §2.3 A16,
`app/core/quality_validator.py:184-235`): instead of mean/std bounds, bin
the column into a histogram and compare against a persisted baseline
histogram.

Scale design:
  * bin edges come from ``approx_percentile`` over the baseline — one
    aggregate pass, sketch-based (no sort, no collect of data);
  * binning the 10^12-row current table is a CASE-chain bin id projected
    once per row, counted per bin inside the engine's fused aggregate
    (:func:`multi_histogram_exprs`); the standalone path is the same
    projection + one groupBy(bin).count() — partial aggregation makes the
    shuffle tiny (≤ bins rows per partition);
  * the two histograms are bins-sized (tiny); the engine scores every
    column in one single-partition mapInPandas job
    (:func:`score_histograms_pandas`) — the only Python in the pipeline,
    over ~10s of rows.

PSI = Σ (p_i − q_i) · ln(p_i / q_i);  KL(p‖q) = Σ p_i · ln(p_i / q_i),
with epsilon-smoothed proportions so empty bins stay finite.
Conventional PSI reading: <0.1 stable, 0.1–0.2 moderate, >0.2 major shift.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import List, Optional, Sequence, Tuple

import pandas as pd

from pyspark.sql import DataFrame, functions as F

EPS = 1e-6


@dataclass
class DriftScore:
    column: str
    psi: float
    kl: float
    bins: int


def quantile_edges(
    df: DataFrame, column: str, bins: int = 10, accuracy: int = 10000
) -> List[float]:
    """Bin edges from approx_percentile over the baseline distribution."""
    probs = [i / bins for i in range(1, bins)]
    row = df.agg(
        F.percentile_approx(F.col(column).cast("double"), probs, accuracy).alias("q")
    ).collect()[0]
    edges = sorted(set(row["q"] or []))
    return [e for e in edges if e is not None]


def histogram(df: DataFrame, column: str, edges: Sequence[float]) -> DataFrame:
    """(bin, count) with bin ∈ [0, len(edges)]; nulls are dropped.

    ``width_bucket(v, lo, hi, n)`` needs equi-width bins, so we bin against
    the explicit quantile edge list with a fused CASE chain — still one
    codegen'd projection.
    """
    expr, v = bin_expr(F.col(column), edges)
    return (
        df.filter(v.isNotNull())
        .select(expr.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


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


def psi_kl_from_histograms(
    current: DataFrame, baseline: DataFrame, column: str = "value"
) -> DriftScore:
    """Join the two tiny histograms and score drift in one pandas UDF."""
    cur = current.select(F.col("bin"), F.col("cnt").alias("cur_cnt"))
    base = baseline.select(F.col("bin"), F.col("cnt").alias("base_cnt"))
    joined = cur.join(base, "bin", "full_outer").fillna(
        {"cur_cnt": 0, "base_cnt": 0}
    )

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        # one Arrow batch over the bins-sized frame; vectorized numpy math
        psi, kl = _psi_kl_numpy(pdf)
        return pd.DataFrame({"psi": [psi], "kl": [kl], "bins": [len(pdf)]})

    rows = (
        joined.groupBy(F.lit(1).alias("__g"))
        .applyInPandas(lambda _, pdf: score(pdf), "psi double, kl double, bins long")
        .collect()
    )
    if not rows:
        return DriftScore(column=column, psi=0.0, kl=0.0, bins=0)
    r = rows[0]
    return DriftScore(column=column, psi=r["psi"], kl=r["kl"], bins=r["bins"])


def ks_from_histograms(current: DataFrame, baseline: DataFrame) -> float:
    """Two-sample Kolmogorov–Smirnov statistic from binned histograms:
    max |CDF_cur − CDF_base| over the shared bins. Pure Column math on
    the bins-sized joined frame (the single-partition window is fine at
    histogram scale); no smoothing, so an external SQL oracle replays the
    arithmetic digit-for-digit. Complements PSI/KL: KS is the
    supremum-distance view (sensitive to a single shifted mode), PSI/KL
    the mass-ratio view."""
    from pyspark.sql import Window

    cur = current.select("bin", F.col("cnt").alias("c"))
    base = baseline.select("bin", F.col("cnt").alias("b"))
    j = cur.join(base, "bin", "full_outer").fillna({"c": 0, "b": 0})
    wall = Window.partitionBy()
    worder = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = j.select(
        "c", "b",
        (F.sum("c").over(worder) / F.sum("c").over(wall)).alias("fc"),
        (F.sum("b").over(worder) / F.sum("b").over(wall)).alias("fb"),
    )
    row = cum.agg(
        F.max(F.abs(F.col("fc") - F.col("fb"))).alias("ks"),
        F.sum("c").alias("tc"),
        F.sum("b").alias("tb"),
    ).collect()[0]
    # an empty side has no CDF: the division yields NULL, and silently
    # coercing that to 0.0 would read "no drift" for a side with no data
    # (round-3 advice). Fail loudly instead.
    if not row["tc"] or not row["tb"]:
        raise ValueError(
            "ks_from_histograms: KS is undefined when a histogram side "
            f"has zero total count (current={row['tc'] or 0}, "
            f"baseline={row['tb'] or 0})"
        )
    return float(row["ks"])


def ks_drift(
    current_df: DataFrame,
    baseline_df: DataFrame,
    column: str,
    bins: int = 10,
    edges: Optional[Sequence[float]] = None,
) -> float:
    """End-to-end KS drift for one column: edges from the baseline,
    both sides binned, KS from the joined histograms."""
    edges = list(edges) if edges is not None else quantile_edges(
        baseline_df, column, bins
    )
    if not edges:
        return 0.0
    return ks_from_histograms(
        histogram(current_df, column, edges),
        histogram(baseline_df, column, edges),
    )


def psi_kl(
    current_df: DataFrame,
    baseline_df: DataFrame,
    column: str,
    bins: int = 10,
    edges: Optional[Sequence[float]] = None,
) -> DriftScore:
    """End-to-end drift score for one column: edges from the baseline,
    both sides binned, PSI+KL from the joined histograms."""
    edges = list(edges) if edges is not None else quantile_edges(
        baseline_df, column, bins
    )
    if not edges:
        return DriftScore(column=column, psi=0.0, kl=0.0, bins=0)
    cur_h = histogram(current_df, column, edges)
    base_h = histogram(baseline_df, column, edges)
    out = psi_kl_from_histograms(cur_h, base_h, column)
    return DriftScore(column=column, psi=out.psi, kl=out.kl, bins=out.bins)


OTHER_BUCKET = "__other__"


def categorical_histogram(
    df: DataFrame, column: str, top_k: int = 100, _with_flag: bool = False
) -> DataFrame:
    """(cat, cnt) over the column's values with a deterministic top-k cap:
    the ``top_k`` most frequent categories (ties broken by value) keep
    their own bucket, everything else rolls into ``__other__`` — bounding
    the histogram relation regardless of column cardinality. One
    hash-aggregate + a driver-side top-k list (≤ top_k values).

    The rollup bucket name is reserved: a REAL category whose string value
    is literally ``__other__`` would be indistinguishable from the rollup
    (and would skew the fused engine path's baseline category space), so
    it raises here the moment it shows up in the top-k; callers that
    collect the histogram (``baseline_snapshot`` / ``psi_kl_categorical``)
    use ``_with_flag`` to catch it even outside the top-k with zero extra
    scans (the flag rides the existing rollup aggregate).
    """
    counts = (
        df.filter(F.col(column).isNotNull())
        .groupBy(F.col(column).cast("string").alias("cat"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = [
        r["cat"]
        for r in counts.orderBy(F.desc("cnt"), "cat").limit(top_k).collect()
    ]
    if OTHER_BUCKET in top:
        raise ValueError(
            f"column {column!r} contains {OTHER_BUCKET!r} as a real value; "
            "it collides with the rollup bucket — rename or pre-map it"
        )
    rolled = (
        counts.select(
            F.when(F.col("cat").isin(top), F.col("cat"))
            .otherwise(F.lit(OTHER_BUCKET))
            .alias("cat"),
            "cnt",
            (F.col("cat") == OTHER_BUCKET).cast("int").alias("__lit_other"),
        )
        .groupBy("cat")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.max("__lit_other").alias("__lit_other"),
        )
    )
    if _with_flag:
        return rolled
    return rolled.select("cat", "cnt")


def _guard_literal_other(rows, column: str):
    """Raise if any collected flagged-histogram row saw a literal
    ``__other__`` value rolled into a bucket."""
    if any(r["__lit_other"] for r in rows):
        raise ValueError(
            f"column {column!r} contains {OTHER_BUCKET!r} as a real value; "
            "it collides with the rollup bucket — rename or pre-map it"
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
    BASELINE's top-k (current values outside it roll into ``__other__``,
    so a brand-new category registers as drift instead of silently
    changing the bucket space); the epsilon-smoothed scorer is shared
    with the numeric path. Job count: one baseline aggregate (collected —
    it is ≤ top_k+1 rows), one current aggregate, and the PSI/KL
    arithmetic runs driver-side over those tiny dicts (no join job, no
    UDF job — the histograms already fit in the driver by construction)."""
    base_rows = categorical_histogram(
        baseline_df, column, top_k, _with_flag=True
    ).collect()
    _guard_literal_other(base_rows, column)
    base_counts = {r["cat"]: r["cnt"] for r in base_rows}
    base_cats = [c for c in base_counts if c != OTHER_BUCKET]
    cur_rows = (
        current_df.filter(F.col(column).isNotNull())
        .groupBy(
            F.when(
                F.col(column).cast("string").isin(base_cats),
                F.col(column).cast("string"),
            )
            .otherwise(F.lit(OTHER_BUCKET))
            .alias("cat")
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.max(
                (F.col(column).cast("string") == OTHER_BUCKET).cast("int")
            ).alias("__lit_other"),
        )
        .collect()
    )
    _guard_literal_other(cur_rows, column)
    cur_counts = {r["cat"]: r["cnt"] for r in cur_rows}
    buckets = sorted(set(base_counts) | set(cur_counts))
    psi, kl = psi_kl_exact(
        [cur_counts.get(b, 0) for b in buckets],
        [base_counts.get(b, 0) for b in buckets],
    )
    return DriftScore(column=column, psi=psi, kl=kl, bins=len(buckets))


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
    df: DataFrame, exprs: dict, bins: int = 10, accuracy: int = 10000
) -> dict:
    """Bin edges for MANY columns in ONE aggregate pass over the baseline.

    ``exprs``: {name: sql_expr_string}. Returns {name: [edges...]}.
    """
    probs = {}
    aggs = []
    for name, e in exprs.items():
        p = [i / bins for i in range(1, bins)]
        probs[name] = p
        aggs.append(
            F.percentile_approx(F.expr(e).cast("double"), p, accuracy).alias(
                f"__q__{name}"
            )
        )
    row = df.agg(*aggs).collect()[0]
    out = {}
    for name in exprs:
        qs = row[f"__q__{name}"] or []
        out[name] = sorted({q for q in qs if q is not None})
    return out


def multi_histogram_exprs(
    edges_by_name: dict, exprs: dict
) -> Tuple[List, List]:
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


def categorical_histogram_exprs(
    cats_by_name: dict, exprs: dict
) -> Tuple[List, List]:
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
    return [
        F.count_if(b == i).alias(f"__driftbin__{name}__{i}")
        for i in range(n_bins)
    ]


def decode_histogram_row(row: dict, name: str, n_bins: int) -> List[int]:
    return [int(row.get(f"__driftbin__{name}__{i}") or 0) for i in range(n_bins)]


def score_histograms_pandas(
    spark, per_column: dict
) -> dict:
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


def baseline_snapshot(
    df: DataFrame,
    exprs: dict,
    bins: int = 10,
    categorical: Sequence[str] = (),
) -> dict:
    """Precompute the drift baseline:
    numeric columns → {name: {"edges": [...], "counts": [...]}},
    ``categorical`` columns → {name: {"cats": [...], "counts": [...]}}
    (top-``bins`` categories by frequency, last count = ``__other__``).

    Run ONCE when the baseline is established (e.g. when a contract
    version is activated) and persist the (tiny) result — per-run
    validation then needs zero baseline scans. ``exprs``: {name: sql_expr}.
    """
    numeric = {c: e for c, e in exprs.items() if c not in set(categorical)}
    edges = {
        c: e for c, e in multi_quantile_edges(df, numeric, bins).items() if e
    } if numeric else {}
    cats = {}
    for c in categorical:
        hist = categorical_histogram(
            df.select(F.expr(exprs[c]).alias(c)), c, top_k=bins,
            _with_flag=True,
        ).collect()
        _guard_literal_other(hist, c)
        ordered = sorted(
            (r for r in hist if r["cat"] != OTHER_BUCKET),
            key=lambda r: r["cat"],
        )
        cats[c] = [r["cat"] for r in ordered]
    if not edges and not cats:
        return {}
    num_cols, num_aggs = multi_histogram_exprs(edges, exprs)
    cat_cols, cat_aggs = categorical_histogram_exprs(cats, exprs)
    row = (
        df.select(*num_cols, *cat_cols).agg(*num_aggs, *cat_aggs)
        .collect()[0].asDict()
    )
    out = {
        c: {
            "edges": list(edges[c]),
            "counts": decode_histogram_row(row, c, len(edges[c]) + 1),
        }
        for c in edges
    }
    for c in cats:
        out[c] = {
            "cats": list(cats[c]),
            "counts": decode_histogram_row(row, c, len(cats[c]) + 1),
        }
    return out


def psi_kl_exact(
    cur_counts: Sequence[float], base_counts: Sequence[float]
) -> tuple:
    """Driver-side reference arithmetic (used by tests as the oracle)."""
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
