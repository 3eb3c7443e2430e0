"""Referential-integrity checks.

Generalizes the reference's enum-membership check
(`app/core/schema_validator.py:146-155`, SURVEY.md §2.4 J2) to
vocabularies kept in a table: role/tool vocabularies, dimension-table keys.

The report-level check (:func:`fused_vocab_miss_agg`) resolves every
vocabulary, literal or table, to a literal set probed inside the engine's
fused aggregate (``OptimizeIn`` hashes a set of more than 10 values into
an ``InSet``): the fact table is scanned once and never joined. Row-level
violations are broadcast anti-joins, so the fact table never shuffles.

NULL values are treated as "no reference to check" (the reference only
runs enum checks on present values); nullability is the completeness /
required-field rule's job.
"""

from __future__ import annotations

from typing import Any, Dict, Iterable, List, Optional, Tuple

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..contracts.model import ContractError

# Largest vocabulary table inlined as a literal set; building the Column
# took ~0.03 s of driver time at 10 values, ~1.7 s at 1,000 (4-core host).
MAX_VOCAB_VALUES = 1000


def vocab_df(spark: SparkSession, values: Iterable, column: str) -> DataFrame:
    """One-column vocabulary frame built from an Arrow table: a JVM local
    relation, so reading it runs no Python worker."""
    import pyarrow as pa

    return spark.createDataFrame(pa.table({column: pa.array(list(values))}))


def invalid_references(
    df: DataFrame,
    column: str,
    vocab: DataFrame,
    vocab_column: Optional[str] = None,
) -> DataFrame:
    """Rows of ``df`` whose non-null ``column`` is absent from the vocab.

    Plan shape: ``df ⟕anti broadcast(vocab)`` — one scan of the fact
    table, zero shuffle of it.
    """
    vc = vocab_column or column
    vocab_keys = vocab.select(F.col(vc).alias("__vocab_key")).distinct()
    return df.filter(F.col(column).isNotNull()).join(
        F.broadcast(vocab_keys),
        on=F.col(column) == F.col("__vocab_key"),
        how="left_anti",
    )


def fused_vocab_miss_agg(
    df: DataFrame,
    referential: Dict[str, Dict[str, Any]],
    vocab_tables: Dict[str, DataFrame],
    n_examples: int = 5,
) -> Tuple[List[Column], List[Column]]:
    """``(row_cols, aggs)`` for the engine's fused pass over ``df``, per
    referential column: the row column ``__miss__{col}`` (the non-null
    value is outside the vocabulary), projected under the aggregate so the
    set probe runs once per row, and the aggregates ``__refbad__{col}``
    (miss count) and ``__refex__{col}`` (≤ ``n_examples`` sorted misses)
    over it, decoded by ``quality.aggregates.decode_quality_row``. A
    ``table:`` vocabulary comes from ``vocab_tables``, else the Spark
    catalog, and is read once: at most MAX_VOCAB_VALUES + 1 non-null
    values of its key column. Raises before any fact-table job on a column
    missing from ``df``, a table over the bound, or a table that resolves
    nowhere."""
    missing = [c for c in referential if c not in df.columns]
    if missing:
        raise ContractError(f"referential columns {missing} not in the input")
    row_cols: List[Column] = []
    aggs: List[Column] = []
    for column, spec in referential.items():
        if "values" in spec:
            values = spec["values"]
        else:
            table, vc = spec["table"], spec["column"]
            vocab = vocab_tables.get(table)
            if vocab is None:  # raises Spark's error naming the table
                vocab = df.sparkSession.table(table)
            # sort + limit plans as a top-k: ONE job, every partition in
            # parallel keeps ≤ MAX_VOCAB_VALUES + 1 values (a plain limit
            # runs 2+ jobs, a coalesce(1) reads serially)
            rows = (
                vocab.select(vc).where(F.col(vc).isNotNull())
                .orderBy(vc).limit(MAX_VOCAB_VALUES + 1).collect()
            )
            if len(rows) > MAX_VOCAB_VALUES:
                raise ContractError(
                    f"referential vocabulary table '{table}' column '{vc}' "
                    f"has more than MAX_VOCAB_VALUES={MAX_VOCAB_VALUES} "
                    f"values"
                )
            values = [r[0] for r in rows]
        # NULL leaves the set: `x IN (..., NULL)` is NULL for a miss; an
        # empty set makes every non-null value a miss
        values = [v for v in values if v is not None]
        miss = f"__miss__{column}"
        row_cols.append(
            (F.col(column).isNotNull() & ~F.col(column).isin(*values))
            .alias(miss)
        )
        misses = F.collect_set(
            F.when(F.col(miss), F.col(column).cast("string"))
        )
        aggs += [
            F.count_if(F.col(miss)).alias(f"__refbad__{column}"),
            F.slice(F.sort_array(misses), 1, n_examples)
            .alias(f"__refex__{column}"),
        ]
    return row_cols, aggs
