"""Uniqueness checking as a two-stage (partial + final) hash-aggregate.

Reference semantics (`app/core/quality_validator.py:157-182`): for each
configured field, count value occurrences; any value occurring more than
once is a violation, reported as ONE QualityError per field listing up to
five duplicate values as ``'<val>' (<n>x)``. Nulls participate as values
and render as ``None`` (``'None|3' (2x)`` for a composite key).

Scale design (north rule: uniqueness over (conv_id, turn_idx) at 10^12
rows with hot conversations): one ``groupBy(key).count()``. Spark's hash
aggregate runs it as a salted two-stage aggregate physically — the
partial count combines map-side per input partition (the input partition
IS the salt), so a hot key arrives at the final aggregate as at most one
row per input partition. AQE skew-join/coalescing stays enabled on top.

**Measurement note (1.76M rows, local[32]):** an explicit salt stage
(``groupBy(key, spark_partition_id())`` then ``groupBy(key)``) computes
the same counts but only adds a second shuffle — measured 1.8-2x slower
(1.2s vs 0.6s).

The per-field duplicate report is deterministic: duplicates are ranked by
count DESC then key ASC (the reference reports first-seen order, which is
undefined under parallelism — SURVEY.md §7 "hard parts").
"""

from __future__ import annotations

from typing import List, Sequence, Union

from pyspark.sql import DataFrame, functions as F

KeySpec = Union[str, Sequence[str]]


def _key_cols(key: KeySpec) -> List[str]:
    return [key] if isinstance(key, str) else list(key)


def _key_string(key: KeySpec):
    """A key as reported: components joined by ``|``, a NULL component
    rendered ``None`` as the reference's ``f"'{val}'"`` formats it."""
    return F.concat_ws("|", *[
        F.coalesce(F.col(c).cast("string"), F.lit("None"))
        for c in _key_cols(key)
    ])


def duplicate_counts(df: DataFrame, key: KeySpec) -> DataFrame:
    """DataFrame of (key columns..., dup_count) for keys with count > 1."""
    cols = _key_cols(key)
    counts = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("dup_count"))
    return counts.filter(F.col("dup_count") > 1)


def duplicate_report(df: DataFrame, key: KeySpec, top_n: int = 5):
    """(n_duplicate_keys, [formatted top-N strings]) for the QualityError
    message — parity with `quality_validator.py:169-172`."""
    dups = duplicate_counts(df, key)
    agg = dups.agg(
        F.count(F.lit(1)).alias("n"),
        F.slice(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        (-F.col("dup_count")).alias("neg"),
                        _key_string(key).alias("k"),
                        F.col("dup_count").alias("c"),
                    )
                )
            ),
            1,
            top_n,
        ).alias("top"),
    ).collect()[0]
    n_dups = agg["n"]
    top = [f"'{t['k']}' ({t['c']}x)" for t in (agg["top"] or [])]
    return n_dups, top


def multi_duplicate_counts(df: DataFrame, keys: Sequence[KeySpec]):
    """(duplicates_frame, gids, key_lists): duplicate groups for ALL
    configured keys from ONE scan — project the union of key columns,
    GROUPING SETS aggregate (one Expand over the narrow projection, one
    count hash-agg with map-side combine), keep groups with count > 1.
    ``__gid`` (grouping_id) identifies which key each row belongs to;
    ``gids[i]`` is the id for ``keys[i]``."""
    key_lists = [_key_cols(k) for k in keys]
    all_cols: List[str] = []
    for cols in key_lists:
        for c in cols:
            if c not in all_cols:
                all_cols.append(c)
    # duplicate or permuted specs resolve to the SAME grouping set (and
    # the same grouping_id) — pass each set once, or the Expand emits
    # every group twice and stage-2 counts double
    unique_sets: List[List[str]] = []
    seen = set()
    for cols in key_lists:
        fs = frozenset(cols)
        if fs not in seen:
            seen.add(fs)
            unique_sets.append(list(cols))
    base = df.select(*all_cols)  # prune BEFORE the Expand
    gs = (
        base.groupingSets(
            unique_sets, *[F.col(c) for c in all_cols]
        )
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.grouping_id().alias("__gid"),
        )
        .filter(F.col("dup_count") > 1)
    )
    # grouping_id: bit i set when all_cols[i] is NOT in the grouping set
    gids = []
    for cols in key_lists:
        gid = 0
        for i, c in enumerate(all_cols):
            if c not in cols:
                gid |= 1 << (len(all_cols) - 1 - i)
        gids.append(gid)
    return gs, gids, key_lists


def multi_duplicate_reports(
    df: DataFrame, keys: Sequence[KeySpec], top_n: int = 5
):
    """{label: (n_duplicate_keys, top strings)} for ALL configured
    uniqueness keys in ONE job (round-3 twin of the fused table-backed
    referential check): project the union of key columns once, aggregate
    every key via GROUPING SETS — one scan of the fact table, one Expand
    over the (narrow) projected key columns, one count aggregate, then a
    second tiny aggregate computing per-key counts + top-N over the
    duplicates relation, one collect. Per-key results are identical to
    :func:`duplicate_report` (pinned by
    tests/test_quality.py::test_multi_uniqueness_single_job).

    Grouping-set NULL conflation is not an issue: grouping_id() keys the
    second stage, so set membership never rides on NULL-ness and data
    NULLs group normally inside their own set.
    """
    gs, gids, key_lists = multi_duplicate_counts(df, keys)
    key_str = None
    for gid, cols in zip(gids, key_lists):
        s = _key_string(cols)
        key_str = (
            F.when(F.col("__gid") == gid, s)
            if key_str is None
            else key_str.when(F.col("__gid") == gid, s)
        )
    rows = (
        gs.groupBy("__gid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.slice(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            (-F.col("dup_count")).alias("neg"),
                            key_str.alias("k"),
                            F.col("dup_count").alias("c"),
                        )
                    )
                ),
                1,
                top_n,
            ).alias("top"),
        )
        .collect()
    )
    by_gid = {r["__gid"]: r for r in rows}
    out = {}
    for key, gid in zip(keys, gids):
        label = key if isinstance(key, str) else ",".join(_key_cols(key))
        r = by_gid.get(gid)
        if r is None:
            out[label] = (0, [])
        else:
            out[label] = (
                r["n"], [f"'{t['k']}' ({t['c']}x)" for t in (r["top"] or [])]
            )
    return out


def duplicate_violations(
    df: DataFrame,
    key: KeySpec,
    contract_id: str = "contract",
) -> DataFrame:
    """Violation rows (contract_id, rule, field, key columns..., dup_count)
    — the distributed artifact persisted to the violations sink."""
    cols = _key_cols(key)
    return duplicate_counts(df, key).select(
        F.lit(contract_id).alias("contract_id"),
        F.lit("UNIQUENESS").alias("rule"),
        F.lit(",".join(cols)).alias("field"),
        *[F.col(c) for c in cols],
        F.col("dup_count"),
    )
