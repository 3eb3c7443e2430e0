"""Uniqueness / referential / drift operator tests."""

import math
from bisect import bisect_left
from collections import Counter

import pytest

from pyspark.sql import functions as F

from data_contract_engine_spark.operators import referential as ref_op
from data_contract_engine_spark.operators import uniqueness as uniq_op
import pytest

from data_contract_engine_spark.operators.drift import (
    multi_quantile_edges,
    psi_kl,
    psi_kl_exact,
)


def test_composite_duplicates(spark):
    df = spark.createDataFrame(
        [("c1", 0), ("c1", 0), ("c1", 1), ("c2", 0)], "conv_id string, turn_idx int"
    )
    dups = uniq_op.duplicate_counts(df, ["conv_id", "turn_idx"]).collect()
    assert len(dups) == 1
    assert (dups[0]["conv_id"], dups[0]["turn_idx"], dups[0]["dup_count"]) == \
        ("c1", 0, 2)


def test_duplicate_report_ordering(spark):
    df = spark.createDataFrame(
        [("a",)] * 2 + [("b",)] * 5 + [("c",)] * 3 + [("d",)],
        "k string",
    )
    n, top = uniq_op.duplicate_report(df, "k", top_n=2)
    assert n == 3
    assert top == ["'b' (5x)", "'c' (3x)"]  # count desc, deterministic


def test_uniqueness_null_keys_render_as_none(spark):
    """A NULL key component is reported as `None`, as the reference's
    Python formatting does (`'None' (3x)`); composite keys as `None|3`.
    The fused multi-key report, the per-key report and the violation rows
    agree."""
    from data_contract_engine_spark import ContractEngine, contract_from_dict

    df = spark.createDataFrame(
        [(None, 3)] * 3 + [("a", 1), ("a", 1), ("b", None), ("b", None)],
        "k string, n int",
    )
    single = uniq_op.duplicate_report(df, "k")
    composite = uniq_op.duplicate_report(df, ["k", "n"])
    assert single == (3, ["'None' (3x)", "'a' (2x)", "'b' (2x)"])
    assert composite == (3, ["'None|3' (3x)", "'a|1' (2x)", "'b|None' (2x)"])
    fused = uniq_op.multi_duplicate_reports(df, ["k", ["k", "n"]])
    assert fused == {"k": single, "k,n": composite}

    contract = contract_from_dict({
        "contract_version": "1.0",
        "schema": {"k": {"type": "string", "required": False}},
        "quality_rules": {"uniqueness": {"fields": ["k", ["k", "n"]]}},
    })
    run = ContractEngine(spark).validate(df, contract, key_columns=["k"])
    keys = {(r["field"], r["key"], r["dup_count"])
            for r in run.uniqueness_violations().collect()}
    assert keys == {
        ("k", "None", 3), ("k", "a", 2), ("k", "b", 2),
        ("k,n", "None|3", 3), ("k,n", "a|1", 2), ("k,n", "b|None", 2),
    }


def test_referential_anti_join_broadcast(spark):
    df = spark.createDataFrame(
        [("r1", "search"), ("r2", "fax"), ("r3", None), ("r4", "sql")],
        "id string, tool string",
    )
    vocab = ref_op.vocab_df(spark, ["search", "browser", "python", "sql"], "tool")
    bad = ref_op.invalid_references(df, "tool", vocab)
    rows = bad.collect()
    assert [r["id"] for r in rows] == ["r2"]  # null is not a violation
    plan = bad._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_vocab_df_is_a_local_relation(spark):
    """A vocabulary frame is a JVM local relation: reading it runs no
    Python worker (no PythonRDD / ExistingRDD scan)."""
    vocab = ref_op.vocab_df(spark, ["search", "browser"], "tool")
    qe = vocab._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert "PythonRDD" not in qe.toRdd().toDebugString()
    assert sorted(r["tool"] for r in vocab.collect()) == ["browser", "search"]


def test_drift_zero_for_identical(spark):
    df = spark.range(5000).select((F.col("id") % 100).cast("double").alias("x"))
    score = psi_kl(df, df, "x", bins=10)
    assert abs(score.psi) < 1e-9
    assert abs(score.kl) < 1e-9


def test_drift_detects_shift(spark):
    base = spark.range(5000).select((F.col("id") % 100).cast("double").alias("x"))
    cur = spark.range(5000).select(
        ((F.col("id") % 100) + 80).cast("double").alias("x")
    )
    score = psi_kl(cur, base, "x", bins=10)
    assert score.psi > 0.2


def test_psi_matches_exact_arithmetic(spark):
    base = spark.range(2000).select((F.col("id") % 50).cast("double").alias("x"))
    cur = spark.range(2000).select(((F.col("id") * 7) % 90).cast("double").alias("x"))
    edges = multi_quantile_edges(base, {"x": "x"}, 10)["x"]

    def hist(df):  # bin i holds edges[i-1] < v <= edges[i]
        return Counter(bisect_left(edges, r["x"]) for r in df.collect())

    ch, bh = hist(cur), hist(base)
    bins = sorted(set(ch) | set(bh))
    exp_psi, exp_kl = psi_kl_exact(
        [ch.get(b, 0) for b in bins], [bh.get(b, 0) for b in bins]
    )
    score = psi_kl(cur, base, "x", bins=10)
    assert math.isclose(score.psi, exp_psi, rel_tol=1e-9)
    assert math.isclose(score.kl, exp_kl, rel_tol=1e-9)


def test_baseline_snapshot_matches_dataframe_path(spark):
    from data_contract_engine_spark.operators.drift import (
        baseline_snapshot,
        psi_kl,
        score_histograms_pandas,
    )

    base = spark.range(0, 2000).selectExpr("cast(id % 50 as double) as x")
    cur = spark.range(0, 2000).selectExpr("cast(id % 80 as double) as x")
    snap = baseline_snapshot(base, {"x": "x"}, bins=10)
    assert "x" in snap and len(snap["x"]["counts"]) == len(snap["x"]["edges"]) + 1
    # score via the snapshot path equals the DataFrame path
    from data_contract_engine_spark.operators.drift import (
        bin_expr,
        decode_histogram_row,
        multi_histogram_exprs,
    )

    row_cols, aggs = multi_histogram_exprs({"x": snap["x"]["edges"]}, {"x": "x"})
    row = cur.select(*row_cols).agg(*aggs).collect()[0].asDict()
    cur_counts = decode_histogram_row(row, "x", len(snap["x"]["edges"]) + 1)
    scores = score_histograms_pandas(
        spark, {"x": (cur_counts, snap["x"]["counts"])}
    )
    df_score = psi_kl(cur, base, "x", bins=10)
    assert scores["x"].psi == pytest.approx(df_score.psi, rel=1e-9)
    assert scores["x"].kl == pytest.approx(df_score.kl, rel=1e-9)


def test_score_histograms_one_job_matches_exact(spark):
    """All columns are scored by ONE Spark job (an Arrow-built local
    relation and one mapInPandas, no shuffle), each equal to the
    driver-side arithmetic."""
    from data_contract_engine_spark.operators.drift import (
        psi_kl_exact,
        score_histograms_pandas,
    )

    per_col = {
        "x": ([5, 0, 12, 40, 3], [10, 10, 10, 10, 10]),
        "cat": ([7, 1, 0], [2, 5, 9]),
    }
    sc = spark.sparkContext
    sc.setJobGroup("score_histograms", "drift scoring")
    try:
        scores = score_histograms_pandas(spark, per_col)
        jobs = sc.statusTracker().getJobIdsForGroup("score_histograms")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs) == 1
    for name, (cur, base) in per_col.items():
        psi, kl = psi_kl_exact(cur, base)
        assert scores[name].bins == len(cur)
        assert scores[name].psi == pytest.approx(psi, rel=1e-12)
        assert scores[name].kl == pytest.approx(kl, rel=1e-12)


def test_engine_uses_snapshot_without_baseline_scans(spark):
    from data_contract_engine_spark import ContractEngine, parse_contract_yaml
    from data_contract_engine_spark.operators.drift import baseline_snapshot

    yaml_text = """
contract_version: "1.0"
schema:
  v: {type: float, required: true}
quality_rules:
  drift:
    v: {metric: psi, threshold: 0.1, bins: 5}
"""
    contract = parse_contract_yaml(yaml_text, name="snap")
    base = spark.range(0, 1000).selectExpr("cast(id % 10 as double) as v")
    cur = spark.range(0, 1000).selectExpr("cast(id % 3 as double) as v")
    snap = baseline_snapshot(base, {"v": "v"}, bins=5)
    eng = ContractEngine(spark, drift_baseline_snapshot=snap)
    rep = eng.validate(cur, contract, key_columns=["v"]).report()
    assert rep.quality is not None
    drift_errors = [e for e in rep.quality.errors if e.rule_type == "DRIFT"]
    assert drift_errors and drift_errors[0].details["psi"] > 0.1


def test_categorical_drift_psi(spark):
    """Categorical PSI: matches the exact driver-side arithmetic; a
    brand-new category in current rolls into __other__ (the baseline
    fixes the bucket space) and registers as drift."""
    from data_contract_engine_spark.operators import drift

    base = spark.createDataFrame(
        [("a",)] * 50 + [("b",)] * 30 + [("c",)] * 20, "cat string"
    )
    cur_same = spark.createDataFrame(
        [("a",)] * 25 + [("b",)] * 15 + [("c",)] * 10, "cat string"
    )
    s = drift.psi_kl_categorical(cur_same, base, "cat")
    assert s.bins == 3 and abs(s.psi) < 1e-6  # identical proportions

    cur_new = spark.createDataFrame(
        [("a",)] * 10 + [("zzz",)] * 40, "cat string"
    )
    s2 = drift.psi_kl_categorical(cur_new, base, "cat")
    # exact arithmetic twin: __other__ absorbs the unseen category
    expected_psi, expected_kl = drift.psi_kl_exact(
        # joined buckets sorted by name: __other__, a, b, c
        [40, 10, 0, 0], [0, 50, 30, 20]
    )
    assert s2.psi == pytest.approx(expected_psi, rel=1e-9)
    assert s2.kl == pytest.approx(expected_kl, rel=1e-9)
    assert s2.psi > 1.0  # large shift


def test_categorical_other_collision_raises(spark):
    """'__other__' as a REAL category value collides with the rollup
    bucket → hard error instead of silently skewed histograms."""
    from data_contract_engine_spark.operators import drift

    df = spark.createDataFrame(
        [("__other__",), ("en",), ("en",)], ["lang"]
    )
    with pytest.raises(ValueError, match="__other__"):
        drift.categorical_histogram(df, "lang")
    with pytest.raises(ValueError, match="__other__"):
        drift.baseline_snapshot(df, {"lang": "lang"}, bins=5,
                                categorical=["lang"])
    # a current-side literal counts in the __other__ bucket (baseline
    # clean), as in the engine and the stream monitor
    base = spark.createDataFrame([("en",), ("fr",)], ["lang"])
    cur = spark.createDataFrame([("en",), ("__other__",)], ["lang"])
    s = drift.psi_kl_categorical(cur, base, "lang")
    psi, kl = drift.psi_kl_exact([1, 0, 1], [1, 1, 0])  # en, fr, __other__
    assert s.bins == 3
    assert s.psi == pytest.approx(psi, rel=1e-9)
    assert s.kl == pytest.approx(kl, rel=1e-9)
    # a baseline collision BELOW the top-k raises too
    crowd = [(c,) for c in "abcdef" for _ in range(5)] + [("__other__",)]
    rare = spark.createDataFrame(crowd, ["lang"])
    with pytest.raises(ValueError, match="__other__"):
        drift.psi_kl_categorical(base, rare, "lang", top_k=2)


def test_duplicate_clusters_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir → reliable checkpoint() per round; labels identical
    to the localCheckpoint default (the executor-loss durability knob
    must not change results)."""
    from data_contract_engine_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")],
        "id_a string, id_b string",
    )
    expected = {
        ("a", "a"), ("b", "a"), ("c", "a"), ("d", "a"),
        ("x", "x"), ("y", "x"),
    }
    local = {
        (r["id"], r["cluster_id"])
        for r in duplicate_clusters(pairs).collect()
    }
    reliable = {
        (r["id"], r["cluster_id"])
        for r in duplicate_clusters(
            pairs, checkpoint_dir=str(tmp_path / "cc_ckpt")
        ).collect()
    }
    assert local == reliable == expected
    # the reliable run actually materialized checkpoint files
    import os

    assert any(os.scandir(str(tmp_path / "cc_ckpt")))
