"""Quality-rule tests — parity with reference tests/test_quality_validator.py."""

import datetime as dt

import pytest

from data_contract_engine_spark import ContractEngine, contract_from_dict

NOW = dt.datetime(2025, 6, 1, 12, 0, 0, tzinfo=dt.timezone.utc).timestamp()


def _contract(quality):
    return contract_from_dict(
        {
            "contract_version": "1.0",
            "schema": {"id": {"type": "string"},
                       "value": {"type": "float", "required": False}},
            "quality_rules": quality,
        }
    )


def _run(spark, rows, quality, ddl="id string, value double, timestamp timestamp"):
    df = spark.createDataFrame(rows, ddl)
    eng = ContractEngine(spark, now_epoch=NOW)
    run = eng.validate(df, _contract(quality), key_columns=["id"])
    return run.report()


def _ts(hours_ago: float) -> dt.datetime:
    return dt.datetime.fromtimestamp(NOW - hours_ago * 3600, dt.timezone.utc) \
        .replace(tzinfo=None)


def test_freshness_pass_and_fail(spark):
    # 3h-old data vs 1h limit fails; vs 24h limit passes
    rows = [("a", 1.0, _ts(3.0))]
    rep = _run(spark, rows, {"freshness": {"max_latency_hours": 1}})
    q = rep.quality
    assert not q.passed
    assert q.errors[0].rule_type == "FRESHNESS"
    assert "3.0 hours old, exceeds limit of 1 hours" in q.errors[0].message
    rep = _run(spark, rows, {"freshness": {"max_latency_hours": 24}})
    assert rep.quality.passed


def test_freshness_reports_oldest(spark):
    rows = [("a", 1.0, _ts(2.0)), ("b", 1.0, _ts(50.0))]
    rep = _run(spark, rows, {"freshness": {"max_latency_hours": 24}})
    assert "50.0 hours old" in rep.quality.errors[0].message


def test_min_row_count(spark):
    rows = [("a", 1.0, _ts(0))] * 50
    rep = _run(spark, rows, {"completeness": {"min_row_count": 100}})
    q = rep.quality
    assert not q.passed
    assert q.errors[0].message == "Insufficient records: got 50, expected 100"


def test_max_null_percentage(spark):
    # 2 of 3 null (66.7%) > 5% limit
    rows = [("a", None, _ts(0)), ("b", None, _ts(0)), ("c", 1.0, _ts(0))]
    rep = _run(spark, rows, {"completeness": {"max_null_percentage": 5}})
    q = rep.quality
    assert not q.passed
    msgs = [e.message for e in q.errors]
    assert any("'value' has 66.7% nulls, exceeds 5% limit" in m for m in msgs)


def test_uniqueness_pass_and_fail(spark):
    ok = [("a", 1.0, _ts(0)), ("b", 1.0, _ts(0))]
    rep = _run(spark, ok, {"uniqueness": {"fields": ["id"]}})
    assert rep.quality.passed
    dup = [("a", 1.0, _ts(0)), ("a", 2.0, _ts(0)), ("a", 3.0, _ts(0)),
           ("b", 1.0, _ts(0))]
    rep = _run(spark, dup, {"uniqueness": {"fields": ["id"]}})
    q = rep.quality
    assert not q.passed
    assert q.errors[0].rule_type == "UNIQUENESS"
    assert q.errors[0].message == "Duplicate values in 'id': 'a' (3x)"
    assert q.errors[0].details["duplicate_count"] == 1


def test_uniqueness_composite_key(spark):
    rows = [("a", 1.0, _ts(0)), ("a", 1.0, _ts(0)), ("a", 2.0, _ts(0))]
    rep = _run(spark, rows, {"uniqueness": {"fields": [["id", "value"]]}})
    q = rep.quality
    assert not q.passed
    assert "id,value" in q.errors[0].message


def test_statistics_warning_does_not_fail(spark):
    rows = [("a", 10.0, _ts(0)), ("b", 20.0, _ts(0))]  # mean 15
    rep = _run(
        spark, rows,
        {"statistics": {"value": {"mean": {"min": 0, "max": 5}}}},
    )
    q = rep.quality
    assert q.passed  # WARNING severity doesn't flip the verdict
    assert q.errors[0].severity == "WARNING"
    assert q.errors[0].message == "Field 'value' mean 15.00 exceeds maximum 5"
    assert q.quality_score == 97.0  # 100 - 3


def test_statistics_population_stddev(spark):
    # population std of [2, 4] is 1.0 (sample std would be ~1.414)
    rows = [("a", 2.0, _ts(0)), ("b", 4.0, _ts(0))]
    rep = _run(
        spark, rows, {"statistics": {"value": {"std_dev": {"max": 1.2}}}}
    )
    assert rep.quality.passed  # 1.0 <= 1.2 — sample std would have failed
    rep = _run(
        spark, rows, {"statistics": {"value": {"std_dev": {"max": 0.5}}}}
    )
    assert rep.quality.errors[0].message == \
        "Field 'value' std dev 1.00 exceeds maximum 0.5"


def test_quality_score_arithmetic(spark):
    # 1 ERROR (uniqueness) + 1 WARNING (stats) → 100 - 10 - 3 = 87
    rows = [("a", 50.0, _ts(0)), ("a", 60.0, _ts(0))]
    rep = _run(
        spark, rows,
        {
            "uniqueness": {"fields": ["id"]},
            "statistics": {"value": {"mean": {"max": 5}}},
        },
    )
    q = rep.quality
    assert q.quality_score == 87.0
    assert not q.passed


def test_quality_gated_on_schema_pass(spark):
    # all records fail schema → quality stage must not run (parity:
    # validation_engine.py:105)
    c = contract_from_dict(
        {
            "contract_version": "1.0",
            "schema": {"id": {"type": "string", "pattern": "^ok$"}},
            "quality_rules": {"completeness": {"min_row_count": 100}},
        }
    )
    df = spark.createDataFrame([("bad1",), ("bad2",)], "id string")
    rep = ContractEngine(spark, now_epoch=NOW).validate(df, c).report()
    assert rep.failed == 2
    assert rep.quality is None


def test_batch_counters_and_pass_rate(spark):
    rows = [("a", 1.0, _ts(0)), ("b", 1.0, _ts(0)), (None, 1.0, _ts(0)),
            ("d", 1.0, _ts(0))]
    rep = _run(spark, rows, {})
    assert (rep.total_records, rep.passed, rep.failed) == (4, 3, 1)
    assert rep.pass_rate == 75.0
    assert rep.errors_summary == {"REQUIRED_FIELD_MISSING": 1}


def test_empty_input_pass_rate_zero(spark):
    rep = _run(spark, [], {})
    assert rep.total_records == 0
    assert rep.pass_rate == 0.0


def test_execute_single_action_writes_and_reports(spark, tmp_path):
    """execute(): violations written while the same scan's aggregates are
    observed — report equals the two-pass report()."""
    from data_contract_engine_spark import ContractEngine, parse_contract_yaml

    yaml_text = """
contract_version: "1.0"
schema:
  k: {type: string, required: true, pattern: "^k_\\\\d+$"}
  v: {type: integer, required: true, min: 0}
quality_rules:
  completeness: {min_row_count: 1, max_null_percentage: 50}
  statistics:
    v: {mean: {min: -1000, max: 1000}}
  referential:
    k: {values: [k_0, k_1, k_2, k_3, k_4, bad]}
"""
    contract = parse_contract_yaml(yaml_text, name="exec")
    rows = [(f"k_{i}", i) for i in range(5)] + [("bad", -1), ("k_9", None)]
    df = spark.createDataFrame(rows, "k string, v int")
    eng = ContractEngine(spark)

    run1 = eng.validate(df, contract, key_columns=["k"])
    rep1 = run1.report()

    run2 = eng.validate(df, contract, key_columns=["k"])
    out = str(tmp_path / "viol")
    rep2 = run2.execute(out)

    assert rep2.total_records == rep1.total_records == 7
    assert rep2.failed == rep1.failed == 2
    assert rep2.errors_summary == rep1.errors_summary
    assert rep2.total_violation_rows == rep1.total_violation_rows
    assert (rep2.quality is None) == (rep1.quality is None)
    if rep1.quality:
        assert rep2.quality.quality_score == rep1.quality.quality_score
        assert [e.rule_type for e in rep2.quality.errors] == [
            e.rule_type for e in rep1.quality.errors
        ]
    written = spark.read.parquet(out)
    assert written.count() == rep1.total_violation_rows
    assert set(written.columns) >= {"contract_id", "k", "field", "error_type"}


def test_empty_input_parity(spark):
    """Reference parity for empty batches: pass_rate 0.0, no quality stage
    (gated on passed > 0), empty summary (validation_engine.py:122)."""
    from data_contract_engine_spark import ContractEngine, parse_contract_yaml

    contract = parse_contract_yaml(
        """
contract_version: "1.0"
schema:
  k: {type: string, required: true}
quality_rules:
  completeness: {min_row_count: 1}
""",
        name="empty",
    )
    df = spark.createDataFrame([], "k string")
    rep = ContractEngine(spark).validate(df, contract, key_columns=["k"]).report()
    assert rep.total_records == 0 and rep.passed == 0 and rep.failed == 0
    assert rep.pass_rate == 0.0
    assert rep.errors_summary == {} and rep.sample_errors == []
    assert rep.quality is None  # gated: no record passed schema


def test_missing_column_contract(spark):
    """A declared column absent from the DataFrame: required → every row
    fails with REQUIRED_FIELD_MISSING; optional → ignored."""
    from data_contract_engine_spark import ContractEngine, parse_contract_yaml

    contract = parse_contract_yaml(
        """
contract_version: "1.0"
schema:
  k: {type: string, required: true}
  ghost: {type: string, required: true}
  maybe: {type: integer, required: false}
""",
        name="missing",
    )
    df = spark.createDataFrame([("a",), ("b",)], "k string")
    run = ContractEngine(spark).validate(df, contract, key_columns=["k"])
    rep = run.report()
    assert rep.failed == 2
    assert rep.errors_summary == {"REQUIRED_FIELD_MISSING": 2}
    viol = run.violations().collect()
    assert all(r["field"] == "ghost" for r in viol)


def test_statistics_distinct_count_bounds(spark):
    """Cardinality bounds (extension): approx_count_distinct sketch rides
    the fused agg; works on non-numeric columns; WARNING severity like the
    other statistics checks. Exact at tiny cardinalities."""
    rows = [("a", 1.0, _ts(0)), ("a", 2.0, _ts(0)), ("b", 3.0, _ts(0))]
    rep = _run(
        spark, rows, {"statistics": {"id": {"distinct_count": {"min": 5}}}}
    )
    q = rep.quality
    assert q.passed  # warning only
    assert q.errors[0].rule_type == "STATISTICS"
    assert q.errors[0].message == (
        "Field 'id' has ~2 distinct values, below minimum 5"
    )

    rep = _run(
        spark, rows,
        {"statistics": {"id": {"distinct_count": {"min": 1, "max": 10}}}},
    )
    assert rep.quality.passed and not rep.quality.errors

    rep = _run(
        spark, rows, {"statistics": {"id": {"distinct_count": {"max": 1}}}}
    )
    assert "exceeds maximum 1" in rep.quality.errors[0].message


def test_categorical_drift_rule_in_contract(spark):
    """drift: {col: {type: categorical}} buckets by the baseline's
    category set (+__other__) instead of numeric edges, fused into the
    same agg pass; unseen categories register as drift."""
    from data_contract_engine_spark.operators.drift import (
        contract_baseline_snapshot,
    )

    base_rows = [("a", float(i), _ts(0), "x") for i in range(50)] + [
        ("b", 1.0, _ts(0), "y")
    ] * 50
    cur_same = base_rows
    cur_shifted = [("c", 1.0, _ts(0), "zzz")] * 80 + [
        ("d", 1.0, _ts(0), "x")
    ] * 20
    ddl = "id string, value double, timestamp timestamp, cat string"
    contract = contract_from_dict(
        {
            "contract_version": "1.0",
            "schema": {"id": {"type": "string"}},
            "quality_rules": {
                "drift": {
                    "cat": {
                        "type": "categorical",
                        "metric": "psi",
                        "threshold": 0.2,
                    }
                }
            },
        }
    )

    snap = contract_baseline_snapshot(
        spark.createDataFrame(base_rows, ddl), contract.quality.drift
    )
    eng = ContractEngine(spark, now_epoch=NOW, drift_baseline_snapshot=snap)
    rep = eng.validate(
        spark.createDataFrame(cur_same, ddl), contract, key_columns=["id"]
    ).report()
    assert rep.quality.passed and not rep.quality.errors

    rep2 = eng.validate(
        spark.createDataFrame(cur_shifted, ddl), contract, key_columns=["id"]
    ).report()
    drift_errs = [e for e in rep2.quality.errors if e.rule_type == "DRIFT"]
    assert drift_errs and drift_errs[0].details["psi"] > 0.2
    assert "PSI" in drift_errs[0].message


def _ref_contract(referential):
    return contract_from_dict(
        {
            "contract_version": "1.0",
            "schema": {"id": {"type": "string"}},
            "quality_rules": {"referential": referential},
        }
    )


def test_referential_table_vocabs_single_job(spark, monkeypatch):
    """k table-backed vocab columns resolve to literal sets inside the
    fused aggregate: during report() exactly one collected plan reads the
    fact relation, and it contains no join. The other collects read only
    the vocab tables."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    contract = _ref_contract({
        "role": {"table": "roles", "column": "role"},
        "tool": {"table": "tools", "column": "tool"},
    })
    df = spark.createDataFrame(
        [("a", "user", "search"), ("b", "ghost", "search"),
         ("c", "user", "hammer"), ("d", None, None)],
        "id string, role string, tool string",
    )
    roles = spark.createDataFrame([("user",), ("assistant",)], ["role"])
    tools = spark.createDataFrame([("search",), ("calc",)], ["tool"])
    eng = ContractEngine(
        spark, vocab_tables={"roles": roles, "tools": tools}
    )
    run = eng.validate(df, contract, key_columns=["id"])

    collected = []
    real_collect = ClassicDF.collect

    def spy(frame):
        collected.append(frame)
        return real_collect(frame)

    monkeypatch.setattr(ClassicDF, "collect", spy)
    errors = run.report().quality.errors
    monkeypatch.undo()

    plans = [
        f._jdf.queryExecution().executedPlan().toString() for f in collected
    ]
    # the fact relation is the only scan carrying the `id` column
    fact_plans = [p for p in plans if "ExistingRDD[id#" in p]
    assert len(fact_plans) == 1, plans
    assert "Join" not in fact_plans[0]

    by_field = {e.details["field"]: e for e in errors}
    assert by_field["role"].details["invalid_count"] == 1
    assert "ghost" in by_field["role"].message
    assert by_field["tool"].details["invalid_count"] == 1
    assert "hammer" in by_field["tool"].message
    assert by_field["role"].message.startswith(
        "Field 'role' has 1 values outside the reference vocabulary:"
    )


def test_referential_literal_and_table_vocab_parity(spark, tmp_path):
    """The same vocabulary declared as `values:` and as a table yields an
    identical QualityResult from report() and from execute(); errors come
    out in contract declaration order for both sources."""
    df = spark.createDataFrame(
        [("a", "user", "search"), ("b", "ghost", "drill"),
         ("c", "bot", "hammer"), ("d", None, "search")],
        "id string, role string, tool string",
    )
    tables = {
        "roles": spark.createDataFrame([("user",), ("assistant",)], ["role"]),
        "tools": spark.createDataFrame([("search",), ("calc",)], ["tool"]),
    }
    literal = _ref_contract({
        "tool": {"values": ["search", "calc"]},
        "role": {"values": ["user", "assistant"]},
    })
    # mixed: a table vocab declared before a literal one
    table = _ref_contract({
        "tool": {"table": "tools", "column": "tool"},
        "role": {"values": ["user", "assistant"]},
    })
    eng = ContractEngine(spark, vocab_tables=tables, now_epoch=NOW)
    results = []
    for i, contract in enumerate((literal, table)):
        results.append(eng.validate(df, contract, key_columns=["id"])
                       .report().quality)
        results.append(eng.validate(df, contract, key_columns=["id"])
                       .execute(str(tmp_path / f"v{i}")).quality)
    assert all(r == results[0] for r in results[1:]), results
    assert [e.details["field"] for e in results[0].errors] == ["tool", "role"]
    assert results[0].errors[0].message == (
        "Field 'tool' has 2 values outside the reference vocabulary: "
        "drill, hammer"
    )


def test_referential_vocab_table_with_null(spark):
    """A NULL in the vocabulary table is dropped from the literal set
    (`x IN (.., NULL)` is NULL and would hide every miss); a NULL fact
    value is never a miss."""
    df = spark.createDataFrame(
        [("a", "search"), ("b", "hammer"), ("c", None), ("d", "drill")],
        "id string, tool string",
    )
    tools = spark.createDataFrame([("search",), (None,)], "tool string")
    q = (
        ContractEngine(spark, vocab_tables={"tools": tools})
        .validate(df, _ref_contract(
            {"tool": {"table": "tools", "column": "tool"}}), ["id"])
        .report().quality
    )
    assert [e.details for e in q.errors] == [
        {"field": "tool", "invalid_count": 2}
    ]
    assert q.errors[0].message.endswith(": drill, hammer")


def test_referential_empty_vocab_table(spark):
    """An empty vocabulary table makes every non-null value a miss; the
    message lists the 5 smallest distinct misses."""
    df = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate("gfedcbaa")] + [("z", None)],
        "id string, tool string",
    )
    tools = spark.createDataFrame([], "tool string")
    q = (
        ContractEngine(spark, vocab_tables={"tools": tools})
        .validate(df, _ref_contract(
            {"tool": {"table": "tools", "column": "tool"}}), ["id"])
        .report().quality
    )
    assert [e.details for e in q.errors] == [
        {"field": "tool", "invalid_count": 8}
    ]
    assert q.errors[0].message.endswith(": a, b, c, d, e")


def test_referential_vocab_over_bound_raises_before_write(spark, tmp_path):
    """A vocabulary table over MAX_VOCAB_VALUES raises ContractError naming
    the table, the column and the bound from execute(), before the
    violations path is written; so does a table that resolves nowhere."""
    import os

    from pyspark.errors import AnalysisException

    from data_contract_engine_spark.contracts.model import ContractError
    from data_contract_engine_spark.operators.referential import (
        MAX_VOCAB_VALUES,
    )

    df = spark.createDataFrame([("a", "t0"), ("b", "zz")], "id string, tool string")
    tools = spark.createDataFrame(
        [(f"t{i}",) for i in range(MAX_VOCAB_VALUES + 1)], ["tool"]
    )
    run = ContractEngine(spark, vocab_tables={"big": tools}).validate(
        df, _ref_contract({"tool": {"table": "big", "column": "tool"}}),
        ["id"],
    )
    out = str(tmp_path / "viol")
    with pytest.raises(ContractError, match=rf"'big'.*'tool'.*{MAX_VOCAB_VALUES}"):
        run.execute(out)
    assert not os.path.exists(out)

    run = ContractEngine(spark).validate(
        df, _ref_contract({"tool": {"table": "no_such_vocab", "column": "tool"}}),
        ["id"],
    )
    with pytest.raises(AnalysisException, match="no_such_vocab"):
        run.execute(out)
    assert not os.path.exists(out)


def test_referential_missing_column_raises(spark):
    """A referential rule over a column the input lacks raises instead of
    being skipped, for a literal and for a table vocabulary."""
    from data_contract_engine_spark.contracts.model import ContractError

    df = spark.createDataFrame([("a",)], "id string")
    tools = spark.createDataFrame([("search",)], ["tool"])
    eng = ContractEngine(spark, vocab_tables={"tools": tools})
    for spec in ({"values": ["search"]}, {"table": "tools", "column": "tool"}):
        run = eng.validate(df, _ref_contract({"tool": spec}), ["id"])
        with pytest.raises(ContractError, match="tool"):
            run.report()


def test_unresolvable_vocab_table_fails_loudly(spark):
    """A referential rule whose vocabulary table neither the engine's
    registry nor the Spark catalog knows raises on report() with Spark's
    error naming the table, instead of passing with the rule skipped."""
    from pyspark.errors import AnalysisException

    contract = contract_from_dict(
        {
            "contract_version": "1.0",
            "schema": {"id": {"type": "string"}},
            "quality_rules": {
                "referential": {
                    "tool": {"table": "no_such_vocab", "column": "tool"},
                }
            },
        }
    )
    df = spark.createDataFrame(
        [("a", "search"), ("b", "hammer")], "id string, tool string"
    )
    run = ContractEngine(spark).validate(df, contract, key_columns=["id"])
    with pytest.raises(AnalysisException, match="no_such_vocab"):
        run.report()

def test_multi_uniqueness_single_job(spark, monkeypatch):
    """k uniqueness keys → ONE collected GROUPING-SETS query; per-key
    results identical to the per-key duplicate_report path."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    from data_contract_engine_spark.operators import uniqueness as uniq_op

    df = spark.createDataFrame(
        [("a", 1, "x"), ("a", 1, "y"), ("b", 2, "y"),
         ("b", 3, "y"), (None, 4, "z"), (None, 4, "z")],
        "conv_id string, turn_idx int, src string",
    )
    keys = [["conv_id", "turn_idx"], "src", "conv_id"]

    collected = []
    real_collect = ClassicDF.collect

    def spy(frame):
        collected.append(frame)
        return real_collect(frame)

    monkeypatch.setattr(ClassicDF, "collect", spy)
    fused = uniq_op.multi_duplicate_reports(df, keys)
    monkeypatch.undo()
    assert len(collected) == 1

    for key in keys:
        label = key if isinstance(key, str) else ",".join(key)
        assert fused[label] == uniq_op.duplicate_report(df, key), label
    # NULL keys participate as values (reference parity), and the fused
    # path keeps that: (NULL, 4) is a duplicate composite key
    assert fused["conv_id,turn_idx"][0] == 2  # ('a',1) and (NULL,4)

    # engine path: a 2-key contract produces both QualityErrors from the
    # fused job with pinned messages
    contract = contract_from_dict(
        {
            "contract_version": "1.0",
            "schema": {"conv_id": {"type": "string", "required": False}},
            "quality_rules": {
                "uniqueness": {"fields": [["conv_id", "turn_idx"], "src"]}
            },
        }
    )
    rep = (
        ContractEngine(spark)
        .validate(df, contract, key_columns=["conv_id"])
        .report()
    )
    uniq_errors = [
        e for e in rep.quality.errors if e.rule_type == "UNIQUENESS"
    ]
    assert {e.details["field"] for e in uniq_errors} == {
        "conv_id,turn_idx", "src",
    }
    by_field = {e.details["field"]: e for e in uniq_errors}
    assert "'y' (3x)" in by_field["src"].message


def test_statistics_percentile_bounds(spark):
    """Percentile bounds (extension): default = mergeable approx sketch
    (scale-safe); exact_percentiles opts into Spark's exact percentile.
    Both ride the fused single-pass agg and warn without failing."""
    rows = [("a", float(v), _ts(0)) for v in range(1, 11)]  # 1..10 → p50=5.5
    spec = {"statistics": {"value": {
        "percentiles": {0.5: {"min": 7}}, "exact_percentiles": True}}}
    rep = _run(spark, rows, spec)
    q = rep.quality
    assert q.passed  # warning only
    assert q.errors[0].rule_type == "STATISTICS"
    assert q.errors[0].message == "Field 'value' p0.5 5.50 below minimum 7"
    assert q.errors[0].details["percentile"] == 0.5

    # approx default agrees at tiny scale; max bound fires too
    rep = _run(spark, rows, {"statistics": {"value": {
        "percentiles": {"0.9": {"max": 5}}}}})
    assert "p0.9" in rep.quality.errors[0].message
    assert "exceeds maximum 5" in rep.quality.errors[0].message

    # in-bounds percentile is clean
    rep = _run(spark, rows, {"statistics": {"value": {
        "percentiles": {0.5: {"min": 1, "max": 9}}, "exact_percentiles": True}}})
    assert rep.quality.passed and not rep.quality.errors


def test_statistics_percentile_parser_validation():
    """Structural validation of the percentiles sub-spec. Parity note:
    invalid quality_rules degrade to none with a warning (parser.py:80),
    so the observable contract surface is an EMPTY statistics block."""
    from data_contract_engine_spark.contracts.parser import (
        _parse_quality, parse_contract_yaml,
    )
    from data_contract_engine_spark.contracts.model import ContractError

    def mk(pct_yaml):
        return f"""
contract_version: "1.0"
schema:
  value: {{type: float}}
quality_rules:
  statistics:
    value:
      percentiles: {pct_yaml}
"""

    import pytest as _pt
    import yaml

    for bad in ("{1.5: {min: 1}}", "{0.5: {}}", "{}", "{oops: {min: 1}}"):
        raw = yaml.safe_load(mk(bad))["quality_rules"]
        with _pt.raises(ContractError):
            _parse_quality(raw)
        # and through the lenient top-level parse: rules drop to none
        c = parse_contract_yaml(mk(bad), name="t")
        assert not c.quality.statistics

    c = parse_contract_yaml(mk("{0.5: {min: 1}}"), name="t")  # valid
    assert c.quality.statistics["value"]["percentiles"] == {0.5: {"min": 1}}


def test_multi_uniqueness_duplicate_key_specs(spark):
    """Duplicate or permuted key specs resolve to ONE grouping set: the
    counts must equal the single-spec answer, not double it."""
    from data_contract_engine_spark.operators import uniqueness as uniq_op

    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("b", 2)], "conv_id string, turn_idx int"
    )
    single = uniq_op.multi_duplicate_reports(df, [["conv_id", "turn_idx"]])
    doubled = uniq_op.multi_duplicate_reports(
        df, [["conv_id", "turn_idx"], ["turn_idx", "conv_id"]]
    )
    (n_single, _), = single.values()
    for n, _top in doubled.values():
        assert n == n_single == 1


FUSED_YAML = """
contract_version: "1.0"
schema:
  k: {type: string, required: true, pattern: "^k_\\\\d+$"}
  name: {type: string, required: false, min_length: 2, max_length: 20}
  role: {type: string, required: false, enum: [user, assistant]}
  v: {type: float, required: false, min: 0}
quality_rules:
  referential:
    role: {values: [user, assistant]}
  drift:
    v: {metric: psi, threshold: 0.1, bins: 4}
    role: {type: categorical, metric: psi, threshold: 0.1, bins: 4}
"""


def _fused_engine(spark):
    from data_contract_engine_spark.operators.drift import baseline_snapshot

    base = spark.createDataFrame(
        [(f"k_{i}", "nm", ["user", "assistant"][i % 2], float(i % 7))
         for i in range(40)],
        "k string, name string, role string, v double",
    )
    snap = baseline_snapshot(
        base, {"v": "v", "role": "role"}, bins=4, categorical=["role"]
    )
    return ContractEngine(spark, drift_baseline_snapshot=snap, now_epoch=NOW)


def _report_fields(rep):
    q = rep.quality
    return (
        rep.total_records, rep.passed, rep.failed, rep.pass_rate,
        rep.errors_summary, rep.total_violation_rows,
        None if q is None else (
            q.passed, q.quality_score,
            [(e.rule_type, e.message, e.details) for e in q.errors],
        ),
    )


def test_execute_observes_only_projected_columns(spark, tmp_path, monkeypatch):
    """The observed aggregates of execute()'s write plan only count columns
    projected under them: no rule condition (RLIKE, length), no drift
    CASE chain is re-evaluated inside CollectMetrics."""
    from data_contract_engine_spark import parse_contract_yaml
    from data_contract_engine_spark.sources import sinks

    contract = parse_contract_yaml(FUSED_YAML, name="fused")
    df = spark.createDataFrame(
        [("k_1", "ab", "user", 1.0), ("x", "a", "robot", -2.0)],
        "k string, name string, role string, v double",
    )
    plans = []
    write = sinks.write_violations

    def capture(viol, *args, **kwargs):
        plans.append(viol._jdf.queryExecution().executedPlan().toString())
        return write(viol, *args, **kwargs)

    monkeypatch.setattr(sinks, "write_violations", capture)
    run = _fused_engine(spark).validate(df, contract, key_columns=["k"])
    rep = run.execute(str(tmp_path / "viol"))
    assert rep.errors_summary == {
        "PATTERN_MISMATCH": 1, "LENGTH_TOO_SHORT": 1, "ENUM_MISMATCH": 1,
        "VALUE_TOO_SMALL": 1,
    }
    (metrics,) = [
        line for line in plans[0].splitlines() if "CollectMetrics" in line
    ]
    for rule_text in ("RLIKE", "length(", "CASE WHEN (", "<="):
        assert rule_text not in metrics
    for column in ("__hit0", "__miss__role"):
        assert column in metrics
    # the bin ids are projected below; count_if's `bin == i` tests are
    # projected with them as common expressions
    assert "AS __bin__v" in plans[0] and "AS __bin__role" in plans[0]


@pytest.mark.parametrize("rows", [[], [("k_1", None, None, None)] * 3],
                         ids=["empty", "all_null"])
def test_fused_counts_on_empty_and_null_input(spark, tmp_path, rows):
    """count_if returns 0 where a sum over no rows returned NULL: the
    report is the same, from report() and from execute()."""
    from data_contract_engine_spark import parse_contract_yaml
    from data_contract_engine_spark.operators.drift import psi_kl_exact

    contract = parse_contract_yaml(FUSED_YAML, name="fused")
    df = spark.createDataFrame(
        rows, "k string, name string, role string, v double"
    )
    eng = _fused_engine(spark)
    rep = eng.validate(df, contract, key_columns=["k"]).report()
    executed = eng.validate(df, contract, key_columns=["k"]).execute(
        str(tmp_path / "viol")
    )
    assert _report_fields(rep) == _report_fields(executed)
    n = len(rows)
    assert (rep.total_records, rep.passed, rep.failed) == (n, n, 0)
    assert rep.errors_summary == {} and rep.total_violation_rows == 0
    if not rows:
        assert rep.quality is None
        return
    # NULL is never a referential miss; every drift bin counts 0
    assert all(e.rule_type == "DRIFT" for e in rep.quality.errors)
    drift = {e.details["field"]: e.details["psi"] for e in rep.quality.errors}
    expected = {}
    for column, snap in eng.drift_baseline_snapshot.items():
        psi, _kl = psi_kl_exact([0] * len(snap["counts"]), snap["counts"])
        if psi > 0.1:
            expected[column] = psi
    assert expected and drift == pytest.approx(expected, rel=1e-12)
