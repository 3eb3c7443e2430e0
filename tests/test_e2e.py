"""End-to-end lifecycle (mirrors the reference's tests/test_e2e.py flow):
register contract → validate data → detect violations → evolve contract
(minor + breaking bumps) → version history/compare → rollback → metrics
rollup over the results — all through the public library surface."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from data_contract_engine_spark import ContractEngine, parse_contract_yaml
from data_contract_engine_spark.metrics import rollup
from data_contract_engine_spark.versioning.registry import ContractRegistry

V1 = """
contract_version: "1.0"
domain: users
schema:
  user_id: {type: string, required: true, pattern: "^usr_\\\\d+$"}
  email: {type: string, required: true, format: email}
  age: {type: integer, required: false, min: 18, max: 120}
quality_rules:
  completeness: {min_row_count: 2, max_null_percentage: 60}
  uniqueness: {fields: [user_id]}
"""


def test_full_lifecycle(spark, tmp_path):
    reg = ContractRegistry(str(tmp_path / "registry.json"))
    rec = reg.create("users", V1)
    assert rec.version == "1.0.0"

    # -- validate a batch with known violations
    rows = [
        ("usr_1", "a@b.co", 30, dt.datetime(2025, 5, 1)),
        ("usr_1", "dup@b.co", 40, dt.datetime(2025, 5, 1)),   # duplicate id
        ("usr_2", "not-an-email", 30, dt.datetime(2025, 5, 2)),
        ("bad", "c@d.eu", 17, dt.datetime(2025, 5, 2)),        # pattern + age
        ("usr_3", "e@f.org", 120, dt.datetime(2025, 5, 2)),    # boundary PASS
    ]
    df = spark.createDataFrame(
        rows, "user_id string, email string, age int, ts timestamp"
    )
    contract = parse_contract_yaml(rec.yaml_content, name=rec.name)
    run = ContractEngine(spark).validate(df, contract, key_columns=["user_id"])
    rep = run.report()
    assert rep.total_records == 5
    assert rep.failed == 2
    assert rep.errors_summary == {
        "FORMAT_MISMATCH": 1,
        "PATTERN_MISMATCH": 1,
        "VALUE_TOO_SMALL": 1,
    }
    assert not rep.quality.passed  # uniqueness ERROR
    uniq = [e for e in rep.quality.errors if e.rule_type == "UNIQUENESS"]
    assert uniq and "usr_1" in uniq[0].message

    # -- violations artifact is the persistent record
    viol = run.violations()
    assert viol.filter(F.col("user_id") == "bad").count() == 2
    assert viol.filter(F.col("user_id") == "usr_3").count() == 0

    # -- evolve: minor (optional field), then breaking (type change)
    with_country = V1.replace(
        "quality_rules:",
        "  country: {type: string, required: false}\nquality_rules:",
    )
    v_minor = reg.update(rec.contract_id, with_country)
    assert (v_minor.version, v_minor.change_type) == ("1.1.0", "NON_BREAKING")
    v_major = reg.update(rec.contract_id, V1.replace("type: integer", "type: string"))
    assert (v_major.version, v_major.change_type) == ("2.0.0", "BREAKING")
    assert reg.compare(rec.contract_id, "1.0.0", "2.0.0").has_breaking

    # -- rollback restores v1 content under a forced major bump
    back = reg.rollback(rec.contract_id, "1.0.0", reason="type change broke consumers")
    assert back.version == "3.0.0" and back.yaml_content == V1
    restored = parse_contract_yaml(back.yaml_content, name="users")
    assert restored.fields_dict()["age"].type == "integer"

    # -- metrics rollup over the run's results
    res = rollup.results_relation(run, "users")
    m = rollup.with_quality_score(rollup.with_consistency(rollup.daily_rollup(res)))
    days = {str(r["day"]): r for r in m.collect()}
    assert days["2025-05-01"]["pass_rate"] == 100.0
    assert days["2025-05-02"]["failed_count"] == 2
    summary = rollup.platform_summary(m)
    assert summary["total_validations"] == 5


def test_build_session_disables_call_site_capture(spark):
    """Engine sessions turn off PySpark's per-call call-site capture."""
    key = "spark.python.sql.dataFrameDebugging.enabled"
    assert spark.conf.get(key) == "false"
