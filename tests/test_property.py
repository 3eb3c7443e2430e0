"""Property-based differential testing (hypothesis): random flat contracts
x random record batches — the vectorized engine must equal the
row-at-a-time reference-semantics oracle on every record, and the lean
predicate path must agree with the error-array path.

The reference has no property-based tests (SURVEY.md §5); this closes the
gap where example-based tests can't: interactions of optional/required x
null x boundary values across arbitrary rule combinations.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F, types as T

from data_contract_engine_spark import (
    CompileOptions,
    compile_contract,
    contract_from_dict,
)

from oracle_ref import validate_record

# -- strategies -------------------------------------------------------------

_field_names = ("f1", "f2", "f3", "f4")


@st.composite
def string_spec(draw):
    spec = {"type": "string", "required": draw(st.booleans())}
    if draw(st.booleans()):
        spec["pattern"] = draw(st.sampled_from([r"^a+$", r"^[0-9]{2}$", r"x"]))
    if draw(st.booleans()):
        spec["min_length"] = draw(st.integers(0, 3))
    if draw(st.booleans()):
        spec["max_length"] = draw(st.integers(3, 6))
    if draw(st.booleans()):
        spec["enum"] = draw(
            st.sampled_from([["aa", "bb"], ["aa", "12", "xx"], ["zz"]])
        )
    return spec


@st.composite
def int_spec(draw):
    spec = {"type": "integer", "required": draw(st.booleans())}
    if draw(st.booleans()):
        spec["min"] = draw(st.integers(-5, 5))
    if draw(st.booleans()):
        spec["max"] = draw(st.integers(5, 15))
    return spec


@st.composite
def float_spec(draw):
    spec = {"type": "float", "required": draw(st.booleans())}
    if draw(st.booleans()):
        spec["min"] = draw(st.sampled_from([-1.5, 0.0, 2.5]))
    if draw(st.booleans()):
        spec["max"] = draw(st.sampled_from([3.0, 10.5]))
    return spec


@st.composite
def ts_spec(draw):
    spec = {"type": "timestamp", "required": draw(st.booleans())}
    if draw(st.booleans()):
        spec["min"] = "2020-01-01"
    if draw(st.booleans()):
        spec["max"] = "2030-01-01"
    return spec


_SPEC = {
    "f1": string_spec(),
    "f2": int_spec(),
    "f3": float_spec(),
    "f4": ts_spec(),
}

_VALUES = {
    "f1": st.sampled_from(
        [None, "", "a", "aaa", "12", "aa", "bb", "xx", "longer-value", "x"]
    ),
    "f2": st.sampled_from([None, -10, -5, 0, 5, 10, 15, 20]),
    "f3": st.sampled_from([None, -2.0, 0.0, 2.5, 3.0, 10.5, 99.9]),
    "f4": st.sampled_from(
        [
            None,
            "2019-06-01T00:00:00",
            "2025-01-01T12:00:00",
            "2031-01-01T00:00:00",
            "garbage",
        ]
    ),
}

_SPARK_TYPES = {
    "f1": T.StringType(),
    "f2": T.LongType(),
    "f3": T.DoubleType(),
    "f4": T.StringType(),  # ISO-string timestamps (the parse path)
}

contracts = st.fixed_dictionaries({n: _SPEC[n] for n in _field_names})
records = st.lists(
    st.fixed_dictionaries({n: _VALUES[n] for n in _field_names}),
    min_size=1,
    max_size=25,
)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(schema=contracts, recs=records,
       max_errors=st.sampled_from([1, 2, 3, 10]))
def test_engine_equals_oracle_on_random_contracts(spark, schema, recs,
                                                  max_errors):
    """Per record the capped error array equals the oracle's first
    ``max_errors`` errors; report()'s counts, execute()'s counts and its
    written rows all equal the oracle's capped total."""
    import tempfile

    from data_contract_engine_spark import ContractEngine
    # hypothesis may generate min>max etc. — the parser rejects those;
    # skip structurally invalid draws (parser behavior tested elsewhere)
    from data_contract_engine_spark.contracts.model import ContractError

    try:
        contract = contract_from_dict(
            {"contract_version": "1.0", "schema": schema}, name="prop"
        )
    except ContractError:
        return

    spark_schema = T.StructType(
        [T.StructField(n, _SPARK_TYPES[n]) for n in _field_names]
    )
    df = spark.createDataFrame(
        [tuple(r[n] for n in _field_names) for r in recs], spark_schema
    ).withColumn("__row", F.monotonically_increasing_id())
    options = CompileOptions(max_errors=max_errors)
    compiled = compile_contract(contract, spark_schema, options)

    select_cols = ["__row", compiled.errors_col.alias("errors")]
    if compiled.predicates is not None:
        select_cols.append(compiled.passed_col.alias("lean_passed"))
    rows = df.select(*select_cols).orderBy("__row").collect()

    capped_total = 0
    for rec, row in zip(recs, rows):
        expect = validate_record(rec, contract)
        capped_total += min(len(expect), max_errors)
        got = [(e["field"], e["error_type"]) for e in row["errors"]]
        assert got == expect[:max_errors], (schema, rec, expect, got)
        if compiled.predicates is not None:
            assert row["lean_passed"] == (len(expect) == 0), (schema, rec)

    eng = ContractEngine(spark, compile_options=options)
    rep = eng.validate(df, contract, ["__row"]).report(sample_errors=0)
    with tempfile.TemporaryDirectory() as out:
        rep_x = eng.validate(df, contract, ["__row"]).execute(out + "/v")
        written = spark.read.parquet(out + "/v").count()
    assert rep.errors_summary == rep_x.errors_summary
    assert (rep.total_violation_rows == sum(rep.errors_summary.values())
            == rep_x.total_violation_rows == written == capped_total), (
        schema, recs, max_errors, rep.errors_summary, written)


# ---------------------------------------------------------------------------
# quality aggregates: fused single-pass agg vs a pure-python oracle
# ---------------------------------------------------------------------------

import datetime as _dt
import math as _math

quality_rows = st.lists(
    st.tuples(
        st.sampled_from([None, -3, 0, 5, 17, 100]),                  # v int
        st.sampled_from([None, "x", "y"]),                           # s
        st.integers(0, 72),                                          # age hours
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(rows=quality_rows,
       max_null=st.sampled_from([5.0, 30.0, 60.0]),
       mean_min=st.integers(-5, 5),
       fresh_h=st.sampled_from([1.0, 24.0, 100.0]))
def test_quality_aggregates_match_python(spark, rows, max_null, mean_min,
                                         fresh_h):
    from data_contract_engine_spark.quality.aggregates import (
        build_quality_agg_exprs,
        decode_quality_row,
    )
    from data_contract_engine_spark.contracts.model import QualityRules

    now = _dt.datetime(2025, 6, 1, 12, 0, 0)
    data = [
        (v, s, now - _dt.timedelta(hours=h)) for v, s, h in rows
    ]
    df = spark.createDataFrame(data, "v int, s string, timestamp timestamp")
    rules = QualityRules(
        freshness={"max_latency_hours": fresh_h},
        completeness={"min_row_count": 2, "max_null_percentage": max_null},
        statistics={"v": {"mean": {"min": mean_min}, "std_dev": {"max": 30}}},
    )
    agg_row = df.agg(*build_quality_agg_exprs(df, rules)).collect()[0].asDict()
    got = decode_quality_row(agg_row, rules, now_epoch=now.timestamp())
    keyf = lambda t: (t[0], t[1] or "")
    got_kinds = sorted(
        ((e.rule_type, e.details.get("field")) for e in got), key=keyf
    )

    # python oracle
    expect = []
    oldest_h = max(h for _, _, h in rows)
    if oldest_h > fresh_h:
        expect.append(("FRESHNESS", None))
    n = len(rows)
    if n < 2:
        expect.append(("COMPLETENESS", None))
    for col, vals in (("v", [r[0] for r in rows]),
                      ("s", [r[1] for r in rows]),
                      ("timestamp", [1] * n)):
        pct = sum(1 for x in vals if x is None) / n * 100.0
        if pct > max_null:
            expect.append(("COMPLETENESS", col))
    nums = [r[0] for r in rows if r[0] is not None]
    if nums:
        mean = sum(nums) / len(nums)
        std = _math.sqrt(sum((x - mean) ** 2 for x in nums) / len(nums))
        if mean < mean_min:
            expect.append(("STATISTICS", "v"))
        if std > 30:
            expect.append(("STATISTICS", "v"))
    # completeness null-% uses details["field"]; freshness/min-row don't
    def norm(kinds):
        return sorted(((t, f) for t, f in kinds), key=keyf)

    assert got_kinds == norm(expect), (rows, agg_row, got_kinds, expect)


def test_pii_redaction_matches_python_re(spark):
    """Differential vs Python `re` on adversarial-ish random strings: the
    PII patterns live in the Java-regex/RE2/`re` shared subset, so counts
    and the redacted text must agree across engines."""
    import re as _re

    from hypothesis import given, settings, strategies as st

    from data_contract_engine_spark.operators.textstats import (
        PII_PATTERNS,
        redact_pii,
    )

    alphabet = st.sampled_from(
        list("abcXYZ0123456789 @._%+-()") + ["@ex.co", "1.2.3.4", "123-45-6789"]
    )
    texts = st.lists(alphabet, min_size=0, max_size=25).map("".join)

    @settings(max_examples=30, deadline=None)
    @given(st.lists(texts, min_size=1, max_size=8))
    def check(batch):
        rows = [(i, t) for i, t in enumerate(batch)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in redact_pii(df).collect()}
        for i, t in rows:
            expected_red = t
            for name, pat, repl in PII_PATTERNS:
                n = len(_re.findall(pat, t))
                assert got[i][f"n_{name}"] == n, (t, name)
                expected_red = _re.sub(pat, repl, expected_red)
            assert got[i]["text_redacted"] == expected_red, t

    check()


def test_repetition_features_match_python(spark):
    """Differential vs a pure-Python reimplementation on random word
    sequences: gram multiplicity, dup fraction and top fraction must agree
    exactly (rounding included)."""
    from collections import Counter

    from hypothesis import given, settings, strategies as st

    from data_contract_engine_spark.operators.textstats import (
        repetition_features,
    )

    words = st.sampled_from(["a", "b", "c", "dd", "e"])
    texts = st.lists(words, min_size=0, max_size=12).map(" ".join)

    @settings(max_examples=25, deadline=None)
    @given(st.lists(texts, min_size=1, max_size=6))
    def check(batch):
        rows = [(i, t) for i, t in enumerate(batch)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in repetition_features(df, k=2).collect()}
        for i, t in rows:
            toks = t.split()
            grams = [
                " ".join(toks[j: j + 2]) for j in range(len(toks) - 1)
            ]
            if not grams:
                assert i not in got
                continue
            c = Counter(grams)
            n = len(grams)
            rep = sum(v for v in c.values() if v > 1)
            assert got[i]["n_grams"] == n
            assert got[i]["distinct_grams"] == len(c)
            assert got[i]["dup_gram_fraction"] == round(rep / n, 4)
            assert got[i]["top_gram_fraction"] == round(max(c.values()) / n, 4)

    check()
