"""Differential test: the vectorized Spark engine vs the slow row-at-a-time
oracle (re-implementation of the reference SchemaValidator semantics) must
produce identical per-record (field, error_type) lists — same content,
same rule order, same 10-error cap — across a generated corpus covering
every rule family."""

import random

import pytest
from pyspark.sql import types as T

from data_contract_engine_spark import (
    CompileOptions,
    compile_contract,
    contract_from_dict,
)
from pyspark.sql import functions as F

from oracle_ref import validate_record

CONTRACT_DICT = {
    "contract_version": "1.0",
    "schema": {
        "sid": {"type": "string", "required": True, "pattern": r"^s_\d+$"},
        "email": {"type": "string", "required": False, "format": "email"},
        "name": {
            "type": "string",
            "required": True,
            "min_length": 2,
            "max_length": 8,
        },
        "kind": {"type": "string", "required": True, "enum": ["a", "b", "c"]},
        "score": {"type": "integer", "required": False, "min": 0, "max": 100},
        "ratio": {"type": "float", "required": False, "min": 0.0, "max": 1.0},
        "flag": {"type": "boolean", "required": False},
        "when": {
            "type": "timestamp",
            "required": False,
            "min": "2020-01-01",
            "max": "2030-01-01",
        },
        "tags": {
            "type": "array",
            "required": False,
            "min": 1,
            "max": 4,
            "items": {"type": "string", "required": True, "min_length": 2},
        },
        "meta": {
            "type": "object",
            "required": False,
            "properties": {
                "k": {"type": "string", "required": True, "enum": ["x", "y"]},
                "n": {"type": "integer", "required": False, "min": 5},
            },
        },
    },
}

SPARK_SCHEMA = T.StructType(
    [
        T.StructField("sid", T.StringType()),
        T.StructField("email", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("score", T.LongType()),
        T.StructField("ratio", T.DoubleType()),
        T.StructField("flag", T.BooleanType()),
        T.StructField("when", T.StringType()),  # stays string: ISO parse path
        T.StructField("tags", T.ArrayType(T.StringType())),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("k", T.StringType()),
                    T.StructField("n", T.LongType()),
                ]
            ),
        ),
    ]
)


def gen_records(n=400, seed=11):
    rnd = random.Random(seed)
    recs = []
    for i in range(n):
        r = {
            "sid": rnd.choice([f"s_{i}", f"x{i}", None]),
            "email": rnd.choice(["a@b.co", "bad-email", None]),
            "name": rnd.choice(["ok", "x", "waytoolongname", None]),
            "kind": rnd.choice(["a", "b", "z", None]),
            "score": rnd.choice([50, -1, 150, None]),
            "ratio": rnd.choice([0.5, -0.5, 1.5, None]),
            "flag": rnd.choice([True, False, None]),
            "when": rnd.choice(
                ["2025-06-01T00:00:00", "2019-01-01T00:00:00",
                 "2031-01-01T00:00:00", "not-a-ts", None]
            ),
            "tags": rnd.choice(
                [["ok", "go"], [], ["a"], ["fine", "x", "yes", "no", "ok"],
                 None]
            ),
            "meta": rnd.choice(
                [{"k": "x", "n": 10}, {"k": "z", "n": 1}, {"k": None, "n": None},
                 None]
            ),
        }
        recs.append(r)
    return recs


def test_engine_matches_oracle_per_record(spark):
    contract = contract_from_dict(CONTRACT_DICT, name="diff")
    records = gen_records()
    df = spark.createDataFrame(
        [tuple(r[f.name] if f.name != "meta" else
               (tuple(r["meta"].get(k) for k in ("k", "n")) if r["meta"] else None)
               for f in SPARK_SCHEMA.fields)
         for r in records],
        SPARK_SCHEMA,
    ).withColumn("__row", F.monotonically_increasing_id())
    compiled = compile_contract(contract, SPARK_SCHEMA, CompileOptions())
    got_rows = (
        df.select("__row", compiled.errors_col.alias("errors"))
        .orderBy("__row")
        .collect()
    )
    assert len(got_rows) == len(records)
    mismatches = []
    for rec, row in zip(records, got_rows):
        expect = validate_record(rec, contract)
        got = [(e["field"], e["error_type"]) for e in row["errors"]]
        if got != expect:
            mismatches.append((rec, expect, got))
    assert not mismatches, mismatches[:3]


def test_lean_predicates_match_error_array(spark):
    """The boolean predicate twin (counting path) must agree with the full
    error-struct array (violations path) on every record: same passed
    verdict and same per-error-type counts."""
    flat = {
        "contract_version": "1.0",
        "schema": {
            k: v for k, v in CONTRACT_DICT["schema"].items()
            if k not in ("tags", "meta")
        },
    }
    contract = contract_from_dict(flat, name="lean")
    schema = T.StructType([f for f in SPARK_SCHEMA.fields
                           if f.name not in ("tags", "meta")])
    records = gen_records(300, seed=23)
    df = spark.createDataFrame(
        [tuple(r[f.name] for f in schema.fields) for r in records], schema
    )
    compiled = compile_contract(contract, schema, CompileOptions())
    assert compiled.predicates is not None
    from functools import reduce

    any_fail = reduce(lambda a, b: a | b,
                      [c for _, _, c in compiled.predicates], F.lit(False))
    both = df.select(
        compiled.errors_col.alias("errors"),
        (~F.coalesce(any_fail, F.lit(False))).alias("lean_passed"),
        *[c.cast("int").alias(f"p_{i}")
          for i, (_f, _t, c) in enumerate(compiled.predicates)],
    ).collect()
    for row in both:
        assert (len(row["errors"]) == 0) == row["lean_passed"]
        # error-type multiset equal
        from collections import Counter

        arr = Counter((e["field"], e["error_type"]) for e in row["errors"])
        lean = Counter()
        for i, (f, t, _c) in enumerate(compiled.predicates):
            if row[f"p_{i}"]:
                lean[(f, t)] += 1
        assert arr == lean


def test_nested_contract_disables_predicates(spark):
    contract = contract_from_dict(CONTRACT_DICT, name="nested")
    compiled = compile_contract(contract, SPARK_SCHEMA, CompileOptions())
    assert compiled.predicates is None


def test_lean_predicates_stringly_numeric_enum(spark):
    """Stringly (CSV-style) numeric fields with enum: predicate twin must
    match the array path — covers the cast + range + enum branch."""
    contract = contract_from_dict(
        {
            "contract_version": "1.0",
            "schema": {
                "n": {"type": "integer", "required": True,
                      "min": 0, "max": 10, "enum": [1, 2, 3]},
            },
        },
        name="se",
    )
    schema = T.StructType([T.StructField("n", T.StringType())])
    vals = ["1", "3", "7", "-4", "99", "x", "2.5", "2.0", None]
    df = spark.createDataFrame([(v,) for v in vals], schema)
    compiled = compile_contract(contract, schema, CompileOptions())
    assert compiled.predicates is not None
    from collections import Counter
    from functools import reduce

    rows = df.select(
        compiled.errors_col.alias("errors"),
        *[c.cast("int").alias(f"p_{i}")
          for i, (_f, _t, c) in enumerate(compiled.predicates)],
    ).collect()
    for v, row in zip(vals, rows):
        arr = Counter((e["field"], e["error_type"]) for e in row["errors"])
        lean = Counter()
        for i, (f, t, _c) in enumerate(compiled.predicates):
            if row[f"p_{i}"]:
                lean[(f, t)] += 1
        assert arr == lean, (v, arr, lean)


@pytest.mark.parametrize(
    "values, expected_summary",
    [
        # all 12 `min: 0` rules fail: the cap keeps the first 10
        ([-1] * 12, {"VALUE_TOO_SMALL": 10}),
        # 6 `min` failures, then 6 `max` failures of which 4 survive the cap
        ([-1] * 6 + [101] * 6, {"VALUE_TOO_SMALL": 6, "VALUE_TOO_LARGE": 4}),
    ],
)
def test_reported_counts_equal_written_rows_past_cap(
    spark, tmp_path, values, expected_summary
):
    """A flat (lean-predicate) contract where one record fails more rules
    than the per-record cap: report() and execute() must count exactly the
    violation rows execute() writes, as the reference does."""
    from data_contract_engine_spark import ContractEngine

    names = [f"n{i:02d}" for i in range(12)]
    contract = contract_from_dict(
        {
            "contract_version": "1.0",
            "schema": {
                n: {"type": "integer", "required": True, "min": 0, "max": 100}
                for n in names
            },
        },
        name="capped",
    )
    schema = T.StructType([T.StructField(n, T.LongType()) for n in names])
    record = dict(zip(names, values))
    df = spark.createDataFrame([tuple(values), tuple([5] * 12)], schema)
    expected = validate_record(record, contract)
    oracle_summary = {}
    for _field, et in expected:
        oracle_summary[et] = oracle_summary.get(et, 0) + 1
    assert oracle_summary == expected_summary

    run = ContractEngine(spark).validate(df, contract, key_columns=["n00"])
    assert run.compiled.predicates is not None
    rep = run.report()
    out = str(tmp_path / "viol")
    exe = run.execute(out)
    written = spark.read.parquet(out)
    written_summary = {
        r["error_type"]: r["count"]
        for r in written.groupBy("error_type").count().collect()
    }
    for got in (rep, exe):
        assert (got.passed, got.failed) == (1, 1)
        assert got.errors_summary == expected_summary
        assert got.total_violation_rows == len(expected) == written.count()
    assert written_summary == expected_summary
