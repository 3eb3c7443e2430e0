"""Contract → vectorized Column-expression compiler (the engine core).

Compiles a :class:`~data_contract_engine_spark.contracts.model.Contract`
into ONE fused projection. Every scalar schema rule (required / type /
pattern / format / length / enum / numeric range / timestamp bounds /
array size) is emitted exactly once, as a rule tuple
``(error_type, condition, message, value, expected)`` in rule order
(:func:`_field_rules`). :func:`compile_contract` derives everything from
that single list:

  * the error array: each rule becomes a ``when(condition, error struct)``
    Column; the structs (plus the nested array-items / object-properties
    errors) are assembled into an ordered array, null-filtered, and capped
    at ``max_errors`` per record — a single pass per partition with no
    per-row Python, fully inside WholeStageCodegen;
  * the lean predicates ``(field, error_type, condition)`` used for
    counting, and the ``passed`` verdict as NOT(any condition) — both only
    when no field needs nested evaluation; otherwise ``passed`` is
    ``size(errors) == 0``.

Semantics ported from the reference interpreter
(`app/core/schema_validator.py:25-368`):
  * evaluation order = schema declaration order; per-field rule order =
    type → (pattern, format, min_length, max_length, enum) for strings,
    (min, max, enum) for numbers, (parse, min, max) for timestamps,
    (size-min, size-max, items[:10]) for arrays, properties for objects;
  * per-record error cap of 10 (`schema_validator.py:65-66`);
  * `re.match` anchoring: patterns are anchored at the start (we prepend
    `^` when absent because Spark's `rlike` is a search, not a match);
  * formats (email/url/uuid/ipv4) matched case-insensitively with the
    reference's exact regexes (`schema_validator.py:355-368`);
  * offending values stringified and truncated to 100 chars;
  * `date` fields are only type-checked (the reference never parses them,
    `schema_validator.py:79`);
  * nested fields get type + string/number/object checks only — no nested
    timestamp/array rules (`schema_validator.py:336-353`);
  * only the first 10 array elements are validated
    (`schema_validator.py:294`).

Null-semantics note (SURVEY.md §1.2): in a typed DataFrame "absent" and
NULL collapse. A required field that is NULL maps to one canonical error
type, configurable via ``CompileOptions.null_error_type``:
``"REQUIRED_FIELD_MISSING"`` (default) or ``"TYPE_MISMATCH"`` (the
reference's behavior for present-but-None, `schema_validator.py:49-51`).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from datetime import datetime
from functools import reduce
from typing import List, Optional, Tuple

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..contracts.model import Contract, FieldDef, FORMAT_REGEXES

# The violation payload: one struct per rule hit.
ERROR_STRUCT_DDL = (
    "struct<field:string,error_type:string,message:string,"
    "value:string,expected:string>"
)
ERROR_ARRAY_DDL = f"array<{ERROR_STRUCT_DDL}>"

ERROR_STRUCT_TYPE = T.StructType(
    [
        T.StructField("field", T.StringType()),
        T.StructField("error_type", T.StringType()),
        T.StructField("message", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("expected", T.StringType()),
    ]
)

# Spark type families each contract type accepts without a TYPE_MISMATCH
# (mirrors the isinstance table at schema_validator.py:73-82; bool is NOT
# an integer/float there because Python bool subclasses int).
_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FRACTIONAL = (T.FloatType, T.DoubleType, T.DecimalType)

# One scalar rule: (error_type, condition, message, value, expected).
# `message` / `value` / `expected` may be Columns; the field path is
# supplied when the rule becomes an error struct (see _errors).
Rule = Tuple[str, Column, object, object, object]


@dataclass(frozen=True)
class CompileOptions:
    max_errors: int = 10
    null_error_type: str = "REQUIRED_FIELD_MISSING"  # or "TYPE_MISMATCH"
    errors_column: str = "errors"
    passed_column: str = "passed"


@dataclass
class CompiledContract:
    contract: Contract
    errors_col: Column
    passed_col: Column
    options: CompileOptions = dc_field(default_factory=CompileOptions)
    # The rule list's conditions without the error structs:
    # [(field, error_type, bool Column)], in rule order. The error-struct
    # tree is ~50x bigger (messages, format_string, truncation) and its
    # higher-order functions don't codegen; `passed_col` and the counting
    # jobs use these instead, and only the violations-artifact job pays for
    # the full structs. None when the contract has nested array/object rules
    # (counts and `passed` then need the array).
    predicates: Optional[List] = None


def _mkerr(path, rule: Rule) -> Column:
    """The error struct `rule` emits at `path` (a str or a Column); its
    condition is not part of the struct."""
    error_type, _cond, message, value, expected = rule
    fc = path if isinstance(path, Column) else F.lit(path)
    mc = message if isinstance(message, Column) else F.lit(message)
    if value is None:
        vc = F.lit(None).cast("string")
    elif isinstance(value, Column):
        vc = value.cast("string")
    else:
        vc = F.lit(str(value))
    ec = expected if isinstance(expected, Column) else F.lit(expected)
    return F.struct(
        fc.cast("string").alias("field"),
        F.lit(error_type).alias("error_type"),
        mc.cast("string").alias("message"),
        vc.alias("value"),
        ec.cast("string").alias("expected"),
    )


def _empty_errors() -> Column:
    return F.array().cast(ERROR_ARRAY_DDL)


def _errors(path, rules: List[Rule]) -> Column:
    """Rules → null-filtered array<error-struct>, in rule order."""
    if not rules:
        return _empty_errors()
    checks = [F.when(rule[1], _mkerr(path, rule)) for rule in rules]
    return F.filter(F.array(*checks), lambda e: e.isNotNull())


def _anchor(pattern: str) -> str:
    """`re.match` anchors at the start; `rlike` searches anywhere."""
    if pattern.startswith("^") or pattern.startswith(r"\A"):
        return pattern
    return "^" + pattern


def _trunc(value: Column) -> Column:
    """Reference truncates offending values to 100 chars in messages."""
    return F.substring(value.cast("string"), 1, 100)


def _py_type_name(dtype: T.DataType) -> str:
    """Spark type → the Python type name the reference reports in
    TYPE_MISMATCH messages ('Expected integer, got str')."""
    if isinstance(dtype, T.StringType):
        return "str"
    if isinstance(dtype, T.BooleanType):
        return "bool"
    if isinstance(dtype, _INTEGRAL):
        return "int"
    if isinstance(dtype, _FRACTIONAL):
        return "float"
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return "datetime"
    if isinstance(dtype, T.ArrayType):
        return "list"
    if isinstance(dtype, (T.StructType, T.MapType)):
        return "dict"
    return dtype.simpleString()


def _type_conforms(contract_type: str, dtype: T.DataType) -> bool:
    if contract_type == "string":
        return isinstance(dtype, T.StringType)
    if contract_type == "integer":
        return isinstance(dtype, _INTEGRAL)
    if contract_type == "float":
        # int accepted as float (schema_validator.py:76)
        return isinstance(dtype, _INTEGRAL + _FRACTIONAL)
    if contract_type == "boolean":
        return isinstance(dtype, T.BooleanType)
    if contract_type == "timestamp":
        # str / int / float / datetime all accepted (schema_validator.py:78)
        return isinstance(
            dtype,
            (T.TimestampType, T.TimestampNTZType, T.StringType) + _INTEGRAL + _FRACTIONAL,
        )
    if contract_type == "date":
        # reference accepts str only; DateType is the typed-world equivalent
        return isinstance(dtype, (T.StringType, T.DateType))
    if contract_type == "array":
        return isinstance(dtype, T.ArrayType)
    if contract_type == "object":
        return isinstance(dtype, (T.StructType, T.MapType))
    return False


def _parse_bound_ts(bound) -> datetime:
    return datetime.fromisoformat(str(bound).replace("Z", "+00:00"))


# ---------------------------------------------------------------------------
# per-type rule emitters — each returns [Rule, ...] in rule order.
# Every condition is guarded so it only fires on non-null, type-valid values.
# ---------------------------------------------------------------------------


def _type_rule(fd: FieldDef, got: str, cond: Column, value: Optional[Column]) -> Rule:
    """TYPE_MISMATCH; `value` None means the offending value is a NULL."""
    return (
        "TYPE_MISMATCH",
        cond,
        f"Expected {fd.type}, got {got}",
        None if value is None else _trunc(value),
        fd.type,
    )


def _missing_rule(what: str, name: str, cond: Column) -> Rule:
    """REQUIRED_FIELD_MISSING for a required `field` / `property`."""
    return (
        "REQUIRED_FIELD_MISSING",
        cond,
        f"Required {what} '{name}' is missing",
        None,
        f"required {what}",
    )


def _enum_rule(value: Column, fd: FieldDef, ok: Column, shown: Column) -> Rule:
    return (
        "ENUM_MISMATCH",
        ok & ~value.isin(*fd.enum),
        f"Value not in allowed list: {list(fd.enum)}",
        shown,
        str(list(fd.enum)),
    )


def _string_rules(value: Column, fd: FieldDef, ok: Column) -> List[Rule]:
    out: List[Rule] = []
    if fd.pattern:
        out.append((
            "PATTERN_MISMATCH",
            ok & ~value.rlike(_anchor(fd.pattern)),
            f"Value does not match pattern: {fd.pattern}",
            _trunc(value),
            fd.pattern,
        ))
    if fd.format:
        out.append((
            "FORMAT_MISMATCH",
            ok & ~value.rlike("(?i)" + FORMAT_REGEXES[fd.format]),
            f"Value does not match format: {fd.format}",
            _trunc(value),
            fd.format,
        ))
    if fd.min_length is not None:
        out.append((
            "LENGTH_TOO_SHORT",
            ok & (F.length(value) < F.lit(fd.min_length)),
            F.format_string(
                f"Length %d is less than minimum {fd.min_length}", F.length(value)
            ),
            _trunc(value),
            f"min_length: {fd.min_length}",
        ))
    if fd.max_length is not None:
        out.append((
            "LENGTH_TOO_LONG",
            ok & (F.length(value) > F.lit(fd.max_length)),
            F.format_string(
                f"Length %d exceeds maximum {fd.max_length}", F.length(value)
            ),
            _trunc(value),
            f"max_length: {fd.max_length}",
        ))
    if fd.enum:
        out.append(_enum_rule(value, fd, ok, _trunc(value)))
    return out


def _number_rules(value: Column, fd: FieldDef, ok: Column) -> List[Rule]:
    out: List[Rule] = []
    for et, key, bound, says in (
        ("VALUE_TOO_SMALL", "min", fd.min, "is less than minimum"),
        ("VALUE_TOO_LARGE", "max", fd.max, "exceeds maximum"),
    ):
        if bound is not None:
            breach = value < F.lit(bound) if key == "min" else value > F.lit(bound)
            out.append((
                et,
                ok & breach,
                F.concat(
                    F.lit("Value "), value.cast("string"), F.lit(f" {says} {bound}")
                ),
                value,
                f"{key}: {bound}",
            ))
    if fd.enum:
        out.append(_enum_rule(value, fd, ok, value))
    return out


def _timestamp_rules(
    raw: Column, dtype: T.DataType, fd: FieldDef, ok: Column
) -> List[Rule]:
    out: List[Rule] = []
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        parsed = raw
    elif isinstance(dtype, T.StringType):
        # ISO-8601 only for string inputs; numeric strings are NOT epoch
        # (the reference's epoch branch only fires for numeric Python types)
        parsed = raw.try_cast("timestamp")
        out.append((
            "INVALID_TIMESTAMP",
            ok & parsed.isNull(),
            "Cannot parse timestamp",
            _trunc(raw),
            "ISO 8601 or Unix timestamp",
        ))
    else:  # numeric epoch seconds (schema_validator.py:208)
        parsed = F.timestamp_seconds(raw.cast("double"))

    bound_ok = ok & parsed.isNotNull()
    if fd.min:
        out.append((
            "TIMESTAMP_TOO_OLD",
            bound_ok & (parsed < F.lit(_parse_bound_ts(fd.min))),
            f"Timestamp before minimum: {fd.min}",
            _trunc(raw),
            f"min: {fd.min}",
        ))
    if fd.max:
        out.append((
            "TIMESTAMP_TOO_RECENT",
            bound_ok & (parsed > F.lit(_parse_bound_ts(fd.max))),
            f"Timestamp after maximum: {fd.max}",
            _trunc(raw),
            f"max: {fd.max}",
        ))
    return out


def _array_size_rules(value: Column, fd: FieldDef, ok: Column) -> List[Rule]:
    out: List[Rule] = []
    size = F.size(value)
    for et, key, bound, says in (
        ("ARRAY_TOO_SHORT", "min", fd.min, "less than minimum"),
        ("ARRAY_TOO_LONG", "max", fd.max, "exceeds maximum"),
    ):
        if bound is not None:
            n = F.lit(int(bound))
            out.append((
                et,
                ok & (size < n if key == "min" else size > n),
                F.format_string(f"Array length %d {says} {bound}", size),
                F.format_string("[%d items]", size),
                f"{key}: {bound}",
            ))
    return out


def _nested_rules(value: Column, dtype: T.DataType, fd: FieldDef) -> List[Rule]:
    """Rules for one nested value (array element / object property).

    Parity with `_validate_nested_field` (schema_validator.py:336-353):
    type check, then string / number rules only (object properties are
    handled by :func:`_object_checks`)."""
    nn = value.isNotNull()
    if not _type_conforms(fd.type, dtype):
        return [_type_rule(fd, _py_type_name(dtype), nn, value)]
    if fd.type == "string":
        return _string_rules(value, fd, nn)
    if fd.type in ("integer", "float"):
        return _number_rules(value, fd, nn)
    return []


def _nested_value_checks(
    path_col: Column, value: Column, dtype: T.DataType, fd: FieldDef
) -> Column:
    """array<error-struct> (possibly empty) for one nested value."""
    if fd.type == "object" and _type_conforms(fd.type, dtype):
        return _object_checks(path_col, value, dtype, fd)
    return _errors(path_col, _nested_rules(value, dtype, fd))


def _object_checks(
    path_col: Column, value: Column, dtype: T.DataType, fd: FieldDef
) -> Column:
    """Validate declared properties of a struct value; dotted error paths
    (`schema_validator.py:304-334`). Returns array<error-struct>."""
    if not isinstance(dtype, T.StructType) or not fd.properties:
        return _empty_errors()
    by_name = {f.name: f.dataType for f in dtype.fields}
    parts: List[Column] = []
    for pname, pdef in fd.properties:
        ppath = F.concat(path_col, F.lit(f".{pname}"))
        if pname not in by_name:
            if pdef.required:
                missing = _missing_rule("property", pname, None)
                parts.append(F.array(_mkerr(ppath, missing)))
            continue
        pval = value.getField(pname)
        missing = F.when(
            pval.isNull() & F.lit(pdef.required),
            F.array(_mkerr(ppath, _missing_rule("property", pname, None))),
        ).otherwise(_empty_errors())
        nested = _nested_value_checks(ppath, pval, by_name[pname], pdef)
        parts.append(F.concat(missing, nested))
    if not parts:
        return _empty_errors()
    combined = F.concat(*parts) if len(parts) > 1 else parts[0]
    # null struct value → no property errors
    return F.when(value.isNotNull(), combined).otherwise(_empty_errors())


def _array_item_errors(
    path: str, value: Column, dtype: T.ArrayType, fd: FieldDef
) -> Column:
    """Validate the first 10 array elements (`schema_validator.py:293-301`),
    labelling errors `field[idx]`. Returns array<error-struct>."""
    elem_type = dtype.elementType
    items_def = fd.items

    def per_elem(x: Column, i: Column) -> Column:
        p = F.concat(F.lit(path + "["), i.cast("string"), F.lit("]"))
        miss = F.when(
            x.isNull() & F.lit(items_def.required),
            F.array(_mkerr(p, _type_rule(items_def, "NoneType", None, None))),
        ).otherwise(_empty_errors())
        return F.concat(miss, _nested_value_checks(p, x, elem_type, items_def))

    nested = F.flatten(F.transform(F.slice(value, 1, 10), per_elem))
    return F.when(value.isNotNull(), nested).otherwise(_empty_errors())


def _field_rules(
    name: str, fd: FieldDef, dtype: Optional[T.DataType], opts: CompileOptions
) -> List[Rule]:
    """The scalar rules of one top-level declared field, in rule order
    (its array items / object properties: :func:`_nested_errors`)."""
    # column absent from the DataFrame entirely
    if dtype is None:
        return [_missing_rule("field", name, F.lit(True))] if fd.required else []

    v = F.col(name)
    rules: List[Rule] = []
    # required + NULL → canonical error (see module docstring)
    if fd.required:
        if opts.null_error_type == "TYPE_MISMATCH":
            rules.append(_type_rule(fd, "NoneType", v.isNull(), None))
        else:
            rules.append(_missing_rule("field", name, v.isNull()))

    if isinstance(dtype, T.StringType) and fd.type in ("integer", "float", "boolean"):
        # string-typed source (CSV et al.): runtime cast failure ≡ the
        # reference's isinstance failure → TYPE_MISMATCH, got str
        if fd.type == "integer":
            # reject floats-with-fraction the way isinstance(int) does
            d = v.try_cast("double")
            typed = F.when(
                d.isNotNull() & (d == d.cast("long").cast("double")), d.cast("long")
            )
        else:
            typed = v.try_cast("double" if fd.type == "float" else "boolean")
        rules.append(_type_rule(fd, "str", v.isNotNull() & typed.isNull(), v))
        if fd.type != "boolean":
            rules += _number_rules(typed, fd, v.isNotNull() & typed.isNotNull())
        return rules

    if not _type_conforms(fd.type, dtype):
        # statically incompatible column: every non-null value mismatches
        rules.append(_type_rule(fd, _py_type_name(dtype), v.isNotNull(), v))
        return rules

    ok = v.isNotNull()
    if fd.type == "string":
        rules += _string_rules(v, fd, ok)
    elif fd.type in ("integer", "float"):
        rules += _number_rules(v, fd, ok)
    elif fd.type == "timestamp":
        rules += _timestamp_rules(v, dtype, fd, ok)
    elif fd.type == "array":
        rules += _array_size_rules(v, fd, ok)
    # boolean / date / object: type check only
    return rules


def _nested_errors(
    name: str, fd: FieldDef, dtype: Optional[T.DataType]
) -> Optional[Column]:
    """array<error-struct> of a conforming field's array items / object
    properties, or None when the field declares neither."""
    if dtype is None or not _type_conforms(fd.type, dtype):
        return None
    if fd.type == "array" and fd.items is not None:
        return _array_item_errors(name, F.col(name), dtype, fd)
    if fd.type == "object" and fd.properties:
        return _object_checks(F.lit(name), F.col(name), dtype, fd)
    return None


def compile_contract(
    contract: Contract,
    df_schema: T.StructType,
    options: Optional[CompileOptions] = None,
) -> CompiledContract:
    """Compile all P1–P14 rules (SURVEY.md §2.2) into one errors Column,
    the lean predicates and the `passed` Column — all from one rule list.

    The result is meant to be used as::

        out = df.select(*keys,
                        compiled.errors_col.alias("errors"),
                        compiled.passed_col.alias("passed"))

    which Catalyst fuses into a single WholeStageCodegen pass.
    """
    opts = options or CompileOptions()
    by_name = {f.name: f.dataType for f in df_schema.fields}

    per_field = []
    predicates: Optional[List] = []
    for name, fd in contract.fields:
        dtype = by_name.get(name)
        rules = _field_rules(name, fd, dtype, opts)
        errs = _errors(name, rules)
        nested = _nested_errors(name, fd, dtype)
        per_field.append(errs if nested is None else F.concat(errs, nested))
        if nested is not None:
            predicates = None
        elif predicates is not None:
            predicates += [(name, rule[0], rule[1]) for rule in rules]

    if not per_field:
        errors = _empty_errors()
    elif len(per_field) == 1:
        errors = per_field[0]
    else:
        errors = F.concat(*per_field)
    errors = F.slice(errors, 1, opts.max_errors)
    if predicates is None:
        passed = F.size(errors) == 0
    else:
        any_rule = reduce(
            lambda a, b: a | b, [c for _, _, c in predicates], F.lit(False)
        )
        passed = ~F.coalesce(any_rule, F.lit(False))

    return CompiledContract(
        contract=contract,
        errors_col=errors,
        passed_col=passed,
        options=opts,
        predicates=predicates,
    )
