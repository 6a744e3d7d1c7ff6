"""satya-compatible facade: the reference's own validator-API usage
patterns (tests/test_validator.py:13-168) run unchanged against the
facade StreamValidator (either route)."""

from __future__ import annotations

from decimal import Decimal
from typing import Dict, List

import pytest

from satya_spark.compat import StreamValidator
from satya_spark.model import Field, Model, ModelValidationError


@pytest.fixture()
def validator(spark):
    v = StreamValidator(spark)
    v.add_field("name", "str", required=True)
    v.add_field("age", "int", required=True)
    v.add_field("email", "email", required=False)
    v.set_constraints("name", min_length=2, max_length=10)
    v.set_constraints("age", ge=0, le=150)
    return v


def test_validate_single(validator):
    ok = validator.validate({"name": "ann", "age": 30})
    assert ok.is_valid and ok.value == {"name": "ann", "age": 30}
    bad = validator.validate({"name": "x", "age": -1, "email": "nope"})
    assert not bad.is_valid
    assert {e.field for e in bad.errors} == {"name", "age", "email"}
    with pytest.raises(ValueError):
        _ = bad.value


def test_validate_batch_bools(validator):
    out = validator.validate_batch(
        [
            {"name": "ann", "age": 30},
            {"name": "x", "age": 30},
            {"age": 30},  # missing required name
            {"name": "bob", "age": 200},
        ]
    )
    assert out == [True, False, False, False]


def test_validate_stream_lazy(validator):
    items = ({"name": f"user{i}", "age": i % 100} for i in range(25))
    results = list(validator.validate_stream(items, batch_size=10))
    assert len(results) == 25 and all(r.is_valid for r in results)


def test_unknown_constraint_rejected(validator):
    with pytest.raises(ValueError, match="unknown constraints"):
        validator.set_constraints("name", sparkle=True)


def test_enum_and_pattern_via_compat(spark):
    v = StreamValidator(spark)
    v.add_field("status", "str")
    v.set_constraints("status", enum=["active", "inactive"])
    assert v.validate_batch([{"status": "active"}, {"status": "zz"}]) == [
        True,
        False,
    ]


def test_type_mismatch_is_error_not_crash(validator):
    # ADVICE r1: validate({'age': 'thirty'}) must return a type
    # ValidationError, not abort the batch with a PySparkTypeError
    res = validator.validate({"name": "ok", "age": "thirty"})
    assert not res.is_valid
    errs = {(e.field, e.constraint) for e in res.errors}
    assert ("age", "type") in errs
    # one bad record must not poison its neighbours
    bools = validator.validate_batch(
        [{"name": "ok", "age": 30}, {"name": "ok", "age": "thirty"}, {"name": "ok", "age": 31}]
    )
    assert bools == [True, False, True]


def test_bool_is_not_int(validator):
    # src/lib.rs:614,804-807: bool must not satisfy an int field
    res = validator.validate({"name": "ok", "age": True})
    assert not res.is_valid
    assert any(e.constraint == "type" and e.field == "age" for e in res.errors)


def test_type_error_skips_value_rules(validator):
    # a type-mismatched value reports ONLY the type error, not
    # downstream constraint noise on the nulled value
    res = validator.validate({"name": 123, "age": 30})
    cons = [e.constraint for e in res.errors]
    assert cons == ["type"]


def test_validation_error_fidelity(validator):
    # path/constraint/suggestion fields (src/satya/__init__.py:20-48)
    res = validator.validate({"name": "", "age": 500})
    by_field = {e.field: e for e in res.errors}
    e = by_field["age"]
    assert e.constraint in ("le", "max_value") and e.path == ["age"]
    assert e.suggestion and "decrease" in e.suggestion
    assert "age" in str(e) and "Constraint" in str(e)


def test_datetime_string_coerces(spark):
    v = StreamValidator(spark)
    v.add_field("ts", "datetime")
    assert v.validate({"ts": "2024-01-01T10:00:00Z"}).is_valid
    bad = v.validate({"ts": "not a date"})
    assert not bad.is_valid and bad.errors[0].constraint == "type"


def test_secret_masked_in_type_errors(spark):
    v = StreamValidator(spark)
    v.add_field("token", "SecretStr")
    res = v.validate({"token": 12345})
    assert not res.is_valid
    err = res.errors[0]
    assert err.constraint == "type" and err.value == "**********"
    assert "12345" not in str(err)


def test_edge_values_same_on_both_routes(spark):
    """NaN / ±inf / 1e30 doubles, signed zeros and NaNs in a unique
    list, out-of-int64 ints and Java line terminators before '$' give
    one ValidationResult on both routes
    (Spark: NaN sorts above +inf and NaN = NaN; rlike's '$' matches
    before a trailing '\\r' or '\\u2028')."""
    nan, inf = float("nan"), float("inf")
    v = StreamValidator(spark)
    v.add_field("score", "float", required=False)
    v.set_constraints("score", ge=0.0, lt=100.0, multiple_of=0.5)
    v.add_field("age", "int", required=False)
    v.set_constraints("age", ge=0)
    v.add_field("email", "email", required=False)
    v.add_field("code", "str", required=False)
    v.set_constraints("code", pattern=r"^[a-z]+$")
    # array_distinct: NaN = NaN, but 0.0 and -0.0 are distinct
    v._fields["xs"] = {"dtype": "array<double>", "required": False, "unique_items": True}
    items = [
        {"score": nan},
        {"score": inf},
        {"score": -inf},
        {"score": 1e30},
        {"score": -0.0},
        {"age": 2**63},
        {"age": -(2**63)},
        {"email": "a@b.co\r"},
        {"email": "a@b.co\r\n"},
        {"code": "abc "},
        {"code": "ab c"},
        {"xs": [0.0, -0.0]},
        {"xs": [nan, nan]},
    ]
    v._ensure()
    assert v._python_route
    py, sp = v._results_python(items), v._results_spark(items)

    def shape(r):
        return [(e.field, e.constraint, e.value) for e in r.errors]

    assert [shape(r) for r in py] == [shape(r) for r in sp]
    assert [shape(r) for r in py] == [
        [("score", "lt", None), ("score", "multiple_of", None)],
        [("score", "lt", None), ("score", "multiple_of", None)],
        [("score", "ge", None), ("score", "multiple_of", None)],
        [("score", "lt", None)],
        [],
        [("age", "type", 2**63)],
        [("age", "ge", "-9223372036854775808")],
        [],
        [],
        [],
        [("code", "pattern", "ab c")],
        [],
        [("xs", "unique_items", "")],
    ]


def test_zero_bounds_on_items_and_decimals_keep_the_spark_route(spark):
    """A bound of 0 on list items, dict values or a Decimal is a rule
    like any other: the compiled kernels check it per item / on the
    decimal, the Python twins do not, so such a Model takes the Spark
    route and the bound fires."""
    class Zero(Model):
        xs: List[int] = Field(ge=0)
        ds: Dict[str, int] = Field(gt=0)
        amount: Decimal = Field(ge=0)

    v = Zero.validator(spark)
    ok = {"xs": [0, 1], "ds": {"a": 1}, "amount": Decimal("0")}
    items = [
        ok,
        {**ok, "xs": [-1]},
        {**ok, "ds": {"a": 0}},
        {**ok, "amount": Decimal("-0.5")},
    ]
    res = v.validate_batch_results(items)
    assert not v._python_route
    assert [[(e.field, e.constraint, e.value) for e in r.errors] for r in res] == [
        [],
        [("xs", "ge", "-1")],
        [("ds", "gt", "0")],
        [("amount", "ge", "-0.500000")],
    ]
    with pytest.raises(ModelValidationError):
        Zero(**items[1])


def test_expressible_follows_the_compiled_rules():
    from satya_spark.pykernels import expressible, java_major
    from satya_spark.spec import FieldSpec

    ok = [
        FieldSpec("x", "long", ge=0, lt=0.0),
        FieldSpec("x", "string", min_length=0),
        FieldSpec("x", "array<long>", min_items=0, unique_items=True),
        FieldSpec("x", "decimal(38,6)", required=True),
    ]
    spark_only = [
        FieldSpec("x", "array<long>", ge=0),
        FieldSpec("x", "map<string,long>", gt=0),
        FieldSpec("x", "decimal(38,6)", ge=0),
        FieldSpec("x", "array<string>", min_length=0),
        FieldSpec("x", "long", multiple_of=0),
        FieldSpec("x", "double", multiple_of=0.0),
        FieldSpec("x", "string", pattern=r"^\p{L}+$"),
    ]
    assert all(expressible(f, 17) for f in ok)
    assert not any(expressible(f, 17) for f in spark_only)
    # Double.toString prints other digits from JDK 19 on: there, fields
    # whose violations render doubles keep the compiled kernels
    assert expressible(FieldSpec("x", "double", ge=0.0), 18)
    assert not expressible(FieldSpec("x", "double", ge=0.0), 21)
    assert not expressible(FieldSpec("x", "array<double>", min_items=1), 19)
    assert expressible(FieldSpec("x", "double", required=True), 21)
    assert expressible(FieldSpec("x", "long", ge=0), 21)
    versions = ("17.0.12", "1.8.0_392", "21", "21-ea", "19.0.2")
    assert [java_major(s) for s in versions] == [17, 8, 21, 21, 19]


def test_wrap_handler_survives_non_finite_values():
    from satya_spark.pykernels import standard_handler
    from satya_spark.spec import FieldSpec

    handler = standard_handler(FieldSpec("x", "double", ge=0.0, multiple_of=0.5))
    assert handler(2.5) == 2.5
    for bad in (float("inf"), float("-inf"), float("nan")):
        with pytest.raises(ValueError, match="multiple_of"):
            handler(bad)
