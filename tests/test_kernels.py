"""Per-constraint kernel tests, porting the reference's corpora
(tests/test_field_constraints.py, tests/test_edge_cases.py) onto
Spark columns. Each case asserts the same accept/reject verdicts the
satya suite asserts via ModelValidationError.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from satya_spark.compiler import compile_spec
from satya_spark.spec import FieldSpec, TableSpec

_SPARK_TYPES = {
    "string": T.StringType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "double": T.DoubleType(),
    "bool": T.BooleanType(),
    "array<string>": T.ArrayType(T.StringType()),
    "array<int>": T.ArrayType(T.IntegerType()),
}


def verdicts(spark, fspec: FieldSpec, values, dtype=None):
    dtype = dtype or fspec.dtype
    schema = T.StructType([T.StructField(fspec.name, _SPARK_TYPES[dtype], True)])
    df = spark.createDataFrame([(v,) for v in values], schema=schema)
    compiled = compile_spec(TableSpec(name="t", fields=(fspec,)))
    rows = compiled.with_validation(df).collect()
    by_val = {}
    for v, r in zip(values, rows):
        key = tuple(v) if isinstance(v, list) else v
        by_val[key] = (r["valid"], [(x["field"], x["constraint_name"]) for x in r["violations"]])
    return by_val


# --- string length (tests/test_field_constraints.py:18-40) ---------------
def test_string_length(spark):
    f = FieldSpec("short_name", min_length=2, max_length=5)
    v = verdicts(spark, f, ["test", "x", "toolong", "ab", "abcde"])
    assert v["test"][0] and v["ab"][0] and v["abcde"][0]
    assert not v["x"][0] and v["x"][1] == [("short_name", "min_length")]
    assert not v["toolong"][0] and v["toolong"][1] == [("short_name", "max_length")]


# whitespace-only fails trimmed min_length (tests/test_edge_cases.py:198-214)
def test_trimmed_min_length(spark):
    f = FieldSpec("name", min_length=1)
    v = verdicts(spark, f, ["", "   ", "valid"])
    assert not v[""][0]
    assert not v["   "][0]
    assert v["valid"][0]


# --- integer bounds incl. edge-at-limit (:42-72) --------------------------
def test_integer_bounds_inclusive(spark):
    f = FieldSpec("age", "int", ge=0, le=150)
    v = verdicts(spark, f, [25, 0, 150, -1, 151])
    assert v[25][0] and v[0][0] and v[150][0]
    assert not v[-1][0] and not v[151][0]


def test_integer_bounds_exclusive(spark):
    f = FieldSpec("score", "int", gt=0, lt=100)
    v = verdicts(spark, f, [85, 50, 0, 100])
    assert v[85][0] and v[50][0]
    assert not v[0][0] and not v[100][0]


# --- float bounds (:74-100) ------------------------------------------------
def test_float_bounds(spark):
    price = FieldSpec("price", "double", gt=0.0)
    v = verdicts(spark, price, [99.99, 1.0, 0.0])
    assert v[99.99][0] and v[1.0][0] and not v[0.0][0]
    disc = FieldSpec("discount", "double", ge=0.0, le=1.0)
    v = verdicts(spark, disc, [0.15, 0.0, 1.0, -0.1, 1.1])
    assert v[0.15][0] and v[0.0][0] and v[1.0][0]
    assert not v[-0.1][0] and not v[1.1][0]


# --- pattern (:102-131) -----------------------------------------------------
def test_pattern_username(spark):
    f = FieldSpec("username", pattern=r"^[a-zA-Z0-9_]+$")
    v = verdicts(spark, f, ["john_doe123", "john-doe", "john doe", "john@doe"])
    assert v["john_doe123"][0]
    assert not v["john-doe"][0] and not v["john doe"][0] and not v["john@doe"][0]


def test_pattern_phone(spark):
    f = FieldSpec("phone", pattern=r"^\+\d{1,3}-\d{3}-\d{3}-\d{4}$")
    v = verdicts(spark, f, ["+1-555-123-4567", "555-123-4567", "+1-555-1234567"])
    assert v["+1-555-123-4567"][0]
    assert not v["555-123-4567"][0] and not v["+1-555-1234567"][0]


# --- email (:133-165) — exact reference corpora ----------------------------
VALID_EMAILS = [
    "user@example.com",
    "test.email@domain.org",
    "user+tag@example.co.uk",
    "firstname.lastname@company.io",
]
INVALID_EMAILS = [
    "invalid-email",
    "@example.com",
    "user@",
    "user.name",
    "user@.com",
    "user@domain",
    "user space@domain.com",
]


def test_email(spark):
    f = FieldSpec("email", email=True)
    v = verdicts(spark, f, VALID_EMAILS + INVALID_EMAILS)
    for e in VALID_EMAILS:
        assert v[e][0], e
    for e in INVALID_EMAILS:
        assert not v[e][0], e
        assert v[e][1] == [("email", "email")]


def test_email_max_length(spark):
    # len <= 254 (src/lib.rs:958-969)
    f = FieldSpec("email", email=True)
    long_email = "a" * 250 + "@example.com"
    v = verdicts(spark, f, [long_email])
    assert not v[long_email][0]


# --- url (:167-196) ----------------------------------------------------------
VALID_URLS = [
    "https://example.com",
    "http://test.org",
    "https://subdomain.example.com/path",
    "https://example.com:8080/path?query=value",
]
INVALID_URLS = ["not-a-url", "example.com", "ftp://example.com", "https://"]


def test_url(spark):
    f = FieldSpec("website", url=True)
    v = verdicts(spark, f, VALID_URLS + INVALID_URLS)
    for u in VALID_URLS:
        assert v[u][0], u
    for u in INVALID_URLS:
        assert not v[u][0], u


# --- list constraints (:198-231) ---------------------------------------------
def test_list_items(spark):
    f = FieldSpec("tags", "array<string>", min_items=1, max_items=5)
    v = verdicts(spark, f, [["python", "validation"], ["single"],
                            ["a", "b", "c", "d", "e"], [],
                            ["a", "b", "c", "d", "e", "f"]])
    assert v[("python", "validation")][0]
    assert v[("single",)][0]
    assert v[("a", "b", "c", "d", "e")][0]
    assert not v[()][0]
    assert not v[("a", "b", "c", "d", "e", "f")][0]


def test_unique_items(spark):
    f = FieldSpec("scores", "array<string>", unique_items=True)
    v = verdicts(spark, f, [["85", "92", "78"], ["1", "1"]])
    assert v[("85", "92", "78")][0]
    assert not v[("1", "1")][0]
    assert v[("1", "1")][1] == [("scores", "unique_items")]


# --- enum (:233-257) ------------------------------------------------------------
def test_enum(spark):
    f = FieldSpec("status", enum=("active", "inactive", "pending"))
    v = verdicts(spark, f, ["active", "inactive", "pending", "invalid", "Active"])
    assert v["active"][0] and v["inactive"][0] and v["pending"][0]
    assert not v["invalid"][0] and not v["Active"][0]


# --- multiple_of (src/satya/scalar_validators.py:164-169, 260-269) -----------
def test_multiple_of_int(spark):
    f = FieldSpec("n", "int", multiple_of=3)
    v = verdicts(spark, f, [9, 10, 0])
    assert v[9][0] and v[0][0] and not v[10][0]


def test_multiple_of_float_tolerance(spark):
    f = FieldSpec("x", "double", multiple_of=0.25)
    v = verdicts(spark, f, [1.75, 1.8, 0.75, 10.0])
    assert v[1.75][0] and v[0.75][0] and v[10.0][0]
    assert not v[1.8][0]


# --- null semantics ------------------------------------------------------------
def test_optional_null_passes_value_rules(spark):
    # None optional dropped pre-core (src/satya/validator.py:589-592)
    f = FieldSpec("opt", min_length=3, required=False)
    v = verdicts(spark, f, [None, "ab", "abc"])
    assert v[None][0] and v[None][1] == []
    assert not v["ab"][0]
    assert v["abc"][0]


def test_required_null_single_violation(spark):
    # required missing => exactly the required error (src/lib.rs:589-593)
    f = FieldSpec("req", required=True, min_length=3)
    v = verdicts(spark, f, [None])
    assert not v[None][0]
    assert v[None][1] == [("req", "required")]


# --- accumulation (tests/test_edge_cases.py:300-324) ----------------------------
def test_error_accumulation(spark):
    spec = TableSpec(
        name="multi",
        fields=(
            FieldSpec("name", min_length=5, max_length=10),
            FieldSpec("age", "int", ge=0, le=100),
            FieldSpec("email", email=True),
        ),
    )
    compiled = compile_spec(spec)
    schema = T.StructType(
        [
            T.StructField("name", T.StringType()),
            T.StructField("age", T.IntegerType()),
            T.StructField("email", T.StringType()),
        ]
    )
    df = spark.createDataFrame([("x", -5, "not-an-email")], schema=schema)
    row = compiled.with_validation(df).collect()[0]
    assert not row["valid"]
    fields = {v["field"] for v in row["violations"]}
    assert fields == {"name", "age", "email"}
    assert len(row["violations"]) == 3


def test_multi_constraint_same_field(spark):
    # one field violating several constraints at once accumulates all
    f = FieldSpec("tool", min_length=5, pattern=r"^[a-z]+$")
    v = verdicts(spark, f, ["Bad!"])
    assert {c for _, c in v["Bad!"][1]} == {"min_length", "pattern"}


def test_offending_value_rendering(spark):
    f = FieldSpec("status", enum=("a", "b"))
    schema = T.StructType([T.StructField("status", T.StringType())])
    df = spark.createDataFrame([("zz",)], schema=schema)
    compiled = compile_spec(TableSpec(name="t", fields=(f,)))
    out = compiled.violations_df(df, []).collect()
    assert out[0]["offending_value"] == "zz"
    assert out[0]["constraint_name"] == "enum"


def test_float_array_offending_value_matches_duckdb(spark):
    """Per-item constraints on array<double>: the offending-value
    rendering must be engine-portable (review r2 — bare CAST(double
    AS VARCHAR) formats '1.0E9' in Spark vs '1000000000.0' in DuckDB;
    elements now go through the same DECIMAL(28,6) trick as scalar
    floats)."""
    import duckdb

    f = FieldSpec("xs", "array<double>", ge=0.0, le=1e9)
    spec = TableSpec(name="t", fields=(f,))
    compiled = compile_spec(spec)
    data = [(0, [1.5, 2.0e9]), (1, [0.25, -3.5]), (2, [1.0]), (3, None)]
    schema = T.StructType(
        [
            T.StructField("i", T.IntegerType()),
            T.StructField("xs", T.ArrayType(T.DoubleType())),
        ]
    )
    df = spark.createDataFrame(data, schema=schema)
    spark_rows = sorted(
        (r["i"], r["constraint_name"], r["offending_value"])
        for r in compiled.violations_df(df, ["i"]).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INT, xs DOUBLE[])")
    con.executemany("INSERT INTO t VALUES (?, ?)", data)
    duck_rows = sorted(
        (r[0], r[2], r[3])
        for r in con.execute(compiled.violations_sql("t", ["i"])).fetchall()
    )
    assert spark_rows == duck_rows and len(spark_rows) == 2
    # the rendering itself is the fixed-decimal form, not E-notation
    assert all("E" not in ov for _, _, ov in spark_rows)


def test_map_float_values_offending_value_matches_duckdb(spark):
    import duckdb

    f = FieldSpec("props", "map<string,double>", ge=0.0)
    spec = TableSpec(name="t", fields=(f,))
    compiled = compile_spec(spec)
    schema = T.StructType(
        [
            T.StructField("i", T.IntegerType()),
            T.StructField("props", T.MapType(T.StringType(), T.DoubleType())),
        ]
    )
    df = spark.createDataFrame([(0, {"a": 2.0e9, "b": -1.5})], schema=schema)
    spark_rows = sorted(
        (r["constraint_name"], r["offending_value"])
        for r in compiled.violations_df(df, ["i"]).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT 0 AS i, MAP(['a','b'], [2.0e9, -1.5]) AS props"
    )
    duck_rows = sorted(
        (r[2], r[3])
        for r in con.execute(compiled.violations_sql("t", ["i"])).fetchall()
    )
    assert spark_rows == duck_rows


def test_out_of_range_float_offending_value_is_null_not_abort(spark):
    """Under ANSI mode a plain CAST(double AS DECIMAL(28,6)) aborts the
    job for |x| >= 1e22. The rendering uses TRY_CAST, so such a value
    (scalar, array element or struct element) renders as NULL in both
    engines and the violation row survives."""
    import duckdb

    inner = FieldSpec("w", "double", le=1.0)
    spec = TableSpec(
        name="t",
        fields=(
            FieldSpec("s", "double", le=1.0),
            FieldSpec("xs", "array<double>", max_items=1),
            FieldSpec("ys", "array<struct<w:double>>", item_fields=(inner,)),
        ),
    )
    compiled = compile_spec(spec)
    data = [(0, 1e30, [1e30, 2.5], [{"w": 1e30}, {"w": 2.0}]), (1, 0.5, [0.5], [{"w": 0.5}])]
    df = spark.createDataFrame(
        data, "i int, s double, xs array<double>, ys array<struct<w:double>>"
    )
    spark_rows = sorted(
        (r["i"], r["field"], r["constraint_name"], r["offending_value"])
        for r in compiled.violations_df(df, ["i"]).collect()
    )
    assert spark_rows == [
        (0, "s", "le", None),
        (0, "xs", "max_items", "2.500000"),
        (0, "ys[].w", "le", "2.000000"),
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INT, s DOUBLE, xs DOUBLE[], ys STRUCT(w DOUBLE)[])")
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", data)
    duck_rows = sorted(
        con.execute(compiled.violations_sql("t", ["i"])).fetchall()
    )
    assert [tuple(r) for r in duck_rows] == spark_rows
