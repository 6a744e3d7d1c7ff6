"""Property-based differential fuzzing: Spark kernel verdicts vs a
pure-Python reference implementation of satya's semantics — the
in-repo analog of the reference's Pydantic-compatibility oracle
(``tests/test_pydantic_compatibility.py:327-366``), with hypothesis
generating the corpora instead of hand-picking them."""

from __future__ import annotations

import datetime as _dt
import re
from decimal import Decimal as _Dec

import hypothesis.strategies as st
from hypothesis import HealthCheck, given, settings
from pyspark.sql import types as T

from satya_spark.compiler import compile_spec
from satya_spark.spec import EMAIL_MAX_LEN, EMAIL_PATTERN, URL_PATTERN, FieldSpec, TableSpec

# Java/Python-equivalent anchored patterns only (SURVEY.md §7: the
# spec requires anchored RE2-compatible patterns)
PATTERNS = [r"^[a-z]+$", r"^a.*z$", r"^[0-9]{2,4}$", r"^\w+\d$"]
ENUMS = [("red", "green"), ("a", "b", "c")]


def py_validate_str(f: FieldSpec, v):
    """satya-semantics oracle for one scalar field: presence here,
    value kernels via the LIBRARY's pure-Python twins
    (satya_spark.pykernels — the code that powers mode='wrap'
    handlers). Fuzzing the shipped twins against the compiled kernels
    pins handler ≡ kernel equivalence for free."""
    from satya_spark.pykernels import value_violations

    if v is None:
        return ["required"] if f.required else []
    return value_violations(f, v)


py_validate_num = py_validate_str  # same presence + twin dispatch


str_field = st.builds(
    lambda req, mn, mx, pat, em, en: FieldSpec(
        "s",
        "string",
        required=req,
        min_length=mn,
        max_length=mx,
        pattern=pat,
        email=em,
        enum=en,
    ),
    st.booleans(),
    st.one_of(st.none(), st.integers(0, 5)),
    st.one_of(st.none(), st.integers(3, 12)),
    st.one_of(st.none(), st.sampled_from(PATTERNS)),
    st.booleans(),
    st.one_of(st.none(), st.sampled_from(ENUMS)),
)

str_values = st.lists(
    st.one_of(
        st.none(),
        st.text(
            alphabet="abz019 \t\n@.-红😀\r\u2028\u0085\xa0٣",
            max_size=14,
        ),
        st.sampled_from(
            ["", "   ", "\t\t", "a@b.co", "red", "aXz", "42", "a" * 300,
             "a@b.co\r", "a@b.co\r\n", "abc\u2028", "az\n", "az\r\n", "a\r\nz"]
        ),
    ),
    min_size=1,
    max_size=16,
)

int_field = st.builds(
    lambda req, ge, le, gt, lt, m: FieldSpec(
        "n", "long", required=req, ge=ge, le=le, gt=gt, lt=lt, multiple_of=m
    ),
    st.booleans(),
    st.one_of(st.none(), st.integers(-5, 5)),
    st.one_of(st.none(), st.integers(-5, 100)),
    st.one_of(st.none(), st.integers(-5, 5)),
    st.one_of(st.none(), st.integers(-5, 100)),
    st.one_of(st.none(), st.sampled_from([2, 3, 7])),
)

int_values = st.lists(
    st.one_of(st.none(), st.integers(-10, 110)), min_size=1, max_size=16
)


def _spark_verdicts(spark, f: FieldSpec, values, spark_type):
    schema = T.StructType([T.StructField(f.name, spark_type, True)])
    df = spark.createDataFrame([(v,) for v in values], schema)
    compiled = compile_spec(TableSpec(name="p", fields=(f,)))
    rows = compiled.with_validation(df).collect()
    return [sorted(x["constraint_name"] for x in r["violations"]) for r in rows]


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(f=str_field, values=str_values)
def test_string_kernels_match_python_oracle(spark, f, values):
    got = _spark_verdicts(spark, f, values, T.StringType())
    want = [sorted(py_validate_str(f, v)) for v in values]
    assert got == want, f"spec={f} values={values}"


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(f=int_field, values=int_values)
def test_int_kernels_match_python_oracle(spark, f, values):
    got = _spark_verdicts(spark, f, values, T.LongType())
    want = [sorted(py_validate_num(f, v)) for v in values]
    assert got == want, f"spec={f} values={values}"


# --- double scalar kernels: Spark's NaN ordering and decimal rendering -------

def _spark_violations(spark, f: FieldSpec, values, spark_type):
    """(constraint, offending_value) pairs per value, compiled kernels."""
    schema = T.StructType([T.StructField(f.name, spark_type, True)])
    df = spark.createDataFrame([(v,) for v in values], schema)
    compiled = compile_spec(TableSpec(name="p", fields=(f,)))
    return [
        sorted((x["constraint_name"], x["offending_value"]) for x in r["violations"])
        for r in compiled.with_validation(df).collect()
    ]


def py_violations(f: FieldSpec, v):
    """The same pairs from the pure-Python twins (value rules +
    offending-value rendering)."""
    from satya_spark.pykernels import offending_value, value_violations

    if v is None:
        return [("required", None)] if f.required else []
    return sorted((c, offending_value(f, v)) for c in value_violations(f, v))


_DOUBLE_BOUNDS = st.one_of(
    st.none(), st.integers(-5, 5), st.sampled_from([-2.5, 0.0, 0.5, 99.5])
)

double_field = st.builds(
    lambda req, ge, le, gt, lt, m: FieldSpec(
        "x", "double", required=req, ge=ge, le=le, gt=gt, lt=lt, multiple_of=m
    ),
    st.booleans(),
    _DOUBLE_BOUNDS,
    _DOUBLE_BOUNDS,
    _DOUBLE_BOUNDS,
    _DOUBLE_BOUNDS,
    st.one_of(st.none(), st.sampled_from([0.5, 2.5])),
)

double_values = st.lists(
    st.one_of(
        st.none(),
        st.sampled_from(
            [float("nan"), float("inf"), float("-inf"), -0.0, 0.0, 1e30, -1e30,
             1e22, 9.999999999999999e21, 2.5, 5.0, 0.1, 1e-7, 5e-7, 2.0**60]
        ),
        st.floats(),
        st.integers(-12, 12).map(lambda k: k * 0.5),
    ),
    min_size=1,
    max_size=16,
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(f=double_field, values=double_values)
def test_double_kernels_match_python_oracle(spark, f, values):
    got = _spark_violations(spark, f, values, T.DoubleType())
    want = [py_violations(f, v) for v in values]
    assert got == want, f"spec={f} values={values}"


def test_double_rendering_matches_spark(spark):
    """The offending-value twin renders doubles exactly like
    TRY_CAST(x AS DECIMAL(28,6)): Spark builds that decimal from the
    JVM's Double.toString digits, which are not Python's shortest
    repr above 2**53 (5.143871090212682e16 → ...816, not ...820).
    The twin ports the JDK <= 18 digit loop; on a later JVM the facade
    keeps fields that render doubles on the compiled kernels."""
    import random
    import struct

    from pyspark.sql import functions as F

    from satya_spark.pykernels import expressible, java_major, offending_value

    jdk = java_major(
        spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    )
    if jdk > 18:
        assert not expressible(FieldSpec("x", "double", ge=0.0), jdk)
        return

    rnd = random.Random(20261017)
    vals = [
        5.143871090212682e16, 7.932233374190789e16, 2.0**60, 2.0**62 + 2048.0,
        1.0e19 + 2.0**14, 9.999999999999999e21, 1e22, 1.7976931348623157e308,
        5e-324, 5e-7, -5e-7, 4.9999999999999996e-07, 123456789.12345679, -0.0,
        float("nan"), float("inf"),
    ]
    vals += [rnd.uniform(-1, 1) * 10.0 ** rnd.randint(-9, 23) for _ in range(1500)]
    vals += [
        struct.unpack("<d", struct.pack("<Q", rnd.getrandbits(64)))[0]
        for _ in range(500)
    ]
    f = FieldSpec("x", "double")
    df = spark.createDataFrame(list(enumerate(vals)), "i long, x double")
    got = {
        r["i"]: r["s"]
        for r in df.select(
            "i", F.col("x").try_cast("decimal(28,6)").cast("string").alias("s")
        ).collect()
    }
    bad = [
        (v, got[i], offending_value(f, v))
        for i, v in enumerate(vals)
        if got[i] != offending_value(f, v)
    ]
    assert not bad, bad[:5]


# --- facade: Python route ≡ Spark route ---------------------------------------

_NAN, _INF = float("nan"), float("inf")
_FACADE_VALUES = {
    "string": st.one_of(
        st.text(alphabet="abz09 @.\r\n\u2028\xa0٣", max_size=10),
        st.sampled_from(["a@b.co", "a@b.co\r", "http://x.io", "red", "az\r\n"]),
        st.integers(-3, 3),
    ),
    "long": st.one_of(
        st.integers(-10, 110),
        st.sampled_from([2**63, -(2**63), 2**63 - 1, -(2**63) - 1, True]),
        st.floats(allow_nan=False, max_value=5, min_value=-5),
    ),
    "double": st.one_of(
        st.floats(),
        st.integers(-10, 110),
        st.sampled_from([_NAN, _INF, -_INF, -0.0, 1e30, 10**400, False, "1.5"]),
    ),
    "bool": st.one_of(st.booleans(), st.integers(0, 1)),
    "timestamp": st.one_of(
        st.datetimes(
            min_value=_dt.datetime(1970, 1, 2), max_value=_dt.datetime(2100, 1, 1)
        ),
        st.sampled_from(["2024-01-01T10:00:00Z", "2024-13-01", "nope", 7]),
    ),
    "decimal(38,6)": st.one_of(
        st.decimals(allow_nan=True, allow_infinity=True),
        st.sampled_from(
            [_Dec("1e40"), _Dec("99999999999999999999999999999999.9999995"),
             _Dec("1.2345678"), "1.5", "x", 1.5, 7, _NAN]
        ),
    ),
    "array<string>": st.one_of(
        st.lists(st.one_of(st.none(), st.sampled_from(["a", "b", "a ", ""])), max_size=5),
        st.lists(st.integers(0, 2), min_size=1, max_size=2),
        st.just("ab"),
    ),
    "array<long>": st.lists(st.one_of(st.none(), st.integers(-3, 3)), max_size=5),
    "array<double>": st.lists(
        st.one_of(st.none(), st.floats(), st.sampled_from([_NAN, -0.0, 0.0, 1e30])),
        max_size=5,
    ),
    "array<bool>": st.lists(st.one_of(st.none(), st.booleans()), max_size=4),
    "map<string,long>": st.one_of(
        st.dictionaries(
            st.text(alphabet="ab", max_size=2),
            st.one_of(st.none(), st.integers(-3, 3)),
            max_size=3,
        ),
        st.just({"a": "b"}),
        st.just(["a"]),
    ),
}


def _facade_field(i: int):
    """One field of any dtype the facade accepts, paired with the route
    it must get: rules the Python route covers for that dtype (bounds
    of 0 included), or a value bound on an array, map or decimal —
    per-item and decimal bounds only the compiled kernels check."""
    name = f"f{i}"
    opt = lambda s: st.one_of(st.none(), s)  # noqa: E731
    python = lambda s: s.map(lambda f: (f, True))  # noqa: E731
    string = st.builds(
        lambda req, mn, mx, pat, em, url, en, sec: FieldSpec(
            name, "string", required=req, min_length=mn, max_length=mx,
            pattern=pat, email=em, url=url, enum=en, secret=sec,
        ),
        st.booleans(), opt(st.integers(0, 3)), opt(st.integers(2, 8)),
        opt(st.sampled_from(PATTERNS)), st.booleans(), st.booleans(),
        opt(st.sampled_from(ENUMS)), st.booleans(),
    )
    numeric = st.builds(
        lambda dtype, req, ge, le, gt, lt, m: FieldSpec(
            name, dtype, required=req, ge=ge, le=le, gt=gt, lt=lt, multiple_of=m
        ),
        st.sampled_from(["long", "double"]), st.booleans(), _DOUBLE_BOUNDS,
        _DOUBLE_BOUNDS, opt(st.integers(0, 100)), opt(st.integers(0, 100)),
        opt(st.sampled_from([2, 3, 0.5, 2.5])),
    )
    array = st.builds(
        lambda dtype, req, mni, mxi, uni: FieldSpec(
            name, dtype, required=req, min_items=mni, max_items=mxi, unique_items=uni
        ),
        st.sampled_from(["array<string>", "array<long>", "array<double>", "array<bool>"]),
        st.booleans(), opt(st.integers(0, 2)), opt(st.integers(1, 3)), st.booleans(),
    )
    presence = st.builds(
        lambda dtype, req: FieldSpec(name, dtype, required=req),
        st.sampled_from(["bool", "timestamp", "decimal(38,6)", "map<string,long>"]),
        st.booleans(),
    )
    bounded = st.builds(
        lambda dtype, req, rule, bound: (
            FieldSpec(name, dtype, required=req, **{rule: bound}), False
        ),
        st.sampled_from(["array<long>", "array<double>", "map<string,long>", "decimal(38,6)"]),
        st.booleans(), st.sampled_from(["ge", "gt", "le", "lt"]),
        st.sampled_from([0, 0.0, 1, -2.5]),
    )
    return st.one_of(
        python(string), python(numeric), python(array), python(presence), bounded
    )


@st.composite
def _facade_case(draw):
    drawn = [draw(_facade_field(i)) for i in range(draw(st.integers(1, 4)))]
    fields = [f for f, _ in drawn]
    items = []
    for _ in range(draw(st.integers(1, 8))):
        item = {}
        for f in fields:
            kind = draw(st.sampled_from(["value", "value", "value", "none", "absent"]))
            if kind == "value":
                item[f.name] = draw(_FACADE_VALUES[f.dtype])
            elif kind == "none":
                item[f.name] = None
        items.append(item)
    return fields, all(ok for _, ok in drawn), items


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(case=_facade_case())
def test_facade_routes_agree(spark, case):
    """The StreamValidator takes the Python route exactly when every
    field's rules have Python twins, and its results then equal the
    Spark route's: same errors (field, constraint, offending value,
    message) in the same order, same value."""
    import dataclasses

    from satya_spark.compat import StreamValidator

    fields, python_route, items = case
    v = StreamValidator(spark)
    for f in fields:
        kw = {
            k: x
            for k, x in dataclasses.asdict(f).items()
            if k != "name" and x is not None and x is not False
        }
        v._fields[f.name] = {"required": f.required, **kw}
    v._ensure()
    assert v._python_route == python_route, f"fields={fields}"
    got, sp = v.validate_batch_results(items), v._results_spark(items)

    def shape(r):
        return (
            r.is_valid,
            r._value,
            [(e.field, e.constraint, e.value, e.message) for e in r.errors],
        )

    for item, a, b in zip(items, got, sp):
        assert shape(a) == shape(b), f"fields={fields} item={item!r}"


# --- per-item kernels (round 2: forall / array_min-max) ---------------------

def py_validate_items(f: FieldSpec, arr):
    """Pure-Python oracle for per-item + container rules on an array
    field: scalar constraints apply to every non-null element
    (src/lib.rs:874-918), container rules to the array itself."""
    if arr is None:
        return ["required"] if f.required else []
    out = []
    items = [v for v in arr if v is not None]
    if f.pattern is not None and any(
        not re.search(f.pattern, v) for v in items
    ):
        out.append("pattern")
    if f.min_length is not None and any(
        len(v.strip()) < f.min_length for v in items
    ):
        out.append("min_length")
    if f.max_length is not None and any(len(v) > f.max_length for v in items):
        out.append("max_length")
    if f.enum is not None and any(v not in f.enum for v in items):
        out.append("enum")
    # numeric per-item bounds (min/max semantics skip nulls; empty ->
    # no fire, like array_min/list_aggregate returning NULL)
    if f.ge is not None and items and any(not (v >= f.ge) for v in items):
        out.append("ge")
    if f.le is not None and items and any(not (v <= f.le) for v in items):
        out.append("le")
    if f.min_items is not None and len(arr) < f.min_items:
        out.append("min_items")
    if f.max_items is not None and len(arr) > f.max_items:
        out.append("max_items")
    if f.unique_items and len(set(arr)) != len(arr):
        out.append("unique_items")
    return out


str_arr_field = st.builds(
    lambda pat, mn, mx, en, mni, mxi, uni: FieldSpec(
        "a",
        "array<string>",
        pattern=pat,
        min_length=mn,
        max_length=mx,
        enum=en,
        min_items=mni,
        max_items=mxi,
        unique_items=uni,
    ),
    st.one_of(st.none(), st.sampled_from(PATTERNS)),
    st.one_of(st.none(), st.integers(0, 4)),
    st.one_of(st.none(), st.integers(2, 8)),
    st.one_of(st.none(), st.sampled_from(ENUMS)),
    st.one_of(st.none(), st.integers(0, 3)),
    st.one_of(st.none(), st.integers(1, 6)),
    st.booleans(),
)

str_arrays = st.lists(
    st.one_of(
        st.none(),
        st.lists(
            st.one_of(
                st.none(),
                st.sampled_from(["red", "green", "aXz", "ab", " b ", "42", ""]),
                st.text(alphabet="abz01 ", max_size=6),
            ),
            max_size=6,
        ),
    ),
    min_size=1,
    max_size=10,
)

int_arr_field = st.builds(
    lambda ge, le: FieldSpec("a", "array<long>", ge=ge, le=le),
    st.one_of(st.none(), st.integers(-3, 3)),
    st.one_of(st.none(), st.integers(0, 50)),
)

int_arrays = st.lists(
    st.one_of(
        st.none(),
        st.lists(st.one_of(st.none(), st.integers(-10, 60)), max_size=6),
    ),
    min_size=1,
    max_size=10,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(f=str_arr_field, values=str_arrays)
def test_string_item_kernels_match_python_oracle(spark, f, values):
    got = _spark_verdicts(
        spark, f, values, T.ArrayType(T.StringType(), True)
    )
    want = [sorted(py_validate_items(f, v)) for v in values]
    assert got == want, f"spec={f} values={values}"


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(f=int_arr_field, values=int_arrays)
def test_int_item_kernels_match_python_oracle(spark, f, values):
    got = _spark_verdicts(spark, f, values, T.ArrayType(T.LongType(), True))
    want = [sorted(py_validate_items(f, v)) for v in values]
    assert got == want, f"spec={f} values={values}"


# --- per-element STRUCT kernels (round 3: List[Model] surface) -------------

def py_validate_struct_items(inner: FieldSpec, arr):
    """Pure-Python oracle for array<struct<s:string>> with
    item_fields=(inner,): null elements skip; null leaf fires only
    'required'; non-null leaves get the scalar string rules."""
    if arr is None:
        return []
    out = set()
    for el in arr:
        if el is None:
            continue
        v = el[0]
        if v is None:
            if inner.required:
                out.add("required")
            continue
        out.update(py_validate_str(inner, v))
    return sorted(out)


struct_inner_field = st.builds(
    lambda req, mn, mx, pat, en: FieldSpec(
        "s",
        "string",
        required=req,
        min_length=mn,
        max_length=mx,
        pattern=pat,
        enum=en,
    ),
    st.booleans(),
    st.one_of(st.none(), st.integers(0, 4)),
    st.one_of(st.none(), st.integers(2, 10)),
    st.one_of(st.none(), st.sampled_from(PATTERNS)),
    st.one_of(st.none(), st.sampled_from(ENUMS)),
)

struct_arrays = st.lists(
    st.one_of(
        st.none(),
        st.lists(
            st.one_of(
                st.none(),
                st.tuples(
                    st.one_of(
                        st.none(),
                        st.text(
                            alphabet="abz059 \t", min_size=0, max_size=8
                        ),
                    )
                ),
            ),
            max_size=5,
        ),
    ),
    min_size=1,
    max_size=8,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(inner=struct_inner_field, values=struct_arrays)
def test_struct_item_kernels_match_python_and_duckdb(spark, inner, values):
    """Triple-differential: Spark struct-element kernels vs the pure
    Python oracle AND vs the generated DuckDB SQL twin."""
    import duckdb

    f = FieldSpec("arr", "array<struct<s:string>>", item_fields=(inner,))
    schema = T.StructType(
        [
            T.StructField("i", T.IntegerType(), True),
            T.StructField(
                "arr",
                T.ArrayType(
                    T.StructType([T.StructField("s", T.StringType(), True)]),
                    True,
                ),
                True,
            ),
        ]
    )
    rows_in = [(i, v) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows_in, schema)
    compiled = compile_spec(TableSpec(name="p", fields=(f,)))
    out = compiled.with_validation(df).collect()
    got = {
        r["i"]: sorted({x["constraint_name"] for x in r["violations"]})
        for r in out
    }
    want = {i: py_validate_struct_items(inner, v) for i, v in enumerate(values)}
    assert got == want, f"inner={inner} values={values}"

    con = duckdb.connect()
    con.execute("CREATE TABLE p (i INT, arr STRUCT(s VARCHAR)[])")
    con.executemany(
        "INSERT INTO p VALUES (?, ?)",
        [
            (i, None if v is None else [None if el is None else {"s": el[0]} for el in v])
            for i, v in enumerate(values)
        ],
    )
    sql = compiled.violations_sql("p", ["i"])
    duck = {}
    if sql.strip():  # constraint-free spec compiles to zero kernels
        for i, _field, cname, _off in con.execute(sql).fetchall():
            duck.setdefault(i, set()).add(cname)
    duck_sorted = {i: sorted(s) for i, s in duck.items()}
    want_nonempty = {i: w for i, w in want.items() if w}
    assert duck_sorted == want_nonempty, f"inner={inner} values={values}"


def py_validate_struct_num_items(inner: FieldSpec, arr):
    if arr is None:
        return []
    out = set()
    for el in arr:
        if el is None:
            continue
        v = el[0]
        if v is None:
            if inner.required:
                out.add("required")
            continue
        out.update(py_validate_num(inner, v))
    return sorted(out)


struct_num_inner = st.builds(
    lambda req, ge, le, gt, m: FieldSpec(
        "n", "long", required=req, ge=ge, le=le, gt=gt, multiple_of=m
    ),
    st.booleans(),
    st.one_of(st.none(), st.integers(-5, 5)),
    st.one_of(st.none(), st.integers(-5, 60)),
    st.one_of(st.none(), st.integers(-5, 5)),
    st.one_of(st.none(), st.sampled_from([2, 7])),
)

struct_num_arrays = st.lists(
    st.one_of(
        st.none(),
        st.lists(
            st.one_of(
                st.none(),
                st.tuples(st.one_of(st.none(), st.integers(-10, 70))),
            ),
            max_size=5,
        ),
    ),
    min_size=1,
    max_size=8,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(inner=struct_num_inner, values=struct_num_arrays)
def test_numeric_struct_item_kernels_match_python_and_duckdb(spark, inner, values):
    import duckdb

    f = FieldSpec("arr", "array<struct<n:bigint>>", item_fields=(inner,))
    schema = T.StructType(
        [
            T.StructField("i", T.IntegerType(), True),
            T.StructField(
                "arr",
                T.ArrayType(
                    T.StructType([T.StructField("n", T.LongType(), True)]), True
                ),
                True,
            ),
        ]
    )
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], schema)
    compiled = compile_spec(TableSpec(name="p", fields=(f,)))
    got = {
        r["i"]: sorted({x["constraint_name"] for x in r["violations"]})
        for r in compiled.with_validation(df).collect()
    }
    want = {
        i: py_validate_struct_num_items(inner, v) for i, v in enumerate(values)
    }
    assert got == want, f"inner={inner} values={values}"

    con = duckdb.connect()
    con.execute("CREATE TABLE p (i INT, arr STRUCT(n BIGINT)[])")
    con.executemany(
        "INSERT INTO p VALUES (?, ?)",
        [
            (i, None if v is None else [None if el is None else {"n": el[0]} for el in v])
            for i, v in enumerate(values)
        ],
    )
    sql = compiled.violations_sql("p", ["i"])
    duck = {}
    if sql.strip():
        for i, _f, cname, _off in con.execute(sql).fetchall():
            duck.setdefault(i, set()).add(cname)
    assert {i: sorted(s) for i, s in duck.items()} == {
        i: w for i, w in want.items() if w
    }, f"inner={inner} values={values}"


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(inner=struct_inner_field, values=struct_arrays)
def test_map_struct_value_kernels_match_python_and_duckdb(spark, inner, values):
    """Dict[str, Model] analog: the same per-element struct kernels
    over map VALUES — Spark vs Python oracle vs DuckDB twin. Reuses
    the array corpora (values become map values keyed k0..kn)."""
    import duckdb

    f = FieldSpec(
        "m", "map<string,struct<s:string>>", item_fields=(inner,)
    )
    schema = T.StructType(
        [
            T.StructField("i", T.IntegerType(), True),
            T.StructField(
                "m",
                T.MapType(
                    T.StringType(),
                    T.StructType([T.StructField("s", T.StringType(), True)]),
                    True,
                ),
                True,
            ),
        ]
    )

    def to_map(v):
        if v is None:
            return None
        return {f"k{j}": el for j, el in enumerate(v)}

    df = spark.createDataFrame(
        [(i, to_map(v)) for i, v in enumerate(values)], schema
    )
    compiled = compile_spec(TableSpec(name="p", fields=(f,)))
    got = {
        r["i"]: sorted({x["constraint_name"] for x in r["violations"]})
        for r in compiled.with_validation(df).collect()
    }
    want = {i: py_validate_struct_items(inner, v) for i, v in enumerate(values)}
    assert got == want, f"inner={inner} values={values}"

    con = duckdb.connect()
    con.execute("CREATE TABLE p (i INT, m MAP(VARCHAR, STRUCT(s VARCHAR)))")
    for i, v in enumerate(values):
        if v is None:
            # a bare NULL param can't infer the MAP type — cast it
            con.execute(
                "INSERT INTO p SELECT ?, CAST(NULL AS MAP(VARCHAR,"
                " STRUCT(s VARCHAR)))",
                [i],
            )
            continue
        keys = [f"k{j}" for j in range(len(v))]
        vals = [None if el is None else {"s": el[0]} for el in v]
        con.execute(
            "INSERT INTO p SELECT ?, MAP(?, CAST(? AS STRUCT(s VARCHAR)[]))",
            [i, keys, vals],
        )
    sql = compiled.violations_sql("p", ["i"])
    duck = {}
    if sql.strip():
        for i, _f, cname, _off in con.execute(sql).fetchall():
            duck.setdefault(i, set()).add(cname)
    assert {i: sorted(s) for i, s in duck.items()} == {
        i: w for i, w in want.items() if w
    }, f"inner={inner} values={values}"


# --- triage-tier fuzz: two-phase top-n vs pure-Python oracle ---------------

triage_rows = st.lists(
    st.tuples(
        st.integers(0, 30),                      # key1
        st.integers(0, 5),                       # key2
        st.sampled_from(["a", "b", "c"]),        # field
        st.sampled_from(["min_length", "enum"]),  # constraint
    ),
    min_size=0,
    max_size=80,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=triage_rows, n=st.integers(1, 4), buckets=st.sampled_from([1, 3, 32]))
def test_violations_sample_matches_python_oracle(spark, rows, n, buckets):
    """crossrow.violations_sample (two-phase salted top-n) must equal
    the plain-Python 'sort within (field, constraint) and take n' —
    for any salt factor, including duplicate keys across constraints."""
    from satya_spark.crossrow import violations_sample

    # keys must be unique per (field, constraint): dedupe like
    # violations_df's one-row-per-(row, rule) shape
    uniq = {}
    for k1, k2, fld, cst in rows:
        uniq[(fld, cst, k1, k2)] = (f"c{k1:03d}", k2, fld, cst, "v")
    data = sorted(uniq.values())
    if not data:
        return
    df = spark.createDataFrame(
        data, ["conv_id", "turn_idx", "field", "constraint_name", "offending_value"]
    )
    got = sorted(
        (r["field"], r["constraint_name"], r["conv_id"], r["turn_idx"], r["rk"])
        for r in violations_sample(
            df, ["conv_id", "turn_idx"], n=n, salt_buckets=buckets
        ).collect()
    )
    # pure-Python oracle
    by_group: dict = {}
    for conv, t, fld, cst, _ in data:
        by_group.setdefault((fld, cst), []).append((conv, t))
    expect = []
    for (fld, cst), ks in by_group.items():
        for i, (conv, t) in enumerate(sorted(ks)[:n], start=1):
            expect.append((fld, cst, conv, t, i))
    assert got == sorted(expect)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(
        st.floats(-1e6, 1e6, allow_nan=False, width=32), min_size=1, max_size=60
    ),
    probs=st.sampled_from([(0.5,), (0.25, 0.5, 0.75), (0.1, 0.9)]),
)
def test_column_quantiles_exact_matches_numpy_fuzz(spark, vals, probs):
    """Exact percentile ≡ numpy linear interpolation ≡ (by the gate)
    DuckDB quantile_cont, over arbitrary float corpora."""
    import numpy as np

    from satya_spark.crossrow import column_quantiles

    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    row = column_quantiles(df, ["x"], probs=list(probs), exact=True).collect()[0]
    for p in probs:
        name = f"q{int(round(p * 100)):02d}"
        want = round(float(np.percentile(vals, p * 100)), 6)
        assert abs(row[name] - want) <= 1e-6 * max(1.0, abs(want)), (
            p, row[name], want,
        )


# --- decorator validators: two-path parity (r4) ------------------------------
# Model(**d) (per-record Python execution of decorated validators)
# and validate_df (Arrow pandas UDFs around the compiled kernels)
# must agree on verdict NAMES per row and on the final value of
# fully-valid rows — for every validator mode × transform ×
# raise-predicate × field-constraint combination. This pins the
# after-stage gating (validate_df suppresses after/model verdicts on
# rows that already failed, exactly like Model.__init__ raising
# before 'after' runs).

_DV_TRANSFORMS = {
    "strip": lambda v: v.strip(),
    "upper": lambda v: v.upper(),
    "prefix": lambda v: "p:" + v,
    "ident": lambda v: v,
}
_DV_RAISERS = {
    "never": lambda v: False,
    "blank": lambda v: not v.strip(),
    "has_z": lambda v: "z" in v,
    "long": lambda v: len(v) > 6,
}


def _dv_model(f: FieldSpec, mode: str, tname: str, rname: str):
    from typing import Optional as _Opt

    from satya_spark import Field, Model, field_validator

    tf, rf = _DV_TRANSFORMS[tname], _DV_RAISERS[rname]
    kw = {
        k: getattr(f, k)
        for k in ("min_length", "max_length", "pattern", "email", "enum")
        if getattr(f, k) not in (None, False)
    }
    if mode == "wrap":
        def v_s(cls, v, handler, info):
            if rf(v):
                raise ValueError("fuzz says no")
            return handler(tf(v))
    else:
        def v_s(cls, v, info):
            if rf(v):
                raise ValueError("fuzz says no")
            return tf(v)
    ns = {
        "__annotations__": {"s": str if f.required else _Opt[str]},
        "s": Field(**kw),
        "v_s": field_validator("s", mode=mode)(v_s),
    }
    return type("DvFuzz", (Model,), ns)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    f=str_field,
    mode=st.sampled_from(["before", "after", "plain", "wrap"]),
    tname=st.sampled_from(sorted(_DV_TRANSFORMS)),
    rname=st.sampled_from(sorted(_DV_RAISERS)),
    values=st.lists(
        st.one_of(
            st.none(),
            st.text(alphabet="abz 09@.", max_size=8),
            st.sampled_from(["", "   ", "a@b.co", "red", "azz", "abcdefgh"]),
        ),
        min_size=1,
        max_size=5,
    ),
)
def test_decorator_two_path_parity(spark, f, mode, tname, rname, values):
    from satya_spark.model import ModelValidationError

    cls = _dv_model(f, mode, tname, rname)
    cls.validator(spark)

    small = []
    for v in values:
        try:
            inst = cls(s=v)
            small.append((True, inst.s, []))
        except ModelValidationError as e:
            small.append(
                (False, None, sorted({err.constraint for err in e.errors}))
            )

    schema = T.StructType(
        [T.StructField("i", T.LongType(), False), T.StructField("s", T.StringType(), True)]
    )
    df = spark.createDataFrame(list(enumerate(values)), schema)
    rows = sorted(cls.validate_df(df).collect(), key=lambda r: r["i"])
    big = [
        (
            bool(r["valid"]),
            r["s"],
            sorted({x["constraint_name"] for x in r["violations"]}),
        )
        for r in rows
    ]
    cfg = f"cfg=({mode},{tname},{rname}) spec={f}"
    for v, (ok_s, val_s, errs_s), (ok_b, val_b, errs_b) in zip(values, small, big):
        assert ok_s == ok_b, f"valid mismatch for {v!r}: {ok_s} vs {ok_b}; {cfg}"
        assert errs_s == errs_b, f"verdicts for {v!r}: {errs_s} vs {errs_b}; {cfg}"
        if ok_s:
            assert val_s == val_b, f"value for {v!r}: {val_s!r} vs {val_b!r}; {cfg}"


# --- dotted-path decorator parity (nested struct leaf) -----------------------

def _dv_nested_model(f: FieldSpec, mode: str, tname: str, rname: str):
    """Outer model with `inner: Inner` where Inner.s carries the
    fuzzed constraints and the decorated validator targets the DOTTED
    path 'inner.s' — exercising withField rewrites + kernel-drop on
    the DF path and dict-navigation + suppression threading on the
    small-batch path."""
    from satya_spark import Field, Model, field_validator

    tf, rf = _DV_TRANSFORMS[tname], _DV_RAISERS[rname]
    kw = {
        k: getattr(f, k)
        for k in ("min_length", "max_length", "pattern", "email", "enum")
        if getattr(f, k) not in (None, False)
    }
    inner_ns = {
        "__annotations__": {"s": str if f.required else __import__("typing").Optional[str]},
        "s": Field(**kw),
    }
    Inner = type("DvInnerFuzz", (Model,), inner_ns)

    def v_s(cls, v, info):
        if rf(v):
            raise ValueError("fuzz says no")
        return tf(v)

    outer_ns = {
        "__annotations__": {"inner": Inner},
        "inner": Field(),
        "v_s": field_validator("inner.s", mode=mode)(v_s),
    }
    return Inner, type("DvOuterFuzz", (Model,), outer_ns)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    f=str_field,
    mode=st.sampled_from(["before", "after", "plain"]),
    tname=st.sampled_from(sorted(_DV_TRANSFORMS)),
    rname=st.sampled_from(sorted(_DV_RAISERS)),
    values=st.lists(
        st.one_of(
            st.none(),
            st.text(alphabet="abz 09@.", max_size=8),
            st.sampled_from(["", "   ", "a@b.co", "red", "azz"]),
        ),
        min_size=1,
        max_size=4,
    ),
)
def test_dotted_decorator_two_path_parity(spark, f, mode, tname, rname, values):
    from satya_spark.model import ModelValidationError

    Inner, Outer = _dv_nested_model(f, mode, tname, rname)
    for c in (Inner, Outer):
        c.validator(spark)

    small = []
    for v in values:
        try:
            inst = Outer(inner={"s": v})
            small.append((True, inst.inner.s if hasattr(inst.inner, "s") else None, []))
        except ModelValidationError as e:
            small.append(
                (False, None, sorted({err.constraint for err in e.errors}))
            )
        except AttributeError:
            small.append((True, None, []))

    schema = T.StructType(
        [
            T.StructField("i", T.LongType(), False),
            T.StructField(
                "inner",
                T.StructType([T.StructField("s", T.StringType(), True)]),
                True,
            ),
        ]
    )
    df = spark.createDataFrame(
        [(i, (v,)) for i, v in enumerate(values)], schema
    )
    rows = sorted(Outer.validate_df(df).collect(), key=lambda r: r["i"])
    big = [
        (
            bool(r["valid"]),
            r["inner"]["s"] if r["inner"] is not None else None,
            sorted({x["constraint_name"] for x in r["violations"]}),
        )
        for r in rows
    ]
    cfg = f"cfg=({mode},{tname},{rname}) spec={f}"
    for v, (ok_s, val_s, errs_s), (ok_b, val_b, errs_b) in zip(values, small, big):
        assert ok_s == ok_b, f"valid mismatch for {v!r}: {ok_s} vs {ok_b}; {cfg}"
        assert errs_s == errs_b, f"verdicts for {v!r}: {errs_s} vs {errs_b}; {cfg}"
        if ok_s:
            assert val_s == val_b, f"value for {v!r}: {val_s!r} vs {val_b!r}; {cfg}"


# --- duplicated-span removal vs a pure-Python oracle ----------------------

_span_corpus = st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc"]), min_size=0, max_size=10),
    min_size=1,
    max_size=6,
)


def _py_remove_spans(docs: list, n: int) -> dict:
    """Pure-Python ExactSubstr-removal oracle: winner per gram =
    lexicographically smallest (id, pos); losing occurrences cover
    their n token positions."""
    occ = []
    for i, toks in enumerate(docs):
        for p in range(max(len(toks) - n + 1, 0)):
            occ.append((i, p, tuple(toks[p : p + n])))
    from collections import Counter, defaultdict

    cnt = Counter(g for _, _, g in occ)
    winner: dict = {}
    for i, p, g in sorted(occ):
        winner.setdefault(g, (i, p))
    covered = defaultdict(set)
    for i, p, g in occ:
        if cnt[g] >= 2 and winner[g] != (i, p):
            covered[i].update(range(p, p + n))
    out = {}
    for i, toks in enumerate(docs):
        kept = [t for j, t in enumerate(toks) if j not in covered[i]]
        out[i] = (len(toks), len(toks) - len(kept), " ".join(kept))
    return out


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=_span_corpus)
def test_remove_duplicated_spans_matches_python_oracle(spark, docs):
    from satya_spark.functions.dedup import remove_duplicated_spans

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["text_dedup"])
        for r in remove_duplicated_spans(df, n=3).collect()
    }
    assert got == _py_remove_spans(docs, 3)


# --- dup_clusters vs pure-Python union-find ------------------------------

_edge_lists = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(
        lambda e: e[0] != e[1]
    ),
    min_size=1,
    max_size=60,
)


def _py_components(edges):
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=_edge_lists)
def test_dup_clusters_matches_union_find(spark, edges):
    from satya_spark.functions.dedup import dup_clusters

    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: r["cluster_id"] for r in dup_clusters(df).collect()
    }
    assert got == _py_components(edges)


# --- cap_per_group vs pure-Python top-n ----------------------------------

_cap_rows = st.lists(
    st.tuples(st.integers(0, 400), st.sampled_from(["a", "b", "c", "hot"])),
    min_size=1,
    max_size=120,
    unique_by=lambda r: r[0],
)


def _py_cap(rows, n, seed="cap"):
    import hashlib

    def pri(doc_id):
        h = hashlib.md5((seed + str(doc_id)).encode()).hexdigest()
        return int(h[:15], 16)

    out = {}
    by_group: dict = {}
    for doc_id, grp in rows:
        by_group.setdefault(grp, []).append(doc_id)
    for grp, ids in by_group.items():
        for rk, doc_id in enumerate(
            sorted(ids, key=lambda i: (pri(i), i))[:n], start=1
        ):
            out[doc_id] = (grp, rk)
    return out


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_cap_rows, n=st.integers(1, 6))
def test_cap_per_group_matches_python_oracle(spark, rows, n):
    from satya_spark.functions.mix import cap_per_group

    df = spark.createDataFrame(
        [(int(i), f"text {i}", "en", g) for i, g in rows],
        "doc_id long, text string, lang string, source string",
    )
    got = {
        r["doc_id"]: (r["source"], r["rk"])
        for r in cap_per_group(df, group_col="source", n=n).collect()
    }
    assert got == _py_cap(rows, n)
