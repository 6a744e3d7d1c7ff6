"""Web-parameter preset surface (reference src/satya/web.py:14-272).

Facade semantics are pinned against the reference's own behavior,
including its deltas from the core validator (raw min_length,
left-anchored re.match pattern, prefix-only url, unenforced uuid).
The columnar path's Spark/DuckDB agreement is gated end-to-end by the
``web_params`` oracle query; here we pin facade/columnar agreement on
a small frame.
"""

import pytest

from satya_spark import web


def test_required_and_default():
    q = web.QueryParam(10, ge=0)
    assert q.validate(None) == 10  # default applied
    r = web.QueryParam(ge=0)
    with pytest.raises(ValueError, match="Query parameter is required"):
        r.validate(None)


def test_path_param_rejects_default_and_is_required():
    with pytest.raises(ValueError, match="cannot have default"):
        web.PathParam(5)
    p = web.PathParam(pattern=r"c[0-9]+")
    assert p.required and p.param_type == "path"


def test_string_checks_web_semantics():
    # RAW min_length: "  a  " is 5 chars → passes min_length=3 even
    # though the core validator would trim to 1 and fail
    s = web.QueryParam(None, min_length=3, max_length=6)
    assert s.validate("  a  ") == "  a  "
    with pytest.raises(ValueError, match="at least 3"):
        s.validate("ab")
    with pytest.raises(ValueError, match="at most 6"):
        s.validate("abcdefg")
    # left-anchored re.match: trailing junk passes without a $ anchor
    pat = web.QueryParam(None, pattern=r"c[0-9]+")
    assert pat.validate("c12junk") == "c12junk"
    with pytest.raises(ValueError, match="does not match"):
        pat.validate("x c12")
    # url is a bare prefix check (weaker than the core URL regex)
    u = web.QueryParam(None, url=True)
    assert u.validate("https://ok") == "https://ok"
    with pytest.raises(ValueError, match="Invalid URL"):
        u.validate("ftp://nope")


def test_numeric_checks_skip_bools():
    n = web.QueryParam(None, ge=0, lt=10)
    assert n.validate(0) == 0 and n.validate(9.5) == 9.5
    with pytest.raises(ValueError, match=">= 0"):
        n.validate(-1)
    with pytest.raises(ValueError, match="< 10"):
        n.validate(10)
    # bool is not a number in the reference's check (web.py:134)
    assert n.validate(True) is True


def test_array_enum_and_custom_validators():
    a = web.QueryParam(None, min_items=1, max_items=2, unique_items=True)
    assert a.validate(["x"]) == ["x"]
    with pytest.raises(ValueError, match="at most 2"):
        a.validate(["x", "y", "z"])
    with pytest.raises(ValueError, match="unique"):
        a.validate(["x", "x"])
    e = web.HeaderParam(None, enum=["a", "b"])
    with pytest.raises(ValueError, match="one of"):
        e.validate("c")
    v = web.QueryParam(None, validators=[lambda x: x.upper()])
    assert v.validate("ok") == "OK"


def test_header_alias_quirk_and_aliases():
    # the reference derives the alias from the DEFAULT value (not the
    # name) when it is a string — web.py:236-238, mirrored verbatim
    h = web.HeaderParam("x_trace_id")
    assert h.alias == "X-Trace-Id"
    assert web.Query is web.QueryParam and web.Form is web.FormField
    assert web.Path is web.PathParam and web.Cookie is web.CookieParam


def test_json_schema_mapping():
    q = web.QueryParam(
        None, ge=1, lt=5, pattern="ab+", uuid=True, description="d",
        min_items=1, unique_items=True, enum=["a"], deprecated=True,
    )
    s = q.to_json_schema()
    assert s["minimum"] == 1 and s["exclusiveMaximum"] == 5
    assert s["pattern"] == "ab+" and s["format"] == "uuid"
    assert s["minItems"] == 1 and s["uniqueItems"] is True
    assert s["enum"] == ["a"] and s["deprecated"] is True
    # uuid is schema-only: validate() never enforces it (reference
    # web.py checks email/url/pattern but not uuid)
    u = web.QueryParam(None, uuid=True)
    assert u.validate("not-a-uuid") == "not-a-uuid"


def test_to_field_spec_bridge():
    f = web.QueryParam(None, ge=2, enum=["a", "b"], min_length=1).to_field_spec(
        "col", dtype="string"
    )
    assert f.name == "col" and f.ge == 2 and f.enum == ("a", "b")
    assert not f.required


def test_columnar_rejects_callable_validators(spark):
    df = spark.createDataFrame([("x",)], ["p"])
    params = {"p": web.QueryParam(None, validators=[lambda x: x])}
    with pytest.raises(ValueError, match="facade-only"):
        web.violations_df(df, params, [])


def test_columnar_matches_facade(spark):
    """Every violation the facade raises appears as a columnar row
    and vice versa, per (param, constraint)."""
    params = {
        "uid": web.PathParam(pattern=r"u[0-9]{2,}"),
        "limit": web.QueryParam(ge=0, le=100),
        "mail": web.FormField(None, email=True),
        "tags": web.QueryParam(None, min_items=1, unique_items=True),
    }
    rows = [
        ("u12", 5, "a@b.co", ["x", "y"]),      # clean
        ("u1", -3, "bad", ["x", "x"]),          # pattern, ge, email, unique
        (None, None, None, None),                # required ×2 (uid, limit)
        ("u99", 200, None, []),                  # le, min_items
    ]
    df = spark.createDataFrame(
        rows, "uid string, limit int, mail string, tags array<string>"
    )
    got = {
        (r["uid"], r["limit"], r["param"], r["constraint_name"])
        for r in web.violations_df(df, params, ["uid", "limit"]).collect()
    }
    expected = set()
    for uid, limit, mail, tags in rows:
        for pname, value in [("uid", uid), ("limit", limit),
                             ("mail", mail), ("tags", tags)]:
            try:
                params[pname].validate(value)
            except ValueError as e:
                cname = {
                    "required": "required", "pattern": "pattern",
                    ">=": "ge", "<=": "le", "email": "email",
                    "at least 1 items": "min_items", "unique": "unique_items",
                }[next(k for k in ["required", "pattern", ">=", "<=",
                                   "email", "at least 1 items", "unique"]
                       if k in str(e))]
                expected.add((uid, limit, pname, cname))
    assert got == expected and len(got) >= 7


def test_out_of_range_offending_value_is_null_on_both_engines(spark):
    """Under ANSI mode a plain CAST(1e30 AS DECIMAL(28,6)) aborts the
    job. Offending values use TRY_CAST, so the 1e30 violation renders
    NULL in Spark and in the DuckDB twin, and the in-range violation
    next to it keeps its decimal text."""
    import duckdb

    params = {"score": web.QueryParam(None, le=100.0)}
    data = [(0, 1e30), (1, 200.0), (2, 5.0)]
    df = spark.createDataFrame(data, "i int, score double")
    spark_rows = sorted(
        (r["i"], r["constraint_name"], r["offending_value"])
        for r in web.violations_df(df, params, ["i"]).collect()
    )
    assert spark_rows == [(0, "le", None), (1, "le", "200.000000")]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INT, score DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", data)
    sql = web.violations_sql("t", params, ["i"], dtypes=dict(df.dtypes))
    duck_rows = sorted(
        (i, c, v) for i, _loc, _p, c, v in con.execute(sql).fetchall()
    )
    assert duck_rows == spark_rows
