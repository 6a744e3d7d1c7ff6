"""Web-framework parameter presets — satya's web surface, Spark-first.

Reference surface: ``src/satya/web.py:14-272`` — ``QueryParam`` /
``PathParam`` / ``HeaderParam`` / ``CookieParam`` / ``FormField`` /
``Body`` (+ ``Query``/``Path``/``Header``/``Cookie``/``Form``
aliases), each carrying the same constraint kwargs as ``Field`` and
exposing ``validate(value)`` + ``to_json_schema()``.

Two paths here:

* **facade** — ``WebParam.validate(value)`` mirrors the reference's
  per-value semantics verbatim (``src/satya/web.py:107-162``),
  including its deltas from the core validator: ``min_length`` on the
  RAW string (the core trims first, ``src/satya/validator.py:226``),
  ``pattern`` via ``re.match`` (left-anchored only; the core requires
  explicit anchors), ``email`` with no 254-char cap, ``url`` as a bare
  http(s) prefix check, and ``uuid`` recorded in the JSON schema but
  never enforced (the reference never checks it).
* **columnar** — :func:`violations_df` validates a DataFrame of
  request logs (one column per parameter) with the same web
  semantics as vectorized Column predicates, and
  :func:`violations_sql` emits the DuckDB twin for differential
  checking. This is the 100 TB path: an HTTP handler validates one
  request; an analytics engine validates a year of access logs.

``to_field_spec()`` bridges a param onto the core engine
(:mod:`satya_spark.spec`) for users who want the full kernel battery;
note the semantic deltas above apply in reverse.
"""

from __future__ import annotations

import re
from typing import Any, Callable, List, Mapping, Optional, Pattern, Sequence, Tuple, Union

from .spec import FieldSpec

# the reference's own email regex (src/satya/web.py:126) — identical
# to the core EMAIL_PATTERN but applied WITHOUT the 254-char cap
WEB_EMAIL_PATTERN = r"^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}$"

_NUM_KEYS = ("ge", "le", "gt", "lt")
_STR_KEYS = ("min_length", "max_length")
_ARR_KEYS = ("min_items", "max_items")


class WebParam:
    """Base web parameter (``src/satya/web.py:50-105``). ``default=...``
    (Ellipsis) marks the parameter required, exactly like the
    reference."""

    param_type = "query"

    def __init__(
        self,
        default: Any = ...,
        *,
        alias: Optional[str] = None,
        description: Optional[str] = None,
        example: Optional[Any] = None,
        deprecated: bool = False,
        include_in_schema: bool = True,
        ge: Optional[Union[int, float]] = None,
        le: Optional[Union[int, float]] = None,
        gt: Optional[Union[int, float]] = None,
        lt: Optional[Union[int, float]] = None,
        min_length: Optional[int] = None,
        max_length: Optional[int] = None,
        pattern: Optional[Union[str, Pattern]] = None,
        regex: Optional[Union[str, Pattern]] = None,
        email: bool = False,
        url: bool = False,
        uuid: bool = False,
        min_items: Optional[int] = None,
        max_items: Optional[int] = None,
        unique_items: bool = False,
        enum: Optional[Sequence[Any]] = None,
        validators: Optional[List[Callable]] = None,
    ):
        self.default = default
        self.required = default is ...
        self.alias = alias
        self.description = description
        self.example = example
        self.deprecated = deprecated
        self.include_in_schema = include_in_schema
        self.ge, self.le, self.gt, self.lt = ge, le, gt, lt
        self.min_length, self.max_length = min_length, max_length
        # pattern wins over regex when both given (web.py:96)
        self.pattern = pattern or regex
        self.email, self.url, self.uuid = email, url, uuid
        self.min_items, self.max_items = min_items, max_items
        self.unique_items = unique_items
        self.enum = list(enum) if enum is not None else None
        self.validators = list(validators) if validators else []

    # -- facade: per-value validation (web.py:107-162) -----------------

    def _pattern_str(self) -> Optional[str]:
        if self.pattern is None:
            return None
        return self.pattern if isinstance(self.pattern, str) else self.pattern.pattern

    def validate(self, value: Any) -> Any:
        """Validate and coerce one value — reference semantics
        verbatim, including which checks apply to which runtime types
        (string checks only on str, numeric only on non-bool numbers,
        array checks only on list) and the check ORDER."""
        if value is None:
            if self.required:
                raise ValueError(
                    f"{self.param_type.title()} parameter is required"
                )
            return self.default
        if isinstance(value, str):
            if self.min_length is not None and len(value) < self.min_length:
                raise ValueError(
                    f"String must be at least {self.min_length} characters"
                )
            if self.max_length is not None and len(value) > self.max_length:
                raise ValueError(
                    f"String must be at most {self.max_length} characters"
                )
            pat = self._pattern_str()
            if pat is not None and not re.match(pat, value):
                raise ValueError(f"String does not match pattern: {pat}")
            if self.email and not re.match(WEB_EMAIL_PATTERN, value):
                raise ValueError("Invalid email format")
            if self.url and not (
                value.startswith("http://") or value.startswith("https://")
            ):
                raise ValueError("Invalid URL format")
        if isinstance(value, (int, float)) and not isinstance(value, bool):
            if self.ge is not None and value < self.ge:
                raise ValueError(f"Value must be >= {self.ge}")
            if self.le is not None and value > self.le:
                raise ValueError(f"Value must be <= {self.le}")
            if self.gt is not None and value <= self.gt:
                raise ValueError(f"Value must be > {self.gt}")
            if self.lt is not None and value >= self.lt:
                raise ValueError(f"Value must be < {self.lt}")
        if isinstance(value, list):
            if self.min_items is not None and len(value) < self.min_items:
                raise ValueError(
                    f"Array must have at least {self.min_items} items"
                )
            if self.max_items is not None and len(value) > self.max_items:
                raise ValueError(
                    f"Array must have at most {self.max_items} items"
                )
            if self.unique_items and len(set(value)) != len(value):
                raise ValueError("Array items must be unique")
        if self.enum is not None and value not in self.enum:
            raise ValueError(f"Value must be one of: {self.enum}")
        for validator in self.validators:
            value = validator(value)
        return value

    # -- JSON schema (web.py:163-206) ----------------------------------

    def to_json_schema(self) -> dict:
        schema: dict = {}
        if self.description:
            schema["description"] = self.description
        if self.example is not None:
            schema["example"] = self.example
        if self.deprecated:
            schema["deprecated"] = True
        if self.ge is not None:
            schema["minimum"] = self.ge
        if self.le is not None:
            schema["maximum"] = self.le
        if self.gt is not None:
            schema["exclusiveMinimum"] = self.gt
        if self.lt is not None:
            schema["exclusiveMaximum"] = self.lt
        if self.min_length is not None:
            schema["minLength"] = self.min_length
        if self.max_length is not None:
            schema["maxLength"] = self.max_length
        pat = self._pattern_str()
        if pat is not None:
            schema["pattern"] = pat
        if self.email:
            schema["format"] = "email"
        if self.url:
            schema["format"] = "uri"
        if self.uuid:
            schema["format"] = "uuid"
        if self.min_items is not None:
            schema["minItems"] = self.min_items
        if self.max_items is not None:
            schema["maxItems"] = self.max_items
        if self.unique_items:
            schema["uniqueItems"] = True
        if self.enum is not None:
            schema["enum"] = self.enum
        return schema

    # -- bridge to the core engine --------------------------------------

    def to_field_spec(self, name: str, dtype: str = "string") -> FieldSpec:
        """Project this param onto a core :class:`FieldSpec` (full
        kernel battery, satya-validator semantics — trimmed
        min_length, anchored pattern, capped email; see module
        docstring for the deltas)."""
        return FieldSpec(
            name=name,
            dtype=dtype,
            required=self.required,
            min_length=self.min_length,
            max_length=self.max_length,
            pattern=self._pattern_str(),
            email=self.email,
            url=self.url,
            enum=tuple(self.enum) if self.enum is not None else None,
            ge=self.ge,
            le=self.le,
            gt=self.gt,
            lt=self.lt,
            min_items=self.min_items,
            max_items=self.max_items,
            unique_items=self.unique_items,
            alias=self.alias,
        )

    # -- columnar rules (shared by violations_df / violations_sql) ------

    def _rules(self, name: str, dtype: str) -> List[Tuple[str, Any, str]]:
        """(constraint_name, spark_fail_thunk, duckdb_fail_sql) per
        active constraint, web semantics. ``dtype`` is the column's
        Spark type category: 'string' | 'numeric' | 'array<...>'.
        Value rules are null-safe (None short-circuits, web.py:112).
        The Spark side is a zero-arg thunk so SQL generation (the
        DuckDB oracle path) never touches the JVM — same laziness
        contract as compiler.Rule."""
        if self.validators:
            raise ValueError(
                "custom callable validators are facade-only; the columnar"
                " path runs JVM-side (declare a pattern/enum instead, or"
                " use validators.apply_validators_df for the pandas-UDF"
                " scale route)"
            )
        rules: List[Tuple[str, Any, str]] = []

        def col():
            from pyspark.sql import functions as F

            return F.col(name)

        if self.required:
            rules.append(("required", lambda: col().isNull(), f"{name} IS NULL"))
        if dtype == "string":
            if self.min_length is not None:
                # RAW length — web.py:117 (core trims first)
                n = self.min_length
                rules.append((
                    "min_length",
                    lambda n=n: _F().length(col()) < n,
                    f"length({name}) < {n}",
                ))
            if self.max_length is not None:
                n = self.max_length
                rules.append((
                    "max_length",
                    lambda n=n: _F().length(col()) > n,
                    f"length({name}) > {n}",
                ))
            pat = self._pattern_str()
            if pat is not None:
                # re.match = left-anchored search (web.py:121-124)
                anchored = f"^(?:{pat})"
                rules.append((
                    "pattern",
                    lambda a=anchored: ~col().rlike(a),
                    f"NOT regexp_matches({name}, '{anchored}')",
                ))
            if self.email:
                rules.append((
                    "email",
                    lambda: ~col().rlike(WEB_EMAIL_PATTERN),
                    f"NOT regexp_matches({name}, '{WEB_EMAIL_PATTERN}')",
                ))
            if self.url:
                rules.append((
                    "url",
                    lambda: ~(
                        col().startswith("http://")
                        | col().startswith("https://")
                    ),
                    f"NOT ({name} LIKE 'http://%' OR {name} LIKE 'https://%')",
                ))
        if dtype == "numeric":
            for key, op, sql_op in (
                ("ge", "__lt__", "<"),
                ("le", "__gt__", ">"),
                ("gt", "__le__", "<="),
                ("lt", "__ge__", ">="),
            ):
                bound = getattr(self, key)
                if bound is not None:
                    rules.append((
                        key,
                        lambda op=op, b=bound: getattr(col(), op)(b),
                        f"{name} {sql_op} {bound}",
                    ))
        if dtype.startswith("array"):
            if self.min_items is not None:
                n = self.min_items
                rules.append((
                    "min_items",
                    lambda n=n: _F().size(col()) < n,
                    f"len({name}) < {n}",
                ))
            if self.max_items is not None:
                n = self.max_items
                rules.append((
                    "max_items",
                    lambda n=n: _F().size(col()) > n,
                    f"len({name}) > {n}",
                ))
            if self.unique_items:
                rules.append((
                    "unique_items",
                    lambda: _F().size(_F().array_distinct(col()))
                    != _F().size(col()),
                    f"len(list_distinct({name})) <> len({name})",
                ))
        if self.enum is not None and not dtype.startswith("array"):
            quoted = ", ".join(f"'{v}'" for v in self.enum)
            rules.append((
                "enum",
                lambda: ~col().isin(list(self.enum)),
                f"{name} NOT IN ({quoted})",
            ))
        # null-safe wrap: value rules never fire on NULL (required
        # handles NULL); Spark three-valued logic already yields NULL
        # (not true) for most, but be explicit so both dialects agree
        out: List[Tuple[str, Any, str]] = []
        for cname, fail_fn, sql in rules:
            if cname == "required":
                out.append((cname, fail_fn, sql))
            else:
                out.append((
                    cname,
                    lambda f=fail_fn: col().isNotNull() & f(),
                    f"({name} IS NOT NULL AND ({sql}))",
                ))
        return out


class QueryParam(WebParam):
    """Query parameter, e.g. ``?limit=10`` (web.py:209-214)."""

    param_type = "query"


class PathParam(WebParam):
    """Path parameter, e.g. ``/users/{user_id}`` — always required,
    defaults are rejected (web.py:217-225)."""

    param_type = "path"

    def __init__(self, default: Any = ..., **kwargs: Any):
        if default is not ...:
            raise ValueError("Path parameters cannot have default values")
        super().__init__(default, **kwargs)
        self.required = True


class HeaderParam(WebParam):
    """Header parameter (web.py:228-238). Mirrors the reference's
    alias quirk verbatim: when unaliased and the DEFAULT is a string,
    the alias is derived from the default value (``x_trace`` →
    ``X-Trace``) — reference web.py:236-238 uses ``default``, not the
    parameter name."""

    param_type = "header"

    def __init__(self, default: Any = ..., **kwargs: Any):
        super().__init__(default, **kwargs)
        if self.alias is None and isinstance(default, str):
            self.alias = default.replace("_", "-").title()


class CookieParam(WebParam):
    """Cookie parameter (web.py:241-246)."""

    param_type = "cookie"


class FormField(WebParam):
    """Form field (urlencoded / multipart) (web.py:249-254)."""

    param_type = "form"


class Body(WebParam):
    """Request body parameter (web.py:257-262)."""

    param_type = "body"


# convenience aliases (web.py:265-270)
Query = QueryParam
Path = PathParam
Header = HeaderParam
Cookie = CookieParam
Form = FormField


# --- columnar path ----------------------------------------------------------


def _dtype_category(spark_type: str) -> str:
    t = spark_type.lower()
    if t.startswith("array"):
        return t
    if t in ("int", "integer", "bigint", "long", "double", "float", "decimal",
             "smallint", "tinyint") or t.startswith("decimal"):
        return "numeric"
    return "string"


def _F():
    from pyspark.sql import functions as F

    return F


def _offending(name: str, cat: str) -> Tuple[Any, str]:
    """Engine-portable string rendering of the offending value (same
    conventions as compiler.off_fns: DECIMAL(28,6) for floats,
    comma-join for string arrays). Spark side is a thunk — see
    _rules on laziness. TRY_CAST on both engines: under ANSI mode a
    plain cast of one |x| >= 1e22 value aborts the whole job; an
    unrepresentable value renders NULL instead."""
    if cat.startswith("array"):
        return (
            lambda: _F().concat_ws(",", _F().col(name)),
            f"array_to_string({name}, ',')",
        )
    if cat == "numeric":
        return (
            lambda: _F().col(name).try_cast("decimal(28,6)").cast("string"),
            f"CAST(TRY_CAST({name} AS DECIMAL(28,6)) AS VARCHAR)",
        )
    return (
        lambda: _F().col(name).cast("string"),
        f"CAST({name} AS VARCHAR)",
    )


def violations_df(df, params: Mapping[str, WebParam], key_cols: Sequence[str]):
    """Violation rows (key cols, location, param, constraint_name,
    offending_value) for a request-log DataFrame with one column per
    declared parameter — web semantics, all JVM-side: one projection
    building an array of violation structs, one filter, one explode.
    Zero shuffles; scales as a pure map over the scan."""
    from pyspark.sql import functions as F

    spark_types = dict(df.dtypes)
    structs = []
    for pname, p in params.items():
        cat = _dtype_category(spark_types[pname])
        off_fn, _ = _offending(pname, cat)
        for cname, fail_fn, _sql in p._rules(pname, cat):
            structs.append(
                F.when(
                    fail_fn(),
                    F.struct(
                        F.lit(p.param_type).alias("location"),
                        F.lit(pname).alias("param"),
                        F.lit(cname).alias("constraint_name"),
                        (
                            F.lit(None).cast("string")
                            if cname == "required"
                            else off_fn()
                        ).alias("offending_value"),
                    ),
                )
            )
    arr = F.filter(F.array(*structs), lambda x: x.isNotNull())
    return (
        df.select(*key_cols, F.explode(arr).alias("v"))
        .select(*key_cols, "v.*")
    )


def violations_sql(
    table: str,
    params: Mapping[str, WebParam],
    key_cols: Sequence[str],
    dtypes: Optional[Mapping[str, str]] = None,
) -> str:
    """DuckDB twin of :func:`violations_df` (UNION ALL, one SELECT per
    active constraint) for differential checking. ``dtypes`` maps
    param name → Spark type string (pass ``dict(df.dtypes)`` from the
    Spark side so both dialects categorize columns identically);
    without it, the category is inferred from which constraints are
    set (numeric bounds → numeric, item rules → array)."""
    keys = ", ".join(key_cols)
    parts = []
    for pname, p in params.items():
        if dtypes is not None:
            cat = _dtype_category(dtypes[pname])
        elif any(getattr(p, k) is not None for k in _NUM_KEYS):
            cat = "numeric"
        elif any(getattr(p, k) is not None for k in _ARR_KEYS) or p.unique_items:
            cat = "array<string>"
        else:
            cat = "string"
        _, off_sql = _offending(pname, cat)
        for cname, _fail, sql in p._rules(pname, cat):
            value = "CAST(NULL AS VARCHAR)" if cname == "required" else off_sql
            parts.append(
                f"SELECT {keys}, '{p.param_type}' AS location,"
                f" '{pname}' AS param, '{cname}' AS constraint_name,"
                f" {value} AS offending_value FROM {table} WHERE {sql}"
            )
    return " UNION ALL ".join(parts)
