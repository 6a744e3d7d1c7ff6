"""Spec → vectorized Spark expressions + DuckDB oracle SQL.

This is the analog of satya's validator compilation step
(``Model.validator()`` → ``BlazeValidatorPy.add_field /
set_constraints / compile``, reference ``src/satya/__init__.py:526-599``
and ``src/blaze_validator.rs:161-192``): the spec is compiled ONCE per
job into Catalyst ``Column`` expressions; Spark's whole-stage codegen
then plays the role of satya's Rust kernels (SURVEY.md §4). There is
no per-row Python anywhere on this path.

Every compiled rule also emits an equivalent DuckDB SQL *failure
predicate*, so the differential oracle (the analog of the reference's
Pydantic-compatibility suite, ``tests/test_pydantic_compatibility.py:
327-366``) is generated from the same single source of truth.

Column construction is LAZY (``fail`` / ``offending`` are properties
building the expression on access) so that SQL generation works
without a live SparkSession — the driver may call ``oracle_sql()``
standalone.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Callable, List

from .spec import (
    EMAIL_MAX_LEN,
    EMAIL_PATTERN,
    MULTIPLE_OF_EPS,
    URL_PATTERN,
    FieldSpec,
    TableSpec,
)


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _fmt_num(v) -> str:
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    return repr(float(v))


@dataclass(frozen=True)
class CompiledRule:
    """One (field, constraint) kernel.

    ``fail`` is a Spark Column that is TRUE exactly on violating rows
    (NULL-safe: value rules never fire on NULL input — reference
    semantics ``src/satya/validator.py:589-592``). ``fail_sql`` is the
    equivalent DuckDB predicate over the same column names.
    ``offending`` / ``offending_sql`` render the offending value as a
    string for the violation row (``ValidationError.value``,
    ``src/satya/__init__.py:20-48``). ``kind`` names the kernel family
    that built the rule: ``required``, ``string`` / ``numeric`` (scalar
    value rules), ``item`` (a scalar rule applied per array element or
    map value), ``container`` (``min_items`` / ``max_items`` /
    ``unique_items``), ``struct`` (struct-element rules) or ``row``.
    """

    field: str
    constraint: str
    fail_fn: Callable[[], "Column"]  # noqa: F821 - lazy pyspark import
    fail_sql: str
    offending_fn: Callable[[], "Column"]  # noqa: F821
    offending_sql: str
    kind: str = "row"

    @property
    def fail(self):
        return self.fail_fn()

    @property
    def offending(self):
        return self.offending_fn()


def compile_field(f: FieldSpec) -> List[CompiledRule]:
    """All kernels for one column, deterministic order (cheap-first
    mirrors the Blaze cost sort ``src/blaze_validator.rs:161-192``;
    order only affects violation-row ordering, treated as a set)."""
    name = f.name
    rules: List[CompiledRule] = []

    is_array = f.dtype.startswith("array")
    is_map = f.dtype.startswith("map")
    is_float = f.dtype in ("double", "float")
    # element type (array<X> → X; map<K,V> → V — dict-VALUE checks,
    # src/lib.rs:913-918)
    elem_type = ""
    if is_array or is_map:
        inner = f.dtype[f.dtype.index("<") + 1 : f.dtype.rindex(">")]
        elem_type = inner.split(",", 1)[1].strip() if is_map else inner.strip()

    def off_fns() -> tuple[Callable, str]:
        from pyspark.sql import functions as F

        if f.secret:
            # SecretStr: the offending value never leaves the engine
            # (src/satya/special_types.py SecretStr repr masking)
            from .spec import SECRET_MASK

            return lambda: F.lit(SECRET_MASK), f"'{SECRET_MASK}'"
        if is_array or is_map:
            # portable list rendering: 'a,b,c' in both engines (map →
            # its values, insertion-ordered in both). Non-string
            # elements go through element-wise CAST AS VARCHAR —
            # identical for ints/strings; float elements get the same
            # per-element DECIMAL(28,6) rendering as scalar floats
            # (CAST(double AS VARCHAR) formats differently across
            # engines — review r2).
            def _vals():
                c = F.col(name)
                return F.map_values(c) if is_map else c

            vals_sql = f"map_values({name})" if is_map else name
            if elem_type.startswith(("struct", "array", "map")):
                # struct/nested elements have no engine-portable string
                # rendering (Spark '{a, b}' vs DuckDB struct syntax) —
                # container-level violations carry a NULL value
                return (
                    lambda: F.lit(None).cast("string"),
                    "CAST(NULL AS VARCHAR)",
                )
            if elem_type == "string":
                return (
                    lambda: F.concat_ws(",", _vals()),
                    f"array_to_string({vals_sql}, ',')",
                )
            if elem_type in ("double", "float"):
                return (
                    lambda: F.concat_ws(
                        ",",
                        F.transform(
                            _vals(),
                            lambda x: x.try_cast("decimal(28,6)").cast("string"),
                        ),
                    ),
                    f"array_to_string(list_transform({vals_sql},"
                    f" x -> CAST(TRY_CAST(x AS DECIMAL(28,6)) AS VARCHAR)), ',')",
                )
            return (
                lambda: F.concat_ws(
                    ",", F.transform(_vals(), lambda x: x.cast("string"))
                ),
                f"array_to_string(list_transform({vals_sql},"
                f" x -> CAST(x AS VARCHAR)), ',')",
            )
        if is_float:
            # CAST(double AS STRING) formats differently across engines
            # (Java "1.0E9" vs DuckDB "1000000000.0"); use a fixed
            # decimal rendering for portability. TRY_CAST: under ANSI
            # mode a plain cast aborts the whole job on |x| >= 1e22;
            # such a value (and NaN/±inf) renders as NULL instead.
            return (
                lambda: F.col(name).try_cast("decimal(28,6)").cast("string"),
                f"CAST(TRY_CAST({name} AS DECIMAL(28,6)) AS VARCHAR)",
            )
        return lambda: F.col(name).cast("string"), f"CAST({name} AS VARCHAR)"

    offending_fn, offending_sql = off_fns()

    def add(constraint: str, ok_fn: Callable, ok_sql: str, kind: str) -> None:
        from pyspark.sql import functions as F

        rules.append(
            CompiledRule(
                field=name,
                constraint=constraint,
                fail_fn=lambda: F.col(name).isNotNull() & ~ok_fn(),
                fail_sql=f"({name} IS NOT NULL AND NOT ({ok_sql}))",
                offending_fn=offending_fn,
                offending_sql=offending_sql,
                kind=kind,
            )
        )

    if f.required:
        # dotted path (nested-model struct field, model.py facade): a
        # null PARENT struct already fires the parent's own required
        # rule; the inner required fires only when the parent is
        # present but the inner field is null — otherwise one missing
        # struct would cascade a violation per inner field (the
        # reference reports the missing parent once,
        # src/satya/validator.py:310-374)
        parent = name.rsplit(".", 1)[0] if "." in name else None

        def _req_fail(parent=parent):
            from pyspark.sql import functions as F

            if parent is not None:
                return F.col(parent).isNotNull() & F.col(name).isNull()
            return F.col(name).isNull()

        def _req_off():
            from pyspark.sql import functions as F

            return F.lit(None).cast("string")

        req_sql = (
            f"({parent} IS NOT NULL AND {name} IS NULL)"
            if parent is not None
            else f"({name} IS NULL)"
        )
        rules.append(
            CompiledRule(
                field=name,
                constraint="required",
                fail_fn=_req_fail,
                fail_sql=req_sql,
                offending_fn=_req_off,
                offending_sql="CAST(NULL AS VARCHAR)",
                kind="required",
            )
        )

    def FN():
        from pyspark.sql import functions as F

        return F

    if (is_array or is_map) and f.item_fields:
        # List[Model] / Dict[str, Model] composition: per-element
        # STRUCT field rules (see _struct_item_rules)
        rules.extend(_struct_item_rules(f))

    if (is_array or is_map) and not f.item_fields and not elem_type.startswith(
        "struct"
    ):
        # --- per-item / map-value kernels ------------------------------
        # The reference validates every list item and every dict VALUE
        # against the field's own scalar constraints, recursively
        # (src/lib.rs:874-918, exercised by
        # tests/test_field_constraints.py:198-231). Same here: scalar
        # constraints declared on an array/map field apply per element;
        # container constraints (min/max_items, unique_items) below.
        # NULL elements skip value rules, consistent with §2.2.
        #
        # Codegen note: numeric bounds compile to array_min/array_max
        # comparisons (whole-stage codegen). String/regex per-item
        # rules need F.forall — a CodegenFallback HOF that costs the
        # enclosing projection its WSCG fusion — so specs that use
        # them pay that only for themselves; the flagship transcript
        # spec stays HOF-free (asserted in tests/test_engine.py).
        def _vals():
            F = FN()
            c = F.col(name)
            return F.map_values(c) if is_map else c

        vals_sql = f"map_values({name})" if is_map else name

        def add_item(cname: str, pred_fn: Callable, pred_sql: str) -> None:
            """pred_fn: element Column -> ok Column (non-null input);
            pred_sql: the same over lambda var ``x``."""
            add(
                cname,
                lambda pred_fn=pred_fn: FN().forall(
                    _vals(), lambda x: x.isNull() | pred_fn(x)
                ),
                f"len(list_filter({vals_sql},"
                f" x -> x IS NOT NULL AND NOT ({pred_sql}))) = 0",
                "item",
            )

        if f.min_length is not None:
            n, ws = f.min_length, " \t\n\r\x0b\x0c"
            add_item(
                "min_length",
                lambda x, n=n, ws=ws: FN().length(FN().trim(x, FN().lit(ws))) >= n,
                f"length(trim(x, ' ' || chr(9) || chr(10) || chr(13)"
                f" || chr(11) || chr(12))) >= {n}",
            )
        if f.max_length is not None:
            n = f.max_length
            add_item(
                "max_length",
                lambda x, n=n: FN().length(x) <= n,
                f"length(x) <= {n}",
            )
        if f.pattern is not None:
            p = f.pattern
            add_item(
                "pattern",
                lambda x, p=p: x.rlike(p),
                f"regexp_matches(x, {_sql_quote(p)})",
            )
        if f.email:
            add_item(
                "email",
                lambda x: x.rlike(EMAIL_PATTERN)
                & (FN().length(x) <= EMAIL_MAX_LEN),
                f"(regexp_matches(x, {_sql_quote(EMAIL_PATTERN)})"
                f" AND length(x) <= {EMAIL_MAX_LEN})",
            )
        if f.url:
            add_item(
                "url",
                lambda x: x.rlike(URL_PATTERN),
                f"regexp_matches(x, {_sql_quote(URL_PATTERN)})",
            )
        if f.enum is not None:
            vals_lit = ", ".join(_sql_quote(v) for v in f.enum)
            enum = f.enum
            add_item(
                "enum",
                lambda x, enum=enum: x.isin(*enum),
                f"x IN ({vals_lit})",
            )
        # numeric bounds: min/max over elements — pure codegen, no HOF
        # (array_min/array_max and DuckDB list_aggregate both skip
        # NULL elements; empty/all-null arrays yield NULL → no fire)
        for cname, op_sql in (
            ("ge", ">="),
            ("le", "<="),
            ("gt", ">"),
            ("lt", "<"),
            ("min_value", ">="),
            ("max_value", "<="),
        ):
            v = getattr(f, cname)
            if v is not None:
                agg = "min" if op_sql in (">=", ">") else "max"

                def _icmp(v=v, op=op_sql, agg=agg):
                    F = FN()
                    m = F.array_min(_vals()) if agg == "min" else F.array_max(_vals())
                    return {
                        ">=": m >= F.lit(v),
                        "<=": m <= F.lit(v),
                        ">": m > F.lit(v),
                        "<": m < F.lit(v),
                    }[op]

                add(
                    cname,
                    _icmp,
                    f"list_aggregate({vals_sql}, '{agg}') {op_sql} {_fmt_num(v)}",
                    "item",
                )
        if f.multiple_of is not None:
            m = f.multiple_of
            if elem_type in ("double", "float") or float(m) != int(m):
                # ε-tolerant float modulo per item — same semantics as
                # the scalar path (truncating the step would validate
                # the wrong constraint for fractional steps)
                def _imof(x, m=m):
                    F = FN()
                    r = F.abs(x % F.lit(m))
                    return (r < MULTIPLE_OF_EPS) | (
                        F.abs(r - F.lit(m)) < MULTIPLE_OF_EPS
                    )

                add_item(
                    "multiple_of",
                    _imof,
                    f"(abs(fmod(x, {_fmt_num(m)})) < {MULTIPLE_OF_EPS!r}"
                    f" OR abs(abs(fmod(x, {_fmt_num(m)})) - {_fmt_num(m)})"
                    f" < {MULTIPLE_OF_EPS!r})",
                )
            else:
                mi = int(m)
                add_item(
                    "multiple_of",
                    lambda x, mi=mi: (x % mi) == 0,
                    f"(x % {mi}) = 0",
                )

    # --- string kernels ---------------------------------------------
    if f.min_length is not None and not (is_array or is_map):
        n = f.min_length
        # trimmed min_length (src/satya/validator.py:226-229). The
        # reference trims with Python str.strip(); SQL trim() strips
        # spaces only, so both dialects trim the ASCII-whitespace
        # char set explicitly (\t/\n-only strings must fail). A
        # regexp strip would be exact for unicode whitespace too but
        # costs 3.3x on the kernel stage (measured); satya's test
        # corpus is ASCII whitespace.
        ws = " \t\n\r\x0b\x0c"
        add(
            "min_length",
            lambda n=n, ws=ws: FN().length(FN().trim(FN().col(name), FN().lit(ws)))
            >= n,
            f"length(trim({name}, ' ' || chr(9) || chr(10) || chr(13)"
            f" || chr(11) || chr(12))) >= {n}",
            "string",
        )
    if f.max_length is not None and not (is_array or is_map):
        n = f.max_length
        add(
            "max_length",
            lambda n=n: FN().length(FN().col(name)) <= n,
            f"length({name}) <= {n}",
            "string",
        )
    if f.pattern is not None and not (is_array or is_map):
        p = f.pattern
        # NB: rlike stays — a substring/translate specialization of
        # linear char-class patterns was measured SLOWER (0.58 s vs
        # 0.42 s on 3.4 M rows for the two flagship patterns):
        # java.util.regex is already cheap on short anchored
        # non-backtracking patterns, and the specialized form pays
        # more UTF8String allocations. See BENCH.md "negative results".
        add(
            "pattern",
            lambda p=p: FN().col(name).rlike(p),
            f"regexp_matches({name}, {_sql_quote(p)})",
            "string",
        )
    if f.email and not (is_array or is_map):
        # regex + max length 254 (src/lib.rs:947-969)
        add(
            "email",
            lambda: FN().col(name).rlike(EMAIL_PATTERN)
            & (FN().length(FN().col(name)) <= EMAIL_MAX_LEN),
            f"(regexp_matches({name}, {_sql_quote(EMAIL_PATTERN)})"
            f" AND length({name}) <= {EMAIL_MAX_LEN})",
            "string",
        )
    if f.url and not (is_array or is_map):
        add(
            "url",
            lambda: FN().col(name).rlike(URL_PATTERN),
            f"regexp_matches({name}, {_sql_quote(URL_PATTERN)})",
            "string",
        )
    if f.enum is not None and not (is_array or is_map):
        vals = ", ".join(_sql_quote(v) for v in f.enum)
        enum = f.enum
        add(
            "enum",
            lambda enum=enum: FN().col(name).isin(*enum),
            f"{name} IN ({vals})",
            "string",
        )

    # --- numeric kernels --------------------------------------------
    for cname, op_sql in () if (is_array or is_map) else (
        ("ge", ">="),
        ("le", "<="),
        ("gt", ">"),
        ("lt", "<"),
        ("min_value", ">="),
        ("max_value", "<="),
    ):
        v = getattr(f, cname)
        if v is not None:

            def _cmp(v=v, op=op_sql):
                F = FN()
                c = F.col(name)
                return {
                    ">=": c >= F.lit(v),
                    "<=": c <= F.lit(v),
                    ">": c > F.lit(v),
                    "<": c < F.lit(v),
                }[op]

            add(cname, _cmp, f"{name} {op_sql} {_fmt_num(v)}", "numeric")
    if f.multiple_of is not None and not (is_array or is_map):
        m = f.multiple_of
        # fractional steps need the ε-tolerant float modulo even on
        # integer columns — int(m) would validate the wrong constraint
        # (n % 2 for multiple_of=2.5)
        if is_float or float(m) != int(m):
            # ε-tolerant float modulo (src/satya/scalar_validators.py:164-169)
            def _mof(m=m):
                F = FN()
                r = F.abs(F.col(name) % F.lit(m))
                return (r < MULTIPLE_OF_EPS) | (
                    F.abs(r - F.lit(m)) < MULTIPLE_OF_EPS
                )

            ok_sql = (
                f"(abs(fmod({name}, {_fmt_num(m)})) < {MULTIPLE_OF_EPS!r}"
                f" OR abs(abs(fmod({name}, {_fmt_num(m)})) - {_fmt_num(m)})"
                f" < {MULTIPLE_OF_EPS!r})"
            )
            add("multiple_of", _mof, ok_sql, "numeric")
        else:
            mi = int(m)
            add(
                "multiple_of",
                lambda mi=mi: (FN().col(name) % mi) == 0,
                f"({name} % {mi}) = 0",
                "numeric",
            )

    # --- array kernels ------------------------------------------------
    if f.min_items is not None:
        n = f.min_items
        add(
            "min_items",
            lambda n=n: FN().size(FN().col(name)) >= n,
            f"len({name}) >= {n}",
            "container",
        )
    if f.max_items is not None:
        n = f.max_items
        add(
            "max_items",
            lambda n=n: FN().size(FN().col(name)) <= n,
            f"len({name}) <= {n}",
            "container",
        )
    if f.unique_items:
        # stringified-comparison uniqueness (src/lib.rs:894-906)
        add(
            "unique_items",
            lambda: FN().size(FN().col(name))
            == FN().size(FN().array_distinct(FN().col(name))),
            f"len({name}) = len(list_distinct({name}))",
            "container",
        )

    return rules


def _struct_item_rules(f: FieldSpec) -> List[CompiledRule]:
    """Per-element STRUCT field kernels for ``array<struct<...>>`` /
    ``map<_,struct<...>>`` columns — the columnar List[Model] /
    Dict[str, Model] surface (reference recursive nested validation,
    ``src/satya/validator.py:310-374``, ``src/satya/__init__.py:432-449``).

    For each inner FieldSpec in ``f.item_fields`` (name = dotted path
    inside the element), every scalar constraint compiles to ONE
    ``forall`` over the elements (map → its values); null elements and
    null leaf values skip value rules (§2.2), and an inner ``required``
    fires only when its in-element parent is present. Violation rows
    are labelled ``<field>[].<path>``. The ``forall`` HOF is
    CodegenFallback — specs that use model composition pay that only
    for themselves (same trade as scalar per-item rules)."""
    name = f.name
    is_map = f.dtype.startswith("map")

    def FN():
        from pyspark.sql import functions as F

        return F

    def _vals():
        F = FN()
        c = F.col(name)
        return F.map_values(c) if is_map else c

    vals_sql = f"map_values({name})" if is_map else name

    def _get(x, path: str):
        for p in path.split("."):
            x = x[p]
        return x

    out: List[CompiledRule] = []
    for g in f.item_fields or ():
        gpath = g.name
        gsql = f"x.{gpath}"
        is_container = g.dtype.startswith(("array", "map"))
        is_struct = g.dtype.startswith("struct")
        label = f"{name}[].{gpath}"

        def mk_off(gpath=gpath, gsql=gsql, g=g, is_struct=is_struct, is_container=is_container):
            if g.secret:
                from .spec import SECRET_MASK

                return lambda: FN().lit(SECRET_MASK), f"'{SECRET_MASK}'"
            if is_struct or is_container:
                return (
                    lambda: FN().lit(None).cast("string"),
                    "CAST(NULL AS VARCHAR)",
                )
            if g.dtype in ("double", "float"):
                return (
                    lambda: FN().concat_ws(
                        ",",
                        FN().transform(
                            _vals(),
                            lambda x: _get(x, gpath)
                            .try_cast("decimal(28,6)")
                            .cast("string"),
                        ),
                    ),
                    f"array_to_string(list_transform({vals_sql},"
                    f" x -> CAST(TRY_CAST({gsql} AS DECIMAL(28,6)) AS VARCHAR)), ',')",
                )
            return (
                lambda: FN().concat_ws(
                    ",",
                    FN().transform(_vals(), lambda x: _get(x, gpath).cast("string")),
                ),
                f"array_to_string(list_transform({vals_sql},"
                f" x -> CAST({gsql} AS VARCHAR)), ',')",
            )

        off_fn, off_sql = mk_off()

        def add_elem(cname, pred_fn, pred_sql, gpath=gpath, gsql=gsql, label=label, off_fn=off_fn, off_sql=off_sql):
            """pred_fn: leaf Column -> ok Column (leaf non-null);
            pred_sql: ok predicate over the SQL leaf expr."""

            def _fail(pred_fn=pred_fn, gpath=gpath):
                F = FN()
                return F.col(name).isNotNull() & ~F.forall(
                    _vals(),
                    lambda x: x.isNull()
                    | _get(x, gpath).isNull()
                    | pred_fn(_get(x, gpath)),
                )

            out.append(
                CompiledRule(
                    field=label,
                    constraint=cname,
                    fail_fn=_fail,
                    fail_sql=(
                        f"({name} IS NOT NULL AND len(list_filter({vals_sql},"
                        f" x -> x IS NOT NULL AND {gsql} IS NOT NULL"
                        f" AND NOT ({pred_sql}))) > 0)"
                    ),
                    offending_fn=off_fn,
                    offending_sql=off_sql,
                    kind="struct",
                )
            )

        if g.required:
            # fires when the element (and the in-element parent, for
            # dotted paths) is present but the leaf is null
            pparent = gpath.rsplit(".", 1)[0] if "." in gpath else None

            def _req_fail(gpath=gpath, pparent=pparent):
                F = FN()

                def elem_bad(x):
                    leaf_null = _get(x, gpath).isNull()
                    if pparent is not None:
                        return _get(x, pparent).isNotNull() & leaf_null
                    return leaf_null

                return F.col(name).isNotNull() & F.exists(
                    _vals(), lambda x: x.isNotNull() & elem_bad(x)
                )

            guard = f"x.{pparent} IS NOT NULL AND " if pparent is not None else ""
            out.append(
                CompiledRule(
                    field=label,
                    constraint="required",
                    fail_fn=_req_fail,
                    fail_sql=(
                        f"({name} IS NOT NULL AND len(list_filter({vals_sql},"
                        f" x -> x IS NOT NULL AND {guard}{gsql} IS NULL)) > 0)"
                    ),
                    offending_fn=lambda: FN().lit(None).cast("string"),
                    offending_sql="CAST(NULL AS VARCHAR)",
                    kind="struct",
                )
            )

        if is_container:
            # containers inside an element: size/uniqueness only
            if g.min_items is not None:
                n = g.min_items
                add_elem(
                    "min_items",
                    lambda v, n=n: FN().size(v) >= n,
                    f"len({gsql}) >= {n}",
                )
            if g.max_items is not None:
                n = g.max_items
                add_elem(
                    "max_items",
                    lambda v, n=n: FN().size(v) <= n,
                    f"len({gsql}) <= {n}",
                )
            if g.unique_items:
                add_elem(
                    "unique_items",
                    lambda v: FN().size(v) == FN().size(FN().array_distinct(v)),
                    f"len({gsql}) = len(list_distinct({gsql}))",
                )
            continue
        if is_struct:
            continue  # struct-typed inner: required handled above

        if g.min_length is not None:
            n, ws = g.min_length, " \t\n\r\x0b\x0c"
            add_elem(
                "min_length",
                lambda v, n=n, ws=ws: FN().length(FN().trim(v, FN().lit(ws))) >= n,
                f"length(trim({gsql}, ' ' || chr(9) || chr(10) || chr(13)"
                f" || chr(11) || chr(12))) >= {n}",
            )
        if g.max_length is not None:
            n = g.max_length
            add_elem(
                "max_length",
                lambda v, n=n: FN().length(v) <= n,
                f"length({gsql}) <= {n}",
            )
        if g.pattern is not None:
            p = g.pattern
            add_elem(
                "pattern",
                lambda v, p=p: v.rlike(p),
                f"regexp_matches({gsql}, {_sql_quote(p)})",
            )
        if g.email:
            add_elem(
                "email",
                lambda v: v.rlike(EMAIL_PATTERN)
                & (FN().length(v) <= EMAIL_MAX_LEN),
                f"(regexp_matches({gsql}, {_sql_quote(EMAIL_PATTERN)})"
                f" AND length({gsql}) <= {EMAIL_MAX_LEN})",
            )
        if g.url:
            add_elem(
                "url",
                lambda v: v.rlike(URL_PATTERN),
                f"regexp_matches({gsql}, {_sql_quote(URL_PATTERN)})",
            )
        if g.enum is not None:
            vals_lit = ", ".join(_sql_quote(v) for v in g.enum)
            enum = g.enum
            add_elem(
                "enum",
                lambda v, enum=enum: v.isin(*enum),
                f"{gsql} IN ({vals_lit})",
            )
        for cname, op_sql in (
            ("ge", ">="),
            ("le", "<="),
            ("gt", ">"),
            ("lt", "<"),
            ("min_value", ">="),
            ("max_value", "<="),
        ):
            bound = getattr(g, cname)
            if bound is not None:

                def _cmp(v, bound=bound, op=op_sql):
                    F = FN()
                    return {
                        ">=": v >= F.lit(bound),
                        "<=": v <= F.lit(bound),
                        ">": v > F.lit(bound),
                        "<": v < F.lit(bound),
                    }[op]

                add_elem(cname, _cmp, f"{gsql} {op_sql} {_fmt_num(bound)}")
        if g.multiple_of is not None:
            m = g.multiple_of
            if g.dtype in ("double", "float") or float(m) != int(m):

                def _mof(v, m=m):
                    F = FN()
                    r = F.abs(v % F.lit(m))
                    return (r < MULTIPLE_OF_EPS) | (
                        F.abs(r - F.lit(m)) < MULTIPLE_OF_EPS
                    )

                add_elem(
                    "multiple_of",
                    _mof,
                    f"(abs(fmod({gsql}, {_fmt_num(m)})) < {MULTIPLE_OF_EPS!r}"
                    f" OR abs(abs(fmod({gsql}, {_fmt_num(m)})) - {_fmt_num(m)})"
                    f" < {MULTIPLE_OF_EPS!r})",
                )
            else:
                mi = int(m)
                add_elem(
                    "multiple_of",
                    lambda v, mi=mi: (v % mi) == 0,
                    f"({gsql} % {mi}) = 0",
                )
    return out


@dataclass
class CompiledSpec:
    """All kernels of a TableSpec, with single-scan Spark evaluators
    and matching oracle-SQL generators.

    The composite kernel columns (:meth:`valid_col`,
    :meth:`violations_array_col`, :meth:`violation_count_col`) are
    built once per SparkContext and shared by every consumer in a job:
    a build walks every rule through py4j, thousands of JVM round
    trips for the transcript spec."""

    spec: TableSpec
    rules: List[CompiledRule]
    _columns: dict = dc_field(
        default_factory=dict, init=False, repr=False, compare=False
    )

    # ---- Spark side ---------------------------------------------------
    def _memo(self, name: str, build: Callable):
        """``build()`` once per active SparkContext. The context is
        part of the key so a restarted session rebuilds instead of
        handing out a Column of a dead JVM."""
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        hit = self._columns.get(name)
        if hit is not None and hit[0] is sc:
            return hit[1]
        col = build()
        self._columns[name] = (sc, col)
        return col

    def valid_col(self):
        """Row validity: conjunction of all kernels (NULL-safe)."""
        return self._memo("valid", self._valid)

    def _valid(self):
        from pyspark.sql import functions as F

        out = F.lit(True)
        for r in self.rules:
            out = out & ~F.coalesce(r.fail, F.lit(False))
        return out

    VIOLATION_TYPE = (
        "array<struct<field:string,constraint_name:string,offending_value:string>>"
    )

    def violations_array_col(self):
        """array<struct<field,constraint_name,offending_value>> per
        row — the accumulate-all-errors shape
        (``src/satya/validator.py:219-275``).

        Perf note: a higher-order ``filter`` over a rule array is NOT
        whole-stage-codegen'd (array lambdas are CodegenFallback and
        poison the enclosing projection into interpreted eval — ~10×
        slower measured). Instead: ``concat`` of per-rule conditional
        singleton arrays, every node of which codegens. The empty
        branch is free; only actually-failing (row, rule) pairs build
        a struct — the columnar analog of satya's is-simple fast path
        (``src/lib.rs:229-237``).
        """
        return self._memo("violations_array", self._violations_array)

    def _violations_array(self):
        from pyspark.sql import functions as F

        empty = F.array().cast(self.VIOLATION_TYPE)
        if not self.rules:
            # constraint-free spec: concat() of zero arrays would type
            # as STRING — return the typed empty array directly
            return empty
        parts = [
            F.when(
                F.coalesce(r.fail, F.lit(False)),
                F.array(
                    F.struct(
                        F.lit(r.field).alias("field"),
                        F.lit(r.constraint).alias("constraint_name"),
                        r.offending.alias("offending_value"),
                    )
                ),
            ).otherwise(empty)
            for r in self.rules
        ]
        return F.concat(*parts)

    def violation_count_col(self):
        """Per-row violation COUNT as a pure integer sum of the fail
        predicates — no struct/array allocation, no offending-value
        rendering. For verdict/count-only consumers this is ~11%
        faster than ``size(violations_array_col())`` (measured, 3.4 M
        rows, 25 kernels); the array form exists for violation-ROW
        consumers that need (field, constraint, value)."""
        return self._memo("violation_count", self._violation_count)

    def _violation_count(self):
        from pyspark.sql import functions as F

        out = F.lit(0)
        for r in self.rules:
            out = out + F.when(
                F.coalesce(r.fail, F.lit(False)), F.lit(1)
            ).otherwise(F.lit(0))
        return out

    def with_validation(self, df):
        """One-scan: input columns + ``valid`` + ``violations``.

        ``valid`` is derived as ``size(violations) == 0`` rather than
        re-evaluating the kernel conjunction: codegen subexpression
        elimination then computes the rule array once per row.
        """
        from pyspark.sql import functions as F

        out = df.withColumn("violations", self.violations_array_col())
        return out.withColumn("valid", F.size("violations") == 0)

    def violations_df(self, df, key_cols: List[str]):
        """Exploded violation rows (key..., field, constraint_name,
        offending_value). The array is projected and filtered to
        non-empty BEFORE the Generate so the (rare) violating rows are
        the only ones reaching explode.

        Plan-shape note (measured, sf0.1, 25 kernels): Catalyst
        collapses this project+filter into a plan holding TWO copies
        of the array expression, which blows the fused
        ``processNext()`` past Janino's 64 KB method limit — Spark
        logs ``ERROR CodeGenerator`` and abandons WHOLE-STAGE FUSION
        for that stage. That is NOT interpreted eval: each operator
        (Filter predicate, Project) still compiles its own split-
        method codegen, and this shape measured FASTER than both
        64 KB-safe rewrites — filtering first on the scalar
        ``~valid_col()`` (1.5× slower on expression-defined inputs:
        predicate pushdown substitutes the input-defining expressions
        into all 25 predicates where cross-predicate CSE fails) and
        dropping the filter entirely to let ``explode`` discard empty
        arrays (1.35× slower there; the early filter lets the scan
        stage drop ~99.7% of rows before the Generate). The genuinely
        hot full-scan paths (annotate / verdict counts) stay fully
        fused — pinned under ``spark.sql.codegen.fallback=false`` in
        tests/test_plans.py."""
        from pyspark.sql import functions as F

        tmp = df.select(
            *key_cols, self.violations_array_col().alias("__viol")
        ).filter(F.size("__viol") > 0)
        return tmp.select(*key_cols, F.explode("__viol").alias("v")).select(
            *key_cols, "v.field", "v.constraint_name", "v.offending_value"
        )

    def spec_hash(self) -> str:
        """Deterministic digest of the compiled constraint set (field,
        constraint, SQL predicate triples) — folded into the manifest
        fingerprint so a changed spec never resumes over stale shard
        records."""
        import hashlib

        body = "|".join(
            f"{r.field}:{r.constraint}:{r.fail_sql}" for r in self.rules
        )
        return hashlib.md5(body.encode()).hexdigest()[:16]

    # ---- oracle side --------------------------------------------------
    def violations_sql(self, table: str, key_cols: List[str]) -> str:
        """DuckDB SQL computing the identical violation rows via
        UNION ALL of per-kernel selects over ``table``."""
        keys = ", ".join(key_cols)
        parts = [
            f"SELECT {keys}, {_sql_quote(r.field)} AS field, "
            f"{_sql_quote(r.constraint)} AS constraint_name, "
            f"{'CAST(NULL AS VARCHAR)' if r.constraint == 'required' else r.offending_sql}"
            f" AS offending_value FROM {table} WHERE {r.fail_sql}"
            for r in self.rules
        ]
        return "\nUNION ALL\n".join(parts)

    def valid_sql(self) -> str:
        """DuckDB boolean expression: row passes all kernels."""
        return " AND ".join(
            f"(NOT COALESCE({r.fail_sql}, FALSE))" for r in self.rules
        )


def compile_row_rule(rule, context: dict | None = None) -> CompiledRule:
    """Cross-field custom rule (@model_validator analog,
    src/satya/validators.py:110-140) → a CompiledRule on the pseudo
    field '<row>' so violation rows carry (field='<row>',
    constraint=<rule name>).

    ``context`` is the ValidationInfo.context analog
    (src/satya/validators.py:23-37): run-scoped constants a validator
    can parameterize on. A ``fail_fn`` opts in EXPLICITLY by naming its
    single required positional parameter ``ctx`` or ``context`` — it
    then receives the dict at compile time (it's fixed per run — fold
    it into the expression, don't evaluate per row). Any other
    signature is treated as zero-arg: the compiler's own
    default-arg-binding idiom (``lambda n=n: ...``), legacy one-arg
    fail_fns with a differently-named parameter, and C callables /
    partials whose signature can't be introspected all stay untouched
    (review r2: an any-required-positional heuristic silently fed the
    context dict to non-context callables). ``fail_sql`` may be a
    callable(context) -> str for the oracle twin."""
    import inspect

    def _off():
        from pyspark.sql import functions as F

        return F.lit(None).cast("string")

    fail_fn = rule.fail_fn
    # explicit opt-in: a required positional parameter NAMED ctx/context
    try:
        params = inspect.signature(fail_fn).parameters.values()
    except (ValueError, TypeError):  # C callable / partial without signature
        params = ()
    takes_ctx = any(
        p.default is p.empty
        and p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
        and p.name in ("ctx", "context")
        for p in params
    )
    if takes_ctx:
        ctx = dict(context or {})
        fail_fn = lambda fn=rule.fail_fn, ctx=ctx: fn(ctx)  # noqa: E731
    fail_sql = rule.fail_sql
    if callable(fail_sql):
        fail_sql = fail_sql(dict(context or {}))

    return CompiledRule(
        field="<row>",
        constraint=rule.name,
        fail_fn=fail_fn,
        fail_sql=fail_sql or "FALSE /* non-SQL custom rule */",
        offending_fn=_off,
        offending_sql="CAST(NULL AS VARCHAR)",
    )


def compile_spec(spec: TableSpec, context: dict | None = None) -> CompiledSpec:
    rules: List[CompiledRule] = []
    for f in spec.fields:
        rules.extend(compile_field(f))
    for rr in spec.row_rules:
        rules.append(compile_row_rule(rr, context))
    return CompiledSpec(spec=spec, rules=rules)
