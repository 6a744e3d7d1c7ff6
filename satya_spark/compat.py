"""satya-compatible facade — the literal switching surface.

A user of the reference drives it through ``StreamValidator``
(``add_field`` / ``set_constraints`` / ``validate`` /
``validate_batch`` / ``validate_stream``, reference
``src/satya/validator.py:10-21,178-390``) or a ``Model`` subclass.
This module reproduces that call shape on top of the engine so
existing satya call sites port mechanically.

Two routes, chosen once per compiled spec:

* **Python route** — when every field is
  :func:`~satya_spark.pykernels.expressible`, i.e. the rules the
  compiler gives it are scalar string rules on a string, scalar
  numeric rules on a long/double, container rules on an array, or
  ``required`` alone on a timestamp/decimal/map field (regexes the
  Java-dialect shim translates; doubles only rendered on a JDK 18 or
  earlier JVM), a batch is one pass over the dicts: type check →
  required → the pure-Python kernel twins → the twin of the compiled
  offending-value rendering, in compiled-rule order. No DataFrame is
  built, no Spark job runs.
* **Spark route** — any other spec (per-item rules on arrays/maps,
  bounds on decimals, untranslatable patterns, ...) round-trips the
  batch through ``createDataFrame`` and the compiled Column kernels,
  one job per call.

Both routes give the same ``ValidationResult`` for the same input
(two-route parity fuzz in tests/test_property.py). There is no size
threshold: the Spark route ingests and collects every row in Python
too, so on a Python list it is never the faster one. The native
surface — DataFrames in, DataFrames out — is the 100 TB path; this
facade is the on-ramp.
"""

from __future__ import annotations

from typing import Any, Dict, Iterable, Iterator, List, Optional

from .compiler import compile_spec
from .spec import SECRET_MASK, FieldSpec, TableSpec

_TYPE_MAP = {
    "str": "string",
    "string": "string",
    "int": "long",
    "integer": "long",
    "float": "double",
    "bool": "bool",
    "boolean": "bool",
    "datetime": "timestamp",
    "date-time": "timestamp",
    "email": "string",
    "url": "string",
    "list[str]": "array<string>",
}

# special-type presets (src/satya/special_types.py:139-238): usable as
# the field_type in add_field, e.g. add_field("age", "PositiveInt").
# Single source of truth: special_types.PRESETS.
from .special_types import PRESETS as _PRESETS  # noqa: E402

# integer dtypes → magnitude bits of the column type (int64 / int32)
_INT_BITS = {"long": 63, "int": 31}

_CONSTRAINT_KEYS = (
    "min_length", "max_length", "pattern", "email", "url", "enum",
    "ge", "le", "gt", "lt", "min_value", "max_value", "multiple_of",
    "min_items", "max_items", "unique_items",
)


_SUGGESTIONS = {
    "required": "provide a non-null value",
    "type": "pass a value of the declared type",
    "min_length": "lengthen the value (whitespace is trimmed first)",
    "max_length": "shorten the value",
    "pattern": "match the declared regex",
    "email": "use a valid email address (max 254 chars)",
    "url": "use an http(s):// URL",
    "enum": "use one of the allowed values",
    "ge": "increase the value",
    "gt": "increase the value",
    "le": "decrease the value",
    "lt": "decrease the value",
    "min_value": "increase the value",
    "max_value": "decrease the value",
    "multiple_of": "use a multiple of the declared step",
    "min_items": "add items",
    "max_items": "remove items",
    "unique_items": "remove duplicate items",
}


class ValidationError:
    """ValidationError shape (src/satya/__init__.py:20-48): field,
    message, dotted ``path``, offending ``value``, ``constraint`` name
    and a human ``suggestion``."""

    __slots__ = ("field", "message", "path", "value", "constraint", "suggestion")

    def __init__(
        self,
        field: str,
        message: str,
        value: Any = None,
        path: Optional[List[str]] = None,
        constraint: Optional[str] = None,
        suggestion: Optional[str] = None,
    ):
        self.field = field
        self.message = message
        self.path = path if path is not None else field.split(".")
        self.value = value
        self.constraint = constraint
        self.suggestion = (
            suggestion
            if suggestion is not None
            else _SUGGESTIONS.get(constraint or "", None)
        )

    def __str__(self) -> str:
        loc = ".".join(self.path) if self.path else self.field
        parts = [f"{loc}: {self.message}"]
        if self.value is not None:
            parts.append(f"  Value: {self.value!r}")
        if self.constraint:
            parts.append(f"  Constraint: {self.constraint}")
        if self.suggestion:
            parts.append(f"  Suggestion: {self.suggestion}")
        return "\n".join(parts)

    def __repr__(self) -> str:  # pragma: no cover
        return f"ValidationError(field={self.field!r}, message={self.message!r})"


class ValidationResult:
    """ValidationResult shape (src/satya/__init__.py:50-73)."""

    def __init__(self, value: Any = None, errors: Optional[List[ValidationError]] = None):
        self._value = value
        self.errors = errors or []

    @property
    def is_valid(self) -> bool:
        return not self.errors

    @property
    def value(self) -> Any:
        if self.errors:
            raise ValueError(f"Cannot get value from invalid result: {self.errors}")
        return self._value


class StreamValidator:
    """Drop-in call shape for satya's StreamValidator
    (``src/satya/validator.py``): declare fields + constraints, then
    validate dicts/batches/streams. Compiled once; the route (Python
    twins or Spark kernels) is chosen once per compiled spec."""

    def __init__(self, spark=None):
        self._spark = spark
        self._fields: Dict[str, dict] = {}
        self._compiled = None

    # -- declaration (add_field/set_constraints, validator.py:98-176) --
    def add_field(self, name: str, field_type: str = "str", required: bool = True) -> None:
        ftype = field_type if isinstance(field_type, str) else getattr(
            field_type, "__name__", "str"
        ).lower()
        kwargs: Dict[str, Any] = {}
        if ftype in ("email", "url"):
            kwargs[ftype] = True
        if ftype.lower() in _PRESETS:
            dtype, preset_kw = _PRESETS[ftype.lower()]
            kwargs.update(preset_kw)
        else:
            dtype = _TYPE_MAP.get(ftype.lower(), "string")
        self._fields[name] = {
            "dtype": dtype,
            "required": required,
            **kwargs,
        }
        self._compiled = None

    def set_constraints(self, name: str, **constraints: Any) -> None:
        unknown = set(constraints) - set(_CONSTRAINT_KEYS)
        if unknown:
            raise ValueError(f"unknown constraints: {sorted(unknown)}")
        if "enum" in constraints and constraints["enum"] is not None:
            constraints["enum"] = tuple(constraints["enum"])
        self._fields[name].update(constraints)
        self._compiled = None

    # -- compilation (compile once, validator cache analog) ----------
    def _ensure(self):
        if self._spark is None:
            from .session import get_spark

            self._spark = get_spark(app_name="satya-compat", cpus=4)
        if self._compiled is None:
            from .pykernels import expressible, java_major

            spec = TableSpec(
                name="compat",
                fields=tuple(
                    FieldSpec(name=n, **kw) for n, kw in self._fields.items()
                ),
            )
            self._compiled = compile_spec(spec)
            self._spec = spec
            # route choice, once per compiled spec (module docstring);
            # the JVM's version decides how doubles render
            jdk = java_major(
                self._spark.sparkContext._jvm.java.lang.System.getProperty(
                    "java.version"
                )
            )
            self._python_route = all(expressible(f, jdk) for f in spec.fields)
        return self._compiled

    def _schema(self) -> str:
        from .coerce import spark_type

        return ", ".join(
            f"`{n}` {spark_type(kw['dtype'])}" for n, kw in self._fields.items()
        )

    @staticmethod
    def _type_check(v: Any, dtype: str):
        """Strict type conformance (bool ≠ int, src/lib.rs:614,804-807).
        Returns (ok_value_for_df, error_message|None). A mismatch — or
        a value the column type cannot hold (an int outside int64, a
        Decimal outside its precision) — is a per-field
        ValidationError, NOT a batch-aborting exception (reference
        StreamValidator accumulates it like any other failure)."""
        import datetime as _dt

        if v is None:
            return None, None
        if dtype == "string":
            return (v, None) if isinstance(v, str) else (None, "str")
        if dtype in _INT_BITS:
            if isinstance(v, int) and not isinstance(v, bool):
                lim = 1 << _INT_BITS[dtype]
                if -lim <= v < lim:
                    return v, None
                return None, f"int{_INT_BITS[dtype] + 1}"
            return None, "int"
        if dtype == "double":
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                try:
                    return float(v), None
                except OverflowError:  # int beyond the double range
                    return None, "float"
            return None, "float"
        if dtype == "bool":
            return (v, None) if isinstance(v, bool) else (None, "bool")
        if dtype == "timestamp":
            if isinstance(v, _dt.datetime):
                return v, None
            if isinstance(v, str):
                try:  # ISO with Z→+00:00, the coercion-tier rule
                    return _dt.datetime.fromisoformat(v.replace("Z", "+00:00")), None
                except ValueError:
                    return None, "datetime"
            return None, "datetime"
        if dtype.startswith("decimal"):
            import decimal as _dec

            if isinstance(v, _dec.Decimal):
                d = v
            elif isinstance(v, (int, float)) and not isinstance(v, bool):
                d = _dec.Decimal(str(v))
            elif isinstance(v, str):
                try:
                    d = _dec.Decimal(v)
                except _dec.InvalidOperation:
                    return None, "Decimal"
            else:
                return None, "Decimal"
            # the column holds finite values that round (half up, like
            # the JVM's conversion) into p digits at scale sc
            p, sc = (
                (int(x) for x in dtype[dtype.index("(") + 1 : -1].split(","))
                if "(" in dtype
                else (10, 0)  # Spark's bare DECIMAL
            )
            if not d.is_finite() or (d and d.adjusted() >= p - sc):
                return None, dtype
            q = d.quantize(
                _dec.Decimal(1).scaleb(-sc),
                rounding=_dec.ROUND_HALF_UP,
                context=_dec.Context(prec=p + 2),
            )
            if q and q.adjusted() >= p - sc:
                return None, dtype
            return d, None
        if dtype.startswith("array"):
            if not isinstance(v, (list, tuple)):
                return None, "list"
            inner = dtype[dtype.index("<") + 1 : dtype.rindex(">")]
            out = []
            for item in v:
                ok_item, want = StreamValidator._type_check(item, inner)
                if want is not None:
                    return None, f"list[{want}]"
                out.append(ok_item)
            return out, None
        if dtype.startswith("map"):
            if not isinstance(v, dict):
                return None, "dict"
            vt = dtype[dtype.index("<") + 1 : dtype.rindex(">")].split(",", 1)[1].strip()
            out = {}
            for k, item in v.items():
                if not isinstance(k, str):
                    return None, "dict[str,...]"
                ok_item, want = StreamValidator._type_check(item, vt)
                if want is not None:
                    return None, f"dict[str,{want}]"
                out[k] = ok_item
            return out, None
        return v, None

    def _ingest_one(self, item: dict):
        """(type-checked values in field order, type errors). Missing
        key ≡ null (SURVEY.md §2.2); a type-mismatched value becomes
        null (value rules skip it) and carries a type
        ValidationError."""
        vals, errs = [], []
        for n, kw in self._fields.items():
            raw = item.get(n)
            ok_v, want = self._type_check(raw, kw["dtype"])
            vals.append(ok_v)
            if want is not None:
                errs.append(
                    ValidationError(
                        n,
                        f"Expected {want}, got {type(raw).__name__}",
                        # secret fields never surface their value,
                        # in the type-error path either
                        value=SECRET_MASK if kw.get("secret") else raw,
                        constraint="type",
                    )
                )
        return vals, errs

    # -- the two routes (module docstring) -------------------------------
    def _results_python(self, items: List[dict]) -> List[ValidationResult]:
        """One pass over the dicts with the pure-Python kernel twins —
        the same errors, values and order as :meth:`_results_spark`."""
        from .pykernels import offending_value, value_violations

        fields = self._spec.fields
        out = []
        for item in items:
            vals, errs = self._ingest_one(item)
            mistyped = {e.field for e in errs}
            for f, v in zip(fields, vals):
                if v is None:
                    if f.required and f.name not in mistyped:
                        errs.append(
                            ValidationError(f.name, "required violated", constraint="required")
                        )
                    continue
                for c in value_violations(f, v):
                    errs.append(
                        ValidationError(
                            f.name,
                            f"{c} violated",
                            value=offending_value(f, v),
                            constraint=c,
                        )
                    )
            out.append(ValidationResult(value=item if not errs else None, errors=errs))
        return out

    def _results_spark(self, items: List[dict]) -> List[ValidationResult]:
        """createDataFrame + the compiled kernels, one job per call."""
        compiled = self._compiled
        ingested = [self._ingest_one(item) for item in items]
        df = self._spark.createDataFrame(
            [tuple(vals) for vals, _ in ingested], self._schema()
        )
        out = []
        for item, row, (_, terrs) in zip(
            items, compiled.with_validation(df).collect(), ingested
        ):
            # a mistyped value was PRESENT: suppress the 'required'
            # violation its null placeholder would otherwise raise
            mistyped = {e.field for e in terrs}
            errs = list(terrs) + [
                ValidationError(
                    v["field"],
                    f"{v['constraint_name']} violated",
                    value=v["offending_value"],
                    constraint=v["constraint_name"],
                )
                for v in row["violations"]
                if not (v["constraint_name"] == "required" and v["field"] in mistyped)
            ]
            out.append(ValidationResult(value=item if not errs else None, errors=errs))
        return out

    # -- validation entry points ----------------------------------------
    def validate(self, item: dict) -> ValidationResult:
        res = self.validate_batch_results([item])
        return res[0]

    def validate_batch(self, items: List[dict]) -> List[bool]:
        """list of dicts → list of bool (src/lib.rs:359-392)."""
        return [r.is_valid for r in self.validate_batch_results(items)]

    def validate_batch_results(self, items: List[dict]) -> List[ValidationResult]:
        self._ensure()
        if self._python_route:
            return self._results_python(items)
        return self._results_spark(items)

    def validate_stream(
        self, items: Iterable[dict], batch_size: int = 10_000
    ) -> Iterator[ValidationResult]:
        """lazy iterator → iterator (validator.py:376-390), micro-batched."""
        buf: List[dict] = []
        for it in items:
            buf.append(it)
            if len(buf) >= batch_size:
                yield from self.validate_batch_results(buf)
                buf = []
        if buf:
            yield from self.validate_batch_results(buf)
