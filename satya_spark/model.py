"""Model facade — the ``class User(Model)`` declaration surface
(reference ``src/satya/__init__.py:215-337`` ModelMetaclass + Model).

A satya user's primary API is a Model subclass with annotated fields
and ``Field(...)`` kwargs. This facade reproduces that declaration
shape and routes it into the Spark engine twice over:

* small-batch / single-record: ``Model(...)``, ``model_validate`` /
  ``model_validate_batch`` and ``validate_assignment`` go through the
  compat :class:`~satya_spark.compat.StreamValidator` (compiled once
  per class, cached — the ``_validator_instance`` analog). When every
  field's compiled rules are :func:`~satya_spark.pykernels.expressible`
  (scalar string/numeric rules, array container rules, presence-only
  timestamp/decimal/map fields, regexes the Java-dialect shim
  translates) it validates the dicts with the pure-Python kernel twins
  and starts no Spark job; any other class takes the Spark route, one
  ``createDataFrame`` job per call. Nested models validate through
  their own class's validator, so each class picks its route;
* at scale: ``spec()`` yields the :class:`TableSpec`, so
  ``validate_df(df)`` runs the SAME declaration as one codegen'd
  DataFrame pass — the 100 TB path a reference user graduates to
  without re-declaring anything.

Supported annotation vocabulary: str, int, float, bool,
datetime.datetime, Decimal, List[str]/List[int], Dict[str, str],
Optional[T] (→ required=False), the marker types EmailStr /
HttpUrl / PositiveInt / NonNegativeInt / PositiveFloat /
NonNegativeFloat / SecretStr (src/satya/special_types.py analogs),
and MODEL COMPOSITION — ``inner: Inner``, ``List[Inner]``,
``Dict[str, Inner]`` (reference src/satya/validator.py:310-374,
src/satya/__init__.py:432-449): nested models validate recursively
with dotted error paths on the small-batch path and compile to
struct-column / per-element-struct kernels (FieldSpec.item_fields)
on the ``validate_df`` scale path, each with a DuckDB SQL twin.
"""

from __future__ import annotations

import datetime as _dt
import json
from decimal import Decimal
from typing import Any, Dict, List, Optional, Union, get_args, get_origin

from .spec import FieldSpec, TableSpec


# --- annotation marker types (special_types analogs) -----------------------

class EmailStr(str):
    """Annotation marker: validated email (special_types.py:139-153)."""


class HttpUrl(str):
    """Annotation marker: http(s) URL (special_types.py:155-170)."""


class SecretStr(str):
    """Annotation marker: masked-in-errors string (special_types.py:17-31)."""


class PositiveInt(int):
    """Annotation marker: int > 0 (special_types.py:172-181)."""


class NegativeInt(int):
    """Annotation marker: int < 0 (special_types.py:183-192)."""


class NonNegativeInt(int):
    """Annotation marker: int >= 0 (special_types.py:194-203)."""


class PositiveFloat(float):
    """Annotation marker: float > 0 (special_types.py:205-215)."""


class NegativeFloat(float):
    """Annotation marker: float < 0 (special_types.py:217-227)."""


class NonNegativeFloat(float):
    """Annotation marker: float >= 0 (special_types.py:229-238)."""


class SecretBytes(bytes):
    """Annotation marker: masked-in-errors bytes
    (special_types.py:33-47); columnar dtype is string like bytes."""


class FilePath(str):
    """Annotation marker (special_types.py:49-78): path SHAPE check —
    filesystem existence is an executor-side I/O effect with no
    columnar analog (COVERAGE.md §special types)."""


class DirectoryPath(str):
    """Annotation marker (special_types.py:80-108): path shape, see
    FilePath."""


class NewPath(str):
    """Annotation marker (special_types.py:110-137): path shape, see
    FilePath."""


# marker class -> special_types.PRESETS key (single source of truth)
from .special_types import PRESETS as _PRESET_TABLE  # noqa: E402

_MARKERS: Dict[type, tuple] = {
    cls: _PRESET_TABLE[cls.__name__.lower()]
    for cls in (
        EmailStr, HttpUrl, SecretStr, PositiveInt, NegativeInt,
        NonNegativeInt, PositiveFloat, NegativeFloat, NonNegativeFloat,
    )
}
# reference special types whose preset is shared (path shape /
# secret masking)
_MARKERS[SecretBytes] = _PRESET_TABLE["secretstr"]
for _pcls in (FilePath, DirectoryPath, NewPath):
    _MARKERS[_pcls] = _PRESET_TABLE["pathstr"]

_SCALARS: Dict[type, str] = {
    str: "string",
    int: "long",
    float: "double",
    bool: "bool",
    _dt.datetime: "timestamp",
    Decimal: "decimal(38,6)",
    bytes: "string",
}

_FIELD_KWARGS = (
    "min_length", "max_length", "pattern", "email", "url", "enum",
    "ge", "le", "gt", "lt", "min_value", "max_value", "multiple_of",
    "min_items", "max_items", "unique_items",
    "strip_whitespace", "to_lower", "to_upper", "alias",
)


class Field:
    """Field definition kwargs holder — reference ``Field``
    (src/satya/__init__.py:94-171). Unknown-to-columnar kwargs
    (description/example/title/repr/...) are accepted and ignored,
    so reference class bodies paste over unchanged."""

    def __init__(self, type_: Any = None, *, required: Optional[bool] = None,
                 default: Any = None, default_factory: Any = None, **kw: Any):
        self.type = type_
        self.required = required
        self.default = default
        self.default_factory = default_factory
        self.kw = {}
        for k, v in kw.items():
            if k not in _FIELD_KWARGS:
                continue  # description/example/title/... ignored
            # keep gt=0 / ge=0.0 (0 == False in Python)
            if isinstance(v, bool):
                if v:
                    self.kw[k] = v
            elif v is not None:
                self.kw[k] = v


def _is_model(t: Any) -> bool:
    return isinstance(t, type) and issubclass(t, Model)


def _struct_dtype(mcls: type) -> str:
    """Model class → Spark struct DDL (inner dtypes via spark_type so
    'bool' etc. are valid DDL words)."""
    from .coerce import spark_type

    parts = ", ".join(
        f"{n}:{spark_type(f._spec.dtype)}" for n, f in mcls.__fields__.items()
    )
    return f"struct<{parts}>"


def _flatten_model(mcls: type) -> tuple:
    """Model class → FieldSpecs for every field, nested-model children
    flattened to dotted paths (depth-first: each field's own
    ``_extra_specs`` were computed when ITS class was created)."""
    out = []
    for fdef in mcls.__fields__.values():
        out.append(fdef._spec)
        out.extend(getattr(fdef, "_extra_specs", ()))
    return tuple(out)


def _is_absent_ann(a: Any) -> bool:
    """True for the ABSENT marker arm of a union annotation —
    ``type[ABSENT]`` (the reference's documented spelling,
    src/satya/absent.py:22-32), ``type[_AbsentType]``, or the class
    itself."""
    from .absent import _AbsentType

    if a is _AbsentType:
        return True
    if get_origin(a) is type:
        args = get_args(a)
        return bool(args) and (
            args[0] is _AbsentType or isinstance(args[0], _AbsentType)
        )
    return False


def _resolve(annotation: Any) -> tuple:
    """annotation → (dtype, extra_kwargs, required_default, nested)
    where nested is None or (kind, ModelSubclass) with kind in
    {'model', 'list_model', 'dict_model'} — the reference's nested
    composition surface (src/satya/validator.py:310-374,
    src/satya/__init__.py:432-449)."""
    import types as _types

    origin = get_origin(annotation)
    # typing.Optional[T] and PEP 604 `T | None` both mean optional;
    # any OTHER union (int | str) has no column type and must fail
    # loudly, not silently validate as Optional[first-arm]
    if origin is Union or isinstance(annotation, _types.UnionType):
        all_args = get_args(annotation)
        args = [
            a
            for a in all_args
            if a is not type(None) and not _is_absent_ann(a)
        ]
        has_opt = len(args) != len(all_args)  # None or ABSENT marker seen
        if not has_opt or len(args) != 1:
            raise TypeError(
                f"unsupported Model annotation: {annotation!r} "
                "(only Optional[T] / T | None / T | type[ABSENT] unions"
                " are columnar)"
            )
        dtype, extra, _, nested = _resolve(args[0])
        return dtype, extra, False, nested
    if origin in (list, List):
        (inner,) = get_args(annotation) or (str,)
        if _is_model(inner):
            return f"array<{_struct_dtype(inner)}>", {}, True, ("list_model", inner)
        idt, iextra, _, nested = _resolve(inner)
        if nested is not None:
            raise TypeError(
                f"unsupported Model annotation: {annotation!r} "
                "(containers of containers-of-models are not columnar)"
            )
        return f"array<{idt}>", iextra, True, None
    if origin in (dict, Dict):
        args = get_args(annotation) or (str, str)
        if _is_model(args[1]):
            return (
                f"map<string,{_struct_dtype(args[1])}>",
                {},
                True,
                ("dict_model", args[1]),
            )
        vdt, vextra, _, nested = _resolve(args[1])
        if nested is not None:
            raise TypeError(
                f"unsupported Model annotation: {annotation!r} "
                "(containers of containers-of-models are not columnar)"
            )
        return f"map<string,{vdt}>", vextra, True, None
    if _is_model(annotation):
        return _struct_dtype(annotation), {}, True, ("model", annotation)
    if annotation in _MARKERS:
        dtype, extra = _MARKERS[annotation]
        return dtype, dict(extra), True, None
    if annotation in _SCALARS:
        return _SCALARS[annotation], {}, True, None
    raise TypeError(f"unsupported Model annotation: {annotation!r}")


class ModelValidationError(Exception):
    """Raised when Model construction fails (src/satya/__init__.py:76-81)."""

    def __init__(self, errors: list):
        self.errors = errors
        super().__init__("; ".join(f"{e.field}: {e.message}" for e in errors))


class ModelMeta(type):
    def __new__(mcs, name, bases, ns):
        own_names = [
            n
            for n in ns.get("__annotations__", {})
            if not n.startswith("_") and n != "model_config"
        ]
        defs = {n: ns.pop(n, Field()) for n in own_names}
        ns["_validator_instance"] = None
        cls = super().__new__(mcs, name, bases, ns)

        fields: Dict[str, Field] = {}
        for base in bases:
            fields.update(getattr(base, "__fields__", {}))
        if own_names:
            from typing import get_type_hints

            # resolves string annotations (PEP 563 / `from __future__
            # import annotations`) against the defining module
            hints = get_type_hints(cls)
        import dataclasses as _dc

        for fname in own_names:
            fdef = defs[fname]
            if not isinstance(fdef, Field):
                fdef = Field(default=fdef)
            ann = fdef.type if fdef.type is not None else hints[fname]
            dtype, extra, required, nested = _resolve(ann)
            if fdef.required is not None:
                required = fdef.required
            if fdef.default is not None or fdef.default_factory is not None:
                required = False
            fdef._nested = nested
            fdef._extra_specs = ()
            if nested is not None and nested[0] == "model":
                # nested Model → struct column (required check only) +
                # flattened dotted-path FieldSpecs carrying the inner
                # constraints (the spec layer validates dotted paths)
                mcls = nested[1]
                fdef._spec = FieldSpec(
                    name=fname, dtype=dtype, required=required
                )
                fdef._extra_specs = tuple(
                    _dc.replace(s, name=f"{fname}.{s.name}")
                    for s in _flatten_model(mcls)
                )
            elif nested is not None:
                # List[Model] / Dict[str, Model] → container column
                # with per-element struct rules (item_fields) + the
                # declared container constraints (min/max_items, ...)
                mcls = nested[1]
                fdef._spec = FieldSpec(
                    name=fname,
                    dtype=dtype,
                    required=required,
                    item_fields=_flatten_model(mcls),
                    **fdef.kw,
                )
            else:
                fdef._spec = FieldSpec(
                    name=fname,
                    dtype=dtype,
                    required=required,
                    default=fdef.default,
                    default_factory=fdef.default_factory,
                    **{**extra, **fdef.kw},
                )
            fields[fname] = fdef
        cls.__fields__ = fields
        # decorator-registered validators (@field_validator /
        # @model_validator, reference src/satya/validators.py:66-140):
        # collected per class over the MRO so inheritance works;
        # check_fields rejects unknown names at class creation
        from .validators import collect_validators

        cls.__field_validators__, cls.__model_validators__ = collect_validators(cls)
        # serializer registrations (@field_serializer /
        # @model_serializer / @computed_field, reference
        # src/satya/serializers.py) — consumed by model_dump
        from .serializers import collect_serializers

        (
            cls.__field_serializers_map__,
            cls.__model_serializer_def__,
            cls.__computed_fields__,
        ) = collect_serializers(cls)
        return cls


def _default_value(fdef: Field) -> Any:
    """Per-record default: default_factory runs per call; mutable
    plain defaults are deep-copied so instances never share state
    (reference src/satya/__init__.py:369-381,
    tests/test_edge_cases.py:46-64)."""
    import copy

    if fdef.default_factory is not None:
        return fdef.default_factory()
    if isinstance(fdef.default, (list, dict, set, bytearray)):
        return copy.deepcopy(fdef.default)
    return fdef.default


def _prefix_errors(prefix: str, errors: list) -> list:
    from .compat import ValidationError

    return [
        ValidationError(
            f"{prefix}.{e.field}",
            e.message,
            value=e.value,
            path=[prefix] + list(e.path or []),
            constraint=e.constraint,
            suggestion=e.suggestion,
        )
        for e in errors
    ]


_PATH_MISSING = object()

# Dotted value-rule paths the ENCLOSING model replaced via a
# plain/wrap validator, threaded into nested constructors so the
# inner class's compiled kernels are dropped for exactly those leaves
# ("*" = the whole subtree was replaced). Context-local, so
# concurrent hydrations don't interfere.
import contextvars as _contextvars

_SUPPRESSED_RULES: _contextvars.ContextVar = _contextvars.ContextVar(
    "satya_spark_suppressed_value_rules", default=frozenset()
)


def _sub_suppressed(plain_fields: set, fname: str) -> frozenset:
    """Plain/wrap paths under ``fname``, re-rooted for the nested
    class's constructor ('meta.email' → 'email'; plain on 'meta'
    itself → '*')."""
    if fname in plain_fields or "*" in plain_fields:
        return frozenset(("*",))
    return frozenset(
        p.split(".", 1)[1] for p in plain_fields if p.startswith(fname + ".")
    )


def _path_get(obj: Any, parts: list):
    """Resolve a dotted path through plain dicts (and hydrated Model
    instances on the after-transform pass); _PATH_MISSING when any
    hop is absent or untraversable."""
    for p in parts:
        if isinstance(obj, dict):
            if p not in obj:
                return _PATH_MISSING
            obj = obj[p]
        elif isinstance(obj, Model):
            d = obj.__dict__.get("_data") or {}
            if p not in d:
                return _PATH_MISSING
            obj = d[p]
        else:
            return _PATH_MISSING
    return obj


def _path_set(obj: Any, parts: list, value: Any) -> None:
    """Write through the same containers _path_get traverses. Callers
    must have confirmed the path resolves."""
    for p in parts[:-1]:
        obj = obj[p] if isinstance(obj, dict) else obj.__dict__["_data"][p]
    if isinstance(obj, dict):
        obj[parts[-1]] = value
    else:
        obj.__dict__["_data"][parts[-1]] = value


class Model(metaclass=ModelMeta):
    """Reference-shaped Model base (src/satya/__init__.py:330-900,
    reduced to the validation/dump surface). Nested composition —
    ``inner: Inner``, ``List[Inner]``, ``Dict[str, Inner]`` — is
    validated recursively with dotted error paths on this small-batch
    path (reference src/satya/validator.py:310-374,
    tests/test_nested_models.py) and compiles to struct/array-of-
    struct kernels on the ``validate_df`` scale path."""

    __fields__: Dict[str, Field] = {}
    # reference model_config (src/satya/__init__.py:271-276):
    # extra: 'ignore' | 'allow' | 'forbid'; frozen: bool.
    # NB: deliberately UNANNOTATED — the metaclass collects annotated
    # names as fields
    model_config = {}

    def __init__(self, **data: Any):
        from .compat import ValidationError
        from .validators import (
            ValidationInfo,
            call_field_validator,
            call_model_validator_before,
        )

        cls = type(self)
        config = getattr(cls, "model_config", {}) or {}
        # ABSENT-valued inputs are equivalent to the key being missing
        # (reference src/satya/absent.py; facade-only — the columnar
        # engine's null ≡ absent adjudication stands at scale)
        from .absent import filter_absent as _fa

        data = _fa(data)
        fvs = getattr(cls, "__field_validators__", [])
        mvs = getattr(cls, "__model_validators__", [])
        # @model_validator(mode='before'): raw-dict rewrite ahead of
        # everything (reference src/satya/validators.py:252-258)
        for mv in mvs:
            if mv.mode != "before":
                continue
            try:
                res = call_model_validator_before(mv, cls, dict(data))
                if isinstance(res, dict):
                    data = res
            except Exception as e:  # noqa: BLE001
                raise ModelValidationError(
                    [ValidationError("<model>", str(e) or mv.name, constraint=mv.name)]
                ) from e
        # @field_validator mode='before'/'plain'/'wrap': transform
        # provided values ahead of the compiled kernels; 'plain' and
        # 'wrap' additionally REPLACE the field's standard validation
        # ('wrap' gets a handler that runs it — pykernels twins)
        fv_errs: list = []
        plain_fields: set = set()
        if fvs:
            import copy

            from .validators import call_wrap_validator

            data = dict(data)
            copied: set = set()
            for fv in fvs:
                if fv.mode not in ("before", "plain", "wrap"):
                    continue
                for fname in fv.fields:
                    if fv.mode in ("plain", "wrap"):
                        plain_fields.add(fname)
                    parts = fname.split(".")
                    if len(parts) > 1 and parts[0] not in copied and isinstance(
                        data.get(parts[0]), (dict, Model)
                    ):
                        # copy-on-write: a dotted transform must never
                        # mutate the caller's nested input — neither a
                        # dict nor an already-constructed Model
                        # instance (whose _data _path_set writes into)
                        data[parts[0]] = copy.deepcopy(data[parts[0]])
                        copied.add(parts[0])
                    cur = _path_get(data, parts)
                    if cur is _PATH_MISSING or cur is None:
                        continue  # nulls skip value rules (engine-wide)
                    try:
                        info = ValidationInfo(fname, dict(data), config)
                        if fv.mode == "wrap":
                            from .pykernels import standard_handler

                            nv = call_wrap_validator(
                                fv, cls, cur,
                                standard_handler(cls.spec_field(fname)),
                                info,
                            )
                        else:
                            nv = call_field_validator(fv, cls, cur, info)
                        _path_set(data, parts, nv)
                    except Exception as e:  # noqa: BLE001
                        fv_errs.append(
                            ValidationError(
                                fname, str(e) or fv.name, value=cur,
                                constraint=fv.name,
                            )
                        )
        # value rules the ENCLOSING model's plain/wrap validators
        # replaced for this instance's subtree (set while a parent
        # hydrates us; empty at the top level)
        plain_fields |= set(_SUPPRESSED_RULES.get())
        nested_names = {
            n for n, f in cls.__fields__.items() if getattr(f, "_nested", None)
        }
        extras = [k for k in data if k not in cls.__fields__]
        scalars = {
            k: v
            for k, v in data.items()
            if k not in nested_names and k in cls.__fields__
        }
        # 'plain'/'wrap' REPLACE a field's VALUE kernels but not
        # presence/shape policy: required and extra-field verdicts
        # survive; value-rule verdicts for replaced paths (exact
        # dotted path, any path under a replaced prefix, or
        # everything when a parent replaced this whole subtree via
        # '*') are dropped — the same predicate as the validate_df
        # scale path (validators.apply_validators_df)
        def _rule_replaced(field: str) -> bool:
            return (
                "*" in plain_fields
                or field in plain_fields
                or field.split(".")[0].split("[")[0] in plain_fields
            )

        errs = list(cls.validator().validate(scalars).errors)
        if config.get("extra", "ignore") == "forbid" and extras:
            errs.extend(
                ValidationError(
                    k, "extra fields not permitted", constraint="extra_field"
                )
                for k in extras
            )
        hydrated: Dict[str, Any] = {}
        for fname, fdef in cls.__fields__.items():
            nested = getattr(fdef, "_nested", None)
            if nested is None:
                continue
            kind, mcls = nested
            v = data.get(fname)
            if v is None:
                if fdef._spec.required and fname not in data:
                    errs.append(
                        ValidationError(
                            fname, "required field missing", constraint="required"
                        )
                    )
                elif fdef._spec.required:
                    errs.append(
                        ValidationError(
                            fname, "required field is null", constraint="required"
                        )
                    )
                else:
                    # explicit None stays None for an optional nested
                    # field (matches the scalar path and exclude_unset
                    # semantics); only an ABSENT key takes the default
                    hydrated[fname] = (
                        None if fname in data else _default_value(fdef)
                    )
                continue
            if fname in plain_fields or "*" in plain_fields:
                # plain/wrap on the WHOLE nested field: the validator's
                # return IS the value (Pydantic plain semantics) —
                # stored verbatim, standard nested validation replaced
                hydrated[fname] = v
                continue
            # plain/wrap on a DOTTED path under this field: thread the
            # re-rooted paths into the nested constructor so the inner
            # class drops exactly those leaf kernels
            # ALWAYS set (even to empty) — otherwise the suppression
            # set a parent installed for THIS constructor would leak
            # into sibling nested fields' constructors and silently
            # disable their kernels
            _sub = _sub_suppressed(plain_fields, fname)
            _tok = _SUPPRESSED_RULES.set(_sub)
            try:
                if kind == "model":
                    hydrated[fname] = self._hydrate_one(fname, mcls, v, errs)
                elif kind == "list_model":
                    if not isinstance(v, (list, tuple)):
                        errs.append(
                            ValidationError(
                                fname,
                                f"Expected list, got {type(v).__name__}",
                                value=v,
                                constraint="type",
                            )
                        )
                        continue
                    s = fdef._spec
                    if s.min_items is not None and len(v) < s.min_items:
                        errs.append(
                            ValidationError(
                                fname,
                                f"min_items violated ({len(v)} < {s.min_items})",
                                constraint="min_items",
                            )
                        )
                    if s.max_items is not None and len(v) > s.max_items:
                        errs.append(
                            ValidationError(
                                fname,
                                f"max_items violated ({len(v)} > {s.max_items})",
                                constraint="max_items",
                            )
                        )
                    hydrated[fname] = [
                        self._hydrate_one(f"{fname}[{i}]", mcls, el, errs)
                        for i, el in enumerate(v)
                    ]
                elif kind == "dict_model":
                    if not isinstance(v, dict):
                        errs.append(
                            ValidationError(
                                fname,
                                f"Expected dict, got {type(v).__name__}",
                                value=v,
                                constraint="type",
                            )
                        )
                        continue
                    hydrated[fname] = {
                        k: self._hydrate_one(f"{fname}.{k}", mcls, el, errs)
                        for k, el in v.items()
                    }
            finally:
                _SUPPRESSED_RULES.reset(_tok)
        # apply the replacement filter to EVERYTHING standard —
        # compiled scalar kernels, extra-field policy, and nested
        # hydration errors alike; the decorated validators' own
        # verdicts (fv_errs) are never filtered
        errs = fv_errs + [
            e
            for e in errs
            if e.constraint in ("required", "extra_field")
            or not _rule_replaced(e.field)
        ]
        if errs:
            raise ModelValidationError(errs)
        d = {}
        for n, f in cls.__fields__.items():
            if n in hydrated:
                d[n] = hydrated[n]
            elif n in data:
                d[n] = data[n]
            else:
                dv = _default_value(f)
                from .absent import is_absent as _ia

                if _ia(dv):
                    # default=ABSENT: the field stays OUT of _data —
                    # attribute access raises, dumps skip it ("missing
                    # keys stay absent", reference absent.py:34-39)
                    continue
                d[n] = dv
        fields_set = set(data) & set(cls.__fields__)
        if config.get("extra", "ignore") == "allow":
            for k in extras:
                d[k] = data[k]
            fields_set |= set(extras)
        # @field_validator(mode='after'): transform the VALIDATED
        # value (runs only once standard validation passed)
        after_errs: list = []
        for fv in fvs:
            if fv.mode != "after":
                continue
            for fname in fv.fields:
                parts = fname.split(".")
                cur = _path_get(d, parts)
                if cur is _PATH_MISSING or cur is None:
                    continue
                try:
                    _path_set(
                        d,
                        parts,
                        call_field_validator(
                            fv, cls, cur, ValidationInfo(fname, dict(d), config)
                        ),
                    )
                except Exception as e:  # noqa: BLE001
                    after_errs.append(
                        ValidationError(
                            fname, str(e) or fv.name, value=cur,
                            constraint=fv.name,
                        )
                    )
        if after_errs:
            raise ModelValidationError(after_errs)
        object.__setattr__(self, "_data", d)
        object.__setattr__(self, "_fields_set", fields_set)
        # @model_validator(mode='after'): runs on the constructed
        # instance (reference src/satya/validators.py:260-263); the
        # return value is the instance itself (rewrites mutate self)
        for mv in mvs:
            if mv.mode != "after":
                continue
            try:
                mv.func(self)
            except Exception as e:  # noqa: BLE001
                raise ModelValidationError(
                    [ValidationError("<model>", str(e) or mv.name, constraint=mv.name)]
                ) from e

    @property
    def __fields_set__(self) -> set:
        """Names explicitly provided at construction (Pydantic
        parity; drives ``model_dump(exclude_unset=True)``)."""
        return set(self.__dict__.get("_fields_set", ()))

    def __setattr__(self, name: str, value: Any) -> None:
        config = getattr(type(self), "model_config", {}) or {}
        # frozen models reject assignment (model_config['frozen'],
        # reference src/satya/__init__.py:492-495)
        if config.get("frozen", False):
            raise ValueError(
                f"'{type(self).__name__}' is frozen and does not support"
                " item assignment"
            )
        if name != "_data" and name in getattr(self, "_data", {}):
            # validate_assignment: run the field's compiled kernels on
            # the new value (reference src/satya/__init__.py:496-530
            # does an isinstance check; here the FULL constraint set
            # applies — same engine as construction), with decorator
            # validators in construction order: before/plain
            # transforms → kernels (skipped for plain) → after
            if (
                config.get("validate_assignment", False)
                and name in type(self).__fields__
                and not getattr(type(self).__fields__[name], "_nested", None)
            ):
                from .compat import ValidationError
                from .validators import ValidationInfo, call_field_validator

                cls = type(self)
                fvs = getattr(cls, "__field_validators__", [])
                plain = False
                for fv in fvs:
                    if (
                        fv.mode not in ("before", "plain", "wrap")
                        or name not in fv.fields
                    ):
                        continue
                    plain = plain or fv.mode in ("plain", "wrap")
                    if value is None:
                        continue
                    try:
                        if fv.mode == "wrap":
                            from .pykernels import standard_handler
                            from .validators import call_wrap_validator

                            value = call_wrap_validator(
                                fv, cls, value,
                                standard_handler(cls.spec_field(name)),
                                ValidationInfo(name, None, config),
                            )
                        else:
                            value = call_field_validator(
                                fv, cls, value, ValidationInfo(name, None, config)
                            )
                    except Exception as e:  # noqa: BLE001
                        raise ModelValidationError(
                            [
                                ValidationError(
                                    name, str(e) or fv.name, value=value,
                                    constraint=fv.name,
                                )
                            ]
                        ) from e
                if not plain:
                    errs = [
                        e
                        for e in cls.validator().validate({name: value}).errors
                        if e.field == name
                    ]
                    if errs:
                        raise ModelValidationError(errs)
                for fv in fvs:
                    if fv.mode != "after" or name not in fv.fields or value is None:
                        continue
                    try:
                        value = call_field_validator(
                            fv, cls, value, ValidationInfo(name, None, config)
                        )
                    except Exception as e:  # noqa: BLE001
                        raise ModelValidationError(
                            [
                                ValidationError(
                                    name, str(e) or fv.name, value=value,
                                    constraint=fv.name,
                                )
                            ]
                        ) from e
            self._data[name] = value
            self.__dict__.setdefault("_fields_set", set()).add(name)
            return
        object.__setattr__(self, name, value)

    @staticmethod
    def _hydrate_one(path: str, mcls: type, v: Any, errs: list):
        from .compat import ValidationError

        if isinstance(v, mcls):
            return v
        if isinstance(v, dict):
            try:
                return mcls(**v)
            except ModelValidationError as e:
                errs.extend(_prefix_errors(path, e.errors))
                return None
        errs.append(
            ValidationError(
                path,
                f"Expected {mcls.__name__} or dict, got {type(v).__name__}",
                value=v,
                constraint="type",
            )
        )
        return None

    def __getattr__(self, item: str) -> Any:
        d = self.__dict__.get("_data") or {}
        if item in d:
            return d[item]
        raise AttributeError(item)

    def __repr__(self) -> str:  # pragma: no cover
        inner = ", ".join(f"{k}={v!r}" for k, v in self._data.items())
        return f"{type(self).__name__}({inner})"

    # --- class-level spec / validator (compiled once, cached) ---------
    @classmethod
    def spec(cls) -> TableSpec:
        """TableSpec including flattened nested-model dotted paths —
        the same declaration drives the DataFrame kernels."""
        out = []
        for f in cls.__fields__.values():
            out.append(f._spec)
            out.extend(getattr(f, "_extra_specs", ()))
        return TableSpec(name=cls.__name__.lower(), fields=tuple(out))

    @classmethod
    def spec_field(cls, name: str):
        """FieldSpec for one (possibly dotted) field path — the
        declaration a ``mode='wrap'`` handler validates against."""
        for f in cls.spec().fields:
            if f.name == name:
                return f
        raise KeyError(name)

    @classmethod
    def validator(cls, spark=None):
        """StreamValidator for this Model — the _validator_instance
        cache analog (src/satya/__init__.py:526-599)."""
        from .compat import StreamValidator

        v = cls.__dict__.get("_validator_instance")
        if v is None:
            v = StreamValidator(spark)
            for fname, fdef in cls.__fields__.items():
                if getattr(fdef, "_nested", None):
                    continue  # nested models validate recursively
                s = fdef._spec
                kw = {}
                for k in _FIELD_KWARGS:
                    if k == "alias":
                        continue
                    val = getattr(s, k)
                    # NB: `val not in (None, False)` would drop gt=0 /
                    # ge=0.0 (0 == False in Python)
                    if isinstance(val, bool):
                        if val:
                            kw[k] = val
                    elif val is not None:
                        kw[k] = val
                v._fields[fname] = {
                    "dtype": s.dtype,
                    "required": s.required,
                    **kw,
                    **({"secret": True} if s.secret else {}),
                }
            cls._validator_instance = v
        return v

    @classmethod
    def model_json_schema(cls) -> Dict[str, Any]:
        """JSON Schema for this Model, nested structure included
        (reference ``src/satya/__init__.py:882-918``);
        model_config['extra'] maps to additionalProperties."""
        from .spec_json import to_json_schema

        out = to_json_schema(cls.spec())
        extra = (getattr(cls, "model_config", {}) or {}).get("extra", "ignore")
        if extra == "forbid":
            out["additionalProperties"] = False
        elif extra == "allow":
            out["additionalProperties"] = True
        return out

    @classmethod
    def json_schema(cls) -> Dict[str, Any]:
        """Reference alias (src/satya/__init__.py json_schema)."""
        return cls.model_json_schema()

    @classmethod
    def schema(cls) -> Dict[str, Any]:
        """Pydantic-v1 alias."""
        return cls.model_json_schema()

    # --- validation entry points (src/satya/__init__.py:607-731) ------
    @classmethod
    def model_validate(cls, data: Dict[str, Any]) -> "Model":
        if not isinstance(data, dict):
            raise TypeError(f"Expected dict, got {type(data).__name__}")
        return cls(**data)

    @classmethod
    def model_validate_json(cls, json_str: Union[str, bytes]) -> "Model":
        return cls(**json.loads(json_str))

    @classmethod
    def model_validate_batch(cls, items: List[dict]) -> List[bool]:
        return cls.validator().validate_batch(items)

    # Pydantic-v1-style + reference aliases (src/satya/__init__.py:
    # 632, 668, 814-835): this engine's compiled-Column validator IS
    # the fast path, so the *_fast/_nested variants share it.
    @classmethod
    def parse_obj(cls, obj: Dict[str, Any]) -> "Model":
        return cls.model_validate(obj)

    @classmethod
    def parse_raw(cls, data: str) -> "Model":
        return cls.model_validate_json(data)

    @classmethod
    def model_validate_fast(cls, data: Dict[str, Any]) -> "Model":
        return cls.model_validate(data)

    @classmethod
    def model_validate_nested(cls, data: Dict[str, Any]) -> "Model":
        return cls.model_validate(data)  # nesting is the default here

    @classmethod
    def validate_many(cls, data_list: List[dict]) -> List["Model"]:
        """Validate many records; raises on the first invalid one
        (reference validate_many, src/satya/__init__.py:668-703 —
        there hydrating 'FastModel' slots; here ordinary instances.
        The true batch path is ``validate_df``.)"""
        return [cls(**d) for d in data_list]

    # --- JSON-bytes APIs (src/satya/__init__.py:705-731) ---------------
    @classmethod
    def model_validate_json_bytes(
        cls, data: Union[str, bytes], *, streaming: bool = True
    ) -> "Model":
        py = json.loads(data)
        if not isinstance(py, dict):
            from .compat import ValidationError

            raise ModelValidationError(
                [ValidationError("root", "JSON must represent an object")]
            )
        return cls(**py)

    @classmethod
    def model_validate_json_array_bytes(
        cls, data: Union[str, bytes], *, streaming: bool = True
    ) -> List[bool]:
        py = json.loads(data)
        if not isinstance(py, list):
            return [False]
        out = []
        for item in py:
            if not isinstance(item, dict):
                out.append(False)
                continue
            try:
                cls(**item)
                out.append(True)
            except ModelValidationError:
                out.append(False)
        return out

    @classmethod
    def model_validate_ndjson_bytes(
        cls, data: Union[str, bytes], *, streaming: bool = True
    ) -> List[bool]:
        text = data.decode() if isinstance(data, bytes) else data
        out = []
        for line in text.splitlines():
            if not line.strip():
                continue
            try:
                py = json.loads(line)
                if not isinstance(py, dict):
                    out.append(False)
                    continue
                cls(**py)
                out.append(True)
            except (ModelValidationError, ValueError):
                out.append(False)
        return out

    # --- construct / copy (src/satya/__init__.py:796-880) --------------
    @classmethod
    def model_construct(cls, **data: Any) -> "Model":
        """Construct WITHOUT validation (Pydantic-like). Nested Model
        fields hydrate best-effort from dicts; model_config['extra']
        honored ('allow' stores extras, 'forbid' raises)."""
        from .compat import ValidationError

        self = object.__new__(cls)
        config = getattr(cls, "model_config", {}) or {}
        d: Dict[str, Any] = {}
        for n, fdef in cls.__fields__.items():
            value = data.get(n, _default_value(fdef))
            nested = getattr(fdef, "_nested", None)
            try:
                if nested is not None and value is not None:
                    kind, mcls = nested
                    if kind == "model" and isinstance(value, dict):
                        value = mcls(**value)
                    elif kind == "list_model" and isinstance(value, list):
                        value = [
                            mcls(**v) if isinstance(v, dict) else v for v in value
                        ]
                    elif kind == "dict_model" and isinstance(value, dict):
                        value = {
                            k: mcls(**v) if isinstance(v, dict) else v
                            for k, v in value.items()
                        }
            except ModelValidationError:
                pass  # best-effort construction; leave value as-is
            d[n] = value
        extras = [k for k in data if k not in cls.__fields__]
        if config.get("extra", "ignore") == "allow":
            for k in extras:
                d[k] = data[k]
        elif config.get("extra", "ignore") == "forbid" and extras:
            raise ModelValidationError(
                [
                    ValidationError(
                        k, "extra fields not permitted", constraint="extra_field"
                    )
                    for k in extras
                ]
            )
        object.__setattr__(self, "_data", d)
        object.__setattr__(self, "_fields_set", set(data) & set(d))
        return self

    def model_copy(
        self, *, update: Optional[Dict[str, Any]] = None, deep: bool = False
    ) -> "Model":
        """Copy, optionally updating fields (re-validates via
        __init__, like the reference's ``self.__class__(**data)``)."""
        import copy as _copy

        data = _copy.deepcopy(self._data) if deep else dict(self._data)
        if update:
            data.update(update)
        # nested Model instances re-enter __init__ as instances (ok)
        return type(self)(**data)

    def dict(self) -> Dict[str, Any]:
        """Pydantic-v1 alias (reference src/satya/__init__.py:601-603)."""
        return dict(self._data)

    # --- the scale path -------------------------------------------------
    @classmethod
    def validate_df(cls, df):
        """The SAME class declaration as one codegen'd DataFrame pass:
        input + valid + violations columns. This is where a reference
        user's Model graduates to the 10^12-row path."""
        from pyspark.sql import functions as F

        from .coerce import spark_type
        from .validators import apply_validators_df

        spec = cls.spec()
        out = df
        for f in spec.fields:
            # fill only missing TOP-LEVEL columns (dotted names are
            # struct paths INSIDE a filled/present parent column — a
            # withColumn would create a literal column with a dot in
            # its name and shadow the struct path)
            if "." not in f.name and f.name not in df.columns:
                out = out.withColumn(f.name, F.lit(None).cast(spark_type(f.dtype)))
        # compiles the kernels AND applies any @field_validator /
        # @model_validator registrations as Arrow-batched pandas UDFs
        # around them (no-op without registrations)
        return apply_validators_df(cls, out)

    # --- dump (src/satya/__init__.py:732-794) ---------------------------
    def model_dump(
        self,
        *,
        include: Optional[set] = None,
        exclude: Optional[set] = None,
        by_alias: bool = False,
        exclude_none: bool = False,
        exclude_unset: bool = False,
        exclude_defaults: bool = False,
        mode: str = "python",  # 'python' | 'json' (Pydantic v2 parity;
        # gates when_used='json' field serializers)
        _skip_model_serializer: bool = False,
    ) -> Dict[str, Any]:
        def _dump(v):
            if isinstance(v, Model):
                # propagate the recursive flags (Pydantic semantics) —
                # notably mode, so nested when_used='json' serializers
                # fire under model_dump_json; include/exclude are
                # top-level name sets and do NOT recurse
                return v.model_dump(
                    by_alias=by_alias, exclude_none=exclude_none, mode=mode
                )
            if isinstance(v, (list, tuple)):
                return [_dump(x) for x in v]
            if isinstance(v, dict):
                return {k: _dump(x) for k, x in v.items()}
            return v

        cls = type(self)
        # @model_serializer replaces the whole dump (reference
        # serializers.py:38-55; consumed here, unlike the reference)
        mser = getattr(cls, "__model_serializer_def__", None)
        if mser is not None and not _skip_model_serializer:
            func, smode = mser

            def _standard():
                return self.model_dump(
                    include=include, exclude=exclude, by_alias=by_alias,
                    exclude_none=exclude_none, exclude_unset=exclude_unset,
                    exclude_defaults=exclude_defaults, mode=mode,
                    _skip_model_serializer=True,
                )

            return func(self, _standard) if smode == "wrap" else func(self)

        fsers = getattr(cls, "__field_serializers_map__", {})
        out = {}
        fields = type(self).__fields__
        # iterate stored data (declared fields first, then any
        # extra='allow' extras) so extras round-trip through dump —
        # the reference iterates self._data too
        # (src/satya/__init__.py:752+, 866-872)
        names = list(fields) + [k for k in self._data if k not in fields]
        for n in names:
            f = fields.get(n)
            if include is not None and n not in include:
                continue
            if exclude and n in exclude:
                continue
            if n not in self._data:
                continue  # ABSENT field: missing keys stay absent
            v = self._data.get(n)
            if exclude_none and v is None:
                continue
            # exclude_unset: only fields explicitly provided at
            # construction (tracked in __fields_set__ — the reference's
            # own check is vacuous, src/satya/__init__.py:759-761)
            if exclude_unset and n not in self.__fields_set__:
                continue
            if (
                exclude_defaults
                and f is not None
                and f.default is not None
                and v == f.default
            ):
                continue
            key = (
                f._spec.alias if (f is not None and by_alias and f._spec.alias)
                else n
            )
            ser = fsers.get(n)
            if ser is not None:
                func, smode, when, nargs = ser
                skip = (when == "unless-none" and v is None) or (
                    when == "json" and mode != "json"
                )
                if not skip:
                    if smode == "wrap":
                        out[key] = (
                            func(self, v, _dump)
                            if nargs >= 3
                            else func(self, v)
                        )
                    else:
                        out[key] = func(self, v)
                    continue
            out[key] = _dump(v)
        # @computed_field entries join the dump under name/alias
        # (reference serializers.py:57-77; include/exclude/none
        # filters apply like declared fields)
        for cname, fget, alias in getattr(cls, "__computed_fields__", ()):
            if include is not None and cname not in include:
                continue
            if exclude and cname in exclude:
                continue
            cv = fget(self)
            if exclude_none and cv is None:
                continue
            out[alias if (by_alias and alias) else cname] = _dump(cv)
        return out

    def model_dump_json(self, **kw: Any) -> str:
        kw.setdefault("mode", "json")  # fires when_used='json' serializers

        def _default(o):
            if isinstance(o, (_dt.datetime, _dt.date)):
                return o.isoformat()
            if isinstance(o, Decimal):
                return float(o)
            return str(o)

        return json.dumps(self.model_dump(**kw), default=_default)
