"""Coercion mode — SURVEY.md §2.4, the reference's scalar-function
surface (``src/satya/validator.py:596-662``; ``src/blaze_validator.rs:
266-363``). Strict mode rejects wrong types; coercion mode normalizes
them first:

* str → int/long/double via ``try_cast`` (null on failure, the Blaze
  parse-failure analog)
* str → bool: case-insensitive 'true'/'false' ONLY
  (``src/satya/validator.py:606-613``)
* str → timestamp: ISO-8601, ``Z`` → UTC
  (``src/satya/validator.py:649-658``)
* declared transforms strip_whitespace / to_lower / to_upper
  (``src/satya/__init__.py:125-127``)
* defaults for null optionals (``src/satya/__init__.py:369-381``)

All casts are codegen'd Column expressions; coercion is one
projection fused into the validation scan.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .spec import FieldSpec, TableSpec

_NUMERIC = {"int", "long", "double", "float"}


def coerce_column(f: FieldSpec, col: Column) -> Column:
    out = col
    if f.before is not None:
        # @field_validator(mode='before') transform: runs ahead of
        # declared transforms, casts, and every kernel
        out = f.before(out)
    if f.strip_whitespace:
        out = F.trim(out)
    if f.to_lower:
        out = F.lower(out)
    if f.to_upper:
        out = F.upper(out)
    if f.dtype in _NUMERIC:
        out = out.try_cast("long" if f.dtype in ("int", "long") else "double")
        if f.dtype == "int":
            out = out.try_cast("int")
    elif f.dtype == "bool":
        low = F.lower(out.cast("string"))
        out = (
            F.when(low == "true", F.lit(True))
            .when(low == "false", F.lit(False))
            .otherwise(F.lit(None).cast("boolean"))
        )
    elif f.dtype == "timestamp":
        s = F.regexp_replace(out.cast("string"), "Z$", "+00:00")
        out = s.try_cast("timestamp")
    elif f.dtype.startswith("decimal"):
        out = out.try_cast(f.dtype)
    elif f.dtype == "string":
        out = out.cast("string")
    d = _columnar_default(f)
    if d is not None and not f.required:
        out = F.coalesce(out, F.lit(d))
    return out


def _columnar_default(f: FieldSpec):
    """Fill value for the columnar path: ``default`` as-is, else
    ``default_factory()`` evaluated ONCE at coercion-compile time (a
    per-record factory is meaningless for columns — the documented
    stance; the Model/compat path runs the factory per record).
    Non-literal-able factory products (dicts, objects) are skipped."""
    if f.default is not None:
        # dict defaults (map/struct columns) are not F.lit-able — the
        # spec keeps them (JSON-Schema round-trip) but the columnar
        # fill skips them
        if isinstance(f.default, dict):
            return None
        return f.default
    if f.default_factory is not None:
        v = f.default_factory()
        if isinstance(v, (str, int, float, bool, list, tuple)):
            return v
    return None


def coerce(df: DataFrame, spec: TableSpec) -> DataFrame:
    """Apply all declared coercions/transforms/defaults in one
    projection. Columns absent from the input are created as typed
    nulls (the 'missing key' case — columnar tables represent it as
    null, SURVEY.md §2.2)."""
    cols = {}
    for f in spec.fields:
        if "." in f.name:
            continue  # struct paths live inside their parent column
        if f.name in df.columns:
            cols[f.name] = coerce_column(f, F.col(f.name))
        else:
            base = F.lit(None).cast(spark_type(f.dtype))
            d = _columnar_default(f)
            if d is not None and not f.required:
                base = F.coalesce(base, F.lit(d))
            cols[f.name] = base
    return df.withColumns(cols)


def spark_type(dtype: str) -> str:
    """spec dtype vocabulary → Spark SQL type string ('bool' →
    'boolean' at any depth: ``array<bool>``, ``struct<f:bool>``; a
    struct field NAMED bool is left alone)."""
    return re.sub(r"(?<![\w`])bool(?![\w:`])", "boolean", dtype)
