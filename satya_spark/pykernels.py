"""Pure-Python twins of the compiled VALUE kernels — the engine
behind ``mode='wrap'`` validator handlers and the facade's fast path.

A wrap validator (reference ``src/satya/validators.py:143-202``)
receives ``(cls, value, handler, info)`` and decides whether/when to
invoke ``handler(value)`` — the field's standard validation. The
reference's own runner passes an IDENTITY handler
(``src/satya/validators.py:185-189``); here the handler actually runs
the field's standard value kernels, per value, in plain Python — the
Pydantic-faithful semantic (wrap REPLACES standard validation; calling
the handler is how the validator opts back in).

Why a Python twin instead of the compiled kernels: the handler runs
per value inside the caller's imperative scope — on the scale path
that scope is an executor-side Arrow batch loop where no SparkSession
exists. So each kernel is re-expressed here with EXACTLY the compiled
semantics (same trim char set, same ε-tolerant float modulo, same
regex + length rule for email, Spark's NaN ordering, java.util.regex
line terminators), and the equivalence is pinned by the hypothesis
differential fuzz in tests/test_property.py, which imports THESE
functions as its oracle — the code that powers wrap handlers is the
code fuzzed against the Spark kernels and DuckDB.

The same twins power the ``StreamValidator`` / ``Model`` fast path
(:mod:`satya_spark.compat`): :func:`expressible` says whether a field
can be validated here without changing any verdict, and
:func:`offending_value` renders a violation's value exactly like
``compiler.off_fns``.

Scope: scalar string/numeric constraints plus array
min/max_items + unique_items — the same set a wrap validator's field
can declare. Struct-element rules (``item_fields``) are a columnar
composition surface with no single-value analog; requesting a handler
for such a field raises at registration time rather than silently
checking less.
"""

from __future__ import annotations

import decimal
import functools
import math
import operator
import re
import struct
from typing import Any, Callable, List, Optional

from .spec import (
    EMAIL_MAX_LEN,
    EMAIL_PATTERN,
    MULTIPLE_OF_EPS,
    SECRET_MASK,
    URL_PATTERN,
    FieldSpec,
)

# the compiled min_length kernel trims this explicit ASCII-whitespace
# char set (compiler.py: SQL trim() strips spaces only; Python
# str.strip() also strips unicode whitespace — both dialects use this
# set, so the twin must too)
_TRIM_WS = " \t\n\r\x0b\x0c"


# --- regex dialect: java.util.regex (Spark rlike) in Python re ----------
#
# Outside a character class, Java's '.' excludes every line terminator
# and '$' also matches before a trailing '\r\n', '\n', '\r', '\u0085',
# '\u2028' or '\u2029' (never between the '\r' and '\n' of a pair);
# '\d', '\s', '\w' are ASCII-only (re.ASCII). Constructs whose meaning
# differs between the dialects, or that only one of them has, make the
# pattern untranslatable — such fields stay on the compiled kernels.
_DOT = "[^\n\r\x85\u2028\u2029]"
_DOLLAR = "(?=(?:\r\n|(?<!\r)\n|[\r\x85\u2028\u2029])?\\Z)"
# escapes with the same meaning in both dialects (re.ASCII); \xhh and
# \uhhhh are handled separately, escaped ASCII punctuation is literal
_SAME_ESCAPES = frozenset("dDsSwWtnrfa")
_GROUP_OPENERS = ("(?:", "(?=", "(?!", "(?<=", "(?<!")
_QUANT_BRACE = re.compile(r"\{\d+(?:,\d*)?\}")
_HEX = frozenset("0123456789abcdefABCDEF")


def _escape_len(p: str, i: int, in_class: bool) -> int:
    """Length of the escape starting at ``p[i] == '\\'`` if both
    dialects read it the same way, else 0."""
    if i + 1 >= len(p):
        return 0
    e = p[i + 1]
    if e in _SAME_ESCAPES or (e == "A" and not in_class):
        return 2
    if e in "xu":
        n = 2 if e == "x" else 4
        digits = p[i + 2 : i + 2 + n]
        return 2 + n if len(digits) == n and set(digits) <= _HEX else 0
    # escaped ASCII punctuation is a literal in both; letters/digits
    # not listed above (\b \Z \z \G \R \p \Q \E \h \v \k \0 \1 ...)
    # differ or exist in only one dialect
    return 2 if e.isascii() and not e.isalnum() else 0


def _translate_java_regex(p: str) -> Optional[str]:
    out: List[str] = []
    i, n = 0, len(p)
    while i < n:
        c = p[i]
        if c == "\\":
            k = _escape_len(p, i, in_class=False)
            if not k:
                return None
            out.append(p[i : i + k])
            i += k
        elif c == ".":
            out.append(_DOT)
            i += 1
        elif c == "$":
            out.append(_DOLLAR)
            i += 1
        elif c == "(":
            if p.startswith("(?", i):
                opener = next((g for g in _GROUP_OPENERS if p.startswith(g, i)), None)
                if opener is None:  # inline flags, named/atomic groups
                    return None
                out.append(opener)
                i += len(opener)
            else:
                out.append(c)
                i += 1
        elif c == "{":
            m = _QUANT_BRACE.match(p, i)
            if m is None:
                return None
            out.append(m.group())
            i = m.end()
        elif c == "[":
            # character class: '.' and '$' are literals in both
            # dialects; Java's nested classes and '&&' intersections
            # have no Python analog
            j = i + 1
            if p.startswith("^", j):
                j += 1
            if p.startswith("]", j):
                return None
            while True:
                if j >= n or p[j] == "[" or p.startswith("&&", j):
                    return None
                if p[j] == "]":
                    break
                if p[j] == "\\":
                    k = _escape_len(p, j, in_class=True)
                    if not k:
                        return None
                    j += k
                else:
                    j += 1
            out.append(p[i : j + 1])
            i = j + 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


@functools.lru_cache(maxsize=256)
def java_regex(pattern: str) -> Optional["re.Pattern[str]"]:
    """``pattern`` compiled so that ``.search`` answers exactly like
    Spark's ``rlike`` (java.util.regex ``find``); ``None`` when the
    pattern uses a construct the shim cannot translate."""
    translated = _translate_java_regex(pattern)
    if translated is None:
        return None
    try:
        return re.compile(translated, re.ASCII)
    except re.error:
        return None


def _regex(pattern: str) -> "re.Pattern[str]":
    """The one compile helper of the regex kernels: the Java-dialect
    translation when there is one, else the pattern as Python reads it
    (best effort for wrap handlers; the facade's fast path never takes
    such a field — see :func:`expressible`)."""
    return java_regex(pattern) or re.compile(pattern)


# --- numeric semantics: Spark's double ordering -------------------------
#
# Spark orders NaN above +inf and treats NaN = NaN (-0.0 = 0.0 holds in
# Python already); a long compared with a double is widened to double.
_NAN_KEY = (1, 0.0)


def _operands(v: Any, bound: Any):
    if isinstance(v, float) or isinstance(bound, float):
        v, bound = float(v), float(bound)
        return (
            _NAN_KEY if v != v else (0, v),
            _NAN_KEY if bound != bound else (0, bound),
        )
    return v, bound


_BOUND_RULES = (
    ("ge", operator.ge),
    ("le", operator.le),
    ("gt", operator.gt),
    ("lt", operator.lt),
    ("min_value", operator.ge),
    ("max_value", operator.le),
)


def _distinct_key(x: Any) -> Any:
    # array_distinct: NaN = NaN, but -0.0 and 0.0 stay distinct
    if isinstance(x, float):
        return _NAN_KEY if x != x else (0, x, math.copysign(1.0, x))
    return x


def value_violations(f: FieldSpec, v: Any) -> List[str]:
    """Names of the field's violated VALUE constraints for one value.
    ``None`` returns ``[]`` — nulls skip value rules engine-wide
    (presence is the separate ``required`` kernel, which wrap does not
    replace). Mirrors compiler.py's scalar/array kernel builders
    one-for-one; fuzz-pinned against them in tests/test_property.py.
    """
    if v is None:
        return []
    out: List[str] = []
    is_str = isinstance(v, str)
    # --- string kernels (compiler.py "string kernels") ---
    if f.min_length is not None and is_str:
        if len(v.strip(_TRIM_WS)) < f.min_length:
            out.append("min_length")
    if f.max_length is not None and is_str:
        if len(v) > f.max_length:
            out.append("max_length")
    if f.pattern is not None and is_str:
        if not _regex(f.pattern).search(v):
            out.append("pattern")
    if f.email and is_str:
        if not (_regex(EMAIL_PATTERN).search(v) and len(v) <= EMAIL_MAX_LEN):
            out.append("email")
    if f.url and is_str:
        if not _regex(URL_PATTERN).search(v):
            out.append("url")
    if f.enum is not None:
        if v not in f.enum:
            out.append("enum")
    # --- numeric kernels ---
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        for cname, ok in _BOUND_RULES:
            bound = getattr(f, cname)
            if bound is not None and not ok(*_operands(v, bound)):
                out.append(cname)
        if f.multiple_of is not None:
            m = f.multiple_of
            if isinstance(v, float) or float(m) != int(m):
                # ε-tolerant float modulo; math.fmod mirrors Spark's
                # fmod (sign of dividend) — abs() makes them agree.
                # Spark's x % m is NaN for x = NaN/±inf, failing both
                # ε tests (math.fmod raises there instead)
                r = abs(math.fmod(v, m)) if math.isfinite(v) else math.nan
                if not (r < MULTIPLE_OF_EPS or abs(r - m) < MULTIPLE_OF_EPS):
                    out.append("multiple_of")
            elif v % int(m) != 0:
                out.append("multiple_of")
    # --- array kernels ---
    if isinstance(v, (list, tuple)):
        if f.min_items is not None and len(v) < f.min_items:
            out.append("min_items")
        if f.max_items is not None and len(v) > f.max_items:
            out.append("max_items")
        if f.unique_items:
            distinct: List[Any] = []
            for key in map(_distinct_key, v):
                if key not in distinct:
                    distinct.append(key)
            if len(distinct) != len(v):
                out.append("unique_items")
    return out


# --- offending-value rendering (twin of compiler.off_fns) ---------------
#
# A double renders as CAST(TRY_CAST(x AS DECIMAL(28,6)) AS STRING).
# Spark builds that decimal from java.lang.Double.toString(x), whose
# digits (JDK <= 18 FloatingDecimal) are not always the shortest
# round-trip digits Python's repr gives — e.g. 5.1438710902126816E16 —
# so the digit generation is ported below. JDK 19 replaced that loop
# with a shortest-digits one; on such a JVM the facade keeps fields
# whose violations render doubles on the compiled kernels (see
# expressible).
_N5_BITS = [0] + [(5**i).bit_length() for i in range(1, 27)]
# the JDK's insignificantDigitsNumber table up to p2 = 8, the largest
# index an integer below 2**63 reaches
_INSIGNIFICANT_DIGITS = (0, 0, 0, 0, 1, 1, 1, 2, 2)


def _wrap(x: int, bits: int) -> int:
    """Two's-complement overflow of a Java int (32) / long (64)."""
    x &= (1 << bits) - 1
    return x - (1 << bits) if x >> (bits - 1) else x


def _java_double_digits(x: float) -> decimal.Decimal:
    """The decimal value of ``java.lang.Double.toString(x)`` for a
    finite ``x`` on JDK 18 or earlier — a port of the JDK 17
    ``FloatingDecimal.dtoa`` digit loop, including its int/long
    overflow behaviour."""
    bits = struct.unpack("<Q", struct.pack("<d", abs(x)))[0]
    sign = -1 if math.copysign(1.0, x) < 0 else 1
    fract, bin_exp = bits & ((1 << 52) - 1), bits >> 52
    if bin_exp == 0:
        if fract == 0:
            return decimal.Decimal(0)
        shift = 53 - fract.bit_length()  # normalise a subnormal
        fract <<= shift
        bin_exp, n_sig = 1 - shift, fract.bit_length() - shift
    else:
        fract |= 1 << 52
        n_sig = 53
    bin_exp -= 1023
    tail = (fract & -fract).bit_length() - 1
    n_fract = 53 - tail
    n_tiny = max(0, n_fract - bin_exp - 1)
    if -21 <= bin_exp <= 62 and n_tiny == 0:
        # an integer that fits a long: its digits, rounded half-up
        # past the insignificant ones
        lv = fract << (bin_exp - 52) if bin_exp >= 52 else fract >> (52 - bin_exp)
        p2 = bin_exp - n_sig - 1
        ins = _INSIGNIFICANT_DIGITS[p2] if p2 > 1 else 0
        if ins:
            pow10 = 10**ins
            lv, residue = divmod(lv, pow10)
            lv += residue >= pow10 >> 1
        return decimal.Decimal(f"{sign * lv}E{ins}")
    d2 = struct.unpack("<d", struct.pack("<Q", (1023 << 52) | (fract & ((1 << 52) - 1))))[0]
    dec_exp = math.floor(
        (d2 - 1.5) * 0.289529654 + 0.176091259 + bin_exp * 0.301029995663981
    )
    b5 = max(0, -dec_exp)
    b2 = b5 + n_tiny + bin_exp
    s5 = max(0, dec_exp)
    s2 = s5 + n_tiny
    m5, m2 = b5, b2 - n_sig
    fract >>= tail
    b2 -= n_fract - 1
    common = min(b2, s2)
    b2, s2, m2 = b2 - common, s2 - common, m2 - common
    if n_fract == 1:
        m2 -= 1
    if m2 < 0:
        b2, s2, m2 = b2 - m2, s2 - m2, 0
    b_bits = n_fract + b2 + (_N5_BITS[b5] if b5 < len(_N5_BITS) else b5 * 3)
    ten_s_bits = s2 + 1 + (
        _N5_BITS[s5 + 1] if s5 + 1 < len(_N5_BITS) else (s5 + 1) * 3
    )
    b = (fract * 5**b5) << b2
    s = 5**s5 << s2
    m = 5**m5 << m2
    tens = s * 10
    # the JDK runs the digit loop in int or long arithmetic when the
    # operands fit (wrapping on overflow, stopping on b + m > 10s) and
    # in big integers otherwise (stopping on b + m >= 10s)
    if b_bits < 64 and ten_s_bits < 64:
        w = 32 if b_bits < 32 and ten_s_bits < 32 else 64
        wrap = functools.partial(_wrap, bits=w)
        reaches_next = lambda bm: wrap(bm) > tens  # noqa: E731
    else:
        wrap = lambda v: v  # noqa: E731
        reaches_next = lambda bm: bm >= tens  # noqa: E731
    digits: List[int] = []
    q, b = divmod(b, s)
    b *= 10
    m = wrap(m * 10)
    low, high = b < m, reaches_next(b + m)
    if q == 0 and not high:
        dec_exp -= 1
    else:
        digits.append(q)
    if dec_exp < -3 or dec_exp >= 8:  # E-form: at least 2 digits
        low = high = False
    while not low and not high:
        q, b = divmod(b, s)
        b *= 10
        m = wrap(m * 10)
        # m <= 0: it overflowed, and the JDK stops here
        low, high = (b < m, reaches_next(b + m)) if m > 0 else (True, True)
        digits.append(q)
    low_diff = wrap((b << 1) - tens)
    n = int("".join(map(str, digits)))
    if high and (not low or low_diff > 0 or (low_diff == 0 and n & 1)):
        n += 1
    return decimal.Decimal(f"{sign * n}E{dec_exp + 1 - len(digits)}")


_SCALE6 = decimal.Decimal("0.000001")
_DEC_CTX = decimal.Context(prec=64)


def _double_str(x: float) -> Optional[str]:
    """CAST(TRY_CAST(x AS DECIMAL(28,6)) AS STRING) for a double:
    NULL for NaN/±inf and for anything that rounds to >= 1e22."""
    if not math.isfinite(x) or abs(x) >= 1e22:
        return None
    q = _java_double_digits(x).quantize(
        _SCALE6, rounding=decimal.ROUND_HALF_UP, context=_DEC_CTX
    )
    if q.adjusted() >= 22:
        return None
    return format(q if q else q.copy_abs(), "f")  # BigDecimal has no -0


def _scalar_str(v: Any) -> Optional[str]:
    """CAST(v AS STRING) as the compiled kernels render it."""
    if v is None or isinstance(v, str):
        return v
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return _double_str(v)
    return str(v)


def offending_value(f: FieldSpec, v: Any) -> Optional[str]:
    """The violation row's ``offending_value`` for a present,
    type-checked value of an :func:`expressible` field — the twin of
    ``compiler.off_fns`` (secret mask; decimal(28,6) doubles;
    ``concat_ws(',')`` over array elements, nulls skipped)."""
    if f.secret:
        return SECRET_MASK
    if isinstance(v, (list, tuple)):
        return ",".join(s for s in map(_scalar_str, v) if s is not None)
    return _scalar_str(v)


# --- eligibility ----------------------------------------------------------
#
# Which rules a field gets is the compiler's decision (compile_field);
# this module only says which of those kernel families (CompiledRule
# .kind) it has twins for, per dtype. Any other family — per-item
# rules on arrays/maps, struct elements, scalar rules on a dtype the
# twins do not type them for — keeps the compiled kernels.
_TWINNED_KINDS = {"string": {"string"}, "long": {"numeric"}, "double": {"numeric"}}
_PLAIN_SCALARS = frozenset(("string", "long", "double", "bool", "timestamp"))
_RENDERED_ELEMENTS = frozenset(("string", "long", "double", "bool"))
# from JDK 19 on, Double.toString gives the shortest digits; the port
# above is of the JDK <= 18 digit loop
_LAST_LEGACY_JDK = 18


def _inner(dtype: str) -> str:
    return dtype[dtype.index("<") + 1 : dtype.rindex(">")].strip()


def _plain_dtype(dtype: str) -> bool:
    """A dtype whose values the facade type check fully normalises."""
    if dtype in _PLAIN_SCALARS or re.fullmatch(r"decimal\(\d+,\s*\d+\)", dtype):
        return True
    if dtype.startswith("array<"):
        return _plain_dtype(_inner(dtype))
    if dtype.startswith("map<"):
        key, _, val = _inner(dtype).partition(",")
        return key.strip() == "string" and _plain_dtype(val.strip())
    return False


def _number(x: Any) -> bool:
    return isinstance(x, (int, float)) and not isinstance(x, bool)


def java_major(version: str) -> int:
    """The major version in a ``java.version`` property: ``'17.0.12'``
    → 17, ``'21'`` / ``'21-ea'`` → 21, ``'1.8.0_392'`` → 8."""
    head, _, rest = version.partition(".")
    major = int(re.match(r"\d+", head).group())
    return int(re.match(r"\d+", rest).group()) if major == 1 else major


def expressible(f: FieldSpec, jdk: int) -> bool:
    """True when this module validates ``f`` exactly like the compiled
    kernels of a JVM of major version ``jdk``: the rules
    ``compile_field(f)`` gives it are ``required`` plus scalar string
    rules on a string (patterns the regex shim translates, string
    enums), scalar numeric rules on a long/double (numeric operands,
    a finite non-zero ``multiple_of``) or container rules on an array
    of string/long/double/bool; any other plain type (timestamp,
    decimal, map, nested arrays) only with ``required``. Dotted paths
    and column transforms keep the compiled kernels, and so does a
    field whose violations render doubles when ``jdk`` is past the
    ported ``Double.toString`` digit loop."""
    from .compiler import compile_field

    if "." in f.name or f.before is not None or f.after is not None:
        return False
    dtype = f.dtype
    if not _plain_dtype(dtype):
        return False
    if dtype.startswith("array<") and _inner(dtype) in _RENDERED_ELEMENTS:
        twinned = {"container"}
    else:
        twinned = _TWINNED_KINDS.get(dtype, set())
    kinds = {r.kind for r in compile_field(f)} - {"required"}
    if not kinds <= twinned:
        return False
    if kinds and jdk > _LAST_LEGACY_JDK and dtype in ("double", "array<double>"):
        return False
    if "string" in kinds:
        return (f.pattern is None or java_regex(f.pattern) is not None) and (
            f.enum is None or all(isinstance(e, str) for e in f.enum)
        )
    if "numeric" in kinds:
        m = f.multiple_of
        return all(
            _number(getattr(f, c))
            for c, _ in _BOUND_RULES
            if getattr(f, c) is not None
        ) and (m is None or (_number(m) and math.isfinite(m) and m != 0))
    return True


def standard_handler(f: FieldSpec) -> Callable[[Any], Any]:
    """The ``handler`` passed to a ``mode='wrap'`` validator for field
    ``f``: runs the field's standard value kernels on the given value,
    raising ``ValueError`` naming the violated constraints, else
    returning the value unchanged. Built once per field; safe to ship
    in a pandas-UDF closure (pure Python, no session)."""
    if f.item_fields:
        raise ValueError(
            f"mode='wrap' on {f.name!r}: struct-element rules"
            " (item_fields) have no single-value handler analog —"
            " wrap the leaf fields instead"
        )

    def handler(v: Any) -> Any:
        bad = value_violations(f, v)
        if bad:
            raise ValueError(f"{f.name}: {', '.join(bad)} violated")
        return v

    return handler
