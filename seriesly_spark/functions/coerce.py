"""Value coercion semantics of the reference engine, as SQL-text builders.

The reference stringifies scalar pointer values with Go ``%v`` before
reducers see them (reference query.go:135-143), and numeric reducers then
re-parse with ``strconv.ParseFloat``, silently dropping anything unparseable
(reference query.go:338-356). Net: numeric reducers consume
{JSON numbers} ∪ {strings parseable as float}; booleans ("true"/"false")
and structural values drop out.

In this engine the extracted value column ``v`` is ``get_json_object``'s
string rendering, so (as SQL text, the form the query compiler builds):
  * ``to_num_sql(v)``  = try_cast to double — the ParseFloat analogue.
  * ``is_structural_sql(v)`` — object/array detection (they arrive as JSON text
    starting with '{' or '['). A *string scalar* whose content starts with
    '{' is indistinguishable at this layer; the reference's own corpus never
    hits that case.
  * ``go_fmt_scalar`` — optional canonicalization UDF reproducing Go ``%v``
    float formatting (shortest round-trip digits; e-notation when the
    decimal exponent is < -4 or >= 6, e.g. 1000000.0 -> "1e+06"). Only
    observable through identity/any/distinct output and equality filters on
    exotic numbers; the raw JSON text already matches ``%v`` for integers
    and common decimals, so this stays off the hot path by default.
"""

from __future__ import annotations

import math
from decimal import Decimal

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def to_num_sql(v: str) -> str:
    """ParseFloat analogue: string -> double, NULL when unparseable."""
    return f"try_cast({v} as double)"


def is_structural_sql(v: str) -> str:
    """True when the extracted value is an object or array (JSON text)."""
    return f"substring({v}, 1, 1) in ('{{', '[')"


def go_fmt_float(x: float) -> str:
    """Python port of Go fmt '%v' for float64, i.e.
    ``strconv.FormatFloat(x, 'g', -1, 64)``: shortest round-trip digits,
    e-notation iff decimal exponent < -4 or >= 6 (shortest mode pins the
    'g' precision cutoff at 6), minimum two exponent digits.
    """
    if math.isnan(x):
        return "NaN"
    if math.isinf(x):
        return "+Inf" if x > 0 else "-Inf"
    if x == 0.0:
        return "-0" if math.copysign(1.0, x) < 0 else "0"
    sign, digits, dexp = Decimal(repr(x)).as_tuple()
    digs = "".join(map(str, digits))
    e = len(digs) + dexp - 1  # decimal exponent of the leading digit
    digs = digs.rstrip("0") or "0"
    neg = "-" if sign else ""
    if -4 <= e <= 5:
        if e >= 0:
            intpart = digs.ljust(e + 1, "0")[: e + 1]
            frac = digs[e + 1 :]
            return neg + intpart + ("." + frac if frac else "")
        return neg + "0." + "0" * (-e - 1) + digs
    mant = digs[0] + ("." + digs[1:] if len(digs) > 1 else "")
    return f"{neg}{mant}e{'+' if e >= 0 else '-'}{abs(e):02d}"


@F.pandas_udf(T.StringType())
def _go_fmt_numeric_strings(v: pd.Series) -> pd.Series:
    """Vectorized: re-format float-parseable strings the way Go %v would."""

    def conv(s):
        if s is None:
            return None
        try:
            return go_fmt_float(float(s))
        except (TypeError, ValueError):
            return s

    return v.map(conv)


def go_fmt_scalar(v: Column) -> Column:
    """Canonicalize numeric-looking strings to Go %v format (opt-in path)."""
    return _go_fmt_numeric_strings(v)
