"""Tumbling time-bucket math (reference query.go:280-285).

Bucket key = floor(ts_ns / (group_ms * 1e6)) * group_ms, exposed in
milliseconds — exactly the reference's emitted key (``po.key/1e6``,
reference handlers.go:190). Pure integer arithmetic; codegen'd.

Each expression is defined once, as SQL text over an input given as SQL
text (a column name or expression); the Column helpers parse that text.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def idiv_sql(x: str, n: int) -> str:
    """Exact floor-division of a LONG expression by a positive int.

    ``floor(x / n)`` promotes to double — at ns-epoch magnitude (~1.8e18)
    doubles carry only 53 mantissa bits (~256 ns granularity). Decimal
    division alone is no better: Spark caps the result scale at 6, so a
    value within 0.5e-6·n of a boundary rounds UP before floor() sees it
    (e.g. ts 5 µs below a 10 s bucket edge landed in the next bucket).
    Subtracting pmod first makes the quotient an exact integer — division
    (decimal, to avoid the double path) then cannot round at any epoch.
    """
    return f"cast(cast(({x}) - pmod(({x}), {n}) as decimal(38,0)) / {n} as bigint)"


def idiv(x: str, n: int) -> Column:
    return F.expr(idiv_sql(x, n))


def bucket_ms_sql(ts_ns: str, group_ms: int) -> str:
    if group_ms <= 0:
        raise ValueError("group level cannot be zero")  # reference query.go:245-248
    return f"cast({idiv_sql(ts_ns, group_ms * 1_000_000)} * {group_ms} as bigint)"


def bucket_ms_col(ts_ns: str, group_ms: int) -> Column:
    return F.expr(bucket_ms_sql(ts_ns, group_ms))
