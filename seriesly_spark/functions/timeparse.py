"""Timestamp parsing / rendering — the reference's ``timelib`` surface.

The reference accepts integer epochs at ns/ms/s magnitude plus a dozen
string formats (reference timelib/time.go:130-157, format list
timelib/time.go:12-25) and keys every document by a canonical UTC
RFC3339Nano string with trailing fractional zeros stripped (reference
handlers.go:63-72). Spark timestamps are µs-precision, so the engine
carries nanoseconds as a separate ``ts_ns LONG`` (ns since epoch) and all
bucket math runs on it.

Everything here builds JVM-side, codegen'd expressions: no Python runs per
row. What the query compiler also needs is defined once as SQL text over an
input given as SQL text (``*_sql``); the Column helpers parse that text.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from seriesly_spark.functions.bucketing import idiv_sql
from seriesly_spark.functions.sqltext import sql_str

_MAX_INT32 = 2_147_483_647
_KEY_FORMAT = "yyyy-MM-dd'T'HH:mm:ss"

# String formats beyond ISO handled by the chain below — Java
# DateTimeFormatter patterns mirroring reference timelib/time.go:12-25.
_PLAIN_FORMATS = [
    "yyyy-MM-dd'T'HH:mm:ssXXX",      # RFC3339 (offset or Z; fraction handled separately)
    "yyyy-MM-dd'T'HH:mm",             # truncated ISO forms
    "yyyy-MM-dd'T'HH",
    "yyyy-MM-dd",
    "yyyy-MM",
    "yyyy",
]

# Day-of-week-prefixed formats (RFC1123/UnixDate/ANSIC/Ruby): Spark's
# post-3.0 parser rejects 'EEE', so the day name is stripped by regexp first
# (it is redundant — the date fields pin the instant).
_DOW_STRIPPED_FORMATS = [
    "dd MMM yyyy HH:mm:ss zzz",  # RFC1123 (after "Tue, ")
    "dd MMM yyyy HH:mm:ss Z",    # RFC1123Z
    "MMM d HH:mm:ss zzz yyyy",   # UnixDate (after "Tue ")
    "MMM d HH:mm:ss Z yyyy",     # RubyDate
    "MMM d HH:mm:ss yyyy",       # ANSIC
]

_ISO_FRAC_RE = r"^(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2})\.(\d{1,9})(Z|[+-]\d{2}:\d{2})$"


def ts_ns_from_timestamp_sql(ts: str) -> str:
    """µs-precision timestamp -> ns epoch (lower 3 ns digits zero).

    Accepts TIMESTAMP or TIMESTAMP_NTZ (unix_micros rejects NTZ; the
    cast is a no-op on TIMESTAMP and value-preserving on NTZ under the
    engine's UTC session timezone)."""
    return f"cast(unix_micros(cast({ts} as timestamp)) * 1000 as bigint)"


def ts_ns_from_timestamp(ts: str) -> Column:
    return F.expr(ts_ns_from_timestamp_sql(ts))


def timestamp_from_ts_ns(ts_ns: str) -> Column:
    """ns epoch -> Spark timestamp (truncates to µs; exact integer div)."""
    return F.expr(f"timestamp_micros({idiv_sql(ts_ns, 1000)})")


def parse_any_ts_ns(s: Column) -> Column:
    """Multi-format timestamp string -> ns epoch LONG (NULL on failure).

    Integer inputs use the reference's magnitude heuristic
    (timelib/time.go:139-148): > MaxInt32*1000 -> ns, > MaxInt32 -> ms,
    > 10000 -> s; smaller integers fall through to the string formats
    (where e.g. "2012" parses as a bare year).
    """
    n = s.try_cast(T.LongType())
    by_magnitude = (
        F.when(n > _MAX_INT32 * 1000, n)
        .when(n > _MAX_INT32, n * 1_000_000)
        .when(n > 10_000, n * 1_000_000_000)
        .otherwise(F.lit(None).cast(T.LongType()))
    )

    # ISO with fractional seconds: parse the whole-second part, add the
    # fraction back at ns resolution (preserves all 9 digits, unlike a
    # straight to_timestamp which floors at µs).
    base_str = F.regexp_extract(s, _ISO_FRAC_RE, 1)
    frac_str = F.regexp_extract(s, _ISO_FRAC_RE, 2)
    zone_str = F.regexp_extract(s, _ISO_FRAC_RE, 3)
    iso_frac_ts = F.try_to_timestamp(
        F.concat(base_str, zone_str), F.lit("yyyy-MM-dd'T'HH:mm:ssXXX")
    )
    iso_frac_ns = F.when(
        (frac_str != "") & iso_frac_ts.isNotNull(),
        F.unix_micros(iso_frac_ts) * 1000
        + F.rpad(frac_str, 9, "0").cast(T.LongType()),
    )

    no_dow = F.regexp_replace(s, r"^[A-Za-z]{3},?\s+", "")
    plain = F.coalesce(
        *[F.try_to_timestamp(s, F.lit(fmt)) for fmt in _PLAIN_FORMATS],
        *[F.try_to_timestamp(no_dow, F.lit(fmt)) for fmt in _DOW_STRIPPED_FORMATS],
    )
    plain_ns = F.unix_micros(plain) * 1000

    return F.coalesce(by_magnitude, iso_frac_ns, plain_ns)


def canonical_key_sql(ts_ns: str) -> str:
    """ns epoch -> the reference's canonical document key: UTC RFC3339Nano
    with trailing fractional zeros stripped (reference handlers.go:63-72,
    Go time.Format(time.RFC3339Nano))."""
    secs = idiv_sql(ts_ns, 1_000_000_000)
    base = f"date_format(timestamp_seconds({secs}), {sql_str(_KEY_FORMAT)})"
    frac = (
        f"regexp_replace(lpad(cast(cast(pmod(({ts_ns}), 1000000000) as bigint)"
        f" as string), 9, '0'), '0+$', '')"
    )
    return (
        f"concat({base}, case when {frac} = '' then '' "
        f"else concat('.', {frac}) end, 'Z')"
    )


def canonical_key(ts_ns: str) -> Column:
    return F.expr(canonical_key_sql(ts_ns))
