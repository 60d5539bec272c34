"""The seriesly query compiler: flat query params -> one DataFrame plan.

The reference's only analytical query shape (``GET /db/_query``, reference
handlers.go:113-227, query.go:240-299) is:

    time-range scan -> tumbling time-bucket grouping -> JSON-Pointer field
    extraction -> per-field reducer, with optional conjunctive equality
    filters

This module compiles those parameters into a single declarative DataFrame
expression, and lets Catalyst do what the reference hand-builds with
channels and goroutine pools. The plan is built from SQL text in a handful
of DataFrame calls — range filter, extraction + bucket select, pass mask +
value-column select, one ``groupBy().agg``, the rate boundary window, the
final ordered select — because every Column-builder call is a py4j round trip
(~0.3 ms) and a plan assembled from hundreds of them costs more driver
time than scanning a small range does. The expressions come from the
``*_sql`` builders in ``functions/`` and the reducer registry, so each has
one definition. Catalyst then:

  * the time-range predicate lands on the scan (parquet min/max skipping;
    ``SerieslyDB`` hands it only the in-range date partitions — together
    the B-tree range walk analogue);
  * each distinct pointer is one ``get_json_object`` call in one
    projection (the ``jsonpointer.FindMany`` analogue, reference
    query.go:94-110); a pointer that a filter and several fields share
    is extracted once. Catalyst does not merge the calls on one column
    into a shared parse: Spark 4.1 parses a document once per distinct
    pointer. That is the one extraction engine; it keeps each value's
    raw JSON text (``functions.jsonptr`` says why it is not Spark's
    Variant type);
  * equality filters run before any aggregation (reference query.go:112-128);
  * bucket aggregation is a partial+final hash aggregate (the per-bucket
    map/reduce fan-out, reference query.go:147-217). Over a small
    ``SerieslyDB`` read, which is one partition (``SerieslyDB._live``),
    both halves run in the scan's one task with no exchange; over a
    larger one the final half reads a shuffle on the group keys;
  * rate reducers collect each bucket's sorted samples in that same
    aggregate; one window over the bucket rows adds the pair that crosses
    into the next bucket (operators/rate.py). The window runs in the
    aggregate's stage when its input is one partition, and otherwise
    after a shuffle on the series (one partition when there is none).

Semantics pinned by the reference and preserved here:
  * A bucket appears in the output iff at least one document exists in it
    in-range — *before* equality filters (the reference derives buckets from
    the doc-info walk, query.go:264-289, and only applies filters inside the
    per-bucket processing, query.go:112-128). A bucket whose docs are all
    filtered out still shows up with empty-input reducer results.
  * Empty-input reducer results: sum/sumsq/c = 0.0, count = 0, max/min/avg
    and c_min/c_avg/c_max = NULL, list reducers = [].
  * Output is ordered by (series, bucket_ms) — a deterministic refinement
    of the reference's bucket-completion-order streaming
    (handlers.go:177-227; JSON objects are unordered anyway).
"""

from __future__ import annotations

from collections import OrderedDict
from dataclasses import dataclass, field as dc_field
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from seriesly_spark.functions.bucketing import bucket_ms_sql
from seriesly_spark.functions.coerce import go_fmt_scalar, is_structural_sql, to_num_sql
from seriesly_spark.functions.jsonptr import extract_ptr_sql
from seriesly_spark.functions.sqltext import sql_ident, sql_str
from seriesly_spark.functions.timeparse import canonical_key_sql, ts_ns_from_timestamp_sql
from seriesly_spark.operators.rate import next_sample_sql, pair_rates_sql, samples_sql
from seriesly_spark.operators.reducers import _SENT, REDUCERS


@dataclass
class SerieslyQuery:
    """Parameter struct mirroring the reference's queryIn (query.go:53-68)."""

    group_ms: int
    fields: list[tuple[str, str]]  # (json_pointer, reducer_name)
    from_ts: int | str | datetime | None = None  # inclusive
    to_ts: int | str | datetime | None = None  # inclusive
    filters: list[tuple[str, str]] = dc_field(default_factory=list)
    aliases: list[str] | None = None


_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def py_parse_ts_ns(value: int | str | datetime) -> int:
    """Plan-time from/to constant -> ns epoch (reference ParseTime,
    timelib/time.go:130-157). Mirrors functions.timeparse.parse_any_ts_ns
    for driver-side literals. A naive ``datetime`` is UTC; its µs count is
    exact integer math (a float ``timestamp()`` product truncates some
    µs values to the one below)."""
    if isinstance(value, datetime):
        if value.tzinfo is None:
            value = value.replace(tzinfo=timezone.utc)
        return (value - _EPOCH) // timedelta(microseconds=1) * 1000
    s = str(value).strip()
    try:
        n = int(s)
    except ValueError:
        return _py_parse_ts_str(s)
    if n > 2_147_483_647_000:
        return n
    if n > 2_147_483_647:
        return n * 1_000_000
    if n > 10_000:
        return n * 1_000_000_000
    # Small integers fall through to the string formats (bare year etc.),
    # matching reference timelib/time.go:139-157.
    return _py_parse_ts_str(s)


def _py_parse_ts_str(s: str) -> int:
    import re

    m = re.match(r"^(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2})(?:\.(\d{1,9}))?(Z|[+-]\d{2}:\d{2})$", s)
    if m:
        base = datetime.strptime(m.group(1), "%Y-%m-%dT%H:%M:%S")
        off = m.group(3)
        if off == "Z":
            base = base.replace(tzinfo=timezone.utc)
        else:
            base = datetime.fromisoformat(m.group(1) + off)
        ns = int(base.timestamp()) * 1_000_000_000
        if m.group(2):
            ns += int(m.group(2).ljust(9, "0"))
        return ns
    for fmt in ("%Y-%m-%dT%H:%M", "%Y-%m-%dT%H", "%Y-%m-%d", "%Y-%m", "%Y"):
        try:
            d = datetime.strptime(s, fmt).replace(tzinfo=timezone.utc)
            return int(d.timestamp()) * 1_000_000_000
        except ValueError:
            continue
    raise ValueError(f"unparseable time: {s!r}")


def seriesly_query(
    df: DataFrame,
    query: SerieslyQuery,
    doc_col: str = "doc",
    ts_col: str = "ts",
    ts_ns_col: str | None = None,
    series_cols: tuple[str, ...] = (),
    canonical_numbers: bool = False,
    exact_sums: bool = False,
) -> DataFrame:
    """Compile a seriesly query over ``df`` into one result DataFrame.

    Output columns: ``*series_cols, bucket_ms, *aliases`` ordered by
    (series, bucket_ms). ``series_cols`` generalizes the reference's
    one-database-per-query model to grouped series in one pass; rate
    pairs never cross a series.
    """
    fields = query.fields
    if not fields:
        raise ValueError("at least one pointer is required")  # query.go:151
    for _, red in fields:
        if red not in REDUCERS:
            raise ValueError(f"unknown reducer: {red}")  # handlers.go:137-144
    aliases = query.aliases or [
        f"{red}_{i}" for i, (_, red) in enumerate(fields)
    ]
    if len(aliases) != len(fields):
        raise ValueError("aliases arity must match fields")

    doc = sql_ident(doc_col)
    series = [sql_ident(c) for c in series_cols]
    keys = [*series_cols, "bucket_ms"]
    ts_ns = (
        sql_ident(ts_ns_col) if ts_ns_col
        else ts_ns_from_timestamp_sql(sql_ident(ts_col))
    )
    bounds = []
    if query.from_ts is not None:
        bounds.append(f"{ts_ns} >= {py_parse_ts_ns(query.from_ts)}")
    if query.to_ts is not None:
        bounds.append(f"{ts_ns} <= {py_parse_ts_ns(query.to_ts)}")
    if bounds:
        df = df.where(" AND ".join(bounds))

    # One extraction column per distinct pointer (filters + fields), so the
    # JSON document is parsed once however many times a pointer is reused.
    ptr_cols: "OrderedDict[str, str]" = OrderedDict()
    for ptr, _ in list(query.filters) + fields:
        if ptr not in ptr_cols:
            ptr_cols[ptr] = f"e{len(ptr_cols)}"

    def extracted(ptr: str) -> str:
        if ptr == "_id":
            # Pseudo-pointer: the document key (reference query.go:132-134).
            return canonical_key_sql(ts_ns)
        return extract_ptr_sql(doc, ptr)

    head = [*series, f"{ts_ns} AS ts_ns",
            f"{bucket_ms_sql(ts_ns, query.group_ms)} AS bucket_ms"]
    if canonical_numbers:
        # The %v canonicalizer is a pandas UDF: the one Column in the plan.
        base = df.select(*map(F.expr, head), *[
            (F.expr(extracted(p)) if p == "_id"
             else go_fmt_scalar(F.expr(extracted(p)))).alias(c)
            for p, c in ptr_cols.items()
        ])
    else:
        base = df.selectExpr(
            *head, *[f"{extracted(p)} AS {c}" for p, c in ptr_cols.items()]
        )

    # Conjunctive equality filters (reference query.go:112-128): a doc
    # passes iff every filter field is a non-null scalar equal to the value.
    # Filtered docs are NOT dropped — they still mark bucket existence (the
    # reference derives buckets from the pre-filter doc walk). Instead the
    # per-field value columns are masked to NULL, so ONE conditional hash
    # aggregate computes bucket presence and filtered-stream reducers in a
    # single shuffle (vs aggregate-twice + join). See operators/reducers.py
    # for the column encoding.
    conds = []
    for ptr, val in query.filters:
        e = ptr_cols[ptr]
        conds.append(
            f"({e} IS NOT NULL AND NOT ({is_structural_sql(e)}) "
            f"AND {e} = {sql_str(val)})"
        )
    passes = " AND ".join(conds) or "true"
    sel_cols = [*series, "bucket_ms", "ts_ns"]
    for i, (ptr, red) in enumerate(fields):
        e = ptr_cols[ptr]
        vn = f"CASE WHEN {passes} THEN {e} END"
        v = f"CASE WHEN {passes} THEN coalesce({e}, {_SENT}) END"
        sel_cols += [f"{v} AS v{i}", f"{vn} AS vn{i}", f"{to_num_sql(vn)} AS nv{i}"]
        if REDUCERS[red].pre_obj:
            # Parse in the codegen'd Project, not inside the aggregate
            # buffer: two obj-keys reducers on the SAME pointer build
            # identical ok{i} trees, which subexpression elimination
            # evaluates once per row (from_json is the dominant cost of
            # these reducers — measured 2x on the r02 gate entry).
            sel_cols.append(
                f"CASE WHEN substring({v}, 1, 1) = '{{' THEN named_struct("
                f"'ts_ns', ts_ns, 'ks', map_keys(from_json({v}, "
                f"'map<string,string>'))) END AS ok{i}"
            )
    sel = base.selectExpr(*sel_cols)

    # Empty-input defaults fall out of the conditional aggregate: a bucket
    # whose docs are all masked still has rows, and the aggregates see zero
    # non-NULL inputs (sum-like specs yield 0.0, count 0, min/max/avg NULL,
    # list reducers []). The same aggregate collects each distinct rate
    # pointer's sorted samples into __s{i} (nv{i} is already filter-masked,
    # so a masked bucket has none and its pair-rate array is empty).
    rate_src: dict[str, int] = {}
    for i, (ptr, red) in enumerate(fields):
        if REDUCERS[red].kind == "rate":
            rate_src.setdefault(ptr, i)
    result = sel.groupBy(*keys).agg(*[
        F.expr(f"{REDUCERS[red].plain_sql(i, exact_sums)} AS {sql_ident(aliases[i])}")
        for i, (_, red) in enumerate(fields)
        if REDUCERS[red].kind == "plain"
    ], *[F.expr(f"{samples_sql(f'nv{i}')} AS __s{i}") for i in rate_src.values()])
    if rate_src:
        # One window over the bucket rows supplies each bucket's boundary
        # pair; __pr{i} is the bucket's pair-rate array.
        result = result.selectExpr("*", *[
            f"{pair_rates_sql(f'__s{i}', next_sample_sql(f'__s{i}', series))} AS __pr{i}"
            for i in rate_src.values()
        ])

    out_cols = [*series, "bucket_ms"]
    for (ptr, red), alias in zip(fields, aliases):
        spec = REDUCERS[red]
        a = sql_ident(alias)
        if spec.kind == "rate":
            out_cols.append(f"{spec.rate_sql(f'__pr{rate_src[ptr]}', exact_sums)} AS {a}")
        else:
            out_cols.append(a)
    return result.selectExpr(*out_cols).orderBy(*keys)
