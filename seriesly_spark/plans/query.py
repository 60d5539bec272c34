"""The seriesly query compiler: flat query params -> one DataFrame plan.

The reference's only analytical query shape (``GET /db/_query``, reference
handlers.go:113-227, query.go:240-299) is:

    time-range scan -> tumbling time-bucket grouping -> JSON-Pointer field
    extraction -> per-field reducer, with optional conjunctive equality
    filters

This module compiles those parameters into a single declarative DataFrame
expression, and lets Catalyst do what the reference hand-builds with
channels and goroutine pools:

  * the time-range predicate lands on the scan (partition pruning + parquet
    min/max skipping — the B-tree range walk analogue);
  * all pointers are extracted in one pass (Catalyst collapses multiple
    ``get_json_object`` over one column into a shared parse — the
    ``jsonpointer.FindMany`` analogue, reference query.go:94-110);
  * equality filters run before any aggregation (reference query.go:112-128);
  * bucket aggregation is a partial+final hash aggregate (the per-bucket
    map/reduce fan-out, reference query.go:147-217);
  * rate reducers become a ``lead()`` window + re-bucket (operators/rate.py).

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

import os
from collections import OrderedDict
from dataclasses import dataclass, field as dc_field
from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from seriesly_spark.functions.bucketing import bucket_ms_col
from seriesly_spark.functions.coerce import go_fmt_scalar, is_structural, to_num
from seriesly_spark.functions.jsonptr import extract_ptr, extract_ptr_from_variant
from seriesly_spark.functions.timeparse import canonical_key, ts_ns_from_timestamp
from seriesly_spark.operators.rate import rate_aggregate
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


def py_parse_ts_ns(value: int | str | datetime) -> int:
    """Plan-time from/to constant -> ns epoch (reference ParseTime,
    timelib/time.go:130-157). Mirrors functions.timeparse.parse_any_ts_ns
    for driver-side literals."""
    if isinstance(value, datetime):
        if value.tzinfo is None:
            value = value.replace(tzinfo=timezone.utc)
        return int(value.timestamp() * 1_000_000) * 1000
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


def resolve_extract_impl(extract_impl: str | None = None) -> str:
    """The pointer-extraction engine a query runs with: ``extract_impl``,
    else the ``SERIESLY_EXTRACT_IMPL`` env var, else ``"json"``."""
    impl = extract_impl or os.environ.get("SERIESLY_EXTRACT_IMPL", "json")
    if impl not in ("json", "variant"):
        raise ValueError(f"unknown extract_impl: {impl!r}")
    return impl


def seriesly_query(
    df: DataFrame,
    query: SerieslyQuery,
    doc_col: str = "doc",
    ts_col: str = "ts",
    ts_ns_col: str | None = None,
    series_cols: tuple[str, ...] = (),
    canonical_numbers: bool = False,
    exact_sums: bool = False,
    extract_impl: str | None = None,
) -> DataFrame:
    """Compile a seriesly query over ``df`` into one result DataFrame.

    Output columns: ``*series_cols, bucket_ms, *aliases`` ordered by
    (series, bucket_ms). ``series_cols`` generalizes the reference's
    one-database-per-query model to grouped series in one pass (and keeps
    the rate window partitioned at cluster scale).

    ``extract_impl`` selects the pointer-extraction engine: ``"json"``
    (default; ``get_json_object``, raw-text-faithful) or ``"variant"``
    (one ``parse_json`` + binary probes per pointer — faster on
    multi-pointer queries, with the documented Variant number/key-order
    normalizations; see ``functions.jsonptr.extract_ptr_from_variant``).
    Falls back to the ``SERIESLY_EXTRACT_IMPL`` env var when unset.
    """
    impl = resolve_extract_impl(extract_impl)
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

    ts_ns = (
        F.col(ts_ns_col) if ts_ns_col else ts_ns_from_timestamp(F.col(ts_col))
    )
    base = df.withColumn("ts_ns", ts_ns)
    if query.from_ts is not None:
        base = base.where(F.col("ts_ns") >= F.lit(py_parse_ts_ns(query.from_ts)))
    if query.to_ts is not None:
        base = base.where(F.col("ts_ns") <= F.lit(py_parse_ts_ns(query.to_ts)))

    # One extraction column per distinct pointer (filters + fields), so the
    # JSON document is parsed once however many times a pointer is reused.
    ptr_cols: "OrderedDict[str, str]" = OrderedDict()
    for ptr, _ in list(query.filters) + fields:
        if ptr not in ptr_cols:
            ptr_cols[ptr] = f"e{len(ptr_cols)}"

    # Variant path: parse the document ONCE into a binary Variant column;
    # each pointer is then a cheap probe instead of a full JSON re-parse.
    # (Physical-level subexpression elimination also dedupes the
    # parse_json across the projection's variant_get calls.)
    # try_parse_json (not parse_json): malformed bodies must degrade to
    # NULL pointers like the json path and the reference (query.go
    # resolveFetch swallows parse errors), not fail the whole query —
    # SerieslyDB/poll_copy can store arbitrary non-JSON bodies.
    doc_v = F.try_parse_json(F.col(doc_col)) if impl == "variant" else None

    def extracted(ptr: str) -> Column:
        if ptr == "_id":
            # Pseudo-pointer: the document key (reference query.go:132-134).
            return canonical_key(F.col("ts_ns"))
        if impl == "variant":
            c = extract_ptr_from_variant(F.col(doc_col), doc_v, ptr)
        else:
            c = extract_ptr(F.col(doc_col), ptr)
        if canonical_numbers:
            c = go_fmt_scalar(c)
        return c

    base = base.select(
        *series_cols,
        "ts_ns",
        bucket_ms_col(F.col("ts_ns"), query.group_ms).alias("bucket_ms"),
        *[extracted(p).alias(cname) for p, cname in ptr_cols.items()],
    )

    # Conjunctive equality filters (reference query.go:112-128): a doc
    # passes iff every filter field is a non-null scalar equal to the value.
    # Filtered docs are NOT dropped — they still mark bucket existence (the
    # reference derives buckets from the pre-filter doc walk). Instead the
    # per-field value columns are masked to NULL, so ONE conditional hash
    # aggregate computes bucket presence and filtered-stream reducers in a
    # single shuffle (vs aggregate-twice + join). See operators/reducers.py
    # for the column encoding.
    cond = F.lit(True)
    for ptr, val in query.filters:
        e = F.col(ptr_cols[ptr])
        cond = cond & e.isNotNull() & ~is_structural(e) & (e == F.lit(val))
    base = base.withColumn("__pass", cond)

    sel_cols = [*series_cols, "ts_ns", "bucket_ms", "__pass"]
    for i, (ptr, red) in enumerate(fields):
        e = F.col(ptr_cols[ptr])
        vn = F.when(F.col("__pass"), e)
        v = F.when(F.col("__pass"), F.coalesce(e, F.expr(_SENT)))
        sel_cols.append(v.alias(f"v{i}"))
        sel_cols.append(vn.alias(f"vn{i}"))
        sel_cols.append(to_num(vn).alias(f"nv{i}"))
        if REDUCERS[red].pre_obj:
            # Parse in the codegen'd Project, not inside the aggregate
            # buffer: two obj-keys reducers on the SAME pointer build
            # identical ok{i} trees, which subexpression elimination
            # evaluates once per row (from_json is the dominant cost of
            # these reducers — measured 2x on the r02 gate entry).
            ok = F.when(
                F.substring(v, 1, 1) == "{",
                F.struct(
                    F.col("ts_ns").alias("ts_ns"),
                    F.map_keys(
                        F.from_json(v, "map<string,string>")
                    ).alias("ks"),
                ),
            )
            sel_cols.append(ok.alias(f"ok{i}"))
    sel = base.select(*sel_cols)

    keys = [*series_cols, "bucket_ms"]

    plain_idx = [i for i, (_, r) in enumerate(fields) if REDUCERS[r].kind == "plain"]
    rate_idx = [i for i, (_, r) in enumerate(fields) if REDUCERS[r].kind == "rate"]

    # Empty-input defaults for plain reducers fall out of the conditional
    # aggregate: a bucket whose docs are all masked still has rows, and the
    # aggregates see zero non-NULL inputs (sum-like specs yield 0.0, count
    # 0, min/max/avg NULL, list reducers []).
    agg_exprs = [
        F.expr(REDUCERS[fields[i][1]].plain_sql(i, exact_sums)).alias(aliases[i])
        for i in plain_idx
    ]
    agg_exprs.append(F.count("*").alias("__n"))
    result = sel.groupBy(*keys).agg(*agg_exprs)

    # Rate fields: one window dataflow per distinct rate pointer, over the
    # passing docs only (the reference filters before reducer fan-out).
    rate_by_ptr: dict[str, list[int]] = {}
    for i in rate_idx:
        rate_by_ptr.setdefault(fields[i][0], []).append(i)
    rate_src = sel.where(F.col("__pass")) if query.filters else sel
    for ptr, idxs in rate_by_ptr.items():
        rframe = rate_aggregate(
            rate_src,
            idxs,
            {i: fields[i][1] for i in idxs},
            {i: aliases[i] for i in idxs},
            tuple(series_cols),
            query.group_ms,
            exact_sums=exact_sums,
        )
        result = result.join(rframe, on=keys, how="left")

    # Final projection: restore empty-input defaults where the rate row was
    # absent (no rate pairs in the bucket).
    out_cols = [F.col(k) for k in keys]
    for i, alias in enumerate(aliases):
        spec = REDUCERS[fields[i][1]]
        c = F.col(alias)
        if spec.kind == "rate" and spec.default_sql != "null":
            c = F.coalesce(c, F.expr(spec.default_sql))
        out_cols.append(c.alias(alias))
    return result.select(*out_cols).orderBy(*keys)
