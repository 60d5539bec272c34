"""The reducer registry — every aggregation the reference supports
(reference query.go:407-570), expressed as SQL aggregate expressions that
run inside Spark's hash aggregate (partial + final, whole-stage codegen).

Per-bucket input model: each document in a bucket contributes one value per
requested pointer. In the DataFrame the planner materializes, field *i* is
three columns alongside ``ts_ns`` and ``bucket_ms``:

  * ``v{i}``  — sentinel-encoded, filter-masked string: NULL when the doc
    failed the query's equality filters (the row only exists to mark bucket
    presence), chr(1) when the doc passed but the value is missing/JSON-
    null, else the string rendering of the value;
  * ``vn{i}`` — the plain value for passing docs (NULL when filtered OR
    missing);
  * ``nv{i}`` — double coercion of ``vn{i}`` (NULL when not parseable).

This encoding lets one conditional hash aggregate compute both bucket
existence (any row) and filtered-stream reducers (non-NULL rows) — a
single shuffle where aggregate-then-join-buckets would take two.

Semantics preserved from the reference:
  * ``identity``/``distinct`` keep NULL values as elements (reference
    query_test.go TestNilReducers: [nil] -> [nil]); Spark's collect_list
    drops NULLs, so NULLs travel as a chr(1) sentinel and are restored.
  * numeric reducers consume only float-parseable values; sum/sumsq yield
    0.0 on empty input while max/min/avg yield NULL (NaN -> null
    normalization, reference query.go:197-204).
  * ``count`` counts non-null values of any type.
  * ``any`` is the first non-null value in key order.
  * ``obj_keys`` concatenates keys of object values in document order
    (per-object key order = document text order; the reference's Go map
    iteration is arbitrary, so any fixed order is a valid refinement);
    ``obj_distinct_keys`` dedups (sorted — again a deterministic refinement
    of the reference's arbitrary set order, reference query.go:552-569).
  * rate family (``c``/``c_min``/``c_avg``/``c_max``) folds the bucket's
    pair-rate array, which the planner builds from the samples the same
    hash aggregate collects plus one boundary window — see
    operators/rate.py. ``c`` is 0.0 with no pairs, the others NULL.

Ordering refinement: everywhere the reference emits values in arbitrary
(Go-map or channel) order, this engine emits a deterministic order
(ts order for streams, sorted for sets) so results are reproducible and
oracle-comparable. Documented deviation; JSON consumers see the same sets.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from seriesly_spark.functions.coerce import is_structural_sql

# chr(1) sentinel: encodes NULL inside collected arrays (collect_list drops
# real NULLs); restored to NULL after collection. Sorts before any printable
# string, so NULLs lead in sorted arrays.
_SENT = "chr(1)"


def _norm(expr: str) -> str:
    """NaN/±Inf -> NULL normalization (reference query.go:197-204)."""
    return (
        f"case when isnan({expr}) or {expr} = double('Infinity') "
        f"or {expr} = double('-Infinity') then null else {expr} end"
    )


@dataclass(frozen=True)
class ReducerSpec:
    name: str
    kind: str  # "plain" | "rate"
    # plain: SQL aggregate over columns v{i}, nv{i}, ts_ns
    agg_sql: Callable[[int], str] | None = None
    # rate: SQL expression over the bucket's pair-rate array (SQL text of
    # an array<double> with no NULL, NaN or ±Inf elements)
    rates_sql: Callable[[str], str] | None = None
    # exact variants: double-summing aggregates accumulated as
    # DECIMAL(38,18) — addition becomes exact and therefore independent of
    # partial-aggregation order, so results are bit-stable across engines
    # and partition counts (used by the oracle-comparison queries; the
    # per-element double arithmetic is IEEE-identical everywhere, only the
    # summation needed taming).
    agg_sql_exact: Callable[[int], str] | None = None
    rates_sql_exact: Callable[[str], str] | None = None
    # True for the obj_keys family: the planner projects a parsed
    # per-row column ok{i} = CASE WHEN doc is an object THEN
    # struct(ts_ns, map_keys(from_json(doc))) END so the JSON parse
    # runs in the whole-stage-codegen'd Project (with subexpression
    # elimination across fields sharing a pointer — identical trees
    # evaluate ONCE per row) instead of inside the ObjectHashAggregate
    # buffer per aggregate function (measured: two same-pointer
    # obj-keys reducers parsed every document twice).
    pre_obj: bool = False

    def plain_sql(self, i: int, exact: bool = False) -> str:
        fn = self.agg_sql_exact if exact and self.agg_sql_exact else self.agg_sql
        return fn(i)

    def rate_sql(self, rates: str, exact: bool = False) -> str:
        fn = (
            self.rates_sql_exact
            if exact and self.rates_sql_exact
            else self.rates_sql
        )
        return fn(rates)


_DEC = "decimal(38,18)"


def _dsum(expr: str) -> str:
    return f"cast(sum(cast(({expr}) as {_DEC})) as double)"


def _rsum(rates: str) -> str:
    return f"aggregate({rates}, 0D, (s, r) -> s + r)"


# A decimal(38,18) + decimal(38,18) rounds to scale 17 in Spark, so the
# exact fold over an array accumulates in decimal(37,18), whose sums stay
# at scale 18: the same exact sum as _dsum, which overflows at 1e20 where
# this overflows at 1e19.
_RDEC = "decimal(37,18)"


def _rsum_exact(rates: str) -> str:
    return (
        f"cast(aggregate({rates}, cast(0 as {_RDEC}), "
        f"(s, r) -> cast(s + cast(r as {_RDEC}) as {_RDEC})) as double)"
    )


def _ravg(rsum: Callable[[str], str]) -> Callable[[str], str]:
    return lambda r: f"CASE WHEN size({r}) > 0 THEN {rsum(r)} / size({r}) END"


def _identity(i: int) -> str:
    # Masked (filtered-out) rows have v{i} NULL -> the CASE yields NULL and
    # collect_list drops them; passing nil docs carry the chr(1) sentinel.
    return (
        f"transform(array_sort(collect_list(case when v{i} is not null "
        f"then struct(ts_ns, v{i} as s) end)), x -> nullif(x.s, {_SENT}))"
    )


def _distinct(i: int) -> str:
    inner = (
        f"case when v{i} = {_SENT} then {_SENT} "
        f"when {is_structural_sql(f'v{i}')} then null "
        f"else v{i} end"
    )
    return (
        f"transform(array_sort(array_distinct(collect_list({inner}))), "
        f"x -> nullif(x, {_SENT}))"
    )


def _obj_keys(i: int) -> str:
    # ok{i} is projected by the planner (see ReducerSpec.pre_obj): the
    # parse happens once per row in codegen, the aggregate only collects.
    return (
        f"flatten(filter(transform(array_sort(collect_list(ok{i})), "
        f"x -> x.ks), ks -> ks is not null))"
    )


def _sum_like(term: str, exact: bool = False) -> Callable[[int], str]:
    def build(i: int) -> str:
        expr = term.format(i=i)
        agg = _dsum(expr) if exact else f"sum({expr})"
        return (
            f"case when count(nv{i}) = 0 then 0.0d "
            f"else {_norm(agg)} end"
        )

    return build


REDUCERS: dict[str, ReducerSpec] = {
    "identity": ReducerSpec("identity", "plain", agg_sql=_identity),
    "any": ReducerSpec(
        "any", "plain",
        agg_sql=lambda i: f"min_by(vn{i}, ts_ns) filter (where vn{i} is not null)",
    ),
    "distinct": ReducerSpec("distinct", "plain", agg_sql=_distinct),
    "count": ReducerSpec("count", "plain", agg_sql=lambda i: f"count(vn{i})"),
    "sum": ReducerSpec(
        "sum", "plain", agg_sql=_sum_like("nv{i}"),
        agg_sql_exact=_sum_like("nv{i}", exact=True),
    ),
    "sumsq": ReducerSpec(
        "sumsq", "plain", agg_sql=_sum_like("nv{i} * nv{i}"),
        agg_sql_exact=_sum_like("nv{i} * nv{i}", exact=True),
    ),
    "max": ReducerSpec("max", "plain", agg_sql=lambda i: _norm(f"max(nv{i})")),
    "min": ReducerSpec("min", "plain", agg_sql=lambda i: _norm(f"min(nv{i})")),
    "avg": ReducerSpec(
        "avg", "plain", agg_sql=lambda i: _norm(f"avg(nv{i})"),
        agg_sql_exact=lambda i: _norm(f"({_dsum(f'nv{i}')} / count(nv{i}))"),
    ),
    "obj_keys": ReducerSpec("obj_keys", "plain", agg_sql=_obj_keys, pre_obj=True),
    "obj_distinct_keys": ReducerSpec(
        "obj_distinct_keys", "plain",
        agg_sql=lambda i: f"array_sort(array_distinct({_obj_keys(i)}))",
        pre_obj=True,
    ),
    # Rate family: per-consecutive-pair rates (value delta / seconds delta)
    # attributed to the earlier sample's bucket; reference query.go:358-405.
    "c": ReducerSpec("c", "rate", rates_sql=_rsum, rates_sql_exact=_rsum_exact),
    "c_min": ReducerSpec("c_min", "rate", rates_sql=lambda r: f"array_min({r})"),
    "c_avg": ReducerSpec(
        "c_avg", "rate", rates_sql=_ravg(_rsum), rates_sql_exact=_ravg(_rsum_exact),
    ),
    "c_max": ReducerSpec("c_max", "rate", rates_sql=lambda r: f"array_max({r})"),
}
