from seriesly_spark.functions.jsonptr import ptr_to_jsonpath, extract_ptr_sql
from seriesly_spark.functions.coerce import to_num_sql, is_structural_sql, go_fmt_scalar
from seriesly_spark.functions.timeparse import (
    parse_any_ts_ns,
    canonical_key,
    canonical_key_sql,
    ts_ns_from_timestamp,
)

__all__ = [
    "ptr_to_jsonpath",
    "extract_ptr_sql",
    "to_num_sql",
    "is_structural_sql",
    "go_fmt_scalar",
    "parse_any_ts_ns",
    "canonical_key",
    "canonical_key_sql",
    "ts_ns_from_timestamp",
]
