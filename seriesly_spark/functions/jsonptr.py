"""JSON Pointer (RFC 6901) -> JSONPath translation + pointer extraction.

The reference addresses fields inside schemaless JSON documents with JSON
Pointers, e.g. ``/data/children/0/data/score`` (resolution at reference
query.go:70-84 via jsonpointer.FindMany). Spark's JSON functions speak
JSONPath, so the engine translates once at plan-build time — a pure Python
string transform; the per-row work stays in the JVM via
``get_json_object`` (which Catalyst collapses into a shared JsonTuple-style
single parse when several pointers hit the same column).

Semantics notes:
  * ``""`` (empty pointer) addresses the whole document -> ``$``.
  * ``~1`` unescapes to ``/`` and ``~0`` to ``~`` (RFC 6901 §4).
  * Purely-numeric tokens are treated as array indexes (``[n]``). RFC 6901
    also allows an object key that looks numeric; JSONPath cannot express
    that ambiguity in one path, and the reference's own corpus only uses
    numeric tokens for arrays (e.g. sample.json pointer tests,
    reference query_test.go:242-264).
  * The pseudo-pointer ``_id`` (document key, reference query.go:132-134)
    is handled by the query planner, not here.
"""

from __future__ import annotations

import re

from seriesly_spark.functions.sqltext import sql_str

_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")
_NUM_RE = re.compile(r"^(0|[1-9][0-9]*)$")


def unescape_token(tok: str) -> str:
    return tok.replace("~1", "/").replace("~0", "~")


def ptr_to_jsonpath(ptr: str) -> str:
    """Translate an RFC 6901 JSON Pointer into a Spark/DuckDB JSONPath."""
    if ptr == "":
        return "$"
    if not ptr.startswith("/"):
        raise ValueError(f"invalid JSON Pointer (must start with '/'): {ptr!r}")
    path = "$"
    for raw in ptr.split("/")[1:]:
        tok = unescape_token(raw)
        if _NUM_RE.match(tok):
            path += f"[{tok}]"
        elif _IDENT_RE.match(tok):
            path += f".{tok}"
        else:
            # Bracket-quote anything with dots/spaces/specials.
            escaped = tok.replace("'", "\\'")
            path += f"['{escaped}']"
    return path


def extract_ptr_sql(doc: str, ptr: str) -> str:
    """SQL text extracting a pointer from the JSON-string expression ``doc``.

    ``get_json_object`` dequotes string scalars, renders numbers/booleans as
    their raw JSON text, returns object/array values as JSON text, and NULL
    for missing fields or JSON null — which lines up with the reference's
    value model (scalars stringified, structural values passed through,
    missing/null -> nil; reference query.go:130-143).
    """
    return f"get_json_object({doc}, {sql_str(ptr_to_jsonpath(ptr))})"


def extract_ptr_from_variant_sql(doc: str, ptr: str) -> str:
    """Variant-backed pointer extraction (opt-in fast path): the document
    is parsed with ``try_parse_json(doc)`` (one parse per row: every
    pointer repeats the same expression, which subexpression elimination
    evaluates once), and each pointer becomes one cheap binary
    ``try_variant_get`` probe — ~1.5x faster than N ``get_json_object``
    re-parses on multi-pointer queries (PLANS.md). Malformed document
    bodies parse to a NULL Variant, so every pointer probe yields NULL —
    same degrade-to-nil as the json path and the reference (query.go
    resolveFetch).

    ``try_variant_get(..., 'string')`` matches the reference value model
    (string scalars dequoted, numbers/booleans rendered, object/array as
    JSON text, missing and JSON null -> NULL) with two deviations, which is
    why this stays opt-in:
      * the Variant encoding normalizes numbers at parse time — trailing
        ``.0`` is dropped (1000000.0 -> "1000000") and ``-0.0`` loses its
        sign — so raw-text parity for exotic floats needs the default impl
        (the %v canonicalizer cannot recover -0 from Variant);
      * Variant objects store keys sorted, losing document key order, so
        the whole-document pointer ("" -> obj_keys key-order semantics)
        falls back to the raw JSON text column.
    """
    if ptr == "":
        return doc  # structural fallback: preserve document key order
    return (
        f"try_variant_get(try_parse_json({doc}), "
        f"{sql_str(ptr_to_jsonpath(ptr))}, 'string')"
    )
