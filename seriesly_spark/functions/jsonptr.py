"""JSON Pointer (RFC 6901) -> JSONPath translation + pointer extraction.

The reference addresses fields inside schemaless JSON documents with JSON
Pointers, e.g. ``/data/children/0/data/score`` (resolution at reference
query.go:70-84 via jsonpointer.FindMany). Spark's JSON functions speak
JSONPath, so the engine translates once at plan-build time — a pure Python
string transform; the per-row work stays in the JVM via
``get_json_object``. Catalyst does not merge several such calls on one
column into a shared parse: in Spark 4.1 each call parses the document
again, so a plan parses a document once per distinct pointer it extracts.

This is the engine's one extraction path, as ``jsonpointer.FindMany`` is the
reference's. It keeps each value's raw JSON text. Spark's Variant type
(``try_variant_get`` over ``parse_json``) is faster per pointer but would
change answers: it drops the sign of ``-0.0`` and the trailing ``.0`` of
``1000000.0``, and it stores object keys sorted, so ``obj_keys`` would lose
document order.

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

    Each call parses ``doc`` on its own: Spark shares no parse among the
    calls on one column, so a plan should extract each pointer once.
    """
    return f"get_json_object({doc}, {sql_str(ptr_to_jsonpath(ptr))})"

