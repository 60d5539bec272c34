"""Quoting for expressions built as Spark SQL text.

The query compiler and the scalar helpers in this package build their
expressions as SQL text and hand them to Spark in a few
``selectExpr``/``F.expr`` calls: each Column-builder call is a py4j
round trip, and a plan assembled from hundreds of them spends more time
on the driver than reading a small range of the store does.
"""

from __future__ import annotations


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal. ``$`` is written as a unicode
    escape so that no ``${...}`` variable substitution can reach it."""
    body = s.replace("\\", "\\\\").replace("'", "\\'").replace("$", "\\u0024")
    return f"'{body}'"


def sql_ident(name: str) -> str:
    """``name`` as a quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"
