"""Result emission: DataFrame -> the reference's JSON-object wire shape.

The reference streams ``{"<bucket-start-ms>": [one reduced value per ptr],
...}`` (reference handlers.go:177-221, key = ns/1e6 at handlers.go:190).
Here the result is rendered to the same shape; buckets arrive in
deterministic bucket order instead of the reference's completion order
(JSON objects are unordered, so this is observationally equivalent and
reproducible).

``to_seriesly_json`` builds the whole object on the driver anyway, so it
takes the rows with one ``collect()``: one job for a lazy plan, and none
for the local DataFrame a ``QueryCache`` hit returns. ``iter_seriesly_rows``
streams with ``toLocalIterator`` (one partition at a time) for a writer
that must bound driver memory; it launches jobs even on a local DataFrame.
"""

from __future__ import annotations

import json
import math
from typing import Any, Iterator

from pyspark.sql import DataFrame, Row


def _jsonable(v: Any) -> Any:
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return None  # NaN/Inf -> null (reference query.go:197-204)
    if isinstance(v, list):
        return [_jsonable(x) for x in v]
    return v


def _entry(row: Row, aliases: list[str]) -> tuple[str, list]:
    return str(row["bucket_ms"]), [_jsonable(row[a]) for a in aliases]


def iter_seriesly_rows(df: DataFrame, aliases: list[str]) -> Iterator[tuple[str, list]]:
    for row in df.toLocalIterator():
        yield _entry(row, aliases)


def to_seriesly_json(df: DataFrame, aliases: list[str]) -> str:
    """Render the full result object (small/medium results; for huge results
    stream ``iter_seriesly_rows`` to a chunked writer instead)."""
    return json.dumps(dict(_entry(row, aliases) for row in df.collect()))
