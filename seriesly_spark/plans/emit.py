"""Result emission: a query answer -> the reference's JSON-object wire shape.

The reference streams ``{"<bucket-start-ms>": [one reduced value per ptr],
...}`` (reference handlers.go:177-221, key = ns/1e6 at handlers.go:190).
Here the result is rendered to the same shape; buckets arrive in
deterministic bucket order instead of the reference's completion order
(JSON objects are unordered, so this is observationally equivalent and
reproducible).

An answer is a ``pyarrow.Table`` (what ``QueryCache.query`` returns for a
bounded answer) or a DataFrame plan. There is one renderer, and it reads
Arrow: the ``bucket_ms`` column zipped with the alias columns. A plan is
taken to the driver with ``limit(MAX_CACHED_ROWS + 1).toArrow()``: over
the query's ``orderBy`` that is a ``TakeOrderedAndProject``, which needs
no range-partition sampling job for a global sort. Only an answer over
that cap is taken again whole, with ``toArrow()``.

``iter_seriesly_rows`` yields the same entries one at a time: from a table
batch by batch, with no Spark job, and from a plan with ``toLocalIterator``
(one partition at a time) for a writer that must bound driver memory.
"""

from __future__ import annotations

import json
import math
from typing import Any, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, Row


def _jsonable(v: Any) -> Any:
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return None  # NaN/Inf -> null (reference query.go:197-204)
    if isinstance(v, list):
        return [_jsonable(x) for x in v]
    return v


def _entry(row: Row, aliases: list[str]) -> tuple[str, list]:
    return str(row["bucket_ms"]), [_jsonable(row[a]) for a in aliases]


def _entries(
    batch: pa.Table | pa.RecordBatch, aliases: list[str]
) -> Iterator[tuple[str, list]]:
    cols = [batch.column(c).to_pylist() for c in ("bucket_ms", *aliases)]
    for bucket_ms, *vals in zip(*cols):
        yield str(bucket_ms), [_jsonable(v) for v in vals]


def _table(answer: pa.Table | DataFrame) -> pa.Table:
    if isinstance(answer, pa.Table):
        return answer
    # Imported here, not at the top: the cache module imports the store,
    # whose import loads this package.
    from seriesly_spark.plans.cache import MAX_CACHED_ROWS

    table = answer.limit(MAX_CACHED_ROWS + 1).toArrow()
    return answer.toArrow() if table.num_rows > MAX_CACHED_ROWS else table


def iter_seriesly_rows(
    answer: pa.Table | DataFrame, aliases: list[str]
) -> Iterator[tuple[str, list]]:
    if isinstance(answer, pa.Table):
        for batch in answer.to_batches():
            yield from _entries(batch, aliases)
    else:
        for row in answer.toLocalIterator():
            yield _entry(row, aliases)


def to_seriesly_json(answer: pa.Table | DataFrame, aliases: list[str]) -> str:
    """Render the full result object (small/medium results; for huge results
    stream ``iter_seriesly_rows`` to a chunked writer instead)."""
    return json.dumps(dict(_entries(_table(answer), aliases)))
