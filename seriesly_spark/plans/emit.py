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
taken to the driver once, whole, with a ``toArrow()`` under a row limit
no answer reaches: over the query's ``orderBy`` that is a
``TakeOrderedAndProject``, which needs no range-partition sampling job
for a global sort (4 jobs): 1 Spark job over a store read in one task
(``SerieslyDB._live``), 2 over a read of several partitions. An
answer that ``QueryCache`` found over its row cap is taken the same way.

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


def _holds_floats(t: pa.DataType) -> bool:
    if pa.types.is_list(t):
        return _holds_floats(t.value_type)
    return pa.types.is_floating(t)


def _values(col: pa.Array | pa.ChunkedArray) -> list:
    """The column as Python values, NaN/Inf -> null in a column that can
    hold floats; any other column is taken as ``to_pylist()`` gives it."""
    values = col.to_pylist()
    return [_jsonable(v) for v in values] if _holds_floats(col.type) else values


def _entries(
    batch: pa.Table | pa.RecordBatch, aliases: list[str]
) -> Iterator[tuple[str, list]]:
    cols = [_values(batch.column(c)) for c in aliases]
    for bucket_ms, *vals in zip(batch.column("bucket_ms").to_pylist(), *cols):
        yield str(bucket_ms), vals


# A row limit no answer reaches. Over a sorted plan, ``limit(_ALL_ROWS)``
# still plans as a TakeOrderedAndProject (Spark falls back to the global
# sort only from ``spark.sql.execution.topKSortFallbackThreshold``,
# 2^31 - 16 by default), and from 2^30 on each top-k copies and sorts its
# rows instead of sizing a buffer by the limit (Guava's
# ``Ordering.leastOf``, which Spark's ``Utils.takeOrdered`` calls).
_ALL_ROWS = 2**30


def _table(answer: pa.Table | DataFrame) -> pa.Table:
    if isinstance(answer, pa.Table):
        return answer
    return answer.limit(_ALL_ROWS).toArrow()


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
