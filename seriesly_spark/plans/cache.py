"""Query-result memoization (C1) — the reference's memcached bucket cache,
re-expressed storage-side.

The reference keys cached per-bucket results on
``db # bucket # fnv64(doc-ids + ptrs + reducers + filters)`` (reference
cache.go:157-172) — i.e. the cache entry is valid exactly while the bucket's
document set is unchanged. Here the whole result is memoized keyed on
(query spec, sum mode, database version), where the database version is a
hash of the per-partition fingerprints of the data-file listing
(``SerieslyDB._data_files``): any append, delete or compaction that
changes a data file changes the version and invalidates every cached
result, which is the same correctness contract without per-bucket
bookkeeping. The commit log is not part of the version, so a commit that
changes no data file (a ``delete_range`` over empty days) keeps the entries.

An entry is one Arrow IPC file, ``<shape>.<version>.arrow``, where the
shape hashes the query spec and sum mode. It is written under a unique
``*.tmp`` name and ``os.replace``d onto its name, so a reader sees a
whole entry or none. Storing a shape's entry unlinks the shape's entries
for other versions, so the cache holds at most one entry per shape. A hit
reads it on the driver with pyarrow and returns ``createDataFrame`` of the
table: a local relation whose ``collect()`` launches no Spark job. A miss
computes the answer once with ``toArrow()``, stores it and returns the same
kind of local DataFrame. An answer of more than ``MAX_CACHED_ROWS`` rows is
not cached; the miss returns the lazy query plan instead, so the driver
never holds more than that many rows for the cache.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import tempfile

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from seriesly_spark.db import SerieslyDB
from seriesly_spark.plans.query import SerieslyQuery

# Largest answer (in rows: one per bucket) a cache entry holds.
MAX_CACHED_ROWS = 100_000


def _query_shape(name: str, q: SerieslyQuery, exact_sums: bool) -> str:
    parts = [
        name,
        str(q.group_ms),
        # Fields in order: output column i is field i's answer. Filters
        # are a conjunction, so their order does not change the answer.
        repr(q.fields),
        repr(sorted(q.filters)),
        repr(q.from_ts),
        repr(q.to_ts),
        repr(q.aliases),
        repr(exact_sums),
    ]
    return hashlib.sha256("\x01".join(parts).encode()).hexdigest()[:32]


def db_version(dbs: SerieslyDB, name: str) -> str:
    """Cheap change detector: a hash of the database's path and its
    per-partition data-file fingerprints (appends add files;
    delete/compact remove or replace them)."""
    h = hashlib.sha256(dbs._path(name).encode())
    for d, fp in sorted(dbs._partition_versions(name).items()):
        h.update(f"\x00{d}={fp}".encode())
    return h.hexdigest()[:16]


def _read_entry(path: str) -> pa.Table:
    with pa.OSFile(path, "rb") as f:
        return pa.ipc.open_file(f).read_all()


def _write_entry(path: str, table: pa.Table) -> None:
    fd, tmp = tempfile.mkstemp(suffix=".tmp", dir=os.path.dirname(path))
    os.close(fd)
    try:
        with pa.ipc.new_file(tmp, table.schema) as w:
            w.write_table(table)
        os.replace(tmp, path)
    except BaseException:
        os.unlink(tmp)
        raise


def _local_df(spark: SparkSession, table: pa.Table) -> DataFrame:
    # An empty answer, from toArrow() or read back from IPC, can have no
    # chunks, and PySpark 4.1's createDataFrame fails on a nested (list)
    # column without chunks.
    if table.num_rows == 0:
        table = table.schema.empty_table()
    return spark.createDataFrame(table)


class QueryCache:
    def __init__(self, dbs: SerieslyDB, cache_dir: str):
        self.dbs = dbs
        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)
        self.hits = 0
        self.misses = 0

    def query(self, name: str, q: SerieslyQuery, exact_sums: bool = False) -> DataFrame:
        """Memoized ``SerieslyDB.query``: identical query + unchanged
        database -> served from the cache entry (no Spark job); any
        write/delete/compact -> recompute (miss falls through to
        compute-and-store, like the reference's GET-miss path,
        cache.go:54-155)."""
        shape = _query_shape(name, q, exact_sums)
        path = os.path.join(
            self.cache_dir, f"{shape}.{db_version(self.dbs, name)}.arrow"
        )
        spark = self.dbs.spark
        try:
            table = _read_entry(path)
        except FileNotFoundError:
            pass
        else:
            self.hits += 1
            return _local_df(spark, table)
        self.misses += 1
        res = self.dbs.query(name, q, exact_sums=exact_sums)
        table = res.limit(MAX_CACHED_ROWS + 1).toArrow()
        if table.num_rows > MAX_CACHED_ROWS:
            return res
        _write_entry(path, table)
        # The shape's entries for other versions can never hit again. A
        # reader that already named one of them simply misses.
        for old in glob.glob(os.path.join(self.cache_dir, f"{shape}.*.arrow")):
            if old != path:
                with contextlib.suppress(FileNotFoundError):
                    os.remove(old)
        return _local_df(spark, table)
