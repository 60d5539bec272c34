"""Query-result memoization (C1) — the reference's memcached bucket cache,
re-expressed storage-side.

The reference keys cached per-bucket results on
``db # bucket # fnv64(doc-ids + ptrs + reducers + filters)`` (reference
cache.go:157-172) — i.e. the cache entry is valid exactly while the bucket's
document set is unchanged. Here the whole result is memoized keyed on
(query spec, sum mode) and stamped with the database version it answers, a
hash of the per-partition fingerprints of the data-file listing
(``SerieslyDB._data_files``): any append, delete or compaction that
changes a data file changes the version and invalidates every cached
result, which is the same correctness contract without per-bucket
bookkeeping. The commit log is not part of the version, so a commit that
changes no data file (a ``delete_range`` over empty days) keeps the entries.

Both this cache and the continuous rollup (``plans/rollup.py``) keep
their entries by one rule, :func:`write_entry` and :func:`read_entry`:
each key is one Arrow IPC file, ``<key>.arrow``, whose schema metadata
stamps the version the entry answers. It is written under a hidden,
unique staging name and renamed onto its name, so a reader sees a
whole entry or none, and a key's new entry retires its old one. A
reader checks the stamp from the schema in the file footer before it
reads any record batch: a stale or missing entry is a miss.

Here the key hashes the query spec and sum mode, and the stamp is the
database version. A bounded answer is a ``pyarrow.Table``, which
``plans/emit.py`` renders straight to wire text. A hit returns the
stored table, read on the driver with pyarrow and without its version
stamp: no ``createDataFrame``, no py4j call and no Spark job. A miss
takes the answer once with ``limit(MAX_CACHED_ROWS + 1).toArrow()``,
stores it and returns that same table, so a hit and the miss that
filled it return equal tables. An answer of more than ``MAX_CACHED_ROWS``
rows is not cached; the miss returns the lazy query plan instead, so the
driver never holds more than that many rows for the cache. A store that
leaves more than ``MAX_CACHED_ENTRIES`` entries in the directory unlinks the
oldest-written ones, never the entry it just wrote: an entry whose
shape is not asked again (a sliding panel's old range) would otherwise
stay on disk for good.
"""

from __future__ import annotations

import contextlib
import hashlib
import os

import pyarrow as pa
from pyspark.sql import DataFrame

from seriesly_spark.db import SerieslyDB, publish
from seriesly_spark.plans.query import SerieslyQuery, py_parse_ts_ns

# Largest answer (in rows: one per bucket) a cache entry holds.
MAX_CACHED_ROWS = 100_000
# Most entries a QueryCache directory keeps: a store past it unlinks the
# oldest-written ones.
MAX_CACHED_ENTRIES = 256


def _query_shape(name: str, q: SerieslyQuery, exact_sums: bool) -> str:
    parts = [
        name,
        str(q.group_ms),
        # Fields in order: output column i is field i's answer. Filters
        # are a conjunction, so their order does not change the answer.
        repr(q.fields),
        repr(sorted(q.filters)),
        # One instant, however it is written; None is an open bound.
        *(
            repr(None if ts is None else py_parse_ts_ns(ts))
            for ts in (q.from_ts, q.to_ts)
        ),
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


# Schema-metadata key of the version an entry answers.
_VERSION = b"seriesly.version"


def entry_path(cache_dir: str, key: str) -> str:
    return os.path.join(cache_dir, f"{key}.arrow")


def entry_keys(cache_dir: str) -> list[str]:
    """The keys of the entries in ``cache_dir``, stale ones too."""
    return [
        n[: -len(".arrow")] for n in os.listdir(cache_dir) if n.endswith(".arrow")
    ]


def read_entry(
    path: str, version: str | None = None
) -> pa.ipc.RecordBatchFileReader | None:
    """The entry at ``path`` if it is stamped ``version`` (any stamp when
    None), else None. Opening it reads only the footer; ``read_all()``
    on the result reads the table."""
    try:
        entry = pa.ipc.open_file(pa.memory_map(path))
    except FileNotFoundError:
        return None
    stamp = (entry.schema.metadata or {}).get(_VERSION)
    if version is not None and stamp != version.encode():
        return None
    return entry


def write_entry(path: str, table: pa.Table, version: str) -> None:
    """Store ``table`` at ``path`` stamped ``version``, published whole
    (:func:`seriesly_spark.db.publish`)."""
    table = table.replace_schema_metadata({_VERSION: version})

    def write(tmp: str) -> None:
        with pa.ipc.new_file(tmp, table.schema) as w:
            w.write_table(table)

    publish(path, write)


class QueryCache:
    def __init__(self, dbs: SerieslyDB, cache_dir: str):
        self.dbs = dbs
        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)
        self.hits = 0
        self.misses = 0

    def query(
        self, name: str, q: SerieslyQuery, exact_sums: bool = False
    ) -> pa.Table | DataFrame:
        """Memoized ``SerieslyDB.query``: identical query + unchanged
        database -> the cache entry's table (no Spark job); any
        write/delete/compact -> recompute (miss falls through to
        compute-and-store, like the reference's GET-miss path,
        cache.go:54-155). An answer over ``MAX_CACHED_ROWS`` rows comes
        back as the lazy plan."""
        path = entry_path(self.cache_dir, _query_shape(name, q, exact_sums))
        version = db_version(self.dbs, name)
        entry = read_entry(path, version)
        if entry is not None:
            self.hits += 1
            return entry.read_all().replace_schema_metadata(None)
        self.misses += 1
        res = self.dbs.query(name, q, exact_sums=exact_sums)
        table = res.limit(MAX_CACHED_ROWS + 1).toArrow()
        if table.num_rows > MAX_CACHED_ROWS:
            return res
        write_entry(path, table, version)
        self._evict(keep=path)
        return table

    def _evict(self, keep: str) -> None:
        """Unlink the oldest-written entries, never ``keep``, until at
        most ``MAX_CACHED_ENTRIES`` are left."""
        keys = entry_keys(self.cache_dir)
        if len(keys) <= MAX_CACHED_ENTRIES:
            return
        written = []
        for k in keys:
            path = entry_path(self.cache_dir, k)
            if path != keep:
                with contextlib.suppress(FileNotFoundError):
                    written.append((os.stat(path).st_mtime_ns, path))
        for _, path in sorted(written)[: len(keys) - MAX_CACHED_ENTRIES]:
            with contextlib.suppress(FileNotFoundError):
                os.remove(path)
