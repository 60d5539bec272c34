"""Query-result memoization (C1) — the reference's memcached bucket cache,
re-expressed storage-side, one date partition at a time.

The reference keys cached per-bucket results on
``db # bucket # fnv64(doc-ids + ptrs + reducers + filters)`` (reference
cache.go:157-172) — i.e. the cache entry is valid exactly while the bucket's
document set is unchanged, and a panel that slides one bucket recomputes
one bucket. Here the unit of reuse is the store's own unit of change, the
``date=`` partition. An entry answers one *unit* of a query *shape* (the
query without its range: group, fields, filters, aliases, sum mode) and
is stamped with the fingerprint of the partition it covers (a hash of the
partition's data files in the database's snapshot,
``SerieslyDB._data_files``). A commit, delete or compaction moves the
fingerprints of exactly the dates it touches, so it makes stale exactly
their entries. A commit that changes no data file (a ``delete_range``
over empty days) keeps the entries.

The unit rule. When ``group_ms`` divides a day and no field is a rate
reducer, a bucket never straddles a date (buckets are aligned to the
epoch, and so to every midnight), and every plain and list reducer, and
every filter, sees only the documents of its own bucket. The answer over
a range is then the concatenation of the answers over the range's dates,
with no merge algebra: each date present in the range is one unit.

* An interior date is the whole date.
* An edge date whose clip of the range starts and ends on bucket
  boundaries is the whole date too: the whole-date entry, cut to the
  range's buckets, is exact, because the cut drops only whole buckets
  that lie outside the range.
* An unaligned edge is its own unit, keyed on its clip.

Anything else is one whole-range unit keyed on the range: a rate shape
(a rate pair crosses into the next bucket, so the next date), a
``group_ms`` that does not divide a day, or a range that touches no
partition. Its stamp hashes the fingerprints of the dates in the range,
not of the whole database.

A query resolves one snapshot of the dates in its range
(:func:`db_version`), before any compute. It stamps its units from that
snapshot's files and computes every missing or stale unit from the same
files, in one Spark plan over just their dates
(``SerieslyDB.query(..., files=)``), so an entry is stamped with exactly
the files it was computed from, even when a commit lands in between. It
splits that plan's ``toArrow()`` table per unit on the driver, stores
each unit, and returns the concatenated, range-cut table. A query whose units are all current runs
no Spark job and makes no py4j call: it reads its entries on the driver
with pyarrow. A ``QueryCache`` keeps the table of each entry it wrote or
read while the entry's file is unchanged (one ``stat`` a unit), so a
panel over many dates does not open a file per date on every hit.
``hits`` and ``misses`` count whole queries: a hit reused every unit,
and a query that computed any unit, even one of many, is a miss.
``units_reused`` and ``units_computed`` count units.

A continuous aggregate is one use of this cache: a ``count`` of ``_id``
and a ``sum`` of a pointer, with ``exact_sums``, over no range
(``q_continuous_rollup`` in ``__spark_entry__.py``). Each date is one
whole-date unit, so a commit, delete or compact recomputes only its
dates, and an unchanged store is answered with no Spark job. ``sum_v``
is 0.0 in a bucket with no numeric value (the ``sum`` reducer's
empty-input value), and ``cnt`` counts every document. A date that a
``delete_range`` retires has no fingerprint, so its entry is never read
again; :meth:`QueryCache._evict` unlinks it in time. A ``group_ms``
that does not divide a day is one whole-range unit (exact, but
recomputed on any commit), and a fill of over ``MAX_CACHED_ROWS``
buckets is not stored.

Each entry is one Arrow IPC file, ``<key>.arrow``, whose schema
metadata stamps the version the entry answers (:func:`write_entry`,
:func:`read_entry`). It is written under a hidden, unique staging name
and renamed onto its name, so a reader sees a whole entry or none, and
a key's new entry retires its old one. A reader checks the stamp from
the schema in the file footer before it reads any record batch: a
stale or missing entry is a miss.

A bounded answer is a ``pyarrow.Table``, which ``plans/emit.py`` renders
straight to wire text; a hit and the miss that filled it return equal
tables. The units a miss computes are taken once with
``limit(MAX_CACHED_ROWS + 1).toArrow()``. If that is more than
``MAX_CACHED_ROWS`` rows nothing is stored, and the miss returns the lazy
plan of the whole query instead, so the driver never holds more than
that many rows for the cache. A store that leaves more than
``MAX_CACHED_ENTRIES`` entries in the directory unlinks the oldest-written
ones, never one of the query's own units: an entry whose unit is not
asked again (a sliding panel's old unaligned edge) would otherwise stay
on disk for good.
"""

from __future__ import annotations

import contextlib
import dataclasses
import datetime
import hashlib
import json
import os

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from seriesly_spark.db import SerieslyDB, _ns_date, publish
from seriesly_spark.operators.reducers import REDUCERS
from seriesly_spark.plans.query import SerieslyQuery, py_parse_ts_ns

# Largest answer (in rows: one per bucket) that one miss stores.
MAX_CACHED_ROWS = 100_000
# Most entries a QueryCache directory keeps: a store past it unlinks the
# oldest-written ones.
MAX_CACHED_ENTRIES = 256

_NS_PER_MS = 1_000_000
_DAY_MS = 86_400_000
_DAY_NS = _DAY_MS * _NS_PER_MS
_EPOCH_DAY = datetime.date(1970, 1, 1).toordinal()


def _query_shape(dbs: SerieslyDB, name: str, q: SerieslyQuery, exact_sums: bool) -> str:
    """The query without its range: what all of its units share."""
    return "\x01".join([
        dbs._path(name),
        str(q.group_ms),
        # Fields in order: output column i is field i's answer. Filters
        # are a conjunction, so their order does not change the answer.
        repr(q.fields),
        repr(sorted(q.filters)),
        repr(q.aliases),
        repr(exact_sums),
    ])


def db_version(
    dbs: SerieslyDB, name: str, first: str | None = None, last: str | None = None
) -> dict[str, list[tuple[str, int]]]:
    """What entry stamps are derived from and missing units computed from:
    the data files of the dates ``first`` to ``last`` (ISO dates,
    inclusive; None is open) in one snapshot of the database, date -> its
    ``(file, bytes)``. Appends add files; delete and compact remove or
    replace them; each changes only the dates it touches."""
    return {
        d: files for d, files in dbs._data_files(name).items()
        if (first is None or d >= first) and (last is None or d <= last)
    }


def _fingerprint(files: list[tuple[str, int]]) -> str:
    """The stamp of a date's entries: a hash of the date's files."""
    return hashlib.md5(json.dumps(files).encode()).hexdigest()


@dataclasses.dataclass(frozen=True)
class _Unit:
    path: str  # its entry
    stamp: str  # the fingerprint its entry must carry
    lo: int | None  # the inclusive ns range it answers; None is open
    hi: int | None
    date: str | None  # its partition; None for a whole-range unit


def _units(
    cache_dir: str, shape: str, q: SerieslyQuery, lo: int | None, hi: int | None,
    listing: dict[str, list[tuple[str, int]]],
) -> list[_Unit]:
    """The units of query ``q`` over ns keys ``[lo, hi]``, in date order
    (the module docstring's rule), stamped from ``listing``: the
    :func:`db_version` snapshot of the dates in that range."""
    dates = sorted(listing)

    def unit(a: int | None, b: int | None, stamp: str, date: str | None) -> _Unit:
        key = hashlib.sha256(f"{shape}\x01{a!r}\x01{b!r}".encode()).hexdigest()[:32]
        return _Unit(entry_path(cache_dir, key), stamp, a, b, date)

    rate = any(r in REDUCERS and REDUCERS[r].kind == "rate" for _, r in q.fields)
    if rate or q.group_ms <= 0 or _DAY_MS % q.group_ms or not dates:
        stamp = hashlib.sha256(repr([(d, _fingerprint(listing[d])) for d in dates]).encode())
        return [unit(lo, hi, stamp.hexdigest()[:32], None)]
    g = q.group_ms * _NS_PER_MS
    units = []
    for d in dates:
        d0 = (datetime.date.fromisoformat(d).toordinal() - _EPOCH_DAY) * _DAY_NS
        d1 = d0 + _DAY_NS - 1
        a = d0 if lo is None else max(lo, d0)
        b = d1 if hi is None else min(hi, d1)
        if a % g == 0 and (b + 1) % g == 0:
            a, b = d0, d1  # whole buckets: the whole date, cut on use
        units.append(unit(a, b, _fingerprint(listing[d]), d))
    return units


def _cut(table: pa.Table, group_ms: int, lo: int | None, hi: int | None) -> pa.Table:
    """The rows of ``table`` whose bucket holds some ns key in
    ``[lo, hi]`` (None is open)."""
    g = group_ms * _NS_PER_MS
    col, keep = table.column("bucket_ms"), []
    if lo is not None:
        keep.append(pc.greater_equal(col, lo // g * group_ms))
    if hi is not None:
        keep.append(pc.less_equal(col, hi // g * group_ms))
    if not keep:
        return table
    return table.filter(keep[0] if len(keep) == 1 else pc.and_(*keep))


# Schema-metadata key of the version an entry answers.
_VERSION = b"seriesly.version"


def entry_path(cache_dir: str, key: str) -> str:
    return os.path.join(cache_dir, f"{key}.arrow")


def entry_keys(cache_dir: str) -> list[str]:
    """The keys of the entries in ``cache_dir``, stale ones too."""
    return [
        n[: -len(".arrow")] for n in os.listdir(cache_dir) if n.endswith(".arrow")
    ]


def read_entry(path: str, version: str) -> pa.ipc.RecordBatchFileReader | None:
    """The entry at ``path`` if it is stamped ``version``, else None.
    Opening it reads only the footer; ``read_all()`` on the result reads
    the table."""
    try:
        entry = pa.ipc.open_file(pa.memory_map(path))
    except FileNotFoundError:
        return None
    if (entry.schema.metadata or {}).get(_VERSION) != version.encode():
        return None
    return entry


def _file_identity(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return st.st_ino, st.st_mtime_ns, st.st_size


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
        # Whole queries: a hit ran no Spark job; a query that computed
        # any of its units is a miss.
        self.hits = 0
        self.misses = 0
        # Units, over all queries: read from a current entry, or computed.
        self.units_reused = 0
        self.units_computed = 0
        # Entry path -> (file identity, stamp, table) of the entries this
        # cache wrote or read, at most MAX_CACHED_ENTRIES of them.
        self._tables: dict[str, tuple[tuple[int, int, int], str, pa.Table]] = {}

    def query(
        self, name: str, q: SerieslyQuery, exact_sums: bool = False
    ) -> pa.Table | DataFrame:
        """Memoized ``SerieslyDB.query``: every unit of the query current
        -> the entries' table (no Spark job); any unit missing or stale
        (a write, delete or compact of its date) -> those units are
        recomputed in one plan and stored (the reference's GET-miss
        path, cache.go:54-155). An answer whose computed units hold more
        than ``MAX_CACHED_ROWS`` rows comes back as the query's lazy
        plan."""
        shape = _query_shape(self.dbs, name, q, exact_sums)
        lo = None if q.from_ts is None else py_parse_ts_ns(q.from_ts)
        hi = None if q.to_ts is None else py_parse_ts_ns(q.to_ts)
        listing = db_version(
            self.dbs, name,
            None if lo is None else _ns_date(lo), None if hi is None else _ns_date(hi),
        )
        units = _units(self.cache_dir, shape, q, lo, hi, listing)
        tables: dict[_Unit, pa.Table] = {}
        for u in units:
            table = self._reuse(u)
            if table is not None:
                tables[u] = table
        missing = [u for u in units if u not in tables]
        self.units_reused += len(tables)
        self.units_computed += len(missing)
        if not missing:
            self.hits += 1
        else:
            self.misses += 1
            fresh = self._compute(name, q, exact_sums, missing, lo, hi, listing)
            if fresh is None:
                return self.dbs.query(name, q, exact_sums=exact_sums, files=listing)
            tables.update(fresh)
            self._evict(keep={u.path for u in units})
        answer = pa.concat_tables([tables[u] for u in units])
        return _cut(answer, q.group_ms, lo, hi)

    def _reuse(self, u: _Unit) -> pa.Table | None:
        """The table of ``u``'s entry if it is stamped ``u.stamp``, else
        None. A table this cache wrote or read is kept while the entry's
        name still holds the same file (inode, mtime and size): a new
        entry is renamed onto the name and an evicted one unlinked, and
        either shows in a ``stat``. So a hit reads no entry file twice,
        and an entry is still a miss once it is gone from the directory."""
        try:
            ident = _file_identity(u.path)
        except FileNotFoundError:
            self._tables.pop(u.path, None)
            return None
        kept = self._tables.get(u.path)
        if kept is None or kept[0] != ident:
            entry = read_entry(u.path, u.stamp)
            if entry is None:
                return None
            kept = (ident, u.stamp, entry.read_all().replace_schema_metadata(None))
            self._keep(u.path, kept)
        return kept[2] if kept[1] == u.stamp else None

    def _keep(self, path: str, kept: tuple) -> None:
        self._tables.pop(path, None)
        self._tables[path] = kept
        if len(self._tables) > MAX_CACHED_ENTRIES:
            del self._tables[next(iter(self._tables))]

    def _compute(
        self, name: str, q: SerieslyQuery, exact_sums: bool, missing: list[_Unit],
        lo: int | None, hi: int | None, listing: dict[str, list[tuple[str, int]]],
    ) -> dict[_Unit, pa.Table] | None:
        """Answer the ``missing`` units of ``q`` (over ns keys ``[lo,
        hi]``) from the files of ``listing``, the snapshot they were
        stamped from, in one Spark plan and store each; None when that
        answer is over ``MAX_CACHED_ROWS`` rows. Date units are computed
        over just their dates, with a range bound only where the first
        or last of them is an edge clip: each unit is its date's part of
        that range."""
        if missing[0].date is not None:
            listing = {u.date: listing[u.date] for u in missing}
            q = dataclasses.replace(
                q,
                from_ts=q.from_ts if missing[0].lo == lo else None,
                to_ts=q.to_ts if missing[-1].hi == hi else None,
            )
        table = (
            self.dbs.query(name, q, exact_sums=exact_sums, files=listing)
            .limit(MAX_CACHED_ROWS + 1).toArrow()
        )
        if table.num_rows > MAX_CACHED_ROWS:
            return None
        fresh = {}
        for u in missing:
            fresh[u] = table if u.date is None else _cut(table, q.group_ms, u.lo, u.hi)
            write_entry(u.path, fresh[u], u.stamp)
            self._keep(u.path, (_file_identity(u.path), u.stamp, fresh[u]))
        return fresh

    def _evict(self, keep: set[str]) -> None:
        """Unlink the oldest-written entries, none in ``keep``, until at
        most ``MAX_CACHED_ENTRIES`` are left (or only ``keep``)."""
        keys = entry_keys(self.cache_dir)
        if len(keys) <= MAX_CACHED_ENTRIES:
            return
        written = []
        for k in keys:
            path = entry_path(self.cache_dir, k)
            if path not in keep:
                with contextlib.suppress(FileNotFoundError):
                    written.append((os.stat(path).st_mtime_ns, path))
        for _, path in sorted(written)[: len(keys) - MAX_CACHED_ENTRIES]:
            self._tables.pop(path, None)
            with contextlib.suppress(FileNotFoundError):
                os.remove(path)
