"""SerieslyDB — the operational surface of the engine: database DDL,
document ingest, point/range reads, bulk delete, compaction, changes feed.

Reference parity map (SURVEY §2.1):

  * create/drop/list/exists  ≙ S8  (PUT/DELETE db, GET /_all_dbs;
    reference database.go:85-134, handlers.go:28-44,282-289)
  * write/write_batch        ≙ S4/S5 (keyed upsert + batched flush;
    reference database.go:175-302, handlers.go:56-100) — append-only log
    with a write sequence; same-key overwrite resolved by last-write-wins
    (sources.tables.latest_by_key), the lakehouse analogue of
    couchstore's B-tree key replace.
  * get                      ≙ S3  (point lookup, database.go:324-337)
  * all_docs / dump_lines    ≙ S10/S11 (_all/_dump range reads with limit,
    handlers.go:331-420)
  * delete_range             ≙ S6  (bulk range delete, handlers.go:230-281)
  * compact                  ≙ S7  (couch-file rewrite ≙ partition file
    merge; database.go:136-171)
  * changes                  ≙ S13 (the changes feed the reference 501s,
    handlers.go:455-457 — free via a file-stream source here)
  * info                     ≙ S9  (doc_count/space_used, handlers.go:431-451)

Storage layout — one directory per database, hive-partitioned by UTC date:

    <root>/<db>/date=YYYY-MM-DD/part-*.parquet   (ts_ns LONG, seq LONG, doc STRING)

A data file holds each key at most once: every writer folds repeats of a
key before it publishes a file (``write_batch`` keeps a batch's later
row; the one partition rewrite, behind ``compact`` and ``delete_range``,
keeps the highest ``seq``). A key's revisions share its date, so a
partition of one file is already its own live view, and last-write-wins
is resolved at read time only for partitions of more than one file.

Design for scale: a read lists the in-range partitions' data files on
the driver and reads exactly those files with the declared schema — no
schema-inference job, no listing of other days, no file the listing did
not see — keeping the ts_ns bounds on the scan for parquet min/max
skipping (the B-tree range-walk analogue); a point ``get`` reads only
its key's day, on the driver with pyarrow (no Spark job); a commit
writes one new file per date from the driver with pyarrow (no Spark
job, no read-modify-write); delete_range retires fully-covered
partitions without reading their data and rewrites only the two edge
partitions; compact rewrites each partition that holds more than one
file. Both rewrite a partition as one folded file, published
beside the old ones before the files it read are unlinked, as the
reference writes a new couch file before it swaps out the old one
(database.go:136-171). Every file the driver writes (a commit's data
files, a commit-log segment, the log's fold, a ``QueryCache`` entry)
goes through one publish step, :func:`publish`: it is staged
under a hidden unique name and renamed onto its own, so it appears
whole or not at all. On a real deployment the same API maps onto
Delta/Iceberg (MERGE, OPTIMIZE, CDF) — plain parquet keeps this repo
dependency-free.
"""

from __future__ import annotations

import contextlib
import dataclasses
import hashlib
import json
import os
import shutil
import time
import uuid
from datetime import timedelta
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from seriesly_spark.functions.timeparse import canonical_key
from seriesly_spark.plans.query import _EPOCH, SerieslyQuery, py_parse_ts_ns, seriesly_query
from seriesly_spark.sources.tables import latest_by_key

DOC_SCHEMA = "ts_ns long, seq long, doc string"
CHANGELOG_SCHEMA = (
    "seq long, op string, ts_lo_ns long, ts_hi_ns long, n_rows long"
)
# The same columns, as the driver writes and reads them with pyarrow.
_LOG_SCHEMA = pa.schema([
    ("seq", pa.int64()), ("op", pa.string()), ("ts_lo_ns", pa.int64()),
    ("ts_hi_ns", pa.int64()), ("n_rows", pa.int64()),
])
_CHANGELOG_DIR = ".changelog"


def publish(path: str, write: Callable[[str], object]) -> None:
    """Make the file at ``path`` appear whole or not at all: ``write``
    writes a hidden, uniquely named staging file in the same directory
    (``.<name>.<uuid>.tmp``), which is then renamed onto ``path``. A
    failed write removes the staging file. One that a crash leaves is
    hidden from every reader and listing; in a database,
    :meth:`SerieslyDB.compact` removes it."""
    d, f = os.path.split(path)
    tmp = os.path.join(d, f".{f}.{uuid.uuid4().hex}.tmp")
    try:
        write(tmp)
        os.replace(tmp, path)
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
        raise


def _read_listed(
    list_paths: Callable[[], list[str]], **read
) -> tuple[list[str], pa.Table | None]:
    """The paths ``list_paths()`` names and their rows, read on the
    driver with ``pq.read_table(paths, **read)`` (None when it names
    none). A partition rewrite or a log fold publishes its new file
    before it unlinks the files it read, so a listed file that is gone
    when it is read means that such a step has run: the read lists
    again and retries, and sees the state after that step."""
    while True:
        paths = list_paths()
        if not paths:
            return paths, None
        try:
            return paths, pq.read_table(paths, **read)
        except FileNotFoundError:
            continue


class SerieslyDB:
    """Filesystem-rooted database registry + per-database operations.

    Storage invariant: no data file holds a key twice, and a key's
    revisions share one ``date=`` partition. Reads therefore apply the
    last-write-wins fold only when some partition they cover holds more
    than one file. The one partition rewrite (:meth:`_rewrite_partition`)
    always writes one folded file, so :meth:`compact` leaves a one-file
    partition as it is (no Spark job, no new file name, no new partition
    version). A row's ``seq`` comes from the same guarded counter as the
    commit log's, so the newest write of a key always wins.

    Every mutating commit also appends one tiny parquet segment to
    ``<db>/.changelog/``; the log is always on. It is a write-ahead
    commit log in the style of lakehouse table formats (Delta's _delta_log
    analogue, metadata-sized). The dot-prefixed directory is invisible to
    Spark's data readers, and to :meth:`_data_files`, the one listing of
    what the database holds. Mutations only ever ADD segments, so streaming
    it surfaces deletes and compaction as first-class change rows — the
    piece the plain append-only docs feed (:meth:`changes`) cannot
    observe. One maintenance step does rewrite the log: :meth:`compact`
    folds the accumulated segments into one consolidated file (opt out
    with ``compact(name, fold_changelog=False)``); see
    :meth:`changes_log_stream` for what that means to a live stream. On
    the driver the log has one reader, :meth:`_read_log`, behind
    :meth:`change_log` and the fold.

    Concurrency contract: ONE WRITER HANDLE per database at a time (the
    same single-writer contract as the incremental dedup indexes and any
    table format without a lock service). The commit-log seq counter is
    collision-checked against the directory on every write (two handles
    cannot silently overwrite each other's segment). A data append that
    races a ``compact``/``delete_range`` partition rewrite survives,
    with no error: the rewrite reads and unlinks only the files of its
    own listing, so a file committed after that listing is neither read
    nor removed, and reads fold it with the rewrite's output. The
    driver-side reads, :meth:`get` and :meth:`change_log`, are exact
    beside a rewrite or a log fold: each publishes its new file before
    it unlinks the files it read, so a read that finds a listed file
    gone lists again (:func:`_read_listed`). The Spark reads (:meth:`df`, :meth:`query`,
    :meth:`all_docs`, :meth:`info`) are not isolated from a rewrite: a
    read whose listing names a file the rewrite then unlinks can fail,
    or Spark can skip that file and miss its rows (ROADMAP item 4).
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # Per-db last commit seq. The changelog directory listing is the
        # durable source of truth, but listing it on EVERY mutation makes
        # commit cost grow with log length; a handle lists once on first
        # touch and counts forward from memory after that. A fresh handle
        # (reopen) re-lists, so monotonicity survives restarts.
        self._last_seq: dict[str, int] = {}
        os.makedirs(root, exist_ok=True)

    # -- DDL (S8) -----------------------------------------------------------

    def _path(self, name: str) -> str:
        if not name or name.startswith(".") or "/" in name:
            raise ValueError(f"invalid db name: {name!r}")
        return os.path.join(self.root, name)

    def create(self, name: str) -> None:
        # The commit-log dir too, so log streams can attach to an empty
        # database (file-stream sources need the path).
        os.makedirs(os.path.join(self._path(name), _CHANGELOG_DIR), exist_ok=True)

    def drop(self, name: str) -> None:
        shutil.rmtree(self._path(name), ignore_errors=True)
        # A re-created db starts a fresh log; the stale cached seq must
        # not leak into it (it would be far in the future, not wrong,
        # but the listing-on-first-touch is the honest source of truth).
        self._last_seq.pop(name, None)

    def list(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d)) and not d.startswith(".")
        )

    def exists(self, name: str) -> bool:
        return os.path.isdir(self._path(name))

    # -- Ingest (S4/S5) -----------------------------------------------------

    def write(self, name: str, doc: str, ts=None) -> int:
        """Store one document; returns the assigned ns key (server-assigned
        now-UTC when ``ts`` is None, reference handlers.go:63-72)."""
        return self.write_batch(name, [(ts, doc)])[0]

    def write_batch(self, name: str, rows: list[tuple[object, str]]) -> list[int]:
        """Batched append — the engine-side analogue of the reference's
        write queue flush (1000 ops / 5 s, database.go:175-254): callers
        batch; each call is one commit. An empty batch is no commit: no
        file, no log segment. Documents must be ``str`` (JSON bodies);
        anything else raises ``TypeError`` before a file is written. A
        key repeated within the batch is stored once, with its later
        row's doc (which the higher ``seq`` would win anyway); the
        returned keys and the log's ``n_rows`` still count every row.

        The commit runs on the driver, with no Spark job: the rows are
        split by ``date=`` partition and every date's table is built
        before any is published. Each table is then published
        (:func:`publish`) as ``part-<uuid>.parquet`` in its partition. The
        log segment is appended last, so the log only ever names data
        that is already visible."""
        path = self._path(name)
        if not os.path.isdir(path):
            raise KeyError(f"no such db: {name}")
        if not rows:
            return []
        keys: list[int] = []
        # UTC day number -> row indices. _ns_date takes about 5 µs a
        # call: run once a row, it would double a 1000-doc commit.
        by_day: dict[int, list[int]] = {}
        for i, (ts, doc) in enumerate(rows):
            if not isinstance(doc, str):
                raise TypeError(
                    f"document {i} is {type(doc).__name__}, not a JSON str"
                )
            ns = time.time_ns() if ts is None else py_parse_ts_ns(ts)
            keys.append(ns)
            by_day.setdefault(ns // _NS_PER_DAY, []).append(i)
        # Row i takes seq first + i of the commit's reserved run, so a key
        # written again always gets a higher seq, even if the clock
        # stepped back; the log segment is named by the run's last seq.
        last_seq = self._next_seq(name, len(rows))
        first = last_seq - len(rows) + 1
        tables = {}
        for day, idx in by_day.items():
            # No file holds a key twice: the last row of a repeated key
            # wins, as its higher seq would at read time.
            last = {keys[i]: i for i in idx}
            if len(last) < len(idx):
                idx = sorted(last.values())
            tables[_ns_date(day * _NS_PER_DAY)] = pa.table({
                "ts_ns": pa.array([keys[i] for i in idx], pa.int64()),
                "seq": pa.array([first + i for i in idx], pa.int64()),
                "doc": pa.array([rows[i][1] for i in idx], pa.string()),
            })
        for d, table in tables.items():
            part_dir = os.path.join(path, f"date={d}")
            os.makedirs(part_dir, exist_ok=True)
            # PLAIN, as Spark's writer falls back to for near-unique keys
            # and docs: dictionary pages only grow such a file.
            publish(
                os.path.join(part_dir, f"part-{uuid.uuid4().hex}.parquet"),
                lambda p, t=table: pq.write_table(
                    t, p, compression="snappy", use_dictionary=False
                ),
            )
        self._log_change(name, last_seq, "write", min(keys), max(keys), len(keys))
        return keys

    # -- Commit log ---------------------------------------------------------

    def _next_seq(self, name: str, n: int = 1) -> int:
        """Reserve ``n`` consecutive seqs for one commit of ``name`` and
        return the last of them, which names the commit's log segment.
        Every seq reserved is above every seq already reserved or logged,
        so data rows and log segments share one order."""
        d = os.path.join(self._path(name), _CHANGELOG_DIR)
        os.makedirs(d, exist_ok=True)
        # Monotonic guard: time_ns alone can collide (two mutations in
        # one ns) or step backwards (clock adjustment); the log's file
        # names ARE its commit order, so seq must strictly increase.
        # File names embed the run's last seq, so max(existing)+1 floors
        # the new run — but the directory is listed only on the handle's
        # FIRST touch of this db (O(log) per commit otherwise); after
        # that the cached last seq counts forward.
        def _list_floor() -> int:
            return max((int(f.split(".")[0]) for f in _segments(d)), default=0)

        last = self._last_seq.get(name)
        if last is None:
            last = _list_floor()
        seq = max(time.time_ns(), last + 1) + n - 1
        # Collision guard for the multi-handle case: file name IS the
        # seq, so a second live handle whose cached floor is stale could
        # mint a seq some other handle already wrote — and the plain
        # write would OVERWRITE that handle's segment. Re-listing on
        # collision restores both uniqueness and (because every written
        # seq is in the listing) cross-handle monotonicity, at the cost
        # of one directory listing only in the already-raced case.
        while os.path.exists(os.path.join(d, f"{seq:020d}.parquet")):
            seq = max(time.time_ns(), _list_floor() + 1) + n - 1
        self._last_seq[name] = seq
        return seq

    def _log_change(
        self, name: str, seq: int, op: str, ts_lo: int | None,
        ts_hi: int | None, n_rows: int,
    ) -> None:
        """Append one commit-log segment, named by ``seq`` from
        :meth:`_next_seq` (driver-side pyarrow write: the log row is
        metadata, not data — one job per mutation would dwarf the
        mutation itself). It is published whole (:func:`publish`), so a
        crash mid-write leaves no torn segment. File names embed the
        monotone seq, so the log reads back in commit order with a plain
        sort."""
        table = pa.table(
            [[seq], [op], [ts_lo], [ts_hi], [n_rows]], schema=_LOG_SCHEMA
        )
        d = os.path.join(self._path(name), _CHANGELOG_DIR)
        publish(
            os.path.join(d, f"{seq:020d}.parquet"),
            lambda p: pq.write_table(table, p),
        )

    def _read_log(self, name: str) -> tuple[list[str], pa.Table]:
        """The commit log's one reader: the segment files it read and
        their rows, one per ``seq``, in ``seq`` order. Driver-side
        pyarrow over a metadata-sized directory. A row that an
        interrupted fold left in both the consolidated file and an old
        segment is read once, and a fold that removes a listed segment
        before it is read makes the read list again (:func:`_read_listed`)."""
        d = os.path.join(self._path(name), _CHANGELOG_DIR)
        paths, log = _read_listed(
            lambda: [os.path.join(d, f) for f in _segments(d)],
            schema=_LOG_SCHEMA,
        )
        if log is None:
            return [], _LOG_SCHEMA.empty_table()
        log = log.sort_by("seq")
        seqs = log.column("seq").to_numpy()
        return paths, log.filter(np.append(True, seqs[1:] != seqs[:-1]))

    def change_log(self, name: str) -> DataFrame:
        """Batch view of the commit log, in commit order: one row per
        mutating operation. ``n_rows`` is op-specific: docs appended
        (write, every row posted, a key repeated within the batch
        included), raw rows removed (delete: the in-range rows plus the
        revisions folded away in the two edge partitions), live rows
        remaining (compact). A database with no mutations yet returns an
        empty frame.

        The log is read on the driver (:meth:`_read_log`) and returned as
        a local DataFrame: no Spark job, and each ``seq`` once, also
        after a fold that crashed before it removed the old segments."""
        if not os.path.isdir(self._path(name)):
            raise KeyError(f"no such db: {name}")
        return self.spark.createDataFrame(self._read_log(name)[1])

    # -- Reads (S1-S3, S10/S11) --------------------------------------------

    def _scan(
        self, name: str, listing: dict[str, list[tuple[str, int]]]
    ) -> DataFrame:
        """Raw rows (``ts_ns, seq, doc`` plus the ``date`` partition
        column) of exactly the files of a :meth:`_data_files` listing:
        the store's one reader. The declared schema means no
        schema-inference job, and naming the files means Spark reads what
        the listing saw and nothing else (a file published after the
        listing is not in this read). Spark checks up to 32 paths on the
        driver; more take a listing job."""
        path = self._path(name)
        return (
            self.spark.read.schema(DOC_SCHEMA)
            .option("basePath", path)
            .parquet(*[
                os.path.join(path, f"date={d}", f)
                for d, files in listing.items() for f, _ in files
            ])
        )

    def _live(
        self, name: str, lo: int | None = None, hi: int | None = None,
        dates: list[str] | None = None,
    ) -> DataFrame:
        """Live rows (``ts_ns, seq, doc, date``), one per key, of keys in
        ``[lo, hi]`` (inclusive ns, ``None`` is open) of the ``dates``
        partitions (default: all). The in-range partitions come from one
        :meth:`_data_files` listing and :meth:`_scan` reads exactly its
        files. A key lives in one partition and no file holds it twice,
        so the last-write-wins fold runs only if some listed partition
        holds more than one file. A range that touches no partition is
        the empty frame."""
        if dates is None:
            dates = [p[len("date="):] for p in self._partitions(name)]
        lo_d = None if lo is None else _ns_date(lo)
        hi_d = None if hi is None else _ns_date(hi)
        listing = self._data_files(name, [
            d for d in dates
            if (lo_d is None or d >= lo_d) and (hi_d is None or d <= hi_d)
        ])
        if not listing:
            return self.spark.createDataFrame([], DOC_SCHEMA + ", date date")
        raw = self._scan(name, listing)
        bounds = []
        if lo is not None:
            bounds.append(f"ts_ns >= {lo}")
        if hi is not None:
            bounds.append(f"ts_ns <= {hi}")
        if bounds:
            raw = raw.where(" AND ".join(bounds))
        if any(len(files) > 1 for files in listing.values()):
            raw = latest_by_key(raw, ["ts_ns"], "seq")
        return raw

    def df(self, name: str, from_ts=None, to_ts=None) -> DataFrame:
        """Live view of the database: one row per key (last write wins).
        Range bounds are inclusive ns keys (P4). Pruning is a driver-side
        listing of the in-range partitions' files; the ``ts_ns`` bounds
        stay on the scan for row-group skipping. A range that touches no
        partition is the empty frame; an unreadable file raises."""
        lo = None if from_ts is None else py_parse_ts_ns(from_ts)
        hi = None if to_ts is None else py_parse_ts_ns(to_ts)
        return self._live(name, lo, hi).select("ts_ns", "seq", "doc")

    def get(self, name: str, ts) -> str | None:
        """Point read (S3) on the driver, with no Spark job: pyarrow reads
        the files of the key's date partition with the filter
        ``ts_ns == key`` (row groups whose ``ts_ns`` bounds miss the key
        are skipped), and the newest ``seq`` among the key's revisions
        wins. Exact beside a ``compact`` or ``delete_range``: a file
        that a rewrite unlinks after the listing makes the read list
        again (:func:`_read_listed`), where Spark would skip it."""
        ns = py_parse_ts_ns(ts)
        d = _ns_date(ns)
        part_dir = os.path.join(self._path(name), f"date={d}")
        _, found = _read_listed(
            lambda: [
                os.path.join(part_dir, f)
                for f, _ in self._data_files(name, [d]).get(d, [])
            ],
            columns=["seq", "doc"],
            filters=[("ts_ns", "=", ns)],
        )
        rows = [] if found is None else found.to_pylist()
        return max(rows, key=lambda r: r["seq"])["doc"] if rows else None

    def all_docs(
        self, name: str, from_ts=None, to_ts=None, limit: int | None = None
    ) -> DataFrame:
        """Key-ordered (key, doc) range read (S10/S11 + P7 limit)."""
        out = (
            self.df(name, from_ts, to_ts)
            .orderBy("ts_ns")
            .select(canonical_key("ts_ns").alias("key"), "doc")
        )
        return out.limit(limit) if limit is not None else out

    def dump_lines(
        self, name: str, from_ts=None, to_ts=None, limit: int | None = None
    ) -> "list[str]":
        """NDJSON lines '{"<key>": <doc>}' (reference _dump,
        handlers.go:381-420). Collects — use only for bounded ranges; the
        scale-out path is :meth:`dump_files`."""
        rows = self.all_docs(name, from_ts, to_ts, limit).collect()
        return ['{"%s": %s}' % (r.key, r.doc) for r in rows]

    def dump_files(
        self, name: str, out_dir: str, from_ts=None, to_ts=None,
        compression: str | None = None,
    ) -> int:
        """Distributed NDJSON dump: the same '{"<key>": <doc>}' lines as
        :meth:`dump_lines`, written executor-side with ``df.write.text``
        (no driver materialization — the 100 TB analogue of the
        reference's incrementally streamed ``_dump``,
        handlers.go:381-420). Files are key-ordered within and across
        part files (range-partitioned by the sort); returns the row
        count. Concatenating the sorted part files reproduces the
        streamed dump byte-for-byte.

        ``compression="gzip"`` is the engine-side analogue of the
        reference's gzip encoding sink (S12, ``newGzippingWriter``,
        handlers.go:300-329, and the dump tool's compressed backups,
        tools/dump/dump.go:45-63): each part file is a ``.txt.gz``
        stream, compressed executor-side.

        The returned count comes from an ``Observation`` metric on the
        write job itself — no second scan of the dump output."""
        obs = Observation()
        out = (
            self.df(name, from_ts, to_ts)
            .orderBy("ts_ns")
            .select(
                F.concat(
                    F.lit('{"'),
                    canonical_key("ts_ns"),
                    F.lit('": '),
                    F.col("doc"),
                    F.lit("}"),
                ).alias("value")
            )
            .observe(obs, F.count(F.lit(1)).alias("n"))
        )
        w = out.write.mode("overwrite")
        if compression:
            w = w.option("compression", compression)
        w.text(out_dir)
        return int(obs.get["n"])

    # -- Maintenance (S6/S7/S9) --------------------------------------------

    def _partitions(
        self, name: str, first: str | None = None, last: str | None = None
    ) -> list[str]:
        """The ``date=`` partition directories, sorted; only those of the
        dates ``first`` to ``last`` (ISO dates, inclusive; None is open)
        when given."""
        path = self._path(name)
        if not os.path.isdir(path):
            raise KeyError(f"no such db: {name}")
        return sorted(
            d for d in os.listdir(path)
            if d.startswith("date=")
            and (first is None or d[len("date="):] >= first)
            and (last is None or d[len("date="):] <= last)
            and os.path.isdir(os.path.join(path, d))
        )

    def _data_files(
        self, name: str, dates: list[str] | None = None
    ) -> dict[str, list[tuple[str, int]]]:
        """What the database holds: date -> the sorted ``(file, bytes)`` of
        its ``date=`` partition's parquet files, for every partition or
        for ``dates``. The one file listing behind the cache's date stamps,
        :meth:`info` and the footer row counts;
        driver-side metadata, no Spark job. Hidden and ``_``-prefixed
        names (the commit log, Spark's markers) are not data, as Spark's
        readers skip them. A partition missing from disk (retired by a
        rewrite), or a ``date=`` directory holding no data file (a commit
        that crashed before publishing its file), is left out. A missing
        database raises ``KeyError``."""
        path = self._path(name)
        if dates is None:
            dates = [p[len("date="):] for p in self._partitions(name)]
        elif not os.path.isdir(path):
            raise KeyError(f"no such db: {name}")
        out = {}
        for d in dates:
            part_dir = os.path.join(path, f"date={d}")
            while True:
                try:
                    with os.scandir(part_dir) as it:
                        files = [
                            (e.name, e.stat().st_size)
                            for e in it if _is_data_file(e.name)
                        ]
                    break
                except FileNotFoundError:
                    # The partition is gone, or a rewrite unlinked a
                    # file between the scan and its stat. Leaving that
                    # file out could leave out the whole partition (the
                    # rewrite's output was published after the scan), so
                    # the partition is scanned again.
                    if not os.path.isdir(part_dir):
                        files = []
                        break
            if files:
                out[d] = sorted(files)
        return out

    def _partition_versions(
        self, name: str, first: str | None = None, last: str | None = None
    ) -> dict[str, str]:
        """date -> fingerprint of the partition's file listing, for the
        dates ``first`` to ``last`` (as :meth:`_partitions`). A commit
        changes the fingerprint of exactly the partitions it writes,
        rewrites or drops; the commit log is not part of it."""
        dates = [p[len("date="):] for p in self._partitions(name, first, last)]
        return {
            d: hashlib.md5(json.dumps(files).encode()).hexdigest()
            for d, files in self._data_files(name, dates).items()
        }

    def _footer_rows(
        self, name: str, listing: dict[str, list[tuple[str, int]]]
    ) -> int:
        """Exact row count of the files of a :meth:`_data_files` listing,
        from parquet footer metadata: driver-side milliseconds, no Spark
        job."""
        path = self._path(name)
        return sum(
            pq.read_metadata(os.path.join(path, f"date={d}", f)).num_rows
            for d, files in listing.items()
            for f, _ in files
        )

    def delete_range(self, name: str, from_ts, to_ts) -> None:
        """Bulk range delete (S6). Partitions fully inside the range are
        retired without reading their data: their listed files are
        unlinked, then the emptied directory. Each of the two edge
        partitions is rewritten in place by :meth:`_rewrite_partition`
        without the deleted keys: one file holding each surviving key
        once. An edge of more than one file is first rewritten as one
        file without a drop, so the drop unlinks a single input and a
        concurrent read of the edge sees it before or after the delete.
        A file committed into the range after this call's listing
        survives. The 10k-commit batching of the reference
        (handlers.go:256) is irrelevant here: the rewrite is one Spark
        write (2 jobs) per edge partition, two for an edge of several
        files.

        The commit log's ``n_rows`` (raw rows removed) comes from parquet
        footers, not a scan job: a retired partition's rows, plus each
        edge rewrite's rows read minus rows written (the in-range rows
        and the superseded revisions the rewrite folds away)."""
        lo, hi = py_parse_ts_ns(from_ts), py_parse_ts_ns(to_ts)
        lo_d = _ns_date(lo)
        hi_d = _ns_date(hi)
        n_removed = 0
        for d, files in self._data_files(name).items():
            if lo_d < d < hi_d:
                n_removed += self._footer_rows(name, {d: files})
                self._retire(name, d, [f for f, _ in files])
            elif d == lo_d or d == hi_d:
                # An edge of several files is folded into one first: the
                # drop then unlinks one input, so a read sees all of the
                # deleted keys or none of them.
                drops = [None, (lo, hi)] if len(files) > 1 else [(lo, hi)]
                for drop in drops:
                    rows_in, rows_out = self._rewrite_partition(name, d, drop)
                    n_removed += rows_in - rows_out
        self._log_change(name, self._next_seq(name), "delete", lo, hi, n_removed)

    def _rewrite_partition(
        self, name: str, date: str, drop: tuple[int, int] | None = None
    ) -> tuple[int, int]:
        """Rewrite the data files of partition ``date`` in place as one
        file that holds each of their keys once, with its highest ``seq``
        (last write wins), less the keys in ``drop`` (an inclusive ns
        range); returns (rows read, rows written). The one rewrite of the
        store, behind :meth:`compact` and :meth:`delete_range`, as the
        reference compacts into one new couch file (database.go:136-171).

        The new file is staged in the database's hidden ``.tmp-<uuid>``
        directory and published beside the old files before any old one
        goes, so a read at any point sees the old files, the new one, or
        both, folded by last-write-wins. Without ``drop`` each of these
        is the same live view. A ``drop`` rewrite of several input files
        would unlink them one at a time, so a read in between could see
        some dropped keys and not others; :meth:`delete_range` therefore
        folds such a partition into one file first. Only the files of the one listing
        taken here are read and unlinked: a file committed after it is
        left as it is. A crash at any step leaves every kept row readable
        with its doc, and running the operation again finishes it; the
        next :meth:`compact` removes the staging directory a crash
        left."""
        path = self._path(name)
        part_dir = os.path.join(path, f"date={date}")
        listing = self._data_files(name, [date])
        files = [f for f, _ in listing.get(date, [])]
        rows_in = self._footer_rows(name, listing)
        rows_out = 0
        # A directory with no data file (a commit that crashed before its
        # rename) has nothing to read: it is only removed.
        if files:
            rows = self._scan(name, listing).select("ts_ns", "seq", "doc")
            if drop is not None:
                rows = rows.where(f"NOT (ts_ns >= {drop[0]} AND ts_ns <= {drop[1]})")
            tmp = os.path.join(path, f".tmp-{uuid.uuid4().hex}")
            try:
                latest_by_key(rows, ["ts_ns"], "seq").coalesce(1).write.parquet(tmp)
                # The footer says whether the output holds rows: an empty
                # one (every key dropped) is never published.
                for f in sorted(os.listdir(tmp)):
                    if not _is_data_file(f):
                        continue
                    n = pq.read_metadata(os.path.join(tmp, f)).num_rows
                    if n:
                        os.replace(os.path.join(tmp, f), os.path.join(part_dir, f))
                        rows_out += n
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
        self._retire(name, date, files)
        return rows_in, rows_out

    def _retire(self, name: str, date: str, files: list[str]) -> None:
        """Unlink ``files`` of partition ``date``, then remove its
        directory if it is empty. ``rmdir`` leaves the directory to a
        data file published meanwhile, and to a crashed commit's staging
        file, which the next :meth:`compact` removes first."""
        part_dir = os.path.join(self._path(name), f"date={date}")
        for f in files:
            os.remove(os.path.join(part_dir, f))
        with contextlib.suppress(OSError):
            os.rmdir(part_dir)

    def compact(self, name: str, fold_changelog: bool = True) -> None:
        """Rewrite each partition of more than one file as one file that
        holds each key once, its newest revision (S7: couch-file rewrite
        ≙ OPTIMIZE; also reclaims overwritten docs the way couchstore
        compaction drops old revisions).

        Idempotent, like OPTIMIZE: a partition of exactly one data file
        holds each key once, so it is left as it is (no Spark job, same
        file, same partition version). A second ``compact`` with no
        commit in between rewrites nothing; it still folds the commit log
        and records itself there.

        Each partition is rewritten in place (:meth:`_rewrite_partition`):
        two Spark jobs, the new file published beside the old ones, then
        the files the rewrite read unlinked. A revision committed during
        the rewrite survives as a file of its own, folded at read time
        until the next ``compact``. A crash mid-rewrite leaves a
        partition that reads the same live keys, and may leave its
        staging directory; compacting again removes every such
        directory of this database first and reaches one file per
        partition. It also removes every hidden ``*.tmp`` staging file
        a crashed commit, log append or log fold left in a ``date=``
        directory or in the commit log.

        ``fold_changelog=False`` skips the commit-log fold — use it when
        a lagging :meth:`changes_log_stream` consumer may not have
        caught up to the current log tail yet (the fold rewrites the
        newest segment in place, which a file stream never re-reads)."""
        listing = self._data_files(name)
        # This database has one writer handle, and it is here: a staging
        # directory (a rewrite's) or staging file (a commit's, a log
        # segment's or a fold's) seen now is a crashed one.
        path = self._path(name)
        for d in os.listdir(path):
            if d.startswith(".tmp-"):
                shutil.rmtree(os.path.join(path, d), ignore_errors=True)
            elif d.startswith("date=") or d == _CHANGELOG_DIR:
                for f in os.listdir(os.path.join(path, d)):
                    if f.startswith(".") and f.endswith(".tmp"):
                        os.remove(os.path.join(path, d, f))
        for part in self._partitions(name):
            d = part[len("date="):]
            if len(listing.get(d, [])) != 1:
                self._rewrite_partition(name, d)
        # Fold the accumulated one-file-per-commit log segments into a
        # single consolidated segment BEFORE recording this compaction
        # (which then lands as a fresh segment). The log grows one tiny
        # file per mutation; without folding, both change_log reads and
        # the first-touch seq listing degrade with mutation count.
        if fold_changelog:
            self._fold_changelog(name)
        # Post-compaction the physical rows ARE the live set (the LWW fold
        # just ran); the count comes straight from the freshly-written
        # parquet footers — no job.
        self._log_change(
            name, self._next_seq(name), "compact", None, None,
            self._footer_rows(name, self._data_files(name)),
        )

    def _fold_changelog(self, name: str) -> None:
        """Merge every commit-log segment into one file named with the
        max folded seq (so first-touch seq recovery still reads the
        floor from file names, and the batch ``change_log`` view is
        byte-identical — rows carry their seq; order comes from the
        sort, not the file split). The merged table is what
        :meth:`_read_log` returns; it is published over the newest
        segment's path (:func:`publish`) before the other segments it
        read are removed. A crash before the publish leaves the log as
        it was; a crash among the removals leaves rows in both the new
        file and an old segment, which the reader and the next fold read
        once.

        Streaming caveat (same in-place-maintenance story as the data
        partitions): the consolidated file REUSES the newest segment's
        path, which an up-to-date ``changes_log_stream`` has already
        seen — nothing is re-delivered to it, and a stream started
        after the fold reads the full consolidated history exactly
        once. A stream LAGGING behind the fold point can miss folded
        segments; fold during maintenance windows, as with any
        file-source compaction."""
        paths, log = self._read_log(name)
        if len(paths) <= 1:
            return
        publish(paths[-1], lambda p: pq.write_table(log, p))
        for p in paths[:-1]:
            os.remove(p)

    def info(self, name: str) -> dict:
        """S9: doc_count (live keys), space_used, partition/file counts.

        ``doc_count`` counts the live view (exact live keys — what the
        reference reports from the couchstore header). At cluster scale
        prefer a table format whose snapshot carries row counts, or a
        per-date ``count`` of ``_id`` through ``QueryCache`` (its units
        are recomputed only for the dates a commit touches), and treat
        this as the slow exact path."""
        listing = self._data_files(name)
        return {
            "db_name": name,
            "doc_count": self.df(name).count(),
            "space_used": sum(b for files in listing.values() for _, b in files),
            "n_partitions": len(listing),
            "n_files": sum(map(len, listing.values())),
        }

    # -- Changes feed (S13) -------------------------------------------------

    def changes(self, name: str) -> DataFrame:
        """Streaming DataFrame of appended documents (the feed the
        reference never implemented — 501 at handlers.go:455-457): new
        parquet files in the db directory become micro-batches.

        CONTRACT — append-only. The parquet file source tracks files, not
        rows, so the feed surfaces INSERTS and UPSERT revisions (each
        write_batch lands as new files) but NOT the effects of
        ``delete_range``/``compact``, which rewrite or remove
        already-seen files; a rewritten edge partition is seen AGAIN as
        a whole (the new file), so consumers must apply the same LWW
        collapse the batch reader uses, and deletes are only observable
        as the absence of keys on a fresh batch read. Pinned by
        tests/test_db.py::test_changes_feed_is_append_only. For deletes
        and compaction as FIRST-CLASS change rows, stream the commit log
        instead (:meth:`changes_log_stream` — the log-backed feed this
        docstring used to defer to a table format)."""
        return (
            self.spark.readStream.schema(DOC_SCHEMA + ", date date")
            .option("basePath", self._path(name))
            # Per-source (NOT session-wide): this feed races in-place
            # maintenance — delete_range/compact may remove a file the
            # FileStreamSource already listed. Skipping the vanished
            # file yields pre-delete or post-delete state, never a
            # crash; batch reads elsewhere stay fail-fast.
            .option("ignoreMissingFiles", "true")
            .parquet(self._path(name))
        )

    def changes_log_stream(
        self,
        name: str,
        exactly_once: bool = False,
        dedup_within: str | None = None,
    ) -> DataFrame:
        """Streaming view of the commit log: one row per mutating commit
        (write/delete/compact), delivered incrementally. Unlike
        :meth:`changes`, this feed DOES surface deletes and compaction —
        mutations only ever ADD log segments. This is the
        Delta-CDF-shaped feed built on the plain-parquet layout.

        CONTRACT — append-only EXCEPT during :meth:`compact`'s changelog
        fold, which consolidates the accumulated segments into one file
        (reusing the newest segment's path) and removes the rest. To a
        stream that is CAUGHT UP at fold time this is invisible (every
        folded row was already delivered, and the reused path is never
        re-read). A stream LAGGING behind the fold point skips the
        removed segments without crashing (``ignoreMissingFiles`` below)
        but can MISS their rows; a stream started after the fold reads
        the consolidated history exactly once. After a mid-fold crash,
        rows stranded in both the consolidated file and an old segment
        are delivered twice — exactly-once consumers should key on
        ``seq`` (the batch :meth:`change_log` view dedupes for you, and
        ``exactly_once=True`` dedupes the stream in-flight). Fold during
        maintenance windows, or pass
        ``compact(name, fold_changelog=False)`` while laggards drain —
        the same discipline as any file-source compaction.

        How the duplicates arise (pinned by
        tests/test_crash_recovery.py): a RESTARTED lagging stream has
        not seen the consolidated file's (reused) path, reads it whole,
        and re-delivers rows it already saw as per-commit segments;
        after a mid-fold crash the same rows sit in BOTH the
        consolidated file and the not-yet-removed old segments. Either
        way the failure mode is duplicate delivery, never silent loss —
        loss needs the narrower race where a planned-but-unexecuted
        micro-batch spans segments the fold removes mid-flight
        (``ignoreMissingFiles`` then skips them), which is exactly what
        ``fold_changelog=False`` exists to rule out.

        ``exactly_once=True`` wraps the feed in a streaming
        ``dropDuplicates(["seq"])``. The dedup state is unbounded by
        watermark but bounded by reality: one tiny row per COMMIT (the
        log is metadata-sized by construction — far below any data
        plane, the same budget as the log itself). For a LONG-LIVED
        stream even metadata-sized state grows without bound, so
        ``dedup_within`` (e.g. ``"7 days"``) switches to
        ``dropDuplicatesWithinWatermark`` keyed on the commit's
        event time (``seq`` IS a nanosecond epoch timestamp — see
        ``_log_change``), capping state to commits younger than the
        horizon. The trade: a duplicate re-delivered MORE than
        ``dedup_within`` after the original commit (a consumer
        restarting onto the consolidated file long after a fold) passes
        through — size the horizon to your restart cadence, or restart
        the query (fresh checkpoint) to re-bound plain
        ``exactly_once`` state instead."""
        path = self._path(name)
        if not os.path.isdir(path):
            raise KeyError(f"no such db: {name}")
        s = (
            self.spark.readStream.schema(CHANGELOG_SCHEMA)
            # Per-source, like .changes: a lagging stream races the
            # fold's segment removals; skipping a vanished file yields
            # the fold-time view, never a crash.
            .option("ignoreMissingFiles", "true")
            .parquet(os.path.join(path, _CHANGELOG_DIR))
        )
        if dedup_within is not None:
            return (
                s.withColumn(
                    # Integer division: seq is a NANOSECOND epoch long
                    # (~2^60); float `/` would round it through a 53-bit
                    # mantissa (~200 ns loss) before the cast.
                    "__commit_ts",
                    F.timestamp_micros(F.expr("seq div 1000")),
                )
                .withWatermark("__commit_ts", dedup_within)
                .dropDuplicatesWithinWatermark(["seq"])
                .drop("__commit_ts")
            )
        return s.dropDuplicates(["seq"]) if exactly_once else s

    # -- Query (the §3.1 analytical path) -----------------------------------

    def query(
        self, name: str, q: SerieslyQuery, exact_sums: bool = False,
        dates: list[str] | None = None,
    ) -> DataFrame:
        """The `GET /db/_query` equivalent over the live LWW view, of the
        ``dates`` partitions only when given (``QueryCache`` computes
        just the dates it lacks)."""
        lo = None if q.from_ts is None else py_parse_ts_ns(q.from_ts)
        hi = None if q.to_ts is None else py_parse_ts_ns(q.to_ts)
        src = self._live(name, lo, hi, dates)
        # The view already holds only the range's keys: the compiler need
        # not filter it a second time.
        unbounded = dataclasses.replace(q, from_ts=None, to_ts=None)
        return seriesly_query(
            src, unbounded, doc_col="doc", ts_ns_col="ts_ns", exact_sums=exact_sums
        )


_NS_PER_DAY = 86_400 * 10**9


def _is_data_file(f: str) -> bool:
    """A published parquet file: a data file of a ``date=`` partition, or
    a commit-log segment. Hidden and ``_``-prefixed names (staging files,
    Spark's markers) are not, as Spark's readers skip them."""
    return f.endswith(".parquet") and not f.startswith((".", "_"))


def _segments(d: str) -> list[str]:
    """The commit-log segments in log directory ``d``, in seq order (a
    segment is named by its zero-padded last seq)."""
    return sorted(filter(_is_data_file, os.listdir(d))) if os.path.isdir(d) else []


def _ns_date(ns: int) -> str:
    """The ``date=`` partition of key ``ns``: the UTC day of its µs floor,
    as ``write_batch`` derives it (exact integer math, no float)."""
    return (_EPOCH + timedelta(microseconds=ns // 1000)).strftime("%Y-%m-%d")
