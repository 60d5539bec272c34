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

Storage layout — one directory per database: the data files, hive-partitioned
by UTC date, and the commit log that says which of them the database holds:

    <root>/<db>/date=YYYY-MM-DD/part-*.parquet   (ts_ns LONG, seq LONG, doc STRING)
    <root>/<db>/.changelog/<seq>.parquet         (one segment per commit)

The commit log is the one record of what a database holds, in the style
of Delta's ``_delta_log``. Each segment records one commit: its public
row (``seq, op, ts_lo_ns, ts_hi_ns, n_rows``) and the data files the
commit adds (path under the database, rows, bytes) and removes. A handle
replays the log into a snapshot (date -> files, and the last seq) and
keeps it: a read lists ``.changelog`` and reads only the segments it has
not read (by name and file: commits may publish out of seq order, and a
fold republishes under a segment's name), and the handle's own commits
update the snapshot in memory. Every read, ``get``, ``info`` and the
``QueryCache`` stamps resolve the files of one snapshot; no read walks a
``date=`` directory. A data file that no commit names is not part of the
database: a file dropped into a ``date=`` directory by hand is not read,
and ``compact`` removes it. A database whose log was written before
segments named their files does not read (``ValueError``).

A data file holds each key at most once, in ``ts_ns`` order: both
writers, ``write_batch`` and the one partition rewrite behind
``compact`` and ``delete_range``, fold a key's rows to the one of its
highest ``seq`` (:func:`_newest`) and publish through one step
(:func:`_write_part`). A key's revisions share its date, so a partition
of one file is already its own live view, and last-write-wins is
resolved at read time only for partitions of more than one file.

The commit point. Every public mutation is one commit: it publishes its
new data files first, then the log segment that names them (under a
name no file has, so a segment is never overwritten), and only then
unlinks the files that segment removes. A crash before the segment
rolls the mutation back (its published files are named by no commit, so
no read sees them, and the next ``compact`` removes them); a crash after
it rolls forward (the removed files are no longer read, and ``compact``
removes what is left of them). A multi-partition ``delete_range`` or
``compact`` switches every partition at once for any read that resolves
after the commit.

Design for scale: a read names exactly the snapshot's files of the
in-range partitions and reads them with the declared schema — no
schema-inference job, no listing of other days — keeping the ts_ns
bounds on the scan for parquet min/max skipping (the B-tree range-walk
analogue); a point ``get`` reads only its key's day, on the driver with
pyarrow (no Spark job); a commit writes one new file per date from the
driver with pyarrow (no Spark job, no read-modify-write); delete_range
retires fully-covered partitions without reading their data and
rewrites only the two edge partitions; compact rewrites each partition
that holds more than one file. Both rewrite a partition on the driver
with pyarrow (no Spark job; one date partition in driver memory at a
time) as one folded file, published beside the old ones before their
commit retires them, as the reference writes a new couch file before it
swaps out the old one (database.go:136-171). Every file the driver
writes (a commit's or a rewrite's data file, a commit-log segment, the
log's fold, a ``QueryCache`` entry) goes through one publish step,
:func:`publish`: it is staged under a hidden unique name and renamed
onto its own, so it appears whole or not at all; no Spark job writes
under a database. On a real deployment the same API maps onto
Delta/Iceberg (MERGE, OPTIMIZE, CDF) — plain parquet keeps this repo
dependency-free.
"""

from __future__ import annotations

import contextlib
import dataclasses
import fcntl
import os
import shutil
import threading
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
# A segment's columns, as the driver writes and reads them with pyarrow:
# the five public ones, then the data files the commit adds (path under
# the database, rows, bytes) and the paths it removes. The public views
# read the five with the declared schema; parquet drops the rest.
_LOG_SCHEMA = pa.schema([
    ("seq", pa.int64()), ("op", pa.string()), ("ts_lo_ns", pa.int64()),
    ("ts_hi_ns", pa.int64()), ("n_rows", pa.int64()),
    ("add", pa.list_(pa.struct([
        ("path", pa.string()), ("rows", pa.int64()), ("bytes", pa.int64()),
    ]))),
    ("remove", pa.list_(pa.string())),
])
# Built once: an empty table of the nested schema takes about 0.1 ms,
# which every read that finds no new segment would pay.
_EMPTY_LOG = _LOG_SCHEMA.empty_table()
_CHANGELOG_DIR = ".changelog"


@dataclasses.dataclass(frozen=True)
class _Snapshot:
    """A database as of the commits applied to it: ``files`` maps each
    date to its data files, ``{file: (bytes, rows)}``, ``seq`` is the
    highest seq applied, and ``log`` holds the log segments they were
    read from, as :func:`_segments` lists them. Never changed in place:
    a commit makes a new snapshot, which shares the maps of the dates it
    does not touch."""

    seq: int = 0
    files: dict = dataclasses.field(default_factory=dict)
    log: frozenset = frozenset()

    def then(self, commits: list[dict], log: frozenset) -> _Snapshot:
        """This snapshot after the commit-log rows ``commits``, in seq
        order, read from the segments ``log``: each commit removes its
        ``remove`` paths and adds its ``add`` files."""
        files, seq, copied = dict(self.files), self.seq, set()
        for c in commits:
            seq = max(seq, c["seq"])
            changes = [(p, None) for p in c["remove"]]
            changes += [(a["path"], (a["bytes"], a["rows"])) for a in c["add"]]
            for p, entry in changes:
                d, f = p[len("date="):].split("/")
                if d not in copied:
                    copied.add(d)
                    files[d] = dict(files.get(d, {}))
                if entry is None:
                    files[d].pop(f, None)
                else:
                    files[d][f] = entry
        return _Snapshot(seq, {d: fs for d, fs in files.items() if fs}, log)


_EMPTY_SNAPSHOT = _Snapshot()


def publish(path: str, write: Callable[[str], object], exclusive: bool = False) -> None:
    """Make the file at ``path`` appear whole or not at all: ``write``
    writes a hidden, uniquely named staging file in the same directory
    (``.<name>.<uuid>.tmp``), which is then renamed onto ``path`` or,
    if ``exclusive``, linked to it, which raises ``FileExistsError``
    rather than replace a file of that name. A failed write removes the
    staging file. One that a crash leaves is hidden from every reader
    and listing; in a database, :meth:`SerieslyDB.compact` removes it."""
    d, f = os.path.split(path)
    tmp = os.path.join(d, f".{f}.{uuid.uuid4().hex}.tmp")
    try:
        write(tmp)
        if exclusive:
            os.link(tmp, path)
            os.remove(tmp)
        else:
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
    again and retries, and sees the state after that step. A listing
    that comes back unchanged means no such step explains the missing
    file, and its ``FileNotFoundError`` is raised."""
    paths = list_paths()
    while paths:
        try:
            return paths, pq.read_table(paths, **read)
        except FileNotFoundError:
            again = list_paths()
            if again == paths:
                raise
            paths = again
    return paths, None


class SerieslyDB:
    """Filesystem-rooted database registry + per-database operations.

    Storage invariant: no data file holds a key twice, and a key's
    revisions share one ``date=`` partition. Reads therefore apply the
    last-write-wins fold only when some partition they cover holds more
    than one file. The one partition rewrite (:meth:`_rewrite`) always
    writes one folded file, so :meth:`compact` leaves a one-file
    partition as it is (no new file name, no new partition version).
    Commits and rewrites run on the driver with pyarrow, and no
    mutation launches a Spark job; a rewrite holds one date partition
    in driver memory. A row's ``seq`` comes from the same guarded
    counter as the commit log's, so the newest write of a key always
    wins.

    The commit log (``<db>/.changelog/``, always on) is the database's
    manifest: every mutation appends one tiny parquet segment naming
    the files it adds and removes, and :meth:`_data_files` returns the
    snapshot this handle replayed from it (:meth:`_snapshot`). The
    dot-prefixed directory is invisible to Spark's data readers.
    Mutations only ever ADD segments, so streaming the log surfaces
    deletes and compaction as first-class change rows — the piece the
    plain append-only docs feed (:meth:`changes`) cannot observe. One
    maintenance step does rewrite the log: :meth:`compact` folds the
    accumulated segments into one file, which keeps every commit's row
    and files and so is the checkpoint a reopen replays (opt out with
    ``compact(name, fold_changelog=False)``); see
    :meth:`changes_log_stream` for what that means to a live stream. On
    the driver the log has one reader, :meth:`_read_log`, behind the
    snapshot, :meth:`change_log` and the fold.

    Concurrency contract: ONE WRITER HANDLE per database at a time (the
    same single-writer contract as the incremental dedup indexes and any
    table format without a lock service); what follows holds beside a
    second handle or thread too. A commit's seqs are reserved above the
    last seq of the handle's refreshed snapshot, so above every commit
    any handle published before. Commits need not publish in seq order
    (a seq is reserved before the commit's data files are written), so
    a replay reads every segment it has not read, by name and file, and
    no seq floor skips a commit published late. A segment is published only under a name no file
    has: two commits that reserved one seq (a frozen clock) cannot both
    land, and the second fails with ``FileExistsError`` and is rolled
    back. A data append that races a ``compact``/``delete_range``
    partition rewrite survives, with no error: the rewrite's commit
    removes only the files of its own snapshot. Every mutation holds the
    database's advisory lock (``flock`` of its ``.changelog`` directory)
    shared from its first published file to its segment, and the sweep
    of :meth:`compact` holds it exclusively, so the sweep never removes
    the files of a commit that can still land. Readers on any handle or
    thread see whole commits: a read resolves one snapshot, so a
    mutation switches all of its files at once for a read that resolves
    after its commit. The driver-side reads, :meth:`get` and
    :meth:`change_log`, are exact beside a rewrite or a log fold: a file
    unlinked after the read resolved makes it resolve again
    (:func:`_read_listed`). The Spark reads (:meth:`df`, :meth:`query`,
    :meth:`all_docs`, :meth:`info`) are not: a scan that resolved before
    a commit can miss the rows of a file that the commit unlinks under
    it (ROADMAP item 4's grace window).
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # Per database: the snapshot this handle last replayed the log
        # into, replaced whole under the lock.
        self._snapshots: dict[str, _Snapshot] = {}
        self._lock = threading.Lock()
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
        # A re-created db starts a fresh log, and an empty snapshot.
        self._snapshots.pop(name, None)

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
        split by ``date=`` partition and every date's table is built,
        one row per key in ``ts_ns`` order (:func:`_newest`), before any
        is published. Each table is then published in its partition
        (:func:`_write_part`), and the log segment that names them last
        (:meth:`_commit`): it is the commit point, so a crash before it
        leaves no row of the batch in the database."""
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
        # No file holds a key twice: the last row of a repeated key has
        # the higher seq, and _newest keeps it.
        tables = {
            _ns_date(day * _NS_PER_DAY): _newest(pa.table({
                "ts_ns": pa.array([keys[i] for i in idx], pa.int64()),
                "seq": pa.array([first + i for i in idx], pa.int64()),
                "doc": pa.array([rows[i][1] for i in idx], pa.string()),
            }))
            for day, idx in by_day.items()
        }
        with self._log_lock(name):
            add = [_write_part(path, d, table) for d, table in tables.items()]
            self._commit(name, last_seq, "write", min(keys), max(keys), len(keys), add)
        return keys

    # -- Commit log ---------------------------------------------------------

    def _next_seq(self, name: str, n: int = 1) -> int:
        """Reserve ``n`` consecutive seqs for one commit of ``name`` and
        return the last of them, which names the commit's log segment.
        The run is above the last seq of the refreshed snapshot, so above
        every commit any handle published before this call: data rows
        and log segments share one order."""
        d = os.path.join(self._path(name), _CHANGELOG_DIR)
        while True:
            # time_ns alone can collide (two commits in one ns) or step
            # back (clock adjustment); the log's file names ARE its
            # commit order, so seq must strictly increase.
            seq = max(time.time_ns(), self._snapshot(name).seq + 1) + n - 1
            # Collision guard: a second handle that published since the
            # refresh may hold this name; the next refresh floors above
            # it. One that publishes it later makes this commit fail
            # (_commit publishes its segment exclusive).
            if not os.path.exists(os.path.join(d, f"{seq:020d}.parquet")):
                return seq

    @contextlib.contextmanager
    def _log_lock(self, name: str, op: int = fcntl.LOCK_SH):
        """Hold the advisory lock of database ``name`` (``flock`` ``op``
        of its commit-log directory) for the ``with`` block; with
        ``LOCK_NB``, a conflicting holder raises ``BlockingIOError``. A
        mutation holds it shared from its first published file to its
        segment; :meth:`_sweep` holds it exclusively."""
        fd = os.open(os.path.join(self._path(name), _CHANGELOG_DIR), os.O_RDONLY)
        try:
            fcntl.flock(fd, op)
            yield
        finally:
            os.close(fd)  # which releases the lock

    def _commit(
        self, name: str, seq: int, op: str, ts_lo: int | None,
        ts_hi: int | None, n_rows: int, add: list[dict] = (),
        remove: list[str] = (),
    ) -> None:
        """Commit one mutation: publish its log segment, named by ``seq``
        from :meth:`_next_seq` (driver-side pyarrow: the log row is
        metadata, not data). The segment names the data files the
        mutation published (``add``: ``path`` under the database, ``rows``
        and ``bytes``) and the paths it retires (``remove``); being
        published whole, and only under a name no file has
        (:func:`publish`, ``exclusive``), it is the commit point. The
        handle's snapshot takes the commit in memory, and only then are
        the removed files unlinked, and a partition left with no file
        loses its directory."""
        path = self._path(name)
        row = {
            "seq": seq, "op": op, "ts_lo_ns": ts_lo, "ts_hi_ns": ts_hi,
            "n_rows": n_rows, "add": list(add), "remove": sorted(remove),
        }
        table = pa.Table.from_pylist([row], schema=_LOG_SCHEMA)
        seg, staged = f"{seq:020d}.parquet", []

        def write(p: str) -> None:
            pq.write_table(table, p)
            # The link shares the staged file's inode and mtime, so this
            # is how _segments lists the published segment.
            st = os.stat(p)
            staged.append((seg, st.st_ino, st.st_mtime_ns))

        publish(os.path.join(path, _CHANGELOG_DIR, seg), write, exclusive=True)
        with self._lock:
            snap = self._snapshots.get(name, _EMPTY_SNAPSHOT)
            snap = self._snapshots[name] = snap.then([row], snap.log | set(staged))
        for p in row["remove"]:
            os.remove(os.path.join(path, p))
        for d in {p.split("/")[0] for p in remove}:
            if d[len("date="):] not in snap.files:
                with contextlib.suppress(OSError):  # a file published since
                    os.rmdir(os.path.join(path, d))

    def _snapshot(self, name: str) -> _Snapshot:
        """What ``name`` holds now: this handle's snapshot after it reads
        the log segments it has not read and applies their commits. With
        no new segment this is one listing of the commit log and no read.
        A segment read before that is gone or changed means a fold ran:
        the whole log is then replayed (:meth:`_read_log`). A log written
        before segments recorded data files raises ``ValueError``; a
        missing database raises ``KeyError``."""
        while True:
            snap = self._snapshots.get(name, _EMPTY_SNAPSHOT)
            listing, log = self._read_log(name, snap.log)
            if not log.num_rows:
                return snap
            if log.column("add").null_count:  # written before segments named files
                raise ValueError(f"database {name!r}: commit log predates file records")
            base = snap if snap.log <= set(listing) else _EMPTY_SNAPSHOT
            new = base.then(log.to_pylist(), frozenset(listing))
            with self._lock:  # unless a commit of this handle came first
                if self._snapshots.get(name, _EMPTY_SNAPSHOT) is snap:
                    self._snapshots[name] = new
                    return new

    def _read_log(
        self, name: str, skip: frozenset = frozenset()
    ) -> tuple[list[tuple[str, int, int]], pa.Table]:
        """The commit log's one reader: the listing of its segments
        (:func:`_segments`), and the rows of the listed segments not in
        ``skip``, one per ``seq``, in ``seq`` order: of all of them when
        ``skip`` is empty (the default) or holds a segment not listed.
        Driver-side pyarrow over a metadata-sized directory. A row that
        an interrupted fold left in both the consolidated file and an old
        segment is read once, and a fold that removes a listed segment
        before it is read makes the read list again
        (:func:`_read_listed`). A missing database raises ``KeyError``."""
        d, listing = os.path.join(self._path(name), _CHANGELOG_DIR), []
        if not os.path.isdir(d):
            raise KeyError(f"no such db: {name}")

        def unread() -> list[str]:
            listing[:] = _segments(d)
            read = skip if skip <= set(listing) else ()
            return [os.path.join(d, s[0]) for s in listing if s not in read]

        _, log = _read_listed(unread, schema=_LOG_SCHEMA)
        return listing, _EMPTY_LOG if log is None else _newest(log, "seq")

    def change_log(self, name: str) -> DataFrame:
        """Batch view of the commit log, in commit order: one row per
        mutating operation. ``n_rows`` is op-specific: docs appended
        (write, every row posted, a key repeated within the batch
        included), raw rows removed (delete: the in-range rows plus the
        revisions folded away in the two edge partitions), live rows
        remaining (compact). A database with no mutations yet returns an
        empty frame.

        The log is read on the driver (:meth:`_read_log`) and returned as
        a local DataFrame of the five public columns: no Spark job, and
        each ``seq`` once, also after a fold that crashed before it
        removed the old segments."""
        log = self._read_log(name)[1]
        return self.spark.createDataFrame(log.select(log.schema.names[:5]))

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
        files: dict[str, list[tuple[str, int]]] | None = None,
    ) -> DataFrame:
        """Live rows (``ts_ns, seq, doc, date``), one per key, of keys in
        ``[lo, hi]`` (inclusive ns, ``None`` is open) of the ``files`` of
        a :meth:`_data_files` listing (default: the database's snapshot
        now). :meth:`_scan` reads exactly the in-range partitions' files.
        A key lives in one partition and no file holds it twice, so the
        last-write-wins fold runs only if some listed partition holds
        more than one file. A range that touches no partition is the
        empty frame."""
        if files is None:
            files = self._data_files(name)
        lo_d = None if lo is None else _ns_date(lo)
        hi_d = None if hi is None else _ns_date(hi)
        listing = {
            d: fs for d, fs in files.items()
            if (lo_d is None or d >= lo_d) and (hi_d is None or d <= hi_d)
        }
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
        Range bounds are inclusive ns keys (P4). Pruning picks the
        in-range partitions' files from the snapshot; the ``ts_ns`` bounds
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
        that a commit unlinks after the read resolved its snapshot makes
        it resolve again (:func:`_read_listed`), where Spark would skip
        it."""
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

    def _data_files(
        self, name: str, dates: list[str] | None = None
    ) -> dict[str, list[tuple[str, int]]]:
        """What the database holds: date -> the sorted ``(file, bytes)`` of
        the data files of its ``date=`` partition, for every partition or
        for ``dates``, as of the snapshot this handle holds after it
        replays any new log segment (:meth:`_snapshot`). The one listing
        behind every read, ``get``, :meth:`info` and the cache's date
        stamps; driver-side metadata, no Spark job, and no ``date=``
        directory listed. A missing database raises ``KeyError``."""
        files = self._snapshot(name).files
        return {
            d: _pairs(files[d])
            for d in (sorted(files) if dates is None else dates) if d in files
        }

    def delete_range(self, name: str, from_ts, to_ts) -> None:
        """Bulk range delete (S6), one commit. Partitions fully inside the
        range are retired without reading their data. Each of the two
        edge partitions is rewritten by :meth:`_rewrite` without the
        deleted keys: one file holding each surviving key once. The one
        log segment then retires every file of the covered partitions and
        adds the edges' new files, so a read sees the whole delete or
        none of it; the retired files are unlinked after it. A file
        committed into the range after this call's snapshot survives.
        The 10k-commit batching of the reference (handlers.go:256) is
        irrelevant here: the delete runs no Spark job, and each edge's
        rewrite is a driver-side fold of that one day.

        The commit log's ``n_rows`` (raw rows removed) comes from the
        row counts the log holds, not a scan job: the rows of every
        retired file less the rows of the edges' new files (the
        in-range rows and the superseded revisions the rewrite folds
        away)."""
        lo, hi = py_parse_ts_ns(from_ts), py_parse_ts_ns(to_ts)
        lo_d, hi_d = _ns_date(lo), _ns_date(hi)
        snap = self._snapshot(name)
        add, remove, n_removed = [], [], 0
        with self._log_lock(name):
            for d, files in snap.files.items():
                if lo_d <= d <= hi_d:
                    remove += [f"date={d}/{f}" for f in files]
                    n_removed += sum(rows for _, rows in files.values())
                    if d in (lo_d, hi_d):
                        add += self._rewrite(name, d, _pairs(files), (lo, hi))
            n_removed -= sum(a["rows"] for a in add)
            self._commit(name, self._next_seq(name), "delete", lo, hi, n_removed, add, remove)

    def _rewrite(
        self, name: str, date: str, files: list[tuple[str, int]],
        drop: tuple[int, int] | None = None,
    ) -> list[dict]:
        """Write partition ``date``'s ``files`` (a :meth:`_data_files`
        entry) as one new file that holds each of their keys once, with
        its highest ``seq`` (last write wins), in ``ts_ns`` order, less
        the keys in ``drop`` (an inclusive ns range), and publish it
        beside them. Returns the log entry of the new file (``path``,
        ``rows``, ``bytes``), or none when no row is left. The one
        rewrite of the store, behind :meth:`compact` and
        :meth:`delete_range`, as the reference compacts into one new
        couch file (database.go:136-171).

        A fold on the driver, with no Spark job: pyarrow reads the files,
        :func:`_newest` keeps each key's newest row, and the same publish
        step as a commit's (:func:`_write_part`) writes the result. It
        holds the one date partition in driver memory (about 1.8 MB for
        the hot day of the ``ingest_live`` benchmark). No read sees the
        new file until the caller's commit names it. A listed file that
        is gone raises ``FileNotFoundError`` and publishes nothing."""
        path = self._path(name)
        rows = pq.read_table(
            [os.path.join(path, f"date={date}", f) for f, _ in files],
            columns=["ts_ns", "seq", "doc"],
        )
        if drop is not None:
            ts = rows.column("ts_ns").to_numpy()
            rows = rows.filter((ts < drop[0]) | (ts > drop[1]))
        rows = _newest(rows)
        return [_write_part(path, date, rows)] if rows.num_rows else []

    def compact(self, name: str, fold_changelog: bool = True) -> None:
        """Rewrite each partition of more than one file as one file that
        holds each key once, its newest revision (S7: couch-file rewrite
        ≙ OPTIMIZE; also reclaims overwritten docs the way couchstore
        compaction drops old revisions).

        Idempotent, like OPTIMIZE: a partition of exactly one data file
        holds each key once, so it is left as it is (same file, same
        partition version). A second ``compact`` with no commit in
        between rewrites nothing; it still folds the commit log and
        records itself there. Compact runs no Spark job.

        Each partition is rewritten by :meth:`_rewrite` (a driver-side
        fold of one day at a time, the new file published beside the old
        ones), and one log segment then switches every rewritten
        partition to its new file at once; the old files are unlinked
        after it. A revision committed during the rewrite survives as a
        file of its own, folded at read time until the next ``compact``.
        Compact first removes every file under the database that no
        commit names (:meth:`_sweep`): a crashed commit's or rewrite's
        data file or staging file, a crashed rewrite's retired files, a
        crashed log append's or fold's staging file, and anything put
        into the database by hand. A commit in flight on another handle
        or thread keeps its files: the sweep waits for no commit, and is
        skipped while one holds the database's lock.

        ``fold_changelog=False`` skips the commit-log fold — use it when
        a lagging :meth:`changes_log_stream` consumer may not have
        caught up to the current log tail yet (the fold rewrites the
        newest segment in place, which a file stream never re-reads)."""
        self._sweep(name)
        snap = self._snapshot(name)
        add, remove = [], []
        with self._log_lock(name):
            for d, files in snap.files.items():
                if len(files) > 1:
                    remove += [f"date={d}/{f}" for f in files]
                    add += self._rewrite(name, d, _pairs(files))
            # Fold the accumulated one-file-per-commit log segments into a
            # single consolidated segment BEFORE recording this compaction
            # (which then lands as a fresh segment). The log grows one tiny
            # file per mutation; without folding, every replay of a fresh
            # handle and every change_log read degrade with mutation count.
            if fold_changelog:
                self._fold_changelog(name)
            # After the rewrites every partition holds each key once: its
            # rows ARE the live set.
            n_live = sum(a["rows"] for a in add) + sum(
                rows for files in snap.files.values() if len(files) == 1
                for _, rows in files.values()
            )
            self._commit(name, self._next_seq(name), "compact", None, None, n_live, add, remove)

    def _sweep(self, name: str) -> None:
        """Remove every file under database ``name`` that no commit
        names: in ``date=`` directories every file but the snapshot's
        (and the directory, when the snapshot names none), in the commit
        log every file but a segment, and every other entry of the
        database directory, a directory with all it holds (such as the
        staging directory of a crashed rewrite of an older version, which
        ran on Spark). It holds the database's lock exclusively
        (:meth:`_log_lock`), so no commit is between its first published
        file and its segment, and a file that the snapshot it then
        resolves does not name belongs to no commit that can still land.
        While a commit holds the lock, the sweep is left to the next
        ``compact``."""
        path = self._path(name)
        lock = self._log_lock(name, fcntl.LOCK_EX | fcntl.LOCK_NB)
        with contextlib.suppress(BlockingIOError), lock:
            files = self._snapshot(name).files
            for d in os.listdir(path):
                sub = os.path.join(path, d)
                if d == _CHANGELOG_DIR:
                    keep = {s[0] for s in _segments(sub)}
                elif d.startswith("date="):
                    keep = set(files.get(d[len("date="):], ()))
                elif os.path.isdir(sub):
                    shutil.rmtree(sub)
                    continue
                else:
                    os.remove(sub)
                    continue
                for f in set(os.listdir(sub)) - keep:
                    os.remove(os.path.join(sub, f))
                if not keep and d != _CHANGELOG_DIR:
                    with contextlib.suppress(OSError):
                        os.rmdir(sub)

    def _fold_changelog(self, name: str) -> None:
        """Merge every commit-log segment into one file named with the
        max folded seq (so the batch ``change_log`` view is
        byte-identical — rows carry their seq; order comes from the sort,
        not the file split). It keeps every commit's row with the files
        it added and removed, so it is the checkpoint a reopened handle
        replays; a handle that had read segments the fold replaces
        replays the new file whole (:meth:`_snapshot`). The merged table
        is what :meth:`_read_log` returns; it is published over the
        newest segment's path (:func:`publish`) before the other
        segments it read are removed. A crash before the publish leaves
        the log as it was; a crash among the removals leaves rows in
        both the new file and an old segment, which the reader and the
        next fold read once.

        Streaming caveat (same in-place-maintenance story as the data
        partitions): the consolidated file REUSES the newest segment's
        path, which an up-to-date ``changes_log_stream`` has already
        seen — nothing is re-delivered to it, and a stream started
        after the fold reads the full consolidated history exactly
        once. A stream LAGGING behind the fold point can miss folded
        segments; fold during maintenance windows, as with any
        file-source compaction."""
        listing, log = self._read_log(name)
        if len(listing) <= 1:
            return
        d = os.path.join(self._path(name), _CHANGELOG_DIR)
        publish(os.path.join(d, listing[-1][0]), lambda p: pq.write_table(log, p))
        for f, *_ in listing[:-1]:
            os.remove(os.path.join(d, f))

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
        docstring used to defer to a table format). The feed lists the
        ``date=`` directories itself, not the commit log, so it delivers
        a commit's files before the commit lands, and the file of a
        commit that crashed before its segment until :meth:`compact`
        removes it."""
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
        ``_commit``), capping state to commits younger than the
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
        files: dict[str, list[tuple[str, int]]] | None = None,
    ) -> DataFrame:
        """The `GET /db/_query` equivalent over the live LWW view, of the
        ``files`` of a :meth:`_data_files` listing when given
        (``QueryCache`` computes the dates it lacks from the snapshot it
        stamped them from)."""
        lo = None if q.from_ts is None else py_parse_ts_ns(q.from_ts)
        hi = None if q.to_ts is None else py_parse_ts_ns(q.to_ts)
        src = self._live(name, lo, hi, files)
        # The view already holds only the range's keys: the compiler need
        # not filter it a second time.
        unbounded = dataclasses.replace(q, from_ts=None, to_ts=None)
        return seriesly_query(
            src, unbounded, doc_col="doc", ts_ns_col="ts_ns", exact_sums=exact_sums
        )


_NS_PER_DAY = 86_400 * 10**9


def _is_data_file(f: str) -> bool:
    """A published parquet file: a data file of a ``date=`` partition, or
    a commit-log segment. Hidden and ``_``-prefixed names (the staging
    files of :func:`publish`) are not, as Spark's readers skip them."""
    return f.endswith(".parquet") and not f.startswith((".", "_"))


def _newest(table: pa.Table, key: str = "ts_ns") -> pa.Table:
    """Last write wins: the rows of ``table`` sorted by ``key``, each
    ``key`` once, in the row of its highest ``seq``. An empty table is
    returned as it is."""
    if not table.num_rows:
        return table
    table = table.sort_by([(key, "ascending"), ("seq", "descending")])
    keys = table.column(key).to_numpy()
    return table.filter(np.append(True, keys[1:] != keys[:-1]))


def _write_part(path: str, date: str, table: pa.Table) -> dict:
    """Publish ``table`` (:func:`publish`) as a new data file of the
    ``date`` partition of the database at ``path``, and return its
    commit-log entry: ``path`` under the database, ``rows``, ``bytes``.
    The one writer of data files, behind commits and rewrites."""
    part = f"date={date}/part-{uuid.uuid4().hex}.parquet"
    os.makedirs(os.path.join(path, f"date={date}"), exist_ok=True)
    # PLAIN, as Spark's writer falls back to for near-unique keys and
    # docs: dictionary pages only grow such a file.
    publish(
        os.path.join(path, part),
        lambda p: pq.write_table(table, p, compression="snappy", use_dictionary=False),
    )
    return {
        "path": part, "rows": table.num_rows,
        "bytes": os.path.getsize(os.path.join(path, part)),
    }


def _pairs(files: dict) -> list[tuple[str, int]]:
    """A snapshot date's ``{file: (bytes, rows)}`` as
    :meth:`SerieslyDB._data_files` returns it: sorted ``(file, bytes)``."""
    return sorted((f, b) for f, (b, _) in files.items())


def _segments(d: str) -> list[tuple[str, int, int]]:
    """The commit-log segments in log directory ``d``, in seq order (a
    segment is named by its zero-padded last seq), as ``(name, inode,
    mtime_ns)``: a file that a fold publishes over a segment's name
    lists apart from it. A segment removed while listed is left out; a
    missing directory raises ``FileNotFoundError``."""
    out = []
    for f in sorted(filter(_is_data_file, os.listdir(d))):
        with contextlib.suppress(FileNotFoundError):
            st = os.stat(os.path.join(d, f))
            out.append((f, st.st_ino, st.st_mtime_ns))
    return out


def _ns_date(ns: int) -> str:
    """The ``date=`` partition of key ``ns``: the UTC day of its µs floor,
    as ``write_batch`` derives it (exact integer math, no float)."""
    return (_EPOCH + timedelta(microseconds=ns // 1000)).strftime("%Y-%m-%d")
