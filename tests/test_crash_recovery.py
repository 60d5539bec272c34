"""Crash-recovery tests for the maintenance paths that only run after a
failure — exactly the code that must be right when it finally executes
(round-7 VERDICT item 2).

Fault injection strategy: drive the REAL ``compact()`` / fold code and
crash it at a chosen step by wrapping the specific ``os.rename`` /
``shutil.rmtree`` call it makes next — no hand-built directory states
for the compact swap (a hand-built ``data.compact-tmp`` would not be
forced to hold base+delta folded the way the real writer is). The
changelog fold crash IS hand-arranged (restore a copy of a folded
segment), because there the stranded state is just "a removed file came
back".

Covered:
  * DedupIndex/MinhashIndex ``_recover_compact``: all four branches
    (roll-forward, roll-back on incomplete tmp, finish-cleanup,
    drop-stranded-tmp), plus the first-ever-compact window that needs
    the unconditional ``data.compact-old`` marker;
  * DedupIndex legacy-layout migration (including the both-layouts
    duplicated-digest case) and MinhashIndex's loud rejection;
  * SerieslyDB commit log: batch ``change_log`` delivers each seq
    exactly once after a mid-fold crash and beside a fold, with no Spark
    job; a crash mid-way through a segment write leaves no torn segment;
  * two live handles on one root mint strictly-increasing, non-clobbering
    commit seqs even with a frozen clock;
  * SerieslyDB partition rewrites (``compact``, ``delete_range``): an
    append racing any step survives; a read at every step sees every
    live key (``compact``) or the before/after view (``delete_range``);
    a crash at every step reopens with every kept key intact, and
    running the op again reaches one file per partition; ``compact``
    removes every staging file a crashed commit left;
  * ``get`` beside a ``compact`` that unlinks the files it listed reads
    the key's newest doc;
  * a delete that retires a multi-file day switches it in one commit,
    and a commit that crashes before its log segment is rolled back;
  * a commit published after a higher seq is replayed, also across a
    fold; two commits of one seq cannot both land; ``compact`` keeps the
    files of an append in flight; a database whose log predates file
    records fails with an error that names it; the docs feed delivers a
    rolled-back commit until ``compact``.
"""

import os
import shutil
import sys
import threading
import types

import pyarrow.parquet as pq
import pytest

import seriesly_spark.db as dbmod
from seriesly_spark.db import SerieslyDB
from seriesly_spark.operators.dedup_index import (
    DedupIndex,
    MinhashIndex,
    index_update_report,
)
from seriesly_spark.plans.query import py_parse_ts_ns


class _InjectedCrash(RuntimeError):
    pass


def _crash_rmtree_on(monkeypatch, path, skip=0):
    """Make shutil.rmtree raise when first asked to remove ``path``
    (after ``skip`` earlier removals of that same path)."""
    import seriesly_spark.operators.dedup_index as m

    real = shutil.rmtree
    seen = {"n": 0}

    def wrapper(p, *a, **kw):
        if os.path.abspath(str(p)) == os.path.abspath(path):
            seen["n"] += 1
            if seen["n"] > skip:
                raise _InjectedCrash(p)
        return real(p, *a, **kw)

    monkeypatch.setattr(m.shutil, "rmtree", wrapper)


def _crash_rename_from(monkeypatch, src):
    """Make os.rename raise when asked to move ``src``."""
    import seriesly_spark.operators.dedup_index as m

    real = os.rename

    def wrapper(s, d):
        if os.path.abspath(str(s)) == os.path.abspath(src):
            raise _InjectedCrash(s)
        return real(s, d)

    monkeypatch.setattr(m.os, "rename", wrapper)


def _batch(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _probe_map(idx, spark, rows):
    out = idx.update(_batch(spark, rows))
    got = out.collect()
    assert len(got) == len(rows), "probe join fanned out on duplicates"
    return {r.id: r.dup_vs_index for r in got}


class TestDedupIndexCompactCrash:
    def _seed(self, spark, path):
        """Index with a compacted base (docs 0..9) plus un-folded delta
        appends (docs 10..19)."""
        idx = DedupIndex(spark, path, n_buckets=4)
        idx.update(_batch(spark, [(i, f"doc {i}") for i in range(10)]))
        idx.compact()
        idx.update(_batch(spark, [(i, f"doc {i}") for i in range(10, 20)]))
        return idx

    def test_crash_before_tmp_install_rolls_forward(
        self, spark, tmp_path, monkeypatch
    ):
        path = str(tmp_path / "idx")
        idx = self._seed(spark, path)
        # Crash mid-swap: base moved aside, tmp (complete) not yet
        # installed -> os.rename(tmp, data) is the failing step.
        _crash_rename_from(monkeypatch, idx._data + ".compact-tmp")
        with pytest.raises(_InjectedCrash):
            idx.compact()
        monkeypatch.undo()
        assert os.path.isdir(idx._data + ".compact-old")
        assert not os.path.isdir(idx._data)
        # Reopen: tmp has _SUCCESS (holds base+delta folded) -> forward.
        idx2 = DedupIndex(spark, path, n_buckets=4)
        assert not os.path.isdir(idx2._data + ".compact-tmp")
        assert not os.path.isdir(idx2._data + ".compact-old")
        assert not os.path.isdir(idx2._delta)
        assert idx2.size() == 20
        flags = _probe_map(
            idx2, spark, [(100, "doc 3"), (101, "doc 15"), (102, "fresh")]
        )
        assert flags == {100: True, 101: True, 102: False}

    def test_crash_with_incomplete_tmp_rolls_back(
        self, spark, tmp_path, monkeypatch
    ):
        path = str(tmp_path / "idx")
        idx = self._seed(spark, path)
        _crash_rename_from(monkeypatch, idx._data + ".compact-tmp")
        with pytest.raises(_InjectedCrash):
            idx.compact()
        monkeypatch.undo()
        # Strip the completion stamp: the tmp can no longer be trusted.
        os.remove(os.path.join(idx._data + ".compact-tmp", "_SUCCESS"))
        idx2 = DedupIndex(spark, path, n_buckets=4)
        assert not os.path.isdir(idx2._data + ".compact-tmp")
        assert os.path.isdir(idx2._data)  # old base reinstated
        assert os.path.isdir(idx2._delta)  # delta untouched
        assert idx2.size() == 20
        flags = _probe_map(
            idx2, spark, [(100, "doc 3"), (101, "doc 15"), (102, "fresh")]
        )
        assert flags == {100: True, 101: True, 102: False}

    def test_crash_before_delta_removal_finishes_cleanup(
        self, spark, tmp_path, monkeypatch
    ):
        path = str(tmp_path / "idx")
        idx = self._seed(spark, path)
        # Crash post-swap: data installed, delta (whose rows are already
        # folded into data) not yet removed. Without cleanup, every
        # delta digest exists twice -> update()'s no-distinct probe
        # would fan out.
        _crash_rmtree_on(monkeypatch, idx._delta)
        with pytest.raises(_InjectedCrash):
            idx.compact()
        monkeypatch.undo()
        assert os.path.isdir(idx._data) and os.path.isdir(idx._delta)
        assert os.path.isdir(idx._data + ".compact-old")
        idx2 = DedupIndex(spark, path, n_buckets=4)
        assert not os.path.isdir(idx2._delta)
        assert not os.path.isdir(idx2._data + ".compact-old")
        assert idx2.size() == 20
        flags = _probe_map(idx2, spark, [(100, "doc 12"), (101, "new")])
        assert flags == {100: True, 101: False}

    def test_crash_before_old_removal_finishes_cleanup(
        self, spark, tmp_path, monkeypatch
    ):
        path = str(tmp_path / "idx")
        idx = self._seed(spark, path)
        # Crash at the very last step: only the old-base marker remains.
        # skip=1: the swap's FIRST rmtree(old) (defensive pre-clean)
        # must run; the second is the real removal.
        _crash_rmtree_on(monkeypatch, idx._data + ".compact-old", skip=1)
        with pytest.raises(_InjectedCrash):
            idx.compact()
        monkeypatch.undo()
        idx2 = DedupIndex(spark, path, n_buckets=4)
        assert not os.path.isdir(idx2._data + ".compact-old")
        assert idx2.size() == 20

    def test_crash_before_any_rename_drops_stranded_tmp(
        self, spark, tmp_path, monkeypatch
    ):
        path = str(tmp_path / "idx")
        idx = self._seed(spark, path)
        # Crash before the swap touches the live tree: the base has not
        # moved aside yet -> os.rename(data, old) is the failing step.
        _crash_rename_from(monkeypatch, idx._data)
        with pytest.raises(_InjectedCrash):
            idx.compact()
        monkeypatch.undo()
        assert os.path.isdir(idx._data + ".compact-tmp")
        idx2 = DedupIndex(spark, path, n_buckets=4)
        assert not os.path.isdir(idx2._data + ".compact-tmp")
        assert idx2.size() == 20
        flags = _probe_map(idx2, spark, [(100, "doc 3"), (101, "doc 15")])
        assert flags == {100: True, 101: True}

    def test_first_ever_compact_crash_is_recoverable(
        self, spark, tmp_path, monkeypatch
    ):
        """The round-7 ADVICE window: before the unconditional
        ``data.compact-old`` marker, a first-ever compact (no base yet)
        crashing between the tmp install and the delta removal left
        data+delta both holding every digest with NO marker — a state
        recovery could not tell from a normal un-compacted index."""
        path = str(tmp_path / "idx")
        idx = DedupIndex(spark, path, n_buckets=4)
        idx.update(_batch(spark, [(i, f"doc {i}") for i in range(10)]))
        assert not os.path.isdir(idx._data)  # never compacted
        _crash_rmtree_on(monkeypatch, idx._delta)
        with pytest.raises(_InjectedCrash):
            idx.compact()
        monkeypatch.undo()
        # The empty marker is what makes this state distinguishable.
        assert os.path.isdir(idx._data + ".compact-old")
        assert os.path.isdir(idx._data) and os.path.isdir(idx._delta)
        idx2 = DedupIndex(spark, path, n_buckets=4)
        assert not os.path.isdir(idx2._delta)
        assert idx2.size() == 10
        # The fan-out regression the marker prevents: a duplicate probe
        # row must come back exactly once.
        r = index_update_report(
            idx2.update(_batch(spark, [(100, "doc 3"), (101, "zzz")]))
        ).collect()[0]
        assert (r.n_in, r.n_dup_vs_index, r.n_new) == (2, 1, 1)

    def test_first_ever_compact_clean_run_leaves_no_marker(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "idx")
        idx = DedupIndex(spark, path, n_buckets=4)
        idx.update(_batch(spark, [(1, "a"), (2, "b")]))
        idx.compact()
        assert os.path.isdir(idx._data)
        assert not os.path.isdir(idx._data + ".compact-old")
        assert not os.path.isdir(idx._data + ".compact-tmp")
        assert idx.size() == 2


class TestMinhashIndexCompactCrash:
    def _seed(self, spark, path):
        idx = MinhashIndex(spark, path, n=2, bands=4)
        idx.update(
            _batch(
                spark,
                [(i, f"the quick brown fox {i} jumps") for i in range(8)],
            )
        )
        idx.compact()
        idx.update(
            _batch(
                spark,
                [(i, f"a lazy dog sleeps {i} soundly") for i in range(8, 16)],
            )
        )
        return idx

    def test_crash_mid_swap_rolls_forward(self, spark, tmp_path, monkeypatch):
        path = str(tmp_path / "mh")
        idx = self._seed(spark, path)
        _crash_rename_from(monkeypatch, idx._data + ".compact-tmp")
        with pytest.raises(_InjectedCrash):
            idx.compact()
        monkeypatch.undo()
        idx2 = MinhashIndex(spark, path, n=2, bands=4)
        assert not os.path.isdir(idx2._data + ".compact-old")
        assert not os.path.isdir(idx2._delta)
        # Near-exact repeats of one base doc and one delta doc must both
        # hit history on every band; a novel doc on none.
        out = idx2.update(
            _batch(
                spark,
                [
                    (100, "the quick brown fox 3 jumps"),
                    (101, "a lazy dog sleeps 12 soundly"),
                    (102, "completely different words entirely here"),
                ],
            )
        )
        got = {r.id: (r.n_band_hits, r.near_dup_candidate) for r in out.collect()}
        assert got[100] == (4, True)
        assert got[101] == (4, True)
        assert got[102] == (0, False)

    def test_crash_before_delta_removal_finishes_cleanup(
        self, spark, tmp_path, monkeypatch
    ):
        path = str(tmp_path / "mh")
        idx = self._seed(spark, path)
        _crash_rmtree_on(monkeypatch, idx._delta)
        with pytest.raises(_InjectedCrash):
            idx.compact()
        monkeypatch.undo()
        assert os.path.isdir(idx._data + ".compact-old")
        idx2 = MinhashIndex(spark, path, n=2, bands=4)
        assert not os.path.isdir(idx2._delta)
        assert not os.path.isdir(idx2._data + ".compact-old")
        # Band hits are capped at `bands` per doc: duplicated signature
        # rows would not change the left-semi hit count, but the
        # storage-level duplicate is gone.
        out = idx2.update(
            _batch(spark, [(100, "a lazy dog sleeps 12 soundly")])
        )
        assert out.collect()[0].n_band_hits == 4


class TestLegacyLayouts:
    def test_dedup_legacy_migrates_into_probe_path(self, spark, tmp_path):
        from pyspark.sql import functions as F

        path = str(tmp_path / "idx")
        # Old layout: digest parquet directly under the index root.
        legacy = spark.createDataFrame(
            [(f"doc {i}",) for i in range(5)], "text string"
        ).select(F.md5(F.col("text").cast("binary")).alias("h"))
        legacy.coalesce(1).write.parquet(path)
        idx = DedupIndex(spark, path, n_buckets=4)
        # Files moved off the root (so the migration never re-runs) and
        # the digests are live in the probe path.
        assert not any(
            f.endswith(".parquet") for f in os.listdir(path)
            if os.path.isfile(os.path.join(path, f))
        )
        assert idx.size() == 5
        flags = _probe_map(idx, spark, [(100, "doc 2"), (101, "new doc")])
        assert flags == {100: True, 101: False}

    def test_dedup_both_layouts_restores_at_most_once(self, spark, tmp_path):
        """An index written by BOTH layouts (legacy root files + a
        data/delta tree that re-appended the same digests) must come out
        of the migration's compact with the at-most-once invariant —
        probes must not fan out."""
        from pyspark.sql import functions as F

        path = str(tmp_path / "idx")
        idx = DedupIndex(spark, path, n_buckets=4)
        idx.update(_batch(spark, [(i, f"doc {i}") for i in range(5)]))
        # Retroactively drop legacy files holding an overlapping digest
        # set directly under the root.
        legacy = spark.createDataFrame(
            [(f"doc {i}",) for i in range(3, 8)], "text string"
        ).select(F.md5(F.col("text").cast("binary")).alias("h"))
        legacy.coalesce(1).write.mode("append").parquet(path)
        idx2 = DedupIndex(spark, path, n_buckets=4)
        assert idx2.size() == 8
        r = index_update_report(
            idx2.update(_batch(spark, [(100, "doc 4"), (101, "doc 99")]))
        ).collect()[0]
        assert (r.n_in, r.n_dup_vs_index, r.n_new) == (2, 1, 1)

    def test_minhash_legacy_layout_fails_loudly(self, spark, tmp_path):
        path = str(tmp_path / "mh")
        spark.createDataFrame(
            [("00ff", 1)], "sig string, band int"
        ).coalesce(1).write.parquet(path)
        with pytest.raises(ValueError, match="incompatible MinhashIndex"):
            MinhashIndex(spark, path)


def _log_rows(d):
    """Rows in the commit-log segment files of ``d``, counted from their
    parquet footers (a seq stranded by a crashed fold counts twice)."""
    return sum(
        pq.read_metadata(os.path.join(d, f)).num_rows
        for f in os.listdir(d)
        if f.endswith(".parquet")
    )


class TestChangelogFoldCrash:
    def test_mid_fold_crash_delivers_each_seq_once(self, spark, tmp_path):
        """A fold interrupted between its atomic replace and the segment
        removals leaves rows in BOTH the consolidated file and an old
        segment; the batch view must still deliver each seq once."""
        dbs = SerieslyDB(spark, str(tmp_path / "root"))
        dbs.create("t")
        for i in range(4):
            dbs.write("t", '{"k": %d}' % i, ts=f"2024-01-0{i + 1}T00:00:00Z")
        d = os.path.join(dbs._path("t"), ".changelog")
        files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
        assert len(files) == 4
        assert _log_rows(d) == 4
        seqs_before = [r.seq for r in dbs.change_log("t").collect()]
        # Keep a copy of a segment the fold will remove, fold (via
        # compact), then put the copy back — the exact mid-fold state.
        saved = os.path.join(str(tmp_path), "saved.parquet")
        shutil.copyfile(os.path.join(d, files[0]), saved)
        dbs.compact("t")
        shutil.copyfile(saved, os.path.join(d, files[0]))
        # The consolidated file holds all 4 writes (the compact commit is
        # its own segment), and the restored segment holds one of them.
        assert _log_rows(d) == 4 + 1 + 1
        log = dbs.change_log("t").collect()
        seqs = [r.seq for r in log]
        assert len(seqs) == len(set(seqs)), "duplicate seq delivered"
        # write(4x) + compact, in order, with the original seqs intact
        assert seqs == sorted(seqs)
        assert set(seqs_before) <= set(seqs) and len(seqs) == 5
        assert [r.op for r in log] == ["write"] * 4 + ["compact"]
        # A re-fold after the crash is idempotent: duplicates collapse.
        dbs._fold_changelog("t")
        assert _log_rows(d) == 5
        assert [r.seq for r in dbs.change_log("t").collect()] == seqs

    def test_crash_mid_segment_write_leaves_no_torn_segment(
        self, spark, tmp_path, monkeypatch
    ):
        """A commit whose log append dies half-way through writing its
        segment (and runs nothing after that) leaves the log readable:
        ``change_log``, ``compact`` and a new ``changes_log_stream`` all
        work and hold every other commit, and no segment is torn."""
        dbs = SerieslyDB(spark, str(tmp_path / "root"))
        dbs.create("t")
        for i in range(2):
            dbs.write("t", '{"k": %d}' % i, ts=f"2024-01-0{i + 1}T00:00:00Z")
        d = os.path.join(dbs._path("t"), ".changelog")
        real_write, real_replace, real_remove = pq.write_table, os.replace, os.remove
        crashed = []

        def torn_write(table, where, *a, **kw):
            if os.path.dirname(str(where)) != d:
                return real_write(table, where, *a, **kw)
            real_write(table, where, *a, **kw)
            with open(where, "r+b") as fh:
                fh.truncate(os.path.getsize(where) // 2)
            crashed.append(where)
            raise _InjectedCrash(where)

        def dead(real):
            def step(p, *a, **kw):
                if crashed and os.path.dirname(str(p)) == d:
                    raise _InjectedCrash(p)
                return real(p, *a, **kw)

            return step

        monkeypatch.setattr(pq, "write_table", torn_write)
        monkeypatch.setattr(os, "replace", dead(real_replace))
        monkeypatch.setattr(os, "remove", dead(real_remove))
        with pytest.raises(_InjectedCrash):
            dbs.write("t", '{"k": 2}', ts="2024-01-03T00:00:00Z")
        monkeypatch.undo()
        assert crashed
        reopened = SerieslyDB(spark, str(tmp_path / "root"))
        assert [r.op for r in reopened.change_log("t").collect()] == ["write"] * 2
        reopened.compact("t")
        log = reopened.change_log("t").collect()
        assert [r.op for r in log] == ["write", "write", "compact"]
        for f in os.listdir(d):
            assert f.endswith(".parquet") and not f.startswith("."), f
            pq.read_table(os.path.join(d, f))
        q = (
            reopened.changes_log_stream("t")
            .writeStream.format("memory")
            .queryName("t_log_after_torn")
            .start()
        )
        try:
            q.processAllAvailable()
            streamed = sorted(r.seq for r in spark.table("t_log_after_torn").collect())
        finally:
            q.stop()
        assert streamed == [r.seq for r in log]

    def test_fold_between_listing_and_read_returns_each_seq_once(
        self, spark, tmp_path, monkeypatch
    ):
        """A second handle folds the log after ``change_log`` listed the
        segments and before it read them: the read lists again and
        returns every seq once."""
        root = str(tmp_path / "root")
        dbs = SerieslyDB(spark, root)
        dbs.create("t")
        for i in range(3):
            dbs.write("t", '{"k": %d}' % i, ts=f"2024-01-0{i + 1}T00:00:00Z")
        expected = [r.seq for r in dbs.change_log("t").collect()]
        other = SerieslyDB(spark, root)
        real, listed = dbmod._segments, []

        def listing_then_fold(d):
            out = real(d)
            if not listed:
                listed.append(out)
                other._fold_changelog("t")
            return out

        monkeypatch.setattr(dbmod, "_segments", listing_then_fold)
        log = dbs.change_log("t").collect()
        monkeypatch.undo()
        assert len(listed[0]) == 3
        assert len(os.listdir(os.path.join(dbs._path("t"), ".changelog"))) == 1
        assert [r.seq for r in log] == expected
        assert [r.op for r in log] == ["write"] * 3

    def test_change_log_runs_no_spark_job(self, spark, tmp_path, spark_jobs):
        dbs = SerieslyDB(spark, str(tmp_path / "root"))
        dbs.create("t")
        for i in range(3):
            dbs.write("t", '{"k": %d}' % i, ts=f"2024-01-0{i + 1}T00:00:00Z")
        dbs.compact("t")
        log, jobs = spark_jobs(lambda: dbs.change_log("t").collect())
        assert jobs == 0
        assert [r.op for r in log] == ["write"] * 3 + ["compact"]

    def test_clean_log_skips_dedupe_shuffle(self, spark, tmp_path):
        """The round-7 regression guard: an un-stranded log's batch plan
        must not contain the dropDuplicates aggregate."""
        dbs = SerieslyDB(spark, str(tmp_path / "root"))
        dbs.create("t")
        for i in range(3):
            dbs.write("t", '{"k": %d}' % i, ts=f"2024-01-0{i + 1}T00:00:00Z")
        plan = dbs.change_log("t")._jdf.queryExecution().executedPlan().toString()
        assert "dropDuplicates" not in plan and "HashAggregate" not in plan

    def test_log_stream_survives_concurrent_fold(self, spark, tmp_path):
        """changes_log_stream running across a compact() (which folds
        the log it is tailing) must neither crash nor miss commits when
        it was caught up at fold time."""
        dbs = SerieslyDB(spark, str(tmp_path / "root"))
        dbs.create("t")
        dbs.write("t", '{"k": 1}', ts="2024-01-01T00:00:00Z")
        dbs.write("t", '{"k": 2}', ts="2024-01-02T00:00:00Z")
        q = (
            dbs.changes_log_stream("t")
            .writeStream.format("memory")
            .queryName("t_log_stream")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            n0 = spark.table("t_log_stream").count()
            # Fold happens here; the caught-up stream must keep going.
            dbs.compact("t")
            dbs.write("t", '{"k": 3}', ts="2024-01-03T00:00:00Z")
            q.processAllAvailable()
            rows = spark.table("t_log_stream").collect()
        finally:
            q.stop()
        assert n0 == 2
        got_ops = sorted((r.seq, r.op) for r in rows)
        seqs = [s for s, _ in got_ops]
        assert len(seqs) == len(set(seqs))
        # pre-fold writes + the compact commit + the post-fold write
        assert [op for _, op in got_ops] == [
            "write", "write", "compact", "write",
        ]
        # and the batch view agrees with the stream's union
        batch_seqs = [r.seq for r in dbs.change_log("t").collect()]
        assert batch_seqs == seqs

    def test_dedup_within_watermarked_stream(self, spark, tmp_path):
        """dedup_within switches the exactly-once dedup to
        dropDuplicatesWithinWatermark keyed on the commit event time
        (seq IS a ns epoch), so a long-lived consumer's dedup state is
        capped to the horizon instead of growing one row per commit
        forever. Same-run duplicates (the mid-fold crash shape) are
        still collapsed; the helper event-time column must not leak
        into the delivered schema."""
        dbs = SerieslyDB(spark, str(tmp_path / "root"))
        dbs.create("t")
        dbs.write("t", '{"k": 1}', ts="2024-01-01T00:00:00Z")
        dbs.write("t", '{"k": 2}', ts="2024-01-02T00:00:00Z")
        # Strand a duplicate the way a mid-fold crash does: an old
        # segment copy comes back next to the consolidated file.
        d = os.path.join(dbs._path("t"), ".changelog")
        seg = sorted(
            f for f in os.listdir(d) if f.endswith(".parquet")
        )[0]
        shutil.copyfile(
            os.path.join(d, seg), os.path.join(d, "stranded-" + seg)
        )
        s = dbs.changes_log_stream("t", dedup_within="1 hour")
        assert "__commit_ts" not in s.columns
        q = (
            s.writeStream.format("memory")
            .queryName("t_log_wm")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            rows = spark.table("t_log_wm").collect()
        finally:
            q.stop()
        seqs = sorted(r.seq for r in rows)
        assert len(seqs) == 2, "stranded duplicate leaked through"
        assert seqs == sorted({r.seq for r in rows})

    def test_compact_fold_opt_out(self, spark, tmp_path):
        dbs = SerieslyDB(spark, str(tmp_path / "root"))
        dbs.create("t")
        for i in range(3):
            dbs.write("t", '{"k": %d}' % i, ts=f"2024-01-0{i + 1}T00:00:00Z")
        d = os.path.join(dbs._path("t"), ".changelog")
        dbs.compact("t", fold_changelog=False)
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        # 3 writes + the compact commit, all still individual segments
        assert len(files) == 4

    def test_lagging_stream_across_fold_duplicates_never_loses(
        self, spark, tmp_path
    ):
        """The documented lagging-stream failure mode, pinned: a stream
        that stops behind the fold point and restarts afterwards has
        never seen the consolidated file's (reused) path, reads it
        whole, and re-delivers already-seen rows. DUPLICATES, not
        silent loss — every seq is delivered at least once, and keying
        on seq (change_log / exactly_once=True) restores exactly-once."""
        dbs = SerieslyDB(spark, str(tmp_path / "root"))
        dbs.create("t")
        dbs.write("t", '{"k": 1}', ts="2024-01-01T00:00:00Z")
        dbs.write("t", '{"k": 2}', ts="2024-01-02T00:00:00Z")
        cp = str(tmp_path / "cp")
        delivered: list[tuple[int, str]] = []

        def sink(df, _epoch):
            delivered.extend((r.seq, r.op) for r in df.collect())

        q = (
            dbs.changes_log_stream("t")
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", cp)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        phase1 = sorted(s for s, _ in delivered)
        assert len(phase1) == 2 and len(set(phase1)) == 2  # caught up
        # Stream is now LAGGING: two more commits land, then the fold
        # consolidates everything into the newest segment's path.
        dbs.write("t", '{"k": 3}', ts="2024-01-03T00:00:00Z")
        dbs.compact("t")  # fold + the compact commit (4th seq)
        q2 = (
            dbs.changes_log_stream("t")
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", cp)
            .start()
        )
        q2.processAllAvailable()
        q2.stop()
        seqs = sorted(s for s, _ in delivered)
        batch_seqs = [r.seq for r in dbs.change_log("t").collect()]
        assert len(batch_seqs) == 4 and batch_seqs == sorted(batch_seqs)
        # Duplicates of the two pre-fold rows (the consolidated file was
        # an unseen path), and NOTHING lost.
        from collections import Counter

        counts = Counter(seqs)
        assert set(counts) == set(batch_seqs)
        assert sorted(counts.values()) == [1, 1, 2, 2]
        assert [counts[s] for s in phase1] == [2, 2]
        # ...and the in-flight dedup helper.
        deduped: list[int] = []
        q3 = (
            dbs.changes_log_stream("t", exactly_once=True)
            .writeStream.foreachBatch(
                lambda df, _e: deduped.extend(r.seq for r in df.collect())
            )
            .outputMode("update")
            .start()
        )
        q3.processAllAvailable()
        q3.stop()
        assert sorted(deduped) == batch_seqs

    def test_post_crash_duplicates_delivered_and_deduped(
        self, spark, tmp_path, monkeypatch
    ):
        """Mid-fold crash (consolidated file installed, old segments not
        yet removed): a fresh stream delivers the stranded rows twice;
        change_log and exactly_once=True both collapse them to one row
        per seq with the original ops intact."""
        import seriesly_spark.db as dbmod

        dbs = SerieslyDB(spark, str(tmp_path / "root"))
        dbs.create("t")
        for i in range(3):
            dbs.write("t", '{"k": %d}' % i, ts=f"2024-01-0{i + 1}T00:00:00Z")
        d = os.path.join(dbs._path("t"), ".changelog")

        real_remove = os.remove

        def crash_remove(p, *a, **kw):
            if os.path.dirname(p) == d:
                raise _InjectedCrash(p)
            return real_remove(p, *a, **kw)

        monkeypatch.setattr(dbmod.os, "remove", crash_remove)
        with pytest.raises(_InjectedCrash):
            dbs.compact("t")
        monkeypatch.undo()
        files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
        # consolidated file + BOTH old segments still present
        assert len(files) == 3
        assert _log_rows(d) == 3 + 2
        delivered: list[int] = []
        q = (
            dbs.changes_log_stream("t")
            .writeStream.foreachBatch(
                lambda df, _e: delivered.extend(r.seq for r in df.collect())
            )
            .start()
        )
        q.processAllAvailable()
        q.stop()
        log = dbs.change_log("t").collect()
        log_seqs = [r.seq for r in log]
        assert len(log_seqs) == 3 and log_seqs == sorted(log_seqs)
        assert [r.op for r in log] == ["write"] * 3
        # raw stream: the two stranded seqs arrive twice (old segment +
        # fold file), the folded-in-place newest one once
        from collections import Counter

        counts = Counter(delivered)
        assert set(counts) == set(log_seqs)
        assert sorted(counts.values()) == [1, 2, 2]
        assert counts[log_seqs[-1]] == 1
        deduped: list[int] = []
        q2 = (
            dbs.changes_log_stream("t", exactly_once=True)
            .writeStream.foreachBatch(
                lambda df, _e: deduped.extend(r.seq for r in df.collect())
            )
            .outputMode("update")
            .start()
        )
        q2.processAllAvailable()
        q2.stop()
        assert sorted(deduped) == log_seqs


def _before_commit(monkeypatch, h, action):
    """Make handle ``h``'s next commit run ``action()`` after it has
    published its data files and before it publishes its log segment."""
    real = h._commit

    def commit(*a, **kw):
        monkeypatch.setattr(h, "_commit", real)
        action()
        return real(*a, **kw)

    monkeypatch.setattr(h, "_commit", commit)


class TestMultiHandleSeq:
    def test_two_handles_never_clobber_and_stay_monotone(
        self, spark, tmp_path, monkeypatch
    ):
        """Two live handles on one root with a FROZEN clock (the
        worst case: time_ns can never break the tie) must still mint
        unique, strictly-increasing commit seqs — the collision re-list
        guard, not luck."""
        import seriesly_spark.db as dbmod

        root = str(tmp_path / "root")
        a = SerieslyDB(spark, root)
        b = SerieslyDB(spark, root)
        a.create("t")
        frozen = 1_700_000_000_000_000_000
        monkeypatch.setattr(
            dbmod, "time", types.SimpleNamespace(time_ns=lambda: frozen)
        )
        writers = [a, b, a, b, b, a]
        for i, h in enumerate(writers):
            h.write("t", '{"k": %d}' % i, ts=f"2024-01-0{i + 1}T00:00:00Z")
        monkeypatch.undo()
        log = a.change_log("t").collect()
        seqs = [r.seq for r in log]
        assert len(seqs) == len(writers), "a handle overwrote a segment"
        assert seqs == sorted(set(seqs)), "seqs not strictly increasing"

    def test_second_handle_reserves_above_a_commit_it_has_not_read(
        self, spark, tmp_path, monkeypatch
    ):
        """With a FROZEN clock, handle B commits and reads, handle A
        commits 3 rows, then B commits 2. B takes its seq floor from its
        refreshed snapshot, so its run starts above A's last seq and its
        revision of a key A also wrote is the newest."""
        root = str(tmp_path / "root")
        a, b = SerieslyDB(spark, root), SerieslyDB(spark, root)
        a.create("t")
        monkeypatch.setattr(
            dbmod, "time",
            types.SimpleNamespace(time_ns=lambda: 1_700_000_000_000_000_000),
        )
        k = "2024-01-01T00:00:00Z"
        b.write("t", '{"by": "b0"}', ts="2024-01-02T00:00:00Z")
        assert b.get("t", k) is None
        a.write_batch("t", [
            ("2024-01-01T01:00:00Z", "{}"), ("2024-01-01T02:00:00Z", "{}"),
            (k, '{"by": "a"}'),
        ])
        b.write_batch("t", [(k, '{"by": "b"}'), ("2024-01-01T03:00:00Z", "{}")])
        monkeypatch.undo()
        log = a.change_log("t").collect()
        assert [r.n_rows for r in log] == [1, 3, 2]
        assert log[2].seq - 2 + 1 > log[1].seq, "B's run overlaps A's"
        assert a.get("t", k) == b.get("t", k) == '{"by": "b"}'

    def test_rows_take_log_seqs_when_the_clock_steps_back(
        self, spark, tmp_path, monkeypatch
    ):
        """A row's seq comes from the log's guarded counter: a key
        written again after the clock stepped back is still the newest
        revision, for ``get`` and for ``compact``, and a reopened handle
        counts on above every row seq the last commit stamped."""
        import seriesly_spark.db as dbmod

        root = str(tmp_path / "root")
        dbs = SerieslyDB(spark, root)
        dbs.create("t")
        clock = [1_700_000_000_000_000_000]
        monkeypatch.setattr(
            dbmod, "time", types.SimpleNamespace(time_ns=lambda: clock[0])
        )
        k = "2024-01-01T00:00:00Z"
        dbs.write("t", '{"v": 1}', ts=k)
        clock[0] -= 10**9
        dbs.write("t", '{"v": 2}', ts=k)
        assert dbs.get("t", k) == '{"v": 2}'
        dbs.compact("t")
        assert dbs.get("t", k) == '{"v": 2}'
        # The batch's last row holds its highest seq; a reopened handle,
        # with the clock where the batch left it, must write above it.
        k2 = "2024-01-02T00:00:00Z"
        dbs.write_batch("t", [("2024-01-02T01:00:00Z", "{}"), (k2, '{"v": 3}')])
        reopened = SerieslyDB(spark, root)
        reopened.write("t", '{"v": 4}', ts=k2)
        monkeypatch.undo()
        assert reopened.get("t", k2) == '{"v": 4}'
        stored = reopened._scan("t", reopened._data_files("t")).collect()
        logged = reopened.change_log("t").collect()
        assert max(r.seq for r in stored) <= max(r.seq for r in logged)

    def test_commit_published_after_a_higher_seq_is_replayed(
        self, spark, tmp_path, monkeypatch
    ):
        """A's commit reserves its seq, then B commits a higher one and
        C replays it, and only then A's segment lands: C still reads A's
        rows. Once more with a fold in between, which publishes A's
        commit under the name of B's segment that C has already read."""
        root = str(tmp_path / "root")
        a, b, c = (SerieslyDB(spark, root) for _ in range(3))
        a.create("t")
        for fold in (False, True):
            day = f"2024-01-0{1 + fold}"

            def race():
                b.write("t", '{"by": "b"}', ts=f"{day}T01:00:00Z")
                assert c.get("t", f"{day}T01:00:00Z") == '{"by": "b"}'

            _before_commit(monkeypatch, a, race)
            a.write("t", '{"by": "a"}', ts=f"{day}T00:00:00Z")
            monkeypatch.undo()
            seqs = {r.doc: r.seq for r in a.df("t", day, f"{day}T23:00:00Z").collect()}
            assert seqs['{"by": "a"}'] < seqs['{"by": "b"}']
            if fold:
                SerieslyDB(spark, root)._fold_changelog("t")
            assert c.get("t", f"{day}T00:00:00Z") == '{"by": "a"}'
        fresh = SerieslyDB(spark, root)
        assert c._data_files("t") == fresh._data_files("t")
        c.compact("t")
        assert sorted(r.doc for r in fresh.df("t").collect()) == [
            '{"by": "a"}', '{"by": "a"}', '{"by": "b"}', '{"by": "b"}'
        ]

    def test_two_commits_of_one_seq_cannot_both_land(
        self, spark, tmp_path, monkeypatch
    ):
        """With a FROZEN clock, A and B reserve one seq before either
        publishes. B's segment lands; A's publish finds the name taken
        and fails rather than overwrite it, and A's commit is rolled
        back."""
        root = str(tmp_path / "root")
        a, b = SerieslyDB(spark, root), SerieslyDB(spark, root)
        a.create("t")
        monkeypatch.setattr(
            dbmod, "time",
            types.SimpleNamespace(time_ns=lambda: 1_700_000_000_000_000_000),
        )
        _before_commit(
            monkeypatch, a,
            lambda: b.write("t", '{"by": "b"}', ts="2024-01-01T01:00:00Z"),
        )
        with pytest.raises(FileExistsError):
            a.write("t", '{"by": "a"}', ts="2024-01-01T00:00:00Z")
        monkeypatch.undo()
        for h in (a, b, SerieslyDB(spark, root)):
            assert [r.n_rows for r in h.change_log("t").collect()] == [1]
            assert [r.doc for r in h.df("t").collect()] == ['{"by": "b"}']
        part = os.path.join(a._path("t"), "date=2024-01-01")
        assert len(os.listdir(part)) == 2
        a.compact("t")
        assert len(os.listdir(part)) == 1


class TestSnapshotThreads:
    def test_concurrent_replays_never_lose_a_commit(self, spark, tmp_path):
        """Eight reader threads resolve one handle's snapshot while its
        own commits and a second handle's land, with a tiny switch
        interval: every reader sees the file count only grow, and the
        handle ends with every commit, as a fresh handle replays it."""
        root = str(tmp_path / "root")
        dbs, other = SerieslyDB(spark, root), SerieslyDB(spark, root)
        dbs.create("t")
        n, stop, seen = 40, threading.Event(), [[] for _ in range(8)]

        def read(counts):
            while not stop.is_set():
                counts.append(sum(map(len, dbs._data_files("t").values())))

        readers = [threading.Thread(target=read, args=(c,)) for c in seen]
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            for t in readers:
                t.start()
            for i in range(n):
                (dbs, other)[i % 2].write("t", "{}", ts=f"2024-01-01T00:{i:02d}:00Z")
        finally:
            stop.set()
            sys.setswitchinterval(interval)
            for t in readers:
                t.join(timeout=60)
        assert not any(t.is_alive() for t in readers)
        assert all(c == sorted(c) for c in seen)
        fresh = SerieslyDB(spark, root)
        assert dbs._data_files("t") == fresh._data_files("t")
        assert len(dbs._data_files("t")["2024-01-01"]) == n


def _hook_fs_steps(monkeypatch, root, on_step):
    """Call ``on_step(op, path)`` before each filesystem step taken under
    ``root`` outside the commit log: ``os.replace``/``os.remove``/
    ``os.rename``/``os.rmdir`` and ``shutil.rmtree`` (``shutil.move``
    renames). Calls made inside a step, or by ``on_step`` itself, are not
    steps. Returns the list of steps taken, as ``(op, path)``."""
    steps, inside, root = [], [False], os.path.join(root, "")

    def hook(mod, op):
        real = getattr(mod, op)

        def wrapper(p, *a, **kw):
            path = os.path.abspath(str(p))
            if inside[0] or not path.startswith(root) or ".changelog" in path:
                return real(p, *a, **kw)
            inside[0] = True
            try:
                steps.append((op, path))
                on_step(op, path)
                return real(p, *a, **kw)
            finally:
                inside[0] = False

        monkeypatch.setattr(mod, op, wrapper)

    for op in ("replace", "remove", "rename", "rmdir"):
        hook(os, op)
    hook(shutil, "rmtree")
    return steps


def _two_file_day(dbs):
    dbs.create("t")
    dbs.write("t", '{"k": 1}', ts="2024-01-01T00:00:00Z")
    dbs.write("t", '{"k": 2}', ts="2024-01-01T01:00:00Z")


def _docs(dbs):
    return sorted(r.doc for r in dbs.df("t").select("doc").collect())


def _leftover_staging(dbs):
    """Staging left in the store: rewrite directories, and the hidden
    ``*.tmp`` files of commits, log appends and log folds."""
    path = dbs._path("t")
    dirs = [dbs.root, path] + [
        os.path.join(path, d)
        for d in os.listdir(path)
        if d.startswith("date=") or d == ".changelog"
    ]
    return [
        f
        for parent in dirs
        for f in os.listdir(parent)
        if f.startswith((".tmp-", ".trash-"))
        or (f.startswith(".") and f.endswith(".tmp"))
    ]


def _race_scan(monkeypatch, dbs, other):
    """Make ``dbs``'s next ``_scan``, which a rewrite runs after its
    listing and before its write, first commit a revision through
    ``other``."""
    real = dbs._scan

    def racing_scan(name, listing):
        other.write("t", '{"k": 99}', ts="2024-01-01T02:00:00Z")
        return real(name, listing)

    monkeypatch.setattr(dbs, "_scan", racing_scan)


class TestDataPlaneRace:
    """A second handle's append racing a partition rewrite survives, with
    no error: the rewrite's commit retires only the files of its own
    snapshot."""

    def test_raced_append_during_rewrite_survives(
        self, spark, tmp_path, monkeypatch
    ):
        dbs = SerieslyDB(spark, str(tmp_path / "root"))
        _two_file_day(dbs)
        other = SerieslyDB(spark, str(tmp_path / "root"))
        _race_scan(monkeypatch, dbs, other)
        dbs.compact("t")
        monkeypatch.undo()
        assert _docs(dbs) == ['{"k": 1}', '{"k": 2}', '{"k": 99}']

    def test_raced_append_leaves_no_tmp_dir(self, spark, tmp_path, monkeypatch):
        dbs = SerieslyDB(spark, str(tmp_path / "root"))
        dbs.create("t")
        dbs.write("t", '{"k": 1}', ts="2024-01-01T00:00:00Z")
        other = SerieslyDB(spark, str(tmp_path / "root"))
        _race_scan(monkeypatch, dbs, other)
        # A delete of an empty instant rewrites its one-file edge day.
        dbs.delete_range("t", "2024-01-01T05:00:00Z", "2024-01-01T05:00:00Z")
        monkeypatch.undo()
        assert _leftover_staging(dbs) == []
        assert _docs(dbs) == ['{"k": 1}', '{"k": 99}']

    @pytest.mark.parametrize(
        "op,nth",
        [("replace", 0), ("rmtree", 0), ("remove", 0), ("remove", 1)],
        ids=["replace", "rmtree", "remove-0", "remove-1"],
    )
    def test_raced_append_at_each_step(self, spark, tmp_path, monkeypatch, op, nth):
        """The append lands just before the ``nth`` ``op`` of a compact
        of a two-file partition: publishing the output, dropping the
        staging directory, unlinking each input."""
        root = str(tmp_path / "root")
        dbs = SerieslyDB(spark, root)
        _two_file_day(dbs)
        other = SerieslyDB(spark, root)
        seen = {"replace": 0, "rmtree": 0, "remove": 0}
        fired = []

        def race(step_op, path):
            if step_op in seen:
                if step_op == op and seen[op] == nth:
                    other.write("t", '{"k": 99}', ts="2024-01-01T02:00:00Z")
                    fired.append(path)
                seen[step_op] += 1

        _hook_fs_steps(monkeypatch, root, race)
        dbs.compact("t")
        monkeypatch.undo()
        assert len(fired) == 1
        assert _docs(dbs) == ['{"k": 1}', '{"k": 2}', '{"k": 99}']
        assert _leftover_staging(dbs) == []
        dbs.compact("t")
        assert len(dbs._data_files("t")["2024-01-01"]) == 1
        assert _docs(dbs) == ['{"k": 1}', '{"k": 2}', '{"k": 99}']

    def test_get_beside_compact_reads_the_newest_doc(
        self, spark, tmp_path, monkeypatch
    ):
        """A second handle compacts the key's partition after ``get``
        listed its files and before it read them: every listed file is
        gone, and ``get`` lists again and reads the folded file."""
        root = str(tmp_path / "root")
        dbs = SerieslyDB(spark, root)
        _two_file_day(dbs)
        k = "2024-01-01T00:00:00Z"
        dbs.write("t", '{"k": 3}', ts=k)
        other = SerieslyDB(spark, root)
        real, listed = dbs._data_files, []

        def listing_then_compact(name, dates=None):
            out = real(name, dates)
            if not listed:
                listed.append(out)
                other.compact("t")
            return out

        monkeypatch.setattr(dbs, "_data_files", listing_then_compact)
        got = dbs.get("t", k)
        monkeypatch.undo()
        assert len(listed[0]["2024-01-01"]) == 3
        assert len(dbs._data_files("t")["2024-01-01"]) == 1
        assert got == '{"k": 3}'

    def test_get_beside_compact_mid_listing_reads_the_newest_doc(
        self, spark, tmp_path, monkeypatch
    ):
        """The compact runs after ``get`` listed the commit log and
        before it resolved its snapshot: the listing shows no new
        segment, so ``get`` names the files the compact then unlinked.
        It finds them gone and resolves again, from a listing that holds
        the compact's commit, rather than read a partial day."""
        root = str(tmp_path / "root")
        dbs = SerieslyDB(spark, root)
        _two_file_day(dbs)
        k = "2024-01-01T00:00:00Z"
        dbs.write("t", '{"k": 3}', ts=k)
        other = SerieslyDB(spark, root)
        real, listed = dbmod._segments, []

        def listing_then_compact(d):
            out = real(d)
            if not listed:
                listed.append(out)
                other.compact("t")
            return out

        monkeypatch.setattr(dbmod, "_segments", listing_then_compact)
        got = dbs.get("t", k)
        monkeypatch.undo()
        assert len(listed[0]) == 3
        assert len(dbs._data_files("t")["2024-01-01"]) == 1
        assert got == '{"k": 3}'

    def test_compact_keeps_the_files_of_an_append_in_flight(
        self, spark, tmp_path, monkeypatch
    ):
        """A compact runs after a second handle's append published its
        data file and before it published its segment: the append holds
        the database's lock, so the compact's sweep leaves its file, and
        the append lands and reads. The next compact folds it in."""
        root = str(tmp_path / "root")
        dbs = SerieslyDB(spark, root)
        _two_file_day(dbs)
        other = SerieslyDB(spark, root)
        _before_commit(monkeypatch, other, lambda: dbs.compact("t"))
        k = "2024-01-01T02:00:00Z"
        other.write("t", '{"k": 99}', ts=k)
        monkeypatch.undo()
        for h in (dbs, other, SerieslyDB(spark, root)):
            assert h.get("t", k) == '{"k": 99}'
            assert _docs(h) == ['{"k": 1}', '{"k": 2}', '{"k": 99}']
        dbs.compact("t")
        assert len(os.listdir(os.path.join(dbs._path("t"), "date=2024-01-01"))) == 1
        assert _docs(SerieslyDB(spark, root)) == ['{"k": 1}', '{"k": 2}', '{"k": 99}']

    def test_file_named_but_missing_raises(self, spark, tmp_path):
        """A data file that the snapshot names and that no commit
        removed, gone by hand: ``get`` raises rather than list again
        without end."""
        dbs = SerieslyDB(spark, str(tmp_path / "root"))
        _two_file_day(dbs)
        ((f, _), _) = dbs._data_files("t")["2024-01-01"]
        os.remove(os.path.join(dbs._path("t"), "date=2024-01-01", f))
        with pytest.raises(FileNotFoundError):
            dbs.get("t", "2024-01-01T00:00:00Z")

    def test_clean_rewrite_still_succeeds(self, spark, tmp_path):
        dbs = SerieslyDB(spark, str(tmp_path / "root"))
        dbs.create("t")
        for h in (0, 1, 2):
            dbs.write("t", '{"k": %d}' % h, ts=f"2024-01-01T0{h}:00:00Z")
        dbs.compact("t")
        part = os.path.join(dbs._path("t"), "date=2024-01-01")
        files = [f for f in os.listdir(part) if f.endswith(".parquet")]
        assert len(files) == 1  # single-file couch rewrite
        assert dbs.df("t").count() == 3


def _store(spark, root):
    """Days 1-3, each two files: 8 keys, then a revision of keys 0-3 and
    keys 8-9 (10 live keys, 14 rows a day). Returns the handle and the
    live docs by key."""
    dbs = SerieslyDB(spark, root)
    dbs.create("t")
    live = {}
    for batch, ks in ((0, range(8)), (1, range(10))):
        rows = []
        for day in (1, 2, 3):
            for k in ks:
                if batch and 4 <= k < 8:
                    continue
                ts = f"2024-01-0{day}T{k:02d}:00:00Z"
                rows.append((ts, '{"k": %d, "b": %d}' % (k, batch)))
        for ts, doc in rows:
            live[ts] = doc
        dbs.write_batch("t", rows)
    return dbs, {py_parse_ts_ns(ts): doc for ts, doc in live.items()}


def _by_key(dbs):
    return {r.ts_ns: r.doc for r in dbs.df("t").collect()}


class TestPartitionRewriteSteps:
    """``compact`` and ``delete_range`` rewrite a partition by publishing
    the new files beside the old and then unlinking the old. Checked at
    every filesystem step they take: a read in between, and a crash."""

    DEL = ("2024-01-02T03:30:00Z", "2024-01-02T05:30:00Z")  # keys 4, 5
    # Key 7 is only in the day's first file, key 8 only in its second.
    DEL_SPLIT = ("2024-01-02T06:30:00Z", "2024-01-02T08:30:00Z")

    def test_read_at_every_compact_step_sees_every_key(
        self, spark, tmp_path, monkeypatch
    ):
        root = str(tmp_path / "root")
        dbs, live = _store(spark, root)
        counts = []
        steps = _hook_fs_steps(
            monkeypatch, root, lambda *_: counts.append(dbs.df("t").count())
        )
        dbs.compact("t")
        monkeypatch.undo()
        assert len(steps) >= 6
        assert counts == [len(live)] * len(steps), steps
        assert _by_key(dbs) == live

    def test_read_at_every_delete_step_is_before_or_after(
        self, spark, tmp_path, monkeypatch
    ):
        """Once with the edge partition compacted to one file first, and
        once with its two files, each holding one of the deleted keys:
        ``delete_range`` folds a two-file edge into one file before the
        drop, so the drop unlinks one input and no read between two
        unlinks sees one deleted key and not the other."""
        for compacted, rng in ((True, self.DEL), (False, self.DEL_SPLIT)):
            root = str(tmp_path / f"root-{compacted}")
            dbs, live = _store(spark, root)
            if compacted:
                dbs.compact("t")
            counts = []
            steps = _hook_fs_steps(
                monkeypatch, root, lambda *_: counts.append(dbs.df("t").count())
            )
            dbs.delete_range("t", *rng)
            monkeypatch.undo()
            after = dbs.df("t").count()
            assert after == len(live) - 2
            assert len(steps) >= 3
            assert set(counts) <= {len(live), after}, list(zip(counts, steps))

    def test_read_at_every_retire_step_is_before_or_after(
        self, spark, tmp_path, monkeypatch
    ):
        """All of day 2 (two files) and key 0 of day 3 are deleted in one
        commit: a read before every filesystem step, each unlink
        included, counts all 30 keys or the 19 left, never a part of
        day 2."""
        root = str(tmp_path / "root")
        dbs, live = _store(spark, root)
        counts = []
        steps = _hook_fs_steps(
            monkeypatch, root, lambda *_: counts.append(dbs.df("t").count())
        )
        dbs.delete_range("t", "2024-01-02T00:00:00Z", "2024-01-03T00:00:00Z")
        monkeypatch.undo()
        assert set(counts) == {30, 19}, list(zip(counts, steps))
        assert len(live) == 30 and dbs.df("t").count() == 19
        assert [op for op, _ in steps].count("remove") == 4

    def test_crash_before_segment_rolls_the_commit_back(
        self, spark, tmp_path, monkeypatch
    ):
        """A commit that dies after it published its data files and
        before it published its log segment never happened: ``df``,
        ``get`` and ``change_log`` all lack it, on the same handle and
        on a reopened one, and the next ``compact`` removes its files."""
        root = str(tmp_path / "root")
        dbs, live = _store(spark, root)
        log = os.path.join(dbs._path("t"), ".changelog")
        real = os.link

        def crash_on_segment(src, dst, *a, **kw):
            if os.path.dirname(os.path.abspath(str(dst))) == log:
                raise _InjectedCrash(dst)
            return real(src, dst, *a, **kw)

        # A segment is published by a link onto its name.
        monkeypatch.setattr(os, "link", crash_on_segment)
        k = "2024-01-01T23:00:00Z"
        with pytest.raises(_InjectedCrash):
            dbs.write_batch("t", [(k, '{"k": 99}'), ("2024-01-05T00:00:00Z", "{}")])
        monkeypatch.undo()
        day1 = os.path.join(dbs._path("t"), "date=2024-01-01")
        day5 = os.path.join(dbs._path("t"), "date=2024-01-05")
        assert len(os.listdir(day1)) == 3 and len(os.listdir(day5)) == 1
        for h in (dbs, SerieslyDB(spark, root)):
            assert _by_key(h) == live
            assert h.get("t", k) is None
            assert [r.op for r in h.change_log("t").collect()] == ["write"] * 2
        dbs.compact("t")
        assert len(os.listdir(day1)) == 1 and not os.path.exists(day5)
        assert _by_key(dbs) == live

    def test_commit_crash_before_rename_is_swept_by_compact(
        self, spark, tmp_path, monkeypatch
    ):
        """A commit that dies before it renames its staged file onto its
        name (and runs nothing after that) leaves a hidden ``*.tmp`` in a
        partition that still holds data. ``compact`` removes it; the
        rows it held were never committed."""
        root = str(tmp_path / "root")
        dbs, live = _store(spark, root)

        def crash(op, path):
            raise _InjectedCrash(path)

        _hook_fs_steps(monkeypatch, root, crash)
        with pytest.raises(_InjectedCrash):
            dbs.write("t", '{"k": 99}', ts="2024-01-01T23:00:00Z")
        monkeypatch.undo()
        reopened = SerieslyDB(spark, root)
        assert len(_leftover_staging(reopened)) == 1
        assert _by_key(reopened) == live
        reopened.compact("t")
        assert _leftover_staging(reopened) == []
        assert _by_key(reopened) == live

    @pytest.mark.parametrize("op", ["compact", "delete_range"])
    def test_crash_at_every_step_recovers(self, spark, tmp_path, monkeypatch, op):
        """Crash ``op`` just before its n-th filesystem step, for every n
        (nothing after the crash point runs), then reopen the store:
        every key outside the deleted range reads its pre-op doc, and
        running ``op`` again leaves one file per partition and the
        post-op docs. No staging directory outlives the re-run (and, for
        ``delete_range``, the ``compact`` after it)."""
        # delete_range retires all of day 2 and rewrites edge days 1 and 3.
        lo, hi = "2024-01-01T06:30:00Z", "2024-01-03T02:30:00Z"
        run = {
            "compact": lambda h: h.compact("t"),
            "delete_range": lambda h: h.delete_range("t", lo, hi),
        }[op]
        dry = str(tmp_path / "dry")
        dbs, live = _store(spark, dry)
        if op == "delete_range":
            gone = range(py_parse_ts_ns(lo), py_parse_ts_ns(hi) + 1)
            live = {k: d for k, d in live.items() if k not in gone}
        steps = _hook_fs_steps(monkeypatch, dry, lambda *_: None)
        run(dbs)
        monkeypatch.undo()
        assert _by_key(dbs) == live
        assert len(steps) >= 6
        for n in range(len(steps)):
            root = str(tmp_path / f"crash{n}")
            dbs, _ = _store(spark, root)
            taken = []

            def crash(*_):
                taken.append(1)
                if len(taken) > n:
                    raise _InjectedCrash(n)

            _hook_fs_steps(monkeypatch, root, crash)
            with pytest.raises(_InjectedCrash):
                run(dbs)
            monkeypatch.undo()
            reopened = SerieslyDB(spark, root)
            got = _by_key(reopened)
            assert {k: got.get(k) for k in live} == live, f"crash at step {n}"
            run(reopened)
            assert _by_key(reopened) == live, f"crash at step {n}"
            assert all(
                len(files) == 1 for files in reopened._data_files("t").values()
            ), f"crash at step {n}"
            if op == "delete_range":
                reopened.compact("t")
            assert _leftover_staging(reopened) == [], f"crash at step {n}"


class TestPreManifestLog:
    """A database written before log segments recorded data files: its
    segments hold only the five public columns."""

    def _old_store(self, root):
        import pyarrow as pa

        path = os.path.join(root, "t")
        log = os.path.join(path, ".changelog")
        os.makedirs(log)
        k0, k1 = py_parse_ts_ns("2024-01-01T00:00:00Z"), py_parse_ts_ns("2024-01-02T00:00:00Z")
        commits = [  # (seq, rows of its one data file)
            (101, [(k0, 101, '{"v": 0}')]),
            (203, [(k0, 202, '{"v": 1}'), (k1, 203, '{"v": 2}')]),
        ]
        for seq, rows in commits:
            for ts, row_seq, doc in rows:
                d = os.path.join(path, f"date={'2024-01-01' if ts == k0 else '2024-01-02'}")
                os.makedirs(d, exist_ok=True)
                pq.write_table(
                    pa.table({"ts_ns": [ts], "seq": [row_seq], "doc": [doc]}),
                    os.path.join(d, f"part-{row_seq}.parquet"),
                )
            pq.write_table(
                pa.table({
                    "seq": [seq], "op": ["write"], "ts_lo_ns": [rows[0][0]],
                    "ts_hi_ns": [rows[-1][0]], "n_rows": [len(rows)],
                }),
                os.path.join(log, f"{seq:020d}.parquet"),
            )
        return log

    def test_old_store_fails_clearly(self, spark, tmp_path):
        """Its commit log still reads, and every read that needs the
        files raises an error that names the database, rather than a
        ``TypeError`` from the replay."""
        root = str(tmp_path / "root")
        self._old_store(root)
        dbs = SerieslyDB(spark, root)
        assert [r.seq for r in dbs.change_log("t").collect()] == [101, 203]
        for read in (
            lambda: dbs.df("t"), lambda: dbs.get("t", "2024-01-01T00:00:00Z"),
            lambda: dbs.write("t", "{}"), lambda: dbs.compact("t"),
        ):
            with pytest.raises(ValueError, match="'t'.*predates"):
                read()
        assert len(os.listdir(os.path.join(dbs._path("t"), ".changelog"))) == 2


class TestDocsFeedOfARolledBackCommit:
    def test_feed_delivers_a_rolled_back_commit_until_compact(
        self, spark, tmp_path, monkeypatch
    ):
        """The append-only docs feed lists the ``date=`` directories, not
        the commit log: it delivers the rows of a commit that crashed
        before its segment, which every other read rolls back, until a
        ``compact`` removes the file (ROADMAP: a feed of committed files
        only)."""
        root = str(tmp_path / "root")
        dbs = SerieslyDB(spark, root)
        dbs.create("t")
        dbs.write("t", '{"k": 1}', ts="2024-01-01T00:00:00Z")
        log, real = os.path.join(dbs._path("t"), ".changelog"), os.link

        def crash_on_segment(src, dst, *a, **kw):
            if os.path.dirname(os.path.abspath(str(dst))) == log:
                raise _InjectedCrash(dst)
            return real(src, dst, *a, **kw)

        monkeypatch.setattr(os, "link", crash_on_segment)
        with pytest.raises(_InjectedCrash):
            dbs.write("t", '{"k": 2}', ts="2024-01-01T01:00:00Z")
        monkeypatch.undo()
        assert _docs(dbs) == ['{"k": 1}']

        def feed(query):
            q = dbs.changes("t").writeStream.format("memory").queryName(query).start()
            try:
                q.processAllAvailable()
                return sorted(r.doc for r in spark.table(query).collect())
            finally:
                q.stop()

        assert feed("t_feed_rolled_back") == ['{"k": 1}', '{"k": 2}']
        dbs.compact("t")
        assert feed("t_feed_after_compact") == ['{"k": 1}']
