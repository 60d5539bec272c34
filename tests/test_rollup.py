"""Continuous aggregate: a count+sum query shape with no range through
``QueryCache``. Each date is one whole-date unit, so a commit, delete or
compact recomputes only its dates, and the maintained answer stays
equal to an uncached query through writes, LWW overwrites, and range
deletes."""

import os

import pyarrow as pa
import pytest

from seriesly_spark.db import SerieslyDB
from seriesly_spark.plans.cache import QueryCache
from seriesly_spark.plans.query import SerieslyQuery

DAY_NS = 86_400_000_000_000
DAY_MS = 86_400_000
HOUR_MS = 3_600_000


def _rollup(group_ms):
    return SerieslyQuery(
        group_ms=group_ms, fields=[("_id", "count"), ("/k", "sum")],
        aliases=["cnt", "sum_v"],
    )


def _uncached(dbs, q):
    return dbs.query("m", q, exact_sums=True).toArrow()


def _run(qc, q=_rollup(DAY_MS)):
    """The rollup's rows through ``qc``, checked against the uncached
    query, with the units this query computed and reused."""
    computed, reused = qc.units_computed, qc.units_reused
    table = qc.query("m", q, exact_sums=True)
    assert table.equals(_uncached(qc.dbs, q))
    rows = [tuple(r.values()) for r in table.to_pylist()]
    return rows, qc.units_computed - computed, qc.units_reused - reused


class TestContinuousRollup:
    def test_incremental_refresh_lifecycle(self, spark, tmp_path):
        dbs = SerieslyDB(spark, str(tmp_path / "dbs"))
        dbs.create("m")
        dbs.write_batch(
            "m",
            [(1 * DAY_NS + i * 1_000_000_000, '{"k": %d}' % i) for i in range(10)]
            + [(2 * DAY_NS + i * 1_000_000_000, '{"k": %d}' % (100 + i)) for i in range(5)],
        )
        ru = QueryCache(dbs, str(tmp_path / "ru"))

        assert _run(ru) == ([(1 * DAY_MS, 10, 45.0), (2 * DAY_MS, 5, 510.0)], 2, 0)

        # hot-day append recomputes one date
        dbs.write_batch("m", [(2 * DAY_NS + 50_000_000_000, '{"k": 1000}')])
        assert _run(ru) == ([(1 * DAY_MS, 10, 45.0), (2 * DAY_MS, 6, 1510.0)], 1, 1)

        # LWW overwrite of an old key re-aggregates only its day
        dbs.write_batch("m", [(1 * DAY_NS, '{"k": 999}')])
        assert _run(ru) == ([(1 * DAY_MS, 10, 1044.0), (2 * DAY_MS, 6, 1510.0)], 1, 1)

        # range delete retires the partition: its date has no unit left
        dbs.delete_range("m", 1 * DAY_NS, 1 * DAY_NS + 9_500_000_000)
        assert _run(ru) == ([(2 * DAY_MS, 6, 1510.0)], 0, 1)

        # idempotent: nothing changed, nothing rescanned
        assert _run(ru) == ([(2 * DAY_MS, 6, 1510.0)], 0, 1)

    def test_failed_entry_write_leaves_the_other_entries(
        self, spark, tmp_path, monkeypatch
    ):
        """A query whose entry writer fails partway (a crash, a full
        disk) leaves no torn file; every entry it did not reach still
        reads, and the next query recomputes exactly the dates whose
        entry is missing or stale."""
        dbs = SerieslyDB(spark, str(tmp_path / "dbs"))
        dbs.create("m")
        dbs.write_batch(
            "m",
            [(d * DAY_NS + i, '{"k": %d}' % i) for d in (1, 2, 3) for i in range(3)],
        )
        ru = tmp_path / "ru"
        qc = QueryCache(dbs, str(ru))
        assert _run(qc)[1:] == (3, 0)
        dbs.write_batch("m", [(d * DAY_NS + 9, '{"k": 10}') for d in (2, 3, 4)])
        real_new_file, calls = pa.ipc.new_file, []

        def torn_second(sink, schema):
            calls.append(sink)
            w = real_new_file(sink, schema)
            if len(calls) == 2:
                w.close()
                raise OSError("disk full")
            return w

        monkeypatch.setattr(pa.ipc, "new_file", torn_second)
        with pytest.raises(OSError, match="disk full"):
            qc.query("m", _rollup(DAY_MS), exact_sums=True)
        monkeypatch.undo()
        assert not [f for f in os.listdir(ru) if f.endswith(".tmp")]
        # The three first entries, one of them replaced; the new date's
        # entry was never written. Each is whole.
        entries = [f for f in os.listdir(ru) if f.endswith(".arrow")]
        assert len(entries) == 3
        for f in entries:
            pa.ipc.open_file(str(ru / f)).read_all()

        recomputed, real_query = [], dbs.query

        def recording(name, q, exact_sums=False, files=None):
            recomputed.append(files)
            return real_query(name, q, exact_sums=exact_sums, files=files)

        monkeypatch.setattr(dbs, "query", recording)
        rows, computed, reused = _run(qc)
        monkeypatch.undo()
        # 1970-01-02 was untouched and 1970-01-03 written before the
        # failure; 1970-01-04 is stale and 1970-01-05 missing.
        assert list(recomputed[0]) == ["1970-01-04", "1970-01-05"]
        assert (computed, reused) == (2, 2)
        assert rows == _run(QueryCache(dbs, str(tmp_path / "fresh")))[0] == [
            (1 * DAY_MS, 3, 3.0),
            (2 * DAY_MS, 4, 13.0),
            (3 * DAY_MS, 4, 13.0),
            (4 * DAY_MS, 1, 10.0),
        ]

    @pytest.mark.parametrize("emptied", [False, True], ids=["empty_db", "all_deleted"])
    def test_read_of_a_rollup_without_dates_is_empty(self, spark, tmp_path, emptied):
        dbs = SerieslyDB(spark, str(tmp_path / "dbs"))
        dbs.create("m")
        ru = QueryCache(dbs, str(tmp_path / "ru"))
        if emptied:
            dbs.write_batch("m", [(d * DAY_NS, '{"k": 1}') for d in (1, 2, 3)])
            assert _run(ru)[1:] == (3, 0)
            dbs.delete_range("m", DAY_NS, 4 * DAY_NS - 1)
        table = ru.query("m", _rollup(DAY_MS), exact_sums=True)
        assert table.num_rows == 0
        assert table.schema.names == ["bucket_ms", "cnt", "sum_v"]
        assert table.schema.types == [pa.int64(), pa.int64(), pa.float64()]
        # A store with no dates is one whole-range unit, reused while it
        # stays empty.
        assert _run(ru) == ([], 0, 1)

    def test_refresh_and_read_job_counts(self, spark, tmp_path, spark_jobs):
        """23 dates of 200 docs in hourly buckets: a query of the
        unchanged store launches no Spark job, and a one-date change
        takes one, as the changed date is read in one task (the
        rollup's refresh took 3 and its read 2 more)."""
        dbs = SerieslyDB(spark, str(tmp_path / "dbs"))
        dbs.create("m")
        dbs.write_batch(
            "m",
            [
                (d * DAY_NS + i * (DAY_NS // 200), '{"k": %d}' % i)
                for d in range(1, 24)
                for i in range(200)
            ],
        )
        qc, q = QueryCache(dbs, str(tmp_path / "ru")), _rollup(HOUR_MS)
        qc.query("m", q, exact_sums=True)
        assert qc.units_computed == 23
        table, jobs = spark_jobs(lambda: qc.query("m", q, exact_sums=True))
        assert (table.num_rows, jobs) == (23 * 24, 0)
        assert (qc.units_computed, qc.units_reused) == (23, 23)
        dbs.write_batch("m", [(5 * DAY_NS + 7, '{"k": 1}')])
        table, jobs = spark_jobs(lambda: qc.query("m", q, exact_sums=True))
        assert (qc.units_computed, qc.units_reused) == (24, 45)
        assert jobs == 1
        assert table.num_rows == 23 * 24
        assert table.equals(_uncached(dbs, q))

    @pytest.mark.parametrize("group_ms", [DAY_MS, HOUR_MS], ids=["1d", "1h"])
    def test_count_and_sum_of_missing_and_non_numeric_values(
        self, spark, tmp_path, group_ms
    ):
        """``cnt`` counts every document, one without the pointer too;
        a bucket whose only value is not a number sums to 0.0, the
        ``sum`` reducer's empty-input value, not NULL."""
        dbs = SerieslyDB(spark, str(tmp_path / "dbs"))
        dbs.create("m")
        dbs.write_batch("m", [
            (1 * DAY_NS, '{"k": 2}'),
            (1 * DAY_NS + 1, '{"other": 5}'),
            (2 * DAY_NS, '{"k": "abc"}'),
        ])
        rows, computed, _ = _run(QueryCache(dbs, str(tmp_path / "ru")), _rollup(group_ms))
        assert rows == [(1 * DAY_MS, 2, 2.0), (2 * DAY_MS, 1, 0.0)]
        assert computed == 2
