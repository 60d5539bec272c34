"""Continuous aggregate: incremental refresh must rescan only changed
date partitions and stay equal to a from-scratch recompute through
writes, LWW overwrites, and range deletes."""

import os

import pytest

from seriesly_spark.db import SerieslyDB
from seriesly_spark.plans.cache import entry_keys, entry_path, read_entry
from seriesly_spark.plans.rollup import ContinuousRollup

DAY_NS = 86_400_000_000_000
DAY_MS = 86_400_000


class TestContinuousRollup:
    def test_incremental_refresh_lifecycle(self, spark, tmp_path):
        dbs = SerieslyDB(spark, str(tmp_path / "dbs"))
        dbs.create("m")
        dbs.write_batch(
            "m",
            [(1 * DAY_NS + i * 1_000_000_000, '{"k": %d}' % i) for i in range(10)]
            + [(2 * DAY_NS + i * 1_000_000_000, '{"k": %d}' % (100 + i)) for i in range(5)],
        )
        cr = ContinuousRollup(dbs, "m", str(tmp_path / "ru"), DAY_MS, "/k")

        assert cr.refresh() == {"changed": 2, "removed": 0, "unchanged": 0}
        assert sorted(map(tuple, cr.read().collect())) == [
            (1 * DAY_MS, 10, 45.0),
            (2 * DAY_MS, 5, 510.0),
        ]

        # hot-day append touches one partition
        dbs.write_batch("m", [(2 * DAY_NS + 50_000_000_000, '{"k": 1000}')])
        assert cr.refresh() == {"changed": 1, "removed": 0, "unchanged": 1}
        assert (2 * DAY_MS, 6, 1510.0) in set(map(tuple, cr.read().collect()))

        # LWW overwrite of an old key re-aggregates only its day
        dbs.write_batch("m", [(1 * DAY_NS, '{"k": 999}')])
        assert cr.refresh() == {"changed": 1, "removed": 0, "unchanged": 1}
        assert (1 * DAY_MS, 10, 1044.0) in set(map(tuple, cr.read().collect()))

        # range delete drops the partition from db AND rollup
        dbs.delete_range("m", 1 * DAY_NS, 1 * DAY_NS + 9_500_000_000)
        assert cr.refresh() == {"changed": 0, "removed": 1, "unchanged": 1}
        assert sorted(map(tuple, cr.read().collect())) == [(2 * DAY_MS, 6, 1510.0)]

        # idempotent: nothing changed, nothing rescanned
        assert cr.refresh() == {"changed": 0, "removed": 0, "unchanged": 1}

    def test_failed_entry_write_leaves_the_other_entries(
        self, spark, tmp_path, monkeypatch
    ):
        """A refresh whose entry writer fails partway (a crash, a full
        disk) leaves no torn file; every entry it did not reach still
        reads, and the next refresh recomputes exactly the dates whose
        entry is missing or stale."""
        import pyarrow as pa

        dbs = SerieslyDB(spark, str(tmp_path / "dbs"))
        dbs.create("m")
        dbs.write_batch(
            "m",
            [(d * DAY_NS + i, '{"k": %d}' % i) for d in (1, 2, 3) for i in range(3)],
        )
        ru = tmp_path / "ru"
        cr = ContinuousRollup(dbs, "m", str(ru), DAY_MS, "/k")
        assert cr.refresh() == {"changed": 3, "removed": 0, "unchanged": 0}
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
            cr.refresh()
        monkeypatch.undo()
        assert not [f for f in os.listdir(ru) if f.endswith(".tmp")]
        versions = dbs._partition_versions("m")
        current = [
            d for d, fp in versions.items()
            if read_entry(entry_path(str(ru), d), fp) is not None
        ]
        assert len(current) == 2 and len(versions) == 4
        assert all(read_entry(entry_path(str(ru), d)) for d in entry_keys(str(ru)))

        recomputed, real_aggregate = [], cr._aggregate

        def recording(dates):
            recomputed.extend(dates)
            return real_aggregate(dates)

        monkeypatch.setattr(cr, "_aggregate", recording)
        assert cr.refresh() == {"changed": 2, "removed": 0, "unchanged": 2}
        assert sorted(recomputed) == sorted(set(versions) - set(current))
        fresh = ContinuousRollup(dbs, "m", str(tmp_path / "fresh"), DAY_MS, "/k")
        fresh.refresh()
        assert sorted(map(tuple, cr.read().collect())) == sorted(
            map(tuple, fresh.read().collect())
        ) == [
            (1 * DAY_MS, 3, 3.0),
            (2 * DAY_MS, 4, 13.0),
            (3 * DAY_MS, 4, 13.0),
            (4 * DAY_MS, 1, 10.0),
        ]

    @pytest.mark.parametrize("emptied", [False, True], ids=["empty_db", "all_deleted"])
    def test_read_of_a_rollup_without_dates_is_empty(self, spark, tmp_path, emptied):
        dbs = SerieslyDB(spark, str(tmp_path / "dbs"))
        dbs.create("m")
        cr = ContinuousRollup(dbs, "m", str(tmp_path / "ru"), DAY_MS, "/k")
        if emptied:
            dbs.write_batch("m", [(d * DAY_NS, '{"k": 1}') for d in (1, 2, 3)])
            assert cr.refresh()["changed"] == 3
            dbs.delete_range("m", DAY_NS, 4 * DAY_NS - 1)
        assert cr.refresh() == {"changed": 0, "removed": 3 * emptied, "unchanged": 0}
        df = cr.read()
        assert df.collect() == []
        assert df.dtypes == [
            ("bucket_ms", "bigint"), ("cnt", "bigint"), ("sum_v", "double")
        ]

    def test_refresh_and_read_job_counts(self, spark, tmp_path, spark_jobs):
        """23 dates of 200 docs in hourly buckets: a refresh with nothing
        changed launches no Spark job, and a one-date refresh and a
        ``read()`` stay within the 4 and 3 jobs the partitioned-parquet
        rollup took (they take 3 and 2)."""
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
        cr = ContinuousRollup(dbs, "m", str(tmp_path / "ru"), 3_600_000, "/k")
        assert cr.refresh()["changed"] == 23
        assert spark_jobs(cr.refresh) == (
            {"changed": 0, "removed": 0, "unchanged": 23}, 0
        )
        dbs.write_batch("m", [(5 * DAY_NS + 7, '{"k": 1}')])
        stats, jobs = spark_jobs(cr.refresh)
        assert stats == {"changed": 1, "removed": 0, "unchanged": 22}
        assert jobs <= 4
        rows, jobs = spark_jobs(lambda: cr.read().collect())
        assert len(rows) == 23 * 24
        assert jobs <= 3
