"""Continuous aggregate: incremental refresh must rescan only changed
date partitions and stay equal to a from-scratch recompute through
writes, LWW overwrites, and range deletes."""

import os

import pytest

from seriesly_spark.db import SerieslyDB
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

    def test_failed_manifest_write_keeps_the_previous_one(
        self, spark, tmp_path, monkeypatch
    ):
        """A manifest write that fails partway (a crash, a full disk)
        must not leave truncated JSON for every later refresh to trip on."""
        import seriesly_spark.plans.rollup as rollup_mod

        dbs = SerieslyDB(spark, str(tmp_path / "dbs"))
        dbs.create("m")
        dbs.write_batch("m", [(1 * DAY_NS + i, '{"k": %d}' % i) for i in range(3)])
        ru = tmp_path / "ru"
        cr = ContinuousRollup(dbs, "m", str(ru), DAY_MS, "/k")
        assert cr.refresh() == {"changed": 1, "removed": 0, "unchanged": 0}
        dbs.write_batch("m", [(2 * DAY_NS, '{"k": 10}')])
        real_dump = rollup_mod.json.dump

        def torn_dump(obj, fh):
            fh.write(rollup_mod.json.dumps(obj)[:5])
            fh.flush()
            raise OSError("disk full")

        monkeypatch.setattr(rollup_mod.json, "dump", torn_dump)
        with pytest.raises(OSError, match="disk full"):
            cr.refresh()
        monkeypatch.setattr(rollup_mod.json, "dump", real_dump)
        assert [f for f in os.listdir(ru) if "manifest" in f] == ["_manifest.json"]
        assert cr.refresh() == {"changed": 1, "removed": 0, "unchanged": 1}
        assert sorted(map(tuple, cr.read().collect())) == [
            (1 * DAY_MS, 3, 3.0),
            (2 * DAY_MS, 1, 10.0),
        ]
