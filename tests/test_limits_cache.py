"""Tests for P8 (query deadline) and C1 (result memoization)."""

import json
import os
import time
from datetime import datetime, timezone

import pyarrow as pa
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from seriesly_spark.db import SerieslyDB
from seriesly_spark.plans import cache as cache_mod
from seriesly_spark.plans.cache import QueryCache, db_version
from seriesly_spark.plans.emit import to_seriesly_json
from seriesly_spark.plans.limits import QueryTimeout, run_with_timeout
from seriesly_spark.plans.query import SerieslyQuery
from seriesly_spark.plans.rollup import ContinuousRollup


class TestTimeout:
    def test_fast_query_unaffected(self, spark):
        df = spark.range(1000)
        assert run_with_timeout(spark, lambda: df.count(), 60.0) == 1000

    def test_slow_query_cancelled(self, spark):
        # A deliberately slow job: per-row sleep via a Python UDF.
        slow = spark.range(64).repartition(4).select(
            F.udf(lambda x: time.sleep(2) or x, "long")("id").alias("id")
        )
        t0 = time.monotonic()
        with pytest.raises(QueryTimeout):
            # collect() (not count()) so the sleeping UDF column can't be
            # pruned out of the plan.
            run_with_timeout(spark, lambda: slow.collect(), 2.0)
        # Cancelled well before the ~32s the job would need.
        assert time.monotonic() - t0 < 20

    def test_errors_pass_through(self, spark):
        bad = spark.range(10).select(F.expr("assert_true(id < 5)"))
        with pytest.raises(Exception) as ei:
            run_with_timeout(spark, lambda: bad.collect(), 60.0)
        assert not isinstance(ei.value, QueryTimeout)


def _rows(df):
    """A plan's collected rows as the dicts a table's ``to_pylist()`` gives."""
    return [r.asDict() for r in df.collect()]


class TestQueryCache:
    @pytest.fixture()
    def dbs(self, spark, tmp_path):
        d = SerieslyDB(spark, str(tmp_path / "dbroot"))
        d.create("t")
        d.write_batch(
            "t",
            [
                ("2024-01-01T00:00:00Z", json.dumps({"v": 1})),
                ("2024-01-01T00:10:00Z", json.dumps({"v": 2})),
                ("2024-01-01T01:00:00Z", json.dumps({"v": 4, "h": "a", "o": {"b": 1, "a": 2}})),
                ("2024-01-01T01:30:00Z", json.dumps({"v": 7, "h": "b"})),
                ("2024-01-01T02:00:00Z", json.dumps({"v": 9.5, "h": "a", "o": {"z": 0}})),
            ],
        )
        return d

    def _q(self):
        return SerieslyQuery(
            group_ms=3_600_000, fields=[("/v", "sum")], aliases=["s"]
        )

    def test_hit_after_miss(self, dbs, tmp_path):
        qc = QueryCache(dbs, str(tmp_path / "cache"))
        r1 = qc.query("t", self._q()).to_pylist()
        r2 = qc.query("t", self._q()).to_pylist()
        assert (qc.misses, qc.hits) == (1, 1)
        assert r1 == r2
        assert r1[0]["s"] == 3.0

    def test_write_invalidates(self, dbs, tmp_path):
        qc = QueryCache(dbs, str(tmp_path / "cache"))
        v0 = db_version(dbs, "t")
        assert qc.query("t", self._q()).to_pylist()[0]["s"] == 3.0
        dbs.write("t", json.dumps({"v": 10}), ts="2024-01-01T00:20:00Z")
        assert db_version(dbs, "t") != v0
        assert qc.query("t", self._q()).to_pylist()[0]["s"] == 13.0
        assert (qc.misses, qc.hits) == (2, 0)

    def test_different_query_different_entry(self, dbs, tmp_path):
        qc = QueryCache(dbs, str(tmp_path / "cache"))
        qc.query("t", self._q())
        q2 = SerieslyQuery(
            group_ms=3_600_000, fields=[("/v", "count")], aliases=["n"]
        )
        assert qc.query("t", q2).to_pylist()[0]["n"] == 2
        assert (qc.misses, qc.hits) == (2, 0)

    def test_field_order_is_part_of_the_key(self, dbs, tmp_path):
        # Alias i names field i: the same fields in another order under
        # the same aliases is another answer.
        qc = QueryCache(dbs, str(tmp_path / "cache"))
        for fields in ([("/v", "sum"), ("/v", "max")], [("/v", "max"), ("/v", "sum")]):
            q = SerieslyQuery(group_ms=3_600_000, fields=fields, aliases=["f0", "f1"])
            assert qc.query("t", q).to_pylist() == _rows(dbs.query("t", q))
        assert (qc.misses, qc.hits) == (2, 0)

    def test_commit_without_data_change_keeps_entries(self, dbs, tmp_path):
        # A delete over days that hold no partition commits a log segment
        # but changes no data file, so the entry still answers.
        qc = QueryCache(dbs, str(tmp_path / "cache"))
        want = qc.query("t", self._q())
        dbs.delete_range("t", "2023-06-01", "2023-06-03")
        assert qc.query("t", self._q()).equals(want, check_metadata=True)
        assert (qc.misses, qc.hits) == (1, 1)

    def test_one_day_append_changes_one_partition_version(self, dbs, tmp_path):
        # The cache version and the rollup refresh read the same listing.
        dbs.write("t", json.dumps({"v": 3}), ts="2024-01-02T00:00:00Z")
        cr = ContinuousRollup(dbs, "t", str(tmp_path / "rollup"), 3_600_000, "/v")
        cr.refresh()
        before = dbs._partition_versions("t")
        dbs.write("t", json.dumps({"v": 5}), ts="2024-01-02T05:00:00Z")
        after = dbs._partition_versions("t")
        assert sorted(before) == sorted(after) == ["2024-01-01", "2024-01-02"]
        assert [d for d in after if after[d] != before[d]] == ["2024-01-02"]
        assert cr.refresh() == {"changed": 1, "removed": 0, "unchanged": 1}

    def test_commits_leave_one_entry_per_shape(self, dbs, tmp_path):
        """An entry is named by its shape alone and stamped with the
        version, so every commit makes the shape's entry stale; storing
        the new one replaces it."""
        cache = tmp_path / "cache"
        qc = QueryCache(dbs, str(cache))
        other = SerieslyQuery(
            group_ms=86_400_000, fields=[("/v", "count")], aliases=["n"]
        )
        qc.query("t", other)
        for i, s in enumerate((3.0, 13.0, 33.0)):
            if i:
                dbs.write("t", json.dumps({"v": 10 * i}), ts=f"2024-01-01T00:2{i}:00Z")
            assert qc.query("t", self._q()).to_pylist()[0]["s"] == s
            assert len(os.listdir(cache)) == 2
        assert (qc.misses, qc.hits) == (4, 0)
        assert qc.query("t", other).to_pylist()[0]["n"] == 7
        assert len(os.listdir(cache)) == 2

    def test_directory_is_bounded(self, dbs, tmp_path, monkeypatch):
        """A sliding panel asks a new range on every slide; each old
        range's entry is dead. Past ``MAX_CACHED_ENTRIES`` a store
        unlinks the oldest-written entries, never the one just written."""
        monkeypatch.setattr(cache_mod, "MAX_CACHED_ENTRIES", 2)
        cache = tmp_path / "cache"
        qc = QueryCache(dbs, str(cache))

        def slide(h):
            return SerieslyQuery(
                group_ms=3_600_000, fields=[("/v", "sum")], aliases=["s"],
                from_ts="2024-01-01T00:00:00Z", to_ts=f"2024-01-01T03:00:0{h}Z",
            )

        for h in range(2 + 3):
            assert qc.query("t", slide(h)).to_pylist()[0]["s"] == 3.0
            assert len(os.listdir(cache)) <= 2
        assert (qc.misses, qc.hits) == (5, 0)
        assert qc.query("t", slide(4)).to_pylist()[0]["s"] == 3.0
        assert qc.query("t", slide(3)).to_pylist()[0]["s"] == 3.0
        assert (qc.misses, qc.hits) == (5, 2)
        qc.query("t", slide(0))
        assert (qc.misses, qc.hits) == (6, 2)
        assert len(os.listdir(cache)) == 2

    def test_compact_invalidates(self, dbs, tmp_path):
        # A revision gives the day a second file, which compact rewrites
        # (a one-file day it leaves alone: test_db's no-op compact).
        dbs.write("t", json.dumps({"v": 1}), ts="2024-01-01T00:00:00Z")
        qc = QueryCache(dbs, str(tmp_path / "cache"))
        qc.query("t", self._q())
        dbs.compact("t")
        qc.query("t", self._q())
        assert (qc.misses, qc.hits) == (2, 0)

    @pytest.mark.parametrize(
        "field, first, second",
        [(("/v", "sum"), {"exact_sums": True}, {})],
        ids=["exact_sums"],
    )
    def test_key_covers_answer_options(self, spark, tmp_path, field, first, second):
        # Two calls whose answers differ only by the sum mode must not
        # share an entry.
        d = SerieslyDB(spark, str(tmp_path / "dbroot"))
        d.create("t")
        d.write_batch(
            "t",
            [
                ("2024-01-01T00:00:00Z", json.dumps({"v": 0.1})),
                ("2024-01-01T00:10:00Z", json.dumps({"v": 0.2})),
            ],
        )
        qc = QueryCache(d, str(tmp_path / "cache"))
        q = SerieslyQuery(group_ms=3_600_000, fields=[field], aliases=["x"])
        answers = []
        for kwargs in (first, second):
            want = _rows(d.query("t", q, **kwargs))
            assert qc.query("t", q, **kwargs).to_pylist() == want
            answers.append(want)
        assert answers[0] != answers[1]
        assert (qc.misses, qc.hits) == (2, 0)

    def test_one_range_in_two_forms_is_one_key(self, dbs, tmp_path):
        # An RFC3339 string, an ns int and a datetime naming one instant
        # ask one question.
        qc = QueryCache(dbs, str(tmp_path / "cache"))
        forms = [
            ("2024-01-01T00:05:00Z", "2024-01-01T02:30:00Z"),
            (1_704_067_500 * 10**9, datetime(2024, 1, 1, 2, 30, tzinfo=timezone.utc)),
        ]
        answers = [
            qc.query(
                "t", SerieslyQuery(group_ms=3_600_000, fields=[("/v", "sum")],
                                   aliases=["s"], from_ts=lo, to_ts=hi)
            ).to_pylist()
            for lo, hi in forms
        ]
        assert answers[0] == answers[1]
        assert sorted((r["bucket_ms"], r["s"]) for r in answers[0])[0][1] == 2.0
        assert [r["s"] for r in answers[0]] == [2.0, 11.0, 9.5]
        assert (qc.misses, qc.hits) == (1, 1)

    PANELS = {
        "plain": dict(fields=[("/v", "sum"), ("/v", "avg"), ("/v", "count"), ("/v", "min")]),
        "list": dict(fields=[("/h", "identity"), ("/h", "distinct"), ("/o", "obj_keys")]),
        "rate": dict(fields=[("/v", "c")]),
        "host": dict(fields=[("/v", "sum"), ("/v", "c")], filters=[("/h", "a")]),
        "empty": dict(
            fields=[("/v", "sum"), ("/h", "distinct")], from_ts="2030-01-01", to_ts="2030-01-02"
        ),
    }

    @pytest.mark.parametrize("panel", sorted(PANELS))
    def test_hit_is_jobless_and_equals_fill(self, dbs, tmp_path, panel, spark_jobs, monkeypatch):
        spec = self.PANELS[panel]
        q = SerieslyQuery(
            group_ms=3_600_000,
            aliases=[f"f{i}" for i in range(len(spec["fields"]))],
            **spec,
        )
        qc = QueryCache(dbs, str(tmp_path / "cache"))
        miss = qc.query("t", q)
        fill = to_seriesly_json(miss, q.aliases)

        def no_jvm_call(*a, **k):
            raise AssertionError("a cache hit called into the JVM")

        client = dbs.spark.sparkContext._gateway._gateway_client
        send, calls = client.send_command, []

        def counting(command, *a, **k):
            if not command.startswith("m\nd\n"):  # not a proxy-GC delete
                calls.append(command)
            return send(command, *a, **k)

        def serve():
            # A hit renders its stored table with no py4j call at all.
            with monkeypatch.context() as m:
                m.setattr(dbs.spark, "createDataFrame", no_jvm_call)
                m.setattr(DataFrame, "collect", no_jvm_call)
                m.setattr(client, "send_command", counting)
                table = qc.query("t", q)
                return table, to_seriesly_json(table, q.aliases)

        (hit, text), jobs = spark_jobs(serve)
        assert jobs == 0
        assert calls == []
        assert (qc.misses, qc.hits) == (1, 1)
        # Rate sums differ in the last bits between separate uncached
        # runs, so the hit is compared with the miss that filled it.
        assert text == fill
        assert (text == "{}") == (panel == "empty")
        assert hit.equals(miss, check_metadata=True)
        assert miss.schema.equals(
            dbs.query("t", q).limit(0).toArrow().schema, check_metadata=True
        )

    def test_failed_write_leaves_no_entry(self, dbs, tmp_path, monkeypatch):
        real_new_file = pa.ipc.new_file

        class TornWriter:
            """Writes part of the table, then fails like a full disk."""

            def __init__(self, sink, schema):
                self.w = real_new_file(sink, schema)

            def __enter__(self):
                return self

            def __exit__(self, *exc):
                self.w.close()

            def write_table(self, table):
                self.w.write_table(table.slice(0, 1))
                raise OSError("disk full")

        monkeypatch.setattr(pa.ipc, "new_file", TornWriter)
        cache = tmp_path / "cache"
        qc = QueryCache(dbs, str(cache))
        with pytest.raises(OSError, match="disk full"):
            qc.query("t", self._q())
        assert os.listdir(cache) == []
        monkeypatch.undo()
        assert qc.query("t", self._q()).to_pylist()[0]["s"] == 3.0
        assert (qc.misses, qc.hits) == (2, 0)

    def test_answer_over_row_cap_is_not_cached(self, dbs, tmp_path, monkeypatch):
        monkeypatch.setattr(cache_mod, "MAX_CACHED_ROWS", 2)
        cache = tmp_path / "cache"
        qc = QueryCache(dbs, str(cache))
        want = dbs.query("t", self._q()).collect()
        assert len(want) == 3
        for _ in range(2):
            assert qc.query("t", self._q()).collect() == want
        assert os.listdir(cache) == []
        assert (qc.misses, qc.hits) == (2, 0)
