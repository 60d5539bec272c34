"""Tests for P8 (query deadline) and C1 (result memoization)."""

import json
import os
import random
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


def _serve_without_jvm(dbs, qc, q, spark_jobs, monkeypatch):
    """``qc.query`` of ``q`` and its wire text, with any DataFrame
    ``createDataFrame``/``collect`` failing: returns ``((table, text),
    spark jobs, py4j calls)``."""

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

    out, jobs = spark_jobs(serve)
    return out, jobs, calls


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

    def test_commit_between_stamp_and_compute_is_computed_as_stamped(
        self, dbs, tmp_path, monkeypatch
    ):
        """A commit that lands after the query resolved its stamps and
        before it computed: the units are computed from the files they
        are stamped with, so the answer and the stored entry are the
        state before the commit, and the next query recomputes it."""
        qc = QueryCache(dbs, str(tmp_path / "cache"))
        before = _rows(dbs.query("t", self._q()))
        real = cache_mod.db_version

        def stamp_then_commit(*a, **k):
            out = real(*a, **k)
            monkeypatch.setattr(cache_mod, "db_version", real)
            dbs.write("t", json.dumps({"v": 100}), ts="2024-01-01T00:30:00Z")
            return out

        monkeypatch.setattr(cache_mod, "db_version", stamp_then_commit)
        assert qc.query("t", self._q()).to_pylist() == before
        after = _rows(dbs.query("t", self._q()))
        assert after[0]["s"] == before[0]["s"] + 100
        assert qc.query("t", self._q()).to_pylist() == after
        assert (qc.misses, qc.hits) == (2, 0)

    def test_one_day_append_changes_one_partition_version(self, dbs, tmp_path):
        # The cache's date stamps are the partition versions: a one-day
        # append moves one of them and recomputes one date unit.
        dbs.write("t", json.dumps({"v": 3}), ts="2024-01-02T00:00:00Z")
        qc = QueryCache(dbs, str(tmp_path / "cache"))
        q = SerieslyQuery(
            group_ms=3_600_000, fields=[("_id", "count"), ("/v", "sum")],
            aliases=["cnt", "sum_v"],
        )
        qc.query("t", q, exact_sums=True)
        before = db_version(dbs, "t")
        dbs.write("t", json.dumps({"v": 5}), ts="2024-01-02T05:00:00Z")
        after = db_version(dbs, "t")
        assert sorted(before) == sorted(after) == ["2024-01-01", "2024-01-02"]
        assert [d for d in after if after[d] != before[d]] == ["2024-01-02"]
        qc.query("t", q, exact_sums=True)
        assert (qc.units_computed, qc.units_reused) == (2 + 1, 1)

    def test_commits_leave_one_entry_per_shape(self, dbs, tmp_path):
        """An entry is named by its shape and unit (here the one date,
        whole) and stamped with the date's fingerprint, so every commit
        to the date makes the unit's entry stale; storing the new one
        replaces it."""
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
        """A sliding panel whose end is not on a bucket boundary asks a
        new unaligned edge unit on every slide; each old edge's entry is
        dead. Past ``MAX_CACHED_ENTRIES`` a store unlinks the
        oldest-written entries, never one of the query's own units."""
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
        (hit, text), jobs, calls = _serve_without_jvm(dbs, qc, q, spark_jobs, monkeypatch)
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

    def test_answer_over_row_cap_is_taken_once_more(self, spark, tmp_path, spark_jobs, monkeypatch):
        """An answer over the cap: the cache's bounded take of its units
        finds it over, and the renderer takes the whole plan once, with
        no second bounded take and no global sort. The store is read in
        one task, so each take is one job."""
        d = SerieslyDB(spark, str(tmp_path / "dbroot"))
        d.create("t")
        d.write_batch("t", [(f"2024-01-0{day}T{h:02d}:00:00Z", json.dumps({"v": h}))
                            for day in range(1, 6) for h in range(24)])
        monkeypatch.setattr(cache_mod, "MAX_CACHED_ROWS", 50)
        qc = QueryCache(d, str(tmp_path / "cache"))
        q = SerieslyQuery(group_ms=3_600_000, fields=[("/v", "sum")], aliases=["s"])
        cached, cached_jobs = spark_jobs(lambda: to_seriesly_json(qc.query("t", q), q.aliases))
        plain, plain_jobs = spark_jobs(lambda: to_seriesly_json(d.query("t", q), q.aliases))
        assert cached == plain
        assert len(json.loads(cached)) == 120
        assert (cached_jobs, plain_jobs) == (2, 1)
        assert os.listdir(tmp_path / "cache") == []

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


class TestOneTaskRead:
    """A read whose in-range files hold at most the session's
    ``spark.sql.files.openCostInBytes`` runs as one Spark task
    (``SerieslyDB._live``); a larger one keeps the scan's partitions and
    their shuffles, and gives the same answers."""

    OPEN_COST = "spark.sql.files.openCostInBytes"

    @pytest.fixture()
    def dbs(self, spark, tmp_path):
        """One date partition of three files: three commits, the last two
        re-sending some keys of the first (last write wins)."""
        d = SerieslyDB(spark, str(tmp_path / "dbroot"))
        d.create("t")
        for i in range(3):
            d.write_batch("t", [
                (f"2024-01-01T{h:02d}:{m:02d}:00Z",
                 json.dumps({"v": h * 60 + m + 1000 * i, "h": f"h{(h + m + i) % 2}"}))
                for h in range(24) for m in {0, *range(i * 5, 60, 15)}
            ])
        assert [len(fs) for fs in d._data_files("t").values()] == [3]
        return d

    PANELS = {
        "plain": dict(fields=[("/v", "sum"), ("/v", "avg"), ("/v", "count"), ("/v", "max")]),
        "list": dict(fields=[("/h", "identity"), ("/h", "distinct"), ("/v", "any")]),
        "rate": dict(fields=[("/v", "c"), ("/v", "sum")], filters=[("/h", "h0")]),
    }

    @staticmethod
    def _q(panel):
        spec = TestOneTaskRead.PANELS[panel]
        return SerieslyQuery(
            group_ms=3_600_000, aliases=[f"f{i}" for i in range(len(spec["fields"]))], **spec
        )

    @staticmethod
    def _plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    def test_small_read_is_one_job(self, dbs, tmp_path, spark_jobs):
        """A cache miss, an uncached rendered query and a ``count``: the
        fold, the aggregate and the take of each run in one stage. Over
        the scan's own partitions they took 3, 3 and 3 jobs."""
        q = self._q("plain")
        qc = QueryCache(dbs, str(tmp_path / "cache"))
        miss, miss_jobs = spark_jobs(lambda: qc.query("t", q))
        text, query_jobs = spark_jobs(lambda: to_seriesly_json(dbs.query("t", q), q.aliases))
        n, count_jobs = spark_jobs(lambda: dbs.df("t").count())
        assert (miss_jobs, query_jobs, count_jobs) == (1, 1, 1)
        assert (qc.misses, miss.num_rows, n) == (1, 24, 24 * 12)
        assert to_seriesly_json(miss, q.aliases) == text
        plan = self._plan(dbs.query("t", q))
        assert "Coalesce 1" in plan and "Exchange" not in plan

    @pytest.mark.parametrize("panel", sorted(PANELS))
    def test_read_over_the_open_cost_keeps_the_shuffled_plan(self, dbs, spark, panel):
        """With the open cost at 1 byte every read is over it: the plan
        has no ``Coalesce 1`` and shuffles, and answers as the one-task
        plan does (exact sums, so partial sums merge in any order)."""
        q = self._q(panel)
        one_task = dbs.query("t", q, exact_sums=True)
        assert "Coalesce 1" in self._plan(one_task)
        want = one_task.toArrow()
        assert want.num_rows == 24
        old = spark.conf.get(self.OPEN_COST, None)
        spark.conf.set(self.OPEN_COST, "1b")
        try:
            shuffled = dbs.query("t", q, exact_sums=True)
            got = shuffled.toArrow()
            plan = self._plan(shuffled)
        finally:
            if old is None:
                spark.conf.unset(self.OPEN_COST)
            else:
                spark.conf.set(self.OPEN_COST, old)
        assert "Coalesce" not in plan and "Exchange" in plan
        assert got.equals(want)


MIN_MS, HOUR_MS, DAY_MS = 60_000, 3_600_000, 86_400_000
NS = 1_000_000  # per ms
DAY0 = 1_704_067_200 * 10**9  # 2024-01-01T00:00:00Z


def _approx(v):
    if isinstance(v, float):
        return pytest.approx(v)
    if isinstance(v, list):
        return [_approx(x) for x in v]
    if isinstance(v, dict):
        return {k: _approx(x) for k, x in v.items()}
    return v


class TestDateUnits:
    """A cache entry answers one date of a query shape: the answers it
    builds equal the uncached plan's, and a query reuses the dates it has
    already answered."""

    @pytest.fixture()
    def dbs(self, spark, tmp_path):
        """Four days of documents at random ns instants."""
        rng = random.Random(14)
        d = SerieslyDB(spark, str(tmp_path / "dbroot"))
        d.create("t")
        d.write_batch("t", [self._doc(rng, DAY0 + rng.randrange(4 * DAY_MS * NS))
                            for _ in range(240)])
        return d

    @staticmethod
    def _doc(rng, ns):
        doc = {"v": round(rng.uniform(-50, 50), 3), "h": rng.choice(["a", "b", None])}
        if rng.random() < 0.3:
            doc["o"] = {rng.choice("xyz"): 1, rng.choice("pq"): 2}
        return ns, json.dumps(doc)

    SHAPES = [
        dict(fields=[("/v", "sum"), ("/v", "avg"), ("/v", "count"), ("/v", "min"),
                     ("/h", "distinct"), ("/h", "identity"), ("/o", "obj_keys")]),
        dict(fields=[("/v", "sumsq"), ("/v", "max"), ("/h", "any"), ("/o", "obj_keys")],
             filters=[("/h", "a")]),
        dict(fields=[("/v", "c"), ("/v", "c_avg"), ("/v", "sum")], filters=[("/h", "b")]),
    ]

    @staticmethod
    def _ranges(rng, group_ms):
        """A bucket-aligned range across dates, an unaligned one across
        dates, an unaligned one inside a date and a half-open one."""
        g = group_ms * NS
        a = (DAY0 + rng.randrange(3 * DAY_MS * NS)) // g * g
        aligned = (a, a + rng.randrange(1, 2 * DAY_MS // group_ms + 2) * g - 1)
        a = DAY0 - HOUR_MS * NS + rng.randrange(4 * DAY_MS * NS)
        unaligned = (a, a + rng.randrange(2 * DAY_MS * NS))
        a = DAY0 + rng.randrange(4) * DAY_MS * NS + rng.randrange(DAY_MS * NS // 2)
        inside = (a, a + rng.randrange(DAY_MS * NS // 2))
        half = (DAY0 + rng.randrange(4 * DAY_MS * NS), None)
        return [aligned, unaligned, inside, half]

    @pytest.mark.parametrize(
        "group_ms", [5 * MIN_MS, HOUR_MS, DAY_MS, 5 * HOUR_MS + 7],
        ids=["5min", "1h", "1d", "5h7ms"],
    )
    def test_units_answer_as_the_uncached_plan(self, dbs, tmp_path, group_ms):
        rng = random.Random(group_ms)
        qc = QueryCache(dbs, str(tmp_path / "cache"))
        ranges = self._ranges(rng, group_ms)
        partly_reused = 0
        # Plain sums, then a commit to one date, then exact sums.
        for exact, commit in ((False, False), (False, True), (True, False)):
            if commit:
                # New keys in one date, and a revision of one of its keys.
                day = DAY0 + rng.randrange(4) * DAY_MS * NS
                dbs.write_batch("t", [self._doc(rng, day + rng.randrange(DAY_MS * NS))
                                      for _ in range(5)])
                key = dbs.df("t", day, day + DAY_MS * NS - 1).first().ts_ns
                dbs.write_batch("t", [self._doc(rng, key)])
            for spec in self.SHAPES:
                for lo, hi in ranges:
                    q = SerieslyQuery(
                        group_ms=group_ms, from_ts=lo, to_ts=hi,
                        aliases=[f"f{i}" for i in range(len(spec["fields"]))], **spec,
                    )
                    before = (qc.units_reused, qc.units_computed)
                    got = qc.query("t", q, exact_sums=exact)
                    partly_reused += qc.units_reused > before[0] and qc.units_computed > before[1]
                    want = dbs.query("t", q, exact_sums=exact).toArrow()
                    assert got.schema.equals(want.schema, check_metadata=True)
                    assert got.to_pylist() == (
                        want.to_pylist() if exact else _approx(want.to_pylist())
                    ), (lo, hi, spec, exact)
        # A query after the commit reused some dates and computed others,
        # where a day is whole buckets; a 5h7ms bucket makes every query
        # one whole-range unit.
        assert (partly_reused > 0) == (DAY_MS % group_ms == 0)

    def _panel(self, end):
        """The last 6 hours before ``end`` in 5-minute buckets, filtered."""
        return SerieslyQuery(
            group_ms=5 * MIN_MS, from_ts=end - 6 * HOUR_MS * NS, to_ts=end - 1,
            fields=[("/v", "avg"), ("/h", "distinct"), ("/o", "obj_keys")],
            filters=[("/h", "a")], aliases=["f0", "f1", "f2"],
        )

    def test_slide_inside_answered_dates_is_jobless(self, dbs, tmp_path, spark_jobs, monkeypatch):
        """A 6 h window that moves one bucket inside the dates it already
        answered runs no Spark job and makes no py4j call."""
        qc = QueryCache(dbs, str(tmp_path / "cache"))
        end = DAY0 + DAY_MS * NS + 3 * HOUR_MS * NS  # 03:00 of day 2
        qc.query("t", self._panel(end))
        assert (qc.units_computed, qc.units_reused) == (2, 0)
        slid = self._panel(end + 5 * MIN_MS * NS)
        (table, text), jobs, calls = _serve_without_jvm(dbs, qc, slid, spark_jobs, monkeypatch)
        assert jobs == 0
        assert calls == []
        assert (qc.misses, qc.hits) == (1, 1)
        assert (qc.units_computed, qc.units_reused) == (2, 2)
        want = dbs.query("t", slid).toArrow()
        assert table.to_pylist() == _approx(want.to_pylist())
        assert text == to_seriesly_json(table, slid.aliases)
        assert json.loads(text)

    def test_commit_recomputes_only_its_date(self, dbs, tmp_path):
        """After a commit to the newest date, a range over three dates
        computes that date's unit and reuses the other two."""
        qc = QueryCache(dbs, str(tmp_path / "cache"))
        q = SerieslyQuery(
            group_ms=HOUR_MS, fields=[("/v", "sum"), ("/v", "count")], aliases=["s", "n"],
            from_ts=DAY0 + DAY_MS * NS + 5 * HOUR_MS * NS + 123, to_ts=DAY0 + 4 * DAY_MS * NS - 1,
        )
        qc.query("t", q)
        assert (qc.units_computed, qc.units_reused) == (3, 0)
        dbs.write("t", json.dumps({"v": 1e6}), ts=DAY0 + 3 * DAY_MS * NS + 7)
        got = qc.query("t", q)
        assert (qc.units_computed, qc.units_reused) == (4, 2)
        assert (qc.misses, qc.hits) == (2, 0)
        assert got.to_pylist() == _approx(dbs.query("t", q).toArrow().to_pylist())
        assert max(r["s"] for r in got.to_pylist()) > 1e5

    def _three_dates(self):
        return SerieslyQuery(
            group_ms=HOUR_MS, fields=[("/v", "sum"), ("/h", "distinct")], aliases=["s", "d"],
            from_ts=DAY0 + DAY_MS * NS, to_ts=DAY0 + 4 * DAY_MS * NS - 1,
        )

    def test_hit_reads_no_entry_file_again(self, dbs, tmp_path, monkeypatch):
        """The tables a cache wrote are its hits' tables while their
        files are unchanged: a hit opens no entry file."""
        qc = QueryCache(dbs, str(tmp_path / "cache"))
        q = self._three_dates()
        miss = qc.query("t", q)

        def no_read(*a, **k):
            raise AssertionError("a hit read an entry file")

        monkeypatch.setattr(cache_mod, "read_entry", no_read)
        assert qc.query("t", q).equals(miss, check_metadata=True)
        assert (qc.misses, qc.hits) == (1, 1)
        assert (qc.units_computed, qc.units_reused) == (3, 3)

    def test_entries_follow_the_directory(self, dbs, tmp_path):
        """Another cache on the same directory replaces an entry: this
        one reads the new file. An entry unlinked from the directory is a
        miss, whatever this cache kept of it."""
        cache = str(tmp_path / "cache")
        qc, other = QueryCache(dbs, cache), QueryCache(dbs, cache)
        q = self._three_dates()
        qc.query("t", q)
        dbs.write("t", json.dumps({"v": 1e6, "h": "new"}), ts=DAY0 + 3 * DAY_MS * NS + 7)
        other.query("t", q)
        assert (other.units_computed, other.units_reused) == (1, 2)
        got = qc.query("t", q)
        assert (qc.misses, qc.hits) == (1, 1)
        assert (qc.units_computed, qc.units_reused) == (3, 3)
        want = dbs.query("t", q).toArrow().to_pylist()
        assert got.to_pylist() == _approx(want)
        assert any(r["s"] > 1e5 and "new" in r["d"] for r in got.to_pylist())
        for name in os.listdir(cache):
            os.remove(os.path.join(cache, name))
        assert qc.query("t", q).to_pylist() == _approx(want)
        assert (qc.misses, qc.hits) == (2, 1)
        assert (qc.units_computed, qc.units_reused) == (6, 3)
