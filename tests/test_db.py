"""End-to-end tests for the SerieslyDB operational surface (SURVEY §2.1):
DDL, keyed upsert with LWW reads, range reads + limit, bulk range delete
with partition-drop semantics, compaction, info, changes feed, and the
analytical query path over a written database.
"""

import json
import os
from datetime import datetime, timezone

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from seriesly_spark.db import SerieslyDB, _ns_date
from seriesly_spark.plans.query import SerieslyQuery


@pytest.fixture()
def dbs(spark, tmp_path):
    return SerieslyDB(spark, str(tmp_path / "dbroot"))


def _doc(k):
    return json.dumps({"k": k})


class TestDdl:
    def test_create_list_drop(self, dbs):
        assert dbs.list() == []
        dbs.create("a")
        dbs.create("b")
        assert dbs.list() == ["a", "b"]
        dbs.drop("a")
        assert dbs.list() == ["b"]
        assert dbs.exists("b") and not dbs.exists("a")

    def test_invalid_names(self, dbs):
        for bad in ("", ".hidden", "x/y"):
            with pytest.raises(ValueError):
                dbs.create(bad)

    def test_write_to_missing_db(self, dbs):
        with pytest.raises(KeyError):
            dbs.write("nope", _doc(1))


class TestIngestAndRead:
    def test_write_get_roundtrip(self, dbs):
        dbs.create("t")
        k = dbs.write("t", _doc(7), ts="2024-01-02T03:04:05Z")
        assert k == 1_704_164_645_000_000_000
        assert json.loads(dbs.get("t", "2024-01-02T03:04:05Z")) == {"k": 7}
        assert dbs.get("t", "2024-01-02T03:04:06Z") is None

    def test_same_key_overwrites(self, dbs):
        dbs.create("t")
        dbs.write("t", _doc(1), ts="2024-01-02T00:00:00Z")
        dbs.write("t", _doc(2), ts="2024-01-02T00:00:00Z")
        assert json.loads(dbs.get("t", "2024-01-02T00:00:00Z")) == {"k": 2}
        assert dbs.df("t").count() == 1  # one live key

    def test_server_assigned_key(self, dbs):
        dbs.create("t")
        k = dbs.write("t", _doc(1))
        assert isinstance(k, int) and k > 1_700_000_000_000_000_000

    def test_datetime_key_is_exact(self, dbs):
        # A float timestamp() product truncates this µs to the one below.
        dbs.create("t")
        ts = datetime(2005, 4, 17, 8, 29, 2, 646319, tzinfo=timezone.utc)
        k = dbs.write("t", _doc(1), ts=ts)
        assert k == 1_113_726_542_646_319_000
        assert dbs.get("t", "2005-04-17T08:29:02.646319Z") == _doc(1)
        assert dbs.all_docs("t").first().key == "2005-04-17T08:29:02.646319Z"
        assert dbs.write("t", _doc(2), ts=ts.replace(tzinfo=None)) == k

    def test_empty_batch_is_no_commit(self, dbs, spark_jobs):
        dbs.create("t")
        log = os.path.join(dbs._path("t"), ".changelog")
        before = set(os.listdir(log))
        assert spark_jobs(lambda: dbs.write_batch("t", [])) == ([], 0)
        assert set(os.listdir(log)) == before
        assert dbs._data_files("t") == {}

    def test_non_str_docs_are_rejected(self, dbs):
        """Only JSON bodies are stored: a None doc would read back as a
        missing key, and neither None nor an int dumps as JSON. The
        whole batch fails before any file is published."""
        dbs.create("t")
        log = os.path.join(dbs._path("t"), ".changelog")
        before = set(os.listdir(log))
        batch = [
            ("2024-01-01T00:00:00Z", _doc(1)),
            ("2024-01-02T00:00:00Z", None),
        ]
        with pytest.raises(TypeError):
            dbs.write_batch("t", batch)
        with pytest.raises(TypeError):
            dbs.write("t", 7, ts="2024-01-01T00:00:00Z")
        assert set(os.listdir(log)) == before
        assert dbs._data_files("t") == {}

    def test_commit_is_one_driver_file_per_date(self, dbs, spark_jobs):
        """A commit is driver-side I/O: no Spark job, one visible
        ``part-*.parquet`` per date and one log segment. The files are
        what Spark's writer made: int64/int64/string, snappy, PLAIN
        (no dictionary pages), with ts_ns min/max for row-group
        skipping."""
        import pyarrow.parquet as pq

        dbs.create("t")
        path = dbs._path("t")
        log = os.path.join(path, ".changelog")
        before = set(os.listdir(log))
        rows = [
            (f"2024-01-0{d}T{h:02d}:00:00Z", _doc(d * 100 + h))
            for h in (5, 1, 9)
            for d in (1, 2, 3)
        ]
        keys, jobs = spark_jobs(lambda: dbs.write_batch("t", rows))
        assert jobs == 0
        assert len(set(os.listdir(log)) - before) == 1
        assert list(dbs._data_files("t")) == [f"2024-01-0{d}" for d in (1, 2, 3)]
        for d in (1, 2, 3):
            part = os.path.join(path, f"date=2024-01-0{d}")
            (name,) = os.listdir(part)
            assert name.startswith("part-") and name.endswith(".parquet")
            meta = pq.read_metadata(os.path.join(part, name))
            assert meta.num_rows == 3
            assert [
                (c.name, str(c.physical_type), c.logical_type.type)
                for c in meta.schema
            ] == [
                ("ts_ns", "INT64", "NONE"),
                ("seq", "INT64", "NONE"),
                ("doc", "BYTE_ARRAY", "STRING"),
            ]
            day = [k for k in keys if _ns_date(k) == f"2024-01-0{d}"]
            for g in range(meta.num_row_groups):
                cols = [meta.row_group(g).column(c) for c in range(3)]
                assert {c.compression for c in cols} == {"SNAPPY"}
                assert not any(
                    "DICTIONARY" in e for c in cols for e in c.encodings
                )
                stats = cols[0].statistics
                assert stats.has_min_max
                assert (stats.min, stats.max) == (min(day), max(day))
        assert json.loads(dbs.get("t", "2024-01-02T09:00:00Z")) == {"k": 209}
        got = {r.ts_ns: json.loads(r.doc)["k"] for r in dbs.df("t").collect()}
        assert got == {k: json.loads(doc)["k"] for k, (_, doc) in zip(keys, rows)}

    def test_batch_folds_a_repeated_key(self, dbs):
        """No data file holds a key twice: the batch's later row is the
        one stored, and the log still counts every row posted."""
        import pyarrow.parquet as pq

        dbs.create("t")
        rows = [
            ("2024-01-01T00:00:00Z", _doc(1)),
            ("2024-01-01T01:00:00Z", _doc(2)),
            ("2024-01-01T00:00:00Z", _doc(3)),
        ]
        keys = dbs.write_batch("t", rows)
        assert len(keys) == 3 and keys[0] == keys[2]
        part = os.path.join(dbs._path("t"), "date=2024-01-01")
        (name,) = os.listdir(part)
        stored = pq.read_table(os.path.join(part, name)).to_pylist()
        assert sorted((r["ts_ns"], r["doc"]) for r in stored) == [
            (keys[0], _doc(3)), (keys[1], _doc(2)),
        ]
        assert dbs.get("t", keys[0]) == _doc(3)
        assert dbs.change_log("t").collect()[-1].n_rows == 3

    def test_read_is_the_listed_files(self, dbs, monkeypatch):
        """A read decides whether to fold from its listing, so it must
        read exactly the listed files: a revision published right after
        the listing is neither read nor able to double its key."""
        dbs.create("t")
        dbs.write_batch("t", [
            ("2024-01-01T00:00:00Z", _doc(1)),
            ("2024-01-01T01:00:00Z", _doc(2)),
        ])
        real = dbs._data_files

        def listing_then_commit(*args, **kwargs):
            out = real(*args, **kwargs)
            monkeypatch.setattr(dbs, "_data_files", real)
            dbs.write_batch("t", [("2024-01-01T00:00:00Z", _doc(9))])
            return out

        monkeypatch.setattr(dbs, "_data_files", listing_then_commit)
        got = sorted((r.ts_ns, r.doc) for r in dbs.df("t").collect())
        assert [doc for _, doc in got] == [_doc(1), _doc(2)]

    def test_reads_replay_only_new_segments(self, dbs, spark, monkeypatch):
        """A handle replays the commit log once and keeps the snapshot:
        reads after another handle's commit read that commit's segment
        alone, and reads after no new commit, or after the handle's own,
        read no segment."""
        import pyarrow.parquet as pq

        from seriesly_spark.plans.cache import db_version

        dbs.create("t")
        other = SerieslyDB(spark, dbs.root)
        log = os.path.join(dbs._path("t"), ".changelog")
        real, read = pq.read_table, []

        def counting(source, *a, **kw):
            paths = source if isinstance(source, list) else [source]
            read.extend(os.path.basename(p) for p in map(str, paths) if log in p)
            return real(source, *a, **kw)

        monkeypatch.setattr(pq, "read_table", counting)

        def reads():
            read.clear()
            dbs.df("t").collect()
            dbs.get("t", "2024-01-01T00:00:00Z")
            dbs.info("t")
            db_version(dbs, "t")
            return list(read)

        def newest():
            return sorted(os.listdir(log))[-1]

        other.write_batch("t", [("2024-01-01T00:00:00Z", _doc(1))])
        assert reads() == [newest()]
        assert reads() == []
        other.write("t", _doc(2), ts="2024-01-02T00:00:00Z")
        assert reads() == [newest()]
        dbs.write("t", _doc(3), ts="2024-01-03T00:00:00Z")
        assert reads() == []
        assert dbs.info("t")["doc_count"] == 3

    def test_one_file_partitions_read_without_the_fold(self, dbs, spark_jobs):
        """A store written by one batch holds one file a partition: the
        read has no last-write-wins aggregate, and ``all_docs(limit)``
        is one Spark job."""
        dbs.create("t")
        dbs.write_batch("t", [
            (f"2024-01-0{d}T{h:02d}:00:00Z", _doc(d * 100 + h))
            for d in (1, 2, 3) for h in range(0, 24, 3)
        ])
        plan = dbs.df("t")._jdf.queryExecution().optimizedPlan().toString()
        assert "max_by" not in plan and "Aggregate" not in plan
        rows, jobs = spark_jobs(lambda: dbs.all_docs("t", limit=100).collect())
        assert jobs == 1
        assert [json.loads(r.doc)["k"] for r in rows] == [
            d * 100 + h for d in (1, 2, 3) for h in range(0, 24, 3)
        ]

    def test_all_docs_order_and_limit(self, dbs):
        dbs.create("t")
        dbs.write_batch(
            "t",
            [(f"2024-01-0{d}T00:00:00Z", _doc(d)) for d in (3, 1, 2)],
        )
        rows = dbs.all_docs("t").collect()
        assert [json.loads(r.doc)["k"] for r in rows] == [1, 2, 3]
        assert rows[0].key == "2024-01-01T00:00:00Z"
        assert dbs.all_docs("t", limit=2).count() == 2
        rng = dbs.all_docs("t", from_ts="2024-01-02", to_ts="2024-01-03").collect()
        assert [json.loads(r.doc)["k"] for r in rng] == [2, 3]

    def test_dump_lines(self, dbs):
        dbs.create("t")
        dbs.write("t", '{"a": 1}', ts="2024-01-01T00:00:00Z")
        assert dbs.dump_lines("t") == ['{"2024-01-01T00:00:00Z": {"a": 1}}']

    def test_empty_db_reads(self, dbs):
        dbs.create("t")
        assert dbs.df("t").count() == 0
        assert dbs.all_docs("t").count() == 0
        # A range outside every partition reads as empty too.
        dbs.write("t", _doc(1), ts="2024-01-02T00:00:00Z")
        assert dbs.df("t", "2030-01-01", "2030-01-02").count() == 0
        assert dbs.all_docs("t", to_ts="2023-12-31").count() == 0
        q = SerieslyQuery(
            group_ms=3_600_000, fields=[("/k", "sum")],
            from_ts="2030-01-01", to_ts="2030-01-02",
        )
        assert dbs.query("t", q).collect() == []

    def test_unreadable_file_raises(self, dbs):
        """One corrupt parquet file must fail the reads that cover it,
        not make the store read as empty."""
        self._two_days(dbs)
        part = os.path.join(dbs.root, "t", "date=2024-01-01")
        (victim,) = [f for f in os.listdir(part) if f.endswith(".parquet")]
        with open(os.path.join(part, victim), "wb") as fh:
            fh.write(b"not a parquet file")
        q = SerieslyQuery(group_ms=86_400_000, fields=[("/k", "count")])
        with pytest.raises(Exception):
            dbs.query("t", q).collect()
        with pytest.raises(Exception):
            dbs.info("t")
        with pytest.raises(Exception):
            dbs.get("t", "2024-01-01T06:00:00Z")
        # get reads only its key's day, which is intact.
        assert json.loads(dbs.get("t", "2024-01-02T06:00:00Z")) == {"k": 2}

    def test_get_reads_one_partition_with_no_spark_job(self, dbs, spark_jobs):
        self._two_days(dbs)
        doc, jobs = spark_jobs(lambda: dbs.get("t", "2024-01-02T06:00:00Z"))
        assert json.loads(doc) == {"k": 2}
        assert jobs == 0
        assert spark_jobs(lambda: dbs.get("t", "2024-01-03T06:00:00Z")) == (None, 0)

    def test_key_just_before_midnight(self, dbs):
        """Partition choice is exact integer math: 1 ns before midnight
        belongs to the earlier day (a float division rounds it over)."""
        dbs.create("t")
        k = dbs.write("t", _doc(1), ts=1_704_153_599_999_999_999)
        assert dbs.get("t", k) == _doc(1)
        assert dbs.df("t", k, k).count() == 1
        dbs.delete_range("t", k, k)
        assert dbs.get("t", k) is None

    def test_query_build_is_a_few_jvm_calls(self, dbs, spark_jobs):
        """Building a plan costs driver time per py4j round trip: the
        compiled query must stay a small, fixed number of them."""
        self._two_days(dbs)
        q = SerieslyQuery(
            group_ms=3_600_000,
            fields=[("/k", "avg"), ("/k", "max"), ("/x", "count")],
            filters=[("/host", "a")],
            from_ts="2024-01-01", to_ts="2024-01-02T23:00:00Z",
        )
        dbs.query("t", q)  # first build warms per-session caches
        client = dbs.spark.sparkContext._gateway._gateway_client
        real = client.send_command
        calls = []

        def counting(command, *args, **kwargs):
            # Proxy garbage collection sends memory-delete commands
            # whenever Python's collector runs; they are not plan work.
            if not command.startswith("m\nd\n"):
                calls.append(command)
            return real(command, *args, **kwargs)

        def build():
            client.send_command = counting
            try:
                return dbs.query("t", q)
            finally:
                del client.send_command

        _, jobs = spark_jobs(build)
        assert jobs == 0
        assert len(calls) < 200

    def test_filter_values_and_pointers_are_quoted(self, dbs):
        dbs.create("t")
        hosts = ["it's", "back\\slash", "${spark.app.name}", "\u00e9t\u00e9", "a"]
        dbs.write_batch("t", [
            (f"2024-01-01T0{i}:00:00Z", json.dumps({"h": h, "x.y": i + 1}))
            for i, h in enumerate(hosts)
        ])
        for i, h in enumerate(hosts):
            q = SerieslyQuery(
                group_ms=86_400_000, fields=[("/x.y", "sum")],
                filters=[("/h", h)], aliases=["s"],
            )
            assert dbs.query("t", q).collect()[0].s == float(i + 1), h

    @staticmethod
    def _two_days(dbs):
        dbs.create("t")
        dbs.write("t", _doc(1), ts="2024-01-01T06:00:00Z")
        dbs.write("t", _doc(2), ts="2024-01-02T06:00:00Z")

    def test_dump_files_matches_dump_lines(self, dbs, tmp_path):
        dbs.create("t")
        dbs.write_batch(
            "t",
            [
                (f"2024-01-{d:02d}T{h:02d}:00:00Z", _doc(d * 100 + h))
                for d in (1, 2, 3)
                for h in (0, 6, 12)
            ],
        )
        dbs.write("t", _doc(999), ts="2024-01-02T06:00:00Z")  # overwrite
        out = str(tmp_path / "dump_out")
        n = dbs.dump_files(
            "t", out, from_ts="2024-01-01", to_ts="2024-01-02T12:00:00Z"
        )
        expected = dbs.dump_lines(
            "t", from_ts="2024-01-01", to_ts="2024-01-02T12:00:00Z"
        )
        assert n == len(expected)
        # part files are range-partitioned by the sort: reading them back
        # in part order reproduces the streamed dump exactly
        import glob

        lines = []
        for part in sorted(glob.glob(f"{out}/part-*")):
            with open(part) as fh:
                lines.extend(fh.read().splitlines())
        assert lines == expected
        assert '{"2024-01-02T06:00:00Z": {"k": 999}}' in lines  # LWW survivor


class TestMaintenance:
    def _seed_days(self, dbs, days):
        dbs.create("t")
        dbs.write_batch(
            "t",
            [
                (f"2024-01-{d:02d}T{h:02d}:00:00Z", _doc(d * 100 + h))
                for d in days
                for h in (0, 12)
            ],
        )

    def test_delete_range_drops_and_trims(self, dbs):
        self._seed_days(dbs, [1, 2, 3, 4])
        # range covers all of day 2-3 plus the first write of day 4
        dbs.delete_range("t", "2024-01-02", "2024-01-04T00:00:00Z")
        left = sorted(
            json.loads(r.doc)["k"] for r in dbs.df("t").select("doc").collect()
        )
        assert left == [100, 112, 412]
        # fully-covered partitions are gone as directories
        assert dbs.info("t")["n_partitions"] == 2

    def test_delete_edge_rewrite_folds_revisions(self, dbs):
        """The edge rewrite leaves one file holding each key once, so a
        revised key that survives the delete reads once, newest doc."""
        dbs.create("t")
        dbs.write_batch("t", [
            ("2024-01-01T00:00:00Z", _doc(1)),
            ("2024-01-01T06:00:00Z", _doc(2)),
        ])
        dbs.write("t", _doc(10), ts="2024-01-01T00:00:00Z")
        assert dbs.info("t")["n_files"] == 2
        dbs.delete_range("t", "2024-01-01T06:00:00Z", "2024-01-01T06:00:00Z")
        assert dbs.info("t")["n_files"] == 1
        assert [r.doc for r in dbs.df("t").collect()] == [_doc(10)]

    def test_second_compact_is_a_no_op(self, dbs, spark_jobs, tmp_path):
        """A partition already one file is left alone: a second compact
        with no commit in between launches no Spark job and moves no
        partition version, so cache entries keep answering. It still
        folds the commit log and records itself there."""
        from seriesly_spark.plans.cache import QueryCache, db_version

        self._seed_days(dbs, [1, 2])
        dbs.write("t", _doc(7), ts="2024-01-01T00:00:00Z")
        dbs.compact("t")
        version = db_version(dbs, "t")
        qc = QueryCache(dbs, str(tmp_path / "cache"))
        q = SerieslyQuery(group_ms=86_400_000, fields=[("/k", "sum")], aliases=["s"])
        want = qc.query("t", q)
        assert spark_jobs(lambda: dbs.compact("t")) == (None, 0)
        assert db_version(dbs, "t") == version
        assert qc.query("t", q).equals(want)
        assert (qc.misses, qc.hits) == (1, 1)
        log = dbs.change_log("t").collect()
        assert [r.op for r in log][-2:] == ["compact", "compact"]
        assert len(os.listdir(os.path.join(dbs._path("t"), ".changelog"))) == 2

    def test_rewrite_runs_no_spark_job(self, dbs, spark_jobs):
        """The one partition rewrite is a fold on the driver: ``compact``
        of 3 multi-file partitions launches no Spark job, and neither
        does ``delete_range`` with one multi-file edge, whose one commit
        switches the edge's files at once."""
        self._seed_days(dbs, [1, 2, 3])
        dbs.write_batch(
            "t", [(f"2024-01-0{d}T06:00:00Z", _doc(d)) for d in (1, 2, 3)]
        )
        assert spark_jobs(lambda: dbs.compact("t")) == (None, 0)
        assert [len(f) for f in dbs._data_files("t").values()] == [1, 1, 1]
        dbs.write("t", _doc(9), ts="2024-01-02T18:00:00Z")
        edge = "2024-01-02T12:00:00Z"
        assert spark_jobs(lambda: dbs.delete_range("t", edge, edge)) == (None, 0)
        assert [len(f) for f in dbs._data_files("t").values()] == [1, 1, 1]
        assert dbs.df("t").count() == 9

    def test_compact_merges_and_reclaims(self, dbs):
        dbs.create("t")
        for i in range(5):
            dbs.write("t", _doc(i), ts="2024-01-01T00:00:00Z")  # 5 versions
        info0 = dbs.info("t")
        assert info0["n_files"] == 5 and info0["doc_count"] == 1
        dbs.compact("t")
        info1 = dbs.info("t")
        assert info1["n_files"] == 1 and info1["doc_count"] == 1
        assert json.loads(dbs.get("t", "2024-01-01T00:00:00Z")) == {"k": 4}

    def test_date_dir_without_data_file_is_not_a_partition(self, dbs):
        """A commit that crashes between creating its ``date=`` directory
        and publishing its file leaves a directory holding only a hidden
        staging file. No read or listing may count it, and the next
        compact sweeps it."""
        from seriesly_spark.plans.cache import db_version

        self._seed_days(dbs, [1])
        stray = os.path.join(dbs._path("t"), "date=2024-01-05")
        os.makedirs(stray)
        with open(os.path.join(stray, ".part-x.parquet.tmp"), "wb") as fh:
            fh.write(b"half a parquet file")
        assert dbs.df("t").count() == 2
        assert dbs.df("t", "2024-01-05", "2024-01-06").count() == 0
        assert dbs.get("t", "2024-01-05T00:00:00Z") is None
        q = SerieslyQuery(group_ms=86_400_000, fields=[("/k", "count")])
        assert [r[1] for r in dbs.query("t", q).collect()] == [2]
        info = dbs.info("t")
        assert (info["n_partitions"], info["n_files"]) == (1, 1)
        assert list(db_version(dbs, "t")) == ["2024-01-01"]
        stream = (
            dbs.changes("t")
            .writeStream.format("memory")
            .queryName("t_changes_stray")
            .outputMode("append")
            .start()
        )
        try:
            stream.processAllAvailable()
            assert dbs.spark.table("t_changes_stray").count() == 2
        finally:
            stream.stop()
        dbs.compact("t")
        assert not os.path.exists(stray)
        assert dbs.df("t").count() == 2

    def test_info_counts(self, dbs):
        self._seed_days(dbs, [1, 2])
        info = dbs.info("t")
        assert info["doc_count"] == 4
        assert info["n_partitions"] == 2
        assert info["space_used"] > 0


def _at(h):
    return f"2024-01-01T{h:02d}:00:00Z"


class TestDataFileInvariant:
    """Every data file holds each key once, in the row of its newest
    ``seq``, in strictly increasing ``ts_ns``: the file of a commit and
    the file of a rewrite alike. A rewritten day's rows are the Spark
    last-write-wins view (``df``) of the day taken before the rewrite."""

    def _files(self, dbs):
        """The rows ``(ts_ns, seq, doc)`` of each data file of the day,
        in file order."""
        part = os.path.join(dbs._path("t"), "date=2024-01-01")
        return [
            [
                (r["ts_ns"], r["seq"], r["doc"])
                for r in pq.read_table(
                    os.path.join(part, f), columns=["ts_ns", "seq", "doc"]
                ).to_pylist()
            ]
            for f, _ in dbs._data_files("t")["2024-01-01"]
        ]

    def _live(self, dbs):
        return sorted(tuple(r) for r in dbs.df("t").collect())

    def _assert_invariant(self, rows, newest):
        keys = [ts for ts, _, _ in rows]
        assert keys == sorted(set(keys))  # strictly increasing: each key once
        assert {ts: seq for ts, seq, _ in rows} == {k: newest[k] for k in keys}

    def _max_seq(self, files):
        newest = {}
        for rows in files:
            for ts, seq, _ in rows:
                newest[ts] = max(seq, newest.get(ts, seq))
        return newest

    def test_commit_file(self, dbs):
        """A batch with repeated and out-of-order keys: the later row of a
        key wins."""
        dbs.create("t")
        keys = dbs.write_batch("t", [
            (_at(3), _doc(1)), (_at(1), _doc(2)), (_at(3), _doc(3)),
            (_at(2), _doc(4)), (_at(1), _doc(5)),
        ])
        (rows,) = self._files(dbs)
        last = dbs.change_log("t").collect()[-1].seq
        # Row i of the batch takes seq last - 4 + i.
        seq = {k: last - 4 + i for i, k in enumerate(keys)}
        self._assert_invariant(rows, seq)
        assert [doc for _, _, doc in rows] == [_doc(5), _doc(4), _doc(3)]
        assert rows == self._live(dbs)

    def test_compacted_file(self, dbs):
        """A day of 3 files, with revisions of keys across them."""
        dbs.create("t")
        dbs.write_batch("t", [(_at(h), _doc(10 + h)) for h in (4, 1, 2, 3)])
        dbs.write_batch("t", [(_at(h), _doc(20 + h)) for h in (3, 1, 5)])
        dbs.write_batch("t", [(_at(h), _doc(30 + h)) for h in (2, 3)])
        files = self._files(dbs)
        assert len(files) == 3
        for rows in files:
            self._assert_invariant(rows, self._max_seq([rows]))
        before = self._live(dbs)
        dbs.compact("t")
        (rows,) = self._files(dbs)
        self._assert_invariant(rows, self._max_seq(files))
        assert rows == before
        assert [doc for _, _, doc in rows] == [
            _doc(21), _doc(32), _doc(33), _doc(14), _doc(25)
        ]

    def test_delete_edge_file(self, dbs):
        """A two-file edge day, with revisions, rewritten without the
        deleted range."""
        dbs.create("t")
        dbs.write_batch("t", [(_at(h), _doc(10 + h)) for h in (5, 1, 2, 3, 4)])
        dbs.write_batch("t", [(_at(h), _doc(20 + h)) for h in (4, 2, 1)])
        files = self._files(dbs)
        lo, hi = _at(2), "2024-01-01T03:30:00Z"
        gone = {r.ts_ns for r in dbs.df("t", lo, hi).collect()}
        before = [r for r in self._live(dbs) if r[0] not in gone]
        dbs.delete_range("t", lo, hi)
        (rows,) = self._files(dbs)
        self._assert_invariant(rows, self._max_seq(files))
        assert len(gone) == 2 and rows == before
        assert [doc for _, _, doc in rows] == [_doc(21), _doc(24), _doc(15)]


class TestChangesFeed:
    def test_stream_sees_appends(self, dbs):
        dbs.create("t")
        dbs.write("t", _doc(1), ts="2024-01-01T00:00:00Z")
        q = (
            dbs.changes("t")
            .writeStream.format("memory")
            .queryName("t_changes")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            n0 = dbs.spark.table("t_changes").count()
            dbs.write("t", _doc(2), ts="2024-01-01T01:00:00Z")
            q.processAllAvailable()
            n1 = dbs.spark.table("t_changes").count()
        finally:
            q.stop()
        assert (n0, n1) == (1, 2)

    def test_changes_feed_is_append_only(self, dbs):
        """Pin the documented contract (db.changes): the feed surfaces
        appends only. A delete that drops a whole partition produces NO
        change rows (observable only on a fresh batch read); a delete
        that rewrites an edge partition re-emits the rewritten file as
        a whole (consumers re-apply the LWW collapse)."""
        dbs.create("t")
        dbs.write("t", _doc(1), ts="2024-01-01T00:00:00Z")
        dbs.write("t", _doc(3), ts="2024-01-03T00:00:00Z")
        dbs.write("t", _doc(5), ts="2024-01-05T00:00:00Z")
        q = (
            dbs.changes("t")
            .writeStream.format("memory")
            .queryName("t_changes_ao")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            n0 = dbs.spark.table("t_changes_ao").count()
            # Bounds on partition-free dates: 01-03 is dropped whole,
            # nothing is rewritten — the feed must stay silent.
            dbs.delete_range(
                "t", "2024-01-02T00:00:00Z", "2024-01-04T00:00:00Z"
            )
            q.processAllAvailable()
            n1 = dbs.spark.table("t_changes_ao").count()
            # Bound inside the 01-05 partition: edge rewrite — the
            # surviving file is seen AGAIN (here: its one kept row).
            dbs.delete_range(
                "t", "2024-01-05T12:00:00Z", "2024-01-06T00:00:00Z"
            )
            q.processAllAvailable()
            n2 = dbs.spark.table("t_changes_ao").count()
        finally:
            q.stop()
        assert (n0, n1) == (3, 3)  # partition drop emitted nothing
        assert n2 == 4  # edge rewrite re-emitted the surviving row
        assert dbs.df("t").count() == 2  # batch view shows the delete


class TestQueryPath:
    def test_query_over_written_db(self, dbs):
        dbs.create("t")
        dbs.write_batch(
            "t",
            [
                ("2024-01-01T00:00:10Z", '{"v": "1"}'),
                ("2024-01-01T00:00:20Z", '{"v": 2}'),
                ("2024-01-02T00:00:10Z", '{"v": 30, "x": 1}'),
            ],
        )
        q = SerieslyQuery(
            group_ms=86_400_000,
            fields=[("/v", "count"), ("/v", "sum"), ("/v", "max")],
            aliases=["cnt", "sum_v", "max_v"],
        )
        rows = dbs.query("t", q).collect()
        assert [(r.cnt, r.sum_v, r.max_v) for r in rows] == [
            (2, 3.0, 2.0),
            (1, 30.0, 30.0),
        ]

    def test_query_respects_lww(self, dbs):
        dbs.create("t")
        dbs.write("t", '{"v": 100}', ts="2024-01-01T00:00:00Z")
        dbs.write("t", '{"v": 1}', ts="2024-01-01T00:00:00Z")
        q = SerieslyQuery(group_ms=86_400_000, fields=[("/v", "sum")], aliases=["s"])
        assert dbs.query("t", q).collect()[0].s == 1.0

    def test_rate_runs_in_the_bucket_aggregate(self, dbs, spark_jobs):
        """A rate field costs at most one Spark job more than a plain one
        (its boundary window) and runs no Python and no cached subplan."""
        dbs.create("t")
        dbs.write_batch("t", [
            (f"2024-01-0{d}T{h:02d}:00:00Z", json.dumps({"v": d * 100 + h}))
            for d in (1, 2) for h in range(24)
        ])

        def run(red):
            q = SerieslyQuery(group_ms=3_600_000, fields=[("/v", red)], aliases=["x"])
            df = dbs.query("t", q)
            return df, df.collect()

        jobs = {}
        for red in ("sum", "c"):
            (df, rows), jobs[red] = spark_jobs(lambda: run(red))
            assert len(rows) == 48
        assert jobs["c"] <= jobs["sum"] + 1
        plan = df._jdf.queryExecution().executedPlan().toString()
        for op in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                   "InMemoryTableScan"):
            assert op not in plan, op
        assert rows[0].x == pytest.approx(1 / 3600)


class TestCompactTargetSize:
    def test_default_stays_single_file(self, spark, tmp_path):
        from seriesly_spark.db import SerieslyDB

        dbs = SerieslyDB(spark, str(tmp_path))
        dbs.create("t")
        day = 86_400_000_000_000
        dbs.write_batch("t", [(day + i * 1_000_000_000, "{}") for i in range(20)])
        dbs.write_batch("t", [(day + (20 + i) * 1_000_000_000, "{}") for i in range(20)])
        dbs.compact("t")
        assert dbs.info("t")["n_files"] == 1


class TestChangeLog:
    # Raw-ns keys (ints above 2_147_483_647_000 pass through ParseTime
    # untouched — smaller ints mean seconds/ms/bare-year per reference
    # timelib semantics).
    NS = 1_700_000_000_000_000_000

    def k(self, i):
        return self.NS + i * 1_000_000_000

    def test_log_records_all_mutations_in_order(self, dbs):
        dbs.create("cl")
        dbs.write_batch("cl", [(self.k(i), _doc(i)) for i in range(4)])
        dbs.write_batch("cl", [(self.k(9), _doc(9))])
        dbs.delete_range("cl", self.k(1), self.k(2))
        dbs.compact("cl")
        rows = dbs.change_log("cl").collect()
        assert [(r.op, r.n_rows) for r in rows] == [
            ("write", 4), ("write", 1), ("delete", 2), ("compact", 3),
        ]
        assert [r.seq for r in rows] == sorted(r.seq for r in rows)
        # write ops carry their key range
        assert (rows[0].ts_lo_ns, rows[0].ts_hi_ns) == (self.k(0), self.k(3))
        assert (rows[2].ts_lo_ns, rows[2].ts_hi_ns) == (self.k(1), self.k(2))

    def test_delete_counts_raw_rows_including_revisions(self, dbs):
        dbs.create("cl")
        dbs.write_batch("cl", [(self.k(5), _doc(1))])
        dbs.write_batch("cl", [(self.k(5), _doc(2))])  # second revision
        dbs.delete_range("cl", self.k(5), self.k(5))
        ops = [(r.op, r.n_rows) for r in dbs.change_log("cl").collect()]
        assert ops[-1] == ("delete", 2)  # both physical revisions removed

    def test_delete_counts_revisions_folded_at_the_edge(self, dbs):
        """The edge rewrite folds the surviving key's old revision, so
        the delete's footer diff counts it with the in-range row."""
        import pyarrow.parquet as pq

        dbs.create("cl")
        dbs.write_batch("cl", [(self.k(1), _doc(1)), (self.k(2), _doc(2))])
        dbs.write_batch("cl", [(self.k(1), _doc(3))])
        dbs.delete_range("cl", self.k(2), self.k(2))
        assert dbs.change_log("cl").collect()[-1].n_rows == 2
        ((d, [(name, _)]),) = dbs._data_files("cl").items()
        path = os.path.join(dbs._path("cl"), f"date={d}", name)
        assert pq.read_table(path).column("ts_ns").to_pylist() == [self.k(1)]

    def test_stream_surfaces_deletes_and_compaction(self, dbs, spark):
        import uuid as _uuid

        dbs.create("cl")
        qname = f"cl_stream_{_uuid.uuid4().hex[:8]}"
        stream = (
            dbs.changes_log_stream("cl")
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .start()
        )
        try:
            dbs.write_batch("cl", [(self.k(i), _doc(i)) for i in range(3)])
            stream.processAllAvailable()
            n1 = spark.sql(f"SELECT count(*) n FROM {qname}").first().n
            dbs.delete_range("cl", self.k(0), self.k(0))
            # Caught up before compact folds the log it tails (a stream
            # lagging at the fold reads the folded rows again).
            stream.processAllAvailable()
            dbs.compact("cl")
            stream.processAllAvailable()
            got = spark.sql(
                f"SELECT op, n_rows FROM {qname} ORDER BY seq"
            ).collect()
        finally:
            stream.stop()
        assert n1 == 1
        assert [(r.op, r.n_rows) for r in got] == [
            ("write", 3), ("delete", 1), ("compact", 2),
        ]

    def test_same_ns_mutations_get_distinct_monotone_seqs(self, dbs, monkeypatch):
        """Two mutations landing in the SAME nanosecond (or a clock
        step-back) must still produce strictly increasing seqs — the
        log's file names are its commit order."""
        import seriesly_spark.db as dbmod

        dbs.create("cl")
        frozen = self.NS  # freeze the clock: every call same ns
        monkeypatch.setattr(dbmod.time, "time_ns", lambda: frozen)
        dbs.write_batch("cl", [(self.k(1), _doc(1))])
        dbs.write_batch("cl", [(self.k(2), _doc(2))])
        # clock steps BACKWARDS past both commits
        monkeypatch.setattr(dbmod.time, "time_ns", lambda: frozen - 10**9)
        dbs.delete_range("cl", self.k(1), self.k(1))
        rows = dbs.change_log("cl").collect()
        seqs = [r.seq for r in rows]
        assert len(seqs) == 3
        assert len(set(seqs)) == 3
        assert seqs == sorted(seqs)
        assert [r.op for r in rows] == ["write", "write", "delete"]

    def test_log_invisible_to_data_paths(self, dbs):
        dbs.create("cl")
        dbs.write_batch("cl", [(self.k(i), _doc(i)) for i in range(3)])
        dbs.compact("cl")
        info = dbs.info("cl")
        # one data partition, one data file — log segments excluded
        assert info["n_partitions"] == 1 and info["n_files"] == 1
        assert info["doc_count"] == 3
        assert dbs.df("cl").count() == 3
