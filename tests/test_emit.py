"""The wire renderer (``plans/emit.py``): one Arrow renderer for a table
answer and for a plan, byte-identical to rendering the plan's collected
rows, and a plan taken with a bounded ``toArrow()``."""

import json

import pyarrow as pa
import pytest

from seriesly_spark.db import SerieslyDB
from seriesly_spark.plans import cache as cache_mod
from seriesly_spark.plans.emit import _entry, iter_seriesly_rows, to_seriesly_json
from seriesly_spark.plans.query import SerieslyQuery

HOUR = 3_600_000


def _collected(df, aliases):
    """The wire text as rendered from the plan's collected rows."""
    return json.dumps(dict(_entry(r, aliases) for r in df.collect()))


@pytest.fixture(scope="module")
def dbs(spark, tmp_path_factory):
    """Three days, one file each (one ``write_batch``), with values that
    overflow a double sum, strings, missing and null pointers."""
    d = SerieslyDB(spark, str(tmp_path_factory.mktemp("emit") / "db"))
    d.create("t")
    docs = []
    for day in (1, 2, 3):
        for h in range(0, 24, 3):
            doc = {"v": 0.1 * h + day, "h": f"h{h % 2}"}
            if h == 3:
                doc = {"v": 1e308, "h": None}
            elif h == 6:
                doc = {"v": -1e308}
            elif h == 9:
                doc = {"v": "12", "h": "x", "o": {"b": 1, "a": 2}}
            docs.append((f"2024-01-0{day}T{h:02d}:00:00Z", json.dumps(doc)))
            docs.append((f"2024-01-0{day}T{h:02d}:30:00Z", json.dumps({"v": 1e308})))
    d.write_batch("t", docs)
    return d


PANELS = {
    # Rate sums may differ in the last bits between two runs of a plan;
    # max and min do not, and the exact sums below cover "c".
    "nan_inf": dict(fields=[("/v", "sum"), ("/v", "sumsq"), ("/v", "avg"), ("/v", "c_max"),
                            ("/v", "c_min")]),
    "lists_with_nulls": dict(fields=[("/h", "identity"), ("/h", "distinct"),
                                     ("/o", "obj_keys"), ("/h", "any")]),
    # A decimal sum overflows at 1e20: the filter masks the huge values.
    "exact_sums": dict(fields=[("/v", "sum"), ("/v", "avg"), ("/v", "c")],
                       filters=[("/h", "h0")], exact_sums=True),
    "empty_range": dict(fields=[("/v", "sum"), ("/h", "distinct")],
                        from_ts="2030-01-01", to_ts="2030-01-02"),
}


def _panel(name):
    spec = dict(PANELS[name])
    exact = spec.pop("exact_sums", False)
    q = SerieslyQuery(group_ms=HOUR, aliases=[f"f{i}" for i in range(len(spec["fields"]))],
                      **spec)
    return q, exact


@pytest.mark.parametrize("panel", sorted(PANELS))
def test_plan_text_equals_collected_rows(dbs, panel):
    q, exact = _panel(panel)
    df = dbs.query("t", q, exact_sums=exact)
    text = to_seriesly_json(df, q.aliases)
    assert text == _collected(df, q.aliases)
    assert (text == "{}") == (panel == "empty_range")


def test_nan_and_inf_render_as_null_in_scalars_and_lists(spark):
    nan, inf = float("nan"), float("inf")
    df = spark.createDataFrame(
        [(0, nan, [1.0, nan, None]), (1, inf, [-inf, 2.0]), (2, -inf, None)],
        "bucket_ms long, a double, b array<double>",
    ).orderBy("bucket_ms")
    text = to_seriesly_json(df, ["a", "b"])
    assert text == _collected(df, ["a", "b"])
    assert json.loads(text) == {"0": [None, [1.0, None, None]], "1": [None, [None, 2.0]],
                                "2": [None, None]}


def test_answer_over_the_cap_renders_every_row(dbs, monkeypatch):
    monkeypatch.setattr(cache_mod, "MAX_CACHED_ROWS", 2)
    q = SerieslyQuery(group_ms=HOUR, fields=[("/v", "count")], aliases=["n"])
    df = dbs.query("t", q)
    text = to_seriesly_json(df, q.aliases)
    assert text == _collected(df, q.aliases)
    assert len(json.loads(text)) == 24


def test_plan_is_taken_in_one_job(dbs, spark_jobs):
    """A bounded ``toArrow()`` of the sorted plan is a
    TakeOrderedAndProject, and a store this small is read in one task
    (``SerieslyDB._live``), so the aggregate and the take run in one
    job. Over the scan's own partitions they took 2; a ``collect()`` of
    the global sort took 4: it samples the range partitioning first."""
    q = SerieslyQuery(group_ms=HOUR, fields=[("/v", "sum"), ("/v", "max")], aliases=["s", "m"])
    _, jobs = spark_jobs(lambda: to_seriesly_json(dbs.query("t", q), q.aliases))
    assert jobs == 1


def test_iter_rows_of_a_table_runs_no_job(dbs, spark_jobs):
    q, _ = _panel("lists_with_nulls")
    df = dbs.query("t", q)
    table = df.toArrow()
    # Several record batches, as a table read back in pieces has.
    table = pa.concat_tables([table.slice(0, 5), table.slice(5, 7), table.slice(12)])
    assert table.column("bucket_ms").num_chunks == 3
    rows, jobs = spark_jobs(lambda: list(iter_seriesly_rows(table, q.aliases)))
    assert jobs == 0
    assert rows == [_entry(r, q.aliases) for r in df.collect()]


def test_iter_rows_of_a_plan_streams_its_rows(dbs):
    q, _ = _panel("nan_inf")
    df = dbs.query("t", q)
    assert list(iter_seriesly_rows(df, q.aliases)) == [_entry(r, q.aliases) for r in df.collect()]
