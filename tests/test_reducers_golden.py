"""The reference's own reducer golden table, end-to-end through the query
compiler (reference query_test.go:19-128,135-156 and the edge matrices at
query_test.go:158-240; restated in FIXTURES.md F2).

11 values at 1 s spacing in one bucket plus a boundary value in the next
bucket: the boundary participates ONLY in rate reducers (as the right edge
of the last pair), exactly the reference's lookahead semantics.
"""

import json
import math

import pytest

from seriesly_spark.plans.emit import iter_seriesly_rows
from seriesly_spark.plans.query import SerieslyQuery, seriesly_query

# Bucket-aligned layout: G=11000 ms, t0 = 122477787 * 11000 ms so the 11
# golden values (1 s apart) fill bucket 1 and the boundary "29" lands at
# +11 s = the first instant of bucket 2.
GROUP_MS = 11_000
T0_MS = 122_477_787 * 11_000

GOLDEN_VALUES = [
    '"31"', '"63"', '"foo"', '"17"', '"foo"', '"foo"', '"foo"', '"foo"',
    '{"key":"value1"}', '{"key":"value2"}', '{"key":"value3"}',
]
BOUNDARY = '"29"'

ALL_REDUCERS = [
    "any", "count", "sum", "sumsq", "max", "min", "avg",
    "c", "c_min", "c_avg", "c_max",
    "identity", "distinct", "obj_keys", "obj_distinct_keys",
]

EXPECTED_BUCKET1 = {
    "any": "31",
    "count": 11,
    "sum": 111.0,
    "sumsq": 5219.0,
    "max": 63.0,
    "min": 17.0,
    "avg": 37.0,
    "c": 10.5,
    "c_min": -23.0,
    "c_avg": 3.5,
    "c_max": 32.0,
    "obj_keys": ["key", "key", "key"],
    "obj_distinct_keys": ["key"],
}


def _mkdf(spark, values, t0_ms=T0_MS, spacing_ms=1000):
    from datetime import datetime, timezone

    rows = []
    for i, v in enumerate(values):
        ms = t0_ms + i * spacing_ms
        ts = datetime.fromtimestamp(ms / 1000.0, tz=timezone.utc).replace(tzinfo=None)
        rows.append((ts, '{"v": %s}' % v if v is not None else "{}"))
    return spark.createDataFrame(rows, "ts timestamp, doc string")


@pytest.fixture(scope="module")
def golden_result(spark):
    df = _mkdf(spark, GOLDEN_VALUES + [BOUNDARY])
    q = SerieslyQuery(
        group_ms=GROUP_MS,
        fields=[("/v", r) for r in ALL_REDUCERS],
        aliases=ALL_REDUCERS,
    )
    out = seriesly_query(df, q).collect()
    return {row["bucket_ms"]: row.asDict() for row in out}


class TestGoldenBucket:
    def test_bucket_keys(self, golden_result):
        assert sorted(golden_result) == [T0_MS, T0_MS + GROUP_MS]

    @pytest.mark.parametrize("reducer", sorted(EXPECTED_BUCKET1))
    def test_scalar_reducers(self, golden_result, reducer):
        got = golden_result[T0_MS][reducer]
        exp = EXPECTED_BUCKET1[reducer]
        if isinstance(exp, float):
            assert got == pytest.approx(exp)
        else:
            assert got == exp

    def test_identity_in_ts_order(self, golden_result):
        got = golden_result[T0_MS]["identity"]
        assert got == [
            "31", "63", "foo", "17", "foo", "foo", "foo", "foo",
            '{"key":"value1"}', '{"key":"value2"}', '{"key":"value3"}',
        ]

    def test_distinct_set(self, golden_result):
        # unordered in the reference; deterministic sorted here
        assert set(golden_result[T0_MS]["distinct"]) == {"foo", "17", "31", "63"}
        assert None not in golden_result[T0_MS]["distinct"]

    def test_boundary_bucket(self, golden_result):
        b2 = golden_result[T0_MS + GROUP_MS]
        assert b2["count"] == 1
        assert b2["sum"] == pytest.approx(29.0)
        assert b2["c"] == 0.0  # single sample, no pair
        assert b2["c_min"] is None


class TestEmptyAndNil:
    """reference query_test.go:158-240: empty stream and [nil] stream."""

    def _run(self, spark, values):
        df = _mkdf(spark, values)
        q = SerieslyQuery(
            group_ms=GROUP_MS,
            fields=[("/v", r) for r in ALL_REDUCERS],
            aliases=ALL_REDUCERS,
        )
        rows = seriesly_query(df, q).collect()
        assert len(rows) == 1
        return rows[0].asDict()

    def test_nil_stream(self, spark):
        got = self._run(spark, ["null"])
        assert got["any"] is None
        assert got["count"] == 0
        assert got["sum"] == 0.0
        assert got["sumsq"] == 0.0
        for r in ("max", "min", "avg", "c_min", "c_avg", "c_max"):
            assert got[r] is None, r
        assert got["c"] == 0.0
        assert got["identity"] == [None]  # [nil] -> [nil]
        assert got["distinct"] == [None]
        assert got["obj_keys"] == []
        assert got["obj_distinct_keys"] == []

    def test_missing_field_stream(self, spark):
        # doc exists but pointer missing -> same as nil value
        got = self._run(spark, [None])  # renders "{}"
        assert got["count"] == 0
        assert got["identity"] == [None]


class TestRateUnits:
    """reference query_test.go:52-96."""

    def test_single_sample_no_pair(self, spark):
        df = _mkdf(spark, ['"20"'])
        q = SerieslyQuery(group_ms=GROUP_MS, fields=[("/v", "c")], aliases=["c"])
        rows = seriesly_query(df, q).collect()
        assert rows[0]["c"] == 0.0

    def test_pair_rate(self, spark):
        # 20 -> 25 over 5 s => 1.0/s
        df = _mkdf(spark, ['"20"', '"25"'], spacing_ms=5000)
        q = SerieslyQuery(
            group_ms=GROUP_MS,
            fields=[("/v", "c"), ("/v", "c_avg")],
            aliases=["c", "c_avg"],
        )
        rows = seriesly_query(df, q).collect()
        assert rows[0]["c"] == pytest.approx(1.0)
        assert rows[0]["c_avg"] == pytest.approx(1.0)

    def test_unparseable_samples_skipped(self, spark):
        # 20, foo, 25: the pair is (20,25) over 10 s => 0.5/s
        df = _mkdf(spark, ['"20"', '"foo"', '"25"'], spacing_ms=5000)
        q = SerieslyQuery(group_ms=60_000, fields=[("/v", "c")], aliases=["c"])
        rows = seriesly_query(df, q).collect()
        assert rows[0]["c"] == pytest.approx(0.5)


    # Boundary-pair cases: docs as (ms after T0_MS, doc, series), the query
    # options, and the expected c / c_max per (series, bucket index).
    # Buckets are GROUP_MS = 11 s wide.
    PAIR_CASES = {
        # bucket 1 holds no parseable sample: bucket 0's last sample pairs
        # with bucket 2's first, charged to bucket 0; bucket 2 is last.
        "skips_unparseable_bucket": (
            [(0, {"v": 10}, None), (5000, {"v": 20}, None),
             (12000, {"v": "foo"}, None), (23000, {"v": 42}, None)],
            {},
            {(None, 0): (2.0 + 22 / 18, 2.0), (None, 1): (0.0, None),
             (None, 2): (0.0, None)},
        ),
        # the same across a bucket whose docs are all filtered out (the
        # bucket itself stays, with the empty-input answer)
        "skips_filtered_bucket": (
            [(0, {"v": 10, "h": "a"}, None), (5000, {"v": 20, "h": "a"}, None),
             (12000, {"v": 100, "h": "b"}, None), (23000, {"v": 42, "h": "a"}, None)],
            {"filters": [("/h", "a")]},
            {(None, 0): (2.0 + 22 / 18, 2.0), (None, 1): (0.0, None),
             (None, 2): (0.0, None)},
        ),
        # the last bucket in range gets no boundary pair from a doc past
        # the range's end
        "last_bucket_in_range": (
            [(0, {"v": 10}, None), (5000, {"v": 20}, None),
             (12000, {"v": 30}, None), (30000, {"v": 1000}, None)],
            {"to_ts": (T0_MS + 20_000) * 1_000_000},
            {(None, 0): (2.0 + 10 / 7, 2.0), (None, 1): (0.0, None)},
        ),
        # two samples at one ts: their pair is dropped, not an error, and
        # the later of them (in value order) pairs onward
        "equal_timestamps": (
            [(0, {"v": 1}, None), (0, {"v": 5}, None), (1000, {"v": 7}, None)],
            {},
            {(None, 0): (2.0, 2.0)},
        ),
        # series interleave in time but pair only within themselves
        "within_each_series": (
            [(0, {"v": 0}, "a"), (5000, {"v": 100}, "b"),
             (12000, {"v": 12}, "a"), (14000, {"v": 10}, "b")],
            {},
            {("a", 0): (1.0, 1.0), ("a", 1): (0.0, None),
             ("b", 0): (-10.0, -10.0), ("b", 1): (0.0, None)},
        ),
    }

    @pytest.mark.parametrize("case", sorted(PAIR_CASES))
    def test_boundary_pair(self, spark, case):
        from datetime import datetime, timezone

        docs, opts, want = self.PAIR_CASES[case]
        rows = [
            (datetime.fromtimestamp((T0_MS + ms) / 1000.0, tz=timezone.utc)
             .replace(tzinfo=None), json.dumps(doc), s)
            for ms, doc, s in docs
        ]
        df = spark.createDataFrame(rows, "ts timestamp, doc string, s string")
        series = ("s",) if docs[0][2] else ()
        q = SerieslyQuery(
            group_ms=GROUP_MS, fields=[("/v", "c"), ("/v", "c_max")],
            aliases=["c", "c_max"], **opts,
        )
        got = {
            (r["s"] if series else None, (r["bucket_ms"] - T0_MS) // GROUP_MS):
            (r["c"], r["c_max"])
            for r in seriesly_query(df, q, series_cols=series).collect()
        }
        assert got == pytest.approx(want)

    def test_two_rate_pointers_without_series(self, spark):
        # Every consecutive pair counts once per pointer, however the
        # samples spread over input partitions, and one pointer's pairs
        # do not depend on another's.
        n = 3000
        vals = [(i * 37) % 101 for i in range(n)]
        rows = [
            (T0_MS * 1_000_000 + i * 1_000_000_000, json.dumps({"v": v, "w": i}))
            for i, v in enumerate(vals)
        ]
        df = spark.createDataFrame(rows, "ts_ns long, doc string").repartition(4)
        q = SerieslyQuery(
            group_ms=GROUP_MS, fields=[("/v", "c"), ("/v", "c_avg"), ("/w", "c")],
            aliases=["c", "c_avg", "cw"],
        )
        rates = {}
        for i in range(n - 1):
            rates.setdefault(i // 11, []).append(float(vals[i + 1] - vals[i]))
        got = {
            (r["bucket_ms"] - T0_MS) // GROUP_MS: (r["c"], r["c_avg"], r["cw"])
            for r in seriesly_query(df, q, ts_ns_col="ts_ns").collect()
        }
        assert got == {
            b: pytest.approx((sum(rs), sum(rs) / len(rs), float(len(rs))))
            for b, rs in rates.items()
        }


class TestFiltersAndBuckets:
    def test_filter_keeps_bucket_alive(self, spark):
        # Two buckets; filter matches docs only in bucket 1. Bucket 2 must
        # still appear with empty-input reducer results (reference derives
        # buckets pre-filter, query.go:264-289).
        values = ['{"v": 1, "site": "a"}', '{"v": 2, "site": "b"}']
        from datetime import datetime, timezone

        rows = []
        for i, doc in enumerate(values):
            ms = T0_MS + i * GROUP_MS  # one doc per bucket
            ts = datetime.fromtimestamp(ms / 1000.0, tz=timezone.utc).replace(tzinfo=None)
            rows.append((ts, doc))
        df = spark.createDataFrame(rows, "ts timestamp, doc string")
        q = SerieslyQuery(
            group_ms=GROUP_MS,
            fields=[("/v", "sum"), ("/v", "count"), ("/v", "identity")],
            aliases=["sum", "count", "identity"],
            filters=[("/site", "a")],
        )
        out = {r["bucket_ms"]: r.asDict() for r in seriesly_query(df, q).collect()}
        assert sorted(out) == [T0_MS, T0_MS + GROUP_MS]
        assert out[T0_MS]["sum"] == 1.0 and out[T0_MS]["count"] == 1
        b2 = out[T0_MS + GROUP_MS]
        assert b2["sum"] == 0.0 and b2["count"] == 0 and b2["identity"] == []

    def test_numeric_filter_coercion(self, spark):
        # JSON number 25 must match filter string "25" (%v coercion)
        df = _mkdf(spark, ["25"])
        q = SerieslyQuery(
            group_ms=GROUP_MS,
            fields=[("/v", "count")],
            aliases=["count"],
            filters=[("/v", "25")],
        )
        rows = seriesly_query(df, q).collect()
        assert rows[0]["count"] == 1

    def test_id_pseudo_pointer(self, spark):
        df = _mkdf(spark, ['"1"'])
        q = SerieslyQuery(
            group_ms=GROUP_MS, fields=[("_id", "any")], aliases=["any"]
        )
        rows = seriesly_query(df, q).collect()
        assert rows[0]["any"] == "2012-09-10T05:40:57Z"


class TestPointerShapes:
    """The extraction engine's answers on the pointer shapes the reference
    exercises: RFC 6901 escapes, nested array indexes, string numbers,
    the ``_id`` pseudo-pointer, structural values under a filter, and
    number text kept as written (-0.0 keeps its sign, 1000000.0 its .0)."""

    DOCS = [
        (1_000_000_000_000_000_000, '{"kind": "a", "nested": {"arr": [{"v": 3}, {"v": 4}]}, "a/b": 1, "m~n": "x", "obj": {"k": 1}}'),
        (1_000_000_001_000_000_000, '{"kind": "b", "nested": {"arr": [{"v": "12"}]}, "s": "42"}'),
        (1_000_000_002_000_000_000, '{"kind": "a", "other": null}'),
    ]
    DAY_BUCKET = 999_993_600_000
    CASES = {
        "pointer_shapes": (
            DOCS,
            [("/kind", "distinct"), ("/nested/arr/0/v", "sum"),
             ("/nested/arr/1/v", "count"), ("/a~1b", "count"), ("/m~0n", "any"),
             ("/s", "identity"), ("_id", "any")],
            [],
            {"bucket_ms": DAY_BUCKET, "distinct_0": ["a", "b"], "sum_1": 15.0,
             "count_2": 1, "count_3": 1, "any_4": "x",
             "identity_5": [None, "42", None], "any_6": "2001-09-09T01:46:40Z"},
        ),
        "filter": (
            DOCS,
            [("/kind", "count"), ("/nested/arr/0/v", "identity")],
            [("/kind", "a")],
            {"bucket_ms": DAY_BUCKET, "count_0": 2, "identity_1": ["3", None]},
        ),
        # Only scalars compare (reference query.go:112-128): a filter on a
        # structural value fails every doc.
        "structural_filter": (
            DOCS,
            [("/obj", "count")],
            [("/obj", '{"k":1}')],
            {"bucket_ms": DAY_BUCKET, "count_0": 0},
        ),
        "raw_number_text": (
            [(1, '{"neg": -0.0, "f": 1000000.0}')],
            [("/neg", "identity"), ("/f", "identity"), ("/f", "sum")],
            [],
            {"bucket_ms": 0, "identity_0": ["-0.0"], "identity_1": ["1000000.0"],
             "sum_2": 1000000.0},
        ),
    }

    @pytest.mark.parametrize("case", sorted(CASES))
    def test_json_answers(self, spark, case):
        docs, fields, filters, expected = self.CASES[case]
        df = spark.createDataFrame(docs, "ts_ns long, doc string")
        q = SerieslyQuery(group_ms=86_400_000, fields=fields, filters=filters)
        rows = seriesly_query(df, q, doc_col="doc", ts_ns_col="ts_ns").collect()
        assert [r.asDict() for r in rows] == [expected]


class TestEmitter:
    def test_json_object_shape(self, spark):
        df = _mkdf(spark, GOLDEN_VALUES)
        q = SerieslyQuery(
            group_ms=GROUP_MS, fields=[("/v", "sum"), ("/v", "count")],
            aliases=["sum", "count"],
        )
        res = seriesly_query(df, q)
        obj = dict(iter_seriesly_rows(res, ["sum", "count"]))
        assert obj == {str(T0_MS): [111.0, 11]}
