"""Unit tests for the scalar function surface (no Spark needed for the
pure-Python parts; Column-builder parts run on tiny DataFrames)."""

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from seriesly_spark.functions.coerce import go_fmt_float
from seriesly_spark.functions.jsonptr import ptr_to_jsonpath
from seriesly_spark.functions.timeparse import canonical_key, parse_any_ts_ns
from seriesly_spark.plans.query import py_parse_ts_ns


class TestPtrToJsonpath:
    def test_empty_is_whole_doc(self):
        assert ptr_to_jsonpath("") == "$"

    def test_simple(self):
        assert ptr_to_jsonpath("/kind") == "$.kind"

    def test_nested_with_index(self):
        # reference query_test.go pointer corpus over sample.json
        assert (
            ptr_to_jsonpath("/data/children/0/data/score")
            == "$.data.children[0].data.score"
        )

    def test_escapes(self):
        # RFC 6901: ~1 -> '/', ~0 -> '~'
        assert ptr_to_jsonpath("/a~1b") == "$['a/b']"
        assert ptr_to_jsonpath("/m~0n") == "$['m~n']"

    def test_non_identifier_token_bracketed(self):
        assert ptr_to_jsonpath("/a b") == "$['a b']"

    def test_invalid(self):
        with pytest.raises(ValueError):
            ptr_to_jsonpath("kind")


class TestGoFmtFloat:
    # Go fmt %v for float64 (strconv.FormatFloat 'g' -1) — the reference's
    # scalar stringification (query.go:135-143).
    @pytest.mark.parametrize(
        "x,expected",
        [
            (63.0, "63"),
            (17.0, "17"),
            (25.5, "25.5"),
            (1000000.0, "1e+06"),     # FIXTURES.md F5
            (999999.0, "999999"),
            (123456.7, "123456.7"),
            (1234567.0, "1.234567e+06"),
            (0.0001, "0.0001"),
            (0.00001, "1e-05"),
            (-12.5, "-12.5"),
            (0.0, "0"),
            (-0.0, "-0"),
            (1e21, "1e+21"),
            (float("nan"), "NaN"),
            (float("inf"), "+Inf"),
        ],
    )
    def test_matrix(self, x, expected):
        assert go_fmt_float(x) == expected


class TestPyParseTs:
    # reference timelib/time_test.go:27-61 matrix (ns/ms/s epochs + ISO)
    @pytest.mark.parametrize(
        "value,expected_ns",
        [
            (1346189075374651880, 1346189075374651880),
            (1346189075374, 1346189075374000000),
            (1346189075, 1346189075000000000),
            ("1346189075374651880", 1346189075374651880),
            ("2012-08-28T21:24:35.37465188Z", 1346189075374651880),
            ("2012-08-28T21:24:35Z", 1346189075000000000),
            ("2012-08-28", 1346112000000000000),
        ],
    )
    def test_matrix(self, value, expected_ns):
        assert py_parse_ts_ns(value) == expected_ns

    def test_garbage(self):
        with pytest.raises(ValueError):
            py_parse_ts_ns("an hour ago")
        with pytest.raises(ValueError):
            py_parse_ts_ns(5)  # below the s-epoch floor -> error


class TestSparkTimeFns:
    def test_parse_any_ts_ns(self, spark):
        inputs = [
            "1346189075374651880",
            "1346189075374",
            "1346189075",
            "2012-08-28T21:24:35.37465188Z",
            "2012-08-28T21:24:35Z",
            "2012-08-28T21:24",
            "2012-08-28T21",
            "2012-08-28",
            "2012-08",
            "2012",
            "Tue, 28 Aug 2012 21:24:35 UTC",
            "an hour ago",
        ]
        df = spark.createDataFrame([Row(s=s) for s in inputs])
        got = [r.ns for r in df.select(parse_any_ts_ns(F.col("s")).alias("ns")).collect()]
        expected = [
            1346189075374651880,
            1346189075374000000,
            1346189075000000000,
            1346189075374651880,
            1346189075000000000,
            1346189075000000000 - 35 * 1_000_000_000,
            1346189075000000000 - (24 * 60 + 35) * 1_000_000_000,
            1346112000000000000,
            1343779200000000000,
            1325376000000000000,
            1346189075000000000,
            None,
        ]
        assert got == expected

    def test_canonical_key(self, spark):
        # reference key rendering: RFC3339Nano, trailing frac zeros stripped
        cases = [
            (1346189075374651880, "2012-08-28T21:24:35.37465188Z"),
            (1346189075000000000, "2012-08-28T21:24:35Z"),
            (1346189075374000000, "2012-08-28T21:24:35.374Z"),
        ]
        df = spark.createDataFrame([Row(ns=n) for n, _ in cases])
        got = [r.k for r in df.select(canonical_key("ns").alias("k")).collect()]
        assert got == [exp for _, exp in cases]

    def test_roundtrip_parse_render(self, spark):
        keys = ["2013-02-22T16:29:19.750264Z", "2012-08-28T21:24:35.37465188Z"]
        df = spark.createDataFrame([Row(s=s) for s in keys])
        got = [
            r.k
            for r in df.select(parse_any_ts_ns(F.col("s")).alias("ns"))
            .select(canonical_key("ns").alias("k"))
            .collect()
        ]
        assert got == keys


class TestIdivBoundary:
    """Regression: decimal division's scale-6 rounding must not shift
    bucket boundaries (found by hypothesis: ts 5 µs below a 10 s bucket
    edge rounded up into the next bucket)."""

    def test_bucket_edge_just_below(self, spark):
        from seriesly_spark.functions.bucketing import bucket_ms_col, idiv

        rows = [
            (29_999_995_000,),  # 5 µs below the 30 s edge -> bucket 20000
            (29_999_999_999,),  # 1 ns below               -> bucket 20000
            (30_000_000_000,),  # exactly the edge          -> bucket 30000
            (1_699_999_999_999_999_500,),  # ns-epoch, 500 ns below a second
        ]
        df = spark.createDataFrame(rows, "ts_ns long")
        got = df.select(
            bucket_ms_col("ts_ns", 10_000).alias("b"),
            idiv("ts_ns", 1_000_000_000).alias("s"),
        ).collect()
        assert [r.b for r in got] == [20000, 20000, 30000, 1_699_999_990_000]
        assert [r.s for r in got] == [29, 29, 30, 1_699_999_999]

    def test_negative_ns(self, spark):
        from seriesly_spark.functions.bucketing import bucket_ms_col

        df = spark.createDataFrame([(-1,), (-10_000_000_001,)], "ts_ns long")
        got = [
            r.b
            for r in df.select(
                bucket_ms_col("ts_ns", 10_000).alias("b")
            ).collect()
        ]
        assert got == [-10000, -20000]  # floor, not truncation
