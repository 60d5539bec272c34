"""Rate-family ("counter") dataflow.

The reference computes, per bucket and pointer, rates over consecutive
float-parseable samples: ``(x_{i+1} - x_i) / ((t_{i+1} - t_i)/1e9)`` per
second, skipping unparseable samples and dropping NaN/Inf pairs (reference
query.go:358-405). The pair straddling a bucket boundary is attributed to
the *earlier* sample's bucket (the reference feeds the next bucket's first
document into the current bucket's stream as a lookahead,
query.go:192-194,270-276).

Spark-first expression: a ``lead()`` window over ts order on the parseable
samples, then a re-bucket + hash aggregate. The window is partitioned by
the query's series columns — per series this reproduces the reference's
single-database stream. (A query with no series columns runs the window in
a single partition; at cluster scale callers should always provide series
columns, which is also the reference's own model: one couchstore file = one
series.)

Deviation (documented, strictly-more-complete): the reference only pairs a
bucket's last sample with the *first document* of the next non-empty bucket
— if that specific document is unparseable or filtered, the pair vanishes.
This engine pairs each parseable sample with the *next parseable sample* in
the series, wherever it lives. Both behaviors agree on every corpus where
samples are uniformly parseable (the common counter case and the
reference's own tests).

Scale note — the no-series case: ``lead()`` with no PARTITION BY moves the
whole sample set to one partition. For that case ``_global_pairs_scalable``
keeps the pairing distributed: range-partition by ts (contiguous time
slices per partition, equal keys co-located), compute consecutive pairs
*inside* each partition with an Arrow-batched ``mapInPandas`` (embarrass-
ingly parallel), and stitch the one missing pair per partition boundary
from each partition's (first, last) sample — a per-partition aggregate of
two tiny structs, paired driver-side (O(partitions) rows). Pair values are
bit-identical to the window path (same IEEE double arithmetic).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from seriesly_spark.functions.bucketing import bucket_ms_sql
from seriesly_spark.functions.sqltext import sql_ident
from seriesly_spark.operators.reducers import REDUCERS
from seriesly_spark.operators.util import scoped_persist

_PAIR_SCHEMA = "ts_ns long, x double, next_ts_ns long, next_x double"


def _global_pairs_scalable(samples: DataFrame) -> DataFrame:
    """(ts_ns, x) -> consecutive-pair rows, distributed (see module doc)."""
    spark = samples.sparkSession
    n = spark.sparkContext.defaultParallelism
    s = samples.repartitionByRange(n, "ts_ns").sortWithinPartitions("ts_ns")
    # Two passes over the range-shuffled samples (pairs + boundary marks);
    # persist the 16-byte rows so the shuffle runs once.
    s = scoped_persist(s, "rate.range_sorted")

    def intra(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Streaming over Arrow batches with a one-row carry between
        # them: memory is bounded by one batch (~10k rows), not the
        # partition — a partition-sized concat here would scale memory
        # with partition size at 100 TB.
        import numpy as np

        carry_ts = carry_x = None
        for pdf in batches:
            if not len(pdf):
                continue
            ts = pdf["ts_ns"].to_numpy()
            x = pdf["x"].to_numpy()
            if carry_ts is not None:
                yield pd.DataFrame(
                    {
                        "ts_ns": np.concatenate(([carry_ts], ts[:-1])),
                        "x": np.concatenate(([carry_x], x[:-1])),
                        "next_ts_ns": ts,
                        "next_x": x,
                    }
                )
            elif len(ts) >= 2:
                yield pd.DataFrame(
                    {
                        "ts_ns": ts[:-1],
                        "x": x[:-1],
                        "next_ts_ns": ts[1:],
                        "next_x": x[1:],
                    }
                )
            carry_ts, carry_x = ts[-1], x[-1]

    pairs = s.mapInPandas(intra, _PAIR_SCHEMA)

    marks = (
        s.groupBy(F.spark_partition_id().alias("pid"))
        .agg(
            F.min_by(F.struct("ts_ns", "x"), "ts_ns").alias("first"),
            F.max_by(F.struct("ts_ns", "x"), "ts_ns").alias("last"),
        )
        .orderBy("pid")
        .collect()
    )
    boundary = [
        (
            int(marks[i]["last"]["ts_ns"]),
            float(marks[i]["last"]["x"]),
            int(marks[i + 1]["first"]["ts_ns"]),
            float(marks[i + 1]["first"]["x"]),
        )
        for i in range(len(marks) - 1)
    ]
    if boundary:
        pairs = pairs.union(spark.createDataFrame(boundary, _PAIR_SCHEMA))
    return pairs


def rate_aggregate(
    base: DataFrame,
    field_indexes: list[int],
    reducers_by_index: dict[int, str],
    aliases_by_index: dict[int, str],
    series_cols: tuple[str, ...],
    group_ms: int,
    exact_sums: bool = False,
) -> DataFrame:
    """Aggregate rate reducers for fields sharing one pointer.

    ``base`` holds ``ts_ns`` and ``nv{i}`` for one representative index
    (all fields in ``field_indexes`` share the same pointer, hence the same
    parseable sample set). Returns one row per (series, bucket_ms) that has
    at least one rate pair. Built from SQL text, like the query compiler.
    """
    i0 = field_indexes[0]
    series = [sql_ident(c) for c in series_cols]
    samples = base.selectExpr(*series, "ts_ns", f"nv{i0} AS x").where(
        "x IS NOT NULL"
    )

    if series_cols:
        w = f"OVER (PARTITION BY {', '.join(series)} ORDER BY ts_ns)"
        paired = samples.selectExpr(
            *series,
            "ts_ns",
            "x",
            f"lead(ts_ns) {w} AS next_ts_ns",
            f"lead(x) {w} AS next_x",
        )
    else:
        # No series to partition the window by: the distributed pairing
        # path (identical pairs, identical double arithmetic).
        paired = _global_pairs_scalable(samples)
    rate = "(next_x - x) / ((next_ts_ns - ts_ns) / 1000000000D)"
    rates = paired.selectExpr(
        *series, f"{bucket_ms_sql('ts_ns', group_ms)} AS bucket_ms",
        f"{rate} AS rate",
    ).where(
        "rate IS NOT NULL AND NOT isnan(rate) "
        "AND abs(rate) != double('Infinity')"
    )
    aggs = []
    for i in field_indexes:
        spec = REDUCERS[reducers_by_index[i]]
        # rate{i} aliases the shared pair column for the spec's SQL.
        expr = spec.rate_sql(i, exact_sums).replace(f"rate{i}", "rate")
        aggs.append(F.expr(f"{expr} AS {sql_ident(aliases_by_index[i])}"))
    return rates.groupBy(*series_cols, "bucket_ms").agg(*aggs)
