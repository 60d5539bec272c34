"""Rate-family ("counter") reducers: the SQL for one bucket's pair rates.

The reference computes, per bucket and pointer, rates over consecutive
float-parseable samples: ``(x_{i+1} - x_i) / ((t_{i+1} - t_i)/1e9)`` per
second, skipping unparseable samples and dropping NaN/Inf pairs (reference
query.go:358-405). The pair straddling a bucket boundary is attributed to
the *earlier* sample's bucket (the reference feeds the next bucket's first
document into the current bucket's stream as a lookahead,
query.go:192-194,270-276).

Spark-first expression, in the query's one bucket aggregate
(plans/query.py):

  * the aggregate collects each bucket's parseable samples of the pointer,
    sorted by ts (``samples_sql``) — the bucket's own sample stream;
  * one window over the aggregated bucket rows, partitioned by the series
    columns, gives each bucket the first sample of the next bucket that
    has samples (``next_sample_sql``) — the boundary lookahead;
  * a projection pairs consecutive samples plus that boundary pair and
    keeps the finite rates (``pair_rates_sql``); the reducers in
    operators/reducers.py fold that array.

Deviation (documented, strictly-more-complete): the reference only pairs a
bucket's last sample with the *first document* of the next non-empty bucket
— if that specific document is unparseable or filtered, the pair vanishes.
This engine pairs each parseable sample with the *next parseable sample* in
the series, wherever it lives: buckets whose docs hold no parseable sample
(or are all filtered out) are skipped by the lookahead. Both behaviors
agree on every corpus where samples are uniformly parseable (the common
counter case and the reference's own tests). Samples with equal ts pair in
value order, and their pair is dropped like the reference's ±Inf/NaN.

Scale trade-off: one bucket's samples (16 B each) are held in one task,
the same bound as the ``identity`` reducer and the same unit the reference
parallelises on (one bucket per goroutine). The window moves only the
aggregated bucket rows — one per (series, bucket) — so a series of any
length never lands in one partition, and a query with no series columns
runs it over its bucket rows alone.
"""

from __future__ import annotations

# One consecutive pair's rate in units per second; a, b are samples. Two
# samples at one ts give NULL (the reference's ±Inf/NaN, dropped alike)
# rather than ANSI mode's division-by-zero error.
_PAIR_RATE = "try_divide(b.x - a.x, (b.t - a.t) / 1000000000D)"


def samples_sql(nv: str) -> str:
    """Aggregate: the bucket's parseable samples of a pointer (its double
    column ``nv``, NULL where unparseable or filtered), sorted by ts."""
    return (
        f"array_sort(collect_list(CASE WHEN {nv} IS NOT NULL "
        f"THEN named_struct('t', ts_ns, 'x', {nv}) END))"
    )


def next_sample_sql(samples: str, series: list[str]) -> str:
    """Window over the aggregated bucket rows: the first sample of the
    nearest later bucket in the series that has one. A running frame over
    descending buckets, so the window is one pass (an ``UNBOUNDED
    FOLLOWING`` frame is recomputed for every row)."""
    part = f"PARTITION BY {', '.join(series)} " if series else ""
    return (
        f"last(try_element_at({samples}, 1), true) OVER ({part}ORDER BY "
        f"bucket_ms DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    )


def pair_rates_sql(samples: str, next_sample: str) -> str:
    """The bucket's finite pair rates in ts order: each sample paired with
    its successor, the last one with ``next_sample`` (a NULL successor
    gives a NULL rate, which is dropped like NaN and ±Inf)."""
    succ = f"concat(slice({samples}, 2, size({samples})), array({next_sample}))"
    return (
        f"filter(zip_with({samples}, {succ}, (a, b) -> {_PAIR_RATE}), "
        f"r -> r IS NOT NULL AND NOT isnan(r) AND abs(r) != double('Infinity'))"
    )
