"""Windowed relational operators beyond the reference's surface: top-k per
group and sessionization — both classic shapes the reference lacks
entirely (SURVEY §2.3 gap list) expressed as window functions that shuffle
once on the partition key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from seriesly_spark.functions.bucketing import idiv
from seriesly_spark.functions.sqltext import sql_ident
from seriesly_spark.operators.util import scoped_persist


def topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    k: int,
    tiebreak_col: str,
) -> DataFrame:
    """Top-k rows per group by ``order_col`` desc (deterministic tie-break).
    One shuffle on the group key; rank + filter stay in the same stage."""
    w = Window.partitionBy(*group_cols).orderBy(
        F.col(order_col).desc(), F.col(tiebreak_col)
    )
    return (
        df.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def hopping_window_agg(
    df: DataFrame,
    ts_col: str,
    length_ms: int,
    slide_ms: int,
    value_col: str,
) -> DataFrame:
    """Hopping (sliding) window aggregation — the windowed shape the
    reference lacks entirely (its only grouping is the tumbling bucket,
    SURVEY §2.3 gap list). Each row lands in length/slide windows;
    ``F.window`` expands them inline (narrow), then one shuffle on the
    window start. Sums accumulate as DECIMAL(38,18) for engine-exact
    results. Output: (bucket_ms, cnt, sum_value)."""
    w = F.window(F.col(ts_col), f"{length_ms} milliseconds", f"{slide_ms} milliseconds")
    dec_sum = F.sum(F.col(value_col).cast("decimal(38,18)")).cast("double")
    return (
        df.groupBy(w.alias("w"))
        .agg(F.count("*").alias("cnt"), F.round(dec_sum, 6).alias("sum_value"))
        .select(
            F.unix_millis(F.col("w.start")).alias("bucket_ms"), "cnt", "sum_value"
        )
    )


def sessionize(
    df: DataFrame,
    user_col: str,
    ts_us_col: str,
    gap_us: int,
    tiebreak_col: str,
) -> DataFrame:
    """Per-user session counts: a new session starts when the gap from the
    previous event exceeds ``gap_us``. lag + conditional sum — one shuffle
    on the user key. Returns (user, n_events, n_sessions)."""
    w = Window.partitionBy(user_col).orderBy(F.col(ts_us_col), F.col(tiebreak_col))
    new_sess = (
        F.coalesce(
            (F.col(ts_us_col) - F.lag(ts_us_col).over(w)) > gap_us, F.lit(True)
        )
    ).cast("int")
    return (
        df.withColumn("__new", new_sess)
        .groupBy(user_col)
        .agg(
            F.count("*").alias("n_events"),
            F.sum("__new").alias("n_sessions"),
        )
    )


def fill_gaps(
    bucketed: DataFrame,
    series_cols: list[str],
    bucket_col: str,
    value_col: str,
    step_ms: int,
    how: str = "zero",
) -> DataFrame:
    """Densify a bucketed series: the reference (and seriesly queries here)
    emit only buckets that contain documents; dashboards need the dense
    time axis. Generates the full bucket spine per series between its min
    and max bucket, left-joins the observed values, marks holes with a
    ``filled`` flag, and fills them with 0.0 (``zero``), the last
    observed value (``ffill``), or the straight line between neighboring
    observations (``linear`` — head/tail holes use the nearest
    observation).

    Scale: the spine derives from a tiny per-series min/max aggregate and
    explodes to range/step rows per series (narrow); the join shuffles on
    (series, bucket) — the same key the upstream bucket agg already hashed
    on — and AQE broadcasts the spine when it is small. ``ffill`` adds one
    window pass partitioned by series (streaming frame, no extra sort at
    scale beyond the shuffle's)."""
    # persist(): the bucketed series feeds BOTH the spine min/max aggregate
    # and the join's observed side — without it the (possibly expensive)
    # upstream aggregation runs twice. The cached set is only series x
    # buckets rows, tiny at any scale.
    bucketed = scoped_persist(bucketed, "windows.fill_gaps_bucketed")
    spine = (
        bucketed.groupBy(*series_cols)
        .agg(F.min(bucket_col).alias("__lo"), F.max(bucket_col).alias("__hi"))
        .select(
            *series_cols,
            F.explode(
                F.sequence(F.col("__lo"), F.col("__hi"), F.lit(step_ms))
            ).alias(bucket_col),
        )
    )
    joined = spine.join(bucketed, [*series_cols, bucket_col], "left").withColumn(
        "filled", F.col(value_col).isNull()
    )
    if how == "zero":
        return joined.withColumn(value_col, F.coalesce(F.col(value_col), F.lit(0.0)))
    if how == "ffill":
        w = (
            Window.partitionBy(*series_cols)
            .orderBy(bucket_col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return joined.withColumn(
            value_col, F.last(value_col, ignorenulls=True).over(w)
        )
    if how == "linear":
        # Two frames over the same sort: last observed (value, bucket)
        # looking back, first observed looking forward. Interpolation is
        # pure IEEE arithmetic in a fixed order (identical in the DuckDB
        # oracle); only interpolated cells are rounded — observed values
        # pass through untouched.
        wb = (
            Window.partitionBy(*series_cols)
            .orderBy(bucket_col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        wf = (
            Window.partitionBy(*series_cols)
            .orderBy(bucket_col)
            .rowsBetween(0, Window.unboundedFollowing)
        )
        obs_b = F.when(F.col(value_col).isNotNull(), F.col(bucket_col))
        pv = F.last(value_col, ignorenulls=True).over(wb)
        pb = F.last(obs_b, ignorenulls=True).over(wb)
        nv = F.first(value_col, ignorenulls=True).over(wf)
        nb = F.first(obs_b, ignorenulls=True).over(wf)
        interp = F.round(
            pv
            + (nv - pv)
            * (F.col(bucket_col) - pb)
            / (nb - pb),
            6,
        )
        return joined.withColumn(
            value_col,
            F.when(~F.col("filled"), F.col(value_col))
            .when(pv.isNull(), nv)
            .when(nv.isNull(), pv)
            .otherwise(interp),
        )
    raise ValueError(f"unknown fill mode: {how!r}")


def moving_avg(
    bucketed: DataFrame,
    series_cols: list[str],
    bucket_col: str,
    value_col: str,
    n: int,
    out_col: str = "mavg",
) -> DataFrame:
    """Trailing n-bucket moving average per series (dashboard smoothing —
    the cross-bucket window shape the reference cannot express). One
    shuffle on the series key; the frame is evaluated streaming within the
    sorted partition. The frame sum accumulates as DECIMAL(38,18) so the
    result is independent of evaluation order (sliding-window aggregates
    differ in FP summation order across engines)."""
    w = (
        Window.partitionBy(*series_cols)
        .orderBy(bucket_col)
        .rowsBetween(-(n - 1), 0)
    )
    dec_sum = F.sum(F.col(value_col).cast("decimal(38,18)")).over(w)
    return bucketed.withColumn(
        out_col,
        F.round(dec_sum.cast("double") / F.count(F.lit(1)).over(w), 6),
    )


def time_weighted_avg(
    df: DataFrame,
    series_cols: list[str],
    ts_us_col: str,
    value_col: str,
    bucket_ms: int,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Time-weighted average per bucket for IRREGULARLY sampled series
    (the TimescaleDB ``time_weight('LOCF')`` shape): each sample holds
    its value until the next sample or the bucket end, and the bucket
    average weights values by held duration instead of sample count —
    a burst of 100 readings in one second no longer drowns the 59
    quiet seconds.

    Weights are exact integer microseconds (lead(ts) clamped to the
    bucket end); value x weight casts to DECIMAL(38,18) so the weighted
    sum is order-independent; the single division rounds to 6. One
    shuffle: the lead() window and the bucket aggregate share the
    series-key partitioning. Samples that are the last in their bucket
    extend to the bucket boundary (LOCF); the held interval of a sample
    never crosses its own bucket (the next bucket re-anchors at its
    first sample — the standard per-bucket LOCF convention).
    """
    us = bucket_ms * 1000
    # idiv, not `/`+floor: double division of µs-scale longs rounds at
    # bucket boundaries (see functions/bucketing.py).
    bucket_idx = idiv(sql_ident(ts_us_col), us)
    bucket_end = (bucket_idx + 1) * us
    # The window partitions by (series, BUCKET), not just series: the
    # LOCF clamp means a sample's held interval never needs the next
    # bucket's data (the last sample of a bucket always extends to the
    # bucket edge), so lead() within the bucket is EXACTLY equivalent to
    # a global per-series lead + clamp — and parallelism becomes
    # series x buckets instead of |series| (measured 2.45 s -> sub-second
    # at sf0.1, where only 5 series exist).
    # tiebreak: two samples at the SAME microsecond would otherwise get
    # nondeterministic lead() pairing — the zero-duration one drops out,
    # and WHICH drops must not depend on partition luck.
    order = [ts_us_col] + ([tiebreak_col] if tiebreak_col else [])
    pre = df.select(
        *series_cols,
        (bucket_idx * F.lit(bucket_ms)).cast("long").alias("bucket_ms"),
        bucket_end.alias("__bend"),
        F.col(ts_us_col),
        *( [F.col(tiebreak_col)] if tiebreak_col else [] ),
        F.col(value_col),
    )
    w = Window.partitionBy(*series_cols, "bucket_ms").orderBy(*order)
    nxt = F.coalesce(F.lead(ts_us_col).over(w), F.col("__bend"))
    dt = F.least(nxt, F.col("__bend")) - F.col(ts_us_col)
    weighted = pre.select(
        *series_cols,
        "bucket_ms",
        (F.col(value_col) * dt).cast("decimal(38,18)").alias("__wv"),
        dt.alias("__dt"),
    )
    return weighted.groupBy(*series_cols, "bucket_ms").agg(
        F.round(
            F.sum("__wv").cast("double") / F.sum("__dt"), 6
        ).alias("twa")
    )


def series_gaps(
    df: DataFrame,
    series_cols: list[str],
    ts_us_col: str,
    min_gap_us: int,
) -> DataFrame:
    """Report every hole longer than ``min_gap_us`` between consecutive
    samples of a series — the monitoring primitive behind "did the
    collector stop?" alerts. One lead() window per series key (single
    shuffle), integer math only. Output: (series, gap_start_us,
    gap_end_us, gap_us)."""
    w = Window.partitionBy(*series_cols).orderBy(ts_us_col)
    nxt = F.lead(ts_us_col).over(w)
    return (
        df.select(
            *series_cols,
            F.col(ts_us_col).alias("gap_start_us"),
            nxt.alias("gap_end_us"),
        )
        .withColumn("gap_us", F.col("gap_end_us") - F.col("gap_start_us"))
        .where(F.col("gap_us") > min_gap_us)
    )


def minmax_downsample(
    df: DataFrame,
    series_cols: list[str],
    ts_us_col: str,
    value_col: str,
    bucket_ms: int,
) -> DataFrame:
    """Extrema-preserving downsampling: per bucket keep the minimum and
    maximum sample (value AND its timestamp) — the render-safe reduction
    for plotting billions of points (spikes survive, unlike plain avg).
    ONE hash aggregate of struct min/max (lexicographic — value ties
    break deterministically on the timestamp: earliest for the min,
    latest for the max, identically in Spark and DuckDB); no window, no
    sort, map-side partials. Output: (series, bucket_ms, min_v,
    min_ts_us, max_v, max_ts_us)."""
    us = bucket_ms * 1000
    ts = F.col(ts_us_col)
    b = (idiv(sql_ident(ts_us_col), us) * F.lit(bucket_ms)).cast("long")
    lo = F.min(F.struct(F.col(value_col).alias("v"), ts.alias("t")))
    hi = F.max(F.struct(F.col(value_col).alias("v"), ts.alias("t")))
    return (
        df.select(*series_cols, b.alias("bucket_ms"), value_col, ts_us_col)
        .groupBy(*series_cols, "bucket_ms")
        .agg(
            lo["v"].alias("min_v"),
            lo["t"].alias("min_ts_us"),
            hi["v"].alias("max_v"),
            hi["t"].alias("max_ts_us"),
        )
    )


def merge_intervals(
    df: DataFrame,
    key_cols: list[str],
    start_col: str,
    end_col: str,
    tiebreak_col: str,
    gap_us: int = 0,
) -> DataFrame:
    """Coalesce overlapping (or within-``gap_us``) intervals per key into
    maximal disjoint islands — the interval-union primitive behind
    "total covered time" metrics (machine uptime, ad exposure, session
    stitching across devices). Classic gaps-and-islands: order by
    (start, end, tiebreak), take the running max of end over all PRIOR
    rows; a row opens a new island when its start exceeds that max +
    gap; island ids are the running count of opens.

    One shuffle on the key: both windows (running max, running count)
    share a single sort within each key partition, then one hash
    aggregate collapses rows to islands. Integer-µs arithmetic
    throughout — bit-exact across engines. Per-key data must fit the
    window sort budget, the same bound as every sessionizer here.
    Output: (key..., island, island_start_us, island_end_us,
    n_merged).
    """
    order = [F.col(start_col), F.col(end_col), F.col(tiebreak_col)]
    w_prior = (
        Window.partitionBy(*key_cols)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(*key_cols)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    opens = F.when(
        F.col(start_col) > F.max(end_col).over(w_prior) + F.lit(gap_us),
        F.lit(1),
    ).otherwise(F.lit(0))
    # The first row per key has a NULL prior-max: when() yields 0, so
    # force the open with coalesce on the lag side instead.
    first_row = F.lag(start_col).over(
        Window.partitionBy(*key_cols).orderBy(*order)
    ).isNull()
    opens = F.when(first_row, F.lit(1)).otherwise(opens)
    return (
        df.withColumn("__open", opens)
        .withColumn("island", F.sum("__open").over(w_run))
        .groupBy(*key_cols, "island")
        .agg(
            F.min(start_col).alias("island_start_us"),
            F.max(end_col).alias("island_end_us"),
            F.count(F.lit(1)).alias("n_merged"),
        )
    )


def pct_change(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    ts_us_col: str,
    id_col: str,
) -> DataFrame:
    """Per-series step-over-step change: percent change and log return
    against the previous observation in (ts, id) order — the
    financial-series primitives (returns, growth rates) the reference's
    rate family (`reference query.go` reducers c/c_min/c_avg/c_max)
    approximates only per-bucket. NULL on the first row of a series, on
    a zero previous value (pct), and on a non-positive ratio (log).

    One shuffle on the series key, one lag window, narrow output —
    survives any scale-up the partition key survives. Round-6 doubles;
    the division and log see identical inputs on both engines.
    """
    w = Window.partitionBy(*group_cols).orderBy(
        F.col(ts_us_col), F.col(id_col)
    )
    prev = F.lag(F.col(value_col)).over(w)
    return df.select(
        *group_cols,
        F.col(id_col),
        F.col(ts_us_col),
        F.col(value_col).alias("value"),
        prev.alias("prev_value"),
        F.round(
            F.when(prev != 0, (F.col(value_col) - prev) / prev), 6
        ).alias("pct_change"),
        F.round(
            F.when(
                (prev > 0) & (F.col(value_col) > 0),
                F.log(F.col(value_col) / prev),
            ),
            6,
        ).alias("log_return"),
    )


def sliding_distinct(
    df: DataFrame,
    ts_col: str,
    length_ms: int,
    slide_ms: int,
    key_col: str,
) -> DataFrame:
    """Sliding-window distinct-key counts (rolling active users, rolling
    distinct source domains): every row lands in length/slide hopping
    windows via ``F.window``'s inline expand (narrow — no self-join
    spine), then ONE shuffle on the window start feeds a distinct
    aggregate. Spark plans count_distinct as a two-phase partial
    (dedup-then-count) so only (window, key) pairs move, not rows.
    For approximate mode at extreme cardinality use the HLL rollup
    (operators/sketches.py) — same window spine.
    Output: (bucket_ms, n_events, n_keys)."""
    w = F.window(
        F.col(ts_col), f"{length_ms} milliseconds", f"{slide_ms} milliseconds"
    )
    return (
        df.groupBy(w.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct(F.col(key_col)).alias("n_keys"),
        )
        .select(
            F.unix_millis(F.col("w.start")).alias("bucket_ms"),
            "n_events",
            "n_keys",
        )
    )


def sliding_distinct_approx(
    df: DataFrame,
    ts_col: str,
    length_ms: int,
    slide_ms: int,
    key_col: str,
) -> DataFrame:
    """Approximate-mode sliding-window distinct counts — the scale
    escape hatch for :func:`sliding_distinct`. The exact path's
    two-phase ``count_distinct`` must still move every distinct
    (window, key) pair through the shuffle: at extreme per-window
    cardinality (rolling distinct IPs over a 100 TB day) that IS the
    corpus. Here the same ``F.window`` hopping spine feeds a mergeable
    DataSketches HLL aggregate (``hll_sketch_agg``, default
    lgConfigK=12): each map task emits ONE fixed ~4 KiB sketch per
    window it touched, so shuffle volume is windows x partitions x
    4 KiB — independent of key cardinality. Relative error ~1.6% at
    lgConfigK=12; the gate certifies a conservative ±5% envelope
    against the exact path.

    Output: (bucket_ms, n_events, est_keys).
    """
    w = F.window(
        F.col(ts_col), f"{length_ms} milliseconds", f"{slide_ms} milliseconds"
    )
    return (
        df.groupBy(w.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.hll_sketch_estimate(F.hll_sketch_agg(F.col(key_col))).alias(
                "est_keys"
            ),
        )
        .select(
            F.unix_millis(F.col("w.start")).alias("bucket_ms"),
            "n_events",
            "est_keys",
        )
    )


def interval_coverage(
    intervals: DataFrame,
    points: DataFrame,
    key_cols: list[str],
    start_col: str,
    end_col: str,
    t_col: str,
) -> DataFrame:
    """How much of an activity stream falls inside known coverage
    windows: per key, the island count/total covered span from
    ``intervals`` (PRECONDITION: disjoint per key — merge_intervals
    output; overlapping islands would double-count points) and the
    fraction of ``points`` rows covered by any island.

    Plan: the point->island match is an EQUI-join on the key with the
    between-predicate as a residual — never a cartesian; islands per
    key are few (merge_intervals collapsed them), so the residual scan
    is cheap. Three per-key aggregates (islands, points, covered) join
    on the tiny key table. Integer-µs bounds, inclusive [s, e].
    Output: (key..., n_islands, covered_us, n_points, n_covered,
    coverage_ratio rounded to 6)."""
    # Islands fan out to two consumers (the per-key rollup and the
    # point match); merge_intervals output sits on a window sort, so
    # recomputing it per consumer doubles that shuffle — persisted
    # eagerly (post-merge islands are far under the corpus). The point
    # side reads the scan twice instead: its filters push down, which
    # beats caching a corpus-sized table.
    intervals = scoped_persist(
        intervals, "windows.interval_coverage_islands", eager=True
    )
    ivl = intervals.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col(end_col) - F.col(start_col)).alias("covered_us"),
    )
    pts = points.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n_points"))
    t = F.col(t_col)
    cov = (
        points.join(intervals, key_cols)
        .where((t >= F.col(start_col)) & (t <= F.col(end_col)))
        .groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n_covered"))
    )
    return (
        ivl.join(pts, key_cols, "left")
        .join(cov, key_cols, "left")
        .select(
            *key_cols,
            "n_islands",
            "covered_us",
            F.coalesce(F.col("n_points"), F.lit(0)).alias("n_points"),
            F.coalesce(F.col("n_covered"), F.lit(0)).alias("n_covered"),
            F.round(
                F.when(
                    F.coalesce(F.col("n_points"), F.lit(0)) > 0,
                    F.coalesce(F.col("n_covered"), F.lit(0))
                    / F.col("n_points").cast("double"),
                ),
                6,
            ).alias("coverage_ratio"),
        )
    )
