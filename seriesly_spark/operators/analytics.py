"""Event-analytics operators over bucketed series: cohort retention,
ordered funnels, outlier flagging, and exponential smoothing.

None of these exist in the reference — its query model is one tumbling
bucket at a time (`reference query.go:228-275`), so anything relating a
user's buckets to each other (retention), ordering events across types
(funnel), or weighting a trailing window (EWMA) is out of reach there.
Each is expressed as a composition of hash aggregates / window frames
that shuffles on its natural key exactly once per stage.

Cross-engine determinism rules (see SKILL.md / PLANS.md): sums accumulate
as DECIMAL(38,18), float outputs round to 6, integer math stays integer
(`idiv`, integer EWMA weights) so the DuckDB oracle can reproduce every
bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from seriesly_spark.functions.bucketing import idiv
from seriesly_spark.operators.util import scoped_persist


def cohort_retention(
    df: DataFrame,
    user_col: str,
    bucket_col: str,
    step_ms: int,
) -> DataFrame:
    """Classic retention triangle: users are cohorted by their first
    active bucket; each (cohort, offset) cell counts the cohort's users
    still active ``offset`` buckets later.

    Plan: ONE shuffle on the user key — ``collect_set(bucket)`` dedups
    map-side, so what moves is each user's distinct-bucket set (bounded
    by the date range, not event volume). The cohort minimum and offsets
    derive from the set narrowly; the final (cohort, offset) aggregate
    shuffles only cohort-cell partials.

    Output: (cohort_bucket, bucket_offset, n_users).
    """
    days = (
        df.select(F.col(user_col).alias("u"), F.col(bucket_col).alias("b"))
        .groupBy("u")
        .agg(F.collect_set("b").alias("bs"))
        .select(F.array_min("bs").alias("cohort_bucket"), F.explode("bs").alias("b"))
    )
    return (
        days.select(
            "cohort_bucket",
            idiv("b - cohort_bucket", step_ms).alias("bucket_offset"),
        )
        .groupBy("cohort_bucket", "bucket_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def funnel_counts(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
) -> DataFrame:
    """Strictly-ordered funnel totals: one row per step,
    (step_idx, step, n_users) — how many users completed steps 1..i in
    order. Derived from :func:`funnel_users` with a single global
    count-non-null aggregate unpivoted via ``stack`` — no driver-side
    actions, one plan."""
    fu = funnel_users(df, user_col, ts_col, type_col, steps)
    counts = fu.agg(
        *[F.count(f"t{i}").alias(f"n{i}") for i in range(1, len(steps) + 1)]
    )
    stack_args = ", ".join(
        f"{i}, '{s}', n{i}" for i, s in enumerate(steps, start=1)
    )
    return counts.selectExpr(
        f"stack({len(steps)}, {stack_args}) AS (step_idx, step, n_users)"
    )


def funnel_users(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
) -> DataFrame:
    """Per-user funnel detail: one row per user who entered the funnel,
    with each step's completion timestamp (null once the funnel stalls).
    Same staged co-partitioned plan as :func:`funnel_counts`, but keeps
    the per-step times and outer-joins the stages, so the caller gets the
    full conversion table instead of counts. Output columns:
    (user, t1..tk)."""
    if len(steps) < 2:
        raise ValueError("funnel needs >= 2 steps")
    stage = (
        df.where(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("t1"))
    )
    out = stage
    for i, s in enumerate(steps[1:], start=2):
        nxt = (
            df.where(F.col(type_col) == s)
            .join(
                stage.select(user_col, F.col(f"t{i-1}").alias("__prev")),
                user_col,
            )
            .where(F.col(ts_col) > F.col("__prev"))
            .groupBy(user_col)
            .agg(F.min(ts_col).alias(f"t{i}"))
        )
        out = out.join(nxt, user_col, "left")
        stage = nxt
    return out


def zscore_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    threshold: float = 2.5,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Per-group z-score outlier flags: |value - mean| / stddev >=
    ``threshold``. Population moments accumulate as DECIMAL(38,18) (sum
    and sum-of-squares in one partial aggregate), so mean/variance — and
    therefore every z — are bit-identical across engines; z rounds to 6.

    Plan: one hash aggregate over the group key (tiny result), broadcast
    back onto the scan — the data path is a narrow filter, no shuffle of
    the events themselves. Output: id/group/value columns + z.
    """
    id_cols = id_cols or []
    v = F.col(value_col)
    # v*v is ONE correctly-rounded IEEE multiply (identical across
    # engines); the decimal cast then makes the summation
    # order-independent. decimal*decimal instead would hit Spark's
    # precision-loss scale clamping, which DuckDB doesn't mirror.
    stats = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(v.cast("decimal(38,18)")).cast("double").alias("__s"),
        F.sum((v * v).cast("decimal(38,18)")).cast("double").alias("__s2"),
    )
    mean = F.col("__s") / F.col("__n")
    # Clamp: rounding can drive a mathematically-zero variance a hair
    # negative, and sqrt(neg) is NaN.
    var = F.greatest(
        F.col("__s2") / F.col("__n") - mean * mean, F.lit(0.0)
    )
    stats = stats.select(
        *group_cols, mean.alias("__mean"), F.sqrt(var).alias("__sd")
    )
    z = (F.col(value_col) - F.col("__mean")) / F.col("__sd")
    return (
        df.join(F.broadcast(stats), group_cols)
        # sd == 0 (constant group): z is ±Inf/NaN and NaN compares
        # greater-than-everything in Spark/DuckDB, which would flag the
        # whole group; a constant group has no outliers by definition.
        .where(F.col("__sd") > 0)
        .withColumn("z", F.round(z, 6))
        .where(F.abs(F.col("z")) >= threshold)
        .select(*id_cols, *group_cols, value_col, "z")
    )


def ewma(
    bucketed: DataFrame,
    series_cols: list[str],
    bucket_col: str,
    value_col: str,
    k: int = 6,
    out_col: str = "ewma",
) -> DataFrame:
    """Truncated exponentially-weighted moving average over the trailing
    ``k`` buckets with integer halving weights 2^(k-1) ... 1 (decay 0.5
    per bucket), renormalized over the lags that exist near the series
    head. Weights are powers of two, so value x weight is an EXACT
    double op (exponent shift, no rounding); each product then casts to
    DECIMAL(38,18) so the sum is order-independent — the final division
    is the only inexact op, bit-stable across engines (a float decay
    like 0.9^j would not be: pow() is not correctly rounded). One
    shuffle on the series key; the k lag() reads share one window sort.
    """
    if not 1 <= k <= 32:
        raise ValueError("k must be in [1, 32]")
    w = Window.partitionBy(*series_cols).orderBy(bucket_col)
    num = None
    den = None
    for j in range(k):
        weight = 1 << (k - 1 - j)
        lagged = F.lag(value_col, j).over(w) if j else F.col(value_col)
        term = F.coalesce(
            (lagged * F.lit(float(weight))).cast("decimal(38,18)"),
            F.lit(0).cast("decimal(38,18)"),
        )
        wterm = F.when(lagged.isNotNull(), F.lit(weight)).otherwise(F.lit(0))
        num = term if num is None else num + term
        den = wterm if den is None else den + wterm
    return bucketed.withColumn(
        out_col, F.round(num.cast("double") / den, 6)
    )


def histogram(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    lo: float,
    hi: float,
    bins: int,
) -> DataFrame:
    """Equi-width histogram per group: ``bins`` buckets over [lo, hi),
    out-of-range values clamped into the edge bins (so every row lands
    somewhere — the feature-analysis convention, not SQL width_bucket's
    overflow buckets). Bin index = floor((v - lo) / width), clamped to
    [0, bins-1]; bin edges are computed from the SAME IEEE ops on both
    engines, so assignment is bit-deterministic.

    Bounds are caller-supplied constants, NOT a data-dependent min/max —
    one pass, one hash aggregate on (group, bin) with map-side partials;
    the shuffle carries at most |groups| x bins rows per task. Scale-safe
    at any row count.
    """
    if bins < 1:
        raise ValueError("bins must be >= 1")
    if not hi > lo:
        raise ValueError("hi must be > lo")
    width = (hi - lo) / bins
    v = F.col(value_col).cast("double")
    # Clamp on the LONG floor result first, cast to int after: casting
    # before the clamp would let a |v| huge enough to overflow int32 wrap
    # under the non-ANSI cast (possibly negative -> clamped to bin 0
    # instead of bins-1), diverging from engines that widen or error.
    bin_ = F.greatest(
        F.lit(0).cast("bigint"),
        F.least(
            F.lit(bins - 1).cast("bigint"),
            F.floor((v - F.lit(float(lo))) / F.lit(float(width))),
        ),
    ).cast("int")
    return (
        df.where(v.isNotNull())
        .groupBy(*group_cols, bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "bin_lo", F.round(F.lit(float(lo)) + F.col("bin") * F.lit(float(width)), 6)
        )
    )


def pivot_counts(
    df: DataFrame,
    row_col: str,
    pivot_col: str,
    values: list[str],
) -> DataFrame:
    """Wide rollup: one row per ``row_col``, one count column per value of
    ``pivot_col`` (explicit ``values`` list — no distinct-values pre-job,
    which on an unbounded key would both cost a pass and produce an
    unbounded schema). Empty cells are 0, not NULL.

    Plan: Spark's pivot with explicit values compiles to ONE hash
    aggregate with |values| conditional counts — identical shuffle shape
    to a narrow groupBy, just wider partials. Scale-safe as long as
    ``values`` is a small fixed vocabulary (event types, languages, ...).
    """
    if not values:
        raise ValueError("values must be non-empty")
    out = df.groupBy(row_col).pivot(pivot_col, values).count()
    # count() leaves NULL where a (row, value) cell saw no rows.
    return out.select(
        row_col,
        *[F.coalesce(F.col(f"`{v}`"), F.lit(0)).alias(v) for v in values],
    )


def mad_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    threshold: float = 3.5,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Robust per-group outliers via median absolute deviation: flag rows
    where |0.6745 * (v - median) / MAD| >= ``threshold`` (the classic
    modified z-score; 0.6745 rescales MAD to sigma-equivalents under
    normality). Unlike mean/stddev z-scores, a few extreme values cannot
    mask themselves by inflating the spread estimate.

    Medians are EXACT (Spark ``percentile``, DuckDB ``quantile_cont`` —
    both linear-interpolated, same IEEE arithmetic), computed in two
    group aggregates: median of v, then median of |v - median|. Both
    aggregate results are tiny (one row per group) and broadcast back
    onto the scan, so the data path is a narrow filter — the events
    themselves never shuffle. Zero-MAD (majority-constant) groups
    produce no outliers, mirroring zscore_outliers' zero-sd guard.

    Exact percentile holds all group values per partial — at extreme
    per-group cardinality swap in approx_percentile (sketch-mergeable,
    see operators/sketches.py) and re-certify with its error envelope.
    """
    id_cols = id_cols or []
    v = F.col(value_col).cast("double")
    med = df.groupBy(*group_cols).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("__med")
    )
    dev = (
        df.join(F.broadcast(med), group_cols)
        .groupBy(*group_cols)
        .agg(
            F.expr(f"percentile(abs({value_col} - __med), 0.5)").alias("__mad"),
            F.first("__med").alias("__med"),
        )
    )
    z = F.lit(0.6745) * (v - F.col("__med")) / F.col("__mad")
    return (
        df.join(F.broadcast(dev), group_cols)
        .where(F.col("__mad") > 0)
        .withColumn("mz", F.round(z, 6))
        .where(F.abs(F.col("mz")) >= threshold)
        .select(*id_cols, *group_cols, value_col, "mz")
    )


def _exact_sum(col) -> "F.Column":
    """Order-independent float summation: per-row doubles cast to
    DECIMAL(38,18) (exact addition), summed, cast back to double (ONE
    rounding). The per-row products feeding this must stay plain double
    ops — decimal*decimal would hit Spark's precision-loss scale
    clamping, which DuckDB doesn't mirror (see zscore_outliers)."""
    return F.sum(col.cast("decimal(38,18)")).cast("double")


def trend_slope(
    df: DataFrame,
    t_us_col: str,
    value_col: str,
    group_cols: list[str],
    origin_us: int,
) -> DataFrame:
    """Per-group OLS trend: slope (and intercept) of value over time in
    units per SECOND — the drift detector of series monitoring (is this
    metric creeping up?). slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx²) with
    x = (t_us - origin_us) / 1e6.

    Centering x at a caller-fixed ``origin_us`` keeps the moment sums
    inside DECIMAL(38,18)'s 20 integer digits (raw epoch-µs squared
    overflows any fixed-point accumulator) AND removes the catastrophic
    cancellation a far origin inflicts on n*Sxx - Sx². Per-row x, x*x,
    x*y are single correctly-rounded IEEE ops (identical across
    engines); sums are decimal-accumulated (order-independent); the
    closing arithmetic is a handful of double ops. One hash aggregate,
    map-side partials, |groups| output rows — nothing else moves.
    Constant-x groups (n < 2 or one distinct timestamp) return NULL
    slope rather than a 0/0 NaN. Output: (group..., n, slope,
    intercept), slope/intercept rounded to 6.
    """
    x = (F.col(t_us_col) - F.lit(origin_us)).cast("double") / F.lit(1e6)
    y = F.col(value_col).cast("double")
    agg = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        _exact_sum(x).alias("__sx"),
        _exact_sum(y).alias("__sy"),
        _exact_sum(x * x).alias("__sxx"),
        _exact_sum(x * y).alias("__sxy"),
    )
    n = F.col("n").cast("double")
    den = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    slope = (n * F.col("__sxy") - F.col("__sx") * F.col("__sy")) / den
    intercept = (F.col("__sy") - slope * F.col("__sx")) / n
    return agg.select(
        *group_cols,
        "n",
        F.round(F.when(den > 0, slope), 6).alias("slope"),
        F.round(F.when(den > 0, intercept), 6).alias("intercept"),
    )


def autocorr_lag(
    df: DataFrame,
    t_us_col: str,
    value_col: str,
    group_cols: list[str],
    order_cols: list[str] | None = None,
    lag: int = 1,
) -> DataFrame:
    """Per-group lag-k autocorrelation: Pearson r between v(t) and
    v(t-k) over the time-ordered series — the seasonality/persistence
    screen (r ~ 1: trending/sticky, r ~ 0: noise, r < 0: oscillating).

    Ordering is (t, *order_cols) with the caller passing a unique
    tiebreaker (e.g. event_id) so lag() is deterministic under equal
    timestamps. One shuffle for the lag window (sort within group),
    then the same decimal-summed product-moment recipe as trend_slope
    on the (v, v_prev) pairs. Groups with < lag+2 pairs or zero
    variance on either side return NULL r. Output: (group..., n_pairs,
    r) with r rounded to 6.
    """
    order_cols = order_cols or []
    w = Window.partitionBy(*group_cols).orderBy(t_us_col, *order_cols)
    pairs = (
        df.withColumn("__prev", F.lag(value_col, lag).over(w))
        .where(F.col("__prev").isNotNull())
    )
    x = F.col("__prev").cast("double")
    y = F.col(value_col).cast("double")
    agg = pairs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        _exact_sum(x).alias("__sx"),
        _exact_sum(y).alias("__sy"),
        _exact_sum(x * x).alias("__sxx"),
        _exact_sum(y * y).alias("__syy"),
        _exact_sum(x * y).alias("__sxy"),
    )
    n = F.col("n_pairs").cast("double")
    cov = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    vx = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    vy = n * F.col("__syy") - F.col("__sy") * F.col("__sy")
    r = cov / F.sqrt(vx * vy)
    return agg.select(
        *group_cols,
        "n_pairs",
        F.round(F.when((vx > 0) & (vy > 0), r), 6).alias("r"),
    )


def corr_pairs(
    df: DataFrame,
    series_col: str,
    bucket_col: str,
    value_col: str,
) -> DataFrame:
    """Cross-series correlation matrix (upper triangle): Pearson r
    between every pair of series over their SHARED buckets — "which
    metrics move together" across pre-bucketed series (feed it a
    per-(series, bucket) aggregate, e.g. hourly means).

    Plan: self-equi-join on the bucket key pairs up aligned samples
    (shuffle carries the bucketed aggregate, |series| x |buckets| rows,
    already collapsed from raw events); series_a < series_b keeps one
    triangle. Product moments use the decimal-sum recipe; pairs with
    zero variance on either side return NULL r. The pair aggregate's
    output is |series|² rows — tiny for metric fleets; for thousands of
    series, pre-filter to candidate pairs first. Output: (series_a,
    series_b, n, corr) with corr rounded to 6.
    """
    a = df.select(
        F.col(series_col).alias("series_a"),
        F.col(bucket_col).alias("__b"),
        F.col(value_col).cast("double").alias("__va"),
    )
    b = df.select(
        F.col(series_col).alias("series_b"),
        F.col(bucket_col).alias("__b"),
        F.col(value_col).cast("double").alias("__vb"),
    )
    x, y = F.col("__va"), F.col("__vb")
    agg = (
        a.join(b, "__b")
        .where(F.col("series_a") < F.col("series_b"))
        .groupBy("series_a", "series_b")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _exact_sum(x).alias("__sx"),
            _exact_sum(y).alias("__sy"),
            _exact_sum(x * x).alias("__sxx"),
            _exact_sum(y * y).alias("__syy"),
            _exact_sum(x * y).alias("__sxy"),
        )
    )
    nn = F.col("n").cast("double")
    cov = nn * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    vx = nn * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    vy = nn * F.col("__syy") - F.col("__sy") * F.col("__sy")
    r = cov / F.sqrt(vx * vy)
    return agg.select(
        "series_a",
        "series_b",
        "n",
        F.round(F.when((vx > 0) & (vy > 0), r), 6).alias("corr"),
    )


def iqr_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    k: float = 1.5,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Per-group Tukey-fence outliers: flag rows outside
    [q1 - k*IQR, q3 + k*IQR] — the box-plot rule, the third member of
    the outlier family next to zscore_outliers (moment-based) and
    mad_outliers (median-based). Quartiles are EXACT (Spark
    ``percentile``, DuckDB ``quantile_cont``, both linear-interpolated
    with the same IEEE arithmetic).

    Plan mirrors mad_outliers: one exact-percentile aggregate (tiny,
    one row per group) broadcast back onto the scan; the data path is a
    narrow filter, the events themselves never shuffle. Zero-IQR
    (majority-constant) groups produce no outliers. Exact percentile
    holds group values per partial — at extreme cardinality swap in the
    approx sketch (operators/sketches.py). Output: id/group/value +
    fences (rounded to 6).
    """
    id_cols = id_cols or []
    q = df.groupBy(*group_cols).agg(
        F.expr(f"percentile({value_col}, 0.25)").alias("__q1"),
        F.expr(f"percentile({value_col}, 0.75)").alias("__q3"),
    )
    iqr = F.col("__q3") - F.col("__q1")
    fences = q.select(
        *group_cols,
        F.round(F.col("__q1") - F.lit(k) * iqr, 6).alias("lo_fence"),
        F.round(F.col("__q3") + F.lit(k) * iqr, 6).alias("hi_fence"),
        iqr.alias("__iqr"),
    )
    v = F.col(value_col).cast("double")
    return (
        df.join(F.broadcast(fences), group_cols)
        .where(F.col("__iqr") > 0)
        .where((v < F.col("lo_fence")) | (v > F.col("hi_fence")))
        .select(*id_cols, *group_cols, value_col, "lo_fence", "hi_fence")
    )


def rollup_counts(
    df: DataFrame,
    dims: list[str],
    value_col: str,
) -> DataFrame:
    """Hierarchical subtotals in ONE pass: count + exact sum for every
    ROLLUP prefix of ``dims`` (full detail, each ancestor level, grand
    total), tagged with the standard grouping_id bit vector — the
    pre-aggregated cube slice dashboards page through, produced without
    re-scanning per level.

    Spark compiles rollup() to a single Expand + hash aggregate:
    each input row emits len(dims)+1 grouping-set rows map-side, then
    one shuffle on the (dims, grouping id) key — strictly cheaper than
    len(dims)+1 separate aggregates over the scan at 100 TB. NULL dim
    values would be ambiguous with subtotal NULLs, so they are filtered
    up front (ANSI GROUPING() disambiguates; the bit vector is emitted
    for exactly that reason). Output: dims..., grouping_id, cnt,
    sum_v (decimal-accumulated, rounded to 6).
    """
    clean = df
    for d in dims:
        clean = clean.where(F.col(d).isNotNull())
    v = F.col(value_col).cast("double")
    return (
        clean.rollup(*dims)
        .agg(
            F.grouping_id().alias("grouping_id"),
            F.count(F.lit(1)).alias("cnt"),
            F.round(_exact_sum(v), 6).alias("sum_v"),
        )
        .select(*dims, "grouping_id", "cnt", "sum_v")
    )


def unpivot_metrics(
    df: DataFrame,
    id_cols: list[str],
    value_cols: list[str],
    key_col: str = "metric",
    value_col: str = "value",
) -> DataFrame:
    """Wide -> long reshaping: one output row per (id row, metric
    column), the inverse of pivot_counts — what a wide per-bucket stats
    table goes through before a generic long-format sink (time-series
    stores, plotting layers) can ingest it.

    Uses Spark's native ``unpivot`` (Expand node: each input row fans
    out to len(value_cols) rows map-side — a narrow transform, NO
    shuffle, no join; the melt never touches more than one input row).
    Values share one cast-to-double slot as the SQL UNPIVOT contract
    requires. Output: id_cols..., key_col, value_col.
    """
    return df.unpivot(
        [F.col(c) for c in id_cols],
        [F.col(c) for c in value_cols],
        key_col,
        value_col,
    )


def column_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """Data-quality profile of a table in one narrow pass per column
    family: (column, n_rows, n_null, n_distinct) — the drift/breakage
    screen a pipeline runs before trusting a new drop of data (a column
    suddenly 40% NULL or collapsed to one distinct value is a broken
    upstream join, caught before training).

    count + count-nulls come from ONE hash-aggregate pass (map-side
    partials, no data shuffled beyond per-partition counters);
    count_distinct adds the standard distinct expand (one shuffle per
    distinct column, partials collapse map-side first). The wide 1-row
    result melts to long via the same Expand as unpivot_metrics. At
    100 TB, swap exact distinct for approx_count_distinct and re-grade
    — the plan shape is unchanged. Output: (column, n_rows, n_null,
    n_distinct).
    """
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"__n_{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nn_{c}"),
            F.count_distinct(F.col(c)).alias(f"__nd_{c}"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', __n_{c}, __nn_{c}, __nd_{c}" for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(column, n_rows, n_null, n_distinct)"
    )


def quantile_transform(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    id_cols: list[str] | None = None,
    out_col: str = "pct_rank",
) -> DataFrame:
    """Per-group quantile (percent-rank) normalization of a feature:
    each value maps to (rank - 1) / (n - 1) within its group — the
    distribution-free rescaling used to make skewed features comparable
    across groups (scikit-learn's QuantileTransformer shape, exact).
    Ties share a rank (standard percent_rank), identically in Spark and
    DuckDB; the single-row group edge case yields 0.0. Rounds to 6.

    One shuffle: the rank window sorts each group once. Per-group data
    must fit a partition's sort budget — at extreme group cardinality
    swap in approx_percentile bin edges (operators/sketches.py) and
    grade values against the sketch instead.
    """
    id_cols = id_cols or []
    # NULLS LAST to match DuckDB/ANSI default ordering (Spark's ASC
    # default is NULLS FIRST, which would shift every in-group rank if
    # the column ever carries NULLs).
    w = Window.partitionBy(*group_cols).orderBy(
        F.col(value_col).asc_nulls_last()
    )
    return df.select(
        *id_cols,
        *group_cols,
        value_col,
        F.round(F.percent_rank().over(w), 6).alias(out_col),
    )


def cusum_changepoint(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    ts_us_col: str,
    id_col: str,
) -> DataFrame:
    """CUSUM change-point screen per series: the cumulative sum of
    deviations from the series mean, ``S_i = sum_{j<=i} (x_j - mean)``,
    peaks (in absolute value) at the most likely single change point —
    the classic Page-style drift detector reduced to its offline form.
    A flat-but-shifted series shows a tent-shaped |S| with a sharp apex;
    a stationary series stays near zero. Output one row per series:
    (group..., n_points, cp_t_us, cusum_peak) where cp_t_us is the
    peak's timestamp and cusum_peak the SIGNED peak value (sign says
    drift-up-then-down vs the reverse).

    Determinism: the mean is a decimal-accumulated sum divided once;
    per-row deviations are plain double subtractions of identical
    numbers; the running sum accumulates those deviations as
    DECIMAL(38,18) over a (ts, id)-ordered frame, so neither partial-agg
    order nor frame order can wobble a bit. Peak selection orders by
    |S| desc with (ts, id) tie-break.

    Plan: ONE shuffle on the series key serves all three windows (mean,
    running sum, peak rank) — they share the partition key, so Spark
    plans one Exchange + two Window operators + a filter. Per-series
    cardinality bounds window memory; at 100 TB the knob is the series
    key's granularity, exactly like ``time_weighted_avg``.
    """
    w_all = Window.partitionBy(*group_cols)
    w_run = (
        Window.partitionBy(*group_cols)
        .orderBy(F.col(ts_us_col), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    mean = (
        F.sum(F.col(value_col).cast("decimal(38,18)")).over(w_all)
        .cast("double")
        / F.count(F.lit(1)).over(w_all)
    )
    dev = F.col(value_col) - mean
    s = F.sum(dev.cast("decimal(38,18)")).over(w_run)
    # the peak rank orders by the MATERIALIZED running sum — a window
    # expression can't appear inside another window's ORDER BY
    w_peak = Window.partitionBy(*group_cols).orderBy(
        F.abs(F.col("__s")).desc(), F.col(ts_us_col), F.col(id_col)
    )
    return (
        df.withColumn("__s", s)
        .withColumn("__n", F.count(F.lit(1)).over(w_all))
        .withColumn("__rn", F.row_number().over(w_peak))
        .where(F.col("__rn") == 1)
        .select(
            *group_cols,
            F.col("__n").alias("n_points"),
            F.col(ts_us_col).alias("cp_t_us"),
            F.round(F.col("__s").cast("double"), 6).alias("cusum_peak"),
        )
    )


def seasonal_residuals(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    ts_col: str,
    id_col: str,
) -> DataFrame:
    """Seasonal-naive residuals: expected value = the series' mean for
    that hour-of-day (the simplest seasonal profile), residual = actual
    minus expected. The de-seasonalized residual is what outlier
    screens should consume when the metric has a daily rhythm — a value
    normal at peak hour is anomalous at 4am, and a raw z-score
    (``zscore_outliers``) can't see that. Output: one row per event
    with (group..., id, hod, value, expected, residual).

    Plan: one shuffle on (series, hour-of-day) — the profile aggregate
    is a window over that key, so profile computation and residual
    attachment happen in a single pass with no join. The profile
    cardinality is series x 24; residuals stay narrow. Determinism:
    decimal-summed mean divided once, residual a double subtraction of
    identical numbers, rounded to 6.
    """
    hod = F.hour(F.col(ts_col))
    base = df.withColumn("__hod", hod.cast("long"))
    w = Window.partitionBy(*(group_cols + ["__hod"]))
    expected = (
        F.sum(F.col(value_col).cast("decimal(38,18)")).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    return base.select(
        *group_cols,
        F.col(id_col),
        F.col("__hod").alias("hod"),
        F.col(value_col).alias("value"),
        F.round(expected, 6).alias("expected"),
        F.round(F.col(value_col) - expected, 6).alias("residual"),
    )


def winsorize_stats(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    lo: float = 0.05,
    hi: float = 0.95,
) -> DataFrame:
    """Per-group winsorization summary: exact p-lo/p-hi caps, values
    clamped into [lo_cap, hi_cap], and the robustified aggregate the
    tail-sensitive metrics should consume — the standard treatment for
    heavy-tailed training-signal columns (loss spikes, token counts)
    before averaging.

    Plan mirrors iqr_outliers: ONE exact-percentile aggregate (a row
    per group) broadcast back onto a narrow scan; the data rows never
    shuffle. The caps are rounded to 6 BEFORE clamping so the clamp
    boundary is bit-identical in any engine (an unrounded cap is the
    one float the two engines could disagree on at the last ulp).
    Clamped sums accumulate as decimal. At extreme group cardinality
    swap the exact percentile for the approx sketch
    (operators/sketches.py) — same shape.

    Output: group, n, lo_cap, hi_cap, n_clip_lo, n_clip_hi,
    mean_winsorized (all floats rounded to 6).
    """
    q = df.groupBy(*group_cols).agg(
        F.round(F.expr(f"percentile({value_col}, {lo})"), 6).alias("lo_cap"),
        F.round(F.expr(f"percentile({value_col}, {hi})"), 6).alias("hi_cap"),
    )
    v = F.col(value_col).cast("double")
    w = F.least(F.greatest(v, F.col("lo_cap")), F.col("hi_cap"))
    return (
        df.join(F.broadcast(q), group_cols)
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.first("lo_cap").alias("lo_cap"),
            F.first("hi_cap").alias("hi_cap"),
            F.sum(F.when(v < F.col("lo_cap"), 1).otherwise(0)).alias(
                "n_clip_lo"
            ),
            F.sum(F.when(v > F.col("hi_cap"), 1).otherwise(0)).alias(
                "n_clip_hi"
            ),
            # divide by the NON-NULL value count: percentile ignored
            # NULLs when computing the caps, so a count(*) denominator
            # would silently understate the mean on NULL-bearing input
            F.round(_exact_sum(w) / F.count(v), 6).alias(
                "mean_winsorized"
            ),
        )
    )


def inter_event_stats(
    df: DataFrame,
    group_cols: list[str],
    t_us_col: str,
    id_col: str,
) -> DataFrame:
    """Per-entity inter-arrival-time profile: gap count, mean/max gap
    (seconds), and burstiness B = (sigma - mu) / (sigma + mu) — the
    -1..1 regularity index (B<0 periodic, B~0 Poisson, B>0 bursty)
    used to screen bot-like vs organic activity streams.

    One lag window per entity (single shuffle on the entity key —
    deterministic (t, id) ordering), then one hash aggregate of decimal
    gap moments; sigma is the population std from (sum, sumsq, n) so
    nothing but three partial sums per entity moves. Gaps are integer
    microsecond differences divided by 1e6 once — exact in double.
    Entities with fewer than 2 events drop (no gaps).

    Output: group, n_events, n_gaps, mean_gap_s, max_gap_s, burstiness
    (floats rounded to 6; burstiness NULL for zero-variance + zero-mean
    degenerate streams).
    """
    w = Window.partitionBy(*group_cols).orderBy(t_us_col, id_col)
    t = F.col(t_us_col).cast("long")
    gap = (t - F.lag(t).over(w)) / F.lit(1e6)
    gaps = df.select(*group_cols, gap.alias("__g"))
    n = F.sum(F.when(F.col("__g").isNotNull(), 1).otherwise(0))
    s1 = F.sum(F.col("__g").cast("decimal(38,18)")).cast("double")
    s2 = F.sum(
        (F.col("__g") * F.col("__g")).cast("decimal(38,18)")
    ).cast("double")
    mu = s1 / n
    var = F.greatest(s2 / n - mu * mu, F.lit(0.0))
    sigma = F.sqrt(var)
    return (
        gaps.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            n.alias("n_gaps"),
            F.round(mu, 6).alias("mean_gap_s"),
            F.round(F.max("__g"), 6).alias("max_gap_s"),
            F.round(
                F.when(sigma + mu > 0, (sigma - mu) / (sigma + mu)), 6
            ).alias("burstiness"),
        )
        .where(F.col("n_gaps") > 0)
    )


def welch_ttest(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Welch's unequal-variance t-test between every pair of groups:
    the A/B screen for "did this cohort's metric actually move" that
    does not assume equal variances (Welch 1947). Reports t and the
    Welch-Satterthwaite degrees of freedom; significance thresholding
    is the caller's policy knob.

    ONE moment aggregate over the data (decimal sums; a row per group),
    then a tiny ordered self-join builds the G*(G-1)/2 pairs — the
    corr_pairs shape: nothing beyond three partial sums per group ever
    moves, so the cost at 100 TB is the scan. Sample variance uses
    n-1; groups with n<2 or zero variance on BOTH sides drop.

    Output: group_a, group_b, n_a, n_b, mean_diff, t_stat, dof
    (floats rounded to 6).
    """
    m = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("__n"),
        _exact_sum(F.col(value_col).cast("double")).alias("__s1"),
        _exact_sum(
            F.col(value_col).cast("double") * F.col(value_col)
        ).alias("__s2"),
    )
    n = F.col("__n")
    mean = F.col("__s1") / n
    svar = (F.col("__s2") - F.col("__s1") * F.col("__s1") / n) / (n - 1)
    # Both pair sides read the same per-group moments; persisted
    # eagerly (|groups| rows) so the corpus aggregate runs once.
    m = scoped_persist(
        m.select(
            F.col(group_col).alias("__g"),
            n.alias("__n"),
            mean.alias("__m"),
            F.greatest(svar, F.lit(0.0)).alias("__v"),
        ).where(F.col("__n") >= 2),
        "analytics.welch_moments",
        eager=True,
    )
    a = m.select(
        F.col("__g").alias("group_a"), F.col("__n").alias("__na"),
        F.col("__m").alias("__ma"), F.col("__v").alias("__va"),
    )
    b = m.select(
        F.col("__g").alias("group_b"), F.col("__n").alias("__nb"),
        F.col("__m").alias("__mb"), F.col("__v").alias("__vb"),
    )
    se2 = F.col("__va") / F.col("__na") + F.col("__vb") / F.col("__nb")
    dof_num = se2 * se2
    dof_den = (
        (F.col("__va") / F.col("__na")) * (F.col("__va") / F.col("__na"))
        / (F.col("__na") - 1)
        + (F.col("__vb") / F.col("__nb")) * (F.col("__vb") / F.col("__nb"))
        / (F.col("__nb") - 1)
    )
    return (
        a.crossJoin(F.broadcast(b))
        .where(F.col("group_a") < F.col("group_b"))
        .where(se2 > 0)
        .select(
            "group_a", "group_b",
            F.col("__na").alias("n_a"), F.col("__nb").alias("n_b"),
            F.round(F.col("__ma") - F.col("__mb"), 6).alias("mean_diff"),
            F.round(
                (F.col("__ma") - F.col("__mb")) / F.sqrt(se2), 6
            ).alias("t_stat"),
            F.round(dof_num / dof_den, 6).alias("dof"),
        )
    )


def chisq_independence(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Chi-square test of independence between two categorical columns
    (is event mix drifting across the week? does source predict
    language?) — the contingency-table screen run before trusting a
    segmentation.

    ONE (a, b) count aggregate builds the observed table; the FULL
    |A|x|B| grid (empty cells contribute e, not 0 — dropping them
    understates the statistic) comes from crossing the two marginal
    tables and left-joining the observed counts; everything past the
    first aggregate runs over tiny categorical-cardinality tables.
    Each cell's (o-e)^2/e term is a deterministic double (integer
    counts, one product, one division); terms accumulate as decimal so
    the final statistic is addition-order-free.

    Output: one row — chi2_stat (rounded to 6), dof, n,
    n_cells (the full grid size).

    NULL categories are excluded up front: the grid's equi-join can
    never match a NULL key, so a NULL group would keep its mass in the
    marginals while contributing an observed 0 to the grid — an
    internally inconsistent (inflated) statistic. Rows where either
    column is NULL are dropped before counting, which keeps observed,
    marginals, dof and n all consistent on the same population.
    """
    df = df.where(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
    # The observed table fans out to FOUR consumers (both marginals,
    # the total, the grid join); without materialization each one
    # re-executes the corpus aggregate — 4 scans at 100 TB. Persisted
    # eagerly: it is |A|x|B| rows, trivially cacheable.
    obs = scoped_persist(
        df.groupBy(col_a, col_b).agg(F.count(F.lit(1)).alias("__o")),
        "analytics.chisq_obs",
        eager=True,
    )
    ra = obs.groupBy(col_a).agg(F.sum("__o").alias("__ra"))
    cb = obs.groupBy(col_b).agg(F.sum("__o").alias("__cb"))
    tot = obs.agg(F.sum("__o").alias("__n"))
    grid = (
        ra.crossJoin(F.broadcast(cb))
        .join(F.broadcast(obs), [col_a, col_b], "left")
        .crossJoin(F.broadcast(tot))
        .withColumn("__o", F.coalesce(F.col("__o"), F.lit(0)))
    )
    e = F.col("__ra").cast("double") * F.col("__cb") / F.col("__n")
    term = (F.col("__o") - e) * (F.col("__o") - e) / e
    return grid.agg(
        F.round(_exact_sum(term), 6).alias("chi2_stat"),
        (
            (F.count_distinct(col_a) - 1)
            * (F.count_distinct(col_b) - 1)
        ).alias("dof"),
        F.first("__n").alias("n"),
        F.count(F.lit(1)).alias("n_cells"),
    )


def concentration_stats(
    df: DataFrame,
    key_col: str,
) -> DataFrame:
    """Activity-concentration profile of a key column: Shannon entropy
    (nats) of the per-key share distribution, its 0-1 normalized form,
    and the Gini coefficient — the "is one user / domain / source
    dominating the corpus" screen a sampling policy reads before
    weighting.

    ONE count aggregate per key (the only pass over the data), then
    windowed rank + decimal-summed terms over the |keys|-sized table.
    Gini uses the ordered-rank identity G = (2*sum(i*x_i))/(n*sum(x))
    - (n+1)/n with a deterministic (count, key) ordering; entropy
    terms p*ln(p) are per-key doubles accumulated as decimal (ulp
    noise stays ~1e-14, far under the round-6 contract).

    Output: one row — n_keys, n_total, entropy, entropy_norm, gini
    (floats rounded to 6).
    """
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("__c"))
    w = Window.orderBy("__c", key_col)
    ranked = counts.select(
        F.col("__c").cast("long").alias("__c"),
        F.row_number().over(w).cast("long").alias("__i"),
    )
    tot = F.sum("__c")
    nk = F.count(F.lit(1))
    ent = -F.sum(
        (F.col("__c") * F.log(F.col("__c"))).cast("decimal(38,18)")
    ).cast("double")
    # -sum(p ln p) = ln(T) - sum(c ln c)/T  (exact integer c, one /T)
    entropy = F.log(tot.cast("double")) + ent / tot
    # rank*count products are ~n_keys*n_total per term — far past the
    # bigint range at advertised corpus scale (1e7 keys x 1e12 rows),
    # so each term is cast to decimal BEFORE multiply and the sum stays
    # decimal(38,0) (mirroring the entropy term's treatment); the
    # nk*tot denominator likewise computes in double, not long.
    rank_mass = F.sum(
        F.col("__i").cast("decimal(19,0)") * F.col("__c").cast("decimal(19,0)")
    ).cast("double")
    gini = (
        F.lit(2.0) * rank_mass / (nk.cast("double") * tot.cast("double"))
        - (nk + F.lit(1.0)) / nk
    )
    return ranked.agg(
        nk.alias("n_keys"),
        tot.alias("n_total"),
        F.round(entropy, 6).alias("entropy"),
        F.round(
            F.when(nk > 1, entropy / F.log(nk.cast("double"))).otherwise(
                F.lit(0.0)
            ),
            6,
        ).alias("entropy_norm"),
        F.round(gini, 6).alias("gini"),
    )


def cooccurrence(
    df: DataFrame,
    key_col: str,
    item_col: str,
) -> DataFrame:
    """Pairwise item co-occurrence over per-key distinct item sets
    (which event types / products / sources show up for the same
    user?): support counts + Jaccard affinity per unordered pair —
    the association screen behind "users who error also churn".

    Plan: ONE distinct on (key, item) — two-phase, dedups map-side —
    then a self-equi-join on the key builds pairs; with |items| bounded
    (categorical), pairs per key are |items|^2 at worst and the final
    aggregate is item-pair-cardinality tiny. Integer counts, one
    rounded division. Output: (item_a, item_b, n_a, n_b, n_both,
    jaccard)."""
    # The distinct (key, item) table fans out to three consumers (both
    # self-join sides + the size aggregate); persisted eagerly so the
    # corpus-wide distinct runs once, not three times. The cached table
    # is keys x items pairs — orders of magnitude under the corpus.
    d = scoped_persist(
        df.select(
            F.col(key_col).alias("__k"), F.col(item_col).alias("__i")
        ).distinct(),
        "analytics.cooccurrence_d",
        eager=True,
    )
    sizes = d.groupBy("__i").agg(F.count(F.lit(1)).alias("__n"))
    a = d.select(F.col("__k"), F.col("__i").alias("item_a"))
    b = d.select(F.col("__k"), F.col("__i").alias("item_b"))
    pairs = (
        a.join(b, "__k")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    na = sizes.select(
        F.col("__i").alias("item_a"), F.col("__n").alias("n_a")
    )
    nb = sizes.select(
        F.col("__i").alias("item_b"), F.col("__n").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(na), "item_a")
        .join(F.broadcast(nb), "item_b")
        .select(
            "item_a", "item_b", "n_a", "n_b", "n_both",
            F.round(
                F.col("n_both")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both"))
                .cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def rfm_scores(
    df: DataFrame,
    key_col: str,
    date_col: str,
    amount_col: str,
) -> DataFrame:
    """RFM customer segmentation: recency (days since last order,
    against the corpus max date), frequency (order count), monetary
    (decimal-summed spend), each scored 1-5 by exact quintile
    thresholds — the classic marketing cut, computed engine-stably.

    Plan: ONE scan of the orders — the per-key aggregate keeps
    max(date) so recency derives as datediff(global max, key max) on
    the tiny per-key table, with the global reference itself an
    aggregate OF that table (min over dates commutes with the diff;
    no pre-group crossJoin, no second corpus scan). The per-key table
    is persisted eagerly because three consumers fan out of it (the
    reference max, the percentile thresholds, the scored output). One
    percentile aggregate produces all 12 thresholds, broadcast back as
    a single row. Thresholds are rounded to 6 before comparison so the
    quintile boundaries are bit-identical in any engine; scores are
    strictly-greater counts (1 + #thresholds below the value), so ties
    at a boundary score identically everywhere. Recency scores on
    -days (more recent = higher). Output: (key, recency_days,
    frequency, monetary, r_score, f_score, m_score)."""
    per0 = scoped_persist(
        df.groupBy(key_col).agg(
            F.max(date_col).alias("__last"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(
                _exact_sum(F.col(amount_col).cast("double")), 6
            ).alias("monetary"),
        ),
        "analytics.rfm_per_key",
        eager=True,
    )
    ref = per0.agg(F.max("__last").alias("__ref"))
    per = (
        per0.crossJoin(F.broadcast(ref))
        .select(
            key_col,
            F.datediff(F.col("__ref"), F.col("__last"))
            .cast("long")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    qs = [0.2, 0.4, 0.6, 0.8]

    def _thresholds(col: str, prefix: str) -> list:
        return [
            F.round(F.expr(f"percentile({col}, {q})"), 6).alias(
                f"{prefix}{i}"
            )
            for i, q in enumerate(qs)
        ]

    th = per.agg(
        *_thresholds("recency_days", "__r"),
        *_thresholds("frequency", "__f"),
        *_thresholds("monetary", "__m"),
    )

    def _score(col, prefix, invert=False):
        s = F.lit(1)
        for i in range(4):
            t = F.col(f"{prefix}{i}")
            s = s + (
                (col < t) if invert else (col > t)
            ).cast("int")
        return s.cast("long")

    return (
        per.crossJoin(F.broadcast(th))
        .select(
            key_col, "recency_days", "frequency", "monetary",
            _score(F.col("recency_days"), "__r", invert=True).alias(
                "r_score"
            ),
            _score(F.col("frequency"), "__f").alias("f_score"),
            _score(F.col("monetary"), "__m").alias("m_score"),
        )
    )


def profile_diff(
    a: DataFrame, b: DataFrame, cols: list[str]
) -> DataFrame:
    """Snapshot-to-snapshot drift audit: :func:`column_profile` of two
    drops of the same table joined per column, with the rate deltas a
    data owner actually reads — the "did yesterday's crawl change
    shape" gate run BEFORE the new drop enters training. A null-rate
    jump is a broken upstream join; a distinct-count collapse is a
    default value flooding the column; a distinct explosion is an id
    leaking into a categorical.

    Two single-pass profiles (each one hash aggregate + the distinct
    expands), a |cols|-row join, pure arithmetic after. Rates round to
    6. Output per column: (column, n_a, n_b, null_rate_a, null_rate_b,
    null_rate_delta, distinct_a, distinct_b, distinct_ratio) —
    distinct_ratio is b/a (NULL when a profile side is empty).
    """
    pa = column_profile(a, cols).select(
        "column",
        F.col("n_rows").alias("n_a"),
        F.col("n_null").alias("__null_a"),
        F.col("n_distinct").alias("distinct_a"),
    )
    pb = column_profile(b, cols).select(
        "column",
        F.col("n_rows").alias("n_b"),
        F.col("n_null").alias("__null_b"),
        F.col("n_distinct").alias("distinct_b"),
    )
    ra = F.when(
        F.col("n_a") > 0, F.round(F.col("__null_a") / F.col("n_a"), 6)
    )
    rb = F.when(
        F.col("n_b") > 0, F.round(F.col("__null_b") / F.col("n_b"), 6)
    )
    return pa.join(pb, "column").select(
        "column",
        "n_a",
        "n_b",
        ra.alias("null_rate_a"),
        rb.alias("null_rate_b"),
        F.round(rb - ra, 6).alias("null_rate_delta"),
        "distinct_a",
        "distinct_b",
        F.when(
            F.col("distinct_a") > 0,
            F.round(F.col("distinct_b") / F.col("distinct_a"), 6),
        ).alias("distinct_ratio"),
    )
