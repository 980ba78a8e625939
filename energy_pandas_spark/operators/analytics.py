"""Core analytics operators (SURVEY.md §2.2-2.4).

Scale notes (100 TB design):

- ``normalize``/``capacity_factor``/``time_at_min`` need whole-column
  statistics. We compute them as a 1-row aggregate DataFrame and
  broadcast-cross-join it back, keeping the whole plan lazy and fully
  distributed (one partial+final agg, no driver round-trip, no
  single-partition window).
- ``ldc`` (load-duration curve) needs a global descending rank. A naive
  ``row_number() OVER (ORDER BY v DESC)`` collapses to ONE partition, so
  ``global_order_index`` range-partitions by the sort key, sorts
  within partitions, and assigns contiguous global indexes from
  per-partition row counts (two jobs, every stage distributed).
- ``monthly`` is a plain hash aggregation on a truncated timestamp —
  partial aggregation map-side, one shuffle on the (low-cardinality)
  month key.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..core.timeindex import bucket_floor, freq_to_seconds
from ..util import attach_caches, epoch_micros

__all__ = [
    "dedup_bursts",
    "normalize",
    "ldc",
    "ldc_source",
    "monthly",
    "resample",
    "fill_gaps",
    "diff",
    "zscore_outliers",
    "p_max",
    "capacity_factor",
    "time_at_min",
    "source_side",
    "with_global_stats",
    "degree_days",
    "time_weighted_avg",
    "linear_fit",
    "robust_scale",
    "topk_per_group",
    "skew_stats",
    "rolling_fit",
    "global_order_index",
    "spearman_corr",
    "gini_concentration",
    "seasonal_decompose",
    "seasonal_naive_backtest",
    "cusum_alarms",
    "chi_square_independence",
    "trimmed_mean",
    "cross_correlation",
    "autocorrelation",
]


def _cols(df: DataFrame, value_cols: Sequence[str] | None) -> list[str]:
    if value_cols is not None:
        return list(value_cols)
    return [f.name for f in df.schema.fields if f.dataType.typeName() in ("double", "float")]


def with_global_stats(
    df: DataFrame, exprs: dict[str, Column]
) -> DataFrame:
    """Attach whole-table aggregate values as literal-like columns.

    Computes ``df.agg(**exprs)`` (1 row) and broadcast-cross-joins it
    back onto ``df``. This is the scale-correct alternative to both
    ``Window.partitionBy()`` (single-partition exchange) and a driver
    ``collect`` (eager, breaks plan fusion): the 1-row side is
    broadcast, so the join adds no shuffle of the big side.
    """
    stats = df.agg(*[e.alias(n) for n, e in exprs.items()])
    return df.crossJoin(F.broadcast(stats))


def normalize(
    df: DataFrame,
    value_cols: Sequence[str] | None = None,
    suffix: str = "",
) -> DataFrame:
    """Min-max scale each value column to [0, 1].

    Replaces the reference's sklearn ``MinMaxScaler`` path
    (energypandas.py:330-349 series, :993-1008 frame) with one
    partial+final aggregation plus a broadcast join; constant columns
    scale to 0.0 (0/1 divisor guard, matching sklearn's behavior of
    mapping a constant column to 0 via its (max-min)==0 -> 1 divisor
    convention is NOT replicated — sklearn maps to 0.0, we emit 0.0 too
    via the guarded expression).
    """
    cols = _cols(df, value_cols)
    exprs: dict[str, Column] = {}
    for c in cols:
        exprs[f"__min_{c}"] = F.min(c)
        exprs[f"__max_{c}"] = F.max(c)
    out = with_global_stats(df, exprs)
    keep = [c for c in df.columns if c not in cols]
    scaled = [
        F.when(
            F.col(f"__max_{c}") == F.col(f"__min_{c}"), F.lit(0.0)
        ).otherwise(
            (F.col(c) - F.col(f"__min_{c}"))
            / (F.col(f"__max_{c}") - F.col(f"__min_{c}"))
        ).alias(c + suffix)
        for c in cols
    ]
    return out.select(*[F.col(k) for k in keep], *scaled)


def ldc(
    df: DataFrame,
    value_col: str,
    index_name: str = "idx",
    keep_cols: Iterable[str] = (),
) -> DataFrame:
    """Load-duration curve: values sorted descending with a fresh 0..n-1
    index (reference ``EnergySeries.ldc``: ``sort_values(ascending=False)
    .reset_index(drop=True)``, energypandas.py:641-644).

    The index comes from :func:`global_order_index`: the data never
    passes through a single partition, only its per-partition counts
    do. The sorted projection it persists is attached to the result;
    callers release it via ``util.release_caches``."""
    return global_order_index(
        df.select(value_col, *keep_cols),
        [F.desc_nulls_last(value_col)],
        index_name,
    )


def ldc_source(
    df: DataFrame,
    value_col: str,
    scoph: float | None = None,
    scopc: float | None = None,
    index_name: str = "idx",
) -> DataFrame:
    """Source-side load-duration curve (energypandas.py:351-364): on the
    rank-ordered curve, positive loads scale by ``(1 - 1/SCOPH)`` and
    non-positive by ``(1 + 1/SCOPC)``.
    """
    if scoph is None and scopc is None:
        raise ValueError("provide SCOPH and/or SCOPC")
    curve = ldc(df, value_col, index_name=index_name)
    pos = F.col(value_col) * (1.0 - 1.0 / scoph) if scoph else F.col(value_col)
    neg = F.col(value_col) * (1.0 + 1.0 / scopc) if scopc else F.col(value_col)
    return curve.select(
        index_name,
        F.when(F.col(value_col) > 0, pos).otherwise(neg).alias(value_col),
    )


def source_side(
    df: DataFrame,
    value_cols: Sequence[str],
    scoph: float | None = None,
    scopc: float | None = None,
) -> DataFrame:
    """Heat-pump source-side load (energypandas.py:366-382): multiply by
    ``(1 - 1/SCOPH)`` when SCOPH is given, else ``(1 + 1/SCOPC)``;
    raises when neither is provided. Pure column arithmetic — no UDF.
    """
    if scoph is not None:
        factor = 1.0 - 1.0 / scoph
    elif scopc is not None:
        factor = 1.0 + 1.0 / scopc
    else:
        raise ValueError("provide scoph or scopc")
    return df.select(
        *[
            (F.col(c) * F.lit(factor)).alias(c) if c in value_cols else F.col(c)
            for c in df.columns
        ]
    )


def monthly(
    df: DataFrame,
    ts_col: str,
    value_cols: Sequence[str] | None = None,
    agg: str = "avg",
    month_end_label: bool = True,
) -> DataFrame:
    """Month-bucket downsampling (reference ``monthly``:
    ``resample("ME").mean()``, energypandas.py:610-616): :func:`resample`
    at ``month``, relabelled with the month END to match pandas' 'ME'
    convention (last_day of the bucket, typed like ``ts_col``).
    """
    out = resample(df, ts_col, "month", value_cols, agg)
    if not month_end_label:
        return out
    end = F.last_day(ts_col).cast(dict(out.dtypes)[ts_col])
    return out.withColumn(ts_col, end)


def resample(
    df: DataFrame,
    ts_col: str,
    freq: str,
    value_cols: Sequence[str] | None = None,
    agg: str = "avg",
) -> DataFrame:
    """General time-bucket downsampling — the freq-general version of
    :func:`monthly` (the reference only exposes the monthly special
    case of pandas ``resample``, energypandas.py:610-616).

    ``freq`` follows the grammar of :mod:`energy_pandas_spark.core.timeindex`
    and rows bucket by its ``bucket_floor``: fixed steps ('15 minutes',
    'h', '6 hours', '1 day') are epoch-aligned, the same buckets as an
    epoch floor in any other engine (oracle-friendly); calendar units
    ('week', 'month', 'quarter', 'year') truncate the date. One
    partial+final hash aggregation either way; the bucket label is the
    LEFT edge, of the input's timestamp type.
    """
    cols = _cols(df, value_cols)
    agg_fn = getattr(F, agg)
    return (
        df.groupBy(bucket_floor(df, ts_col, freq).alias(ts_col))
        .agg(*[agg_fn(c).alias(c) for c in cols])
        .orderBy(ts_col)
    )


def fill_gaps(
    df: DataFrame,
    ts_col: str,
    freq: str,
    value_col: str,
    by: str | Sequence[str] | None = None,
    method: str = "ffill",
    mark_gaps: bool = True,
    limit: int | None = None,
) -> DataFrame:
    """Reindex an (optionally keyed) series onto a regular time grid and
    fill the holes — the distributed twin of pandas
    ``asfreq().ffill()`` / ``interpolate()`` that the reference inherits
    from pandas but never wraps.

    The grid spans each key's own [min, max] bucket, built with
    ``sequence`` + ``explode`` (no driver loop); observed buckets
    left-join onto it (one shuffle keyed on ``by``); filling is window
    arithmetic inside the key partition:

    - ``ffill``: ``last(value, ignorenulls)`` over rows up to current
      (``limit`` bounds consecutive fills, pandas ``ffill(limit=)``);
    - ``linear``: previous and next non-null anchors via
      last/first-ignorenulls windows, then the affine blend
      ``prev + (next-prev) * (t-t_prev)/(t_next-t_prev)``.

    Scale shape: per-key windows parallelize across keys. A single
    un-keyed series funnels through one partition — for that case
    pre-bucket the series into coarse chunks or use the keyed form;
    the keyed form is the 100 TB path.

    ``freq`` is a fixed step in the grammar of
    :mod:`energy_pandas_spark.core.timeindex` (a calendar unit raises);
    the grid keeps the input's timestamp type.

    Input must already be at-most-one-row-per-(key, bucket) — run
    :func:`resample` first for raw event streams.
    """
    if method not in ("ffill", "linear"):
        raise ValueError(f"unknown fill method: {method!r}")
    step = freq_to_seconds(freq)
    keys = [by] if isinstance(by, str) else list(by or [])
    data = df.select(
        *keys, bucket_floor(df, ts_col, step).alias(ts_col), F.col(value_col)
    )

    grid = (
        data.groupBy(*keys)
        .agg(F.min(ts_col).alias("__t0"), F.max(ts_col).alias("__t1"))
        .select(
            *keys,
            F.explode(
                F.sequence(
                    F.col("__t0"), F.col("__t1"), F.expr(f"INTERVAL {step} SECONDS")
                )
            ).alias(ts_col),
        )
    )
    joined = grid.join(data, keys + [ts_col], "left")

    def since(anchor: Column) -> Column:
        """Microseconds from ``anchor``'s timestamp to the row's."""
        return epoch_micros(joined, ts_col) - epoch_micros(
            joined, ts_col, anchor[ts_col]
        )

    w_back = (
        Window.partitionBy(*keys)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    if method == "ffill":
        if limit is None:
            filled = F.last(value_col, ignorenulls=True).over(w_back)
        else:
            # pandas ffill(limit=): carry the anchor timestamp with the
            # value; fill only buckets within `limit` steps of it
            anchor = F.when(
                F.col(value_col).isNotNull(),
                F.struct(F.col(ts_col), F.col(value_col)),
            )
            prev = F.last(anchor, ignorenulls=True).over(w_back)
            filled = (
                F.when(F.col(value_col).isNotNull(), F.col(value_col))
                .when(
                    prev.isNotNull()
                    & (since(prev) <= limit * step * 1_000_000),
                    prev[value_col],
                )
                .otherwise(F.lit(None).cast("double"))
            )
    else:
        w_fwd = (
            Window.partitionBy(*keys)
            .orderBy(ts_col)
            .rowsBetween(0, Window.unboundedFollowing)
        )
        anchor = F.when(
            F.col(value_col).isNotNull(), F.struct(F.col(ts_col), F.col(value_col))
        )
        prev = F.last(anchor, ignorenulls=True).over(w_back)
        nxt = F.first(anchor, ignorenulls=True).over(w_fwd)
        span = since(prev) - since(nxt)  # t_next - t_prev
        frac = since(prev) / F.when(span == 0, F.lit(1)).otherwise(span)
        blended = prev[value_col] + (nxt[value_col] - prev[value_col]) * frac
        # edges with only one anchor fall back to that anchor (ffill /
        # bfill at the boundaries, matching pandas interpolate defaults)
        filled = (
            F.when(F.col(value_col).isNotNull(), F.col(value_col))
            .when(prev.isNotNull() & nxt.isNotNull(), blended)
            .when(prev.isNotNull(), prev[value_col])
            .otherwise(nxt[value_col])
        )
    out_cols = [*keys, F.col(ts_col), filled.alias(value_col)]
    if mark_gaps:
        out_cols.append(F.col(value_col).isNull().alias("is_gap"))
    return joined.select(*out_cols)


def diff(
    df: DataFrame,
    ts_col: str,
    value_cols: Sequence[str] | None = None,
    by: str | Sequence[str] | None = None,
    periods: int = 1,
    tiebreak: str | Sequence[str] | None = None,
    keep_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Lagged difference along the time index — pandas ``.diff()``
    (the meter-reading -> interval-consumption transform). One window
    per key partition (``lag`` then subtract); the first ``periods``
    rows of each key are null, as in pandas. ``tiebreak`` columns make
    the order total when timestamps repeat. Un-keyed frames funnel
    through a single ordered partition — pass ``by`` for the scale
    path."""
    cols = _cols(df, value_cols)
    keys = [by] if isinstance(by, str) else list(by or [])
    ties = [tiebreak] if isinstance(tiebreak, str) else list(tiebreak or [])
    w = Window.partitionBy(*keys).orderBy(ts_col, *ties)
    return df.select(
        *keys,
        F.col(ts_col),
        *[F.col(c) for c in (keep_cols or []) if c not in keys and c != ts_col],
        *[(F.col(c) - F.lag(c, periods).over(w)).alias(c) for c in cols],
    )


def zscore_outliers(
    df: DataFrame,
    value_col: str,
    by: str | Sequence[str] | None = None,
    threshold: float = 3.0,
    sample_std: bool = True,
) -> DataFrame:
    """Per-group z-scores with an outlier flag — the quality-filter
    primitive (meter glitches, corrupt documents by length, ...).

    Group mean/stddev come from ONE partial+final hash aggregation and
    re-attach via a broadcast join on the key (or a 1-row broadcast
    cross join for the global case) — never a per-row window over the
    whole group, so no group ever has to fit one partition. Zero-variance
    groups get z = 0 (nothing is an outlier within a constant group).
    """
    keys = [by] if isinstance(by, str) else list(by or [])
    std_fn = F.stddev_samp if sample_std else F.stddev_pop
    aggs = [
        F.avg(value_col).alias("__mu"),
        std_fn(value_col).alias("__sigma"),
    ]
    if keys:
        stats = df.groupBy(*keys).agg(*aggs)
        joined = df.join(F.broadcast(stats), keys)
    else:
        joined = with_global_stats(df, {"__mu": aggs[0], "__sigma": aggs[1]})
    z = F.when(
        F.col("__sigma").isNull() | (F.col("__sigma") == 0), F.lit(0.0)
    ).otherwise((F.col(value_col) - F.col("__mu")) / F.col("__sigma"))
    return joined.withColumn("zscore", z).withColumn(
        "is_outlier", F.abs(F.col("zscore")) > threshold
    ).drop("__mu", "__sigma")


def p_max(
    df: DataFrame,
    value_cols: Sequence[str] | None = None,
    by: str | Sequence[str] | None = None,
) -> DataFrame:
    """Peak load: global ``max`` or per-group max under a grouping key
    (reference ``p_max`` groups by MultiIndex level 0,
    energypandas.py:603-608).
    """
    cols = _cols(df, value_cols)
    aggs = [F.max(c).alias(c) for c in cols]
    if by is None:
        return df.agg(*aggs)
    keys = [by] if isinstance(by, str) else list(by)
    return df.groupBy(*keys).agg(*aggs)


def capacity_factor(
    df: DataFrame,
    value_cols: Sequence[str] | None = None,
    by: str | Sequence[str] | None = None,
) -> DataFrame:
    """``mean / max`` per value column (energypandas.py:618-622), one
    partial+final aggregation.
    """
    cols = _cols(df, value_cols)
    aggs = [
        (F.avg(c) / F.max(c)).alias(c)
        for c in cols
    ]
    if by is None:
        return df.agg(*aggs)
    keys = [by] if isinstance(by, str) else list(by)
    return df.groupBy(*keys).agg(*aggs)


def degree_days(
    df: DataFrame,
    ts_col: str,
    temp_col: str,
    base: float = 18.0,
    by: str | Sequence[str] | None = None,
    exact_micro: bool = False,
) -> DataFrame:
    """Heating / cooling degree days from a temperature series — the
    standard energy-demand weather normalization (daily-mean method:
    ``HDD = max(0, base - mean_T_day)``, ``CDD = max(0, mean_T - base)``
    per calendar day).

    One partial+final aggregation keyed on (keys..., day): the daily
    mean and both clamps are plain column arithmetic. Output: one row
    per (keys..., day) with ``t_avg``, ``hdd``, ``cdd``.

    ``exact_micro=True`` adds ``t_avg_micro`` / ``hdd_micro`` /
    ``cdd_micro`` BIGINT columns computed from the exact decimal sum
    in the SAME aggregate — ``((S_cents [- base_cents*n]) * 10^4) div
    n`` — for engine-exact comparisons: a daily mean of 2-dp readings
    is an exact rational that can land on a 6-decimal half where
    ``round(t_avg, 6)`` tie-breaks differently across engines (the
    round-at-tie class; requires an integral-cent ``base``).
    """
    keys = [by] if isinstance(by, str) else list(by or [])
    day = F.to_date(ts_col).alias("day")
    aggs = [F.avg(temp_col).alias("t_avg")]
    if exact_micro:
        aggs += [
            F.sum(F.col(temp_col).cast("decimal(12,2)")).alias("__s"),
            F.count(temp_col).alias("__n"),
        ]
    daily = df.groupBy(*keys, day).agg(*aggs)
    zero = F.lit(0.0)
    b = F.lit(float(base))
    out = daily.withColumns(
        {
            "hdd": F.greatest(zero, b - F.col("t_avg")),
            "cdd": F.greatest(zero, F.col("t_avg") - b),
        }
    )
    if exact_micro:
        base_cents = int(round(base * 100))
        if abs(base * 100 - base_cents) > 1e-9:
            raise ValueError(
                f"exact_micro needs an integral-cent base, got {base}"
            )
        zl = F.lit(0).cast("long")
        sc = "CAST(__s * 100 AS BIGINT)"
        out = out.withColumns(
            {
                "t_avg_micro": F.expr(
                    f"CASE WHEN __n = 0 THEN NULL"
                    f" ELSE ({sc} * 10000L) div __n END"
                ),
                "hdd_micro": F.greatest(
                    zl,
                    F.expr(
                        f"CASE WHEN __n = 0 THEN NULL ELSE"
                        f" (({base_cents}L * __n - {sc}) * 10000L) div __n"
                        f" END"
                    ),
                ),
                "cdd_micro": F.greatest(
                    zl,
                    F.expr(
                        f"CASE WHEN __n = 0 THEN NULL ELSE"
                        f" (({sc} - {base_cents}L * __n) * 10000L) div __n"
                        f" END"
                    ),
                ),
            }
        ).drop("__s", "__n")
    return out


def time_weighted_avg(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    by: str | Sequence[str] | None = None,
    tiebreak: str | Sequence[str] | None = None,
) -> DataFrame:
    """Time-weighted mean of an irregularly-sampled series — each
    sample holds its value until the next sample (the step/meter-data
    convention), so its weight is the duration to the successor; the
    final sample carries no weight.

    One keyed window (lead) + one partial+final aggregation; the only
    shuffle is the key partitioning, shared by both. Output: one row
    per key with ``twa``, ``span_seconds``, ``n_samples``.
    """
    keys = [by] if isinstance(by, str) else list(by or [])
    ties = [tiebreak] if isinstance(tiebreak, str) else list(tiebreak or [])
    w = Window.partitionBy(*keys).orderBy(ts_col, *ties)
    dur = (
        epoch_micros(df, ts_col, F.lead(ts_col).over(w))
        - epoch_micros(df, ts_col)
    ).cast("double") / F.lit(1_000_000.0)
    weighted = df.select(
        *keys, F.col(value_col).alias("__v"), dur.alias("__dur")
    )
    grouped = weighted.groupBy(*keys) if keys else weighted.groupBy()
    return grouped.agg(
        (F.sum(F.col("__v") * F.col("__dur")) / F.sum("__dur")).alias("twa"),
        F.sum("__dur").alias("span_seconds"),
        F.count(F.lit(1)).alias("n_samples"),
    )


def time_at_min(
    df: DataFrame, ts_col: str, value_col: str
) -> DataFrame:
    """Timestamp of the minimum value (reference ``time_at_min`` =
    ``idxmin()``, energypandas.py:629-631). Deterministic under ties:
    returns the EARLIEST such timestamp (pandas idxmin returns the first
    occurrence, which for a time-sorted series is the earliest).

    Implemented as agg(min_by) refined for ties: broadcast the global
    min back and take ``min(ts)`` over the argmin rows — two tiny
    aggregations, no sort.
    """
    stats = df.agg(F.min(value_col).alias("__vmin"))
    return (
        df.join(F.broadcast(stats), F.col(value_col) == F.col("__vmin"))
        .agg(F.min(ts_col).alias(ts_col))
    )


def linear_fit(
    df: DataFrame,
    x_col: str,
    y_col: str,
    by: str | Sequence[str] | None = None,
) -> DataFrame:
    """Per-group ordinary-least-squares line fit: slope, intercept, r2,
    n — the degree-day regression / trend-detection primitive.

    Closed form from sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²):
    ONE map-combined hash aggregate, one shuffle on the group keys, no
    iterative solver and no second pass. Callers should center or
    rescale ``x_col`` to modest magnitudes (e.g. days since an epoch,
    not raw epoch seconds) — the closed form is exact in the sums but
    cancellation-prone when |Σx²| dwarfs the centered variance.

    Degenerate groups (n < 2 or zero x-variance) return NULL slope/
    intercept/r2 rather than Inf/NaN.
    """
    keys = [by] if isinstance(by, str) else list(by or [])
    x, y = F.col(x_col).cast("double"), F.col(y_col).cast("double")
    base = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(x * y).alias("__sxy"),
        F.sum(x * x).alias("__sxx"),
        F.sum(y * y).alias("__syy"),
    )
    n = F.col("n").cast("double")
    sxx_c = F.col("__sxx") - F.col("__sx") * F.col("__sx") / n
    sxy_c = F.col("__sxy") - F.col("__sx") * F.col("__sy") / n
    syy_c = F.col("__syy") - F.col("__sy") * F.col("__sy") / n
    slope = F.when((F.col("n") >= 2) & (sxx_c != 0.0), sxy_c / sxx_c)
    intercept = (F.col("__sy") - slope * F.col("__sx")) / n
    r2 = F.when(
        (F.col("n") >= 2) & (sxx_c != 0.0) & (syy_c != 0.0),
        (sxy_c * sxy_c) / (sxx_c * syy_c),
    )
    return base.select(
        *keys,
        F.col("n"),
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
    )


def robust_scale(
    df: DataFrame,
    value_cols: Sequence[str] | None = None,
    by: str | Sequence[str] | None = None,
    approx: bool = False,
    suffix: str = "",
) -> DataFrame:
    """Robust scaling ``(x - median) / IQR`` — outlier-insensitive
    standardization (sklearn RobustScaler semantics; constant/zero-IQR
    groups scale to 0.0).

    Exact percentiles by default (sort-based aggregate — fine to a few
    billion rows per group); ``approx=True`` switches to
    ``percentile_approx`` (t-digest-style sketch, single streaming
    pass, the 100 TB path — same plan shape, bounded error). Stats
    attach via a 1-row broadcast (global) or a per-key broadcast join,
    never an empty-frame Window exchange.
    """
    cols = _cols(df, value_cols)
    keys = [by] if isinstance(by, str) else list(by or [])
    pct = F.percentile_approx if approx else F.percentile

    def stats_for(c: str) -> Column:
        return pct(F.col(c), F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))

    if keys:
        stats = df.groupBy(*keys).agg(
            *[stats_for(c).alias(f"__q_{c}") for c in cols]
        )
        out = df.join(F.broadcast(stats), keys)
    else:
        stats = df.agg(*[stats_for(c).alias(f"__q_{c}") for c in cols])
        out = df.crossJoin(F.broadcast(stats))
    keep = [c for c in df.columns if c not in cols]
    scaled = []
    for c in cols:
        q = F.col(f"__q_{c}")
        med, iqr = q[1], q[2] - q[0]
        scaled.append(
            F.when(iqr == 0.0, F.lit(0.0))
            .otherwise((F.col(c) - med) / iqr)
            .alias(c + suffix)
        )
    return out.select(*[F.col(k) for k in keep], *scaled)


def topk_per_group(
    df: DataFrame,
    by: str | Sequence[str],
    order_by: Sequence[Column] | Column,
    k: int,
    rank_col: str = "rank",
    dense: bool = False,
) -> DataFrame:
    """Top-k rows per group: ``row_number`` (or ``dense_rank``) over a
    keyed window, filtered to ``<= k``.

    Callers MUST pass a total order (include a unique tiebreak column)
    for deterministic, engine-stable results — ranks on a partial
    order depend on shuffle arrival order. Scale shape: one hash
    shuffle on the group keys + in-partition sort; never a global
    sort. For k=1 prefer ``max_by``/``min_by`` (no sort at all)."""
    keys = [by] if isinstance(by, str) else list(by)
    order = [order_by] if isinstance(order_by, Column) else list(order_by)
    w = Window.partitionBy(*keys).orderBy(*order)
    fn = F.dense_rank() if dense else F.row_number()
    return df.withColumn(rank_col, fn.over(w)).filter(
        F.col(rank_col) <= k
    )


def skew_stats(
    df: DataFrame,
    key_cols: str | Sequence[str],
    top: int = 20,
) -> DataFrame:
    """Shuffle-key skew diagnosis: the ``top`` heaviest key groups with
    their share of all rows and the heavy-hitter ratio vs a perfectly
    uniform distribution. Run this BEFORE keying a big join/agg on a
    column — a top share of several percent means the key needs
    salting (``salted_join``) or AQE skew handling.

    One map-combined aggregate + a 1-row broadcast for the totals;
    the top-k is a TakeOrdered, never a global sort.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_rows"))
    totals = counts.agg(
        F.sum("n_rows").alias("__total"),
        F.count(F.lit(1)).alias("__n_keys"),
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            *keys,
            "n_rows",
            F.round(F.col("n_rows") / F.col("__total"), 6).alias("row_share"),
            F.round(
                F.col("n_rows") * F.col("__n_keys") / F.col("__total"), 6
            ).alias("skew_factor"),
            # engine-exact integer twins (round-at-tie class, SURVEY r5
            # addendum): pure-BIGINT div, identical on Spark and DuckDB
            F.expr("(n_rows * 1000000L) div __total").alias(
                "row_share_micro"
            ),
            F.expr("(n_rows * __n_keys * 1000000L) div __total").alias(
                "skew_factor_micro"
            ),
        )
        .orderBy(F.desc("n_rows"), *keys)
        .limit(top)
    )


def rolling_fit(
    df: DataFrame,
    ts_col: str,
    x_col: str,
    y_col: str,
    window_seconds: int,
    by: str | Sequence[str] | None = None,
    bucket_seconds: int | None = None,
    exact: bool = False,
) -> DataFrame:
    """Rolling OLS over a trailing time window: slope/intercept/r2 of
    y on x across the last ``window_seconds`` of the key's history —
    drift/trend detection as a windowed closed form, the same
    sufficient-statistics solve as :func:`linear_fit`.

    **Set ``bucket_seconds`` whenever windows span many rows.** Spark
    rebuilds a sliding range-frame's aggregation buffer per output row
    (sum has no inverse in the frame implementation), so the per-row
    form costs O(window cardinality) PER ROW. Sufficient statistics
    are exactly additive, so pre-aggregating them into
    ``bucket_seconds`` buckets first (one map-combined hash aggregate)
    shrinks both the output grain and every frame by the bucket factor
    — the result at each bucket boundary is IDENTICAL to the per-row
    fit anchored there. With buckets the output is one row per (key,
    bucket): (ts, n_window, slope, intercept, r2).

    ``x_col`` must be pre-centered to modest magnitudes (the
    linear_fit cancellation caveat applies per window). Degenerate
    windows (n < 2 or zero x-variance) yield NULL slope/r2.

    ``exact=True`` computes the sufficient statistics in the columns'
    OWN types instead of casting to double — pass INTEGER-valued
    decimal columns (e.g. millisecond ticks and cent-quantized values)
    and every sum is an exact integer, so the window aggregation is
    order-free and bit-identical across engines/partitionings; only
    the final closed-form solve runs in double, on identical inputs.
    The caller owns tick scaling (slope comes back in y-ticks per
    x-tick) and magnitudes (products must stay inside DECIMAL(38)).
    """
    keys = [by] if isinstance(by, str) else list(by or [])
    if exact:
        x, y = F.col(x_col), F.col(y_col)
    else:
        x, y = F.col(x_col).cast("double"), F.col(y_col).cast("double")
    if bucket_seconds is None:
        base = df
        w = (
            Window.partitionBy(*keys)
            .orderBy(epoch_micros(df, ts_col))
            .rangeBetween(-window_seconds * 1_000_000, 0)
        )
        nn = F.count(F.lit(1)).over(w)
        sx, sy = F.sum(x).over(w), F.sum(y).over(w)
        sxy = F.sum(x * y).over(w)
        sxx = F.sum(x * x).over(w)
        syy = F.sum(y * y).over(w)
        out_cols = list(df.columns)
    else:
        bucket = bucket_floor(df, ts_col, bucket_seconds)
        base = df.groupBy(*keys, bucket.alias(ts_col)).agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(x).alias("__sx"),
            F.sum(y).alias("__sy"),
            F.sum(x * y).alias("__sxy"),
            F.sum(x * x).alias("__sxx"),
            F.sum(y * y).alias("__syy"),
        )
        w = (
            Window.partitionBy(*keys)
            .orderBy(epoch_micros(base, ts_col))
            .rangeBetween(-window_seconds * 1_000_000, 0)
        )
        nn = F.sum("__n").over(w)
        sx, sy = F.sum("__sx").over(w), F.sum("__sy").over(w)
        sxy = F.sum("__sxy").over(w)
        sxx = F.sum("__sxx").over(w)
        syy = F.sum("__syy").over(w)
        out_cols = [*keys, ts_col]
    # Materialize each windowed sufficient statistic ONCE and build
    # the closed-form solve from the resulting COLUMNS: Catalyst does
    # no common-subexpression elimination across window expressions,
    # so inlining `nn`/`sx`/... into slope/intercept/r2 compiled ~56
    # window aggregates where six suffice (the r7 plan audit measured
    # 14 copies of sum(__n) alone in rolling_trend_by_type's Window
    # node). Same expressions over the same values afterwards —
    # bit-identical output, ~9x less per-row frame aggregation.
    stats = base.select(
        *out_cols,
        nn.alias("__wn"),
        sx.alias("__wsx"),
        sy.alias("__wsy"),
        sxy.alias("__wsxy"),
        sxx.alias("__wsxx"),
        syy.alias("__wsyy"),
    )
    nn, sx, sy = F.col("__wn"), F.col("__wsx"), F.col("__wsy")
    sxy, sxx, syy = F.col("__wsxy"), F.col("__wsxx"), F.col("__wsyy")
    n = nn.cast("double")
    if exact:
        # centered CO-MOMENTS in exact integer arithmetic: n*sxy-sx*sy
        # etc. cancel EXACTLY before any cast, so the (engine-specific,
        # DuckDB is 1-ulp-off) int->double cast error is 1e-16 RELATIVE
        # on the small centered value, never a raw-sum ulp amplified
        # 1e5x by float cancellation.
        num = (nn * sxy - sx * sy).cast("double")
        den = nn * sxx - sx * sx
        deny = nn * syy - sy * sy
        slope = F.when((nn >= 2) & (den != F.lit(0)), num / den.cast("double"))
        intercept = (sy.cast("double") - slope * sx.cast("double")) / n
        r2 = F.when(
            (nn >= 2) & (den != F.lit(0)) & (deny != F.lit(0)),
            (num * num) / (den.cast("double") * deny.cast("double")),
        )
    else:
        sxx_c = sxx - sx * sx / n
        sxy_c = sxy - sx * sy / n
        syy_c = syy - sy * sy / n
        slope = F.when((n >= 2) & (sxx_c != 0.0), sxy_c / sxx_c)
        intercept = (sy - slope * sx) / n
        r2 = F.when(
            (n >= 2) & (sxx_c != 0.0) & (syy_c != 0.0),
            (sxy_c * sxy_c) / (sxx_c * syy_c),
        )
    return stats.select(
        *out_cols,
        n.cast("long").alias("n_window"),
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
    )


def dedup_bursts(
    df: DataFrame,
    keys: "Sequence[str]" = ("user_id", "event_type"),
    ts_col: str = "ts",
    tolerance: str = "60 seconds",
    id_col: str = "event_id",
) -> DataFrame:
    """Telemetry burst dedup: within each key, events form gap-based
    bursts (a gap > ``tolerance`` starts a new burst, same chaining as
    sessionization) and only each burst's FIRST event survives
    (earliest ``ts``, ``id_col`` tiebreak) — the retry/duplicate-fire
    collapse every event pipeline needs before counting anything.

    Scale shape: ``session_window`` is an AGGREGATE, so burst
    assignment gets map-side partial aggregation and AQE skew handling
    — deliberately NOT a per-key ``lag`` window, which would put a
    hot key's full history in one task. The survivor is a ``min_by``
    struct over the same aggregate; no second pass."""
    from pyspark.sql import functions as F

    cols = df.columns
    kept = df.groupBy(
        *[F.col(k) for k in keys], F.session_window(ts_col, tolerance)
    ).agg(
        F.min_by(
            F.struct(*[F.col(c) for c in cols]),
            F.struct(F.col(ts_col), F.col(id_col)),
        ).alias("__first")
    )
    return kept.select("__first.*")


def global_order_index(
    df: DataFrame,
    sort_cols: Sequence[Column],
    index_name: str = "idx",
) -> DataFrame:
    """0-based contiguous GLOBAL index of every row in the order given
    by ``sort_cols`` (Column expressions, e.g. ``[F.desc("c"),
    F.asc("term")]``) — the :func:`ldc` distributed-rank machinery
    generalized to any sort order: range-partition on the sort key,
    sort within partitions, per-partition ``monotonically_increasing_
    id`` offset by broadcast cumulative partition counts. No
    single-partition window anywhere; the sorted projection persists
    spill-safe because ``repartitionByRange`` samples its boundaries
    and both consumers must see one layout. The persist is attached to
    the result; callers release it via ``util.release_caches``."""
    from pyspark import StorageLevel

    # Within a partition monotonically_increasing_id is (pid << 33) + a
    # consecutive counter in row order, so it encodes both the partition
    # and the local rank: no per-pid window, no second shuffle. A
    # MEMORY_ONLY block evicted under pressure would recompute with
    # fresh range boundaries and corrupt the offsets join; spilling to
    # disk keeps the layout stable at any scale.
    cols = df.columns
    part = (
        df.repartitionByRange(*sort_cols)
        .sortWithinPartitions(*sort_cols)
        .withColumn("__mid", F.monotonically_increasing_id())
        .withColumn("__pid", F.shiftright("__mid", 33))
        .withColumn("__rn", F.col("__mid").bitwiseAND(F.lit((1 << 33) - 1)))
        .select(*cols, "__pid", "__rn")
        .persist(StorageLevel.MEMORY_AND_DISK_DESER)
    )
    offsets = (
        part.groupBy("__pid")
        .count()
        .select(
            "__pid",
            F.sum("count")
            .over(
                Window.orderBy("__pid").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            )
            .alias("__off"),
        )
        .fillna({"__off": 0})
    )
    out = part.join(F.broadcast(offsets), "__pid").select(
        (F.col("__off") + F.col("__rn")).alias(index_name), *cols
    )
    return attach_caches(out, part)


def spearman_corr(
    df: DataFrame,
    col_a: str,
    col_b: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Spearman rank agreement between two per-row scores — the
    "did the new quality scorer reorder the corpus?" audit run at full
    scale. Rows where either score is NULL are excluded. Ranks are
    0-based positions in (score desc, id asc) order — ties break
    deterministically by id rather than by midrank averaging (exact,
    engine-stable; midranks would reintroduce float averaging), so on
    tied data this is the permutation-rank variant of Spearman. With
    both rank vectors permutations of 0..n-1, the classic identity
    ``rho = 1 - 6*sum(d^2) / (n*(n^2-1))`` applies: ``sum(d^2)`` is an
    exact DECIMAL(38,0) aggregate and rho is ONE correctly-rounded
    double division — bit-identical across engines/partitionings.
    Ranks come from :func:`global_order_index`; no single-partition
    window. Returns one row (n, sum_d2, rho)."""
    base = df.select(id_col, col_a, col_b).filter(
        F.col(col_a).isNotNull() & F.col(col_b).isNotNull()
    )
    ra = global_order_index(
        base.select(id_col, col_a), [F.desc(col_a), F.asc(id_col)], "__ra"
    ).select(id_col, "__ra")
    rb = global_order_index(
        base.select(id_col, col_b), [F.desc(col_b), F.asc(id_col)], "__rb"
    ).select(id_col, "__rb")
    d = "decimal(38,0)"
    s = (
        ra.join(rb, id_col)
        .select(((F.col("__ra") - F.col("__rb"))).alias("__d"))
        .agg(
            F.count(F.lit(1)).cast(d).alias("n"),
            F.sum(F.col("__d") * F.col("__d")).cast(d).alias("sum_d2"),
        )
    )
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.col("sum_d2").cast("long").alias("sum_d2"),
        (
            F.lit(1.0)
            - (F.lit(6).cast(d) * F.col("sum_d2")).cast("double")
            / (F.col("n") * (F.col("n") * F.col("n") - F.lit(1).cast(d))).cast(
                "double"
            )
        ).alias("rho"),
    )


def gini_concentration(
    df: DataFrame,
    key_col: str,
    weight_col: str,
) -> DataFrame:
    """Gini coefficient of ``weight_col`` mass across ``key_col``
    groups — the corpus-concentration audit ("is 90% of the training
    data five domains?"). Group totals sort ascending, 1-based
    positions come from :func:`global_order_index`, and the classic
    ``G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x))`` evaluates with
    exact DECIMAL(38,0) integer aggregates and ONE double division —
    engine- and partitioning-exact. Returns one row
    (n_groups, total, gini)."""
    totals = df.groupBy(key_col).agg(
        F.sum(F.col(weight_col).cast("long")).alias("__x")
    )
    idx = global_order_index(
        totals, [F.asc("__x"), F.asc(key_col)], "__i"
    )
    d = "decimal(38,0)"
    s = idx.agg(
        F.count(F.lit(1)).cast(d).alias("n"),
        F.sum("__x").cast(d).alias("sx"),
        F.sum((F.col("__i") + 1) * F.col("__x")).cast(d).alias("six"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_groups"),
        F.col("sx").cast("long").alias("total"),
        (
            (
                F.lit(2).cast(d) * F.col("six")
                - (F.col("n") + F.lit(1).cast(d)) * F.col("sx")
            ).cast("double")
            / (F.col("n") * F.col("sx")).cast("double")
        ).alias("gini"),
    )


def seasonal_decompose(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    by: str | None = None,
    period: int = 24,
    trend_window: int = 24,
    quant: int = 1_000_000,
    phase: Column | None = None,
) -> DataFrame:
    """Classical additive seasonal decomposition of a regular (e.g.
    hourly) series: ``value = trend + seasonal + residual`` — the
    energy-analytics staple behind load forecasting and anomaly
    baselines (a seasonal-naive twin of :func:`~energy_pandas_spark.
    operators.analytics.monthly` / ``daily_profile``). ``trend`` is a
    centered ``trend_window``-row moving mean, ``seasonal`` the mean
    of the detrended series per phase (``hour(ts) mod period`` for
    hourly data), ``residual`` the remainder.

    Exactness: moving and per-phase means are computed over
    integer-quantized values (round half-away to 1/``quant`` units),
    so every sum is order-free integer arithmetic and each mean is one
    correctly-rounded double division — engine- and partitioning-
    exact, immune to window-aggregation association order (engines
    disagree on segment-tree vs running float sums).

    Scale shape: the trend window partitions by ``by`` (decompose many
    keys in parallel); a GLOBAL series runs its window in one
    partition, which is fine for the aggregated series this operator
    expects (hourly rows are tiny) but is the caller's contract to
    respect. The seasonal table is (keys x period)-sized and
    broadcast back.

    Returns the input keys + (ts, value, trend, seasonal, residual).
    """
    if phase is None and period > 24:
        raise ValueError(
            f"period={period} cannot derive from hour-of-day (0..23); "
            "pass phase=<Column> (e.g. dayofweek(ts)*24 + hour(ts) for "
            "weekly seasonality over hourly data)"
        )
    keys = [by] if by else []
    q = F.round(F.lit(float(quant)) * F.col(value_col)).cast("long")
    base = df.select(*keys, ts_col, F.col(value_col), q.alias("__q"))
    w = (
        Window.partitionBy(*keys)
        .orderBy(ts_col)
        .rowsBetween(-(trend_window // 2), trend_window - trend_window // 2 - 1)
    )
    trended = base.select(
        *keys,
        ts_col,
        value_col,
        (
            F.sum("__q").over(w).cast("double")
            / (F.lit(quant) * F.count(F.lit(1)).over(w)).cast("double")
        ).alias("trend"),
    )
    phase_expr = (
        phase if phase is not None else F.hour(ts_col) % F.lit(period)
    )
    phased = trended.withColumn("__phase", phase_expr).withColumn(
        "__dq",
        F.round(
            F.lit(float(quant)) * (F.col(value_col) - F.col("trend"))
        ).cast("long"),
    )
    seasonal = phased.groupBy(*keys, "__phase").agg(
        F.sum("__dq").alias("__ss"), F.count(F.lit(1)).alias("__cs")
    )
    return (
        phased.join(F.broadcast(seasonal), [*keys, "__phase"])
        .select(
            *keys,
            ts_col,
            value_col,
            "trend",
            (
                F.col("__ss").cast("double")
                / (F.lit(quant) * F.col("__cs")).cast("double")
            ).alias("seasonal"),
        )
        .withColumn(
            "residual",
            F.col(value_col) - F.col("trend") - F.col("seasonal"),
        )
    )


def seasonal_naive_backtest(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    by: str | None = None,
    period: int = 24,
    quant: int = 1_000_000,
) -> DataFrame:
    """Backtest of the seasonal-naive forecast (predict = the value
    one ``period`` earlier in the series): per-key row count, MAE and
    per-mille MAPE — the baseline every fancier forecaster must beat,
    and the standard data-drift tripwire for metric series. The lag is
    a per-key ordered window (``lag(period)``); error sums run over
    integer-quantized absolute errors so the aggregates are order-free
    and each metric is one correctly-rounded double division.
    MAPE skips rows with value = 0 (undefined); MAE covers all rows
    with a prediction. Returns (keys, n, mae, mape_pm)."""
    keys = [by] if by else []
    w = Window.partitionBy(*keys).orderBy(ts_col)
    pred = F.lag(value_col, period).over(w)
    scored = df.select(
        *keys, F.col(value_col).alias("__v"), pred.alias("__p")
    ).filter(F.col("__p").isNotNull())
    aerr_q = F.round(
        F.lit(float(quant)) * F.abs(F.col("__v") - F.col("__p"))
    ).cast("long")
    ape_q = F.when(
        F.col("__v") != 0,
        F.round(
            F.lit(float(quant))
            * F.abs((F.col("__v") - F.col("__p")) / F.col("__v"))
        ).cast("long"),
    )
    agg = scored.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(aerr_q).alias("__sae"),
        F.sum(ape_q).alias("__sape"),
        F.count(ape_q).alias("__nape"),
    )
    return agg.select(
        *keys,
        "n",
        (
            F.col("__sae").cast("double")
            / (F.lit(quant) * F.col("n")).cast("double")
        ).alias("mae"),
        (
            (F.lit(1000) * F.col("__sape")).cast("double")
            / (F.lit(quant) * F.col("__nape")).cast("double")
        ).alias("mape_pm"),
    )


def cusum_alarms(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    by: str | None = None,
    target: float = 0.0,
    drift: float = 0.0,
    threshold: float = 1.0,
    quant: int = 1_000_000,
) -> DataFrame:
    """One-sided (upper) CUSUM changepoint detector (Page 1954) over
    per-key ordered series: the classic "has the level shifted up?"
    alarm for metric drift, rate spikes, and data-quality regressions.

    The textbook recurrence ``s_i = max(0, s_{i-1} + x_i - target -
    drift)`` looks inherently sequential, but it has the prefix-sum
    closed form ``s_i = P_i - min(0, min_{j<=i} P_j)`` with ``P`` the
    running sum of the compensated deviations — so it distributes as
    two ordinary ordered-window aggregates (running sum + running
    min), no recursion, no UDF. Deviations quantize to integer
    1/``quant`` units first, making both windows exact integer
    arithmetic — engine- and partitioning-identical, immune to
    float-window association order. ``alarm`` fires where ``s_i >=
    threshold``.

    Returns keys + (ts, value, cusum, alarm). The window orders
    within each key; a single global series runs one partition —
    fine for aggregated series, the caller's contract.
    """
    from energy_pandas_spark.util import round_half_away

    keys = [by] if by else []
    # half-away-from-zero, NOT Python round() (banker's): the streaming
    # twin and every quantized column in the engine round half-away,
    # and the bit-for-bit batch/stream equivalence depends on it
    kq = round_half_away(quant * (target + drift))
    hq = round_half_away(quant * threshold)
    dq = F.round(F.lit(float(quant)) * F.col(value_col)).cast("long") - F.lit(
        kq
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    base = df.select(*keys, ts_col, value_col, dq.alias("__d"))
    run = base.select(
        *keys,
        ts_col,
        value_col,
        F.sum("__d").over(w).alias("__P"),
    ).withColumn("__M", F.min("__P").over(w))
    sq = F.col("__P") - F.least(F.col("__M"), F.lit(0).cast("long"))
    return run.select(
        *keys,
        ts_col,
        value_col,
        (sq.cast("double") / F.lit(float(quant))).alias("cusum"),
        (sq >= F.lit(hq)).alias("alarm"),
    )


def chi_square_independence(
    df: DataFrame,
    col_a: str,
    col_b: str,
    quant: int = 1_000_000,
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns — the significance companion to the KS drift statistic
    ("does event mix depend on hour-of-day / does language depend on
    source?"). Observed counts are exact integers; each cell's
    ``(O - E)^2 / E`` term evaluates in correctly-rounded double
    arithmetic from exact integer inputs (E = row*col/N is ONE
    division) and quantizes to integer 1/``quant`` units before the
    final sum — so the statistic is engine- and partitioning-exact,
    not a float-sum lottery over cell order.

    Scale shape: one (a, b) count aggregate; marginals derive from the
    cell table (category-count-sized) and broadcast back. Returns one
    row (n, n_a, n_b, dof, chi2) with ``chi2`` in original units.
    """
    # NULL categories are excluded up front: a NULL key never matches
    # the grid's equi-join, which would zero the observed cell while
    # its mass still inflated N and the marginals (wrong chi2, dof
    # inconsistent with the grid). Excluding is the standard treatment;
    # encode NULL as a real category upstream to include it.
    df = df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
    cells = df.groupBy(col_a, col_b).agg(F.count(F.lit(1)).alias("__o"))
    ra = cells.groupBy(col_a).agg(F.sum("__o").alias("__ra"))
    cb = cells.groupBy(col_b).agg(F.sum("__o").alias("__cb"))
    tot = cells.agg(
        F.sum("__o").alias("__n"),
        F.count(F.lit(1)).alias("__ncells"),
    )
    # the FULL r x c grid, not just observed cells: a zero-observed
    # cell still contributes (0 - E)^2 / E = E. The grid is the cross
    # join of the (category-sized) marginal tables.
    # d*d, never pow(): +,-,*,/ are correctly rounded (engine-identical
    # on the same expression tree); pow carries a 1-ulp caveat
    e = (F.col("__ra") * F.col("__cb")).cast("double") / F.col(
        "__n"
    ).cast("double")
    grid = ra.crossJoin(F.broadcast(cb)).join(cells, [col_a, col_b], "left").select(
        col_a, col_b, "__ra", "__cb", F.coalesce("__o", F.lit(0)).alias("__o")
    )
    contrib = (
        grid.crossJoin(F.broadcast(tot))
        .select(e.alias("__e"), F.col("__o").cast("double").alias("__od"))
        .select(
            F.round(
                F.lit(float(quant))
                * (
                    (F.col("__od") - F.col("__e"))
                    * (F.col("__od") - F.col("__e"))
                )
                / F.col("__e")
            )
            .cast("long")
            .alias("__cq"),
        )
    )
    counts = (
        df.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col(col_a)).alias("n_a"),
            F.count_distinct(F.col(col_b)).alias("n_b"),
        )
    )
    s = contrib.agg(F.sum("__cq").alias("__s"))
    return counts.crossJoin(F.broadcast(s)).select(
        "n",
        "n_a",
        "n_b",
        ((F.col("n_a") - 1) * (F.col("n_b") - 1)).alias("dof"),
        (F.col("__s").cast("double") / F.lit(float(quant))).alias("chi2"),
    )


def trimmed_mean(
    df: DataFrame,
    value_col: str,
    by: str | None = None,
    trim_permille: int = 50,
    quant: int = 1_000_000,
) -> DataFrame:
    """Per-group trimmed mean: drop the lowest and highest
    ``trim_permille``/1000 of rows BY COUNT (k = (n * pm) div 1000 off
    each end — integer, deterministic) and average the rest — the
    robust central-tendency the raw mean isn't when sensors glitch or
    a spam burst lands. Tie values straddling the cut are
    interchangeable for the mean (exactly k rows drop per end, so the
    kept multiset is tie-break-agnostic); kept values sum as
    quantized integers, one division at the end — engine- and
    partitioning-exact.

    The rank window partitions by ``by`` (group-sized, the house
    pattern for per-group order statistics); NULL values are excluded
    up front. Returns (keys, n, n_kept, trimmed_mean).
    """
    if not 0 <= trim_permille < 500:
        raise ValueError(
            f"trim_permille must be in [0, 500), got {trim_permille} "
            "(>= 500 trims every row of a group away)"
        )
    keys = [by] if by else []
    base = df.select(*keys, F.col(value_col).alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    w = Window.partitionBy(*keys).orderBy("__v")
    ranked = base.select(
        *keys,
        "__v",
        (F.row_number().over(w) - 1).alias("__r"),
        F.count(F.lit(1)).over(Window.partitionBy(*keys)).alias("__n"),
    )
    k = F.expr(f"(__n * {trim_permille}) div 1000")
    kept = ranked.filter((F.col("__r") >= k) & (F.col("__r") < F.col("__n") - k))
    q = F.round(F.lit(float(quant)) * F.col("__v")).cast("long")
    return kept.groupBy(*keys).agg(
        F.max("__n").alias("n"),
        F.count(F.lit(1)).alias("n_kept"),
        (
            F.sum(q).cast("double")
            / (F.lit(quant) * F.count(F.lit(1))).cast("double")
        ).alias("trimmed_mean"),
    )


def cross_correlation(
    df: DataFrame,
    ts_col: str,
    col_a: str,
    col_b: str,
    max_lag: int = 6,
    by: str | None = None,
    quant: int = 1 << 20,
    min_lag: int | None = None,
) -> DataFrame:
    """Cross-correlation function between two aligned regular series:
    Pearson r of ``a_t`` against ``b_{t+lag}`` for every lag in
    [-max_lag, max_lag] — the "does errors lead clicks by two hours?"
    lead/lag diagnostic. Exact: both series quantize to integers, the
    five regression sums per lag run in DECIMAL(38,0) (order-free),
    and each r is (n*sab - sa*sb) / (sqrt(n*saa - sa^2) *
    sqrt(n*sbb - sb^2)) — sqrt and the arithmetic ops are correctly
    rounded, so r is bit-identical cross-engine.

    One pass: per-lag shifted columns come from ordered lead/lag
    windows (partitioned by ``by``), unpivoted with ``stack`` into
    (lag, pair) rows, then one grouped aggregate. Lags with fewer
    than 2 overlapping points return NULL r. Returns
    (keys, lag, n, r).
    """
    lo = -max_lag if min_lag is None else min_lag
    if not -max_lag <= lo <= max_lag:
        raise ValueError(
            f"min_lag must be in [-max_lag, max_lag], got {lo} "
            f"(max_lag={max_lag})"
        )
    keys = [by] if by else []
    w = Window.partitionBy(*keys).orderBy(ts_col)
    base = df.select(
        *keys,
        ts_col,
        F.round(F.lit(float(quant)) * F.col(col_a)).cast("long").alias("__a"),
        F.round(F.lit(float(quant)) * F.col(col_b)).cast("long").alias("__b"),
    )
    shifted = base.select(
        *keys,
        "__a",
        *[
            (
                F.lead("__b", k).over(w) if k >= 0 else F.lag("__b", -k).over(w)
            ).alias(f"__b_{k - lo}")
            for k in range(lo, max_lag + 1)
        ],
    )
    n_lags = max_lag - lo + 1
    stack_args = ", ".join(
        f"{k + lo}, __b_{k}" for k in range(n_lags)
    )
    long = shifted.select(
        *keys,
        "__a",
        F.expr(f"stack({n_lags}, {stack_args}) as (lag, __bv)"),
    ).filter(F.col("__bv").isNotNull())
    d = "decimal(38,0)"
    agg = long.groupBy(*keys, "lag").agg(
        F.count(F.lit(1)).cast(d).alias("__n"),
        F.sum("__a").cast(d).alias("__sa"),
        F.sum("__bv").cast(d).alias("__sb"),
        F.sum(F.col("__a").cast(d) * F.col("__bv").cast(d)).alias("__sab"),
        F.sum(F.col("__a").cast(d) * F.col("__a").cast(d)).alias("__saa"),
        F.sum(F.col("__bv").cast(d) * F.col("__bv").cast(d)).alias("__sbb"),
    )
    num = (F.col("__n") * F.col("__sab") - F.col("__sa") * F.col("__sb")).cast(
        "double"
    )
    den = F.sqrt(
        (F.col("__n") * F.col("__saa") - F.col("__sa") * F.col("__sa")).cast(
            "double"
        )
    ) * F.sqrt(
        (F.col("__n") * F.col("__sbb") - F.col("__sb") * F.col("__sb")).cast(
            "double"
        )
    )
    return agg.select(
        *keys,
        F.col("lag").cast("int").alias("lag"),
        F.col("__n").cast("long").alias("n"),
        F.when(den != 0, num / den).alias("r"),
    )


def autocorrelation(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    max_lag: int = 30,
    by: str | None = None,
    quant: int = 1 << 20,
) -> DataFrame:
    """Autocorrelation function: :func:`cross_correlation` of a series
    against itself for lags 0..``max_lag`` — the seasonality
    fingerprint (hourly series with a daily cycle peak at lag 24) and
    the sample-independence check before any i.i.d.-assuming
    statistic. Same exact integer arithmetic; returns (keys, lag, n,
    r) with lag >= 0 (ACF is symmetric)."""
    return cross_correlation(
        df,
        ts_col,
        value_col,
        value_col,
        max_lag=max_lag,
        by=by,
        quant=quant,
        min_lag=0,
    )
