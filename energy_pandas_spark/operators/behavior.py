"""Behavioral event-sequence analytics: funnels and cohort retention.

Both reduce to per-user aggregates joined on the user key, so every
exchange is hash-partitioned on ``user_id`` and reusable between
stages — no sessions are materialized, no event-order window spans
more than one user.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F

from energy_pandas_spark.util import epoch_micros, track_cache

__all__ = [
    "funnel",
    "funnel_users",
    "cohort_retention",
    "rfm_segments",
    "frequent_pairs",
]


def funnel_users(
    df: DataFrame,
    steps: Sequence[str],
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    within_seconds: int | None = None,
) -> list[DataFrame]:
    """Per-prefix completion frames: element i holds one row per user
    who performed ``steps[0..i]`` in order (step k strictly after the
    user's EARLIEST qualifying completion of step k-1), with columns
    (user, __t = completion ts of step i, __start = funnel start ts).

    Each stage is one conditional min-timestamp aggregate joined to
    the previous stage on the user key — k small hash aggregates
    co-partitioned on ``user_id``; never a per-user event sort.
    ``within_seconds`` bounds ``__t - __start`` at every stage.
    """
    if not steps:
        raise ValueError("funnel: steps must be non-empty")
    ev = df.select(
        F.col(user_col).alias("__u"),
        F.col(type_col).alias("__type"),
        F.col(ts_col).alias("__ts"),
    )
    cur = (
        ev.filter(F.col("__type") == steps[0])
        .groupBy("__u")
        .agg(F.min("__ts").alias("__t"))
        .withColumn("__start", F.col("__t"))
    )
    out = [cur]
    for step in steps[1:]:
        nxt = (
            ev.filter(F.col("__type") == step)
            .join(cur.select("__u", "__t", "__start"), "__u")
            .filter(F.col("__ts") > F.col("__t"))
            .groupBy("__u")
            .agg(
                F.min("__ts").alias("__t"),
                # constant per user: the funnel-start timestamp
                F.first("__start").alias("__start"),
            )
        )
        if within_seconds is not None:
            nxt = nxt.filter(
                epoch_micros(nxt, "__t")
                - epoch_micros(nxt, "__t", F.col("__start"))
                <= within_seconds * 1_000_000
            )
        out.append(nxt)
        cur = nxt
    return out


def funnel(
    df: DataFrame,
    steps: Sequence[str],
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    within_seconds: int | None = None,
) -> DataFrame:
    """Ordered funnel conversion counts: one row per step with the
    number of users who completed the funnel up to and including it,
    in order. All prefix frames union into ONE lazy plan (a single
    action), so no driver-side per-step counting."""
    frames = funnel_users(
        df, steps, ts_col, user_col, type_col, within_seconds
    )
    spark = df.sparkSession
    labels = spark.createDataFrame(
        list(enumerate(steps)), "step_index int, step string"
    )
    reached = None
    for i, fr in enumerate(frames):
        part = fr.select(F.lit(i).alias("step_index"), F.col("__u"))
        reached = part if reached is None else reached.unionByName(part)
    counts = reached.groupBy("step_index").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    return (
        labels.join(counts, "step_index", "left")
        .select(
            "step_index",
            "step",
            F.coalesce("n_users", F.lit(0)).alias("n_users"),
        )
        .orderBy("step_index")
    )


def cohort_retention(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    period: str = "week",
) -> DataFrame:
    """Cohort retention triangle: users bucket into a cohort by their
    FIRST activity period; ``n_active`` counts distinct cohort members
    active ``period_offset`` periods later.

    Two hash aggregates (first-activity per user, distinct
    user-periods) joined on the user key, then one count-distinct per
    (cohort, offset) — all keyed exchanges, no windows over events.
    """
    trunc = F.date_trunc(period, F.col(ts_col))
    firsts = df.groupBy(user_col).agg(F.min(trunc).alias("__cohort"))
    active = df.select(F.col(user_col), trunc.alias("__p")).distinct()
    if period == "month":
        offset = (F.month("__p") - F.month("__cohort")) + 12 * (
            F.year("__p") - F.year("__cohort")
        )
    elif period in ("week", "day"):
        days = {"week": 7, "day": 1}[period]
        offset = (
            F.datediff(F.to_date("__p"), F.to_date("__cohort")) / days
        ).cast("int")
    else:
        raise ValueError(f"cohort_retention: unsupported period {period!r}")
    return (
        active.join(firsts, user_col)
        .select(
            F.to_date("__cohort").alias("cohort"),
            offset.alias("period_offset"),
            F.col(user_col),
        )
        .groupBy("cohort", "period_offset")
        .agg(F.countDistinct(user_col).alias("n_active"))
    )


def rfm_segments(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    quant: int = 100,
) -> DataFrame:
    """RFM segmentation — the classic recency/frequency/monetary
    user scoring: each user gets three 1..5 quintile scores (5 = most
    recent / most frequent / highest spend) and a composite segment
    code ``r*100 + f*10 + m``. Reference point for recency is the
    dataset's max timestamp (deterministic, no wall clock).

    Exactness: monetary sums quantize to integer 1/``quant`` units
    (order-free), and the quintiles are pure integer rank arithmetic
    — ``5 - (5 * rank0) div n`` over a deterministic (metric desc,
    user asc) order from :func:`~energy_pandas_spark.operators.
    analytics.global_order_index` — no ``ntile`` single-partition
    window, no float percentile boundaries, identical on any engine.

    Scale shape: one per-user aggregate, one 1-row broadcast (the
    global max timestamp), three distributed rank passes over the
    user-count-sized table. Returns (user, recency_days, frequency,
    monetary_q, r, f, m, segment).
    """
    from pyspark import StorageLevel

    from energy_pandas_spark.operators.analytics import global_order_index

    per_user = df.groupBy(user_col).agg(
        F.max(ts_col).alias("__last"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(
            F.round(F.lit(float(quant)) * F.col(value_col)).cast("long")
        ).alias("monetary_q"),
    )
    ref = df.agg(F.max(ts_col).alias("__ref"))
    # persist: base feeds the output projection plus THREE rank passes,
    # each through its own join — the exchange-reuse trap (IsNotNull
    # pushdown differs per consumer), so without this the events-scale
    # per-user aggregate would run four times
    base = (
        per_user.crossJoin(F.broadcast(ref))
        .select(
            user_col,
            F.datediff("__ref", "__last").alias("recency_days"),
            "frequency",
            "monetary_q",
            "__last",
        )
        .persist(StorageLevel.MEMORY_AND_DISK_DESER)
    )
    track_cache(base)
    n = base.count()

    def quintile(rank_col: str) -> F.Column:
        return (
            F.lit(5)
            - F.expr(f"(5 * {rank_col}) div {n}")
        ).cast("int")

    r_rank = global_order_index(
        base, [F.desc("__last"), F.asc(user_col)], "__rr"
    ).select(user_col, quintile("__rr").alias("r"))
    f_rank = global_order_index(
        base.select(user_col, "frequency"),
        [F.desc("frequency"), F.asc(user_col)],
        "__fr",
    ).select(user_col, quintile("__fr").alias("f"))
    m_rank = global_order_index(
        base.select(user_col, "monetary_q"),
        [F.desc("monetary_q"), F.asc(user_col)],
        "__mr",
    ).select(user_col, quintile("__mr").alias("m"))
    return (
        base.select(user_col, "recency_days", "frequency", "monetary_q")
        .join(r_rank, user_col)
        .join(f_rank, user_col)
        .join(m_rank, user_col)
        .withColumn(
            "segment",
            (F.col("r") * 100 + F.col("f") * 10 + F.col("m")).cast("int"),
        )
    )


def frequent_pairs(
    df: DataFrame,
    basket_col: str = "user_id",
    item_col: str = "event_type",
    min_support: int = 2,
) -> DataFrame:
    """Frequent item-PAIR mining over baskets (the size-2 core of
    market-basket / association analysis): which items co-occur in at
    least ``min_support`` baskets, with per-item support counts so
    callers can derive confidence/lift exactly. Pure integer counts —
    engine-exact by construction.

    Scale shape: baskets reduce to distinct (basket, item) pairs
    first (one aggregate), then the pair enumeration is a self-join
    keyed on the basket — co-partitioned, no broadcast of item
    vocabularies, and skew-bounded by the basket with the most
    distinct items (cap upstream if a basket can hold thousands of
    items). Returns (item_a, item_b, support, support_a, support_b)
    with item_a < item_b.
    """
    base = df.select(
        F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
    ).distinct()
    item_support = base.groupBy("__i").agg(
        F.count(F.lit(1)).alias("__sup")
    )
    a = base.select("__b", F.col("__i").alias("item_a"))
    b = base.select("__b", F.col("__i").alias("item_b"))
    pairs = (
        a.join(b, "__b")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= min_support)
    )
    return (
        pairs.join(
            item_support.select(
                F.col("__i").alias("item_a"), F.col("__sup").alias("support_a")
            ),
            "item_a",
        )
        .join(
            item_support.select(
                F.col("__i").alias("item_b"), F.col("__sup").alias("support_b")
            ),
            "item_b",
        )
        .select("item_a", "item_b", "support", "support_a", "support_b")
    )
