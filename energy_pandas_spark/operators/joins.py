"""Temporal joins the reference lacks but any time-series engine needs
(SURVEY.md §2.5 names them as north-star surface): as-of joins and
interval (range) joins, built from stock DataFrame primitives.

``asof_join`` uses the union + last(ignorenulls) window formulation:
tag both sides, union on (keys, ts), and propagate the most recent
right-side values forward within each key partition. One shuffle on the
join keys, no range-condition explosion, no skew beyond the key
distribution — the standard scalable as-of strategy when the right side
is too big to broadcast. ``asof_join_broadcast`` is the small-right
variant: the right side packs into per-key sorted arrays and
broadcasts, so the (huge) left side is never shuffled at all — the
match is an ``array_max(filter(...))`` expression per row.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from ..core.timeindex import floor_micros, freq_to_seconds
from ..util import epoch_micros

__all__ = [
    "asof_join",
    "asof_join_broadcast",
    "interval_join",
    "interval_join_bucketed",
    "salted_join",
]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str | Sequence[str] | None = None,
    right_cols: Sequence[str] | None = None,
    direction: str = "backward",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """For each left row, attach the most recent right row with
    ``right.on <= left.on`` (backward; ``forward`` flips the order),
    matching within ``by`` keys. Equal timestamps match (the right row
    sorts before the left row at the same instant).
    ``tolerance_seconds`` replicates pandas ``merge_asof(tolerance=)``:
    a match further than the tolerance (in event time) nulls out the
    attached columns instead — same plan, one extra carried timestamp.

    Scale shape: one hash shuffle on (by,), one in-partition sort —
    both sides stream through a single window; nothing is quadratic in
    either input.
    """
    keys = [by] if isinstance(by, str) else list(by or [])
    if right_cols is None:
        right_cols = [
            c for c in right.columns if c != on and c not in keys
        ]
    clash = sorted(set(right_cols) & set(left.columns))
    if clash:
        raise ValueError(
            f"asof_join: right columns {clash} already exist on the left "
            "frame; rename or restrict right_cols to avoid duplicate "
            "output columns"
        )
    l_tag = left.withColumn("__src", F.lit(1))
    for c in right_cols:
        if c not in l_tag.columns:
            l_tag = l_tag.withColumn(c, F.lit(None).cast(dict(right.dtypes)[c]))
    r_tag = right.select(
        *keys,
        F.col(on),
        *[F.col(c) for c in right_cols],
    ).withColumn("__src", F.lit(0))
    for c in left.columns:
        if c not in r_tag.columns:
            r_tag = r_tag.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    unioned = l_tag.unionByName(r_tag)

    order = [F.col(on).asc(), F.col("__src").asc()]
    if direction == "forward":
        order = [F.col(on).desc(), F.col("__src").asc()]
    w = (
        Window.partitionBy(*keys).orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = list(right_cols)
    if tolerance_seconds is not None:
        carried = carried + [on]  # the matched right timestamp
    filled = unioned.select(
        *[F.col(c) for c in left.columns],
        F.col("__src"),
        *[
            F.last(F.when(F.col("__src") == 0, F.col(c)), ignorenulls=True)
            .over(w)
            .alias(f"__r_{c}")
            for c in carried
        ],
    )
    matched = filled.filter(F.col("__src") == 1)
    if tolerance_seconds is None:
        return matched.select(
            *[F.col(c) for c in left.columns],
            *[F.col(f"__r_{c}").alias(c) for c in right_cols],
        )
    delta = (
        epoch_micros(matched, on) - epoch_micros(matched, on, F.col(f"__r_{on}"))
    ) / F.lit(1_000_000.0)
    if direction == "forward":
        delta = -delta
    within = F.col(f"__r_{on}").isNotNull() & (delta <= tolerance_seconds)
    return matched.select(
        *[F.col(c) for c in left.columns],
        *[
            F.when(within, F.col(f"__r_{c}")).alias(c)
            for c in right_cols
        ],
    )


def asof_join_broadcast(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str | Sequence[str] | None = None,
    right_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Backward as-of join for a SMALL right side: right rows pack into
    one sorted ``array<struct<ts, cols...>>`` per key, the packed table
    broadcasts, and each left row picks ``array_max`` of the elements
    with ``ts <= left.ts`` (struct ordering starts at the first field,
    so the max IS the latest match). The left side keeps its
    partitioning — zero shuffle, zero sort on the fact table; the right
    side must fit in a broadcast (its entire history per key rides in
    one array)."""
    keys = [by] if isinstance(by, str) else list(by or [])
    if right_cols is None:
        right_cols = [c for c in right.columns if c != on and c not in keys]
    packed = right.groupBy(*keys).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col(on).alias("__t"), *right_cols))
        ).alias("__arr")
    )
    joined = (
        left.join(F.broadcast(packed), keys, "left")
        if keys
        else left.crossJoin(F.broadcast(packed))
    )
    lts = F.col(on)
    best = F.array_max(F.filter("__arr", lambda x: x["__t"] <= lts))
    return joined.select(
        *[F.col(c) for c in left.columns],
        *[best[c].alias(c) for c in right_cols],
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    salt: int = 8,
    how: str = "inner",
    seed: int = 7,
) -> DataFrame:
    """Skew-mitigating equi-join: every left row gets a uniform salt in
    ``[0, salt)``, the right side is replicated ``salt`` times, and the
    join key becomes (keys..., salt) — a hot key's rows land on ``salt``
    shuffle partitions instead of one. Results are identical to the
    plain join for ``how`` in {inner, left, left_semi, left_anti};
    right/full outer joins would emit each unmatched right row once per
    replica, so those modes are rejected.

    Use when a handful of heavy keys dominate and AQE's skew-join
    splitting can't help (e.g. the skew is in a hash-aggregate feeding
    the join). Cost: the replicated side's shuffle volume grows by the
    salt factor, so salt the side that is small-per-key (dimensions,
    pre-aggregated tables). For broadcastable right sides just use
    ``F.broadcast`` — salting is for the sort-merge/shuffled-hash
    regime."""
    allowed = {"inner", "left", "leftouter", "left_outer", "left_semi",
               "leftsemi", "semi", "left_anti", "leftanti", "anti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join: how={how!r} not supported — the right side is "
            "replicated per salt, so unmatched right rows would appear "
            f"{salt} times; use one of {sorted(allowed)}"
        )
    keys = [on] if isinstance(on, str) else list(on)
    salted_l = left.withColumn("__salt", (F.rand(seed) * salt).cast("int"))
    salted_r = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    return salted_l.join(salted_r, keys + ["__salt"], how).drop("__salt")


def interval_join(
    facts: DataFrame,
    intervals: DataFrame,
    ts_col: str = "ts",
    start_col: str = "start",
    end_col: str = "end",
    how: str = "inner",
    broadcast_intervals: bool = True,
) -> DataFrame:
    """Join point events to intervals containing them
    (``start <= ts < end``). With a bounded interval table the join side
    broadcasts (the common calendar/session-window case); otherwise
    Spark falls back to a range join. For huge interval tables, bucket
    both sides by a time-grain first."""
    iv = F.broadcast(intervals) if broadcast_intervals else intervals
    cond = (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) < F.col(end_col))
    return facts.join(iv, cond, how)


def interval_join_bucketed(
    facts: DataFrame,
    intervals: DataFrame,
    ts_col: str = "ts",
    start_col: str = "start",
    end_col: str = "end",
    grain: str = "1 hour",
) -> DataFrame:
    """Inner interval join for interval tables too big to broadcast.

    Both sides map onto a time-grain lattice: each fact row gets its
    bucket (one long), each interval EXPLODES into the buckets it
    overlaps, and the join becomes an equi-join on the bucket refined by
    the exact range predicate. This turns an unbounded range join (a
    broadcast-nested-loop at worst) into one hash shuffle keyed on the
    bucket — the standard range-bucketing strategy.

    Pick ``grain`` close to the typical interval length: the exploded
    interval side carries ``ceil(len/grain) + 1`` rows per interval, and
    a fact bucket only meets intervals that actually overlap its bucket.
    ``grain`` is a fixed step in the grammar of
    :mod:`energy_pandas_spark.core.timeindex`; a bucket is keyed by its
    floored epoch microseconds.
    Results are identical to ``interval_join(..., how='inner')``."""
    step = freq_to_seconds(grain)
    fb = facts.withColumn(
        "__bucket", floor_micros(epoch_micros(facts, ts_col), step)
    )
    # empty/inverted intervals match nothing; dropping them here also
    # keeps the bucket sequence ascending (sequence() would otherwise
    # happily count DOWN for end < start and emit phantom buckets)
    intervals = intervals.filter(F.col(end_col) > F.col(start_col))
    ib = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                floor_micros(epoch_micros(intervals, start_col), step),
                # end is exclusive, but a partial last bucket still
                # overlaps: the floor of (end - 1us) covers it without
                # emitting a bucket the interval never touches
                floor_micros(epoch_micros(intervals, end_col) - 1, step),
                F.lit(step * 1_000_000).cast("long"),
            )
        ),
    )
    cond = (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) < F.col(end_col))
    return fb.join(ib, "__bucket").filter(cond).drop("__bucket")
