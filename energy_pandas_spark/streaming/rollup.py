"""Continuous rollup: maintain a queryable aggregate TABLE from a
stream (the "hypertable rollup" / materialized-view pattern).

``continuous_rollup`` attaches a ``foreachBatch`` sink that, per
micro-batch, recomputes the windowed aggregate for exactly the date
partitions the batch touched and overwrites those partitions (the
stamped landing of ``streaming/sink.py``). Properties that matter at
scale:

- **Idempotent**: every written partition is stamped with the writing
  batch's id (``__batch_id`` column). A replayed micro-batch skips any
  day partition already stamped with its id (or a later one), so
  partial sums never merge twice under at-least-once delivery — even
  when only SOME of the touched partitions were swapped before the
  crash: the unstamped days merge, the stamped ones stay untouched.
- **Few jobs per batch**: the sink keeps no side files and infers no
  schema. A merge batch runs the batch aggregate, one collect of its
  days, one probe of the touched days' stamps, the merge and the write.
- **Bounded work per batch**: only partitions with new data are read
  and rewritten; the rollup table grows append-mostly by date.
- **Readers need no coordination**: plain ``spark.read.parquet`` sees
  whole partitions before/after, never mid-write (parquet committers
  swap directories atomically enough for batch readers).

The aggregate uses the same expressions as ``windowed_aggregate``
(streaming/events.py) plus ``n_values`` (the null-skipping avg
denominator the partition merge needs), so batch backfill via
:func:`rollup_batch` and streaming maintenance produce byte-identical
rollups.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType, StructField, StructType

from energy_pandas_spark.streaming.sink import (
    land,
    read_table,
    start,
)
from energy_pandas_spark.util import owned_caches

__all__ = ["continuous_rollup", "make_rollup_writer", "rollup_batch"]


def rollup_batch(batch: DataFrame, window: str = "1 hour") -> DataFrame:
    """One micro-batch -> its windowed aggregate with the date partition
    column attached, plus ``n_values`` (the NON-NULL value count) —
    ``avg_value`` is ``F.avg``, which skips nulls, so an exact avg
    merge needs the null-skipping denominator, not ``n_events``."""
    # same expressions as windowed_aggregate plus n_values in the SAME
    # grouped pass (a second aggregate would scan the batch twice);
    # the shared columns stay byte-identical to a batch backfill
    return (
        batch.groupBy(F.window("ts", window), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("value").alias("n_values"),
            F.sum("value").alias("sum_value"),
            F.avg("value").alias("avg_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "n_values",
            "sum_value",
            "avg_value",
        )
        .withColumn("day", F.to_date("window_start"))
    )


#: merge function per built-in measure column; a custom ``accumulate``
#: extends this via the ``measures`` argument
_BUILTIN_MEASURES = {"n_events": "sum", "n_values": "sum", "sum_value": "sum"}
_MERGE_FNS = {"sum": F.sum, "max": F.max, "min": F.min}


def _read_days(
    spark: SparkSession, path: str, fresh: DataFrame, days: list
) -> DataFrame | None:
    """The stored rows of ``days``, or None before the first write.

    The table is read with an explicit schema (``fresh``'s plus the
    stamp), so no job infers it, and partition pruning keeps the read to
    the touched days. Rows written before the stamp existed read it as
    null, which no batch id matches; rows written before ``n_values``
    fall back to the old all-rows denominator (exact when ``value`` has
    no nulls). Only a missing table means "first batch": any other read
    failure propagates, because writing the batch as if it were the
    first would drop the day's history.
    """
    # a new StructType: ``fresh.schema`` is cached and ``add`` mutates it
    fields = [f for f in fresh.schema.fields if f.name != "__batch_id"]
    schema = StructType([*fields, StructField("__batch_id", LongType())])
    existing = read_table(spark, path, schema)
    if existing is None:
        return None
    existing = existing.filter(F.col("day").isin(days))
    if "n_values" in fresh.columns and "n_events" in fresh.columns:
        existing = existing.withColumn(
            "n_values", F.coalesce("n_values", "n_events")
        )
    return existing


def make_rollup_writer(
    path: str,
    window: str = "1 hour",
    accumulate: Callable[[DataFrame], DataFrame] | None = None,
    measures: dict[str, str] | list[str] | None = None,
) -> Callable[[DataFrame, int], None]:
    """Build the idempotent per-micro-batch writer (exposed separately
    from :func:`continuous_rollup` so crash/replay behavior is testable
    without driving a real stream).

    ``measures`` declares EXTRA mergeable measure columns a custom
    ``accumulate`` emits beyond the built-in set — a list (all merged
    with ``sum``) or a ``{column: "sum"|"max"|"min"}`` dict. Every
    non-stamp column that is neither a measure nor ``avg_value`` is a
    GROUPING KEY on merge; an undeclared fractional-numeric column
    raises instead of silently becoming a key (which would duplicate
    rows per window on replay-merge — ADVICE r4)."""
    agg_fn = accumulate or (lambda b: rollup_batch(b, window))
    extra = (
        {m: "sum" for m in measures}
        if isinstance(measures, (list, tuple))
        else dict(measures or {})
    )
    bad_fn = {m: f for m, f in extra.items() if f not in _MERGE_FNS}
    if bad_fn:
        raise ValueError(
            f"unsupported merge function(s) {bad_fn}: each custom "
            f"measure must merge with one of {sorted(_MERGE_FNS)}"
        )
    measure_fns = {**_BUILTIN_MEASURES, **extra}

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        fresh = agg_fn(batch)
        # schema-only checks: a bad accumulate fails before any job runs
        measures = [c for c in fresh.columns if c in measure_fns]
        derived = [c for c in ("avg_value",) if c in fresh.columns]
        if derived and not (
            "sum_value" in measures
            and ("n_values" in measures or "n_events" in measures)
        ):
            raise ValueError(
                "accumulate() emits avg_value without sum_value + "
                "n_values (or n_events): the partition merge cannot "
                "recombine an average without its sufficient statistics"
            )
        # every non-measure column is a GROUPING KEY on merge, so a
        # custom ``accumulate`` with other dimensions merges correctly
        # as long as every measure it emits is declared
        keys = [
            c
            for c in fresh.columns
            if c not in measures and c not in derived and c != "__batch_id"
        ]
        # an undeclared fractional-numeric column is almost certainly a
        # measure; grouping by it would emit duplicate rows per window
        # on merge (existing and fresh rows differ in the value)
        suspicious = [
            f.name
            for f in fresh.schema.fields
            if f.name in keys
            and (
                f.dataType.typeName() in ("double", "float")
                or f.dataType.typeName().startswith("decimal")
            )
        ]
        if suspicious:
            raise ValueError(
                f"accumulate() emits fractional-numeric column(s) "
                f"{suspicious} outside the mergeable measure set "
                f"{sorted(measure_fns)}: declare them via "
                f"measures={{'col': 'sum'|'max'|'min'}} or they would be "
                f"treated as grouping keys and duplicate rows per window "
                f"on merge"
            )
        # persisted: feeds the days collect AND the merge union
        with owned_caches() as keep:
            fresh = keep(fresh)
            days = list({r[0] for r in fresh.select("day").collect()})
            if not days:
                return
            existing = _read_days(spark, path, fresh, days)
            if existing is not None:
                # replay guard: whole partitions are swapped atomically,
                # so a day stamped with this batch's id (or a later one)
                # already holds this batch's contribution — leave it
                # untouched; days a crashed attempt did NOT swap merge
                done = {
                    r[0]
                    for r in existing.filter(F.col("__batch_id") >= batch_id)
                    .select("day")
                    .collect()
                }
                todo = [d for d in days if d not in done]
                if not todo:
                    return
                # stored grain == query grain, so union + re-aggregate on
                # the keys is an exact combine of partial counts/sums;
                # avg recomputes from the null-skipping denominator
                merged = (
                    existing.filter(F.col("day").isin(todo))
                    .select(*keys, *measures)
                    .unionByName(
                        fresh.filter(F.col("day").isin(todo)).select(
                            *keys, *measures
                        )
                    )
                    .groupBy(*keys)
                    .agg(
                        *[
                            _MERGE_FNS[measure_fns[m]](m).alias(m)
                            for m in measures
                        ]
                    )
                )
                if derived:
                    denom = (
                        "n_values" if "n_values" in measures else "n_events"
                    )
                    merged = merged.withColumn(
                        "avg_value",
                        F.col("sum_value") / F.nullif(F.col(denom), F.lit(0)),
                    )
                merged = merged.select(*fresh.columns)
            else:
                merged = fresh
            land(merged, batch_id, path, ("day",))

    return write_batch


def continuous_rollup(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    window: str = "1 hour",
    trigger_available_now: bool = True,
    accumulate: Callable[[DataFrame], DataFrame] | None = None,
    measures: dict[str, str] | list[str] | None = None,
):
    """Start the maintenance query; returns the StreamingQuery.

    Each micro-batch's windowed aggregate REPLACES the date partitions
    it touches. Because a batch may cover only part of an hour, the
    batch aggregate is first merged with the existing partition content
    by re-aggregating the union (exact, because the stored grain equals
    the query grain); ``avg_value`` is recomputed as ``sum_value /
    n_values``."""
    write_batch = make_rollup_writer(path, window, accumulate, measures)
    return start(stream, write_batch, checkpoint, trigger_available_now)
