"""The time grid: how a frequency string becomes a step, how a
timestamp is floored to a bucket, and the Spark-native replacement for
the reference's ``with_timeindex`` DatetimeIndex construction
(energypandas.py:175-229, index built at :226-228). The batch
operators that bucket or step time go through this module.

Frequency grammar (:func:`parse_freq`): ``[n][ ]unit``, case-insensitive;
``n`` defaults to 1 and a plural ``s`` is dropped (``6 hours``).

- fixed steps: ``s``/``sec``/``second``, ``t``/``min``/``minute``,
  ``h``/``hr``/``hour``, ``d``/``day``, and ``w`` (a fixed 7-day step);
  so ``h``, ``15min``, ``15T``, ``D``, ``1 hour``, ``15 minutes`` and
  ``1 day`` all parse;
- calendar units: ``week`` (Monday-aligned), ``month``, ``quarter``,
  ``year``; ``n`` must be 1. Where a fixed step is required
  (``fill_gaps``, ``time_index``, ``interval_join_bucketed``) a
  calendar unit raises ``ValueError``.

Bucket floor (:func:`bucket_floor`): the label is the bucket's left
edge, of the input's type. A fixed step subtracts ``epoch_micros mod
step`` with ``timestamp_add``, so buckets are epoch-aligned; a
TIMESTAMP stays TIMESTAMP and a TIMESTAMP_NTZ stays NTZ on its own wall
clock, whatever the session time zone (a DST gap there cannot shift or
merge NTZ buckets). A calendar unit truncates the wall-clock date and
casts it back to the input's type.

A pandas ``date_range(start, periods, freq)`` becomes either
``spark.range(n)`` + interval arithmetic (:func:`time_index`: pure
codegen, no data movement), or interval arithmetic over an existing
ordinal column (:func:`attach_timeindex`), which distributes trivially
because each row's timestamp depends only on its own ordinal.
"""

from __future__ import annotations

import re
from datetime import datetime

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..util import epoch_micros

__all__ = [
    "parse_freq",
    "freq_to_seconds",
    "floor_micros",
    "bucket_floor",
    "time_index",
    "attach_timeindex",
]

_FREQ_RE = re.compile(r"^(\d*)\s*([a-z]+)$")

# unit -> fixed step in seconds, or the calendar unit's own name
_UNITS: dict[str, int | str] = {
    "s": 1, "sec": 1, "second": 1,
    "t": 60, "min": 60, "minute": 60,
    "h": 3600, "hr": 3600, "hour": 3600,
    "d": 86400, "day": 86400,
    "w": 7 * 86400,
    "week": "week", "month": "month", "quarter": "quarter", "year": "year",
}


def parse_freq(frequency: str) -> int | str:
    """A frequency (module grammar) as its fixed step in seconds, or as
    the calendar unit name (``"week"``, ``"month"``, ...)."""
    m = _FREQ_RE.match(frequency.strip().lower())
    unit = m.group(2) if m else ""
    if unit not in _UNITS and unit.endswith("s"):
        unit = unit[:-1]  # plural
    if unit not in _UNITS:
        raise ValueError(f"unsupported frequency {frequency!r}")
    n = int(m.group(1) or 1)
    step = _UNITS[unit]
    if isinstance(step, int):
        return n * step
    if n != 1:
        raise ValueError(f"calendar frequency must be 1 {unit}, got {frequency!r}")
    return step


def freq_to_seconds(frequency: str) -> int:
    """The fixed step of ``frequency`` in seconds; calendar units
    (week/month/quarter/year) are not fixed steps and raise."""
    step = parse_freq(frequency)
    if isinstance(step, str):
        raise ValueError(
            f"{frequency!r} is a calendar frequency; a fixed step is required"
        )
    return step


def floor_micros(micros: Column, step_seconds: int) -> Column:
    """Epoch microseconds floored to a multiple of ``step_seconds``."""
    return micros - F.pmod(micros, F.lit(step_seconds * 1_000_000))


def bucket_floor(df: DataFrame, ts_col: str, freq: str | int) -> Column:
    """``ts_col`` floored to its ``freq`` bucket (a frequency string or
    a step in seconds), typed like the input (module notes)."""
    step = parse_freq(freq) if isinstance(freq, str) else freq
    ts = F.col(ts_col)
    if isinstance(step, str):
        ntz = dict(df.dtypes).get(ts_col) == "timestamp_ntz"
        return F.trunc(F.to_date(ts), step).cast(
            "timestamp_ntz" if ntz else "timestamp"
        )
    past = F.pmod(epoch_micros(df, ts_col), F.lit(step * 1_000_000))
    return F.timestamp_add("MICROSECOND", -past, ts)


def _ts_expr(ordinal: Column, start: datetime, step_seconds: int) -> Column:
    return F.lit(start).cast("timestamp") + F.make_interval(
        secs=(ordinal.cast("long") * F.lit(step_seconds)).cast("double")
    )


def time_index(
    spark: SparkSession,
    n: int,
    base_year: int = 2018,
    frequency: str = "h",
    start: datetime | None = None,
    ordinal_name: str = "idx",
    ts_name: str = "ts",
) -> DataFrame:
    """``n`` timestamps ``frequency`` apart (a fixed step, module
    grammar) starting Jan-1 of ``base_year`` (reference default,
    energypandas.py:226-228) as a distributed DataFrame ``(idx, ts)``.
    """
    start = start or datetime(base_year, 1, 1)
    step = freq_to_seconds(frequency)
    return spark.range(n).select(
        F.col("id").alias(ordinal_name),
        _ts_expr(F.col("id"), start, step).alias(ts_name),
    )


def attach_timeindex(
    df: DataFrame,
    ordinal_col: str,
    base_year: int = 2018,
    frequency: str = "h",
    start: datetime | None = None,
    ts_name: str = "ts",
) -> DataFrame:
    """Map an existing 0-based ordinal column to timestamps. Embarrassingly
    parallel (per-row arithmetic only)."""
    start = start or datetime(base_year, 1, 1)
    step = freq_to_seconds(frequency)
    return df.withColumn(ts_name, _ts_expr(F.col(ordinal_col), start, step))
