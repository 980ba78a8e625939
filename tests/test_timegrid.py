"""The time grid (``core/timeindex.py``): one frequency grammar for
every operator, a bucket floor that keeps the input's timestamp type,
and no epoch reads outside the grid and ``util.epoch_micros``."""

from __future__ import annotations

import ast
import pathlib
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

import energy_pandas_spark
from energy_pandas_spark import EnergyFrame
from energy_pandas_spark.core.timeindex import (
    freq_to_seconds,
    parse_freq,
    time_index,
)
from energy_pandas_spark.operators import analytics, behavior, joins

TZ = "spark.sql.session.timeZone"

# wall clocks across New York's 2018-03-11 spring-forward gap (02:00-03:00
# does not exist there) and into April
WALL = [
    ("a", "2018-03-10 22:00:00", 1.0),
    ("a", "2018-03-11 00:00:00", 2.0),
    ("a", "2018-03-11 01:30:00", 4.0),
    ("a", "2018-03-11 02:15:00", 8.0),
    ("a", "2018-03-11 05:00:00", 16.0),
    ("a", "2018-04-02 10:00:00", 32.0),
    ("b", "2018-03-11 01:00:00", 3.0),
    ("b", "2018-03-11 03:45:00", 5.0),
]
RIGHT = [
    ("a", "2018-03-11 01:00:00", 10.0),
    ("a", "2018-03-11 04:30:00", 20.0),
    ("b", "2018-03-11 00:30:00", 30.0),
]
EVENTS = [  # user 2's click is 130 wall-clock minutes after its view
    (1, "view", "2018-03-11 01:30:00"),
    (1, "click", "2018-03-11 03:10:00"),
    (2, "view", "2018-03-11 01:30:00"),
    (2, "click", "2018-03-11 03:40:00"),
]


def _frame(spark, rows, schema, ts_type):
    """``rows`` with their ``ts`` strings read as ``ts_type``."""
    df = spark.createDataFrame(rows, schema)
    return df.withColumn("ts", F.col("ts").cast(ts_type))


def _series(spark, t):
    return _frame(spark, WALL, "g string, ts string, v double", t)


def _fill(**kw):
    return lambda spark, t: analytics.fill_gaps(
        _series(spark, t), "ts", "1 hour", "v", by="g", **kw
    )


def _rolling(spark, t):
    df = _series(spark, t).withColumn("x", F.col("v") / 4)
    return analytics.rolling_fit(
        df, "ts", "x", "v", window_seconds=7200, by="g", bucket_seconds=3600
    )


def _asof(spark, t):
    right = _frame(spark, RIGHT, "g string, ts string, r double", t)
    return joins.asof_join(
        _series(spark, t), right, on="ts", by="g", tolerance_seconds=5400
    )


def _funnel(spark, t):
    ev = _frame(spark, EVENTS, "user_id long, event_type string, ts string", t)
    return behavior.funnel(ev, ["view", "click"], within_seconds=6000)


OPERATORS = {
    "fill_gaps_ffill": _fill(),
    "fill_gaps_ffill_limit": _fill(limit=1),
    "fill_gaps_linear": _fill(method="linear"),
    "resample_1_hour": lambda spark, t: analytics.resample(
        _series(spark, t), "ts", "1 hour", ["v"]
    ),
    "resample_month": lambda spark, t: analytics.resample(
        _series(spark, t), "ts", "month", ["v"]
    ),
    "monthly": lambda spark, t: analytics.monthly(_series(spark, t), "ts", ["v"]),
    "rolling_fit_buckets": _rolling,
    "asof_join_tolerance": _asof,
    "funnel_within": _funnel,
}


def _rows(df):
    """Rows with timestamps as wall-clock strings, sorted."""
    cols = [
        F.col(c).cast("string") if t.startswith("timestamp") else F.col(c)
        for c, t in df.dtypes
    ]
    return sorted(map(tuple, df.select(cols).collect()), key=repr)


@pytest.mark.parametrize("name", list(OPERATORS))
def test_ntz_keeps_its_type_and_wall_clock_in_a_dst_session(spark, name):
    run = OPERATORS[name]
    old = spark.conf.get(TZ)
    try:
        spark.conf.set(TZ, "UTC")
        want = _rows(run(spark, "timestamp"))
        spark.conf.set(TZ, "America/New_York")
        out = run(spark, "timestamp_ntz")
        if "ts" in out.columns:
            assert dict(out.dtypes)["ts"] == "timestamp_ntz"
        got = _rows(out)
    finally:
        spark.conf.set(TZ, old)
    assert got == want


FIXED = {
    "h": 3600, "15min": 900, "15T": 900, "D": 86400, "W": 7 * 86400,
    "1 hour": 3600, "15 minutes": 900, "6 hours": 21600,
    "12 hours": 43200, "1 day": 86400,
}
CALENDAR = ["week", "month", "quarter", "year"]
SAMPLE = [datetime(2018, 3, 11, 5, 37), datetime(2018, 11, 29, 23, 59, 30)]
EPOCH = datetime(1970, 1, 1)


def _calendar_floor(t: datetime, unit: str) -> datetime:
    day = datetime(t.year, t.month, t.day)
    if unit == "week":
        return day - timedelta(days=day.weekday())
    if unit == "month":
        return day.replace(day=1)
    if unit == "quarter":
        return day.replace(month=3 * ((t.month - 1) // 3) + 1, day=1)
    return day.replace(month=1, day=1)


def _sample(spark, stamps):
    rows = [(str(t), float(i)) for i, t in enumerate(stamps)]
    return _frame(spark, rows, "ts string, v double", "timestamp")


def _stamps(df):
    return sorted(
        datetime.fromisoformat(r[0])
        for r in df.select(F.col("ts").cast("string")).collect()
    )


@pytest.mark.parametrize("spelling", list(FIXED))
def test_fixed_spelling_means_its_step_everywhere(spark, spelling):
    step = FIXED[spelling]
    assert parse_freq(spelling) == freq_to_seconds(spelling) == step
    old = spark.conf.get(TZ)
    spark.conf.set(TZ, "UTC")
    try:
        delta = timedelta(seconds=step)
        grid = _stamps(time_index(spark, 3, frequency=spelling))
        assert [b - a for a, b in zip(grid, grid[1:])] == [delta] * 2
        ef = EnergyFrame.with_timeindex(spark, [1.0, 2.0], frequency=spelling)
        first, second = _stamps(ef.spark_df)
        assert second - first == delta

        def floor(t):
            s = int((t - EPOCH).total_seconds())
            return EPOCH + timedelta(seconds=s - s % step)

        df = _sample(spark, SAMPLE)
        want = [floor(t) for t in SAMPLE]
        assert _stamps(analytics.resample(df, "ts", spelling, ["v"])) == want
        ef = EnergyFrame(df, index_col="ts")
        assert _stamps(ef.resample(spelling).spark_df) == want
        # two samples two steps apart: a three-bucket grid
        pair = _sample(spark, [SAMPLE[0], SAMPLE[0] + 2 * delta])
        want = [floor(SAMPLE[0]) + k * delta for k in range(3)]
        assert _stamps(analytics.fill_gaps(pair, "ts", spelling, "v")) == want
        ef = EnergyFrame(pair, index_col="ts")
        assert _stamps(ef.fill_gaps(spelling).spark_df) == want
    finally:
        spark.conf.set(TZ, old)


@pytest.mark.parametrize("unit", CALENDAR)
def test_calendar_spelling_buckets_by_calendar_and_is_not_a_step(spark, unit):
    assert parse_freq(unit) == unit
    df = _sample(spark, SAMPLE)
    want = sorted({_calendar_floor(t, unit) for t in SAMPLE})
    assert _stamps(analytics.resample(df, "ts", unit, ["v"])) == want
    assert _stamps(EnergyFrame(df, index_col="ts").resample(unit).spark_df) == want
    for needs_step in (
        lambda: freq_to_seconds(unit),
        lambda: time_index(spark, 3, frequency=unit),
        lambda: analytics.fill_gaps(df, "ts", unit, "v"),
        lambda: joins.interval_join_bucketed(df, df, grain=unit),
    ):
        with pytest.raises(ValueError, match="calendar"):
            needs_step()
    with pytest.raises(ValueError, match="calendar frequency must be 1"):
        parse_freq(f"2 {unit}s")


@pytest.mark.parametrize("bad", ["", "15", "1.5 hours", "fortnight", "1 hour 30 minutes"])
def test_unknown_spellings_raise(bad):
    with pytest.raises(ValueError):
        parse_freq(bad)


def test_interval_join_bucketed_grain_is_zone_free(spark):
    """The grain is a constant from the grammar, so the bucketed join
    equals the plain one in any session time zone, and an interval
    ending a fraction of a second into a bucket still reaches it."""
    facts = _series(spark, "timestamp")
    iv = spark.createDataFrame(  # the second ends half a second into 05:00
        [("2018-03-10 23:00:00", "2018-03-11 02:00:00"),
         ("2018-03-11 04:59:59", "2018-03-11 05:00:00.5"),
         ("2018-03-11 05:00:00", "2018-04-03 00:00:00")],
        "start string, end string",
    ).select(*[F.col(c).cast("timestamp").alias(c) for c in ("start", "end")])
    old = spark.conf.get(TZ)
    try:
        for zone in ("UTC", "Asia/Tokyo", "America/New_York"):
            spark.conf.set(TZ, zone)
            got = _rows(joins.interval_join_bucketed(facts, iv, grain="1 hour"))
            assert got == _rows(joins.interval_join(facts, iv))
            assert len(got) == 6
    finally:
        spark.conf.set(TZ, old)


EPOCH_READS = {"unix_timestamp", "unix_micros", "unix_seconds", "timestamp_seconds"}


def test_only_the_time_grid_reads_epoch_time():
    """``F.unix_timestamp``/``unix_micros``/``unix_seconds``/
    ``timestamp_seconds`` appear only in ``core/timeindex.py`` and in
    ``util.epoch_micros``."""
    root = pathlib.Path(energy_pandas_spark.__file__).parent
    found = set()
    for p in root.rglob("*.py"):
        rel = p.relative_to(root).as_posix()
        if rel == "core/timeindex.py":
            continue
        tree = ast.parse(p.read_text())
        allowed = {
            id(n)
            for f in ast.walk(tree)
            if rel == "util.py"
            and isinstance(f, ast.FunctionDef)
            and f.name == "epoch_micros"
            for n in ast.walk(f)
        }
        for n in ast.walk(tree):
            name = (
                n.attr if isinstance(n, ast.Attribute)
                else n.id if isinstance(n, ast.Name)
                else None
            )
            if name in EPOCH_READS and id(n) not in allowed:
                found.add(f"{rel}:{n.lineno}")
    assert found == set()
