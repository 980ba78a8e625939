"""EnergyPlus ReportData ingestion (SURVEY.md §2.1 S4/S5).

Replicates ``EnergySeries.from_reportdata`` (energypandas.py:231-309)
and ``EnergyDataFrame.from_reportdata`` (energypandas.py:895-946) as one
lazy DataFrame chain:

    scan -> timestamp assembly -> interval shift -> [unit check]
         -> groupBy(ts).agg / pivot -> [normalize] -> [sort] -> [to_units]

Timestamp assembly: the reference builds ``to_datetime({year: base_year,
month, day, hour, minute})`` then subtracts ``Interval`` minutes
(energypandas.py:268-278). We assemble midnight-of-day with
``make_timestamp`` and add hour/minute/-interval as ONE interval
expression, which additionally tolerates EnergyPlus's 1-24 hour
convention (hour 24 rolls into the next day instead of erroring).

The mixed-units check (energypandas.py:283-288 — raises on >1 distinct
``Units`` value) is the only eager step: ``distinct().limit(3).collect()``
on the ``Units`` column (a small job; two values already prove a mix)
because unit metadata must be resolved on the driver.

Scale: the dedup/pivot aggregations are hash aggregations with map-side
partials keyed on the timestamp; the pivot's width is bounded by the
number of report keys (KeyValue), which is a schema-sized quantity, not
a data-sized one.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Sequence

from pyspark.sql import DataFrame, functions as F

if TYPE_CHECKING:
    from energy_pandas_spark.core.frame import EnergyFrame

__all__ = ["assemble_timestamp", "from_reportdata", "from_reportdata_pivot"]


def assemble_timestamp(
    base_year: int = 2018,
    month: str = "Month",
    day: str = "Day",
    hour: str = "Hour",
    minute: str = "Minute",
    interval: str | None = "Interval",
) -> F.Column:
    """Timestamp-from-parts minus the reporting interval, as a single
    column expression (energypandas.py:268-278)."""
    midnight = F.make_timestamp(
        F.lit(base_year), F.col(month), F.col(day), F.lit(0), F.lit(0), F.lit(0)
    )
    shift_min = (F.col(hour) * 60 + F.col(minute)) - (
        F.col(interval) if interval else F.lit(0)
    )
    return midnight + F.make_interval(mins=shift_min.cast("int"))


def _check_single_unit(df: DataFrame, units: str | None) -> str | None:
    """Reject mixed units (energypandas.py:283-288). Eager but tiny."""
    if units is not None:
        return units
    if "Units" not in df.columns:
        return None
    distinct = [r[0] for r in df.select("Units").distinct().limit(3).collect()]
    if len(distinct) > 1:
        raise ValueError(f"The DataFrame contains mixed units: {sorted(distinct)}")
    return distinct[0] if distinct else None


def from_reportdata(
    df: DataFrame,
    name: str | None = None,
    base_year: int = 2018,
    units: str | None = None,
    normalize: bool = False,
    sort_values: bool = False,
    ascending: bool = False,
    to_units: str | None = None,
    agg_func: str | None = "sum",
) -> "EnergyFrame":
    """Series variant (energypandas.py:231-309). ``agg_func=None`` keeps
    the (ts, Name) composite key instead of collapsing duplicates
    (:292-294)."""
    from energy_pandas_spark.core.frame import EnergyFrame
    from energy_pandas_spark.operators import analytics

    unit = _check_single_unit(df, units)
    value_name = name or "Value"
    ts = assemble_timestamp(base_year).alias("ts")
    based = df.select(ts, F.col("Value"), *(["Name"] if "Name" in df.columns else []))
    if agg_func:
        out = based.groupBy("ts").agg(
            getattr(F, {"mean": "avg"}.get(agg_func, agg_func))("Value").alias(value_name)
        )
        value_cols = [value_name]
    else:
        out = based.select("ts", "Name", F.col("Value").alias(value_name))
        value_cols = [value_name]
    if normalize:
        out = analytics.normalize(out, value_cols)
        unit = "dimensionless"
    if sort_values:
        out = out.orderBy(F.col(value_name).asc() if ascending else F.col(value_name).desc())
    ef = EnergyFrame(out, units={value_name: unit} if unit else None,
                     index_col="ts", value_cols=value_cols)
    if to_units and not normalize:
        ef = ef.to_units(to_units)
    return ef


def from_reportdata_pivot(
    df: DataFrame,
    name: str | None = None,
    base_year: int = 2018,
    units: str | None = None,
    normalize: bool = False,
    sort_values: str | bool = False,
    to_units: str | None = None,
    key_values: Sequence[str] | None = None,
    agg_func: str = "avg",
) -> "EnergyFrame":
    """Wide variant (energypandas.py:895-946): pivot ``Value`` by
    ``KeyValue`` per TimeIndex. ``pivot_table``'s default aggfunc is
    MEAN — replicated with ``avg`` (``agg_func`` admits any SQL
    aggregate name, like the series variant's ``agg_func``,
    energypandas.py:290-291). Passing ``key_values`` (the expected
    pivot columns) keeps the plan single-pass; otherwise Spark runs a
    small distinct job to discover them. ``name`` lands in the frame's
    ``meta`` — the reference passes it to the EnergyDataFrame ctor
    (energypandas.py:939)."""
    from energy_pandas_spark.core.frame import EnergyFrame
    from energy_pandas_spark.operators import analytics

    unit = _check_single_unit(df, units)
    ts = assemble_timestamp(base_year).alias("ts")
    based = df.select("TimeIndex", ts, F.col("KeyValue"), F.col("Value"))
    # date parts are constant per TimeIndex: take their mean like
    # pivot_table does (energypandas.py:918-936) — avg(ts-as-seconds)
    pivoted = (
        based.groupBy("TimeIndex")
        .pivot("KeyValue", list(key_values) if key_values else None)
        .agg(getattr(F, agg_func)("Value"))
    )
    times = based.groupBy("TimeIndex").agg(F.min("ts").alias("ts"))
    out = pivoted.join(times, "TimeIndex").drop("TimeIndex")
    value_cols = [c for c in out.columns if c != "ts"]
    ef = EnergyFrame(
        out,
        units={c: unit for c in value_cols} if unit else None,
        index_col="ts",
        meta={"name": name} if name is not None else None,
        value_cols=value_cols,
    )
    if to_units:
        ef = ef.to_units(to_units)
    if normalize:
        ef = ef.normalize()
    if sort_values:
        col = sort_values if isinstance(sort_values, str) else value_cols[0]
        ef = EnergyFrame(
            ef.spark_df.orderBy(col), units=ef.units, index_col="ts",
            meta=ef.meta, value_cols=value_cols,
        )
    return ef
