"""EnergyFrame — the unit-aware facade over a lazy Spark DataFrame.

Replaces both reference classes (``EnergySeries`` energypandas.py:46 and
``EnergyDataFrame`` energypandas.py:817) with ONE immutable wrapper: a
frame with exactly one value column plays the series role (pandas'
Series/DataFrame split is an in-memory-layout artifact with no Spark
analogue).

Metadata propagation replicates the reference's ``__finalize__`` rules
(energypandas.py:145-168 series, :872-893 frame; see SURVEY.md §1.3):

1. scalar arithmetic preserves units (test_energypandas.py:75-78);
2. binary ops between different-unit series keep the LEFT operand's unit
   (test :193-197 — dimensional algebra intentionally absent, matching
   the reference's documented behavior at energypandas.py:59);
3. projection prunes the units dict to the surviving columns
   (energypandas.py:882-886) and keeps extra metadata (test :224-240);
4. cross-column reductions over a uniform-unit frame keep that unit
   (energypandas.py:153-156, test :242-244);
5. extra metadata is stored PER INSTANCE (the reference mutates the
   class at energypandas.py:124-125 — a shared-state bug we fix, as
   sanctioned by SURVEY.md §2.10.1).

All unit math happens on the driver; executors only see plain column
arithmetic (affine ``a*x + b`` expressions compiled from registry
lookups — never pint-style objects, never Python UDFs).
"""

from __future__ import annotations

from typing import Any, Iterable, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import DoubleType, FloatType

from energy_pandas_spark.core.timeindex import attach_timeindex, time_index
from energy_pandas_spark.operators import analytics
from energy_pandas_spark.units import (
    Unit,
    to_ip_unit,
    to_si_unit,
    unit_registry,
)

__all__ = ["EnergyFrame"]


def _parse_units(
    units: Mapping[str, Any] | str | Unit | None,
    value_cols: Sequence[str],
) -> dict[str, Unit | None]:
    """Normalize the ``units`` constructor argument the way the reference
    constructors do (energypandas.py:121-123, :857-865): a single string
    applies to every value column; a mapping applies per column."""
    out: dict[str, Unit | None] = {c: None for c in value_cols}
    if units is None:
        return out
    if isinstance(units, (str, Unit)):
        u = unit_registry.parse(units) if isinstance(units, str) else units
        return {c: u for c in value_cols}
    for c, u in units.items():
        if c in out and u is not None:
            out[c] = unit_registry.parse(u) if isinstance(u, str) else u
    return out


def _read_sidecar(spark: SparkSession, path: str) -> dict | None:
    """Load the ``_energy_meta`` sidecar written by the CSV/JSON sinks;
    None when absent (plain files produced outside the engine)."""
    import json

    try:
        rows = spark.read.text(path.rstrip("/") + "/_energy_meta").collect()
    except Exception:
        return None
    if not rows:
        return None
    return json.loads("".join(r[0] for r in rows))


class EnergyFrame:
    """Immutable facade over (DataFrame, per-column units, index, meta)."""

    def __init__(
        self,
        df: DataFrame,
        units: Mapping[str, Any] | str | Unit | None = None,
        index_col: str | None = None,
        meta: Mapping[str, Any] | None = None,
        value_cols: Sequence[str] | None = None,
    ) -> None:
        self._df = df
        self._index_col = index_col if (index_col in df.columns or index_col is None) else None
        if value_cols is None:
            value_cols = [
                f.name
                for f in df.schema.fields
                if isinstance(f.dataType, (DoubleType, FloatType))
                and f.name != index_col
            ]
        self._value_cols = list(value_cols)
        self._units = _parse_units(units, self._value_cols)
        self._meta = dict(meta or {})

    # ------------------------------------------------------------------
    # constructors
    # ------------------------------------------------------------------
    @classmethod
    def with_timeindex(
        cls,
        spark: SparkSession,
        data: Sequence[float] | DataFrame,
        units: Any = None,
        name: str = "value",
        base_year: int = 2018,
        frequency: str = "h",
        meta: Mapping[str, Any] | None = None,
        ordinal_col: str | None = None,
    ) -> "EnergyFrame":
        """Series construction with a synthesized hourly (or ``frequency``,
        a fixed step in the grammar of
        :mod:`energy_pandas_spark.core.timeindex`) time index starting
        Jan-1 of ``base_year`` (reference ``EnergySeries.with_timeindex``,
        energypandas.py:175-229).

        ``data`` may be a driver-side sequence (test-fixture scale) or an
        existing DataFrame with a 0-based ordinal column named
        ``ordinal_col`` (distributed path — per-row arithmetic only).
        """
        if isinstance(data, DataFrame):
            if ordinal_col is None:
                raise ValueError("ordinal_col required for DataFrame input")
            df = attach_timeindex(data, ordinal_col, base_year, frequency)
            df = df.select("ts", *[c for c in data.columns if c != ordinal_col])
        else:
            idx = time_index(spark, len(data), base_year, frequency)
            pdf = spark.createDataFrame(
                [(i, float(v)) for i, v in enumerate(data)], f"idx long, {name} double"
            )
            df = idx.join(pdf, "idx").select("ts", name)
        return cls(df, units=units, index_col="ts", meta=meta)

    @classmethod
    def from_range(
        cls,
        spark: SparkSession,
        n: int,
        units: Any = None,
        name: str = "value",
        base_year: int = 2018,
        frequency: str = "h",
        meta: Mapping[str, Any] | None = None,
    ) -> "EnergyFrame":
        """The canonical test fixture: value = ordinal (range(n)) with an
        hourly time index — fully distributed via ``spark.range``."""
        df = time_index(spark, n, base_year, frequency).select(
            "ts", F.col("idx").cast("double").alias(name)
        )
        return cls(df, units=units, index_col="ts", meta=meta)

    @classmethod
    def read_parquet(
        cls,
        spark: SparkSession,
        path: str,
        index_col: str | None = "ts",
        meta: Mapping[str, Any] | None = None,
    ) -> "EnergyFrame":
        """Rehydrate an EnergyFrame from parquet written via ``.df``:
        per-column unit strings come back out of
        ``StructField.metadata['units']`` (Spark persists field metadata
        in the parquet footer), completing the write/read round trip
        without a sidecar file."""
        df = spark.read.parquet(path)
        units = {
            f.name: f.metadata["units"]
            for f in df.schema.fields
            if f.metadata and "units" in f.metadata
        }
        if index_col not in df.columns:
            index_col = None
        return cls(df, units=units or None, index_col=index_col, meta=meta)

    @classmethod
    def read_csv(
        cls,
        spark: SparkSession,
        path: str,
        index_col: str | None = None,
        meta: Mapping[str, Any] | None = None,
    ) -> "EnergyFrame":
        """Rehydrate from CSV written via :meth:`to_csv`. CSV carries no
        field metadata or types, so the writer leaves a ``_energy_meta``
        sidecar (units, index column, exact schema JSON) inside the
        output directory; reading applies the saved schema — no
        inference scan over the data files."""
        saved = _read_sidecar(spark, path)
        reader = spark.read.option("header", "true")
        if saved and saved.get("schema"):
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(saved["schema"]))
        else:
            # foreign file: pay the inference scan once rather than
            # loading every column as string
            reader = reader.option("inferSchema", "true")
        df = reader.csv(path)
        return cls._from_saved(df, saved, index_col, meta)

    @classmethod
    def read_json(
        cls,
        spark: SparkSession,
        path: str,
        index_col: str | None = None,
        meta: Mapping[str, Any] | None = None,
    ) -> "EnergyFrame":
        """Rehydrate from JSON-lines written via :meth:`to_json` (same
        sidecar contract as :meth:`read_csv`; the saved schema keeps
        timestamps typed and skips the inference pass)."""
        saved = _read_sidecar(spark, path)
        reader = spark.read
        if saved and saved.get("schema"):
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(saved["schema"]))
        df = reader.json(path)
        return cls._from_saved(df, saved, index_col, meta)

    @classmethod
    def read_orc(
        cls,
        spark: SparkSession,
        path: str,
        index_col: str | None = None,
        meta: Mapping[str, Any] | None = None,
    ) -> "EnergyFrame":
        """Rehydrate from ORC written via :meth:`to_orc`. ORC keeps
        types but (unlike parquet) Spark does not persist StructField
        metadata in ORC footers, so units ride in the same
        ``_energy_meta`` sidecar as CSV/JSON."""
        saved = _read_sidecar(spark, path)
        df = spark.read.orc(path)
        return cls._from_saved(df, saved, index_col, meta)

    @classmethod
    def _from_saved(
        cls,
        df: DataFrame,
        saved: dict | None,
        index_col: str | None,
        meta: Mapping[str, Any] | None,
    ) -> "EnergyFrame":
        units = (saved or {}).get("units") or None
        if index_col is None:
            index_col = (saved or {}).get("index_col")
        if index_col not in df.columns:
            index_col = None
        return cls(df, units=units, index_col=index_col, meta=meta)

    @classmethod
    def from_reportdata(cls, *args: Any, **kwargs: Any) -> "EnergyFrame":
        """EnergyPlus ReportData ingestion — see
        :func:`energy_pandas_spark.sources.reportdata.from_reportdata`."""
        from energy_pandas_spark.sources.reportdata import from_reportdata

        return from_reportdata(*args, **kwargs)

    # ------------------------------------------------------------------
    # introspection
    # ------------------------------------------------------------------
    @property
    def spark_df(self) -> DataFrame:
        """The raw underlying lazy DataFrame."""
        return self._df

    @property
    def df(self) -> DataFrame:
        """The DataFrame with units stamped into ``StructField.metadata``
        (survives writes to parquet; readers can recover units without
        the wrapper)."""
        out = []
        for c in self._df.columns:
            u = self._units.get(c)
            if u is not None:
                out.append(F.col(c).alias(c, metadata={"units": str(u)}))
            else:
                out.append(F.col(c))
        return self._df.select(out)

    @property
    def index_col(self) -> str | None:
        return self._index_col

    @property
    def value_cols(self) -> list[str]:
        return list(self._value_cols)

    @property
    def units(self) -> dict[str, Unit | None]:
        return dict(self._units)

    @property
    def unit(self) -> Unit | None:
        """The single shared unit (series view / uniform frame), else
        None — the frame→series collapse rule (energypandas.py:153-156)."""
        distinct = {u for u in self._units.values()}
        return next(iter(distinct)) if len(distinct) == 1 else None

    @property
    def meta(self) -> dict[str, Any]:
        return dict(self._meta)

    @property
    def is_series(self) -> bool:
        return len(self._value_cols) == 1

    @property
    def name(self) -> str | None:
        return self._value_cols[0] if self.is_series else None

    @property
    def nseries(self) -> int:
        """Column count (reference ``nseries``, energypandas.py:1110-1116)."""
        return len(self._value_cols)

    def __repr__(self) -> str:
        units = {c: str(u) if u else None for c, u in self._units.items()}
        return (
            f"EnergyFrame(value_cols={self._value_cols}, units={units}, "
            f"index={self._index_col!r}, meta={self._meta})"
        )

    def __getattr__(self, item: str) -> Any:
        # per-instance extra metadata is attribute-visible, like the
        # reference's _metadata entries (test_energypandas.py:18-22)
        try:
            return self.__dict__["_meta"][item]
        except KeyError:
            raise AttributeError(item) from None

    def _derive(self, df: DataFrame, **changes: Any) -> "EnergyFrame":
        """A frame over ``df`` with this frame's units, index column,
        meta and value columns, except those named in ``changes``."""
        kept = dict(
            units=self._units,
            index_col=self._index_col,
            meta=self._meta,
            value_cols=self._value_cols,
        )
        return EnergyFrame(df, **{**kept, **changes})

    # ------------------------------------------------------------------
    # projection (finalize rule 3)
    # ------------------------------------------------------------------
    def __getitem__(self, item: str | Sequence[str]) -> "EnergyFrame":
        cols = [item] if isinstance(item, str) else list(item)
        missing = [c for c in cols if c not in self._value_cols]
        if missing:
            raise KeyError(missing)
        keep = ([self._index_col] if self._index_col else []) + cols
        return self._derive(self._df.select(keep), value_cols=cols)

    def filter(self, condition: Any) -> "EnergyFrame":
        """Row filtering (the reference inherits pandas boolean masks,
        test row-slicing keeps units/metadata): columns, units, and
        meta survive unchanged; only rows drop. Accepts a Column or a
        SQL expression string."""
        return self._derive(self._df.filter(condition))

    where = filter

    # ------------------------------------------------------------------
    # unit conversion (P2-P4)
    # ------------------------------------------------------------------
    def to_units(
        self,
        to_units: Any,
        columns: Sequence[str] | None = None,
    ) -> "EnergyFrame":
        """Affine unit conversion. Each column converts FROM ITS OWN
        current unit (energypandas.py:960-991: per-column ``Quantity(col,
        col.units).to(target)``; value check test_energypandas.py:80-87:
        degC→kelvin adds 273.15). Compiles to one ``select`` of
        ``x*slope + intercept`` expressions — constant-folded by
        Catalyst, zero Python in the executors."""
        target = (
            unit_registry.parse(to_units) if isinstance(to_units, str) else to_units
        )
        cols = list(columns) if columns is not None else self._value_cols
        exprs = []
        new_units = dict(self._units)
        for c in self._df.columns:
            if c in cols and self._units.get(c) is not None:
                slope, intercept = unit_registry.conversion(self._units[c], target)
                e = F.col(c) * F.lit(slope)
                if intercept != 0.0:
                    e = e + F.lit(intercept)
                exprs.append(e.alias(c))
                new_units[c] = target
            else:
                exprs.append(F.col(c))
        return self._derive(self._df.select(exprs), units=new_units)

    def _to_default(self, table_lookup) -> "EnergyFrame":
        out: EnergyFrame = self
        for c in self._value_cols:
            u = self._units.get(c)
            if u is None:
                continue
            tgt = table_lookup(u)
            if tgt is None:
                continue  # silent no-op (energypandas.py:660-662, :672-674)
            out = out.to_units(tgt, columns=[c])
        return out

    def to_ip(self) -> "EnergyFrame":
        """Convert to default inch-pound units (energypandas.py:665-677).

        The silent no-op applies to UNMAPPED units only (the
        reference's KeyError branch). A mapped-but-inconvertible entry
        raises in both engines: the EnergyPlus definitions file sets
        ``kBtuh = 1000 * Btu * hour`` (energy*time, energyplus_en.txt:45),
        so the table's ``kW -> kBtuh/h`` can never convert — the
        reference hits pint's DimensionalityError there, this engine
        raises IncompatibleUnitsError (parity, bug included)."""
        return self._to_default(to_ip_unit)

    def to_si(self) -> "EnergyFrame":
        """Convert to default SI units (energypandas.py:653-663)."""
        return self._to_default(to_si_unit)

    # ------------------------------------------------------------------
    # arithmetic (finalize rules 1-2)
    # ------------------------------------------------------------------
    def _binary(self, other: Any, op) -> "EnergyFrame":
        if isinstance(other, EnergyFrame):
            return self._binary_frame(other, op)
        exprs = []
        for c in self._df.columns:
            if c in self._value_cols:
                exprs.append(op(F.col(c), F.lit(other)).alias(c))
            else:
                exprs.append(F.col(c))
        return self._derive(self._df.select(exprs))  # rule 1: units kept

    def _binary_frame(self, other: "EnergyFrame", op) -> "EnergyFrame":
        """Align on the index column (pandas outer-join alignment,
        energypandas.py:54-56) and apply ``op`` columnwise. The LEFT
        operand's units win (rule 2, test :193-197)."""
        if self._index_col is None or other._index_col is None:
            raise ValueError("frame-frame arithmetic requires index columns")
        if self.is_series and other.is_series:
            pairs = [(self.name, other.name)]
        elif set(self._value_cols) == set(other._value_cols):
            pairs = [(c, c) for c in self._value_cols]
        else:
            raise ValueError(
                "frame-frame arithmetic requires matching value columns"
            )
        left = self._df.select(
            F.col(self._index_col).alias("__idx"),
            *[F.col(c).alias(f"__l_{i}") for i, (c, _) in enumerate(pairs)],
        )
        right = other._df.select(
            F.col(other._index_col).alias("__idx"),
            *[F.col(c2).alias(f"__r_{i}") for i, (_, c2) in enumerate(pairs)],
        )
        joined = left.join(right, "__idx", "outer")
        exprs = [F.col("__idx").alias(self._index_col)] + [
            op(F.col(f"__l_{i}"), F.col(f"__r_{i}")).alias(c)
            for i, (c, _) in enumerate(pairs)
        ]
        return self._derive(joined.select(exprs), value_cols=[c for c, _ in pairs])

    def __add__(self, other: Any) -> "EnergyFrame":
        return self._binary(other, lambda a, b: a + b)

    __radd__ = __add__

    def __sub__(self, other: Any) -> "EnergyFrame":
        return self._binary(other, lambda a, b: a - b)

    def __rsub__(self, other: Any) -> "EnergyFrame":
        # scalar - frame: the non-commutative reflections the pandas
        # reference supports alongside __radd__/__rmul__
        return self._binary(other, lambda a, b: b - a)

    def __mul__(self, other: Any) -> "EnergyFrame":
        return self._binary(other, lambda a, b: a * b)

    __rmul__ = __mul__

    def __truediv__(self, other: Any) -> "EnergyFrame":
        return self._binary(other, lambda a, b: a / b)

    def __rtruediv__(self, other: Any) -> "EnergyFrame":
        return self._binary(other, lambda a, b: b / a)

    # ------------------------------------------------------------------
    # analytics (delegating to the operator layer)
    # ------------------------------------------------------------------
    def normalize(self) -> "EnergyFrame":
        """Min-max scale to [0,1]; units become dimensionless
        (energypandas.py:330-349, :993-1008)."""
        out = analytics.normalize(self._df, self._value_cols)
        return self._derive(out, units=unit_registry.parse("dimensionless"))

    @property
    def ldc(self) -> "EnergyFrame":
        """Load-duration curve (energypandas.py:641-644); metadata kept."""
        if not self.is_series:
            raise ValueError("ldc is defined on a single value column")
        out = analytics.ldc(self._df, self.name, index_name="idx")
        return self._derive(out, index_col="idx")

    def ldc_source(
        self, scoph: float | None = None, scopc: float | None = None
    ) -> "EnergyFrame":
        if not self.is_series:
            raise ValueError("ldc_source is defined on a single value column")
        out = analytics.ldc_source(self._df, self.name, scoph, scopc)
        return self._derive(out, index_col="idx")

    def source_side(
        self, scoph: float | None = None, scopc: float | None = None
    ) -> "EnergyFrame":
        out = analytics.source_side(self._df, self._value_cols, scoph, scopc)
        return self._derive(out)

    def monthly(self, agg: str = "avg") -> "EnergyFrame":
        if self._index_col is None:
            raise ValueError("monthly requires a time index column")
        out = analytics.monthly(self._df, self._index_col, self._value_cols, agg)
        # reference labels the result frequency "M" (energypandas.py:613-614)
        return self._derive(out, meta={**self._meta, "frequency": "M"})

    def resample(self, freq: str, agg: str = "mean") -> "EnergyFrame":
        """Freq-general time-bucket downsampling ('15 minutes', 'h',
        '6 hours', '1 day', 'month', ...; the grammar of
        :mod:`energy_pandas_spark.core.timeindex`) — generalizes the
        reference's monthly-only ``resample("ME").mean()`` surface.
        Units follow finalize rule 4 (an aggregate of a column keeps
        its unit); ``meta["frequency"]`` records ``freq``."""
        if self._index_col is None:
            raise ValueError("resample requires a time index column")
        spark_agg = {"mean": "avg"}.get(agg, agg)
        out = analytics.resample(
            self._df, self._index_col, freq, self._value_cols, spark_agg
        )
        return self._derive(out, meta={**self._meta, "frequency": freq})

    def fill_gaps(self, freq: str, method: str = "ffill") -> "EnergyFrame":
        """Reindex onto a regular ``freq`` grid (a fixed step in the
        grammar of :mod:`energy_pandas_spark.core.timeindex`) and fill
        holes (ffill or linear interpolation) — see
        operators.analytics.fill_gaps."""
        if self._index_col is None:
            raise ValueError("fill_gaps requires a time index column")
        if not self.is_series:
            raise ValueError("fill_gaps operates on a single value column")
        out = analytics.fill_gaps(
            self._df, self._index_col, freq, self.name,
            method=method, mark_gaps=False,
        )
        return self._derive(out)

    def diff(self, periods: int = 1) -> "EnergyFrame":
        """Lagged difference along the time index (pandas ``.diff()``);
        units are preserved (a difference of degC readings stays degC,
        matching the reference's no-dimensional-algebra stance)."""
        if self._index_col is None:
            raise ValueError("diff requires a time index column")
        out = analytics.diff(
            self._df, self._index_col, self._value_cols, periods=periods
        )
        return self._derive(out)

    def p_max(self, by: str | None = None) -> "float | EnergyFrame":
        out = analytics.p_max(self._df, self._value_cols, by)
        if by is None and self.is_series:
            return out.collect()[0][0]
        return self._derive(out, index_col=by)

    def capacity_factor(self) -> float:
        if not self.is_series:
            raise ValueError("capacity_factor is defined on a single value column")
        return analytics.capacity_factor(self._df, self._value_cols).collect()[0][0]

    def time_at_min(self):
        if self._index_col is None:
            raise ValueError("time_at_min requires an index column")
        if not self.is_series:
            raise ValueError("time_at_min is defined on a single value column")
        return analytics.time_at_min(self._df, self._index_col, self.name).collect()[0][0]

    def mean(self, axis: int = 0) -> "EnergyFrame | float":
        return self._reduce("avg", axis)

    def sum(self, axis: int = 0) -> "EnergyFrame | float":
        return self._reduce("sum", axis)

    def _reduce(self, how: str, axis: int) -> "EnergyFrame | float":
        if axis == 0:
            agg = [getattr(F, how)(c).alias(c) for c in self._value_cols]
            row = self._df.agg(*agg).collect()[0]
            return row[0] if self.is_series else dict(zip(self._value_cols, row))
        # axis=1: cross-column expression; shared unit survives (rule 4).
        # pandas skipna semantics (the reference is a pandas subclass):
        # NULL cells are EXCLUDED — mean averages the non-null cells
        # (all-null row -> NULL), sum treats them as 0 (all-null -> 0.0,
        # pandas' skipna sum). A naive `a + b` would null the whole row
        # on one null cell.
        if not self._value_cols:
            raise ValueError(f"{how}(axis=1) requires at least one value column")
        total = sum(
            (F.coalesce(F.col(c).cast("double"), F.lit(0.0)) for c in self._value_cols[1:]),
            F.coalesce(F.col(self._value_cols[0]).cast("double"), F.lit(0.0)),
        )
        nn = sum(
            (F.col(c).isNotNull().cast("int") for c in self._value_cols[1:]),
            F.col(self._value_cols[0]).isNotNull().cast("int"),
        )
        expr = (
            F.when(nn > 0, total / nn.cast("double")) if how == "avg" else total
        )
        name = how if how != "avg" else "mean"
        keep = [self._index_col] if self._index_col else []
        out = self._df.select(*keep, expr.alias(name))
        return self._derive(out, units={name: self.unit}, value_cols=[name])

    def discretize_tsam(self, **kwargs: Any) -> "EnergyFrame":
        """Typical-period clustering (reference energypandas.py:384-412,
        :1118-1147) — see
        :mod:`energy_pandas_spark.operators.clustering`."""
        from energy_pandas_spark.operators.clustering import discretize_frame

        if self._index_col is None:
            raise ValueError("discretize_tsam requires a time index")
        out = discretize_frame(self._df, self._index_col, self._value_cols, **kwargs)
        return self._derive(out)

    def unstack_to_periods(self, periodlength: int) -> DataFrame:
        from energy_pandas_spark.operators.reshape import unstack_to_periods

        if self._index_col is None:
            raise ValueError("unstack_to_periods requires a time index")
        if not self.is_series:
            raise ValueError(
                "unstack_to_periods is defined on a single value column"
            )
        return unstack_to_periods(
            self._df, self._index_col, self.name, periodlength
        )

    def to_parquet(self, path: str, mode: str = "overwrite") -> None:
        """Write with per-column unit metadata stamped (round-trips via
        :meth:`read_parquet`)."""
        self.df.write.mode(mode).parquet(path)

    def to_csv(self, path: str, mode: str = "overwrite") -> None:
        """Write CSV plus a ``_energy_meta`` sidecar (units, index
        column, schema) — round-trips via :meth:`read_csv`. The sidecar
        is written through Spark's filesystem layer, so the path may be
        any supported storage (local, HDFS, S3); its underscore-prefixed
        name makes data readers skip it."""
        self._df.write.mode(mode).option("header", "true").csv(path)
        self._write_sidecar(path)

    def to_json(self, path: str, mode: str = "overwrite") -> None:
        """Write JSON-lines plus the ``_energy_meta`` sidecar —
        round-trips via :meth:`read_json`."""
        self._df.write.mode(mode).json(path)
        self._write_sidecar(path)

    def to_orc(self, path: str, mode: str = "overwrite") -> None:
        """Write ORC plus the ``_energy_meta`` sidecar — round-trips via
        :meth:`read_orc`."""
        self._df.write.mode(mode).orc(path)
        self._write_sidecar(path)

    def _write_sidecar(self, path: str) -> None:
        import json

        payload = json.dumps(
            {
                "units": {
                    c: str(u) for c, u in self._units.items() if u is not None
                },
                "index_col": self._index_col,
                "schema": json.loads(self._df.schema.json()),
            }
        )
        spark = self._df.sparkSession
        spark.createDataFrame([(payload,)], "v string").coalesce(1).write.mode(
            "overwrite"
        ).text(path.rstrip("/") + "/_energy_meta")

    # ------------------------------------------------------------------
    # plotting (distributed prep + driver-side render; V1-V3)
    # ------------------------------------------------------------------
    def plot2d(self, **kwargs: Any):
        """Heatmap of the period-unstacked series (reference
        energypandas.py:679-802)."""
        from energy_pandas_spark.plotting import plot2d

        return plot2d(self, **kwargs)

    def plot3d(self, **kwargs: Any):
        """3D surface/wireframe/contour (reference energypandas.py:
        414-601)."""
        from energy_pandas_spark.plotting import plot3d

        return plot3d(self, **kwargs)

    # ------------------------------------------------------------------
    # materialization
    # ------------------------------------------------------------------
    def to_pandas(self):
        order = [self._index_col] if self._index_col else []
        df = self._df.orderBy(*order) if order else self._df
        return df.toPandas()

    def collect_values(self) -> list[float]:
        order = [self._index_col] if self._index_col else []
        df = self._df.orderBy(*order) if order else self._df
        return [r[0] for r in df.select(self.name).collect()]
