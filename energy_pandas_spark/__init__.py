"""energy_pandas_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of the energy-pandas reference library
(samuelduchesne/energy-pandas), rebuilt Spark-first.

Design (see SURVEY.md):
- ``EnergyFrame`` is a thin immutable facade over a lazy
  :class:`pyspark.sql.DataFrame` plus a driver-side per-column units dict.
- All unit parsing / conversion-factor derivation happens on the driver
  (:mod:`energy_pandas_spark.units`); the executors see plain Column
  arithmetic. Two operators run pandas kernels in Python workers
  instead: the per-key EWMA (``mapInPandas``) and typical-period
  clustering (``applyInPandas``).
- Order-sensitive semantics (load-duration curves, period unstacking) use
  explicit index/timestamp columns + window functions, never implicit row
  order.
- Beyond reference parity, :mod:`energy_pandas_spark.operators` ships the
  large-scale training-data pipeline surface: dedup (exact / MinHash-LSH /
  SimHash / n-gram Jaccard / embedding), similarity search, text analysis,
  and multimodal column plumbing.
"""

from energy_pandas_spark.core.frame import EnergyFrame
from energy_pandas_spark.session import make_session
from energy_pandas_spark.units import (
    IncompatibleUnitsError,
    Unit,
    UnitRegistry,
    unit_registry,
)

__all__ = [
    "EnergyFrame",
    "IncompatibleUnitsError",
    "Unit",
    "UnitRegistry",
    "unit_registry",
    "make_session",
]

__version__ = "0.1.0"
