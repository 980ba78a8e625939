"""Continuous sketch maintenance: keep a per-key HLL distinct-count
table up to date from a stream without ever rescanning history.

Each micro-batch reduces to per-key batch sketches (one map-combined
aggregate over the batch only), unions them with the stored sketches,
and swaps the tiny sketch table in whole (the swap protocol of
``streaming/sink.py``, shared with ``sources.layout.compact``). Any
rollup level then reads off the table via
``operators.sketches.merge_cardinality`` — no scan of the underlying
events, ever.

Replay safety comes from the algebra, not bookkeeping: an HLL sketch
is a vector of register maxima and union is element-wise ``max``, so
re-merging the SAME batch sketch is a no-op. At-least-once delivery
therefore cannot inflate estimates — no batch-id stamps needed (unlike
the sum-merge rollup in ``streaming/rollup.py``, where replays would
double-count).
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from energy_pandas_spark.streaming.sink import (
    land,
    read_table,
    stamp,
    start,
    swap_in,
)

__all__ = [
    "make_cardinality_writer",
    "continuous_cardinality",
    "read_cardinality",
    "make_quantile_writer",
    "continuous_quantiles",
    "read_quantiles",
    "make_portable_hll_writer",
    "continuous_portable_hll",
    "read_portable_hll",
]


def _stored(spark: SparkSession, path: str, what: str = "sketch table"):
    """The stored table, through ``read_table`` like every sketch
    reader: it restores the ``__backup`` a writer that crashed between
    the two swap renames left (a bare ``spark.read.parquet`` would
    raise PATH_NOT_FOUND in exactly that window)."""
    table = read_table(spark, path)
    if table is None:
        raise FileNotFoundError(f"no {what} at {path}")
    return table


def make_cardinality_writer(
    path: str,
    key_cols: Sequence[str],
    value_col: str,
    lgk: int = 12,
) -> Callable[[DataFrame, int], None]:
    """Build the per-micro-batch ``foreachBatch`` writer (exposed for
    direct testing of crash/replay behavior)."""
    keys = list(key_cols)

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        fresh = batch.groupBy(*keys).agg(
            F.hll_sketch_agg(F.col(value_col), F.lit(lgk)).alias("hll")
        )
        existing = read_table(batch.sparkSession, path)  # None at first
        if existing is not None:
            merged = (
                existing.unionByName(fresh)
                .groupBy(*keys)
                .agg(F.hll_union_agg(F.col("hll")).alias("hll"))
            )
        else:
            merged = fresh
        swap_in(merged, path)

    return write_batch


def continuous_cardinality(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    key_cols: Sequence[str],
    value_col: str,
    lgk: int = 12,
    trigger_available_now: bool = True,
):
    """Start the maintenance query; returns the StreamingQuery."""
    write_batch = make_cardinality_writer(path, key_cols, value_col, lgk)
    return start(stream, write_batch, checkpoint, trigger_available_now)


def read_cardinality(
    spark: SparkSession,
    path: str,
    by: str | Sequence[str] | None = None,
) -> DataFrame:
    """Estimate distinct counts at any rollup level from the sketch
    table alone."""
    from energy_pandas_spark.operators.sketches import merge_cardinality

    return merge_cardinality(_stored(spark, path), by=by)


def make_quantile_writer(
    path: str,
    key_cols: Sequence[str],
    value_col: str,
    k: int = 200,
) -> Callable[[DataFrame, int], None]:
    """Per-micro-batch writer maintaining a per-key KLL quantile sketch
    table. Unlike HLL union (register-max, naturally idempotent), KLL
    merge DUPLICATES weight on replay — so every table version carries
    a ``__batch_id`` high-water column, and because the table swaps
    atomically (all-or-nothing), a replayed batch id <= the stored
    high water is skipped outright. That single stamp is sufficient
    here precisely because there is no partial-partition state to
    reason about (contrast: the rollup sink needs per-partition
    stamps).

    PAIRING CONTRACT: batch ids are monotonic only per CHECKPOINT
    directory. A table must live and die with one checkpoint — restart
    the stream against the same table with a fresh/cleared checkpoint
    and the restarted ids (0, 1, ...) all fall under the stored high
    water, silently skipping every new batch until the old high water
    is passed. To rebuild, drop the table together with its
    checkpoint."""
    keys = list(key_cols)

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        existing = read_table(batch.sparkSession, path)
        if existing is not None:
            high = existing.agg(F.max("__batch_id")).collect()[0][0]
            if high is not None and batch_id <= high:
                return  # replayed batch: table already contains it
        fresh = batch.groupBy(*keys).agg(
            F.kll_sketch_agg_double(
                F.col(value_col).cast("double"), F.lit(k)
            ).alias("kll")
        )
        if existing is not None:
            from energy_pandas_spark.operators.sketches import fold_kll

            both = existing.select(*keys, "kll").unionByName(fresh)
            merged = both.groupBy(*keys).agg(
                fold_kll(F.collect_list("kll")).alias("kll")
            )
        else:
            merged = fresh
        swap_in(stamp(merged, batch_id), path)

    return write_batch


def continuous_quantiles(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    key_cols: Sequence[str],
    value_col: str,
    k: int = 200,
    trigger_available_now: bool = True,
):
    """Start the KLL quantile-table maintenance query."""
    write_batch = make_quantile_writer(path, key_cols, value_col, k)
    return start(stream, write_batch, checkpoint, trigger_available_now)


def read_quantiles(
    spark: SparkSession,
    path: str,
    quantiles: Sequence[float],
    by: str | Sequence[str] | None = None,
) -> DataFrame:
    """Quantile estimates at any rollup level from the sketch table."""
    from energy_pandas_spark.operators.sketches import merge_quantiles

    table = _stored(spark, path)
    return merge_quantiles(table, quantiles, by=by, sketch_col="kll")


# ---------------------------------------------------------------------------
# Count-Min frequency table
# ---------------------------------------------------------------------------


def make_cm_writer(
    path: str,
    value_col: str,
    by: Sequence[str] | None = None,
    depth: int = 4,
    width: int = 2048,
    hasher=None,
) -> Callable[[DataFrame, int], None]:
    """Per-micro-batch Count-Min maintenance. Unlike HLL (whose union
    is idempotent, so replays merge harmlessly) CM counters are SUMS —
    a replayed batch must not double-add. So the table stores PARTIAL
    sparse sketches in stamped partitions (``streaming/sink.py``), and
    ``read_cm`` merges at read time — one integer (row, col) sum over
    batches * depth * width longs, executor-trivial at any horizon."""
    from energy_pandas_spark.operators.sketches import cm_sketch

    keys = list(by or [])

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        sk = cm_sketch(
            batch, value_col, by=keys, depth=depth, width=width,
            hasher=hasher,
        )
        land(sk, batch_id, path)

    return write_batch


def continuous_cm(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    value_col: str,
    by: Sequence[str] | None = None,
    depth: int = 4,
    width: int = 2048,
    hasher=None,
    trigger_available_now: bool = True,
):
    """Start the maintenance query; returns the StreamingQuery."""
    write_batch = make_cm_writer(path, value_col, by, depth, width, hasher)
    return start(stream, write_batch, checkpoint, trigger_available_now)


def read_cm(
    spark: SparkSession,
    path: str,
    by: str | Sequence[str] | None = None,
) -> DataFrame:
    """The merged Count-Min table at any rollup level — feed it to
    ``operators.sketches.cm_query`` for point estimates."""
    from energy_pandas_spark.operators.sketches import cm_merge

    return cm_merge(_stored(spark, path).drop("__batch_id"), by=by)


# ---------------------------------------------------------------------------
# engine-portable HLL register tables (operators/sketches.py:hll_registers)
# ---------------------------------------------------------------------------


def make_portable_hll_writer(
    path: str,
    key_cols: Sequence[str],
    value_col: str,
    lgm: int = 8,
) -> Callable[[DataFrame, int], None]:
    """The md5-register twin of :func:`make_cardinality_writer`: the
    maintained table is a sparse ``(keys..., bucket, r)`` register
    table any SQL engine can replay (operators/sketches.py module
    notes), instead of an opaque DataSketches blob. Merge is
    element-wise ``max`` — idempotent, so at-least-once replays cannot
    inflate estimates; no batch-id stamps needed (the HLL-union
    argument above)."""
    from energy_pandas_spark.operators.sketches import (
        hll_merge,
        hll_registers,
    )

    keys = list(key_cols)

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        fresh = hll_registers(batch, value_col, by=keys, lgm=lgm)
        existing = read_table(batch.sparkSession, path)  # None at first
        merged = (
            hll_merge(existing.unionByName(fresh), by=keys)
            if existing is not None
            else fresh
        )
        swap_in(merged, path)

    return write_batch


def continuous_portable_hll(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    key_cols: Sequence[str],
    value_col: str,
    lgm: int = 8,
    trigger_available_now: bool = True,
):
    """Start the maintenance query; returns the StreamingQuery."""
    write_batch = make_portable_hll_writer(path, key_cols, value_col, lgm)
    return start(stream, write_batch, checkpoint, trigger_available_now)


def read_portable_hll(
    spark: SparkSession,
    path: str,
    by: Sequence[str] | str | None = None,
    lgm: int = 8,
) -> DataFrame:
    """Estimates at any rollup level from the stored register table:
    registers merge up to ``by`` (element-wise max) and read out
    through ``hll_estimate`` — never a rescan of the underlying
    stream. ``lgm`` MUST match the writer's."""
    from energy_pandas_spark.operators.sketches import (
        hll_estimate,
        hll_merge,
    )

    regs = _stored(spark, path, "portable-HLL table")
    return hll_estimate(hll_merge(regs, by=by), by=by, lgm=lgm)
