"""The one streaming sink: every ``foreachBatch`` table writer in this
package lands, reads back and swaps its tables through this module, and
each writer keeps only its per-batch transform.

Structured Streaming delivers micro-batches at least once: after a
crash, ``foreachBatch`` is re-invoked with the same (deterministic)
batch id. The on-disk protocols below make such a replay harmless.

Stamped partitions (the ingest stores, the Count-Min and template
partials, the rollup table). :func:`land` stamps every output row with
the writing batch's ``__batch_id`` and writes with dynamic partition
overwrite. A table partitioned by ``__batch_id`` holds each batch's
output in its own partition, so a replayed batch overwrites exactly
that partition and never another batch's rows; nothing merges at write
time, and readers merge or drop the stamp. The rollup partitions by
``day`` instead and reads the stamp as a per-day replay guard
(``streaming/rollup.py``).

Replay excludes the in-flight id. A writer that checks a batch against
accumulated history reads it through :func:`history`, which drops the
rows stamped with the batch's own id. A crash between a writer's two
table writes leaves a half-written copy of the batch behind; excluding
it means the replay neither dedups the batch against itself nor sees
it as history, so it recomputes the same output and overwrites both
tables' partitions.

Swap with backup (the sketch tables, ``sources/layout.compact``). A
table that is rewritten whole is staged next to itself and swapped in
by :func:`swap`: drop a stale ``__backup``, rename the table to
``__backup``, rename the staging directory to the table, drop the
backup. Old data is never deleted while it is the only copy. A crash
between the two renames leaves the table under ``__backup``;
:func:`read_table` restores it before reading, so a replayed batch
re-merges into the full history. The guarantee is for reads that list
the directory after a swap completes: a lazy DataFrame whose listing
was taken before a swap races the backup delete, so callers that hold
reads across swaps must re-read (the swapped tables are written as one
file so eager reads are cheap).

Persists taken while a batch is processed belong to that call: each
writer runs its batch in one ``util.owned_caches()`` block, which
releases them when the call exits, also when it fails.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

__all__ = [
    "history",
    "land",
    "read_table",
    "recover_backup",
    "start",
    "stamp",
    "swap",
    "swap_in",
]


def _fs_path(spark: SparkSession, p: str):
    """The Hadoop ``(FileSystem, Path)`` pair for ``p``."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(p)
    return path.getFileSystem(conf), path


def swap(spark: SparkSession, tmp: str, path: str) -> None:
    """Replace the table at ``path`` with the staged directory ``tmp``
    through the backup rename (module notes)."""
    fs, dst = _fs_path(spark, path)
    _, src = _fs_path(spark, tmp)
    _, bak = _fs_path(spark, path.rstrip("/") + "__backup")
    fs.delete(bak, True)
    if fs.exists(dst) and not fs.rename(dst, bak):
        raise IOError(f"table backup {path} failed")
    if not fs.rename(src, dst):
        if fs.exists(bak):  # restore so the table is never lost
            fs.rename(bak, dst)
        raise IOError(f"table swap {tmp} -> {path} failed")
    fs.delete(bak, True)


def swap_in(df: DataFrame, path: str) -> None:
    """Stage ``df`` as one file next to ``path`` and :func:`swap` it in."""
    tmp = path.rstrip("/") + "__staging"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    swap(df.sparkSession, tmp, path)


def recover_backup(spark: SparkSession, path: str) -> bool:
    """Restore ``path`` from the ``__backup`` an interrupted
    :func:`swap` left behind, if the table itself is missing. Returns
    True when the table exists after the call."""
    fs, dst = _fs_path(spark, path)
    if fs.exists(dst):
        return True
    _, bak = _fs_path(spark, path.rstrip("/") + "__backup")
    return bool(fs.exists(bak) and fs.rename(bak, dst))


def read_table(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame | None:
    """The table at ``path`` (after :func:`recover_backup`), or None when
    it was never written or is a directory with no data files yet (a
    crash after mkdir). Any other read failure, such as a corrupt
    footer or a transient FS error, propagates: treating it as "no
    table" would land the batch without its history, double-ingesting
    or swapping the history away. ``schema`` skips schema inference."""
    # probe via Hadoop FS first: letting spark.read fail on a missing
    # first-batch table logs a full WARN stacktrace per probe
    if not recover_backup(spark, path):
        return None
    reader = spark.read if schema is None else spark.read.schema(schema)
    try:
        return reader.parquet(path)
    except AnalysisException as exc:
        if "UNABLE_TO_INFER_SCHEMA" in str(exc):
            return None
        raise


def history(spark: SparkSession, path: str, batch_id: int) -> DataFrame | None:
    """The store at ``path`` without the rows of ``batch_id`` itself and
    without the stamp column, or None before the first write."""
    store = read_table(spark, path)
    if store is None:
        return None
    return store.filter(F.col("__batch_id") != batch_id).drop("__batch_id")


def stamp(df: DataFrame, batch_id: int) -> DataFrame:
    """``df`` with the writing batch's id as its ``__batch_id`` column."""
    return df.withColumn("__batch_id", F.lit(batch_id).cast("long"))


def land(
    df: DataFrame,
    batch_id: int,
    path: str,
    partition_by: Sequence[str] = ("__batch_id",),
) -> None:
    """Write ``df`` stamped with ``batch_id``, overwriting only the
    partitions it writes (``partition_by``)."""
    (
        stamp(df, batch_id)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def start(
    stream: DataFrame,
    write_batch: Callable[[DataFrame, int], None],
    checkpoint: str,
    available_now: bool,
):
    """Start ``stream`` into ``write_batch`` with its checkpoint;
    ``available_now`` drains the source and stops. Returns the
    StreamingQuery."""
    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
