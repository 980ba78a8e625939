"""Physical file-layout management — the part of a 100 TB deployment
that lives OUTSIDE the query plan: how rows are arranged into parquet
files so later scans can skip most of them.

- ``write_clustered``: range-partition + sort rows by the clustering
  keys before writing, so each output file covers a narrow, disjoint
  key range and its parquet footer min/max statistics actually cut:
  a point/range predicate on the cluster key touches O(1) of the
  files (footer-level skip) and O(1) row groups inside them
  (row-group-level skip). Without clustering every file spans the full
  key range and statistics never eliminate anything.
- ``compact``: the small-file fix. Streaming sinks and incremental
  loads leave thousands of tiny files; a scan pays per-file open/seek
  and the driver pays per-file listing. Rewrite into ``num_files``
  range-clustered files.
- ``file_column_stats``: per-file min/max of a column straight from
  the parquet footers (pyarrow, no Spark job) — the observability hook
  the tests use to PROVE disjointness rather than assert it by faith.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

__all__ = [
    "write_training_shards",
    "write_clustered",
    "compact",
    "recover_table",
    "file_column_stats",
    "zorder_key",
    "write_zordered",
    "build_manifest",
    "pruned_read",
]


def write_training_shards(
    df: DataFrame,
    path: str,
    key: str,
    n_shards: int = 64,
    mode: str = "overwrite",
    salt: str = "",
    curriculum: str | None = None,
) -> None:
    """Materialize a corpus as ``n_shards`` deterministically shuffled
    shards — the final layout a training data loader consumes.

    Global pseudo-random order comes from sorting on the md5 of the
    key: rerun-stable (same corpus -> bit-identical shard contents and
    order, unlike ``orderBy(rand())``), engine-portable, and free of
    the pathological "sorted by source" locality that inflates
    gradient variance. Shard assignment is ``md5 % n_shards`` (a pure
    function of the key — adding hardware or re-running never moves a
    row), written hive-partitioned ``shard=K`` so loaders address
    shards by directory. One hash shuffle; within-shard order is the
    hash order, enforced by sortWithinPartitions.

    ``salt`` reshuffles deterministically: a per-epoch salt (e.g.
    ``"epoch-3"``) yields an independent permutation AND shard
    assignment while staying rerun-stable — the multi-epoch shuffle a
    training run needs, still free of RNG state.

    ``curriculum`` (a column name) orders WITHIN each shard by that
    column first (ascending — e.g. a difficulty or quality bucket),
    with the hash order breaking ties, so a sequential loader sees an
    easy-to-hard curriculum while shard membership stays the unbiased
    hash assignment. Curriculum ordering is within-shard by design: a
    GLOBAL sort by difficulty would both need a range shuffle and put
    each difficulty band into one shard — shard-parallel loaders would
    then read skewed difficulty, not a curriculum."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.col(key).cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    order = ["shard", "__h", key]
    if curriculum is not None:
        order = ["shard", curriculum, "__h", key]
    (
        df.withColumn("__h", h)
        .withColumn("shard", (F.col("__h") % n_shards).cast("int"))
        .repartition(n_shards, F.col("shard"))
        .sortWithinPartitions(*order)
        .drop("__h")
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(path)
    )


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_by: str | list[str],
    num_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as ``num_files`` parquet files range-clustered on
    ``cluster_by``: repartitionByRange gives each file a disjoint key
    range, sortWithinPartitions orders rows inside so row-group
    statistics are tight too."""
    cols = [cluster_by] if isinstance(cluster_by, str) else list(cluster_by)
    (
        df.repartitionByRange(num_files, *[F.col(c) for c in cols])
        .sortWithinPartitions(*cols)
        .write.mode(mode)
        .parquet(path)
    )


def compact(
    spark: SparkSession,
    path: str,
    cluster_by: str | list[str],
    num_files: int = 8,
) -> None:
    """Rewrite a (fragmented) parquet directory into ``num_files``
    range-clustered files: stage the full rewrite into a sibling
    directory, then swap via the rename-to-backup protocol. Crash
    recovery is self-healing: a rerun (or :func:`recover_table`)
    restores the ``__backup`` a crash between the swap's renames left
    behind, so the table is never lost — but until one of those runs,
    direct ``spark.read.parquet(path)`` of a crashed-mid-swap table
    fails (the data sits under ``__backup``). Readers that LIST before
    a concurrent swap commits can also race the backup delete — see
    the swap protocol in ``streaming/sink.py``. Do not run two compactions or a
    compaction and a writer concurrently on the same path."""
    from energy_pandas_spark.streaming.sink import swap

    if not recover_table(spark, path):
        raise FileNotFoundError(f"no table at {path} (and no __backup)")
    tmp = path.rstrip("/") + "__compacting"
    write_clustered(spark.read.parquet(path), tmp, cluster_by, num_files)
    swap(spark, tmp, path)


def recover_table(spark: SparkSession, path: str) -> bool:
    """Restore ``path`` from a ``__backup`` left by a compaction/swap
    crash (rename, metadata-only). Returns True when the table exists
    after the call. Safe to call unconditionally before reading a
    compacted table after an unclean shutdown."""
    from energy_pandas_spark.streaming.sink import recover_backup

    return recover_backup(spark, path)


def file_column_stats(path: str, column: str) -> list[tuple[str, object, object]]:
    """[(file, min, max)] for ``column`` read from parquet footers via
    pyarrow — no Spark job, no data read. The per-file (min, max) of a
    well-clustered table are pairwise disjoint."""
    import pyarrow.parquet as pq

    out: list[tuple[str, object, object]] = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, name)).metadata
        idx = md.schema.names.index(column)
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                continue
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        out.append((name, lo, hi))
    return out


def zorder_key(cols: list, bits: int = 16) -> F.Column:
    """Morton (Z-order) interleaving of 2+ numeric columns into one
    sortable long — multi-dimensional clustering: sorting by the
    interleaved key keeps rows close in EVERY dimension close on disk,
    so footer min/max statistics cut for predicates on ANY of the
    clustered columns (single-column range clustering only skips for
    its leading key).

    Each column is rank-normalized by the caller (or already integral
    in [0, 2^bits)); values clamp into ``bits`` bits and interleave
    bit-by-bit via shift/or expressions — pure codegen'd long
    arithmetic, no UDF. With the default 16 bits and 2-3 columns the
    key fits a long with room to spare.
    """
    n = len(cols)
    if n < 2:
        raise ValueError("zorder_key needs >= 2 columns")
    if bits * n > 63:
        raise ValueError(f"bits*cols = {bits * n} exceeds a signed long")
    clamped = [
        F.greatest(
            F.lit(0).cast("long"),
            F.least(
                (c if isinstance(c, F.Column) else F.col(c)).cast("long"),
                F.lit((1 << bits) - 1).cast("long"),
            ),
        )
        for c in cols
    ]
    key = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(clamped):
            key = key.bitwiseOR(
                F.shiftleft(
                    F.shiftright(c, b).bitwiseAND(F.lit(1)), b * n + i
                )
            )
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_by: list[str],
    num_files: int = 8,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Write parquet files clustered on a Morton key over
    ``zorder_by`` columns. Each column min-max normalizes into the bit
    budget from ONE tiny aggregate (driver gets a single stats row —
    no unpartitioned ``percent_rank`` window, which would funnel the
    table through one task), then rows range-partition + sort by the
    interleaved key. Heavily skewed dimensions waste some bit
    granularity under linear scaling; the upgrade path is
    quantile-sketch rank normalization (``operators.sketches``) with
    the same interleave. The key column is dropped from the output —
    layout is physical, not schema."""
    stats_row = df.agg(
        *[F.min(c).alias(f"mn_{c}") for c in zorder_by],
        *[F.max(c).alias(f"mx_{c}") for c in zorder_by],
    ).first()
    top = (1 << bits) - 1
    rank_exprs = []
    for c in zorder_by:
        mn = float(stats_row[f"mn_{c}"])
        mx = float(stats_row[f"mx_{c}"])
        span = (mx - mn) or 1.0
        rank_exprs.append(
            ((F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * F.lit(top))
            .cast("long")
        )
    keyed = df.withColumn("__zkey", zorder_key(rank_exprs, bits))
    (
        keyed.repartitionByRange(num_files, F.col("__zkey"))
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode(mode)
        .parquet(path)
    )


def build_manifest(spark: SparkSession, path: str, columns: list[str]) -> "DataFrame":
    """Per-file min/max manifest over ``columns`` read from parquet
    footers (pyarrow, no Spark job over the data) — the Delta/Iceberg
    data-skipping pattern without a table format: persist the manifest
    next to the data and prune file lists BEFORE the scan, so the
    driver never even lists non-qualifying files into the plan.

    Returns a DataFrame (file, <col>_min, <col>_max, ...); write it
    wherever table metadata lives.
    """
    import pyarrow.parquet as pq

    rows = []
    for f in sorted(os.listdir(path)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        stats: dict = {"file": os.path.join(path, f)}
        for c in columns:
            idx = md.schema.names.index(c)
            lo, hi = None, None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    continue
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            stats[f"{c}_min"] = lo
            stats[f"{c}_max"] = hi
        rows.append(stats)
    if not rows:
        raise ValueError(f"build_manifest: no parquet files under {path}")
    return spark.createDataFrame(rows)


def pruned_read(
    spark: SparkSession,
    path: str,
    column: str,
    lo,
    hi,
    manifest: "DataFrame | None" = None,
) -> "DataFrame":
    """Read only the files whose [min, max] for ``column`` intersects
    [lo, hi], using the manifest (built on the fly if not supplied).
    With a Z-ordered or range-clustered layout this touches O(1) of
    the files for a point/range predicate; the residual filter is
    still applied, so results are exact regardless of layout.

    The driver-side file pruning composes WITH parquet footer pruning:
    fewer files enter the plan at all (less listing/open cost), and
    row-group stats prune further inside the survivors.
    """
    m = manifest if manifest is not None else build_manifest(spark, path, [column])
    mn, mx = f"{column}_min", f"{column}_max"
    files = [
        r["file"]
        for r in m.collect()
        if r[mn] is None or not (r[mx] < lo or r[mn] > hi)
    ]
    if not files:
        return (
            spark.read.parquet(path)
            .filter((F.col(column) >= lo) & (F.col(column) <= hi))
            .limit(0)
        )
    return spark.read.parquet(*files).filter(
        (F.col(column) >= lo) & (F.col(column) <= hi)
    )
