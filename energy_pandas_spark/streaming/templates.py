"""Streaming per-site template store: maintain the per-group
line-occurrence counts that drive template detection
(operators/text.py:template_lines) continuously, so NEW pages of a
known site can be scrubbed against the corpus's accumulated evidence
instead of each micro-batch's own (a single fresh batch can't out-vote
history — and a template line that appears once per batch would never
reach a per-batch threshold at all).

Both count tables are ADDITIVE sums, so the store follows the
Count-Min precedent (streaming/stats.py:make_cm_writer), not the
HLL swap protocol: per-batch PARTIAL counts land in stamped
partitions (``streaming/sink.py``). ``read_templates``
merges at read time: one integer sum per table over batches x
group-line rows, then the same integer threshold algebra as the batch
detector.

Layout under ``path``:

- ``lines/``  — (group, line, n_docs) per batch: how many of the
  batch's documents contained the normalized line (per-doc distinct
  computed IN-ARRAY before the explode, the batch operator's shape);
- ``docs/``   — (group, n_docs) per batch.

The merged store ships straight into
``strip_templates(..., templates=read_templates(...))`` — the
incremental scrub posture.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from energy_pandas_spark.streaming.sink import (
    land,
    read_table,
    start,
)
from energy_pandas_spark.util import owned_caches

__all__ = [
    "make_template_writer",
    "continuous_templates",
    "read_template_counts",
    "read_templates",
]


def _batch_line_counts(
    batch: DataFrame, group_col: str, text_col: str, sep: str
) -> DataFrame:
    """(group, line, n_docs) for one batch — per-doc distinct
    normalized lines materialized in-array before the explode, one
    map-combined aggregate (the template_lines shape, via the SHARED
    line normalization so store and batch detector cannot drift)."""
    from energy_pandas_spark.functions.textfns import (
        normalized_distinct_lines,
    )

    return (
        batch.select(
            F.col(group_col),
            F.explode(normalized_distinct_lines(text_col, sep)).alias(
                "line"
            ),
        )
        .groupBy(group_col, "line")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def make_template_writer(
    path: str,
    group_col: str,
    text_col: str = "text",
    sep: str = "\n",
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` writer (exposed for direct replay /
    merge testing). Each batch lands its partial (group, line, n_docs)
    and (group, n_docs) counts under its own ``__batch_id`` partition
    (``streaming/sink.py``)."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        # two aggregates read the batch: persist so the micro-batch
        # source computes once (the multi-consumer rule)
        with owned_caches() as keep:
            batch = keep(batch)
            # docs/ lands FIRST: a crash (or a concurrent reader)
            # between the two writes then sees a doc total WITHOUT the
            # batch's line counts — doc_permille deflates and the torn
            # state under-strips (conservative). The opposite order
            # inflates permilles and false templates would strip real
            # content until the retry.
            docs = batch.groupBy(group_col).agg(
                F.count(F.lit(1)).alias("n_docs")
            )
            land(docs, batch_id, f"{path}/docs")
            lines = _batch_line_counts(batch, group_col, text_col, sep)
            land(lines, batch_id, f"{path}/lines")

    return write_batch


def continuous_templates(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    group_col: str,
    text_col: str = "text",
    sep: str = "\n",
    available_now: bool = False,
):
    """Wire the writer into a streaming query (foreachBatch +
    checkpoint); ``available_now=True`` drains the source and stops
    (the test/backfill trigger)."""
    write_batch = make_template_writer(path, group_col, text_col, sep)
    return start(stream, write_batch, checkpoint, available_now)


def read_template_counts(
    spark: SparkSession, path: str, group_col: str
) -> tuple[DataFrame | None, DataFrame | None]:
    """The MERGED (group, line, n_docs) and (group, n_docs) tables —
    one integer sum each over the per-batch partials."""
    lines = read_table(spark, f"{path}/lines")
    docs = read_table(spark, f"{path}/docs")
    if lines is None or docs is None:
        return None, None
    return (
        lines.groupBy(group_col, "line").agg(
            F.sum("n_docs").alias("n_docs_with_line")
        ),
        docs.groupBy(group_col).agg(F.sum("n_docs").alias("n_docs_group")),
    )


def read_templates(
    spark: SparkSession,
    path: str,
    group_col: str,
    min_doc_permille: int = 500,
    min_docs: int = 2,
    group_type: str = "string",
) -> DataFrame:
    """The store's current template table — (group, line,
    n_docs_with_line, n_docs_group, doc_permille), the exact
    :func:`~energy_pandas_spark.operators.text.template_lines`
    contract evaluated over ALL ingested batches, ready for
    ``strip_templates(..., templates=...)``. Empty store -> empty
    table (nothing strips); pass ``group_type`` when the group key is
    not a string so the empty table's dtype matches the populated
    store's (a mismatch would make downstream joins cast — or fail
    under ANSI — the moment real data lands)."""
    if not 0 <= min_doc_permille <= 1000:
        raise ValueError("min_doc_permille must be in [0, 1000]")
    if min_docs < 1:
        raise ValueError("min_docs must be >= 1")
    lines, docs = read_template_counts(spark, path, group_col)
    if lines is None or docs is None:
        return spark.createDataFrame(
            [],
            f"{group_col} {group_type}, line string, "
            "n_docs_with_line long, n_docs_group long, doc_permille long",
        )
    return (
        lines.join(docs, group_col)
        .filter(
            (F.col("n_docs_with_line") * 1000
             >= F.lit(int(min_doc_permille)) * F.col("n_docs_group"))
            & (F.col("n_docs_with_line") >= int(min_docs))
        )
        .select(
            group_col,
            "line",
            "n_docs_with_line",
            "n_docs_group",
            F.expr(
                "(n_docs_with_line * 1000) div n_docs_group"
            ).alias("doc_permille"),
        )
    )
