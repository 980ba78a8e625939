"""Streaming PASSAGE-dup corpus ingest: grow a corpus from a document
stream, rejecting documents that copy a passage from the accepted
history — even when the documents are globally DISSIMILAR (quote
farms, boilerplate-wrapped spam), which is exactly the case the
MinHash ingest (streaming/ingest.py) cannot see: global Jaccard stays
low while a long run of tokens is verbatim-copied.

The detector is winnowing (operators/dedup.py:winnow_fingerprints,
Schleimer et al. 2003): any shared token run of length >= w + k - 1
shares a fingerprint, so "copied a passage" becomes "shares >=
``min_shared`` fingerprint hashes", a pure equi-join question.

Per micro-batch (foreachBatch):

1. in-batch passage dedup: winnow_pairs -> connected components,
   smallest id survives per cluster,
2. cross-store rejection: fingerprint the survivors, equi-join the
   store's distinct hashes, drop docs sharing >= ``min_shared``,
3. accepted docs land in the corpus table, their fingerprints in the
   store, under the stamped-partition contract of
   ``streaming/sink.py``.

Scale shape: the store carries (doc_id, fp_hash, pos) longs at
~2/(w+1) of the gram count — a small fraction of text bytes; the
per-batch cost is fingerprinting the batch (zero-shuffle map work)
plus one hash equi-join against the store's distinct hashes.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from energy_pandas_spark.streaming.sink import (
    history,
    land,
    start,
)
from energy_pandas_spark.util import owned_caches

__all__ = ["make_winnow_ingest_writer", "winnow_ingest", "read_fp_store"]


def make_winnow_ingest_writer(
    corpus_path: str,
    fps_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_bucket: int = 1000,
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` writer (exposed for direct testing).
    ``k``/``w`` must stay fixed for the lifetime of the store — they
    define the fingerprint space."""
    from energy_pandas_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_pairs,
    )
    from energy_pandas_spark.operators.graph import dedup_clusters

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        with owned_caches() as keep:
            batch = keep(batch)
            # fingerprint ONCE per batch: the pair detector, the
            # cross-store check, and the store landing all reuse this
            # (tokenize+md5+window-min is the batch's dominant CPU cost)
            fps_all = keep(winnow_fingerprints(batch, text_col, id_col, k, w))
            # 1. in-batch passage dedup (clusters, smallest id survives
            # — transitive: A copies B copies C collapses to one doc)
            pairs = winnow_pairs(
                batch, text_col, id_col, k, w, min_shared, max_bucket,
                fps=fps_all,
            )
            drops = (
                dedup_clusters(pairs)
                .filter(~F.col("is_survivor"))
                .select(F.col("doc_id").alias(id_col))
            )
            fresh = batch.join(drops, id_col, "left_anti")

            # 2. cross-store rejection
            store = history(spark, fps_path, batch_id)
            if store is not None:
                hit = (
                    fps_all.join(fresh.select(id_col), id_col, "left_semi")
                    .select(id_col, "fp_hash")
                    .distinct()
                    .join(store.select("fp_hash").distinct(), "fp_hash")
                    .groupBy(id_col)
                    .agg(F.count(F.lit(1)).alias("__shared"))
                    .filter(F.col("__shared") >= min_shared)
                )
                fresh = fresh.join(hit.select(id_col), id_col, "left_anti")
            fresh = keep(fresh)

            # 3. land the accepted docs, then their prints (the batch
            # prints semi-joined to the accepted ids)
            land(fresh, batch_id, corpus_path)
            fps_out = fps_all.join(fresh.select(id_col), id_col, "left_semi")
            land(fps_out, batch_id, fps_path)

    return write_batch


def winnow_ingest(
    stream: DataFrame,
    corpus_path: str,
    fps_path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
    **kwargs,
):
    """Start the ingest query; returns the StreamingQuery."""
    write_batch = make_winnow_ingest_writer(corpus_path, fps_path, **kwargs)
    return start(stream, write_batch, checkpoint, trigger_available_now)


def read_fp_store(spark: SparkSession, fps_path: str) -> DataFrame:
    """The accepted corpus's fingerprint store (doc_id, fp_hash, pos)."""
    return spark.read.parquet(fps_path).drop("__batch_id")
