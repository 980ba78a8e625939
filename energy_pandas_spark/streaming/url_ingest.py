"""Streaming URL-dedup ingest: the crawl FRONT DOOR. A web corpus is
deduped by canonical URL before any content-level pass (mirrors,
tracking-tagged relinks and fragment anchors all point at one page,
and dropping them here means their text never reaches the MinHash /
line-dedup stages at all).

URL-dedup state is corpus-sized (every accepted page's canonical URL),
so — like the line and MinHash ingests — it lives in a persisted store
of 8-byte hashes (``h = xxhash64('url-v1', canonical_url)``), appended
per batch, never in operator state.

Per micro-batch (foreachBatch):

1. canonicalize (``operators/urls.py:canonical_url`` — a map-only
   codegen projection);
2. in-batch winner per canonical URL: smallest id, or
   ``max_by((quality, -id))`` with ``quality_col`` — one map-combined
   hash aggregate;
3. winners anti-join the URL store, so a URL ever accepted before
   never re-enters;
4. accepted documents land in the corpus table and their URL hashes
   in the store, under the stamped-partition contract of
   ``streaming/sink.py``.

Rows whose URL does not canonicalize (NULL) are kept unconditionally
and leave no store entry: an unparseable URL is not evidence of
duplication. Hash collisions merge two distinct URLs at ~2^-64 per
pair — the same accepted trade the line-digest store makes.

Scale shape: per-batch cost is one codegen projection + one hash
aggregate + one anti-join whose store side ships (h) longs only; page
text moves once, into the corpus write. Compose with
``sources/wet.py:stream_wet_corpus`` upstream and the MinHash ingest
downstream for the full crawl-to-corpus chain.
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

__all__ = [
    "make_url_dedup_ingest_writer",
    "url_dedup_ingest",
    "read_url_corpus",
]


def make_url_dedup_ingest_writer(
    corpus_path: str,
    urls_path: str,
    url_col: str = "url",
    id_col: str = "doc_id",
    quality_col: str | None = None,
    pre_filter: Callable[[DataFrame], DataFrame] | None = None,
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` writer (exposed for direct testing of
    dedup/replay behavior). ``pre_filter`` is an optional quality gate
    applied BEFORE dedup — rejected documents leave no URL hashes, so
    they can never block a later good copy of the same page."""
    from energy_pandas_spark.operators.urls import (
        canonical_url,
        survivor_expr,
    )

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if pre_filter is not None:
            batch = pre_filter(batch)
        with owned_caches() as keep:
            canon = keep(
                batch.withColumn("__curl", canonical_url(F.col(url_col)))
            )
            with_url = canon.filter(F.col("__curl").isNotNull()).withColumn(
                "__h", F.xxhash64(F.lit("url-v1"), F.col("__curl"))
            )
            # the batch operator's survivor aggregate — shared so the
            # streaming and batch paths cannot pick different winners
            winners = with_url.groupBy("__h").agg(
                survivor_expr(id_col, quality_col),
                F.count(F.lit(1)).alias("__n_copies"),
            )
            store = history(spark, urls_path, batch_id)
            if store is not None:
                winners = winners.join(
                    store.select(F.col("h").alias("__h")), "__h", "left_anti"
                )
            winners = keep(winners)
            out = (
                canon.filter(F.col("__curl").isNull())
                .drop("__curl")
                .withColumn("__n_copies", F.lit(1).cast("long"))
                .unionByName(
                    canon.filter(F.col("__curl").isNotNull())
                    .drop("__curl")
                    .join(winners.select(id_col, "__n_copies"), id_col)
                )
            )
            land(out, batch_id, corpus_path)
            land(winners.select(F.col("__h").alias("h")), batch_id, urls_path)

    return write_batch


def url_dedup_ingest(
    stream: DataFrame,
    corpus_path: str,
    urls_path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
    **kwargs,
):
    """Start the ingest query; returns the StreamingQuery."""
    write_batch = make_url_dedup_ingest_writer(
        corpus_path, urls_path, **kwargs
    )
    return start(stream, write_batch, checkpoint, trigger_available_now)


def read_url_corpus(spark: SparkSession, corpus_path: str) -> DataFrame:
    """The accepted URL-deduped corpus (without batch bookkeeping)."""
    return spark.read.parquet(corpus_path).drop("__batch_id", "__n_copies")
