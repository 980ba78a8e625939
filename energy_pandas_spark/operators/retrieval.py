"""Distributed inverted-index text retrieval: postings build, exact
integer-quantized TF-IDF top-k search, BM25 top-k, and a persisted
term-bucketed postings index with partition-pruned search.

Why this lives in a training-data engine: retrieval over the corpus is
the workhorse behind targeted decontamination ("find the documents
that could leak this benchmark"), dedup forensics ("what else matches
this boilerplate"), and data curation ("pull the docs most relevant to
a target domain" — the retrieval-based cousin of DSIR).

Scale shape (the plan you would want at 100 TB):

- The postings list is ONE explode + map-combined hash aggregate per
  corpus — the same (doc, term, tf) shuffle `term_frequencies` pays,
  with the document length carried through the aggregate for free
  (``max`` of a per-doc constant), so BM25 needs no second corpus
  scan and no doc-length join.
- The query term set broadcasts; the broadcast hash join prunes the
  corpus to postings of query terms BEFORE anything else runs — the
  per-query work is proportional to the matched postings, not the
  corpus.
- The matched-postings frame feeds both the document-frequency
  aggregate and the scoring aggregate; it persists spill-safe because
  Spark will not reuse the exchange across those two consumers (the
  repo's recurring IsNotNull-pushdown trap).
- Top-k per query is the two-stage local/global pattern (bounded
  per-partition window, then a window over k x partitions survivors)
  — never a single-partition sort of one query's full candidate set.
- ``write_postings_index`` lays postings out hive-partitioned by a
  term-hash bucket; ``search_index`` pushes an ``IN (buckets of the
  query terms)`` filter into the scan, so a search touches only the
  index partitions its terms hash into — query cost at rest scales
  with the query, not the index.

Scoring is exact where exactness is possible: the headline scorer
quantizes IDF to integer 1/1024 units (``(N * 1024) div df``), making
every document score an order-free BIGINT sum that any engine
reproduces bit-for-bit (the dyadic-weight pattern `dsir_weights`
established). BM25 keeps the standard log IDF and quantizes per-term
contributions to 1/1024 units before summing — deterministic up to
the 1-ulp libm difference in ``ln`` at a quantization boundary (the
same documented caveat as the DSIR oracle).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from energy_pandas_spark.functions.textfns import tokens
from energy_pandas_spark.util import owned_caches, spread_partitions, track_cache

__all__ = [
    "build_postings",
    "query_terms",
    "search_topk",
    "bm25_topk",
    "rrf_fuse",
    "write_postings_index",
    "append_postings_index",
    "compact_postings_index",
    "search_index",
]

IDF_SCALE = 1024


def build_postings(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, term, tf, dl): the inverted-index postings rows plus
    the document token length.

    One explode + one map-combined hash aggregate; ``dl`` rides
    through the aggregate as ``max`` of a per-document constant, so
    BM25's length normalization costs no extra scan or join."""
    arr = tokens(text_col)
    src = spread_partitions(
        df.select(F.col(id_col), arr.alias("__toks"))
    ).withColumn("dl", F.coalesce(F.size("__toks"), F.lit(0)).cast("long"))
    toks = src.select(id_col, "dl", F.explode("__toks").alias("term"))
    return toks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl")
    )


def query_terms(spark: SparkSession, queries: dict[int, str]) -> DataFrame:
    """Tokenize a small driver-side query set into (query_id, term,
    qtf) with the SAME whitespace/lowercase tokenizer the postings
    use — tokenizer drift between index and query is the classic
    retrieval bug."""
    import re

    # ASCII \s split mirrors the Java `\s+` the JVM-side tokens()
    # uses (the bpe_encode precedent) — Python str.split() also breaks
    # on unicode spaces (U+00A0, U+2009, U+3000), which the index
    # tokenizer does NOT, so a query containing one would silently
    # miss the very documents that contain it
    _ws = re.compile(r"\s+", re.ASCII)
    rows = []
    for qid, text in queries.items():
        counts: dict[str, int] = {}
        for t in _ws.split((text or "").lower()):
            if t:
                counts[t] = counts.get(t, 0) + 1
        rows.extend((int(qid), term, n) for term, n in sorted(counts.items()))
    return spark.createDataFrame(rows, "query_id long, term string, qtf long")


def _matched(
    docs: DataFrame,
    qterms: DataFrame,
    text_col: str,
    id_col: str,
    postings: DataFrame | None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared search prologue: corpus stats (1 row), matched postings
    (persisted — feeds df-agg AND scoring), per-term document
    frequency (broadcast-sized)."""
    if postings is None:
        postings = build_postings(docs, text_col, id_col)
    stats = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    terms = qterms.select("term").distinct()
    matched = track_cache(
        postings.join(F.broadcast(terms), "term").persist(
            StorageLevel.MEMORY_AND_DISK_DESER
        )
    )
    dfreq = matched.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return stats, matched, dfreq


def search_topk(
    docs: DataFrame,
    qterms: DataFrame,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    postings: DataFrame | None = None,
    require_all: bool = False,
    eager: bool = True,
) -> DataFrame:
    """Exact quantized-TF-IDF top-k retrieval.

    Score = sum over matched terms of ``tf * qtf * idf_q`` with
    ``idf_q = (N * 1024) div df`` — all-BIGINT, order-free, engine
    -portable (integer division on positive longs is exact
    everywhere). ``require_all=True`` switches from OR to boolean-AND
    semantics: only documents containing EVERY query term rank (the
    matched-term count rides the same aggregate — no extra shuffle).
    Returns (query_id, doc_id, score_q, rank), rank 1..k per query by
    (score desc, doc_id asc).

    ``eager=True`` (default) materializes the small result and
    releases the matched-postings cache before returning, so the
    curation loop's thousands of calls pin nothing. Pass
    ``eager=False`` to get the lazy plan instead, with the cache
    attached (``util.release_caches``) and handed to the enclosing
    ``util.owned_caches`` block; ``bm25_topk`` follows the same rule."""
    with owned_caches() as own:
        stats, matched, dfreq = _matched(docs, qterms, text_col, id_col, postings)
        idf = dfreq.crossJoin(F.broadcast(stats)).select(
            "term",
            F.expr(f"(n_docs * {IDF_SCALE}) div df").alias("idf_q"),
        )
        scored = (
            matched.join(F.broadcast(qterms), "term")
            .join(F.broadcast(idf), "term")
            .groupBy("query_id", id_col)
            .agg(
                F.sum(F.col("tf") * F.col("qtf") * F.col("idf_q")).alias("__score"),
                F.count(F.lit(1)).alias("__nt"),
            )
        )
        if require_all:
            need = qterms.groupBy("query_id").agg(F.count(F.lit(1)).alias("__need"))
            scored = (
                scored.join(F.broadcast(need), "query_id")
                .filter(F.col("__nt") == F.col("__need"))
                .drop("__need")
            )
        scored = scored.drop("__nt")
        out = _topk(scored, k, id_col).withColumnRenamed("__score", "score_q")
        return own.result(out, eager)


def bm25_topk(
    docs: DataFrame,
    qterms: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    postings: DataFrame | None = None,
    eager: bool = True,
    full_postings: bool = True,
) -> DataFrame:
    """BM25 top-k (Robertson/Sparck Jones, the Lucene-default scoring).

    Per-term contributions ``idf * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))``
    are quantized to integer 1/1024 units BEFORE the sum, so document
    scores are order-free BIGINT sums; the only cross-engine hazard is
    a 1-ulp ``ln`` difference landing exactly on a rounding boundary
    (the DSIR oracle's documented caveat).

    A caller-supplied ``postings`` frame supplies avgdl via ``sum(tf)``
    ONLY when it covers the full corpus. If yours is pruned/filtered
    (e.g. a term-bucket slice from ``search_index``), pass
    ``full_postings=False`` — the length stats are then recomputed from
    ``docs`` with one map-only tokenize scan instead of silently
    deflating avgdl (and every score) from the subset. Returns
    (query_id, doc_id, score_q, rank)."""
    with owned_caches() as own:
        _, matched, dfreq = _matched(docs, qterms, text_col, id_col, postings)
        # N and avgdl must cover ALL docs, not just matched postings.
        if postings is not None and full_postings:
            # a caller-supplied postings frame (typically persisted and
            # shared across scorers, the rrf_fuse composition) already
            # holds the corpus token mass: sum(tf) over all postings ==
            # sum of per-doc lengths, exactly, as longs — so the stats
            # fold reads the cache instead of re-tokenizing the corpus
            # (docs with empty/NULL text have no postings rows but DO
            # count in n_docs, which comes from the cheap count-star)
            full_stats = docs.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
                F.broadcast(
                    postings.agg(
                        F.coalesce(F.sum("tf"), F.lit(0))
                        .cast("long")
                        .alias("total_tokens")
                    )
                )
            )
        else:
            # no postings to reuse: one map-only tokenize scan folding to a
            # single broadcastable stats row (cheaper than aggregating the
            # freshly-built postings, which would pay the explode+agg
            # shuffle a second time)
            full_stats = docs.select(
                F.coalesce(F.size(tokens(text_col)), F.lit(0)).cast("long").alias("__dl")
            ).agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.coalesce(F.sum("__dl"), F.lit(0)).alias("total_tokens"),
            )
        idf = dfreq.crossJoin(F.broadcast(full_stats)).select(
            "term",
            "n_docs",
            "total_tokens",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ).alias("idf"),
        )
        avgdl = F.col("total_tokens") / F.col("n_docs")
        tfnorm = (F.col("tf") * F.lit(k1 + 1.0)) / (
            F.col("tf") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / avgdl)
        )
        contrib = F.round(F.lit(float(IDF_SCALE)) * F.col("qtf") * F.col("idf") * tfnorm).cast(
            "long"
        )
        scored = (
            matched.join(F.broadcast(qterms), "term")
            .join(F.broadcast(idf), "term")
            .groupBy("query_id", id_col)
            .agg(F.sum(contrib).alias("__score"))
        )
        out = _topk(scored, k, id_col).withColumnRenamed("__score", "score_q")
        return own.result(out, eager)


#: RRF quantization: fused scores are sums of ``RRF_SCALE div
#: (rrf_k + rank)`` longs — order-free, engine-portable integers.
RRF_SCALE = 1 << 20


def rrf_fuse(
    results: list[DataFrame],
    k: int = 10,
    rrf_k: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    scale: int = RRF_SCALE,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) of two or
    more per-query rankings — the standard hybrid-retrieval combiner
    (e.g. lexical BM25 + quantized TF-IDF, or either + an ANN ranking).

    fused(d) = sum over systems of ``scale div (rrf_k + rank_s(d))`` —
    the classic 1/(k+rank) quantized to integers, so fused scores are
    order-free BIGINT sums and any engine replays them bit-for-bit.
    RRF only consumes RANKS, which makes it immune to incomparable
    score scales between systems (the reason it beats score averaging
    without per-system calibration).

    Each input needs (query_id, ``id_col``, ``rank_col``). Inputs are
    top-k lists — (queries x k)-sized, tiny at any corpus scale — so
    the fusion costs one union + one aggregate + the shared two-stage
    top-k; the expensive part is producing the rankings, not fusing
    them. Returns (query_id, ``id_col``, score_q, n_systems, rank)
    with rank 1..k per query by (fused score desc, id asc)."""
    if not results:
        raise ValueError("rrf_fuse needs at least one ranking")
    if rrf_k < 1 or scale < 1:
        raise ValueError("rrf_k and scale must be >= 1")
    parts = [
        r.select(
            "query_id", id_col, F.col(rank_col).cast("long").alias("__rank")
        )
        for r in results
    ]
    allr = parts[0]
    for p in parts[1:]:
        allr = allr.unionByName(p)
    scored = allr.groupBy("query_id", id_col).agg(
        F.sum(
            F.expr(f"{int(scale)} div ({int(rrf_k)} + __rank)")
        ).alias("__score"),
        F.count(F.lit(1)).alias("n_systems"),
    )
    return _topk(scored, k, id_col, extra=("n_systems",)).withColumnRenamed(
        "__score", "score_q"
    )


def _topk(
    scored: DataFrame, k: int, id_col: str, extra: tuple[str, ...] = ()
) -> DataFrame:
    """Two-stage top-k by (__score desc, id asc): a bounded local
    window per (query, input partition), then the global window over
    the k x partitions survivors."""
    local = (
        scored.withColumn("__pid", F.spark_partition_id())
        .withColumn(
            "__lr",
            F.row_number().over(
                Window.partitionBy("query_id", "__pid").orderBy(
                    F.desc("__score"), F.asc(id_col)
                )
            ),
        )
        .filter(F.col("__lr") <= k)
    )
    return (
        local.withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("__score"), F.asc(id_col)
                )
            ),
        )
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "__score", *extra, "rank")
    )


def _write_bucket_meta(spark: SparkSession, path: str, n_buckets: int) -> None:
    """Persist the index's bucket count under ``_meta`` (leading
    underscore = invisible to Spark's partition discovery) so readers
    never have to guess it."""
    spark.createDataFrame([(int(n_buckets),)], "n_buckets int").coalesce(
        1
    ).write.mode("overwrite").parquet(path.rstrip("/") + "/_meta")


def read_bucket_meta(spark: SparkSession, path: str) -> int | None:
    """The bucket count the index was written with (None for an index
    predating the meta file)."""
    try:
        return int(
            spark.read.parquet(path.rstrip("/") + "/_meta").collect()[0][0]
        )
    except Exception:
        return None


def _bucket_manifest(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.read.parquet(path)
        .groupBy("bucket")
        .agg(
            F.countDistinct("term").alias("n_terms"),
            F.count(F.lit(1)).alias("n_postings"),
        )
    )


def _write_bucketed(
    postings: DataFrame, path: str, n_buckets: int, mode: str
) -> DataFrame:
    """Shared body of write/append: bucket-stamp, land, refresh the
    manifest. The bucket count persists in ``_meta`` so search/append
    can validate instead of silently pruning the wrong partitions."""
    spark = postings.sparkSession
    if mode == "append":
        stored = read_bucket_meta(spark, path)
        if stored is not None and stored != n_buckets:
            raise ValueError(
                f"index at {path} was written with n_buckets={stored}, "
                f"append called with {n_buckets} — appended terms would "
                "land in partitions search_index never reads"
            )
    bucketed = postings.withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
    )
    bucketed.write.mode(mode).partitionBy("bucket").parquet(path)
    _write_bucket_meta(spark, path, n_buckets)
    return _bucket_manifest(spark, path)


def write_postings_index(
    postings: DataFrame, path: str, n_buckets: int = 64
) -> DataFrame:
    """Persist postings hive-partitioned by ``bucket =
    pmod(xxhash64(term), n_buckets)``. A search only reads the
    partitions its query terms hash into (see :func:`search_index`) —
    the at-rest layout twin of the broadcast term-prune. The bucket
    count lands in a ``_meta`` file alongside.

    Returns the per-bucket manifest (bucket, n_terms, n_postings)."""
    return _write_bucketed(postings, path, n_buckets, "overwrite")


def append_postings_index(
    postings: DataFrame, path: str, n_buckets: int = 64
) -> DataFrame:
    """Append a new batch's postings into an existing bucketed index
    WITHOUT rebuilding: rows land in the same term-hash partition
    directories (dynamic append), so `search_index`'s partition
    pruning keeps working and ingest cost is proportional to the new
    batch. Raises if ``n_buckets`` disagrees with the index's stored
    bucket count. Callers own not re-appending the same docs
    (postings are keyed facts, not upserts — the IVF-append contract).

    Returns the refreshed per-bucket manifest."""
    return _write_bucketed(postings, path, n_buckets, "append")


def search_index(
    spark: SparkSession,
    path: str,
    docs: DataFrame,
    qterms: DataFrame,
    k: int = 10,
    n_buckets: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quantized-TF-IDF search against a persisted postings index.

    The query terms' buckets become a partition-pruning filter on the
    parquet scan — ``.explain`` shows ``PartitionFilters: [bucket IN
    (...)]`` and only those directories are read. ``docs`` supplies
    the corpus-size stat only (one count).

    ``n_buckets`` defaults to the count stored in the index's
    ``_meta`` file — passing a WRONG count would hash query terms into
    partitions that don't hold their postings and silently return
    incomplete results, so an explicit value that contradicts the
    meta raises."""
    stored = read_bucket_meta(spark, path)
    if n_buckets is None:
        if stored is None:
            raise ValueError(
                f"index at {path} has no _meta bucket count; pass "
                "n_buckets= explicitly (must match the write-time value)"
            )
        n_buckets = stored
    elif stored is not None and stored != n_buckets:
        raise ValueError(
            f"index at {path} was written with n_buckets={stored}, "
            f"search called with {n_buckets}"
        )
    terms = [r.term for r in qterms.select("term").distinct().collect()]
    buckets = sorted(
        {
            r.b
            for r in spark.createDataFrame([(t,) for t in terms], "term string")
            .select(F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int").alias("b"))
            .collect()
        }
    )
    postings = spark.read.parquet(path).filter(F.col("bucket").isin(buckets)).drop(
        "bucket"
    )
    return search_topk(docs, qterms, k=k, id_col=id_col, postings=postings)


def compact_postings_index(
    spark: SparkSession, path: str, files_per_bucket: int = 1
) -> DataFrame:
    """Compact an appended postings index: each ``bucket=N`` partition
    directory rewrites into ``files_per_bucket`` term-clustered files
    via the crash-safe layout compactor (stage + backup-rename swap),
    so a long-running ingest's accumulation of per-append small files
    stops degrading scan setup. Buckets compact independently —
    parallelize externally if wanted; each swap is per-directory, so a
    crash mid-compaction leaves every bucket old-or-new, never mixed.

    Returns the refreshed per-bucket manifest."""
    import os
    import re

    from energy_pandas_spark.sources.layout import compact

    # exact-match the partition directories: a crashed compaction's
    # `bucket=3__backup` / `bucket=3__compacting` siblings must never
    # be compacted as if they were live buckets (recover first)
    for name in sorted(os.listdir(path)):
        if re.fullmatch(r"bucket=\d+", name):
            compact(spark, os.path.join(path, name), "term", files_per_bucket)
    return _bucket_manifest(spark, path)
