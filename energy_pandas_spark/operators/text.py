"""Text-analysis operators for large-scale training-data pipelines:
language ID, quality scoring, token counting, document fingerprinting.

All hot-path logic is built-in column expressions (regex, array
functions, hashes) — whole-stage-codegen'd, no Python workers — so the
operators scan-bound at 100 TB: one pass over the text column, column
pruning pushes everything else out of the read.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from energy_pandas_spark.util import owned_caches, track_cache

from energy_pandas_spark.functions.textfns import (
    char_shingles_of_text,
    normalized_text,
    sep_pattern,
    tokens,
    word_shingles_of_tokens,
)

__all__ = [
    "token_count",
    "bpe_ish_token_count",
    "quality_features",
    "quality_score",
    "readability_stats",
    "language_id",
    "fingerprint",
    "minhash_fingerprint",
    "term_frequencies",
    "vocabulary",
    "vocab_coverage",
    "boilerplate_stats",
    "tfidf_top_terms",
    "ngram_counts",
    "redact_pii",
    "contamination_overlap",
    "contamination_overlap_bloom",
    "chunk_documents",
    "hashed_embedding",
    "repetition_stats",
    "url_stats",
    "blocklist_stats",
    "blocklist_filter",
    "html_to_text",
    "perplexity_buckets",
    "chunk_fixed",
    "source_vocab_overlap",
    "vocabulary_by_group",
    "exact_substring_dedup",
    "mixed_language_stats",
    "pii_stats",
    "compression_ratio",
    "collocations",
    "hashed_feature_weight",
    "hashed_feature_weight_q",
    "classifier_score",
    "hashed_doc_features",
    "train_text_classifier",
    "score_with_weights",
    "bigram_lm_train",
    "bigram_lm_score",
    "kneser_ney_score",
    "trigram_lm_train",
    "kneser_ney_trigram_score",
    "span_corrupt",
    "span_dup_stats",
    "span_dedup_filter",
    "line_dup_stats",
    "line_dedup",
    "template_lines",
    "strip_templates",
    "train_langid_profiles",
    "langid_ngram",
    "line_dedup_in_doc",
    "line_dedup_incremental",
    "line_digests",
    "dsir_weights",
    "dsir_score",
    "dsir_select",
    "dsir_resample",
    "gopher_rules",
    "gopher_filter",
    "GOPHER_STOPWORDS",
    "vocab_index",
    "encode_docs",
    "PII_PATTERNS",
    "STOPWORDS",
]

# Tiny per-language stopword inventories for the n-gram/stopword
# language-ID heuristic. Deliberately small: the heuristic is a
# frequency vote, not a model.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that", "for", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"),
    "fr": ("le", "la", "les", "et", "est", "une", "des", "dans", "que", "pour"),
    "es": ("el", "la", "los", "las", "y", "es", "una", "en", "que", "por"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "不", "这", "人"),
}


def token_count(text: Column | str = "text") -> Column:
    """Whitespace token count (the cheap proxy; BPE-ish counting below)."""
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column | str = "text") -> Column:
    """A BPE-flavored token estimate: word-piece splits on letter/digit/
    punctuation boundaries, long words count ~len/4 subwords (the GPT-ish
    rule of thumb), all as one regex + aggregate expression."""
    pieces = F.filter(
        F.split(F.lower(text if isinstance(text, Column) else F.col(text)),
                r"[^\p{L}\p{N}]+"),
        lambda t: t != F.lit(""),
    )
    return F.aggregate(
        pieces,
        F.lit(0).cast("long"),
        lambda acc, w: acc
        + F.when(F.length(w) <= 4, 1).otherwise(
            F.ceil(F.length(w) / F.lit(4.0)).cast("int")
        ),
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality signals: length, token stats, alpha/punct/
    digit ratios, stopword ratio, repetition ratio."""
    t = F.col(text_col)
    toks = tokens(t)
    n_chars = F.length(t)
    alpha = F.length(F.regexp_replace(t, r"[^\p{L}]", ""))
    digits = F.length(F.regexp_replace(t, r"[^\p{N}]", ""))
    punct = F.length(F.regexp_replace(t, r"[^\p{P}]", ""))
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_toks = F.size(toks)
    distinct_toks = F.size(F.array_distinct(toks))
    safe = F.when(n_chars == 0, 1).otherwise(n_chars).cast("double")
    safe_toks = F.when(n_toks == 0, 1).otherwise(n_toks).cast("double")
    return df.withColumns(
        {
            "n_chars_calc": n_chars.cast("long"),
            "n_tokens": n_toks.cast("long"),
            "alpha_ratio": alpha / safe,
            "digit_ratio": digits / safe,
            "punct_ratio": punct / safe,
            "avg_token_len": F.when(n_toks == 0, 0.0).otherwise(
                F.aggregate(toks, F.lit(0).cast("long"),
                            lambda a, w: a + F.length(w)).cast("double") / safe_toks
            ),
            "stopword_ratio": F.size(F.array_intersect(F.array_distinct(toks), en_stop))
            / F.when(distinct_toks == 0, 1).otherwise(distinct_toks).cast("double"),
            "repetition_ratio": F.lit(1.0) - distinct_toks / safe_toks,
        }
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite [0,1] quality score from the features — a linear blend
    of heuristics (length band, alphabetic-ness, low repetition)."""
    feat = quality_features(df, text_col)
    length_score = F.least(F.col("n_tokens") / F.lit(50.0), F.lit(1.0))
    rep_score = F.lit(1.0) - F.least(F.col("repetition_ratio") * 2, F.lit(1.0))
    return feat.withColumn(
        "quality",
        F.round(
            0.4 * length_score + 0.4 * F.col("alpha_ratio") + 0.2 * rep_score, 6
        ),
    )


def readability_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Integer-quantized readability card per document — the classic
    corpus-filtering signal ("drop pages written below grade 3 / above
    grade 16") made engine-exact.

    Word/sentence/syllable counts use deterministic ASCII heuristics
    (words = ``[a-z]+`` runs of the lowercased text, sentences =
    ``[.!?]+`` runs, syllables = vowel-group runs per word with a
    1-per-word floor), and the Flesch reading-ease / Flesch-Kincaid
    grade formulas are evaluated in MILLI-units with integer ``div``
    floor divisions only — no float anywhere, so scores are bit-equal
    across engines and the driver query carries a DuckDB oracle.
    flesch_milli = 206835 - 1015·wps - 84600·spw (each product divided
    by 1000 after the per-mille ratio), i.e. the standard
    ``206.835 - 1.015·(words/sentence) - 84.6·(syllables/word)``
    scaled by 1000 and floored.

    Map-only codegen projection (regex extract + array aggregate HOFs),
    zero shuffle — the 100 TB cost is one scan.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    words = F.expr(f"regexp_extract_all(lower(coalesce({text_col}, '')), '[a-z]+', 0)")
    syl = F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda a, w: a
        + F.greatest(
            F.lit(1).cast("long"),
            F.size(F.regexp_extract_all(w, F.lit("[aeiouy]+"), F.lit(0))).cast("long"),
        ),
    )
    out = df.withColumns(
        {
            "n_words": F.size(words).cast("long"),
            "n_sentences": F.size(
                F.regexp_extract_all(t, F.lit("[.!?]+"), F.lit(0))
            ).cast("long"),
            "n_syllables": syl,
        }
    ).withColumns(
        {
            # per-mille ratios; safe floors keep div operands positive
            "wps_milli": F.expr("(1000 * n_words) div greatest(n_sentences, 1)"),
            "spw_milli": F.expr("(1000 * n_syllables) div greatest(n_words, 1)"),
        }
    )
    return out.withColumns(
        {
            "flesch_milli": F.expr(
                "206835 - (1015 * wps_milli) div 1000 - (84600 * spw_milli) div 1000"
            ),
            "fk_grade_milli": F.expr(
                "(390 * wps_milli) div 1000 + (11800 * spw_milli) div 1000 - 15590"
            ),
        }
    )


def language_id(
    df: DataFrame, text_col: str = "text", out_col: str = "lang_pred"
) -> DataFrame:
    """Stopword-vote language ID: score each language by distinct
    stopword hits in the token set, argmax via a greatest/when chain.
    Pure expressions — one pass, no shuffle, no UDF."""
    toks = F.array_distinct(tokens(text_col))
    scores = {
        lang: F.size(
            F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))
        )
        for lang, words in STOPWORDS.items()
    }
    # zh has no whitespace tokens: count character hits instead
    zh_chars = F.array(*[F.lit(c) for c in STOPWORDS["zh"]])
    scores["zh"] = F.size(
        F.array_intersect(
            F.split(F.col(text_col), ""), zh_chars
        )
    )
    best = F.greatest(*scores.values())
    expr: Column = F.lit("und")
    # reversed so the FIRST language in insertion order wins ties
    for lang in reversed(list(scores)):
        expr = F.when((scores[lang] > 0) & (scores[lang] == best), F.lit(lang)).otherwise(expr)
    return df.withColumn(out_col, expr)


# Unicode SCRIPT classes (writing systems) — complementary to the
# stopword-vote language_id: script detection is alphabet-level truth
# (a Cyrillic page is never English no matter what its stopwords say)
# and it covers languages with no stopword table. Each class is
# intersected with \p{L}: scripts contain non-letters too (Arabic-Indic
# digits, Devanagari danda, U+3007), and counting those against a
# letters-only total would drive n_script_other negative and purity
# past 1000. Java regex (\p{IsXxx}, && intersection); the DuckDB
# oracle extracts RE2's \p{Xxx} members and filters them by \p{L} —
# the two engines' Unicode tables agree (parity-probed across all nine
# classes incl. digit/punctuation cases). Order = dominance priority
# on exact ties.
SCRIPT_CLASSES: list[tuple[str, str]] = [
    ("latin", r"[\p{IsLatin}&&\p{L}]"),
    ("cyrillic", r"[\p{IsCyrillic}&&\p{L}]"),
    ("greek", r"[\p{IsGreek}&&\p{L}]"),
    ("han", r"[\p{IsHan}&&\p{L}]"),
    ("kana", r"[\p{IsHiragana}\p{IsKatakana}&&\p{L}]"),
    ("hangul", r"[\p{IsHangul}&&\p{L}]"),
    ("arabic", r"[\p{IsArabic}&&\p{L}]"),
    ("hebrew", r"[\p{IsHebrew}&&\p{L}]"),
    ("devanagari", r"[\p{IsDevanagari}&&\p{L}]"),
]


def script_mix(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Unicode-script audit for multilingual crawls: one
    letter count per writing system (``n_latin`` … ``n_devanagari``,
    plus ``n_script_other`` for letters outside the nine classes and
    ``n_letters`` total), the ``dominant_script`` (``none`` for
    letter-less docs; exact ties go to the first class in
    ``SCRIPT_CLASSES`` order, ``other`` last), and integer
    ``script_purity_permille`` = 1000·dominant/letters — the
    mixed-script / wrong-script gate (a crawl page whose purity is low
    is boilerplate soup or a mislabeled document).

    Pure codegen'd regexp counts — map-only projection, no shuffle, no
    Python; integer arithmetic end-to-end so the DuckDB oracle matches
    bit-for-bit."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    counts = {
        name: F.regexp_count(t, F.lit(pat)).cast("long")
        for name, pat in SCRIPT_CLASSES
    }
    n_letters = F.regexp_count(t, F.lit(r"\p{L}")).cast("long")
    classified = None
    for c in counts.values():
        classified = c if classified is None else classified + c
    # argmax with priority tiebreak: max over (count, -index) structs —
    # highest count wins, ties fall to the lowest index (list order),
    # 'other' last
    entries = [
        F.struct(
            counts[name].alias("c"),
            F.lit(-i).alias("p"),
            F.lit(name).alias("s"),
        )
        for i, (name, _) in enumerate(SCRIPT_CLASSES)
    ] + [
        F.struct(
            (n_letters - classified).alias("c"),
            F.lit(-len(SCRIPT_CLASSES)).alias("p"),
            F.lit("other").alias("s"),
        )
    ]
    best = F.array_max(F.array(*entries))
    out = {f"n_{name}": counts[name] for name, _ in SCRIPT_CLASSES}
    out["n_script_other"] = n_letters - classified
    out["n_letters"] = n_letters
    out["__dom"] = best
    staged = df.withColumns(out)
    return staged.withColumns(
        {
            "dominant_script": F.when(
                F.col("n_letters") == 0, F.lit("none")
            ).otherwise(F.col("__dom.s")),
            # integer floor division (div, not floor(/)): double
            # division can round exactly onto the next integer and
            # split the engines at quotient boundaries
            "script_purity_permille": F.when(
                F.col("n_letters") == 0, F.lit(0).cast("long")
            ).otherwise(F.expr("(1000 * __dom.c) div n_letters")),
        }
    ).drop("__dom")


def fingerprint(
    df: DataFrame, text_col: str = "text", out_col: str = "fingerprint"
) -> DataFrame:
    """Stable 128-bit-ish content fingerprint of the normalized text
    (md5 hex) — the exact-dedup key."""
    return df.withColumn(out_col, F.md5(normalized_text(text_col)))


def minhash_fingerprint(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "min_fp",
    shingle_size: int = 5,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Winnowing-flavored rolling fingerprint: the minimum 64-bit hash
    over the document's character shingles — robust to small edits,
    computed as array_min(transform(shingles, hash)). The normalized
    text materializes in its own projection so the regex normalization
    runs once per document, not once per shingle position.

    ``hasher="xxhash64"`` (default) is the fast JVM path;
    ``hasher="md5"`` uses the engine-portable 60-bit md5-hex-prefix
    hash every other sketch in the engine exposes, so an external SQL
    engine can replay the fingerprint bit-for-bit (the hash-gate
    idiom)."""
    if hasher == "xxhash64":
        hfn = lambda s: F.xxhash64(s)  # noqa: E731 - transform() rejects
        # xxhash64's *cols signature (VAR_POSITIONAL), a lambda is fine
    elif hasher == "md5":
        hfn = lambda s: F.conv(  # noqa: E731 - mirrors sketches.py
            F.substring(F.md5(s), 1, 15), 16, 10
        ).cast("long")
    else:
        raise ValueError(f"unknown hasher {hasher!r}")
    norm = df.withColumn("__norm", normalized_text(text_col))
    sh = char_shingles_of_text("__norm", shingle_size)
    return norm.withColumn(
        out_col, F.array_min(F.transform(sh, hfn))
    ).drop("__norm")


# ---------------------------------------------------------------------------
# corpus statistics: vocabulary, TF-IDF, n-gram counts
# ---------------------------------------------------------------------------


def term_frequencies(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc, term) -> tf. One explode + one hash aggregate; the
    aggregate combines map-side, so the shuffle carries distinct
    (doc, term) pairs, not raw token occurrences."""
    from energy_pandas_spark.util import spread_partitions

    src = spread_partitions(df.select(id_col, F.col(text_col)))
    toks = src.select(id_col, F.explode(tokens(text_col)).alias("term"))
    return toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))


def vocabulary(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top: int = 100,
) -> DataFrame:
    """Corpus vocabulary: per-term document frequency + total count,
    top-``top`` by (doc_freq desc, term asc) — an integer sort key, so
    the ranking is bit-reproducible on any engine.

    Scale shape: tokens aggregate map-side per (doc, term) first, then
    per term; the final top-k is a TakeOrdered over the (small) term
    table, never a global sort of token occurrences."""
    tf = term_frequencies(df, text_col, id_col)
    terms = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("doc_freq"),
        F.sum("tf").alias("total_count"),
    )
    return terms.orderBy(F.desc("doc_freq"), F.asc("term")).limit(top)


def vocab_coverage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top: int = 100,
) -> DataFrame:
    """Tokenizer-design metric: what fraction of all token OCCURRENCES
    does the top-``top`` vocabulary (by document frequency) cover? The
    Zipf tail this exposes drives vocab-size / OOV-rate decisions.

    ONE token aggregation feeds both sides: the per-term table yields
    the top-``top`` vocabulary's covered sum AND the corpus token total
    (``sum(total_count)`` over all terms) — the term table is persisted
    (it is vocab-sized, i.e. tiny) so the corpus-scale (doc, term)
    chain under it runs once, not once per consumer. Integer counts;
    only the final ratio is floating, rounded to 6 so it compares
    exactly cross-engine."""
    from pyspark import StorageLevel

    tf = term_frequencies(df, text_col, id_col)
    terms = (
        tf.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("doc_freq"),
            F.sum("tf").alias("total_count"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK_DESER)
    )
    track_cache(terms)
    covered = (
        terms.orderBy(F.desc("doc_freq"), F.asc("term"))
        .limit(top)
        .agg(
            F.sum("total_count").alias("covered_tokens"),
            F.count(F.lit(1)).alias("vocab_size"),
        )
    )
    total = terms.agg(
        F.coalesce(F.sum("total_count"), F.lit(0)).alias("total_tokens")
    )
    return covered.crossJoin(F.broadcast(total)).select(
        "vocab_size",
        "covered_tokens",
        "total_tokens",
        F.round(
            F.col("covered_tokens") / F.greatest("total_tokens", F.lit(1)), 6
        ).alias("coverage"),
        # engine-exact integer twin (round-at-tie class)
        F.expr(
            "(covered_tokens * 1000000L) div greatest(total_tokens, 1L)"
        ).alias("coverage_micro"),
    )


def boilerplate_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    df_ratio: float = 0.5,
) -> DataFrame:
    """C4/RefinedWeb-style boilerplate audit: what fraction of each
    document's token OCCURRENCES are corpus-level boilerplate terms —
    terms whose document frequency is ``>= df_ratio * n_docs``?

    Output: ``(id, n_tokens, boilerplate_tokens, boilerplate_fraction)``
    — the per-doc signal a cleaning pipeline thresholds on ("drop docs
    that are >80% navigation chrome"). Counts are integers; only the
    final ratio is floating, rounded to 6 for cross-engine equality.

    Scale shape: pass 1 is the (doc, term) -> per-term document-
    frequency aggregate chain, ending in a BOUNDED driver collect of
    the boilerplate term list (tiny by Zipf — chrome/navigation terms
    are stopword-like; capped at 10k, highest-DF first, as a guard).
    Pass 2 is then a PURE PROJECTION: per-doc counts come from array
    expressions against the literal term array — no join, no second
    explode, no shuffle, and empty docs need no re-attach. An earlier
    broadcast-join formulation re-ran the (doc, term) aggregate twice
    (the join's IsNotNull pushdown defeats Spark's exchange reuse);
    two scans of a 100 TB text column is the difference that matters.
    The threshold ``n_docs * df_ratio`` folds into the aggregate chain
    as a broadcast 1-row cross join, not an eager ``count()``.
    """
    tf = term_frequencies(df, text_col, id_col)
    n_docs = df.agg(
        F.count_distinct(F.col(id_col)).cast("double").alias("__n_docs")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    boiler_rows = (
        dfreq.crossJoin(F.broadcast(n_docs))
        .filter(F.col("doc_freq") >= F.col("__n_docs") * F.lit(df_ratio))
        .orderBy(F.desc("doc_freq"), F.asc("term"))
        .limit(10_000)
        .collect()
    )
    boiler_terms = F.array(*[F.lit(r["term"]) for r in boiler_rows])
    # NULL text -> NULL token array; coalesce so null-text docs score
    # (0, 0, 0.0) exactly like the SQL oracle's left-join + coalesce
    toks = F.coalesce(tokens(text_col), F.array().cast("array<string>"))
    n_tokens = F.size(toks).cast("long")
    if boiler_rows:
        boiler_count = F.size(
            F.filter(toks, lambda w: F.array_contains(boiler_terms, w))
        ).cast("long")
    else:
        boiler_count = F.lit(0).cast("long")
    out = df.select(
        id_col,
        n_tokens.alias("n_tokens"),
        boiler_count.alias("boilerplate_tokens"),
        F.round(
            boiler_count / F.greatest(n_tokens, F.lit(1)), 6
        ).alias("boilerplate_fraction"),
    )
    # engine-exact integer twin (round-at-tie class)
    return out.withColumn(
        "boilerplate_micro",
        F.expr(
            "(boilerplate_tokens * 1000000L) div greatest(n_tokens, 1L)"
        ),
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Per-document top-``k`` terms with their tf-idf score.

    The score is classic ``tf * ln(N / doc_freq)``; the RANKING uses
    the integer-exact key (tf desc, doc_freq asc, term asc), which is
    deterministic across engines (float ln rounding can differ in the
    last ulp between libm implementations, so ranking directly on the
    score would make the k-boundary engine-dependent). The score is
    emitted for consumers; the key decides who wins.

    Scale shape: two hash aggregates (doc-term, term) + one broadcast
    of the term table is WRONG at 100 TB (term table is huge); instead
    the doc-frequency join keys on term — a shuffle join where both
    sides are already term-partitioned from their aggregates — then one
    per-doc window for the top-k. The (doc, term) frame feeds BOTH join
    sides, and Spark's exchange reuse does not fire across the join's
    IsNotNull pushdown, so it is persisted explicitly — without that
    the text column tokenizes and aggregates twice."""
    from pyspark import StorageLevel
    from pyspark.sql import Window

    tf = track_cache(
        term_frequencies(df, text_col, id_col).persist(
            StorageLevel.MEMORY_AND_DISK_DESER
        )
    )
    # corpus size folds into the plan as a broadcast 1-row cross join —
    # no eager count job, no second scan at plan-build time
    n_docs = df.agg(
        F.count_distinct(F.col(id_col)).cast("double").alias("__n_docs")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    joined = tf.join(dfreq, "term").crossJoin(F.broadcast(n_docs))
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tf"), F.asc("doc_freq"), F.asc("term")
    )
    return (
        joined.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= k)
        .select(
            id_col,
            "term",
            "tf",
            "doc_freq",
            (F.col("tf") * F.log(F.col("__n_docs") / F.col("doc_freq"))).alias(
                "tfidf"
            ),
            F.col("__rank").alias("rank"),
        )
    )


# PII redaction patterns, applied IN ORDER (emails first so their
# digits can't feed the phone pattern; IPs before phones likewise).
# Every pattern is deliberately restricted to syntax with identical
# semantics in Java regex (Spark) and RE2 (DuckDB/Go tooling): no
# backreferences, no lookaround, only greedy bounded repetition —
# so redaction is bit-reproducible across engines.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"([0-9]{1,3}\.){3}[0-9]{1,3}", "<IP>"),
    ("phone", r"\+[0-9][0-9()\- ]{6,14}[0-9]", "<PHONE>"),
)


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "redacted",
    count: bool = True,
) -> DataFrame:
    """Scrub emails / IPv4 addresses / international phone numbers from a
    text column — the standard pre-training privacy pass.

    Patterns apply as a staged fold: each one counts and replaces on the
    output of the previous stage, so counts are unambiguous (an address
    inside an already-redacted span can't double-count). Everything is
    ``regexp_count`` / ``regexp_replace`` column expressions — one
    codegen'd projection, no shuffle, scan-bound at 100 TB.

    Reference scope note: the reference library has no text surface;
    this is north-star training-pipeline work (SURVEY.md §7 step 8).
    """
    out = F.col(text_col)
    counts: dict[str, Column] = {}
    for name, pat, token in PII_PATTERNS:
        if count:
            counts[f"n_{name}"] = F.regexp_count(out, F.lit(pat)).cast("long")
        out = F.regexp_replace(out, pat, token)
    return df.withColumns({**counts, out_col: out})


def _overlap_projection(
    agg: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Shared overlap output: the human-readable rounded ratio, an
    engine-exact integer micro twin, and an integer-exact contamination
    flag. n_hits/n_grams is a ratio of integers, so round(,6) can land
    on an exact decimal half where Spark's HALF_UP and DuckDB's
    ties-to-even disagree (the classifier sf1 precedent) — the gated
    comparison and the flag ride pure BIGINT arithmetic instead."""
    overlap = F.round(
        F.col("n_hits").cast("double") / F.col("n_grams").cast("double"), 6
    )
    thr_micro = int(round(threshold * 1_000_000))
    return agg.select(
        id_col,
        "n_grams",
        "n_hits",
        overlap.alias("overlap"),
        F.expr("(n_hits * 1000000L) div n_grams").alias("overlap_micro"),
        (
            F.col("n_hits") * F.lit(1_000_000)
            >= F.lit(thr_micro) * F.col("n_grams")
        ).alias("contaminated"),
    )


def contamination_overlap(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Benchmark-decontamination check: fraction of each training
    document's distinct word ``n``-grams that also occur anywhere in the
    benchmark corpus (the GPT-3/PaLM style n-gram overlap test).

    Output: one row per training doc — ``n_grams`` (distinct grams),
    ``n_hits`` (grams present in the benchmark set), ``overlap``
    (rounded ratio) and the ``contaminated`` flag at ``threshold``.

    Scale shape: both sides tokenize once, shingle over the
    materialized token array, and aggregate distinct grams map-side.
    The probe is a LEFT join keyed on the gram string: the benchmark
    side (an eval set — thousands of docs, not billions) aggregates to
    distinct grams first, so AQE broadcasts it in practice; if the
    benchmark ever outgrows broadcast range the same plan degrades to a
    shuffle join on the gram key, never a cross product. One shuffle
    for the per-doc re-aggregation.
    """
    from energy_pandas_spark.util import spread_partitions

    def doc_grams(df: DataFrame) -> DataFrame:
        toks = spread_partitions(df.select(id_col, F.col(text_col))).select(
            id_col, tokens(text_col).alias("__toks")
        )
        return toks.select(
            id_col,
            F.explode(
                F.array_distinct(word_shingles_of_tokens("__toks", n))
            ).alias("gram"),
        )

    bench_grams = doc_grams(benchmark).select("gram").distinct()
    probe = doc_grams(train).join(
        bench_grams.withColumn("__hit", F.lit(1)), "gram", "left"
    )
    agg = probe.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.coalesce(F.sum("__hit"), F.lit(0)).cast("long").alias("n_hits"),
    )
    return _overlap_projection(agg, id_col, threshold)


def _hashed_embedding_agg(
    df: DataFrame,
    text_col: str,
    dim: int,
    out_col: str,
    micro: bool,
    id_col: str,
    pairs,
) -> DataFrame:
    """The distributed hashing-trick path (see :func:`hashed_embedding`
    ``id_col=``): explode per-token (bucket, sign) INT pairs, one
    map-combined hash aggregate per (id, bucket), dim-bounded array
    rebuild, join back. Component sums are identical to the map-only
    fold (same hashes, same ±1 additions — integer, order-free)
    PROVIDED ``id_col`` is unique and non-null (ADVICE r6): this path
    aggregates BY KEY, so duplicate ids sum their tokens into one
    shared vector and NULL-id rows fall out of the left join back
    (zero vector), where the map-only fold is strictly per-row. The
    precondition is pinned in :func:`hashed_embedding`'s docstring; a
    monotonic surrogate key was rejected deliberately — a
    nondeterministic row id evaluated on both sides of a self-join is
    not stable under task retry / AQE re-execution on a real cluster,
    which is exactly where this path runs."""
    from energy_pandas_spark.util import spread_partitions

    ex = (
        spread_partitions(df.select(F.col(id_col), F.col(text_col)))
        .withColumn(
            "__toks",
            F.coalesce(tokens(text_col), F.array().cast("array<string>")),
        )
        .select(F.col(id_col), F.explode(pairs).alias("__p"))
    )
    agg = ex.groupBy(id_col, F.col("__p.b").alias("__b")).agg(
        F.sum("__p.s").cast("long").alias("__v")
    )
    m = F.map_from_entries(
        F.array_sort(F.collect_list(F.struct("__b", "__v")))
    )
    per_doc = agg.groupBy(id_col).agg(m.alias("__m")).select(
        F.col(id_col),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: F.coalesce(
                F.element_at("__m", i), F.lit(0).cast("long")
            ),
        ).alias("__raw"),
    )
    norm = F.sqrt(
        F.aggregate(
            "__raw", F.lit(0).cast("long"), lambda acc, x: acc + x * x
        ).cast("double")
    )
    if micro:
        vec = F.when(
            norm > 0,
            F.transform(
                "__raw",
                lambda x: F.floor(
                    x.cast("double") * F.lit(1000000.0) / norm
                ).cast("long"),
            ),
        ).otherwise(F.transform("__raw", lambda x: F.lit(0).cast("long")))
        zero = F.array_repeat(F.lit(0).cast("long"), dim)
    else:
        vec = F.when(
            norm > 0,
            F.transform(
                "__raw", lambda x: F.round(x.cast("double") / norm, 6)
            ),
        ).otherwise(F.transform("__raw", lambda x: F.lit(0.0)))
        zero = F.array_repeat(F.lit(0.0), dim)
    emb = per_doc.select(F.col(id_col), vec.alias(out_col))
    # tokenless docs have no exploded rows: left join + zero vector
    return df.join(emb, id_col, "left").withColumn(
        out_col, F.coalesce(F.col(out_col), zero)
    )


def hashed_embedding(
    df: DataFrame,
    text_col: str = "text",
    dim: int = 64,
    salt: str = "emb-v1",
    out_col: str = "embedding",
    micro: bool = False,
    id_col: str | None = None,
) -> DataFrame:
    """Deterministic model-free document embeddings: the classic
    hashing-trick BOW projection (feature hashing with a ±1 sign hash,
    Weinberger et al. 2009). Token ``t`` adds ``sign(t)`` to component
    ``bucket(t)``; the vector is L2-normalized. Same text ⇒ same
    vector on every engine (md5 bucket + md5 sign bit, integer counts,
    one correctly-rounded sqrt), so near-dup geometry is rerun-stable.

    This closes the text→vector→ANN loop with no external model: the
    output column feeds :func:`~energy_pandas_spark.operators.
    similarity.cosine_topk`, IVF/PQ indexes, and SemDeDup directly.
    Cosine of these vectors approximates token-multiset similarity —
    a cheap semantic-ish signal, not a learned embedding.

    Scale shape: two paths, identical outputs (same per-bucket ±1
    sums).

    - ``id_col=None`` (default): ONE map-only projection, no shuffle —
      but the per-component fold is O(dim * n_tokens) of INTERPRETED
      higher-order-function work per doc (filter/aggregate lambdas get
      no whole-stage codegen). Fine for small corpora and pipelines
      that cannot name a key.
    - ``id_col='doc_id'``: explode the per-token (bucket, sign) int
      pairs and hash-aggregate per (id, bucket) — O(n_tokens) codegen'd
      work plus one map-combined shuffle of (id, int, long) rows, then
      a dim-bounded array rebuild and a join back onto ``df`` (all
      original columns preserved; tokenless docs get the zero vector).
      THIS is the 100 TB path: the r6 sf10 probe measured the map-only
      fold at ~30 min/62k-doc task (dim=16, local[8]) where this path
      is seconds. PRECONDITION: ``id_col`` values must be unique and
      non-null — the keyed aggregate sums duplicate ids into one
      shared vector and leaves NULL-id rows with the zero vector,
      whereas the map-only path embeds every row independently. Rows
      without a usable key should use ``id_col=None``.

    The token array materializes into a real column first — inlining
    ``tokens()`` into the per-component lambdas would re-run the split
    ``dim`` times per document."""

    def bucket(t: Column) -> Column:
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(salt), t)), 1, 15), 16, 10
            ).cast("long")
            % dim
        )

    def sign(t: Column) -> Column:
        h = F.conv(
            F.substring(F.md5(F.concat(F.lit(salt + "#s"), t)), 1, 15), 16, 10
        ).cast("long")
        return F.when(h % 2 == 0, F.lit(1)).otherwise(F.lit(-1))

    # hash each token ONCE into a (bucket, sign) struct array, then
    # aggregate the precomputed ints per component — inlining bucket()
    # into the per-component filter would re-run the md5 dim times per
    # token (the materialize-once rule again, but for hashes)
    pairs = F.transform(
        "__toks",
        lambda t: F.struct(bucket(t).alias("b"), sign(t).alias("s")),
    )

    if id_col is not None:
        return _hashed_embedding_agg(
            df, text_col, dim, out_col, micro, id_col, pairs
        )
    raw = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.aggregate(
            F.filter("__pairs", lambda p: p.getField("b") == i),
            F.lit(0).cast("long"),
            lambda acc, p: acc + p.getField("s"),
        ),
    )
    with_toks = (
        df.withColumn(
            "__toks",
            # NULL text would null the whole vector; empty array -> zeros
            F.coalesce(tokens(text_col), F.array().cast("array<string>")),
        )
        .withColumn("__pairs", pairs)
        .withColumn("__raw", raw)
    )
    norm = F.sqrt(
        F.aggregate(
            "__raw", F.lit(0).cast("long"), lambda acc, x: acc + x * x
        ).cast("double")
    )
    if micro:
        # engine-exact integer quantization: floor((x * 1e6) / norm).
        # x * 1e6 is exact in a double (|x| <= n_tokens), the division
        # is correctly rounded, so both engines floor the IDENTICAL
        # double — no tie ambiguity. round(x / norm, 6) is NOT safe:
        # when norm is rational (perfect-square sum of squares) the
        # component can be an exact decimal half, where Spark's
        # HALF_UP and DuckDB's ties-to-even disagree (the classifier
        # sf1 precedent).
        vec = F.when(
            norm > 0,
            F.transform(
                "__raw",
                lambda x: F.floor(
                    x.cast("double") * F.lit(1000000.0) / norm
                ).cast("long"),
            ),
        ).otherwise(F.transform("__raw", lambda x: F.lit(0).cast("long")))
    else:
        vec = F.when(
            norm > 0,
            F.transform(
                "__raw", lambda x: F.round(x.cast("double") / norm, 6)
            ),
        ).otherwise(F.transform("__raw", lambda x: F.lit(0.0)))
    return with_toks.withColumn(out_col, vec).drop(
        "__toks", "__pairs", "__raw"
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    target_tokens: int = 16,
    salt: str = "cdc-v1",
) -> DataFrame:
    """Content-defined chunking: split each document into chunks whose
    boundaries are a pure function of token CONTENT — a boundary falls
    after token ``w`` iff ``md5(salt + w) % target_tokens == 0`` — so
    expected chunk length is ``target_tokens`` and an edit moves only
    the boundaries near it (the rolling-hash/CDC property that makes
    chunk-level dedup robust to insertions, vs fixed-width windows
    where one inserted token shifts every downstream chunk).

    Output: ``(id, chunk_idx, chunk_text, n_tokens)``, one row per
    non-empty chunk; empty documents produce no rows.

    Scale shape: boundary positions, chunk slices and token counts are
    all array expressions over the materialized token array — one
    projection, zero shuffles, no Python. The md5-bucket boundary rule
    is the engine's standard cross-engine-exact recipe (a DuckDB oracle
    computes identical boundaries)."""
    if target_tokens < 1:
        raise ValueError(f"target_tokens must be >= 1, got {target_tokens}")
    src = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    n = F.size("__toks")

    def is_boundary(tok: Column) -> Column:
        h = F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), tok)), 1, 15), 16, 10
        ).cast("long")
        return (h % target_tokens) == 0

    bpos = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: is_boundary(F.element_at("__toks", i)),
    )
    starts = F.concat(F.array(F.lit(1)), F.transform(bpos, lambda p: p + 1))
    ends = F.concat(bpos, F.array(n))
    chunks = F.filter(
        F.zip_with(
            starts,
            ends,
            lambda s, e: F.struct(
                F.array_join(F.slice("__toks", s, e - s + 1), " ").alias("t"),
                (e - s + 1).cast("long").alias("m"),
            ),
        ),
        lambda c: c.getField("m") > 0,
    )
    guarded = F.when(n > 0, chunks).otherwise(
        F.array().cast("array<struct<t:string,m:bigint>>")
    )
    out = src.select(
        F.col(id_col), F.posexplode(guarded).alias("chunk_idx", "__c")
    )
    return out.select(
        id_col,
        "chunk_idx",
        F.col("__c.t").alias("chunk_text"),
        F.col("__c.m").alias("n_tokens"),
    )


def contamination_overlap_bloom(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.5,
    n_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """:func:`contamination_overlap` with a broadcast Bloom PREFILTER on
    the corpus gram stream — identical output (a Bloom filter has no
    false negatives, and survivors still exact-join the benchmark gram
    set), radically different shuffle profile at scale.

    The plain version shuffles (or at best broadcast-joins) EVERY
    distinct corpus gram against the benchmark set; this one hashes
    each gram JVM-side (``xxhash64``, codegen), drops ~99% of them
    map-side against an ``n_bits``-bit table riding in the closure, and
    only the maybe-hits reach the exact join. Per-doc gram totals come
    from a separate map-only projection (``size(array_distinct(...))``)
    so the prefilter cannot undercount them.
    """
    import numpy as np

    from energy_pandas_spark.functions.bloom import bloom_prefilter, build_bloom
    from energy_pandas_spark.util import spread_partitions

    def doc_gram_rows(df: DataFrame) -> DataFrame:
        toks = spread_partitions(df.select(id_col, F.col(text_col))).select(
            id_col, tokens(text_col).alias("__toks")
        )
        return toks.select(
            id_col,
            F.explode(
                F.array_distinct(word_shingles_of_tokens("__toks", n))
            ).alias("gram"),
        )

    # persist: the benchmark gram set is consumed twice — collected
    # here to build the Bloom bits, and exact-joined against the
    # survivors below. Without the cache the benchmark slice
    # re-tokenizes and re-shingles inside the final job.
    bench_grams = track_cache(
        doc_gram_rows(benchmark).select("gram").distinct().persist()
    )
    bench_hashes = np.array(
        [r[0] for r in bench_grams.select(F.xxhash64("gram")).collect()],
        dtype=np.int64,
    )
    bits = build_bloom(bench_hashes, n_bits=n_bits, k=k)

    # ONE tokenize+shingle pass feeds BOTH the per-doc totals and the
    # probe stream: the (id, grams) projection persists spill-safe so
    # the two consumers don't re-run the dominant text-scan work (the
    # counts also can't be undercounted by the prefilter this way)
    from pyspark import StorageLevel

    grams_df = (
        spread_partitions(train.select(id_col, F.col(text_col)))
        .select(F.col(id_col), tokens(text_col).alias("__toks"))
        .select(
            F.col(id_col),
            F.array_distinct(
                word_shingles_of_tokens("__toks", n)
            ).alias("__grams"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK_DESER)
    )
    track_cache(grams_df)
    counts = grams_df.select(
        F.col(id_col), F.size("__grams").cast("long").alias("n_grams")
    )
    probe = grams_df.select(
        F.col(id_col), F.explode("__grams").alias("gram")
    ).withColumn("__h", F.xxhash64("gram"))
    survivors = bloom_prefilter(probe, "__h", bits, k=k).drop("__h")
    hits = (
        survivors.join(bench_grams.withColumn("__hit", F.lit(1)), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    agg = counts.join(hits, id_col, "left").withColumn(
        "n_hits", F.coalesce("n_hits", F.lit(0)).cast("long")
    )
    return _overlap_projection(agg, id_col, threshold)


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 2,
    dup_n: int = 5,
) -> DataFrame:
    """Gopher-style repetition quality filters: per document, the
    fraction of word ``top_n``-grams taken by the single most frequent
    one, and the fraction of word ``dup_n``-grams that occur more than
    once. High values flag boilerplate / degenerate repetition.

    Output per doc: ``top_gram_count`` / ``n_top_grams`` /
    ``top_gram_frac`` (most-frequent-gram share) and ``dup_gram_count``
    / ``n_dup_grams`` / ``dup_gram_frac`` (duplicated-gram share).

    Scale shape: ONE scan of the text column — both gram sizes explode
    from the same materialized token array through a single generator
    (tagged structs), then two hash aggregates: (doc, tag, gram) with
    map-side combine, and the per-doc fold. No joins, no windows.
    Grams are xxhash64'd BEFORE the explode, so the first shuffle
    carries 8-byte longs instead of gram strings (within-doc 64-bit
    collisions are ~1e-15 for million-gram documents — far below any
    quality-filter tolerance).
    """
    from energy_pandas_spark.util import spread_partitions

    toks = spread_partitions(df.select(id_col, F.col(text_col))).select(
        id_col, tokens(text_col).alias("__toks")
    )

    def _tag(tag: str, n: int):
        return F.transform(
            word_shingles_of_tokens("__toks", n),
            lambda g: F.struct(
                F.lit(tag).alias("tag"), F.xxhash64(g).alias("gram")
            ),
        )

    tagged = toks.select(
        id_col,
        F.explode(F.concat(_tag("top", top_n), _tag("dup", dup_n))).alias("tg"),
    ).select(id_col, "tg.tag", "tg.gram")
    counts = tagged.groupBy(id_col, "tag", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    is_top = F.col("tag") == "top"
    is_dup = F.col("tag") == "dup"
    agg = counts.groupBy(id_col).agg(
        F.max(F.when(is_top, F.col("cnt"))).cast("long").alias("top_gram_count"),
        F.sum(F.when(is_top, F.col("cnt"))).cast("long").alias("n_top_grams"),
        F.coalesce(F.sum(F.when(is_dup & (F.col("cnt") > 1), F.col("cnt"))), F.lit(0))
        .cast("long")
        .alias("dup_gram_count"),
        F.sum(F.when(is_dup, F.col("cnt"))).cast("long").alias("n_dup_grams"),
    )
    return agg.withColumns(
        {
            "top_gram_frac": F.round(
                F.col("top_gram_count") / F.col("n_top_grams").cast("double"), 6
            ),
            "dup_gram_frac": F.round(
                F.col("dup_gram_count") / F.col("n_dup_grams").cast("double"), 6
            ),
            # engine-exact integer twins (round-at-tie class)
            "top_gram_micro": F.expr(
                "(top_gram_count * 1000000L) div greatest(n_top_grams, 1L)"
            ),
            "dup_gram_micro": F.expr(
                "(dup_gram_count * 1000000L) div greatest(n_dup_grams, 1L)"
            ),
        }
    )


_URL_RE = r"https?://[A-Za-z0-9._~:/?#@!$&*+,;=%\-]+"
_DOMAIN_RE = r"https?://([A-Za-z0-9.\-]+)"


def url_stats(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Per-document link statistics — the URL-density quality filter and
    domain extraction pass of a web-corpus pipeline.

    Adds ``n_urls``, ``n_domains`` (distinct), ``link_density`` (URL
    characters / total characters, rounded) and ``domains`` (sorted
    distinct domain list). Pure regex/array expressions (Java-regex and
    RE2-compatible syntax: no lookaround, no backreferences) — one
    codegen'd projection, zero shuffle.
    """
    t = F.col(text_col)
    urls = F.regexp_extract_all(t, F.lit(_URL_RE), 0)
    domains = F.array_sort(
        F.array_distinct(F.regexp_extract_all(t, F.lit(_DOMAIN_RE), 1))
    )
    url_chars = F.aggregate(
        urls, F.lit(0).cast("long"), lambda a, u: a + F.length(u)
    )
    n_chars = F.length(t)
    return df.withColumns(
        {
            "n_urls": F.size(urls).cast("long"),
            "n_domains": F.size(domains).cast("long"),
            "link_density": F.round(
                url_chars
                / F.when(n_chars == 0, 1).otherwise(n_chars).cast("double"),
                6,
            ),
            "__uc": url_chars,
            "__nc": n_chars.cast("long"),
            "domains": domains,
        }
    ).withColumn(
        # engine-exact integer twin (round-at-tie class)
        "link_density_micro",
        F.expr("(__uc * 1000000L) div greatest(__nc, 1L)"),
    ).drop("__uc", "__nc")


def ngram_counts(
    df: DataFrame,
    text_col: str = "text",
    n: int = 2,
    top: int = 100,
) -> DataFrame:
    """Corpus-wide token n-gram counts, top-``top`` by
    (count desc, ngram asc). Tokens materialize in their own projection
    so the split runs once per document; the shingle transform then
    only indexes the materialized array (O(len) per doc)."""
    from energy_pandas_spark.util import spread_partitions

    toks = spread_partitions(df.select(F.col(text_col))).select(
        tokens(text_col).alias("__toks")
    )
    grams = toks.select(
        F.explode(word_shingles_of_tokens("__toks", n)).alias("ngram")
    )
    counted = grams.groupBy("ngram").agg(F.count(F.lit(1)).alias("n"))
    return counted.orderBy(F.desc("n"), F.asc("ngram")).limit(top)


# ---------------------------------------------------------------------------
# hashed linear classifier (fastText-style scoring head)
# ---------------------------------------------------------------------------


def hashed_feature_weight(
    token: Column, salt: str = "clf-v1", resolution: int = 2049
) -> Column:
    """Deterministic per-token weight in [-1, 1] via the engine's md5
    bucket recipe (top-60-bit hex prefix -> long). Stands in for a
    trained hashed-feature weight table; a production model swaps this
    expression for a broadcast join against its weight vector keyed on
    the SAME bucket id, leaving the plan shape unchanged.

    ``resolution`` defaults to 2049 so weights are dyadic rationals
    (k/1024): every partial sum of document weights is then exactly
    representable in a double, making the fold order-independent —
    scores are bit-identical across engines AND across summation
    orders (partial aggregation, re-partitioning)."""
    half = (resolution - 1) // 2
    return hashed_feature_weight_q(token, salt, resolution) / F.lit(
        float(half)
    )


def hashed_feature_weight_q(
    token: Column, salt: str = "clf-v1", resolution: int = 2049
) -> Column:
    """The INTEGER numerator of :func:`hashed_feature_weight` (the
    weight is this over ``(resolution - 1) // 2``). Summing these
    longs instead of the dyadic doubles lets callers derive
    engine-portable integer quantizations (micro-scores) with no
    float rounding anywhere on the path."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), token)), 1, 15), 16, 10
    ).cast("long")
    half = (resolution - 1) // 2
    return (h % F.lit(resolution) - F.lit(half)).cast("long")


def classifier_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "clf-v1",
    bias: float = 0.0,
    threshold: float = 0.0,
) -> DataFrame:
    """fastText-style linear text classifier: mean of hashed
    bag-of-words feature weights plus a bias, thresholded to a binary
    label.

    Tokens explode to one codegen'd row stream (md5-bucket weight
    arithmetic inline), then ONE map-combined hash aggregate sums per
    document — the shuffle carries two numbers per doc. An
    ``aggregate``/``transform`` fold would be shuffle-free but runs in
    Spark's HOF interpreter (~10x slower in the hot path); because the
    weights are dyadic rationals every partial sum is exact, so the
    exploded aggregation order produces bit-identical scores to any
    sequential fold (and to the DuckDB oracle)."""
    resolution = 2049
    half = (resolution - 1) // 2
    w_q = hashed_feature_weight_q(F.col("__t"), salt, resolution)
    src = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("__t"))
    per_doc = src.groupBy(id_col).agg(
        F.sum(w_q).alias("__sq"),
        F.count(F.lit(1)).alias("__n"),
    )
    total = F.col("__sq") / F.lit(float(half))
    score = F.when(
        F.coalesce(F.col("__n"), F.lit(0)) == 0, F.lit(bias)
    ).otherwise(total / F.col("__n") + F.lit(bias))
    # Exact integer micro-score: (S * 1e6) div (half * n) (+ quantized
    # bias), pure BIGINT arithmetic — Spark `div` and DuckDB `//` both
    # truncate toward zero, so the value is engine-portable even where
    # round(score, 6) lands on an exact decimal half (the sf1 probe
    # caught Spark's HALF_UP vs DuckDB's ties-to-even disagreeing on
    # score -0.0628125; a dyadic S/(1024*n) can BE such a tie).
    bias_micro = int(round(bias * 1_000_000))
    micro = F.when(
        F.coalesce(F.col("__n"), F.lit(0)) == 0, F.lit(bias_micro)
    ).otherwise(
        F.expr(f"(__sq * 1000000L) div ({half}L * __n)") + F.lit(bias_micro)
    )
    return (
        df.join(per_doc, id_col, "left")
        .withColumn("score", F.round(score, 6))
        .withColumn("score_micro", micro.cast("long"))
        .withColumn("label_pred", (score > F.lit(threshold)).cast("int"))
        .drop("__sq", "__n")
    )


def hashed_doc_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = 4096,
    salt: str = "clf-v1",
    mode: str = "binary",
) -> DataFrame:
    """Hashing-trick features ``(id, bucket, x)``. Bucketing reuses the
    engine's md5 top-60-bit recipe so a trained weight table joins
    against the SAME bucket ids a codegen'd scorer computes.

    ``mode='binary'`` (default): ``x = 1`` per distinct (doc, bucket) —
    presence features, where a single discriminative token moves the
    margin by its full weight regardless of document length (the right
    default for keyword-ish quality signals). ``mode='mean'``:
    ``x = tf_bucket / n_tokens``, the mean-of-token convention
    :func:`classifier_score` scores with.

    One explode + one map-combined (doc, bucket) aggregate; the shuffle
    carries one row per distinct (doc, bucket), never raw tokens."""
    from energy_pandas_spark.util import spread_partitions

    src = spread_partitions(df.select(id_col, F.col(text_col)))
    toks = src.select(F.col(id_col), F.explode(tokens(text_col)).alias("__t"))
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), F.col("__t"))), 1, 15),
            16,
            10,
        ).cast("long")
        % n_features
    ).cast("int")
    per = toks.groupBy(F.col(id_col), bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("__tf")
    )
    if mode == "binary":
        return per.select(id_col, "bucket", F.lit(1.0).alias("x"))
    totals = per.groupBy(id_col).agg(F.sum("__tf").alias("__n"))
    return (
        per.join(totals, id_col)
        .select(
            id_col,
            "bucket",
            (F.col("__tf") / F.col("__n")).alias("x"),
        )
    )


def train_text_classifier(
    labeled: DataFrame,
    text_col: str = "text",
    label_col: str = "label",
    id_col: str = "doc_id",
    n_features: int = 4096,
    iters: int = 30,
    lr: float = 2.0,
    l2: float = 0.0,
    salt: str = "clf-v1",
    mode: str = "binary",
    trainer: str = "distributed",
    sample_docs: int = 20000,
):
    """Distributed logistic-regression trainer for a fastText-style
    quality filter, as PURE DataFrame plans — no pyspark.ml vector
    assembly (VectorUDT needs a per-row Python UDF), no driver-side
    data pass.

    Per iteration: margins come from one broadcast-join of the cached
    (doc, bucket, x) feature table against the current weights, the
    batch gradient comes back as one ``groupBy(bucket)`` aggregate
    (map-side combined — the classic Spark LR shape where only the
    d-dimensional gradient, never the data, reaches the driver), and
    the weight update happens on the driver in numpy. The intercept is
    folded in as a constant feature at ``bucket = n_features`` (one
    extra row per doc), so ONE aggregate yields the whole gradient.
    The feature table is computed ONCE and persisted; each iteration is
    one broadcast join + one shuffle of at most ``n_features + 1``
    rows.

    ``trainer='sample'`` instead collects the SPARSE feature triples of
    a bounded ``sample_docs`` subset (driver memory is O(tokens in the
    sample), like :func:`~energy_pandas_spark.operators.similarity.
    train_centroids`) and runs the same GD driver-side in numpy —
    hundreds of iterations in milliseconds, vs one Spark job per
    iteration. Same contract, same convergence; use it when the
    labeled set is bounded anyway (it usually is — labels are the
    scarce resource) and ``'distributed'`` when it is not.

    Returns ``(weights_df, bias)``: a ``(bucket int, weight double)``
    table (broadcastable; only nonzero rows) and the float intercept —
    exactly what :func:`score_with_weights` consumes."""
    import numpy as np
    from pyspark import StorageLevel

    spark = labeled.sparkSession
    if trainer == "sample":
        sub = labeled.select(
            id_col, text_col, F.col(label_col).cast("double").alias("__y")
        )
        # seeded sample, not a prefix limit: on a source-ordered labeled
        # set a bare limit would train on one source (same flaw as the
        # quantizer trainers' _bounded_sample fixes)
        n_lab = sub.count()
        if n_lab > sample_docs:
            sub = sub.sample(fraction=min(1.0, 3.0 * sample_docs / n_lab),
                             seed=42)
        sub = sub.limit(sample_docs)
        trips = (
            hashed_doc_features(sub, text_col, id_col, n_features, salt, mode)
            .join(sub.select(id_col, "__y"), id_col)
            .collect()
        )
        ids = {}
        for r in trips:
            ids.setdefault(r[0], len(ids))
        ylab = {}
        for r in trips:
            ylab[ids[r[0]]] = r["__y"]
        # docs with zero tokens produce no triple; they still train the
        # intercept, so collect their labels too
        extra = {
            r[0]: r[1]
            for r in sub.select(id_col, "__y").collect()
            if r[0] not in ids
        }
        for d, yy in extra.items():
            ids[d] = len(ids)
            ylab[ids[d]] = yy
        n = len(ids)
        if n == 0:
            return (
                spark.createDataFrame([], "bucket int, weight double"),
                0.0,
            )
        rows = np.array([ids[r[0]] for r in trips], dtype=np.int64)
        cols = np.array([r["bucket"] for r in trips], dtype=np.int64)
        vals = np.array([r["x"] for r in trips], dtype=np.float64)
        y = np.array([ylab[i] for i in range(n)], dtype=np.float64)
        w = np.zeros(n_features)
        b = 0.0
        for _ in range(iters):
            margins = np.full(n, b)
            np.add.at(margins, rows, w[cols] * vals)
            r_ = 1.0 / (1.0 + np.exp(-margins)) - y
            g = np.zeros(n_features)
            np.add.at(g, cols, r_[rows] * vals)
            g /= n
            if l2:
                g += l2 * w
            w -= lr * g
            b -= lr * (r_.sum() / n)
        weights_df = spark.createDataFrame(
            [(int(i), float(v)) for i, v in enumerate(w) if v != 0.0] or
            [(0, 0.0)],
            "bucket int, weight double",
        )
        return weights_df, float(b)
    base = hashed_doc_features(
        labeled, text_col, id_col, n_features, salt, mode
    )
    # constant bias feature: bucket = n_features, x = 1 (docs with no
    # tokens still get it, so empty docs train the intercept too)
    bias_rows = labeled.select(
        F.col(id_col),
        F.lit(int(n_features)).cast("int").alias("bucket"),
        F.lit(1.0).alias("x"),
    )
    feats = base.unionByName(bias_rows).join(
        labeled.select(id_col, F.col(label_col).cast("double").alias("__y")),
        id_col,
    )
    with owned_caches() as own:
        feats = own(feats, StorageLevel.MEMORY_AND_DISK_DESER)
        n_docs = labeled.select(id_col).distinct().count()
        if n_docs == 0:
            return (
                spark.createDataFrame([], "bucket int, weight double"),
                0.0,
            )
        w = np.zeros(n_features + 1)
        for _ in range(iters):
            wdf = spark.createDataFrame(
                [(int(i), float(v)) for i, v in enumerate(w) if v != 0.0] or
                [(0, 0.0)],
                "bucket int, weight double",
            )
            margins = (
                feats.join(F.broadcast(wdf), "bucket", "left")
                .groupBy(id_col)
                .agg(
                    F.sum(
                        F.col("x") * F.coalesce(F.col("weight"), F.lit(0.0))
                    ).alias("__m"),
                    F.first("__y").alias("__y"),
                )
                .select(
                    id_col,
                    (
                        F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("__m")))
                        - F.col("__y")
                    ).alias("__r"),
                )
            )
            grad_rows = (
                feats.join(margins, id_col)
                .groupBy("bucket")
                .agg(F.sum(F.col("x") * F.col("__r")).alias("g"))
                .collect()
            )
            g = np.zeros(n_features + 1)
            for r in grad_rows:
                g[r["bucket"]] = r["g"] / n_docs
            if l2:
                g[:-1] += l2 * w[:-1]  # don't regularize the intercept
            w -= lr * g
    weights_df = spark.createDataFrame(
        [(int(i), float(v)) for i, v in enumerate(w[:-1]) if v != 0.0] or
        [(0, 0.0)],
        "bucket int, weight double",
    )
    return weights_df, float(w[-1])


def score_with_weights(
    df: DataFrame,
    weights: DataFrame,
    bias: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = 4096,
    salt: str = "clf-v1",
    threshold: float = 0.5,
    mode: str = "binary",
) -> DataFrame:
    """Score a corpus with a TRAINED weight table: the inference twin of
    :func:`classifier_score` (same md5-bucket expression), with the
    synthetic weight expression replaced by a broadcast join against
    ``weights``. ``mode`` must match the trainer's: ``binary`` sums the
    weights of DISTINCT present buckets; ``mean`` averages per-token
    weights. Everything is codegen: explode → broadcast-join → one
    map-combined per-doc sum. Emits sigmoid probability ``score`` and
    thresholded ``label_pred``."""
    src = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("__t"))
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), F.col("__t"))), 1, 15),
            16,
            10,
        ).cast("long")
        % n_features
    ).cast("int")
    keyed = src.select(F.col(id_col), bucket.alias("bucket"))
    if mode == "binary":
        keyed = keyed.distinct()
    joined = keyed.join(F.broadcast(weights), "bucket", "left")
    per_doc = joined.groupBy(id_col).agg(
        F.sum(F.coalesce("weight", F.lit(0.0))).alias("__total"),
        F.count(F.lit(1)).alias("__n"),
    )
    if mode == "binary":
        margin = F.when(
            F.coalesce(F.col("__n"), F.lit(0)) == 0, F.lit(bias)
        ).otherwise(F.col("__total") + F.lit(bias))
    else:
        margin = F.when(
            F.coalesce(F.col("__n"), F.lit(0)) == 0, F.lit(bias)
        ).otherwise(F.col("__total") / F.col("__n") + F.lit(bias))
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
    return (
        df.join(per_doc, id_col, "left")
        .withColumn("score", F.round(prob, 6))
        .withColumn("label_pred", (prob > F.lit(threshold)).cast("int"))
        .drop("__total", "__n")
    )


# ---------------------------------------------------------------------------
# bigram language-model scoring (train counts on a reference corpus,
# score candidate documents by smoothed likelihood)
# ---------------------------------------------------------------------------


def _doc_bigrams(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    toks_df = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    m = F.size("__toks")
    pairs = F.when(
        m >= 2,
        F.zip_with(
            F.slice("__toks", 1, m - 1),
            F.slice("__toks", 2, m - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array())
    return toks_df.select(
        F.col(id_col), F.explode(pairs).alias("__bg")
    ).select(id_col, F.col("__bg.w1").alias("w1"), F.col("__bg.w2").alias("w2"))


def bigram_lm_train(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Bigram counts (w1, w2, c12) from a reference corpus — one
    map-combined hash aggregate over the exploded bigram stream."""
    return (
        _doc_bigrams(df, text_col, id_col)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )


def bigram_lm_score(
    df: DataFrame,
    lm: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize_lm: bool = True,
) -> DataFrame:
    """Per-document add-one-smoothed bigram likelihood against a
    trained count table: ``p(w2|w1) = (c12 + 1) / (c1 + V)`` where
    ``c1 = sum_w2 c12`` and ``V`` is the left-context vocabulary size.
    Output: (id, n_bigrams, avg_p) — the scores quality filters and
    domain-mixers threshold on.

    Scale shape: the count tables derive from ``lm`` with two hash
    aggregates; the candidate bigram stream joins them keyed on the
    bigram / left token (deliberately NOT broadcast — a 100 TB corpus
    LM table is huge; AQE picks broadcast when it is not). Integer
    counts + exactly-rounded division keep the per-bigram p identical
    across engines.

    Cache ownership: ``lm`` is persisted here (three consumers) and
    the lazy result pins it — the CALLER owns release after
    materializing (same contract as the Kneser-Ney scorers)."""
    # lm feeds three consumers (the pair join, c1, V); persist so the
    # training corpus is tokenized once, not three times — and, by
    # default, materialize NOW so the three consumer subtrees of the
    # final job read stored blocks instead of contending on cold-block
    # computation (measured 1.48s -> 1.18s on the direct scorer).
    # Callers that cache a DERIVED frame and materialize it promptly
    # (perplexity_buckets' scored-corpus cache populates lm's in the
    # same chain) pass materialize_lm=False — for them the extra
    # count job is pure added work (measured 2.6s -> 3.0s).
    lm = track_cache(lm.persist())
    if materialize_lm:
        lm.count()
    c1 = lm.groupBy("w1").agg(F.sum("c12").alias("c1"))
    v = lm.select(F.countDistinct("w1").alias("v"))
    bg = _doc_bigrams(df, text_col, id_col)
    scored = (
        bg.join(lm, ["w1", "w2"], "left")
        .join(c1, "w1", "left")
        .crossJoin(F.broadcast(v))
        .select(
            F.col(id_col),
            (
                (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(1)).cast("double")
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v")).cast("double")
            ).alias("__p"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("__p"), 6).alias("avg_p"),
    )
    # docs with < 2 tokens have no bigrams: score them explicitly
    ids = df.select(F.col(id_col))
    return (
        ids.join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("avg_p", F.lit(0.0)).alias("avg_p"),
        )
    )


def kneser_ney_score(
    df: DataFrame,
    lm: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: tuple[int, int] = (3, 4),
    quant: int = 1 << 20,
) -> DataFrame:
    """Per-document interpolated Kneser-Ney bigram log-likelihood
    against a :func:`bigram_lm_train` count table — the standard
    smoothed LM (Kneser & Ney 1995; Chen & Goodman 1998 interpolated
    form) rather than add-one:

        P(w2|w1) = max(c12 - d, 0) / c1
                   + (d * N1+(w1,.) / c1) * (N1+(., w2) / B)

    with absolute discount ``d = discount[0]/discount[1]`` (default
    the textbook 0.75 as the exact rational 3/4), continuation counts
    N1+ = distinct-neighbor counts, and B = distinct bigrams. All
    counts are integers; P evaluates as ONE fixed-shape IEEE
    expression (exactly-rounded +,*,/ — no big-integer rationals, so
    nothing overflows at corpus scale), and the per-position log is
    quantized to 1/``quant`` nats (BIGINT, order-free document sums;
    the 1-ulp libm ln caveat the BM25/DSIR scorers document applies
    at quantization boundaries).

    A position is OOV — counted, never scored — when its context w1
    was never seen in training, or when both c12 = 0 and w2 has no
    continuation mass (P would be 0). Output: ``(id, n_bigrams,
    n_oov, logprob_q)`` with zero rows for sub-2-token docs.

    Scale shape: the three model tables (bigram, per-w1, per-w2) all
    derive from ``lm`` (persisted — three consumers, one tokenize) and
    are vocab-sized; the candidate bigram stream hash-joins them on
    the bigram / w1 / w2 keys (NOT broadcast — a corpus LM table is
    huge; AQE picks broadcast when it is not); B is a broadcast 1-row
    aggregate. One final per-doc aggregate."""
    dn, dd = discount
    if not (0 < dn < dd):
        raise ValueError(f"discount must satisfy 0 < num < den, got {discount}")
    lm = track_cache(lm.persist())
    # materialize the LM cache up front: ctx/cont/btot compile as
    # concurrent broadcast subjobs that otherwise RACE the cold cache
    # and re-run the training tokenize per subtree (the
    # bigram_lm_score / langid finding, r7 — measured there
    # best-of-5 1.48s -> 1.18s; no warm-chain caller exists for the
    # KN scorers, so the count is never redundant)
    lm.count()
    ctx = lm.groupBy("w1").agg(
        F.sum("c12").alias("__c1"), F.count(F.lit(1)).alias("__n1p")
    )
    cont = lm.groupBy("w2").agg(F.count(F.lit(1)).alias("__ncont"))
    btot = lm.agg(F.count(F.lit(1)).alias("__b"))
    bg = _doc_bigrams(df, text_col, id_col)
    c12 = F.coalesce(F.col("c12"), F.lit(0))
    ncont = F.coalesce(F.col("__ncont"), F.lit(0))
    oov = F.col("__c1").isNull() | ((c12 == 0) & (ncont == 0))
    p = (
        F.greatest(F.lit(dd) * c12 - F.lit(dn), F.lit(0)).cast("double")
        / (F.lit(dd) * F.col("__c1")).cast("double")
        + (
            (F.lit(dn) * F.col("__n1p")).cast("double")
            / (F.lit(dd) * F.col("__c1")).cast("double")
        )
        * (ncont.cast("double") / F.col("__b").cast("double"))
    )
    lp_q = F.round(F.log(p) * F.lit(float(quant))).cast("long")
    scored = (
        bg.join(lm, ["w1", "w2"], "left")
        .join(ctx, "w1", "left")
        .join(cont, "w2", "left")
        .crossJoin(F.broadcast(btot))
        .select(
            F.col(id_col),
            oov.cast("int").alias("__oov"),
            F.when(oov, F.lit(0).cast("long")).otherwise(lp_q).alias("__lpq"),
        )
    )
    per = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("__oov").cast("long").alias("n_oov"),
        F.sum("__lpq").alias("logprob_q"),
    )
    ids = df.select(F.col(id_col))
    return ids.join(per, id_col, "left").select(
        id_col,
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce("n_oov", F.lit(0)).cast("long").alias("n_oov"),
        F.coalesce("logprob_q", F.lit(0)).cast("long").alias("logprob_q"),
    )


def _doc_trigrams(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    toks_df = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    m = F.size("__toks")
    triples = F.when(
        m >= 3,
        F.zip_with(
            F.slice("__toks", 1, m - 2),
            F.zip_with(
                F.slice("__toks", 2, m - 2),
                F.slice("__toks", 3, m - 2),
                lambda b, c: F.struct(b.alias("w2"), c.alias("w3")),
            ),
            lambda a, bc: F.struct(
                a.alias("w1"),
                bc.getField("w2").alias("w2"),
                bc.getField("w3").alias("w3"),
            ),
        ),
    ).otherwise(F.array())
    return toks_df.select(
        F.col(id_col), F.explode(triples).alias("__tg")
    ).select(
        id_col,
        F.col("__tg.w1").alias("w1"),
        F.col("__tg.w2").alias("w2"),
        F.col("__tg.w3").alias("w3"),
    )


def trigram_lm_train(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Trigram counts (w1, w2, w3, c123) from a reference corpus — one
    map-combined hash aggregate over the exploded trigram stream. The
    single input every :func:`kneser_ney_trigram_score` table derives
    from."""
    return (
        _doc_trigrams(df, text_col, id_col)
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("c123"))
    )


def kneser_ney_trigram_score(
    df: DataFrame,
    lm: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: tuple[int, int] = (3, 4),
    quant: int = 1 << 20,
) -> DataFrame:
    """Per-document interpolated Kneser-Ney TRIGRAM log-likelihood —
    the KenLM-order-3 depth of :func:`kneser_ney_score` (Chen &
    Goodman 1998, interpolated form), everything derived from ONE
    :func:`trigram_lm_train` count table:

        P(w3|w1w2) = max(c123 - d, 0) / c12*
                     + (d * N1+(w1w2,.) / c12*) * Pc(w3|w2)
        Pc(w3|w2)  = max(N1+(.w2w3) - d, 0) / N1+(.w2.)
                     + (d * N1+(w2,.) / N1+(.w2.)) * Pc(w3)
        Pc(w3)     = N1+(.w3) / N1+(..)

    with absolute discount ``d = discount[0]/discount[1]`` (textbook
    3/4 as an exact rational) and all N1+ continuation counts taken
    over the trigram table's distinct rows (so the lowest-order model
    deliberately sees only bigrams that appear INSIDE a trigram — the
    standard derived-counts formulation; document-final bigrams do
    not contribute). An unseen trigram context backs off with
    lambda = 1 to the continuation bigram, an unseen w2 context to
    the continuation unigram; the probability is zero — OOV, counted
    and never scored — exactly when w3 has NO continuation mass
    (N1+(.w3) = 0).

    Counts are integers; P evaluates as one fixed-shape IEEE CASE
    cascade; per-position logs quantize to 1/``quant`` nats (BIGINT
    order-free sums, the 1-ulp libm ln caveat at quantization
    boundaries). Output: (id, n_trigrams, n_oov, logprob_q), zero
    rows for sub-3-token docs.

    Scale shape: the five model tables (trigram, trigram-context,
    bigram-continuation, w2-context, unigram-continuation) all derive
    from ``lm`` (persisted — one tokenize) and are vocab-sized; the
    candidate trigram stream hash-joins them (NOT broadcast — corpus
    LM tables are huge; AQE downgrades when small); the total is a
    broadcast 1-row aggregate; one final per-doc aggregate.

    Cache ownership: ``lm`` and the internal continuation table are
    persisted (multi-consumer, vocab-sized) and the LAZY result pins
    them — the caller owns release after materializing (e.g.
    ``spark.catalog.clearCache()`` or re-calling with an unpersisted
    lm) in long-lived sessions that score many corpora."""
    dn, dd = discount
    if not (0 < dn < dd):
        raise ValueError(f"discount must satisfy 0 < num < den, got {discount}")
    lm = track_cache(lm.persist())
    # up-front materialization, same rationale as kneser_ney_score:
    # four consumers race the cold cache via concurrent broadcast
    # subjobs otherwise
    lm.count()
    ctx3 = lm.groupBy("w1", "w2").agg(
        F.sum("c123").alias("__c12"), F.count(F.lit(1)).alias("__n3t")
    )
    # bigram continuation table: N1+(.w2w3) = distinct w1 preceding
    # the bigram = rows of the trigram table per (w2, w3). Feeds three
    # consumers (probe join, w2-context, unigram-continuation).
    nc23 = (
        lm.groupBy("w2", "w3")
        .agg(F.count(F.lit(1)).alias("__nc23"))
        .persist()
    )
    track_cache(nc23)
    ctx2 = nc23.groupBy("w2").agg(
        F.sum("__nc23").alias("__den2"), F.count(F.lit(1)).alias("__n2t")
    )
    cont1 = nc23.groupBy("w3").agg(F.count(F.lit(1)).alias("__nc3"))
    btot = nc23.agg(F.count(F.lit(1)).alias("__b"))

    tg = _doc_trigrams(df, text_col, id_col)
    c123 = F.coalesce(F.col("c123"), F.lit(0))
    nc23v = F.coalesce(F.col("__nc23"), F.lit(0))
    ncont = F.coalesce(F.col("__nc3"), F.lit(0))
    oov = ncont == 0
    p1 = ncont.cast("double") / F.col("__b").cast("double")
    p2 = F.when(
        F.col("__den2").isNotNull(),
        F.greatest(F.lit(dd) * nc23v - F.lit(dn), F.lit(0)).cast("double")
        / (F.lit(dd) * F.col("__den2")).cast("double")
        + (
            (F.lit(dn) * F.col("__n2t")).cast("double")
            / (F.lit(dd) * F.col("__den2")).cast("double")
        )
        * p1,
    ).otherwise(p1)
    p3 = F.when(
        F.col("__c12").isNotNull(),
        F.greatest(F.lit(dd) * c123 - F.lit(dn), F.lit(0)).cast("double")
        / (F.lit(dd) * F.col("__c12")).cast("double")
        + (
            (F.lit(dn) * F.col("__n3t")).cast("double")
            / (F.lit(dd) * F.col("__c12")).cast("double")
        )
        * p2,
    ).otherwise(p2)
    lp_q = F.round(F.log(p3) * F.lit(float(quant))).cast("long")
    scored = (
        tg.join(lm, ["w1", "w2", "w3"], "left")
        .join(ctx3, ["w1", "w2"], "left")
        .join(nc23, ["w2", "w3"], "left")
        .join(ctx2, "w2", "left")
        .join(cont1, "w3", "left")
        .crossJoin(F.broadcast(btot))
        .select(
            F.col(id_col),
            oov.cast("int").alias("__oov"),
            F.when(oov, F.lit(0).cast("long")).otherwise(lp_q).alias("__lpq"),
        )
    )
    per = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        F.sum("__oov").cast("long").alias("n_oov"),
        F.sum("__lpq").alias("logprob_q"),
    )
    ids = df.select(F.col(id_col))
    return ids.join(per, id_col, "left").select(
        id_col,
        F.coalesce("n_trigrams", F.lit(0)).cast("long").alias("n_trigrams"),
        F.coalesce("n_oov", F.lit(0)).cast("long").alias("n_oov"),
        F.coalesce("logprob_q", F.lit(0)).cast("long").alias("logprob_q"),
    )


def span_corrupt(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    start_permille: int = 60,
    span: int = 3,
    seed: str = "span-v1",
) -> DataFrame:
    """Deterministic T5-style span corruption — the denoising-objective
    pair generator: ``(id, input_text, target_text, n_tokens,
    n_masked)`` where masked spans become ``<extra_id_k>`` sentinels in
    the input and the target lists each sentinel followed by the
    tokens it hides (the T5 span-corruption layout, Raffel et al.
    2020).

    Determinism replaces RNG state: position ``i`` of document ``d``
    OPENS a span iff the md5 bucket of ``seed:d:i`` falls under
    ``start_permille``; spans run a FIXED ``span`` tokens (the paper's
    geometric lengths need sequential sampling — fixed length + merged
    overlaps is the closed-form variant) and overlapping spans merge
    into one sentinel. Expected mask fraction ~= start_permille/1000 *
    span. Same corpus + seed -> bit-identical pairs on any engine;
    epoch-varied corruption = vary ``seed``.

    Shape: one posexplode + per-document windows (coverage is a
    ``span``-wide lookback max, run ids a running sum — document-sized
    partitions, never corpus-wide) + one group re-assembly; a single
    shuffle on the doc id."""
    if not 0 <= start_permille <= 1000:
        raise ValueError(f"start_permille must be in [0, 1000], got {start_permille}")
    if span <= 0:
        raise ValueError(f"span must be positive, got {span}")
    from pyspark.sql import Window

    from energy_pandas_spark.operators.sampling import hash_bucket

    toks_df = df.select(F.col(id_col), tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("__toks"))
    ex = toks_df.select(
        F.col(id_col), F.posexplode("__toks").alias("__i0", "__tok")
    ).withColumn("__i", F.col("__i0") + 1)
    start = (
        hash_bucket(
            F.concat(
                F.lit(seed + ":"),
                F.col(id_col).cast("string"),
                F.lit(":"),
                F.col("__i").cast("string"),
            ),
            1000,
        )
        < start_permille
    )
    w_seq = Window.partitionBy(id_col).orderBy("__i")
    w_cov = w_seq.rowsBetween(-(span - 1), 0)
    w_run = w_seq.rowsBetween(Window.unboundedPreceding, 0)
    marked = ex.withColumn("__start", start.cast("int")).withColumn(
        "__covered", F.max("__start").over(w_cov) == 1
    )
    marked = marked.withColumn(
        "__run_start",
        F.col("__covered")
        & ~F.coalesce(F.lag("__covered").over(w_seq), F.lit(False)),
    ).withColumn(
        "__run_id", F.sum(F.col("__run_start").cast("int")).over(w_run)
    )
    sentinel = F.concat(
        F.lit("<extra_id_"), (F.col("__run_id") - 1).cast("string"), F.lit(">")
    )
    inp_piece = (
        F.when(~F.col("__covered"), F.array(F.col("__tok")))
        .when(F.col("__run_start"), F.array(sentinel))
        .otherwise(F.array().cast("array<string>"))
    )
    tgt_piece = (
        F.when(F.col("__run_start"), F.array(sentinel, F.col("__tok")))
        .when(F.col("__covered"), F.array(F.col("__tok")))
        .otherwise(F.array().cast("array<string>"))
    )
    pieces = marked.select(
        F.col(id_col),
        F.struct(
            F.col("__i").alias("i"),
            inp_piece.alias("inp"),
            tgt_piece.alias("tgt"),
            F.col("__covered").cast("int").alias("cov"),
        ).alias("__p"),
    )
    per = pieces.groupBy(id_col).agg(
        F.array_sort(F.collect_list("__p")).alias("__ps")
    )
    joined = per.select(
        F.col(id_col),
        F.array_join(
            F.flatten(F.transform("__ps", lambda p: p.inp)), " "
        ).alias("input_text"),
        F.array_join(
            F.flatten(F.transform("__ps", lambda p: p.tgt)), " "
        ).alias("target_text"),
        F.size("__ps").cast("long").alias("n_tokens"),
        F.aggregate(
            "__ps", F.lit(0).cast("long"), lambda acc, p: acc + p.cov
        ).alias("n_masked"),
    )
    ids = df.select(F.col(id_col))
    return ids.join(joined, id_col, "left").select(
        id_col,
        F.coalesce("input_text", F.lit("")).alias("input_text"),
        F.coalesce("target_text", F.lit("")).alias("target_text"),
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("n_masked", F.lit(0)).cast("long").alias("n_masked"),
    )


# ---------------------------------------------------------------------------
# sub-document span dedup (duplicated k-token span fraction)
# ---------------------------------------------------------------------------


def span_dup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Per-document duplicated-span statistics: the fraction of k-token
    span positions whose span also appears in ANOTHER document — the
    sub-document dedup signal (duplicated paragraph/window share) that
    corpus pipelines threshold on, complementing doc-level dedup
    (within-doc repetition is ``repetition_stats``' job).

    Plan: tokens materialize once per doc; spans hash to longs at the
    scan (md5-prefix here for the cross-engine oracle; xxhash64 is the
    cheaper drop-in at scale) so no span STRING is ever shuffled. One
    shuffle on the span hash builds the distinct-doc count; the
    join back to span occurrences reuses that same hash partitioning;
    the per-doc re-aggregation is the only other exchange. Docs
    shorter than ``k`` tokens contribute no spans and score 0.0.

    Caches the hashed span occurrences (ids + longs, two consumers);
    the return is lazy, so the CALLER owns cache release — materialize
    the result, then ``spark.catalog.clearCache()`` (or ignore it:
    MEMORY_AND_DISK blocks evict under pressure).
    """
    from energy_pandas_spark.util import spread_partitions

    toks = spread_partitions(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), tokens(text_col).alias("__toks")
    )
    m = F.size("__toks")
    spans = F.when(
        m >= k,
        F.transform(
            F.sequence(F.lit(1), m - F.lit(k - 1)),
            lambda i: F.conv(
                F.substring(
                    F.md5(F.array_join(F.slice("__toks", i, k), " ")), 1, 15
                ),
                16,
                10,
            ).cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))
    # the hashed span stream feeds BOTH the distinct-doc count and the
    # occurrence join; ReuseExchange does not catch the two consumers,
    # so persist it (ids + longs only — a fraction of the text size;
    # spills to disk rather than re-tokenizing the corpus twice)
    occ = track_cache(
        toks.select(F.col(id_col), F.explode(spans).alias("__h")).persist()
    )
    ndocs = occ.groupBy("__h").agg(
        F.countDistinct(id_col).alias("__n_docs")
    )
    per = (
        occ.join(ndocs, "__h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("__n_docs") >= 2).cast("long")).alias("n_dup_spans"),
        )
    )
    ids = df.select(F.col(id_col))
    n_spans = F.coalesce("n_spans", F.lit(0))
    n_dup = F.coalesce("n_dup_spans", F.lit(0))
    return ids.join(per, id_col, "left").select(
        id_col,
        n_spans.alias("n_spans"),
        n_dup.alias("n_dup_spans"),
        F.round(
            F.when(n_spans == 0, F.lit(0.0)).otherwise(
                n_dup.cast("double") / n_spans.cast("double")
            ),
            6,
        ).alias("dup_frac"),
        # engine-exact integer twin (round-at-tie class, SURVEY r5
        # addendum)
        F.expr(
            "CASE WHEN coalesce(n_spans, 0) = 0 THEN 0L "
            "ELSE (coalesce(n_dup_spans, 0L) * 1000000L) div n_spans END"
        ).alias("dup_frac_micro"),
    )


def span_dedup_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    max_dup_frac: float = 0.5,
) -> DataFrame:
    """Drop documents whose duplicated-span fraction exceeds
    ``max_dup_frac`` — the keep side of sub-document dedup. Ships only
    (id, counters) through the stats joins; the text column rejoins at
    the end by id."""
    stats = span_dup_stats(df, text_col, id_col, k)
    keep = stats.filter(F.col("dup_frac") <= max_dup_frac).select(F.col(id_col))
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# vocabulary-indexed document encoding (token ids for training prep)
# ---------------------------------------------------------------------------


def vocab_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 1000,
    first_id: int = 1,
) -> DataFrame:
    """Token -> integer id table: the ``size`` most document-frequent
    terms, ids assigned by rank on the integer-exact key (doc_freq
    desc, term asc) so the SAME vocabulary falls out on any engine or
    rerun. Id 0 is reserved for OOV (``first_id`` defaults to 1)."""
    vocab = vocabulary(df, text_col, id_col, top=size)
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("doc_freq"), F.asc("term"))
    # the window is unpartitioned but runs over the ALREADY-REDUCED
    # top-`size` term table (bounded rows), not the corpus
    return vocab.select(
        "term",
        (F.row_number().over(w) + F.lit(first_id - 1)).alias("token_id"),
        "doc_freq",
    )


def encode_docs(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    oov_id: int = 0,
) -> DataFrame:
    """Encode each document's token stream as an ``array<int>`` of
    vocabulary ids (OOV -> ``oov_id``), preserving token order — the
    step that feeds sequence packing.

    Plan: posexplode the token array, join the (broadcast-small)
    vocabulary on the term, re-assemble with ``array_agg`` sorted by
    position (struct sort — per-doc, never a global sort). The join is
    a broadcast for any real vocabulary size; the only shuffle is the
    per-doc re-aggregation."""
    toks = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    pos = toks.select(
        F.col(id_col), F.posexplode_outer("__toks").alias("__pos", "term")
    )
    joined = pos.join(F.broadcast(vocab.select("term", "token_id")), "term", "left")
    encoded = (
        joined.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("__pos").alias("p"),
                        F.coalesce("token_id", F.lit(oov_id)).alias("t"),
                    )
                )
            ).alias("__pt")
        )
        .select(
            F.col(id_col),
            F.transform(
                F.filter("__pt", lambda s: s.getField("p").isNotNull()),
                lambda s: s.getField("t"),
            ).alias("token_ids"),
        )
    )
    # empty docs: posexplode_outer emits one null-position row, which
    # the position filter drops, leaving an empty array
    return df.join(encoded, id_col, "left").withColumn(
        "token_ids", F.coalesce("token_ids", F.array().cast("array<int>"))
    )


# ---------------------------------------------------------------------------
# corpus-level line dedup (the C4 "remove repeated lines" hygiene step)
# ---------------------------------------------------------------------------


def _line_rows(df: DataFrame, text_col: str, id_col: str, sep: str) -> DataFrame:
    """(id, idx, line, key) rows: one per line, key = normalized form
    (NULL for blank lines, which never participate in dedup)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col("line")), r"\s+", " "))
    return (
        df.select(
            F.col(id_col),
            F.posexplode(
                F.split(F.coalesce(F.col(text_col), F.lit("")), sep_pattern(sep))
            ).alias("idx", "line"),
        )
        .withColumn("key", F.when(norm != "", norm))
    )


def line_dup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """One-row corpus audit of cross-document line repetition: total
    lines, distinct normalized non-blank lines, lines that occur 2+
    times, and the fraction of line OCCURRENCES that are repeats
    (occurrences beyond each line's first).

    Plan: explode to (key) and ONE map-combined hash aggregate on the
    line digest — blank lines are counted but excluded from dup math.
    The shuffle carries only (digest, partial count); no text or ids
    move after the hash is computed at the scan."""
    lines = _line_rows(df, text_col, id_col, sep)
    per_key = (
        lines.filter(F.col("key").isNotNull())
        .groupBy(F.xxhash64(F.lit("line-v1"), F.col("key")).alias("h"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    blanks = lines.filter(F.col("key").isNull()).count()
    return per_key.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_lines"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_lines"),
        F.coalesce(F.sum(F.when(F.col("c") >= 2, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_dup_lines"),
        F.round(
            F.coalesce(F.sum(F.col("c") - 1), F.lit(0))
            / F.greatest(F.coalesce(F.sum("c"), F.lit(0)), F.lit(1)).cast("double"),
            6,
        ).alias("dup_occurrence_frac"),
        # engine-exact integer twin (round-at-tie class)
        F.expr(
            "(coalesce(sum(c - 1), 0L) * 1000000L)"
            " div greatest(coalesce(sum(c), 0L), 1L)"
        ).alias("dup_occurrence_micro"),
    ).withColumn("n_blank_lines", F.lit(blanks).cast("long"))


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    drop_empty: bool = False,
    persist_lines: bool = True,
    min_count: int = 2,
) -> DataFrame:
    """Cross-document exact line dedup, C4-style: every normalized
    non-blank line that occurs ``min_count``+ times anywhere in the
    corpus keeps ONLY its first occurrence (smallest ``(id, idx)``);
    later repeats are dropped (raise ``min_count`` to scrub only
    heavily-boilerplate lines, C4 used 3 for some variants) and each document's text is rebuilt from its surviving
    lines (blank lines always survive — they are structure, not
    content). ``drop_empty=True`` additionally drops documents whose
    rebuilt text is empty.

    Scale shape: 3 shuffles, none carrying more than it must —
    (1) winner-per-line is a map-combined hash aggregate keyed on the
    line DIGEST (xxhash64), shipping (digest, linearized position)
    longs only; (2) the digest-keyed equi-join brings winners back to
    the line rows (corpus-sized both sides — a broadcast is impossible
    for a corpus-scale winner set, so this is the canonical shuffle
    join); (3) per-document re-assembly groups by id with a struct
    ``array_sort`` (per-doc sort, never global). The winner is the
    lexicographic ``(id, idx)`` struct minimum — safe for full-range
    64-bit content-addressed ids.

    The exploded line rows feed BOTH the winner aggregate and the join
    probe, and the IsNotNull pushdown makes the two subtrees unequal —
    Spark will NOT reuse the exchange and would re-scan + re-explode
    the whole corpus (the exchange-reuse trap). ``persist_lines=True``
    (default) persists them spill-safe instead, one corpus-sized
    working set on disk; pass ``False`` to trade the storage for a
    second scan. Winner selection deliberately stays an aggregate +
    equi-join rather than a ``Window.partitionBy(h)``: the aggregate
    gets map-side combine and AQE skew-join splitting, so a boilerplate
    line repeated a billion times costs one combined row per map task —
    a window partition would pile every copy into one task."""
    lines = _line_rows(df, text_col, id_col, sep).withColumn(
        "pos",
        F.struct(
            F.col(id_col).cast("long").alias("i"), F.col("idx").alias("x")
        ),
    )
    keyed = lines.withColumn(
        "h", F.xxhash64(F.lit("line-v1"), F.col("key"))
    )
    if persist_lines:
        from pyspark import StorageLevel

        keyed = track_cache(keyed.persist(StorageLevel.MEMORY_AND_DISK_DESER))
    # winner = lexicographic struct min — NOT an `id * max_idx + idx`
    # linearization, which overflows for full-range 64-bit ids (the
    # content-addressed xxhash64 ids the corpus readers emit)
    winners = (
        keyed.filter(F.col("key").isNotNull())
        .groupBy("h")
        .agg(F.min("pos").alias("win"), F.count(F.lit(1)).alias("c"))
    )
    kept = (
        keyed.join(winners, "h", "left")
        .filter(
            F.col("key").isNull()  # blank lines always kept
            | (F.col("c") < F.lit(min_count))
            | (F.col("pos") == F.col("win"))
        )
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("idx").alias("i"), F.col("line").alias("l")))
            ).alias("__il")
        )
        .select(
            F.col(id_col),
            F.array_join(F.transform("__il", lambda s: s.getField("l")), sep).alias(
                "__text_out"
            ),
            F.size("__il").cast("long").alias("n_lines_kept"),
        )
    )
    out = (
        df.drop("n_lines_kept")
        .join(kept, id_col, "left")
        .withColumn(text_col, F.coalesce("__text_out", F.lit("")))
        .withColumn("n_lines_kept", F.coalesce("n_lines_kept", F.lit(0)))
        .drop("__text_out")
    )
    if drop_empty:
        out = out.filter(F.trim(F.col(text_col)) != "")
    return out


def _char_gram_rows(
    df: DataFrame, text_col: str, n: int, keep: list[Column]
) -> DataFrame:
    """(keep..., gram) rows: distinct-per-position char n-grams of the
    normalized text (short docs emit nothing — a sub-n text has no
    n-gram evidence)."""
    from energy_pandas_spark.functions.textfns import (
        char_shingles_of_text,
        normalized_text,
    )

    norm = df.select(*keep, normalized_text(text_col).alias("__norm"))
    grams = F.filter(
        char_shingles_of_text("__norm", n), lambda g: F.length(g) == n
    )
    # reference keep columns by their OUTPUT names: re-applying the
    # expressions would break any aliasing keep column (e.g.
    # F.col("language").alias("lang") — the input name is gone here)
    kept = norm.columns[:-1]
    return norm.select(*kept, F.explode(grams).alias("gram"))


def train_langid_profiles(
    df: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
    top: int = 200,
    n: int = 3,
) -> DataFrame:
    """Cavnar-Trenkle language profiles (N-Gram-Based Text
    Categorization, 1994): per language, the ``top`` most frequent
    character ``n``-grams of the normalized text, ranked 1..top by
    (count desc, gram asc — the deterministic tiebreak). Returns
    (lang, gram, rank), ``langs x top`` rows — broadcast-sized by
    construction at any corpus scale.

    Shape: one explode + map-combined (lang, gram) count, then the
    bounded two-stage top-k per language (a local row_number per
    partition first — the hottest language never becomes one unbounded
    window task)."""
    if top < 1 or n < 1:
        raise ValueError("top and n must be >= 1")
    counts = (
        _char_gram_rows(df, text_col, n, [F.col(lang_col).alias("lang")])
        .groupBy("lang", "gram")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    return _rank_profiles(counts, top)


def _rank_profiles(counts: DataFrame, top: int) -> DataFrame:
    """(lang, gram, __c) counts -> (lang, gram, rank<=top) via the
    bounded two-stage top-k (local per-partition row_number pre-prune,
    then the per-language ranking over at most partitions*top rows —
    the hottest language never becomes one unbounded window task)."""
    local = (
        counts.withColumn("__pid", F.spark_partition_id())
        .withColumn(
            "__lr",
            F.row_number().over(
                Window.partitionBy("lang", "__pid").orderBy(
                    F.desc("__c"), F.asc("gram")
                )
            ),
        )
        .filter(F.col("__lr") <= top)
    )
    return (
        local.withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("lang").orderBy(
                    F.desc("__c"), F.asc("gram")
                )
            ),
        )
        .filter(F.col("rank") <= top)
        .select("lang", "gram", F.col("rank").cast("int").alias("rank"))
    )


def langid_ngram(
    df: DataFrame,
    profiles: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "lang_pred",
    top: int = 200,
    n: int = 3,
) -> DataFrame:
    """Char-n-gram language ID by Cavnar-Trenkle out-of-place distance
    — the classical upgrade over stopword voting (:func:`language_id`)
    for short or stopword-poor text: build each document's own ranked
    top-``top`` n-gram profile, then score each candidate language by
    ``sum |doc_rank - lang_rank|`` with a ``top`` penalty for grams
    absent from the language profile; argmin wins (ties break on lang
    asc). Documents shorter than ``n`` chars predict ``'und'``.
    Output adds ``out_col`` and ``lang_dist`` (the winning distance,
    NULL for ``'und'``); ``top``/``n`` must match the training call
    (validated against the profile table's max rank).
    Integer-exact end to end (rank arithmetic only), so the driver
    query carries a full DuckDB oracle.

    Shape: one explode + map-combined (doc, gram) count, the bounded
    two-stage per-document top-k, ONE broadcast join against the
    ``langs x top``-row profile table (left join: misses keep the
    penalty), a (doc, lang) distance aggregate, and a min_by argmin —
    no per-language scan, no Python."""
    if top < 1 or n < 1:
        raise ValueError("top and n must be >= 1")
    # the out-of-place distance only means anything when the document
    # profile depth and miss penalty equal the TRAINED profile depth —
    # a mismatch silently skews every distance. The profile table is
    # broadcast-sized, so the 1-row check is cheap.
    prof_top = profiles.agg(F.max("rank")).collect()[0][0]
    if prof_top is not None and prof_top > top:
        raise ValueError(
            f"profiles were trained with top >= {prof_top} but scoring "
            f"uses top={top}; pass the training value"
        )
    if prof_top is not None and prof_top < top:
        # Cannot raise: a language with fewer than `top` distinct grams
        # legitimately yields max rank < top. But a profile TRAINED
        # with a smaller top scores with a skewed miss penalty, so
        # surface the asymmetry instead of passing silently.
        import warnings

        warnings.warn(
            f"profile table max rank {prof_top} < scoring top={top}: "
            "either the corpus has few grams (fine) or the profiles "
            "were trained with a smaller top (skews the miss penalty)",
            stacklevel=2,
        )
    counts = (
        _char_gram_rows(df, text_col, n, [F.col(id_col)])
        .groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    # a SINGLE per-doc window: unlike the per-LANGUAGE ranking in
    # train_langid_profiles (corpus-sized partitions -> two-stage), a
    # document's gram partition is bounded by the document's own
    # length, so the local pre-prune would only add a second full
    # window pass over the (doc, gram) table
    doc_prof = (
        counts.withColumn(
            "__dr",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy(
                    F.desc("__c"), F.asc("gram")
                )
            ),
        )
        .filter(F.col("__dr") <= top)
        .select(id_col, "gram", "__dr")
    )
    best = _ct_best(doc_prof, profiles, id_col, top)
    # lang_dist (the winning out-of-place distance, NULL for 'und') is
    # overwritten if present — re-classification must not duplicate it
    return (
        df.drop("lang_dist")
        .join(best, id_col, "left")
        .withColumn(out_col, F.coalesce("__pred", F.lit("und")))
        .drop("__pred")
        .withColumnRenamed("__best_dist", "lang_dist")
    )


def _ct_best(
    doc_prof: DataFrame, profiles: DataFrame, id_col: str, top: int
) -> DataFrame:
    """Out-of-place argmin: (id, gram, __dr) ranked doc profiles x the
    broadcast (lang, gram, rank) profile table -> (id, __pred,
    __best_dist).  Inner join: only in-profile grams accumulate rank
    displacement; misses cost ``top`` each via the per-doc gram total
    ((__ng - __nhits) * top), not a join."""
    dist = (
        doc_prof.join(F.broadcast(profiles), "gram")
        .select(
            id_col,
            "lang",
            F.abs(F.col("__dr") - F.col("rank")).cast("long").alias("__d"),
            F.lit(1).alias("__hit"),
        )
        .groupBy(id_col, "lang")
        .agg(
            F.sum("__d").alias("__dsum"), F.sum("__hit").alias("__nhits")
        )
    )
    totals = doc_prof.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__ng")
    )
    scored = dist.join(totals, id_col).select(
        id_col,
        "lang",
        (
            F.col("__dsum")
            + (F.col("__ng") - F.col("__nhits")) * F.lit(int(top))
        ).alias("__dist"),
    )
    return scored.groupBy(id_col).agg(
        F.min_by("lang", F.struct("__dist", "lang")).alias("__pred"),
        F.min("__dist").alias("__best_dist"),
    )


def langid_ngram_selftrain(
    df: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "lang_pred",
    top: int = 200,
    n: int = 3,
    eager: bool = True,
) -> DataFrame:
    """Train Cavnar-Trenkle profiles on the corpus's own labels AND
    classify the same corpus in ONE tokenization pass (the separate
    :func:`train_langid_profiles` + :func:`langid_ngram` composition
    explodes the full char-gram stream twice — at corpus scale that is
    2x the dominant cost).  The per-(doc, lang, gram) counts are
    materialized once (persist); the LANGUAGE counts are those doc
    counts re-aggregated (sum over docs == the direct per-language
    count), and the per-document ranking reads the same cache.

    Returns (id_col, lang_col, out_col, lang_dist) — join back to the
    corpus on ``id_col`` for the full-row variant.  ``eager=True``
    (default) materializes the n_docs-row result via localCheckpoint
    and releases the cache; ``eager=False`` returns lazily with the
    internal persist attached (``util.release_caches(out)``) and
    handed to the enclosing ``util.owned_caches`` block."""
    if top < 1 or n < 1:
        raise ValueError("top and n must be >= 1")
    with owned_caches() as own:
        doc_counts = own(
            _char_gram_rows(
                df, text_col, n, [F.col(id_col), F.col(lang_col).alias("lang")]
            )
            .groupBy(id_col, "lang", "gram")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        doc_counts.count()
        lang_counts = doc_counts.groupBy("lang", "gram").agg(
            F.sum("__c").alias("__c")
        )
        profiles = _rank_profiles(lang_counts, top)
        doc_prof = (
            doc_counts.withColumn(
                "__dr",
                F.row_number().over(
                    Window.partitionBy(id_col).orderBy(
                        F.desc("__c"), F.asc("gram")
                    )
                ),
            )
            .filter(F.col("__dr") <= top)
            .select(id_col, "gram", "__dr")
        )
        best = _ct_best(doc_prof, profiles, id_col, top)
        labels = df.select(id_col, lang_col)
        out = (
            labels.join(best, id_col, "left")
            .withColumn(out_col, F.coalesce("__pred", F.lit("und")))
            .drop("__pred")
            .withColumnRenamed("__best_dist", "lang_dist")
            .select(id_col, lang_col, out_col, "lang_dist")
        )
        return own.result(out, eager)


def template_lines(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    sep: str = "\n",
    min_doc_permille: int = 500,
    min_docs: int = 2,
) -> DataFrame:
    """Per-group template lines — the per-SITE boilerplate table
    (CCNet/trafilatura's site-template trick): a normalized line that
    appears in at least ``min_doc_permille`` per mille of a group's
    documents (and in at least ``min_docs`` of them — the absolute
    floor that keeps two-page domains from templating everything) is
    that group's navigation/footer/copyright template, not content.
    Group by registrable domain (:func:`~energy_pandas_spark.operators.
    urls.url_domain`) for crawl corpora; any partition key works.

    This is DISTINCT from corpus-level :func:`line_dedup`: a site
    template repeated on every page of ONE domain may still be
    corpus-rare, and cross-domain dedup must not eat legitimate quotes
    — the per-group document-fraction test is the right scope.

    Returns (group, line, n_docs_with_line, n_docs_group,
    doc_permille). Shape: per-document distinct normalized lines
    materialize IN-ARRAY before the explode (map-side — a line
    repeated inside one doc counts that doc once without any
    distinct shuffle), one map-combined (group, line) aggregate, and a
    group-keyed equi-join against the |groups|-sized doc-count table
    (too big to broadcast at web scale)."""
    from energy_pandas_spark.functions.textfns import normalized_distinct_lines

    if not 0 <= min_doc_permille <= 1000:
        raise ValueError("min_doc_permille must be in [0, 1000]")
    if min_docs < 1:
        raise ValueError("min_docs must be >= 1")
    lines = df.select(
        F.col(group_col),
        F.explode(normalized_distinct_lines(text_col, sep)).alias("line"),
    )
    counts = lines.groupBy(group_col, "line").agg(
        F.count(F.lit(1)).alias("n_docs_with_line")
    )
    gtot = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs_group"))
    return (
        counts.join(gtot, group_col)
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


def strip_templates(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_doc_permille: int = 500,
    min_docs: int = 2,
    drop_empty: bool = False,
    templates: DataFrame | None = None,
) -> DataFrame:
    """Strip each group's template lines (:func:`template_lines`) from
    every document in the group and rebuild the text — the per-site
    boilerplate scrub that runs after main-content extraction and
    before fingerprinting.

    Scale shape: the corpus text is scanned ONCE into (group, id, idx,
    line, digest) rows persisted spill-safe (three consumers — the
    per-doc distinct, the anti-join probe, and the rebuild — behind
    joins, so ReuseExchange won't fire: the repo's exchange-reuse
    rule); template detection dedups (group, id, digest) LONGS and
    aggregates (group, digest) — no text in either shuffle; the strip
    is one (group, digest) anti-join; re-assembly is the line_dedup
    per-doc ``array_sort`` (never a global sort). The |groups|-sized
    doc-count table comes from a second column-pruned scan of
    ``group_col`` alone. Blank lines are structure and always survive;
    a fully-templated document rebuilds to ``''`` (``drop_empty=True``
    drops it).

    ``templates`` switches to the INCREMENTAL posture: a precomputed
    (group, line) table — :func:`template_lines` output or the merged
    streaming template store — whose normalized lines are stripped
    as-is, skipping in-batch detection entirely (new pages of a known
    site scrub against history; detection cost amortizes across
    batches, and a single fresh batch can't out-vote the corpus)."""
    from pyspark import StorageLevel

    if not 0 <= min_doc_permille <= 1000:
        raise ValueError("min_doc_permille must be in [0, 1000]")
    if min_docs < 1:
        raise ValueError("min_docs must be >= 1")
    norm = F.trim(F.regexp_replace(F.lower(F.col("line")), r"\s+", " "))
    rows = df.select(
        F.col(group_col),
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), sep_pattern(sep))
        ).alias("idx", "line"),
    ).withColumn(
        "h",
        F.when(norm != "", F.xxhash64(F.lit("tmpl-v1"), norm)),
    )
    if templates is None:
        # self-detection: rows feed detection AND the strip — persist
        rows = track_cache(rows.persist(StorageLevel.MEMORY_AND_DISK_DESER))
        per_doc = rows.filter(F.col("h").isNotNull()).dropDuplicates(
            [group_col, id_col, "h"]
        )
        counts = per_doc.groupBy(group_col, "h").agg(
            F.count(F.lit(1)).alias("n")
        )
        gtot = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("gn"))
        templates = (
            counts.join(gtot, group_col)
            .filter(
                (F.col("n") * 1000
                 >= F.lit(int(min_doc_permille)) * F.col("gn"))
                & (F.col("n") >= int(min_docs))
            )
            .select(group_col, "h")
        )
    else:
        # `norm` is the same (line -> key) normalization used above —
        # one definition, so the incremental scrub can't drift
        templates = templates.select(
            F.col(group_col),
            F.when(norm != "", F.xxhash64(F.lit("tmpl-v1"), norm)).alias("h"),
        ).filter(F.col("h").isNotNull())
    kept = (
        rows.join(templates, [group_col, "h"], "left_anti")
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("idx").alias("i"), F.col("line").alias("l"))
                )
            ).alias("__il")
        )
        .select(
            F.col(id_col),
            F.array_join(
                F.transform("__il", lambda s: s.getField("l")), sep
            ).alias("__text_out"),
            F.size("__il").cast("long").alias("n_lines_kept"),
        )
    )
    out = (
        df.drop("n_lines_kept")
        .join(kept, id_col, "left")
        .withColumn(text_col, F.coalesce("__text_out", F.lit("")))
        .withColumn("n_lines_kept", F.coalesce("n_lines_kept", F.lit(0)))
        .drop("__text_out")
    )
    if drop_empty:
        out = out.filter(F.trim(F.col(text_col)) != "")
    return out


# ---------------------------------------------------------------------------
# DSIR-style importance reweighting (data selection via importance
# resampling over hashed n-gram features — Xie et al. 2023, public)
# ---------------------------------------------------------------------------


def _dsir_bucket(t: Column, salt: str, n_buckets: int) -> Column:
    """Hashed-unigram feature bucket: the engine's md5 top-60-bit
    recipe (same as hashed_doc_features), modulo ``n_buckets``."""
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(salt), t)), 1, 15), 16, 10).cast(
            "long"
        )
        % F.lit(n_buckets)
    ).cast("int")


def _dsir_feature_rows(
    df: DataFrame, text_col: str, ngram_max: int, extra_cols: list[str]
) -> DataFrame:
    """One row per hashed feature occurrence: unigrams, plus adjacent
    "w1 w2" bigram strings when ``ngram_max >= 2`` (the DSIR paper's
    feature space). The token array materializes into a REAL column
    before the bigram lambdas reference it — inlining ``tokens()``
    would re-run the split per bigram element (the materialize-once
    rule word_shingles_of_tokens documents). Uses explode_outer so
    empty docs keep a NULL-feature row (dsir_score's left-join
    contract)."""
    base = df.select(
        *extra_cols, tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("__toks")
    )
    toks = F.col("__toks")
    if ngram_max < 2:
        feats = toks
    else:
        m = F.size(toks)
        bigrams = F.when(
            m >= 2,
            F.transform(
                F.sequence(F.lit(1), m - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(toks, i), F.element_at(toks, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        feats = F.concat(toks, bigrams)
    return base.select(*extra_cols, F.explode_outer(feats).alias("__t"))


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    n_buckets: int = 4096,
    salt: str = "dsir-v1",
    scale: int = 1024,
    ngram_max: int = 1,
) -> DataFrame:
    """Per-bucket integer importance weights for DSIR data selection:
    ``iw = round(scale * (ln((t_b+1)/(T+B)) - ln((r_b+1)/(R+B))))`` —
    the Laplace-smoothed log-likelihood ratio of the target-domain vs
    raw hashed-unigram models, quantized to BIGINT units of
    ``1/scale`` nats.

    Quantizing makes every downstream document score an exact integer
    sum: order-free across partial aggregation, bit-identical across
    engines and reruns (the same dyadic trick classifier_score uses,
    pushed all the way to integers). Honest caveat: the quantization
    itself computes ``ln`` in each engine — two correctly-rounded libm
    implementations can disagree by 1 ulp, which flips a weight only
    when ``scale*w`` sits within that ulp of a .5 rounding boundary
    (~2^-40 per bucket; negligible at 4096 buckets, but a mismatch
    would localize to exactly one bucket's weight).

    Plan: each corpus contributes ONE map-combined hash aggregate over
    its exploded token stream (shuffle carries ``n_buckets`` partial
    counts); the weight table itself is ``n_buckets`` rows — broadcast
    material for any real configuration. Buckets unseen in either
    corpus still get a (smoothed) weight via the dense bucket range."""
    spark = raw.sparkSession

    def counts(df: DataFrame, name: str) -> DataFrame:
        toks = _dsir_feature_rows(df, text_col, ngram_max, []).filter(
            F.col("__t").isNotNull()
        )
        return (
            toks.groupBy(_dsir_bucket(F.col("__t"), salt, n_buckets).alias("bucket"))
            .agg(F.count(F.lit(1)).alias(name))
        )
    t_counts = counts(target, "tc")
    r_counts = counts(raw, "rc")
    buckets = spark.range(n_buckets).select(F.col("id").cast("int").alias("bucket"))
    joined = (
        buckets.join(t_counts, "bucket", "left")
        .join(r_counts, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("tc", F.lit(0)).alias("tc"),
            F.coalesce("rc", F.lit(0)).alias("rc"),
        )
    )
    totals = joined.agg(
        F.sum("tc").alias("T"), F.sum("rc").alias("R")
    )
    return (
        joined.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.round(
                F.lit(scale)
                * (
                    F.log((F.col("tc") + 1) / (F.col("T") + F.lit(n_buckets)))
                    - F.log((F.col("rc") + 1) / (F.col("R") + F.lit(n_buckets)))
                )
            )
            .cast("long")
            .alias("iw"),
            "tc",
            "rc",
        )
    )


def dsir_score(
    df: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    salt: str = "dsir-v1",
    scale: int = 1024,
    ngram_max: int = 1,
) -> DataFrame:
    """Per-document DSIR importance: ``importance_q`` = exact BIGINT sum
    of quantized bucket weights over the document's token occurrences
    (the un-normalized log-likelihood ratio, in 1/``scale`` nats), plus
    the float per-token mean ``score``. ``salt``/``n_buckets``/``scale``
    must match the :func:`dsir_weights` call that built ``weights``.

    Plan: explode tokens with the bucket computed inline (codegen),
    broadcast-join the ``n_buckets``-row weight table, ONE map-combined
    groupBy(id) — the classifier_score shape: the shuffle carries two
    longs per document."""
    src = _dsir_feature_rows(df, text_col, ngram_max, [id_col]).select(
        F.col(id_col),
        F.when(
            F.col("__t").isNotNull(), _dsir_bucket(F.col("__t"), salt, n_buckets)
        ).alias("bucket"),
    )
    per_doc = (
        src.join(F.broadcast(weights.select("bucket", "iw")), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.coalesce(F.sum("iw"), F.lit(0)).cast("long").alias("importance_q"),
            F.count(F.col("bucket")).cast("long").alias("n_tokens"),
        )
    )
    return df.join(per_doc, id_col, "left").withColumn(
        "score",
        F.round(
            F.col("importance_q")
            / (F.lit(scale) * F.greatest(F.col("n_tokens"), F.lit(1))).cast("double"),
            6,
        ),
    )


def dsir_select(
    df: DataFrame,
    weights: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    salt: str = "dsir-v1",
    scale: int = 1024,
    ngram_max: int = 1,
) -> DataFrame:
    """Deterministic DSIR selection: the ``k`` documents with the
    highest quantized importance (ties broken by ascending id) — the
    greedy-selection variant of importance resampling, rerun-stable by
    construction. The global top-k is a TakeOrderedAndProject (per-
    partition heaps, never a full sort)."""
    scored = dsir_score(
        df, weights, text_col, id_col, n_buckets, salt, scale, ngram_max
    )
    return scored.orderBy(F.desc("importance_q"), F.asc(id_col)).limit(k)


# ---------------------------------------------------------------------------
# Gopher-style quality rules (Rae et al. 2021 §A1.1, public) — the
# rule-based document filter pack, one map-only projection
# ---------------------------------------------------------------------------

GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    required_stopwords: tuple[str, ...] = GOPHER_STOPWORDS,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """Per-document Gopher rule outcomes: word-count bounds, mean word
    length bounds, symbol-to-word ratio (``#`` and ellipsis), bullet /
    ellipsis line fractions, fraction of words containing a letter,
    and the required-stopword hit count — plus the conjunction
    ``passes_gopher``.

    Every signal is an integer count computed with array expressions
    in ONE map-only codegen'd projection (no explode, no shuffle, no
    Python); ratio rules compare a count against ``threshold * count``
    — both engines evaluate the identical IEEE expression, so rule
    booleans are engine-portable despite float thresholds."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    toks = tokens(t)
    out = df.withColumn("__tk", toks)
    n_words = F.size("__tk")
    word_chars = F.aggregate(
        "__tk", F.lit(0).cast("long"), lambda a, w: a + F.length(w)
    )
    hash_chars = F.length(t) - F.length(F.regexp_replace(t, r"#", ""))
    ellipsis3 = (
        F.length(t) - F.length(F.regexp_replace(t, r"\.\.\.", ""))
    ) / F.lit(3)
    ellipsis_uni = F.length(t) - F.length(F.regexp_replace(t, "…", ""))
    symbols = (hash_chars + ellipsis3 + ellipsis_uni).cast("long")
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    bullet_lines = F.size(
        F.filter(
            lines,
            lambda l: F.ltrim(l).rlike(r"^[-*•]"),
        )
    )
    ellipsis_lines = F.size(
        F.filter(
            lines,
            lambda l: F.rtrim(l).rlike(r"(\.\.\.|…)$"),
        )
    )
    alpha_words = F.size(F.filter("__tk", lambda w: w.rlike(r"\p{L}")))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct("__tk"),
            F.array(*[F.lit(w) for w in required_stopwords]),
        )
    )
    mean_wl = F.when(n_words == 0, 0.0).otherwise(
        word_chars / n_words.cast("double")
    )
    rules = {
        "r_word_count": (n_words >= F.lit(min_words))
        & (n_words <= F.lit(max_words)),
        "r_mean_word_len": (word_chars >= F.lit(min_mean_word_len) * n_words)
        & (word_chars <= F.lit(max_mean_word_len) * n_words)
        & (n_words > 0),
        "r_symbol_ratio": symbols
        <= F.lit(max_symbol_word_ratio) * n_words,
        "r_bullet_lines": bullet_lines <= F.lit(max_bullet_frac) * n_lines,
        "r_ellipsis_lines": ellipsis_lines
        <= F.lit(max_ellipsis_frac) * n_lines,
        "r_alpha_words": (alpha_words >= F.lit(min_alpha_word_frac) * n_words)
        & (n_words > 0),
        "r_stopwords": stop_hits >= F.lit(min_stopword_hits),
    }
    out = out.withColumns(
        {
            "n_words": n_words.cast("long"),
            "mean_word_len": F.round(mean_wl, 6),
            "__wc": word_chars.cast("long"),
            "n_symbol_chars": symbols,
            "n_bullet_lines": bullet_lines.cast("long"),
            "n_ellipsis_lines": ellipsis_lines.cast("long"),
            "n_alpha_words": alpha_words.cast("long"),
            "n_stopword_hits": stop_hits.cast("long"),
            **rules,
        }
    )
    # engine-exact integer twin of mean_word_len: word_chars/n_words is
    # an integer ratio, so round(,6) can land on an exact decimal half
    # where Spark's HALF_UP and DuckDB's ties-to-even disagree (the
    # classifier sf1 precedent); `div` truncates toward zero
    # identically on both engines
    out = out.withColumn(
        "mean_word_len_micro",
        F.expr(
            "CASE WHEN n_words > 0 THEN (__wc * 1000000L) div n_words "
            "ELSE 0L END"
        ),
    ).drop("__wc")
    passes = None
    for name in rules:
        c = F.col(name)
        passes = c if passes is None else (passes & c)
    return out.withColumn("passes_gopher", passes).drop("__tk")


def gopher_filter(
    df: DataFrame,
    text_col: str = "text",
    **thresholds,
) -> DataFrame:
    """Keep only documents passing every Gopher rule; same input
    column set out (the rule columns are projected away). Map-only —
    the filter composes into any downstream scan."""
    scored = gopher_rules(df, text_col, **thresholds)
    return scored.filter(F.col("passes_gopher")).select(*df.columns)


def dsir_resample(
    df: DataFrame,
    weights: DataFrame,
    k: int,
    temperature: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    salt: str = "dsir-v1",
    noise_salt: str = "dsir-g1",
    scale: int = 1024,
    ngram_max: int = 1,
) -> DataFrame:
    """DSIR importance RESAMPLING (the paper's sampling semantics, vs
    :func:`dsir_select`'s greedy argmax): draw ``k`` documents without
    replacement with probability ∝ ``exp(importance / temperature)``
    via the Gumbel-top-k trick — ``key = score/τ + Gumbel(0,1)``, take
    the k largest keys.

    The Gumbel noise is DETERMINISTIC: ``u = (md5_bucket(id) + 0.5) /
    2^20`` and ``g = -ln(-ln(u))`` — a pure function of the document
    id, so the draw is rerun-stable, engine-portable, and needs no RNG
    state. The ranking key quantizes to BIGINT 1/``scale`` units
    (``round(importance_q/τ + scale·g)``), so selection is an integer
    total order with an id tiebreak — no float-boundary membership
    flips. Map-only on top of dsir_score's plan; the global top-k is a
    TakeOrderedAndProject."""
    if not temperature > 0:
        raise ValueError(f"temperature must be > 0, got {temperature!r}")
    scored = dsir_score(
        df, weights, text_col, id_col, n_buckets, salt, scale, ngram_max
    )
    denom = 1 << 20
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(noise_salt), F.col(id_col).cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % F.lit(denom)
        + F.lit(0.5)
    ) / F.lit(float(denom))
    g = -F.log(-F.log(u))
    key_q = F.round(
        F.col("importance_q") / F.lit(float(temperature)) + F.lit(scale) * g
    ).cast("long")
    return (
        scored.withColumn("gumbel_key_q", key_q)
        .orderBy(F.desc("gumbel_key_q"), F.asc(id_col))
        .limit(k)
    )


def line_dedup_in_doc(
    df: DataFrame,
    text_col: str = "text",
    sep: str = "\n",
    drop_empty: bool = False,
) -> DataFrame:
    """WITHIN-document line dedup: each document keeps only the first
    occurrence of every normalized non-blank line it contains (blank
    lines always survive); other documents are unaffected — the
    page-local boilerplate scrub, vs :func:`line_dedup`'s corpus-wide
    contract.

    Document scope needs no cross-document state, so this is ONE
    map-only projection: zero shuffles, zero joins — the first-
    occurrence test is ``array_position(norms, norm) == index`` over a
    materialized per-row norm array (O(lines²) comparisons within one
    row, fine for any real document). Composes into any scan."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    norm = lambda l: F.trim(F.regexp_replace(F.lower(l), r"\s+", " "))  # noqa: E731
    tmp = df.withColumn("__lines", F.split(t, sep_pattern(sep))).withColumn(
        "__norms", F.transform("__lines", norm)
    )
    kept = F.filter(
        "__lines",
        lambda l, i: (F.get("__norms", i) == "")
        | (F.array_position("__norms", F.get("__norms", i)) == i + F.lit(1)),
    )
    out = (
        tmp.withColumn("__kept", kept)
        .withColumn(text_col, F.array_join("__kept", sep))
        .withColumn("n_lines_kept", F.size("__kept").cast("long"))
        .drop("__lines", "__norms", "__kept")
    )
    if drop_empty:
        out = out.filter(F.trim(F.col(text_col)) != "")
    return out


def line_dedup_incremental(
    new_docs: DataFrame,
    store: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    store_digest_col: str = "h",
    sep: str = "\n",
    drop_empty: bool = False,
    persist_lines: bool = True,
    store_bloom=None,
    bloom_k: int = 4,
) -> DataFrame:
    """Incremental cross-corpus LINE dedup, the batch twin of
    ``streaming/line_ingest.py``: drop every line whose digest appears
    in the historical ``store`` (a frame with the accepted-line digest
    column), then keep-first among this batch's own repeats; documents
    rebuild from survivors. Returns the deduped batch — append
    ``line_digests`` of the output to the store afterwards.

    Scale shape matches :func:`line_dedup` plus ONE left_anti join
    against the store, which ships only its digest longs.
    ``store_bloom`` (functions.bloom.build_bloom_distributed over the
    store digests) short-circuits definite-new winner digests around
    the anti-join map-side — no false negatives, result-identical."""
    lines = _line_rows(new_docs, text_col, id_col, sep).withColumn(
        "pos",
        F.struct(
            F.col(id_col).cast("long").alias("i"), F.col("idx").alias("x")
        ),
    )
    keyed = lines.withColumn("h", F.xxhash64(F.lit("line-v1"), F.col("key")))
    if persist_lines:
        from pyspark import StorageLevel

        keyed = track_cache(keyed.persist(StorageLevel.MEMORY_AND_DISK_DESER))
    winners = (
        keyed.filter(F.col("key").isNotNull())
        .groupBy("h")
        .agg(F.min("pos").alias("win"))
    )
    store_digests = store.select(F.col(store_digest_col).alias("h")).distinct()
    if store_bloom is not None:
        from energy_pandas_spark.functions.bloom import bloom_flag

        flagged = bloom_flag(winners, "h", store_bloom, bloom_k)
        winners = flagged.filter(~F.col("__maybe")).drop("__maybe").unionByName(
            flagged.filter(F.col("__maybe"))
            .drop("__maybe")
            .join(store_digests, "h", "left_anti")
        )
    else:
        winners = winners.join(store_digests, "h", "left_anti")
    kept = (
        keyed.join(winners, "h", "left")
        .filter(F.col("key").isNull() | (F.col("pos") == F.col("win")))
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("idx").alias("i"), F.col("line").alias("l"))
                )
            ).alias("__il")
        )
        .select(
            F.col(id_col),
            F.array_join(F.transform("__il", lambda s: s.getField("l")), sep).alias(
                "__text_out"
            ),
            F.size("__il").cast("long").alias("n_lines_kept"),
        )
    )
    out = (
        new_docs.drop("n_lines_kept")
        .join(kept, id_col, "left")
        .withColumn(text_col, F.coalesce("__text_out", F.lit("")))
        .withColumn("n_lines_kept", F.coalesce("n_lines_kept", F.lit(0)))
        .drop("__text_out")
    )
    if drop_empty:
        out = out.filter(F.trim(F.col(text_col)) != "")
    return out


def line_digests(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", sep: str = "\n"
) -> DataFrame:
    """Distinct digests of the non-blank normalized lines — what an
    incremental pipeline appends to its line store after accepting a
    deduped batch."""
    return (
        _line_rows(df, text_col, id_col, sep)
        .filter(F.col("key").isNotNull())
        .select(F.xxhash64(F.lit("line-v1"), F.col("key")).alias("h"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# blocklist filtering (the C4 "bad words" gate) and HTML text extraction
# ---------------------------------------------------------------------------


def blocklist_stats(
    df: DataFrame,
    terms: "Sequence[str]",
    text_col: str = "text",
) -> DataFrame:
    """Per-document blocklist exposure: ``n_blocklist_hits`` (token
    OCCURRENCES matching the list), ``n_blocklist_terms`` (distinct
    list terms present) and ``blocklist_frac`` (hits / tokens). The
    C4-style safety/badwords signal.

    Map-only codegen projection: the (lowercased) list rides as an
    array literal inside the plan, so per-token membership is an
    in-expression scan — right for the few-hundred-term curated lists
    this gate uses. A list big enough to warrant a broadcast join
    belongs in :func:`contamination_overlap` instead."""
    lit_terms = F.lit(sorted({t.lower() for t in terms}))
    toks = tokens(F.coalesce(F.col(text_col), F.lit("")))
    hits = F.filter(toks, lambda t: F.array_contains(lit_terms, t))
    return df.withColumns(
        {
            "n_blocklist_hits": F.size(hits).cast("long"),
            "n_blocklist_terms": F.size(
                F.array_intersect(F.array_distinct(toks), lit_terms)
            ).cast("long"),
            "blocklist_frac": F.round(
                F.size(hits)
                / F.greatest(F.size(toks), F.lit(1)).cast("double"),
                6,
            ),
            "__bl_ntoks": F.size(toks).cast("long"),
        }
    ).withColumn(
        # engine-exact integer twin (round-at-tie class)
        "blocklist_micro",
        F.expr(
            "(n_blocklist_hits * 1000000L) div greatest(__bl_ntoks, 1L)"
        ),
    ).drop("__bl_ntoks")


def blocklist_filter(
    df: DataFrame,
    terms: "Sequence[str]",
    text_col: str = "text",
    max_hits: int = 0,
) -> DataFrame:
    """Drop documents with more than ``max_hits`` blocklisted token
    occurrences. ``max_hits=0`` is the C4 rule: any occurrence of any
    list term removes the page. Same map-only projection as
    :func:`blocklist_stats`; the helper columns do not survive."""
    gated = blocklist_stats(df, terms, text_col).filter(
        F.col("n_blocklist_hits") <= max_hits
    )
    return gated.drop("n_blocklist_hits", "n_blocklist_terms", "blocklist_frac")


def html_to_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
) -> DataFrame:
    """Lightweight HTML -> text extraction as ONE chain of codegen'd
    regex/literal replacements — the WET-style text pass of a web
    corpus, tag-soup tolerant, no DOM, no Python workers:

    1. ``<script>``/``<style>`` elements and HTML comments vanish
       wholesale (dotall, non-greedy, case-insensitive);
    2. block-level closers/openers (p, div, li, tr, br, headings,
       blockquote, section, article) become newlines so paragraph
       structure survives;
    3. every remaining tag becomes a space;
    4. the common entities decode (``&lt; &gt; &quot; &#39; &nbsp;``
       first, ``&amp;`` LAST so ``&amp;lt;`` yields the literal
       ``&lt;`` rather than double-decoding);
    5. horizontal whitespace collapses to single spaces, blank-ish
       line runs collapse to one newline, and the result is trimmed.

    The pattern set is shared Java-regex / RE2 syntax (no lookaround,
    no backreferences) so a SQL oracle can replay it verbatim."""
    out = out_col or text_col
    t = F.coalesce(F.col(text_col), F.lit(""))
    t = F.regexp_replace(t, r"(?is)<script\b.*?</script\s*>", " ")
    t = F.regexp_replace(t, r"(?is)<style\b.*?</style\s*>", " ")
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    t = F.regexp_replace(
        t,
        r"(?i)</?(p|div|br|li|ul|ol|tr|td|th|table|h[1-6]|blockquote|section|article|header|footer)\b[^>]*>",
        "\n",
    )
    t = F.regexp_replace(t, r"(?s)<[^>]*>", " ")
    for ent, ch in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&nbsp;", " "),
        ("&amp;", "&"),
    ):
        t = F.replace(t, F.lit(ent), F.lit(ch))
    t = F.regexp_replace(t, r"[ \t\r]+", " ")
    t = F.regexp_replace(t, r" ?\n[ \n]*", "\n")
    t = F.trim(t)
    return df.withColumn(out, t)


def perplexity_buckets(
    df: DataFrame,
    lm: DataFrame,
    by: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    cuts: tuple[int, int] = (333, 666),
) -> DataFrame:
    """CCNet-style head/middle/tail corpus bucketing: score every
    document against a reference bigram LM, then split each ``by``
    group at the ``cuts`` per-mille likelihood quantiles — ``head`` =
    most target-like third, ``tail`` = least. The standard
    web-corpus triage (Wenzek et al., CCNet) that decides what gets
    kept, kept-with-caution, or dropped/relabeled.

    Exactness: ``avg_p`` is rounded to 6 decimals by the scorer, so
    ``score_q = round(avg_p * 1e6)`` is an exact integer on any
    engine, and the thresholds come from
    :func:`~energy_pandas_spark.operators.sampling.group_quantile_thresholds`'s
    integer rank arithmetic — no float quantile semantics anywhere.

    Scale shape: the scored (id, group, score_q) projection persists
    spill-safe because THREE consumers need it (two quantile count
    aggregates + the final label join); the thresholds themselves are
    group-count-sized and broadcast."""
    from pyspark import StorageLevel

    from energy_pandas_spark.operators.sampling import (
        group_quantile_thresholds_multi,
    )

    lo, hi = cuts
    if not 0 < lo < hi <= 1000:
        raise ValueError(f"cuts must satisfy 0 < lo < hi <= 1000, got {cuts}")
    scored = bigram_lm_score(
        df, lm, text_col, id_col, materialize_lm=False
    ).select(
        id_col, (F.round(F.col("avg_p") * F.lit(1000000))).cast("long").alias("score_q")
    )
    q = track_cache(
        df.join(scored, id_col).persist(StorageLevel.MEMORY_AND_DISK_DESER)
    )
    # both cuts in ONE aggregate pass over the scored corpus (the
    # count/cumulative tables are permille-independent) — two separate
    # group_quantile_thresholds calls re-aggregated q twice and built
    # two broadcasts where one carries both thresholds
    thr = group_quantile_thresholds_multi(
        q, "score_q", by, (lo, hi)
    ).select(
        by,
        F.col(f"threshold_{int(lo)}").alias("__t_low"),
        F.col(f"threshold_{int(hi)}").alias("__t_high"),
    )
    return (
        q.join(F.broadcast(thr), by)
        .withColumn(
            "bucket",
            F.when(F.col("score_q") >= F.col("__t_high"), F.lit("head"))
            .when(F.col("score_q") >= F.col("__t_low"), F.lit("middle"))
            .otherwise(F.lit("tail")),
        )
        .drop("__t_low", "__t_high")
    )


def chunk_fixed(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 256,
    overlap: int = 0,
) -> DataFrame:
    """Fixed-width token chunking with overlap — the standard RAG /
    embedding-index chunker: chunk ``i`` covers tokens
    ``[i*(size-overlap), i*(size-overlap)+size)``; the final chunk may
    be short; empty documents produce no rows. (For dedup-robust
    boundaries use :func:`chunk_documents` — CDC — instead; fixed
    windows shift wholesale under one inserted token, which is fine
    for retrieval chunks and wrong for chunk-level dedup.)

    Output: ``(id, chunk_idx, chunk_text, n_chunk_tokens)``.

    Scale shape: start offsets come from ``sequence``, chunks from
    1-based ``slice`` on the materialized token array — one projection
    + one generator, zero shuffles, no Python workers."""
    if size < 1:
        raise ValueError(f"size must be >= 1, got {size}")
    if not 0 <= overlap < size:
        raise ValueError(f"overlap must be in [0, size), got {overlap}")
    step = size - overlap
    src = df.select(
        F.col(id_col), tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("__toks")
    ).filter(F.size("__toks") > 0)
    n = F.size("__toks")
    starts = F.sequence(F.lit(0), n - 1, F.lit(step))
    exploded = src.select(
        F.col(id_col), F.col("__toks"), F.explode(starts).alias("__s")
    )
    return exploded.select(
        F.col(id_col),
        (F.col("__s") / F.lit(step)).cast("long").alias("chunk_idx"),
        F.array_join(
            F.slice("__toks", F.col("__s") + 1, F.lit(size)), " "
        ).alias("chunk_text"),
        F.least(F.lit(size), n - F.col("__s")).cast("long").alias("n_chunk_tokens"),
    )


# sentence = a maximal run of non-terminators plus its trailing
# terminator run ("Really?!" keeps both marks). The classic regex
# heuristic — abbreviations ("Dr. Smith") split, like every
# rule-based splitter; Java∩RE2 subset so the oracle runs it verbatim
SENTENCE_RE = r"[^.!?]+[.!?]*"


def split_sentences(text) -> Column:
    """Trimmed, non-empty sentences of a text column (case preserved —
    unlike the token chunkers, sentence chunks feed embedders that
    want the original casing)."""
    t = F.coalesce(F.col(text) if isinstance(text, str) else text, F.lit(""))
    return F.filter(
        F.transform(
            F.regexp_extract_all(t, F.lit(SENTENCE_RE), 0),
            lambda s: F.trim(s),
        ),
        lambda s: s != "",
    )


def chunk_sentences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 5,
    overlap: int = 1,
) -> DataFrame:
    """Sentence-window chunking — the third RAG chunker next to
    :func:`chunk_fixed` (token windows) and :func:`chunk_documents`
    (CDC): chunk ``i`` covers sentences ``[i*(size-overlap), ...+size)``
    joined by a single space; the final chunk may be short; documents
    with no sentences produce no rows. Sentence boundaries are the
    ``SENTENCE_RE`` heuristic.

    Output: ``(id, chunk_idx, chunk_text, n_sentences)``.

    Scale shape mirrors chunk_fixed: the sentence array materializes
    once, start offsets come from ``sequence``, chunks from 1-based
    ``slice`` — one projection + one generator, zero shuffles, no
    Python workers."""
    if size < 1:
        raise ValueError(f"size must be >= 1, got {size}")
    if not 0 <= overlap < size:
        raise ValueError(f"overlap must be in [0, size), got {overlap}")
    step = size - overlap
    src = df.select(
        F.col(id_col), split_sentences(text_col).alias("__sents")
    ).filter(F.size("__sents") > 0)
    n = F.size("__sents")
    starts = F.sequence(F.lit(0), n - 1, F.lit(step))
    exploded = src.select(
        F.col(id_col), F.col("__sents"), F.explode(starts).alias("__s")
    )
    return exploded.select(
        F.col(id_col),
        (F.col("__s") / F.lit(step)).cast("long").alias("chunk_idx"),
        F.array_join(
            F.slice("__sents", F.col("__s") + 1, F.lit(size)), " "
        ).alias("chunk_text"),
        F.least(F.lit(size), n - F.col("__s")).cast("long").alias("n_sentences"),
    )


def source_vocab_overlap(
    df: DataFrame,
    by: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Pairwise vocabulary overlap between corpus slices: for every
    unordered pair of ``by`` groups, the distinct-term intersection
    size and Jaccard — the "how different are my sources really"
    audit that informs mixture weights and dedup expectations
    (near-identical vocabularies predict heavy cross-source dup).

    Scale shape: one distinct aggregate to (group, term) — vocabulary
    x groups sized, tiny next to the corpus — then a term-keyed
    self-join that only pairs DIFFERENT groups, plus a per-group vocab
    count joined twice. Per-term join fan-out is (groups sharing the
    term)², so this is built for group counts in the hundreds (source
    labels, languages, shards); for tens of thousands of groups,
    sketch per-group vocabularies (minhash) instead.

    Output: (source_a, source_b, vocab_a, vocab_b, n_shared, jaccard)
    with source_a < source_b."""
    from pyspark import StorageLevel

    # the (group, term) table feeds THREE consumers (sizes + both join
    # sides); persist the vocab-sized result or the corpus-scale
    # explode+distinct re-runs per consumer (exchange-reuse rule)
    vocab = (
        df.select(F.col(by), F.explode(tokens(F.coalesce(F.col(text_col), F.lit("")))).alias("term"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK_DESER)
    )
    track_cache(vocab)
    sizes = vocab.groupBy(by).agg(F.count(F.lit(1)).alias("n_terms"))
    a = vocab.select(F.col(by).alias("source_a"), "term")
    b = vocab.select(F.col(by).alias("source_b"), "term")
    shared = (
        a.join(b, "term")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col(by).alias("source_a"), F.col("n_terms").alias("vocab_a"))
    sb = sizes.select(F.col(by).alias("source_b"), F.col("n_terms").alias("vocab_b"))
    return (
        shared.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "vocab_a",
            "vocab_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("n_shared")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
            # engine-exact integer twin (round-at-tie class)
            F.expr(
                "(n_shared * 1000000L)"
                " div (vocab_a + vocab_b - n_shared)"
            ).alias("jaccard_micro"),
        )
    )


def vocabulary_by_group(
    df: DataFrame,
    by: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    top: int = 20,
) -> DataFrame:
    """Per-group top-``top`` vocabulary by (document frequency desc,
    term asc) — the per-source/per-language twin of :func:`vocabulary`
    ("what does each slice talk about"). Integer sort keys keep the
    ranking bit-reproducible.

    Scale shape: one (group, doc, term) map-combined aggregate, one
    (group, term) rollup, then the engine's two-stage top-k per group
    (bounded per-partition rank, global rank over k x partitions
    survivors) — a giant group never lands in one window task."""
    from pyspark.sql import Window

    tf = (
        df.select(F.col(by), F.col(id_col), F.explode(tokens(F.coalesce(F.col(text_col), F.lit("")))).alias("term"))
        .groupBy(by, id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    terms = tf.groupBy(by, "term").agg(
        F.count(F.lit(1)).alias("doc_freq"),
        F.sum("tf").alias("total_count"),
    )
    order = [F.desc("doc_freq"), F.asc("term")]
    local = (
        terms.withColumn("__pid", F.spark_partition_id())
        .withColumn(
            "__lr",
            F.row_number().over(Window.partitionBy(by, "__pid").orderBy(*order)),
        )
        .filter(F.col("__lr") <= top)
        .drop("__lr", "__pid")
    )
    return (
        local.withColumn(
            "rank", F.row_number().over(Window.partitionBy(by).orderBy(*order))
        )
        .filter(F.col("rank") <= top)
        .select(by, "term", "doc_freq", "total_count", "rank")
    )


def exact_substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """ExactSubstr-style scrubbing (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", public): every k-token
    span whose content occurs ``min_count``+ times anywhere in the
    corpus keeps only its GLOBALLY FIRST occurrence (smallest
    ``(id, pos)``); every other occurrence's k token positions are cut
    from their documents, and each document's text is rebuilt from the
    surviving tokens. This REMOVES duplicated passages in place — the
    scrub the paper ships — where :func:`span_dup_stats` /
    :func:`span_dedup_filter` only score or drop whole documents.

    Token-granular by design: rebuilt text is the space-joined
    surviving tokens (original whitespace is not preserved — the
    training-corpus contract, same as the paper's token-stream cuts).
    Docs shorter than ``k`` tokens pass through verbatim (tokenized).

    Scale shape — every shuffle ships longs, never span strings:
    (1) winner-per-span is a map-combined aggregate on the span HASH
    carrying a lexicographic (id, pos) struct min (the line_dedup
    recipe — safe for full-range 64-bit content-addressed ids);
    (2) dropped occurrences explode to (id, covered-position) longs,
    deduplicated by key; (3) the rebuild is an (id, pos)-keyed
    ANTI-JOIN of exploded token rows against covered positions, then a
    per-document ``array_sort`` re-assembly — no per-token linear
    scans over covered sets, so a fully-boilerplate document costs
    O(n log n), not O(n²). The hashed span rows and token arrays each
    feed two consumers and persist spill-safe (exchange-reuse rule).

    Returns the input rows with ``text`` rebuilt plus
    ``n_tokens_before`` / ``n_tokens_removed``."""
    from pyspark import StorageLevel

    from energy_pandas_spark.util import spread_partitions

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    toks = (
        spread_partitions(df.select(F.col(id_col), F.col(text_col)))
        .select(
            F.col(id_col),
            tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("__toks"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK_DESER)
    )
    track_cache(toks)
    m = F.size("__toks")
    spanh = F.when(
        m >= k,
        F.transform(
            F.sequence(F.lit(1), m - F.lit(k - 1)),
            lambda i: F.conv(
                F.substring(
                    F.md5(F.array_join(F.slice("__toks", i, k), " ")), 1, 15
                ),
                16,
                10,
            ).cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))
    occ = (
        toks.select(F.col(id_col), F.posexplode(spanh).alias("__p0", "__h"))
        .select(
            F.col(id_col), (F.col("__p0") + 1).alias("pos"), F.col("__h")
        )
        .persist(StorageLevel.MEMORY_AND_DISK_DESER)
    )
    track_cache(occ)
    agg = occ.groupBy("__h").agg(
        F.min(
            F.struct(F.col(id_col).cast("long").alias("i"), F.col("pos").alias("p"))
        ).alias("win"),
        F.count(F.lit(1)).alias("__c"),
    )
    dropped = (
        occ.join(agg, "__h")
        .filter(
            (F.col("__c") >= min_count)
            & ~(
                (F.col(id_col) == F.col("win.i"))
                & (F.col("pos") == F.col("win.p"))
            )
        )
        .select(F.col(id_col), F.col("pos"))
    )
    covered = dropped.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))).alias(
            "__ti"
        ),
    ).distinct()
    tokrows = toks.select(
        F.col(id_col), F.posexplode("__toks").alias("__t0", "__tok")
    ).select(F.col(id_col), (F.col("__t0") + 1).alias("__ti"), F.col("__tok"))
    kept = tokrows.join(covered, [id_col, "__ti"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("__ti").alias("i"), F.col("__tok").alias("t")))
        ).alias("__il")
    ).select(
        F.col(id_col),
        F.array_join(F.transform("__il", lambda s: s.getField("t")), " ").alias(
            "__text_out"
        ),
        F.size("__il").cast("long").alias("__n_kept"),
    )
    sizes = toks.select(F.col(id_col), m.cast("long").alias("n_tokens_before"))
    return (
        df.join(sizes, id_col, "left")
        .join(rebuilt, id_col, "left")
        .withColumn(text_col, F.coalesce("__text_out", F.lit("")))
        .withColumn(
            "n_tokens_removed",
            F.coalesce("n_tokens_before", F.lit(0))
            - F.coalesce("__n_kept", F.lit(0)),
        )
        .withColumn(
            "n_tokens_before", F.coalesce("n_tokens_before", F.lit(0))
        )
        .drop("__text_out", "__n_kept")
    )


def mixed_language_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_majority_share: int = 700,
) -> DataFrame:
    """Per-document language-mixing audit: vote a language for every
    non-blank line (the same stopword-vote :func:`language_id` uses),
    then report lines counted, distinct line-languages, the majority
    language and its share, and an ``is_mixed`` flag (2+ languages and
    the majority holding under ``min_majority_share``/1000 of lines).
    The triage behind "split or drop code-switched / boilerplate-mixed
    pages" in multilingual corpus prep.

    Scale shape: the vote is a per-line projection (no shuffle); two
    map-combined aggregates — (doc, lang) then doc — carry only longs.
    The majority is a lexicographic struct max (count, then language
    string) — deterministic, engine-exact; the share threshold is
    integer arithmetic (``share*1000 < min_majority_share`` without
    float division in the predicate). Zero-line documents report
    ('und', 0 lines, not mixed)."""
    lines = _line_rows(df, text_col, id_col, sep).filter(
        F.col("key").isNotNull()
    )
    scored = language_id(lines, "line", "lang_line")
    counts = scored.groupBy(id_col, "lang_line").agg(
        F.count(F.lit(1)).alias("__n")
    )
    per = (
        counts.groupBy(id_col)
        .agg(
            F.sum("__n").alias("n_lines"),
            F.count(F.lit(1)).alias("n_langs"),
            F.max(
                F.struct(F.col("__n").alias("n"), F.col("lang_line").alias("l"))
            ).alias("__m"),
        )
        .select(
            F.col(id_col),
            "n_lines",
            "n_langs",
            F.col("__m.l").alias("majority_lang"),
            F.col("__m.n").alias("majority_lines"),
        )
    )
    out = df.select(F.col(id_col)).join(per, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
        F.coalesce("n_langs", F.lit(0)).alias("n_langs"),
        F.coalesce("majority_lang", F.lit("und")).alias("majority_lang"),
        F.coalesce("majority_lines", F.lit(0)).alias("majority_lines"),
    )
    return out.select(
        "*",
        F.round(
            F.col("majority_lines")
            / F.greatest(F.col("n_lines"), F.lit(1)).cast("double"),
            6,
        ).alias("majority_share"),
        # engine-exact integer twin (round-at-tie class)
        F.expr(
            "(majority_lines * 1000000L) div greatest(n_lines, 1)"
        ).alias("majority_share_micro"),
        (
            (F.col("n_langs") >= 2)
            & (
                F.col("majority_lines") * 1000
                < F.lit(int(min_majority_share)) * F.col("n_lines")
            )
        ).alias("is_mixed"),
    )


def pii_stats(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Per-document PII exposure counts BEFORE redaction: one column
    per :data:`PII_PATTERNS` entry (``n_email`` / ``n_ip`` /
    ``n_phone``) plus ``n_pii`` — the audit view that decides whether
    a source needs :func:`redact_pii` or outright exclusion. Counted
    on the staged-fold intermediate texts exactly like the redactor,
    so ``pii_stats`` totals always equal ``redact_pii``'s counts.
    One codegen'd projection, zero shuffle."""
    cur = F.coalesce(F.col(text_col), F.lit(""))
    counts = {}
    for name, pat, token in PII_PATTERNS:
        counts[name] = F.regexp_count(cur, F.lit(pat))
        cur = F.regexp_replace(cur, pat, token)
    out = df.withColumns(
        {f"n_{name}": c.cast("long") for name, c in counts.items()}
    )
    total = None
    for name in counts:
        col = F.col(f"n_{name}")
        total = col if total is None else total + col
    return out.withColumn("n_pii", total)


def compression_ratio(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compression ratio (compressed/raw bytes of
    the UTF-8 text) — the classic repetitiveness/quality heuristic:
    boilerplate and degenerate repetition compress far below natural
    prose, random noise barely compresses at all. Complements the
    token-level :func:`repetition_stats` with a character-level,
    vocabulary-free signal.

    Rows-only by nature (no SQL engine ships zlib) but fully
    deterministic: zlib output is specified by (input, level).
    Scale shape: an Arrow ``mapInPandas`` batch kernel — vectorized
    transfer, per-batch Python loop over the one C call that does the
    work, zero shuffle; a single-file scan is re-spread first so the
    CPU-bound compress uses every core. Empty/NULL text reports ratio
    1.0 (nothing to compress is not 'maximally repetitive')."""
    import pandas as pd

    from energy_pandas_spark.util import spread_partitions

    src = spread_partitions(df.select(F.col(id_col), F.col(text_col)))

    def fn(it):
        import zlib

        for pdf in it:
            texts = pdf[text_col].fillna("")
            raw = texts.str.encode("utf-8").str.len()
            comp = [
                len(zlib.compress(t.encode("utf-8"), level)) for t in texts
            ]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "raw_bytes": raw.astype("int64"),
                    "compressed_bytes": pd.Series(comp, dtype="int64"),
                    "compression_ratio": [
                        round(c / r, 6) if r > 0 else 1.0
                        for c, r in zip(comp, raw)
                    ],
                }
            )

    return src.mapInPandas(
        fn,
        schema=f"{id_col} long, raw_bytes long, compressed_bytes long, "
        "compression_ratio double",
    )


def collocations(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top: int = 50,
    min_count: int = 5,
    scale: int = 1024,
) -> DataFrame:
    """Top PMI-ranked adjacent-word collocations — the corpus's
    "these belong together" pairs (multi-word entities, idioms) that
    inform tokenizer merges and vocabulary design. PMI is computed
    over the bigram process: ``ln(c12 * T / (c1 * c2))`` with ``c1`` /
    ``c2`` the left/right marginal counts and ``T`` total bigrams,
    quantized to integer 1/``scale``-nat units (the DSIR pattern — the
    only float op is one ``ln``, 1-ulp caveat at a rounding boundary).
    ``min_count`` suppresses the unstable low-frequency tail PMI is
    notorious for.

    Scale shape: ONE bigram hash aggregate over the corpus; the
    marginals and total derive from that (vocabulary-sized) count
    table, which persists across its four consumers; final top-k is a
    TakeOrdered over qualifying pairs, then ranks attach on the
    ``top``-row result. Returns (w1, w2, c12, pmi_q, rank)."""
    from pyspark import StorageLevel
    from pyspark.sql import Window

    cnt = (
        _doc_bigrams(df, text_col, id_col)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .persist(StorageLevel.MEMORY_AND_DISK_DESER)
    )
    track_cache(cnt)
    c1 = cnt.groupBy("w1").agg(F.sum("c12").alias("c1"))
    c2 = cnt.groupBy("w2").agg(F.sum("c12").alias("c2"))
    t = cnt.agg(F.sum("c12").alias("T"))
    scored = (
        cnt.filter(F.col("c12") >= min_count)
        .join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(t))
        .select(
            "w1",
            "w2",
            "c12",
            F.round(
                F.lit(float(scale))
                * F.log(
                    (F.col("c12").cast("double") * F.col("T"))
                    / (F.col("c1") * F.col("c2"))
                )
            )
            .cast("long")
            .alias("pmi_q"),
        )
    )
    topk = scored.orderBy(
        F.desc("pmi_q"), F.asc("w1"), F.asc("w2")
    ).limit(top)
    return topk.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.desc("pmi_q"), F.asc("w1"), F.asc("w2"))
        ),
    )


def _cooccurrence_edges(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Symmetric distinct window=2 word co-occurrence edges (u, v) —
    the shared graph build behind textrank_keywords and related_terms
    (and the shape both unrolled SQL oracles replay)."""
    und = (
        _doc_bigrams(df, text_col, id_col)
        .filter(F.col("w1") != F.col("w2"))
        .select(
            F.least("w1", "w2").alias("u"), F.greatest("w1", "w2").alias("v")
        )
        .distinct()
    )
    return und.union(und.select(F.col("v").alias("u"), F.col("u").alias("v")))


def textrank_keywords(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top: int = 20,
    n_iter: int = 10,
) -> DataFrame:
    """Corpus-level TextRank keywords (Mihalcea & Tarau 2004): PageRank
    over the word co-occurrence graph — nodes are tokens, with an
    undirected unweighted edge between words that appear adjacent
    anywhere in the corpus (window=2, the paper's default for keyword
    extraction). High-rank words are the corpus's structural hubs —
    the terms a tokenizer/vocabulary must cover and a useful contrast
    to raw frequency (a word adjacent to MANY DIFFERENT words outranks
    an equally frequent word locked in one phrase).

    The ranking runs on :func:`~energy_pandas_spark.operators.graph.
    pagerank`'s pure-integer iteration, so the scores are bit-exact
    across engines and partitionings — a DuckDB oracle replays the
    identical fixed-point arithmetic. Scale shape: one bigram
    aggregate builds the edge set (vocabulary-squared sized at worst,
    tiny in practice), then ``n_iter`` keyed joins+aggregates over the
    vocabulary-sized node table; the corpus is scanned once.

    Returns (term, rank_q, rank), ``top`` rows, ties broken by term.
    """
    from pyspark.sql import Window

    from energy_pandas_spark.operators.graph import pagerank

    sym = _cooccurrence_edges(df, text_col, id_col)
    ranks = pagerank(sym, src="u", dst="v", n_iter=n_iter)
    topk = (
        ranks.select(F.col("id").alias("term"), "rank_q")
        .orderBy(F.desc("rank_q"), F.asc("term"))
        .limit(top)
    )
    return topk.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("rank_q"), F.asc("term"))),
    )


def related_terms(
    df: DataFrame,
    seed_terms: "Sequence[str]",
    text_col: str = "text",
    id_col: str = "doc_id",
    top: int = 20,
    n_iter: int = 10,
    include_seeds: bool = False,
) -> DataFrame:
    """Query expansion over the corpus: personalized PageRank on the
    window=2 co-occurrence graph with teleport pinned to
    ``seed_terms`` — the classic related-term primitive (expand a
    retrieval query, build a topic lexicon from a few seed words,
    audit what vocabulary a concept drags in). Same pure-integer
    iteration as :func:`textrank_keywords`, so the result is bit-exact
    and oracle-replayable; seeds absent from the corpus are ignored
    (all of them missing raises).

    Returns (term, rank_q, rank) for the ``top`` non-seed terms
    (``include_seeds=True`` keeps seeds in the board).
    """
    from pyspark.sql import Window

    from energy_pandas_spark.operators.graph import pagerank

    sym = _cooccurrence_edges(df, text_col, id_col)
    spark = df.sparkSession
    seeds = spark.createDataFrame([(s,) for s in seed_terms], "term string")
    ranks = pagerank(sym, src="u", dst="v", n_iter=n_iter, seeds=seeds)
    out = ranks.select(F.col("id").alias("term"), "rank_q")
    if not include_seeds:
        out = out.join(F.broadcast(seeds), "term", "left_anti")
    topk = out.orderBy(F.desc("rank_q"), F.asc("term")).limit(top)
    return topk.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("rank_q"), F.asc("term"))),
    )


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    quant: int = 1024,
) -> DataFrame:
    """Zipf-law diagnostics for the corpus: least-squares slope and
    intercept of ``ln(freq)`` vs ``ln(rank)`` over the full term
    frequency table — the standard "is this corpus natural language,
    boilerplate, or spam?" fingerprint (natural text slopes ≈ −1;
    templated corpora flatten, noisy ones steepen) and a cheap drift
    alarm between corpus snapshots.

    Exactness design: both logs are quantized to integer
    1/``quant``-nat units (the PMI/DSIR pattern, one ``ln`` per value
    is the only float op), the five regression sums run as exact
    integer aggregates in DECIMAL(38,0) (order-free — a float
    Σxy would reorder under shuffle), and slope/intercept come out of
    ONE final correctly-rounded double division each, so the result is
    bit-identical across engines and partitionings. Term ranks come
    from :func:`~energy_pandas_spark.operators.analytics.
    global_order_index` — no single-partition window even at a
    100M-term vocabulary.

    Returns one row: (n_terms, total_tokens, slope, intercept) with
    the intercept in nats.
    """
    from energy_pandas_spark.operators.analytics import global_order_index
    from energy_pandas_spark.util import spread_partitions

    src = spread_partitions(df.select(F.col(text_col)))
    cnt = (
        src.select(F.explode(tokens(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ranked = global_order_index(
        cnt, [F.desc("c"), F.asc("term")], index_name="__i"
    )
    q = ranked.select(
        F.round(F.lit(float(quant)) * F.log(F.col("__i") + 1))
        .cast("long")
        .alias("xq"),
        F.round(F.lit(float(quant)) * F.log("c")).cast("long").alias("yq"),
        F.col("c"),
    )
    d = "decimal(38,0)"
    s = q.agg(
        F.count(F.lit(1)).cast(d).alias("n"),
        F.sum("xq").cast(d).alias("sx"),
        F.sum("yq").cast(d).alias("sy"),
        F.sum(F.col("xq") * F.col("yq")).cast(d).alias("sxy"),
        F.sum(F.col("xq") * F.col("xq")).cast(d).alias("sxx"),
        F.sum("c").cast("long").alias("total_tokens"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_terms"),
        F.col("total_tokens"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        ).alias("slope"),
        (
            (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")).cast("double")
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
            / F.lit(float(quant))
        ).alias("intercept"),
    )


def ngram_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-document originality score: the share of the document's
    DISTINCT word n-grams that occur in no other document — the
    document-level "is this boilerplate or original text?" signal
    (low novelty = template/near-dup material that inflates
    memorization; the corpus-level mean is a diversity metric in the
    self-BLEU family). Integer throughout: counts plus one per-mille
    floor division, so results are engine- and partitioning-exact.

    Scale shape: one scan builds distinct (doc, gram) pairs (shingles
    via the shared projected-token helper); the pair set persists
    spill-safe and feeds BOTH the gram document-frequency aggregate
    and the join-back (the exchange-reuse trap — the two consumers'
    subtrees differ after pushdown, so an explicit persist is the only
    reliable share). Everything is keyed on the gram; no broadcast of
    corpus-sized state.

    Returns (doc_id, n_grams, novel, novelty_pm) where ``novelty_pm``
    is ``(1000 * novel) div n_grams``.
    """
    from pyspark import StorageLevel

    from energy_pandas_spark.util import spread_partitions

    src = spread_partitions(df.select(id_col, F.col(text_col)))
    toked = src.select(id_col, tokens(text_col).alias("__toks"))
    pairs = (
        toked.select(
            id_col,
            F.explode(word_shingles_of_tokens("__toks", n)).alias("gram"),
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK_DESER)
    )
    track_cache(pairs)
    dfreq = pairs.groupBy("gram").agg(F.count(F.lit(1)).alias("__df"))
    novel = F.sum(F.when(F.col("__df") == 1, 1).otherwise(0)).cast("long")
    return (
        pairs.join(dfreq, "gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            novel.alias("novel"),
        )
        .select(
            id_col,
            "n_grams",
            "novel",
            F.expr("(1000 * novel) div n_grams").alias("novelty_pm"),
        )
    )


def vocab_growth(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoints: int = 10,
) -> DataFrame:
    """Heaps-law vocabulary growth curve: distinct-term count after
    each prefix of the corpus in ``id_col`` order, at ``checkpoints``
    evenly-spaced document counts — the "is the vocabulary still
    growing or has the corpus gone stale/templated?" diagnostic
    (natural corpora grow ~ n^beta with beta ≈ 0.5; a flat curve means
    new documents add no new language). Pure integer counting:

    - each term reduces to its FIRST document (``min(id)`` — one
      vocabulary-sized aggregate),
    - checkpoint boundary ids are exact integer-rank selections from
      the distributed-rank helper (rank ``(n*d) div k``, no
      single-partition window, a ``checkpoints``-row bounded collect),
    - the curve is one broadcast join of the term-first-seen table
      against the boundary list.

    Returns (checkpoint, n_docs, up_to_id, vocab) ordered by
    checkpoint, where ``vocab`` counts terms first seen at or before
    ``up_to_id``.
    """
    from energy_pandas_spark.operators.analytics import global_order_index
    from energy_pandas_spark.util import spread_partitions

    src = spread_partitions(df.select(id_col, F.col(text_col)))
    first_seen = (
        src.select(F.explode(tokens(text_col)).alias("term"), F.col(id_col))
        .groupBy("term")
        .agg(F.min(id_col).alias("__first"))
    )
    ids = df.select(id_col).distinct()
    n = ids.count()
    ranks = [max((n * d) // checkpoints, 1) for d in range(1, checkpoints + 1)]
    idx = global_order_index(ids, [F.asc(id_col)], "__r")
    bounds = (
        idx.filter((F.col("__r") + 1).isin(ranks))
        .select((F.col("__r") + 1).alias("n_docs"), F.col(id_col).alias("up_to_id"))
        .collect()
    )
    # dedup rank collisions at tiny n (several checkpoints hit one rank)
    spark = df.sparkSession
    rows = sorted({(int(r["n_docs"]), r["up_to_id"]) for r in bounds})
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    id_type = df.schema[id_col].dataType  # works for string/long/... ids
    cps = spark.createDataFrame(
        [(d + 1, nd, uid) for d, (nd, uid) in enumerate(rows)],
        StructType(
            [
                StructField("checkpoint", IntegerType()),
                StructField("n_docs", LongType()),
                StructField("up_to_id", id_type),
            ]
        ),
    )
    return (
        first_seen.crossJoin(F.broadcast(cps))
        .filter(F.col("__first") <= F.col("up_to_id"))
        .groupBy("checkpoint", "n_docs", "up_to_id")
        .agg(F.count(F.lit(1)).alias("vocab"))
        .orderBy("checkpoint")
    )


def token_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    quant: int = 1024,
) -> DataFrame:
    """Per-document unigram Shannon entropy in integer
    1/``quant``-nat units — the gibberish/keyword-stuffing signal
    cleaning pipelines gate on (natural prose sits in a band; repeated
    spam collapses toward 0, random noise pushes toward ln(n_tokens)).

    ``H = ln(n) - (sum_t c_t * ln(c_t)) / n`` over the document's
    token counts; both logs quantize to integers (the PMI/DSIR
    pattern) so the weighted sum is exact integer arithmetic and the
    division is a single integer floor div — engine- and
    partitioning-exact. Shape: one (doc, term) count aggregate + one
    per-doc aggregate, both map-side combined; empty docs get entropy
    0 at n = 0 via an outer join back to the id set.

    Returns (id, n_tokens, entropy_q) with
    ``entropy_q = round(quant*ln(n)) - (sum c*round(quant*ln(c))) div n``
    (0 for empty documents).
    """
    from energy_pandas_spark.util import spread_partitions

    src = spread_partitions(df.select(id_col, F.col(text_col)))
    cnt = (
        src.select(id_col, F.explode(tokens(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    lnq = lambda c: F.round(  # noqa: E731
        F.lit(float(quant)) * F.log(c)
    ).cast("long")
    per_doc = cnt.groupBy(id_col).agg(
        F.sum("c").alias("n_tokens"),
        F.sum(F.col("c") * lnq(F.col("c"))).alias("__s"),
    )
    scored = per_doc.select(
        id_col,
        "n_tokens",
        (lnq(F.col("n_tokens")) - F.expr("__s div n_tokens")).alias(
            "entropy_q"
        ),
    )
    ids = df.select(id_col).distinct()
    return ids.join(scored, id_col, "left").select(
        id_col,
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.coalesce("entropy_q", F.lit(0)).alias("entropy_q"),
    )


def js_divergence_matrix(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    quant: int = 1 << 20,
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between the unigram
    distributions of every two groups (sources, languages, snapshots)
    — the symmetric, bounded [0, ln 2] "how differently do these
    slices speak?" matrix that complements vocabulary OVERLAP
    (source_overlap) with distributional distance, and drives mixture
    design (near-zero JS = redundant sources).

    JS(P,Q) = H(M) - (H(P) + H(Q))/2 with M the even mixture. Every
    entropy term quantizes per TERM to integer 1/``quant``-nat units
    (round(quant * p * ln p) from exact integer counts — probabilities
    are single correctly-rounded divisions), so the sums are
    order-free and js_q is pure integer arithmetic — engine-exact.
    The worst-case quantization error is half a unit PER VOCABULARY
    TERM (error <= V/(2*quant) nat), so ``quant`` must dwarf the
    vocabulary size for ``js`` to carry signal: the 1<<20 default
    holds ~5e-4 nat at a thousand-term vocabulary; scale ``quant``
    with V (long sums cannot overflow until V*quant nears 2^63 / ln V).
    Tiny slightly-negative values are quantization artifacts of a
    near-zero true JS.

    Scale shape: one (group, term) count aggregate; per-group
    entropies reduce from it; the pair expansion unions each side's
    counts keyed by (pair, term) and aggregates — no vocab x pairs
    cross join, no driver collection. Group count is assumed
    moderate (pairs are quadratic in groups, not vocabulary).
    Returns (src_a, src_b, js_q, js) with src_a < src_b.
    """
    from energy_pandas_spark.util import spread_partitions

    from pyspark import StorageLevel

    src = spread_partitions(df.select(group_col, F.col(text_col)))
    # persist: the vocab x groups count table feeds totals, the
    # per-group entropies, and BOTH sides of the pair expansion —
    # four consumers whose join pushdowns differ, so without this the
    # corpus-scale tokenize+count would run four times (the
    # exchange-reuse rule)
    counts = (
        src.select(
            F.col(group_col).alias("__g"),
            F.explode(tokens(text_col)).alias("term"),
        )
        .groupBy("__g", "term")
        .agg(F.count(F.lit(1)).alias("__c"))
        .persist(StorageLevel.MEMORY_AND_DISK_DESER)
    )
    track_cache(counts)
    totals = counts.groupBy("__g").agg(F.sum("__c").alias("__t"))
    ct = counts.join(F.broadcast(totals), "__g")
    # per-group entropy: hq = -sum round(quant * p * ln p)
    p = F.col("__c").cast("double") / F.col("__t").cast("double")
    hterm = F.round(F.lit(float(quant)) * p * F.log(p)).cast("long")
    hq = ct.groupBy("__g").agg((-F.sum(hterm)).alias("__h"))
    # pair-term rows: each side contributes its counts under the pair
    # key; the aggregate aligns terms without a vocab cross join
    ga = ct.select(
        F.col("__g").alias("src_a"),
        "term",
        F.col("__c").alias("__ca"),
        F.col("__t").alias("__ta"),
    )
    gb = ct.select(
        F.col("__g").alias("src_b"),
        "term",
        F.col("__c").alias("__cb"),
        F.col("__t").alias("__tb"),
    )
    tot_pairs = (
        totals.select(F.col("__g").alias("src_a"), F.col("__t").alias("__ta"))
        .crossJoin(
            F.broadcast(
                totals.select(
                    F.col("__g").alias("src_b"), F.col("__t").alias("__tb")
                )
            )
        )
        .filter(F.col("src_a") < F.col("src_b"))
    )
    side_a = tot_pairs.join(ga, ["src_a", "__ta"]).select(
        "src_a", "src_b", "term", "__ca", F.lit(0).cast("long").alias("__cb"),
        "__ta", "__tb",
    )
    side_b = tot_pairs.join(gb, ["src_b", "__tb"]).select(
        "src_a", "src_b", "term", F.lit(0).cast("long").alias("__ca"),
        "__cb", "__ta", "__tb",
    )
    merged = (
        side_a.unionByName(side_b)
        .groupBy("src_a", "src_b", "term")
        .agg(
            F.sum("__ca").alias("__ca"),
            F.sum("__cb").alias("__cb"),
            F.max("__ta").alias("__ta"),
            F.max("__tb").alias("__tb"),
        )
    )
    pm = F.col("__ca").cast("double") / (F.lit(2) * F.col("__ta")).cast(
        "double"
    ) + F.col("__cb").cast("double") / (F.lit(2) * F.col("__tb")).cast(
        "double"
    )
    mterm = F.round(F.lit(float(quant)) * pm * F.log(pm)).cast("long")
    hm = merged.groupBy("src_a", "src_b").agg((-F.sum(mterm)).alias("__hm"))
    out = (
        hm.join(
            F.broadcast(hq.select(F.col("__g").alias("src_a"), F.col("__h").alias("__ha"))),
            "src_a",
        )
        .join(
            F.broadcast(hq.select(F.col("__g").alias("src_b"), F.col("__h").alias("__hb"))),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            (
                F.col("__hm") - F.expr("(__ha + __hb) div 2")
            ).alias("js_q"),
        )
    )
    return out.select(
        "src_a",
        "src_b",
        "js_q",
        (F.col("js_q").cast("double") / F.lit(float(quant))).alias("js"),
    )
