"""The shared streaming sink (streaming/sink.py): every two-table
writer survives a crash between its two writes, no writer leaves a
persist behind when it fails, and the sink stays the only place that
starts a ``foreachBatch`` stream or writes with dynamic partition
overwrite.
"""

from __future__ import annotations

import os
import pathlib
import re
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

import energy_pandas_spark
from energy_pandas_spark.operators.codecs import (
    encode_png,
    register_default_decoders,
)
from energy_pandas_spark.streaming.frontier import make_frontier_ingest_writer
from energy_pandas_spark.streaming.image_ingest import make_image_ingest_writer
from energy_pandas_spark.streaming.ingest import make_neardup_ingest_writer
from energy_pandas_spark.streaming.line_ingest import (
    make_line_dedup_ingest_writer,
)
from energy_pandas_spark.streaming.rollup import make_rollup_writer
from energy_pandas_spark.streaming.templates import make_template_writer
from energy_pandas_spark.streaming.url_ingest import (
    make_url_dedup_ingest_writer,
)
from energy_pandas_spark.streaming.winnow_ingest import (
    make_winnow_ingest_writer,
)

BASE = "the quick brown fox jumps over the lazy dog again and again"
NEAR = "the quick brown fox leaps over the lazy dog again and again"
OTHER = "completely different content about spark query engines and shuffles"
THIRD = "yet another unrelated document mentioning catalysts and codegen stages"
PASSAGE = "alpha beta gamma delta epsilon zeta eta theta iota kappa"

_RNG = np.random.default_rng(21)
IMG_A = _RNG.integers(0, 256, (16, 16, 3), dtype=np.uint8)
IMG_A_NEAR = IMG_A.copy()
IMG_A_NEAR[2, 2] = 255 - IMG_A_NEAR[2, 2]
IMG_B = _RNG.integers(0, 256, (16, 16, 3), dtype=np.uint8)
IMG_C = _RNG.integers(0, 256, (16, 16, 3), dtype=np.uint8)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _pages(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, url string, text string")


def _media(spark, rows):
    """Media rows from (id, image array, or raw bytes that do not decode)."""
    register_default_decoders()
    return spark.createDataFrame(
        [
            (
                i,
                bytearray(img if isinstance(img, bytes) else encode_png(img)),
                ("image/png", 16, 16, None),
            )
            for i, img in rows
        ],
        "media_id long, content binary, "
        "meta struct<mime:string,width:int,height:int,duration_ms:bigint>",
    )


def _sites(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, domain string, text string")


def _readings(spark, rows):
    return spark.createDataFrame(
        rows, "ts string, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))


# name -> (make(first, second, **kw), batch 0, batch 1, bad-column kwargs).
# ``make`` builds a writer whose first and second landed tables are
# ``first`` and ``second``. Batch 1 lands rows in both tables and is
# checked against batch 0's history; where a writer keeps rows without
# a history check (undecodable images, URLs that do not canonicalize),
# batch 1 carries one, so a replay that took its own half-written copy
# for history would land a different partition.
TWO_TABLE_WRITERS = {
    "ingest": (
        lambda a, b, **kw: make_neardup_ingest_writer(
            a, b, num_hashes=64, bands=32, shingle_size=2, threshold=0.3,
            **kw,
        ),
        lambda s: _docs(s, [(0, BASE), (1, BASE), (2, OTHER)]),
        lambda s: _docs(s, [(10, NEAR), (11, OTHER), (12, THIRD)]),
        {"text_col": "nope"},
    ),
    "line_ingest": (
        make_line_dedup_ingest_writer,
        lambda s: _docs(s, [(0, "header\nalpha body"), (1, "header\nbeta")]),
        lambda s: _docs(s, [(10, "header\ngamma body"), (11, "alpha body")]),
        {"text_col": "nope"},
    ),
    "image_ingest": (
        make_image_ingest_writer,
        lambda s: _media(s, [(0, IMG_A), (1, IMG_A_NEAR), (2, IMG_B)]),
        lambda s: _media(
            s, [(10, IMG_A_NEAR), (11, IMG_C), (12, b"not a png")]
        ),
        {"content_col": "nope"},
    ),
    "url_ingest": (
        make_url_dedup_ingest_writer,
        lambda s: _pages(
            s,
            [
                (1, "https://www.example.com/p?utm_source=a", "first copy"),
                (2, "https://example.com/p", "same page"),
                (3, "garbage", "no url"),
            ],
        ),
        lambda s: _pages(
            s,
            [
                (10, "https://example.com/p/", "late mirror"),
                (11, "https://example.com/new", "new page"),
                (12, "junk", "no url either"),
            ],
        ),
        {"url_col": "nope"},
    ),
    "winnow_ingest": (
        lambda a, b, **kw: make_winnow_ingest_writer(a, b, min_shared=2, **kw),
        lambda s: _docs(
            s,
            [
                (0, f"opening words {PASSAGE} closing words here"),
                (1, f"unrelated intro sentence {PASSAGE} and another tail"),
                (2, OTHER),
            ],
        ),
        lambda s: _docs(
            s, [(10, f"fresh frame {PASSAGE} different ending"), (11, THIRD)]
        ),
        {"text_col": "nope"},
    ),
    "frontier": (
        make_frontier_ingest_writer,
        lambda s: _pages(
            s, [(1, "https://a.io/1", '<a href="https://b.io/x">l</a>')]
        ),
        lambda s: _pages(
            s,
            [
                (
                    2,
                    "https://a.io/2",
                    '<a href="https://b.io/x">l</a>'
                    '<a href="https://c.io/y">n</a>',
                )
            ],
        ),
        {"html_col": "nope"},
    ),
    # one store directory: docs/ lands first, then lines/
    "templates": (
        lambda a, b, **kw: make_template_writer(
            os.path.dirname(a), "domain", **kw
        ),
        lambda s: _sites(s, [(0, "a.com", "FOOT\nx"), (1, "a.com", "y")]),
        lambda s: _sites(s, [(2, "a.com", "FOOT\nz"), (3, "b.net", "w")]),
        {"text_col": "nope"},
    ),
}


def _paths(name, tmp_path):
    if name == "templates":
        return str(tmp_path / "store" / "docs"), str(tmp_path / "store" / "lines")
    return str(tmp_path / "first"), str(tmp_path / "second")


def _snapshot(spark, path):
    df = spark.read.parquet(path)
    cols = sorted(df.columns)
    return sorted(repr(tuple(r)) for r in df.select(*cols).collect())


@pytest.mark.parametrize("name", sorted(TWO_TABLE_WRITERS))
def test_crash_between_the_two_writes_replays_to_the_same_tables(
    spark, tmp_path, name
):
    """A replay of batch 1 must leave both tables exactly as an
    uninterrupted run did: after a crash once both tables landed the
    batch, and after a crash between the two writes."""
    make, batch0, batch1, _ = TWO_TABLE_WRITERS[name]
    first, second = _paths(name, tmp_path)
    w = make(first, second)
    w(batch0(spark), 0)
    w(batch1(spark), 1)
    want = (_snapshot(spark, first), _snapshot(spark, second))
    w(batch1(spark), 1)
    assert (_snapshot(spark, first), _snapshot(spark, second)) == want

    torn = os.path.join(second, "__batch_id=1")
    assert os.path.isdir(torn), "batch 1 must land rows in both tables"
    shutil.rmtree(torn)
    w(batch1(spark), 1)
    assert (_snapshot(spark, first), _snapshot(spark, second)) == want


def _first_batch(name, spark):
    if name == "rollup":
        return _readings(spark, [("2024-01-01 10:00:00", "kwh", 1.0)])
    return TWO_TABLE_WRITERS[name][1](spark)


def _bad_column(name, spark, tmp_path):
    """A writer (or, for the rollup, a batch) naming a missing column."""
    batch = _first_batch(name, spark)
    if name == "rollup":
        rollup = make_rollup_writer(str(tmp_path / "rollup"))
        return rollup, batch.withColumnRenamed("value", "nope")
    make, _, _, kwargs = TWO_TABLE_WRITERS[name]
    return make(*_paths(name, tmp_path), **kwargs), batch


def _unwritable_second_table(name, spark, tmp_path):
    """The writer's last table lies under a regular file, so its last
    write fails after every earlier step of the batch ran."""
    batch = _first_batch(name, spark)
    if name == "templates":
        (tmp_path / "store").mkdir()
        (tmp_path / "store" / "lines").write_text("not a directory")
        return TWO_TABLE_WRITERS[name][0](*_paths(name, tmp_path)), batch
    blocker = tmp_path / "blocker"
    blocker.write_text("not a directory")
    if name == "rollup":
        return make_rollup_writer(str(blocker / "rollup")), batch
    make = TWO_TABLE_WRITERS[name][0]
    first = _paths(name, tmp_path)[0]
    return make(first, str(blocker / "second")), batch


@pytest.mark.parametrize(
    "failure", [_bad_column, _unwritable_second_table],
    ids=["bad_column", "unwritable_second_table"],
)
@pytest.mark.parametrize("name", sorted([*TWO_TABLE_WRITERS, "rollup"]))
def test_failed_batch_releases_its_persists(spark, tmp_path, name, failure):
    """A writer that raises mid-batch must not leave its persists in
    the session cache: a leaked cache silently serves later queries
    whose plans match."""
    w, batch = failure(name, spark, tmp_path)
    spark.catalog.clearCache()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    with pytest.raises(Exception):
        w(batch, 0)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_only_the_sink_starts_streams_and_lands_partitions():
    """Stream starts and dynamic partition overwrites live in
    streaming/sink.py alone, so the replay contract has one
    implementation. (The session-wide
    ``spark.sql.sources.partitionOverwriteMode`` default in session.py
    is a conf key, not a per-write option.)"""
    root = pathlib.Path(energy_pandas_spark.__file__).parent
    pattern = re.compile(r"foreachBatch\(|[\"']partitionOverwriteMode[\"']")
    found = {
        p.relative_to(root).as_posix()
        for p in root.rglob("*.py")
        if pattern.search(p.read_text())
    }
    assert found == {"streaming/sink.py"}
