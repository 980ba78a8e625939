"""Ownership of operator persists (``util.owned_caches``): a block
releases what it owns on exit, a root drain releases only the root
list, and only util.py decides when an operator's persists go."""

from __future__ import annotations

import ast
import pathlib
import re
import sys
import threading
import time

import pytest
from pyspark import StorageLevel

import energy_pandas_spark
from energy_pandas_spark.util import (
    attach_caches,
    drain_tracked_caches,
    owned_caches,
    release_caches,
    track_cache,
)


class _Frame:
    """Stands in for a DataFrame: counts persists and releases."""

    def __init__(self, on_release=None):
        self.persisted = 0
        self.released = 0
        self._on_release = on_release

    def persist(self, *level):
        self.persisted += 1
        return self

    def unpersist(self):
        self.released += 1
        if self._on_release is not None:
            self._on_release()
        return self


def test_root_drain_keeps_frames_registered_during_it():
    drain_tracked_caches()
    other = _Frame()
    first = _Frame(on_release=lambda: track_cache(other))
    track_cache(first)
    assert drain_tracked_caches() == 1
    assert (first.released, other.released) == (1, 0)
    assert drain_tracked_caches() == 1  # `other` waited for this drain
    assert other.released == 1


def test_root_drains_release_every_frame_once_under_contention():
    drain_tracked_caches()
    batches = [[_Frame() for _ in range(2000)] for _ in range(8)]
    stop = threading.Event()
    counts: list[int] = []

    def register(batch):
        for f in batch:
            track_cache(f)

    def drain():
        while not stop.is_set():
            counts.append(drain_tracked_caches())

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        drainer = threading.Thread(target=drain)
        drainer.start()
        workers = [threading.Thread(target=register, args=(b,)) for b in batches]
        for t in workers:
            t.start()
        for t in workers:
            t.join(timeout=60)
        stop.set()
        drainer.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in [drainer, *workers])
    counts.append(drain_tracked_caches())
    assert sum(counts) == 16000
    assert {f.released for b in batches for f in b} == {1}


def test_owned_caches_release_on_raise_and_hand_over_when_lazy():
    drain_tracked_caches()
    outer_frame, inner_frame, tracked = _Frame(), _Frame(), _Frame()
    out = _Frame()
    with pytest.raises(RuntimeError):
        with owned_caches() as own:
            own(outer_frame)
            with owned_caches() as inner:
                inner(inner_frame)
                track_cache(tracked)
                assert inner.result(out, eager=False) is out
            # handed to `out` and to the enclosing block, not released
            assert out._eps_caches == (inner_frame, tracked)
            assert inner_frame.released == tracked.released == 0
            raise RuntimeError("operator failed")
    assert outer_frame.released == inner_frame.released == tracked.released == 1
    assert drain_tracked_caches() == 0  # nothing reached the root list
    release_caches(out)  # the handle still works after the block released
    assert out._eps_caches == ()
    # outside every block, registrations go to the root list
    root = _Frame()
    attach_caches(out, root)
    assert out._eps_caches == (root,)
    assert drain_tracked_caches() == 1 and root.released == 1


def _docs(spark):
    return spark.createDataFrame(
        [
            (0, "en", "the quick brown fox jumps over the lazy dog today"),
            (1, "en", "the quick brown fox leaps over the lazy dog today"),
            (2, "de", "der schnelle braune fuchs springt ueber den hund"),
            (3, "de", "der braune hund schlaeft unter dem grossen baum"),
            (4, "en", "a hash join builds a table and probes it with rows"),
        ],
        "doc_id long, lang string, text string",
    )


def _minhash(spark):
    from energy_pandas_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _docs(spark), num_hashes=32, bands=16, shingle_size=2, threshold=0.3
    )


def _search(spark):
    from energy_pandas_spark.operators.retrieval import query_terms, search_topk

    return search_topk(_docs(spark), query_terms(spark, {0: "brown dog"}), k=2)


def _langid(spark):
    from energy_pandas_spark.operators.text import langid_ngram_selftrain

    return langid_ngram_selftrain(_docs(spark), top=20)


@pytest.mark.parametrize(
    "run", [_minhash, _search, _langid],
    ids=["minhash_lsh_pairs", "search_topk", "langid_ngram_selftrain"],
)
def test_eager_operator_that_raises_leaves_nothing_cached(spark, monkeypatch, run):
    spark.catalog.clearCache()
    drain_tracked_caches()
    jcm = spark._jsparkSession.sharedState().cacheManager()

    def boom(self, *a, **k):
        raise RuntimeError("checkpoint failed")

    monkeypatch.setattr(type(_docs(spark)), "localCheckpoint", boom)
    with pytest.raises(RuntimeError, match="checkpoint failed"):
        run(spark)
    assert jcm.isEmpty()


def _cached(df) -> bool:
    return df.storageLevel != StorageLevel.NONE


def test_two_clients_cannot_release_each_others_caches(spark):
    from energy_pandas_spark.operators.retrieval import (
        build_postings,
        query_terms,
        search_topk,
    )

    spark.catalog.clearCache()
    drain_tracked_caches()
    docs = _docs(spark)
    postings = build_postings(docs)
    queries = [
        query_terms(spark, {0: "brown dog", 1: "hash table"}),
        query_terms(spark, {0: "der hund", 1: "quick fox today"}),
    ]

    def search(q):
        return search_topk(docs, q, k=2, postings=postings, eager=False)

    serial = []
    for q in queries:
        with owned_caches():
            serial.append(sorted(map(tuple, search(q).collect())))

    barrier = threading.Barrier(3)
    got: dict[int, list] = {}
    seen: dict[int, tuple] = {}
    errors: list[BaseException] = []

    def client(i):
        try:
            with owned_caches():
                out = search(queries[i])
                (matched,) = out._eps_caches
                barrier.wait()  # both clients hold their persists
                barrier.wait()  # a third thread has drained the root list
                before = _cached(matched)
                got[i] = sorted(map(tuple, out.collect()))
                seen[i] = (before, _cached(matched))
        except BaseException as e:  # noqa: BLE001 - re-raised below
            errors.append(e)
            barrier.abort()

    def drainer():
        try:
            barrier.wait()
            drain_tracked_caches()
            barrier.wait()
        except threading.BrokenBarrierError:
            pass

    threads = [threading.Thread(target=client, args=(i,)) for i in (0, 1)]
    threads.append(threading.Thread(target=drainer))
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    if errors:
        raise errors[0]
    assert seen == {0: (True, True), 1: (True, True)}
    assert [got[0], got[1]] == serial
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_only_util_releases_operator_persists():
    """The owner state lives in util.py alone, and ``unpersist`` is
    called only there and in the round-to-round loops that truncate
    lineage in bpe, wordpiece and graph."""
    root = pathlib.Path(energy_pandas_spark.__file__).parent
    owner_state = re.compile(
        r"_eps_caches|_CACHE_OWNER|_CACHE_LOCK|_ROOT_OWNER|\._(held|hold|take|attach)\b"
    )
    loop_files = {"operators/bpe.py", "operators/wordpiece.py", "operators/graph.py"}
    state, releases = set(), set()
    for p in root.rglob("*.py"):
        rel = p.relative_to(root).as_posix()
        if rel == "util.py":
            continue
        src = p.read_text()
        if owner_state.search(src):
            state.add(rel)
        tree = ast.parse(src)
        in_loop = {
            id(n)
            for loop in ast.walk(tree)
            if isinstance(loop, (ast.For, ast.While))
            for n in ast.walk(loop)
        }
        for n in ast.walk(tree):
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "unpersist"
                and not (rel in loop_files and id(n) in in_loop)
            ):
                releases.add(f"{rel}:{n.lineno}")
    assert state == set()
    assert releases == set()


def test_owners_of_one_plan_keep_its_cache_until_the_last_releases(spark):
    """Spark keeps one cache entry per plan: the inner block's exit
    must not drop the entry the outer block still holds."""
    spark.catalog.clearCache()
    drain_tracked_caches()
    jcm = spark._jsparkSession.sharedState().cacheManager()

    def frame():
        return spark.range(100).selectExpr("id * 2 as x")

    with owned_caches() as outer:
        kept = outer(frame())
        kept.count()
        with owned_caches() as inner:
            inner(frame()).count()
        assert kept.storageLevel.useMemory
    assert jcm.isEmpty()


def test_shared_plan_is_unpersisted_only_by_its_last_holder_under_contention():
    """Frames of one plan share Spark's cache entry: under contention,
    no release may unpersist it while another frame of the plan is
    still held, and the last release always does."""
    drain_tracked_caches()
    lock = threading.Lock()
    held: set[int] = set()
    early: list[int] = []
    unpersists: list[int] = []

    class PlanFrame(_Frame):
        def semanticHash(self):
            return 7

        def sameSemantics(self, other):
            return True

        def unpersist(self):
            with lock:
                unpersists.append(id(self))
                if held:
                    early.append(id(self))
            return super().unpersist()

    def client():
        for _ in range(300):
            f = PlanFrame()
            with owned_caches() as own:
                own(f)
                with lock:
                    held.add(id(f))
                time.sleep(1e-4)  # use the cache
                with lock:
                    held.discard(id(f))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=client) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert early == []
    assert 0 < len(unpersists) <= 8 * 300
    last = PlanFrame()
    with owned_caches() as own:
        own(last)
    assert unpersists[-1] == id(last)  # nothing of the plan was left held
