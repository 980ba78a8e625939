"""Small shared engine utilities.

Operator persists have one owner. :func:`owned_caches` opens a block
that owns every persist registered inside it (:func:`track_cache`,
:func:`attach_caches`, or the block's own ``keep``) and unpersists
them, newest first, when the block exits, whether it returns or
raises. Blocks nest; the innermost open block owns, per thread and per
asyncio task (a ``ContextVar``). A dual-mode operator runs its body in
one block: with ``eager=True`` it returns a ``localCheckpoint`` of its
result and the block releases everything; with ``eager=False`` the
block hands its holdings to the lazy result (``release_caches``) and
to the enclosing owner. A persist registered outside every block goes
to the root list, which :func:`drain_tracked_caches` releases. So
concurrent clients that each wrap their calls in ``owned_caches()``
cannot release each other's caches, and a root drain never touches a
persist that a block still owns.

Spark keeps one cache entry per plan, so two frames with the same plan
(the same operator on the same inputs, in two blocks or two clients)
share it. Every held frame is therefore filed with the other held
frames of its plan (``semanticHash``, confirmed by ``sameSemantics``),
and releasing a frame unpersists the entry only when no other frame of
that plan is still held. A frame is released once, by whichever path
comes first (its block, a root drain or :func:`release_caches`); later
releases of it are no-ops.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from contextvars import ContextVar
from typing import Iterator

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, functions as F

__all__ = [
    "spread_partitions",
    "epoch_micros",
    "round_half_away",
    "owned_caches",
    "attach_caches",
    "release_caches",
    "track_cache",
    "drain_tracked_caches",
]

_CACHE_LOCK = threading.RLock()  # reentrant: a persist files its frame
# plan key -> groups of held frames with the same plan; and the plan
# key and group of each held frame, by id (the groups hold it strongly)
_PLANS: dict[object, list[list]] = {}
_HELD: dict[int, tuple[object, list]] = {}


class CacheOwner:
    """The persists of one :func:`owned_caches` block, or of the root
    list. Calling it persists a frame (at ``level``, else the default)
    and owns it. Frames are held strongly until released: a weakly-held
    frame that gets GC'd would orphan its JVM cache entry with no way
    left to unpersist it."""

    def __init__(self, parent: CacheOwner | None = None) -> None:
        self._parent = parent
        self._held: list[DataFrame] = []

    def __call__(
        self, df: DataFrame, level: StorageLevel | None = None
    ) -> DataFrame:
        # under the lock, no release of the same plan can drop Spark's
        # entry between this persist and the frame's filing
        with _CACHE_LOCK:
            df = df.persist() if level is None else df.persist(level)
            self._hold([df])
        return df

    def result(self, out: DataFrame, eager: bool) -> DataFrame:
        """A dual-mode operator's return value: ``out`` checkpointed
        (the block then releases everything), or, when not ``eager``,
        ``out`` lazy with the holdings handed to it and to the
        enclosing owner. The checkpoint truncates lineage, so executor
        loss makes its blocks unrecoverable: a fair trade for the
        small results these operators return, consumed at once.
        Callers that need lineage recovery pass ``eager=False``."""
        if eager:
            return out.localCheckpoint(eager=True)
        return self._parent._attach(out, self._take())

    def _hold(self, caches) -> None:
        _file(caches)
        with _CACHE_LOCK:
            self._held.extend(caches)

    def _take(self) -> list[DataFrame]:
        with _CACHE_LOCK:
            held, self._held = self._held, []
        return held

    def _attach(self, out: DataFrame, caches) -> DataFrame:
        out._eps_caches = tuple(getattr(out, "_eps_caches", ())) + tuple(caches)
        self._hold(caches)
        return out


_ROOT_OWNER = CacheOwner()
_CACHE_OWNER: ContextVar[CacheOwner] = ContextVar(
    "energy_pandas_spark_cache_owner", default=_ROOT_OWNER
)


def _plan_key(df: DataFrame) -> object:
    try:
        return df.semanticHash()
    except AttributeError:  # a stand-in without a plan is its own plan
        return ("frame", id(df))


def _file(caches) -> None:
    """File each frame with the held frames of its plan (module notes);
    a frame already held stays where it is."""
    for c in caches:
        if id(c) in _HELD:
            continue
        key = _plan_key(c)
        with _CACHE_LOCK:
            if id(c) in _HELD:
                continue
            groups = _PLANS.setdefault(key, [])
            group = next((g for g in groups if g[0].sameSemantics(c)), None)
            if group is None:
                group = []
                groups.append(group)
            group.append(c)
            _HELD[id(c)] = (key, group)


def _release(caches: list[DataFrame]) -> int:
    """Release each frame, newest first; a plan's cache entry goes with
    the last held frame of that plan."""
    for c in reversed(caches):
        with _CACHE_LOCK:
            filed = _HELD.pop(id(c), None)
            if filed is None:  # released already
                continue
            key, group = filed
            group[:] = [f for f in group if f is not c]
            if group:
                continue
            _PLANS[key].remove(group)  # the plan's only empty group
            if not _PLANS[key]:
                del _PLANS[key]
            try:
                c.unpersist()
            except Exception:  # session already stopped: nothing to free
                pass
    return len(caches)


@contextmanager
def owned_caches() -> Iterator[CacheOwner]:
    """Own every persist registered until the block exits, and release
    them then, newest first, whether the block returns or raises (the
    module notes give the rule). Yields the :class:`CacheOwner`."""
    owner = CacheOwner(_CACHE_OWNER.get())
    token = _CACHE_OWNER.set(owner)
    try:
        yield owner
    finally:
        _CACHE_OWNER.reset(token)
        _release(owner._take())


def attach_caches(out: DataFrame, *caches: DataFrame) -> DataFrame:
    """Attach persisted ``caches`` to the lazy result ``out``, so that
    :func:`release_caches` frees exactly these, and register them with
    the innermost :func:`owned_caches` block, or the root list outside
    every block. The attribute does not survive a DataFrame
    transformation; the registration does, so the owner (or a root
    drain) is the release path that always holds."""
    return _CACHE_OWNER.get()._attach(out, caches)


def track_cache(df: DataFrame) -> DataFrame:
    """Register a persisted frame with the innermost
    :func:`owned_caches` block, or the root list outside every block,
    without attaching it to an output frame."""
    _CACHE_OWNER.get()._hold([df])
    return df


def drain_tracked_caches() -> int:
    """Unpersist every frame on the root list and return how many were
    released. Frames that open :func:`owned_caches` blocks hold are
    not touched, and a frame registered while the drain runs stays
    for the next drain. Safe to call at any time: frames already
    unpersisted are a no-op."""
    return _release(_ROOT_OWNER._take())


def release_caches(df: DataFrame) -> None:
    """Release the internal persists attached to an ``eager=False``
    result (see :func:`attach_caches`). Safe to call more than once and
    on frames with nothing attached. The frame's plan remains valid
    afterwards: recomputation just stops hitting the caches."""
    _release(list(getattr(df, "_eps_caches", ())))
    df._eps_caches = ()


def epoch_micros(df: DataFrame, ts_col: str, col: Column | None = None) -> Column:
    """Microseconds since epoch, type-tolerant: ``unix_micros`` rejects
    TIMESTAMP_NTZ (how parquet written without isAdjustedToUTC reads
    when ``spark.sql.parquet.inferTimestampNTZ.enabled`` is on), and
    casting NTZ -> TIMESTAMP first would shift by the session timezone.
    NTZ wall clocks are measured against an NTZ epoch instead, so the
    result is timezone-independent for both types.

    ``ts_col`` names the column whose dtype decides the branch; ``col``
    optionally supplies a derived expression of that column (e.g. a
    ``lead`` over a window) to convert instead of the raw column.
    """
    expr = col if col is not None else F.col(ts_col)
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        # calendar decomposition, NOT timestamp_diff: Spark routes
        # timestamp_diff on NTZ operands through the SESSION timezone,
        # so in a DST-observing session the spring-forward wall hour
        # collapses onto its neighbor (02:00 == 03:00 on the gap day).
        # unix_date/hour/minute/date_part are pure wall-clock reads.
        return (
            F.unix_date(F.to_date(expr)).cast("long") * F.lit(86_400_000_000)
            + F.hour(expr).cast("long") * F.lit(3_600_000_000)
            + F.minute(expr).cast("long") * F.lit(60_000_000)
            + (F.date_part(F.lit("SECOND"), expr) * 1_000_000).cast("long")
        )
    return F.unix_micros(expr)


def spread_partitions(df: DataFrame) -> DataFrame:
    """Ensure CPU-bound per-row work is spread across all cores: a small
    single-file parquet scan arrives as ONE partition, serializing the
    expensive expression / Arrow-batch work behind it. At real scale the
    scan has plenty of splits and this is a no-op (the round-robin
    repartition only fires when the input has fewer partitions than the
    cluster has slots).

    Probe contract (ADVICE r6): ``df.rdd.getNumPartitions()`` forces a
    logical→physical conversion, so callers pass the SCAN-STAGE frame
    (a projection straight off the read) — planning a bare scan is
    cheap; never call this on a deep plan mid-pipeline. Under Spark
    Connect neither ``sparkContext`` nor ``df.rdd`` exists; the probe
    degrades to a no-op there (the classic-mode single-file pathology
    is a local-testing concern — Connect clusters read real multi-split
    scans, and an unconditional repartition would tax every caller with
    a shuffle to fix a case that does not occur)."""
    try:
        target = df.sparkSession.sparkContext.defaultParallelism
        n = df.rdd.getNumPartitions()
    except Exception:  # Spark Connect: no sparkContext / RDD API
        return df
    if n < target:
        return df.repartition(target)
    return df


def round_half_away(x: float) -> int:
    """Driver-side half-away-from-zero rounding — the engine's house
    rounding rule (matches Spark/DuckDB ``round`` on doubles), shared
    by the batch and streaming CUSUM so their integer thresholds stay
    bit-identical. Python's builtin ``round`` is banker's rounding and
    MUST NOT be substituted."""
    import math

    return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))
