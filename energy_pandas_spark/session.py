"""Tuned SparkSession factory — the engine's recommended configuration
posture, one place instead of per-script copies.

Local mode runs the same settings the cluster profile needs: AQE on
(runtime shuffle-partition coalescing, skew-join splitting), a
broadcast threshold sized for dimension tables, Arrow batching for the
few pandas-backed kernels, dynamic partition overwrite as the default
for partitioned ``mode("overwrite")`` writes, UTC session time, and a
generated-code cache that holds the library's working set.

Without a ``master``, the session runs ``local[N]`` with N the CPUs the
process may run on (its affinity mask, so ``taskset`` and cpusets are
respected), and N shuffle partitions unless ``shuffle_partitions`` is
given.

Generated-code cache. Spark keeps the classes whole-stage codegen
compiles in one LRU cache of ``spark.sql.codegen.cache.maxEntries``
entries (default 100). The library's working set is larger, counted
with ``CodegenMetrics`` as the distinct classes one pass of each
perfbench workload compiles: ``energy_batch`` 137, ``corpus_curation``
about 205, ``interactive_energy`` about 210 for its query mix and
``stream_rollup`` 69. A 100-entry cache evicts them in a cycle: every
``energy_batch`` pass recompiled 109-127 classes (0.6-0.9 s of Janino)
and ran them as cold code, with 8.5-14 s of JIT compiler time a pass
against 3-7 s once cached; a pass took 8.7 s against 6.0 s (perfbench
medians, 4 vCPUs). CODEGEN_CACHE_ENTRIES holds all four working sets
at once with headroom; the classes average about 2 KB of bytecode, and
metaspace read 162 MB at either size. Classes that inline per-call
literals (the streaming rollup's batch id and days: 4 per merge batch)
miss at any size and age out.

Python worker daemon. Before its UDF, every Python task calls
``importlib.invalidate_caches()``, and on Python 3.11 each of the 14-16
``zipimporter`` objects the worker holds for ``pyspark.zip`` answers by
re-reading the archive's 1,328-entry central directory: 170-180 ms per
task, timed in one process on 4 vCPUs. That was half of an identity
``mapInPandas`` over 140k rows in 4 tasks (681 -> 357 ms without it),
and ``energy_batch``'s ``ewma`` step fell from 0.83-0.93 s to
0.49-0.59 s in traced runs. ``make_session`` therefore runs the workers under
``energy_pandas_spark._daemon``, pyspark's daemon with a zip cache
that is re-read only when the archive changes. Workers start that
module by name, so it is set only when ``make_session`` launches the
JVM of a ``local`` master and the package is installed, on
``PYTHONPATH`` or in the working directory (which ``python -m`` puts
on the workers' path). A driver that found the package some other way,
for example through ``sys.path.insert``, keeps Spark's default daemon,
as does a session started on a JVM that an earlier session launched.
``extra_conf={"spark.python.daemon.module": "pyspark.daemon"}``
restores the default.

Static settings (the cache size, ``spark.driver.memory``,
``spark.sql.warehouse.dir`` ...) take effect only when ``make_session``
starts the context: ``getOrCreate`` on a running one returns it with
that context's values. The code cache is one per JVM and sized by the
first session in it that generates code, so a session started after
``stop()`` in the same Python process keeps the first one's size.

At 100 TB the knobs that matter and their reasoning:
- ``spark.sql.shuffle.partitions`` starts high (cluster: 2-4x total
  cores); AQE coalesces small post-shuffle partitions down, so
  over-provisioning is cheap and under-provisioning (spills) is not.
- ``spark.sql.files.maxPartitionBytes`` (default 128m) bounds scan
  task memory; with wide parquet rows lower it rather than raising
  executor memory.
- ``spark.sql.autoBroadcastJoinThreshold`` at 64m broadcasts every
  TPC-H-style dimension; fact-to-fact joins still sort-merge (or go
  through bucketing — sources/bucketing.py).
- AQE skew-join splitting handles moderate key skew; pathological
  producers use operators.joins.salted_join.
"""

from __future__ import annotations

import os
import site

from pyspark import SparkContext
from pyspark.sql import SparkSession

__all__ = ["make_session"]

# generated classes kept compiled; see the module docstring
CODEGEN_CACHE_ENTRIES = 2000
# Python worker daemon; see the module docstring
PYTHON_DAEMON_MODULE = "energy_pandas_spark._daemon"


def _workers_import_package(master: str) -> bool:
    """Whether the session about to start launches a local JVM whose
    Python workers, started in this process's working directory and
    environment, can import this package."""
    if SparkContext._gateway is not None:
        return False
    if master != "local" and not master.startswith("local["):
        return False
    root = os.path.realpath(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    paths = [
        os.getcwd(),
        *os.environ.get("PYTHONPATH", "").split(os.pathsep),
        *site.getsitepackages(),
        site.getusersitepackages(),
    ]
    return any(p and os.path.realpath(p) == root for p in paths)


def make_session(
    master: str | None = None,
    app_name: str = "energy-pandas-spark",
    shuffle_partitions: int | None = None,
    driver_memory: str = "8g",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API on this platform
        cpus = os.cpu_count() or 8
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing assumes bytes ~ cost; the corpus pipelines
        # have many byte-LIGHT CPU-DENSE exchanges (vocab-/stats-sized
        # streams of strings + log()/md5 per row, sub-MB compressed)
        # that the default 1m floor collapses to one straggler task —
        # and this class stays sub-advisory at ANY corpus scale (vocab
        # saturates), so the floor maps to production, not just
        # local[32]. 64kb measured best of {16kb, 64kb, 256kb, 1m} on
        # the straggler-audit-flagged set (r8 probe, 4 interleaved
        # legs x 13 queries: 24.10s -> 20.86s elementwise-best;
        # containment_pairs 7.6 -> 5.3, rolling_trend 1.5 -> 1.0,
        # doc_lm 1.7 -> 1.3; no query outside noise on the tiny-
        # exchange controls). Callers override via extra_conf.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize", "64kb"
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # partitioned mode("overwrite") writes replace only the
        # partitions they write (the streaming sink sets this per write)
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", driver_memory)
    )
    if _workers_import_package(master):
        builder = builder.config("spark.python.daemon.module", PYTHON_DAEMON_MODULE)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
