"""make_session's defaults, checked in a child process with its own JVM:
the suite's shared session (conftest) is already running, and the
generated-code cache is one per JVM, sized by the first session in it."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs the energy_batch chain twice on a small ReportData frame and
# prints the Janino compiles of each run as the last line of output.
CHILD = textwrap.dedent(
    """
    import json, os, sys
    os.sched_setaffinity(0, sorted(os.sched_getaffinity(0))[:2])

    from datetime import datetime, timedelta
    from pyspark.sql import functions as F
    from energy_pandas_spark import EnergyFrame, make_session
    from energy_pandas_spark.operators import analytics, clustering, joins, windows
    from energy_pandas_spark.sources import reportdata

    tmp = sys.argv[1]
    spark = make_session(
        driver_memory="1g",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles():
        return codegen.METRIC_COMPILATION_TIME().getCount()

    # 2 meters x 10 days of 15-minute ReportData rows in joules, every
    # 7th interior row dropped as a gap; hourly weather for 2 stations
    start, rows = datetime(2018, 1, 1), []
    for m in range(2):
        for i in range(10 * 96):
            end = start + timedelta(minutes=15 * (i + 1))
            if 0 < i < 10 * 96 - 1 and i % 7 == 3:
                continue
            day, hour = (end.day, end.hour) if end.minute or end.hour else (end.day - 1, 24)
            rows.append((1, day, hour, end.minute, 15, 3.6e6 * (1 + m + (i % 96) / 96), f"M{m}", "J"))
    rd = spark.createDataFrame(
        rows,
        "Month int, Day int, Hour int, Minute int, Interval int, Value double, Name string, Units string",
    )
    weather = spark.createDataFrame(
        [(s, start + timedelta(hours=h), 5.0 + s + (h % 24) / 2) for s in range(2) for h in range(10 * 24)],
        "station int, ts timestamp, temp double",
    )
    dim = spark.createDataFrame([("M0", 0), ("M1", 1)], "Name string, station int")

    def done(x):
        if isinstance(x, EnergyFrame):
            return EnergyFrame(
                x.spark_df.localCheckpoint(eager=True),
                units=x.units, index_col=x.index_col, meta=x.meta, value_cols=x.value_cols,
            )
        return x.localCheckpoint(eager=True)

    def chain(out):
        ef = done(reportdata.from_reportdata(rd, name="value", agg_func=None))
        kwh = done(ef.to_units("kWh")).spark_df
        filled = done(analytics.fill_gaps(kwh, "ts", "15 minutes", "value", by="Name", method="ffill", mark_gaps=False))
        done(windows.rolling_aggregate(kwh, "ts", "value", 3600, by="Name", aggs=("avg", "max")))
        done(windows.ewma(kwh, "ts", "value", 0.2, by="Name"))
        done(analytics.degree_days(weather, "ts", "temp", base=18.0, by="station"))
        done(joins.asof_join(kwh.join(F.broadcast(dim), "Name"), weather, on="ts", by="station", right_cols=["temp"]))
        done(clustering.discretize_grouped(filled, "Name", "ts", ["value"], noTypicalPeriods=3, hoursPerPeriod=24))
        done(analytics.monthly(kwh, "ts", ["value"], agg="sum"))
        done(analytics.ldc(kwh, "value"))
        EnergyFrame(filled, units={"value": "kWh"}, index_col="ts").to_parquet(out)
        done(EnergyFrame.read_parquet(spark, out))

    runs = []
    for i in range(2):
        c = compiles()
        chain(os.path.join(tmp, f"out{i}"))
        runs.append(compiles() - c)
    print(json.dumps({
        "compiles": runs,
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }))
    spark.stop()
    """
)


# What a second run may still compile: AQE plans fill_gaps' join in one
# of two shapes, depending on which of its shuffle stages finishes
# first, and a shape's 9 classes compile the first time it runs. The
# second run compiled 0 in most runs and 4 or 9 in some; with Spark's
# 100-entry cache it recompiled 124-130.
REPLAN_COMPILES = 20


needs_two_cpus = pytest.mark.skipif(
    not hasattr(os, "sched_setaffinity") or len(os.sched_getaffinity(0)) < 2,
    reason="needs CPU affinity and at least 2 CPUs",
)


def _with_root_on_pythonpath() -> dict:
    return {**os.environ, "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)}


@needs_two_cpus
def test_repeated_pipeline_reuses_generated_code_and_sizes_to_affinity(tmp_path):
    """A second pass of the energy_batch chain recompiles none of the
    generated code of the first (a 100-entry cache recompiled most of
    its classes every pass), and a session without ``master`` sizes
    itself to the 2 CPUs the child is pinned to, not to the host's CPU
    count."""
    proc = subprocess.run(
        [sys.executable, "-c", CHILD, str(tmp_path)],
        cwd=str(tmp_path),
        env=_with_root_on_pythonpath(),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    first, second = got["compiles"]
    assert first > 100, got  # the chain's working set overflows Spark's default cache
    assert second <= REPLAN_COMPILES, got
    assert got["master"] == "local[2]", got
    assert got["shuffle_partitions"] == "2", got


# Reports, for each of 8 tasks on 2 cores, the module of the zip cache
# invalidation the worker runs and whether the modules added with
# addPyFile import; twice, adding a .py and a .zip module between the
# runs. In mode "hidden" the driver imports the package from a
# directory the workers do not search, and runs windows.ewma.
DAEMON_CHILD = textwrap.dedent(
    """
    import json, os, sys, zipfile
    mode, tmp, root = sys.argv[1:4]
    if mode == "hidden":
        sys.path.insert(0, root)
    os.sched_setaffinity(0, sorted(os.sched_getaffinity(0))[:2])

    from energy_pandas_spark import make_session

    conf = {"spark.ui.enabled": "false", "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse")}
    if mode == "override":
        conf["spark.python.daemon.module"] = "pyspark.daemon"
    spark = make_session(driver_memory="1g", extra_conf=conf)
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")

    def probe(it):
        import importlib, zipimport
        import pandas as pd

        for pdf in it:
            row = {"daemon": zipimport.zipimporter.invalidate_caches.__module__}
            for name in ("eps_added_py", "eps_added_zip"):
                try:
                    row[name] = importlib.import_module(name).VALUE
                except ImportError:
                    row[name] = None
            yield pd.DataFrame([row])

    def run():
        df = spark.range(0, 8, numPartitions=8)
        out = df.mapInPandas(probe, "daemon string, eps_added_py string, eps_added_zip string")
        return [r.asDict() for r in out.collect()]

    runs = [run()]
    with open(os.path.join(tmp, "eps_added_py.py"), "w") as f:
        f.write("VALUE = 'py'\\n")
    with zipfile.ZipFile(os.path.join(tmp, "eps_added_zip.zip"), "w") as z:
        z.writestr("eps_added_zip.py", "VALUE = 'zip'\\n")
    sc.addPyFile(os.path.join(tmp, "eps_added_py.py"))
    sc.addPyFile(os.path.join(tmp, "eps_added_zip.zip"))
    runs.append(run())
    got = {"runs": runs, "conf": sc.getConf().get("spark.python.daemon.module")}
    if mode == "hidden":
        from energy_pandas_spark.operators import windows

        kwh = spark.createDataFrame(
            [(m, i, float(i % 5 + k)) for k, m in enumerate("ab") for i in range(50)],
            "Name string, ts long, value double",
        )
        got["ewma_rows"] = windows.ewma(kwh, "ts", "value", 0.2, by="Name").count()
    print(json.dumps(got))
    spark.stop()
    """
)


def _daemon_child(tmp_path, mode: str) -> dict:
    env = _with_root_on_pythonpath()
    if mode == "hidden":
        del env["PYTHONPATH"]
    proc = subprocess.run(
        [sys.executable, "-c", DAEMON_CHILD, mode, str(tmp_path), ROOT],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@needs_two_cpus
def test_workers_keep_zip_caches_and_still_see_added_files(tmp_path):
    """make_session's workers run the library's zip cache invalidation
    in every task, reused workers included, and a .py and a .zip module
    added with addPyFile after the workers started still import."""
    got = _daemon_child(tmp_path, "default")
    first, second = got["runs"]
    assert len(first) == len(second) == 8, got
    assert {r["daemon"] for r in first + second} == {"energy_pandas_spark._daemon"}, got
    assert {(r["eps_added_py"], r["eps_added_zip"]) for r in first} == {(None, None)}, got
    assert {(r["eps_added_py"], r["eps_added_zip"]) for r in second} == {("py", "zip")}, got


@needs_two_cpus
def test_worker_daemon_is_overridable(tmp_path):
    """extra_conf restores pyspark's own daemon."""
    got = _daemon_child(tmp_path, "override")
    assert got["conf"] == "pyspark.daemon", got
    assert {r["daemon"] for r in got["runs"][0]} == {"zipimport"}, got


@needs_two_cpus
def test_workers_that_cannot_import_the_package_keep_the_default_daemon(tmp_path):
    """A driver that imports the package from a directory the workers do
    not search gets Spark's default daemon, and its pandas kernels run."""
    got = _daemon_child(tmp_path, "hidden")
    assert got["conf"] is None, got
    assert {r["daemon"] for r in got["runs"][0]} == {"zipimport"}, got
    assert got["ewma_rows"] == 100, got
