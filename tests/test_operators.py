"""Operator-layer tests: reshape, clustering (tsam golden parity),
reportdata ingestion, ldc at scale.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from energy_pandas_spark import EnergyFrame
from energy_pandas_spark.operators.clustering import (
    _ward_labels,
    discretize_grouped,
    typical_periods_reconstruct,
)
from energy_pandas_spark.operators.reshape import infer_step_seconds, unstack_to_periods
from energy_pandas_spark.operators import analytics
from energy_pandas_spark.sources.reportdata import (
    from_reportdata,
    from_reportdata_pivot,
)


def _ward_labels_loop(X: np.ndarray, n_clusters: int) -> np.ndarray:
    """The one-pair-at-a-time Ward merge loop that ``_ward_labels``
    replaced, kept as its reference."""
    P = X.shape[0]
    if n_clusters >= P:
        return np.arange(P)
    sq = ((X[:, None, :] - X[None, :, :]) ** 2).sum(axis=2)
    d = sq.copy().astype(float)
    np.fill_diagonal(d, np.inf)
    sizes = np.ones(P)
    active = list(range(P))
    members: dict[int, list[int]] = {i: [i] for i in range(P)}
    while len(active) > n_clusters:
        sub = d[np.ix_(active, active)]
        k = np.argmin(sub)
        ai, aj = divmod(k, len(active))
        i, j = active[ai], active[aj]
        if i > j:
            i, j = j, i
        ni, nj = sizes[i], sizes[j]
        for m in active:
            if m in (i, j):
                continue
            nm = sizes[m]
            d_new = (
                (ni + nm) * d[i, m] + (nj + nm) * d[j, m] - nm * d[i, j]
            ) / (ni + nj + nm)
            d[i, m] = d[m, i] = d_new
        sizes[i] = ni + nj
        members[i].extend(members.pop(j))
        active.remove(j)
        d[j, :] = np.inf
        d[:, j] = np.inf
    labels = np.empty(P, dtype=int)
    for ci, root in enumerate(sorted(members)):
        labels[np.array(members[root])] = ci
    return labels


class TestClustering:
    def test_ward_labels_match_the_merge_loop(self):
        # a third of the inputs rounded to 1 decimal, so that many
        # pairs tie and the pick order among ties is checked too
        rng = np.random.default_rng(20261019)
        sizes = [2, 3, 400] + [int(p) for p in rng.integers(4, 400, size=27)]
        for case, P in enumerate(sizes):
            X = rng.random((P, int(rng.integers(1, 48))))
            if case % 3 == 0:
                X = np.round(X, 1)
            n_clusters = int(rng.integers(1, 13))
            want = _ward_labels_loop(X, n_clusters)
            got = _ward_labels(X, n_clusters)
            assert got.dtype == want.dtype
            np.testing.assert_array_equal(got, want, err_msg=f"P={P} n_clusters={n_clusters}")

    def test_tsam_golden_value(self):
        # reference golden: range(100) hourly, 1 typical period ->
        # sum 4235.070422535211 (test_energypandas.py:167-173)
        r = typical_periods_reconstruct(np.arange(100, dtype=float), 24, 1)
        assert abs(r.sum() - 4235.070422535211) < 1e-3

    def test_monotone_improvement(self):
        x = np.arange(100, dtype=float)
        errs = [
            ((typical_periods_reconstruct(x, 24, k).ravel() - x) ** 2).mean()
            for k in (1, 2, 4)
        ]
        assert errs[0] > errs[1] > errs[2]

    def test_discretize_frame_spark(self, spark):
        es = EnergyFrame.from_range(spark, 100, units="degC", name="Temp")
        out = es.discretize_tsam(noTypicalPeriods=1)
        vals = out.collect_values()
        assert abs(sum(vals) - 4235.070422535211) < 1e-3
        assert out.unit == es.unit

    def test_discretize_grouped_parallel(self, spark):
        # two groups, each its own series; reconstruction is per-group
        es = EnergyFrame.from_range(spark, 100, name="v")
        df = es.spark_df
        two = df.withColumn("g", F.lit("a")).union(
            df.withColumn("v", F.col("v") * 2).withColumn("g", F.lit("b"))
        )
        out = discretize_grouped(two, "g", "ts", ["v"], noTypicalPeriods=1)
        sums = {r["g"]: r["s"] for r in out.groupBy("g").agg(F.sum("v").alias("s")).collect()}
        assert abs(sums["a"] - 4235.070422535211) < 1e-3
        assert abs(sums["b"] - 2 * 4235.070422535211) < 1e-3

    def test_discretize_grouped_infers_each_groups_step(self, spark):
        # two hourly meters on grids 30 minutes apart: each is clustered
        # in 24-step days, exactly as when it is discretized alone
        from datetime import datetime, timedelta

        t0 = datetime(2024, 1, 1)
        rows = [
            (g, t0 + timedelta(minutes=off + 60 * i), float((i * 7 + g_i) % 11 + i / 50))
            for g_i, (g, off) in enumerate((("a", 0), ("b", 30)))
            for i in range(24 * 6)
        ]
        df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
        sc = spark.sparkContext
        sc.setJobGroup("discretize-build", "discretize-build")
        try:
            both = discretize_grouped(df, "g", "ts", ["v"], noTypicalPeriods=2)
        finally:
            sc.setJobGroup("", "")
        for g in ("a", "b"):
            one = df.filter(F.col("g") == g)
            solo = discretize_grouped(one, "g", "ts", ["v"], noTypicalPeriods=2)
            got = both.filter(F.col("g") == g).orderBy("ts").select("v").toPandas()["v"]
            want = solo.orderBy("ts").select("v").toPandas()["v"]
            np.testing.assert_array_equal(got.to_numpy(), want.to_numpy(), err_msg=g)
        # the steps are inferred in the kernel: building runs no job
        assert not sc.statusTracker().getJobIdsForGroup("discretize-build")

    def test_discretize_grouped_one_timestamp_group_fails_at_action(self, spark):
        rows = [("a", 3600 * i, float(i % 5)) for i in range(48)] + [("b", 0, 3.0)]
        df = spark.createDataFrame(rows, "g string, t long, v double").selectExpr(
            "g", "timestamp_seconds(t) AS ts", "v"
        )
        out = discretize_grouped(df, "g", "ts", ["v"], noTypicalPeriods=1)
        with pytest.raises(Exception, match="cannot infer step from fewer than 2 rows"):
            out.collect()

    @pytest.mark.parametrize("n", [4, 10])
    def test_series_shorter_than_half_a_period(self, n):
        # the head is repeated to complete the period, not cut short
        r = typical_periods_reconstruct(np.arange(n, dtype=float), 24, 2)
        assert r.shape == (n, 1)
        assert np.isfinite(r).all()

    def test_discretize_grouped_short_group(self, spark):
        rows = [("a", 3600 * i, float(i % 5)) for i in range(48)] + [
            ("b", 3600 * i, float(i)) for i in range(4)
        ]
        df = spark.createDataFrame(rows, "g string, t long, v double").selectExpr(
            "g", "timestamp_seconds(t) AS ts", "v"
        )
        out = discretize_grouped(df, "g", "ts", ["v"], noTypicalPeriods=2).toPandas()
        assert out.groupby("g").size().to_dict() == {"a": 48, "b": 4}
        assert np.isfinite(out["v"]).all()


class TestReshape:
    def test_unstack(self, spark):
        es = EnergyFrame.from_range(spark, 96, name="v")
        mat = unstack_to_periods(es.spark_df, "ts", "v", 24).collect()
        assert len(mat) == 4
        first = mat[0]
        assert first["period"] == 0 and first["s0"] == 0.0 and first["s23"] == 23.0
        assert mat[3]["s23"] == 95.0

    def test_infer_step(self, spark):
        es = EnergyFrame.from_range(spark, 10, frequency="15min", name="v")
        assert infer_step_seconds(es.spark_df, "ts") == 900


class TestReportData:
    @pytest.fixture(scope="class")
    def reportdata(self, spark):
        # F4-style fixture: hourly reports with duplicate timestamps and
        # two KeyValues
        rows = []
        ti = 0
        for day in (1, 2):
            for hour in range(1, 25):
                ti += 1
                for key in ("Zone A", "Zone B"):
                    value = float(hour * (1 if key == "Zone A" else 10))
                    rows.append((ti, 1, day, hour, 0, 60, value, "J", "Var", key))
        return spark.createDataFrame(
            rows,
            "TimeIndex long, Month int, Day int, Hour int, Minute int, "
            "Interval int, Value double, Units string, Name string, KeyValue string",
        )

    def test_series_dedup_sum(self, spark, reportdata):
        ef = from_reportdata(reportdata, name="load", base_year=2018)
        pdf = ef.to_pandas()
        # both zones summed per timestamp: hour*(1+10)
        assert len(pdf) == 48
        assert pdf["load"].iloc[0] == 11.0  # hour 1 -> ts 2018-01-01 00:00
        assert str(ef.units["load"]) == "J"
        # interval shift: first stamp is hour1 - 60min = midnight
        assert pdf["ts"].iloc[0].hour == 0

    def test_series_agg_mean(self, spark, reportdata):
        ef = from_reportdata(reportdata, name="load", agg_func="mean")
        pdf = ef.to_pandas()
        assert pdf["load"].iloc[0] == 5.5  # mean(1, 10)

    def test_mixed_units_raise(self, spark, reportdata):
        bad = reportdata.withColumn(
            "Units",
            F.when(F.col("KeyValue") == "Zone A", "J").otherwise("W"),
        )
        with pytest.raises(ValueError, match="mixed units"):
            from_reportdata(bad)

    def test_hour_24_rolls_over(self, spark, reportdata):
        ef = from_reportdata(reportdata, name="load")
        pdf = ef.to_pandas()
        # hour 24 of day 1, shifted back 60min -> 23:00 day 1
        assert pdf["ts"].iloc[23].hour == 23 and pdf["ts"].iloc[23].day == 1
        # hour 1 of day 2, shifted -> 00:00 day 2
        assert pdf["ts"].iloc[24].hour == 0 and pdf["ts"].iloc[24].day == 2

    def test_pivot(self, spark, reportdata):
        ef = from_reportdata_pivot(reportdata, key_values=["Zone A", "Zone B"])
        pdf = ef.to_pandas()
        assert set(ef.value_cols) == {"Zone A", "Zone B"}
        assert len(pdf) == 48
        assert np.allclose(pdf["Zone B"], pdf["Zone A"] * 10)
        assert str(ef.units["Zone A"]) == "J"

    def test_normalize_and_sort(self, spark, reportdata):
        ef = from_reportdata(reportdata, name="load", normalize=True)
        vals = ef.spark_df.select("load").toPandas()["load"]
        assert vals.min() == 0.0 and vals.max() == 1.0
        ef2 = from_reportdata(reportdata, name="load", sort_values=True)
        vals2 = list(ef2.spark_df.select("load").toPandas()["load"])
        assert vals2 == sorted(vals2, reverse=True)


class TestResample:
    def test_fixed_width_buckets(self, spark):
        from energy_pandas_spark.operators.analytics import resample

        df = spark.createDataFrame(
            [("2024-01-01 00:10:00", 1.0), ("2024-01-01 00:20:00", 3.0),
             ("2024-01-01 00:40:00", 5.0), ("2024-01-01 01:05:00", 7.0)],
            "ts string, v double",
        ).selectExpr("CAST(ts AS TIMESTAMP) AS ts", "v")
        out = resample(df, "ts", "30 minutes", ["v"], agg="avg").collect()
        assert [(str(r.ts), r.v) for r in out] == [
            ("2024-01-01 00:00:00", 2.0),
            ("2024-01-01 00:30:00", 5.0),
            ("2024-01-01 01:00:00", 7.0),
        ]

    def test_calendar_bucket(self, spark):
        from energy_pandas_spark.operators.analytics import resample

        df = spark.createDataFrame(
            [("2024-01-15", 2.0), ("2024-02-10", 4.0), ("2024-02-20", 6.0)],
            "ts string, v double",
        ).selectExpr("CAST(ts AS TIMESTAMP) AS ts", "v")
        out = resample(df, "ts", "month", ["v"], agg="avg").collect()
        assert [(str(r.ts), r.v) for r in out] == [
            ("2024-01-01 00:00:00", 2.0),
            ("2024-02-01 00:00:00", 5.0),
        ]

    def test_frame_method_keeps_units_and_freq(self, spark):
        from energy_pandas_spark.core.frame import EnergyFrame
        from energy_pandas_spark.units import unit_registry as ur

        ef = EnergyFrame.from_range(spark, 48, units="degC", name="Temp")
        out = ef.resample("6 hours")
        assert out.units["Temp"] == ur.parse("degC")
        assert out.meta["frequency"] == "6 hours"
        # 48 hourly points span 48h -> 8 six-hour buckets
        assert out.spark_df.count() == 8

    def test_bad_freq_raises(self, spark):
        from energy_pandas_spark.operators.analytics import resample
        import pytest as _pt

        df = spark.range(1).selectExpr("CAST('2024-01-01' AS TIMESTAMP) ts", "1.0 v")
        with _pt.raises(ValueError):
            resample(df, "ts", "2 months", ["v"])
        with _pt.raises(ValueError):
            resample(df, "ts", "fortnight", ["v"])


class TestFillGaps:
    def _series(self, spark):
        return spark.createDataFrame(
            [("2024-01-01 00:00:00", "a", 10.0),
             ("2024-01-01 03:00:00", "a", 40.0),
             ("2024-01-01 01:00:00", "b", 5.0)],
            "ts string, k string, v double",
        ).selectExpr("CAST(ts AS TIMESTAMP) AS ts", "k", "v")

    def test_ffill(self, spark):
        from energy_pandas_spark.operators.analytics import fill_gaps

        out = fill_gaps(
            self._series(spark), "ts", "1 hour", "v", by="k", method="ffill"
        ).orderBy("k", "ts").collect()
        a = [(str(r.ts), r.v, r.is_gap) for r in out if r.k == "a"]
        assert a == [
            ("2024-01-01 00:00:00", 10.0, False),
            ("2024-01-01 01:00:00", 10.0, True),
            ("2024-01-01 02:00:00", 10.0, True),
            ("2024-01-01 03:00:00", 40.0, False),
        ]
        b = [(str(r.ts), r.v, r.is_gap) for r in out if r.k == "b"]
        assert b == [("2024-01-01 01:00:00", 5.0, False)]

    def test_linear(self, spark):
        from energy_pandas_spark.operators.analytics import fill_gaps

        out = fill_gaps(
            self._series(spark), "ts", "1 hour", "v", by="k", method="linear"
        ).orderBy("k", "ts").collect()
        a = [(str(r.ts), r.v) for r in out if r.k == "a"]
        assert a == [
            ("2024-01-01 00:00:00", 10.0),
            ("2024-01-01 01:00:00", 20.0),
            ("2024-01-01 02:00:00", 30.0),
            ("2024-01-01 03:00:00", 40.0),
        ]

    def test_bad_method_and_calendar_freq(self, spark):
        from energy_pandas_spark.operators.analytics import fill_gaps
        import pytest as _pt

        df = self._series(spark)
        with _pt.raises(ValueError):
            fill_gaps(df, "ts", "1 hour", "v", method="cubic")
        with _pt.raises(ValueError):
            fill_gaps(df, "ts", "month", "v")


class TestDiff:
    def test_keyed_diff(self, spark):
        from energy_pandas_spark.operators.analytics import diff

        df = spark.createDataFrame(
            [("2024-01-01 00:00:00", "a", 100.0),
             ("2024-01-01 01:00:00", "a", 130.0),
             ("2024-01-01 02:00:00", "a", 190.0),
             ("2024-01-01 00:00:00", "b", 7.0)],
            "ts string, k string, v double",
        ).selectExpr("CAST(ts AS TIMESTAMP) AS ts", "k", "v")
        out = diff(df, "ts", ["v"], by="k").orderBy("k", "ts").collect()
        a = [r.v for r in out if r.k == "a"]
        assert a == [None, 30.0, 60.0]
        assert [r.v for r in out if r.k == "b"] == [None]

    def test_frame_method_units(self, spark):
        from energy_pandas_spark.core.frame import EnergyFrame
        from energy_pandas_spark.units import unit_registry as ur

        ef = EnergyFrame.from_range(spark, 5, units="degC", name="Temp")
        d = ef.diff()
        assert d.units["Temp"] == ur.parse("degC")
        vals = [r.Temp for r in d.spark_df.orderBy("ts").collect()]
        assert vals == [None, 1.0, 1.0, 1.0, 1.0]


class TestZscore:
    def test_grouped_and_constant_group(self, spark):
        from energy_pandas_spark.operators.analytics import zscore_outliers

        df = spark.createDataFrame(
            [("a", 0.0), ("a", 10.0), ("b", 5.0), ("b", 5.0)],
            "k string, v double",
        )
        out = zscore_outliers(df, "v", by="k", threshold=0.5).collect()
        a = sorted(r.zscore for r in out if r.k == "a")
        # mean 5, stddev_samp ~7.071 -> z = ±0.7071
        assert abs(a[0] + 0.7071) < 1e-3 and abs(a[1] - 0.7071) < 1e-3
        assert all(r.is_outlier for r in out if r.k == "a")
        # zero-variance group: z=0, never an outlier
        assert all(r.zscore == 0.0 and not r.is_outlier for r in out if r.k == "b")

    def test_global_uses_broadcast(self, spark):
        from energy_pandas_spark.operators.analytics import zscore_outliers
        from energy_pandas_spark.plans import broadcast_join_count

        df = spark.range(100).selectExpr("CAST(id AS DOUBLE) v")
        out = zscore_outliers(df, "v")
        assert broadcast_join_count(out) >= 1
        assert out.filter("is_outlier").count() == 0  # uniform range


class TestLdcScale:
    def test_distributed_matches_window(self, spark):
        from pyspark.sql import Window

        df = spark.range(5000).select(
            (F.hash("id") % 1000).cast("double").alias("v")
        )
        a = analytics.ldc(df, "v").collect()
        # oracle: one row_number window over the whole frame
        w = Window.orderBy(F.desc_nulls_last("v"))
        b = df.select((F.row_number().over(w) - 1).alias("idx"), "v").collect()
        assert [r["v"] for r in sorted(a, key=lambda r: r["idx"])] == [
            r["v"] for r in sorted(b, key=lambda r: r["idx"])
        ]
        assert sorted(r["idx"] for r in a) == list(range(5000))

    def test_global_order_index_releases_its_persist(self, spark):
        from energy_pandas_spark.util import release_caches

        spark.catalog.clearCache()
        df = spark.range(200).select((F.col("id") % 7).alias("v"), "id")
        out = analytics.global_order_index(df, [F.desc("v"), F.asc("id")])
        assert out.count() == 200
        jcm = spark._jsparkSession.sharedState().cacheManager()
        assert not jcm.isEmpty()
        release_caches(out)
        assert jcm.isEmpty()


def test_ewma_matches_pandas(spark):
    import pandas as pd
    from energy_pandas_spark.operators.windows import ewma

    rows = [
        ("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 15.0), ("a", 4, 0.0),
        ("b", 1, 5.0), ("b", 2, 5.0),
    ]
    df = spark.createDataFrame(rows, "k string, t long, v double")
    got = {
        (r.k, r.t): r.ewma
        for r in ewma(df, "t", "v", alpha=0.5, by="k").collect()
    }
    for k in ("a", "b"):
        s = pd.Series([v for kk, _, v in rows if kk == k])
        exp = s.ewm(alpha=0.5, adjust=False).mean().tolist()
        ts = [t for kk, t, _ in rows if kk == k]
        for t, e in zip(ts, exp):
            assert got[(k, t)] == pytest.approx(e)


def test_degree_days(spark):
    from energy_pandas_spark.operators.analytics import degree_days

    rows = [
        ("2020-01-01 00:00:00", 10.0), ("2020-01-01 12:00:00", 14.0),  # avg 12 -> hdd 6
        ("2020-07-01 00:00:00", 25.0), ("2020-07-01 12:00:00", 31.0),  # avg 28 -> cdd 10
        ("2020-04-01 00:00:00", 18.0),                                  # exactly base
    ]
    df = spark.createDataFrame(rows, "ts string, temp double").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = {str(r.day): r for r in degree_days(df, "ts", "temp").collect()}
    assert out["2020-01-01"].hdd == 6.0 and out["2020-01-01"].cdd == 0.0
    assert out["2020-07-01"].cdd == 10.0 and out["2020-07-01"].hdd == 0.0
    assert out["2020-04-01"].hdd == 0.0 and out["2020-04-01"].cdd == 0.0


def test_quantize_int8_roundtrip(spark):
    from energy_pandas_spark.functions.vectors import dequantize_int8, quantize_int8

    df = spark.createDataFrame(
        [(0, [1.0, -2.0, 0.5, 254.0]), (1, [0.0, 0.0])],
        "vec_id long, v array<double>",
    )
    out = df.select(
        "vec_id", "v", quantize_int8("v").alias("qs")
    ).withColumn("recon", dequantize_int8("qs"))
    rows = {r.vec_id: r for r in out.collect()}
    q0 = rows[0].qs
    assert q0.scale == pytest.approx(2.0) and q0.q == [1, -1, 0, 127]
    # max reconstruction error bounded by scale/2
    for orig, rec in zip(rows[0].v, rows[0].recon):
        assert abs(orig - rec) <= q0.scale / 2 + 1e-9
    assert rows[1].qs.scale == 0.0 and rows[1].qs.q == [0, 0]


def test_ewma_group_straddles_arrow_batches(spark):
    """A key's series split across Arrow batches must stitch into ONE
    recursion (the held-back trailing-group path)."""
    import pandas as pd
    from energy_pandas_spark.operators.windows import ewma

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        rows = [("a", t, float(t * 7 % 13)) for t in range(1, 11)] + [
            ("b", t, float(t)) for t in range(1, 6)
        ]
        df = spark.createDataFrame(rows, "k string, t long, v double").coalesce(1)
        got = {
            (r.k, r.t): r.ewma
            for r in ewma(df, "t", "v", alpha=0.4, by="k").collect()
        }
        for k, n in (("a", 10), ("b", 5)):
            vals = [v for kk, _, v in rows if kk == k]
            exp = pd.Series(vals).ewm(alpha=0.4, adjust=False).mean().tolist()
            for t, e in zip(range(1, n + 1), exp):
                assert got[(k, t)] == pytest.approx(e), (k, t)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_time_weighted_avg(spark):
    from energy_pandas_spark.operators.analytics import time_weighted_avg

    # value 10 held for 60s, then 20 held for 180s, then 0 (no weight)
    rows = [
        ("a", "2020-01-01 00:00:00", 10.0),
        ("a", "2020-01-01 00:01:00", 20.0),
        ("a", "2020-01-01 00:04:00", 0.0),
        ("b", "2020-01-01 00:00:00", 5.0),
        ("b", "2020-01-01 00:00:30", 7.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts_s string, v double").select(
        "k", F.to_timestamp("ts_s").alias("ts"), "v"
    )
    out = {r.k: r for r in time_weighted_avg(df, "ts", "v", by="k").collect()}
    assert out["a"].twa == pytest.approx((10 * 60 + 20 * 180) / 240)
    assert out["a"].span_seconds == 240.0 and out["a"].n_samples == 3
    assert out["b"].twa == pytest.approx(5.0)  # only the first sample holds


# ---------------------------------------------------------------------------
# linear_fit / robust_scale
# ---------------------------------------------------------------------------


def test_linear_fit_exact_line_and_degenerate(spark):
    from energy_pandas_spark.operators.analytics import linear_fit

    rows = [("a", float(x), 2.0 * x + 1.0) for x in range(10)]
    rows += [("b", 1.0, 5.0), ("b", 1.0, 7.0)]   # zero x-variance
    rows += [("c", 3.0, 9.9)]                     # n < 2
    df = spark.createDataFrame(rows, "g string, x double, y double")
    got = {r["g"]: r for r in linear_fit(df, "x", "y", by="g").collect()}
    assert abs(got["a"]["slope"] - 2.0) < 1e-12
    assert abs(got["a"]["intercept"] - 1.0) < 1e-12
    assert abs(got["a"]["r2"] - 1.0) < 1e-12
    assert got["b"]["slope"] is None and got["c"]["slope"] is None


def test_linear_fit_single_shuffle_plan(spark):
    from energy_pandas_spark.operators.analytics import linear_fit

    df = spark.createDataFrame(
        [("a", 1.0, 2.0)], "g string, x double, y double"
    )
    plan = linear_fit(df, "x", "y", by="g")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1


def test_robust_scale_known_quartiles(spark):
    from energy_pandas_spark.operators.analytics import robust_scale

    # values 0..8: q1=2, med=4, q3=6, iqr=4
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(9)], "id long, value double"
    )
    got = {r["id"]: r["value"] for r in robust_scale(df).collect()}
    assert abs(got[4] - 0.0) < 1e-12
    assert abs(got[8] - 1.0) < 1e-12
    assert abs(got[0] + 1.0) < 1e-12

    const = spark.createDataFrame([(i, 5.0) for i in range(4)], "id long, value double")
    assert all(r["value"] == 0.0 for r in robust_scale(const).collect())


def test_topk_per_group_deterministic_with_ties(spark):
    from energy_pandas_spark.operators.analytics import topk_per_group

    rows = [("a", 5.0, 1), ("a", 5.0, 2), ("a", 3.0, 3), ("b", 1.0, 4)]
    df = spark.createDataFrame(rows, "g string, v double, id long")
    got = topk_per_group(
        df, by="g", order_by=[F.desc("v"), F.asc("id")], k=2
    ).collect()
    by_g = {}
    for r in got:
        by_g.setdefault(r["g"], []).append((r["rank"], r["id"]))
    assert sorted(by_g["a"]) == [(1, 1), (2, 2)]  # tie broken by id
    assert by_g["b"] == [(1, 4)]

    dense = topk_per_group(
        df, by="g", order_by=[F.desc("v")], k=1, dense=True
    ).collect()
    # dense_rank keeps BOTH tied rows at rank 1
    assert len([r for r in dense if r["g"] == "a"]) == 2


def test_topk_per_group_no_global_sort(spark):
    from energy_pandas_spark.operators.analytics import topk_per_group

    df = spark.createDataFrame([("a", 1.0, 1)], "g string, v double, id long")
    plan = topk_per_group(
        df, by="g", order_by=[F.desc("v"), F.asc("id")], k=2
    )._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert plan.count("Exchange") == 1


def test_funnel_ordered_and_within(spark):
    from energy_pandas_spark.operators.behavior import funnel

    rows = [
        # u1 completes in order; u2 clicks BEFORE viewing (no conversion);
        # u3 views only; u4 completes but too slowly for within=60
        (1, "view", "2024-01-01 10:00:00"), (1, "click", "2024-01-01 10:00:10"),
        (1, "purchase", "2024-01-01 10:00:20"),
        (2, "click", "2024-01-01 09:00:00"), (2, "view", "2024-01-01 09:30:00"),
        (3, "view", "2024-01-01 08:00:00"),
        (4, "view", "2024-01-01 00:00:00"), (4, "click", "2024-01-01 01:00:00"),
        (4, "purchase", "2024-01-01 02:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    got = {r["step"]: r["n_users"] for r in funnel(df, ["view", "click", "purchase"]).collect()}
    assert got == {"view": 4, "click": 2, "purchase": 2}

    tight = {r["step"]: r["n_users"] for r in
             funnel(df, ["view", "click", "purchase"], within_seconds=60).collect()}
    assert tight == {"view": 4, "click": 1, "purchase": 1}


def test_cohort_retention_triangle(spark):
    from energy_pandas_spark.operators.behavior import cohort_retention

    rows = [
        (1, "2024-01-01 12:00:00"),  # Monday, week A
        (1, "2024-01-09 12:00:00"),  # week A+1
        (2, "2024-01-02 12:00:00"),  # week A
        (3, "2024-01-10 12:00:00"),  # week A+1 cohort
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    got = {(str(r["cohort"]), r["period_offset"]): r["n_active"]
           for r in cohort_retention(df, period="week").collect()}
    assert got[("2024-01-01", 0)] == 2      # u1, u2 in week A
    assert got[("2024-01-01", 1)] == 1      # u1 returns
    assert got[("2024-01-08", 0)] == 1      # u3's own cohort


def test_skew_stats_flags_heavy_key(spark):
    from energy_pandas_spark.operators.analytics import skew_stats

    rows = [("hot", i) for i in range(90)] + [("a", 1), ("b", 2)]
    df = spark.createDataFrame(rows, "k string, v long")
    got = skew_stats(df, "k", top=2).collect()
    assert got[0]["k"] == "hot" and got[0]["n_rows"] == 90
    # 3 keys, 92 rows: uniform share would be ~30.7 rows -> factor ~2.93
    assert got[0]["skew_factor"] > 2.9
    assert abs(got[0]["row_share"] - 90 / 92) < 1e-6


def test_fill_gaps_ffill_limit(spark):
    from energy_pandas_spark.operators.analytics import fill_gaps

    rows = [
        ("a", "2024-01-01 00:00:00", 1.0),
        # 3-bucket hole: 01, 02, 03
        ("a", "2024-01-01 04:00:00", 5.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts string, v double").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = {
        str(r["ts"]): r["v"]
        for r in fill_gaps(df, "ts", "1 hour", "v", by="k", limit=1).collect()
    }
    assert out["2024-01-01 00:00:00"] == 1.0
    assert out["2024-01-01 01:00:00"] == 1.0   # 1 step: filled
    assert out["2024-01-01 02:00:00"] is None  # beyond limit
    assert out["2024-01-01 03:00:00"] is None
    assert out["2024-01-01 04:00:00"] == 5.0

    # limit=None keeps the old unlimited behavior
    full = {
        str(r["ts"]): r["v"]
        for r in fill_gaps(df, "ts", "1 hour", "v", by="k").collect()
    }
    assert full["2024-01-01 03:00:00"] == 1.0


def test_rolling_fit_exact_line_in_window(spark):
    from energy_pandas_spark.operators.analytics import rolling_fit

    # y = 3x + 2 sampled every minute: every window sees a perfect line
    rows = [
        ("a", f"2024-01-01 00:{m:02d}:00", float(m), 3.0 * m + 2.0)
        for m in range(10)
    ]
    df = spark.createDataFrame(
        rows, "k string, ts string, x double, y double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = rolling_fit(df, "ts", "x", "y", window_seconds=180, by="k").collect()
    for r in out:
        if r["n_window"] >= 2:
            assert abs(r["slope"] - 3.0) < 1e-9
            assert abs(r["r2"] - 1.0) < 1e-9
        else:
            assert r["slope"] is None  # first row: single-point window
    # trailing 3-minute window holds at most 4 points
    assert max(r["n_window"] for r in out) == 4


def test_rolling_fit_exact_mode_matches_float_mode(spark):
    """exact=True (integer-tick sufficient stats + centered co-moments
    in exact arithmetic) is the same MATH as the float path — on
    integer-valued inputs the two modes must agree to float noise, and
    the exact mode must survive a perfect-line window (den exactly 0
    on duplicate x would be NULL, not a crash)."""
    import random

    from energy_pandas_spark.operators.analytics import rolling_fit

    rng = random.Random(11)
    rows = [
        (
            "a",
            f"2024-01-01 00:{m:02d}:{rng.randrange(60):02d}",
            float(m * 60),            # second ticks — integer-valued
            float(rng.randrange(-10_000, 10_000)),  # cent ticks
        )
        for m in range(30)
    ]
    fdf = spark.createDataFrame(
        rows, "k string, ts string, x double, y double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    edf = fdf.select(
        "k",
        "ts",
        F.col("x").cast("decimal(14,0)").alias("x"),
        F.col("y").cast("decimal(15,0)").alias("y"),
    )
    for kwargs in ({}, {"bucket_seconds": 120}):
        flo = {
            str(r["ts"]): (r["n_window"], r["slope"], r["r2"])
            for r in rolling_fit(
                fdf, "ts", "x", "y", 600, by="k", **kwargs
            ).collect()
        }
        exa = {
            str(r["ts"]): (r["n_window"], r["slope"], r["r2"])
            for r in rolling_fit(
                edf, "ts", "x", "y", 600, by="k", exact=True, **kwargs
            ).collect()
        }
        assert flo.keys() == exa.keys()
        for ts, (nf, sf, rf) in flo.items():
            ne, se, re_ = exa[ts]
            assert nf == ne
            # NULL-ness must agree BOTH ways — a one-sided NULL (e.g.
            # a guard firing in only one mode) is a regression, not a
            # skip
            assert (sf is None) == (se is None), (ts, sf, se)
            if sf is not None:
                assert abs(sf - se) <= 1e-6 * max(1.0, abs(sf)), (ts, sf, se)
            assert (rf is None) == (re_ is None), (ts, rf, re_)
            if rf is not None:
                assert abs(rf - re_) <= 1e-6


def test_rolling_fit_bucketed_equals_perrow_at_boundaries(spark):
    """The bucketed sufficient-stats path must reproduce the per-row
    fit exactly when anchored at bucket-boundary timestamps."""
    from energy_pandas_spark.operators.analytics import rolling_fit

    import random

    rng = random.Random(3)
    rows = []
    for m in range(0, 120):  # two hours of minutely points, on-boundary
        rows.append(
            ("a", f"2024-01-01 {m // 60:02d}:{m % 60:02d}:00",
             float(m), rng.uniform(0, 10) + 0.5 * m)
        )
    df = spark.createDataFrame(
        rows, "k string, ts string, x double, y double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    def norm(rows):
        return {
            str(r["ts"]): (
                r["n_window"],
                None if r["slope"] is None else round(r["slope"], 9),
            )
            for r in rows
        }

    per_row = norm(rolling_fit(df, "ts", "x", "y", 1800, by="k").collect())
    bucketed = norm(
        rolling_fit(
            df, "ts", "x", "y", 1800, by="k", bucket_seconds=60
        ).collect()
    )
    # every input row sits on a 60s boundary, so the grains coincide
    assert bucketed == per_row


def test_rolling_fit_bucketed_plan_two_exchanges(spark):
    from energy_pandas_spark.operators.analytics import rolling_fit

    df = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00", 1.0, 2.0)],
        "k string, ts string, x double, y double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    plan = (
        rolling_fit(df, "ts", "x", "y", 3600, by="k", bucket_seconds=60)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # bucket aggregate + key window — nothing else, no SinglePartition
    assert plan.count("Exchange") == 2
    assert "SinglePartition" not in plan
    # exact mode must keep the identical physical shape (decimal sums
    # change the aggregate BUFFER, never the exchanges)
    eplan = (
        rolling_fit(
            df.select(
                "k", "ts",
                F.col("x").cast("decimal(14,0)").alias("x"),
                F.col("y").cast("decimal(15,0)").alias("y"),
            ),
            "ts", "x", "y", 3600, by="k", bucket_seconds=60, exact=True,
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert eplan.count("Exchange") == 2
    assert "SinglePartition" not in eplan


def test_minhash_dedup_keep_best(spark):
    from energy_pandas_spark.operators.dedup import (
        minhash_dedup,
        minhash_dedup_keep_best,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox leaps over the lazy dog again and again today"
    other = "completely different content about catalyst planning and shuffles"
    df = spark.createDataFrame(
        [
            (0, base, 0.2),
            (1, near, 0.9),  # the better-written near-dup
            (2, other, 0.5),
        ],
        "doc_id long, text string, quality double",
    )
    kw = dict(num_hashes=64, bands=32, shingle_size=2, threshold=0.3)
    # id rule keeps 0; quality rule keeps 1
    assert {r.doc_id for r in minhash_dedup(df, **kw).collect()} == {1}
    drops = minhash_dedup_keep_best(df, "quality", **kw)
    assert {r.doc_id for r in drops.collect()} == {0}
    # quality tie falls back to the smallest id
    tied = df.withColumn("quality", F.lit(1.0))
    assert {
        r.doc_id for r in minhash_dedup_keep_best(tied, "quality", **kw).collect()
    } == {1}


def test_dedup_incremental_bloom_fast_path(spark):
    import numpy as np

    from energy_pandas_spark.functions.bloom import (
        build_bloom,
        build_bloom_distributed,
    )
    from energy_pandas_spark.operators.dedup import dedup_incremental

    store_docs = spark.createDataFrame(
        [(i, f"historical doc number {i}") for i in range(50)],
        "doc_id long, text string",
    )
    store = store_docs.select(
        F.md5(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))).alias(
            "digest"
        )
    )
    new = spark.createDataFrame(
        [(100, "historical doc number 7"), (101, "genuinely new content"),
         (102, "genuinely new content"), (103, "another fresh one")],
        "doc_id long, text string",
    )
    plain = dedup_incremental(new, store).select("doc_id")
    # distributed builder == driver builder on the same member hashes
    hashed = store.select(F.xxhash64("digest").alias("h"))
    bits = build_bloom_distributed(hashed, "h", n_bits=1 << 16)
    local = build_bloom(
        np.array([r.h for r in hashed.collect()], np.int64), n_bits=1 << 16
    )
    assert (bits == local).all()
    fast = dedup_incremental(new, store, store_bloom=bits).select("doc_id")
    assert sorted(r.doc_id for r in plain.collect()) == sorted(
        r.doc_id for r in fast.collect()
    ) == [101, 103]


def test_containment_pairs_exact_vs_bruteforce(spark):
    from itertools import combinations

    from energy_pandas_spark.operators.dedup import containment_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    texts = {
        0: base,                                   # the full document
        1: "alpha beta gamma delta epsilon zeta",  # contained prefix
        2: base + " lambda mu nu xi omicron pi rho sigma tau upsilon",
        3: "completely different words about sparks and shuffles here",
        4: "alpha beta gamma delta epsilon zeta",  # exact dup of 1
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(df, threshold=0.8, shingle_size=3).collect()
    }

    def shingles(t):
        toks = t.split()
        if len(toks) < 3:
            return {t}
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    expect = {}
    for a, b in combinations(sorted(texts), 2):
        sa, sb = shingles(texts[a]), shingles(texts[b])
        inter = len(sa & sb)
        if inter >= 0.8 * min(len(sa), len(sb)):
            expect[(a, b)] = round(inter / min(len(sa), len(sb)), 6)
    assert got == expect
    # the signature subset-dup cases are present
    assert (0, 1) in got and (0, 2) in got and (1, 4) in got


def test_containment_pairs_partition_invariant(spark):
    from energy_pandas_spark.operators.dedup import containment_pairs

    df = spark.createDataFrame(
        [(i, f"w{i} common one two three four five six seven") for i in range(12)],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, containment_pairs(df, threshold=0.7).collect()))
    b = sorted(
        map(tuple, containment_pairs(df.repartition(7), threshold=0.7).collect())
    )
    assert a == b


def test_containment_dedup_chain(spark):
    from energy_pandas_spark.operators.dedup import containment_dedup

    a = "alpha beta gamma delta epsilon zeta"
    b = a + " eta theta iota kappa"
    c = b + " lambda mu nu xi omicron"
    df = spark.createDataFrame(
        [(0, a), (1, b), (2, c), (3, "unrelated text about other things entirely")],
        "doc_id long, text string",
    )
    drops = {r.doc_id for r in containment_dedup(df, threshold=0.8).collect()}
    # the chain drops the two contained docs; the superset and the
    # unrelated doc survive
    assert drops == {0, 1}


def test_dedup_bursts_semantics(spark):
    from datetime import datetime

    from energy_pandas_spark.operators.analytics import dedup_bursts

    rows = [
        # user 1 / type a: burst of three (the 2nd sits EXACTLY at the
        # tolerance boundary — session_window chains it; the oracle's
        # strict > matches), then a separate event far later
        (1, datetime(2024, 1, 1, 0, 0, 0), 1, "a", 1.0),
        (2, datetime(2024, 1, 1, 0, 2, 0), 1, "a", 2.0),
        (3, datetime(2024, 1, 1, 0, 3, 59), 1, "a", 3.0),
        (4, datetime(2024, 1, 1, 1, 0, 0), 1, "a", 4.0),
        # same user, different type: independent bursts
        (5, datetime(2024, 1, 1, 0, 0, 30), 1, "b", 5.0),
        # tie on ts: smallest event_id wins
        (7, datetime(2024, 1, 1, 0, 0, 0), 2, "a", 7.0),
        (6, datetime(2024, 1, 1, 0, 0, 0), 2, "a", 6.0),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    kept = sorted(
        r.event_id for r in dedup_bursts(df, tolerance="2 minutes").collect()
    )
    assert kept == [1, 4, 5, 6]


def test_minhash_agg_kernel_matches_explode_aggregate(spark):
    """r7 optimization pin: the vectorized mapInPandas minima kernel in
    _minhash_agg must reproduce the explode + 64-column min
    hash-aggregate it replaced EXACTLY — same rows, same minima — on a
    corpus exercising the edge cases: NULL text, empty text (no
    shingles -> no signature row), short text (< shingle_size tokens ->
    one padded shingle), and a duplicate id (minima merge across the
    id's rows)."""
    from energy_pandas_spark.operators.dedup import (
        _minhash_agg,
        _minhash_coeffs,
        _shingle_sets,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox leaps over the lazy dog"),
            (2, None),
            (3, ""),
            (4, "short"),
            (5, "completely different words in this one here"),
            (5, "duplicate id second row with other tokens entirely"),
        ],
        "doc_id long, text string",
    )
    num_hashes, shingle_size, seed = 16, 3, 13
    p = (1 << 31) - 1
    pl = F.lit(p).cast("long")
    exploded = _shingle_sets(df, "text", "doc_id", shingle_size).select(
        "doc_id",
        F.explode(
            F.transform("__sh", lambda s: F.pmod(F.xxhash64(s), pl))
        ).alias("__h"),
    )
    ref = exploded.groupBy("doc_id").agg(
        *[
            F.min(
                F.pmod(
                    F.col("__h") * F.lit(a).cast("long")
                    + F.lit(b).cast("long"),
                    pl,
                )
            ).alias(f"m{i}")
            for i, (a, b) in enumerate(_minhash_coeffs(num_hashes, seed))
        ]
    )
    new = _minhash_agg(df, "text", "doc_id", num_hashes, shingle_size, seed)
    ref_rows = sorted(ref.collect())
    new_rows = sorted(new.collect())
    assert new_rows == ref_rows
    # NULL text yields no signature row (NULL token array -> NULL
    # shingle array -> no rows either path); empty/short text gets a
    # padded shingle and DOES sign; the duplicate id merges to one row
    ids = [r.doc_id for r in new_rows]
    assert ids == [0, 1, 3, 4, 5]


def test_eager_false_attaches_releasable_caches(spark):
    """ADVICE r6: eager=False must expose its internal persists as a
    release handle (util.release_caches) instead of forcing callers to
    spark.catalog.clearCache() — and the handle must actually empty the
    cache manager while leaving the plan executable."""
    from energy_pandas_spark.operators.dedup import minhash_lsh_pairs
    from energy_pandas_spark.util import release_caches

    # isolate from persists leaked by earlier tests in the shared
    # session: this test asserts cacheManager emptiness, which is only
    # meaningful from a clean slate (tests/test_entry.py owns the
    # "no operator leaks" property; this test owns the release handle)
    spark.catalog.clearCache()

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox leaps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [(0, base), (1, near), (2, "entirely unrelated catalyst text")],
        "doc_id long, text string",
    )
    out = minhash_lsh_pairs(
        df, num_hashes=64, bands=32, shingle_size=2, threshold=0.3,
        eager=False,
    )
    caches = getattr(out, "_eps_caches", ())
    assert len(caches) == 2, "lazy path must attach (shingles, candidates)"
    out.count()  # materialize → internal persists populate
    jcm = spark._jsparkSession.sharedState().cacheManager()
    assert not jcm.isEmpty(), "persists should be live after execution"
    release_caches(out)
    assert jcm.isEmpty(), "release handle must drop exactly these persists"
    assert out._eps_caches == ()  # idempotent second call is a no-op
    release_caches(out)
    assert out.count() >= 1  # plan still valid post-release
