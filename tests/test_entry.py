"""Differential tests of the driver contract: run every ``queries()``
entry on Spark AND its ``oracle_sql()`` in DuckDB over the same parquet,
compare row counts + order-insensitive values (columns sorted by name,
rows sorted) — a local replica of the driver's correctness gate.

Every query also passes two audits on the frame the test built:

- its physical plan holds no ``CartesianProduct`` (an all-pairs join),
  no ``BatchEvalPython`` (row-at-a-time Python; the Arrow-batched
  crossings are fine) and no ``SinglePartition`` exchange unless the
  query is in :data:`SINGLE_PARTITION_OK`. The plan is read from the
  frame's own ``QueryExecution`` before the test's action; planning
  starts no Spark job;
- once the result is materialized and the operator-held persists are
  drained, Spark's ``CacheManager`` is empty: no query leaves a
  persist behind for a later query's plan to pick up.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from energy_pandas_spark.util import drain_tracked_caches
from tests.oracle_compare import (  # shared driver-gate replica
    compare_to_oracle,
    ddb_connect,
)

ORACLES = entrymod.oracle_sql()
QUERIES = entrymod.queries()

# Queries whose plan may hold a SinglePartition exchange. Each funnel
# carries a bounded handful of rows: the final reduce of a global
# aggregate (one row), the per-partition count table whose running sum
# gives ``global_order_index`` its offsets (one row per partition), or
# an un-keyed window over a small table of hours, bins, epochs or
# sources. A query outside this set that acquires such an exchange
# sends its whole input through one task.
SINGLE_PARTITION_OK = frozenset(
    {
        "acf_hourly_events",
        "capacity_factor",
        "ccf_click_error_events",
        "chi2_type_hour_events",
        "collocations_docs",
        "corpus_cardinality",
        "corpus_health_docs",
        "corpus_report_docs",
        "corpus_sketch_stats",
        "curate_corpus_docs",
        "distribution_shift_docs",
        "doc_lm_score",
        "domain_stats_docs",
        "dsir_bigram_select_docs",
        "dsir_resample_docs",
        "dsir_select_docs",
        "epoch_order_docs",
        "hot_users_events",
        "key_skew_event_types",
        "kn3_lm_score_docs",
        "kn_lm_score_docs",
        "ldc",
        "ldc_source",
        "line_dup_stats_docs",
        "minhash_cluster_stats_docs",
        "mixture_plan_docs",
        "normalize_minmax",
        "pack_stats_docs",
        "perplexity_buckets_docs",
        "q11_important_stock",
        "q14_promo_revenue",
        "q15_top_supplier",
        "q17_small_quantity_revenue",
        "q19_disjunctive_revenue",
        "q22_sales_opportunity",
        "q6_forecast_revenue",
        "rfm_users_events",
        "score_agreement_docs",
        "selection_curve_docs",
        "skew_card_events",
        "source_concentration_docs",
        "split_leakage_docs",
        "tfidf_top3",
        "time_at_min",
        "unstack_periods",
        "validate_docs",
        "vocab_coverage_docs",
        "web_corpus_docs",
        "zipf_docs",
    }
)


def _clear_caches(spark):
    # persists left by earlier test files must not count against the
    # query under test
    spark.catalog.clearCache()
    drain_tracked_caches()


def _assert_plan_posture(name, df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: CartesianProduct"
    assert "BatchEvalPython" not in plan, f"{name}: BatchEvalPython"
    assert name in SINGLE_PARTITION_OK or "SinglePartition" not in plan, (
        f"{name}: SinglePartition exchange outside SINGLE_PARTITION_OK"
    )


def _assert_caches_released(spark, name):
    drain_tracked_caches()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        f"{name}: a persist outlives the query"
    )


@pytest.fixture(scope="module")
def ddb(sf_dir):
    return ddb_connect(sf_dir)


def test_oracle_keys_subset_of_queries():
    assert set(ORACLES) <= set(QUERIES)


def test_array_valued_output_rejected():
    """Pin the driver-fidelity contract (r5 red `doc_hashed_embedding`):
    the driver's pandas sort_values canonicalizer crashes on list-valued
    columns, so compare_to_oracle must reject them loudly — the pre-fix
    (doc_id, embedding ARRAY<BIGINT>) shape must reproduce RED locally.
    """
    import duckdb
    import pandas as pd

    spdf = pd.DataFrame({"doc_id": [1, 2], "embedding": [[1, 2], [3, 4]]})
    res = duckdb.connect().execute(
        "SELECT * FROM (VALUES (1, [1, 2]), (2, [3, 4]))"
        " t(doc_id, embedding)"
    )
    with pytest.raises(AssertionError, match="array/struct-valued"):
        compare_to_oracle("arrcheck", spdf, res)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, sf_dir, ddb, name):
    _clear_caches(spark)
    sdf = QUERIES[name](spark, sf_dir)
    _assert_plan_posture(name, sdf)
    # Both sides go through pandas, like the driver: DuckDB HUGEINT and
    # NULL-bearing int columns surface as float64 here, so a dtype drift
    # the driver would flag fails locally too.
    compare_to_oracle(name, sdf.toPandas(), ddb.execute(ORACLES[name]))
    _assert_caches_released(spark, name)


@pytest.mark.parametrize(
    "name", sorted(set(QUERIES) - set(ORACLES))
)
def test_rows_only_queries_run(spark, sf_dir, name):
    _clear_caches(spark)
    df = QUERIES[name](spark, sf_dir)
    _assert_plan_posture(name, df)
    assert df.count() >= 0
    _assert_caches_released(spark, name)
