"""Job budget for building the benchmark's query_mix queries: the Spark
jobs a query function launches before its result is asked for. Table
schemas are resolved once per file (``tables.resolve_schema``), so after
one warm call only a query's own checkpoints and probes launch jobs.
The budgets are the counts these builds launch today; a change that
adds build-phase jobs has to raise a budget here on purpose."""

from __future__ import annotations

import pytest

from de_project_airflow_etl_spark.operators.dedup import clear_pairs_cache
from de_project_airflow_etl_spark.registry import all_queries
from tests.harness import jobs_launched

BUILD_JOB_BUDGET = {
    "tpch_q3_shipping_priority": 0,
    "join_multiway_region_revenue": 0,
    "asof_join_click_purchase": 0,
    "arrow_udf_text_normalize": 0,
    "tpch_q21_waiting_suppliers": 2,  # the checkpointed late-lines relation
    "dedup_minhash_lsh": 10,          # the verified-pairs build
}

QUERIES = all_queries()


@pytest.fixture(scope="module")
def warmed(spark, sf_dir):
    for name in BUILD_JOB_BUDGET:
        QUERIES[name].fn(spark, sf_dir)
    yield
    spark.catalog.clearCache()
    clear_pairs_cache()


@pytest.mark.parametrize("name", sorted(BUILD_JOB_BUDGET))
def test_build_jobs_within_budget(name, spark, sf_dir, warmed):
    spark.catalog.clearCache()
    clear_pairs_cache()
    _, jobs = jobs_launched(spark, lambda: QUERIES[name].fn(spark, sf_dir))
    assert jobs <= BUILD_JOB_BUDGET[name]
