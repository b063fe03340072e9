"""Oracle smoke set for the default test tier: one cheap query per
family, plus the benchmark's query_mix queries, each compared exactly
against its DuckDB oracle at sf0.001. The full sweep over every query
is ``tests/test_correctness.py`` (slow tier)."""

from __future__ import annotations

import os

import pytest

from de_project_airflow_etl_spark.registry import all_queries
from tests.harness import compare, duck_connection

SMOKE = (
    # query_mix
    "tpch_q3_shipping_priority",
    "tpch_q21_waiting_suppliers",
    "join_multiway_region_revenue",
    "asof_join_click_purchase",
    "dedup_minhash_lsh",
    "arrow_udf_text_normalize",
    # one per family
    "pricing_summary",                   # relational
    "window_rank_customers_in_nation",   # windows
    "rollup_quantity",                   # grouping sets
    "intersect_nations",                 # set operations
    "scalar_subquery_above_avg",         # subqueries
    "string_functions",                  # scalar functions
    "mode_per_group",                    # extended aggregates
    "daily_events",                      # the launch table's daily count
    "roc_auc_purchase_value",            # evaluation statistics
    "text_token_stats",                  # text operators
    "gopher_repetition_stats",           # quality filters
    "vocab_oov_stats",                   # corpus statistics
    "embedding_norms",                   # embedding similarity
    "streaming_windowed_counts",         # file-source streaming
)

QUERIES = all_queries()


@pytest.fixture(scope="module")
def small(sf_dir):
    return os.path.join(os.path.dirname(sf_dir), "sf0.001")


@pytest.fixture(scope="module")
def small_duck(small):
    con = duck_connection(small)
    yield con
    con.close()


@pytest.mark.parametrize("name", SMOKE)
def test_matches_oracle(name, spark, small, small_duck):
    q = QUERIES[name]
    try:
        problems = compare(q.fn(spark, small),
                           small_duck.execute(q.oracle).fetchdf(), name)
    finally:
        spark.catalog.clearCache()
    assert not problems, "\n".join(problems)
