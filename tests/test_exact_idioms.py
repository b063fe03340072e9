"""The shared exact-arithmetic idioms of queries/util.py give the same
double on Spark and DuckDB. A query's Spark expression and its oracle
are built from the same helper text, so a helper that evaluates
differently on the two engines breaks every query that uses it."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.queries.util import (
    dlit, fold_spark, fold_sql, wide,
)

# Sorted, the fold is (((0 + -1e16) + 1) + 1) + 1e16 == 0.0: each +1
# is absorbed by -1e16. Folded left to right as listed the sum is 1.0,
# so a fold that skips the sort fails here.
CANCELLING = [1e16, 1.0, -1e16, 1.0]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    yield c
    c.close()


def _spark_fold(spark, terms: list[float]) -> float:
    df = spark.createDataFrame([(t,) for t in terms], "t double")
    return df.agg(F.expr(fold_spark("collect_list(t)")).alias("f")).first()["f"]


def _duck_fold(con, terms: list[float]) -> float:
    rows = ", ".join(f"({t!r}::DOUBLE)" for t in terms) or "(0.0::DOUBLE)"
    where = "" if terms else " WHERE false"
    return con.execute(f"SELECT {fold_sql('list(t)')}"
                       f" FROM (VALUES {rows}) v(t){where}").fetchone()[0]


def test_fold_sums_sorted_terms_on_both_engines(spark, con):
    assert sum(CANCELLING) == 1.0  # the unsorted left-to-right sum
    assert _spark_fold(spark, CANCELLING) == 0.0
    assert _duck_fold(con, CANCELLING) == 0.0


def test_fold_of_no_terms_is_zero(spark, con):
    assert _spark_fold(spark, []) == 0.0
    assert _duck_fold(con, []) == 0.0


@pytest.mark.parametrize("x", [2**53 + 1, 2**63 - 1])
def test_wide_casts_agree_past_2_pow_53(spark, con, x):
    expr = wide(f"CAST({x} AS BIGINT)")
    got_spark = spark.sql(f"SELECT {expr} AS d").first()["d"]
    got_duck = con.execute(f"SELECT {expr}").fetchone()[0]
    assert got_spark == got_duck == float(x)


def test_double_literal_agrees(spark, con):
    expr = dlit(0.0588)
    assert (spark.sql(f"SELECT {expr} AS d").first()["d"]
            == con.execute(f"SELECT {expr}").fetchone()[0] == 0.0588)
