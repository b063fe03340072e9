"""Round-10 promoted bank (staged as staged/round13.py): the differential-privacy sensitivity
audit — the governance number the registry's existing
k-anonymity/quasi-identifier audit (operators/quality.py) does NOT
cover: how much ONE subject can move each corpus aggregate, i.e.
the L-infinity sensitivity that calibrates DP noise and
contribution clipping. (A second k-anonymity variant and an
l-diversity rollup were built and verified here, then dropped as
near-duplicates of the registered audit, which already counts
distinct users per quasi-group.)

Same contract and determinism rules as every registered query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.registry import query
from de_project_airflow_etl_spark.tables import load
from de_project_airflow_etl_spark.queries.util import sql_cents, wide

@query(
    "dp_sensitivity_audit",
    oracle=f"""
        WITH per_user AS (
          SELECT user_id,
                 CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(SUM({sql_cents('value')}) AS BIGINT) AS cents,
                 CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT)
                   AS n_days
          FROM events GROUP BY user_id
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(MAX(n_rows) AS BIGINT) AS linf_count_sensitivity,
               CAST(MAX(cents) AS BIGINT) AS linf_sum_sensitivity_c,
               CAST(MAX(n_days) AS BIGINT) AS linf_day_sensitivity,
               {wide('SUM(CAST(cents AS DECIMAL(38,0)))')}
                 / COUNT(*) / 100 AS mean_user_total,
               CAST(MAX(cents) AS DOUBLE)
                 / {wide('SUM(CAST(cents AS DECIMAL(38,0)))')}
                 AS max_user_share
        FROM per_user
    """,
    doc="Differential-privacy sensitivity audit: the maximum any "
        "single user contributes to the corpus aggregates — row "
        "count, revenue sum, active days — which IS the L-infinity "
        "sensitivity that calibrates DP noise (sigma scales with "
        "max contribution / epsilon) and the contribution-bounding "
        "clip threshold a private release would enforce first. "
        "max_user_share flags whether one subject dominates an "
        "aggregate outright. Exact integers, two final divisions. "
        "Plan: ONE map-side-combinable per-user aggregate, 1-row "
        "math — the audit costs one pass regardless of scale.",
    tags=("governance", "statistics"),
)
def dp_sensitivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_user = (load(spark, sf_dir, "events")
                .selectExpr("user_id", "ts", f"{sql_cents('value')} AS c")
                .groupBy("user_id")
                .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                     F.sum("c").cast("long").alias("cents"),
                     F.countDistinct(F.to_date("ts")).cast("long")
                      .alias("n_days")))
    return per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.max("n_rows").cast("long").alias("linf_count_sensitivity"),
        F.max("cents").cast("long").alias("linf_sum_sensitivity_c"),
        F.max("n_days").cast("long").alias("linf_day_sensitivity"),
        F.expr(f"{wide('SUM(CAST(cents AS DECIMAL(38,0)))')}"
               " / COUNT(*) / 100").alias("mean_user_total"),
        F.expr(f"CAST(MAX(cents) AS DOUBLE)"
               f" / {wide('SUM(CAST(cents AS DECIMAL(38,0)))')}"
               " AS max_user_share").alias("max_user_share"))


# ---------------- SQL-language UDFs (CREATE FUNCTION ... RETURN)


@query(
    "sql_udf_band_rollup",
    oracle=f"""
        WITH spine AS (
          SELECT CAST(range AS BIGINT) AS band,
                 'band_' || CAST(range AS VARCHAR) AS band_label
          FROM range(10)
        ),
        e AS (
          SELECT LEAST(CAST(9 AS BIGINT),
                       {sql_cents('value')} // 5000) AS band,
                 {sql_cents('value')} AS c
          FROM events
        ),
        g AS (
          SELECT band, CAST(COUNT(*) AS BIGINT) AS n_events,
                 CAST(SUM(c) AS BIGINT) AS cents
          FROM e GROUP BY band
        )
        SELECT s.band, s.band_label, g.n_events,
               CAST(g.cents AS DOUBLE) / 100 AS revenue
        FROM g JOIN spine s USING (band)
    """,
    doc="SQL-language UDFs (Spark 4 CREATE FUNCTION ... RETURN — the "
        "catalog-resident, engine-optimizable alternative to Python "
        "UDFs): a scalar function bands the cents, a second scalar "
        "converts to dollars, and a TABLE function materializes the "
        "band-label spine that the rollup equi-joins — all three "
        "declared in SQL and INLINED by the optimizer into ordinary "
        "expressions and a broadcast join (no Python worker, no "
        "serialization boundary; the 100 TB story is precisely that "
        "these are zero-cost abstractions, unlike every UDF in the "
        "Python execution matrix). The oracle spells the same logic "
        "inline. Exact cents; one division at emit.",
    tags=("sql-surface",),
)
def sql_udf_band_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView("sqludf_ev")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION sqludf_band(c BIGINT)"
        " RETURNS BIGINT"
        " RETURN LEAST(CAST(9 AS BIGINT), c DIV 5000)")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION sqludf_dollars(c BIGINT)"
        " RETURNS DOUBLE RETURN CAST(c AS DOUBLE) / 100")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION sqludf_spine()"
        " RETURNS TABLE(band BIGINT, band_label STRING)"
        " RETURN SELECT id AS band,"
        " concat('band_', CAST(id AS STRING)) AS band_label"
        " FROM range(10)")
    return spark.sql(f"""
        WITH g AS (
          SELECT sqludf_band({sql_cents('value')}) AS band,
                 CAST(COUNT(*) AS BIGINT) AS n_events,
                 CAST(SUM({sql_cents('value')}) AS BIGINT) AS cents
          FROM sqludf_ev GROUP BY sqludf_band({sql_cents('value')})
        )
        SELECT s.band, s.band_label, g.n_events,
               sqludf_dollars(g.cents) AS revenue
        FROM g JOIN sqludf_spine() s USING (band)
    """)
