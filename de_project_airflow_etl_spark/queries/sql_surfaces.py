"""Round-10 promoted bank (staged as staged/round19.py): three Spark-4 SQL surfaces not yet
exercised by the registry — the ``percentile_cont ... WITHIN GROUP``
inverse-distribution syntax (quartiles on power-of-two fractions stay
IEEE-exact cross-engine), the JSON scalar-function family
(to_json round-trip, json_object_keys, json_array_length,
get_json_object), and ``approx_top_k`` driven in its EXACT regime
(k >= distinct items, so the sketch's counts are exact and
oracle-comparable rather than rows-only).

Same contract as every registered query: ``(spark, sf_dir) ->
DataFrame`` plus an exact DuckDB oracle and identical column aliases.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.registry import query
from de_project_airflow_etl_spark.tables import load
from de_project_airflow_etl_spark.queries.util import sql_cents


# ---------------------------------------------------------------------
# percentile_cont WITHIN GROUP — the SQL:2023 inverse-distribution
# syntax. Quartiles only: 0.25/0.5/0.75 have power-of-two-denominator
# interpolation weights, so lo + (hi-lo)*frac on integer cents is
# EXACT in IEEE doubles no matter which algebraic form each engine
# uses — fractions like 0.3 would not be.


@query(
    "percentile_cont_within_group_quartiles",
    oracle=f"""
        SELECT event_type,
               quantile_cont(c, 0.25) AS q1_cents,
               quantile_cont(c, 0.5) AS median_cents,
               quantile_cont(c, 0.75) AS q3_cents
        FROM (SELECT event_type, {sql_cents('value')} AS c FROM events)
        GROUP BY 1
    """,
    doc="The SQL:2023 inverse-distribution syntax percentile_cont(f) "
        "WITHIN GROUP (ORDER BY ...) — the last ordered-set aggregate "
        "surface the registry had not exercised (percentile_disc "
        "rank-selection and approx variants exist; listagg WITHIN "
        "GROUP is registered). Quartiles ONLY, deliberately: 1/4, "
        "1/2, 3/4 have power-of-two denominators, so the linear "
        "interpolation lo + (hi-lo)*f on integer cents is exact in "
        "IEEE doubles regardless of which algebraic form each engine "
        "computes — a fraction like 0.3 would NOT hash-match. Spark "
        "plans this as a regular partial/final percentile aggregate "
        "(map-side combinable); the per-type state is the value-"
        "domain-bounded cents multiset.",
    tags=("sql-surface", "statistics"),
)
def percentile_cont_within_group_quartiles(spark: SparkSession,
                                           sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView(
        "ev_pcwg_r19")
    return spark.sql(f"""
        SELECT event_type,
               percentile_cont(0.25) WITHIN GROUP (ORDER BY c)
                 AS q1_cents,
               percentile_cont(0.5) WITHIN GROUP (ORDER BY c)
                 AS median_cents,
               percentile_cont(0.75) WITHIN GROUP (ORDER BY c)
                 AS q3_cents
        FROM (SELECT event_type, {sql_cents('value')} AS c FROM ev_pcwg_r19)
        GROUP BY event_type
    """)


# ---------------------------------------------------------------------
# JSON scalar-function family: construct a JSON document per event
# with to_json, then interrogate it with json_object_keys /
# json_array_length / get_json_object and reduce to exact per-type
# scalars. DuckDB mirrors with json_keys / json_array_length /
# json_extract on an identically-constructed document.


@query(
    "json_function_family_events",
    oracle=f"""
        WITH doc AS (
          SELECT event_type,
                 json_object('t', event_type, 'v', {sql_cents('value')},
                             'tags', json_array(event_type,
                                                CAST(user_id AS
                                                     VARCHAR)))
                   AS j
          FROM events
        )
        SELECT event_type,
               CAST(SUM(len(json_keys(j))) AS BIGINT) AS total_keys,
               CAST(SUM(json_array_length(j, '$.tags')) AS BIGINT)
                 AS total_tag_len,
               CAST(SUM(CAST(json_extract_string(j, '$.v') AS BIGINT))
                 AS BIGINT) AS sum_v_cents,
               CAST(SUM(CASE WHEN json_extract_string(j, '$.t')
                             = event_type THEN 1 ELSE 0 END)
                 AS BIGINT) AS roundtrip_ok
        FROM doc GROUP BY 1
    """,
    doc="The JSON scalar-function family over per-event documents "
        "CONSTRUCTED in-engine (to_json of a struct) and then "
        "interrogated: json_object_keys (key census), "
        "json_array_length on a nested array path, get_json_object "
        "extraction cast back to BIGINT, and a full value round-trip "
        "check — the JSON-processing surface beyond the registered "
        "variant/from_json queries (typed VARIANT access) and the "
        "UDTF JSON explode. Everything reduces to exact per-type "
        "integer scalars; the DuckDB oracle builds the identical "
        "document with json_object/json_array. One scan, one "
        "codegen-side projection, one aggregate.",
    tags=("sql-surface", "json"),
)
def json_function_family_events(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    doc = load(spark, sf_dir, "events").selectExpr(
        "event_type",
        f"to_json(named_struct('t', event_type, 'v', {sql_cents('value')}, "
        "'tags', array(event_type, CAST(user_id AS STRING)))) AS j")
    return (doc.groupBy("event_type")
            .agg(F.expr("CAST(SUM(size(json_object_keys(j)))"
                        " AS BIGINT)").alias("total_keys"),
                 F.expr("CAST(SUM(json_array_length("
                        "get_json_object(j, '$.tags')))"
                        " AS BIGINT)").alias("total_tag_len"),
                 F.expr("CAST(SUM(CAST(get_json_object(j, '$.v')"
                        " AS BIGINT)) AS BIGINT)").alias("sum_v_cents"),
                 F.expr("CAST(SUM(CASE WHEN get_json_object(j, '$.t')"
                        " = event_type THEN 1 ELSE 0 END) AS BIGINT)")
                  .alias("roundtrip_ok")))


# ---------------------------------------------------------------------
# approx_top_k in its EXACT regime: with k >= the number of distinct
# items, the frequent-items sketch degrades gracefully to exact
# counts, so the sketch SURFACE is exercised while the result stays
# oracle-comparable (the other sketches - HLL, theta, approx
# quantiles - are rows-only by nature).


@query(
    "approx_top_k_event_types",
    oracle="""
        SELECT event_type AS item,
               CAST(COUNT(*) AS BIGINT) AS est_count,
               CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC,
                                       event_type) AS BIGINT) AS rnk
        FROM events GROUP BY 1
    """,
    doc="approx_top_k — Spark 4's frequent-items sketch aggregate — "
        "driven in its EXACT regime: k=10 exceeds the 5 distinct "
        "event types, so every item fits in the sketch buffer, "
        "counts are exact, and the result hash-matches a plain "
        "GROUP BY count oracle (ties broken by item). This registers "
        "the sketch SURFACE with a hard verification, unlike the "
        "rows-only HLL/theta entries; the sketch's approximation "
        "regime (k << distinct) belongs to the same tolerance-test "
        "family as the other sketches. The exploded struct array is "
        "flattened to scalar rows for the driver contract.",
    tags=("sql-surface", "sketch"),
)
def approx_top_k_event_types(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView(
        "ev_topk_r19")
    return spark.sql("""
        WITH sk AS (
          SELECT approx_top_k(event_type, 10) AS tk FROM ev_topk_r19
        ),
        flat AS (
          SELECT x.item, CAST(x.count AS BIGINT) AS est_count
          FROM sk LATERAL VIEW explode(tk) AS x
        )
        SELECT item, est_count,
               CAST(ROW_NUMBER() OVER (ORDER BY est_count DESC, item)
                 AS BIGINT) AS rnk
        FROM flat
    """)
