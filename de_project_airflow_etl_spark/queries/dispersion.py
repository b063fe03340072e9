"""Round-9 promoted bank (staged as staged/round11b.py): dispersion/inequality and
robust-location statistics, all on the distinct-cents cell-cumulation
plan (map-side-combinable counts, bounded windows, exact integers
until one final division).

Same contract as every registered query (promotion history in
staged/__init__.py): ``(spark, sf_dir) ->
DataFrame`` plus an exact DuckDB oracle, identical column aliases on
both sides, exact-integer / fixed-point arithmetic for anything
accumulated, a 100 TB plan story per docstring, no ``rand()``, no
``.collect()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.registry import query
from de_project_airflow_etl_spark.tables import load
from de_project_airflow_etl_spark.queries.util import sql_cents, wide


# --------------------- Gini mean difference of event values

@query(
    "gini_mean_difference_value",
    oracle=f"""
        WITH cells AS (
          SELECT {sql_cents('value')} AS c, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM events GROUP BY 1
        ),
        cum AS (
          SELECT c, cnt,
                 COALESCE(SUM(cnt) OVER (ORDER BY c
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS below
          FROM cells
        ),
        tot AS (
          SELECT CAST(SUM(cnt) AS BIGINT) AS n,
                 CAST(SUM(CAST(cnt AS HUGEINT) * c) AS DECIMAL(38,0))
                   AS s
          FROM cells
        ),
        g AS (
          SELECT CAST(SUM(CAST(cnt AS HUGEINT) * c
                          * (2 * below + cnt - t.n))
                      AS DECIMAL(38,0)) AS wsum,
                 MAX(t.n) AS n, MAX(t.s) AS s
          FROM cum CROSS JOIN tot t
        )
        SELECT n, {wide('s')} / n / 100 AS mean_value,
               2 * {wide('wsum')} / (CAST(n AS DOUBLE) * (n - 1)) / 100
                 AS gmd,
               {wide('wsum')} / ((CAST(n AS DOUBLE) * (n - 1) / 2)
                 * ({wide('s')} / n)) / 2 AS gini
        FROM g
    """,
    doc="Gini mean difference (the expected |Xi - Xj| of two random "
        "events) and the value-level Gini coefficient — the "
        "L1-dispersion pair that, unlike variance, weights all gaps "
        "linearly and never squares an outlier. The O(n^2) pairwise "
        "definition collapses on the sorted cell cumulation: "
        "sum_ij |xi - xj| = 2 * sum_i x_i * (2*rank_below_i + cnt_i "
        "- n) summed per CELL with its count — exact in "
        "DECIMAL(38,0), one division at the end. (Distinct from the "
        "registered revenue_gini_by_nation, which ranks CUSTOMER "
        "revenue shares; this measures the event-value "
        "distribution itself.) Plan: one map-side-combinable cell "
        "aggregate, one bounded cumulation window, one row out.",
    tags=("statistics",),
)
def gini_mean_difference_value(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    cells = (load(spark, sf_dir, "events")
             .selectExpr(f"{sql_cents('value')} AS c")
             .groupBy("c")
             .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    wb = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
    cum = cells.select(
        "c", "cnt",
        F.coalesce(F.sum("cnt").over(wb), F.lit(0)).alias("below"))
    tot = cells.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.expr("CAST(SUM(CAST(cnt AS DECIMAL(38,0)) * c)"
               " AS DECIMAL(38,0))").alias("s"))
    g = (cum.crossJoin(F.broadcast(tot))
            .agg(F.expr("CAST(SUM(CAST(cnt AS DECIMAL(38,0)) * c"
                        " * (2 * below + cnt - n)) AS DECIMAL(38,0))")
                  .alias("wsum"),
                 F.max("n").alias("n"), F.max("s").alias("s")))
    return g.selectExpr(
        "n", f"{wide('s')} / n / 100 AS mean_value",
        f"2 * {wide('wsum')} / (CAST(n AS DOUBLE) * (n - 1)) / 100"
        " AS gmd",
        f"{wide('wsum')} / ((CAST(n AS DOUBLE) * (n - 1) / 2)"
        f" * ({wide('s')} / n)) / 2 AS gini")


# ----------------------- Hoover (Robin Hood) index of daily revenue

@query(
    "hoover_index_daily_revenue",
    oracle="""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d,
                 CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
          FROM events GROUP BY 1
        ),
        tot AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(cents) AS BIGINT) AS s
          FROM daily
        )
        SELECT t.n AS n_days,
               CAST(SUM(ABS(CAST(d.cents AS HUGEINT) * t.n - t.s))
                    AS DOUBLE)
                 / (2 * CAST(t.n AS DOUBLE) * t.s) AS hoover_index
        FROM daily d CROSS JOIN tot t
        GROUP BY t.n, t.s
    """,
    doc="Hoover (Robin Hood) index of daily revenue: the fraction of "
        "total revenue that would have to move between days to make "
        "every day equal — half the relative mean absolute deviation, "
        "the inequality number with a direct operational reading "
        "(capacity to re-provision). |cents_d - mean| stays exact by "
        "cross-multiplication (|cents_d * n - s|, integers in "
        "HUGEINT/DECIMAL), summed order-free, one division. Plan: one "
        "daily rollup (the only corpus-scale work), a one-row totals "
        "broadcast, one aggregate over the calendar-bounded days.",
    tags=("statistics", "timeseries"),
)
def hoover_index_daily_revenue(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    daily = (load(spark, sf_dir, "events")
             .groupBy(F.to_date("ts").alias("d"))
             .agg(F.sum(F.expr(sql_cents("value"))).cast("long").alias("cents"))
             .localCheckpoint())  # feeds totals AND the deviation pass
    tot = daily.agg(F.count(F.lit(1)).cast("long").alias("n"),
                    F.sum("cents").cast("long").alias("s"))
    return (daily.crossJoin(F.broadcast(tot))
                 .groupBy("n", "s")
                 .agg(F.expr("CAST(SUM(ABS(CAST(cents AS DECIMAL(38,0))"
                             " * n - s)) AS DOUBLE)"
                             " / (2 * CAST(n AS DOUBLE) * s)")
                       .alias("hoover_index"))
                 .selectExpr("n AS n_days", "hoover_index"))


# ------------------------- exact mode per event type (from cells)

@query(
    "mode_value_by_type",
    oracle=f"""
        WITH cells AS (
          SELECT event_type, {sql_cents('value')} AS c,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM events GROUP BY 1, 2
        )
        SELECT event_type,
               CAST(MAX(cnt) AS BIGINT) AS mode_count,
               CAST(MIN(CASE WHEN cnt = m THEN c END) AS BIGINT)
                 AS mode_c,
               CAST(MIN(CASE WHEN cnt = m THEN c END) AS DOUBLE) / 100
                 AS mode_value
        FROM (SELECT event_type, c, cnt,
                     MAX(cnt) OVER (PARTITION BY event_type) AS m
              FROM cells) x
        GROUP BY event_type
    """,
    doc="Exact mode of event value per type with a pinned tiebreak "
        "(smallest value among the most frequent — engines disagree "
        "on MODE()'s tie choice, so neither engine's built-in is "
        "usable cross-engine): max count per type from the cell "
        "table, then the min value achieving it. The remaining "
        "summary-statistics gap after mean/median/quantiles/MAD — "
        "and on exact integer cents the mode is well-defined where "
        "on raw doubles it would be noise. Plan: one map-side-"
        "combinable cell aggregate; the max/argmin run over the "
        "value-range-bounded cells.",
    tags=("statistics", "aggregate"),
)
def mode_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = (load(spark, sf_dir, "events")
             .selectExpr("event_type", f"{sql_cents('value')} AS c")
             .groupBy("event_type", "c")
             .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    m = cells.withColumn(
        "m", F.max("cnt").over(Window.partitionBy("event_type")))
    return m.groupBy("event_type").agg(
        F.max("cnt").cast("long").alias("mode_count"),
        F.expr("CAST(MIN(CASE WHEN cnt = m THEN c END) AS BIGINT)")
         .alias("mode_c"),
        F.expr("CAST(MIN(CASE WHEN cnt = m THEN c END) AS DOUBLE)"
               " / 100").alias("mode_value"))


# ------------------ trimean and midhinge per event type

@query(
    "trimean_midhinge_by_type",
    oracle=f"""
        WITH e AS (
          SELECT event_type, {sql_cents('value')} AS cv FROM events
        ),
        q AS (
          SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n_events,
                 quantile_cont(cv, 0.25) AS q1c,
                 quantile_cont(cv, 0.50) AS q2c,
                 quantile_cont(cv, 0.75) AS q3c
          FROM e GROUP BY 1
        )
        SELECT event_type, n_events,
               (q1c + q3c) / 2 / 100 AS midhinge,
               (q1c + 2 * q2c + q3c) / 4 / 100 AS trimean
        FROM q
    """,
    doc="Tukey's trimean and the midhinge per event type — the "
        "robust location estimators that blend the median with the "
        "hinges (the trimean uses ALL quartile information where the "
        "median ignores shape; the midhinge is the IQR's center). "
        "Quartiles come from the cell cumulation (exact quarter-cent "
        "dyadics, the mad_outlier idiom — never a raw-row percentile "
        "sort), so both combinations are exact IEEE arithmetic and "
        "the oracle can use quantile_cont directly. Plan: one cell "
        "aggregate, one bounded cumulation window, one row per type.",
    tags=("statistics", "robust"),
)
def trimean_midhinge_by_type(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").selectExpr("event_type",
                                                 f"{sql_cents('value')} AS cv")
    cells = (e.groupBy("event_type", "cv")
              .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    wt = Window.partitionBy("event_type")
    c1 = (cells.withColumn(
              "cum", F.sum("cnt").over(
                  wt.orderBy("cv").rowsBetween(
                      Window.unboundedPreceding, Window.currentRow)))
               .withColumn("n", F.sum("cnt").over(wt)))

    def _cell_q(q: str, alias: str) -> str:
        pos = f"(CAST({q} AS DOUBLE) * (MAX(n) - 1))"
        at = ("MIN(CASE WHEN cum >= CAST(FLOOR(CAST({q} AS DOUBLE)"
              " * (n - 1)) AS BIGINT) + {k} THEN cv END)")
        lo, hi = at.format(q=q, k=1), at.format(q=q, k=2)
        return (f"({lo} + ({pos} - FLOOR({pos}))"
                f" * (COALESCE({hi}, {lo}) - {lo})) AS {alias}")
    qt = c1.groupBy("event_type").agg(
        F.max("n").alias("n_events"),
        F.expr(_cell_q("0.25", "q1c")),
        F.expr(_cell_q("0.50", "q2c")),
        F.expr(_cell_q("0.75", "q3c")))
    return qt.selectExpr(
        "event_type", "n_events",
        "(q1c + q3c) / 2 / 100 AS midhinge",
        "(q1c + 2 * q2c + q3c) / 4 / 100 AS trimean")
