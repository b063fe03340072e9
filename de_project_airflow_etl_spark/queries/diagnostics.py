"""Round-8 promoted bank (staged round 7 as staged/round8.py):
time-series diagnostics over the daily
revenue rollup, distribution statistics, text-richness metrics and
graded retrieval evaluation (promotion history in
staged/__init__.py).

Same contract as registered queries: ``(spark, sf_dir) -> DataFrame``
plus an exact DuckDB oracle, identical column aliases on both sides,
exact-integer / fixed-point arithmetic for anything accumulated, a
100 TB plan story per docstring, no ``rand()``, no ``.collect()``.

Cross-engine determinism rules this bank leans on (measured this
round, 20k-value probe): IEEE sqrt is CORRECTLY ROUNDED and therefore
bit-identical between the JVM and DuckDB, but ln/log2/exp are NOT
(0.9-38 % of integer inputs differ in the last ulp). So every
statistic here is built from +-*/ and sqrt only — Hellinger distance
instead of a KL/PSI drift score, explicit ``m2 * sqrt(m2)`` instead
of ``pow(m2, 1.5)`` for the skewness denominator, and NDCG's
``1/log2(rank+1)`` discounts precomputed ONCE in Python and inlined
as identical double literals into both engines.

Sequential folds over DAY-ORDERED arrays extend round-7b's sorted-
fold idiom: both engines build the same day-ascending array (Spark
``array_sort(collect_list(struct(day, v)))``; DuckDB ``list(v ORDER
BY day)``) and fold it left-to-right from an explicit seed, so sums
of per-day double terms (residual products, central-moment powers)
are bit-identical. The arrays are CALENDAR-BOUNDED — never data-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.registry import query
from de_project_airflow_etl_spark.tables import load
from de_project_airflow_etl_spark.queries.util import (
    fold_spark, fold_sql, sql_cents, wide,
)


# Daily close/volume via deterministic (ts, event_id) row order — the
# daily_ohlc_bars convention (queries/features.py): event_id breaks
# timestamp ties so retries agree.
_SQL_DAILY_OHLC = f"""
        e AS (
          SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, ts, event_id,
                 {sql_cents('value')} AS c
          FROM events
        ),
        r AS (
          SELECT *,
                 row_number() OVER (PARTITION BY day
                                    ORDER BY ts, event_id) AS rn_o,
                 row_number() OVER (PARTITION BY day
                                    ORDER BY ts DESC, event_id DESC)
                   AS rn_c
          FROM e
        ),
        ohlc AS (
          SELECT day,
                 MAX(CASE WHEN rn_o = 1 THEN c END) AS open_c,
                 CAST(MAX(c) AS BIGINT) AS high_c,
                 CAST(MIN(c) AS BIGINT) AS low_c,
                 MAX(CASE WHEN rn_c = 1 THEN c END) AS close_c,
                 CAST(COUNT(*) AS BIGINT) AS volume
          FROM r GROUP BY day
        )"""


def _spark_daily_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC bars as ONE map-side-combinable aggregate: min_by /
    max_by over the (ts, event_id) struct replaces the oracle's
    row_number windows, so no window ever touches raw rows — the
    stronger 100 TB shape (partial aggregation per map task, one
    exchange on day)."""
    e = load(spark, sf_dir, "events").selectExpr(
        "CAST(CAST(ts AS DATE) AS STRING) AS day", "ts", "event_id",
        f"{sql_cents('value')} AS c")
    return e.groupBy("day").agg(
        F.expr("min_by(c, struct(ts, event_id))").alias("open_c"),
        F.max("c").alias("high_c"),
        F.min("c").alias("low_c"),
        F.expr("max_by(c, struct(ts, event_id))").alias("close_c"),
        F.count(F.lit(1)).alias("volume"))


# ------------------------------------- ATR(14) over daily value bars

ATR_W = 14

_TR = ("GREATEST(high_c - low_c, ABS(high_c - prev_close),"
       " ABS(low_c - prev_close))")


@query(
    "atr_daily_value_range",
    oracle=f"""
        WITH {_SQL_DAILY_OHLC},
        l AS (
          SELECT day, high_c, low_c, close_c,
                 lag(close_c) OVER (ORDER BY day) AS prev_close
          FROM ohlc
        ),
        tr AS (
          SELECT day, CAST({_TR} AS BIGINT) AS tr_cents
          FROM l WHERE prev_close IS NOT NULL
        ),
        w AS (
          SELECT day, tr_cents,
                 CAST(COUNT(*) OVER win AS BIGINT) AS n,
                 SUM(CAST(tr_cents AS DECIMAL(38,0))) OVER win AS s
          FROM tr
          WINDOW win AS (ORDER BY day
            ROWS BETWEEN {ATR_W - 1} PRECEDING AND CURRENT ROW)
        )
        SELECT day, tr_cents,
               {wide('s')} / {ATR_W} / 100 AS atr
        FROM w WHERE n = {ATR_W}
    """,
    doc="Average True Range (Wilder's SMA variant, 14-day) over the "
        "daily value bars: true range folds the overnight gap into "
        "the volatility estimate via the previous close, the reading "
        "every band/breakout monitor (Keltner, chandelier exits) "
        "derives from. True ranges are exact integer cents; the "
        "rolling sum rides DECIMAL(38,0); the single division to "
        "dollars happens at emit. Complete windows only. Plan: daily "
        "bars come from ONE map-side-combinable min_by/max_by "
        "aggregate (no window touches raw rows, unlike the oracle's "
        "row_number form); the lag and trailing-sum windows run over "
        "the calendar-bounded daily table.",
    tags=("timeseries",),
)
def atr_daily_value_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    ohlc = _spark_daily_ohlc(spark, sf_dir)
    lagw = Window.orderBy("day")
    lagged = ohlc.select(
        "day", "high_c", "low_c", "close_c",
        F.lag("close_c").over(lagw).alias("prev_close"))
    tr = (lagged.filter(F.col("prev_close").isNotNull())
                .selectExpr("day", f"CAST({_TR} AS BIGINT) AS tr_cents"))
    win = (Window.orderBy("day")
                 .rowsBetween(-(ATR_W - 1), Window.currentRow))
    w = tr.select(
        "day", "tr_cents",
        F.count(F.lit(1)).over(win).cast("long").alias("n"),
        F.sum(F.col("tr_cents").cast("decimal(38,0)")).over(win)
         .alias("s"))
    return (w.filter(F.col("n") == ATR_W)
             .selectExpr("day", "tr_cents",
                         f"{wide('s')} / {ATR_W} / 100 AS atr"))


# ----------------------------- stochastic oscillator on daily closes

STOCH_W = 14

# 100*(close-lo) stays integral (exact); ONE double division after.
# (A 100.0 literal parses as DECIMAL in both engines, and their
# decimal division scales differ in the last ulp — measured.)
_PCT_K = (f"CASE WHEN hi{STOCH_W} = lo{STOCH_W} THEN CAST(NULL AS DOUBLE)"
          f" ELSE CAST(100 * (close_c - lo{STOCH_W}) AS DOUBLE)"
          f" / (hi{STOCH_W} - lo{STOCH_W}) END")


@query(
    "stochastic_oscillator_daily",
    oracle=f"""
        WITH {_SQL_DAILY_OHLC},
        w AS (
          SELECT day, close_c,
                 CAST(COUNT(*) OVER win AS BIGINT) AS n,
                 CAST(MAX(high_c) OVER win AS BIGINT) AS hi{STOCH_W},
                 CAST(MIN(low_c) OVER win AS BIGINT) AS lo{STOCH_W}
          FROM ohlc
          WINDOW win AS (ORDER BY day
            ROWS BETWEEN {STOCH_W - 1} PRECEDING AND CURRENT ROW)
        ),
        k AS (
          SELECT day, {_PCT_K} AS pct_k
          FROM w WHERE n = {STOCH_W}
        ),
        d AS (
          SELECT day, pct_k,
                 lag(pct_k, 1) OVER (ORDER BY day) AS k1,
                 lag(pct_k, 2) OVER (ORDER BY day) AS k2
          FROM k
        )
        SELECT day, pct_k,
               ((pct_k + k1) + k2) / 3 AS pct_d
        FROM d WHERE k2 IS NOT NULL
    """,
    doc="Stochastic oscillator %K/%D over daily closes: %K locates "
        "the close inside the trailing 14-day high-low envelope "
        "(integer cents; one double division), %D smooths it with an "
        "explicit 3-term mean written as ((k + lag1) + lag2)/3 — a "
        "FIXED left-to-right association both engines evaluate "
        "identically, deliberately NOT a windowed SUM over doubles "
        "(DuckDB may combine window aggregates via segment tree, not "
        "sequentially — the round-7b running-sum caveat). Plan: one "
        "min_by/max_by daily aggregate, then lag/extrema frame "
        "windows over the calendar-bounded daily table.",
    tags=("timeseries",),
)
def stochastic_oscillator_daily(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    ohlc = _spark_daily_ohlc(spark, sf_dir)
    win = (Window.orderBy("day")
                 .rowsBetween(-(STOCH_W - 1), Window.currentRow))
    w = ohlc.select(
        "day", "close_c",
        F.count(F.lit(1)).over(win).cast("long").alias("n"),
        F.max("high_c").over(win).cast("long").alias(f"hi{STOCH_W}"),
        F.min("low_c").over(win).cast("long").alias(f"lo{STOCH_W}"))
    k = (w.filter(F.col("n") == STOCH_W)
          .selectExpr("day", f"{_PCT_K} AS pct_k"))
    lagw = Window.orderBy("day")
    d = k.select("day", "pct_k",
                 F.lag("pct_k", 1).over(lagw).alias("k1"),
                 F.lag("pct_k", 2).over(lagw).alias("k2"))
    return (d.filter(F.col("k2").isNotNull())
             .selectExpr("day", "pct_k",
                         "((pct_k + k1) + k2) / 3 AS pct_d"))


# ------------------------------- on-balance volume over daily closes


@query(
    "obv_daily_value_flow",
    oracle=f"""
        WITH {_SQL_DAILY_OHLC},
        l AS (
          SELECT day, close_c, volume,
                 lag(close_c) OVER (ORDER BY day) AS prev_close
          FROM ohlc
        ),
        d AS (
          SELECT day, volume,
                 CAST(CASE WHEN close_c > prev_close THEN 1
                           WHEN close_c < prev_close THEN -1
                           ELSE 0 END AS BIGINT) AS direction
          FROM l WHERE prev_close IS NOT NULL
        )
        SELECT day, direction, volume,
               CAST(SUM(direction * volume) OVER (ORDER BY day
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS obv
        FROM d
    """,
    doc="On-balance volume over the daily bars: each day's event "
        "count flows in or out with the sign of the close-to-close "
        "move, and the running total is the classic volume-confirms-"
        "trend indicator. The running window sum is INTEGER, so it "
        "is order-independent and safe cross-engine (the running-sum "
        "caveat only bites double accumulators). Plan: one "
        "map-side-combinable daily aggregate, then lag + running-sum "
        "windows over the calendar-bounded daily table.",
    tags=("timeseries",),
)
def obv_daily_value_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    ohlc = _spark_daily_ohlc(spark, sf_dir)
    lagw = Window.orderBy("day")
    lagged = ohlc.select(
        "day", "close_c", "volume",
        F.lag("close_c").over(lagw).alias("prev_close"))
    d = (lagged.filter(F.col("prev_close").isNotNull())
               .selectExpr(
                   "day", "volume",
                   "CAST(CASE WHEN close_c > prev_close THEN 1"
                   " WHEN close_c < prev_close THEN -1"
                   " ELSE 0 END AS BIGINT) AS direction"))
    runw = (Window.orderBy("day")
                  .rowsBetween(Window.unboundedPreceding,
                               Window.currentRow))
    return d.select(
        "day", "direction", "volume",
        F.sum(F.col("direction") * F.col("volume")).over(runw)
         .cast("long").alias("obv"))


# -------------------------- Mann-Kendall trend test on daily revenue

# Shared fragments over the day-sorted daily-revenue cents array `a`
# (n = cardinality). S = sum over i<j of sign(a[j] - a[i]) — pure
# integers, order-free. Spark and DuckDB spell the nested pair
# emission with their own lambda syntax below.
_MK_VAR = ("( {nn} * ({nn} - 1.0) * (2.0 * {nn} + 5.0) - {ties} ) / 18.0")
_MK_Z = ("CASE WHEN s_stat > 0 THEN (s_stat - 1.0) / SQRT(var_s) "
         "WHEN s_stat < 0 THEN (s_stat + 1.0) / SQRT(var_s) "
         "ELSE 0.0 END")


@query(
    "mann_kendall_daily_trend",
    oracle=f"""
        WITH d AS (
          SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                 CAST(SUM({sql_cents('value')}) AS BIGINT) AS cents
          FROM events GROUP BY 1
        ),
        arr AS (
          SELECT list(cents ORDER BY day) AS a,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM d
        ),
        s AS (
          SELECT n,
                 CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                   flatten(list_transform(generate_series(1, n - 1),
                     i -> list_transform(generate_series(i + 1, n),
                       j -> CAST(CASE WHEN a[j] > a[i] THEN 1
                                 WHEN a[j] < a[i] THEN -1
                                 ELSE 0 END AS BIGINT))))),
                   (acc, v) -> acc + v) AS BIGINT) AS s_stat
          FROM arr
        ),
        t AS (
          SELECT COALESCE(CAST(SUM(cnt * (cnt - 1) * (2 * cnt + 5))
                   AS DOUBLE), 0.0) AS ties
          FROM (SELECT COUNT(*) AS cnt FROM d GROUP BY cents)
          WHERE cnt > 1
        )
        SELECT n_days, s_stat, var_s, {_MK_Z} AS z_stat
        FROM (SELECT n AS n_days, s_stat,
                {_MK_VAR.format(nn="CAST(n AS DOUBLE)", ties="ties")}
                  AS var_s
              FROM s, t)
    """,
    doc="Mann-Kendall nonparametric trend test on daily revenue: S "
        "counts concordant-minus-discordant day pairs (monotone "
        "trend evidence without a linearity assumption — the "
        "hypothesis-test companion to the Theil-Sen slope already in "
        "the registry), with the tie-corrected variance and the "
        "continuity-corrected Z. The day count is calendar-bounded, "
        "so the O(n^2) pair sweep runs INSIDE one row's array lambda "
        "(the frequent_item_pairs in-array idiom) — all integers, "
        "order-free — never as a self-join. Z's sqrt is IEEE-exact "
        "cross-engine. Plan: one map-side-combinable daily rollup; "
        "everything after is a 1-row fold.",
    tags=("timeseries", "statistics"),
)
def mann_kendall_daily_trend(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    d = (load(spark, sf_dir, "events")
         .selectExpr("CAST(CAST(ts AS DATE) AS STRING) AS day",
                     f"{sql_cents('value')} AS c")
         .groupBy("day").agg(F.sum("c").cast("long").alias("cents"))
         # the calendar-bounded daily table feeds BOTH the pair fold
         # and the tie aggregate; materialize so the fact table scans
         # once (multi-consumer intermediates re-execute per reference)
         .localCheckpoint())
    arr = d.agg(
        F.expr("transform(array_sort(collect_list(struct(day, cents))),"
               " x -> x.cents)").alias("a"),
        F.count(F.lit(1)).cast("long").alias("n"))
    # tie counts need their own value-grouped aggregate (a map-side
    # combinable GROUP BY cents over the bounded daily table)
    ties = (d.groupBy("cents").agg(F.count(F.lit(1)).alias("cnt"))
             .filter(F.col("cnt") > 1)
             .agg(F.expr("COALESCE(CAST(SUM(cnt * (cnt - 1)"
                         " * (2 * cnt + 5)) AS DOUBLE), 0.0)")
                   .alias("ties")))
    s = arr.selectExpr(
        "n",
        "CAST(aggregate(flatten(transform(sequence(1, CAST(n AS INT) - 1),"
        " i -> transform(sequence(i + 1, CAST(n AS INT)),"
        " j -> CAST(CASE WHEN element_at(a, j) > element_at(a, i)"
        " THEN 1 WHEN element_at(a, j) < element_at(a, i) THEN -1"
        " ELSE 0 END AS BIGINT)))),"
        " CAST(0 AS BIGINT), (acc, v) -> acc + v) AS BIGINT)"
        " AS s_stat")
    var_expr = _MK_VAR.format(nn="CAST(n AS DOUBLE)", ties="ties")
    return (s.crossJoin(F.broadcast(ties))
             .selectExpr("n AS n_days", "s_stat",
                         f"{var_expr} AS var_s")
             .selectExpr("n_days", "s_stat", "var_s",
                         f"{_MK_Z} AS z_stat"))


# -------------------- Durbin-Watson on linear-trend residuals


@query(
    "durbin_watson_trend_residuals",
    oracle=f"""
        WITH d AS (
          SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                 CAST(SUM({sql_cents('value')}) AS BIGINT) AS cents
          FROM events GROUP BY 1
        ),
        arr AS (
          SELECT list(cents ORDER BY day) AS a,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM d
        ),
        sums AS (
          SELECT n, a,
                 list_reduce(list_prepend(CAST(0 AS HUGEINT),
                   list_transform(generate_series(1, n),
                     i -> CAST(i AS HUGEINT) * a[i])),
                   (acc, v) -> acc + v) AS sxy,
                 list_reduce(list_prepend(CAST(0 AS HUGEINT),
                   list_transform(generate_series(1, n),
                     i -> CAST(a[i] AS HUGEINT))),
                   (acc, v) -> acc + v) AS sy
          FROM arr
        ),
        fit AS (
          SELECT n, a,
                 (CAST(n AS DOUBLE) * {wide('sxy')}
                  - (CAST(n AS DOUBLE) * (n + 1.0) / 2.0)
                    * {wide('sy')})
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                    * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - 1.0)
                    / 12.0) AS bhat,
                 {wide('sy')} AS syd
          FROM sums
        ),
        res AS (
          SELECT n, bhat,
                 (syd / n) - bhat * ((n + 1.0) / 2.0) AS ahat,
                 list_transform(generate_series(1, n),
                   i -> CAST(a[i] AS DOUBLE)
                        - ((syd / n) - bhat * ((n + 1.0) / 2.0)
                           + bhat * i)) AS r
          FROM fit
        )
        SELECT n AS n_days,
               bhat / 100 AS slope_per_day,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(generate_series(2, CAST(n AS INTEGER)),
                   i -> (r[i] - r[i-1]) * (r[i] - r[i-1]))),
                 (acc, v) -> acc + v)
               / list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(generate_series(1, CAST(n AS INTEGER)),
                   i -> r[i] * r[i])),
                 (acc, v) -> acc + v) AS dw_stat
        FROM res
    """,
    doc="Durbin-Watson autocorrelation test on the residuals of the "
        "OLS linear trend over daily revenue — 'is yesterday's "
        "forecast miss informative about today's', the standard "
        "lag-1 residual diagnostic behind every trend-model health "
        "check. The x axis is the dense day index, so Sx and Sxx "
        "collapse to closed forms n(n+1)/2 and n(n+1)(2n+1)/6 (their "
        "difference n^2(n^2-1)/12 is the slope denominator); Sxy and "
        "Sy accumulate EXACTLY (Spark DECIMAL(38,0) fold / DuckDB "
        "HUGEINT fold — identical digits either way, then one wide "
        "cast). Residuals and the DW ratio fold over the day-ordered "
        "array left-to-right from a 0.0 seed in BOTH engines — "
        "bit-identical doubles with no transcendentals. Plan: one "
        "map-side-combinable daily rollup; everything after is 1-row "
        "array math over the calendar-bounded series.",
    tags=("timeseries", "statistics"),
)
def durbin_watson_trend_residuals(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    d = (load(spark, sf_dir, "events")
         .selectExpr("CAST(CAST(ts AS DATE) AS STRING) AS day",
                     f"{sql_cents('value')} AS c")
         .groupBy("day").agg(F.sum("c").cast("long").alias("cents")))
    arr = d.agg(
        F.expr("transform(array_sort(collect_list(struct(day, cents))),"
               " x -> x.cents)").alias("a"),
        F.count(F.lit(1)).cast("long").alias("n"))
    sums = arr.selectExpr(
        "n", "a",
        "aggregate(transform(sequence(1, CAST(n AS INT)),"
        " i -> CAST(i AS DECIMAL(38,0)) * element_at(a, i)),"
        " CAST(0 AS DECIMAL(38,0)), (acc, v) -> acc + v) AS sxy",
        "aggregate(transform(sequence(1, CAST(n AS INT)),"
        " i -> CAST(element_at(a, i) AS DECIMAL(38,0))),"
        " CAST(0 AS DECIMAL(38,0)), (acc, v) -> acc + v) AS sy")
    fit = sums.selectExpr(
        "n", "a",
        f"(CAST(n AS DOUBLE) * {wide('sxy')}"
        f" - (CAST(n AS DOUBLE) * (n + 1.0) / 2.0) * {wide('sy')})"
        f" / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
        f" * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - 1.0) / 12.0)"
        f" AS bhat",
        f"{wide('sy')} AS syd")
    res = fit.selectExpr(
        "n", "bhat",
        "transform(sequence(1, CAST(n AS INT)),"
        " i -> CAST(element_at(a, i) AS DOUBLE)"
        " - ((syd / n) - bhat * ((n + 1.0) / 2.0) + bhat * i)) AS r")
    return res.selectExpr(
        "n AS n_days",
        "bhat / 100 AS slope_per_day",
        "aggregate(transform(sequence(2, CAST(n AS INT)),"
        " i -> (element_at(r, i) - element_at(r, i - 1))"
        " * (element_at(r, i) - element_at(r, i - 1))),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        " / aggregate(transform(sequence(1, CAST(n AS INT)),"
        " i -> element_at(r, i) * element_at(r, i)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS dw_stat")


# ---------------------- Jarque-Bera normality test on daily revenue


@query(
    "jarque_bera_daily_revenue",
    oracle=f"""
        WITH d AS (
          SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                 CAST(SUM({sql_cents('value')}) AS BIGINT) AS cents
          FROM events GROUP BY 1
        ),
        arr AS (
          SELECT list(cents ORDER BY day) AS a,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(CAST(cents AS HUGEINT)) AS s
          FROM d
        ),
        mom AS (
          SELECT n,
                 {wide('s')} / n AS mu,
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(a, v -> (v - {wide('s')} / n)
                     * (v - {wide('s')} / n))),
                   (acc, v) -> acc + v) / n AS m2,
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(a, v -> (v - {wide('s')} / n)
                     * (v - {wide('s')} / n)
                     * (v - {wide('s')} / n))),
                   (acc, v) -> acc + v) / n AS m3,
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(a, v -> ((v - {wide('s')} / n)
                     * (v - {wide('s')} / n))
                     * ((v - {wide('s')} / n)
                     * (v - {wide('s')} / n)))),
                   (acc, v) -> acc + v) / n AS m4
          FROM arr
        )
        SELECT n AS n_days,
               mu / 100 AS mean_revenue,
               m3 / (m2 * SQRT(m2)) AS skewness,
               m4 / (m2 * m2) AS kurtosis,
               n / 6.0 * ((m3 / (m2 * SQRT(m2)))
                          * (m3 / (m2 * SQRT(m2)))
                 + (m4 / (m2 * m2) - 3.0) * (m4 / (m2 * m2) - 3.0)
                   / 4.0) AS jb_stat
        FROM mom
    """,
    doc="Jarque-Bera normality test on daily revenue: population "
        "skewness and kurtosis from central moments, combined into "
        "the JB statistic — the distributional-health check a "
        "forecasting pipeline runs before trusting Gaussian "
        "prediction intervals. Deliberately NOT Spark's skewness()/"
        "kurtosis() builtins: their partial-aggregation merge order "
        "is nondeterministic over doubles, so both engines instead "
        "fold (v - mu)^k terms over the SAME day-ordered array from "
        "a 0.0 seed — bit-identical, with mu itself one wide-exact "
        "division. The skewness denominator is written m2*sqrt(m2), "
        "not pow(m2, 1.5): sqrt is correctly rounded cross-engine, "
        "pow is not guaranteed. Plan: one map-side-combinable daily "
        "rollup; the moment math is 1-row array folds over the "
        "calendar-bounded series.",
    tags=("timeseries", "statistics"),
)
def jarque_bera_daily_revenue(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    d = (load(spark, sf_dir, "events")
         .selectExpr("CAST(CAST(ts AS DATE) AS STRING) AS day",
                     f"{sql_cents('value')} AS c")
         .groupBy("day").agg(F.sum("c").cast("long").alias("cents")))
    arr = d.agg(
        F.expr("transform(array_sort(collect_list(struct(day, cents))),"
               " x -> x.cents)").alias("a"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s"))
    mu = f"{wide('s')} / n"
    mom = arr.selectExpr(
        "n",
        f"{mu} AS mu",
        f"aggregate(transform(a, v -> (v - {mu}) * (v - {mu})),"
        f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) / n AS m2",
        f"aggregate(transform(a, v -> (v - {mu}) * (v - {mu})"
        f" * (v - {mu})),"
        f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) / n AS m3",
        f"aggregate(transform(a, v -> ((v - {mu}) * (v - {mu}))"
        f" * ((v - {mu}) * (v - {mu}))),"
        f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) / n AS m4")
    return mom.selectExpr(
        "n AS n_days",
        "mu / 100 AS mean_revenue",
        "m3 / (m2 * SQRT(m2)) AS skewness",
        "m4 / (m2 * m2) AS kurtosis",
        "n / 6.0 * ((m3 / (m2 * SQRT(m2))) * (m3 / (m2 * SQRT(m2)))"
        " + (m4 / (m2 * m2) - 3.0) * (m4 / (m2 * m2) - 3.0) / 4.0)"
        " AS jb_stat")


# ---------------------------------------------------------------------
# Group B: distribution statistics. Bounded sums of per-group double
# terms use the shared sorted folds (queries/util.py fold_spark /
# fold_sql).


# ----------------- Kruskal-Wallis rank test of value across types

# Midranks without a global rank over raw rows (the roc_auc cumulation
# pattern): group by the exact integer cents score, cumulate counts
# below each distinct value, and keep 2x the midrank integral:
#   midrank2_v = 2 * cum_below_v + cnt_v + 1.
# R2_g = sum_v cnt_gv * midrank2_v is then exact in DECIMAL(38,0), and
# since R_g = R2_g / 2, the 12/(N(N+1)) coefficient becomes 3:
#   H = 3 / (N (N+1)) * sum_g R2_g^2 / n_g - 3 (N + 1).
_KW_TERM = ("CAST(CAST(r2 AS STRING) AS DOUBLE)"
            " * CAST(CAST(r2 AS STRING) AS DOUBLE)"
            " / CAST(n_g AS DOUBLE)")


@query(
    "kruskal_wallis_value_by_type",
    oracle=f"""
        WITH gv AS (
          SELECT event_type AS g, {sql_cents('value')} AS v,
                 CAST(COUNT(*) AS BIGINT) AS cnt_gv
          FROM events GROUP BY 1, 2
        ),
        vv AS (
          SELECT v, CAST(SUM(cnt_gv) AS BIGINT) AS cnt_v
          FROM gv GROUP BY v
        ),
        mr AS (
          SELECT v, cnt_v,
                 2 * COALESCE(CAST(SUM(cnt_v) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS BIGINT), 0) + cnt_v + 1 AS midrank2
          FROM vv
        ),
        rg AS (
          SELECT g,
                 SUM(CAST(cnt_gv AS DECIMAL(38,0)) * midrank2) AS r2,
                 CAST(SUM(cnt_gv) AS BIGINT) AS n_g
          FROM gv JOIN mr USING (v) GROUP BY g
        ),
        tot AS (
          SELECT CAST(SUM(cnt_v) AS BIGINT) AS n,
                 SUM(CAST(cnt_v AS DECIMAL(38,0)) * cnt_v * cnt_v
                     - cnt_v) AS tie_num
          FROM vv
        ),
        folded AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
                 {fold_sql(f"list({_KW_TERM})")} AS f
          FROM rg
        )
        SELECT t.n AS n_events, folded.n_groups,
               3.0 * folded.f
                 / (CAST(t.n AS DOUBLE) * (t.n + 1.0))
                 - 3.0 * (t.n + 1.0) AS h_stat,
               1.0 - CAST(CAST(t.tie_num AS STRING) AS DOUBLE)
                 / (CAST(t.n AS DOUBLE) * CAST(t.n AS DOUBLE)
                    * t.n - t.n) AS tie_correction,
               (3.0 * folded.f
                 / (CAST(t.n AS DOUBLE) * (t.n + 1.0))
                 - 3.0 * (t.n + 1.0))
               / (1.0 - CAST(CAST(t.tie_num AS STRING) AS DOUBLE)
                 / (CAST(t.n AS DOUBLE) * CAST(t.n AS DOUBLE)
                    * t.n - t.n)) AS h_adj
        FROM folded, tot t
    """,
    doc="Kruskal-Wallis rank test: do the five event types draw their "
        "values from the same distribution — the k-sample extension "
        "of the staged Mann-Whitney, robust where ANOVA's normality "
        "assumption fails. Midranks are computed WITHOUT a global "
        "rank over raw rows: group by the exact integer cents score "
        "(bounded distinct values), cumulate counts below each value, "
        "and keep 2x-midranks integral so every rank sum R2_g rides "
        "DECIMAL(38,0); tie correction sums cnt^3 - cnt exactly. The "
        "five R2_g^2/n_g double terms reduce via the sorted fold. "
        "Plan: one map-side-combinable (type, cents) aggregate; the "
        "cumulation window sits above the value aggregate (bounded "
        "input, the roc_auc shape); everything after is 5-row math.",
    tags=("statistics",),
)
def kruskal_wallis_value_by_type(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    gv = (load(spark, sf_dir, "events")
          .selectExpr("event_type AS g", f"{sql_cents('value')} AS v")
          .groupBy("g", "v")
          .agg(F.count(F.lit(1)).cast("long").alias("cnt_gv"))
          # the (type, cents) table is bounded (5 types x bounded
          # distinct cents) and feeds the value rollup AND the rank
          # sums; materialize so the fact table scans once
          .localCheckpoint())
    vv = gv.groupBy("v").agg(F.sum("cnt_gv").cast("long").alias("cnt_v"))
    cumw = (Window.orderBy("v")
                  .rowsBetween(Window.unboundedPreceding, -1))
    mr = vv.select(
        "v", "cnt_v",
        (2 * F.coalesce(F.sum("cnt_v").over(cumw).cast("long"),
                        F.lit(0))
         + F.col("cnt_v") + 1).alias("midrank2"))
    rg = (gv.join(mr.select("v", "midrank2"), "v")
            .groupBy("g")
            .agg(F.expr("SUM(CAST(cnt_gv AS DECIMAL(38,0)) * midrank2)")
                  .alias("r2"),
                 F.sum("cnt_gv").cast("long").alias("n_g")))
    tot = vv.agg(
        F.sum("cnt_v").cast("long").alias("n"),
        F.expr("SUM(CAST(cnt_v AS DECIMAL(38,0)) * cnt_v * cnt_v"
               " - cnt_v)").alias("tie_num"))
    folded = rg.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.expr(fold_spark(f"collect_list({_KW_TERM})")).alias("f"))
    h = ("3.0 * f / (CAST(n AS DOUBLE) * (n + 1.0))"
         " - 3.0 * (n + 1.0)")
    tc = ("1.0 - CAST(CAST(tie_num AS STRING) AS DOUBLE)"
          " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * n - n)")
    return (folded.crossJoin(F.broadcast(tot))
                  .selectExpr("n AS n_events", "n_groups",
                              f"{h} AS h_stat",
                              f"{tc} AS tie_correction",
                              f"({h}) / ({tc}) AS h_adj"))


# ------------- Brown-Forsythe (median-based Levene) weekend variance


@query(
    "brown_forsythe_weekend_value",
    oracle=f"""
        WITH b AS (
          SELECT CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END
                   AS wknd,
                 {sql_cents('value')} AS c
          FROM events
        ),
        med AS (
          SELECT wknd, quantile_cont(c, 0.5) AS med
          FROM b GROUP BY wknd
        ),
        z AS (
          SELECT b.wknd,
                 CAST(ABS(2 * b.c - 2 * m.med) AS BIGINT) AS z2
          FROM b JOIN med m ON m.wknd = b.wknd
        ),
        g AS (
          SELECT wknd, CAST(COUNT(*) AS BIGINT) AS n_g,
                 SUM(CAST(z2 AS DECIMAL(38,0))) AS s_g,
                 SUM(CAST(z2 AS DECIMAL(38,0)) * z2) AS q_g
          FROM z GROUP BY wknd
        ),
        f AS (
          SELECT CAST(SUM(n_g) AS BIGINT) AS n,
                 CAST(CAST(SUM(s_g) AS STRING) AS DOUBLE) AS s_tot,
                 CAST(CAST(SUM(q_g) AS STRING) AS DOUBLE) AS q_tot,
                 {fold_sql("list(CAST(CAST(s_g AS STRING) AS DOUBLE)"
                            " * CAST(CAST(s_g AS STRING) AS DOUBLE)"
                            " / CAST(n_g AS DOUBLE))")} AS fold_sq,
                 MAX(CASE WHEN wknd = 1 THEN n_g END) AS n_we,
                 MAX(CASE WHEN wknd = 0 THEN n_g END) AS n_wd
          FROM g
        ),
        m2 AS (
          SELECT MAX(CASE WHEN wknd = 1 THEN med END) / 100 AS med_we,
                 MAX(CASE WHEN wknd = 0 THEN med END) / 100 AS med_wd
          FROM med
        )
        SELECT f.n_we AS n_weekend, f.n_wd AS n_weekday,
               m2.med_we AS median_weekend, m2.med_wd AS median_weekday,
               (n - 2) * (fold_sq - s_tot * s_tot / n)
                 / (q_tot - fold_sq) AS w_stat
        FROM f, m2
    """,
    doc="Brown-Forsythe test (median-based Levene): do weekend and "
        "weekday values differ in SPREAD, not just location — the "
        "variance-homogeneity gate that decides whether the staged "
        "Welch t was even needed. Deviations from the group median "
        "stay integral as |2c - 2*median| (an exact integer-valued "
        "double: the median of integer cents is *.0 or *.5); their "
        "sums and squares ride DECIMAL(38,0); the two S_g^2/n_g "
        "double terms reduce via the sorted fold and the W statistic "
        "is a handful of IEEE ops on identical operands. percentile "
        "<-> quantile_cont is the established exact pair. Plan: one "
        "median aggregate (5-row output broadcast back), one "
        "moment aggregate — no window touches raw rows.",
    tags=("statistics",),
)
def brown_forsythe_weekend_value(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    b = load(spark, sf_dir, "events").selectExpr(
        "CASE WHEN (dayofweek(ts) - 1) IN (0, 6) THEN 1 ELSE 0 END"
        " AS wknd",
        f"{sql_cents('value')} AS c")
    # group medians from the cumulated (wknd, cents)-cell table in 2x
    # integer units (med2 = v_lo + v_hi == 2*percentile(c, 0.5)
    # exactly) — percentile() over raw rows would sort the whole
    # corpus in |groups|=2 tasks at 100 TB (round-7 re-plan; the
    # registered mad_outlier_events documents the idiom)
    cells = (b.groupBy("wknd", "c")
              .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    ww = Window.partitionBy("wknd")
    c1 = (cells.withColumn(
              "cum", F.sum("cnt").over(
                  ww.orderBy("c").rowsBetween(
                      Window.unboundedPreceding, Window.currentRow)))
               .withColumn("n", F.sum("cnt").over(ww)))
    med = c1.groupBy("wknd").agg(
        F.expr("MIN(CASE WHEN cum >= (n + 1) div 2 THEN c END)"
               " + MIN(CASE WHEN cum >= n div 2 + 1 THEN c END)")
         .alias("med2")).localCheckpoint()
    # ^ the 2-row median table feeds the deviation join AND the
    # reporting projection; un-materialized, each reference re-runs
    # the full cell pass
    z = (b.join(F.broadcast(med), "wknd")
          .selectExpr("wknd",
                      "CAST(ABS(2 * c - med2) AS BIGINT) AS z2"))
    g = z.groupBy("wknd").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.expr("SUM(CAST(z2 AS DECIMAL(38,0)))").alias("s_g"),
        F.expr("SUM(CAST(z2 AS DECIMAL(38,0)) * z2)").alias("q_g"))
    fold_term = ("CAST(CAST(s_g AS STRING) AS DOUBLE)"
                 " * CAST(CAST(s_g AS STRING) AS DOUBLE)"
                 " / CAST(n_g AS DOUBLE)")
    f = g.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.expr("CAST(CAST(SUM(s_g) AS STRING) AS DOUBLE)")
         .alias("s_tot"),
        F.expr("CAST(CAST(SUM(q_g) AS STRING) AS DOUBLE)")
         .alias("q_tot"),
        F.expr(fold_spark(f"collect_list({fold_term})"))
         .alias("fold_sq"),
        F.expr("MAX(CASE WHEN wknd = 1 THEN n_g END)").alias("n_we"),
        F.expr("MAX(CASE WHEN wknd = 0 THEN n_g END)").alias("n_wd"))
    m2 = med.agg(
        F.expr("MAX(CASE WHEN wknd = 1 THEN CAST(med2 AS DOUBLE) END)"
               " / 200").alias("med_we"),
        F.expr("MAX(CASE WHEN wknd = 0 THEN CAST(med2 AS DOUBLE) END)"
               " / 200").alias("med_wd"))
    return (f.crossJoin(F.broadcast(m2))
             .selectExpr("n_we AS n_weekend", "n_wd AS n_weekday",
                         "med_we AS median_weekend",
                         "med_wd AS median_weekday",
                         "(n - 2) * (fold_sq - s_tot * s_tot / n)"
                         " / (q_tot - fold_sq) AS w_stat"))


# --------------- Hellinger distance: weekend vs weekday value mix

HELL_BIN_C = 5000   # 50-dollar value bands
HELL_BINS = 10

# Integer division EXPLICITLY (Spark DIV / DuckDB //): a plain '/'
# is float division in both engines and DuckDB's CAST-to-BIGINT then
# ROUNDS where Spark's truncates — measured as a whole bin shifting.
_HBIN_SPARK = (f"LEAST(CAST({HELL_BINS - 1} AS BIGINT), "
               f"CAST({sql_cents('value')} DIV {HELL_BIN_C} AS BIGINT))")
_HBIN_SQL = (f"LEAST(CAST({HELL_BINS - 1} AS BIGINT), "
             f"CAST({sql_cents('value')} // {HELL_BIN_C} AS BIGINT))")


@query(
    "hellinger_weekend_value_drift",
    oracle=f"""
        WITH b AS (
          SELECT {_HBIN_SQL} AS bin,
                 CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END
                   AS wknd
          FROM events
        ),
        per_bin AS (
          SELECT bin,
                 CAST(SUM(wknd) AS BIGINT) AS n_we,
                 CAST(SUM(1 - wknd) AS BIGINT) AS n_wd
          FROM b GROUP BY bin
        ),
        tot AS (
          SELECT CAST(SUM(n_we) AS BIGINT) AS t_we,
                 CAST(SUM(n_wd) AS BIGINT) AS t_wd,
                 CAST(COUNT(*) AS BIGINT) AS n_bins
          FROM per_bin
        ),
        f AS (
          SELECT {fold_sql(
              "list(SQRT((CAST(n_wd AS DOUBLE) / (SELECT t_wd FROM tot))"
              " * (CAST(n_we AS DOUBLE) / (SELECT t_we FROM tot))))")}
            AS bc
          FROM per_bin
        )
        SELECT t.t_wd AS n_weekday, t.t_we AS n_weekend,
               t.n_bins, f.bc AS bc_coef,
               SQRT(1.0 - f.bc) AS hellinger
        FROM f, tot t
    """,
    doc="Hellinger distance between the weekday and weekend value "
        "distributions over 10 fixed 50-dollar bands — the drift "
        "score a mixture monitor tracks per slice. Hellinger is "
        "chosen over KL/PSI DELIBERATELY: it needs only sqrt (IEEE "
        "correctly rounded, bit-identical cross-engine) where the "
        "log-based divergences differ in the last ulp between the "
        "JVM and DuckDB (measured, module head). Bin probabilities "
        "are single divisions of exact integers; the <=10 "
        "sqrt(p*q) terms reduce via the sorted fold. Plan: one "
        "map-side-combinable bin aggregate; 10-row math after.",
    tags=("statistics",),
)
def hellinger_weekend_value_drift(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    b = load(spark, sf_dir, "events").selectExpr(
        f"{_HBIN_SPARK} AS bin",
        "CASE WHEN (dayofweek(ts) - 1) IN (0, 6) THEN 1 ELSE 0 END"
        " AS wknd")
    per_bin = b.groupBy("bin").agg(
        F.expr("CAST(SUM(wknd) AS BIGINT)").alias("n_we"),
        F.expr("CAST(SUM(1 - wknd) AS BIGINT)").alias("n_wd")
        # the 10-row bin table feeds the totals AND the fold;
        # materialize so the fact table scans once
        ).localCheckpoint()
    tot = per_bin.agg(
        F.sum("n_we").cast("long").alias("t_we"),
        F.sum("n_wd").cast("long").alias("t_wd"),
        F.count(F.lit(1)).cast("long").alias("n_bins"))
    witht = per_bin.crossJoin(F.broadcast(tot))
    f = witht.agg(F.expr(fold_spark(
        "collect_list(SQRT((CAST(n_wd AS DOUBLE) / t_wd)"
        " * (CAST(n_we AS DOUBLE) / t_we)))")).alias("bc"))
    return (f.crossJoin(F.broadcast(tot))
             .selectExpr("t_wd AS n_weekday", "t_we AS n_weekend",
                         "n_bins", "bc AS bc_coef",
                         "SQRT(1.0 - bc) AS hellinger"))


# ------------------ Brier score calibration of a value-based scorer

BRIER_SCALE = 50000  # score = cents / 50000 in [0, 1) (max value 490.02)


@query(
    "brier_calibration_purchase",
    oracle=f"""
        WITH e AS (
          SELECT {sql_cents('value')} AS c,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS y
          FROM events
        )
        SELECT LEAST(CAST(9 AS BIGINT), CAST(c // {HELL_BIN_C} AS BIGINT))
                 AS bin,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(y) AS BIGINT) AS n_pos,
               CAST(CAST(SUM(CAST(c AS DECIMAL(38,0))) AS STRING)
                 AS DOUBLE) / {BRIER_SCALE} / COUNT(*) AS mean_pred,
               CAST(SUM(y) AS DOUBLE) / COUNT(*) AS frac_pos,
               CAST(CAST(SUM(CAST(c - {BRIER_SCALE} * y AS DECIMAL(38,0))
                     * (c - {BRIER_SCALE} * y)) AS STRING) AS DOUBLE)
                 / {BRIER_SCALE} / {BRIER_SCALE} / COUNT(*)
                 AS bin_brier
        FROM e GROUP BY 1
    """,
    doc="Brier-score reliability table for a transparent value-"
        "proportional purchase scorer (score = cents/50000): per "
        "calibration bin, the mean predicted probability, observed "
        "positive rate, and mean squared error — the calibration "
        "curve every propensity model ships with. The squared error "
        "stays EXACT: (c - 50000 y)^2 is integral per row, summed in "
        "DECIMAL(38,0), divided once at emit — never a summed double "
        "(the global Brier is the n-weighted mean of bin_brier). "
        "Plan: one map-side-combinable aggregate over the fact "
        "table, 10 output rows.",
    tags=("evaluation", "statistics"),
)
def brier_calibration_purchase(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").selectExpr(
        f"{sql_cents('value')} AS c",
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y")
    return (e.groupBy(F.expr(
                f"LEAST(CAST(9 AS BIGINT),"
                f" CAST(c DIV {HELL_BIN_C} AS BIGINT))").alias("bin"))
             .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                  F.sum("y").cast("long").alias("n_pos"),
                  F.expr(f"CAST(CAST(SUM(CAST(c AS DECIMAL(38,0)))"
                         f" AS STRING) AS DOUBLE) / {BRIER_SCALE}"
                         f" / COUNT(*)").alias("mean_pred"),
                  F.expr("CAST(SUM(y) AS DOUBLE) / COUNT(*)")
                   .alias("frac_pos"),
                  F.expr(f"CAST(CAST(SUM(CAST(c - {BRIER_SCALE} * y"
                         f" AS DECIMAL(38,0)) * (c - {BRIER_SCALE} * y))"
                         f" AS STRING) AS DOUBLE) / {BRIER_SCALE}"
                         f" / {BRIER_SCALE} / COUNT(*)")
                   .alias("bin_brier")))


# ------------------- Cochran's Q over three document quality rules


@query(
    "cochrans_q_quality_rules",
    oracle="""
        WITH r AS (
          SELECT CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END AS x1,
                 CASE WHEN text LIKE '%window%' THEN 1 ELSE 0 END AS x2,
                 CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS x3
          FROM documents
        ),
        a AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(x1) AS BIGINT) AS c1,
                 CAST(SUM(x2) AS BIGINT) AS c2,
                 CAST(SUM(x3) AS BIGINT) AS c3,
                 CAST(SUM((x1 + x2 + x3) * (x1 + x2 + x3)) AS BIGINT)
                   AS sum_r2
          FROM r
        )
        SELECT n_docs, c1, c2, c3,
               CAST(2 AS BIGINT) AS df,
               2.0 * (3.0 * (CAST(CAST(CAST(c1 AS DECIMAL(38,0)) * c1
                       + CAST(c2 AS DECIMAL(38,0)) * c2
                       + CAST(c3 AS DECIMAL(38,0)) * c3 AS STRING)
                       AS DOUBLE))
                 - (CAST(CAST(CAST(c1 + c2 + c3 AS DECIMAL(38,0))
                     * (c1 + c2 + c3) AS STRING) AS DOUBLE)))
               / (3.0 * (c1 + c2 + c3) - sum_r2) AS q_stat
        FROM a
    """,
    doc="Cochran's Q test: do three binary document-quality rules "
        "(mentions 'spark', mentions 'window', >= 300 chars) flag at "
        "the same rate — the k-treatment extension of the staged "
        "McNemar test, the gate for 'is any rule systematically "
        "stricter' before ensembling them. Everything is integer "
        "until the single final division: column totals and the "
        "per-doc row-sum squares accumulate in BIGINT, the squared "
        "totals ride DECIMAL(38,0) through the wide string cast. "
        "Plan: ONE map-side-combinable aggregate over documents, one "
        "output row, no shuffle beyond the 1-row final merge.",
    tags=("statistics", "quality"),
)
def cochrans_q_quality_rules(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    r = load(spark, sf_dir, "documents").selectExpr(
        "CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END AS x1",
        "CASE WHEN text LIKE '%window%' THEN 1 ELSE 0 END AS x2",
        "CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS x3")
    a = r.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("x1").cast("long").alias("c1"),
        F.sum("x2").cast("long").alias("c2"),
        F.sum("x3").cast("long").alias("c3"),
        F.expr("CAST(SUM((x1 + x2 + x3) * (x1 + x2 + x3)) AS BIGINT)")
         .alias("sum_r2"))
    return a.selectExpr(
        "n_docs", "c1", "c2", "c3",
        "CAST(2 AS BIGINT) AS df",
        "2.0 * (3.0 * (CAST(CAST(CAST(c1 AS DECIMAL(38,0)) * c1"
        " + CAST(c2 AS DECIMAL(38,0)) * c2"
        " + CAST(c3 AS DECIMAL(38,0)) * c3 AS STRING) AS DOUBLE))"
        " - (CAST(CAST(CAST(c1 + c2 + c3 AS DECIMAL(38,0))"
        " * (c1 + c2 + c3) AS STRING) AS DOUBLE)))"
        " / (3.0 * (c1 + c2 + c3) - sum_r2) AS q_stat")


# ---------------------------------------------------------------------
# Group C: text-richness metrics and graded retrieval evaluation.


# ----------------------------- Yule's K vocabulary richness by source


@query(
    "yules_k_by_source",
    oracle="""
        WITH tok AS (
          SELECT source, unnest(string_split(text, ' ')) AS term
          FROM documents
        ),
        tf AS (
          SELECT source, term, CAST(COUNT(*) AS BIGINT) AS f
          FROM tok WHERE term <> '' GROUP BY 1, 2
        ),
        agg AS (
          SELECT source,
                 CAST(SUM(f) AS BIGINT) AS n_tokens,
                 CAST(COUNT(*) AS BIGINT) AS n_types,
                 SUM(CAST(f AS DECIMAL(38,0)) * f) AS s2
          FROM tf GROUP BY source
        )
        SELECT source, n_tokens, n_types,
               10000.0 * (CAST(CAST(s2 AS STRING) AS DOUBLE) - n_tokens)
                 / (CAST(n_tokens AS DOUBLE) * n_tokens) AS yules_k
        FROM agg
    """,
    doc="Yule's K vocabulary-richness characteristic per source: "
        "K = 10^4 (sum f^2 - N) / N^2 over term frequencies — the "
        "repetitiveness fingerprint that separates boilerplate-heavy "
        "sources from diverse prose in a curation scorecard (higher "
        "K = fewer types dominating more tokens). sum f^2 rides "
        "DECIMAL(38,0) through the wide string cast; one double "
        "division at emit. Plan: tokenize-explode feeds ONE "
        "map-side-combinable (source, term) count, then a per-source "
        "rollup — the same two-exchange shape as the promoted "
        "vocab/tf queries; nothing data-sized past the term counts.",
    tags=("text", "quality"),
)
def yules_k_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    tf = (load(spark, sf_dir, "documents")
          .select("source",
                  F.explode(F.split("text", " ")).alias("term"))
          .filter(F.col("term") != "")
          .groupBy("source", "term")
          .agg(F.count(F.lit(1)).cast("long").alias("f")))
    agg = tf.groupBy("source").agg(
        F.sum("f").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.expr("SUM(CAST(f AS DECIMAL(38,0)) * f)").alias("s2"))
    return agg.selectExpr(
        "source", "n_tokens", "n_types",
        "10000.0 * (CAST(CAST(s2 AS STRING) AS DOUBLE) - n_tokens)"
        " / (CAST(n_tokens AS DOUBLE) * n_tokens) AS yules_k")


# -------------------- burstiness (VMR) of the top corpus-wide terms

BURST_TOP = 20


@query(
    "term_burstiness_vmr",
    oracle=f"""
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents
        ),
        td AS (
          SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS c
          FROM tok WHERE term <> '' GROUP BY 1, 2
        ),
        top AS (
          SELECT term, CAST(SUM(c) AS BIGINT) AS total_count
          FROM td GROUP BY term
          ORDER BY total_count DESC, term LIMIT {BURST_TOP}
        ),
        d AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        per AS (
          SELECT t.term, t.total_count,
                 CAST(COUNT(*) AS BIGINT) AS n_docs_present,
                 SUM(CAST(td.c AS DECIMAL(38,0)) * td.c) AS q
          FROM td JOIN top t USING (term)
          GROUP BY t.term, t.total_count
        )
        SELECT term, n_docs_present, total_count,
               (CAST(d.n_docs AS DOUBLE)
                  * CAST(CAST(q AS STRING) AS DOUBLE)
                - CAST(total_count AS DOUBLE) * total_count)
               / (CAST(d.n_docs AS DOUBLE) * total_count) AS vmr
        FROM per, d
    """,
    doc="Burstiness of the top-20 corpus terms as the variance-to-"
        "mean ratio of their per-document counts (zeros included "
        "implicitly: VMR = (D*sum c^2 - S^2) / (D*S) needs only the "
        "present-document moments plus the corpus size) — VMR >> 1 "
        "marks topical/bursty terms, VMR ~ 1 Poisson background, the "
        "Church-Gale diagnostic for stopword-list and keyword "
        "curation. All moments exact (DECIMAL(38,0) squares); one "
        "double expression at emit. Plan: one (term, doc) count, one "
        "term rollup, a TakeOrdered top-20 broadcast back onto the "
        "per-doc counts, and the 1-row corpus size broadcast — the "
        "scalar-build nested loop the blanket gate recognizes.",
    tags=("text", "statistics"),
)
def term_burstiness_vmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    td = (docs.select("doc_id",
                      F.explode(F.split("text", " ")).alias("term"))
              .filter(F.col("term") != "")
              .groupBy("term", "doc_id")
              .agg(F.count(F.lit(1)).cast("long").alias("c")))
    top = (td.groupBy("term")
             .agg(F.sum("c").cast("long").alias("total_count"))
             .orderBy(F.desc("total_count"), "term")
             .limit(BURST_TOP)
             # the 20-row keep-list would otherwise re-derive its own
             # tokenize-and-count pass inside the joined plan
             .localCheckpoint())
    d = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    per = (td.join(F.broadcast(top), "term")
             .groupBy("term", "total_count")
             .agg(F.count(F.lit(1)).cast("long").alias("n_docs_present"),
                  F.expr("SUM(CAST(c AS DECIMAL(38,0)) * c)").alias("q")))
    return (per.crossJoin(F.broadcast(d))
               .selectExpr(
                   "term", "n_docs_present", "total_count",
                   "(CAST(n_docs AS DOUBLE)"
                   " * CAST(CAST(q AS STRING) AS DOUBLE)"
                   " - CAST(total_count AS DOUBLE) * total_count)"
                   " / (CAST(n_docs AS DOUBLE) * total_count) AS vmr"))


# ------------------- graded retrieval evaluation: NDCG@10 and MRR@10

# NDCG's 1/log2(rank+1) discounts are the ONE place a log is
# unavoidable — so it is evaluated exactly once, in Python at module
# import, and inlined as IDENTICAL double literals into both engines
# (repr round-trips exactly). log2 computed engine-side would differ
# in the last ulp (module head).
import math as _math

NDCG_K = 10
_DISCOUNTS = [1.0 / _math.log2(i + 1) for i in range(1, NDCG_K + 1)]
_IDCG_PREFIX = [sum(_DISCOUNTS[:i + 1]) for i in range(NDCG_K)]
# DuckDB list literals of bare decimals type as DECIMAL(18,17), and
# DuckDB's decimal->double cast is NOT correctly rounded (measured:
# 0.2890648263178879 arrives as ...794). Routing each literal through
# a STRING cast uses strtod, which IS correctly rounded.
_D_LIT = ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in _DISCOUNTS)
_P_LIT = ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in _IDCG_PREFIX)
# Spark parses bare decimal literals as DECIMAL (measured: a DECIMAL
# idcg with trailing-zero scale); the D suffix forces DOUBLE. DuckDB
# has no D suffix — its bare literals in a list already read as
# DOUBLE-compatible and the fold seed fixes the type.
_D_LIT_SPARK = ", ".join(repr(x) + "D" for x in _DISCOUNTS)
_P_LIT_SPARK = ", ".join(repr(x) + "D" for x in _IDCG_PREFIX)

NDCG_ANCHOR_STEP = 25
NDCG_ANCHOR_OFF = 10   # distinct 20-query panel from map_retrieval_eval

_SQL_COS = (
    "(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform("
    "generate_series(1, len(e.embedding)),"
    " i -> CAST(e.embedding[i] AS DOUBLE)"
    " * CAST(a.qv[i] AS DOUBLE))), (acc, v) -> acc + v)"
    " / (SQRT(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
    " list_transform(generate_series(1, len(e.embedding)),"
    " i -> CAST(e.embedding[i] AS DOUBLE)"
    " * CAST(e.embedding[i] AS DOUBLE))), (acc, v) -> acc + v))"
    " * SQRT(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
    " list_transform(generate_series(1, len(a.qv)),"
    " i -> CAST(a.qv[i] AS DOUBLE)"
    " * CAST(a.qv[i] AS DOUBLE))), (acc, v) -> acc + v))))")

_SQL_TOPK_REL = f"""
        anchors AS (
          SELECT vec_id AS qid, label AS q_label, embedding AS qv
          FROM embeddings
          WHERE vec_id % {NDCG_ANCHOR_STEP} = {NDCG_ANCHOR_OFF}
            AND vec_id < {NDCG_ANCHOR_OFF + 500}
        ),
        scored AS (
          SELECT a.qid, a.q_label, e.vec_id,
                 CASE WHEN e.label = a.q_label THEN 1 ELSE 0 END AS rel,
                 {_SQL_COS} AS cosv
          FROM embeddings e CROSS JOIN anchors a
          WHERE e.vec_id <> a.qid
        ),
        ranked AS (
          SELECT qid, q_label, rel,
                 CAST(ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY cosv DESC, vec_id) AS BIGINT) AS rn
          FROM scored
        ),
        top AS (SELECT * FROM ranked WHERE rn <= {NDCG_K})"""


def _spark_topk_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Norms hoisted below the broadcast join (r10 optimization): the
    # corpus-side norm is anchor-independent and the anchor norm
    # corpus-independent, yet the fused cosine() evaluated both per
    # (vector, anchor) pair — 3x the fold work. Splitting the same
    # expression (dot / (en * qn), identical association) is
    # bit-identical, and the join boundary stops CollapseProject from
    # re-inlining the hoisted folds.
    from de_project_airflow_etl_spark.operators.similarity import dot
    e = load(spark, sf_dir, "embeddings")
    anchors = (e.filter(
                  (F.col("vec_id") % NDCG_ANCHOR_STEP == NDCG_ANCHOR_OFF)
                  & (F.col("vec_id") < NDCG_ANCHOR_OFF + 500))
                .select(F.col("vec_id").alias("qid"),
                        F.col("label").alias("q_label"),
                        F.col("embedding").alias("qv"))
                .withColumn("qn", F.sqrt(dot("qv", "qv"))))
    ev = e.select("vec_id", "label", "embedding",
                  F.sqrt(dot("embedding", "embedding")).alias("en"))
    scored = (ev.crossJoin(F.broadcast(anchors))
               .filter(F.col("vec_id") != F.col("qid"))
               .select("qid", "q_label", "vec_id",
                       F.when(F.col("label") == F.col("q_label"), 1)
                        .otherwise(0).alias("rel"),
                       (dot("embedding", "qv")
                        / (F.col("en") * F.col("qn"))).alias("cosv")))
    w = Window.partitionBy("qid").orderBy(F.desc("cosv"), "vec_id")
    return (scored.withColumn("rn",
                              F.row_number().over(w).cast("long"))
                  .filter(F.col("rn") <= NDCG_K))


@query(
    "ndcg_retrieval_eval",
    oracle=f"""
        WITH {_SQL_TOPK_REL},
        lc AS (
          SELECT label, CAST(COUNT(*) AS BIGINT) AS n_label
          FROM embeddings GROUP BY label
        ),
        per_q AS (
          SELECT t.qid, ANY_VALUE(t.q_label) AS q_label,
                 CAST(SUM(t.rel) AS BIGINT) AS hits,
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(list_sort(list({{'rn': t.rn,
                     'rel': t.rel}})),
                     x -> x.rel * ([{_D_LIT}])[CAST(x.rn AS INTEGER)])),
                   (acc, v) -> acc + v) AS dcg
          FROM top t GROUP BY t.qid
        )
        SELECT p.qid, p.q_label, p.hits, p.dcg,
               ([{_P_LIT}])[CAST(LEAST({NDCG_K},
                  lc.n_label - 1) AS INTEGER)] AS idcg,
               p.dcg / ([{_P_LIT}])[CAST(LEAST({NDCG_K},
                  lc.n_label - 1) AS INTEGER)] AS ndcg
        FROM per_q p JOIN lc ON lc.label = p.q_label
    """,
    doc="NDCG@10 of brute-force cosine retrieval against label-match "
        "relevance over a fixed 20-vector panel (disjoint from the "
        "MAP panel) — the graded-ranking scorecard MAP cannot "
        "express: position discounts reward early hits. The "
        "1/log2(rank+1) discounts and their ideal-DCG prefix sums "
        "are computed ONCE in Python and inlined as identical double "
        "literals into both engines (engine-side log2 differs in the "
        "last ulp — module head), so DCG is a fold over the rank-"
        "sorted top-10 structs with literal weights: bit-identical. "
        "IDCG indexes the prefix literal at min(k, |same-label| - 1). "
        "Plan: panel broadcasts onto one corpus scan; rank<=k rides "
        "the WindowGroupLimit pushdown (no corpus-sized window "
        "partition); per-query folds touch <= 10 rows each.",
    tags=("evaluation", "similarity"),
)
def ndcg_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    top = _spark_topk_rel(spark, sf_dir)
    lc = (load(spark, sf_dir, "embeddings")
          .groupBy("label")
          .agg(F.count(F.lit(1)).cast("long").alias("n_label")))
    per_q = top.groupBy("qid").agg(
        F.expr("ANY_VALUE(q_label)").alias("q_label"),
        F.sum("rel").cast("long").alias("hits"),
        F.expr(f"aggregate(array_sort(collect_list(struct(rn, rel))),"
               f" CAST(0.0 AS DOUBLE),"
               f" (acc, x) -> acc + x.rel"
               f" * element_at(array({_D_LIT_SPARK}),"
               f" CAST(x.rn AS INT)))").alias("dcg"))
    idcg = (f"element_at(array({_P_LIT_SPARK}),"
            f" CAST(LEAST({NDCG_K}, n_label - 1) AS INT))")
    return (per_q.join(F.broadcast(lc),
                       per_q.q_label == lc.label)
                 .selectExpr("qid", "q_label", "hits", "dcg",
                             f"{idcg} AS idcg",
                             f"dcg / {idcg} AS ndcg"))


@query(
    "mrr_retrieval_eval",
    oracle=f"""
        WITH {_SQL_TOPK_REL},
        per_q AS (
          SELECT qid,
                 MIN(CASE WHEN rel = 1 THEN rn END) AS first_hit
          FROM top GROUP BY qid
        ),
        rr AS (
          SELECT qid,
                 CASE WHEN first_hit IS NULL THEN CAST(0.0 AS DOUBLE)
                      ELSE CAST(1.0 AS DOUBLE) / first_hit END AS rr
          FROM per_q
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
               CAST(SUM(CASE WHEN rr > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_with_hit,
               {fold_sql("list(rr)")} / COUNT(*) AS mrr
        FROM rr
    """,
    doc="Mean reciprocal rank @10 over the NDCG panel: where does the "
        "FIRST same-label neighbor land — the metric that grades "
        "known-item search (one right answer) where MAP/NDCG grade "
        "recall sets. Each per-query reciprocal 1/rank is a single "
        "exact division; the 20 doubles reduce via the sorted fold "
        "and divide by the panel size once. Plan: identical to the "
        "NDCG scan (panel broadcast + WindowGroupLimit top-k); the "
        "final fold is one 20-row aggregate.",
    tags=("evaluation", "similarity"),
)
def mrr_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    top = _spark_topk_rel(spark, sf_dir)
    per_q = top.groupBy("qid").agg(
        F.expr("MIN(CASE WHEN rel = 1 THEN rn END)").alias("first_hit"))
    rr = per_q.selectExpr(
        "qid",
        "CASE WHEN first_hit IS NULL THEN CAST(0.0 AS DOUBLE)"
        " ELSE CAST(1.0 AS DOUBLE) / first_hit END AS rr")
    return rr.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.expr("CAST(SUM(CASE WHEN rr > 0 THEN 1 ELSE 0 END) AS BIGINT)")
         .alias("n_with_hit"),
        F.expr(f"{fold_spark('collect_list(rr)')} / COUNT(*)")
         .alias("mrr"))
