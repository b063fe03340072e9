"""Round-8 promoted bank, second group (staged round 7 as
staged/round8b.py): six more technical
indicators over the shared daily value bars (completing the
oscillator/flow family started in diagnostics.py) and seven nonparametric
/ evaluation statistics (the paired, ordered-alternative, k-sample
and goodness-of-fit gaps left by round 7b/8's test batteries).

Same contract and determinism rules as queries/diagnostics.py — exact
integer / DECIMAL(38,0) arithmetic for everything accumulated, +-*/
and sqrt only (ln/log2/exp are NOT correctly rounded cross-engine),
sorted folds for bounded sums of double terms, day-ordered windows
only over calendar-bounded daily aggregates, value-ordered windows
only over value-domain-bounded distinct-cents aggregates (the
roc_auc / kruskal_wallis cumulation shape), integer division spelled
DIV / `//` on non-negative operands only.

Tie-breaking without structs: where an extreme's POSITION inside a
window matters (Aroon), the (value, day-index) pair is packed into
one BIGINT key `value * 2^24 + idx` so MIN/MAX stay plain integer
aggregates with a pinned, engine-independent tie rule — no reliance
on cross-engine struct comparison semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.registry import query
from de_project_airflow_etl_spark.queries.diagnostics import (
    _SQL_DAILY_OHLC, _spark_daily_ohlc,
)
from de_project_airflow_etl_spark.tables import load
from de_project_airflow_etl_spark.queries.util import (
    fold_spark, fold_sql, sql_cents, wide,
)

# ---------------------------------------------------------------------
# Group A: technical indicators over the shared daily OHLC bars.


# --------------------------- Williams %R against the 14-day envelope

WR_W = 14

_WR = (f"CASE WHEN hi{WR_W} = lo{WR_W} THEN CAST(NULL AS DOUBLE)"
       f" ELSE CAST(-100 * (hi{WR_W} - close_c) AS DOUBLE)"
       f" / (hi{WR_W} - lo{WR_W}) END")


@query(
    "williams_r_daily",
    oracle=f"""
        WITH {_SQL_DAILY_OHLC},
        w AS (
          SELECT day, close_c,
                 CAST(COUNT(*) OVER win AS BIGINT) AS n,
                 CAST(MAX(high_c) OVER win AS BIGINT) AS hi{WR_W},
                 CAST(MIN(low_c) OVER win AS BIGINT) AS lo{WR_W}
          FROM ohlc
          WINDOW win AS (ORDER BY day
            ROWS BETWEEN {WR_W - 1} PRECEDING AND CURRENT ROW)
        )
        SELECT day, hi{WR_W} AS hi_c, lo{WR_W} AS lo_c,
               {_WR} AS williams_r
        FROM w WHERE n = {WR_W}
    """,
    doc="Williams %R over the daily value bars: where today's close "
        "sits inside the trailing 14-day high-low envelope, on the "
        "classic -100 (close at the low) to 0 (close at the high) "
        "scale — the overbought/oversold reading that pairs with the "
        "round-8 stochastic %K (same envelope, inverted anchor). The "
        "numerator -100*(hi-close) is exact integer cents; ONE double "
        "division at emit; NULL when the envelope is degenerate. "
        "Plan: daily bars from ONE map-side-combinable min_by/max_by "
        "aggregate; the trailing envelope window runs over the "
        "calendar-bounded daily table only.",
    tags=("timeseries",),
)
def williams_r_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ohlc = _spark_daily_ohlc(spark, sf_dir)
    win = (Window.orderBy("day")
                 .rowsBetween(-(WR_W - 1), Window.currentRow))
    w = ohlc.select(
        "day", "close_c",
        F.count(F.lit(1)).over(win).cast("long").alias("n"),
        F.max("high_c").over(win).cast("long").alias(f"hi{WR_W}"),
        F.min("low_c").over(win).cast("long").alias(f"lo{WR_W}"))
    return (w.filter(F.col("n") == WR_W)
             .selectExpr("day", f"hi{WR_W} AS hi_c", f"lo{WR_W} AS lo_c",
                         f"{_WR} AS williams_r"))


# ------------------------------ Aroon up/down over the 25-day window

AROON_W = 25
_PACK = 1 << 24  # idx < 2^24; cents * 2^24 stays far under 2^63


@query(
    "aroon_daily_value",
    oracle=f"""
        WITH {_SQL_DAILY_OHLC},
        i AS (
          SELECT day, high_c, low_c,
                 CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS idx
          FROM ohlc
        ),
        k AS (
          SELECT day, idx,
                 high_c * {_PACK} + idx AS key_hi,
                 low_c * {_PACK} + ({_PACK - 1} - idx) AS key_lo
          FROM i
        ),
        w AS (
          SELECT day, idx,
                 CAST(COUNT(*) OVER win AS BIGINT) AS n,
                 CAST(MAX(key_hi) OVER win AS BIGINT) AS mk_hi,
                 CAST(MIN(key_lo) OVER win AS BIGINT) AS mk_lo
          FROM k
          WINDOW win AS (ORDER BY day
            ROWS BETWEEN {AROON_W - 1} PRECEDING AND CURRENT ROW)
        )
        SELECT day,
               idx - (mk_hi % {_PACK}) AS days_since_high,
               idx - ({_PACK - 1} - (mk_lo % {_PACK})) AS days_since_low,
               CAST(4 * ({AROON_W} - (idx - (mk_hi % {_PACK})))
                 AS DOUBLE) AS aroon_up,
               CAST(4 * ({AROON_W} - (idx - ({_PACK - 1}
                 - (mk_lo % {_PACK})))) AS DOUBLE) AS aroon_down
        FROM w WHERE n = {AROON_W}
    """,
    doc="Aroon indicator over the daily bars: days since the 25-day "
        "high/low, rescaled to the 0-100 Aroon lines (100 = extreme "
        "was today) — the trend-freshness reading. The extreme's "
        "POSITION rides a packed integer key value*2^24 + idx, so "
        "MAX(key_hi) picks the highest high with ties going to the "
        "LATEST day and MIN(key_lo) the lowest low, ties also latest "
        "(idx bit-flipped) — a pinned engine-independent tie rule "
        "with no struct comparison. 25 divides 100 so the Aroon "
        "lines are exact multiples of 4.0. Plan: one daily "
        "aggregate; row_number and the trailing-extreme windows run "
        "over the calendar-bounded daily table only.",
    tags=("timeseries",),
)
def aroon_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ohlc = _spark_daily_ohlc(spark, sf_dir)
    i = ohlc.select(
        "day", "high_c", "low_c",
        F.row_number().over(Window.orderBy("day")).cast("long")
         .alias("idx"))
    k = i.selectExpr(
        "day", "idx",
        f"high_c * {_PACK} + idx AS key_hi",
        f"low_c * {_PACK} + ({_PACK - 1} - idx) AS key_lo")
    win = (Window.orderBy("day")
                 .rowsBetween(-(AROON_W - 1), Window.currentRow))
    w = k.select(
        "day", "idx",
        F.count(F.lit(1)).over(win).cast("long").alias("n"),
        F.max("key_hi").over(win).cast("long").alias("mk_hi"),
        F.min("key_lo").over(win).cast("long").alias("mk_lo"))
    return (w.filter(F.col("n") == AROON_W)
             .selectExpr(
                 "day",
                 f"idx - (mk_hi % {_PACK}) AS days_since_high",
                 f"idx - ({_PACK - 1} - (mk_lo % {_PACK}))"
                 " AS days_since_low",
                 f"CAST(4 * ({AROON_W} - (idx - (mk_hi % {_PACK})))"
                 " AS DOUBLE) AS aroon_up",
                 f"CAST(4 * ({AROON_W} - (idx - ({_PACK - 1}"
                 f" - (mk_lo % {_PACK})))) AS DOUBLE) AS aroon_down"))


# ----------------------------------------- Money Flow Index (14-day)

MFI_W = 14

_MFI = ("CASE WHEN pos_f + neg_f = 0 THEN CAST(NULL AS DOUBLE)"
        f" ELSE 100.0 * {wide('pos_f')}"
        f" / ({wide('pos_f')} + {wide('neg_f')}) END")


@query(
    "money_flow_index_daily",
    oracle=f"""
        WITH {_SQL_DAILY_OHLC},
        t AS (
          SELECT day, high_c + low_c + close_c AS tp3, volume,
                 lag(high_c + low_c + close_c) OVER (ORDER BY day)
                   AS prev_tp3
          FROM ohlc
        ),
        d AS (
          SELECT day,
                 CASE WHEN tp3 > prev_tp3
                      THEN CAST(tp3 AS DECIMAL(38,0)) * volume
                      ELSE CAST(0 AS DECIMAL(38,0)) END AS pos_raw,
                 CASE WHEN tp3 < prev_tp3
                      THEN CAST(tp3 AS DECIMAL(38,0)) * volume
                      ELSE CAST(0 AS DECIMAL(38,0)) END AS neg_raw
          FROM t WHERE prev_tp3 IS NOT NULL
        ),
        w AS (
          SELECT day,
                 CAST(COUNT(*) OVER win AS BIGINT) AS n,
                 SUM(pos_raw) OVER win AS pos_f,
                 SUM(neg_raw) OVER win AS neg_f
          FROM d
          WINDOW win AS (ORDER BY day
            ROWS BETWEEN {MFI_W - 1} PRECEDING AND CURRENT ROW)
        )
        SELECT day, CAST(pos_f AS BIGINT) AS pos_flow3,
               CAST(neg_f AS BIGINT) AS neg_flow3,
               {_MFI} AS mfi
        FROM w WHERE n = {MFI_W}
    """,
    doc="Money Flow Index over the daily bars: volume-weighted RSI — "
        "each day's typical-price x volume flows positive or negative "
        "with the typical-price direction, and MFI locates the "
        "positive share of the trailing 14-day flow on the 0-100 "
        "scale. The typical price is kept as the integral 3x sum "
        "high+low+close (the /3 cancels in the ratio), raw flows "
        "accumulate in DECIMAL(38,0), and the single double division "
        "happens at emit via the correctly-rounded string route. "
        "Plan: one daily aggregate; lag + trailing-sum windows over "
        "the calendar-bounded daily table only.",
    tags=("timeseries",),
)
def money_flow_index_daily(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    ohlc = _spark_daily_ohlc(spark, sf_dir)
    t = ohlc.select(
        "day", "volume",
        (F.col("high_c") + F.col("low_c") + F.col("close_c"))
        .alias("tp3"),
        F.lag(F.col("high_c") + F.col("low_c") + F.col("close_c"))
         .over(Window.orderBy("day")).alias("prev_tp3"))
    d = (t.filter(F.col("prev_tp3").isNotNull())
          .selectExpr(
              "day",
              "CASE WHEN tp3 > prev_tp3"
              " THEN CAST(tp3 AS DECIMAL(38,0)) * volume"
              " ELSE CAST(0 AS DECIMAL(38,0)) END AS pos_raw",
              "CASE WHEN tp3 < prev_tp3"
              " THEN CAST(tp3 AS DECIMAL(38,0)) * volume"
              " ELSE CAST(0 AS DECIMAL(38,0)) END AS neg_raw"))
    win = (Window.orderBy("day")
                 .rowsBetween(-(MFI_W - 1), Window.currentRow))
    w = d.select(
        "day",
        F.count(F.lit(1)).over(win).cast("long").alias("n"),
        F.sum("pos_raw").over(win).alias("pos_f"),
        F.sum("neg_raw").over(win).alias("neg_f"))
    return (w.filter(F.col("n") == MFI_W)
             .selectExpr("day", "CAST(pos_f AS BIGINT) AS pos_flow3",
                         "CAST(neg_f AS BIGINT) AS neg_flow3",
                         f"{_MFI} AS mfi"))


# -------------------------------------- Donchian channel + breakouts

DON_W = 20


@query(
    "donchian_channel_daily",
    oracle=f"""
        WITH {_SQL_DAILY_OHLC},
        w AS (
          SELECT day, close_c,
                 CAST(COUNT(*) OVER win AS BIGINT) AS n,
                 CAST(MAX(high_c) OVER win AS BIGINT) AS up_c,
                 CAST(MIN(low_c) OVER win AS BIGINT) AS dn_c
          FROM ohlc
          WINDOW win AS (ORDER BY day
            ROWS BETWEEN {DON_W - 1} PRECEDING AND CURRENT ROW)
        ),
        l AS (
          SELECT day, close_c, n, up_c, dn_c,
                 lag(up_c) OVER (ORDER BY day) AS prev_up,
                 lag(dn_c) OVER (ORDER BY day) AS prev_dn,
                 lag(n) OVER (ORDER BY day) AS prev_n
          FROM w
        )
        SELECT day, up_c, dn_c,
               CAST(up_c + dn_c AS DOUBLE) / 200 AS mid,
               CAST(up_c - dn_c AS BIGINT) AS width_c,
               CAST(CASE WHEN close_c > prev_up THEN 1 ELSE 0 END
                 AS BIGINT) AS breakout_up,
               CAST(CASE WHEN close_c < prev_dn THEN 1 ELSE 0 END
                 AS BIGINT) AS breakout_down
        FROM l WHERE n = {DON_W} AND prev_n = {DON_W}
    """,
    doc="Donchian channel over the daily bars: the trailing 20-day "
        "high/low envelope, its midline and width, plus the classic "
        "turtle breakout flags (today's close escaping YESTERDAY's "
        "channel — lagged so the signal is tradable, not "
        "self-referential). Channel bounds are exact integer cents; "
        "the midline's single division to dollars happens at emit. "
        "Complete windows only on both the channel and its lag. "
        "Plan: one daily aggregate; envelope + lag windows over the "
        "calendar-bounded daily table only.",
    tags=("timeseries",),
)
def donchian_channel_daily(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    ohlc = _spark_daily_ohlc(spark, sf_dir)
    win = (Window.orderBy("day")
                 .rowsBetween(-(DON_W - 1), Window.currentRow))
    w = ohlc.select(
        "day", "close_c",
        F.count(F.lit(1)).over(win).cast("long").alias("n"),
        F.max("high_c").over(win).cast("long").alias("up_c"),
        F.min("low_c").over(win).cast("long").alias("dn_c"))
    lagw = Window.orderBy("day")
    l = w.select(
        "day", "close_c", "n", "up_c", "dn_c",
        F.lag("up_c").over(lagw).alias("prev_up"),
        F.lag("dn_c").over(lagw).alias("prev_dn"),
        F.lag("n").over(lagw).alias("prev_n"))
    return (l.filter((F.col("n") == DON_W) & (F.col("prev_n") == DON_W))
             .selectExpr(
                 "day", "up_c", "dn_c",
                 "CAST(up_c + dn_c AS DOUBLE) / 200 AS mid",
                 "CAST(up_c - dn_c AS BIGINT) AS width_c",
                 "CAST(CASE WHEN close_c > prev_up THEN 1 ELSE 0 END"
                 " AS BIGINT) AS breakout_up",
                 "CAST(CASE WHEN close_c < prev_dn THEN 1 ELSE 0 END"
                 " AS BIGINT) AS breakout_down"))


# -------------------------------- Chande Momentum Oscillator (14-day)

CMO_W = 14

_CMO = ("CASE WHEN su + sd = 0 THEN CAST(NULL AS DOUBLE)"
        f" ELSE 100.0 * ({wide('su')} - {wide('sd')})"
        f" / ({wide('su')} + {wide('sd')}) END")


@query(
    "chande_momentum_daily",
    oracle=f"""
        WITH {_SQL_DAILY_OHLC},
        l AS (
          SELECT day, close_c,
                 close_c - lag(close_c) OVER (ORDER BY day) AS diff
          FROM ohlc
        ),
        d AS (
          SELECT day,
                 CAST(GREATEST(diff, 0) AS DECIMAL(38,0)) AS up_c,
                 CAST(GREATEST(-diff, 0) AS DECIMAL(38,0)) AS dn_c
          FROM l WHERE diff IS NOT NULL
        ),
        w AS (
          SELECT day,
                 CAST(COUNT(*) OVER win AS BIGINT) AS n,
                 SUM(up_c) OVER win AS su,
                 SUM(dn_c) OVER win AS sd
          FROM d
          WINDOW win AS (ORDER BY day
            ROWS BETWEEN {CMO_W - 1} PRECEDING AND CURRENT ROW)
        )
        SELECT day, CAST(su AS BIGINT) AS up_sum_c,
               CAST(sd AS BIGINT) AS down_sum_c,
               {_CMO} AS cmo
        FROM w WHERE n = {CMO_W}
    """,
    doc="Chande Momentum Oscillator over daily closes: net directed "
        "movement as a share of total movement on the -100..100 "
        "scale — RSI's unsmoothed, symmetric cousin (CMO = 0 exactly "
        "when up and down cents cancel). Up/down moves are exact "
        "integer cents accumulating in DECIMAL(38,0); one double "
        "ratio at emit via the string route; NULL over a flat "
        "window. Plan: one daily aggregate; lag + trailing-sum "
        "windows over the calendar-bounded daily table only.",
    tags=("timeseries",),
)
def chande_momentum_daily(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    ohlc = _spark_daily_ohlc(spark, sf_dir)
    l = ohlc.select(
        "day",
        (F.col("close_c")
         - F.lag("close_c").over(Window.orderBy("day"))).alias("diff"))
    d = (l.filter(F.col("diff").isNotNull())
          .selectExpr(
              "day",
              "CAST(GREATEST(diff, 0) AS DECIMAL(38,0)) AS up_c",
              "CAST(GREATEST(-diff, 0) AS DECIMAL(38,0)) AS dn_c"))
    win = (Window.orderBy("day")
                 .rowsBetween(-(CMO_W - 1), Window.currentRow))
    w = d.select(
        "day",
        F.count(F.lit(1)).over(win).cast("long").alias("n"),
        F.sum("up_c").over(win).alias("su"),
        F.sum("dn_c").over(win).alias("sd"))
    return (w.filter(F.col("n") == CMO_W)
             .selectExpr("day", "CAST(su AS BIGINT) AS up_sum_c",
                         "CAST(sd AS BIGINT) AS down_sum_c",
                         f"{_CMO} AS cmo"))


# --------------------------- accumulation/distribution line (volume)

# Money-flow multiplier ((C-L)-(H-C))/(H-L) scaled to integer parts
# per million: pos = ((2C-2L)*vol*1e6) DIV (H-L) is NON-NEGATIVE
# (C >= L), so DIV (Spark) and // (DuckDB) agree (truncate == floor);
# mfv = pos - vol*1e6 recovers the signed flow exactly.
_AD_POS = ("CASE WHEN high_c > low_c THEN"
           " ((2 * close_c - 2 * low_c) * volume * 1000000)"
           " {div} (high_c - low_c)"
           " ELSE volume * 1000000 END")


@query(
    "accum_dist_daily_flow",
    oracle=f"""
        WITH {_SQL_DAILY_OHLC},
        m AS (
          SELECT day,
                 CAST({_AD_POS.format(div='//')} - volume * 1000000
                   AS BIGINT) AS mfv_ppm
          FROM ohlc
        ),
        cumline AS (
          SELECT day, mfv_ppm,
                 SUM(CAST(mfv_ppm AS DECIMAL(38,0))) OVER (ORDER BY day
                   ROWS UNBOUNDED PRECEDING) AS ad
          FROM m
        )
        SELECT day, mfv_ppm,
               {wide('ad')} / 1000000 AS ad_line
        FROM cumline
    """,
    doc="Accumulation/Distribution line over the daily bars: each "
        "day's volume scaled by where the close sits in the day's "
        "range (close at the high = full accumulation, at the low = "
        "full distribution), cumulated into the classic volume-flow "
        "trend line. The money-flow multiplier is fixed-point parts "
        "per million via one exact integer division on non-negative "
        "operands (DIV / // agree: truncate == floor above zero), so "
        "the running sum is INTEGER-valued in DECIMAL(38,0) — "
        "order-independent and safe cross-engine. Degenerate ranges "
        "(H = L) contribute zero flow. Plan: one daily aggregate; "
        "the running-sum window runs over the calendar-bounded daily "
        "table only.",
    tags=("timeseries",),
)
def accum_dist_daily_flow(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    ohlc = _spark_daily_ohlc(spark, sf_dir)
    m = ohlc.selectExpr(
        "day",
        f"CAST({_AD_POS.format(div='DIV')} - volume * 1000000"
        " AS BIGINT) AS mfv_ppm")
    runw = (Window.orderBy("day")
                  .rowsBetween(Window.unboundedPreceding,
                               Window.currentRow))
    r = m.select(
        "day", "mfv_ppm",
        F.sum(F.col("mfv_ppm").cast("decimal(38,0)")).over(runw)
         .alias("ad"))
    return r.selectExpr("day", "mfv_ppm",
                        f"{wide('ad')} / 1000000 AS ad_line")


# ---------------------------------------------------------------------
# Group B: nonparametric / evaluation statistics.


# ------------------- Wilcoxon signed-rank: PM vs AM daily value flow

# 2x-midranks over the bounded distinct |d| table (the
# kruskal_wallis cumulation idiom): midrank2 = 2*cum_below + cnt + 1.
# W2+ = 2*W+, so its null mean n(n+1)/2 and variance x4 stay exact.
_WSR_VAR4 = ("(CAST(n AS DOUBLE) * (n + 1.0) * (2.0 * n + 1.0)) / 6.0"
             " - CAST(CAST(tie_num AS STRING) AS DOUBLE) / 12.0")
_WSR_MEAN2 = "(n * (n + 1)) {div} 2"
_WSR_Z = ("CASE WHEN ({var4}) <= 0 THEN CAST(NULL AS DOUBLE)"
          " ELSE CAST(CAST(w2_plus - ({mean2}) AS STRING) AS DOUBLE)"
          " / SQRT({var4}) END")
_WSR_TAIL = (
    "n AS n_days", "w2_plus",
    _WSR_MEAN2 + " AS mean2",
    _WSR_VAR4 + " AS var4",
    _WSR_Z.format(var4=_WSR_VAR4, mean2=_WSR_MEAN2) + " AS z_stat")


def _wsr_cols(div: str) -> list[str]:
    return [c.replace("{div}", div) for c in _WSR_TAIL]


@query(
    "wilcoxon_signed_rank_ampm",
    oracle=f"""
        WITH e AS (
          SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                 CASE WHEN hour(ts) >= 12 THEN {sql_cents('value')}
                      ELSE -({sql_cents('value')}) END AS signed_c
          FROM events
        ),
        d AS (
          SELECT day, CAST(SUM(signed_c) AS BIGINT) AS diff
          FROM e GROUP BY day
          HAVING SUM(signed_c) <> 0
        ),
        av AS (
          SELECT ABS(diff) AS ad, CAST(COUNT(*) AS BIGINT) AS cnt,
                 CAST(SUM(CASE WHEN diff > 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS pos_cnt
          FROM d GROUP BY 1
        ),
        mr AS (
          SELECT ad, cnt, pos_cnt,
                 2 * COALESCE(CAST(SUM(cnt) OVER (ORDER BY ad
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS BIGINT), 0) + cnt + 1 AS midrank2
          FROM av
        ),
        s AS (
          SELECT CAST(SUM(cnt) AS BIGINT) AS n,
                 CAST(SUM(pos_cnt * midrank2) AS BIGINT) AS w2_plus,
                 SUM(CAST(cnt AS DECIMAL(38,0)) * cnt * cnt - cnt)
                   AS tie_num
          FROM mr
        )
        SELECT {", ".join(_wsr_cols("//"))}
        FROM s
    """,
    doc="Wilcoxon signed-rank test of the daily PM-vs-AM value flow: "
        "each day contributes the exact integer-cents difference "
        "(afternoon minus morning total), zero-difference days drop "
        "per the standard procedure, and W+ accumulates the midranks "
        "of |d| on the positive side — the paired-sample test the "
        "battery lacked (Mann-Whitney handles independent samples). "
        "Midranks stay integral as 2x-midranks cumulated over the "
        "bounded distinct-|d| table (the kruskal_wallis idiom), so "
        "W2+ = 2W+ and its null mean n(n+1)/2 double to exact "
        "BIGINTs; the tie-corrected variance (x4) folds from exact "
        "integer moments and the single sqrt is IEEE-exact. Plan: "
        "one map-side-combinable signed daily aggregate (the AM/PM "
        "split rides a signed term, not two scans), the cumulation "
        "window over the bounded distinct-|d| aggregate, then 1-row "
        "math.",
    tags=("statistics",),
)
def wilcoxon_signed_rank_ampm(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").selectExpr(
        "CAST(CAST(ts AS DATE) AS STRING) AS day",
        f"CASE WHEN hour(ts) >= 12 THEN {sql_cents('value')}"
        f" ELSE -({sql_cents('value')}) END AS signed_c")
    d = (e.groupBy("day").agg(F.sum("signed_c").cast("long")
                               .alias("diff"))
          .filter(F.col("diff") != 0))
    av = d.groupBy(F.abs("diff").alias("ad")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum(F.when(F.col("diff") > 0, 1).otherwise(0)).cast("long")
         .alias("pos_cnt"))
    cumw = (Window.orderBy("ad")
                  .rowsBetween(Window.unboundedPreceding, -1))
    mr = av.select(
        "ad", "cnt", "pos_cnt",
        (2 * F.coalesce(F.sum("cnt").over(cumw).cast("long"), F.lit(0))
         + F.col("cnt") + 1).alias("midrank2"))
    s = mr.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.col("pos_cnt") * F.col("midrank2")).cast("long")
         .alias("w2_plus"),
        F.expr("SUM(CAST(cnt AS DECIMAL(38,0)) * cnt * cnt - cnt)")
         .alias("tie_num"))
    return s.selectExpr(*_wsr_cols("DIV"))


# ------------------------------ sign test on daily up/down revenue


@query(
    "sign_test_daily_updown",
    oracle=f"""
        WITH d AS (
          SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                 CAST(SUM({sql_cents('value')}) AS BIGINT) AS cents
          FROM events GROUP BY 1
        ),
        l AS (
          SELECT cents - lag(cents) OVER (ORDER BY day) AS diff
          FROM d
        ),
        s AS (
          SELECT CAST(SUM(CASE WHEN diff > 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS pos,
                 CAST(SUM(CASE WHEN diff < 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS neg,
                 CAST(SUM(CASE WHEN diff = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS zero
          FROM l WHERE diff IS NOT NULL
        )
        SELECT pos AS up_days, neg AS down_days, zero AS flat_days,
               CASE WHEN pos + neg = 0 THEN CAST(NULL AS DOUBLE)
                    ELSE (2.0 * GREATEST(pos, neg) - (pos + neg) - 1.0)
                         / SQRT(CAST(pos + neg AS DOUBLE)) END AS z_stat
        FROM s
    """,
    doc="Sign test on the daily revenue series: are up days and down "
        "days equally likely — the assumption-free trend check that "
        "needs only the SIGN of each day-over-day move (the weakest, "
        "most robust member of the trend battery next to "
        "Mann-Kendall's pair counts). Continuity-corrected binomial "
        "z from exact integer up/down counts; flat days are reported "
        "and excluded per the standard procedure; the single sqrt is "
        "IEEE-exact. Plan: one map-side-combinable daily rollup, a "
        "lag over the calendar-bounded daily table, then one-row "
        "math.",
    tags=("statistics", "timeseries"),
)
def sign_test_daily_updown(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    d = (load(spark, sf_dir, "events")
         .selectExpr("CAST(CAST(ts AS DATE) AS STRING) AS day",
                     f"{sql_cents('value')} AS c")
         .groupBy("day").agg(F.sum("c").cast("long").alias("cents")))
    l = d.select(
        (F.col("cents") - F.lag("cents").over(Window.orderBy("day")))
        .alias("diff"))
    s = l.filter(F.col("diff").isNotNull()).agg(
        F.sum(F.when(F.col("diff") > 0, 1).otherwise(0)).cast("long")
         .alias("pos"),
        F.sum(F.when(F.col("diff") < 0, 1).otherwise(0)).cast("long")
         .alias("neg"),
        F.sum(F.when(F.col("diff") == 0, 1).otherwise(0)).cast("long")
         .alias("zero"))
    return s.selectExpr(
        "pos AS up_days", "neg AS down_days", "zero AS flat_days",
        "CASE WHEN pos + neg = 0 THEN CAST(NULL AS DOUBLE)"
        " ELSE (2.0 * GREATEST(pos, neg) - (pos + neg) - 1.0)"
        " / SQRT(CAST(pos + neg AS DOUBLE)) END AS z_stat")


# --------------------- Mood's median test of value across event types

# Per-group chi-square contribution: both cells of group g summed with
# a FIXED association (above-cell + below-cell), then the k per-group
# doubles reduce via the sorted fold.
_MOOD_TERM = (
    "(above - CAST(n_g AS DOUBLE) * ta / nn)"
    " * (above - CAST(n_g AS DOUBLE) * ta / nn)"
    " / (CAST(n_g AS DOUBLE) * ta / nn)"
    " + ((n_g - above) - CAST(n_g AS DOUBLE) * (nn - ta) / nn)"
    " * ((n_g - above) - CAST(n_g AS DOUBLE) * (nn - ta) / nn)"
    " / (CAST(n_g AS DOUBLE) * (nn - ta) / nn)")


@query(
    "mood_median_test_event_type",
    oracle=f"""
        WITH b AS (
          SELECT event_type AS g, {sql_cents('value')} AS c FROM events
        ),
        med AS (
          SELECT quantile_cont(c, 0.5) AS med FROM b
        ),
        gcnt AS (
          SELECT g, CAST(COUNT(*) AS BIGINT) AS n_g,
                 CAST(SUM(CASE WHEN c > (SELECT med FROM med)
                   THEN 1 ELSE 0 END) AS BIGINT) AS above
          FROM b GROUP BY g
        ),
        tot AS (
          SELECT CAST(SUM(n_g) AS BIGINT) AS n,
                 CAST(SUM(above) AS BIGINT) AS total_above,
                 CAST(COUNT(*) AS BIGINT) AS n_groups
          FROM gcnt
        ),
        terms AS (
          SELECT {fold_sql("list(" + _MOOD_TERM
              .replace('ta', 'CAST((SELECT total_above FROM tot) AS DOUBLE)')
              .replace('nn', 'CAST((SELECT n FROM tot) AS DOUBLE)') + ")")}
            AS chi2
          FROM gcnt
        )
        SELECT t.n AS n_events, t.n_groups, t.total_above,
               (SELECT med FROM med) / 100 AS grand_median,
               t.n_groups - 1 AS df,
               terms.chi2 AS chi2_stat
        FROM tot t, terms
    """,
    doc="Mood's median test: do the event types share a common "
        "median value — the k-sample location test that only needs "
        "above/below-the-grand-median counts, robust where "
        "Kruskal-Wallis's full ranking is overkill. The grand median "
        "of integer cents is *.0 or *.5 (exact), the 2xk contingency "
        "counts are exact integers, each group's two chi-square "
        "cells sum with a fixed association, and the k per-group "
        "double terms reduce via the sorted fold. percentile <-> "
        "quantile_cont is the established exact pair. Plan: one "
        "median aggregate (1-row, broadcast back), one conditional "
        "group aggregate — no window touches raw rows.",
    tags=("statistics",),
)
def mood_median_test_event_type(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    b = load(spark, sf_dir, "events").selectExpr(
        "event_type AS g", f"{sql_cents('value')} AS c")
    # grand median from the cumulated distinct-cents cell table in 2x
    # integer units (med2 == 2*percentile(c, 0.5) exactly) — the raw-
    # row percentile would sort the whole corpus in ONE task at 100 TB
    # (round-7 re-plan; mad_outlier_events documents the idiom)
    cells = b.groupBy("c").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"))
    c1 = (cells.withColumn(
              "cum", F.sum("cnt").over(
                  Window.orderBy("c").rowsBetween(
                      Window.unboundedPreceding, Window.currentRow)))
               .withColumn("n", F.sum("cnt").over(Window.partitionBy())))
    med = c1.agg(
        F.expr("MIN(CASE WHEN cum >= (n + 1) div 2 THEN c END)"
               " + MIN(CASE WHEN cum >= n div 2 + 1 THEN c END)")
         .alias("med2")).localCheckpoint()
    # ^ 1-row median feeds the flag aggregate AND the report column
    gcnt = (b.crossJoin(F.broadcast(med))
             .groupBy("g")
             .agg(F.count(F.lit(1)).cast("long").alias("n_g"),
                  F.sum(F.when(2 * F.col("c") > F.col("med2"), 1)
                         .otherwise(0)).cast("long").alias("above"))
             .localCheckpoint())
    # ^ k-row table feeds the totals AND the fold
    tot = gcnt.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("above").cast("long").alias("total_above"),
        F.count(F.lit(1)).cast("long").alias("n_groups"))
    term = (_MOOD_TERM
            .replace("ta", "CAST(total_above AS DOUBLE)")
            .replace("nn", "CAST(n AS DOUBLE)"))
    terms = (gcnt.crossJoin(F.broadcast(tot))
                 .agg(F.expr(fold_spark(f"collect_list({term})"))
                       .alias("chi2"),
                      F.max("n").alias("n"),
                      F.max("total_above").alias("total_above"),
                      F.max("n_groups").alias("n_groups")))
    return (terms.crossJoin(F.broadcast(med))
                 .selectExpr("n AS n_events", "n_groups", "total_above",
                             "CAST(med2 AS DOUBLE) / 200"
                             " AS grand_median",
                             "n_groups - 1 AS df",
                             "chi2 AS chi2_stat"))


# --------------------- Friedman test: day-of-week effect across weeks

FR_K = 7  # treatments: the seven weekdays


@query(
    "friedman_dow_value_ranks",
    oracle=f"""
        WITH d AS (
          SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                   // 7 AS blk,
                 date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                   % 7 AS dow,
                 CAST(SUM({sql_cents('value')}) AS BIGINT) AS cents
          FROM events GROUP BY 1, 2
        ),
        full_blocks AS (
          SELECT blk FROM d GROUP BY blk HAVING COUNT(*) = {FR_K}
        ),
        r AS (
          SELECT dow,
                 2 * rank() OVER (PARTITION BY blk ORDER BY cents)
                   + CAST(COUNT(*) OVER (PARTITION BY blk, cents)
                     AS BIGINT) - 1 AS mr2
          FROM d JOIN full_blocks USING (blk)
        ),
        rs AS (
          SELECT dow, CAST(SUM(mr2) AS BIGINT) AS r2
          FROM r GROUP BY dow
        ),
        agg AS (
          SELECT SUM(CAST(r2 AS DECIMAL(38,0)) * r2) AS ss,
                 CAST((SELECT COUNT(*) FROM full_blocks) AS BIGINT) AS b
          FROM rs
        )
        SELECT b AS n_blocks, CAST({FR_K} AS BIGINT) AS k_treatments,
               CAST({FR_K - 1} AS BIGINT) AS df,
               3.0 * {wide('ss')}
                 / (CAST(b AS DOUBLE) * {FR_K} * {FR_K + 1})
                 - 3.0 * b * {FR_K + 1} AS chi2_f
        FROM agg
    """,
    doc="Friedman test of a day-of-week effect on daily revenue: "
        "complete epoch-aligned weeks are the blocks, the seven "
        "weekdays the treatments, and daily revenue is midranked "
        "WITHIN each week — the repeated-measures companion to "
        "Kruskal-Wallis (blocking removes the week-to-week level "
        "shift that would otherwise swamp the weekday signal). "
        "2x-midranks stay integral via rank() + tie-count over the "
        "7-row blocks (2*rank + ties - 1), rank sums ride BIGINT and "
        "their squares DECIMAL(38,0); with midranks the statistic "
        "needs no separate tie correction term here (documented "
        "midrank variant). Week/dow keys come from epoch-day integer "
        "arithmetic (DIV//%), not engine week functions, so both "
        "engines bucket identically. Plan: one map-side-combinable "
        "(week, dow) rollup; the rank windows partition by BLOCK "
        "over the calendar-bounded daily table (7-row partitions); "
        "then 7-row math.",
    tags=("statistics",),
)
def friedman_dow_value_ranks(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    d = (load(spark, sf_dir, "events")
         .selectExpr(
             "datediff(CAST(ts AS DATE), DATE'1970-01-01') DIV 7"
             " AS blk",
             "datediff(CAST(ts AS DATE), DATE'1970-01-01') % 7"
             " AS dow",
             f"{sql_cents('value')} AS c")
         .groupBy("blk", "dow")
         .agg(F.sum("c").cast("long").alias("cents"))
         # the (week, dow) table feeds the completeness filter AND
         # the rank windows; materialize so the fact scans once
         .localCheckpoint())
    full_blocks = (d.groupBy("blk").agg(F.count(F.lit(1)).alias("nb"))
                    .filter(F.col("nb") == FR_K).select("blk"))
    rankw = Window.partitionBy("blk").orderBy("cents")
    tiew = Window.partitionBy("blk", "cents")
    r = (d.join(full_blocks, "blk")
          .select("dow",
                  (2 * F.rank().over(rankw)
                   + F.count(F.lit(1)).over(tiew).cast("long") - 1)
                  .alias("mr2")))
    rs = r.groupBy("dow").agg(F.sum("mr2").cast("long").alias("r2"))
    b_cnt = full_blocks.agg(F.count(F.lit(1)).cast("long").alias("b"))
    agg = (rs.agg(F.expr("SUM(CAST(r2 AS DECIMAL(38,0)) * r2)")
                   .alias("ss"))
             .crossJoin(F.broadcast(b_cnt)))
    return agg.selectExpr(
        "b AS n_blocks", f"CAST({FR_K} AS BIGINT) AS k_treatments",
        f"CAST({FR_K - 1} AS BIGINT) AS df",
        f"3.0 * {wide('ss')}"
        f" / (CAST(b AS DOUBLE) * {FR_K} * {FR_K + 1})"
        f" - 3.0 * b * {FR_K + 1} AS chi2_f")


# ------------- Jonckheere-Terpstra ordered-alternative test by type


@query(
    "jonckheere_terpstra_value_by_type",
    oracle=f"""
        WITH gv AS (
          SELECT event_type AS g, {sql_cents('value')} AS v,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM events GROUP BY 1, 2
        ),
        grid AS (
          SELECT gs.g, vs.v, COALESCE(gv.cnt, 0) AS cnt0
          FROM (SELECT DISTINCT g FROM gv) gs
          CROSS JOIN (SELECT DISTINCT v FROM gv) vs
          LEFT JOIN gv ON gv.g = gs.g AND gv.v = vs.v
        ),
        cum AS (
          SELECT g, v, cnt0,
                 COALESCE(CAST(SUM(cnt0) OVER (PARTITION BY g
                   ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING) AS BIGINT), 0) AS below
          FROM grid
        ),
        u AS (
          SELECT CAST(SUM(CAST(h.cnt AS DECIMAL(38,0))
                   * (2 * c.below + c.cnt0)) AS BIGINT) AS j2
          FROM gv h JOIN cum c ON c.v = h.v AND c.g < h.g
        ),
        sizes AS (
          SELECT g, CAST(SUM(cnt) AS BIGINT) AS n_g FROM gv GROUP BY g
        ),
        tot AS (
          SELECT CAST(SUM(n_g) AS BIGINT) AS n,
                 SUM(CAST(n_g AS DECIMAL(38,0)) * n_g) AS sq,
                 SUM(CAST(n_g AS DECIMAL(38,0)) * n_g
                     * (2 * n_g + 3)) AS cub
          FROM sizes
        )
        SELECT u.j2,
               CAST((CAST(t.n AS DECIMAL(38,0)) * t.n - t.sq) AS BIGINT)
                 AS e2,
               (CAST(CAST(CAST(t.n AS DECIMAL(38,0)) * t.n
                  * (2 * t.n + 3) AS STRING) AS DOUBLE)
                - CAST(CAST(t.cub AS STRING) AS DOUBLE)) / 72.0
                 AS var_j,
               CAST(CAST(u.j2 - (CAST(t.n AS DECIMAL(38,0)) * t.n
                  - t.sq) AS STRING) AS DOUBLE)
                 / (2.0 * SQRT((CAST(CAST(CAST(t.n AS DECIMAL(38,0))
                      * t.n * (2 * t.n + 3) AS STRING) AS DOUBLE)
                    - CAST(CAST(t.cub AS STRING) AS DOUBLE)) / 72.0))
                 AS z_stat
        FROM u, tot t
    """,
    doc="Jonckheere-Terpstra test for an ORDERED value trend across "
        "event types (alphabetical type order as the postulated "
        "ordering): J sums the pairwise Mann-Whitney counts of all "
        "lower-group < higher-group observation pairs — strictly "
        "more powerful than Kruskal-Wallis when the alternative is "
        "monotone. Pair counts never touch row pairs: the bounded "
        "(type x distinct-cents) grid carries per-type cumulative "
        "below-counts, so each h-side row contributes cnt_h * "
        "(2*below_g + ties_g) to the integral doubled statistic J2; "
        "the null mean 2E[J] = N^2 - sum n_g^2 and the (tie-free "
        "form) variance fold from exact DECIMAL moments through the "
        "string route; one sqrt. Plan: one map-side-combinable "
        "(type, cents) aggregate feeds everything; the cumulation "
        "window partitions by the 5 types over the value-domain-"
        "bounded grid (the kruskal_wallis shape); the pair join is "
        "grid x 5 types, never data x data.",
    tags=("statistics",),
)
def jonckheere_terpstra_value_by_type(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    gv = (load(spark, sf_dir, "events")
          .selectExpr("event_type AS g", f"{sql_cents('value')} AS v")
          .groupBy("g", "v")
          .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
          # bounded (type, cents) table feeds the grid, the h-side,
          # and the size totals; materialize so the fact scans once
          .localCheckpoint())
    # group spine as ONE collected row broadcast-exploded onto the
    # distinct-value spine (a scalar-aggregate BNLJ build, the
    # gate-allowed shape) — never an aggregate x aggregate cross join
    garr = gv.agg(F.expr("array_sort(collect_set(g))").alias("garr"))
    vs = gv.select("v").distinct()
    grid = (vs.crossJoin(F.broadcast(garr))
              .select("v", F.explode("garr").alias("g"))
              .join(gv, ["g", "v"], "left")
              .selectExpr("g", "v", "COALESCE(cnt, 0) AS cnt0"))
    cumw = (Window.partitionBy("g").orderBy("v")
                  .rowsBetween(Window.unboundedPreceding, -1))
    cum = grid.select(
        F.col("g").alias("gl"), F.col("v").alias("vl"), "cnt0",
        F.coalesce(F.sum("cnt0").over(cumw).cast("long"), F.lit(0))
         .alias("below"))
    h = gv.selectExpr("g AS gh", "v AS vh", "cnt AS cnt_h")
    u = (h.join(cum, (F.col("vl") == F.col("vh"))
                & (F.col("gl") < F.col("gh")))
          .agg(F.expr("CAST(SUM(CAST(cnt_h AS DECIMAL(38,0))"
                      " * (2 * below + cnt0)) AS BIGINT)").alias("j2")))
    sizes = gv.groupBy("g").agg(F.sum("cnt").cast("long").alias("n_g"))
    tot = sizes.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.expr("SUM(CAST(n_g AS DECIMAL(38,0)) * n_g)").alias("sq"),
        F.expr("SUM(CAST(n_g AS DECIMAL(38,0)) * n_g * (2 * n_g + 3))")
         .alias("cub"))
    var_j = ("(CAST(CAST(CAST(n AS DECIMAL(38,0)) * n * (2 * n + 3)"
             " AS STRING) AS DOUBLE)"
             " - CAST(CAST(cub AS STRING) AS DOUBLE)) / 72.0")
    return (u.crossJoin(F.broadcast(tot))
             .selectExpr(
                 "j2",
                 "CAST((CAST(n AS DECIMAL(38,0)) * n - sq) AS BIGINT)"
                 " AS e2",
                 f"{var_j} AS var_j",
                 "CAST(CAST(j2 - (CAST(n AS DECIMAL(38,0)) * n - sq)"
                 " AS STRING) AS DOUBLE)"
                 f" / (2.0 * SQRT({var_j})) AS z_stat"))


# ----------------- per-class F1 of the two document-length labelers


@query(
    "per_class_f1_length_rules",
    oracle="""
        WITH lab AS (
          SELECT CASE WHEN len(list_filter(string_split(text, ' '),
                        w -> w <> '')) < 40 THEN 'short'
                      WHEN len(list_filter(string_split(text, ' '),
                        w -> w <> '')) < 75 THEN 'medium'
                      ELSE 'long' END AS pred,
                 CASE WHEN n_chars < 220 THEN 'short'
                      WHEN n_chars < 420 THEN 'medium'
                      ELSE 'long' END AS truth
          FROM documents
        ),
        cells AS (
          SELECT pred, truth, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM lab GROUP BY 1, 2
        ),
        classes AS (
          SELECT 'short' AS cls UNION ALL SELECT 'medium'
          UNION ALL SELECT 'long'
        ),
        tpt AS (
          SELECT pred AS cls, CAST(SUM(cnt) AS BIGINT) AS tp
          FROM cells WHERE pred = truth GROUP BY 1
        ),
        predt AS (
          SELECT pred AS cls, CAST(SUM(cnt) AS BIGINT) AS n_pred
          FROM cells GROUP BY 1
        ),
        trutht AS (
          SELECT truth AS cls, CAST(SUM(cnt) AS BIGINT) AS n_truth
          FROM cells GROUP BY 1
        ),
        m AS (
          SELECT c.cls,
                 COALESCE(tp, 0) AS tp,
                 COALESCE(n_pred, 0) - COALESCE(tp, 0) AS fp,
                 COALESCE(n_truth, 0) - COALESCE(tp, 0) AS fn
          FROM classes c
          LEFT JOIN tpt USING (cls)
          LEFT JOIN predt USING (cls)
          LEFT JOIN trutht USING (cls)
        )
        SELECT cls, tp, fp, fn,
               CASE WHEN tp + fp = 0 THEN CAST(NULL AS DOUBLE)
                    ELSE CAST(tp AS DOUBLE) / (tp + fp) END
                 AS precision_,
               CASE WHEN tp + fn = 0 THEN CAST(NULL AS DOUBLE)
                    ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS recall_,
               CASE WHEN 2 * tp + fp + fn = 0 THEN CAST(NULL AS DOUBLE)
                    ELSE CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn)
                    END AS f1
        FROM m
    """,
    doc="Per-class precision/recall/F1 between two independent "
        "document-length labelers (a word-count rule as prediction, "
        "the n_chars column as truth, both banded short/medium/long "
        "at fixed thresholds) — the multi-class classifier scorecard "
        "the evaluation battery lacked (Cohen's kappa gives one "
        "chance-corrected number; this gives the per-class "
        "confusion-matrix view, F1 = 2tp/(2tp+fp+fn) as ONE exact "
        "rational per class). Counts are exact integers from a "
        "single 3x3 cell aggregate; each metric is one double "
        "division. Plan: one map-side-combinable (pred, truth) "
        "aggregate over documents, then 9-row math against a "
        "3-row literal class spine.",
    tags=("statistics", "quality"),
)
def per_class_f1_length_rules(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    lab = load(spark, sf_dir, "documents").selectExpr(
        "CASE WHEN size(filter(split(text, ' '), w -> w <> '')) < 40"
        " THEN 'short'"
        " WHEN size(filter(split(text, ' '), w -> w <> '')) < 75"
        " THEN 'medium' ELSE 'long' END AS pred",
        "CASE WHEN n_chars < 220 THEN 'short'"
        " WHEN n_chars < 420 THEN 'medium' ELSE 'long' END AS truth")
    cells = (lab.groupBy("pred", "truth")
                .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
                # the 3x3 cell table feeds three rollups below;
                # materialize so documents scans once
                .localCheckpoint())
    classes = spark.createDataFrame(
        [("short",), ("medium",), ("long",)], "cls string")
    tpt = (cells.filter(F.col("pred") == F.col("truth"))
                .groupBy(F.col("pred").alias("cls"))
                .agg(F.sum("cnt").cast("long").alias("tp")))
    predt = (cells.groupBy(F.col("pred").alias("cls"))
                  .agg(F.sum("cnt").cast("long").alias("n_pred")))
    trutht = (cells.groupBy(F.col("truth").alias("cls"))
                   .agg(F.sum("cnt").cast("long").alias("n_truth")))
    m = (classes.join(tpt, "cls", "left")
                .join(predt, "cls", "left")
                .join(trutht, "cls", "left")
                .selectExpr("cls", "COALESCE(tp, 0) AS tp",
                            "COALESCE(n_pred, 0) - COALESCE(tp, 0)"
                            " AS fp",
                            "COALESCE(n_truth, 0) - COALESCE(tp, 0)"
                            " AS fn"))
    return m.selectExpr(
        "cls", "tp", "fp", "fn",
        "CASE WHEN tp + fp = 0 THEN CAST(NULL AS DOUBLE)"
        " ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS precision_",
        "CASE WHEN tp + fn = 0 THEN CAST(NULL AS DOUBLE)"
        " ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS recall_",
        "CASE WHEN 2 * tp + fp + fn = 0 THEN CAST(NULL AS DOUBLE)"
        " ELSE CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn) END AS f1")


# ------------- two-sample Cramer-von Mises: weekend vs weekday values


@query(
    "cramer_von_mises_weekend",
    oracle=f"""
        WITH b AS (
          SELECT CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END
                   AS wknd,
                 {sql_cents('value')} AS c
          FROM events
        ),
        gv AS (
          SELECT c AS v,
                 CAST(SUM(CASE WHEN wknd = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS cnt_we,
                 CAST(SUM(CASE WHEN wknd = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS cnt_wd
          FROM b GROUP BY 1
        ),
        cum AS (
          SELECT v, cnt_we + cnt_wd AS cnt_v,
                 CAST(SUM(cnt_we) OVER w AS BIGINT) AS a_le,
                 CAST(SUM(cnt_wd) OVER w AS BIGINT) AS b_le
          FROM gv
          WINDOW w AS (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        tot AS (
          SELECT CAST(SUM(cnt_we) AS BIGINT) AS n,
                 CAST(SUM(cnt_wd) AS BIGINT) AS m
          FROM gv
        ),
        folded AS (
          SELECT {fold_sql(
              "list(cnt_v * CAST(CAST(a_le * CAST((SELECT m FROM tot)"
              " AS DECIMAL(38,0)) - b_le * CAST((SELECT n FROM tot)"
              " AS DECIMAL(38,0)) AS STRING) AS DOUBLE)"
              " * CAST(CAST(a_le * CAST((SELECT m FROM tot)"
              " AS DECIMAL(38,0)) - b_le * CAST((SELECT n FROM tot)"
              " AS DECIMAL(38,0)) AS STRING) AS DOUBLE))")} AS f
          FROM cum
        )
        SELECT t.n AS n_weekend, t.m AS n_weekday,
               folded.f / (CAST(t.n + t.m AS DOUBLE) * (t.n + t.m)
                 * t.n * t.m) AS cvm_t
        FROM folded, tot t
    """,
    doc="Two-sample Cramer-von Mises statistic, weekend vs weekday "
        "values: T integrates the SQUARED ECDF gap over the pooled "
        "sample — sensitive to distribution differences anywhere, "
        "where the registered Kolmogorov-Smirnov only sees the "
        "single largest gap (the pair is the standard two-test "
        "battery). Per distinct cents value v the term is cnt_v * "
        "(A_v*m - B_v*n)^2 with A,B the exact cumulative counts: the "
        "cross-multiplied gap is exact in DECIMAL(38,0), reaches "
        "DOUBLE via the correctly-rounded string route, and the "
        "value-domain-bounded term list reduces via the sorted fold; "
        "one identical-operand division at emit. Plan: one map-side-"
        "combinable per-cents aggregate; the cumulation window runs "
        "over the bounded distinct-value table (the roc_auc shape); "
        "then 1-row math.",
    tags=("statistics",),
)
def cramer_von_mises_weekend(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    b = load(spark, sf_dir, "events").selectExpr(
        "CASE WHEN (dayofweek(ts) - 1) IN (0, 6) THEN 1 ELSE 0 END"
        " AS wknd",
        f"{sql_cents('value')} AS c")
    gv = (b.groupBy(F.col("c").alias("v"))
           .agg(F.sum(F.when(F.col("wknd") == 1, 1).otherwise(0))
                 .cast("long").alias("cnt_we"),
                F.sum(F.when(F.col("wknd") == 0, 1).otherwise(0))
                 .cast("long").alias("cnt_wd"))
           # the bounded distinct-cents table feeds the cumulation
           # AND the totals; materialize so the fact scans once
           .localCheckpoint())
    cumw = (Window.orderBy("v")
                  .rowsBetween(Window.unboundedPreceding,
                               Window.currentRow))
    cum = gv.select(
        "v", (F.col("cnt_we") + F.col("cnt_wd")).alias("cnt_v"),
        F.sum("cnt_we").over(cumw).cast("long").alias("a_le"),
        F.sum("cnt_wd").over(cumw).cast("long").alias("b_le"))
    tot = gv.agg(F.sum("cnt_we").cast("long").alias("n"),
                 F.sum("cnt_wd").cast("long").alias("m"))
    term = ("cnt_v * CAST(CAST(a_le * CAST(m AS DECIMAL(38,0))"
            " - b_le * CAST(n AS DECIMAL(38,0)) AS STRING) AS DOUBLE)"
            " * CAST(CAST(a_le * CAST(m AS DECIMAL(38,0))"
            " - b_le * CAST(n AS DECIMAL(38,0)) AS STRING) AS DOUBLE)")
    folded = (cum.crossJoin(F.broadcast(tot))
                 .agg(F.expr(fold_spark(f"collect_list({term})"))
                       .alias("f"),
                      F.max("n").alias("n"), F.max("m").alias("m")))
    return folded.selectExpr(
        "n AS n_weekend", "m AS n_weekday",
        "f / (CAST(n + m AS DOUBLE) * (n + m) * n * m) AS cvm_t")
