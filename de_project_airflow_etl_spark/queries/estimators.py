"""Round-10 promoted bank (staged as staged/round16.py): optimal-transport distance (exact 1-D
Wasserstein between weekend and weekday value distributions), robust
M-estimation (Huber location via the IRLS fixed point in quantized
integer weights), symbolic time-series analysis (the Bandt-Pompe
ordinal-pattern census), sequential experimentation (group-sequential
A/B readout against pinned O'Brien-Fleming-style boundaries), and
empirical-Bayes shrinkage (positive-part James-Stein of the per-type
means).

Same contract as every registered query: ``(spark, sf_dir) -> DataFrame``
plus an exact DuckDB oracle, identical column aliases on both sides,
exact-integer arithmetic for anything accumulated (DECIMAL(38,0)/
HUGEINT for products), truncating ``div`` fixed point for iterative
algorithms, no ``rand()``, no ``.collect()``. Windows run only over
post-aggregate value-domain-bounded cells (checkpointed), never raw
rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.registry import query
from de_project_airflow_etl_spark.tables import load
from de_project_airflow_etl_spark.queries.util import (
    fold_spark, fold_sql, sql_cents, wide,
)


# Spark dayofweek is 1=Sunday..7=Saturday, DuckDB's is 0=Sunday..6.
_WKND_SPARK = "CASE WHEN (dayofweek(ts) - 1) IN (0, 6) THEN 1 ELSE 0 END"
_WKND_SQL = "CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END"


# ---------------------------------------------------------------------
# Exact 1-D Wasserstein (earth mover's) distance between the weekend
# and weekday event-value distributions: W1 = integral |F1 - F2| dx
# over the cents domain = sum over consecutive distinct cents cells of
# |cum1*n2 - cum2*n1| * gap, an exact integer numerator on the common
# denominator n1*n2.


@query(
    "wasserstein_weekend_value",
    oracle=f"""
        WITH b AS (
          SELECT {sql_cents('value')} AS c, {_WKND_SQL} AS wknd FROM events
        ),
        cells AS (
          SELECT c,
                 CAST(SUM(wknd) AS BIGINT) AS c1,
                 CAST(SUM(1 - wknd) AS BIGINT) AS c2
          FROM b GROUP BY 1
        ),
        cum AS (
          SELECT c,
                 CAST(SUM(c1) OVER (ORDER BY c) AS HUGEINT) AS f1,
                 CAST(SUM(c2) OVER (ORDER BY c) AS HUGEINT) AS f2,
                 LEAD(c) OVER (ORDER BY c) AS c_next
          FROM cells
        ),
        tot AS (
          SELECT CAST(SUM(c1) AS BIGINT) AS n1,
                 CAST(SUM(c2) AS BIGINT) AS n2
          FROM cells
        )
        SELECT tot.n1 AS n_weekend, tot.n2 AS n_weekday,
               CAST(SUM(abs(f1 * tot.n2 - f2 * tot.n1)
                        * (c_next - c)) AS HUGEINT)::VARCHAR::DOUBLE
                 / ({wide("tot.n1")} * tot.n2) / 100
                 AS w1_dollars
        FROM cum, tot WHERE c_next IS NOT NULL
        GROUP BY tot.n1, tot.n2
    """,
    doc="Exact 1-D Wasserstein-1 (earth mover's) distance between the "
        "weekend and weekday event-value distributions — the optimal-"
        "transport drift measure that reports HOW FAR apart two "
        "distributions are in value units, complementing the EDF "
        "panel's sup-norm statistics (KS/AD/Kuiper) which only say "
        "whether they differ. W1 = integral |F1-F2| dx collapses on "
        "the sorted distinct-cents cells to an exact HUGEINT/"
        "DECIMAL(38,0) numerator sum(|cum1*n2 - cum2*n1| * gap) over "
        "the common denominator n1*n2; the single display division "
        "is the only double op. Plan: one scan, one value-domain-"
        "bounded cell aggregate (checkpointed), one cell cumulation "
        "window, a 1-row result.",
    tags=("statistics", "drift"),
)
def wasserstein_weekend_value(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    b = load(spark, sf_dir, "events").selectExpr(
        f"{sql_cents('value')} AS c", f"{_WKND_SPARK} AS wknd")
    cells = (b.groupBy("c")
              .agg(F.expr("CAST(SUM(wknd) AS BIGINT)").alias("c1"),
                   F.expr("CAST(SUM(1 - wknd) AS BIGINT)").alias("c2"))
              .localCheckpoint())  # value-domain-bounded cells
    w = Window.orderBy("c")
    cum = cells.select(
        "c",
        F.expr("CAST(SUM(c1) OVER (ORDER BY c) AS DECIMAL(38,0))")
         .alias("f1"),
        F.expr("CAST(SUM(c2) OVER (ORDER BY c) AS DECIMAL(38,0))")
         .alias("f2"),
        F.lead("c").over(w).alias("c_next"))
    tot = cells.agg(F.expr("CAST(SUM(c1) AS BIGINT)").alias("n1"),
                    F.expr("CAST(SUM(c2) AS BIGINT)").alias("n2"))
    return (cum.filter("c_next IS NOT NULL")
               .crossJoin(F.broadcast(tot))
               .groupBy("n1", "n2")
               .agg(F.expr(
                   "CAST(SUM(abs(f1 * n2 - f2 * n1) * (c_next - c))"
                   " AS DECIMAL(38,0))").alias("num"))
               .selectExpr("n1 AS n_weekend", "n2 AS n_weekday",
                           f"{wide('num')} / ({wide('n1')} * n2)"
                           " / 100 AS w1_dollars"))


# ---------------------------------------------------------------------
# Huber M-estimate of the event-value location via IRLS in quantized
# integer arithmetic: mu (micro-cents) and per-cell weights
# w6 = min(1e6, k*1e6 / |c - mu|) both live on fixed grids with
# truncating division, so the 6-round fixed point is engine-exact.
# The cells never change across rounds — only the 1-row mu panel —
# so each iteration is one broadcast join over the checkpointed
# cents cells.

_HUBER_K_CENTS = 5000          # clipping radius: $50
_HUBER_ITERS = 6
_MC = 10**6                    # micro-cent scale for mu
_W6 = 10**6                    # weight quantization


def _sql_huber_iter(prev: str, out: str) -> str:
    k_mc = _HUBER_K_CENTS * _MC
    return f"""
        wts_{out} AS (
          SELECT cells.c, cells.cnt,
                 CASE WHEN abs(cells.c * {_MC} - {prev}.mu)
                        <= {k_mc}
                      THEN CAST({_W6} AS HUGEINT)
                      ELSE (CAST({k_mc} AS HUGEINT) * {_W6})
                           // abs(cells.c * {_MC} - {prev}.mu)
                 END AS w6
          FROM cells, {prev}
        ),
        {out} AS MATERIALIZED (
          SELECT SUM(w6 * cnt * c * {_MC}) // SUM(w6 * cnt) AS mu
          FROM wts_{out}
        )
    """


@query(
    "huber_mean_event_value",
    oracle=f"""
        WITH cells AS MATERIALIZED (
          SELECT {sql_cents('value')} AS c, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM events GROUP BY 1
        ),
        m0 AS MATERIALIZED (
          SELECT (CAST(SUM(CAST(c AS HUGEINT) * cnt) AS HUGEINT)
                  * {_MC}) // SUM(cnt) AS mu
          FROM cells
        ),
        {",".join(_sql_huber_iter(f"m{k}", f"m{k + 1}")
                  for k in range(_HUBER_ITERS))},
        n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
                     CAST(SUM(CAST(c AS HUGEINT) * cnt) AS HUGEINT)
                       AS s
              FROM cells)
        SELECT n.n AS n_events,
               {wide("n.s")} / n.n / 100 AS plain_mean,
               {wide(f"m{_HUBER_ITERS}.mu")} / {_MC} / 100
                 AS huber_mean,
               CAST({_HUBER_K_CENTS} AS BIGINT) AS k_cents
        FROM n, m{_HUBER_ITERS}
    """,
    doc="Huber M-estimate of the event-value location (clipping "
        "radius $50) — the robust-statistics M-ESTIMATION family the "
        "registry's quantile-based robust measures (median, MAD, "
        "winsorized/trimmed means) don't cover: downweights outliers "
        "smoothly by w = min(1, k/|residual|) instead of discarding "
        "a fixed fraction. Fitted with 6 IRLS rounds entirely in "
        "quantized integers (mu on the micro-cent grid, weights on "
        "the 1e6 grid, truncating division) so both engines land on "
        "the identical fixed point — the markov/bradley-terry idiom. "
        "Scale: ONE corpus pass to the value-domain-bounded cents "
        "cells (checkpointed); every IRLS round is a broadcast of "
        "the 1-row mu panel onto the cells, no corpus re-scan, no "
        "per-round shuffle growth.",
    tags=("statistics", "iterative", "robust"),
)
def huber_mean_event_value(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    k_mc = _HUBER_K_CENTS * _MC
    cells = (load(spark, sf_dir, "events")
             .selectExpr(f"{sql_cents('value')} AS c")
             .groupBy("c")
             .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
             .localCheckpoint())  # bounded cells, reused every round
    mu = cells.agg(F.expr(
        f"(CAST(SUM(CAST(c AS DECIMAL(38,0)) * cnt) AS DECIMAL(38,0))"
        f" * {_MC}) div SUM(cnt)").alias("mu")).localCheckpoint()
    for _ in range(_HUBER_ITERS):
        wts = cells.crossJoin(F.broadcast(mu)).selectExpr(
            "c", "cnt",
            f"CASE WHEN abs(c * {_MC} - mu) <= {k_mc} THEN "
            f"CAST({_W6} AS BIGINT) ELSE "
            f"(CAST({k_mc} AS DECIMAL(38,0)) * {_W6})"
            f" div abs(c * {_MC} - mu) END AS w6")
        mu = wts.agg(F.expr(
            f"SUM(CAST(w6 AS DECIMAL(38,0)) * cnt * c * {_MC})"
            " div SUM(CAST(w6 AS DECIMAL(38,0)) * cnt)").alias("mu")
        ).localCheckpoint()
    n = cells.agg(
        F.expr("CAST(SUM(cnt) AS BIGINT)").alias("n"),
        F.expr("CAST(SUM(CAST(c AS DECIMAL(38,0)) * cnt)"
               " AS DECIMAL(38,0))").alias("s"))
    return (n.crossJoin(F.broadcast(mu))
             .selectExpr("n AS n_events",
                         f"{wide('s')} / n / 100 AS plain_mean",
                         f"{wide('mu')} / {_MC} / 100 AS huber_mean",
                         f"CAST({_HUBER_K_CENTS} AS BIGINT) AS k_cents"))


# ---------------------------------------------------------------------
# Bandt-Pompe ordinal-pattern census (order m=3) of the daily revenue
# series: each consecutive day-triple is classified by the ordering of
# its three values (ties broken by time index — the standard
# convention), giving a 6-symbol census whose distribution is the
# basis of permutation entropy. Counts are exact integers; shares are
# single display divisions.

_OP_PATTERN = """
    CASE
      WHEN y1 <= y2 AND y2 <= y3 THEN '012'
      WHEN y1 <= y3 AND y3 <  y2 THEN '021'
      WHEN y2 <  y1 AND y1 <= y3 THEN '102'
      WHEN y3 <  y1 AND y1 <= y2 THEN '201'
      WHEN y2 <= y3 AND y3 <  y1 THEN '120'
      ELSE '210'
    END
"""
# pattern = positions listed in ascending value order (ties broken by
# earlier index): y3 < y1 <= y2 reads "position 2, then 0, then 1".


@query(
    "ordinal_pattern_census_daily",
    oracle=f"""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS day,
                 CAST(SUM({sql_cents('value')}) AS BIGINT) AS y
          FROM events GROUP BY 1
        ),
        tri AS (
          SELECT y AS y1,
                 LEAD(y, 1) OVER (ORDER BY day) AS y2,
                 LEAD(y, 2) OVER (ORDER BY day) AS y3
          FROM daily
        ),
        pat AS (
          SELECT {_OP_PATTERN} AS pattern
          FROM tri WHERE y3 IS NOT NULL
        ),
        census AS (
          SELECT pattern, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM pat GROUP BY 1
        ),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM census)
        SELECT pattern, cnt,
               CAST(cnt AS DOUBLE) / tot.t AS share
        FROM census, tot
    """,
    doc="Bandt-Pompe ordinal-pattern census (order m=3) of the daily "
        "revenue series — the symbolic-dynamics view of a time "
        "series underlying permutation entropy: each consecutive "
        "day-triple maps to one of 6 rank patterns (ties broken by "
        "time index, the standard convention), and deviations of the "
        "census from uniform expose determinism/trend structure that "
        "autocorrelation misses. '012' = strictly ascending runs, "
        "'210' = descending. Counts exact; the census is compared "
        "raw rather than through an entropy (log doubles are not "
        "correctly rounded cross-engine — the token_gini precedent). "
        "Plan: one scan to the <=30-row daily aggregate "
        "(checkpointed); triples via two LEADs on the bounded panel.",
    tags=("timeseries", "statistics"),
)
def ordinal_pattern_census_daily(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    daily = (load(spark, sf_dir, "events")
             .selectExpr("CAST(ts AS DATE) AS day", f"{sql_cents('value')} AS cc")
             .groupBy("day")
             .agg(F.expr("CAST(SUM(cc) AS BIGINT)").alias("y"))
             .localCheckpoint())  # <=30 rows
    w = Window.orderBy("day")
    tri = daily.select(
        F.col("y").alias("y1"),
        F.lead("y", 1).over(w).alias("y2"),
        F.lead("y", 2).over(w).alias("y3"))
    census = (tri.filter("y3 IS NOT NULL")
                 .selectExpr(f"{_OP_PATTERN} AS pattern")
                 .groupBy("pattern")
                 .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    tot = census.agg(F.expr("CAST(SUM(cnt) AS BIGINT)").alias("t"))
    return (census.crossJoin(F.broadcast(tot))
                  .selectExpr("pattern", "cnt",
                              "CAST(cnt AS DOUBLE) / t AS share"))


# ---------------------------------------------------------------------
# Group-sequential A/B readout: the md5-nibble arms' cumulative
# purchase-rate contrast evaluated at five interim looks (day 6, 12,
# 18, 24, 30) against pinned O'Brien-Fleming-shape z^2 boundaries
# (C = 2.04, K = 5: z_k = C*sqrt(K/k)). Counts cumulate exactly; the
# z^2 rational is wide-cast once per look; boundary comparisons are
# identical doubles on both engines.

_ARM_SPARK = ("CASE WHEN substring(md5(CAST(user_id AS STRING)), 1, 1)"
              " < '8' THEN 1 ELSE 0 END")
_ARM_SQL = ("CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1)"
            " < '8' THEN 1 ELSE 0 END")
_GS_LOOKS = 5
_GS_DAYS_PER_LOOK = 6
# z^2 boundaries: (2.04)^2 * 5 / k, k = 1..5 — the O'Brien-Fleming
# alpha-spending shape with pinned literals (the power_mde idiom)
_GS_BOUNDS = ("CAST(CASE look WHEN 1 THEN 20.808 WHEN 2 THEN 10.404 "
              "WHEN 3 THEN 6.936 WHEN 4 THEN 5.202 ELSE 4.1616 END"
              " AS DOUBLE)")


@query(
    "group_sequential_ab_readout",
    oracle=f"""
        WITH d0 AS (SELECT MIN(CAST(ts AS DATE)) AS dmin FROM events),
        b AS (
          SELECT {_ARM_SQL} AS arm_a,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS conv,
                 CAST(CEIL((date_diff('day', d0.dmin, CAST(ts AS DATE))
                            + 1) / {_GS_DAYS_PER_LOOK}.0) AS BIGINT)
                   AS look
          FROM events, d0
        ),
        cells AS (
          SELECT look,
                 CAST(SUM(CASE WHEN arm_a = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS na_c,
                 CAST(SUM(CASE WHEN arm_a = 1 THEN conv ELSE 0 END)
                      AS BIGINT) AS xa_c,
                 CAST(SUM(CASE WHEN arm_a = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS nb_c,
                 CAST(SUM(CASE WHEN arm_a = 0 THEN conv ELSE 0 END)
                      AS BIGINT) AS xb_c
          FROM b WHERE look <= {_GS_LOOKS} GROUP BY 1
        ),
        cum AS (
          SELECT look,
                 CAST(SUM(na_c) OVER w AS HUGEINT) AS n1,
                 CAST(SUM(xa_c) OVER w AS HUGEINT) AS x1,
                 CAST(SUM(nb_c) OVER w AS HUGEINT) AS n2,
                 CAST(SUM(xb_c) OVER w AS HUGEINT) AS x2
          FROM cells WINDOW w AS (ORDER BY look)
        ),
        z AS (
          SELECT look, n1, x1, n2, x2,
                 (n1 + n2) * (x1 * n2 - x2 * n1) * (x1 * n2 - x2 * n1)
                   AS num,
                 n1 * n2 * (x1 + x2) * (n1 + n2 - x1 - x2) AS den
          FROM cum
        )
        SELECT look, CAST(look * {_GS_DAYS_PER_LOOK} AS BIGINT)
                 AS day_cutoff,
               CAST(n1 AS BIGINT) AS n_a, CAST(x1 AS BIGINT) AS x_a,
               CAST(n2 AS BIGINT) AS n_b, CAST(x2 AS BIGINT) AS x_b,
               CASE WHEN den = 0 THEN CAST(0 AS DOUBLE)
                    ELSE {wide("num")} / {wide("den")} END
                 AS z2,
               {_GS_BOUNDS} AS z2_bound,
               CAST(CASE WHEN den > 0 AND
                      {wide("num")} / {wide("den")}
                        > {_GS_BOUNDS}
                    THEN 1 ELSE 0 END AS INT) AS crossed
        FROM z
    """,
    doc="Group-sequential A/B experiment readout: the md5-nibble "
        "arms' cumulative purchase-rate contrast tested at five "
        "interim looks (every 6 days) against pinned O'Brien-"
        "Fleming-shape z^2 boundaries (C=2.04, K=5: early looks need "
        "overwhelming evidence, the final look spends nearly the "
        "full alpha) — the peeking-safe monitoring layer the one-"
        "shot tests (SRM, CUPED, DiD) lack. Counts cumulate exactly "
        "over the 5-look cells; each look's z^2 is the exact-"
        "rational pooled two-proportion statistic wide-cast once; "
        "boundary crossings compare identical doubles to pinned "
        "literals (the power_mde idiom). Plan: one scan, one 5-row "
        "(look, arm) cell aggregate, a bounded cumulation window, "
        "panel-only math.",
    tags=("experimentation", "statistics"),
)
def group_sequential_ab_readout(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    d0 = ev.agg(F.expr("MIN(CAST(ts AS DATE))").alias("dmin"))
    b = (ev.crossJoin(F.broadcast(d0))
           .selectExpr(f"{_ARM_SPARK} AS arm_a",
                       "CASE WHEN event_type = 'purchase' THEN 1 "
                       "ELSE 0 END AS conv",
                       "CAST(CEIL((datediff(CAST(ts AS DATE), dmin)"
                       f" + 1) / CAST({_GS_DAYS_PER_LOOK} AS DOUBLE))"
                       " AS BIGINT) AS look"))
    cells = (b.filter(f"look <= {_GS_LOOKS}")
              .groupBy("look")
              .agg(F.expr("CAST(SUM(CASE WHEN arm_a = 1 THEN 1 ELSE 0"
                          " END) AS BIGINT)").alias("na_c"),
                   F.expr("CAST(SUM(CASE WHEN arm_a = 1 THEN conv"
                          " ELSE 0 END) AS BIGINT)").alias("xa_c"),
                   F.expr("CAST(SUM(CASE WHEN arm_a = 0 THEN 1 ELSE 0"
                          " END) AS BIGINT)").alias("nb_c"),
                   F.expr("CAST(SUM(CASE WHEN arm_a = 0 THEN conv"
                          " ELSE 0 END) AS BIGINT)").alias("xb_c"))
              .localCheckpoint())  # <=5 rows
    w = (Window.orderBy("look")
               .rowsBetween(Window.unboundedPreceding, 0))
    cum = cells.select(
        "look",
        F.sum("na_c").over(w).cast("decimal(38,0)").alias("n1"),
        F.sum("xa_c").over(w).cast("decimal(38,0)").alias("x1"),
        F.sum("nb_c").over(w).cast("decimal(38,0)").alias("n2"),
        F.sum("xb_c").over(w).cast("decimal(38,0)").alias("x2"))
    z = cum.selectExpr(
        "look", "n1", "x1", "n2", "x2",
        "(n1 + n2) * (x1 * n2 - x2 * n1) * (x1 * n2 - x2 * n1) AS num",
        "n1 * n2 * (x1 + x2) * (n1 + n2 - x1 - x2) AS den")
    return z.selectExpr(
        "look",
        f"CAST(look * {_GS_DAYS_PER_LOOK} AS BIGINT) AS day_cutoff",
        "CAST(n1 AS BIGINT) AS n_a", "CAST(x1 AS BIGINT) AS x_a",
        "CAST(n2 AS BIGINT) AS n_b", "CAST(x2 AS BIGINT) AS x_b",
        "CASE WHEN den = 0 THEN CAST(0 AS DOUBLE) ELSE "
        f"{wide('num')} / {wide('den')} END AS z2",
        f"{_GS_BOUNDS} AS z2_bound",
        f"CAST(CASE WHEN den > 0 AND {wide('num')} / {wide('den')}"
        f" > {_GS_BOUNDS} THEN 1 ELSE 0 END AS INT) AS crossed")


# ---------------------------------------------------------------------
# Positive-part James-Stein shrinkage of the per-type mean values
# toward the grand mean — empirical-Bayes partial pooling. Moments
# accumulate exactly (BIGINT counts, DECIMAL sums of cents and
# cents^2); the bounded per-type double terms (between-group squared
# deviations, within variances, 1/n) ride the sorted-fold idiom so
# both engines sum them in the identical order.

_JS_K = 5  # number of event types


_JS_DEV_SQL = ("(" + wide("mom.s") + " / mom.n - "
               + wide("g.ss") + " / g.nn)")
_JS_D_BETWEEN_SQL = fold_sql(
    "list(" + _JS_DEV_SQL + " * " + _JS_DEV_SQL + ")")
_JS_SSW_SQL = fold_sql(
    "list(" + wide("mom.q") + " - " + wide("mom.s")
    + " * " + wide("mom.s") + " / mom.n)")
_JS_INVN_SQL = fold_sql("list(CAST(1.0 AS DOUBLE) / mom.n)")


@query(
    "james_stein_type_means",
    oracle=f"""
        WITH mom AS (
          SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM({sql_cents('value')}) AS HUGEINT) AS s,
                 CAST(SUM(CAST({sql_cents('value')} AS HUGEINT) * {sql_cents('value')})
                      AS HUGEINT) AS q
          FROM events GROUP BY 1
        ),
        g AS (
          SELECT CAST(SUM(n) AS BIGINT) AS nn,
                 CAST(SUM(s) AS HUGEINT) AS ss
          FROM mom
        ),
        terms AS (
          SELECT
            {_JS_D_BETWEEN_SQL} AS d_between,
            {_JS_SSW_SQL} AS ssw,
            {_JS_INVN_SQL} AS inv_n
          FROM mom, g GROUP BY g.nn
        ),
        bf AS (
          SELECT GREATEST(CAST(0 AS DOUBLE),
                   1 - ({_JS_K} - 3)
                       * (ssw / (g.nn - {_JS_K}))
                       * (inv_n / {_JS_K})
                       / NULLIF(d_between, 0)) AS b
          FROM terms, g
        )
        SELECT mom.event_type, mom.n AS n_events,
               {wide("mom.s")} / mom.n / 100 AS raw_mean,
               ({wide("g.ss")} / g.nn
                + bf.b * ({wide("mom.s")} / mom.n
                          - {wide("g.ss")} / g.nn)) / 100
                 AS js_mean,
               bf.b AS shrink_b
        FROM mom, g, bf
    """,
    doc="Positive-part James-Stein shrinkage of the five per-type "
        "mean event values toward the grand mean — empirical-Bayes "
        "partial pooling, the estimator family (shrink noisy group "
        "means by 1 - (k-3)*SE^2/D) behind hierarchical-model "
        "readouts; none of the registry's group summaries shrink. "
        "Moments accumulate exactly in one pass (BIGINT/DECIMAL(38,0) "
        "cents and cents^2); every bounded sum of per-type DOUBLE "
        "terms (between-group squared deviations, within-group SS, "
        "1/n) rides the sorted-fold idiom so both engines combine "
        "IEEE terms in the identical order, and the shrink factor's "
        "divisions are shared exact-operand formulas. Plan: one "
        "scan, one 5-row moment aggregate, panel-only math, "
        "broadcast everywhere.",
    tags=("statistics", "estimation"),
)
def james_stein_type_means(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    mom = (load(spark, sf_dir, "events")
           .selectExpr("event_type", f"{sql_cents('value')} AS c")
           .groupBy("event_type")
           .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("n"),
                F.expr("CAST(SUM(c) AS DECIMAL(38,0))").alias("s"),
                F.expr("CAST(SUM(CAST(c AS DECIMAL(38,0)) * c)"
                       " AS DECIMAL(38,0))").alias("q"))
           .localCheckpoint())  # 5 rows
    g = mom.agg(F.expr("CAST(SUM(n) AS BIGINT)").alias("nn"),
                F.expr("CAST(SUM(s) AS DECIMAL(38,0))").alias("ss"))
    mg = mom.crossJoin(F.broadcast(g))
    # ONE global (no-key) aggregate so the broadcast build below has a
    # scalar-aggregate root the BNLJ gate can prove bounded (nn rides
    # along as MIN over the constant column)
    terms = mg.agg(
        F.expr(fold_spark(
            f"collect_list(({wide('s')} / n - {wide('ss')} / nn)"
            f" * ({wide('s')} / n - {wide('ss')} / nn))"))
         .alias("d_between"),
        F.expr(fold_spark(
            f"collect_list({wide('q')}"
            f" - {wide('s')} * {wide('s')} / n)")).alias("ssw"),
        F.expr(fold_spark("collect_list(CAST(1.0 AS DOUBLE) / n)"))
         .alias("inv_n"),
        F.expr("MIN(nn)").alias("nn"))
    bf = terms.selectExpr(
        f"GREATEST(CAST(0 AS DOUBLE), 1 - ({_JS_K} - 3)"
        f" * (ssw / (nn - {_JS_K})) * (inv_n / {_JS_K})"
        " / NULLIF(d_between, CAST(0 AS DOUBLE))) AS b")
    return (mg.crossJoin(F.broadcast(bf))
              .selectExpr("event_type", "n AS n_events",
                          f"{wide('s')} / n / 100 AS raw_mean",
                          f"({wide('ss')} / nn + b * ({wide('s')} / n"
                          f" - {wide('ss')} / nn)) / 100 AS js_mean",
                          "b AS shrink_b"))
