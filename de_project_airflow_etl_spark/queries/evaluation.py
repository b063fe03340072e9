"""Round-7 surface bank, second half: classifier/retrieval evaluation
and hypothesis-test statistics. Staged during round 6 as
``staged/round7b.py``; promoted into the registry in round 7 after the
recorded sf0.01 + sf0.1 staged sweeps ran green.

Same contract as registered queries: ``(spark, sf_dir) -> DataFrame``
plus an exact DuckDB oracle, identical column aliases on both sides,
exact-integer / fixed-point arithmetic for anything accumulated, a
100 TB plan story per docstring, no ``rand()``, no ``.collect()``.

New determinism idiom introduced here (and reused below): a
**deterministic double reduction**. Double addition is not
associative, so a SUM over double terms is engine-order-dependent —
the reason the promoted bank avoids summed transcendentals outright
(language_diversity_by_source chose Simpson over Shannon). When a
statistic genuinely needs a sum of K per-group DOUBLE terms (ANOVA's
sum of squared group means, chi-square's cell contributions) and K is
bounded (fixed-cardinality grouping keys), both engines fold the
SORTED term array sequentially from an explicit 0.0 seed:

  Spark : aggregate(array_sort(collect_list(t)), CAST(0.0 AS DOUBLE),
                    (acc, v) -> acc + v)
  DuckDB: list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                      list_sort(list(t))), (acc, v) -> acc + v)

Identical value order + identical association order = bit-identical
IEEE result. The collect_list is over a BOUNDED group count (never
data-sized rows), so the array stays O(|groups|) at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.registry import query
from de_project_airflow_etl_spark.tables import load
from de_project_airflow_etl_spark.queries.util import (
    fold_spark, fold_sql, sql_cents, wide,
)


# ----------------------------------------- ROC-AUC of value vs purchase

# Rank-based AUC with tie handling (average ranks), computed without a
# global rank: group by the exact integer score (cents), cumulate the
# negative counts below each score, and combine
#   AUC = sum_v pos_v * (neg_below_v + neg_v / 2) / (n_pos * n_neg).
# Doubling the numerator keeps everything integral until one division.
_AUC = (f"{wide('num2')} / "
        f"{wide('CAST(2 * n_pos AS DECIMAL(38,0)) * n_neg')}")


@query(
    "roc_auc_purchase_value",
    oracle=f"""
        WITH g AS (
          SELECT {sql_cents('value')} AS v,
                 CAST(SUM(CASE WHEN event_type = 'purchase'
                          THEN 1 ELSE 0 END) AS BIGINT) AS pos_v,
                 CAST(SUM(CASE WHEN event_type = 'purchase'
                          THEN 0 ELSE 1 END) AS BIGINT) AS neg_v
          FROM events GROUP BY 1
        ),
        c AS (
          SELECT pos_v, neg_v,
                 COALESCE(SUM(neg_v) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS neg_lt
          FROM g
        ),
        t AS (
          SELECT CAST(SUM(pos_v) AS BIGINT) AS n_pos,
                 CAST(SUM(neg_v) AS BIGINT) AS n_neg,
                 SUM(CAST(pos_v AS DECIMAL(38,0))
                     * (2 * neg_lt + neg_v)) AS num2
          FROM c
        )
        SELECT n_pos, n_neg, {_AUC} AS auc FROM t
    """,
    doc="Area under the ROC curve for 'event value predicts purchase' "
        "— the standard threshold-free classifier-evaluation metric a "
        "training pipeline tracks for every quality/heuristic score. "
        "Rank-based (Mann-Whitney) formulation with exact tie "
        "handling, but WITHOUT a global rank: scores are exact "
        "integer cents with a bounded value range, so a group-by on "
        "the score plus one cumulative count over the <=49k-row "
        "score-distribution table replaces the data-sized sort "
        "(the global_row_number lesson). The doubled numerator "
        "pos_v*(2*neg_below+neg_v) accumulates in DECIMAL(38,0) "
        "(products pass 2^63 at corpus scale) and the single "
        "division rides the decimal-string->double route. Plan: one "
        "map-side-combinable aggregate on the fact table, one window "
        "+ final aggregate over the bounded score table.",
    tags=("evaluation", "statistics"),
)
def roc_auc_purchase_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").selectExpr(
        f"{sql_cents('value')} AS v",
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_pos")
    g = (e.groupBy("v")
          .agg(F.sum("is_pos").cast("long").alias("pos_v"),
               F.sum(F.lit(1) - F.col("is_pos")).cast("long")
                .alias("neg_v")))
    w = (Window.orderBy("v")
               .rowsBetween(Window.unboundedPreceding, -1))
    c = g.select(
        "pos_v", "neg_v",
        F.coalesce(F.sum("neg_v").over(w), F.lit(0)).alias("neg_lt"))
    t = c.agg(
        F.sum("pos_v").cast("long").alias("n_pos"),
        F.sum("neg_v").cast("long").alias("n_neg"),
        F.sum(F.col("pos_v").cast("decimal(38,0)")
              * (2 * F.col("neg_lt") + F.col("neg_v"))).alias("num2"))
    return t.selectExpr("n_pos", "n_neg", f"{_AUC} AS auc")


# ------------------------------------- Welch's t-test: weekend effect

# Shared double fragments over exact aggregates. Means/variances in
# cents and cents^2; the cents scale cancels inside t, and the means
# are reported in dollars. Sums of cents and cents^2 both ride
# DECIMAL(38,0) (the sum-of-squares passed 2^63 at sf0.1 once before;
# tests/test_overflow.py covers the shared route).
_MEAN_W = f"{wide('s_w')} / n_w"
_MEAN_D = f"{wide('s_d')} / n_d"
_VAR_W = (f"({wide('q_w')} - {wide('s_w')} * {wide('s_w')} / n_w)"
          f" / (n_w - 1)")
_VAR_D = (f"({wide('q_d')} - {wide('s_d')} * {wide('s_d')} / n_d)"
          f" / (n_d - 1)")
_SE2 = "(var_w / n_w + var_d / n_d)"
_T = f"(mean_w_c - mean_d_c) / SQRT({_SE2})"
_WELCH_DF = (f"({_SE2} * {_SE2}) / "
             f"((var_w / n_w) * (var_w / n_w) / (n_w - 1)"
             f" + (var_d / n_d) * (var_d / n_d) / (n_d - 1))")


@query(
    "welch_t_test_weekend_value",
    oracle=f"""
        WITH b AS (
          SELECT CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END
                   AS wknd,
                 {sql_cents('value')} AS c
          FROM events
        ),
        a AS (
          SELECT CAST(SUM(wknd) AS BIGINT) AS n_w,
                 SUM(CASE WHEN wknd = 1 THEN CAST(c AS DECIMAL(38,0))
                     ELSE 0 END) AS s_w,
                 SUM(CASE WHEN wknd = 1
                     THEN CAST(c AS DECIMAL(38,0)) * c
                     ELSE 0 END) AS q_w,
                 CAST(SUM(1 - wknd) AS BIGINT) AS n_d,
                 SUM(CASE WHEN wknd = 0 THEN CAST(c AS DECIMAL(38,0))
                     ELSE 0 END) AS s_d,
                 SUM(CASE WHEN wknd = 0
                     THEN CAST(c AS DECIMAL(38,0)) * c
                     ELSE 0 END) AS q_d
          FROM b
        ),
        m AS (
          SELECT n_w, n_d,
                 {_MEAN_W} AS mean_w_c, {_MEAN_D} AS mean_d_c,
                 {_VAR_W} AS var_w, {_VAR_D} AS var_d
          FROM a
        )
        SELECT n_w AS n_weekend, n_d AS n_weekday,
               mean_w_c / 100 AS mean_weekend,
               mean_d_c / 100 AS mean_weekday,
               {_T} AS t_stat,
               {_WELCH_DF} AS welch_df
        FROM m
    """,
    doc="Welch's unequal-variance t-test for 'do weekend events carry "
        "different values than weekday events' — the two-sample mean "
        "test (with the Welch-Satterthwaite degrees of freedom) that "
        "complements the rank-based Mann-Whitney and two-proportion "
        "z-test already in the bank. All moments (n, sum cents, sum "
        "cents^2) accumulate exactly in BIGINT/DECIMAL(38,0) in ONE "
        "map-side-combinable pass over the fact table with no "
        "grouping key at all; every double op afterwards is a shared "
        "SQL fragment on identical operands (divisions + one IEEE "
        "sqrt), so the statistic is bit-identical across engines. "
        "dayofweek parity: DuckDB dayofweek is 0=Sunday; Spark "
        "dayofweek is 1=Sunday, shifted by -1. Plan: a single "
        "partial+final aggregate producing one row — nothing "
        "data-sized past the scan at 100 TB.",
    tags=("statistics",),
)
def welch_t_test_weekend_value(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    b = load(spark, sf_dir, "events").selectExpr(
        "CASE WHEN (dayofweek(ts) - 1) IN (0, 6) THEN 1 ELSE 0 END"
        " AS wknd",
        f"{sql_cents('value')} AS c")
    a = b.agg(
        F.expr("CAST(SUM(wknd) AS BIGINT)").alias("n_w"),
        F.expr("SUM(CASE WHEN wknd = 1 THEN CAST(c AS DECIMAL(38,0))"
               " ELSE 0 END)").alias("s_w"),
        F.expr("SUM(CASE WHEN wknd = 1"
               " THEN CAST(c AS DECIMAL(38,0)) * c ELSE 0 END)")
         .alias("q_w"),
        F.expr("CAST(SUM(1 - wknd) AS BIGINT)").alias("n_d"),
        F.expr("SUM(CASE WHEN wknd = 0 THEN CAST(c AS DECIMAL(38,0))"
               " ELSE 0 END)").alias("s_d"),
        F.expr("SUM(CASE WHEN wknd = 0"
               " THEN CAST(c AS DECIMAL(38,0)) * c ELSE 0 END)")
         .alias("q_d"))
    m = a.selectExpr(
        "n_w", "n_d",
        f"{_MEAN_W} AS mean_w_c", f"{_MEAN_D} AS mean_d_c",
        f"{_VAR_W} AS var_w", f"{_VAR_D} AS var_d")
    return m.selectExpr(
        "n_w AS n_weekend", "n_d AS n_weekday",
        "mean_w_c / 100 AS mean_weekend",
        "mean_d_c / 100 AS mean_weekday",
        f"{_T} AS t_stat",
        f"{_WELCH_DF} AS welch_df")


# ------------------------------------------ one-way ANOVA across types

# F = (SSB / (k-1)) / (SSW / (N-k)) with
#   A   = sum_g s_g^2 / n_g          (the only double-summed term)
#   SSB = A - S^2 / N,  SSW = Q - A
# A is a sum of K=|event_types| DOUBLE terms -> deterministic fold.
_ANOVA_FINAL = """
        SELECT k_groups, n_total,
               (a_sum - {S2N}) AS ss_between,
               ({Q} - a_sum) AS ss_within,
               CAST(k_groups - 1 AS BIGINT) AS df_between,
               CAST(n_total - k_groups AS BIGINT) AS df_within,
               ((a_sum - {S2N}) / (k_groups - 1))
                 / (({Q} - a_sum) / (n_total - k_groups)) AS f_stat
"""


def _anova_final(dialect_fold_done: str) -> str:
    return _ANOVA_FINAL.format(
        S2N=f"{wide('s_tot')} * {wide('s_tot')} / n_total",
        Q=wide("q_tot")) + dialect_fold_done


@query(
    "anova_event_type_value",
    oracle=f"""
        WITH g AS (
          SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n_g,
                 SUM(CAST({sql_cents('value')} AS DECIMAL(38,0))) AS s_g,
                 SUM(CAST({sql_cents('value')} AS DECIMAL(38,0)) * {sql_cents('value')})
                   AS q_g
          FROM events GROUP BY event_type
        ),
        p AS (
          SELECT n_g, s_g, q_g,
                 {wide('s_g')} * {wide('s_g')} / n_g AS a_g
          FROM g
        ),
        t AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS k_groups,
                 CAST(SUM(n_g) AS BIGINT) AS n_total,
                 SUM(s_g) AS s_tot, SUM(q_g) AS q_tot,
                 {fold_sql('list(a_g)')} AS a_sum
          FROM p
        )
        {_anova_final("FROM t")}
    """,
    doc="One-way ANOVA F-statistic for value across the five event "
        "types — 'does the mean differ across more than two groups', "
        "the k-sample generalization of the Welch/Mann-Whitney pair "
        "tests in this bank. Group moments are exact "
        "(BIGINT/DECIMAL(38,0)); the between-group sum of squares "
        "needs sum_g s_g^2/n_g, a sum of K per-group DOUBLES, which "
        "both engines fold over the SORTED term array from a 0.0 "
        "seed (module-head idiom) — bit-identical association order, "
        "and the collect_list is over the fixed-cardinality "
        "event-type groups, never raw rows. Plan: one "
        "map-side-combinable aggregate on the fact table, then a "
        "5-row regroup; a single row out.",
    tags=("statistics",),
)
def anova_event_type_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = load(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.expr(f"SUM(CAST({sql_cents('value')} AS DECIMAL(38,0)))").alias("s_g"),
        F.expr(f"SUM(CAST({sql_cents('value')} AS DECIMAL(38,0))"
               f" * {sql_cents('value')})")
         .alias("q_g"))
    p = g.selectExpr(
        "n_g", "s_g", "q_g",
        f"{wide('s_g')} * {wide('s_g')} / n_g AS a_g")
    t = p.agg(
        F.count(F.lit(1)).cast("long").alias("k_groups"),
        F.sum("n_g").cast("long").alias("n_total"),
        F.sum("s_g").alias("s_tot"),
        F.sum("q_g").alias("q_tot"),
        F.collect_list("a_g").alias("a_list"))
    folded = t.selectExpr(
        "k_groups", "n_total", "s_tot", "q_tot",
        f"{fold_spark('a_list')} AS a_sum")
    folded.createOrReplaceTempView("anova_folded")
    return spark.sql(_anova_final("FROM anova_folded"))


# --------------------------- Cramér's V: event type vs day of week

_CELL_CONTRIB = ("(CAST(o AS DOUBLE) - CAST(rt * ct AS DOUBLE) / gt)"
                 " * (CAST(o AS DOUBLE) - CAST(rt * ct AS DOUBLE) / gt)"
                 " / (CAST(rt * ct AS DOUBLE) / gt)")
_V_FINAL = ("SQRT(chi2 / (CAST(n_total AS DOUBLE)"
            " * (CAST(LEAST(n_rows, n_cols) AS DOUBLE) - 1)))")


@query(
    "cramers_v_event_dow",
    oracle=f"""
        WITH cells AS (
          SELECT event_type,
                 CAST(dayofweek(ts) AS BIGINT) AS dow,
                 CAST(COUNT(*) AS BIGINT) AS o
          FROM events GROUP BY 1, 2
        ),
        m AS (
          SELECT o,
                 SUM(o) OVER (PARTITION BY event_type) AS rt,
                 SUM(o) OVER (PARTITION BY dow) AS ct,
                 SUM(o) OVER () AS gt,
                 COUNT(DISTINCT event_type) OVER () AS n_rows,
                 COUNT(DISTINCT dow) OVER () AS n_cols
          FROM cells
        ),
        t AS (
          SELECT CAST(MAX(gt) AS BIGINT) AS n_total,
                 CAST(MAX(n_rows) AS BIGINT) AS n_rows,
                 CAST(MAX(n_cols) AS BIGINT) AS n_cols,
                 {fold_sql(f"list({_CELL_CONTRIB})")} AS chi2
          FROM m
        )
        SELECT n_total, n_rows, n_cols,
               CAST((n_rows - 1) * (n_cols - 1) AS BIGINT) AS dof,
               chi2, {_V_FINAL} AS cramers_v
        FROM t
    """,
    doc="Chi-square test of independence between event type and day "
        "of week, reported as the single (chi2, Cramér's V) statistic "
        "pair — the bounded-[0,1] association strength a feature-"
        "selection pass ranks categorical columns by. Complements "
        "chi_square_event_drift, which emits per-cell contributions "
        "but (deliberately) no total: the total is a sum of per-cell "
        "DOUBLES, impossible to verify bit-exactly under engine-"
        "specific accumulation order — solved here with the sorted-"
        "fold reduction over the 35-cell contingency table (module-"
        "head idiom). Expected counts are exact-integer products "
        "divided once; V's sqrt is IEEE-exact. dayofweek parity: "
        "DuckDB 0=Sunday, Spark shifted by -1. Plan: one aggregate "
        "over the fact table, windows over the 35-row cell table, "
        "one row out.",
    tags=("statistics",),
)
def cramers_v_event_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = (load(spark, sf_dir, "events")
             .selectExpr("event_type",
                         "CAST(dayofweek(ts) - 1 AS BIGINT) AS dow")
             .groupBy("event_type", "dow")
             .agg(F.count(F.lit(1)).alias("o")))
    m = cells.select(
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("rt"),
        F.sum("o").over(Window.partitionBy("dow")).alias("ct"),
        F.sum("o").over(Window.partitionBy()).alias("gt"),
        F.size(F.collect_set("event_type").over(Window.partitionBy()))
         .cast("long").alias("n_rows"),
        F.size(F.collect_set("dow").over(Window.partitionBy()))
         .cast("long").alias("n_cols"))
    t = m.agg(
        F.max("gt").cast("long").alias("n_total"),
        F.max("n_rows").cast("long").alias("n_rows"),
        F.max("n_cols").cast("long").alias("n_cols"),
        F.collect_list(F.expr(_CELL_CONTRIB)).alias("contribs"))
    return (t.selectExpr(
                "n_total", "n_rows", "n_cols",
                f"{fold_spark('contribs')} AS chi2")
             .selectExpr(
                "n_total", "n_rows", "n_cols",
                "CAST((n_rows - 1) * (n_cols - 1) AS BIGINT) AS dof",
                "chi2", f"{_V_FINAL} AS cramers_v"))


# ------------------------------ theta sketch: user-set overlap

THETA_K = 64
_POW52 = 1 << 52
_THETA_SALT = "theta"


def _uh_spark() -> str:
    return (f"CAST(conv(substring(md5(concat('{_THETA_SALT}', "
            f"CAST(user_id AS STRING))), 1, 13), 16, 10) AS BIGINT)")


def _uh_sql() -> str:
    return (f"CAST(('0x' || substring(md5('{_THETA_SALT}' || "
            f"CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT)")


# est = |retained below theta| * 2^52 / theta: every operand is an
# exactly-representable double (hash < 2^52, count * 2^52 < 2^60),
# one IEEE division -> bit-identical across engines.
def _theta_est(cnt: str, theta: str) -> str:
    return (f"CAST({cnt} AS DOUBLE) * {float(_POW52)}"
            f" / CAST({theta} AS DOUBLE)")


@query(
    "theta_sketch_user_overlap",
    oracle=f"""
        WITH ua AS (
          SELECT DISTINCT {_uh_sql()} AS h FROM events
          WHERE event_type = 'click'
        ),
        ub AS (
          SELECT DISTINCT {_uh_sql()} AS h FROM events
          WHERE event_type = 'purchase'
        ),
        ka AS (SELECT h FROM ua ORDER BY h LIMIT {THETA_K}),
        kb AS (SELECT h FROM ub ORDER BY h LIMIT {THETA_K}),
        ta AS (
          SELECT CASE WHEN COUNT(*) >= {THETA_K} THEN MAX(h)
                      ELSE {_POW52} END AS theta_a
          FROM ka
        ),
        tb AS (
          SELECT CASE WHEN COUNT(*) >= {THETA_K} THEN MAX(h)
                      ELSE {_POW52} END AS theta_b
          FROM kb
        ),
        merged AS (
          SELECT COALESCE(a.h, b.h) AS h,
                 CASE WHEN a.h IS NULL THEN 0 ELSE 1 END AS in_a,
                 CASE WHEN b.h IS NULL THEN 0 ELSE 1 END AS in_b
          FROM ka a FULL JOIN kb b ON a.h = b.h
        ),
        est AS (
          SELECT CAST(SUM(CASE WHEN m.in_a = 1 AND m.h < ta.theta_a
                          THEN 1 ELSE 0 END) AS BIGINT) AS r_a,
                 CAST(SUM(CASE WHEN m.in_b = 1 AND m.h < tb.theta_b
                          THEN 1 ELSE 0 END) AS BIGINT) AS r_b,
                 CAST(SUM(CASE WHEN m.h < LEAST(ta.theta_a, tb.theta_b)
                          AND (m.in_a = 1 OR m.in_b = 1)
                          THEN 1 ELSE 0 END) AS BIGINT) AS r_u,
                 CAST(SUM(CASE WHEN m.h < LEAST(ta.theta_a, tb.theta_b)
                          AND m.in_a = 1 AND m.in_b = 1
                          THEN 1 ELSE 0 END) AS BIGINT) AS r_i,
                 MAX(ta.theta_a) AS theta_a, MAX(tb.theta_b) AS theta_b
          FROM merged m CROSS JOIN ta CROSS JOIN tb
        ),
        truth AS (
          SELECT CAST(SUM(has_a) AS BIGINT) AS true_click,
                 CAST(SUM(has_b) AS BIGINT) AS true_purchase,
                 CAST(SUM(CASE WHEN has_a = 1 OR has_b = 1
                          THEN 1 ELSE 0 END) AS BIGINT) AS true_union,
                 CAST(SUM(has_a * has_b) AS BIGINT) AS true_inter
          FROM (
            SELECT user_id,
                   MAX(CASE WHEN event_type = 'click'
                       THEN 1 ELSE 0 END) AS has_a,
                   MAX(CASE WHEN event_type = 'purchase'
                       THEN 1 ELSE 0 END) AS has_b
            FROM events GROUP BY user_id
          )
        )
        SELECT CAST({THETA_K} AS BIGINT) AS k_cap,
               t.true_click, t.true_purchase, t.true_union,
               t.true_inter,
               {_theta_est('e.r_a', 'e.theta_a')} AS est_click,
               {_theta_est('e.r_b', 'e.theta_b')} AS est_purchase,
               {_theta_est('e.r_u',
                           'LEAST(e.theta_a, e.theta_b)')} AS est_union,
               {_theta_est('e.r_i',
                           'LEAST(e.theta_a, e.theta_b)')} AS est_inter
        FROM est e CROSS JOIN truth t
    """,
    doc="Theta-sketch set algebra over user identities: KMV-style "
        "bottom-k (k=64) samples of the salted-md5 hash space for the "
        "click and purchase user sets, combined into union AND "
        "intersection cardinality estimates — the mergeable-sketch "
        "answer to 'how many users did both X and Y' that "
        "kmv_distinct_users (single-set) cannot pose. Retention is "
        "strictly-below-theta (theta = kth min when saturated, else "
        "the full 2^52 hash space), so the estimator |sample|/theta "
        "is the textbook theta-sketch form; all estimates divide "
        "exactly-representable doubles once. Exact truths ride one "
        "per-user flag aggregate for the accuracy report. Plan: two "
        "distinct-hash relations (8-byte shuffles) + TakeOrdered "
        "heads; every downstream relation is <= 2k rows. At 100 TB "
        "the sketches merge associatively across partitions — the "
        "point of the structure.",
    tags=("sketch",),
)
def theta_sketch_user_overlap(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")

    def keep(tp: str) -> DataFrame:
        return (e.filter(F.col("event_type") == tp)
                 .select(F.expr(_uh_spark()).alias("h"))
                 .distinct()
                 .orderBy("h").limit(THETA_K))

    # each <=k-row sketch head feeds two consumers (its theta agg and
    # the merge); checkpoint the 64-row relations so neither branch
    # re-scans the fact table.
    ka = keep("click").localCheckpoint()
    kb = keep("purchase").localCheckpoint()
    ta = ka.agg(F.expr(
        f"CASE WHEN COUNT(*) >= {THETA_K} THEN MAX(h)"
        f" ELSE {_POW52} END").alias("theta_a"))
    tb = kb.agg(F.expr(
        f"CASE WHEN COUNT(*) >= {THETA_K} THEN MAX(h)"
        f" ELSE {_POW52} END").alias("theta_b"))
    merged = (ka.selectExpr("h", "1 AS in_a")
                .join(kb.selectExpr("h AS hb", "1 AS in_b"),
                      F.col("h") == F.col("hb"), "full")
                .selectExpr("COALESCE(h, hb) AS h",
                            "COALESCE(in_a, 0) AS in_a",
                            "COALESCE(in_b, 0) AS in_b"))
    est = (merged.crossJoin(F.broadcast(ta))
                 .crossJoin(F.broadcast(tb))
                 .agg(F.expr("CAST(SUM(CASE WHEN in_a = 1 AND h < theta_a"
                             " THEN 1 ELSE 0 END) AS BIGINT)").alias("r_a"),
                      F.expr("CAST(SUM(CASE WHEN in_b = 1 AND h < theta_b"
                             " THEN 1 ELSE 0 END) AS BIGINT)").alias("r_b"),
                      F.expr("CAST(SUM(CASE WHEN h < LEAST(theta_a, theta_b)"
                             " AND (in_a = 1 OR in_b = 1)"
                             " THEN 1 ELSE 0 END) AS BIGINT)").alias("r_u"),
                      F.expr("CAST(SUM(CASE WHEN h < LEAST(theta_a, theta_b)"
                             " AND in_a = 1 AND in_b = 1"
                             " THEN 1 ELSE 0 END) AS BIGINT)").alias("r_i"),
                      F.max("theta_a").alias("theta_a"),
                      F.max("theta_b").alias("theta_b")))
    truth = (e.groupBy("user_id")
              .agg(F.max(F.when(F.col("event_type") == "click", 1)
                          .otherwise(0)).alias("has_a"),
                   F.max(F.when(F.col("event_type") == "purchase", 1)
                          .otherwise(0)).alias("has_b"))
              .agg(F.sum("has_a").cast("long").alias("true_click"),
                   F.sum("has_b").cast("long").alias("true_purchase"),
                   F.expr("CAST(SUM(CASE WHEN has_a = 1 OR has_b = 1"
                          " THEN 1 ELSE 0 END) AS BIGINT)")
                    .alias("true_union"),
                   F.sum(F.col("has_a") * F.col("has_b")).cast("long")
                    .alias("true_inter")))
    return (est.crossJoin(F.broadcast(truth))
               .selectExpr(
                   f"CAST({THETA_K} AS BIGINT) AS k_cap",
                   "true_click", "true_purchase", "true_union",
                   "true_inter",
                   f"{_theta_est('r_a', 'theta_a')} AS est_click",
                   f"{_theta_est('r_b', 'theta_b')} AS est_purchase",
                   f"{_theta_est('r_u', 'LEAST(theta_a, theta_b)')}"
                   f" AS est_union",
                   f"{_theta_est('r_i', 'LEAST(theta_a, theta_b)')}"
                   f" AS est_inter"))


# ------------------------- mean average precision of cosine retrieval

MAP_K = 10
_AP_LCM = 2520          # lcm(1..10): keeps per-rank precisions integral
MAP_ANCHOR_STEP = 25    # fixed 20-query panel: vec_id in {0,25,...,475}


@query(
    "map_retrieval_eval",
    oracle=f"""
        WITH anchors AS (
          SELECT vec_id AS qid, label AS q_label, embedding AS qv
          FROM embeddings
          WHERE vec_id % {MAP_ANCHOR_STEP} = 0 AND vec_id < 500
        ),
        scored AS (
          SELECT a.qid, e.vec_id,
                 CASE WHEN e.label = a.q_label THEN 1 ELSE 0 END
                   AS rel,
                 {{COS}} AS cosv
          FROM embeddings e CROSS JOIN anchors a
          WHERE e.vec_id <> a.qid
        ),
        ranked AS (
          SELECT qid, rel,
                 CAST(ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY cosv DESC, vec_id) AS BIGINT) AS rn
          FROM scored
        ),
        top AS (SELECT * FROM ranked WHERE rn <= {MAP_K}),
        c AS (
          SELECT qid, rel, rn,
                 SUM(rel) OVER (PARTITION BY qid ORDER BY rn
                   ROWS UNBOUNDED PRECEDING) AS hits_k
          FROM top
        ),
        per_q AS (
          SELECT qid,
                 CAST(SUM(CASE WHEN rel = 1
                      THEN hits_k * ({_AP_LCM} // rn)
                      ELSE 0 END) AS BIGINT) AS ap_fp,
                 CAST(SUM(rel) AS BIGINT) AS hits
          FROM c GROUP BY qid
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
               CAST({MAP_K} AS BIGINT) AS k_eval,
               CAST(SUM(hits) AS DOUBLE)
                 / (COUNT(*) * {MAP_K}) AS precision_at_k,
               CAST(SUM(ap_fp) AS DOUBLE)
                 / (COUNT(*) * {_AP_LCM} * {MAP_K}) AS map_at_k
        FROM per_q
    """.replace("{COS}", "("
        "list_reduce(list_prepend(0.0, list_transform("
        "generate_series(1, len(e.embedding)),"
        " i -> CAST(e.embedding[i] AS DOUBLE)"
        " * CAST(a.qv[i] AS DOUBLE))), (acc, v) -> acc + v)"
        " / (SQRT(list_reduce(list_prepend(0.0, list_transform("
        "generate_series(1, len(e.embedding)),"
        " i -> CAST(e.embedding[i] AS DOUBLE)"
        " * CAST(e.embedding[i] AS DOUBLE))), (acc, v) -> acc + v))"
        " * SQRT(list_reduce(list_prepend(0.0, list_transform("
        "generate_series(1, len(a.qv)),"
        " i -> CAST(a.qv[i] AS DOUBLE)"
        " * CAST(a.qv[i] AS DOUBLE))), (acc, v) -> acc + v))))"),
    doc="Mean average precision @10 of brute-force cosine retrieval "
        "against label-match relevance, over a FIXED 20-vector query "
        "panel — the retrieval-quality scorecard an embedding "
        "pipeline tracks per release. AP is computed exactly: "
        "precision@k has denominator k <= 10, so scaling by "
        "lcm(1..10) = 2520 keeps every per-query AP an integer until "
        "the single final division (no summed doubles, unlike NDCG "
        "whose log2 discount would be engine-specific). Ranking "
        "ties break on vec_id over bit-identical cosines (the "
        "module's fold idiom inside the cosine). Plan: the panel "
        "broadcasts onto one corpus scan (never shuffles the "
        "corpus); the per-anchor rank<=k filter triggers Spark's "
        "rank-limit pushdown (WindowGroupLimit Partial before the "
        "exchange), so each map task forwards at most k rows per "
        "anchor and no window partition holds a corpus-sized slice "
        "at 100 TB (the bounded-key-window hazard, solved engine-"
        "natively); AP folds over <=10-row groups.",
    tags=("evaluation", "similarity"),
)
def map_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # norms hoisted below the broadcast join — bit-identical, 3x less
    # fold work per (vector, anchor) pair (see _spark_topk_rel; r10)
    from de_project_airflow_etl_spark.operators.similarity import dot
    e = load(spark, sf_dir, "embeddings")
    anchors = (e.filter((F.col("vec_id") % MAP_ANCHOR_STEP == 0)
                        & (F.col("vec_id") < 500))
                .select(F.col("vec_id").alias("qid"),
                        F.col("label").alias("q_label"),
                        F.col("embedding").alias("qv"))
                .withColumn("qn", F.sqrt(dot("qv", "qv"))))
    ev = e.select("vec_id", "label", "embedding",
                  F.sqrt(dot("embedding", "embedding")).alias("en"))
    scored = (ev.crossJoin(F.broadcast(anchors))
               .filter(F.col("vec_id") != F.col("qid"))
               .select("qid", "vec_id",
                       F.when(F.col("label") == F.col("q_label"), 1)
                        .otherwise(0).alias("rel"),
                       (dot("embedding", "qv")
                        / (F.col("en") * F.col("qn"))).alias("cosv")))
    # rank + filter plans as WindowGroupLimit(Partial) -> exchange ->
    # WindowGroupLimit(Final): Spark's rank-limit pushdown keeps only
    # k rows per (map partition, qid) BEFORE the shuffle, so no window
    # partition ever holds a corpus-sized slice — the engine-native
    # two-phase top-k (gated in tests/test_plans_r7b.py).
    w2 = Window.partitionBy("qid").orderBy(F.desc("cosv"), "vec_id")
    top = (scored.withColumn("rn", F.row_number().over(w2).cast("long"))
                 .filter(F.col("rn") <= MAP_K))
    wc = (Window.partitionBy("qid").orderBy("rn")
                .rowsBetween(Window.unboundedPreceding, 0))
    c = top.select("qid", "rel", "rn",
                   F.sum("rel").over(wc).alias("hits_k"))
    per_q = (c.groupBy("qid")
              .agg(F.expr(f"CAST(SUM(CASE WHEN rel = 1"
                          f" THEN hits_k * ({_AP_LCM} DIV rn)"
                          f" ELSE 0 END) AS BIGINT)").alias("ap_fp"),
                   F.sum("rel").cast("long").alias("hits")))
    return per_q.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.lit(MAP_K).cast("long").alias("k_eval"),
        F.expr(f"CAST(SUM(hits) AS DOUBLE) / (COUNT(*) * {MAP_K})")
         .alias("precision_at_k"),
        F.expr(f"CAST(SUM(ap_fp) AS DOUBLE)"
               f" / (COUNT(*) * {_AP_LCM} * {MAP_K})").alias("map_at_k"))


# ----------------------------------- Bollinger bands on daily revenue

BOLL_W = 20   # SMA window (trading-days convention)

_BOLL_MEAN = f"{wide('s')} / n / 100"
# rolling stddev from exact window moments, in dollars; the window
# sum of per-day squared cents rides DECIMAL(38,0) (a single day can
# carry ~1e13 cents at 100 TB; its square passes 2^63).
_BOLL_SD = (f"SQRT(({wide('q')} - {wide('s')} * {wide('s')} / n)"
            f" / (n - 1)) / 100")


@query(
    "bollinger_daily_revenue",
    oracle=f"""
        WITH d AS (
          SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                 CAST(SUM({sql_cents('value')}) AS BIGINT) AS cents
          FROM events GROUP BY 1
        ),
        w AS (
          SELECT day, cents,
                 CAST(COUNT(*) OVER win AS BIGINT) AS n,
                 SUM(CAST(cents AS DECIMAL(38,0))) OVER win AS s,
                 SUM(CAST(cents AS DECIMAL(38,0)) * cents) OVER win
                   AS q
          FROM d
          WINDOW win AS (ORDER BY day
            ROWS BETWEEN {BOLL_W - 1} PRECEDING AND CURRENT ROW)
        ),
        b AS (
          SELECT day, CAST(cents AS DOUBLE) / 100 AS revenue,
                 {_BOLL_MEAN} AS sma, {_BOLL_SD} AS sd
          FROM w WHERE n = {BOLL_W}
        )
        SELECT day, revenue, sma, sd,
               sma + 2 * sd AS upper_band,
               sma - 2 * sd AS lower_band,
               CAST(CASE WHEN revenue > sma + 2 * sd
                         OR revenue < sma - 2 * sd
                    THEN 1 ELSE 0 END AS BIGINT) AS outside
        FROM b
    """,
    doc="Bollinger bands over daily revenue: the 20-day simple moving "
        "average with +/-2 rolling-stddev envelopes and a breakout "
        "flag — the mean-reversion band monitor that complements the "
        "EMA-recurrence views (MACD, RSI, Holt) in the bank with a "
        "windowed-moment one. The rolling variance comes from exact "
        "window moments (BIGINT day cents; squares widened to "
        "DECIMAL(38,0) since one day's cents squared passes 2^63 at "
        "corpus scale), so mean/stddev are single IEEE ops on "
        "identical operands; emitted only for complete windows. "
        "Plan: one map-side-combinable daily rollup, then frame "
        "windows over the calendar-bounded daily table — nothing "
        "data-sized past the scan at 100 TB.",
    tags=("timeseries",),
)
def bollinger_daily_revenue(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    d = (load(spark, sf_dir, "events")
         .selectExpr("CAST(CAST(ts AS DATE) AS STRING) AS day",
                     f"{sql_cents('value')} AS c")
         .groupBy("day").agg(F.sum("c").cast("long").alias("cents")))
    win = (Window.orderBy("day")
                 .rowsBetween(-(BOLL_W - 1), Window.currentRow))
    w = d.select(
        "day", "cents",
        F.count(F.lit(1)).over(win).cast("long").alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).over(win).alias("s"),
        F.sum(F.expr("CAST(cents AS DECIMAL(38,0)) * cents")).over(win)
         .alias("q"))
    b = (w.filter(F.col("n") == BOLL_W)
          .selectExpr("day", "CAST(cents AS DOUBLE) / 100 AS revenue",
                      f"{_BOLL_MEAN} AS sma", f"{_BOLL_SD} AS sd"))
    return b.selectExpr(
        "day", "revenue", "sma", "sd",
        "sma + 2 * sd AS upper_band",
        "sma - 2 * sd AS lower_band",
        "CAST(CASE WHEN revenue > sma + 2 * sd"
        " OR revenue < sma - 2 * sd THEN 1 ELSE 0 END AS BIGINT)"
        " AS outside")


# ------------------------------- seasonal-naive MASE of daily revenue


@query(
    "seasonal_naive_mase",
    oracle=f"""
        WITH d AS (
          SELECT CAST(ts AS DATE) AS day,
                 CAST(SUM({sql_cents('value')}) AS BIGINT) AS cents
          FROM events GROUP BY 1
        ),
        j AS (
          SELECT t.day, t.cents,
                 s.cents AS lag7, n.cents AS lag1
          FROM d t
          JOIN d s ON s.day = t.day - 7
          JOIN d n ON n.day = t.day - 1
        ),
        a AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_eval_days,
                 SUM(CAST(ABS(cents - lag7) AS DECIMAL(38,0)))
                   AS ae_seasonal,
                 SUM(CAST(ABS(cents - lag1) AS DECIMAL(38,0)))
                   AS ae_naive1
          FROM j
        )
        SELECT n_eval_days,
               {wide('ae_seasonal')} / n_eval_days / 100
                 AS mae_seasonal,
               {wide('ae_naive1')} / n_eval_days / 100 AS mae_naive1,
               {wide('ae_seasonal')} / {wide('ae_naive1')} AS mase
        FROM a
    """,
    doc="Mean absolute scaled error of the weekly seasonal-naive "
        "forecast (predict today = same weekday last week) scaled by "
        "the one-step naive walk — the standard scale-free forecast "
        "benchmark (MASE < 1 means weekly seasonality beats a random "
        "walk), complementing the fitted forecasters (Holt, "
        "Theil-Sen) with the baseline every forecast eval needs. "
        "Calendar-correct: lags come from date-arithmetic self-joins "
        "on the daily table (a missing day drops its eval row rather "
        "than silently shifting), absolute errors accumulate exactly "
        "in DECIMAL(38,0), and the MASE ratio is one division of "
        "wide-int-routed doubles. Plan: one daily rollup, two "
        "broadcast-sized self-joins on the calendar-bounded daily "
        "table, single row out.",
    tags=("timeseries",),
)
def seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the daily rollup feeds three join branches; checkpoint the
    # calendar-bounded daily table so the fact-table aggregate runs
    # once, not per branch.
    d = (load(spark, sf_dir, "events")
         .selectExpr("CAST(ts AS DATE) AS day", f"{sql_cents('value')} AS c")
         .groupBy("day").agg(F.sum("c").cast("long").alias("cents"))
         .localCheckpoint())
    t = d.alias("t")
    s = d.selectExpr("date_add(day, 7) AS day7", "cents AS lag7")
    n1 = d.selectExpr("date_add(day, 1) AS day1", "cents AS lag1")
    j = (t.join(F.broadcast(s), F.col("t.day") == F.col("day7"))
          .join(F.broadcast(n1), F.col("t.day") == F.col("day1"))
          .select("t.cents", "lag7", "lag1"))
    a = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_eval_days"),
        F.sum(F.expr("CAST(ABS(cents - lag7) AS DECIMAL(38,0))"))
         .alias("ae_seasonal"),
        F.sum(F.expr("CAST(ABS(cents - lag1) AS DECIMAL(38,0))"))
         .alias("ae_naive1"))
    return a.selectExpr(
        "n_eval_days",
        f"{wide('ae_seasonal')} / n_eval_days / 100 AS mae_seasonal",
        f"{wide('ae_naive1')} / n_eval_days / 100 AS mae_naive1",
        f"{wide('ae_seasonal')} / {wide('ae_naive1')} AS mase")


# --------------------- unigram LM inverse-probability per source

_INV_SCALE = 1_000_000_000_000  # 1e12 fixed-point for 1/(c_w + 1)


@query(
    "unigram_inverse_prob_by_source",
    oracle=f"""
        WITH tok AS (
          SELECT source, UNNEST(string_split(text, ' ')) AS w
          FROM documents
        ),
        t AS (SELECT source, w FROM tok WHERE w <> ''),
        vocab AS (
          SELECT w, CAST(COUNT(*) AS BIGINT) AS c_w
          FROM t GROUP BY w
        ),
        g AS (
          SELECT CAST(SUM(c_w) AS BIGINT) AS n_corpus,
                 CAST(COUNT(*) AS BIGINT) AS v_size
          FROM vocab
        ),
        s AS (
          SELECT t.source,
                 CAST(COUNT(*) AS BIGINT) AS n_tokens,
                 SUM(CAST({_INV_SCALE} // (v.c_w + 1)
                     AS DECIMAL(38,0))) AS inv_fp
          FROM t JOIN vocab v ON t.w = v.w
          GROUP BY t.source
        )
        SELECT s.source, s.n_tokens, g.n_corpus, g.v_size,
               CAST(g.n_corpus + g.v_size AS DOUBLE)
                 * ({wide('s.inv_fp')} / {float(_INV_SCALE)})
                 / s.n_tokens AS mean_inv_prob
        FROM s CROSS JOIN g
    """,
    doc="Micro-averaged inverse add-one-smoothed unigram probability "
        "per source — the log-free perplexity proxy (mean of "
        "1/p(w) = (N+V)/(c_w+1) over a source's tokens): rare-token-"
        "heavy sources score high exactly where perplexity would, "
        "but the statistic is a rational function of counts, so it "
        "verifies bit-exactly where a log-prob sum cannot (the "
        "ln()-divergence lesson). Per-token reciprocals are "
        "1e12-fixed-point integer divisions (identical truncation on "
        "both engines) accumulated in DECIMAL(38,0); one shared "
        "double expression at the end. Plan: token explode, one "
        "vocab aggregate, a token-keyed vocab-lookup join (AQE "
        "handles stopword skew), per-source regroup, broadcast of "
        "the 1-row corpus totals.",
    tags=("text", "corpus"),
)
def unigram_inverse_prob_by_source(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    t = (load(spark, sf_dir, "documents")
         .select("source", F.explode(F.split("text", " ")).alias("w"))
         .filter(F.col("w") != ""))
    # vocab is consumed twice (corpus totals + the lookup join);
    # checkpoint the vocab-sized aggregate so the token stream is
    # exploded once for building it and once for probing it, never a
    # third time.
    vocab = (t.groupBy("w").agg(F.count(F.lit(1)).alias("c_w"))
              .localCheckpoint())
    g = vocab.agg(F.sum("c_w").cast("long").alias("n_corpus"),
                  F.count(F.lit(1)).cast("long").alias("v_size"))
    s = (t.join(vocab, "w")
          .groupBy("source")
          .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"),
               F.sum(F.expr(f"CAST({_INV_SCALE} DIV (c_w + 1)"
                            f" AS DECIMAL(38,0))")).alias("inv_fp")))
    return (s.crossJoin(F.broadcast(g))
             .selectExpr(
                 "source", "n_tokens", "n_corpus", "v_size",
                 f"CAST(n_corpus + v_size AS DOUBLE)"
                 f" * ({wide('inv_fp')} / {float(_INV_SCALE)})"
                 f" / n_tokens AS mean_inv_prob"))


# ------------------ total-variation drift of source unigram mixes

# TV(p_s, p_corpus) = 1/2 sum_w |p_s(w) - p(w)| — the log-free
# distribution-drift measure (bounded [0,1], the metric KL/JS lack
# bit-exact verifiability for). Split over the source's present
# vocabulary + the absent-mass term:
#   present: |n_sw * N - n_w * N_s|  (exact DECIMAL integers)
#   absent : sum of n_w over words the source never emits
#          = N - sum_{w in vocab_s} n_w
_TV_DEN = "CAST(n_tokens AS DECIMAL(38,0)) * n_corpus"
_TV = (f"({wide('tv_num')} / ({wide(_TV_DEN)})"
       f" + (CAST(n_corpus AS DOUBLE) - {wide('cov_mass')})"
       f" / n_corpus) / 2")


@query(
    "source_unigram_tv_distance",
    oracle=f"""
        WITH tok AS (
          SELECT source, UNNEST(string_split(text, ' ')) AS w
          FROM documents
        ),
        t AS (SELECT source, w FROM tok WHERE w <> ''),
        sw AS (
          SELECT source, w, CAST(COUNT(*) AS BIGINT) AS n_sw
          FROM t GROUP BY source, w
        ),
        vocab AS (
          SELECT w, CAST(SUM(n_sw) AS BIGINT) AS n_w
          FROM sw GROUP BY w
        ),
        g AS (SELECT CAST(SUM(n_w) AS BIGINT) AS n_corpus FROM vocab),
        st AS (
          SELECT source, CAST(SUM(n_sw) AS BIGINT) AS n_tokens,
                 CAST(COUNT(*) AS BIGINT) AS n_distinct
          FROM sw GROUP BY source
        ),
        d AS (
          SELECT sw.source,
                 SUM(ABS(CAST(sw.n_sw AS DECIMAL(38,0)) * g.n_corpus
                         - CAST(v.n_w AS DECIMAL(38,0)) * st.n_tokens))
                   AS tv_num,
                 SUM(CAST(v.n_w AS DECIMAL(38,0))) AS cov_mass
          FROM sw
          JOIN vocab v ON sw.w = v.w
          JOIN st ON st.source = sw.source
          CROSS JOIN g
          GROUP BY sw.source
        )
        SELECT st.source, st.n_tokens, st.n_distinct, g.n_corpus,
               {wide('d.cov_mass')} / g.n_corpus AS corpus_coverage,
               {_TV.replace('n_tokens', 'st.n_tokens')
                   .replace('n_corpus', 'g.n_corpus')
                   .replace('tv_num', 'd.tv_num')
                   .replace('cov_mass', 'd.cov_mass')} AS tv_distance
        FROM d JOIN st ON st.source = d.source CROSS JOIN g
    """,
    doc="Total-variation distance between each source's unigram "
        "distribution and the whole-corpus distribution — the "
        "mixture-drift scorecard a curation pipeline ranks sources "
        "by before reweighting. TV is chosen over KL/JS deliberately "
        "(the Simpson-over-Shannon precedent): it is a rational "
        "function of counts, so the present-vocabulary term "
        "|n_sw*N - n_w*N_s| and the absent-mass term N - cov_s both "
        "accumulate exactly in DECIMAL(38,0), with two shared double "
        "divisions at the end. Plan: one (source, word) aggregate, a "
        "word-keyed regroup for corpus counts joined back on the "
        "word key, per-source reduction; the only data-sized "
        "shuffles are token-keyed; source totals broadcast.",
    tags=("text", "corpus", "quality"),
)
def source_unigram_tv_distance(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    t = (load(spark, sf_dir, "documents")
         .select("source", F.explode(F.split("text", " ")).alias("w"))
         .filter(F.col("w") != ""))
    # sw feeds FOUR consumers (vocab, corpus total, source totals, the
    # drift join); without materialization each reference re-scans and
    # re-explodes the token stream (6 scans / 12 shuffles observed).
    # Checkpointing the |sources x vocab| aggregate — far smaller than
    # the token stream — collapses the plan to one scan (the
    # lof_bucket_outliers precedent).
    sw = (t.groupBy("source", "w")
           .agg(F.count(F.lit(1)).alias("n_sw"))
           .localCheckpoint())
    vocab = sw.groupBy("w").agg(F.sum("n_sw").cast("long").alias("n_w"))
    g = vocab.agg(F.sum("n_w").cast("long").alias("n_corpus"))
    st = (sw.groupBy("source")
            .agg(F.sum("n_sw").cast("long").alias("n_tokens"),
                 F.count(F.lit(1)).cast("long").alias("n_distinct")))
    d = (sw.join(vocab, "w")
           .join(F.broadcast(st.select("source", "n_tokens")), "source")
           .crossJoin(F.broadcast(g))
           .groupBy("source")
           .agg(F.sum(F.expr(
                    "ABS(CAST(n_sw AS DECIMAL(38,0)) * n_corpus"
                    " - CAST(n_w AS DECIMAL(38,0)) * n_tokens)"))
                 .alias("tv_num"),
                F.sum(F.expr("CAST(n_w AS DECIMAL(38,0))"))
                 .alias("cov_mass")))
    return (d.join(F.broadcast(st), "source")
             .crossJoin(F.broadcast(g))
             .selectExpr(
                 "source", "n_tokens", "n_distinct", "n_corpus",
                 f"{wide('cov_mass')} / n_corpus AS corpus_coverage",
                 f"{_TV} AS tv_distance"))


# ------------------------------ GROUP BY ALL / ORDER BY ALL surface


@query(
    "group_by_all_weekday_mix",
    oracle=f"""
        SELECT event_type,
               CAST(CASE WHEN dayofweek(ts) IN (0, 6)
                    THEN 'weekend' ELSE 'weekday' END AS VARCHAR)
                 AS day_kind,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM({sql_cents('value')}) AS DOUBLE) / 100 AS revenue
        FROM events
        GROUP BY ALL
        ORDER BY ALL
    """,
    doc="GROUP BY ALL / ORDER BY ALL resolution — the analyst-"
        "ergonomics SQL surface (infer grouping keys from the "
        "non-aggregate select items) that Spark and DuckDB both "
        "support; the engine must bind ALL to (event_type, day_kind) "
        "including the computed CASE column, not just plain "
        "attributes. Literally the same GROUP BY ALL text runs on "
        "both engines (only the weekday bridge differs: DuckDB "
        "dayofweek is 0=Sunday, Spark's is shifted by -1). Exact "
        "cents sum, one division. Plan: a single map-side-"
        "combinable hash aggregate over the scan, identical to the "
        "explicitly-keyed form — ALL is purely a binding feature.",
    tags=("sql-surface",),
)
def group_by_all_weekday_mix(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView("gba_events")
    return spark.sql(f"""
        SELECT event_type,
               CAST(CASE WHEN (dayofweek(ts) - 1) IN (0, 6)
                    THEN 'weekend' ELSE 'weekday' END AS STRING)
                 AS day_kind,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM({sql_cents('value')}) AS DOUBLE) / 100 AS revenue
        FROM gba_events
        GROUP BY ALL
        ORDER BY ALL
    """)


# --------------------------- U-shaped multi-touch attribution

ATTR_WINDOW_DAYS = 7
_ATTR_SCALE = 1_000_000  # micro-credit units per cent


def _attr_credit(div_op: str) -> str:
    """Position-based (40/20/40) credit in exact micro-cent units;
    the middle share uses explicit integer division so both engines
    truncate identically."""
    return (f"CASE WHEN n = 1 THEN CAST(c AS BIGINT) * {_ATTR_SCALE}"
            f" WHEN n = 2 THEN CAST(c AS BIGINT) * {_ATTR_SCALE // 2}"
            f" WHEN rn = 1 OR rn = n"
            f" THEN CAST(c AS BIGINT) * {_ATTR_SCALE * 2 // 5}"
            f" ELSE (CAST(c AS BIGINT) * {_ATTR_SCALE // 5})"
            f" {div_op} (n - 2) END")


@query(
    "position_attribution_revenue",
    oracle=f"""
        WITH p AS (
          SELECT event_id AS pid, user_id, ts AS pts,
                 {sql_cents('value')} AS c
          FROM events WHERE event_type = 'purchase'
        ),
        touch AS (
          SELECT p.pid, p.c, e.event_type,
                 CAST(ROW_NUMBER() OVER (PARTITION BY p.pid
                   ORDER BY e.ts, e.event_id) AS BIGINT) AS rn,
                 CAST(COUNT(*) OVER (PARTITION BY p.pid)
                   AS BIGINT) AS n
          FROM p JOIN events e
            ON e.user_id = p.user_id
           AND e.ts < p.pts
           AND e.ts >= p.pts - INTERVAL {ATTR_WINDOW_DAYS} DAY
           AND e.event_id <> p.pid
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_touches,
               CAST(COUNT(DISTINCT pid) AS BIGINT) AS n_conversions,
               {wide(f"SUM(CAST({_attr_credit('//')} "
                      f"AS DECIMAL(38,0)))")}
                 / {float(_ATTR_SCALE * 100)} AS attributed_revenue
        FROM touch GROUP BY event_type
    """,
    doc="U-shaped (position-based 40/20/40) multi-touch attribution: "
        "every purchase distributes its value over the user's touches "
        "in the preceding 7 days — 40% to the first touch, 40% to the "
        "last, 20% split across the middle — answering 'which channel "
        "(event type) earns the revenue' beyond last_touch_"
        "attribution's winner-takes-all. Credits are exact micro-cent "
        "integers (the middle share is explicit integer division, "
        "truncating identically on both engines) summed in "
        "DECIMAL(38,0). Plan: purchases join touches as an equi-join "
        "on user_id with the time range as residual predicate (sort-"
        "merge co-partitioned by user, never a nested loop); rank and "
        "count windows partition by purchase id — a grows-with-data "
        "key with per-window fan-in bounded by the 7-day lookback.",
    tags=("analytics", "attribution"),
)
def position_attribution_revenue(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    p = (e.filter(F.col("event_type") == "purchase")
          .selectExpr("event_id AS pid", "user_id AS puid",
                      "ts AS pts", f"{sql_cents('value')} AS c"))
    joined = p.join(
        e,
        (F.col("user_id") == F.col("puid"))
        & (F.col("ts") < F.col("pts"))
        & (F.col("ts") >= F.expr(
            f"pts - INTERVAL {ATTR_WINDOW_DAYS} DAY"))
        & (F.col("event_id") != F.col("pid")))
    wp = Window.partitionBy("pid")
    touch = joined.select(
        "pid", "c", "event_type",
        F.row_number().over(wp.orderBy("ts", "event_id")).cast("long")
         .alias("rn"),
        F.count(F.lit(1)).over(wp).cast("long").alias("n"))
    return (touch.groupBy("event_type")
                 .agg(F.count(F.lit(1)).cast("long").alias("n_touches"),
                      F.countDistinct("pid").cast("long")
                       .alias("n_conversions"),
                      F.sum(F.expr(f"CAST({_attr_credit('DIV')}"
                                   f" AS DECIMAL(38,0))")).alias("fp"))
                 .selectExpr("event_type", "n_touches", "n_conversions",
                             f"{wide('fp')}"
                             f" / {float(_ATTR_SCALE * 100)}"
                             f" AS attributed_revenue"))


# ----------------------------- two-feature OLS via normal equations

# Closed-form OLS of extendedprice on (quantity, discount), all three
# scaled to exact integer hundredths. Raw moments accumulate exactly
# in DECIMAL(38,0); the centered normal-equation terms (n*Sxx - Sx^2
# and friends) would overflow 38 digits at corpus scale if kept in
# decimal, so each MOMENT routes to double first (string route) and
# the centered algebra runs in shared double fragments — identical
# operands, identical order, bit-identical results.
_M = {m: wide(m) for m in
      ("n_", "sx", "sz", "sy", "sxx", "sxz", "szz", "sxy", "szy",
       "syy")}
_C = {
    "cxx": f"({_M['n_']} * {_M['sxx']} - {_M['sx']} * {_M['sx']})",
    "cxz": f"({_M['n_']} * {_M['sxz']} - {_M['sx']} * {_M['sz']})",
    "czz": f"({_M['n_']} * {_M['szz']} - {_M['sz']} * {_M['sz']})",
    "cxy": f"({_M['n_']} * {_M['sxy']} - {_M['sx']} * {_M['sy']})",
    "czy": f"({_M['n_']} * {_M['szy']} - {_M['sz']} * {_M['sy']})",
    "cyy": f"({_M['n_']} * {_M['syy']} - {_M['sy']} * {_M['sy']})",
}
_DET = f"({_C['cxx']} * {_C['czz']} - {_C['cxz']} * {_C['cxz']})"
_B1 = f"(({_C['czz']} * {_C['cxy']} - {_C['cxz']} * {_C['czy']}) / {_DET})"
_B2 = f"(({_C['cxx']} * {_C['czy']} - {_C['cxz']} * {_C['cxy']}) / {_DET})"
_OLS_FINAL = (
    f"SELECT CAST(n_ AS BIGINT) AS n, {_B1} AS beta_qty,"
    f" {_B2} AS beta_disc,"
    f" ({_M['sy']} - {_B1} * {_M['sx']} - {_B2} * {_M['sz']})"
    f" / {_M['n_']} / 100 AS intercept,"
    f" ({_B1} * {_C['cxy']} + {_B2} * {_C['czy']}) / {_C['cyy']} AS r2")

_OLS_MOMENTS = f"""
          SELECT COUNT(*) AS n_,
                 SUM(CAST(x AS DECIMAL(38,0))) AS sx,
                 SUM(CAST(z AS DECIMAL(38,0))) AS sz,
                 SUM(CAST(y AS DECIMAL(38,0))) AS sy,
                 SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
                 SUM(CAST(x AS DECIMAL(38,0)) * z) AS sxz,
                 SUM(CAST(z AS DECIMAL(38,0)) * z) AS szz,
                 SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
                 SUM(CAST(z AS DECIMAL(38,0)) * y) AS szy,
                 SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy
"""


@query(
    "ols_two_feature_price",
    oracle=f"""
        WITH b AS (
          SELECT CAST(ROUND(l_quantity * 100) AS BIGINT) AS x,
                 CAST(ROUND(l_discount * 100) AS BIGINT) AS z,
                 CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
          FROM lineitem
        ),
        m AS ({_OLS_MOMENTS} FROM b)
        {_OLS_FINAL} FROM m
    """,
    doc="Two-feature ordinary least squares by the closed-form normal "
        "equations: extendedprice ~ quantity + discount over lineitem "
        "— the multivariate step past regression_aggregates' single-"
        "regressor regr_slope, fitted distributively (Cramer's rule "
        "on centered second moments) instead of iteratively. The ten "
        "raw moments accumulate exactly in one map-side-combinable "
        "DECIMAL(38,0) aggregate; every centered term, the 2x2 "
        "determinant, both betas, the intercept and R^2 are shared "
        "double fragments over those exact moments. Plan: one "
        "aggregate pass over the scan projecting three columns, a "
        "single row out — the textbook 'learn on 100 TB with one "
        "shuffle-free reduction' shape.",
    tags=("statistics", "ml"),
)
def ols_two_feature_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = load(spark, sf_dir, "lineitem").selectExpr(
        "CAST(ROUND(l_quantity * 100) AS BIGINT) AS x",
        "CAST(ROUND(l_discount * 100) AS BIGINT) AS z",
        "CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y")
    b.createOrReplaceTempView("ols_base")
    return spark.sql(
        f"WITH m AS ({_OLS_MOMENTS} FROM ols_base) {_OLS_FINAL} FROM m")


# ------------------------- Cohen's kappa between two quality rules

# Agreement beyond chance between two deterministic binary labelers:
#   kappa = (po - pe) / (1 - pe)
#         = (n*(n11+n00) - X) / (n*n - X),
#   X = (n11+n10)*(n11+n01) + (n01+n00)*(n10+n00)
# — a rational function of the four contingency counts, so it
# verifies bit-exactly (the Simpson-over-Shannon discipline applied
# to inter-annotator agreement).
_KAPPA_X = ("(CAST(n11 + n10 AS DECIMAL(38,0)) * (n11 + n01)"
            " + CAST(n01 + n00 AS DECIMAL(38,0)) * (n10 + n00))")
_KAPPA_FINAL = f"""
        SELECT n_docs, n11 AS n_both, n10 AS n_only_a,
               n01 AS n_only_b, n00 AS n_neither,
               CAST(n11 + n00 AS DOUBLE) / n_docs AS po,
               {wide(_KAPPA_X)}
                 / {wide('CAST(n_docs AS DECIMAL(38,0)) * n_docs')}
                 AS pe,
               {wide(f'(CAST(n_docs AS DECIMAL(38,0)) * (n11 + n00)'
                      f' - {_KAPPA_X})')}
                 / {wide(f'(CAST(n_docs AS DECIMAL(38,0)) * n_docs'
                          f' - {_KAPPA_X})')}
                 AS kappa
"""


@query(
    "cohens_kappa_quality_rules",
    oracle=f"""
        WITH r AS (
          SELECT CASE WHEN contains(text, 'data') THEN 1 ELSE 0 END
                   AS a,
                 CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS b
          FROM documents
        ),
        c AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(a * b) AS BIGINT) AS n11,
                 CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
                 CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
                 CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
          FROM r
        )
        {_KAPPA_FINAL} FROM c
    """,
    doc="Cohen's kappa between two deterministic document-quality "
        "rules (a content heuristic vs a length heuristic) — the "
        "chance-corrected agreement statistic a labeling pipeline "
        "reports before trusting heuristic labels, a metric CLASS "
        "(inter-annotator agreement) the bank lacked. Kappa is a "
        "rational function of the 2x2 contingency counts: the "
        "observed- and expected-agreement numerators stay in "
        "DECIMAL(38,0) (marginal products pass 2^63 at corpus scale) "
        "and the two final divisions ride the decimal-string->double "
        "route. Plan: one map-side-combinable aggregate over the "
        "scan, one row out.",
    tags=("statistics", "quality"),
)
def cohens_kappa_quality_rules(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    r = load(spark, sf_dir, "documents").selectExpr(
        "CASE WHEN contains(text, 'data') THEN 1 ELSE 0 END AS a",
        "CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS b")
    c = r.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.expr("a * b")).cast("long").alias("n11"),
        F.sum(F.expr("a * (1 - b)")).cast("long").alias("n10"),
        F.sum(F.expr("(1 - a) * b")).cast("long").alias("n01"),
        F.sum(F.expr("(1 - a) * (1 - b)")).cast("long").alias("n00"))
    c.createOrReplaceTempView("kappa_counts")
    return spark.sql(f"{_KAPPA_FINAL} FROM kappa_counts")


# ----------------- parameterized SQL + IDENTIFIER() binding surface

PARAM_MIN_ORDER_TOTAL = 150_000.0
PARAM_TOP_N = 7


@query(
    "param_bound_revenue_floor",
    oracle=f"""
        SELECT n.n_name,
               CAST(COUNT(*) AS BIGINT) AS n_big_orders,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS DOUBLE) / 100 AS revenue
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_totalprice >= {PARAM_MIN_ORDER_TOTAL}
        GROUP BY n.n_name
        ORDER BY revenue DESC, n_name
        LIMIT {PARAM_TOP_N}
    """,
    doc="Named-parameter SQL binding plus the IDENTIFIER() clause — "
        "the injection-safe templating surface (Spark 3.4+/4.x): the "
        "statement text carries :min_total / :top_n value markers AND "
        "an IDENTIFIER(:tbl) table reference, bound via "
        "spark.sql(..., args=...), never string interpolation. "
        "Semantically the classic revenue-floor leaderboard (exact "
        "cents, broadcast dims, TakeOrdered top-n with full "
        "tie-break), so the oracle is the same query with literals "
        "inlined — what the binding must be equivalent to. Plan "
        "bonus: the bound :min_total folds to a literal predicate "
        "that pushes into the orders scan.",
    tags=("sql-surface",),
)
def param_bound_revenue_floor(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "orders").createOrReplaceTempView("pb_orders")
    load(spark, sf_dir, "customer").createOrReplaceTempView("pb_customer")
    load(spark, sf_dir, "nation").createOrReplaceTempView("pb_nation")
    return spark.sql(
        """
        SELECT n.n_name,
               CAST(COUNT(*) AS BIGINT) AS n_big_orders,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS DOUBLE) / 100 AS revenue
        FROM IDENTIFIER(:tbl) o
        JOIN pb_customer c ON o.o_custkey = c.c_custkey
        JOIN pb_nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_totalprice >= :min_total
        GROUP BY n.n_name
        ORDER BY revenue DESC, n_name
        LIMIT :top_n
        """,
        args={"tbl": "pb_orders",
              "min_total": PARAM_MIN_ORDER_TOTAL,
              "top_n": PARAM_TOP_N})


# --------------------------- lateral column alias chain surface


@query(
    "lateral_alias_charge_chain",
    oracle="""
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(net) AS DOUBLE) / 100 AS net_revenue,
               CAST(SUM(charged) AS DOUBLE) / 100 AS charged_revenue
        FROM (
          SELECT l_returnflag,
                 CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS gross,
                 CAST(ROUND(l_discount * 100) AS BIGINT) AS d,
                 CAST(ROUND(l_tax * 100) AS BIGINT) AS t,
                 gross * (100 - d) // 100 AS net,
                 net * (100 + t) // 100 AS charged
          FROM lineitem
        )
        GROUP BY l_returnflag
    """,
    doc="Lateral column aliases: a SELECT item referencing the alias "
        "of an EARLIER item in the same list (gross -> net -> "
        "charged), two levels deep — the analyst-ergonomics binding "
        "feature (Spark 3.4+, DuckDB native) that otherwise forces "
        "nested subqueries; the engine must expand the chain without "
        "re-evaluating gross per reference. Charge math is exact "
        "integer cents with explicit truncating division (identical "
        "on both engines), aggregated per return flag. Plan: one "
        "projection (the aliases collapse into a single Project — no "
        "CollapseProject re-evaluation, these are scalar ints) and "
        "one hash aggregate.",
    tags=("sql-surface",),
)
def lateral_alias_charge_chain(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lac_li")
    return spark.sql("""
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(net) AS DOUBLE) / 100 AS net_revenue,
               CAST(SUM(charged) AS DOUBLE) / 100 AS charged_revenue
        FROM (
          SELECT l_returnflag,
                 CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS gross,
                 CAST(ROUND(l_discount * 100) AS BIGINT) AS d,
                 CAST(ROUND(l_tax * 100) AS BIGINT) AS t,
                 gross * (100 - d) DIV 100 AS net,
                 net * (100 + t) DIV 100 AS charged
          FROM lac_li
        )
        GROUP BY l_returnflag
    """)


# ----------------------------- PIVOT with multiple aggregates

_PIVOT_STATUSES = ("F", "O", "P")


@query(
    "pivot_multi_agg_segment_status",
    oracle="""
        SELECT c.c_mktsegment,
               {cols}
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
    """.format(cols=",\n               ".join(
        f"CAST(SUM(CASE WHEN o.o_orderstatus = '{s}' THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS n_{s.lower()},"
        f" CAST(SUM(CASE WHEN o.o_orderstatus = '{s}'"
        f" THEN CAST(ROUND(o.o_totalprice * 100) AS BIGINT)"
        f" ELSE 0 END) AS DOUBLE) / 100 AS rev_{s.lower()}"
        for s in _PIVOT_STATUSES)),
    doc="PIVOT carrying TWO aggregates per pivot value (order count "
        "AND exact-cents revenue per status column) — the multi-"
        "measure crosstab surface beyond pivot_status_by_segment's "
        "single count: the engine must suffix-expand value x measure "
        "into flat columns in one aggregate pass, equivalent to the "
        "oracle's CASE-conditional aggregation. Explicit pivot value "
        "list keeps the plan a single hash aggregate (no distinct-"
        "values pre-query); dims broadcast. Exact integer counts and "
        "cents, divisions at the end.",
    tags=("sql-surface", "grouping"),
)
def pivot_multi_agg_segment_status(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    piv = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy("c_mktsegment")
            .pivot("o_orderstatus", list(_PIVOT_STATUSES))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.expr("CAST(ROUND(o_totalprice * 100)"
                              " AS BIGINT)")).alias("cents")))
    exprs = ["c_mktsegment"]
    for s in _PIVOT_STATUSES:
        exprs.append(f"CAST(COALESCE(`{s}_n`, 0) AS BIGINT)"
                     f" AS n_{s.lower()}")
        exprs.append(f"CAST(COALESCE(`{s}_cents`, 0) AS DOUBLE) / 100"
                     f" AS rev_{s.lower()}")
    return piv.selectExpr(*exprs)


# ------------------------------ try_* error-guard arithmetic

_TRY_THRESH = 9_223_372_036_854_775_807 - 10_000  # overflows past key 10k


@query(
    "try_arithmetic_null_guards",
    oracle=f"""
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CASE WHEN o_orderkey % 7 = 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_div_by_zero,
               CAST(SUM(CASE WHEN o_orderkey > 10000
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_add_overflow,
               CAST(SUM(CASE WHEN TRY_CAST(o_orderpriority AS INTEGER)
                        IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_bad_casts,
               CAST(SUM(TRY_CAST(substring(o_orderpriority, 1, 1)
                        AS INTEGER)) AS BIGINT) AS sum_priority_digit
        FROM orders GROUP BY o_orderstatus
    """,
    doc="ANSI-mode error-guard arithmetic: try_divide / try_add / "
        "try_cast return NULL exactly where strict evaluation would "
        "abort the job (division by zero, BIGINT overflow, malformed "
        "cast) — the guard family a pipeline running under ANSI "
        "semantics (this repo's default) needs for dirty columns. "
        "The Spark side routes every probe through the try_ "
        "functions and counts the NULLs; the oracle states the "
        "equivalent closed-form conditions (DuckDB TRY_CAST for the "
        "casts, explicit predicates for the synthetic zero/overflow "
        "probes), so the test pins the exact null-surface. All "
        "counts exact integers; one hash aggregate.",
    tags=("sql-surface",),
)
def try_arithmetic_null_guards(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "orders").selectExpr(
        "o_orderstatus",
        "try_divide(100.0, CAST(o_orderkey % 7 AS DOUBLE)) AS dv",
        f"try_add({_TRY_THRESH}, o_orderkey) AS av",
        "try_cast(o_orderpriority AS INT) AS cv",
        "try_cast(substring(o_orderpriority, 1, 1) AS INT) AS pd",
    ).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.when(F.col("dv").isNull(), 1).otherwise(0)).cast("long")
         .alias("n_div_by_zero"),
        F.sum(F.when(F.col("av").isNull(), 1).otherwise(0)).cast("long")
         .alias("n_add_overflow"),
        F.sum(F.when(F.col("cv").isNull(), 1).otherwise(0)).cast("long")
         .alias("n_bad_casts"),
        F.sum("pd").cast("long").alias("sum_priority_digit"))


# ------------------------- Wilson confidence interval for a share

_WILSON_Z = "1.96"
_ZZ = f"({_WILSON_Z} * {_WILSON_Z})"
_PHAT = "(CAST(x AS DOUBLE) / n)"
_W_DEN = f"(1.0 + {_ZZ} / n)"
_W_CENTER = f"(({_PHAT} + {_ZZ} / (2.0 * n)) / {_W_DEN})"
_W_HALF = (f"({_WILSON_Z} * SQRT({_PHAT} * (1.0 - {_PHAT}) / n"
           f" + {_ZZ} / (4.0 * n * n)) / {_W_DEN})")


@query(
    "wilson_ci_weekend_share",
    oracle=f"""
        WITH c AS (
          SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN dayofweek(ts) IN (0, 6)
                          THEN 1 ELSE 0 END) AS BIGINT) AS x
          FROM events GROUP BY event_type
        )
        SELECT event_type, n, x, {_PHAT} AS p_hat,
               {_W_CENTER} - {_W_HALF} AS ci_low,
               {_W_CENTER} + {_W_HALF} AS ci_high
        FROM c
    """,
    doc="Wilson score 95% confidence interval for each event type's "
        "weekend share — the uncertainty quantification every rate "
        "metric in a monitoring pipeline should carry (Wilson is the "
        "interval that behaves at small n and extreme p, unlike the "
        "Wald +/-z*se). The interval is a rational function of the "
        "exact (n, x) counts plus one IEEE sqrt, evaluated via "
        "shared fragments — identical operands and order on both "
        "engines (the z=1.96 literal parses to the same double). "
        "Plan: one map-side-combinable aggregate, five rows out.",
    tags=("statistics",),
)
def wilson_ci_weekend_share(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    c = (load(spark, sf_dir, "events")
         .selectExpr("event_type",
                     "CASE WHEN (dayofweek(ts) - 1) IN (0, 6)"
                     " THEN 1 ELSE 0 END AS wknd")
         .groupBy("event_type")
         .agg(F.count(F.lit(1)).cast("long").alias("n"),
              F.sum("wknd").cast("long").alias("x")))
    return c.selectExpr(
        "event_type", "n", "x", f"{_PHAT} AS p_hat",
        f"{_W_CENTER} - {_W_HALF} AS ci_low",
        f"{_W_CENTER} + {_W_HALF} AS ci_high")


# ---------------------------------- SQL UNPIVOT clause surface


@query(
    "unpivot_sql_order_metrics",
    oracle="""
        WITH a AS (
          SELECT o_orderstatus,
                 CAST(COUNT(*) AS BIGINT) AS n_orders,
                 CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS rev_cents,
                 CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
                   AS n_customers
          FROM orders GROUP BY o_orderstatus
        )
        SELECT o_orderstatus, 'n_orders' AS metric,
               n_orders AS metric_value FROM a
        UNION ALL
        SELECT o_orderstatus, 'rev_cents', rev_cents FROM a
        UNION ALL
        SELECT o_orderstatus, 'n_customers', n_customers FROM a
    """,
    doc="The SQL UNPIVOT clause (Spark 3.4+ parser surface, distinct "
        "from the DataFrame melt already covered by "
        "unpivot_nation_metrics): three per-status measures rotate "
        "into (metric, metric_value) rows inside one statement. The "
        "oracle states the semantics as the equivalent UNION ALL of "
        "projections — exactly what the clause must expand to. "
        "Measures are exact integers (cents kept integral so the "
        "unpivoted value column has a single exact type). Plan: one "
        "hash aggregate over the scan, then a 3-way Expand over the "
        "|statuses|-row result — constant-size at any scale.",
    tags=("sql-surface",),
)
def unpivot_sql_order_metrics(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "orders").createOrReplaceTempView("ups_orders")
    return spark.sql("""
        SELECT o_orderstatus, metric, metric_value FROM (
          SELECT o_orderstatus,
                 CAST(COUNT(*) AS BIGINT) AS n_orders,
                 CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS rev_cents,
                 CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
                   AS n_customers
          FROM ups_orders GROUP BY o_orderstatus
        )
        UNPIVOT (metric_value FOR metric
                 IN (n_orders, rev_cents, n_customers))
    """)


# ----------------------- McNemar's test between the two quality rules


@query(
    "mcnemar_test_rules",
    oracle="""
        WITH r AS (
          SELECT CASE WHEN contains(text, 'data') THEN 1 ELSE 0 END
                   AS a,
                 CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS b
          FROM documents
        ),
        c AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
                 CAST(SUM((1 - a) * b) AS BIGINT) AS n01
          FROM r
        )
        SELECT n_docs, n10 AS n_only_a, n01 AS n_only_b,
               CAST((n10 - n01) * (n10 - n01) AS DOUBLE)
                 / (n10 + n01) AS mcnemar_chi2,
               CAST((ABS(n10 - n01) - 1) * (ABS(n10 - n01) - 1)
                    AS DOUBLE) / (n10 + n01) AS mcnemar_chi2_cc
        FROM c
    """,
    doc="McNemar's test on the two document-quality rules' discordant "
        "cells — the PAIRED marginal-homogeneity question ('does rule "
        "A fire more often than rule B on the same documents') that "
        "Cohen's kappa (agreement) and chi-square independence "
        "deliberately do not answer; reported with and without the "
        "Edwards continuity correction. The statistic is a ratio of "
        "exact integers (squared discordant difference over "
        "discordant total) — one division. Plan: one map-side-"
        "combinable aggregate, one row out.",
    tags=("statistics", "quality"),
)
def mcnemar_test_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load(spark, sf_dir, "documents").selectExpr(
        "CASE WHEN contains(text, 'data') THEN 1 ELSE 0 END AS a",
        "CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS b")
    c = r.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.expr("a * (1 - b)")).cast("long").alias("n10"),
        F.sum(F.expr("(1 - a) * b")).cast("long").alias("n01"))
    return c.selectExpr(
        "n_docs", "n10 AS n_only_a", "n01 AS n_only_b",
        "CAST((n10 - n01) * (n10 - n01) AS DOUBLE) / (n10 + n01)"
        " AS mcnemar_chi2",
        "CAST((ABS(n10 - n01) - 1) * (ABS(n10 - n01) - 1) AS DOUBLE)"
        " / (n10 + n01) AS mcnemar_chi2_cc")


# ------------------------------ maximum drawdown of daily revenue


@query(
    "max_drawdown_daily_revenue",
    oracle=f"""
        WITH d AS (
          SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                 CAST(SUM({sql_cents('value')}) AS BIGINT) AS cents
          FROM events GROUP BY 1
        ),
        c AS (
          SELECT day,
                 SUM(CAST(cents AS DECIMAL(38,0)))
                   OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                   AS cum
          FROM d
        ),
        p AS (
          SELECT day, cum,
                 MAX(cum) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                   AS peak
          FROM c
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
               {wide('MAX(cum)')} / 100 AS final_cum_revenue,
               {wide('MAX(peak - cum)')} / 100 AS max_drawdown,
               MAX(CASE WHEN peak > 0
                   THEN {wide('(peak - cum)')} / {wide('peak')}
                   ELSE 0.0 END) AS max_drawdown_frac
        FROM p
    """,
    doc="Maximum drawdown of cumulative daily revenue: the largest "
        "peak-to-trough decline, absolute and as a fraction of the "
        "running peak — the path statistic (sensitive to ORDER, "
        "unlike every moment/quantile in the bank) risk dashboards "
        "track. Running totals and running maxima are exact DECIMAL "
        "integers over the calendar-bounded daily table; the "
        "fractional drawdown divides exact operands per day and "
        "takes a MAX (order-insensitive exact comparison), so no "
        "double is ever summed. Plan: one daily rollup, two "
        "cumulative windows over the bounded daily table, one row.",
    tags=("timeseries",),
)
def max_drawdown_daily_revenue(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    d = (load(spark, sf_dir, "events")
         .selectExpr("CAST(CAST(ts AS DATE) AS STRING) AS day",
                     f"{sql_cents('value')} AS c")
         .groupBy("day").agg(F.sum("c").cast("long").alias("cents")))
    wc = Window.orderBy("day").rowsBetween(Window.unboundedPreceding,
                                           Window.currentRow)
    p = (d.select("day", F.sum(F.col("cents").cast("decimal(38,0)"))
                          .over(wc).alias("cum"))
          .select("day", "cum", F.max("cum").over(wc).alias("peak")))
    return p.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.expr(f"{wide('MAX(cum)')} / 100").alias("final_cum_revenue"),
        F.expr(f"{wide('MAX(peak - cum)')} / 100").alias("max_drawdown"),
        F.expr(f"MAX(CASE WHEN peak > 0"
               f" THEN {wide('(peak - cum)')} / {wide('peak')}"
               f" ELSE 0.0 END)").alias("max_drawdown_frac"))


# ------------------------- regexp function family (Spark 3.5 additions)

_RX_COUNT = "ta"            # non-overlapping occurrence count
_RX_FIRST = "st[a-z]+"      # first-match extraction


@query(
    "regexp_function_family_stats",
    oracle=f"""
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(regexp_extract_all(text, '{_RX_COUNT}')))
                    AS BIGINT) AS total_matches,
               CAST(SUM(CASE WHEN regexp_matches(text, '{_RX_COUNT}')
                        THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_docs_with_match,
               CAST(SUM(length(NULLIF(
                    regexp_extract(text, '{_RX_FIRST}'), '')))
                    AS BIGINT) AS sum_first_match_len
        FROM documents GROUP BY source
    """,
    doc="The regexp function family beyond extract: regexp_count "
        "(non-overlapping occurrences), regexp_like membership, and "
        "regexp_substr first-match extraction (Spark 3.5+ additions), "
        "aggregated per source. Match-absence normalization is "
        "pinned: Spark regexp_substr returns NULL where DuckDB "
        "regexp_extract returns '' — the oracle NULLIFs, so the test "
        "locks the cross-engine bridge. Patterns avoid engine-"
        "divergent syntax (Java regex vs RE2): literal + character-"
        "class only. Exact integer counts. Plan: one aggregate over "
        "the scan, regex evaluation stays in whole-stage codegen.",
    tags=("text", "sql-surface"),
)
def regexp_function_family_stats(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    return (load(spark, sf_dir, "documents")
            .selectExpr(
                "source",
                f"regexp_count(text, '{_RX_COUNT}') AS c",
                f"regexp_like(text, '{_RX_COUNT}') AS m",
                f"regexp_substr(text, '{_RX_FIRST}') AS fm")
            .groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("c").cast("long").alias("total_matches"),
                 F.sum(F.when(F.col("m"), 1).otherwise(0)).cast("long")
                  .alias("n_docs_with_match"),
                 F.sum(F.length("fm")).cast("long")
                  .alias("sum_first_match_len")))


# -------------------- audio-style overlapping chunking (multimodal)

CHUNK_BYTES = 200   # window size over the byte stream
CHUNK_HOP = 100     # 50% overlap — the standard audio framing shape


def _chunk_payloads(batches):
    """mapInPandas worker: overlapping windows over each opaque
    payload — the framing step every audio/DSP pipeline runs before
    per-chunk feature extraction (the decode itself would live here;
    the testdata ships no real media, so the payload is the utf-8
    text bytes and the per-chunk feature is its md5)."""
    import hashlib

    import pandas as pd
    for pdf in batches:
        rows = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            payload = text.encode("utf-8")
            start, idx = 0, 0
            while start < len(payload):
                chunk = payload[start:start + CHUNK_BYTES]
                rows.append((int(doc_id), idx, start, len(chunk),
                             hashlib.md5(chunk).hexdigest()))
                start += CHUNK_HOP
                idx += 1
        yield pd.DataFrame(rows, columns=[
            "doc_id", "chunk_idx", "start_byte", "n_bytes",
            "chunk_md5"])


@query(
    "multimodal_audio_chunk_windows",
    oracle=f"""
        SELECT doc_id,
               CAST(i AS BIGINT) AS chunk_idx,
               CAST(i * {CHUNK_HOP} AS BIGINT) AS start_byte,
               CAST(LEAST({CHUNK_BYTES},
                    octet_length(encode(text)) - i * {CHUNK_HOP})
                    AS BIGINT) AS n_bytes,
               md5(substring(text, i * {CHUNK_HOP} + 1,
                             {CHUNK_BYTES})) AS chunk_md5
        FROM documents,
             UNNEST(generate_series(0,
               CAST(CEIL(CAST(octet_length(encode(text)) AS DOUBLE)
                    / {CHUNK_HOP}) AS BIGINT) - 1)) AS u(i)
    """,
    doc="Audio-style overlapping segmentation of an opaque binary "
        "column: 200-byte windows at a 100-byte hop (50% overlap), "
        "each chunk emitted with its offset, length and content "
        "hash — the 1-to-N Arrow-batched mapInPandas framing shape "
        "(distinct from multimodal_frame_sample's strided 1-to-N and "
        "multimodal_resize's 1-to-1) that precedes per-chunk feature "
        "extraction in any audio pipeline. The oracle reproduces the "
        "chunk grid relationally (generate_series x substring), "
        "pinning the Python worker's windowing arithmetic exactly; "
        "payloads are utf-8 text bytes since the testdata ships no "
        "real media — the plumbing (schema, batching, overlap math) "
        "is the tested surface. Plan: embarrassingly parallel "
        "mapInPandas, no shuffle at any scale; chunk fan-out is "
        "len/hop per document.",
    tags=("multimodal",),
)
def multimodal_audio_chunk_windows(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    schema = ("doc_id BIGINT, chunk_idx BIGINT, start_byte BIGINT, "
              "n_bytes BIGINT, chunk_md5 STRING")
    return d.mapInPandas(_chunk_payloads, schema=schema)
