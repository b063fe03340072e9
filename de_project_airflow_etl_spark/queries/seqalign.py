"""Round-10 promoted bank (staged as staged/round20.py): count-data modeling (negative-binomial
method-of-moments fit of per-user event counts — the overdispersion
family) and global sequence alignment (Needleman-Wunsch score between
the two weeks' daily dominant-event-type strings — the gap-penalty
sibling of the DTW dynamic program).

Same contract as every registered query: ``(spark, sf_dir) -> DataFrame``
plus an exact DuckDB oracle and identical column aliases; DP in exact
BIGINT via the round-15 nested-fold / recursive-cell-stepper idiom.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.registry import query
from de_project_airflow_etl_spark.tables import load
from de_project_airflow_etl_spark.queries.util import wide


# ---------------------------------------------------------------------
# Negative-binomial method-of-moments fit of per-user event counts:
# activity counts are overdispersed relative to Poisson (variance >
# mean), and the NB size/probability (r = m^2/(s^2 - m), p = m/s^2)
# is the standard two-parameter summary. Exact integer moments; the
# parameter formulas are shared exact-operand double expressions.


@query(
    "negative_binomial_user_counts",
    oracle="""
        WITH k AS (
          SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
          FROM events GROUP BY 1
        ),
        mom AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(c) AS HUGEINT) AS s1,
                 CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2
          FROM k
        )
        SELECT n AS n_users,
               CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n AS mean_count,
               (n * CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
                - CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
                  * CAST(CAST(s1 AS VARCHAR) AS DOUBLE))
                 / n / (n - 1) AS var_count,
               ((n * CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
                 - CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
                   * CAST(CAST(s1 AS VARCHAR) AS DOUBLE))
                 / n / (n - 1))
                 / (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n)
                 AS dispersion_index,
               CASE WHEN (n * CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
                          - CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
                            * CAST(CAST(s1 AS VARCHAR) AS DOUBLE))
                         / n / (n - 1)
                         <= CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n
                    THEN CAST(NULL AS DOUBLE)
                    ELSE (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n)
                         * (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n)
                         / ((n * CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
                             - CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
                               * CAST(CAST(s1 AS VARCHAR) AS DOUBLE))
                            / n / (n - 1)
                            - CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n)
               END AS nb_size_r
        FROM mom
    """,
    doc="Negative-binomial method-of-moments fit of per-user event "
        "counts — the count-data modeling family: user activity is "
        "overdispersed vs Poisson (variance > mean), and the NB "
        "size r = m^2/(s^2-m) with the dispersion index s^2/m is the "
        "standard two-parameter summary feeding frequency models "
        "(BG/NBD-style CLV, exposure normalization). Moments "
        "accumulate exactly (BIGINT counts, HUGEINT/DECIMAL(38,0) "
        "sum and sum-of-squares); every reported parameter is a "
        "shared exact-operand double formula with integer literals, "
        "NULL when the data is underdispersed (r undefined). Plan: "
        "one scan, one user-key aggregate, one global moment "
        "aggregate, one row out.",
    tags=("statistics", "estimation"),
)
def negative_binomial_user_counts(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    k = (load(spark, sf_dir, "events")
         .groupBy("user_id")
         .agg(F.count(F.lit(1)).cast("long").alias("c")))
    mom = k.agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n"),
        F.expr("CAST(SUM(c) AS DECIMAL(38,0))").alias("s1"),
        F.expr("CAST(SUM(CAST(c AS DECIMAL(38,0)) * c)"
               " AS DECIMAL(38,0))").alias("s2"))
    m = f"({wide('s1')} / n)"
    v = (f"((n * {wide('s2')} - {wide('s1')} * {wide('s1')})"
         " / n / (n - 1))")
    return mom.selectExpr(
        "n AS n_users",
        f"{m} AS mean_count",
        f"{v} AS var_count",
        f"{v} / {m} AS dispersion_index",
        f"CASE WHEN {v} <= {m} THEN CAST(NULL AS DOUBLE) "
        f"ELSE {m} * {m} / ({v} - {m}) END AS nb_size_r")


# ---------------------------------------------------------------------
# Needleman-Wunsch global alignment between the daily dominant-event-
# type strings of calendar week 1 and week 2 — the gap-penalty
# alignment DP (bioinformatics global alignment) beside the round-15
# DTW (which allows no gaps, only stretching). Dominant type per day
# uses the pinned smallest-most-frequent tiebreak (mode precedent).
# Scoring: +2 match, -1 mismatch, -2 gap, all exact BIGINT; Spark
# fills the 8x8 table in ONE nested-fold projection, the oracle is a
# recursive-CTE cell-stepper (49 steps).

_NW_MATCH, _NW_MISS, _NW_GAP = 2, -1, -2


@query(
    "nw_alignment_week_type_seqs",
    oracle=f"""
        WITH RECURSIVE d0 AS (
          SELECT MIN(CAST(ts AS DATE)) AS dmin FROM events
        ),
        daily AS MATERIALIZED (
          SELECT date_diff('day', d0.dmin, CAST(ts AS DATE)) AS dd,
                 event_type, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM events, d0
          WHERE date_diff('day', d0.dmin, CAST(ts AS DATE)) < 14
          GROUP BY 1, 2
        ),
        dom AS (
          SELECT dd, MIN(event_type) AS t
          FROM daily d
          WHERE cnt = (SELECT MAX(cnt) FROM daily m WHERE m.dd = d.dd)
          GROUP BY 1
        ),
        seqs AS MATERIALIZED (
          SELECT list(CASE WHEN dd < 7 THEN substr(t, 1, 1) END
                      ORDER BY dd)
                   FILTER (WHERE dd < 7) AS a,
                 list(CASE WHEN dd >= 7 THEN substr(t, 1, 1) END
                      ORDER BY dd)
                   FILTER (WHERE dd >= 7) AS b,
                 CAST(SUM(CASE WHEN dd < 7 THEN 1 ELSE 0 END)
                      AS INT) AS n,
                 CAST(SUM(CASE WHEN dd >= 7 THEN 1 ELSE 0 END)
                      AS INT) AS m
          FROM dom
        ),
        dp(i, j, prev, cur) AS (
          SELECT 1, 1,
                 list_transform(generate_series(0, m),
                                x -> CAST({_NW_GAP} * x AS BIGINT)),
                 [CAST({_NW_GAP} AS BIGINT),
                  GREATEST(CAST(0 AS BIGINT)
                             + CASE WHEN a[1] = b[1] THEN {_NW_MATCH}
                               ELSE {_NW_MISS} END,
                           CAST({_NW_GAP} AS BIGINT) + {_NW_GAP},
                           CAST({_NW_GAP} AS BIGINT) + {_NW_GAP})]
          FROM seqs WHERE n >= 1 AND m >= 1
          UNION ALL
          SELECT CASE WHEN j < m THEN i ELSE i + 1 END,
                 CASE WHEN j < m THEN j + 1 ELSE 1 END,
                 CASE WHEN j < m THEN prev ELSE cur END,
                 CASE WHEN j < m
                      THEN list_append(cur,
                             GREATEST(
                               prev[j + 1]
                                 + CASE WHEN a[i] = b[j + 1]
                                   THEN {_NW_MATCH}
                                   ELSE {_NW_MISS} END,
                               prev[j + 2] + {_NW_GAP},
                               cur[j + 1] + {_NW_GAP}))
                      ELSE [CAST({_NW_GAP} * (i + 1) AS BIGINT),
                            GREATEST(
                              cur[1]
                                + CASE WHEN a[i + 1] = b[1]
                                  THEN {_NW_MATCH}
                                  ELSE {_NW_MISS} END,
                              cur[2] + {_NW_GAP},
                              CAST({_NW_GAP} * (i + 1) AS BIGINT)
                                + {_NW_GAP})]
                 END
          FROM dp, seqs WHERE NOT (i = n AND j = m)
        )
        SELECT list_aggregate(seqs.a, 'string_agg', '') AS seq_week1,
               list_aggregate(seqs.b, 'string_agg', '') AS seq_week2,
               CAST(dp.cur[dp.j + 1] AS BIGINT) AS nw_score,
               CAST((SELECT SUM(CASE WHEN seqs.a[x] = seqs.b[x]
                                THEN {_NW_MATCH} ELSE {_NW_MISS} END)
                     FROM unnest(generate_series(1,
                          LEAST(seqs.n, seqs.m))) u(x)) AS BIGINT)
                 AS lockstep_score
        FROM seqs LEFT JOIN dp ON dp.i = seqs.n AND dp.j = seqs.m
    """,
    doc="Needleman-Wunsch global alignment (+2 match / -1 mismatch / "
        "-2 gap) between the daily dominant-event-type strings of "
        "calendar weeks 1 and 2 — the gap-penalty alignment DP "
        "(bioinformatics global alignment) completing the dynamic-"
        "programming family beside DTW, which stretches but never "
        "gaps. Dominant type per day uses the pinned smallest-most-"
        "frequent tiebreak (the exact-mode precedent); the DP is "
        "exact BIGINT with proper -2g boundary rows. Spark fills the "
        "8x8 table in ONE nested-fold codegen projection over a "
        "checkpointed 1-row panel; the oracle is the recursive-CTE "
        "cell-stepper (49 steps, MATERIALIZED arrays). nw_score >= "
        "lockstep_score (the gapless alignment is one candidate) is "
        "test-pinned. Scale: one corpus pass to the (day, type) "
        "aggregate; the DP is calendar-bounded.",
    tags=("timeseries", "statistics"),
)
def nw_alignment_week_type_seqs(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    g, mt, ms = _NW_GAP, _NW_MATCH, _NW_MISS
    ev = load(spark, sf_dir, "events")
    d0 = ev.agg(F.expr("MIN(CAST(ts AS DATE))").alias("dmin"))
    daily = (ev.crossJoin(F.broadcast(d0))
             .selectExpr("datediff(CAST(ts AS DATE), dmin) AS dd",
                         "event_type")
             .filter("dd < 14")
             .groupBy("dd", "event_type")
             .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    dom = (daily.groupBy("dd")
           .agg(F.expr("min_by(event_type, struct(-cnt, event_type))")
                 .alias("t")))
    seqs = (dom.agg(
        F.expr("array_join(transform(array_sort(collect_list("
               "struct(dd, t))), x -> CASE WHEN x.dd < 7 THEN "
               "substring(x.t, 1, 1) ELSE '' END), '') AS a_str"),
        F.expr("array_join(transform(array_sort(collect_list("
               "struct(dd, t))), x -> CASE WHEN x.dd >= 7 THEN "
               "substring(x.t, 1, 1) ELSE '' END), '') AS b_str"),
        F.expr("CAST(SUM(CASE WHEN dd < 7 THEN 1 ELSE 0 END) AS INT)"
               " AS n"),
        F.expr("CAST(SUM(CASE WHEN dd >= 7 THEN 1 ELSE 0 END) AS INT)"
               " AS m"))
        .localCheckpoint())  # 1 row: the DP below is a pure projection
    # Round-8 gotcha (5): Spark sequence(1, 0) yields a DESCENDING
    # sequence, so with a corpus spanning < 8 days (n or m = 0) the
    # unguarded fold would run with i/j = 0 and diverge from the
    # oracle; both engines now yield NULL for the degenerate case
    # (oracle: anchor-filtered recursion + LEFT JOIN).
    return seqs.selectExpr(
        "a_str AS seq_week1",
        "b_str AS seq_week2",
        f"""CASE WHEN n >= 1 AND m >= 1 THEN element_at(
              aggregate(
                sequence(1, n),
                transform(sequence(0, m),
                          x -> CAST({g} AS BIGINT) * x),
                (prev, i) -> aggregate(
                  sequence(1, m),
                  array(CAST({g} AS BIGINT) * CAST(i AS BIGINT)),
                  (row, j) -> concat(row, array(
                    GREATEST(
                      element_at(prev, CAST(j AS INT))
                        + CASE WHEN substring(a_str, CAST(i AS INT), 1)
                               = substring(b_str, CAST(j AS INT), 1)
                          THEN {mt} ELSE {ms} END,
                      element_at(prev, CAST(j + 1 AS INT)) + {g},
                      element_at(row, -1) + {g}))))),
              m + 1) ELSE CAST(NULL AS BIGINT) END AS nw_score""",
        f"""CASE WHEN n >= 1 AND m >= 1 THEN aggregate(
              zip_with(split(a_str, ''), split(b_str, ''),
                       (x, y) -> CASE WHEN x IS NULL OR y IS NULL
                                 OR x = '' OR y = '' THEN
                                 CAST(0 AS BIGINT)
                                 WHEN x = y THEN CAST({mt} AS BIGINT)
                                 ELSE CAST({ms} AS BIGINT) END),
              CAST(0 AS BIGINT), (acc, v) -> acc + v)
            ELSE CAST(NULL AS BIGINT) END AS lockstep_score""")
