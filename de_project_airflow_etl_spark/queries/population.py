"""Round-10 promoted bank (staged as staged/round18.py): unseen-mass estimation (Good-Turing singleton
mass and the bias-corrected Chao1 richness estimator per source),
survey calibration (iterative proportional fitting / raking of the
purchase mix to the all-events margins), and capture-recapture
population estimation (Lincoln-Petersen / Chapman from two weeks'
user samples).

Same contract as every registered query: ``(spark, sf_dir) -> DataFrame``
plus an exact DuckDB oracle, identical column aliases on both sides,
exact-integer arithmetic for anything accumulated (DECIMAL(38,0)/
HUGEINT for products), truncating ``div`` fixed point for iterative
algorithms, no ``rand()``, no ``.collect()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.registry import query
from de_project_airflow_etl_spark.tables import load
from de_project_airflow_etl_spark.queries.util import sql_cents


# ---------------------------------------------------------------------
# Good-Turing unseen mass + Chao1 richness per source: how much
# probability mass belongs to words the source has NOT yet shown us
# (f1/N), and how many types the source vocabulary really has
# (observed + f1*(f1-1)/(2*(f2+1)), the bias-corrected Chao1) — the
# two standard answers to "is this corpus slice exhausted?", which the
# vocab_coverage_curve (how much do the top-k cover) does not ask.


@query(
    "good_turing_chao1_by_source",
    oracle=f"""
        WITH tf AS (
          SELECT source, term, CAST(COUNT(*) AS BIGINT) AS f
          FROM (SELECT source, unnest(string_split(text, ' ')) AS term
                FROM documents)
          GROUP BY 1, 2
        ),
        panel AS (
          SELECT source,
                 CAST(SUM(f) AS BIGINT) AS n_tokens,
                 CAST(COUNT(*) AS BIGINT) AS vocab,
                 CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS f1,
                 CAST(SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END)
                      AS BIGINT) AS f2
          FROM tf GROUP BY 1
        )
        SELECT source, n_tokens, vocab, f1, f2,
               CAST(f1 AS DOUBLE) / n_tokens AS gt_unseen_mass,
               CAST(vocab AS DOUBLE)
                 + CAST(f1 AS DOUBLE) * (f1 - 1) / (2 * (f2 + 1))
                 AS chao1_richness
        FROM panel
    """,
    doc="Good-Turing unseen probability mass (f1/N — the chance the "
        "NEXT token from this source is a never-seen word) and the "
        "bias-corrected Chao1 richness estimator (vocab + "
        "f1(f1-1)/(2(f2+1)) — how many types the source vocabulary "
        "really has, observed or not) per document source. The "
        "corpus-exhaustion panel: a source with high unseen mass is "
        "under-sampled and worth more crawling budget; one whose "
        "Chao1 is close to its observed vocab is tapped out — the "
        "question vocab_coverage/vocab_growth (what the top-k cover) "
        "do not answer. All counts exact integers off one term-"
        "frequency aggregate; the two estimates are shared exact-"
        "operand double formulas with integer literals. Plan: one "
        "scan, one (source, term) aggregate riding the same gram-"
        "index economics as tfidf, a 20-row panel out.",
    tags=("text", "statistics"),
)
def good_turing_chao1_by_source(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    tf = (load(spark, sf_dir, "documents")
          .select("source", F.explode(F.split("text", " ")).alias("term"))
          .groupBy("source", "term")
          .agg(F.count(F.lit(1)).cast("long").alias("f")))
    panel = (tf.groupBy("source")
             .agg(F.expr("CAST(SUM(f) AS BIGINT)").alias("n_tokens"),
                  F.expr("CAST(COUNT(*) AS BIGINT)").alias("vocab"),
                  F.expr("CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END)"
                         " AS BIGINT)").alias("f1"),
                  F.expr("CAST(SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END)"
                         " AS BIGINT)").alias("f2")))
    return panel.selectExpr(
        "source", "n_tokens", "vocab", "f1", "f2",
        "CAST(f1 AS DOUBLE) / n_tokens AS gt_unseen_mass",
        "CAST(vocab AS DOUBLE)"
        " + CAST(f1 AS DOUBLE) * (f1 - 1) / (2 * (f2 + 1))"
        " AS chao1_richness")


# ---------------------------------------------------------------------
# Iterative proportional fitting (raking) of the purchase-event
# (weekday x value-band) mix onto the ALL-events margins — the survey-
# statistics calibration that reweights a biased sample to known
# population margins. Six alternating row/column scaling rounds in
# 1e6 truncating fixed point on the 35-cell panel; margins and the
# recurrence are exact integers on both engines.

_IPF_ITERS = 6
_IPF_S = 10**6
_BAND = (f"CASE WHEN {sql_cents('value')} < 5000 THEN 'b0' "
         f"WHEN {sql_cents('value')} < 10000 THEN 'b1' "
         f"WHEN {sql_cents('value')} < 20000 THEN 'b2' "
         f"WHEN {sql_cents('value')} < 35000 THEN 'b3' ELSE 'b4' END")
_DOW_SPARK = "dayofweek(ts) - 1"   # 0=Sunday..6 on both engines
_DOW_SQL = "dayofweek(ts)"


def _sql_ipf_iter(prev: str, out: str) -> str:
    return f"""
        rs_{out} AS (
          SELECT dow, SUM(w) AS rs FROM {prev} GROUP BY 1
        ),
        r_{out} AS MATERIALIZED (
          SELECT p.dow, p.band,
                 CASE WHEN rs.rs = 0 THEN CAST(0 AS HUGEINT)
                      ELSE (p.w * rm.t) // rs.rs END AS w
          FROM {prev} p JOIN rs_{out} rs ON p.dow = rs.dow
          JOIN rmarg rm ON rm.dow = p.dow
        ),
        cs_{out} AS (
          SELECT band, SUM(w) AS cs FROM r_{out} GROUP BY 1
        ),
        {out} AS MATERIALIZED (
          SELECT r.dow, r.band,
                 CASE WHEN cs.cs = 0 THEN CAST(0 AS HUGEINT)
                      ELSE (r.w * cm.t) // cs.cs END AS w
          FROM r_{out} r JOIN cs_{out} cs ON r.band = cs.band
          JOIN cmarg cm ON cm.band = r.band
        )
    """


@query(
    "ipf_raking_purchase_mix",
    oracle=f"""
        WITH base AS MATERIALIZED (
          SELECT {_DOW_SQL} AS dow, {_BAND} AS band,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS is_p
          FROM events
        ),
        obs AS MATERIALIZED (
          SELECT dow, band, CAST(SUM(is_p) AS BIGINT) AS m
          FROM base GROUP BY 1, 2
        ),
        np_ AS (SELECT CAST(SUM(m) AS HUGEINT) AS np FROM obs),
        na_ AS (SELECT CAST(COUNT(*) AS HUGEINT) AS na FROM base),
        rmarg AS MATERIALIZED (
          SELECT dow,
                 (CAST(COUNT(*) AS HUGEINT) * np.np * {_IPF_S}) // na.na
                   AS t
          FROM base, np_ np, na_ na GROUP BY dow, np.np, na.na
        ),
        cmarg AS MATERIALIZED (
          SELECT band,
                 (CAST(COUNT(*) AS HUGEINT) * np.np * {_IPF_S}) // na.na
                   AS t
          FROM base, np_ np, na_ na GROUP BY band, np.np, na.na
        ),
        w0 AS MATERIALIZED (
          SELECT dow, band, CAST(m AS HUGEINT) * {_IPF_S} AS w FROM obs
        ),
        {",".join(_sql_ipf_iter(f"w{k}", f"w{k + 1}")
                  for k in range(_IPF_ITERS))}
        SELECT o.dow, o.band, o.m AS observed,
               CAST(wf.w AS BIGINT) AS raked_e6
        FROM obs o JOIN w{_IPF_ITERS} wf
          ON o.dow = wf.dow AND o.band = wf.band
    """,
    doc="Iterative proportional fitting (raking) of the purchase-"
        "event (weekday x value-band) contingency table onto the "
        "ALL-events row and column margins — the survey-calibration "
        "workhorse that reweights a biased subsample to known "
        "population margins while preserving within-table "
        "interaction structure. Six alternating row/column scaling "
        "rounds in 1e6 truncating fixed point on the bounded 35-cell "
        "panel; margin targets are exact integers ((margin * n_p * "
        "1e6) div n_a), so both engines land on the identical raked "
        "weights (the markov/bradley-terry idiom). Plan: one scan to "
        "the 35-cell aggregate plus two margin aggregates; all "
        "iteration on MATERIALIZED/checkpointed panels, zero corpus "
        "re-scans.",
    tags=("statistics", "iterative", "experimentation"),
)
def ipf_raking_purchase_mix(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    s = _IPF_S
    base = (load(spark, sf_dir, "events")
            .selectExpr(f"{_DOW_SPARK} AS dow", f"{_BAND} AS band",
                        "CASE WHEN event_type = 'purchase' THEN 1 "
                        "ELSE 0 END AS is_p")
            .localCheckpoint())
    obs = (base.groupBy("dow", "band")
           .agg(F.expr("CAST(SUM(is_p) AS BIGINT)").alias("m"))
           .localCheckpoint())  # <=35 cells
    np_ = obs.agg(F.expr("CAST(SUM(m) AS DECIMAL(38,0))").alias("np"))
    na_ = base.agg(F.expr("CAST(COUNT(*) AS DECIMAL(38,0))").alias("na"))
    rmarg = (base.groupBy("dow").agg(F.count(F.lit(1)).alias("rc"))
             .crossJoin(F.broadcast(np_)).crossJoin(F.broadcast(na_))
             .selectExpr("dow",
                         f"(CAST(rc AS DECIMAL(38,0)) * np * {s})"
                         " div na AS t")
             .localCheckpoint())
    cmarg = (base.groupBy("band").agg(F.count(F.lit(1)).alias("cc"))
             .crossJoin(F.broadcast(np_)).crossJoin(F.broadcast(na_))
             .selectExpr("band",
                         f"(CAST(cc AS DECIMAL(38,0)) * np * {s})"
                         " div na AS t")
             .localCheckpoint())
    w = obs.selectExpr("dow", "band",
                       f"CAST(m AS DECIMAL(38,0)) * {s} AS w")
    for _ in range(_IPF_ITERS):
        rs = w.groupBy("dow").agg(F.expr("SUM(w)").alias("rs"))
        w = (w.join(F.broadcast(rs), "dow")
              .join(F.broadcast(rmarg), "dow")
              .selectExpr("dow", "band",
                          "CASE WHEN rs = 0 THEN CAST(0 AS "
                          "DECIMAL(38,0)) ELSE CAST((w * t) div rs"
                          " AS DECIMAL(38,0)) END AS w"))
        cs = w.groupBy("band").agg(F.expr("SUM(w)").alias("cs"))
        w = (w.join(F.broadcast(cs), "band")
              .join(F.broadcast(cmarg), "band")
              .selectExpr("dow", "band",
                          "CASE WHEN cs = 0 THEN CAST(0 AS "
                          "DECIMAL(38,0)) ELSE CAST((w * t) div cs"
                          " AS DECIMAL(38,0)) END AS w")
              .localCheckpoint())
    return (obs.join(w, ["dow", "band"])
               .selectExpr("dow", "band", "m AS observed",
                           "CAST(w AS BIGINT) AS raked_e6"))


# ---------------------------------------------------------------------
# Lincoln-Petersen / Chapman capture-recapture estimate of the active
# user population from two non-overlapping week samples — the ecology
# estimator for "how many users are there really" when each window
# only captures a subset.


@query(
    "capture_recapture_user_weeks",
    oracle="""
        WITH d0 AS (SELECT MIN(CAST(ts AS DATE)) AS dmin FROM events),
        marked AS (
          SELECT DISTINCT user_id,
                 CASE WHEN date_diff('day', d0.dmin, CAST(ts AS DATE))
                        < 7 THEN 1 ELSE 0 END AS w1,
                 CASE WHEN date_diff('day', d0.dmin, CAST(ts AS DATE))
                        BETWEEN 7 AND 13 THEN 1 ELSE 0 END AS w2
          FROM events, d0
          WHERE date_diff('day', d0.dmin, CAST(ts AS DATE)) < 14
        ),
        caps AS (
          SELECT user_id, CAST(MAX(w1) AS BIGINT) AS c1,
                 CAST(MAX(w2) AS BIGINT) AS c2
          FROM marked GROUP BY 1
        )
        SELECT CAST(SUM(c1) AS BIGINT) AS n_week1,
               CAST(SUM(c2) AS BIGINT) AS n_week2,
               CAST(SUM(c1 * c2) AS BIGINT) AS n_both,
               CAST(SUM(c1) AS DOUBLE) * SUM(c2) / SUM(c1 * c2)
                 AS lincoln_petersen,
               (CAST(SUM(c1) + 1 AS DOUBLE)) * (SUM(c2) + 1)
                 / (SUM(c1 * c2) + 1) - 1 AS chapman
        FROM caps
    """,
    doc="Lincoln-Petersen and Chapman capture-recapture estimates of "
        "the active user population from the first two calendar "
        "weeks as mark/recapture samples — the ecology estimator for "
        "'how many users exist' when every observation window only "
        "captures a subset; the exact-overlap companion to the "
        "theta-sketch overlap (which estimates the same intersection "
        "approximately). One pass to per-user capture flags (MAX "
        "aggregates on the user key), a 1-row panel out; both "
        "estimators are shared exact-operand double formulas "
        "(Chapman's +1s make the estimate finite even with zero "
        "recaptures). Plan: one scan, one user-key aggregate, one "
        "global aggregate.",
    tags=("statistics", "estimation"),
)
def capture_recapture_user_weeks(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    # d0 stays UN-checkpointed: a checkpoint would hide the scalar-
    # aggregate root from the BNLJ gate (round-6-late rule); the
    # min-date pass is its own cheap scan (budget 2)
    d0 = ev.agg(F.expr("MIN(CAST(ts AS DATE))").alias("dmin"))
    marked = (ev.crossJoin(F.broadcast(d0))
              .selectExpr("user_id",
                          "datediff(CAST(ts AS DATE), dmin) AS dd")
              .filter("dd < 14")
              .selectExpr("user_id",
                          "CASE WHEN dd < 7 THEN 1 ELSE 0 END AS w1",
                          "CASE WHEN dd BETWEEN 7 AND 13 THEN 1 "
                          "ELSE 0 END AS w2")
              .distinct())
    caps = (marked.groupBy("user_id")
            .agg(F.expr("CAST(MAX(w1) AS BIGINT)").alias("c1"),
                 F.expr("CAST(MAX(w2) AS BIGINT)").alias("c2")))
    return caps.agg(
        F.expr("CAST(SUM(c1) AS BIGINT)").alias("n_week1"),
        F.expr("CAST(SUM(c2) AS BIGINT)").alias("n_week2"),
        F.expr("CAST(SUM(c1 * c2) AS BIGINT)").alias("n_both"),
        F.expr("CAST(SUM(c1) AS DOUBLE) * SUM(c2) / SUM(c1 * c2)")
         .alias("lincoln_petersen"),
        F.expr("(CAST(SUM(c1) + 1 AS DOUBLE)) * (SUM(c2) + 1)"
               " / (SUM(c1 * c2) + 1) - 1").alias("chapman"))
