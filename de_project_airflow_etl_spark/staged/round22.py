"""Round-22 staged bank: sequence/divergence/pipeline operators —
sample-entropy template matching on the daily revenue series (the
regularity statistic behind physiological/behavioral time-series
screening, emitted as exact match counts per the repo's no-ln rule),
exact distance correlation between day index and daily revenue
(Szekely's dCor — zero IFF independent, the energy-statistics
complement to round-21's energy distance), a deterministic stratified
train/val/test split manifest (the corpus-release operator every
LLM-data pipeline runs before tokenization), and the chi-square
divergence between per-source unigram distributions on a capped
vocabulary (the polynomial-arithmetic drift divergence — KL needs
ln(), which is engine-rounding-specific; chi2 is exact rational per
term).

Same contract as every staged query (see staged/__init__.py):
``(spark, sf_dir) -> DataFrame`` plus an exact DuckDB oracle,
identical column aliases, exact integer / fixed-point arithmetic for
anything accumulated, sorted-fold determinism for any bounded sum of
double terms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.staged import staged_query
from de_project_airflow_etl_spark.tables import load
from de_project_airflow_etl_spark.queries.util import sql_cents, wide


_SQL_DAILY = """
        daily AS (
          SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                   AS x,
                 CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
          FROM events GROUP BY 1
        )"""


def _spark_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (load(spark, sf_dir, "events")
            .groupBy(F.datediff(F.to_date("ts"),
                                F.lit("1970-01-01")).alias("x"))
            .agg(F.sum(F.expr(sql_cents("value"))).cast("long").alias("cents"))
            .localCheckpoint())


# ---------------------------------------------------------------------
# Sample-entropy template matching (m = 2, r = MAD of the dailies).
#
# B = matched length-2 template pairs, A = matched length-3 pairs,
# both over start positions 1..N-2 (Richman-Moorman index set) with
# Chebyshev tolerance r. SampEn = -ln(A/B) is left to the consumer:
# ln() is not guaranteed correctly rounded cross-engine (the repo's
# recorded ln-divergence rule), while A, B and A/B are exact.


@staged_query(
    "sample_entropy_matches_daily",
    oracle=f"""
        WITH {_SQL_DAILY},
        med AS (
          SELECT cents AS m
          FROM (SELECT cents,
                       ROW_NUMBER() OVER (ORDER BY cents) AS rn,
                       COUNT(*) OVER () AS nn
                FROM daily)
          WHERE rn = (nn + 1) // 2
        ),
        mad AS (
          SELECT dev AS r
          FROM (SELECT ABS(cents - (SELECT m FROM med)) AS dev,
                       ROW_NUMBER() OVER (ORDER BY
                         ABS(cents - (SELECT m FROM med))) AS rn,
                       COUNT(*) OVER () AS nn
                FROM daily)
          WHERE rn = (nn + 1) // 2
        ),
        t AS (
          SELECT a.x, a.cents AS c0, b.cents AS c1, c.cents AS c2
          FROM daily a
          JOIN daily b ON b.x = a.x + 1
          JOIN daily c ON c.x = a.x + 2
        ),
        b_pairs AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS b_count
          FROM t i JOIN t j ON j.x > i.x
          WHERE GREATEST(ABS(i.c0 - j.c0), ABS(i.c1 - j.c1))
                <= (SELECT r FROM mad)
        ),
        a_pairs AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS a_count
          FROM t i JOIN t j ON j.x > i.x
          WHERE GREATEST(ABS(i.c0 - j.c0), ABS(i.c1 - j.c1),
                         ABS(i.c2 - j.c2)) <= (SELECT r FROM mad)
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
               (SELECT r FROM mad) AS r_cents,
               b_count, a_count,
               CAST(a_count AS DOUBLE) / b_count AS match_ratio
        FROM b_pairs CROSS JOIN a_pairs
    """,
    doc="Sample-entropy template matching (m = 2) of the daily "
        "revenue series: B counts pairs of 2-day templates whose "
        "Chebyshev distance is within r, A the same for 3-day "
        "templates, over the Richman-Moorman start positions "
        "1..N-2 — low A/B means extending a matched template "
        "usually breaks the match (an irregular series), A/B near 1 "
        "means self-similar dynamics. r is the MAD of the daily "
        "cents (lower-median of |x - lower-median|, an EXACT integer "
        "order statistic — the classical 0.2*sd tolerance would be "
        "engine-rounding-dependent). SampEn = -ln(A/B) is left to "
        "the consumer: ln() is not correctly rounded cross-engine "
        "(the repo's recorded ln-divergence rule); A, B are exact "
        "BIGINTs and A/B one exact-input double division. The "
        "template pair comparison is over the CALENDAR-bounded "
        "daily table (<= days^2/2 pairs), never raw rows. Plan: one "
        "map-side-combinable daily rollup, two bounded self-joins, "
        "one row out.",
    tags=("staged", "statistics", "timeseries"),
)
def sample_entropy_matches_daily(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    daily = _spark_daily(spark, sf_dir)
    med = daily.selectExpr(
        "element_at(array_sort(collect_list(cents)),"
        " CAST((count(*) + 1) div 2 AS INT)) AS m")
    mad = (daily.crossJoin(F.broadcast(med))
                .selectExpr("ABS(cents - m) AS dev")
                .selectExpr(
                    "element_at(array_sort(collect_list(dev)),"
                    " CAST((count(*) + 1) div 2 AS INT)) AS r"))
    b1 = daily.selectExpr("x AS x1", "cents AS c1")
    b2 = daily.selectExpr("x AS x2", "cents AS c2")
    t = (daily.join(b1, F.col("x1") == F.col("x") + 1)
              .join(b2, F.col("x2") == F.col("x") + 2)
              .selectExpr("x", "cents AS c0", "c1", "c2")
              .localCheckpoint())  # bounded; feeds two pair joins
    ti = t.selectExpr("x AS xi", "c0 AS i0", "c1 AS i1", "c2 AS i2")
    # explicit broadcast: the checkpointed template panel carries no
    # stats, and an inequality join without a broadcastable side
    # plans as CartesianProduct
    pairs = (t.join(F.broadcast(ti), F.col("x") < F.col("xi"))
              .crossJoin(F.broadcast(mad)))
    b_count = pairs.filter(
        "GREATEST(ABS(c0 - i0), ABS(c1 - i1)) <= r").agg(
        F.count(F.lit(1)).cast("long").alias("b_count"))
    a_count = pairs.filter(
        "GREATEST(ABS(c0 - i0), ABS(c1 - i1), ABS(c2 - i2)) <= r").agg(
        F.count(F.lit(1)).cast("long").alias("a_count"))
    n_days = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"))
    return (n_days.crossJoin(F.broadcast(mad))
                  .crossJoin(F.broadcast(b_count))
                  .crossJoin(F.broadcast(a_count))
                  .selectExpr("n_days", "r AS r_cents", "b_count",
                              "a_count",
                              "CAST(a_count AS DOUBLE) / b_count"
                              " AS match_ratio"))


# ---------------------------------------------------------------------
# Distance correlation between day index and daily revenue.
#
# Double-centered distance matrices in n^2-scaled integer units:
#   A'_ij = n^2 a_ij - n ra_i - n ra_j + ga   (all BIGINT-exact)
# and dCov^2 * n^6 = sum A'_ij B'_ij rides DECIMAL(38,0). dCor is
# then one exact-input double expression with two IEEE sqrts.


@staged_query(
    "distance_correlation_daily",
    oracle=f"""
        WITH {_SQL_DAILY},
        p AS (
          SELECT a.x AS xi, b.x AS xj,
                 ABS(a.x - b.x) AS da,
                 ABS(a.cents - b.cents) AS db
          FROM daily a CROSS JOIN daily b
        ),
        rows_ AS (
          SELECT xi, CAST(SUM(da) AS BIGINT) AS ra,
                 CAST(SUM(db) AS BIGINT) AS rb
          FROM p GROUP BY xi
        ),
        g AS (
          SELECT CAST(SUM(ra) AS BIGINT) AS ga,
                 CAST(SUM(rb) AS BIGINT) AS gb,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM rows_
        ),
        c AS (
          SELECT CAST(SUM(CAST(g.n * g.n * p.da - g.n * ri.ra
                               - g.n * rj.ra + g.ga AS HUGEINT)
                          * (g.n * g.n * p.db - g.n * ri.rb
                             - g.n * rj.rb + g.gb))
                      AS DECIMAL(38,0)) AS sab,
                 CAST(SUM(CAST(g.n * g.n * p.da - g.n * ri.ra
                               - g.n * rj.ra + g.ga AS HUGEINT)
                          * (g.n * g.n * p.da - g.n * ri.ra
                             - g.n * rj.ra + g.ga))
                      AS DECIMAL(38,0)) AS saa,
                 CAST(SUM(CAST(g.n * g.n * p.db - g.n * ri.rb
                               - g.n * rj.rb + g.gb AS HUGEINT)
                          * (g.n * g.n * p.db - g.n * ri.rb
                             - g.n * rj.rb + g.gb))
                      AS DECIMAL(38,0)) AS sbb,
                 MAX(g.n) AS n
          FROM p
          JOIN rows_ ri ON ri.xi = p.xi
          JOIN rows_ rj ON rj.xi = p.xj
          CROSS JOIN g
        )
        SELECT n AS n_days,
               {wide('sab')} / (CAST(n AS DOUBLE) * n * n * n * n * n)
                 AS dcov2,
               {wide('saa')} / (CAST(n AS DOUBLE) * n * n * n * n * n)
                 AS dvarx2,
               {wide('sbb')} / (CAST(n AS DOUBLE) * n * n * n * n * n)
                 AS dvary2,
               CASE WHEN saa > 0 AND sbb > 0 THEN
                 SQRT({wide('sab')}
                      / SQRT({wide('saa')} * {wide('sbb')}))
               ELSE CAST(0.0 AS DOUBLE) END AS dcor
        FROM c
    """,
    doc="Distance correlation (Szekely-Rizzo dCor) between the day "
        "index and daily revenue: the dependence measure that is "
        "zero IFF the two are independent — it sees periodic and "
        "U-shaped structure that the registered Pearson/Kendall/"
        "Spearman monotone family cannot, and complements round-21's "
        "Hoeffding D with a metric-space statistic. The double-"
        "centered distance products are EXACT: A'_ij = n^2 a_ij - "
        "n*ra_i - n*ra_j + ga stays BIGINT (~2.7e12 at sf0.1 daily "
        "magnitudes), and the three sums of A'B' products ride "
        "HUGEINT/DECIMAL(38,0) (~1e27 at sf0.1; the 1e38 cap is "
        "reached only when daily cents pass ~1e14 per day at 3650 "
        "days). dCor emerges from one exact-input double expression "
        "with two IEEE-correctly-rounded sqrts — no ln, no "
        "engine-specific rounding. V-statistic normalization "
        "(diagonal included, a_ii = 0). The n^2 pair grid is over "
        "the CALENDAR-bounded daily table. Plan: one map-side-"
        "combinable daily rollup (the only corpus-scale work), one "
        "bounded pair grid + row-sum join, one row out.",
    tags=("staged", "statistics", "timeseries"),
)
def distance_correlation_daily(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    daily = _spark_daily(spark, sf_dir)
    b = daily.selectExpr("x AS xj", "cents AS cj")
    p = (daily.crossJoin(b)
              .selectExpr("x AS xi", "xj",
                          "ABS(x - xj) AS da",
                          "ABS(cents - cj) AS db"))
    p = p.localCheckpoint()  # bounded (days^2); feeds rows_ and c
    rows_ = p.groupBy("xi").agg(
        F.sum("da").cast("long").alias("ra"),
        F.sum("db").cast("long").alias("rb"))
    rows_ = rows_.localCheckpoint()  # bounded (days); 3 consumers
    g = rows_.agg(F.sum("ra").cast("long").alias("ga"),
                  F.sum("rb").cast("long").alias("gb"),
                  F.count(F.lit(1)).cast("long").alias("n"))
    ri = rows_.selectExpr("xi AS rxi", "ra AS rai", "rb AS rbi")
    rj = rows_.selectExpr("xi AS rxj", "ra AS raj", "rb AS rbj")
    c = (p.join(ri, F.col("rxi") == F.col("xi"))
          .join(rj, F.col("rxj") == F.col("xj"))
          .crossJoin(F.broadcast(g))
          .selectExpr(
              "n",
              "CAST(n * n * da - n * rai - n * raj + ga"
              " AS DECIMAL(38,0)) AS ap",
              "CAST(n * n * db - n * rbi - n * rbj + gb"
              " AS DECIMAL(38,0)) AS bp")
          .agg(F.expr("CAST(SUM(ap * bp) AS DECIMAL(38,0))")
                .alias("sab"),
               F.expr("CAST(SUM(ap * ap) AS DECIMAL(38,0))")
                .alias("saa"),
               F.expr("CAST(SUM(bp * bp) AS DECIMAL(38,0))")
                .alias("sbb"),
               F.max("n").alias("n")))
    return c.selectExpr(
        "n AS n_days",
        f"{wide('sab')} / (CAST(n AS DOUBLE) * n * n * n * n * n)"
        " AS dcov2",
        f"{wide('saa')} / (CAST(n AS DOUBLE) * n * n * n * n * n)"
        " AS dvarx2",
        f"{wide('sbb')} / (CAST(n AS DOUBLE) * n * n * n * n * n)"
        " AS dvary2",
        f"CASE WHEN saa > 0 AND sbb > 0 THEN"
        f" SQRT({wide('sab')} / SQRT({wide('saa')} * {wide('sbb')}))"
        " ELSE CAST(0.0 AS DOUBLE) END AS dcor")


# ---------------------------------------------------------------------
# Deterministic stratified train/val/test split manifest.

_SPLIT_H_SPARK = ("CAST(conv(substring(md5(concat('split|', "
                  "CAST(doc_id AS STRING))), 1, 13), 16, 10) AS BIGINT)"
                  " % 100")
_SPLIT_H_SQL = ("CAST(('0x' || substring(md5('split|' || "
                "CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) % 100")


@staged_query(
    "stratified_split_manifest",
    oracle=f"""
        WITH d AS (
          SELECT source,
                 CASE WHEN {_SPLIT_H_SQL} < 80 THEN 'train'
                      WHEN {_SPLIT_H_SQL} < 90 THEN 'val'
                      ELSE 'test' END AS split,
                 LEN(LIST_FILTER(string_split(text, ' '),
                                 t -> t <> '')) AS n_tok
          FROM documents
        )
        SELECT source, split,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        FROM d GROUP BY source, split
    """,
    doc="Deterministic stratified train/val/test split manifest: "
        "every document lands in exactly one split via an md5 hash "
        "bucket of its doc_id (80/10/10), so the assignment is "
        "reproducible across engines, retries and corpus re-orders — "
        "the no-rand() split every LLM-data release pipeline needs "
        "before tokenization (a random split would leak near-"
        "duplicates across the train/eval boundary "
        "non-reproducibly). The manifest reports per (source, split) "
        "document and whitespace-token counts — the numbers a "
        "release audit checks against the corpus budget. Hash rides "
        "the repo's salted conv(md5)52-bit idiom (identical bits on "
        "both engines). Plan: one embarrassingly-parallel projection "
        "+ one map-side-combinable aggregate; output is "
        "sources x 3 rows; no shuffle beyond the final rollup.",
    tags=("staged", "curation", "pipeline"),
)
def stratified_split_manifest(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").selectExpr(
        "source",
        f"CASE WHEN {_SPLIT_H_SPARK} < 80 THEN 'train'"
        f" WHEN {_SPLIT_H_SPARK} < 90 THEN 'val'"
        " ELSE 'test' END AS split",
        "size(filter(split(text, ' '), t -> t <> '')) AS n_tok")
    return d.groupBy("source", "split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"))


# ---------------------------------------------------------------------
# Chi-square divergence between per-source unigram distributions on
# the top-V corpus vocabulary, add-one smoothed.

CHI2_V = 500  # capped vocabulary: top-V corpus terms (count desc, term)


@staged_query(
    "chi2_divergence_source_unigrams",
    oracle=f"""
        WITH tok AS (
          SELECT source, unnest(string_split(text, ' ')) AS term
          FROM documents
        ),
        tf AS (
          SELECT source, term, CAST(COUNT(*) AS BIGINT) AS f
          FROM tok WHERE term <> '' GROUP BY 1, 2
        ),
        keep AS (
          SELECT term FROM (
            SELECT term,
                   ROW_NUMBER() OVER (ORDER BY SUM(f) DESC, term)
                     AS rnk
            FROM tf GROUP BY term
          ) WHERE rnk <= {CHI2_V}
        ),
        n_s AS (
          SELECT source, CAST(SUM(f) AS BIGINT) AS n
          FROM tf WHERE term IN (SELECT term FROM keep)
          GROUP BY source
        ),
        grid AS (
          SELECT s.source, k.term, s.n, COALESCE(tf.f, 0) AS f
          FROM n_s s CROSS JOIN keep k
          LEFT JOIN tf ON tf.source = s.source AND tf.term = k.term
        ),
        pairs AS (
          SELECT a.source AS source_a, b.source AS source_b,
                 list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(
                     (CAST(a.f + 1 AS DOUBLE) / (a.n + {CHI2_V})
                      - CAST(b.f + 1 AS DOUBLE) / (b.n + {CHI2_V}))
                     * (CAST(a.f + 1 AS DOUBLE) / (a.n + {CHI2_V})
                        - CAST(b.f + 1 AS DOUBLE) / (b.n + {CHI2_V}))
                     / (CAST(b.f + 1 AS DOUBLE) / (b.n + {CHI2_V}))))),
                   (acc, v) -> acc + v) AS chi2_div
          FROM grid a JOIN grid b
            ON b.term = a.term AND a.source < b.source
          GROUP BY 1, 2
        )
        SELECT source_a, source_b, chi2_div FROM pairs
    """,
    doc="Chi-square divergence between every unordered pair of "
        "per-source unigram distributions on the top-"
        f"{CHI2_V} corpus vocabulary, add-one smoothed: "
        "sum_t (p_a - p_b)^2 / p_b — the polynomial-arithmetic "
        "divergence (KL would need ln(), which is not correctly "
        "rounded cross-engine; chi2's per-term contribution is an "
        "exact rational evaluated in identical IEEE steps). The "
        "source-drift matrix a mixture-balancing pipeline reads "
        "before setting sampling weights, sharper-tailed than the "
        "registered TV distance (it squares the gaps). Per-pair "
        "sums fold the SORTED term array from a 0.0 seed on both "
        "engines (the recorded deterministic-double-reduction "
        "idiom). The vocabulary cap keeps the grid bounded "
        "(sources x V rows) no matter the corpus size; the keep-"
        "list rank window sits over the term-count AGGREGATE, never "
        "raw rows. Plan: one tokenize-explode feeding a map-side-"
        "combinable (source, term) count — the only corpus-scale "
        "work — then bounded keep-list join, bounded pair grid, "
        "sources^2/2 rows out.",
    tags=("staged", "text", "statistics", "quality"),
)
def chi2_divergence_source_unigrams(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    tf = (load(spark, sf_dir, "documents")
          .select("source",
                  F.explode(F.split("text", " ")).alias("term"))
          .filter(F.col("term") != "")
          .groupBy("source", "term")
          .agg(F.count(F.lit(1)).cast("long").alias("f")))
    tf = tf.localCheckpoint()  # vocab-sized; feeds keep, n_s and grid
    keep = (tf.groupBy("term").agg(F.sum("f").alias("tot"))
              .select("term", F.row_number().over(
                  Window.orderBy(F.desc("tot"), "term")).alias("rnk"))
              .filter(F.col("rnk") <= CHI2_V)
              .select("term"))
    n_s = (tf.join(F.broadcast(keep), "term")
             .groupBy("source").agg(F.sum("f").cast("long").alias("n")))
    grid = (n_s.crossJoin(F.broadcast(keep))
               .join(tf, ["source", "term"], "left")
               .selectExpr("source", "term", "n",
                           "COALESCE(f, CAST(0 AS BIGINT)) AS f"))
    a = grid.selectExpr("source AS source_a", "term", "n AS na",
                        "f AS fa")
    b = grid.selectExpr("source AS source_b", "term AS term_b",
                        "n AS nb", "f AS fb")
    pa = f"(CAST(fa + 1 AS DOUBLE) / (na + {CHI2_V}))"
    pb = f"(CAST(fb + 1 AS DOUBLE) / (nb + {CHI2_V}))"
    pairs = (a.join(b, (F.col("term_b") == F.col("term"))
                    & (F.col("source_a") < F.col("source_b")))
              .selectExpr("source_a", "source_b",
                          f"({pa} - {pb}) * ({pa} - {pb}) / {pb}"
                          " AS t_term")
              .groupBy("source_a", "source_b")
              .agg(F.expr(
                  "aggregate(array_sort(collect_list(t_term)),"
                  " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
                  .alias("chi2_div")))
    return pairs
