"""Round-10 promoted bank (staged as staged/round17.py): cross-distribution normalization (full
quantile normalization of per-source document lengths onto the pooled
distribution), density-based clustering (DBSCAN-style grid clustering
of the embedding cloud via dense-cell connected components), and
link-analysis duality (HITS hub/authority scores on the user-to-
event-type bipartite graph).

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
from de_project_airflow_etl_spark.queries.util import wide


# ---------------------------------------------------------------------
# Full quantile normalization of per-source document lengths onto the
# pooled length distribution — the bioinformatics-standard transform
# that forces every group's distribution to coincide. The per-rank
# mapping collapses to a CLOSED FORM on value cells: within source s,
# ranks r = 1..n_s map to pooled cell j iff
# floor(pcum_{j-1}*n_s/N) < r <= floor(pcum_j*n_s/N), so the number of
# ranks a source draws from each pooled cell is a difference of two
# integer floor-divisions — no per-row rank, no per-rank evaluation,
# and the per-source normalized SUM is exact.


@query(
    "quantile_normalize_source_chars",
    oracle=f"""
        WITH cells AS (
          SELECT source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM documents GROUP BY 1, 2
        ),
        src AS (
          SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_s,
                 CAST(SUM(CAST(v AS HUGEINT) * cnt) AS HUGEINT)
                   AS raw_sum
          FROM cells GROUP BY 1
        ),
        pooled AS (
          SELECT v, CAST(SUM(cnt) AS BIGINT) AS pcnt FROM cells
          GROUP BY 1
        ),
        pc AS (
          SELECT v,
                 CAST(SUM(pcnt) OVER (ORDER BY v) AS HUGEINT) AS pcum,
                 CAST(COALESCE(SUM(pcnt) OVER (
                        ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS HUGEINT) AS pprev
          FROM pooled
        ),
        nn AS (SELECT CAST(SUM(pcnt) AS HUGEINT) AS n FROM pooled),
        takes AS (
          SELECT src.source,
                 CAST(pc.v AS HUGEINT)
                   * (LEAST(pc.pcum * src.n_s // nn.n,
                            CAST(src.n_s AS HUGEINT))
                      - LEAST(pc.pprev * src.n_s // nn.n,
                              CAST(src.n_s AS HUGEINT))) AS vsum
          FROM src, pc, nn
        )
        SELECT src.source, src.n_s AS n_docs,
               {wide("src.raw_sum")} / src.n_s AS raw_mean_chars,
               {wide("SUM(takes.vsum)")} / src.n_s
                 AS qnorm_mean_chars
        FROM takes JOIN src ON takes.source = src.source
        GROUP BY src.source, src.n_s, src.raw_sum
    """,
    doc="Full quantile normalization of per-source document lengths "
        "onto the pooled corpus distribution — the transform "
        "(microarray/bioinformatics standard) that replaces each "
        "group's r-th order statistic with the pooled r/n quantile, "
        "removing between-source distribution shift while preserving "
        "each document's within-source rank. The per-rank mapping "
        "collapses to a CLOSED FORM on value cells: the number of "
        "source-s ranks drawn from pooled cell j is "
        "floor(pcum_j*n_s/N) - floor(pcum_{{j-1}}*n_s/N) (type-1 "
        "quantiles), so the normalized per-source SUM is exact "
        "integer arithmetic over (sources x pooled-cells) — no "
        "per-row rank window, no data-sized shuffle; reported as "
        "raw vs normalized mean per source. Plan: one scan, one "
        "(source, chars)-cell aggregate, a pooled-cell cumulation, "
        "and a 20 x ~520 bounded panel product (both sides "
        "checkpointed aggregates).",
    tags=("transform", "statistics"),
)
def quantile_normalize_source_chars(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    cells = (load(spark, sf_dir, "documents")
             .groupBy("source", F.col("n_chars").alias("v"))
             .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
             .localCheckpoint())  # value-domain-bounded cells
    src = (cells.groupBy("source")
           .agg(F.expr("CAST(SUM(cnt) AS BIGINT)").alias("n_s"),
                F.expr("CAST(SUM(CAST(v AS DECIMAL(38,0)) * cnt)"
                       " AS DECIMAL(38,0))").alias("raw_sum")))
    pooled = (cells.groupBy("v")
              .agg(F.expr("CAST(SUM(cnt) AS BIGINT)").alias("pcnt"))
              .localCheckpoint())
    w = Window.orderBy("v")
    pc = pooled.select(
        "v",
        F.sum("pcnt").over(w.rowsBetween(Window.unboundedPreceding, 0))
         .cast("decimal(38,0)").alias("pcum"),
        F.expr("CAST(COALESCE(SUM(pcnt) OVER (ORDER BY v ROWS BETWEEN"
               " UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
               " AS DECIMAL(38,0))").alias("pprev"))
    nn = pooled.agg(
        F.expr("CAST(SUM(pcnt) AS DECIMAL(38,0))").alias("n"))
    takes = (src.crossJoin(pc)
                .crossJoin(F.broadcast(nn))
                .selectExpr(
                    "source", "n_s", "raw_sum",
                    "CAST(v AS DECIMAL(38,0))"
                    " * (LEAST(pcum * n_s div n, n_s)"
                    "    - LEAST(pprev * n_s div n, n_s)) AS vsum"))
    return (takes.groupBy("source", "n_s", "raw_sum")
            .agg(F.expr("SUM(vsum)").alias("qsum"))
            .selectExpr("source", "n_s AS n_docs",
                        f"{wide('raw_sum')} / n_s AS raw_mean_chars",
                        f"{wide('qsum')} / n_s AS qnorm_mean_chars"))


# ---------------------------------------------------------------------
# DBSCAN-style density clustering of the embedding cloud, grid
# variant: quantize the first two embedding dimensions onto an
# eps = 1/16 grid, keep cells with >= 5 points (dense), and connect
# 8-adjacent dense cells into clusters via connected components —
# density-based clustering (arbitrary-shape, noise-aware), the family
# k-means cells (semdedup/ann_ivf) cannot express. Cell coordinates
# are exact on both engines: float32 -> double is exact and *16 is a
# power-of-two scale, so FLOOR agrees bit-for-bit.

_DB_GRID = 16
_DB_MINPTS = 5
_DB_OFF = 1000          # coordinate shift to make encoded ids positive
_DB_ENC = 100000        # id = (cx + OFF) * ENC + (cy + OFF)

_DB_CELLS_SQL = f"""
        pts AS (
          SELECT CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * {_DB_GRID})
                      AS BIGINT) AS cx,
                 CAST(FLOOR(CAST(embedding[2] AS DOUBLE) * {_DB_GRID})
                      AS BIGINT) AS cy
          FROM embeddings
        ),
        cells AS (
          SELECT cx, cy, CAST(COUNT(*) AS BIGINT) AS npts
          FROM pts GROUP BY 1, 2
        ),
        dense AS (
          SELECT (cx + {_DB_OFF}) * {_DB_ENC} + cy + {_DB_OFF} AS id,
                 cx, cy, npts
          FROM cells WHERE npts >= {_DB_MINPTS}
        )
"""


@query(
    "dbscan_grid_embedding_clusters",
    oracle=f"""
        WITH RECURSIVE {_DB_CELLS_SQL},
        offs(dx, dy) AS (
          VALUES (-1, -1), (-1, 0), (-1, 1), (0, -1),
                 (0, 1), (1, -1), (1, 0), (1, 1)
        ),
        edges AS (
          SELECT a.id AS src, b.id AS dst
          FROM dense a JOIN offs ON TRUE
          JOIN dense b ON b.cx = a.cx + offs.dx
                      AND b.cy = a.cy + offs.dy
        ),
        reach(src, dst) AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e
            ON r.dst = e.src
        ),
        labels AS (
          SELECT d.id,
                 LEAST(d.id, COALESCE(MIN(r.dst), d.id))
                   AS cluster_id
          FROM dense d LEFT JOIN reach r ON r.src = d.id
          GROUP BY d.id
        )
        SELECT l.cluster_id,
               CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST(SUM(d.npts) AS BIGINT) AS n_points,
               MIN(d.cx) AS min_cx, MAX(d.cx) AS max_cx,
               MIN(d.cy) AS min_cy, MAX(d.cy) AS max_cy
        FROM labels l JOIN dense d ON d.id = l.id
        GROUP BY 1
    """,
    doc="DBSCAN-style density-based clustering of the embedding "
        "cloud (grid variant): the first two embedding dimensions "
        "quantize onto an eps=1/16 grid, cells with >= 5 points are "
        "dense, and 8-adjacent dense cells merge into clusters via "
        "connected components — the arbitrary-shape, noise-aware "
        "clustering family the registry's centroid methods (k-means "
        "cells, semdedup) cannot express; sparse cells are noise. "
        "Grid coords are bit-exact cross-engine (float32->double is "
        "exact, *16 is a power-of-two scale, FLOOR agrees). Spark "
        "runs the components as ONE bounded min-label fold over the "
        "collected cell-graph edge list (exact: size(nodes) "
        "synchronous rounds reach every component minimum; r10 "
        "optimization replacing the alternating-star loop, whose "
        "per-round probe jobs dominated on this bounded graph); the "
        "oracle is a recursive-CTE closure over the same cell ids. "
        "Scale: ONE corpus pass to value-domain-bounded grid cells; "
        "neighbor edges are EQUI-joins on shifted cell keys (8 fixed "
        "offsets), never a distance self-join; CC runs on the "
        "cell graph, whose size is bounded by the embedding-space "
        "volume / eps^2, independent of row count.",
    tags=("clustering", "graph", "iterative"),
)
def dbscan_grid_embedding_clusters(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    dense = (load(spark, sf_dir, "embeddings")
             .selectExpr(
                 f"CAST(FLOOR(CAST(embedding[0] AS DOUBLE) * {_DB_GRID})"
                 " AS BIGINT) AS cx",
                 f"CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * {_DB_GRID})"
                 " AS BIGINT) AS cy")
             .groupBy("cx", "cy")
             .agg(F.count(F.lit(1)).cast("long").alias("npts"))
             .filter(f"npts >= {_DB_MINPTS}")
             .selectExpr(
                 f"(cx + {_DB_OFF}) * {_DB_ENC} + cy + {_DB_OFF} AS id",
                 "cx", "cy", "npts")
             .localCheckpoint())  # bounded dense-cell table
    offs = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)
         if (dx, dy) != (0, 0)], ["dx", "dy"])
    nbr = (dense.crossJoin(F.broadcast(offs))
                .selectExpr("id AS src", "cx + dx AS nx",
                            "cy + dy AS ny"))
    edges = (nbr.join(dense.selectExpr("id AS dst", "cx AS bx",
                                       "cy AS by"),
                      (F.col("nx") == F.col("bx"))
                      & (F.col("ny") == F.col("by")))
                .filter("src < dst")
                .selectExpr("src AS doc_a", "dst AS doc_b"))
    # CC as ONE bounded min-label fold (r10 optimization): the cell
    # graph is VALUE-DOMAIN-bounded (<= (2*_DB_GRID)^2 nodes for
    # unit-range embeddings — the same boundedness claim the query
    # already makes), so the alternating-star loop's ~10 per-round
    # probe/checkpoint jobs are pure overhead here. Collect the
    # bounded edge list into one row (same class as the broadcast
    # panels), build positional adjacency once, then fold synchronous
    # min-label rounds: round r gives every node the min id within r
    # hops, so size(nodes) rounds guarantee exact convergence to the
    # component minimum — the identical labels _connected_components
    # returns — with a no-op guard after stabilization. Checkpoints
    # between the three projections stop CollapseProject from
    # re-inlining the aliased arrays inside the lambdas (the
    # winnowing_fingerprints lesson).
    one = (edges.groupBy()
                .agg(F.expr("sort_array(collect_list(struct("
                            "doc_a AS a, doc_b AS b)))").alias("es")))
    # the boundedness the single-row fold rests on is a DATA property
    # (unit-range embeddings -> <= (2*GRID)^2 cells); guard it with an
    # explicit assert so a domain break fails loudly BEFORE the fold
    # goes quadratic in-row instead of OOMing an executor (ADVICE r10).
    # Bound: 64*GRID^2 allows embeddings up to ~4x outside unit range
    # before refusing — ample slack, still panel-sized.
    _db_node_cap = 64 * _DB_GRID * _DB_GRID
    p1 = (one.selectExpr(
              "es",
              "sort_array(array_distinct(concat("
              "transform(es, e -> e.a), transform(es, e -> e.b))))"
              " AS nodes")
             .filter(F.expr(
                 f"assert_true(size(nodes) <= {_db_node_cap},"
                 f" 'dbscan cell graph exceeds the value-domain bound"
                 f" ({_db_node_cap} nodes): embeddings are far outside"
                 f" the unit range; the single-row CC fold refuses'"
                 f") IS NULL"))
             .localCheckpoint())  # one bounded row
    p2 = (p1.selectExpr(
              "nodes",
              "transform(nodes, x -> transform("
              "filter(es, e -> e.a = x OR e.b = x),"
              " e -> CAST(array_position(nodes,"
              " IF(e.a = x, e.b, e.a)) AS INT))) AS adj")
             .localCheckpoint())  # one bounded row
    new_lab = ("transform(sequence(1, size(nodes)), i -> least("
               "element_at(acc.lab, i), array_min(transform("
               "element_at(adj, i), j -> element_at(acc.lab, j)))))")
    fold = (f"aggregate(sequence(1, size(nodes)),"
            f" named_struct('lab', nodes, 'done', false),"
            f" (acc, r) -> IF(acc.done, acc,"
            f" named_struct('lab', {new_lab},"
            f" 'done', {new_lab} = acc.lab)),"
            f" acc -> acc.lab)")
    labels = (p2.selectExpr(
                  "nodes",
                  f"IF(size(nodes) = 0, array(), {fold}) AS lab")
                .select(F.expr("explode(arrays_zip(nodes, lab))")
                         .alias("z"))
                .selectExpr("z.nodes AS id", "z.lab AS cid"))
    return (dense.join(labels, "id", "left")
                 .selectExpr("COALESCE(cid, id) AS cluster_id",
                             "npts", "cx", "cy")
                 .groupBy("cluster_id")
                 .agg(F.count(F.lit(1)).cast("long").alias("n_cells"),
                      F.expr("CAST(SUM(npts) AS BIGINT)")
                       .alias("n_points"),
                      F.min("cx").alias("min_cx"),
                      F.max("cx").alias("max_cx"),
                      F.min("cy").alias("min_cy"),
                      F.max("cy").alias("max_cy")))


# ---------------------------------------------------------------------
# HITS (Kleinberg hubs & authorities) on the weighted user -> event-
# type bipartite graph: authorities are the 5 event types, hubs the
# users, weights the per-(user, type) event counts. Four synchronous
# update rounds in truncating 1e9 fixed point with L1 normalization
# after every half-step keep both engines on the identical integer
# fixed point. The Spark side never materializes per-round user
# tables eagerly — the lineage is LINEAR (each half-step references
# the previous once), and the (user, type) count table is the only
# checkpointed relation, so the corpus is scanned exactly once.

_HITS_SCALE = 10**9
_HITS_ITERS = 4


def _sql_hits_iter(prev_a: str, out: str) -> str:
    s = _HITS_SCALE
    return f"""
        hraw_{out} AS MATERIALIZED (
          SELECT ut.user_id,
                 SUM(CAST(ut.w AS HUGEINT) * pa.a) AS hr
          FROM ut JOIN {prev_a} pa ON ut.t = pa.t
          GROUP BY 1
        ),
        h_{out} AS MATERIALIZED (
          SELECT user_id,
                 (hr * {s}) // (SELECT SUM(hr) FROM hraw_{out}) AS h
          FROM hraw_{out}
        ),
        araw_{out} AS MATERIALIZED (
          SELECT ut.t, SUM(CAST(ut.w AS HUGEINT) * h.h) AS ar
          FROM ut JOIN h_{out} h ON ut.user_id = h.user_id
          GROUP BY 1
        ),
        {out} AS MATERIALIZED (
          SELECT t, (ar * {s}) // (SELECT SUM(ar) FROM araw_{out}) AS a
          FROM araw_{out}
        )
    """


@query(
    "hits_event_type_authority",
    oracle=f"""
        WITH ut AS MATERIALIZED (
          SELECT user_id, event_type AS t,
                 CAST(COUNT(*) AS BIGINT) AS w
          FROM events GROUP BY 1, 2
        ),
        a0 AS MATERIALIZED (
          SELECT DISTINCT t, CAST({_HITS_SCALE // 5} AS HUGEINT) AS a
          FROM ut
        ),
        {",".join(_sql_hits_iter(f"a{k}", f"a{k + 1}")
                  for k in range(_HITS_ITERS))},
        deg AS (
          SELECT t, CAST(SUM(w) AS BIGINT) AS total_events,
                 CAST(COUNT(*) AS BIGINT) AS n_users
          FROM ut GROUP BY 1
        )
        SELECT deg.t AS event_type,
               CAST(af.a AS BIGINT) AS authority_e9,
               deg.total_events, deg.n_users
        FROM deg JOIN a{_HITS_ITERS} af ON af.t = deg.t
    """,
    doc="HITS (Kleinberg hubs-and-authorities) on the weighted "
        "user->event-type bipartite graph — the mutually-recursive "
        "link-analysis dual the registry's PageRank lacks: a type is "
        "authoritative when high-hub users favor it, a user is a "
        "good hub when they favor authoritative types (the weighted "
        "eigenvector of W^T W). Four synchronous rounds in 1e9 "
        "truncating fixed point with L1 renormalization after each "
        "half-step; both engines run the identical integer "
        "recurrence (the pagerank/bradley-terry idiom). Reported at "
        "the bounded authority side (5 rows) alongside raw degree "
        "columns so the score's re-weighting is visible. Scale: ONE "
        "corpus pass to the (user, type) count table (checkpointed, "
        "user-key partitioned); every round is two equi-join "
        "aggregates on that table with scalar-aggregate broadcast "
        "normalizers — no per-round corpus rescan, no data-sized "
        "window.",
    tags=("graph", "iterative", "ranking"),
)
def hits_event_type_authority(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    s = _HITS_SCALE
    # r10 note: two optimization variants were A/B'd and REJECTED as
    # measured losses — (a) a per-user weight-MAP pivot with in-row
    # aggregate() folds (2.46s vs 1.55s merged-before: interpreted
    # map-entry folds lose to codegen joins), and (b) an extra
    # repartition("user_id") before the checkpoint to make the
    # per-round user-keyed operations exchange-free (2.63s: the setup
    # exchange costs more than the per-round exchanges save at this
    # shape). The original two-equi-join round stays.
    ut = (load(spark, sf_dir, "events")
          .groupBy("user_id", F.col("event_type").alias("t"))
          .agg(F.count(F.lit(1)).cast("long").alias("w"))
          .localCheckpoint())  # the single corpus-derived relation
    a = (ut.select("t").distinct()
           .selectExpr("t", f"CAST({s // 5} AS DECIMAL(38,0)) AS a")
           .localCheckpoint())
    for _ in range(_HITS_ITERS):
        hraw = (ut.join(F.broadcast(a.withColumnRenamed("t", "at")),
                        ut.t == F.col("at"))
                  .groupBy("user_id")
                  .agg(F.expr("SUM(CAST(w AS DECIMAL(38,0)) * a)")
                        .alias("hr")))
        htot = hraw.agg(F.expr("SUM(hr)").alias("ht"))
        h = (hraw.crossJoin(F.broadcast(htot))
                 .selectExpr("user_id",
                             f"(hr * {s}) div ht AS h"))
        araw = (ut.join(h, "user_id")
                  .groupBy("t")
                  .agg(F.expr("SUM(CAST(w AS DECIMAL(38,0)) * h)")
                        .alias("ar")))
        atot = araw.agg(F.expr("SUM(ar)").alias("at_"))
        # per-round checkpoint of the 5-row panel truncates the
        # iteration lineage (markov/bradley-terry idiom): without it
        # each scalar broadcast re-executes the whole prior chain
        a = (araw.crossJoin(F.broadcast(atot))
                 .selectExpr("t", f"CAST((ar * {s}) div at_"
                             " AS DECIMAL(38,0)) AS a")
                 .localCheckpoint())
    deg = ut.groupBy("t").agg(
        F.expr("CAST(SUM(w) AS BIGINT)").alias("total_events"),
        F.count(F.lit(1)).cast("long").alias("n_users"))
    return (deg.join(a, "t")
               .selectExpr("t AS event_type",
                           "CAST(a AS BIGINT) AS authority_e9",
                           "total_events", "n_users"))
