"""Round-10 promoted bank (staged as staged/round12c.py): MMR diversity re-ranking over
the shared deterministic retrieval panel — a genuine LLM-pipeline
retrieval operator (maximal marginal relevance, Carbonell-Goldstein)
Spark has no built-in for, expressed as a bounded greedy fold.

The greedy argmax fold was prototyped on BOTH engines first (Spark
``aggregate`` with a struct accumulator / DuckDB ``list_reduce`` with
a struct-wrapped seed — DuckDB requires seed and element types to
match, so the step elements are dummy structs of the accumulator
type). Candidate-candidate similarity uses embeddings NORMALIZED once
per candidate (index-order fold for the norm — deterministic because
the order is positional); all constants route through repr() string
literals (the bare-decimal poison rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.registry import query
from de_project_airflow_etl_spark.tables import load
from de_project_airflow_etl_spark.queries.util import (
    dlit, fold_spark, fold_sql,
)


MMR_K_CAND = 12   # candidate pool per anchor
MMR_K_OUT = 5     # re-ranked list length
MMR_LAMBDA = 0.7  # relevance weight; 1-lambda penalizes redundancy

# the shared deterministic 20-anchor panel (diagnostics.NDCG_* consts)
_ANCHOR_STEP = 25
_ANCHOR_OFF = 10

# ---- shared per-engine expression fragments ------------------------

# greedy MMR selection over the rn-sorted candidate array `cands`
# (struct rel, cosv, embn): returns the selected 1-based indices.
_SEL_SPARK = f"""
  aggregate(
    sequence(1, {MMR_K_OUT}),
    named_struct('sel', CAST(array() AS ARRAY<INT>)),
    (acc, stp) -> named_struct('sel', array_append(acc.sel,
      aggregate(
        transform(sequence(1, size(cands)), i -> named_struct('bi', i,
          'bs',
          CASE WHEN array_contains(acc.sel, i)
               THEN CAST('-1e18' AS DOUBLE)
               ELSE {dlit(MMR_LAMBDA)} * element_at(cands, i).cosv
                    - {dlit(1 - MMR_LAMBDA)} * COALESCE(array_max(
                      transform(acc.sel, j ->
                        aggregate(transform(
                            sequence(1, size(element_at(cands, i).embn)),
                            k -> element_at(element_at(cands, i).embn, k)
                                 * element_at(element_at(cands, j).embn,
                                              k)),
                          CAST(0.0 AS DOUBLE), (a, v) -> a + v))),
                      CAST(0.0 AS DOUBLE)) END)),
        named_struct('bi', 0, 'bs', CAST('-1e18' AS DOUBLE)),
        (b, x) -> CASE WHEN x.bs > b.bs THEN x ELSE b END).bi)),
    acc -> acc.sel)
"""

_SEL_SQL = f"""
  list_reduce(
    list_prepend(struct_pack(sel := CAST([] AS INTEGER[])),
      list_transform(generate_series(1, {MMR_K_OUT}),
        s -> struct_pack(sel := CAST([] AS INTEGER[])))),
    (acc, stp) -> struct_pack(sel := list_append(acc.sel,
      list_reduce(
        list_prepend(struct_pack(bi := 0,
                                 bs := CAST('-1e18' AS DOUBLE)),
          list_transform(generate_series(1, len(cands)),
            i -> struct_pack(bi := i, bs :=
            CASE WHEN list_contains(acc.sel, i)
                 THEN CAST('-1e18' AS DOUBLE)
                 ELSE {dlit(MMR_LAMBDA)} * cands[i].cosv
                      - {dlit(1 - MMR_LAMBDA)} * COALESCE(list_max(
                        list_transform(acc.sel, j ->
                          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                            list_transform(
                              generate_series(1, len(cands[i].embn)),
                              k -> cands[i].embn[k] * cands[j].embn[k])),
                            (a, v) -> a + v))),
                        CAST(0.0 AS DOUBLE)) END))),
        (b, x) -> CASE WHEN x.bs > b.bs THEN x ELSE b END).bi))
  ).sel
"""


def _rel_sum(engine: str, idx_list: str) -> str:
    get = ("element_at(cands, i).rel" if engine == "spark"
           else "cands[i].rel")
    tr = "transform" if engine == "spark" else "list_transform"
    agg = (f"aggregate({tr}({idx_list}, i -> CAST({get} AS BIGINT)), "
           "CAST(0 AS BIGINT), (a, v) -> a + v)"
           if engine == "spark" else
           f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
           f"list_transform({idx_list}, i -> CAST({get} AS BIGINT))), "
           "(a, v) -> a + v)")
    return agg


def _ild(engine: str, idx_list: str) -> str:
    """mean pairwise (1 - cos) among the candidates at `idx_list`
    positions — 10 double terms, sorted fold."""
    if engine == "spark":
        dot = ("aggregate(transform(sequence(1,"
               " size(element_at(cands, element_at(ix, a)).embn)),"
               " k -> element_at(element_at(cands,"
               " element_at(ix, a)).embn, k)"
               " * element_at(element_at(cands,"
               " element_at(ix, b)).embn, k)),"
               " CAST(0.0 AS DOUBLE), (x, v) -> x + v)")
        pairs = (f"flatten(transform(sequence(1, size(ix) - 1),"
                 f" a -> transform(sequence(a + 1, size(ix)),"
                 f" b -> CAST(1.0 AS DOUBLE) - {dot})))")
        fold = fold_spark(pairs)
        n_pairs = "(size(ix) * (size(ix) - 1) / 2)"
    else:
        dot = ("list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
               " list_transform(generate_series(1,"
               " len(cands[ix[a]].embn)),"
               " k -> cands[ix[a]].embn[k] * cands[ix[b]].embn[k])),"
               " (x, v) -> x + v)")
        pairs = (f"flatten(list_transform(generate_series(1,"
                 f" len(ix) - 1),"
                 f" a -> list_transform(generate_series(a + 1, len(ix)),"
                 f" b -> CAST(1.0 AS DOUBLE) - {dot})))")
        fold = fold_sql(pairs)
        n_pairs = "(len(ix) * (len(ix) - 1) / 2)"
    return f"{fold} / {n_pairs}".replace("ix", idx_list)


_SQL_NORM = ("SQRT(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
             "list_transform(generate_series(1, len(e.embedding)), "
             "k -> CAST(e.embedding[k] AS DOUBLE) "
             "* CAST(e.embedding[k] AS DOUBLE))), (a, v) -> a + v))")

_SQL_QNORM = _SQL_NORM.replace("e.embedding", "a.qv")

_SQL_CNORM = _SQL_NORM.replace("e.embedding", "embedding")

_SQL_DOT = ("list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            "list_transform(generate_series(1, len(e.embedding)), "
            "k -> CAST(e.embedding[k] AS DOUBLE) "
            "* CAST(a.qv[k] AS DOUBLE))), (a2, v) -> a2 + v)")


@query(
    "mmr_rerank_retrieval",
    oracle=f"""
        WITH anchors AS (
          SELECT vec_id AS qid, label AS q_label, embedding AS qv
          FROM embeddings
          WHERE vec_id % {_ANCHOR_STEP} = {_ANCHOR_OFF}
            AND vec_id < {_ANCHOR_OFF + 500}
        ),
        scored AS (
          SELECT a.qid, e.vec_id, e.embedding,
                 CASE WHEN e.label = a.q_label THEN 1 ELSE 0 END AS rel,
                 {_SQL_DOT} / ({_SQL_NORM} * {_SQL_QNORM}) AS cosv
          FROM embeddings e CROSS JOIN anchors a
          WHERE e.vec_id <> a.qid
        ),
        ranked AS (
          SELECT qid, rel, cosv, embedding,
                 ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY cosv DESC, vec_id) AS rn
          FROM scored
        ),
        cand AS (
          -- normalize ONLY the <= 12 surviving candidates per anchor
          SELECT qid, rn, rel, cosv,
                 list_transform(generate_series(1, len(embedding)),
                   k -> CAST(embedding[k] AS DOUBLE) / {_SQL_CNORM})
                   AS embn
          FROM ranked WHERE rn <= {MMR_K_CAND}
        ),
        grouped AS (
          SELECT qid,
                 list(struct_pack(rel := rel, cosv := cosv,
                                  embn := embn) ORDER BY rn) AS cands
          FROM cand GROUP BY qid
        ),
        sel AS (
          SELECT qid, cands, {_SEL_SQL} AS chosen,
                 list_transform(generate_series(1, {MMR_K_OUT}),
                   i -> i) AS plain
          FROM grouped
        ),
        per AS (
          SELECT qid,
                 {_rel_sum("sql", "chosen")} AS rel_mmr,
                 {_rel_sum("sql", "plain")} AS rel_plain,
                 {_ild("sql", "chosen")} AS ild_mmr,
                 {_ild("sql", "plain")} AS ild_plain
          FROM sel
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
               {fold_sql("list(CAST(rel_plain AS DOUBLE))")} / COUNT(*)
                 AS mean_rel_plain,
               {fold_sql("list(CAST(rel_mmr AS DOUBLE))")} / COUNT(*)
                 AS mean_rel_mmr,
               {fold_sql("list(ild_plain)")} / COUNT(*)
                 AS mean_ild_plain,
               {fold_sql("list(ild_mmr)")} / COUNT(*) AS mean_ild_mmr
        FROM per
    """,
    doc="Maximal-marginal-relevance re-ranking (Carbonell-Goldstein) "
        "over the shared deterministic 20-anchor retrieval panel: "
        "from each anchor's top-12 cosine candidates, greedily pick 5 "
        "maximizing lambda*relevance_to_query - (1-lambda)*max_"
        "similarity_to_already_picked (lambda=0.7) — THE standard "
        "diversity re-ranker for RAG context assembly and dedup-"
        "aware retrieval, which Spark has no operator for. The panel "
        "reports mean top-5 label-relevance and intra-list diversity "
        "for the PLAIN ranking vs the MMR ranking — construction "
        "guarantees mean_ild_mmr >= mean_ild_plain (tested). The "
        "greedy argmax is a BOUNDED in-array fold (5 steps x 12 "
        "candidates x 64-dim dots) with a struct accumulator, "
        "identical semantics both engines (ties -> lowest index; "
        "max over selected is order-free; dots fold in positional "
        "order; constants are repr() string literals). Candidates "
        "carry once-normalized embeddings so candidate-candidate "
        "cosine is a plain dot. Plan: ONE corpus scan with the "
        "broadcast 20-anchor panel, top-12 rank rides "
        "WindowGroupLimit partial pushdown, then 20 single-row "
        "folds — the corpus never shuffles.",
    tags=("similarity", "evaluation"),
)
def mmr_rerank_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    norm = ("SQRT(aggregate(transform(sequence(1, size(embedding)),"
            " k -> CAST(element_at(embedding, k) AS DOUBLE)"
            " * CAST(element_at(embedding, k) AS DOUBLE)),"
            " CAST(0.0 AS DOUBLE), (a, v) -> a + v))")
    qnorm = norm.replace("embedding", "qv")
    # Norms hoisted BELOW the broadcast join (r10 optimization): the
    # corpus-side norm does not depend on the anchor, and the anchor
    # norm not on the corpus row, yet the fused expression evaluated
    # both per (vector, anchor) pair — 3x the fold work. Projecting
    # them once per side is bit-identical (same fold, same operands,
    # one multiply) and the join boundary stops CollapseProject from
    # re-inlining them.
    anchors = (e.filter(
                  (F.col("vec_id") % _ANCHOR_STEP == _ANCHOR_OFF)
                  & (F.col("vec_id") < _ANCHOR_OFF + 500))
                .select(F.col("vec_id").alias("qid"),
                        F.col("label").alias("q_label"),
                        F.col("embedding").alias("qv"))
                .selectExpr("qid", "q_label", "qv", f"{qnorm} AS qn"))
    ev = e.selectExpr("vec_id", "label", "embedding", f"{norm} AS en")
    dot = ("aggregate(transform(sequence(1, size(embedding)),"
           " k -> CAST(element_at(embedding, k) AS DOUBLE)"
           " * CAST(element_at(qv, k) AS DOUBLE)),"
           " CAST(0.0 AS DOUBLE), (a2, v) -> a2 + v)")
    scored = (ev.crossJoin(F.broadcast(anchors))
               .filter(F.col("vec_id") != F.col("qid"))
               .selectExpr(
                   "qid",
                   "vec_id",
                   "embedding",
                   "en",
                   "CASE WHEN label = q_label THEN 1 ELSE 0 END AS rel",
                   f"{dot} / (en * qn) AS cosv"))
    w = Window.partitionBy("qid").orderBy(F.desc("cosv"), "vec_id")
    grouped = (scored
               .withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") <= MMR_K_CAND)
               # normalize ONLY the <= 12 surviving candidates
               .selectExpr("qid", "rn", "rel", "cosv",
                           "transform(sequence(1, size(embedding)),"
                           " k -> CAST(element_at(embedding, k)"
                           " AS DOUBLE) / en) AS embn")
               .groupBy("qid")
               .agg(F.expr("transform(array_sort(collect_list("
                           "struct(rn, rel, cosv, embn))),"
                           " x -> struct(x.rel AS rel, x.cosv AS cosv,"
                           " x.embn AS embn))").alias("cands")))
    sel = grouped.selectExpr(
        "qid", "cands", f"{_SEL_SPARK} AS chosen",
        f"transform(sequence(1, {MMR_K_OUT}), i -> i) AS plain")
    per = sel.selectExpr(
        "qid",
        f"{_rel_sum('spark', 'chosen')} AS rel_mmr",
        f"{_rel_sum('spark', 'plain')} AS rel_plain",
        f"{_ild('spark', 'chosen')} AS ild_mmr",
        f"{_ild('spark', 'plain')} AS ild_plain")
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.expr(fold_spark("collect_list(CAST(rel_plain AS DOUBLE))")
               + " / COUNT(*)").alias("mean_rel_plain"),
        F.expr(fold_spark("collect_list(CAST(rel_mmr AS DOUBLE))")
               + " / COUNT(*)").alias("mean_rel_mmr"),
        F.expr(fold_spark("collect_list(ild_plain)") + " / COUNT(*)")
         .alias("mean_ild_plain"),
        F.expr(fold_spark("collect_list(ild_mmr)") + " / COUNT(*)")
         .alias("mean_ild_mmr"))
