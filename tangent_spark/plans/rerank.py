"""Second-stage reranking (SURVEY.md §2.6): Dice prefilter -> MSS
rescore -> doc aggregation -> math+text score combination.

Mirrors the reference's shipped pipeline (rerank script: metric v04,
window 4): the engine's Dice top-k supplies candidates, each candidate
SLT is re-scored against the query by Maximum Subtree Similarity in a
vectorized pandas stage (the tree algorithm is pure Python; Arrow moves
the strings), results re-sorted by the score vector with id tie-breaks
(R9), documents ranked by (best score, total score) (R10), and final
doc scores optionally mixed with the BM25 text score (R12:
final = w*math + (1-w)*text)."""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tangent_spark.operators.mss import mss_multi_score, mss_score
from tangent_spark.operators.mss_subtree import subtree_similarity
from tangent_spark.operators.slt import mathml_to_slt
from tangent_spark.plans.formula import dice_topk_exprs
from tangent_spark.sources.store import IndexStore

MSS_SCHEMA = (
    "expr_id long, slt string, mss_f double, neg_unmatched int, exact_matches int"
)

# metric name -> per-pair scorer returning (f, neg_unmatched, exact).
# v04 = shipped `rerank` script default (operators/mss.py, greedy-gated
# growth); v05 = multi-alignment merge; v11 = the NTCIR-12 submission
# metric (subtree-unification matching + m4 scores; golden-parity vs
# reranked_paper_m4_w0_e2.tsv). The full family incl. v00/v02/v03 and
# v06-v10 lives in operators/{pairs_rank,mss_subtree}.
_SCORERS = {
    "v04": mss_score,
    "v05": mss_multi_score,
    "v11": lambda q, c: subtree_similarity(q, c, scoring="m4"),
}


def mss_rescore(candidates: DataFrame, query_slt: str, metric: str = "v04") -> DataFrame:
    """(expr_id, slt, ...) -> + score vector columns for the chosen
    rerank metric (v04 or v11; both emit (f, -unmatched, exact))."""
    score_fn = _SCORERS[metric]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for expr_id, slt in zip(pdf["expr_id"], pdf["slt"]):
                f, neg_un, exact = score_fn(query_slt, slt)
                rows.append(
                    {
                        "expr_id": int(expr_id),
                        "slt": slt,
                        "mss_f": f,
                        "neg_unmatched": int(neg_un),
                        "exact_matches": int(exact),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=["expr_id", "slt", "mss_f", "neg_unmatched", "exact_matches"],
            )

    return candidates.select("expr_id", "slt").mapInPandas(kernel, schema=MSS_SCHEMA)


def rerank_topk(
    spark: SparkSession,
    store: IndexStore,
    query_mathml: str,
    k: int,
    prefilter_k: Optional[int] = None,
    metric: str = "v04",
) -> DataFrame:
    """Full second-stage pipeline: Dice top-(prefilter_k) candidates
    re-scored by the chosen metric, re-sorted by (mss_f desc,
    -unmatched desc, exact desc, expr_id asc) — the reference's R9
    score-vector sort."""
    query_slt = mathml_to_slt(query_mathml)
    if not query_slt:
        return spark.createDataFrame([], MSS_SCHEMA)
    cands = dice_topk_exprs(spark, store, query_mathml, prefilter_k or 10 * k)
    rescored = mss_rescore(cands, query_slt, metric)
    return rescored.orderBy(
        F.desc("mss_f"),
        F.desc("neg_unmatched"),
        F.desc("exact_matches"),
        F.asc("expr_id"),
    ).limit(k)


def rerank_docs(
    spark: SparkSession,
    store: IndexStore,
    query_mathml: str,
    k: int,
    prefilter_k: Optional[int] = None,
) -> DataFrame:
    """R10: per-document aggregation of reranked formula scores."""
    exprs = rerank_topk(spark, store, query_mathml, k * 10, prefilter_k)
    docs = store.read(spark, "f_docs")
    return (
        exprs.join(docs, "expr_id")
        .groupBy("doc_id")
        .agg(
            F.max("mss_f").alias("best_score"),
            F.sum("mss_f").alias("total_score"),
            F.count("*").alias("n_exprs"),
        )
        .orderBy(F.desc("best_score"), F.desc("total_score"), F.asc("doc_id"))
        .limit(k)
    )


def pad_topk(rows: list, k: int, score_key: str = "final_score") -> list:
    """R13: force EXACTLY k output rows (reference comp_query.py:334-354).
    When fewer than k documents exist, the reference cycles through the
    result list (idx % len) and assigns every repeated filler the MINIMUM
    (last) score; ranks are always 1..k. Returns [(rank, score, row)].
    Driver-side by design — this is an output-harness quirk applied to an
    already-collected top-k list, not a distributed operator."""
    if not rows or k <= 0:
        return []
    min_score = rows[-1][score_key]
    out = []
    for idx in range(k):
        row = rows[idx % len(rows)]
        score = row[score_key] if idx < len(rows) else min_score
        out.append((idx + 1, score, row))
    return out


def combine_math_text(
    math_scores: DataFrame,
    text_scores: DataFrame,
    weight: Optional[float] = None,
    n_exprs: int = 1,
    n_keywords: int = 0,
) -> DataFrame:
    """R12: final = w*math + (1-w)*text_norm, joined on doc_id.
    weight defaults to the reference's dynamic rule
    #exprs/(#exprs+#keywords) (comp_query.py:255-291); text scores are
    normalized by their max (the reference consumes score/maxScore from
    Solr)."""
    if weight is None:
        denom = n_exprs + n_keywords
        weight = (n_exprs / denom) if denom else 1.0
    tmax = text_scores.agg(F.max("score").alias("tmax"))
    t = (
        text_scores.crossJoin(F.broadcast(tmax))
        .select(
            "doc_id",
            (F.col("score") / F.when(F.col("tmax") > 0, F.col("tmax")).otherwise(1.0)).alias(
                "text_norm"
            ),
        )
    )
    m = math_scores.select("doc_id", F.col("best_score").alias("math_score"))
    return (
        m.join(t, "doc_id", "outer")
        .na.fill({"math_score": 0.0, "text_norm": 0.0})
        .withColumn(
            "final_score",
            F.lit(weight) * F.col("math_score") + F.lit(1.0 - weight) * F.col("text_norm"),
        )
        .orderBy(F.desc("final_score"), F.asc("doc_id"))
    )
