"""Phrase rescoring: the edismax `pf` relevance effect at bounded cost.

Solr's edismax `pf` parameter adds an implicit phrase query over the
whole user query so documents where the terms appear TOGETHER rank
above bag-of-words matches (the reference delegated all of this to its
Solr sidecar, SURVEY S12 / ranking/query.py). Lucene exposes the same
effect two ways: as an extra optional clause inside the main query, or
as a second pass over the top window — `QueryRescorer.rescore(searcher,
topDocs, query, weight, windowSize)`, which Elasticsearch ships as the
`rescore` request block. This module implements the second form, the
one that is honest at 10^12 docs:

  1. base: the standard ONE-job block-max WAND top-`window` (every
     pruning invariant intact — rescoring needs no kernel change);
  2. phrase pass over ONLY those `window` docs: the positions scan is
     filtered by the window's doc ids (predicate pushed to parquet),
     so the positional fold is bounded by the window, never the corpus;
  3. final = base + weight * phrase_score, re-sorted, top-k.

The phrase scores like a Lucene PhraseQuery: one synthetic term with
idf = sum of the member terms' idfs (PhraseWeight's combined idf) and
tf = phrase_tf (completion count) through the standard BM25 tf-norm at
the doc's own length. For slop=0 this is exactly Lucene's phraseFreq
scoring; for slop>0 Lucene weights each match 1/(1+distance)
(sloppyFreq) while we count matches — a documented divergence (the
proximity SIGNAL is the same; the within-doc weighting differs).

Known rescore semantics caveat (inherent, same as Lucene/ES): a doc
outside the top-`window` can never be promoted into the result. That
is the contract of a rescorer — `window` is the recall/cost knob.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F

from tangent_spark.sources.store import IndexStore

_OUT = "doc_id long, score double"


def phrase_rescore_topk(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    k: int,
    window: int = 100,
    weight: float = 1.0,
    slop: int = 0,
    in_order: bool = True,
    phrase: str | None = None,
) -> DataFrame:
    """Top-k (doc_id, score) where score = BM25(query) + weight *
    phrase_bm25(phrase), rescored over the base query's top-`window`
    docs (Lucene QueryRescorer / ES rescore; Solr edismax `pf` effect).
    `phrase` defaults to the query itself — the edismax behavior. A
    single-token phrase, an out-of-vocabulary phrase term, or weight=0
    degrade to plain BM25 top-k (Lucene: the extra clause matches
    nothing / contributes nothing)."""
    from tangent_spark.plans.phrase import _phrase_terms
    from tangent_spark.plans.search import bm25_topk_wand

    cfg = store.get_config()
    if not cfg.store_positions:
        raise ValueError(
            "index was built without positions (IndexConfig.store_positions)"
        )
    if weight < 0:
        raise ValueError("rescore weight must be >= 0")
    if window <= 0:
        raise ValueError("rescore window must be positive")
    window = max(int(window), int(k))

    base_rows = bm25_topk_wand(spark, store, query, window).collect()
    p_terms = _phrase_terms(phrase if phrase is not None else query, cfg.tokenizer)
    return apply_phrase_rescore(
        spark, store, base_rows, k, weight, slop, in_order, p_terms
    )


def apply_phrase_rescore(
    spark: SparkSession,
    store: IndexStore,
    base_rows: list,
    k: int,
    weight: float,
    slop: int,
    in_order: bool,
    p_terms: list[str],
) -> DataFrame:
    """The rescore pass over an already-collected base window (shared by
    the cold plan above and the warm Searcher.rescore — the base window
    is driver-resident by contract, exactly Lucene QueryRescorer's
    TopDocs argument)."""
    from tangent_spark.plans.phrase import phrase_match_positions

    cfg = store.get_config()
    if not base_rows:
        return spark.createDataFrame([], _OUT)
    base = spark.createDataFrame(
        [(int(r["doc_id"]), float(r["score"])) for r in base_rows],
        "doc_id long, base double",
    )

    def base_only() -> DataFrame:
        return (
            base.select("doc_id", F.col("base").alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    if len(p_terms) < 2 or weight == 0.0:
        return base_only()

    uniq = sorted(set(p_terms))
    dfs = {
        r["term"]: int(r["df"])
        for r in store.read(spark, "term_stats")
        .filter(F.col("term").isin(uniq))
        .select("term", "df")
        .collect()
    }
    if len(dfs) < len(uniq):  # an OOV member can never complete the phrase
        return base_only()

    cs = store.corpus_stats(spark)
    N = float(cs["n_docs"])
    avgdl = float(cs["avgdl"]) if cs["avgdl"] else 1.0
    idf_p = sum(
        math.log(1.0 + (N - d + 0.5) / (d + 0.5)) for d in dfs.values()
    )

    ids = [int(r["doc_id"]) for r in base_rows]
    # both scans below are bounded by the window: doc_id IN (<= window
    # ids) pushes to the parquet reader; the positional fold then only
    # ever sees window docs' rows (its own cost bound — see module doc)
    pos = store.read(spark, "positions").filter(
        F.col("doc_id").isin(ids)
    )
    ph = phrase_match_positions(pos, p_terms, slop, in_order=in_order)
    # dl rides on every row of the doc-dictionary terms table
    # (explain_score's discipline: doc_id + term both pushed); any
    # phrase-matching doc necessarily holds a row for p_terms[0]
    dl = (
        store.read(spark, "terms")
        .filter(F.col("doc_id").isin(ids))
        .filter(F.col("term") == p_terms[0])
        .select("doc_id", "dl")
    )
    k1, b = cfg.k1, cfg.b
    bonus = ph.join(F.broadcast(dl), "doc_id").select(
        "doc_id",
        (
            F.lit(weight * idf_p)
            * F.col("phrase_tf")
            * (k1 + 1.0)
            / (
                F.col("phrase_tf")
                + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl))
            )
        ).alias("bonus"),
    )
    return (
        base.join(F.broadcast(bonus), "doc_id", "left")
        .select(
            "doc_id",
            (F.col("base") + F.coalesce(F.col("bonus"), F.lit(0.0))).alias(
                "score"
            ),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
