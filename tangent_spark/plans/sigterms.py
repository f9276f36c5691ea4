"""Significant-terms aggregation: terms over-represented in a query's
match set relative to the whole corpus.

The Elasticsearch `significant_terms` aggregation (the "commonly
uncommon") scored with JLH:

    score(t) = (fg_pct - bg_pct) * (fg_pct / bg_pct)
    fg_pct   = fg_df(t) / |foreground|      (doc freq inside the match set)
    bg_pct   = df(t)    / n_docs            (background doc freq)

restricted to terms with fg_df >= min_doc_count and fg_pct > bg_pct
(under-represented terms are never significant). The reference engine
had no such aggregation (its Solr sidecar did not either); it is a
first-class corpus-analytics surface for a webtext pipeline — topic
drift, cluster labeling, "why did these docs match".

Scale shape (100 TB): the foreground term statistics are computed by
re-tokenizing ONLY the matched documents — a broadcast semi-join of
the corpus scan against the match set — so the heavy pass is
O(|foreground| docs), never a full-index or full-corpus decode. The
fg aggregate is one map-side-combinable shuffle on term; background
frequencies come straight from the stored term_stats table (zero extra
work). Matches the ES execution model (shard-local fg counting + a
background-stats lookup).

Determinism: fg_df/df/n_docs are exact integers; both engines evaluate
the same (a-b)*(a/b) double expression and rank on the 6-decimal
rounding with a term tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tangent_spark.functions.tokenize import terms_df
from tangent_spark.sources.store import IndexStore


def jlh_score(fg_df, fg_total, bg_df, bg_total):
    """The JLH column expression over integer-count columns."""
    fgp = fg_df.cast("double") / F.lit(float(fg_total))
    bgp = bg_df.cast("double") / F.lit(float(bg_total))
    return (fgp - bgp) * (fgp / bgp)


def significant_terms_from_counts(
    fg_terms: DataFrame,
    fg_total: int,
    term_stats: DataFrame,
    n_docs: int,
    k: int = 10,
    min_doc_count: int = 2,
) -> DataFrame:
    """Score (term, fg_df) foreground counts against (term, df)
    background stats. Returns (term, fg_df, bg_df, score) top-k by
    (score desc, term asc)."""
    if fg_total <= 0:
        return fg_terms.sparkSession.createDataFrame(
            [], "term string, fg_df long, bg_df long, score double"
        )
    joined = fg_terms.join(
        term_stats.select("term", F.col("df").alias("bg_df")), "term"
    )
    scored = joined.select(
        "term",
        F.col("fg_df").cast("long").alias("fg_df"),
        F.col("bg_df").cast("long").alias("bg_df"),
        F.round(
            jlh_score(F.col("fg_df"), fg_total, F.col("bg_df"), n_docs), 6
        ).alias("score"),
    )
    return (
        scored.filter(
            (F.col("fg_df") >= min_doc_count) & (F.col("score") > 0)
        )
        .orderBy(F.desc("score"), F.asc("term"))
        .limit(k)
    )


def significant_terms(
    spark: SparkSession,
    store: IndexStore,
    corpus: DataFrame,
    query: str,
    k: int = 10,
    min_doc_count: int = 2,
    where: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_should_match=0,
) -> DataFrame:
    """Top-k significant terms for a boolean/BM25 query's match set.

    `corpus` is the (id_col, text_col) document frame the index was
    built from — the foreground pass re-analyzes only the matched docs
    (semi-join pushdown), with the index's own tokenizer, so fg and bg
    doc frequencies live in the same term space. `where` composes with
    the same semantics as filtered search."""
    from tangent_spark.plans.boolean import boolean_matches

    matches = boolean_matches(
        spark, store, query, where=where, min_should_match=min_should_match
    ).select(F.col("doc_id").alias(id_col))
    fg_total = matches.count()
    cfg = store.get_config()
    # fg_total is already on the driver: broadcast the match set only
    # when it is genuinely small, else let the semi-join shuffle
    m = F.broadcast(matches) if fg_total <= 1_000_000 else matches
    fg_docs = corpus.join(m, id_col, "left_semi")
    fg_terms = (
        terms_df(fg_docs, id_col, text_col, cfg.tokenizer)
        .groupBy("term")
        .agg(F.count("*").alias("fg_df"))  # terms_df is one row per (doc, term)
    )
    cs = store.corpus_stats(spark)
    return significant_terms_from_counts(
        fg_terms,
        fg_total,
        store.read(spark, "term_stats"),
        int(cs["n_docs"]),
        k=k,
        min_doc_count=min_doc_count,
    )
