"""Per-document term vectors: the ES `_termvectors` / Lucene
TermVectors surface — for a handful of documents, every term with its
in-doc tf, corpus df, and (when the index is positional) token
positions. The debugging/explain companion to search: "what terms does
this doc contribute, and how rare are they".

Serving shape: the doc-major rows come from the stored `terms` table
(one pushed doc_id predicate — the same one-doc read discipline as
more-like-this), df from a term-pushed `term_stats` lookup bounded by
the docs' distinct terms, positions from the positional table pruned
the same way. Nothing scales with corpus size except the pushed scans
themselves; tombstoned docs are masked like every other read surface.

The reference had no term-vector surface (Solr owned it, SURVEY S12);
semantics follow the ES realtime `_termvectors` response fields
(term_freq, doc_freq, positions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tangent_spark.sources.store import IndexStore


def term_vectors(
    spark: SparkSession,
    store: IndexStore,
    doc_ids,
    with_positions: bool = False,
) -> DataFrame:
    """(doc_id, term, tf, df [, positions array<int>]) for the given
    docs, sorted (doc_id, term). Deleted docs return no rows. With
    with_positions=True the index must have been built with
    store_positions=True."""
    from tangent_spark.plans.search import filter_deleted, load_deleted_ids

    ids = sorted({int(d) for d in doc_ids})
    if not ids:
        raise ValueError("no doc ids given")
    deleted = load_deleted_ids(spark, store)
    t = filter_deleted(
        store.read(spark, "terms")
        .filter(F.col("doc_id").isin(ids))
        .select("doc_id", "term", F.col("tf").cast("int").alias("tf")),
        deleted,
    )
    # the docs' distinct terms, driver-side — bounded by the requested
    # docs' lengths (the MLT one-doc read shape); pushes the term
    # predicate into the vocabulary scan instead of joining all of it
    terms = sorted({r["term"] for r in t.select("term").distinct().collect()})
    if not terms:
        return spark.createDataFrame(
            [],
            "doc_id long, term string, tf int, df int"
            + (", positions array<int>" if with_positions else ""),
        )
    stats = (
        store.read(spark, "term_stats")
        .filter(F.col("term").isin(terms))
        .select("term", F.col("df").cast("int").alias("df"))
    )
    out = t.join(F.broadcast(stats), "term")
    if with_positions:
        if not store.get_config().store_positions:
            raise ValueError(
                "index was built without positions (IndexConfig.store_positions)"
            )
        pos = (
            store.read(spark, "positions")
            .filter(F.col("doc_id").isin(ids) & F.col("term").isin(terms))
            .select("doc_id", "term", "positions")
        )
        out = out.join(pos, ["doc_id", "term"], "left")
        return out.select(
            "doc_id", "term", "tf", "df", "positions"
        ).orderBy("doc_id", "term")
    return out.select("doc_id", "term", "tf", "df").orderBy("doc_id", "term")
