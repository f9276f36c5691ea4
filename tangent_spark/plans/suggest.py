"""Query-assist surfaces over the index dictionaries: prefix term
suggestions and more-like-this document similarity.

The reference had neither (its Solr core could serve both via the
terms/MLT handlers; SURVEY.md §2.5 scopes the engine to ranked and
boolean retrieval), but a serving deployment of a web-scale index needs
them — suggestions drive the search-box completion, MLT drives
related-document panels — and both fall out of tables the store
already maintains:

* `suggest_terms`: completion candidates = term_stats rows with the
  prefix, ranked by df desc (the classic popularity order), term asc
  tie-break. One column-pruned scan with a pushed StartsWith filter —
  at 10^9 terms this is a parquet range scan, no shuffle at all; the
  warm variant answers from the Searcher's persisted term_stats cache.

* `more_like_this`: Lucene's MLT discipline — the source document's
  top tf*idf terms become a disjunctive BM25 query (served by the
  same block-max WAND kernel as any user query), excluding the source
  doc itself. Term selection reads ONE doc's rows from the terms table
  (doc-pruned scan, <= dl rows collected driver-side — bounded by a
  single document's length, the same bound every query's term list
  already has).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tangent_spark.sources.store import IndexStore


def suggest_token(prefix: str, tokenizer: str) -> str | None:
    """The token being typed = the LAST token of the raw input in
    order (query_terms sorts+dedups, which would complete the
    alphabetically-first already-complete word of a multi-word box);
    run through the index tokenizer so it lives in the stored (e.g.
    stemmed) vocabulary. None when nothing tokenizes."""
    from tangent_spark.plans.phrase import _phrase_terms

    toks = _phrase_terms(prefix, tokenizer)
    return toks[-1] if toks else None


def suggest_plan(term_stats: DataFrame, token: str, k: int) -> DataFrame:
    """(term, df) completions of one vocabulary token, df desc
    (popularity), term asc — shared by the cold and warm paths so the
    ordering/column contract lives in one place."""
    return (
        term_stats.filter(F.col("term").startswith(token))
        .select("term", "df")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(k)
    )


def suggest_terms(
    spark: SparkSession, store: IndexStore, prefix: str, k: int = 10
) -> DataFrame:
    """Top-k completion candidates for a search-box input: (term, df),
    df desc, term asc, completing the input's LAST token (the one
    being typed). An un-tokenizable input returns no rows."""
    tok = suggest_token(prefix, store.get_config().tokenizer)
    if tok is None:
        return spark.createDataFrame([], "term string, df int")
    return suggest_plan(store.read(spark, "term_stats"), tok, k)


def dym_plan(
    term_stats: DataFrame, token: str, k: int, max_edits: int
) -> DataFrame:
    """(term, df, dist) correction candidates for one vocabulary token:
    Levenshtein distance <= max_edits, ranked dist asc (closer first),
    df desc (popular first), term asc. All JVM-side: a length
    pre-filter |len(term) - len(token)| <= max_edits prunes before the
    edit-distance kernel, and F.levenshtein's threshold form
    short-circuits rows that exceed the budget. Shared by the cold and
    warm paths."""
    lt = len(token)
    cand = term_stats.filter(
        F.abs(F.length("term") - F.lit(lt)) <= max_edits
    ).withColumn(
        "dist", F.levenshtein(F.col("term"), F.lit(token), max_edits)
    )
    return (
        cand.filter(F.col("dist") >= 0)
        .select("term", "df", "dist")
        .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
        .limit(k)
    )


def did_you_mean(
    spark: SparkSession,
    store: IndexStore,
    term: str,
    k: int = 5,
    max_edits: int = 1,
) -> DataFrame:
    """Spelling correction over the index vocabulary ('did you mean'):
    terms within `max_edits` Levenshtein edits of the input's last
    token, closest-then-most-popular order — the Solr spellcheck
    surface, served off our own term_stats. The exact term (dist 0)
    ranks first when it exists, so callers can branch on dist.

    Scale note: this is ONE column-pruned scan of term_stats with the
    length band pushed to the scan and the threshold form of
    levenshtein short-circuiting the kernel — at the 10^6-10^7-term
    vocabularies stemmed web corpora produce, a columnar scan per
    correction is cheap (and the warm path reads the Searcher's cached
    term_stats). A 10^9-term vocabulary would add a symmetric-delete
    bucketing table; the plan shape here stays its verify step."""
    tok = suggest_token(term, store.get_config().tokenizer)
    if tok is None:
        return spark.createDataFrame([], "term string, df int, dist int")
    return dym_plan(store.read(spark, "term_stats"), tok, k, max_edits)


def mlt_query_terms(
    spark: SparkSession,
    store: IndexStore,
    doc_id: int,
    max_terms: int = 10,
) -> list[str]:
    """The source doc's top-`max_terms` terms by tf*idf (idf from the
    current term_stats; ties by term asc) — the MLT query. Sorted for
    deterministic downstream plans."""
    from tangent_spark.plans.search import idf

    cs = store.corpus_stats(spark)
    N = int(cs["n_docs"])
    rows = (
        store.read(spark, "terms")
        .filter(F.col("doc_id") == int(doc_id))
        .join(store.read(spark, "term_stats").select("term", "df"), "term")
        .select("term", "tf", "df")
        .collect()
    )
    scored = sorted(
        ((float(r["tf"]) * idf(N, int(r["df"])), r["term"]) for r in rows),
        key=lambda x: (-x[0], x[1]),
    )
    return sorted(t for _, t in scored[:max_terms])


def more_like_this(
    spark: SparkSession,
    store: IndexStore,
    doc_id: int,
    k: int = 10,
    max_terms: int = 10,
) -> DataFrame:
    """Top-k documents most similar to `doc_id` (Lucene MLT): BM25 over
    the source doc's top tf*idf terms, source doc excluded. Served by
    the standard block-max WAND kernel — an MLT query costs exactly one
    user query plus the bounded term-selection read."""
    from tangent_spark.plans.search import ScoreSpec, _bm25_plan, _cold_sources

    qts = mlt_query_terms(spark, store, doc_id, max_terms)
    # the source doc must never be its own suggestion: mask it exactly
    # like a tombstone (k+1 then re-limit would also work, but this
    # keeps the kernel's top-k tight)
    spec = ScoreSpec(tuple(qts), k, exclude=(int(doc_id),))
    return _bm25_plan(_cold_sources(spark, store), spec, store.get_config())


def spellcheck_collate(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    max_edits: int = 1,
) -> DataFrame:
    """Spellcheck collation (Solr spellcheck.collate +
    collateExtendedResults): analyze the query, replace every token
    ABSENT from the vocabulary with its best correction (dist asc, df
    desc, term asc — the did_you_mean order), and report the collated
    query with its hit count. Returns ONE row (collation string,
    hits long, n_corrected int):

      * tokens already in the vocabulary pass through unchanged;
      * an OOV token with no correction within `max_edits` stays as
        itself (it simply contributes no hits, like Solr returning the
        original token uncorrected);
      * hits = number of live docs matching >= 1 collated term (the
        disjunctive match-set count the collation would serve).

    Scale shape: one <=|query|-row vocabulary-membership scan, one
    bounded dym scan per OOV token (length band pushed down), and ONE
    match-set count through the boolean kernel — the same bounded jobs
    Solr's collator issues against its own index."""
    from tangent_spark.plans.boolean import _boolean_plan
    from tangent_spark.plans.phrase import _phrase_terms

    cfg = store.get_config()
    toks = _phrase_terms(query, cfg.tokenizer)
    if not toks:
        return spark.createDataFrame(
            [("", 0, 0)], "collation string, hits long, n_corrected int"
        )
    ts = store.read(spark, "term_stats")
    vocab = {
        r["term"]
        for r in ts.filter(F.col("term").isin(sorted(set(toks))))
        .select("term").collect()
    }
    out, n_corr = [], 0
    for t in toks:
        if t in vocab:
            out.append(t)
            continue
        best = dym_plan(ts, t, 1, max_edits).collect()
        if best and best[0]["dist"] > 0:
            out.append(best[0]["term"])
            n_corr += 1
        else:
            out.append(t)
    collation = " ".join(out)
    hits = 0
    # corrections come FROM the vocabulary, so the collation is
    # servable iff any token is in-vocab or was corrected
    if n_corr > 0 or any(t in vocab for t in out):
        from tangent_spark.plans.search import _cold_sources

        hits = _boolean_plan(
            spark, store, collation, 0, return_matches=True,
            **_cold_sources(spark, store),
        ).count()
    return spark.createDataFrame(
        [(collation, int(hits), int(n_corr))],
        "collation string, hits long, n_corrected int",
    )
