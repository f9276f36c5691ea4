"""Front-door search API: one call that routes a query to the right
engine path, the way the reference's top-level query driver does
(reference comp_query.py builds a combined math+text query from a topic
and dispatches to the math index and the Solr text core).

Routing rules (deterministic, inspectable via `route()`):

  * query contains a MathML fragment (``<math``/``mws:qvar``)
        -> formula Dice over the expression index
           (plans.formula.dice_topk_docs); any plain-text remainder
           outside the MathML contributes BM25 text scores, combined
           with the reference's dynamic weight rule
           (plans.rerank.combine_math_text).
  * query uses boolean syntax (+term / -term / "a phrase")
        -> plans.boolean.boolean_topk over the word index.
  * query has a regexp token (/que.y/)
        -> plans.wildcard.regexp_topk (Lucene RegexpQuery: anchored
           match against the vocabulary, top-terms scoring-boolean
           rewrite, then the standard block-max kernel).
  * query has a fuzzy token (querry~ / querry~1)
        -> plans.fuzzy.fuzzy_topk (Lucene FuzzyQuery: vocabulary
           terms within max_edits expand into a disjunction, then
           the standard block-max kernel).
  * query has a bare wildcard token (te*t / ?uery)
        -> plans.wildcard.wildcard_topk (Lucene MultiTermQuery
           top-terms scoring-boolean rewrite over the vocabulary,
           then the standard block-max kernel).
  * anything else
        -> warm BM25 (Searcher) when one is supplied, else one-shot
           block-max WAND (plans.search.bm25_topk_wand).

`stores` carries the word index and (optionally) the formula index —
they are separate IndexStores because their build inputs differ
(tokenized text vs extracted MathML), exactly as the reference keeps
Solr cores separate from its math index files.

Which option composes with which route is stated in one place, the
`_ROUTES` table: search() serves a call with the first entry whose key
is the query's route or an option the caller set, and rejects every
other given option that entry does not list (raise, never drop).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tangent_spark.plans.boolean import boolean_topk, filtered_topk, parse_range_clauses
from tangent_spark.plans.fielded import field_query_topk, fielded_topk
from tangent_spark.plans.formula import dice_topk_docs
from tangent_spark.plans.fuzzy import fuzzy_topk, is_fuzzy_token
from tangent_spark.plans.group import grouped_topk
from tangent_spark.plans.hybrid import hybrid_topk
from tangent_spark.plans.phrase import phrase_prefix_topk
from tangent_spark.plans.rerank import combine_math_text
from tangent_spark.plans.rescore import phrase_rescore_topk
from tangent_spark.plans.search import (
    bm25_topk_synonyms,
    bm25_topk_wand,
    boosted_topk,
    elevated_topk,
    function_boosted_topk,
    match_all_docs,
    query_terms,
)
from tangent_spark.plans.sortby import sorted_topk
from tangent_spark.plans.wildcard import is_regexp_token, regexp_topk, wildcard_topk
from tangent_spark.sources.store import IndexStore

_MATH = re.compile(r"<math|<mws:qvar", re.IGNORECASE)
_BOOL = re.compile(r'(^|\s)[+\-#!]\S|"|(^|\s)(AND|OR|NOT|&&|\|\|)(\s|$)')
_MATH_BLOCK = re.compile(r"<math.*?</math>", re.IGNORECASE | re.DOTALL)
_WILD = re.compile(r"[*?]")


@dataclass
class SearchStores:
    words: IndexStore
    formulas: IndexStore | None = None
    vectors: IndexStore | None = None  # plans/ann.build_ann_index store


def route(query: str) -> str:
    """'match_all' | 'formula' | 'boolean' | 'regexp' | 'fuzzy' |
    'wildcard' | 'bm25' — which path search() will take. Wildcard metacharacters /
    fuzzy suffixes / regexp tokens inside boolean syntax route to
    'boolean' and are rejected there (explicitly unsupported
    combinations — see search()); a MathML query keeps its
    `*`/`?`/`~` (they are formula markup, not operators). Regexp
    wins over fuzzy/wildcard (a `/.../` token is unambiguous and its
    body may contain their metacharacters)."""
    if query.strip() == "*:*":
        return "match_all"  # Solr q=*:* — before the wildcard check
    if _MATH.search(query):
        return "formula"
    if _BOOL.search(query):
        return "boolean"
    if any(is_regexp_token(t) for t in query.split()):
        return "regexp"
    if any(is_fuzzy_token(t) for t in query.split()):
        return "fuzzy"
    if _WILD.search(query):
        return "wildcard"
    return "bm25"


# The composition rule, stated once. search() serves a call with the
# FIRST entry (in this order) whose key is the query's route (route())
# or an option the caller set; the options that entry lists compose
# with it, and any other given option raises the entry's message.
_MULTI_TERM = "{} not supported with %s terms (no metadata filter; only `after`)"
_ROUTES: dict[str, tuple[tuple[str, ...], str]] = {
    "phrase_prefix": ((), "{} not supported with phrase_prefix"),
    "match_all": (
        ("where", "after", "sort_by"), "{} not supported with the match-all query"
    ),
    "formula": ((), "{} not supported on the formula route"),
    "boolean": (
        ("where", "min_should_match", "unordered_phrases"),
        "{} only supported on the plain BM25 route (query routed to 'boolean')",
    ),
    "regexp": (("after",), _MULTI_TERM % "regexp"),
    "fuzzy": (("after",), _MULTI_TERM % "fuzzy"),
    "wildcard": (("after",), _MULTI_TERM % "wildcard"),
    "vector": (("where",), "{} not supported with vector search"),
    "min_should_match": (("where",), "min_should_match is not combinable with {}"),
    "where": ((), (
        "{} not supported with a metadata filter on a plain query; shaping "
        "is only supported on the plain BM25 route without one"
    )),
    "pinned": ((), "pinned elevation combines with no other option, got {}"),
    "sort_by": ((), "sort_by is not combinable with {}"),
    "rescore": ((), "rescore combines with no other option, got {}"),
    "recency_boost": (("after",), "recency_boost combines only with `after`, got {}"),
    "boost_fn": (("after",), "boost_fn combines only with `after`, got {}"),
    "boosts": (("after", "tie"), "{} not supported with fielded boosts"),
    "synonyms": (("after",), "{} not supported with synonyms"),
    "group_by": ((), "{} not supported with grouping"),
    "bm25": (("after",), (
        "{} not supported on a plain query (tie requires fielded boosts, "
        "unordered_phrases a boolean query)"
    )),
}
_RESCORE_KEYS = {"weight", "window", "slop", "in_order", "phrase"}


def search(
    spark: SparkSession,
    stores: SearchStores | IndexStore,
    query: str,
    k: int = 10,
    searcher=None,
    where: str | None = None,
    after: tuple[float, int] | None = None,
    group_by: str | None = None,
    group_limit: int = 1,
    boosts: dict[str, float] | None = None,
    tie: float | None = None,
    synonyms: dict[str, list[str]] | None = None,
    sort_by: str | None = None,
    sort_ascending: bool = False,
    recency_boost: dict | None = None,
    min_should_match=0,
    pinned: list[int] | None = None,
    unordered_phrases: bool = False,
    boost_fn: str | None = None,
    rescore: dict | None = None,
    vector: list[float] | None = None,
    rrf_k: int = 60,
    n_per_leg: int = 50,
    n_probe: int = 8,
    phrase_prefix: bool = False,
    max_expansions: int = 50,
) -> DataFrame:
    """Top-k (doc_id, score) for any supported query form. Pass a bare
    IndexStore for text-only serving, or SearchStores to enable the
    formula route; pass a warm plans.search.Searcher to serve plain
    BM25 queries from the resident index. `where` (a SQL predicate over
    the word index's IndexConfig.meta_cols) restricts text routes to
    matching documents — Lucene filter semantics, see
    plans.boolean.filtered_topk; the formula route does not support it
    (the formula store's expression index has no doc metadata). Range
    clauses may also ride the QUERY STRING in Lucene/Solr syntax —
    `spark warc_ts:[2025-01 TO 2025-06]`, `{..}` exclusive, `*` open
    ends, `-field:[..]` negated, `field:[* TO *]` exists — they strip
    from the scoring query and AND into `where`
    (plans.boolean.parse_range_clauses); a pure-range query serves as
    `*:*` match-all + filter.

    Result-shaping options, each mapped to its Solr/Lucene counterpart.
    Which options compose with which route and with each other is the
    `_ROUTES` table; any combination it does not list raises ValueError
    rather than silently ignoring the request:

      * after=(score, doc_id) — cursor deep paging (Solr cursorMark /
        Lucene searchAfter); the next page strictly after the cursor.
      * group_by / group_limit — result grouping / field collapse
        (Solr group=true): returns the grouping contract columns
        (grp, group_hits, rank_in_group, doc_id, score), not the plain
        (doc_id, score) shape.
      * boosts={field: weight} — fielded search over a
        plans.fielded.build_fielded_index store (Solr title:q^2
        OR body:q). The query may scope
        clauses to fields with Lucene classic-QueryParser syntax
        (`title:spark body:proof^2 data` — scoped clauses are single
        boosted TermQueries, bare clauses expand over boosts as qf);
        `tie` switches the bare-clause combiner to Solr edismax's
        DisjunctionMaxQuery (max + tie x rest) —
        plans.fielded.field_query_topk.
      * synonyms={token: [expansion, ...]} — query-time synonym
        expansion (Lucene SynonymQuery: group max-df idf, per-doc tf
        sum).
      * sort_by / sort_ascending — order the match set by a metadata
        column instead of relevance (Solr sort=<field> asc|desc);
        returns (doc_id, <field>) rows.
      * recency_boost={'by': ts_col, 'now': datetime, ...} — kwargs
        for plans.search.boosted_topk (Solr boost=recip: BM25 x
        1/(1 + age/half_life)).
      * boost_fn='<sql expr>' — function query (Solr boost=<func> /
        Lucene FunctionScoreQuery): BM25 x f(doc) for any positive
        SQL expression over the index's meta_cols, e.g.
        `1.0 + 0.1 * ln(n_chars)`
        (plans.search.function_boosted_topk — pruning stays exact via
        power-of-two weight normalization).
      * rescore={'weight': w, 'window': n, 'slop': s, 'in_order': b,
        'phrase': p} — phrase rescoring (Lucene QueryRescorer / ES
        rescore; the Solr edismax `pf` effect): the base top-`window`
        is re-scored as BM25 + w x phrase_bm25 of the query (or an
        explicit `phrase`) and re-sorted
        (plans.rescore.phrase_rescore_topk; requires a positional
        index).
      * vector=[...] — hybrid retrieval (ES 8.8 `rrf` retriever /
        OpenSearch hybrid query): the BM25 top-n_per_leg and the IVF
        ANN top-n_per_leg for the probe vector (SearchStores.vectors),
        fused by Reciprocal Rank Fusion with constant rrf_k; returns
        (doc_id, score, lex_rank, vec_rank). A `where` filter applies
        to both retriever legs (the ES 8 shape: lexical via
        filtered_topk, vector via ann_topk_ivf_filtered).
      * pinned=[doc_id, ...] — query elevation (Solr
        QueryElevationComponent): the given ids occupy the first ranks
        in order, organic results fill the rest; returns the elevation
        contract columns (rank, doc_id, score, elevated), not the
        plain (doc_id, score) shape.
      * min_should_match — Solr mm spec (int, '-n', 'p%', '-p%'; see
        plans.boolean.resolve_mm): matches must contain at least that
        many DISTINCT should terms.
      * unordered_phrases — serve every `"..."~N` phrase clause with
        Lucene sloppy (reorder-tolerant) matching instead of the
        default in-order slack (plans.phrase._unordered_tf).
      * phrase_prefix — ES match_phrase_prefix (search-as-you-type):
        the WHOLE query is one phrase whose LAST token is a prefix
        (its trailing '*' optional), expanded against the vocabulary
        in term order up to `max_expansions`
        (plans.phrase.phrase_prefix_topk); returns (doc_id, phrase_tf).

    In-query Lucene boost syntax (`matrix^2.5`, `+must^3`, `"a b"^2`)
    is honored on the plain-BM25 and boolean routes (warm and cold,
    incl. `where`-filtered and mm queries): the boost scales the
    term's idf inside the kernels, keeping block-max pruning exact
    (plans.search.split_term_boosts / plans.boolean grammar). The
    batch path rejects it (shared decode cache).
    """
    if isinstance(stores, IndexStore):
        stores = SearchStores(words=stores)
    words = stores.words
    if not phrase_prefix:
        # Lucene/Solr range clauses over the index's metadata fields
        # (`warc_ts:[a TO b]`, `{..}` exclusive, `*` open ends, `-`
        # negates) fold into `where`; a pure-range query is Solr
        # `q=*:* fq=range`. Clauses on unknown fields stay query text.
        rest, rng = parse_range_clauses(query, words.get_config().meta_cols)
        if rng is not None:
            query = rest or "*:*"
            where = rng if where is None else f"({where}) AND ({rng})"
    options = {
        "where": where, "after": after, "group_by": group_by, "boosts": boosts,
        "tie": tie, "synonyms": synonyms, "sort_by": sort_by,
        "recency_boost": recency_boost, "min_should_match": min_should_match or None,
        "pinned": pinned, "unordered_phrases": unordered_phrases or None,
        "boost_fn": boost_fn, "rescore": rescore, "vector": vector,
        "phrase_prefix": phrase_prefix or None,
    }
    given = [name for name, value in options.items() if value is not None]
    kind = route(query)
    handler = next(h for h in _ROUTES if h == kind or h in given)
    composes, message = _ROUTES[handler]
    bad = [o for o in given if o != handler and o not in composes]
    if bad:
        raise ValueError(message.format("/".join(bad)))

    if handler == "phrase_prefix":
        return phrase_prefix_topk(spark, words, query, k, max_expansions=max_expansions)
    if handler == "match_all":
        return match_all_docs(
            spark, words, k, where=where, after=after,
            sort_by=sort_by, sort_ascending=sort_ascending,
        )
    if handler == "formula":
        return _formula_search(spark, stores, query, k, searcher)
    if handler == "vector":
        if stores.vectors is None:
            raise ValueError("vector search needs SearchStores.vectors (an ANN store)")
        return hybrid_topk(
            spark, words, stores.vectors, query, vector, k=k,
            n_per_leg=n_per_leg, rrf_k=rrf_k, n_probe=n_probe,
            searcher=searcher, where=where,
        )
    if handler == "pinned":
        return elevated_topk(spark, words, query, k, pinned)
    if handler == "sort_by":
        return sorted_topk(spark, words, query, sort_by, k=k, ascending=sort_ascending)
    if handler == "rescore":
        unknown = sorted(set(rescore) - _RESCORE_KEYS)
        if unknown:
            raise ValueError(
                f"unknown rescore option(s) {unknown}; allowed: {sorted(_RESCORE_KEYS)}"
            )
        return _serve(searcher, "rescore", phrase_rescore_topk, spark, words, query, k,
                      **rescore)
    if handler == "recency_boost":
        return boosted_topk(spark, words, query, k, after=after, **recency_boost)
    if handler == "boost_fn":
        return function_boosted_topk(spark, words, query, k, boost_fn, after=after)
    if handler == "boosts":
        # Lucene classic-QueryParser field scoping (`title:spark body:x`)
        # and/or the Solr edismax tie combiner need the field-query plan
        fields = words.get_config().fields
        if tie is not None or any(re.search(rf"(?:^|\s){f}:", query) for f in fields):
            return field_query_topk(spark, words, query, k, boosts, tie=tie, after=after)
        return fielded_topk(spark, words, query, k, boosts, after=after)
    if handler == "synonyms":
        return bm25_topk_synonyms(spark, words, query, k, synonyms, after=after)
    if handler == "group_by":
        return grouped_topk(spark, words, query, group_by, k=k, group_limit=group_limit)
    if handler == "regexp" and any(
        is_fuzzy_token(t) or _WILD.search(t)
        for t in query.split() if not is_regexp_token(t)
    ):
        # a fuzzy/wildcard token beside a /.../ token would be analyzed
        # away (Lucene keeps them separate token queries)
        raise ValueError(
            "fuzzy/wildcard terms cannot be combined with regexp terms in one query"
        )
    if handler == "fuzzy" and _WILD.search(query):
        raise ValueError("wildcard and fuzzy terms cannot be combined in one query")
    if handler in ("regexp", "fuzzy", "wildcard"):
        plan = {"regexp": regexp_topk, "fuzzy": fuzzy_topk, "wildcard": wildcard_topk}
        return _serve(searcher, kind, plan[kind], spark, words, query, k, after=after)

    # the plain route: bm25 or boolean, optionally filtered or with mm
    if kind == "boolean":
        # a bare (unquoted) wildcard/fuzzy/regexp token inside boolean
        # syntax would silently tokenize (`qu*ry` -> qu/ry, `querry~1`
        # -> querry1); quoted phrases and their `~N` slop are exempt
        bare = [t.lstrip("+-") for t in re.sub(r'"[^"]*"(~\d+)?', " ", query).split()]
        for name, is_term in (
            ("wildcard", _WILD.search),
            ("fuzzy", is_fuzzy_token),
            ("regexp", is_regexp_token),
        ):
            if any(is_term(t) for t in bare):
                raise ValueError(f"{name} terms inside boolean queries are not supported")
    elif (where is not None or min_should_match) and not query_terms(
        query, words.get_config().tokenizer
    ):
        # an un-tokenizable plain query returns empty like the bm25
        # route, not the boolean parser's no-positive-clause error
        return spark.createDataFrame([], "doc_id long, score double")
    grammar = {"min_should_match": min_should_match,
               "unordered_phrases": unordered_phrases}
    if where is not None:
        return _serve(searcher, "filtered", filtered_topk, spark, words, query, k,
                      where, **grammar)
    if kind == "boolean" or min_should_match:
        return _serve(searcher, "boolean", boolean_topk, spark, words, query, k,
                      **grammar)
    return _serve(searcher, "topk", bm25_topk_wand, spark, words, query, k, after=after)


def _serve(searcher, method: str, plan, spark, store, query, k, *args, **kwargs):
    """The warm/cold fork: a resident Searcher serves through its
    `method`; without one the one-shot `plan` function reads `store`."""
    if searcher is not None:
        return getattr(searcher, method)(query, k, *args, **kwargs)
    return plan(spark, store, query, k, *args, **kwargs)


def _formula_search(
    spark: SparkSession,
    stores: SearchStores,
    query: str,
    k: int,
    searcher=None,
) -> DataFrame:
    if stores.formulas is None:
        raise ValueError("query contains MathML but no formula store was given")
    mathml = _MATH_BLOCK.findall(query)
    if not mathml:
        # a qvar/XML fragment without a <math> wrapper: wrap ONLY the
        # markup span so the SLT parser sees a well-formed block, and
        # keep the surrounding plain text as the BM25 remainder
        # (mirrors the findall branch — prose is never fed to the
        # SLT parser, fragment terms never to the text engine). The
        # span starts at the first MATH-ish open tag (not any '<' —
        # prose like "1<2" must not anchor it) and ends at the last
        # '>'; markup too malformed to bracket (no closing '>') falls
        # back to wrapping the whole query with no text remainder.
        m = re.search(r"<(?:mws:qvar|m[a-z]+)\b", query, re.IGNORECASE)
        j = query.rfind(">")
        if m and j > m.start():
            i = m.start()
            mathml = [f"<math>{query[i : j + 1]}</math>"]
            text_rest = (query[:i] + " " + query[j + 1 :]).strip()
        else:
            mathml = [f"<math>{query}</math>"]
            text_rest = ""
    else:
        text_rest = _MATH_BLOCK.sub(" ", query).strip()

    math_scores = None
    for block in mathml:
        d = dice_topk_docs(spark, stores.formulas, block, k)
        math_scores = d if math_scores is None else math_scores.unionByName(d)
    if math_scores is not None and len(mathml) > 1:
        # several expressions: per doc, best formula score + total
        math_scores = math_scores.groupBy("doc_id").agg(
            F.max("best_score").alias("best_score"),
            F.sum("total_score").alias("total_score"),
            F.sum("n_exprs").alias("n_exprs"),
        )

    kw = query_terms(text_rest, stores.words.get_config().tokenizer) if text_rest else []
    if not kw:
        return (
            math_scores.select("doc_id", F.col("best_score").alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )
    text_scores = _serve(
        searcher, "topk", bm25_topk_wand, spark, stores.words, text_rest, k
    )
    combined = combine_math_text(
        math_scores, text_scores, n_exprs=len(mathml), n_keywords=len(kw)
    )
    return (
        combined.select("doc_id", F.col("final_score").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
