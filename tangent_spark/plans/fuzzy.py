"""Fuzzy term queries (`spark~1`, `querry~`) over the word index.

The reference outsources word-term serving to Solr (SURVEY S12), and
Solr/Lucene answer fuzzy terms by REWRITING them against the term
dictionary (FuzzyQuery -> FuzzyTermsEnum): vocabulary terms within
`max_edits` of the target expand into a disjunction. This module is
the Spark-native equivalent, sharing plans/wildcard.py's rewrite
discipline:

  1. each `term~N` token expands to the vocabulary terms within edit
     distance N (N in {1, 2}; bare `term~` means N=2, Lucene's
     default), keeping the `max_expansions` closest terms on overflow
     in (distance asc, df desc, term asc) order — nearest first, the
     FuzzyTermsEnum boost order, popularity as the tie-break exactly
     like plans/suggest.py's did-you-mean;
  2. the expanded terms plus the query's literal terms score as ONE
     plain disjunctive BM25 query, each expanded term with its own
     idf (the scoring-boolean member of Lucene's rewrite family — the
     one an ANSI-SQL oracle can reproduce term-by-term; Lucene's
     default blended rewrite additionally boosts by closeness, a
     documented divergence).

Distance semantics: classic Levenshtein by default — it is what both
Spark (F.levenshtein) and DuckDB (levenshtein()) evaluate engine-side,
so expansion stays one JVM-side vocabulary scan and the oracle twin is
exact. `transpositions=True` upgrades to Damerau-Levenshtein (Lucene's
own default, where `ab`->`ba` costs 1): the JVM scan then pre-filters
with classic distance <= 2N (a transposition costs two classic edits,
so this is a proven superset) plus the length band, and the exact
Damerau distance is computed on that bounded candidate list.

Analysis semantics follow Lucene's multi-term rule: fuzzy tokens are
NOT sent through the analysis chain (stemming would move the target
before distances are measured) — lowercased and stripped to the index
alphabet. Literal tokens take the index's normal analyzer.

Scale shape: expansion is ONE bounded job per target — a scan of the
term_stats table with a length band |len(term) - len(target)| <= N
(edit distance lower bound) and, when `prefix_length` > 0 (Lucene's
prefixLength), the exact prefix pushed down to the parquet reader as
StringStartsWith. The scan returns candidate (term, df, dist) rows —
bounded by the band — and the driver keeps max_expansions. Serving is
then exactly bm25_topk_wand's ONE-job block-max plan; a warm Searcher
caches each target's expansion (point-in-time, like its wildcard and
filter caches).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from tangent_spark.sources.store import IndexStore

# bare token ending in ~ or ~1 / ~2 (Lucene fuzzy suffix); ~0 is legal
# Lucene and means "exact", handled by dropping the suffix
_FUZZY_RX = re.compile(r"^(?P<body>.+)~(?P<edits>[012]?)$")
_ALPHABET_RX = re.compile(r"[^a-z0-9]+")


def is_fuzzy_token(token: str) -> bool:
    return _FUZZY_RX.match(token) is not None


def damerau_levenshtein(a: str, b: str) -> int:
    """Restricted Damerau-Levenshtein (Lucene's LevenshteinAutomata
    with transpositions): insert/delete/substitute cost 1, adjacent
    transposition costs 1, no substring re-use."""
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return la or lb
    prev2: list[int] = []
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        for j in range(1, lb + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if (
                i > 1
                and j > 1
                and a[i - 1] == b[j - 2]
                and a[i - 2] == b[j - 1]
            ):
                cur[j] = min(cur[j], prev2[j - 2] + 1)
        prev2, prev = prev, cur
    return prev[lb]


def parse_fuzzy_query(
    query: str, tokenizer: str
) -> tuple[list[tuple[str, int]], list[str]]:
    """Split a query into ([(target, max_edits)], analyzed literal
    terms). Whitespace-separated tokens with a `~`/`~N` suffix are
    fuzzy targets (lowercased, index alphabet, NOT analyzed — Lucene
    multi-term rule; bare `~` = 2 edits, `~0` degrades to a literal);
    everything else passes through the index's analysis chain. Both
    lists are sorted and de-duplicated (max edits wins per target)."""
    from tangent_spark.functions.tokenize import tokenize_porter, tokenize_simple

    tok = tokenize_porter if tokenizer == "porter" else tokenize_simple
    targets: dict[str, int] = {}
    literal_text = []
    for raw in query.split():
        m = _FUZZY_RX.match(raw)
        if m:
            body = _ALPHABET_RX.sub("", m.group("body").lower())
            edits = int(m.group("edits")) if m.group("edits") else 2
            if not body:
                continue
            if edits == 0:
                literal_text.append(body)
            else:
                targets[body] = max(targets.get(body, 0), edits)
        else:
            literal_text.append(raw)
    lits = sorted(set(tok(" ".join(literal_text)))) if literal_text else []
    return sorted(targets.items()), lits


def expand_fuzzy(
    term_stats: DataFrame,
    target: str,
    max_edits: int,
    max_expansions: int = 50,
    prefix_length: int = 0,
    transpositions: bool = False,
) -> list[str]:
    """Vocabulary terms within `max_edits` of `target`, capped at the
    `max_expansions` closest (dist asc, df desc, term asc — the
    FuzzyTermsEnum order). ONE bounded job: length band + optional
    exact-prefix pushdown, F.levenshtein JVM-side; transpositions=True
    re-checks the (superset) candidates with exact Damerau distance
    driver-side."""
    if max_edits not in (1, 2):
        raise ValueError("max_edits must be 1 or 2 (Lucene FuzzyQuery)")
    if max_expansions <= 0:
        raise ValueError("max_expansions must be positive")
    m = term_stats.select("term", "df")
    if prefix_length > 0:
        pre = target[:prefix_length]
        m = m.filter(F.col("term").startswith(pre))
    # edit distance >= length difference: the band is a cheap JVM-side
    # prune BEFORE the O(len^2) levenshtein evaluates
    scan_edits = 2 * max_edits if transpositions else max_edits
    m = m.filter(
        F.abs(F.length("term") - F.lit(len(target))) <= F.lit(scan_edits)
    )
    m = m.filter(F.levenshtein(F.col("term"), F.lit(target)) <= scan_edits)
    if not transpositions:
        rows = (
            m.select(
                "term",
                "df",
                F.levenshtein(F.col("term"), F.lit(target)).alias("dist"),
            )
            .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
            .limit(max_expansions)
            .collect()
        )
        return [r["term"] for r in rows]
    cands = [
        (r["term"], int(r["df"])) for r in m.select("term", "df").collect()
    ]
    scored = sorted(
        (d, -df, t)
        for t, df in cands
        if (d := damerau_levenshtein(t, target)) <= max_edits
    )
    return [t for _, _, t in scored[:max_expansions]]


def fuzzy_terms(
    term_stats: DataFrame,
    query: str,
    tokenizer: str,
    max_expansions: int = 50,
    prefix_length: int = 0,
    transpositions: bool = False,
    expansion_cache: dict | None = None,
) -> list[str]:
    """The full expanded term set for a mixed literal/fuzzy query.
    `expansion_cache` (optional, keyed by the full expansion knobs)
    lets a warm Searcher skip the job for repeated targets."""
    targets, terms = parse_fuzzy_query(query, tokenizer)
    out = set(terms)
    for target, edits in targets:
        key = (target, edits, max_expansions, prefix_length, transpositions)
        if expansion_cache is not None and key in expansion_cache:
            out.update(expansion_cache[key])
            continue
        exp = expand_fuzzy(
            term_stats, target, edits, max_expansions, prefix_length,
            transpositions,
        )
        if expansion_cache is not None:
            expansion_cache[key] = exp
        out.update(exp)
    return sorted(out)


def fuzzy_topk(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    k: int,
    max_expansions: int = 50,
    prefix_length: int = 0,
    transpositions: bool = False,
    with_metrics: bool = False,
    after: tuple[float, int] | None = None,
) -> DataFrame:
    """Cold fuzzy BM25 top-k straight off the parquet index: expand,
    then the standard ONE-job block-max WAND plan (deleted docs masked,
    searchAfter paging supported — the expanded query is an ordinary
    disjunction from the kernel's point of view)."""
    from tangent_spark.plans.search import ScoreSpec, _bm25_plan, _cold_sources

    cfg = store.get_config()
    qts = fuzzy_terms(
        store.read(spark, "term_stats"), query, cfg.tokenizer, max_expansions,
        prefix_length, transpositions,
    )
    spec = ScoreSpec(tuple(qts), k, after=after, with_metrics=with_metrics)
    return _bm25_plan(_cold_sources(spark, store), spec, cfg)
