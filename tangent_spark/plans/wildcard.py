"""Wildcard (`te*t`, `?uery`) and regexp (`/que.y/`) term queries
over the word index.

The reference outsources its word-term serving to Solr (SURVEY S12;
ranking/query.py builds Solr queries verbatim), and Solr/Lucene answer
wildcard terms by REWRITING them against the term dictionary
(MultiTermQuery). This module is the Spark-native equivalent with
`TopTermsScoringBooleanQueryRewrite(max_expansions)` semantics:

  1. each wildcard pattern expands to the vocabulary terms it matches,
     keeping the `max_expansions` highest-df terms on overflow (Lucene's
     top-terms rewrite keeps the highest-weight terms; for wildcards the
     boost is constant, so docFreq is the blended weight — and df-desc
     is the only cap order that never drops a term a smaller expansion
     would have kept);
  2. the expanded terms plus the query's literal terms score as ONE
     plain disjunctive BM25 query, each expanded term with its own idf.

(Lucene's *default* rewrite is CONSTANT_SCORE_BLENDED; the scoring-
boolean rewrite used here is an explicit Lucene option via
`setRewriteMethod` and is the member of the family whose scores an
ANSI-SQL oracle can reproduce term-by-term.)

Analysis semantics follow Lucene's multi-term rule: wildcard tokens are
NOT sent through the analysis chain (stemming a pattern would corrupt
it) — they are lowercased and stripped to the index alphabet
[a-z0-9*?]. Literal tokens take the index's normal analyzer.

Scale shape: expansion is ONE bounded job per pattern — a scan of the
term_stats table with the pattern's literal prefix pushed down to the
parquet reader (PushedFilters: StringStartsWith) and the full pattern
as an anchored regex, returning at most max_expansions + 1 rows
(TakeOrdered by df desc). Serving is then exactly bm25_topk_wand's
ONE-job block-max plan over the expanded term set; a warm Searcher
additionally caches each pattern's expansion (point-in-time, like its
filter cache), so a repeated wildcard query costs one job total.

Regexp terms (Lucene RegexpQuery, query-parser syntax `/pattern/`)
ride the identical machinery: the slash-delimited body is matched
ANCHORED against whole vocabulary terms (Lucene regexps are implicitly
anchored), any literal prefix of the pattern is pushed to the scan,
and the expansion caps/scores exactly like a wildcard. The regex
dialect is Java's (Spark rlike) — oracles must stay inside the
Java/POSIX common subset (no lookahead in twinned queries).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from tangent_spark.sources.store import IndexStore

_WILDCARD_RX = re.compile(r"[*?]")
# the index alphabet plus the two wildcard metacharacters — anything
# else in a wildcard token (punctuation the analyzer would eat) drops
_ALPHABET_RX = re.compile(r"[^a-z0-9*?]+")


_REGEXP_TOKEN_RX = re.compile(r"^/(?P<body>.+)/$")
# a leading run of plain index-alphabet chars in a regex body is a
# literal prefix iff the char AFTER the run cannot quantify/alternate
# it away ('x*' matches empty; 'a|b' alternates the whole body)
_RE_META = set(".?+*|{}[]()\\^$")


def is_wildcard_token(token: str) -> bool:
    return _WILDCARD_RX.search(token) is not None


def is_regexp_token(token: str) -> bool:
    return _REGEXP_TOKEN_RX.match(token) is not None


def wildcard_regex(pattern: str) -> str:
    """Anchored regex for a `*`/`?` glob over index terms."""
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return "^" + "".join(out) + "$"


def literal_prefix(pattern: str) -> str:
    """The literal chars before the first wildcard — the pushdown key."""
    m = _WILDCARD_RX.search(pattern)
    return pattern[: m.start()] if m else pattern


def literal_suffix(pattern: str) -> str:
    """The literal chars after the LAST wildcard — the pushdown key for
    the reversed term dictionary (`*ing` -> 'ing')."""
    matches = list(_WILDCARD_RX.finditer(pattern))
    return pattern[matches[-1].end() :] if matches else pattern


REV_TABLE = "term_stats_rev"


def load_rev_terms(spark: SparkSession, store: IndexStore) -> DataFrame | None:
    """The store's reversed term dictionary, or None for stores built
    before it existed (expansion then falls back to the forward scan —
    same answer, more IO)."""
    if not os.path.exists(os.path.join(store.path(REV_TABLE), "_SUCCESS")):
        return None
    return store.read(spark, REV_TABLE)


def write_rev_terms(spark: SparkSession, stats_path: str, rev_path: str) -> None:
    """Derive the reversed term dictionary from a term_stats parquet dir:
    rows (r_term = reverse(term), term, df) written GLOBALLY SORTED by
    r_term (repartitionByRange + sortWithinPartitions), so a leading-
    wildcard expansion's StartsWith(r_term, reversed-suffix) predicate
    prunes at file AND row-group granularity via parquet min/max stats.

    This is Lucene/Solr's ReversedWildcardFilterFactory re-expressed as
    physical table layout: Solr indexes each token reversed (marker
    char + reversed form) in the same field so `*ing` rewrites to a
    prefix query; here the reversed form lives in a derived side table
    of the vocabulary, regenerated whenever term_stats flips (build /
    append / compaction / merge — the same discipline as the stats
    tables themselves, so a reader can never see the two disagree).
    Cost: one vocabulary-sized range shuffle per stats rewrite —
    vocabulary rows are zipf-bounded far below corpus rows, so this
    rides in the stats stage's noise."""
    stats = spark.read.parquet(stats_path).select(
        F.reverse(F.col("term")).alias("r_term"), "term", "df"
    )
    parts = max(2, min(spark.sparkContext.defaultParallelism, 64))
    (
        stats.repartitionByRange(parts, "r_term")
        .sortWithinPartitions("r_term")
        .write.mode("overwrite")
        .parquet(rev_path)
    )


def regexp_prefix(body: str) -> str:
    """The provable literal prefix of a regex body — the pushdown key.
    Conservative: any alternation anywhere voids it (the '|' may apply
    to the whole body), and a quantifier right after the leading
    literal run surrenders the run's last char ('abc*' only guarantees
    'ab')."""
    if "|" in body:
        return ""
    run = []
    for ch in body:
        if ch in _RE_META:
            if ch in "*?+{" and run:
                run.pop()
            break
        run.append(ch)
    return "".join(run)


def parse_regexp_query(
    query: str, tokenizer: str
) -> tuple[list[str], list[str]]:
    """Split a query into (regex bodies, analyzed literal terms).
    Whitespace-separated `/.../` tokens are regexps (lowercased, NOT
    analyzed — Lucene multi-term rule); everything else passes through
    the index's analysis chain. Both lists sorted and de-duplicated."""
    from tangent_spark.functions.tokenize import tokenize_porter, tokenize_simple

    tok = tokenize_porter if tokenizer == "porter" else tokenize_simple
    bodies, literal_text = set(), []
    for raw in query.split():
        m = _REGEXP_TOKEN_RX.match(raw)
        if m:
            bodies.add(m.group("body").lower())
        else:
            literal_text.append(raw)
    lits = sorted(set(tok(" ".join(literal_text)))) if literal_text else []
    return sorted(bodies), lits


def expand_regexp(
    term_stats: DataFrame, body: str, max_expansions: int = 1024
) -> list[str]:
    """Vocabulary terms fully matching a regex body (anchored — the
    Lucene RegexpQuery contract), capped at the `max_expansions`
    highest-df terms (df desc, term asc). ONE bounded job with the
    provable literal prefix pushed to the scan."""
    if max_expansions <= 0:
        raise ValueError("max_expansions must be positive")
    # pre-flight the pattern driver-side so a malformed regex raises a
    # clean error here instead of a Java PatternSyntaxException inside
    # a task. (Python's re dialect is a near-subset of Java's; the
    # Java-only extras — possessive quantifiers etc. — are rejected up
    # front, a documented limitation.)
    try:
        re.compile(body)
    except re.error as ex:
        raise ValueError(f"invalid regexp term /{body}/: {ex}") from None
    m = term_stats.select("term", "df")
    pre = regexp_prefix(body)
    if pre:
        m = m.filter(F.col("term").startswith(pre))
    m = m.filter(F.col("term").rlike(f"^(?:{body})$"))
    rows = (
        m.orderBy(F.desc("df"), F.asc("term")).limit(max_expansions).collect()
    )
    return [r["term"] for r in rows]


def regexp_terms(
    term_stats: DataFrame,
    query: str,
    tokenizer: str,
    max_expansions: int = 1024,
    expansion_cache: dict | None = None,
) -> list[str]:
    """The full expanded term set for a mixed literal/regexp query.
    Cache keys are namespaced ('re', body, cap) so a warm Searcher can
    share one expansion cache across wildcard and regexp queries."""
    bodies, terms = parse_regexp_query(query, tokenizer)
    out = set(terms)
    for body in bodies:
        key = ("re", body, max_expansions)
        if expansion_cache is not None and key in expansion_cache:
            out.update(expansion_cache[key])
            continue
        exp = expand_regexp(term_stats, body, max_expansions)
        if expansion_cache is not None:
            expansion_cache[key] = exp
        out.update(exp)
    return sorted(out)


def regexp_topk(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    k: int,
    max_expansions: int = 1024,
    with_metrics: bool = False,
    after: tuple[float, int] | None = None,
) -> DataFrame:
    """Cold regexp BM25 top-k: expand, then the standard ONE-job
    block-max WAND plan (deleted docs masked, searchAfter paging
    supported)."""
    from tangent_spark.plans.search import ScoreSpec, _bm25_plan, _cold_sources

    cfg = store.get_config()
    qts = regexp_terms(
        store.read(spark, "term_stats"), query, cfg.tokenizer, max_expansions
    )
    spec = ScoreSpec(tuple(qts), k, after=after, with_metrics=with_metrics)
    return _bm25_plan(_cold_sources(spark, store), spec, cfg)


def parse_wildcard_query(
    query: str, tokenizer: str
) -> tuple[list[str], list[str]]:
    """Split a query into (wildcard patterns, analyzed literal terms).

    Whitespace-separated tokens containing `*` or `?` are patterns
    (lowercased, restricted to the index alphabet, NOT analyzed —
    Lucene multi-term rule); everything else passes through the index's
    analysis chain. Both lists are sorted and de-duplicated."""
    from tangent_spark.functions.tokenize import tokenize_porter, tokenize_simple

    tok = tokenize_porter if tokenizer == "porter" else tokenize_simple
    patterns, literal_text = set(), []
    for raw in query.split():
        if is_wildcard_token(raw):
            p = _ALPHABET_RX.sub("", raw.lower())
            # a token reduced to pure wildcards ('*', '??') matches the
            # whole vocabulary — legal, the expansion cap bounds it;
            # a token reduced to nothing drops like any empty token
            if p:
                patterns.add(p)
        else:
            literal_text.append(raw)
    lits = sorted(set(tok(" ".join(literal_text)))) if literal_text else []
    return sorted(patterns), lits


def expand_pattern(
    term_stats: DataFrame,
    pattern: str,
    max_expansions: int = 1024,
    term_stats_rev: DataFrame | None = None,
) -> list[str]:
    """Vocabulary terms matching a `*`/`?` pattern, capped at the
    `max_expansions` highest-df terms (df desc, term asc — the
    top-terms rewrite order). ONE bounded job: prefix pushed down,
    anchored regex on top, TakeOrdered of at most max_expansions rows.

    Leading-wildcard patterns (`*ing`, `?at*`) have NO literal prefix,
    so the forward dictionary can only answer them with a full
    vocabulary scan. When the store's reversed term dictionary is
    supplied (`term_stats_rev` — see write_rev_terms) and the pattern
    ends in a literal run, the scan flips to it: StartsWith(r_term,
    reverse(suffix)) is pushed to the parquet reader against the
    r_term-sorted layout (Solr ReversedWildcardFilter semantics), and
    the anchored regex still applies on the forward term, so the
    expansion is EXACTLY the forward scan's — only the IO shrinks."""
    if max_expansions <= 0:
        raise ValueError("max_expansions must be positive")
    rows = (
        pattern_scan(term_stats, pattern, term_stats_rev)
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(max_expansions)
        .collect()
    )
    return [r["term"] for r in rows]


def pattern_scan(
    term_stats: DataFrame,
    pattern: str,
    term_stats_rev: DataFrame | None = None,
) -> DataFrame:
    """The (term, df) scan a pattern expansion runs — factored out so
    tests can assert the reversed route's StartsWith predicate actually
    reaches the parquet reader (PushedFilters)."""
    pre = literal_prefix(pattern)
    suf = literal_suffix(pattern)
    if not pre and suf and term_stats_rev is not None:
        m = term_stats_rev.select("r_term", "term", "df").filter(
            F.col("r_term").startswith(suf[::-1])
        )
    else:
        m = term_stats.select("term", "df")
        if pre:
            m = m.filter(F.col("term").startswith(pre))
    if pre != pattern:  # pure-literal "patterns" need no regex pass
        m = m.filter(F.col("term").rlike(wildcard_regex(pattern)))
    return m.select("term", "df")


def wildcard_terms(
    term_stats: DataFrame,
    query: str,
    tokenizer: str,
    max_expansions: int = 1024,
    expansion_cache: dict | None = None,
    term_stats_rev: DataFrame | None = None,
) -> list[str]:
    """The full expanded term set for a mixed literal/wildcard query.
    `expansion_cache` (optional, {(pattern, cap): [terms]}) lets a warm
    Searcher skip the expansion job for repeated patterns;
    `term_stats_rev` routes leading-wildcard patterns to the reversed
    dictionary (see expand_pattern)."""
    patterns, terms = parse_wildcard_query(query, tokenizer)
    out = set(terms)
    for p in patterns:
        key = (p, max_expansions)
        if expansion_cache is not None and key in expansion_cache:
            out.update(expansion_cache[key])
            continue
        exp = expand_pattern(
            term_stats, p, max_expansions, term_stats_rev=term_stats_rev
        )
        if expansion_cache is not None:
            expansion_cache[key] = exp
        out.update(exp)
    return sorted(out)


def wildcard_topk(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    k: int,
    max_expansions: int = 1024,
    with_metrics: bool = False,
    after: tuple[float, int] | None = None,
) -> DataFrame:
    """Cold wildcard BM25 top-k straight off the parquet index: expand,
    then the standard ONE-job block-max WAND plan (deleted docs masked,
    searchAfter paging supported — the expanded query is an ordinary
    disjunction from the kernel's point of view)."""
    from tangent_spark.plans.search import ScoreSpec, _bm25_plan, _cold_sources

    cfg = store.get_config()
    qts = wildcard_terms(
        store.read(spark, "term_stats"),
        query,
        cfg.tokenizer,
        max_expansions,
        term_stats_rev=load_rev_terms(spark, store),
    )
    spec = ScoreSpec(tuple(qts), k, after=after, with_metrics=with_metrics)
    return _bm25_plan(_cold_sources(spark, store), spec, cfg)
