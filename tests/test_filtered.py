"""Metadata-filtered search (plans/boolean.filtered_topk,
Searcher.filtered): boolean/BM25 top-k restricted by a SQL predicate
over the docs dictionary's metadata columns (IndexConfig.meta_cols).

Lucene filter semantics: the predicate restricts WHICH docs may appear;
scores keep corpus-level stats — so the ground truth for every test is
"the unfiltered scorer's output, post-filtered" (computed with k large
enough to be exhaustive). The reference has no metadata filtering (its
Solr backend held the text-side fq); this is a Spark-native surface the
100 TB story requires (e.g. lang/date-restricted retrieval).
"""

import pytest
from pyspark.sql import functions as F

from tangent_spark.config import IndexConfig
from tangent_spark.corpus import generate_pages, pages_with_doc_ids
from tangent_spark.plans.boolean import (
    boolean_topk,
    facet_counts,
    filtered_topk,
    parse_boolean_query,
)
from tangent_spark.plans.indexer import build_index
from tangent_spark.plans.search import Searcher, bm25_topk_index_full
from tangent_spark.streaming.incremental import append_batch, delete_docs

CFG = IndexConfig(n_shards=4, block_size=16, meta_cols=("lang",))
Q = "matrix convergence theorem"
N = 150


@pytest.fixture(scope="module")
def pages(spark):
    return pages_with_doc_ids(generate_pages(spark, N, partitions=4)).persist()


@pytest.fixture(scope="module")
def store(spark, pages, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("filt"))
    return build_index(spark, pages, f"{base}/idx", CFG, url_col="url")


def _rows(df):
    return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]


def _oracle(spark, store, query, where, k):
    """Unfiltered exhaustive scorer post-filtered — valid because a
    filter never changes a surviving doc's score."""
    full = bm25_topk_index_full(spark, store, query, N)
    keep = spark.read.parquet(store.path("docs")).filter(where).select("doc_id")
    return _rows(
        full.join(keep, "doc_id", "left_semi")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def test_meta_cols_config_roundtrip():
    cfg = IndexConfig(meta_cols=["lang", "warc_ts"])  # list in, tuple stored
    assert cfg.meta_cols == ("lang", "warc_ts")
    assert IndexConfig.from_json(cfg.to_json()) == cfg


def test_docs_dictionary_carries_meta(spark, store):
    docs = spark.read.parquet(store.path("docs"))
    assert set(docs.columns) == {"doc_id", "url", "lang"}
    assert docs.filter(F.col("lang").isNull()).count() == 0


def test_filtered_matches_postfiltered_oracle(spark, store):
    for where in ("lang = 'en'", "lang <> 'en'", "lang IN ('de', 'fr')"):
        got = _rows(filtered_topk(spark, store, Q, 10, where))
        assert got == _oracle(spark, store, Q, where, 10), where
        assert len(got) > 0, where


def test_driver_and_join_routes_identical(spark, store):
    where = "lang = 'en'"
    drv = _rows(filtered_topk(spark, store, Q, 10, where))
    jn = _rows(
        filtered_topk(spark, store, Q, 10, where, max_driver_candidates=1)
    )
    assert drv == jn


def test_filtered_boolean_grammar(spark, store):
    q = 'matrix +convergence -divergent'
    where = "lang = 'en'"
    keep = {
        r["doc_id"]
        for r in spark.read.parquet(store.path("docs")).filter(where).collect()
    }
    unfiltered = boolean_topk(spark, store, q, N)
    exp = [(d, s) for d, s in _rows(unfiltered) if d in keep][:10]
    got = _rows(filtered_topk(spark, store, q, 10, where))
    assert got == exp and all(d in keep for d, _ in got)


def test_filter_skips_decode_work(spark, store):
    """A selective filter must restrict DECODE, not just output: the
    kernel skips whole blocks outside the filter set using block
    metadata alone."""
    full_acc = spark.sparkContext.accumulator(0)
    boolean_topk(spark, store, Q, 10, decode_counter=full_acc).collect()

    # candidates all in ONE shard: every other shard's kernel decodes
    # nothing at all, and within the shard only the touched blocks
    docs = spark.read.parquet(store.path("docs"))
    few = [
        int(r["doc_id"])
        for r in docs.filter(F.col("doc_id") % CFG.n_shards == 0).limit(3).collect()
    ]
    sel_acc = spark.sparkContext.accumulator(0)
    got = _rows(
        filtered_topk(
            spark, store, Q, 10,
            f"doc_id IN ({','.join(map(str, few))})",
            decode_counter=sel_acc,
        )
    )
    assert all(d in few for d, _ in got)
    assert 0 < sel_acc.value < full_acc.value / 2, (sel_acc.value, full_acc.value)


def test_warm_filtered_matches_cold(spark, store):
    s = Searcher(spark, store)
    try:
        for where in ("lang = 'en'", "lang IN ('de', 'fr')"):
            warm = _rows(s.filtered(Q, 10, where))
            assert warm == _rows(filtered_topk(spark, store, Q, 10, where))
            # repeat off the now-cached docs dictionary + filter cache
            assert _rows(s.filtered(Q, 10, where)) == warm
        # one filter-cache entry per distinct predicate (Lucene filter
        # cache: a repeated where costs zero evaluation jobs)
        assert len(s._filter_cache) == 2
        # broad-route warm
        assert _rows(
            s.filtered(Q, 10, "lang = 'en'", max_driver_candidates=1)
        ) == _rows(s.filtered(Q, 10, "lang = 'en'"))
    finally:
        s.close()


def test_filtered_empty_and_bad_column(spark, store):
    assert filtered_topk(spark, store, Q, 10, "lang = 'xx'").count() == 0
    from pyspark.errors.exceptions.captured import AnalysisException

    with pytest.raises(AnalysisException):
        filtered_topk(spark, store, Q, 10, "nosuchcol = 1").count()


def _facet_oracle(spark, store, query, where=None):
    """Per-lang match counts straight off the raw terms table — the
    tokenize output that postings are BUILT from, so it shares no code
    with the kernel under test. Match = >=1 positive term AND every
    must term AND no must-not term."""
    q = parse_boolean_query(query, CFG)
    terms = spark.read.parquet(store.path("terms"))
    m = terms.filter(F.col("term").isin(q.positive_terms)).select("doc_id").distinct()
    for t in sorted(set(q.must)):
        m = m.join(
            terms.filter(F.col("term") == t).select("doc_id"), "doc_id", "left_semi"
        )
    for t in sorted(set(q.must_not)):
        m = m.join(
            terms.filter(F.col("term") == t).select("doc_id"), "doc_id", "left_anti"
        )
    docs = spark.read.parquet(store.path("docs"))
    if where:
        docs = docs.filter(where)
    return [
        (r["lang"], r["n_docs"])
        for r in m.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("lang"))
        .collect()
    ]


def test_facet_counts_match_terms_table_oracle(spark, store):
    for q in (Q, "matrix +convergence", "matrix -theorem"):
        got = [
            (r["lang"], r["n_docs"])
            for r in facet_counts(spark, store, q, "lang").collect()
        ]
        assert got == _facet_oracle(spark, store, q), q
        assert sum(n for _, n in got) > 0, q


def test_facets_with_where_and_warm(spark, store):
    where = "lang IN ('en', 'de')"
    exp = _facet_oracle(spark, store, Q, where)
    cold = [
        (r["lang"], r["n_docs"])
        for r in facet_counts(spark, store, Q, "lang", where=where).collect()
    ]
    assert cold == exp and {v for v, _ in cold} <= {"en", "de"}
    s = Searcher(spark, store)
    try:
        warm = [
            (r["lang"], r["n_docs"])
            for r in s.facets(Q, "lang", where=where).collect()
        ]
        assert warm == cold
        # broad route agrees too
        assert [
            (r["lang"], r["n_docs"])
            for r in s.facets(Q, "lang", where=where, max_driver_candidates=1).collect()
        ] == cold
    finally:
        s.close()
    # empty-filter facet: zero rows, correct columns
    empty = facet_counts(spark, store, Q, "lang", where="lang = 'zz'")
    assert empty.columns == ["lang", "n_docs"] and empty.count() == 0


def test_filtered_respects_tombstones_and_appends(
    spark, pages, tmp_path_factory
):
    base = str(tmp_path_factory.mktemp("filtlife"))
    store = build_index(spark, pages, f"{base}/idx", CFG, url_col="url")
    where = "lang = 'en'"
    top = _rows(filtered_topk(spark, store, Q, 5, where))
    delete_docs(spark, store, [top[0][0]], 1)
    after = _rows(filtered_topk(spark, store, Q, 5, where))
    assert top[0][0] not in {d for d, _ in after}
    # appended docs carry metadata and are filterable immediately
    batch = spark.createDataFrame(
        [("https://zz.example/1", "zyqfiltered matrix convergence", "en"),
         ("https://zz.example/2", "zyqfiltered matrix convergence", "de")],
        "url string, text string, lang string",
    )
    append_batch(spark, store, batch, batch_id=2)
    hits = _rows(filtered_topk(spark, store, "zyqfiltered", 10, "lang = 'de'"))
    assert len(hits) == 1


# --- match-all (*:*) and facet mm --------------------------------------------

def test_match_all_via_front_door(spark, store, pages):
    """Solr q=*:* — every live doc, constant score, doc-id order;
    composes with where / after / sort_by, rejects relevance shaping."""
    from tangent_spark.api import route, search
    from tangent_spark.plans.search import match_all_docs

    assert route("*:*") == "match_all"
    n_all = pages.count()
    got = search(spark, store, "*:*", k=n_all + 10).collect()
    assert len(got) == n_all
    assert [r["doc_id"] for r in got] == sorted(r["doc_id"] for r in got)
    assert {float(r["score"]) for r in got} == {1.0}

    # where composes (same surface as filtered_topk)
    n_en = pages.filter("lang = 'en'").count()
    assert search(spark, store, "*:*", k=n_all, where="lang = 'en'").count() == n_en

    # cursor paging: next page strictly after the cursor, no overlap
    p1 = search(spark, store, "*:*", k=10).collect()
    p2 = search(spark, store, "*:*", k=10, after=(1.0, p1[-1]["doc_id"])).collect()
    assert p2[0]["doc_id"] > p1[-1]["doc_id"] and len(p2) == 10

    # sort_by returns the sortby contract over ALL live docs
    top = search(
        spark, store, "*:*", k=5, sort_by="lang", sort_ascending=True
    ).collect()
    assert [r["lang"] for r in top] == sorted(r["lang"] for r in top)

    with pytest.raises(ValueError, match="match-all"):
        search(spark, store, "*:*", k=5, group_by="lang")
    with pytest.raises(ValueError, match="cursor"):
        match_all_docs(spark, store, 5, after=(1.0, 3), sort_by="lang")
    with pytest.raises(ValueError, match="min_should_match"):
        search(spark, store, "*:*", k=5, min_should_match=1)
    # relevance shaping has nothing to act on under constant scores:
    # rejected, not silently dropped (also for a pure-range query)
    with pytest.raises(ValueError, match="boost_fn"):
        search(spark, store, "*:*", k=5, boost_fn="1.0 + 0.1 * ln(n_chars)")
    with pytest.raises(ValueError, match="rescore"):
        search(spark, store, "*:*", k=5, rescore={"weight": 1.0})
    with pytest.raises(ValueError, match="boost_fn"):
        search(spark, store, "lang:[a TO z]", k=5, boost_fn="1.0")
    with pytest.raises(ValueError, match="rescore"):
        search(spark, store, "lang:[a TO z]", k=5, rescore={"weight": 1.0})


def test_match_all_respects_tombstones(spark, pages, tmp_path_factory):
    from tangent_spark.api import search
    from tangent_spark.streaming.incremental import delete_docs

    base = str(tmp_path_factory.mktemp("ma_del"))
    store = build_index(spark, pages, f"{base}/idx", CFG, url_col="url")
    victims = [r["doc_id"] for r in pages.limit(3).collect()]
    delete_docs(spark, store, victims, 1)
    got = search(spark, store, "*:*", k=N + 10).collect()
    assert len(got) == N - 3


def test_facet_counts_with_mm(spark, store):
    """mm shrinks the facet panel's match set (docs need >= mm distinct
    should terms); the terms-table oracle twins it independently."""
    terms = spark.read.parquet(store.path("terms"))
    q = parse_boolean_query(Q, CFG)
    m = (
        terms.filter(F.col("term").isin(q.positive_terms))
        .select("doc_id", "term").distinct()
        .groupBy("doc_id").agg(F.countDistinct("term").alias("nt"))
        .filter(F.col("nt") >= 2)
        .select("doc_id")
    )
    docs = spark.read.parquet(store.path("docs"))
    exp = [
        (r["lang"], r["n_docs"])
        for r in m.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang").agg(F.count("*").alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("lang")).collect()
    ]
    got = [
        (r["lang"], r["n_docs"])
        for r in facet_counts(spark, store, Q, "lang", min_should_match=2).collect()
    ]
    assert got == exp and got != _facet_oracle(spark, store, Q)
    # warm twin
    s = Searcher(spark, store)
    try:
        warm = [
            (r["lang"], r["n_docs"])
            for r in s.facets(Q, "lang", min_should_match=2).collect()
        ]
        assert warm == exp
        # mm above the should count: zero-row panel, typed
        assert s.facets(Q, "lang", min_should_match=9).count() == 0
    finally:
        s.close()


# --- Lucene/Solr range clauses in the query string (field:[a TO b]) ---------

def test_parse_range_clauses_shapes():
    from tangent_spark.plans.boolean import parse_range_clauses

    F_ = ("lang", "warc_ts")
    rest, w = parse_range_clauses("spark warc_ts:[2025-01 TO 2025-06]", F_)
    assert rest == "spark"
    assert w == "(warc_ts >= '2025-01' AND warc_ts <= '2025-06')"
    # exclusive / open / exists / quoted / negated
    assert parse_range_clauses("lang:{aa TO en} x", F_)[1] == \
        "(lang > 'aa' AND lang < 'en')"
    assert parse_range_clauses("lang:[en TO *] x", F_)[1] == "lang >= 'en'"
    assert parse_range_clauses("lang:[* TO *]", F_) == ("", "lang IS NOT NULL")
    assert parse_range_clauses(
        'warc_ts:["2025-01-01 00:00:00" TO *] x', F_
    )[1] == "warc_ts >= '2025-01-01 00:00:00'"
    assert parse_range_clauses("-lang:[aa TO en] x", F_)[1] == \
        "(lang IS NULL OR NOT (lang >= 'aa' AND lang <= 'en'))"
    # unknown field / malformed / lowercase `to` stay query text
    assert parse_range_clauses("size:[1 TO 5] x", F_) == ("size:[1 TO 5] x", None)
    assert parse_range_clauses("lang:[a TO b", F_) == ("lang:[a TO b", None)
    assert parse_range_clauses("lang:[a to b] x", F_) == ("lang:[a to b] x", None)
    # literal single quotes are escaped into the SQL string
    assert parse_range_clauses("lang:[a'b TO c] x", F_)[1] == \
        "(lang >= 'a''b' AND lang <= 'c')"
    # a range-shaped pattern INSIDE a quoted phrase is phrase text, not
    # a filter (ADVICE r5): the phrase must come through intact
    assert parse_range_clauses(
        '"shipped warc_ts:[2025 TO 2026] late" x', F_
    ) == ('"shipped warc_ts:[2025 TO 2026] late" x', None)
    # ...while a real clause NEXT TO a quoted phrase still extracts
    assert parse_range_clauses(
        '"hello world" warc_ts:[2025 TO 2026]', F_
    ) == ('"hello world"', "(warc_ts >= '2025' AND warc_ts <= '2026')")
    # glued to a closing quote (no whitespace) stays text, as before
    assert parse_range_clauses('"a b"lang:[a TO b] x', F_) == \
        ('"a b"lang:[a TO b] x', None)


def test_api_range_clause_equals_where_twin(spark, store):
    from tangent_spark.api import search

    want = _rows(search(spark, store, Q, k=10, where="lang >= 'de' AND lang <= 'fr'"))
    got = _rows(search(spark, store, f"{Q} lang:[de TO fr]", k=10))
    assert got == want and got


def test_api_pure_range_is_match_all_filtered(spark, store):
    from tangent_spark.api import search

    want = _rows(search(spark, store, "*:*", k=15, where="lang >= 'en'"))
    got = _rows(search(spark, store, "lang:[en TO *]", k=15))
    assert got == want and got


def test_api_range_composes_with_where(spark, store):
    from tangent_spark.api import search

    want = _rows(
        search(spark, store, Q, k=10, where="(lang >= 'de') AND (lang <= 'fr')")
    )
    got = _rows(search(spark, store, f"{Q} lang:[* TO fr]", k=10, where="lang >= 'de'"))
    assert got == want and got


def test_api_range_unknown_field_degrades_to_terms(spark, store):
    """A range clause on a non-metadata field stays query text: it
    tokenizes into plain should-terms and must not raise."""
    from tangent_spark.api import search

    got = _rows(search(spark, store, f"{Q} size:[1 TO 5]", k=10))
    # '1'/'5'/'size'/'to' become extra should terms; top-k still serves
    assert got
