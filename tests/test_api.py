"""Front-door routing (tangent_spark/api.py): every query form reaches
the right engine path and matches that path's own output."""

import pytest
from pyspark.sql import functions as F

from tangent_spark.api import SearchStores, route, search
from tangent_spark.config import IndexConfig
from tangent_spark.corpus import generate_pages, pages_with_doc_ids
from tangent_spark.plans.boolean import boolean_topk
from tangent_spark.plans.formula import build_formula_index, dice_topk_docs
from tangent_spark.plans.indexer import build_index
from tangent_spark.plans.search import bm25_topk_wand


def test_route():
    assert route("plain words here") == "bm25"
    assert route("matrix +theorem") == "boolean"
    assert route('"exact phrase"') == "boolean"
    assert route("-excluded word") == "boolean"
    assert route("a-b range") == "bm25"  # infix dash is not an operator
    assert route("<math><mi>x</mi></math>") == "formula"
    assert route('<mws:qvar name="a"/>') == "formula"
    assert route("*:*") == "match_all"
    assert route("/que.y/") == "regexp"
    assert route("querry~1") == "fuzzy"
    assert route("te*t") == "wildcard"
    assert route("+a /b.c/") == "boolean"
    assert route("<math><mi>x</mi><mo>*</mo><mi>y</mi></math>") == "formula"
    assert route("<math><mi>a</mi><mo>~</mo><mi>b</mi></math> near~1") == "formula"


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    pages = pages_with_doc_ids(generate_pages(spark, 150, partitions=6)).persist()
    base = tmp_path_factory.mktemp("api")
    cfg = IndexConfig(n_shards=4, block_size=32, meta_cols=("lang",))
    words = build_index(spark, pages, str(base / "w"), cfg, url_col="url")
    formulas = build_formula_index(spark, pages, str(base / "f"), cfg)
    return pages, SearchStores(words=words, formulas=formulas)


def test_search_bm25_route(spark, stores):
    _, ss = stores
    got = [(r["doc_id"], round(r["score"], 9))
           for r in search(spark, ss, "matrix convergence theorem", 5).collect()]
    want = [(r["doc_id"], round(r["score"], 9))
            for r in bm25_topk_wand(spark, ss.words, "matrix convergence theorem", 5).collect()]
    assert got == want and got


def test_search_boolean_route(spark, stores):
    _, ss = stores
    q = "matrix +theorem -slow"
    got = [(r["doc_id"], round(r["score"], 9)) for r in search(spark, ss, q, 5).collect()]
    want = [(r["doc_id"], round(r["score"], 9))
            for r in boolean_topk(spark, ss.words, q, 5).collect()]
    assert got == want and got


def test_search_where_routes_to_filtered(spark, stores):
    """search(..., where=...) serves text routes through the filtered
    path (url is always a docs column; meta_cols add more) and refuses
    the formula route."""
    from tangent_spark.plans.boolean import filtered_topk

    _, ss = stores
    where = "url < 'https://example.org/00000075'"
    for q in ("matrix convergence theorem", "matrix +theorem"):
        got = [(r["doc_id"], round(r["score"], 9))
               for r in search(spark, ss, q, 5, where=where).collect()]
        want = [(r["doc_id"], round(r["score"], 9))
                for r in filtered_topk(spark, ss.words, q, 5, where).collect()]
        assert got == want and got, q
    with pytest.raises(ValueError):
        search(spark, ss, "<math><mi>x</mi></math>", 5, where=where)
    # a punctuation-only box with a filter returns empty like the
    # unfiltered bm25 route, instead of the boolean parser's error
    assert search(spark, ss, "!!! ...", 5, where=where).count() == 0


def test_search_formula_route(spark, stores):
    _, ss = stores
    q = "<math><mrow><mws:qvar name=\"a\"/><mo>+</mo><mi>x</mi></mrow></math>"
    got = [(r["doc_id"], round(r["score"], 9)) for r in search(spark, ss, q, 5).collect()]
    want = [(r["doc_id"], round(r["best_score"], 9))
            for r in dice_topk_docs(spark, ss.formulas, q, 5).collect()]
    assert got == want and got


def test_search_combined_math_text(spark, stores):
    _, ss = stores
    q = "<math><mrow><mi>x</mi><mo>+</mo><mn>1</mn></mrow></math> matrix theorem"
    rows = search(spark, ss, q, 5).collect()
    assert rows
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    # text-only docs can rank (weight rule blends, never masks)
    assert all(0.0 <= s <= 1.0001 for s in scores)


def test_search_formula_without_store_raises(spark, stores):
    _, ss = stores
    with pytest.raises(ValueError, match="formula"):
        search(spark, SearchStores(words=ss.words), "<math><mi>x</mi></math>", 5)


def test_search_bare_store(spark, stores):
    _, ss = stores
    got = search(spark, ss.words, "matrix", 3).collect()
    assert len(got) == 3


def test_fragment_with_surrounding_text_keeps_text(spark, stores):
    """A qvar fragment WITHOUT a <math> wrapper amid plain text: only
    the markup span is wrapped for the SLT parser; the prose scores as
    BM25 remainder (it must not be silently discarded)."""
    _, ss = stores
    q = 'matrix theorem <mws:qvar name="a"/> convergence'
    rows = search(spark, ss, q, 5).collect()
    assert rows  # combined math+text path produced hits
    # sanity: the text contribution is real — dropping the prose (the
    # pre-fix behavior wrapped EVERYTHING in <math>) must change results
    rows_fragment_only = search(
        spark, ss, '<mws:qvar name="a"/><mi>x</mi>', 5
    ).collect()
    assert [tuple(r) for r in rows] != [tuple(r) for r in rows_fragment_only]


def test_malformed_fragment_does_not_crash(spark, stores):
    _, ss = stores
    # '<' with no closing '>' — falls back to whole-query wrap; the SLT
    # parser rejects it and the result is simply empty, never a crash
    rows = search(spark, ss, "solve <mws:qvar", 5).collect()
    assert rows == [] or rows


def test_search_after_route(spark, stores):
    """search(after=...) pages tile the one-shot front-door ordering."""
    _, ss = stores
    q = "matrix convergence theorem"
    want = [(r["doc_id"], round(r["score"], 9)) for r in search(spark, ss, q, 10).collect()]
    got, cursor = [], None
    for _ in range(2):
        rows = search(spark, ss, q, 5, after=cursor).collect()
        got += [(r["doc_id"], round(r["score"], 9)) for r in rows]
        cursor = (float(rows[-1]["score"]), int(rows[-1]["doc_id"]))
    assert got == want


def test_search_group_route(spark, stores):
    """search(group_by=...) returns the grouping contract and matches
    plans.group.grouped_topk exactly."""
    from tangent_spark.plans.group import grouped_topk

    _, ss = stores
    q = "matrix convergence theorem"
    got = [tuple(r) for r in search(spark, ss, q, 3, group_by="lang", group_limit=2).collect()]
    want = [tuple(r) for r in grouped_topk(spark, ss.words, q, "lang", k=3, group_limit=2).collect()]
    assert got == want and got


def test_search_fielded_route(spark, stores, tmp_path):
    """search(boosts=...) serves a fielded store; combinable with after."""
    from tangent_spark.plans.fielded import build_fielded_index, fielded_topk

    pages, _ = stores
    docs = pages.select(
        "doc_id",
        F.expr("array_join(slice(split(text, ' '), 1, 6), ' ')").alias("title"),
        F.expr("array_join(slice(split(text, ' '), 7, size(split(text, ' '))), ' ')").alias("body"),
    )
    fstore = build_fielded_index(
        spark, docs, str(tmp_path / "fapi"), ("title", "body"),
        IndexConfig(n_shards=4, block_size=32),
    )
    q, boosts = "matrix convergence theorem", {"title": 2.0, "body": 1.0}
    got = [tuple(r) for r in search(spark, fstore, q, 5, boosts=boosts).collect()]
    want = [tuple(r) for r in fielded_topk(spark, fstore, q, 5, boosts).collect()]
    assert got == want and got
    page2 = search(spark, fstore, q, 2, boosts=boosts, after=(got[1][1], got[1][0])).collect()
    assert [tuple(r) for r in page2] == got[2:4]
    # field-scoped query syntax and/or tie route to field_query_topk
    from tangent_spark.plans.fielded import field_query_topk

    fq = "title:matrix theorem^2"
    got_fq = [tuple(r) for r in search(spark, fstore, fq, 5, boosts=boosts).collect()]
    want_fq = [tuple(r) for r in field_query_topk(spark, fstore, fq, 5, boosts).collect()]
    assert got_fq == want_fq and got_fq
    got_tie = [
        tuple(r)
        for r in search(spark, fstore, q, 5, boosts=boosts, tie=0.3).collect()
    ]
    want_tie = [
        tuple(r)
        for r in field_query_topk(spark, fstore, q, 5, boosts, tie=0.3).collect()
    ]
    assert got_tie == want_tie and got_tie
    with pytest.raises(ValueError, match="tie .* requires fielded boosts"):
        search(spark, fstore, q, 5, tie=0.3)


def test_search_shaping_rejected_off_bm25_route(spark, stores):
    """Result-shaping options must raise on unsupported routes, never
    silently ignore the request."""
    _, ss = stores
    with pytest.raises(ValueError, match="only supported on the plain BM25"):
        search(spark, ss, "matrix +theorem", 5, after=(1.0, 3))
    with pytest.raises(ValueError, match="only supported on the plain BM25"):
        search(spark, ss, '"exact phrase"', 5, group_by="lang")
    with pytest.raises(ValueError, match="only supported on the plain BM25"):
        search(spark, ss, "matrix", 5, where="lang = 'en'", group_by="lang")
    with pytest.raises(ValueError, match="not supported with"):
        search(spark, ss, "matrix", 5, group_by="lang", boosts={"title": 1.0})
    with pytest.raises(ValueError, match="not supported with"):
        search(spark, ss, "matrix", 5, group_by="lang", after=(1.0, 3))


def test_search_synonyms_route(spark, stores):
    """search(synonyms=...) matches plans.search.bm25_topk_synonyms and
    is rejected off the plain-BM25 route."""
    from tangent_spark.plans.search import bm25_topk_synonyms

    _, ss = stores
    q, syns = "matrix proof", {"matrix": ["kernel"]}
    got = [tuple(r) for r in search(spark, ss, q, 5, synonyms=syns).collect()]
    want = [tuple(r) for r in bm25_topk_synonyms(spark, ss.words, q, 5, syns).collect()]
    assert got == want and got
    with pytest.raises(ValueError, match="only supported on the plain BM25"):
        search(spark, ss, "a +b", 5, synonyms=syns)
    with pytest.raises(ValueError, match="not supported with"):
        search(spark, ss, q, 5, synonyms=syns, group_by="lang")


def test_search_sort_by_route(spark, stores):
    """search(sort_by=...) orders the match set by metadata and is
    rejected when combined with other shaping options."""
    from tangent_spark.plans.sortby import sorted_topk

    _, ss = stores
    q = "matrix convergence theorem"
    got = [tuple(r) for r in search(spark, ss, q, 5, sort_by="lang", sort_ascending=True).collect()]
    want = [tuple(r) for r in sorted_topk(spark, ss.words, q, "lang", k=5, ascending=True).collect()]
    assert got == want and got
    with pytest.raises(ValueError, match="not combinable"):
        search(spark, ss, q, 5, sort_by="lang", after=(1.0, 3))
    with pytest.raises(ValueError, match="only supported on the plain BM25"):
        search(spark, ss, "a +b", 5, sort_by="lang")


def test_search_recency_boost_route(spark, stores, tmp_path):
    """search(recency_boost=...) matches plans.search.boosted_topk."""
    import datetime

    from tangent_spark.plans.search import boosted_topk

    pages, _ = stores
    store = build_index(
        spark, pages, str(tmp_path / "rb"),
        IndexConfig(n_shards=4, block_size=32, meta_cols=("warc_ts",)),
        url_col="url",
    )
    now = datetime.datetime(2025, 6, 1)
    q = "matrix convergence theorem"
    rb = {"by": "warc_ts", "now": now, "half_life_days": 7.0}
    got = [tuple(r) for r in search(spark, store, q, 5, recency_boost=rb).collect()]
    want = [tuple(r) for r in boosted_topk(spark, store, q, 5, "warc_ts", now, half_life_days=7.0).collect()]
    assert got == want and got
    with pytest.raises(ValueError, match="combines only with"):
        search(spark, store, q, 5, recency_boost=rb, group_by="lang")
