"""Formula path end-to-end: pages -> expression index -> Dice top-k,
rank-identical to the pure-Python oracle; plus formula tuples flowing
through the unified BM25 postings index."""

import pytest
from pyspark.sql import functions as F

from tangent_spark.config import IndexConfig
from tangent_spark.corpus import generate_pages, pages_with_doc_ids
from tangent_spark.operators.pairs import TERM_SEP, exprs_df, formula_terms_df
from tangent_spark.oracle import dice_rank
from tangent_spark.plans.formula import build_formula_index, dice_topk_docs, dice_topk_exprs
from tangent_spark.plans.indexer import build_index
from tangent_spark.plans.search import bm25_topk_wand

N_DOCS = 150
CFG = IndexConfig(n_shards=8, block_size=16)

FORMULA_QUERIES = [
    "<math><mfrac><mi>x</mi><mrow><mi>y</mi><mo>+</mo><mn>3</mn></mrow></mfrac></math>",
    "<math><msup><mi>x</mi><mn>2</mn></msup></math>",
    "<math><mrow><mi>a</mi><mo>+</mo><mn>1</mn></mrow></math>",
    "<math><msqrt><mi>z</mi></msqrt></math>",
    # wildcard: any base squared
    "<math><msup><mws:qvar name=\"w\"/><mn>2</mn></msup></math>",
    # COUPLED wildcards: repeated patterns + sharing with concrete tuples
    # (exercises the shared-budget accounting in wildcard_cc end-to-end)
    "<math><mrow><mws:qvar name=\"a\"/><mo>+</mo><mws:qvar name=\"b\"/>"
    "<mo>+</mo><mi>x</mi></mrow></math>",
    "<math><mfrac><mws:qvar name=\"u\"/><mrow><mws:qvar name=\"v\"/>"
    "<mo>+</mo><mn>3</mn></mrow></mfrac></math>",
]


@pytest.fixture(scope="module")
def pages(spark):
    return pages_with_doc_ids(generate_pages(spark, N_DOCS, partitions=5)).persist()


@pytest.fixture(scope="module")
def fstore(spark, pages, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("fidx") / "formula")
    return build_formula_index(spark, pages, out, CFG)


def test_exprs_extracted(spark, pages):
    e = exprs_df(pages)
    n = e.count()
    assert n > 20
    # positions are per-document math-block indexes
    row = e.filter(F.size("positions") >= 1).first()
    assert row["n_instances"] == len(row["positions"])


def test_formula_index_counters(fstore):
    c = fstore.counters()
    assert c["f_dict"]["unique_exprs"] > 10
    assert c["f_postings"]["postings"] > 50


@pytest.mark.parametrize("q", FORMULA_QUERIES)
def test_dice_rank_identity(spark, pages, fstore, q):
    local_slts = [r["slt"] for r in spark.read.parquet(fstore.path("exprs")).select("slt").distinct().collect()]
    expected = dice_rank(local_slts, q, 10, CFG)
    got = [
        (r["expr_id"], r["slt"], r["score"])
        for r in dice_topk_exprs(spark, fstore, q, 10).collect()
    ]
    assert len(got) == len(expected)
    for (gid, gslt, gs), (eid, eslt, es) in zip(got, expected):
        assert gid == eid and gslt == eslt, (got, expected)
        assert abs(gs - es) < 1e-9


def _real_query(pages):
    """A <math> block actually present in the corpus (guaranteed hits)."""
    from tangent_spark.sources.extract import extract_math

    for r in pages.select("html").limit(50).collect():
        blocks = extract_math(r["html"])
        if blocks:
            return blocks[0]
    raise AssertionError("no math in corpus sample")


def test_dice_real_query_nonempty_and_identical(spark, pages, fstore):
    q = _real_query(pages)
    local_slts = [
        r["slt"]
        for r in spark.read.parquet(fstore.path("exprs")).select("slt").distinct().collect()
    ]
    expected = dice_rank(local_slts, q, 10, CFG)
    assert expected, "real corpus formula must match itself"
    assert expected[0][2] == 1.0  # exact self-match scores 1 (Q1 semantics)
    got = [
        (r["expr_id"], r["slt"], r["score"])
        for r in dice_topk_exprs(spark, fstore, q, 10).collect()
    ]
    assert [(g[0], g[1]) for g in got] == [(e[0], e[1]) for e in expected]


def test_dice_docs_expansion(spark, pages, fstore):
    docs = dice_topk_docs(spark, fstore, _real_query(pages), 10).collect()
    assert len(docs) > 0
    scores = [r["best_score"] for r in docs]
    assert scores == sorted(scores, reverse=True)


def test_unified_index_formula_terms(spark, pages, tmp_path_factory):
    """Formula tuples and word terms in ONE postings space: a pair-tuple
    term is queryable through the BM25 WAND path."""
    out = str(tmp_path_factory.mktemp("uidx") / "unified")
    fterms = formula_terms_df(pages, CFG)
    store = build_index(spark, pages, out, CFG, url_col="url", extra_terms=fterms)
    # pick a formula term that exists
    t = (
        fterms.groupBy("term").count().orderBy(F.desc("count")).first()["term"]
    )
    assert TERM_SEP in t
    res = bm25_topk_wand(spark, store, "", 5)  # empty text query -> no terms
    assert res.count() == 0
    # query the postings directly with the formula term (bypasses the word
    # tokenizer, which would split the tuple separator)
    from tangent_spark.plans.search import ScoreSpec, _bm25_plan, _cold_sources
    import pyspark.sql.functions as SF

    stats = (
        spark.read.parquet(store.path("term_stats"))
        .filter(SF.col("term") == t)
        .collect()
    )
    assert stats, "formula term missing from unified term stats"
    rows = _bm25_plan(_cold_sources(spark, store), ScoreSpec((t,), 5), CFG).collect()
    assert len(rows) > 0 and rows[0]["score"] > 0
