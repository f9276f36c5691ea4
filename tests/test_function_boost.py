"""Function queries (plans/search.function_boosted_topk — Solr
boost=<func> / Lucene FunctionScoreQuery): BM25 x f(doc) for an
arbitrary positive SQL expression over the docs dictionary, with
power-of-two weight normalization keeping block-max pruning exact for
weights above 1. Rank + absolute-score identity vs a pure-Python
oracle; exact cursor paging round-trip."""

import math

import pytest

from tangent_spark.api import search
from tangent_spark.config import IndexConfig
from tangent_spark.corpus import generate_pages, pages_with_doc_ids
from tangent_spark.oracle import bm25_rank
from tangent_spark.plans.indexer import build_index
from tangent_spark.plans.search import bm25_topk_wand, function_boosted_topk
from tests.conftest import assert_rank_identical

N = 120
Q = "matrix convergence theorem"
FN = "1.0 + 0.05 * ln(1 + length(url))"


@pytest.fixture(scope="module")
def fn_setup(spark, tmp_path_factory):
    pages = pages_with_doc_ids(generate_pages(spark, N, partitions=6)).persist()
    out = str(tmp_path_factory.mktemp("fnboost") / "index")
    store = build_index(
        spark, pages, out,
        IndexConfig(n_shards=8, block_size=16, meta_cols=("lang",)),
        url_col="url",
    )
    local = [
        (int(r["doc_id"]), r["text"], r["url"], r["lang"])
        for r in pages.select("doc_id", "text", "url", "lang").collect()
    ]
    return store, local


def fn_oracle(local, query, k, weight_of):
    scored = bm25_rank([(d, t) for d, t, _, _ in local], query, k=len(local))
    meta = {d: (u, lg) for d, _, u, lg in local}
    out = [(d, s * weight_of(*meta[d])) for d, s in scored]
    return sorted(out, key=lambda x: (-x[1], x[0]))[:k]


def test_fn_boost_rank_and_score_identity(spark, fn_setup):
    """Weights here exceed 1 (ln of url length), exercising the
    power-of-two normalization: returned scores must still be the TRUE
    BM25 x f(doc), bit-comparable to the python oracle."""
    store, local = fn_setup
    got = [
        (int(r["doc_id"]), float(r["score"]))
        for r in function_boosted_topk(spark, store, Q, 15, FN).collect()
    ]
    want = fn_oracle(
        local, Q, 15, lambda u, lg: 1.0 + 0.05 * math.log(1 + len(u))
    )
    assert_rank_identical(got, want)


def test_constant_boost_scales_plain_bm25(spark, fn_setup):
    store, _ = fn_setup
    got = [
        (int(r["doc_id"]), float(r["score"]))
        for r in function_boosted_topk(spark, store, Q, 10, "2.0").collect()
    ]
    plain = [
        (int(r["doc_id"]), 2.0 * float(r["score"]))
        for r in bm25_topk_wand(spark, store, Q, 10).collect()
    ]
    assert_rank_identical(got, plain)


def test_null_expr_takes_missing_weight(spark, fn_setup):
    store, local = fn_setup
    expr = "CASE WHEN lang = 'en' THEN 1.5 END"
    got = [
        (int(r["doc_id"]), float(r["score"]))
        for r in function_boosted_topk(
            spark, store, Q, 15, expr, missing=0.25
        ).collect()
    ]
    want = fn_oracle(
        local, Q, 15, lambda u, lg: 1.5 if lg == "en" else 0.25
    )
    assert_rank_identical(got, want)


def test_cursor_paging_round_trips_exactly(spark, fn_setup):
    """Power-of-two normalization makes the true-score cursor divide
    back to the kernel's normalized score bit-identically: two pages of
    5 must equal the top 10 with no duplicate or skipped doc."""
    store, _ = fn_setup
    full = [
        (int(r["doc_id"]), float(r["score"]))
        for r in function_boosted_topk(spark, store, Q, 10, FN).collect()
    ]
    p1 = full[:5]
    p2 = [
        (int(r["doc_id"]), float(r["score"]))
        for r in function_boosted_topk(
            spark, store, Q, 5, FN, after=(p1[-1][1], p1[-1][0])
        ).collect()
    ]
    assert p1 + p2 == full


def test_weight_just_above_a_power_of_two(spark, fn_setup):
    """log2(64 + 1 ulp) rounds to 6.0, so ceil(log2) alone picks 64 and
    leaves a normalized weight above 1; the next power of two is 128."""
    store, local = fn_setup
    got = [
        (int(r["doc_id"]), float(r["score"]))
        for r in function_boosted_topk(spark, store, Q, 10, "64.00000000000001D").collect()
    ]
    assert_rank_identical(got, fn_oracle(local, Q, 10, lambda u, lg: 64.00000000000001))


def test_invalid_boosts_raise(spark, fn_setup):
    store, _ = fn_setup
    with pytest.raises(ValueError, match="positive and finite"):
        function_boosted_topk(spark, store, Q, 5, "0.0").collect()
    with pytest.raises(ValueError, match="positive and finite"):
        function_boosted_topk(spark, store, Q, 5, "-1.0 * length(url)").collect()
    with pytest.raises(ValueError, match="missing weight"):
        function_boosted_topk(spark, store, Q, 5, "1.0", missing=0.0)


def test_api_route_and_rejections(spark, fn_setup):
    store, _ = fn_setup
    via_api = [
        (int(r["doc_id"]), float(r["score"]))
        for r in search(spark, store, Q, 10, boost_fn=FN).collect()
    ]
    direct = [
        (int(r["doc_id"]), float(r["score"]))
        for r in function_boosted_topk(spark, store, Q, 10, FN).collect()
    ]
    assert via_api == direct
    with pytest.raises(ValueError):
        search(spark, store, Q, 10, boost_fn=FN, group_by="lang")
    with pytest.raises(ValueError):
        search(spark, store, Q, 10, boost_fn=FN, sort_by="lang")
    with pytest.raises(ValueError):
        search(
            spark, store, Q, 10, boost_fn=FN,
            recency_boost={"by": "warc_ts", "now": None},
        )
