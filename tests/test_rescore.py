"""Phrase rescoring (plans/rescore.py — Lucene QueryRescorer / ES
rescore, the Solr edismax `pf` effect): combination math vs a pure-
Python oracle, degradation identities, warm == cold, the api route,
and the delete lifecycle."""

import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from tangent_spark.config import IndexConfig
from tangent_spark.corpus import generate_pages, pages_with_doc_ids
from tangent_spark.functions.tokenize import tokenize_porter
from tangent_spark.plans.indexer import build_index
from tangent_spark.plans.rescore import phrase_rescore_topk
from tangent_spark.plans.search import Searcher, bm25_topk_wand

CFG = IndexConfig(n_shards=4, block_size=16, store_positions=True)
N = 150
K1, B = CFG.k1, CFG.b


@pytest.fixture(scope="module")
def corpus(spark):
    pages = pages_with_doc_ids(generate_pages(spark, N, partitions=4)).persist()
    local = sorted(
        (int(r["doc_id"]), r["text"])
        for r in pages.select("doc_id", "text").collect()
    )
    return pages, local


@pytest.fixture(scope="module")
def store(spark, corpus, tmp_path_factory):
    pages, _ = corpus
    return build_index(
        spark, pages, str(tmp_path_factory.mktemp("rsc") / "idx"), CFG,
        url_col="url",
    )


def _phrase_tf(tokens, terms, slop):
    """In-order proximity tf: distinct completion positions q of the
    last term reachable by a chain p1<..<q with q - p1 - (k-1) <= slop.
    Maximizing p1 per completion is optimal (the only constraint on p1
    is the final spread), so best[j][q] = max reachable p1."""
    best = {p: p for p, t in enumerate(tokens) if t == terms[0]}
    for term in terms[1:]:
        nxt = {}
        for q, t in enumerate(tokens):
            if t != term:
                continue
            starts = [s for p, s in best.items() if p < q]
            if starts:
                nxt[q] = max(starts)
        best = nxt
    k = len(terms)
    return sum(1 for q, s in best.items() if q - s - (k - 1) <= slop)


def _oracle(local, query, k, window, weight, slop, phrase=None):
    """base BM25 top-window + weight x phrase_bm25, re-sorted top-k —
    the full recomputation from raw text."""
    from tangent_spark.oracle import bm25_rank

    base = bm25_rank(local, query, window, K1, B, "porter")
    p_terms = tokenize_porter(phrase if phrase is not None else query)
    toks = {d: tokenize_porter(t) for d, t in local}
    dls = {d: len(t) for d, t in toks.items() if t}
    n = len(dls)
    avgdl = sum(dls.values()) / n if n else 1.0
    uniq = sorted(set(p_terms))
    dfs = {t: sum(1 for tt in toks.values() if t in tt) for t in uniq}
    out = []
    if len(p_terms) < 2 or weight == 0.0 or any(dfs[t] == 0 for t in uniq):
        out = [(d, s) for d, s in base]
    else:
        idf_p = sum(
            math.log(1.0 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5)) for t in uniq
        )
        for d, s in base:
            tf = _phrase_tf(toks[d], p_terms, slop)
            bonus = 0.0
            if tf:
                bonus = (
                    weight * idf_p * tf * (K1 + 1.0)
                    / (tf + K1 * (1.0 - B + B * dls[d] / avgdl))
                )
            out.append((d, s + bonus))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


def _collect(df):
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


def _assert_close(got, want, ctx=""):
    assert [d for d, _ in got] == [d for d, _ in want], ctx
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9), ctx


# a bigram that actually occurs in the synthetic corpus so the phrase
# bonus is exercised (picked from the generator's vocabulary)
def _live_bigram(local):
    for _, text in local:
        w = text.split()
        if len(w) >= 2:
            return f"{w[0]} {w[1]}"
    raise AssertionError("empty corpus")


def test_rescore_matches_python_oracle(spark, store, corpus):
    _, local = corpus
    query = _live_bigram(local)
    for slop, weight in ((0, 1.0), (2, 0.5), (0, 3.0)):
        got = _collect(
            phrase_rescore_topk(
                spark, store, query, 10, window=50, weight=weight, slop=slop
            )
        )
        want = _oracle(local, query, 10, 50, weight, slop)
        _assert_close(got, want, f"slop={slop} weight={weight}")
        assert got, "vacuous: query matched nothing"


def test_rescore_actually_reorders(spark, store, corpus):
    """The bonus must change the ordering vs plain BM25 for at least one
    (query, weight) in the sweep — otherwise every identity test here
    would pass on a rescorer that adds nothing."""
    _, local = corpus
    # pick discriminating pairs: adjacent in FEW docs but co-occurring
    # in many — exactly where a phrase bonus must change the top-10
    toks = {d: tokenize_porter(t) for d, t in local}
    adjd = Counter()
    for t in toks.values():
        for p in set(zip(t, t[1:])):
            adjd[p] += 1
    cands = []
    for (a, b), n_adj in adjd.items():
        if 1 <= n_adj <= 6:
            n_co = sum(1 for t in toks.values() if a in t and b in t)
            if n_co >= 20:
                cands.append((n_co, f"{a} {b}"))
    assert cands, "corpus has no discriminating bigram"
    queries = [q for _, q in sorted(cands, reverse=True)[:5]]
    for q in queries:
        base = [d for d, _ in _collect(bm25_topk_wand(spark, store, q, 10))]
        resc = [
            d
            for d, _ in _collect(
                phrase_rescore_topk(spark, store, q, 10, window=50, weight=5.0)
            )
        ]
        if base != resc:
            return
    raise AssertionError("rescoring never changed any ordering")


def test_degradation_identities(spark, store, corpus):
    _, local = corpus
    query = _live_bigram(local)
    base = _collect(bm25_topk_wand(spark, store, query, 10))
    # weight 0
    _assert_close(
        _collect(phrase_rescore_topk(spark, store, query, 10, weight=0.0)),
        base, "weight=0",
    )
    # explicit OOV phrase member
    _assert_close(
        _collect(
            phrase_rescore_topk(
                spark, store, query, 10, phrase="zzqx " + query.split()[0]
            )
        ),
        base, "oov",
    )
    # single-token phrase
    one = query.split()[0]
    got = _collect(phrase_rescore_topk(spark, store, one, 10))
    want = _collect(bm25_topk_wand(spark, store, one, 10))
    _assert_close(got, want, "single-term")
    # empty query
    assert phrase_rescore_topk(spark, store, "", 10).count() == 0


def test_window_clamps_to_k(spark, store, corpus):
    _, local = corpus
    query = _live_bigram(local)
    got = _collect(phrase_rescore_topk(spark, store, query, 10, window=1))
    want = _oracle(local, query, 10, 10, 1.0, 0)  # window = max(window, k)
    _assert_close(got, want)
    with pytest.raises(ValueError):
        phrase_rescore_topk(spark, store, query, 10, window=0)
    with pytest.raises(ValueError):
        phrase_rescore_topk(spark, store, query, 10, weight=-1.0)


def test_warm_equals_cold(spark, store, corpus):
    _, local = corpus
    query = _live_bigram(local)
    s = Searcher(spark, store)
    try:
        for slop in (0, 2):
            warm = _collect(s.rescore(query, 10, window=40, weight=1.5, slop=slop))
            cold = _collect(
                phrase_rescore_topk(
                    spark, store, query, 10, window=40, weight=1.5, slop=slop
                )
            )
            _assert_close(warm, cold, f"slop={slop}")
    finally:
        s.close()


def test_requires_positions(spark, corpus, tmp_path_factory):
    pages, _ = corpus
    st = build_index(
        spark, pages,
        str(tmp_path_factory.mktemp("rscnp") / "idx"),
        IndexConfig(n_shards=4, block_size=16),  # no positions
        url_col="url",
    )
    with pytest.raises(ValueError, match="positions"):
        phrase_rescore_topk(spark, st, "data query", 10)


def test_api_route(spark, store, corpus):
    from tangent_spark.api import search

    _, local = corpus
    query = _live_bigram(local)
    got = _collect(
        search(spark, store, query, 10, rescore={"weight": 2.0, "window": 30})
    )
    want = _collect(
        phrase_rescore_topk(spark, store, query, 10, window=30, weight=2.0)
    )
    _assert_close(got, want)
    with pytest.raises(ValueError, match="unknown rescore option"):
        search(spark, store, query, 10, rescore={"w": 1.0})
    with pytest.raises(ValueError, match="combines with no other"):
        search(
            spark, store, query, 10,
            rescore={"weight": 1.0}, after=(1.0, 3),
        )
    with pytest.raises(ValueError, match="not supported with wildcard"):
        search(spark, store, "dat* query", 10, rescore={"weight": 1.0})
    with pytest.raises(ValueError, match="rescore"):
        search(spark, store, query, 10, rescore={"weight": 1.0}, sort_by="lang")
    with pytest.raises(ValueError, match="rescore"):
        search(spark, store, "*:*", 10, rescore={"weight": 1.0})


def test_rescore_respects_deletes(spark, corpus, tmp_path_factory):
    from tangent_spark.streaming.incremental import delete_docs

    pages, local = corpus
    st = build_index(
        spark, pages, str(tmp_path_factory.mktemp("rscdel") / "idx"), CFG,
        url_col="url",
    )
    query = _live_bigram(local)
    before = _collect(phrase_rescore_topk(spark, st, query, 10))
    assert before
    victim = before[0][0]
    delete_docs(spark, st, [victim], batch_id=1)
    after = _collect(phrase_rescore_topk(spark, st, query, 10))
    assert victim not in [d for d, _ in after]
    # pre-compaction Lucene semantics: df/avgdl keep their index-time
    # values, the victim is only MASKED — so the oracle ranks over the
    # FULL corpus stats and drops the victim's row afterwards
    want = [
        x for x in _oracle(local, query, 11, 101, 1.0, 0) if x[0] != victim
    ][:10]
    _assert_close(after, want)
