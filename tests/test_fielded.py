"""Fielded index (plans/fielded.py): per-field postings spaces with
per-field norms and docCount IDF, boosted boolean-sum scoring — the
Solr `title:q^2 OR body:q` surface the reference delegated to its
Solr sidecar (reference text/text_engine_client.py:15-52). Rank
identity is asserted against an independent pure-Python oracle that
recomputes the whole formula from the raw field texts."""

import math

import pytest
from pyspark.sql import functions as F

from tangent_spark.api import search
from tangent_spark.config import IndexConfig
from tangent_spark.corpus import generate_pages, pages_with_doc_ids
from tangent_spark.oracle import _tok
from tangent_spark.plans.fielded import build_fielded_index, fielded_topk
from tangent_spark.plans.indexer import build_index
from tangent_spark.plans.search import bm25_topk_wand
from tests.conftest import assert_rank_identical

N_DOCS = 100
BOOSTS = {"title": 2.0, "body": 1.0}
QUERIES = [
    "matrix theorem proof",
    "spark shuffle partition",
    "the of and",
    "convergence",
    "nonexistentterm matrix",
]


def fielded_rank(local, query, boosts, k, k1=1.2, b=0.75, tokenizer="porter"):
    """Pure-Python fielded BM25: local = [(doc_id, {field: text})].
    score(d) = sum_f sum_t boost_f * idf_f(t) * tfnorm(tf, dl_f, avgdl_f),
    idf_f over docCount(f) = docs with >= 1 token in f."""
    qts = _tok(query, tokenizer)
    per_field: dict[str, dict[int, dict[str, int]]] = {}
    dls: dict[str, dict[int, int]] = {}
    for doc_id, fields in local:
        for f, text in fields.items():
            toks = _tok(text, tokenizer)
            if not toks:
                continue
            tf: dict[str, int] = {}
            for t in toks:
                tf[t] = tf.get(t, 0) + 1
            per_field.setdefault(f, {})[doc_id] = tf
            dls.setdefault(f, {})[doc_id] = len(toks)
    scores: dict[int, float] = {}
    for f, boost in boosts.items():
        docs_f = per_field.get(f, {})
        n_f = len(docs_f)
        if not n_f:
            continue
        avgdl_f = sum(dls[f].values()) / n_f
        for t in set(qts):
            df = sum(1 for tf in docs_f.values() if t in tf)
            if not df:
                continue
            idf = math.log(1.0 + (n_f - df + 0.5) / (df + 0.5))
            for doc_id, tf in docs_f.items():
                if t not in tf:
                    continue
                dl = dls[f][doc_id]
                tfn = (
                    tf[t] * (k1 + 1.0)
                    / (tf[t] + k1 * (1.0 - b + b * dl / avgdl_f))
                )
                scores[doc_id] = scores.get(doc_id, 0.0) + boost * idf * tfn
    ranked = sorted(scores.items(), key=lambda x: (-x[1], x[0]))
    return ranked[:k]


@pytest.fixture(scope="module")
def fielded_corpus(spark):
    """Synthetic pages split into title (first 6 tokens) / body (rest);
    every 10th doc gets an EMPTY title so docCount(title) < n_docs and
    the per-field-N IDF actually differs from corpus-N."""
    pages = pages_with_doc_ids(generate_pages(spark, N_DOCS, partitions=6))
    toks = F.split(F.col("text"), " ")
    docs = pages.select(
        "doc_id",
        "url",
        F.when(F.col("doc_id") % 10 == 0, F.lit("")).otherwise(
            F.array_join(F.slice(toks, 1, 6), " ")
        ).alias("title"),
        F.expr("array_join(slice(split(text, ' '), 7, size(split(text, ' '))), ' ')").alias(
            "body"
        ),
    ).persist()
    local = [
        (int(r["doc_id"]), {"title": r["title"], "body": r["body"]})
        for r in docs.collect()
    ]
    return docs, sorted(local)


@pytest.fixture(scope="module")
def fielded_store(spark, fielded_corpus, tmp_path_factory):
    docs, _ = fielded_corpus
    out = str(tmp_path_factory.mktemp("fidx") / "index")
    cfg = IndexConfig(n_shards=8, block_size=16)
    return build_fielded_index(
        spark, docs, out, ("title", "body"), cfg, url_col="url"
    )


def test_field_stats_stage(spark, fielded_store, fielded_corpus):
    _, local = fielded_corpus
    fs = {
        r["field"]: r
        for r in spark.read.parquet(fielded_store.path("field_stats")).collect()
    }
    n_title = sum(1 for _, d in local if _tok(d["title"], "porter"))
    n_body = sum(1 for _, d in local if _tok(d["body"], "porter"))
    assert fs["title"]["n_docs"] == n_title < N_DOCS
    assert fs["body"]["n_docs"] == n_body == N_DOCS
    assert fielded_store.get_config().fields == ("title", "body")


@pytest.mark.parametrize("query", QUERIES)
def test_fielded_rank_identity(spark, fielded_store, fielded_corpus, query):
    _, local = fielded_corpus
    got = [
        (int(r["doc_id"]), float(r["score"]))
        for r in fielded_topk(spark, fielded_store, query, 15, BOOSTS).collect()
    ]
    assert_rank_identical(got, fielded_rank(local, query, BOOSTS, 15))


def test_title_only_boosts_subset(spark, fielded_store, fielded_corpus):
    """Querying only the title field must rank by title postings alone
    (empty-title docs can never appear)."""
    _, local = fielded_corpus
    got = [
        (int(r["doc_id"]), float(r["score"]))
        for r in fielded_topk(
            spark, fielded_store, "matrix theorem", 10, {"title": 1.0}
        ).collect()
    ]
    assert got == fielded_rank(local, "matrix theorem", {"title": 1.0}, 10)
    assert all(d % 10 != 0 for d, _ in got)


def test_boost_flips_ranking(spark, tmp_path):
    """A term only in A's title and only in B's body: title-heavy boosts
    rank A first, body-heavy boosts rank B first."""
    rows = [
        (0, "needle alpha beta", "gamma delta epsilon zeta"),
        (1, "alpha beta gamma", "needle delta epsilon zeta"),
        (2, "alpha beta gamma", "delta epsilon zeta eta"),
    ]
    docs = _spark_docs(rows)
    store = build_fielded_index(
        docs.sparkSession,
        docs,
        str(tmp_path / "flip"),
        ("title", "body"),
        IndexConfig(n_shards=2, block_size=8),
    )
    spark = docs.sparkSession
    top_t = fielded_topk(spark, store, "needle", 2, {"title": 5.0, "body": 1.0}).collect()
    top_b = fielded_topk(spark, store, "needle", 2, {"title": 1.0, "body": 5.0}).collect()
    assert [r["doc_id"] for r in top_t] == [0, 1]
    assert [r["doc_id"] for r in top_b] == [1, 0]


def _spark_docs(rows):
    from tangent_spark.session import get_spark

    spark = get_spark(cpus=8)
    return spark.createDataFrame(rows, "doc_id long, title string, body string")


def test_single_field_matches_plain_index(spark, tmp_path):
    """A one-field fielded index over the full text must score exactly
    like the plain index (same N: every page has tokens; same avgdl;
    boost 1.0) — the fielded path is the plain kernel, generalized."""
    pages = pages_with_doc_ids(generate_pages(spark, 60, partitions=4)).persist()
    cfg = IndexConfig(n_shards=4, block_size=16)
    plain = build_index(spark, pages, str(tmp_path / "plain"), cfg)
    fld = build_fielded_index(
        spark, pages, str(tmp_path / "fld"), ("text",), cfg
    )
    q = "matrix convergence theorem"
    want = [
        (int(r["doc_id"]), float(r["score"]))
        for r in bm25_topk_wand(spark, plain, q, 10).collect()
    ]
    got = [
        (int(r["doc_id"]), float(r["score"]))
        for r in fielded_topk(spark, fld, q, 10, {"text": 1.0}).collect()
    ]
    assert_rank_identical(got, want)


def test_fielded_search_after_tiles(spark, fielded_store):
    want = [
        (int(r["doc_id"]), float(r["score"]))
        for r in fielded_topk(
            spark, fielded_store, "matrix theorem proof", 20, BOOSTS
        ).collect()
    ]
    got, cursor = [], None
    for _ in range(4):
        rows = fielded_topk(
            spark, fielded_store, "matrix theorem proof", 5, BOOSTS, after=cursor
        ).collect()
        got += [(int(r["doc_id"]), float(r["score"])) for r in rows]
        cursor = (float(rows[-1]["score"]), int(rows[-1]["doc_id"]))
    assert got == want


def test_unknown_boost_field_rejected(spark, fielded_store):
    with pytest.raises(ValueError, match="unknown fields"):
        fielded_topk(spark, fielded_store, "matrix", 5, {"headline": 1.0})


def test_fielded_resume_skips_stages(spark, fielded_corpus, fielded_store):
    import time

    docs, _ = fielded_corpus
    t0 = time.time()
    again = build_fielded_index(
        spark,
        docs,
        fielded_store.root,
        ("title", "body"),
        IndexConfig(n_shards=8, block_size=16),
        url_col="url",
    )
    assert time.time() - t0 < 10
    assert again.stage_done("field_stats")


def test_fielded_empty_query(spark, fielded_store):
    assert fielded_topk(spark, fielded_store, "", 5, BOOSTS).count() == 0
    assert fielded_topk(spark, fielded_store, "!!!", 5, BOOSTS).count() == 0


def dismax_rank(local, query, boosts, tie, k, k1=1.2, b=0.75, tokenizer="porter"):
    """Pure-Python dismax BM25 (Lucene DisjunctionMaxQuery / edismax
    combiner): per base term t the per-field scores combine as
    max_f + tie * (sum_f - max_f), then sum over terms."""
    qts = _tok(query, tokenizer)
    per_field: dict[str, dict[int, dict[str, int]]] = {}
    dls: dict[str, dict[int, int]] = {}
    for doc_id, fields in local:
        for f, text in fields.items():
            toks = _tok(text, tokenizer)
            if not toks:
                continue
            tf: dict[str, int] = {}
            for t in toks:
                tf[t] = tf.get(t, 0) + 1
            per_field.setdefault(f, {})[doc_id] = tf
            dls.setdefault(f, {})[doc_id] = len(toks)
    scores: dict[int, float] = {}
    for t in set(qts):
        per_doc: dict[int, list[float]] = {}
        for f, boost in boosts.items():
            docs_f = per_field.get(f, {})
            n_f = len(docs_f)
            if not n_f:
                continue
            avgdl_f = sum(dls[f].values()) / n_f
            df = sum(1 for tf in docs_f.values() if t in tf)
            if not df:
                continue
            idf = math.log(1.0 + (n_f - df + 0.5) / (df + 0.5))
            for doc_id, tf in docs_f.items():
                if t not in tf:
                    continue
                dl = dls[f][doc_id]
                tfn = (
                    tf[t] * (k1 + 1.0)
                    / (tf[t] + k1 * (1.0 - b + b * dl / avgdl_f))
                )
                per_doc.setdefault(doc_id, []).append(boost * idf * tfn)
        for doc_id, parts in per_doc.items():
            mx = max(parts)
            scores[doc_id] = scores.get(doc_id, 0.0) + mx + tie * (sum(parts) - mx)
    return sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]


@pytest.mark.parametrize("query", QUERIES)
@pytest.mark.parametrize("tie", [0.0, 0.3])
def test_dismax_rank_identity(spark, fielded_store, fielded_corpus, query, tie):
    from tangent_spark.plans.fielded import dismax_topk

    _, local = fielded_corpus
    got = [
        (int(r["doc_id"]), float(r["score"]))
        for r in dismax_topk(
            spark, fielded_store, query, 15, BOOSTS, tie=tie
        ).collect()
    ]
    assert_rank_identical(got, dismax_rank(local, query, BOOSTS, tie, 15))


def test_dismax_tie_one_is_boolean_sum(spark, fielded_store):
    """tie=1.0 degenerates to fielded_topk's BooleanQuery sum exactly —
    max + 1.0 * (sum - max) = sum."""
    from tangent_spark.plans.fielded import dismax_topk

    q = "matrix theorem proof"
    want = [
        (int(r["doc_id"]), round(float(r["score"]), 9))
        for r in fielded_topk(spark, fielded_store, q, 15, BOOSTS).collect()
    ]
    got = [
        (int(r["doc_id"]), round(float(r["score"]), 9))
        for r in dismax_topk(spark, fielded_store, q, 15, BOOSTS, tie=1.0).collect()
    ]
    assert got == want


def test_dismax_best_field_wins(spark, tmp_path):
    """The dismax pathology fix: with tie=0 a doc matching one field
    strongly outranks a doc matching both fields weakly, where the
    plain sum would rank them the other way."""
    from tangent_spark.plans.fielded import dismax_topk

    rows = [
        # doc 0: 'needle' twice in title (one strong field)
        (0, "needle needle alpha", "gamma delta epsilon zeta eta"),
        # doc 1: 'needle' once in each field (two weak fields)
        (1, "needle alpha beta", "needle delta epsilon zeta eta"),
        (2, "alpha beta gamma", "delta epsilon zeta eta theta"),
        # doc 3 balances the per-field dfs (title df == body df == 2)
        # so the cross-field comparison is about tf shape, not idf
        (3, "alpha beta gamma", "needle needle delta epsilon zeta"),
    ]
    docs = _spark_docs(rows)
    spark = docs.sparkSession
    store = build_fielded_index(
        docs.sparkSession, docs, str(tmp_path / "dmx"),
        ("title", "body"), IndexConfig(n_shards=2, block_size=8),
    )
    boosts = {"title": 1.0, "body": 1.0}
    sum_top = [r["doc_id"] for r in fielded_topk(spark, store, "needle", 2, boosts).collect()]
    dmx_top = [r["doc_id"] for r in dismax_topk(spark, store, "needle", 2, boosts, tie=0.0).collect()]
    assert sum_top[0] == 1  # plain sum rewards matching both fields
    assert dmx_top[0] == 0  # dismax rewards the best single field


def test_dismax_validates_inputs(spark, fielded_store):
    from tangent_spark.plans.fielded import dismax_topk

    with pytest.raises(ValueError, match="tie"):
        dismax_topk(spark, fielded_store, "matrix", 5, BOOSTS, tie=1.5)
    with pytest.raises(ValueError, match="positive"):
        dismax_topk(spark, fielded_store, "matrix", 5, {"title": -1.0}, tie=0.0)
    # the sum path too: a negative idf makes the block bound a lower
    # bound, so the threshold skip would drop qualifying ranges
    signed = {"title": -1.3, "body": 0.9}
    with pytest.raises(ValueError, match="positive"):
        fielded_topk(spark, fielded_store, "matrix", 5, signed)
    with pytest.raises(ValueError, match="positive"):
        search(spark, fielded_store, "matrix", 5, boosts=signed)


# ---- field-scoped query syntax (Lucene classic QueryParser) -------------

def test_parse_field_query_shapes():
    from tangent_spark.plans.fielded import parse_field_query

    fields = ("title", "body")
    got = parse_field_query("title:Matrix body:proofs^2 data", fields)
    assert got == [
        ("title", ["matrix"], 1.0),
        ("body", ["proof"], 2.0),
        (None, ["data"], 1.0),
    ]
    # unknown prefix stays term text (Lucene: 'http://x' is a term);
    # tokens come back sorted-distinct (query_terms discipline)
    assert parse_field_query("http://example", fields, "simple") == [
        (None, ["example", "http"], 1.0)
    ]
    # a chunk may analyze to several tokens — all keep field + boost
    assert parse_field_query("title:data-base^3", fields, "simple") == [
        ("title", ["base", "data"], 3.0)
    ]
    assert parse_field_query("", fields) == []
    assert parse_field_query("!!! ???", fields) == []


def _term_query_scores(local, field, token, boost, tokenizer, k1=1.2, b=0.75):
    """Per-doc BM25 of ONE analyzed token against one field (Lucene
    TermQuery) — token matched verbatim against the analyzed corpus."""
    tfs: dict[int, int] = {}
    dls: dict[int, int] = {}
    for doc_id, fields in local:
        toks = _tok(fields.get(field, ""), tokenizer)
        if not toks:
            continue
        dls[doc_id] = len(toks)
        n = sum(1 for x in toks if x == token)
        if n:
            tfs[doc_id] = n
    if not tfs:
        return []
    n_f = len(dls)
    avgdl = sum(dls.values()) / n_f
    df = len(tfs)
    idf = math.log(1.0 + (n_f - df + 0.5) / (df + 0.5))
    return [
        (
            d,
            boost * idf * tf * (k1 + 1.0)
            / (tf + k1 * (1.0 - b + b * dls[d] / avgdl)),
        )
        for d, tf in tfs.items()
    ]


def field_query_rank(local, query, qf, tie, k, tokenizer="porter"):
    """Pure-Python oracle: expand field-scoped + bare clauses exactly
    as field_query_topk documents, score per clause via the per-field
    BM25 of fielded_rank's formula, combine (sum | dismax) per clause,
    sum across clauses."""
    from tangent_spark.plans.fielded import parse_field_query

    clauses = parse_field_query(query, ("title", "body"), tokenizer)
    scores: dict[int, float] = {}
    for field, toks, boost in clauses:
        targets = [(field, boost)] if field else [
            (f, boost * qb) for f, qb in qf.items()
        ]
        for t in toks:
            per_doc: dict[int, list[float]] = {}
            for f, b in targets:
                # exact-token TermQuery scores (no re-analysis: t is
                # already an analyzed token, matched verbatim like the
                # engine's f:t postings lookup)
                for doc_id, s in _term_query_scores(local, f, t, b, tokenizer):
                    per_doc.setdefault(doc_id, []).append(s)
            for doc_id, parts in per_doc.items():
                if tie is None:
                    add = sum(parts)
                else:
                    mx = max(parts)
                    add = mx + tie * (sum(parts) - mx)
                scores[doc_id] = scores.get(doc_id, 0.0) + add
    return sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]


QP_QUERIES = [
    "title:matrix proof",
    "title:matrix body:theorem^2 convergence",
    "spark shuffle^2",
    "body:the title:of",
]


@pytest.mark.parametrize("query", QP_QUERIES)
@pytest.mark.parametrize("tie", [None, 0.25])
def test_field_query_rank_identity(spark, fielded_store, fielded_corpus, query, tie):
    from tangent_spark.plans.fielded import field_query_topk

    _, local = fielded_corpus
    got = [
        (int(r["doc_id"]), float(r["score"]))
        for r in field_query_topk(
            spark, fielded_store, query, 15, BOOSTS, tie=tie
        ).collect()
    ]
    assert_rank_identical(got, field_query_rank(local, query, BOOSTS, tie, 15))


def test_field_query_all_bare_matches_fielded(spark, fielded_store):
    """A query with no field prefixes and tie=None is exactly the qf
    boolean-sum — must equal fielded_topk."""
    from tangent_spark.plans.fielded import field_query_topk

    q = "matrix theorem proof"
    want = [
        (int(r["doc_id"]), round(float(r["score"]), 9))
        for r in fielded_topk(spark, fielded_store, q, 15, BOOSTS).collect()
    ]
    got = [
        (int(r["doc_id"]), round(float(r["score"]), 9))
        for r in field_query_topk(spark, fielded_store, q, 15, BOOSTS).collect()
    ]
    assert got == want


def test_field_query_duplicate_clause_merges_boosts(spark, fielded_store, fielded_corpus):
    """'title:matrix title:matrix' must score like one clause at
    boost 2 (Lucene sums the two TermQueries; BM25 is linear in
    boost * idf)."""
    from tangent_spark.plans.fielded import field_query_topk

    twice = [
        (int(r["doc_id"]), round(float(r["score"]), 9))
        for r in field_query_topk(
            spark, fielded_store, "title:matrix title:matrix", 10, BOOSTS
        ).collect()
    ]
    boosted = [
        (int(r["doc_id"]), round(float(r["score"]), 9))
        for r in field_query_topk(
            spark, fielded_store, "title:matrix^2", 10, BOOSTS
        ).collect()
    ]
    assert twice == boosted


def test_field_query_validates(spark, fielded_store):
    from tangent_spark.plans.fielded import field_query_topk

    with pytest.raises(ValueError, match="unknown fields"):
        field_query_topk(spark, fielded_store, "matrix", 5, {"headline": 1.0})
    with pytest.raises(ValueError, match="positive"):
        field_query_topk(spark, fielded_store, "matrix^0", 5, BOOSTS)
    assert field_query_topk(spark, fielded_store, "", 5, BOOSTS).count() == 0


def test_dismax_kernel_huge_doc_ids():
    """ADVICE r5: the old (doc_id * n_groups + gid) packing overflowed
    int64 for doc ids near the 2^62 _MAXDOC sentinel, silently merging
    distinct (doc, group) pairs. The lexsort grouping must score huge
    ids exactly like small ones."""
    import numpy as np
    import pandas as pd

    from tangent_spark.codec import bm25_tf_norm, encode_posting_list
    from tangent_spark.config import IndexConfig
    from tangent_spark.plans.search import _score_shard

    cfg = IndexConfig(n_shards=1, block_size=16)
    base = np.int64(2**61)
    ids = np.array([base, base + 1, base + 2], dtype=np.int64)
    tfs = np.array([3, 1, 2], dtype=np.int64)
    dls = np.array([10, 10, 10], dtype=np.int64)
    avgdl, tie = 10.0, 0.3

    def row(term, idf, gid):
        fd, mt, md, cnt, db, tb, lb, dc, tc, lc = encode_posting_list(
            ids, tfs, dls, cfg.block_size
        )
        return {
            "shard": 0, "term": term, "idf": idf, "dmax": gid,
            "max_doc": int(ids[-1]),
            "first_docs": fd.tolist(), "max_tfs": mt.tolist(),
            "min_dls": md.tolist(), "counts": cnt.tolist(),
            "docs_blob": db, "tfs_blob": tb, "dls_blob": lb,
            "d_cuts": dc.tolist(), "t_cuts": tc.tolist(),
            "l_cuts": lc.tolist(),
        }

    pdf = pd.DataFrame([row("f1|t", 1.5, 0), row("f2|t", 0.7, 0),
                        row("f1|u", 1.1, 1)])
    kern = _score_shard(avgdl, cfg, 3, dismax_tie=tie)
    out = kern(pdf).sort_values("doc_id").reset_index(drop=True)

    tfn = bm25_tf_norm(tfs, dls, avgdl, cfg.k1, cfg.b)
    want = {}
    for d_i in range(ids.size):
        c1, c2 = 1.5 * tfn[d_i], 0.7 * tfn[d_i]   # group 0 members
        g0 = max(c1, c2) + tie * (c1 + c2 - max(c1, c2))
        g1 = 1.1 * tfn[d_i]                        # group 1 singleton
        want[int(ids[d_i])] = g0 + g1
    # NOT iterrows(): an all-numeric row coerces to float64, which
    # cannot represent ids near 2^61 and would collapse them
    got = dict(
        zip(out["doc_id"].astype("int64").tolist(), out["score"].tolist())
    )
    assert set(got) == set(want)
    for d in want:
        assert abs(got[d] - want[d]) < 1e-12, (d, got[d], want[d])
