"""IndexStore read memoization: table handles, corpus stats and the
tombstone id set are built once per (SparkSession, index generation).

Every manifest write bumps the generation, so the next cold query after
append_batch, delete_docs or compact_postings must serve the new state
through the same IndexStore object; a handle cached under one session
is never handed to another.
"""

import datetime
import fnmatch
import math

import pytest
from pyspark.sql import functions as F

from tangent_spark.config import IndexConfig
from tangent_spark.corpus import generate_pages, pages_with_doc_ids
from tangent_spark.functions.tokenize import tokenize_porter
from tangent_spark.oracle import bm25_rank
from tangent_spark.plans.indexer import build_index
from tangent_spark.plans.boolean import boolean_topk
from tangent_spark.plans.search import (
    QUERY_TASK_ROWS_DEFAULT,
    Searcher,
    bm25_topk_synonyms,
    bm25_topk_wand,
    boosted_topk,
    function_boosted_topk,
    load_deleted_ids,
    query_task_rows,
)
from tangent_spark.plans.suggest import more_like_this
from tangent_spark.plans.wildcard import parse_wildcard_query, wildcard_topk
from tangent_spark.session import default_driver_memory
from tangent_spark.streaming.incremental import (
    append_batch,
    compact_postings,
    delete_docs,
)

CFG = IndexConfig(n_shards=4, block_size=16, meta_cols=("warc_ts",))
N_FIRST = 80
N_ALL = 120
K = 10
BM25_Q = "matrix convergence theorem"
WILD_Q = "con* value"


@pytest.fixture(scope="module")
def pages(spark):
    return pages_with_doc_ids(generate_pages(spark, N_ALL, partitions=4)).persist()


@pytest.fixture(scope="module")
def texts_by_url(pages):
    return {r["url"]: r["text"] for r in pages.select("url", "text").collect()}


def _build(spark, pages, path):
    return build_index(
        spark, pages.filter(F.col("doc_id") < N_FIRST), path, CFG, url_col="url"
    )


def _rows(df):
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


def _indexed_docs(spark, store, texts_by_url):
    """(doc_id, text) of every doc in the docs dictionary (tombstoned
    docs included until compaction)."""
    return sorted(
        (int(r["doc_id"]), texts_by_url[r["url"]])
        for r in store.read(spark, "docs").select("doc_id", "url").collect()
    )


def _wildcard_terms(docs, query):
    vocab = {t for _, text in docs for t in tokenize_porter(text)}
    pats, lits = parse_wildcard_query(query, "porter")
    terms = set(lits)
    for p in pats:
        terms.update(t for t in vocab if fnmatch.fnmatchcase(t, p))
    return sorted(terms)


def _oracle(docs, query, deleted=()):
    """BM25 top-K over `docs` with `deleted` masked afterwards: stats
    stay at their index-time values until compaction (Lucene)."""
    terms = _wildcard_terms(docs, query) if "*" in query else query
    ranked = bm25_rank(docs, terms, K + len(deleted), CFG.k1, CFG.b, "porter")
    return [(d, s) for d, s in ranked if d not in set(deleted)][:K]


def _assert_same(got, want):
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9)


def _check_cold_queries(spark, store, docs, deleted=()):
    for query, fn in ((BM25_Q, bm25_topk_wand), (WILD_Q, wildcard_topk)):
        got = _rows(fn(spark, store, query, K))
        _assert_same(got, _oracle(docs, query, deleted))
    return _rows(bm25_topk_wand(spark, store, BM25_Q, K))


def test_read_returns_identical_handle_until_commit(spark, pages, tmp_path):
    store = _build(spark, pages, str(tmp_path / "idx"))
    postings = store.read(spark, "postings")
    stats = store.corpus_stats(spark)
    deleted = load_deleted_ids(spark, store)
    assert store.read(spark, "postings") is postings
    assert store.corpus_stats(spark) is stats
    assert load_deleted_ids(spark, store) is deleted
    assert not deleted.flags.writeable  # shared across queries
    store.commit_stage("noop", [], {})
    assert store.read(spark, "postings") is not postings
    assert store.corpus_stats(spark) is not stats
    assert store.corpus_stats(spark) == stats


def test_handle_not_shared_across_sessions(spark, pages, tmp_path):
    store = _build(spark, pages, str(tmp_path / "idx"))
    other = spark.newSession()
    mine = store.read(spark, "term_stats")
    theirs = store.read(other, "term_stats")
    assert theirs is not mine
    assert theirs.sparkSession is other
    assert store.read(other, "term_stats") is theirs
    # each session's entry replaces the other's: never handed across
    assert store.read(spark, "term_stats").sparkSession is spark
    assert store.corpus_stats(other) == store.corpus_stats(spark)


def test_cold_queries_follow_every_commit(spark, pages, texts_by_url, tmp_path):
    store = _build(spark, pages, str(tmp_path / "idx"))
    docs = _indexed_docs(spark, store, texts_by_url)
    _check_cold_queries(spark, store, docs)  # memoizes every handle

    append_batch(
        spark, store, pages.filter(F.col("doc_id") >= N_FIRST).drop("doc_id"), 1
    )
    docs = _indexed_docs(spark, store, texts_by_url)
    assert len(docs) == N_ALL
    ranked = _check_cold_queries(spark, store, docs)
    appended = {d for d, _ in docs} - set(range(N_FIRST))
    assert appended & {d for d, _ in ranked}, "appended docs must rank"

    victims = [d for d, _ in ranked[:3]]
    delete_docs(spark, store, victims, 1)
    ranked = _check_cold_queries(spark, store, docs, deleted=victims)
    assert not set(victims) & {d for d, _ in ranked}

    old_postings = store.path("postings")
    compact_postings(spark, store)
    assert store.path("postings") != old_postings
    served = store.read(spark, "postings").inputFiles()
    assert served and all(f.find(store.path("postings") + "/") >= 0 for f in served)
    docs = [(d, t) for d, t in docs if d not in set(victims)]
    assert _indexed_docs(spark, store, texts_by_url) == docs
    assert load_deleted_ids(spark, store).size == 0
    _check_cold_queries(spark, store, docs)


# every cold BM25 variant and the Spark jobs of its repeat call
COLD_BM25 = {
    "plain": (lambda spark, st: bm25_topk_wand(spark, st, BM25_Q, K), 2),
    "term_boost": (
        lambda spark, st: bm25_topk_wand(spark, st, "matrix^2 convergence theorem", K),
        2,
    ),
    "cursor": (lambda spark, st: bm25_topk_wand(spark, st, BM25_Q, K, after=(1.0, 5)), 2),
    "synonyms": (
        lambda spark, st: bm25_topk_synonyms(spark, st, BM25_Q, K, {"matrix": ["tensor"]}),
        2,
    ),
    # + the source doc's term selection
    "more_like_this": (lambda spark, st: more_like_this(spark, st, 5, K), 4),
    # + the doc -> weight map
    "boosted": (
        lambda spark, st: boosted_topk(
            spark, st, BM25_Q, K, "warc_ts", datetime.datetime(2025, 6, 1)
        ),
        3,
    ),
    "function_boosted": (
        lambda spark, st: function_boosted_topk(
            spark, st, BM25_Q, K, "1.0 + 0.05 * ln(1 + length(url))"
        ),
        3,
    ),
    # + the pattern expansion over the vocabulary
    "wildcard": (lambda spark, st: wildcard_topk(spark, st, WILD_Q, K), 3),
}


@pytest.mark.parametrize("variant", list(COLD_BM25))
def test_warm_cold_bm25_job_count(spark, pages, tmp_path, variant):
    """With handles, corpus stats and tombstones memoized, a repeat cold
    BM25 query runs only its own plan's jobs: the collect of the
    query terms' df and the one-task result stage (the query's postings
    fit query_task_rows, so there is no shard shuffle) — plus, for a
    variant, the bounded jobs that build its query (noted in
    COLD_BM25)."""
    run, jobs = COLD_BM25[variant]
    store = _build(spark, pages, str(tmp_path / "idx"))
    want = _rows(run(spark, store))
    sc = spark.sparkContext
    group = f"test-cold-bm25-jobs-{variant}"
    sc.setJobGroup(group, f"second cold {variant}")
    try:
        got = _rows(run(spark, store))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == want
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs


# an index whose shards hold several runs per term (a base build plus an
# appended batch) and tombstones, with positions for phrase clauses
RUNS_CFG = IndexConfig(n_shards=4, block_size=16, store_positions=True)
RUNS_BASE = 150
RUNS_ALL = 200
BOOL_Q = "matrix +theorem -vector"
PHRASE_Q = 'matrix +theorem "convergence theorem"'
SMALL_COLD = {
    "bm25": lambda spark, st: bm25_topk_wand(spark, st, BM25_Q, K),
    "boolean": lambda spark, st: boolean_topk(spark, st, BOOL_Q, K),
    "boolean_phrase": lambda spark, st: boolean_topk(spark, st, PHRASE_Q, K),
}
TOPK_QUERIES = [
    BM25_Q,
    "matrix^2 convergence theorem",
    "proof of the prime theorem",
    "spark^1.5 index query^3",
    "graph algebra tensor limit series",
    "kernel^0.5 entropy manifold operator",
]


@pytest.fixture(scope="module")
def runs_store(spark, tmp_path_factory):
    pages = pages_with_doc_ids(generate_pages(spark, RUNS_ALL, partitions=4)).persist()
    store = build_index(
        spark, pages.filter(F.col("doc_id") < RUNS_BASE),
        str(tmp_path_factory.mktemp("runs") / "idx"), RUNS_CFG, url_col="url",
    )
    append_batch(
        spark, store, pages.filter(F.col("doc_id") >= RUNS_BASE).drop("doc_id"), 1
    )
    top = bm25_topk_wand(spark, store, BM25_Q, 3).collect()
    delete_docs(spark, store, [int(r["doc_id"]) for r in top], 1)
    pages.unpersist()
    runs = (
        store.read(spark, "postings")
        .filter(F.col("term").isin(["matrix", "theorem"]))
        .groupBy("shard", "term")
        .count()
    )
    assert runs.filter(F.col("count") > 1).count() > 0
    return store


def _exchanges(df):
    """The Exchange nodes of `df`'s executed plan, broadcasts excluded."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [
        line.strip() for line in plan.splitlines()
        if "Exchange" in line and "BroadcastExchange" not in line
    ]


def _repeat(spark, run, store, group):
    """(rows, executed-plan exchanges, Spark jobs) of a repeat call."""
    run(spark, store).collect()
    sc = spark.sparkContext
    sc.setJobGroup(group, "repeat cold query")
    try:
        df = run(spark, store)
        rows = [(int(r["doc_id"]), repr(r["score"])) for r in df.collect()]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return rows, _exchanges(df), jobs


@pytest.mark.parametrize("variant", list(SMALL_COLD))
def test_small_cold_query_runs_in_one_task(spark, runs_store, monkeypatch, variant):
    """A cold query whose postings fit query_task_rows() scores its
    matched rows in one task that regroups them by shard: no shard
    shuffle. TANGENT_QUERY_TASK_ROWS=1 brings the shuffle back, with
    identical rows. A phrase clause keeps its positional joins."""
    run = SMALL_COLD[variant]
    rows, exchanges, jobs = _repeat(spark, run, runs_store, f"one-task-{variant}")
    assert rows
    if variant == "boolean_phrase":
        assert not [e for e in exchanges if "hashpartitioning(shard" in e]
    else:
        assert exchanges == []
    monkeypatch.setenv("TANGENT_QUERY_TASK_ROWS", "1")
    rows_s, exchanges_s, jobs_s = _repeat(
        spark, run, runs_store, f"shuffle-{variant}"
    )
    assert rows_s == rows
    assert [e for e in exchanges_s if "hashpartitioning(shard" in e]
    assert jobs_s == jobs + 1
    if variant == "bm25":
        assert (jobs, jobs_s) == (2, 3)


def test_cold_bm25_equals_warm_bit_for_bit(spark, runs_store):
    """Cold and warm rows carry the same global df and reach the kernel
    in the same term order, so their scores are repr-identical."""
    searcher = Searcher(spark, runs_store)
    try:
        for q in TOPK_QUERIES:
            cold = bm25_topk_wand(spark, runs_store, q, K).collect()
            warm = searcher.topk(q, K).collect()
            assert cold, q
            assert [(r["doc_id"], repr(r["score"])) for r in cold] == [
                (r["doc_id"], repr(r["score"])) for r in warm
            ], q
    finally:
        searcher.close()


@pytest.mark.parametrize(
    "raw, want",
    [
        (None, QUERY_TASK_ROWS_DEFAULT),
        ("5000", 5000),
        ("abc", QUERY_TASK_ROWS_DEFAULT),
        ("", QUERY_TASK_ROWS_DEFAULT),
        ("0", QUERY_TASK_ROWS_DEFAULT),
        ("-7", QUERY_TASK_ROWS_DEFAULT),
        ("1.5", QUERY_TASK_ROWS_DEFAULT),
    ],
)
def test_query_task_rows_validated(monkeypatch, raw, want):
    if raw is None:
        monkeypatch.delenv("TANGENT_QUERY_TASK_ROWS", raising=False)
    else:
        monkeypatch.setenv("TANGENT_QUERY_TASK_ROWS", raw)
    if want == QUERY_TASK_ROWS_DEFAULT and raw is not None:
        with pytest.warns(UserWarning, match="TANGENT_QUERY_TASK_ROWS"):
            assert query_task_rows() == want
    else:
        assert query_task_rows() == want


@pytest.mark.parametrize(
    "meminfo, want",
    [
        ("MemTotal:       16000000 kB\nMemFree: 1 kB\n", f"{16000000 * 2 // 5 // 1024}m"),
        ("MemTotal:       512000000 kB\n", f"{48 * 1024}m"),
        ("MemTotal:       1000000 kB\n", "1024m"),
        (None, f"{48 * 1024}m"),
    ],
)
def test_default_driver_memory_fits_host(tmp_path, meminfo, want):
    path = tmp_path / "meminfo"
    if meminfo is not None:
        path.write_text(meminfo)
    assert default_driver_memory(str(path)) == want
