"""Incremental index: N appended batches must answer queries EXACTLY
like a from-scratch batch build over the union (docs, scores, order),
and replayed batches must be no-ops."""

import pytest
from pyspark.sql import functions as F

from tangent_spark.config import IndexConfig
from tangent_spark.corpus import generate_pages, pages_with_doc_ids
from tangent_spark.plans.indexer import build_index, verify_index
from tangent_spark.plans.search import bm25_topk_wand
from tangent_spark.sources.store import IndexStore
from tangent_spark.streaming.incremental import append_batch, incremental_index_stream

CFG = IndexConfig(n_shards=4, block_size=16)
QUERIES = ["matrix theorem proof", "spark shuffle data", "the of and"]


@pytest.fixture(scope="module")
def all_pages(spark):
    return pages_with_doc_ids(generate_pages(spark, 90, partitions=4)).persist()


def test_incremental_equals_batch(spark, all_pages, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("inc"))
    # batch build over first 60 docs
    first = all_pages.filter(F.col("doc_id") < 60)
    second = all_pages.filter(F.col("doc_id") >= 60).drop("doc_id")
    inc_store = build_index(spark, first, f"{base}/inc", CFG, url_col="url")
    counters = append_batch(spark, inc_store, second, batch_id=1)
    assert counters["new_docs"] == 30
    verify_index(spark, inc_store)

    full_store = build_index(spark, all_pages, f"{base}/full", CFG, url_col="url")
    for q in QUERIES:
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in bm25_topk_wand(spark, inc_store, q, 10).collect()
        ]
        want = [
            (r["doc_id"], round(r["score"], 9))
            for r in bm25_topk_wand(spark, full_store, q, 10).collect()
        ]
        assert got == want, q

    # replay: same batch id is a no-op (effectively-once)
    before = spark.read.parquet(inc_store.path("postings")).count()
    again = append_batch(spark, inc_store, second, batch_id=1)
    assert again == counters
    assert spark.read.parquet(inc_store.path("postings")).count() == before

    # same urls under a NEW batch id: anti-join drops them all
    c3 = append_batch(spark, inc_store, second, batch_id=2)
    assert c3["new_docs"] == 0


def test_append_leaves_no_cache_entries(spark, all_pages, tmp_path_factory):
    """append_batch numbers fresh docs with dense_ids once per batch;
    neither call may leave a CacheManager entry behind."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    base = str(tmp_path_factory.mktemp("nocache"))
    store = build_index(spark, all_pages.filter(F.col("doc_id") < 50), f"{base}/idx", CFG,
                        url_col="url")
    before = cache.numCachedEntries()
    for bid, (lo, hi) in enumerate([(50, 70), (70, 90)], start=1):
        batch = all_pages.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        assert append_batch(spark, store, batch.drop("doc_id"), batch_id=bid)["new_docs"] == 20
    assert cache.numCachedEntries() == before


def test_streaming_driver(spark, all_pages, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("stream"))
    first = all_pages.filter(F.col("doc_id") < 50)
    store = build_index(spark, first, f"{base}/idx", CFG, url_col="url")
    n0 = spark.read.parquet(store.path("docs")).count()
    # drop two new chunks into the watched dir
    incoming = f"{base}/incoming"
    all_pages.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 70)).drop(
        "doc_id"
    ).write.mode("append").parquet(incoming)
    all_pages.filter(F.col("doc_id") >= 70).drop("doc_id").write.mode("append").parquet(
        incoming
    )
    q = incremental_index_stream(spark, store, incoming, f"{base}/ckpt")
    q.awaitTermination(300)
    assert spark.read.parquet(store.path("docs")).count() == 90
    assert n0 == 50
    res = bm25_topk_wand(spark, store, "matrix theorem", 5).collect()
    assert len(res) == 5


def _topk(spark, store, q, k=10):
    return [
        (r["doc_id"], round(r["score"], 9))
        for r in bm25_topk_wand(spark, store, q, k).collect()
    ]


def test_append_crash_replay(spark, all_pages, tmp_path_factory, monkeypatch):
    """A crash at ANY point inside append_batch must leave the index in a
    state from which replaying the same batch_id produces EXACTLY the
    from-scratch build (the ADVICE.md crash-idempotency contract)."""
    base = str(tmp_path_factory.mktemp("crash"))
    first = all_pages.filter(F.col("doc_id") < 60)
    second = all_pages.filter(F.col("doc_id") >= 60).drop("doc_id")
    full_store = build_index(spark, all_pages, f"{base}/full", CFG, url_col="url")

    # crash point A: mid-append — postings copied, terms copy raises
    store_a = build_index(spark, first, f"{base}/a", CFG, url_col="url")
    orig_copy = IndexStore.copy_tagged

    def boom_copy(self, src, table, tag):
        n = orig_copy(self, src, table, tag)
        if table == "terms":
            raise RuntimeError("injected crash after terms append")
        return n

    monkeypatch.setattr(IndexStore, "copy_tagged", boom_copy)
    with pytest.raises(RuntimeError, match="injected"):
        append_batch(spark, store_a, second, batch_id=7)
    monkeypatch.setattr(IndexStore, "copy_tagged", orig_copy)
    counters = append_batch(spark, store_a, second, batch_id=7)
    assert counters["new_docs"] == 30
    verify_index(spark, store_a)
    for q in QUERIES:
        assert _topk(spark, store_a, q) == _topk(spark, full_store, q), q

    # crash point B: everything appended + stats merged, manifest commit raises
    store_b = build_index(spark, first, f"{base}/b", CFG, url_col="url")
    orig_commit = IndexStore.commit_stage

    def boom_commit(self, stage, tables, counters, table_flips=None):
        if stage.startswith("batch_"):
            raise RuntimeError("injected crash before manifest commit")
        return orig_commit(self, stage, tables, counters, table_flips)

    monkeypatch.setattr(IndexStore, "commit_stage", boom_commit)
    with pytest.raises(RuntimeError, match="injected"):
        append_batch(spark, store_b, second, batch_id=9)
    monkeypatch.setattr(IndexStore, "commit_stage", orig_commit)
    counters = append_batch(spark, store_b, second, batch_id=9)
    assert counters["new_docs"] == 30
    verify_index(spark, store_b)
    for q in QUERIES:
        assert _topk(spark, store_b, q) == _topk(spark, full_store, q), q
    # stats must be consistent with postings (no double merge)
    mass = (
        spark.read.parquet(store_b.path("postings")).agg(F.sum("df")).collect()[0][0]
    )
    stat_mass = (
        spark.read.parquet(store_b.path("term_stats")).agg(F.sum("df")).collect()[0][0]
    )
    assert int(mass) == int(stat_mass)


def test_compaction_exact_and_bounded(spark, all_pages, tmp_path_factory):
    """Compaction merges per-batch runs into one run per (shard, term),
    preserves query results exactly, and survives further appends."""
    from tangent_spark.streaming.incremental import compact_postings

    base = str(tmp_path_factory.mktemp("compact"))
    store = build_index(
        spark, all_pages.filter(F.col("doc_id") < 30), f"{base}/idx", CFG, url_col="url"
    )
    for i, (lo, hi) in enumerate([(30, 50), (50, 70)]):
        append_batch(
            spark,
            store,
            all_pages.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).drop("doc_id"),
            batch_id=i,
        )
    p = spark.read.parquet(store.path("postings"))
    max_runs_before = (
        p.groupBy("shard", "term").count().agg(F.max("count")).collect()[0][0]
    )
    assert max_runs_before > 1  # fragmentation actually present
    before = {q: _topk(spark, store, q) for q in QUERIES}

    c = compact_postings(spark, store)
    assert c["runs_after"] < c["runs_before"]
    p2 = spark.read.parquet(store.path("postings"))
    assert (
        p2.groupBy("shard", "term").count().agg(F.max("count")).collect()[0][0] == 1
    )
    verify_index(spark, store)
    for q in QUERIES:
        assert _topk(spark, store, q) == before[q], q

    # appends after compaction keep working and a second compaction is clean
    append_batch(spark, store, all_pages.filter(F.col("doc_id") >= 70).drop("doc_id"),
                 batch_id="post")
    full = build_index(spark, all_pages, f"{base}/full", CFG, url_col="url")
    for q in QUERIES:
        assert _topk(spark, store, q) == _topk(spark, full, q), q
    compact_postings(spark, store)
    for q in QUERIES:
        assert _topk(spark, store, q) == _topk(spark, full, q), q


def test_compaction_with_orphaned_crashed_batch(spark, all_pages, tmp_path_factory, monkeypatch):
    """ADVICE scenario: a batch crashes AFTER appending tagged postings,
    then compaction runs out-of-band BEFORE the batch replays. Without
    the orphan guard the crashed batch's rows get baked untagged into
    the compacted version and the replay duplicates every (term, doc_id)
    of that batch. With the guard, replay + compaction is exact."""
    from tangent_spark.streaming.incremental import compact_postings

    base = str(tmp_path_factory.mktemp("orphan"))
    first = all_pages.filter(F.col("doc_id") < 60)
    second = all_pages.filter(F.col("doc_id") >= 60).drop("doc_id")
    store = build_index(spark, first, f"{base}/idx", CFG, url_col="url")

    orig_copy = IndexStore.copy_tagged

    def boom_copy(self, src, table, tag):
        n = orig_copy(self, src, table, tag)
        if table == "docs":  # postings + terms already appended
            raise RuntimeError("injected crash after postings append")
        return n

    monkeypatch.setattr(IndexStore, "copy_tagged", boom_copy)
    with pytest.raises(RuntimeError, match="injected"):
        append_batch(spark, store, second, batch_id=3)
    monkeypatch.setattr(IndexStore, "copy_tagged", orig_copy)

    # orphan tags visible; out-of-band compaction must clean them first
    assert store.orphan_tags("postings") == ["b3"]
    c = compact_postings(spark, store)
    assert store.orphan_tags("postings") == []
    # compacted mass == the committed (pre-batch) index only
    assert c["postings"] == spark.read.parquet(
        store.path("term_stats")
    ).agg(F.sum("df")).collect()[0][0]

    # replay lands the batch exactly once
    counters = append_batch(spark, store, second, batch_id=3)
    assert counters["new_docs"] == 30
    verify_index(spark, store)
    full = build_index(spark, all_pages, f"{base}/full", CFG, url_col="url")
    for q in QUERIES:
        assert _topk(spark, store, q) == _topk(spark, full, q), q


def test_streaming_auto_compaction(spark, all_pages, tmp_path_factory):
    """compact_every triggers compaction through the streaming driver and
    results stay exact."""
    from tangent_spark.streaming.incremental import incremental_index_stream

    base = str(tmp_path_factory.mktemp("autocompact"))
    store = build_index(
        spark, all_pages.filter(F.col("doc_id") < 40), f"{base}/idx", CFG, url_col="url"
    )
    incoming = f"{base}/incoming"
    for lo, hi in [(40, 55), (55, 70), (70, 90)]:
        all_pages.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).drop(
            "doc_id"
        ).coalesce(1).write.mode("append").parquet(incoming)
    q = incremental_index_stream(
        spark, store, incoming, f"{base}/ckpt", compact_every=2,
        max_files_per_trigger=1,
    )
    q.awaitTermination(300)
    stages = store.read_manifest()["stages"]
    assert any(s.startswith("compact_") for s in stages), stages.keys()
    full = build_index(spark, all_pages, f"{base}/full", CFG, url_col="url")
    for query in QUERIES:
        got = [(r["doc_id"], round(r["score"], 9)) for r in bm25_topk_wand(spark, store, query, 10).collect()]
        want = [(r["doc_id"], round(r["score"], 9)) for r in bm25_topk_wand(spark, full, query, 10).collect()]
        assert got == want, query


def test_append_maintains_positions(spark, all_pages, tmp_path_factory):
    """On a positional index, appended docs must be phrase-searchable:
    phrase + snippet results after append == from-scratch positional
    build over the union (the positions table is appended with the same
    tag protocol as postings)."""
    from tangent_spark.plans.phrase import phrase_topk

    cfg = IndexConfig(n_shards=4, block_size=16, store_positions=True)
    base = str(tmp_path_factory.mktemp("incpos"))
    first = all_pages.filter(F.col("doc_id") < 60)
    second = all_pages.filter(F.col("doc_id") >= 60).drop("doc_id")
    store = build_index(spark, first, f"{base}/inc", cfg, url_col="url")
    append_batch(spark, store, second, batch_id=1)
    full = build_index(spark, all_pages, f"{base}/full", cfg, url_col="url")

    # a phrase taken from an APPENDED doc must be found
    appended_text = all_pages.filter(F.col("doc_id") == 75).select("text").collect()[0][0]
    phrase = " ".join(appended_text.split()[:2])
    got = [(r["doc_id"], r["phrase_tf"]) for r in phrase_topk(spark, store, phrase, 20).collect()]
    want = [(r["doc_id"], r["phrase_tf"]) for r in phrase_topk(spark, full, phrase, 20).collect()]
    assert got == want and got, phrase
    # replay is a no-op for positions too
    import glob as _glob

    n_files = len(_glob.glob(store.path("positions") + "/*.parquet"))
    append_batch(spark, store, second, batch_id=1)
    assert len(_glob.glob(store.path("positions") + "/*.parquet")) == n_files


def test_compaction_also_compacts_positions(spark, all_pages, tmp_path_factory):
    """Appends leave one tagged positions part-file set per batch;
    compaction must coalesce them (round-3 review #3b) while keeping
    phrase results exact and flipping the version atomically."""
    import glob as _glob

    from tangent_spark.plans.phrase import phrase_topk
    from tangent_spark.streaming.incremental import compact_postings

    cfg = IndexConfig(n_shards=4, block_size=16, store_positions=True)
    base = str(tmp_path_factory.mktemp("compactpos"))
    store = build_index(
        spark, all_pages.filter(F.col("doc_id") < 30), f"{base}/idx", cfg, url_col="url"
    )
    for i, (lo, hi) in enumerate([(30, 50), (50, 70), (70, 90)]):
        batch = all_pages.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).drop("doc_id")
        append_batch(spark, store, batch, batch_id=i)

    appended_text = all_pages.filter(F.col("doc_id") == 80).select("text").collect()[0][0]
    phrase = " ".join(appended_text.split()[:2])
    before = [(r["doc_id"], r["phrase_tf"]) for r in phrase_topk(spark, store, phrase, 20).collect()]
    files_before = len(_glob.glob(store.path("positions") + "/*.parquet"))

    c = compact_postings(spark, store)
    assert c["position_rows"] > 0
    assert store.table_version("positions") >= 1
    files_after = len(_glob.glob(store.path("positions") + "/*.parquet"))
    assert files_after < files_before, (files_after, files_before)
    after = [(r["doc_id"], r["phrase_tf"]) for r in phrase_topk(spark, store, phrase, 20).collect()]
    assert after == before and after
    verify_index(spark, store)
