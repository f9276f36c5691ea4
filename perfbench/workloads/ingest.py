"""ingest: build a base index, then keep it fresh with deduplicated crawl.

The op a user waits on is ingesting one crawl batch: near-duplicate
detection over it (minhash_signatures -> lsh_candidate_pairs ->
jaccard_verify -> dedup_keep_list, plus entry_queries.dedup_ngram_jaccard
over the same pages), then append_batch of the pages it keeps. Each
batch has planted near-dup clusters and a boilerplate shingle held by
~30% of its pages; it is generated and written off the clock. After
each op a cold bm25_topk_wand probe reads beside the writes, and
delete_docs removes a few base pages. After the window, keep lists and
pairs are checked against the planted clusters and probes against the
oracle (statistics keep deleted pages until compaction, results never
show them).

compact_postings takes longer than a whole measured window on this
index, so it runs once per traced run, after the window: runs per term
before and after it, its time and bytes, and probes after it, half of
them untraced, which gives trace_overhead_pct (ingest's window holds
too few ops to split).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from perfbench import gen, oracles
from perfbench.harness import median
from perfbench.workloads import common
from perfbench.workloads.common import K

OP_KIND = "ingest"
OVERHEAD_KIND = "probe_compacted"
N_BASE = 600
BATCH_DOCS = 200
CLUSTERS = 5
CLUSTER_SIZE = 4
DELETES_PER_CYCLE = 5
OVERHEAD_PROBES = 3       # texts probed once traced, once untraced


@dataclass
class Cycle:
    crawl: gen.Crawl
    ingested: tuple | None = None    # (keep list, n-gram pairs, stage times)
    probe: tuple | None = None       # (query text, ranking)
    deleted: list | None = None      # doc ids delete_docs removed


def run(r) -> dict:
    from tangent_spark.plans.search import bm25_topk_wand
    from tangent_spark.streaming.incremental import delete_docs

    spark = r.start_spark()
    tr, L = r.tracer, r.layer
    r.mark("spark")
    vocab = gen.vocabulary(r.seed)
    base = gen.pages(r.seed, 0, N_BASE, vocab)
    q = gen.queries(r.seed, base, vocab)
    r.info["digest"] = gen.digest(base, q)
    df = common.pages_df(spark, base)
    r.mark("generate")
    store = common.build_word_index(r, df, os.path.join(r.tmp, "index"),
                                    N_BASE, common.text_bytes(base))
    r.mark("build")
    setup_s = time.perf_counter() - r.t_start

    def probe(kind: str, text: str, traced: bool = True):
        def go():
            out = tr.call("plans.search", "bm25_topk_wand", bm25_topk_wand,
                          spark, store, text, K)
            return tr.call("spark", "collect", common.rows_of, out)
        return r.op(kind, go, traced)

    delete_pool = list(range(N_BASE))
    gen.seeded_rng(r.seed, "deletes").shuffle(delete_pool)
    cycles: list[Cycle] = []
    batch_dirs = []

    def prepare() -> Cycle:
        """The next crawl batch, written where the op reads it."""
        bid = len(cycles)
        c = Cycle(gen.crawl(r.seed, BATCH_DOCS, vocab, CLUSTERS, CLUSTER_SIZE,
                            start=N_BASE + bid * BATCH_DOCS))
        batch_dir = os.path.join(r.tmp, f"batch{bid}")
        common.pages_df(spark, c.crawl.rows).write.parquet(
            os.path.join(batch_dir, "documents.parquet"))
        batch_dirs.append(batch_dir)
        cycles.append(c)
        return c

    def cycle(c: Cycle) -> int:
        bid = len(cycles) - 1
        traced = bid % 2 == 0
        c.ingested = r.op("ingest", lambda: ingest_batch(r, store, batch_dirs[bid], bid),
                          traced)
        text = q.topk[bid % len(q.topk)]
        got = probe("probe", text)
        if got is not None:
            c.probe = (text, got)
        ids = delete_pool[bid * DELETES_PER_CYCLE:(bid + 1) * DELETES_PER_CYCLE]
        if r.op("delete", lambda: tr.call("streaming.incremental", "delete_docs",
                                          delete_docs, spark, store, ids, f"d{bid}"),
                traced) is not None:
            c.deleted = ids
        return int(c.ingested is not None)

    ops_per_s = r.timed_cycles(cycle, prepare)
    corpus, deleted = check_cycles(r, base, cycles)
    r.mark("check")

    done = [c.ingested for c in cycles if c.ingested is not None]
    keep_s, ngram_s, append_s = (median([t[2][i] for t in done]) for i in range(3))
    appended = median([sum(t[0].values()) for t in done])
    L["dedup.keep_list_s"] = keep_s
    L["dedup.ngram_jaccard_s"] = ngram_s
    L["dedup.docs_per_s"] = BATCH_DOCS / (keep_s + ngram_s)
    L["incremental.append_s"] = append_s
    L["incremental.append_docs_per_s"] = appended / append_s
    L["incremental.delete_s"] = median(r.latencies["delete"])
    L["incremental.probe_ms_before_compact"] = median(r.latencies["probe"]) * 1e3
    if r.trace:
        compaction(r, store, corpus, deleted, probe, q.topk[:OVERHEAD_PROBES])
        ops, appends = r.tracer.job_counts("ingest"), r.tracer.job_counts("append")
        L["incremental.append_jobs"] = median([j for j, _ in appends])
        L["spark.jobs_per_op"] = median([a[0] + b[0] for a, b in zip(ops, appends)])
        L["spark.tasks_per_op"] = median([a[1] + b[1] for a, b in zip(ops, appends)])
        dedup_counts(r, batch_dirs[0])
        common.tokenize_rate(r, df, N_BASE)
        common.codec_rates(r, store.read(spark, "postings").toPandas())
    return {
        "setup_s": setup_s,
        "op_p50_ms": median(r.latencies["ingest"]) * 1e3,
        "ops_per_s": ops_per_s,
    }


def check_cycles(r, base, cycles):
    """Replay the window's writes on the oracle corpus in order and check
    each cycle's keep list, pairs and probe. Returns the corpus (every
    page ever added, deleted or not) and the deleted ids."""
    corpus = oracles.Corpus(base)
    deleted: set[int] = set()
    next_doc_id = N_BASE
    for bid, c in enumerate(cycles):
        if c.ingested is not None:
            keep, pairs, _ = c.ingested
            ids = [x["doc_id"] for x in c.crawl.rows]
            r.check(f"keep list of batch {bid}",
                    keep == oracles.planted_keep(ids, c.crawl.clusters))
            r.check(f"ngram pairs of batch {bid}",
                    pairs == oracles.planted_pairs(c.crawl.clusters))
            # append_batch numbers the kept pages from the high-water mark
            # in url order, which is crawl id order here
            kept = [dict(x) for x in c.crawl.rows if keep.get(x["doc_id"])]
            for j, x in enumerate(kept):
                x["doc_id"] = next_doc_id + j
            next_doc_id += len(kept)
            corpus.add(kept)
        if c.probe is not None:
            check_probe(r, "probe", *c.probe, corpus, deleted)
        if c.deleted is not None:
            deleted.update(c.deleted)
    return corpus, deleted


def check_probe(r, kind, text, got, corpus, deleted) -> None:
    ranked = corpus.topk(text, K + len(deleted))
    want = [(d, s) for d, s in ranked if d not in deleted][:K]
    r.check(f"{kind} {text!r}", oracles.same_ranking(got, want))


def ingest_batch(r, store, batch_dir: str, bid: int):
    """Dedup one crawl batch and append what it keeps. Returns the keep
    list, the n-gram Jaccard pairs and the three stage times."""
    from pyspark.sql import functions as F

    from tangent_spark import entry_queries
    from tangent_spark.streaming.incremental import append_batch

    spark, tr = r.spark, r.tracer
    t0 = time.perf_counter()
    keep = tr.call("operators.dedup", "keep_list", keep_list, spark, batch_dir)
    t1 = time.perf_counter()
    rows = tr.call("entry_queries", "dedup_ngram_jaccard",
                   lambda: entry_queries.dedup_ngram_jaccard(spark, batch_dir).collect())
    pairs = {(int(p["doc_a"]), int(p["doc_b"])) for p in rows}
    t2 = time.perf_counter()
    kept_ids = [d for d, k in keep.items() if k]
    pages = spark.read.parquet(os.path.join(batch_dir, "documents.parquet"))
    with tr.job_group("append"):
        tr.call("streaming.incremental", "append_batch", append_batch, spark, store,
                pages.filter(F.col("doc_id").isin(kept_ids)), bid)
    t3 = time.perf_counter()
    return keep, pairs, (t1 - t0, t2 - t1, t3 - t2)


def keep_list(spark, batch_dir: str) -> dict[int, bool]:
    from tangent_spark.operators.dedup import (
        dedup_keep_list, jaccard_verify, lsh_candidate_pairs, minhash_signatures)

    docs = spark.read.parquet(os.path.join(batch_dir, "documents.parquet"))
    pairs = jaccard_verify(docs, lsh_candidate_pairs(minhash_signatures(docs)))
    return {int(row["doc_id"]): bool(row["keep"])
            for row in dedup_keep_list(docs, pairs).collect()}


def dedup_counts(r, batch_dir: str) -> None:
    """Stage times and counts of one more dedup pass over the first
    batch, each stage materialized on its own."""
    from tangent_spark import entry_queries
    from tangent_spark.operators.dedup import (
        connected_components_star, jaccard_verify, lsh_candidate_pairs,
        minhash_signatures)

    spark, tr, L = r.spark, r.tracer, r.layer
    docs = spark.read.parquet(os.path.join(batch_dir, "documents.parquet"))
    t0 = time.perf_counter()
    sigs = tr.call("operators.dedup", "minhash_signatures", minhash_signatures, docs)
    sigs = sigs.persist()
    sigs.count()
    L["dedup.minhash_s"] = time.perf_counter() - t0
    cands = lsh_candidate_pairs(sigs).persist()
    L["dedup.candidate_pairs"] = cands.count()
    verified = jaccard_verify(docs, cands).persist()
    L["dedup.verified_pairs"] = verified.count()
    L["dedup.pair_precision"] = L["dedup.verified_pairs"] / max(L["dedup.candidate_pairs"], 1)
    t0 = time.perf_counter()
    labels, rounds = tr.call("operators.dedup", "connected_components_star",
                             connected_components_star, verified)
    labels.count()
    L["dedup.cc_s"] = time.perf_counter() - t0
    L["dedup.cc_rounds"] = rounds
    L["dedup.ngram_pairs"] = entry_queries.dedup_ngram_jaccard(spark, batch_dir).count()
    for df in (verified, cands, sigs):
        df.unpersist()


def compaction(r, store, corpus, deleted, probe, texts) -> None:
    """One compact_postings after the window, with the layout before and
    after it and probes against the compacted index. Each probe text
    runs traced and untraced, in alternating order; the two medians give
    trace_overhead_pct."""
    from tangent_spark.streaming.incremental import compact_postings

    L = r.layer
    versions = dict(store.read_manifest().get("table_versions", {}))
    t0 = time.perf_counter()
    counts = r.tracer.call("streaming.incremental", "compact_postings",
                           compact_postings, r.spark, store)
    L["incremental.compact_s"] = time.perf_counter() - t0
    flipped = [t for t, v in store.read_manifest()["table_versions"].items()
               if versions.get(t) != v]
    L["incremental.compact_bytes_rewritten"] = sum(
        common.dir_bytes(store.path(t)) for t in flipped)
    # runs per term: postings rows over distinct (shard, term) pairs.
    # Compaction leaves one run per pair, so runs_after is the pair count
    # (deletes drop a pair only when they drop every doc of a term in a
    # shard) and the ratio after it is 1 by construction.
    pairs = max(counts["runs_after"], 1)
    L["incremental.runs_per_term_before"] = counts["runs_before"] / pairs
    L["incremental.runs_per_term_after"] = counts["runs_after"] / pairs
    corpus.remove(deleted)
    deleted.clear()
    for i, text in enumerate(texts):
        for traced in ((True, False) if i % 2 == 0 else (False, True)):
            got = probe(OVERHEAD_KIND, text, traced)
            if got is not None:
                check_probe(r, OVERHEAD_KIND, text, got, corpus, deleted)
    L["incremental.probe_ms_after_compact"] = median(r.latencies[OVERHEAD_KIND]) * 1e3
