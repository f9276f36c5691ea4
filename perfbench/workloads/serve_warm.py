"""serve-warm: a resident Searcher answering one closed-loop client.

The op a user waits on is one warm query. The loop cycles through
topk / boolean / topk / phrase / topk / filtered, then sends one
topk_batch of 32 distinct topk queries (its queries count toward
ops_per_s, its latency is kept apart from op_p50_ms). No file is read
per query: this is plan construction, the job/task floor and the
Arrow/kernel path.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

from perfbench import gen, oracles
from perfbench.harness import median
from perfbench.workloads import common
from perfbench.workloads.common import K

OP_KIND = "query"
N_PAGES = 1200
PATTERN = ("topk", "boolean", "topk", "phrase", "topk", "filtered")
BATCH_SIZE = 32
WHERE = "lang = 'en'"
WARMUP_SWEEPS = 2


def run(r) -> dict:
    from tangent_spark.plans.search import Searcher

    spark = r.start_spark()
    tr, L = r.tracer, r.layer
    r.mark("spark")
    vocab = gen.vocabulary(r.seed)
    rows = gen.pages(r.seed, 0, N_PAGES, vocab)
    q = gen.queries(r.seed, rows, vocab)
    r.info["digest"] = gen.digest(rows, q)
    df = common.pages_df(spark, rows)
    r.mark("generate")
    store = common.build_word_index(r, df, os.path.join(r.tmp, "index"),
                                    N_PAGES, common.text_bytes(rows), positions=True)
    r.mark("build")
    t0 = time.perf_counter()
    searcher = tr.call("plans.search", "Searcher", Searcher, spark, store)
    L["searcher.init_s"] = time.perf_counter() - t0
    r.mark("searcher")

    pools = {"topk": q.topk, "boolean": q.boolean[:3], "phrase": q.phrase[:3],
             "filtered": q.filtered[:3]}
    # BATCH_SIZE distinct topk queries of the same shapes (the first
    # len(q.topk) of them are q.topk itself)
    batch_queries = gen.queries(r.seed, rows, vocab, n=BATCH_SIZE).topk
    calls = {
        "topk": lambda s: searcher.topk(s, K),
        "boolean": lambda s: searcher.boolean(s, K),
        "phrase": lambda s: searcher.phrase(s, K),
        "filtered": lambda s: searcher.filtered(s, K, WHERE),
    }
    results: dict = {}
    mismatched: list = []
    plan_ms, exec_ms = defaultdict(list), defaultdict(list)

    def single(kind: str, text: str):
        def go():
            t0 = time.perf_counter()
            out = tr.call("plans.search", f"Searcher.{kind}", calls[kind], text)
            t1 = time.perf_counter()
            got = tr.call("spark", "collect", common.rows_of, out,
                          "phrase_tf" if kind == "phrase" else "score")
            plan_ms[kind].append((t1 - t0) * 1e3)
            exec_ms[kind].append((time.perf_counter() - t1) * 1e3)
            return got
        return go

    def batch():
        qmap = {f"q{i:02d}": s for i, s in enumerate(batch_queries)}
        out = tr.call("plans.search", "Searcher.topk_batch", searcher.topk_batch, qmap, K)
        by_id = defaultdict(list)
        for row in out.collect():
            by_id[row["query_id"]].append(
                (int(row["rank"]), int(row["doc_id"]), float(row["score"])))
        return {qid: (qmap[qid], [(d, sc) for _, d, sc in sorted(v)])
                for qid, v in by_id.items()}

    def remember(key, got):
        if got is None:
            return
        if key not in results:
            results[key] = got
        elif not oracles.same_ranking(got, results[key]):
            mismatched.append(key)

    cursor = defaultdict(int)

    def next_query(kind):
        pool = pools[kind]
        text = pool[cursor[kind] % len(pool)]
        cursor[kind] += 1
        return text

    # warm up: whole sweeps of the pattern plus one batch; the first
    # sweeps after set-up run slower; two keep a run's set-up short
    for sweep in range(WARMUP_SWEEPS):
        for kind in PATTERN:
            single(kind, next_query(kind))()
        if sweep == 0:
            batch()
    L["search.warmup_ops"] = WARMUP_SWEEPS * len(PATTERN) + 1
    for d in (plan_ms, exec_ms):
        d.clear()
    cursor.clear()
    r.mark("warmup")
    setup_s = time.perf_counter() - r.t_start

    # the measured closed loop
    n_cycles = 0

    def cycle() -> int:
        nonlocal n_cycles
        traced = n_cycles % 2 == 0
        n_cycles += 1
        answered = 0
        for kind in PATTERN:
            text = next_query(kind)
            got = r.op("query", single(kind, text), traced, f"query:{kind}")
            if got is not None:
                answered += 1
                remember((kind, text), got)
        got = r.op("batch", batch, traced)
        if got is not None:
            answered += BATCH_SIZE
            for text, ranked in got.values():
                remember(("topk", text), ranked)
        return answered

    # two cycles at least: one traced, one not (see trace_overhead_pct)
    ops_per_s = r.timed_cycles(cycle, min_cycles=2)

    # correctness, off the clock
    corpus = oracles.Corpus(rows)
    for (kind, text), got in results.items():
        if kind == "topk":
            want = corpus.topk(text, K)
        elif kind == "filtered":
            want = corpus.filtered(text, K, "en")
        elif kind == "boolean":
            want = corpus.boolean(text, K)
        else:
            want = corpus.phrase(text, K)
        r.check(f"{kind} {text!r}", oracles.same_ranking(got, want))
    for key in mismatched:
        r.check(f"repeat of {key!r} differs", False)
    r.mark("check")

    L["search.plan_ms"] = median(plan_ms["topk"])
    L["search.exec_ms"] = median(exec_ms["topk"])
    L["boolean.plan_ms"] = median(plan_ms["boolean"])
    L["boolean.exec_ms"] = median(exec_ms["boolean"])
    L["phrase.plan_ms"] = median(plan_ms["phrase"])
    L["phrase.exec_ms"] = median(exec_ms["phrase"])
    L["filtered.exec_ms"] = median(exec_ms["filtered"])
    if r.latencies.get("batch"):
        L["search.batch_queries_per_s"] = BATCH_SIZE / median(r.latencies["batch"])
    if r.trace:
        counts_pass(r, searcher, q.topk, batch_queries)
        common.tokenize_rate(r, df, N_PAGES)
    searcher.close()
    return {
        "setup_s": setup_s,
        "op_p50_ms": median(r.latencies.get("query", [])) * 1e3,
        "ops_per_s": ops_per_s,
    }


def counts_pass(r, searcher, topk_queries, batch_queries) -> None:
    """Deterministic counts, outside the measured loop: job/task counts
    of traced topk ops, kernel counters, cache rows, batch decode
    sharing."""
    spark, L = r.spark, r.layer
    L["searcher.cache_rows"] = searcher.postings.count()
    L["search.jobs"], L["search.tasks"] = common.job_stats(r, "query:topk")
    common.kernel_counts(r, searcher, topk_queries)
    acc = spark.sparkContext.accumulator(0)
    for s in batch_queries:
        searcher.topk(s, K, decode_counter=acc).collect()
    L["search.batch_single_equiv_blocks"] = acc.value
    acc = spark.sparkContext.accumulator(0)
    qmap = {f"q{i:02d}": s for i, s in enumerate(batch_queries)}
    searcher.topk_batch(qmap, K, decode_counter=acc).count()
    L["search.batch_blocks_decoded"] = acc.value
