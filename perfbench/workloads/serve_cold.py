"""serve-cold: one-shot api.search calls with no Searcher.

The op a user waits on is one api.search call over the word index plus
a build_formula_index formula store. The loop cycles through
bm25 / wildcard / fuzzy / formula. Every call re-lists parquet, reads
corpus stats and pays the shard shuffle; nothing is cached between
calls.
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
PATTERN = ("bm25", "wildcard", "fuzzy", "formula")
SHUFFLE_METRICS = {"cold.shuffle_bytes": "query:bm25"}


def run(r) -> dict:
    from tangent_spark import api
    from tangent_spark.plans.formula import build_formula_index

    spark = r.start_spark()
    tr, L = r.tracer, r.layer
    r.mark("spark")
    vocab = gen.vocabulary(r.seed)
    rows = gen.pages(r.seed, 0, N_PAGES, vocab)
    q = gen.queries(r.seed, rows, vocab)
    r.info["digest"] = gen.digest(rows, q)
    df = common.pages_df(spark, rows)
    r.mark("generate")
    words = common.build_word_index(r, df, os.path.join(r.tmp, "index"),
                                    N_PAGES, common.text_bytes(rows))
    r.mark("build")
    t0 = time.perf_counter()
    formulas = tr.call("plans.formula", "build_formula_index", build_formula_index,
                       spark, df, os.path.join(r.tmp, "formulas"), common.index_config())
    L["formula.build_s"] = time.perf_counter() - t0
    fc = formulas.counters()
    for st in ("exprs", "f_dict", "f_postings", "f_postings_to", "f_docs"):
        L[f"formula.{st}_s"] = float(fc.get(st, {}).get("secs", 0.0))
    L["formula.unique_exprs"] = int(fc["f_dict"]["unique_exprs"])
    r.mark("formula_build")
    stores = api.SearchStores(words=words, formulas=formulas)

    pools = {"bm25": q.topk, "wildcard": q.wildcard[:4], "fuzzy": q.fuzzy[:4],
             "formula": q.formula[:4]}
    results: dict = {}
    plan_ms, exec_ms = defaultdict(list), defaultdict(list)
    per_route = defaultdict(list)

    def call(kind: str, text: str):
        def go():
            t0 = time.perf_counter()
            out = tr.call("api", "search", api.search, spark, stores, text, K)
            t1 = time.perf_counter()
            got = tr.call("spark", "collect", common.rows_of, out)
            t2 = time.perf_counter()
            plan_ms[kind].append((t1 - t0) * 1e3)
            exec_ms[kind].append((t2 - t1) * 1e3)
            per_route[kind].append((t2 - t0) * 1e3)
            return got
        return go

    cursor = defaultdict(int)

    def next_query(kind):
        pool = pools[kind]
        text = pool[cursor[kind] % len(pool)]
        cursor[kind] += 1
        return text

    # one query of each kind first, so every route's first-call costs
    # are paid before the clock starts
    for kind in PATTERN:
        call(kind, next_query(kind))()
    for d in (plan_ms, exec_ms, per_route):
        d.clear()
    cursor.clear()
    r.mark("warmup")
    setup_s = time.perf_counter() - r.t_start

    n_cycles = 0

    def cycle() -> int:
        nonlocal n_cycles
        traced = n_cycles % 2 == 0
        n_cycles += 1
        done = 0
        for kind in PATTERN:
            text = next_query(kind)
            got = r.op("query", call(kind, text), traced, f"query:{kind}")
            if got is not None:
                done += 1
                results.setdefault((kind, text), []).append(got)
        return done

    # two cycles at least: one traced, one not (see trace_overhead_pct)
    ops_per_s = r.timed_cycles(cycle, min_cycles=2)

    corpus = oracles.Corpus(rows)
    doc_slts = formula_docs(rows)
    for (kind, text), gots in results.items():
        if kind == "bm25":
            want = corpus.topk(text, K)
        elif kind == "wildcard":
            want = corpus.wildcard(text, K)[1]
        elif kind == "fuzzy":
            want = corpus.fuzzy(text, K)[1]
        else:
            want = oracles.formula_topk(doc_slts, text, K, words.get_config())
        for got in gots:
            r.check(f"{kind} {text!r}", oracles.same_ranking(got, want))
    r.mark("check")

    L["cold.plan_ms"] = median(plan_ms["bm25"])
    L["cold.exec_ms"] = median(exec_ms["bm25"])
    for kind in pools:
        L[f"api.{kind}_ms"] = median(per_route[kind])
    if r.trace:
        counts_pass(r, stores, pools, corpus)
        common.tokenize_rate(r, df, N_PAGES)
    return {
        "setup_s": setup_s,
        "op_p50_ms": median(r.latencies.get("query", [])) * 1e3,
        "ops_per_s": ops_per_s,
    }


def formula_docs(rows) -> dict[int, set[str]]:
    """doc_id -> the SLT strings of its parseable formulas."""
    from tangent_spark.operators.slt import mathml_to_slt
    from tangent_spark.sources.extract import extract_math

    out = {}
    for row in rows:
        slts = {s for s in map(mathml_to_slt, extract_math(row["html"])) if s}
        if slts:
            out[int(row["doc_id"])] = slts
    return out


def counts_pass(r, stores, pools, corpus) -> None:
    """Outside the measured loop: job counts, multi-term expansion time
    and size (checked against the oracle's expansion), formula query and
    parse time, route time."""
    from tangent_spark import api
    from tangent_spark.operators.slt import mathml_to_slt, pairs, parse_slt
    from tangent_spark.plans.formula import dice_topk_docs
    from tangent_spark.plans.fuzzy import fuzzy_terms
    from tangent_spark.plans.wildcard import load_rev_terms, wildcard_terms

    spark, tr, L = r.spark, r.tracer, r.layer
    L["cold.jobs"], _ = common.job_stats(r, "query:bm25")
    store = stores.words
    ts = store.read(spark, "term_stats")
    expanded = 0
    for kind, expand, want in (
        ("wildcard", lambda s: wildcard_terms(
            ts, s, "porter", 50, term_stats_rev=load_rev_terms(spark, store)),
         corpus.wildcard),
        ("fuzzy", lambda s: fuzzy_terms(ts, s, "porter", 50), corpus.fuzzy),
    ):
        times = []
        for text in pools[kind]:
            t0 = time.perf_counter()
            terms = tr.call(f"plans.{kind}", f"{kind}_terms", expand, text)
            times.append((time.perf_counter() - t0) * 1e3)
            expanded += len(terms)
            r.check(f"{kind} expansion {text!r}", sorted(terms) == want(text, K)[0])
        L[f"{kind}.expand_ms"] = median(times)
    L["multiterm.expanded_terms"] = expanded
    times, parse_us = [], []
    cfg = store.get_config()
    for text in pools["formula"]:
        t0 = time.perf_counter()
        tr.call("plans.formula", "dice_topk_docs",
                lambda: dice_topk_docs(spark, stores.formulas, text, K).collect())
        times.append((time.perf_counter() - t0) * 1e3)
        t0 = time.perf_counter()
        list(pairs(parse_slt(mathml_to_slt(text)), cfg.window, cfg.eol_mode,
                   max_pair_len=cfg.max_pair_len))
        parse_us.append((time.perf_counter() - t0) * 1e6)
    L["formula.query_ms"] = median(times)
    L["slt.query_parse_us"] = median(parse_us)
    texts = [t for pool in pools.values() for t in pool]
    t0 = time.perf_counter()
    for text in texts:
        api.route(text)
    L["api.route_us"] = (time.perf_counter() - t0) * 1e6 / len(texts)
