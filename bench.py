#!/usr/bin/env python
"""Benchmark harness: headline engine operations at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints exactly ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "spreads": {name: [r1, r2, r3]}, ...}

Noise robustness (round-5, VERDICT r4 #1): this VM sees host steal
storms that can inflate a single run of an unchanged sub-second query
by 10-50x (BENCH_r04 recorded q9_bm25_topk_df at 54x its r3 time on
byte-identical code). Every repeatable line is therefore measured as
INTERLEAVED BEST-OF-3 — the rep loop is outermost, so one storm window
hits different lines in different reps and the per-line MIN is a clean
engine measurement; all three raw trials are reported in "spreads" so
a noisy window is visible instead of silently polluting the headline.
Single-shot lines (index_build — stateful; cc_star — 15 iterative
rounds; query_cold_ms — cold by definition) stay single-run and are
labeled by their own keys.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import functions as F  # noqa: E402

from tangent_spark import entry_queries as eq  # noqa: E402
from tangent_spark.config import IndexConfig  # noqa: E402
from tangent_spark.plans.indexer import build_index  # noqa: E402
from tangent_spark.plans.search import Searcher, bm25_topk_wand  # noqa: E402
from tangent_spark.session import get_spark  # noqa: E402

BM25_QUERIES = [
    "data query spark index",
    "table scan filter join",
    "agg window partition order",
    "fast slow value hash",
    "row column batch line",
    "customer order part small",
    "key value table",
]

REPS = 3


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app="tangent_spark_bench", cpus=cpus)

    timings: dict[str, float] = {}
    spreads: dict[str, list[float]] = {}

    def record(name: str, trials: list[float]) -> None:
        """Best-of-N line: headline value = min, raw trials reported."""
        timings[name] = round(min(trials), 3)
        spreads[name] = [round(t, 3) for t in trials]

    def timed(name, fn):
        """Single-shot line (stateful or cold — cannot be repeated)."""
        t0 = time.time()
        r = fn()
        timings[name] = round(time.time() - t0, 3)
        return r

    # warm up JVM + python UDF workers so the first measured op isn't
    # paying one-time start-up cost
    spark.range(1000).select(F.sum("id")).collect()

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    n_docs = docs.count()

    idx_dir = os.path.join(tempfile.mkdtemp(prefix="tangent_bench_"), "index")
    shutil.rmtree(idx_dir, ignore_errors=True)
    # positional build: phrase/snippet serving is a first-class surface
    # since round 3, so the headline index includes the positions stage
    # (its share is reported separately as index_positions_secs)
    cfg = IndexConfig(
        n_shards=max(cpus, 8), block_size=128, store_positions=True,
        meta_cols=("lang",),
    )
    store = timed("index_build", lambda: build_index(spark, docs, idx_dir, cfg))
    positions_secs = round(
        store.counters().get("positions", {}).get("secs", 0.0), 3
    )

    # BM25 serving latency over the compressed index (block-max WAND).
    # cold = one-shot reads from parquet; warm = resident Searcher.
    t0 = time.time()
    bm25_topk_wand(spark, store, BM25_QUERIES[0], 10).collect()
    cold_ms = round(1000 * (time.time() - t0), 1)
    searcher = Searcher(spark, store)
    searcher.topk(BM25_QUERIES[0], 10).collect()  # python-worker spin-up

    def serving_sweep(queries, run_one, rounds=2):
        """One sweep = the r3/r4-shaped measurement (each query run
        `rounds` times); returns (total_secs, per-query latency list).
        Callers run REPS interleaved sweeps and take the min."""
        lat = []
        for q in queries * rounds:
            t0 = time.time()
            run_one(q)
            lat.append(time.time() - t0)
        return sum(lat), sorted(lat)

    # warm phrase queries: real bigrams taken from the corpus so every
    # query does positional work
    bigrams = [
        " ".join(r["text"].split()[:2])
        for r in docs.limit(7).collect()
        if len(r["text"].split()) >= 2
    ]
    bool_queries = [
        "data +query -join", "table +scan", "fast value +hash -slow",
        "row +column sort",
    ]
    # warm each path once (one-time python-worker / route-cache cost —
    # what cold_ms measures for WAND; sweep mins measure steady state)
    searcher.phrase(bigrams[0], 10).collect()
    searcher.boolean(bool_queries[0], 10).collect()
    searcher.filtered(BM25_QUERIES[0], 10, "lang = 'en'").collect()
    searcher.facets(BM25_QUERIES[0], "lang").collect()
    # multi-term rewrites (round 5): the warm-up rep pays the one-time
    # vocabulary expansion; later reps serve from the expansion cache
    multiterm_queries = ["dat* value", "quer?", "spark~1 data", "tabl~2"]
    searcher.wildcard(multiterm_queries[0], 10).collect()
    searcher.fuzzy(multiterm_queries[2], 10).collect()

    def run_multiterm(q):
        if "*" in q or "?" in q:
            searcher.wildcard(q, 10).collect()
        else:
            searcher.fuzzy(q, 10).collect()

    surfaces = {
        "bm25_wand_total": lambda: serving_sweep(
            BM25_QUERIES, lambda q: searcher.topk(q, 10).collect()
        ),
        "phrase_total": lambda: serving_sweep(
            bigrams, lambda p: searcher.phrase(p, 10).collect()
        ),
        "boolean_total": lambda: serving_sweep(
            bool_queries, lambda q: searcher.boolean(q, 10).collect()
        ),
        "filtered_total": lambda: serving_sweep(
            BM25_QUERIES,
            lambda q: searcher.filtered(q, 10, "lang = 'en'").collect(),
        ),
        "facet_lang": lambda: serving_sweep(
            [BM25_QUERIES[0]],
            lambda q: searcher.facets(q, "lang").collect(),
            rounds=1,
        ),
        "multiterm_total": lambda: serving_sweep(
            multiterm_queries, run_multiterm, rounds=1
        ),
    }
    trials = {name: [] for name in surfaces}
    lats = {}
    for _rep in range(REPS):
        for name, sweep in surfaces.items():
            total, lat = sweep()
            trials[name].append(total)
            if total == min(trials[name]):
                lats[name] = lat  # per-query latencies of the best sweep
    for name, ts in trials.items():
        record(name, ts)
    p50_ms = round(1000 * lats["bm25_wand_total"][len(lats["bm25_wand_total"]) // 2], 1)
    phrase_p50_ms = round(1000 * lats["phrase_total"][len(lats["phrase_total"]) // 2], 1)
    boolean_p50_ms = round(1000 * lats["boolean_total"][len(lats["boolean_total"]) // 2], 1)
    filtered_p50_ms = round(1000 * lats["filtered_total"][len(lats["filtered_total"]) // 2], 1)
    n_facet_values = len(searcher.facets(BM25_QUERIES[0], "lang").collect())

    # batch serving: 42-query sweep (6 rounds of the 7-query set) in ONE
    # job; decode-cache sharing means the batch decodes far fewer blocks
    # than 42 single-query runs would (reported side by side — the
    # single-equivalent is 6x one deterministic single round). The
    # decode counters are deterministic, so each rep gets a fresh
    # accumulator and the values must agree across reps.
    single_acc = spark.sparkContext.accumulator(0)
    for q in BM25_QUERIES:
        searcher.topk(q, 10, decode_counter=single_acc).collect()
    batch = {f"q{i:02d}": q for i, q in enumerate(BM25_QUERIES * 6)}
    batch_trials, batch_blocks, n_batch_rows = [], [], 0
    for _rep in range(REPS):
        batch_acc = spark.sparkContext.accumulator(0)
        t0 = time.time()
        n_batch_rows = searcher.topk_batch(
            batch, 10, decode_counter=batch_acc
        ).count()
        batch_trials.append(time.time() - t0)
        batch_blocks.append(batch_acc.value)
    record("bm25_batch_42q", batch_trials)
    batch_secs = timings["bm25_batch_42q"]
    searcher.close()

    # star connected-components on a skewed synthetic graph (chains +
    # hot nodes + cliques; scripts/cc_scale_bench.py) — the dedup-graph
    # operator measured per round. Wall time here is ROUND-overhead
    # dominated in local mode (a few seconds of shuffle scheduling per
    # round at any small size), so this line is sized for ROUND-COUNT
    # evidence (chain_len drives the 15 rounds; the edge count is kept
    # small to stay under the scheduling floor) — the 9M-edge scale run
    # lives in BENCH.md (same script, larger n).
    from scripts.cc_scale_bench import skewed_graph
    from tangent_spark.operators.dedup import connected_components_star

    cc_dir = os.path.join(tempfile.mkdtemp(prefix="tangent_cc_"), "edges")
    skewed_graph(spark, 150_000, chain_len=10_000).write.mode("overwrite").parquet(
        cc_dir
    )
    g = spark.read.parquet(cc_dir)
    cc_edges = g.count()
    t0 = time.time()
    labels, cc_rounds = connected_components_star(g)
    cc_components = labels.select("component").distinct().count()
    timings["cc_star"] = round(time.time() - t0, 3)
    shutil.rmtree(os.path.dirname(cc_dir), ignore_errors=True)

    # headline relational / pipeline operators (DataFrame plans) —
    # interleaved best-of-3: rep loop OUTERMOST so a steal storm cannot
    # sit on one line across all of its trials
    df_lines = [
        ("q9_bm25_topk_df", eq.q9_bm25_topk),
        ("q8_dice_topk", eq.q8_dice_topk),
        ("tpch_q1", eq.tpch_q1),
        ("tpch_q3_topk", eq.tpch_q3_topk),
        ("minhash_signature", eq.minhash_signature),
        ("dedup_ngram_jaccard", eq.dedup_ngram_jaccard),
        ("embedding_cosine_topk", eq.embedding_cosine_topk),
        ("text_quality", eq.text_quality),
    ]
    df_trials: dict[str, list[float]] = {name: [] for name, _ in df_lines}
    for _rep in range(REPS):
        for name, fn in df_lines:
            t0 = time.time()
            fn(spark, sf_dir).collect()
            df_trials[name].append(time.time() - t0)
    for name, ts in df_trials.items():
        record(name, ts)

    total = round(sum(timings.values()), 3)
    # round-over-round comparability: cc_star/phrase_total/boolean_total
    # were ADDED to the bench in round 4 (they did not exist in
    # BENCH_r03), so the r3-comparable subtotal is reported alongside
    # the full total — a bigger "value" vs r3 is new coverage, not a
    # serving/build regression.
    new_surfaces = round(
        timings.get("cc_star", 0.0)
        + timings.get("phrase_total", 0.0)
        + timings.get("boolean_total", 0.0)
        + timings.get("filtered_total", 0.0)
        + timings.get("facet_lang", 0.0)
        + timings.get("multiterm_total", 0.0),
        3,
    )
    out = {
        "metric": "index-build + BM25 top-k serving + pipeline operators, wall seconds",
        "value": total,
        "value_r3_comparable": round(total - new_surfaces, 3),
        "new_surfaces_secs": new_surfaces,
        "unit": "sec",
        "queries": timings,
        "spreads": spreads,
        "reps": REPS,
        "sf": sf,
        "n_docs": n_docs,
        "index_docs_per_sec": round(n_docs / timings["index_build"], 1),
        "index_positions_secs": positions_secs,
        "query_p50_ms": p50_ms,
        "query_cold_ms": cold_ms,
        "phrase_p50_ms": phrase_p50_ms,
        "boolean_p50_ms": boolean_p50_ms,
        "filtered_p50_ms": filtered_p50_ms,
        "n_facet_values": n_facet_values,
        "cc_edges": int(cc_edges),
        "cc_rounds": int(cc_rounds),
        "cc_components": int(cc_components),
        "cc_secs": timings["cc_star"],
        "batch_queries": len(batch),
        "batch_qps": round(len(batch) / batch_secs, 2),
        "batch_rows": n_batch_rows,
        "batch_blocks_decoded": batch_blocks[0],
        "batch_blocks_per_rep": batch_blocks,
        "single_blocks_decoded_equiv": 6 * single_acc.value,
        "cpus": cpus,
        "n_shards": cfg.n_shards,
    }
    shutil.rmtree(os.path.dirname(idx_dir), ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
