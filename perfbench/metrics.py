"""Metric names and units. BENCHMARK.json lists the same names; a test
keeps the two in step.

End-to-end metrics are reported by every workload. Each workload has
one op kind a user waits on (``OP_KIND`` in its module): a warm query, a
cold ``api.search`` call, one crawl batch deduplicated and appended.

Per-layer metrics are named ``<layer>.<metric>``, where the layer is the
library module (``search`` = plans.search, ``indexer`` = plans.indexer,
...), except trace_overhead_pct: the median latency of traced ops over
that of untraced ops of the same kind in the same traced run, minus one,
in percent (warm or cold queries on the serve workloads, post-compaction
probes on ingest). It covers spans and job groups only: Spark's event
log is on for the whole traced run, so its cost is not in the figure.
Every traced run reports all of them; a layer the workload does not
exercise reports 0.
"""

HIGHER_IS_BETTER = {"1/s", "MB/s"}
HIGHER_RATIOS = {"search.skip_frac", "dedup.pair_precision"}


def better(name: str, unit: str) -> str:
    """Direction of improvement: rates and the two useful-work ratios
    go up, times, sizes and counts of work go down."""
    return "higher" if unit in HIGHER_IS_BETTER or name in HIGHER_RATIOS else "lower"


END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "ops_per_s": "1/s",
}

PER_LAYER = {
    # session
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    # sources.store
    "store.read_ms": "ms",
    # functions.tokenize
    "tokenize.docs_per_s": "1/s",
    # codec
    "codec.encode_mb_per_s": "MB/s",
    "codec.decode_blocks_per_s": "1/s",
    # plans.indexer
    "indexer.terms_s": "s",
    "indexer.docs_s": "s",
    "indexer.stats_s": "s",
    "indexer.postings_s": "s",
    "indexer.positions_s": "s",
    "indexer.verify_s": "s",
    "indexer.build_s": "s",
    "indexer.build_docs_per_s": "1/s",
    "indexer.term_rows": "count",
    "indexer.postings_bytes": "bytes",
    "indexer.positions_bytes": "bytes",
    "indexer.index_bytes_per_text_byte": "ratio",
    # plans.search, warm
    "searcher.init_s": "s",
    "searcher.cache_rows": "count",
    "search.plan_ms": "ms",
    "search.exec_ms": "ms",
    "search.kernel_ms": "ms",
    "search.jobs": "count",
    "search.tasks": "count",
    "search.blocks_decoded": "count",
    "search.blocks_skipped": "count",
    "search.docs_scored": "count",
    "search.skip_frac": "ratio",
    "search.skip_base_blocks": "count",
    "search.batch_queries_per_s": "1/s",
    "search.batch_blocks_decoded": "count",
    "search.batch_single_equiv_blocks": "count",
    "search.warmup_ops": "count",
    # plans.search, cold
    "cold.plan_ms": "ms",
    "cold.exec_ms": "ms",
    "cold.jobs": "count",
    "cold.shuffle_bytes": "bytes",
    # plans.boolean, plans.phrase
    "boolean.plan_ms": "ms",
    "boolean.exec_ms": "ms",
    "phrase.plan_ms": "ms",
    "phrase.exec_ms": "ms",
    "filtered.exec_ms": "ms",
    # plans.wildcard, plans.fuzzy
    "wildcard.expand_ms": "ms",
    "fuzzy.expand_ms": "ms",
    "multiterm.expanded_terms": "count",
    # plans.formula, operators.slt, operators.pairs
    "formula.build_s": "s",
    "formula.exprs_s": "s",
    "formula.f_dict_s": "s",
    "formula.f_postings_s": "s",
    "formula.f_postings_to_s": "s",
    "formula.f_docs_s": "s",
    "formula.unique_exprs": "count",
    "formula.query_ms": "ms",
    "slt.query_parse_us": "us",
    # api
    "api.route_us": "us",
    "api.bm25_ms": "ms",
    "api.wildcard_ms": "ms",
    "api.fuzzy_ms": "ms",
    "api.formula_ms": "ms",
    # streaming.incremental
    "incremental.append_s": "s",
    "incremental.append_docs_per_s": "1/s",
    "incremental.append_jobs": "count",
    "incremental.delete_s": "s",
    "incremental.compact_s": "s",
    "incremental.compact_bytes_rewritten": "bytes",
    "incremental.runs_per_term_before": "ratio",
    "incremental.runs_per_term_after": "ratio",
    "incremental.probe_ms_before_compact": "ms",
    "incremental.probe_ms_after_compact": "ms",
    # operators.dedup, entry_queries.dedup_ngram_jaccard
    "dedup.docs_per_s": "1/s",
    "dedup.minhash_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.pair_precision": "ratio",
    "dedup.cc_rounds": "count",
    "dedup.cc_s": "s",
    "dedup.keep_list_s": "s",
    "dedup.ngram_jaccard_s": "s",
    "dedup.ngram_pairs": "count",
    # Spark runtime, for the workload's op kind
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.shuffle_write_bytes": "bytes",
    # the tracing itself
    "trace_overhead_pct": "%",
}
