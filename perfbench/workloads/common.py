"""Pieces the workloads share: the pages DataFrame, a timed index build
with its per-stage counters, on-disk sizes, and the off-Spark layer
timings (codec, scoring kernel, tokenize noop-sink)."""

from __future__ import annotations

import os
import time

from perfbench.harness import BLOCK_SIZE, N_SHARDS, median

K = 10
SCHEMA = ("doc_id long, url string, warc_ts timestamp, html binary, "
          "text string, lang string")


def index_config(positions: bool = False):
    from tangent_spark.config import IndexConfig

    return IndexConfig(n_shards=N_SHARDS, block_size=BLOCK_SIZE,
                       store_positions=positions, meta_cols=("lang",))


def pages_df(spark, rows: list[dict]):
    import pandas as pd

    cols = ["doc_id", "url", "warc_ts", "html", "text", "lang"]
    return spark.createDataFrame(pd.DataFrame(rows, columns=cols), SCHEMA)


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(d, f))
    return total


def text_bytes(rows) -> int:
    return sum(len(r["text"].encode("utf-8")) for r in rows)


def build_word_index(run, df, path: str, n_docs: int, text_len: int,
                     positions: bool = False):
    """build_index with its stage times and counts as indexer.* layer
    metrics (verify_index is timed on its own afterwards). Positions
    are stored only where a workload serves phrases."""
    from tangent_spark.plans.indexer import build_index, verify_index

    tr = run.tracer
    t0 = time.perf_counter()
    store = tr.call("plans.indexer", "build_index", build_index,
                    run.spark, df, path, index_config(positions), url_col="url")
    build_s = time.perf_counter() - t0
    c = store.counters()
    L = run.layer
    L["indexer.build_s"] = build_s
    L["indexer.build_docs_per_s"] = n_docs / build_s
    for st in ("terms", "docs", "stats", "postings", "positions"):
        L[f"indexer.{st}_s"] = float(c.get(st, {}).get("secs", 0.0))
    L["indexer.term_rows"] = int(c["terms"]["term_rows"])
    L["indexer.postings_bytes"] = int(c["postings"]["postings_bytes"])
    if positions:
        L["indexer.positions_bytes"] = dir_bytes(store.path("positions"))
    L["indexer.index_bytes_per_text_byte"] = dir_bytes(path) / text_len
    if run.trace:
        t0 = time.perf_counter()
        tr.call("plans.indexer", "verify_index", verify_index, run.spark, store)
        L["indexer.verify_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        for table in ("postings", "term_stats", "corpus_stats", "docs"):
            tr.call("sources.store", "IndexStore.read", store.read, run.spark, table)
        L["store.read_ms"] = (time.perf_counter() - t0) * 1e3 / 4
    return store


def tokenize_rate(run, df, n_docs: int) -> None:
    """tokenize.docs_per_s: terms_positions_df into the noop sink."""
    from tangent_spark.functions.tokenize import terms_positions_df

    t0 = time.perf_counter()
    run.tracer.call(
        "functions.tokenize", "terms_positions_df",
        lambda: terms_positions_df(df, "doc_id", "text")
        .write.format("noop").mode("overwrite").save())
    run.layer["tokenize.docs_per_s"] = n_docs / (time.perf_counter() - t0)


def codec_rates(run, postings_pdf) -> None:
    """Re-decode and re-encode the index's own posting lists off Spark:
    codec.decode_blocks_per_s and codec.encode_mb_per_s."""
    from tangent_spark import codec

    rows = list(postings_pdf.itertuples(index=False))
    t0 = time.perf_counter()
    decoded, blocks = [], 0
    for r in rows:
        decoded.append(codec.decode_posting_list(
            r.docs_blob, r.tfs_blob, r.dls_blob, r.d_cuts, r.t_cuts, r.l_cuts, r.counts))
        blocks += len(r.counts)
    run.layer["codec.decode_blocks_per_s"] = blocks / (time.perf_counter() - t0)
    t0 = time.perf_counter()
    out_bytes = 0
    for ids, tfs, dls in decoded:
        enc = codec.encode_posting_list(ids, tfs, dls, BLOCK_SIZE)
        out_bytes += len(enc[4]) + len(enc[5]) + len(enc[6])
    run.layer["codec.encode_mb_per_s"] = out_bytes / 1e6 / (time.perf_counter() - t0)


def kernel_counts(run, searcher, queries: list[str]) -> None:
    """Replay the warm top-k scoring kernel off Spark on the cached rows
    of each query's terms: exact blocks decoded/skipped and docs scored
    summed over every shard, and the kernel's own time."""
    from pyspark.sql import functions as F

    from tangent_spark.plans.search import _idf_from_g_df, _score_shard, query_terms

    decoded = skipped = scored = 0
    kernel_s = []
    pdfs = []
    for q in queries:
        qts = query_terms(q, searcher.cfg.tokenizer)
        pdf = searcher.postings.filter(F.col("term").isin(qts)).toPandas()
        pdfs.append(pdf)
        t0 = time.perf_counter()
        rows = _idf_from_g_df(searcher.n_docs)(pdf)
        kern = _score_shard(searcher.avgdl, searcher.cfg, K, deleted=searcher.deleted)
        for _, grp in rows.groupby("shard", sort=False):
            out = kern(grp.reset_index(drop=True))
            if len(out):
                decoded += int(out["blocks_decoded"].iloc[0])
                skipped += int(out["blocks_skipped"].iloc[0])
                scored += int(out["docs_scored"].iloc[0])
        kernel_s.append(time.perf_counter() - t0)
    L = run.layer
    L["search.kernel_ms"] = median(kernel_s) * 1e3
    L["search.blocks_decoded"] = decoded
    L["search.blocks_skipped"] = skipped
    L["search.docs_scored"] = scored
    L["search.skip_base_blocks"] = decoded + skipped
    L["search.skip_frac"] = skipped / max(decoded + skipped, 1)
    import pandas as pd

    codec_rates(run, pd.concat(pdfs, ignore_index=True))


def job_stats(run, prefix: str) -> tuple[float, float]:
    """Median (jobs, tasks) per traced op whose label starts with prefix."""
    counts = run.tracer.job_counts(prefix)
    return median([j for j, _ in counts]), median([t for _, t in counts])


def rows_of(df, score_col: str = "score"):
    return [(int(r["doc_id"]), float(r[score_col])) for r in df.collect()]

