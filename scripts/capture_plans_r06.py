#!/usr/bin/env python
"""Capture .explain("formatted") before/after evidence for round 6 into
plans/r06/ (the judge checks plan claims against these files).

"Before" plans come from the round-start implementations: the old
entry_queries / dedup modules checked out from git to /tmp, the old
warm task sizing reproduced via TANGENT_QUERY_TASK_ROWS=1 (which
restores query_tasks = min(n_shards, defaultParallelism)), and the old
cold path reproduced by running the BM25 plan builder over a source of
fresh parquet reads with the corpus stats passed as scalars.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

OUT = os.path.join(_REPO, "plans", "r06")
BASE = "349d67d"  # round-start commit


def explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def save(name: str, when: str, df) -> None:
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"{name}_{when}.txt"), "w") as f:
        f.write(explain(df))
    print("wrote", name, when)


def load_old(rel: str, modname: str):
    src = subprocess.run(
        ["git", "-C", _REPO, "show", f"{BASE}:{rel}"],
        capture_output=True, text=True, check=True,
    ).stdout
    path = f"/tmp/{modname}.py"
    with open(path, "w") as f:
        f.write(src)
    spec = importlib.util.spec_from_file_location(modname, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[modname] = mod
    spec.loader.exec_module(mod)
    return mod


def main() -> None:
    from pyspark.sql import functions as F

    from tangent_spark import entry_queries as new_eq
    from tangent_spark.session import get_spark

    spark = get_spark(app="capture_plans_r06", cpus=32)
    sf = "/root/testdata/sf0.1"
    old_eq = load_old("tangent_spark/entry_queries.py", "eq_r05")
    for name in [
        "q9_bm25_topk", "q8_dice_topk", "tpch_q3_topk", "minhash_signature",
        "doc_signatures", "dedup_ngram_jaccard", "a5_corpus_stats",
        "p4_dedup_count", "embedding_cosine_topk",
    ]:
        save(name, "before", getattr(old_eq, name)(spark, sf))
        save(name, "after", getattr(new_eq, name)(spark, sf))

    # one star-CC round (large-star -> small-star composite plan)
    old_dd = load_old("tangent_spark/operators/dedup.py", "dedup_r05")
    from tangent_spark.operators import dedup as new_dd

    e = spark.range(10_000).select(
        (F.col("id") + 1_000).alias("u"), (F.col("id") % 997).alias("v")
    ).filter(F.col("u") != F.col("v"))
    save("cc_round", "before",
         old_dd._small_star(old_dd._large_star(e), oriented=True))
    save("cc_round", "after",
         new_dd._small_star(new_dd._large_star(e), oriented=True))

    # warm topk: old fixed task wave vs cache-adaptive task wave;
    # cold WAND: the plan builder over fresh reads vs bm25_topk_wand
    # (which passes the store's memoized corpus stats as literals too)
    import shutil
    import tempfile

    from tangent_spark.config import IndexConfig
    from tangent_spark.plans.indexer import build_index
    from tangent_spark.plans.search import (
        ScoreSpec,
        Searcher,
        _bm25_plan,
        bm25_topk_wand,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    idx = os.path.join(tempfile.mkdtemp(prefix="plans_"), "index")
    cfg = IndexConfig(
        n_shards=32, block_size=128, store_positions=True, meta_cols=("lang",)
    )
    store = build_index(spark, docs, idx, cfg)
    q = "data query spark index"

    def save_warm(name, when, df, tasks):
        save(name, when, df)
        # the formatted plan does not print Coalesce arity — record the
        # task-wave width the plan actually executes with
        with open(os.path.join(OUT, f"{name}_{when}.txt"), "a") as f:
            f.write(
                f"\n-- query task wave (Coalesce target / RDD partitions): "
                f"{tasks} / {df.rdd.getNumPartitions()}\n"
            )

    os.environ["TANGENT_QUERY_TASK_ROWS"] = "1"  # restores the r5 sizing
    s_old = Searcher(spark, store)
    save_warm("warm_topk", "before", s_old.topk(q, 10), s_old.query_tasks)
    save_warm("warm_boolean", "before",
              s_old.boolean("data +query -join", 10), s_old.query_tasks)
    s_old.close()
    del os.environ["TANGENT_QUERY_TASK_ROWS"]
    s_new = Searcher(spark, store)
    save_warm("warm_topk", "after", s_new.topk(q, 10), s_new.query_tasks)
    save_warm("warm_boolean", "after",
              s_new.boolean("data +query -join", 10), s_new.query_tasks)
    s_new.close()

    from tangent_spark.plans.search import _cold_sources, query_terms
    from tangent_spark.sources.store import IndexStore

    # a fresh IndexStore has no memoized handles: every table is re-read
    source = _cold_sources(spark, IndexStore(idx))
    spec = ScoreSpec(tuple(query_terms(q, cfg.tokenizer)), 10)
    save("cold_wand", "before", _bm25_plan(source, spec, cfg))
    save("cold_wand", "after", bm25_topk_wand(spark, store, q, 10))
    shutil.rmtree(os.path.dirname(idx), ignore_errors=True)


if __name__ == "__main__":
    main()
