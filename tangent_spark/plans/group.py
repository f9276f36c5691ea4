"""Result grouping / field collapsing (Solr `group=true` / collapse).

Web search's site-dedup surface: results collapse to the best
`group_limit` hits per value of a docs-dictionary metadata column, the
page shows the top-k GROUPS ordered by their best hit, and each group
carries its total hit count (Solr `group.field` + `group.limit` +
`group.ngroups`; Lucene grouping module). The reference exposed all
result shaping through its Solr sidecar (SURVEY S12); here it is the
same doc-sharded engine.

Plan shape: each shard scores its full match set (grouping, like
faceting, needs every match — Lucene's grouping collectors also forgo
WAND), maps doc_id -> group through the BROADCAST docs-dictionary map
(the facet machinery's map, reused), and emits per group present in
the shard its top-`group_limit` doc rows plus one (group, count)
partial — <= groups-in-shard x (group_limit + 1) rows per shard, the
facet-partial bound times a small constant, never the match-set size.
A group's doc rows must come from EVERY shard, not just shards where
the group ranks high: a global top group's second-best doc can live in
a shard where stronger groups dominate, so a per-shard group cut would
silently drop it (Solr meets the same problem with its second
grouping phase; the single-pass per-group bound here is the
doc-sharded answer). The global tail is ONE hash aggregate per group
(sum of count partials + sort_array/slice over <= shards x
group_limit candidate structs), then a k-limit over groups ordered by
(best score desc, best doc_id asc) — no window, no second kernel
pass.

Scale note: rows leaving a shard scale with the shard's distinct
group count. For web-scale collapse on a very-high-cardinality key
(site), Solr pays the same via per-shard group tables; if that
becomes the bottleneck the two-phase plan (top-k groups first, then a
targeted second pass) drops per-shard output to k x group_limit at
the cost of a second decode — not implemented until a workload needs
it.

Fallback: when the docs map exceeds `max_driver_docs` the broadcast
route is refused (same cap discipline as facet_counts' driver route)
— callers raise the cap or pre-restrict; the match-set-sized join
fallback is deliberately not silently chosen.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tangent_spark.config import IndexConfig
from tangent_spark.sources.store import IndexStore

_OUT = "grp string, doc_id long, score double, cnt long"
_RESULT = (
    "grp string, group_hits long, rank_in_group int, doc_id long, score double"
)


def _grouped_kernel(
    avgdl: float, cfg: IndexConfig, group_limit: int,
    ids: np.ndarray, vals: np.ndarray, deleted,
):
    """Per-shard: full-match-set BM25 scores -> doc->group map -> per
    group its top-group_limit doc rows (cnt = -1) + one count partial
    (doc_id = -1). Docs absent from the map or with a null group value
    are excluded — Solr drops unfielded docs from field collapse too."""
    from tangent_spark.codec import decode_posting_list
    from tangent_spark.plans.search import _deleted_mask, bm25_tf_norm

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        all_docs, all_parts = [], []
        for ri in range(len(pdf)):
            row = pdf.iloc[ri]
            d, t, l = decode_posting_list(
                row["docs_blob"], row["tfs_blob"], row["dls_blob"],
                np.asarray(row["d_cuts"]), np.asarray(row["t_cuts"]),
                np.asarray(row["l_cuts"]), row["counts"],
            )
            d = d.astype(np.int64)
            dm = _deleted_mask(d, deleted)
            if dm is not None:
                d, t, l = d[dm], t[dm], l[dm]
            all_docs.append(d)
            all_parts.append(
                float(row["idf"]) * bm25_tf_norm(t, l, avgdl, cfg.k1, cfg.b)
            )
        empty = pd.DataFrame(
            {"grp": pd.Series([], dtype=object),
             "doc_id": pd.Series([], dtype=np.int64),
             "score": pd.Series([], dtype=np.float64),
             "cnt": pd.Series([], dtype=np.int64)}
        )
        if not all_docs:
            return empty
        cat_d = np.concatenate(all_docs)
        cat_s = np.concatenate(all_parts)
        uids, inv = np.unique(cat_d, return_inverse=True)
        sums = np.zeros(uids.size, dtype=np.float64)
        np.add.at(sums, inv, cat_s)
        # doc -> group via the broadcast sorted map
        pos = np.minimum(np.searchsorted(ids, uids), max(ids.size - 1, 0))
        ok = ids.size > 0
        ok = (ids[pos] == uids) if ok else np.zeros(uids.size, bool)
        if not ok.any():
            return empty
        df = pd.DataFrame(
            {"grp": vals[pos[ok]], "doc_id": uids[ok], "score": sums[ok]}
        )
        df = df[pd.notna(df["grp"])]
        if not len(df):
            return empty
        counts = df.groupby("grp", sort=False).size()
        # (score desc, doc_id asc) total order; head(group_limit) per
        # group = the group's shard-local top docs
        sel = (
            df.sort_values(
                ["score", "doc_id"], ascending=[False, True], kind="mergesort"
            )
            .groupby("grp", sort=False)
            .head(group_limit)
        )
        out = pd.DataFrame(
            {"grp": sel["grp"].astype(str),
             "doc_id": sel["doc_id"].to_numpy(np.int64),
             "score": sel["score"].to_numpy(np.float64),
             "cnt": np.full(len(sel), -1, dtype=np.int64)}
        )
        cnt_rows = pd.DataFrame(
            {"grp": counts.index.astype(str),
             "doc_id": np.full(counts.size, -1, dtype=np.int64),
             "score": np.zeros(counts.size, dtype=np.float64),
             "cnt": counts.to_numpy(np.int64)}
        )
        return pd.concat([out, cnt_rows], ignore_index=True)

    return kernel


def grouped_topk(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    by: str,
    k: int = 10,
    group_limit: int = 1,
    max_driver_docs: int = 1_000_000,
) -> DataFrame:
    """Top-k groups for a BM25 query, collapsed on docs-dictionary
    column `by` (which must be in IndexConfig.meta_cols). Returns
    (grp, group_hits, rank_in_group, doc_id, score) — groups ordered
    by (best score desc, best doc_id asc), docs within a group by
    (score desc, doc_id asc), group_hits = total matches in the group
    (Solr numFound per group)."""
    from tangent_spark.plans.boolean import _boolean_rows, _facet_map
    from tangent_spark.plans.search import (
        ScoreSpec,
        _cold_rows,
        _cold_sources,
        _idf_from_g_df,
        query_terms,
    )

    cfg = store.get_config()
    if by not in cfg.meta_cols:
        raise ValueError(
            f"group field {by!r} not in the index's meta_cols {cfg.meta_cols}"
        )
    if k < 1 or group_limit < 1:
        raise ValueError("k and group_limit must be >= 1")
    qts = query_terms(query, cfg.tokenizer)
    if not qts:
        return spark.createDataFrame([], _RESULT)
    docs = store.read(spark, "docs")
    fmap = _facet_map(docs, by, max_driver_docs)
    if fmap is None:
        raise ValueError(
            f"docs dictionary exceeds max_driver_docs={max_driver_docs}; "
            "raise the cap to broadcast the doc->group map (see module "
            "docstring for the two-phase alternative at that scale)"
        )
    source = _cold_sources(spark, store)
    matched, tasks = _cold_rows(source, ScoreSpec(tuple(qts), group_limit))
    if matched is None:
        return spark.createDataFrame([], _RESULT)
    kern = _grouped_kernel(
        source["avgdl"], cfg, group_limit, fmap[0], fmap[1], source["deleted"]
    )
    add_idf = _idf_from_g_df(source["n_docs"])
    rows = _boolean_rows(
        matched, None, lambda pdf: kern(add_idf(pdf)), False, schema=_OUT,
        tasks=tasks,
    )
    # ONE aggregate per group: count partials sum + candidate structs
    # (<= shards x group_limit each) sorted/sliced JVM-side. struct ns
    # = -score so sort_array's ascending order is (score desc, doc asc).
    agg = (
        rows.groupBy("grp")
        .agg(
            F.sum(
                F.when(F.col("cnt") >= 0, F.col("cnt")).otherwise(F.lit(0))
            ).cast("long").alias("group_hits"),
            F.sort_array(
                F.collect_list(
                    F.when(
                        F.col("cnt") == -1,
                        F.struct(
                            (-F.col("score")).alias("ns"),
                            F.col("doc_id").alias("doc_id"),
                            F.col("score").alias("score"),
                        ),
                    )
                )
            ).alias("cands"),
        )
        .filter(F.size("cands") > 0)
    )
    top = (
        agg.select(
            "grp",
            "group_hits",
            F.slice("cands", 1, group_limit).alias("cands"),
            F.col("cands")[0].alias("best"),
        )
        .orderBy(F.asc("best.ns"), F.asc("best.doc_id"))
        .limit(k)
    )
    return (
        top.select(
            "grp", "group_hits", "best", F.posexplode("cands").alias("pos", "c")
        )
        .orderBy(F.asc("best.ns"), F.asc("best.doc_id"), F.asc("pos"))
        .select(
            "grp",
            "group_hits",
            (F.col("pos") + 1).cast("int").alias("rank_in_group"),
            F.col("c.doc_id").alias("doc_id"),
            F.col("c.score").alias("score"),
        )
    )
