"""BM25 top-k query execution (SURVEY.md §2.5 Q1-Q13, Spark-first).

Every index-serving BM25 variant is one plan: a `ScoreSpec` (what to
score — terms, idf multipliers, synonym or dismax groups, doc weights,
masked ids, cursor, k) run by `_bm25_plan` over a source. The spec's
constructor checks the block-max kernel's exactness preconditions; the
builder builds the per-shard kernel (`_score_shard`: block-max pruning
by interval sweep, local top-k per shard — the reference's iterator
machinery, Q3 OR-union / Q7 galloping skip / Q10 threshold pruning,
mathindex.cpp:197-260, collapsed into numpy), runs it through the
shared shard runner (plans/boolean._boolean_rows) and applies the one
(score desc, doc_id asc) top-k tail. The source picks cold or warm:

* `_cold_sources(spark, store)` — the compressed IndexStore: one
  <= |terms|-row collect of the query terms' global df, then the
  postings parquet read with the query terms as a pushed-down filter
  (row-group pruning; postings are term-sorted within each run), each
  row carrying its term's df. When the query's postings (summed df)
  fit one task (query_task_rows), one task regroups the matched rows
  by shard in-partition — 2 jobs, no exchange; above that budget they
  shuffle by shard — 3 jobs.
* `Searcher._warm_sources()` — the Searcher's cached shard partitions,
  whose rows carry their term's global df; shards regrouped inside the
  partition, ONE single-stage job (see the class doc).

Either way the kernel derives idf from the rows' df (`_idf_from_g_df`),
so cold and warm scores are bit-identical.

`bm25_topk_df` (one declarative DataFrame plan over raw docs — the
oracle-checkable twin of __spark_entry__.py's DuckDB SQL) and
`bm25_topk_index_full` (decodes every block) stay separate reference
scorers; all paths are rank-identical against one pure-Python oracle.

Scoring: BM25, k1/b from IndexConfig, Lucene-style idf
    idf(t)  = ln(1 + (N - df + 0.5)/(df + 0.5))
    tfn(t,d)= tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))
    score(q,d) = sum over unique q terms idf*tfn   (query tf ignored)
Ties broken by ascending doc_id — same discipline as the reference's
heap (mathindexbase.h:100: ties -> smaller id wins).
"""

from __future__ import annotations

import dataclasses
import math
import os
import re
import warnings
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tangent_spark.codec import bm25_tf_norm, decode_block
from tangent_spark.config import IndexConfig
from tangent_spark.functions.tokenize import terms_df, tokenize_porter, tokenize_simple
from tangent_spark.plans.boolean import _boolean_rows
from tangent_spark.sources.store import IndexStore


def idf(N: int, df: int) -> float:
    return math.log(1.0 + (N - df + 0.5) / (df + 0.5))


def _idf_col(n_docs, df: str = "df") -> Column:
    """idf() as a JVM Column over column `df`; `n_docs` is a number or a
    Column (fielded indexes: the field's own docCount)."""
    n = n_docs if isinstance(n_docs, Column) else F.lit(float(n_docs))
    return F.log(F.lit(1.0) + (n - F.col(df) + 0.5) / (F.col(df) + 0.5))


def query_terms(query: str, tokenizer: str) -> list[str]:
    toks = tokenize_porter(query) if tokenizer == "porter" else tokenize_simple(query)
    return sorted(set(toks))


_TERM_BOOST = re.compile(r"^(.+?)\^(\d+(?:\.\d+)?)$")


def split_term_boosts(query: str, tokenizer: str):
    """Lucene term-boost syntax on the plain BM25 route: a whitespace
    token `matrix^2.5` scores as `matrix` with its idf scaled 2.5x.
    Returns (sorted distinct stemmed terms, {stemmed term: boost}) —
    only terms with a non-1.0 boost appear in the map. A boosted raw
    token that tokenizes to several index terms boosts each of them;
    the same term boosted twice keeps the LARGER boost (duplicate
    query terms score once here — query tf is ignored — so max, not
    sum, matches that discipline). A `^` not followed by a terminal
    number is not boost syntax and falls through to the tokenizer like
    any other punctuation (Lucene-parity caveat: `c^2` therefore means
    a boosted `c`, as it does in Lucene — escape-free literal carets
    are not searchable on this route)."""
    tok = tokenize_porter if tokenizer == "porter" else tokenize_simple
    terms: set = set()
    boosts: dict = {}
    for raw in query.split():
        m = _TERM_BOOST.match(raw)
        base, boost = (m.group(1), float(m.group(2))) if m else (raw, 1.0)
        for t in tok(base):
            terms.add(t)
            if boost != 1.0:
                boosts[t] = max(boost, boosts.get(t, 0.0))
    return sorted(terms), {t: b for t, b in boosts.items() if b != 1.0}


# ---------------------------------------------------------------------------
# 1. Declarative DataFrame scorer (the oracle-checkable plan)
# ---------------------------------------------------------------------------

def bm25_topk_df(
    docs: DataFrame,
    query: str,
    k: int,
    cfg: IndexConfig = IndexConfig(),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One DataFrame plan: docs -> top-k (doc_id, score).

    N and avgdl enter via a 1-row aggregate cross join (broadcast-nested
    -loop of a single row — free); per-term df via groupBy on the terms
    matched by the query (counts are corpus-global because the df
    aggregation runs before the per-doc restriction... it runs on the
    full terms relation filtered only by term).
    """
    qts = query_terms(query, cfg.tokenizer)
    terms = terms_df(docs, id_col, text_col, cfg.tokenizer)
    # n_docs/avgdl from one deterministic aggregate (dl == sum(tf) per doc
    # for a word-only relation; no order-dependent F.first anywhere)
    corpus = terms.agg(
        F.countDistinct("doc_id").alias("n_docs"),
        (F.sum("tf") / F.countDistinct("doc_id")).alias("avgdl"),
    )
    matched = terms.filter(F.col("term").isin(qts))
    dfs = matched.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        matched.join(F.broadcast(dfs), "term")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "idf", F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
        )
        .withColumn(
            "tfn",
            F.col("tf")
            * (cfg.k1 + 1.0)
            / (F.col("tf") + cfg.k1 * (1.0 - cfg.b + cfg.b * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy("doc_id")
        .agg(F.sum(F.col("idf") * F.col("tfn")).alias("score"))
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


# ---------------------------------------------------------------------------
# 2. Index-serving scorer with block-max pruning
# ---------------------------------------------------------------------------

_WAND_SCHEMA = (
    "doc_id long, score double, shard int, "
    "blocks_decoded int, blocks_skipped int, docs_scored int"
)

_MAXDOC = np.int64(2**62)


def load_deleted_ids(spark: SparkSession, store: IndexStore) -> np.ndarray:
    """Sorted int64 doc ids currently tombstoned (empty array when the
    index has no tombstones). Lucene live-docs discipline: serving
    kernels MASK these ids at decode time; postings/positions/stats are
    physically cleaned at the next compaction
    (streaming.incremental.delete_docs / compact_postings). Driver-side
    by design — the live tombstone set between compactions is bounded
    (8 B/doc; Lucene holds the same information as an in-memory
    per-segment bitset). Block-max pruning stays EXACT under masking:
    block upper bounds computed over a superset of live postings can
    only overestimate, so no live doc is ever pruned wrongly. Read
    once per index generation (IndexStore.memo); the array is shared,
    so it is read-only."""

    def read() -> np.ndarray:
        tdir = store.path("tombstones")
        ids = np.zeros(0, dtype=np.int64)
        if os.path.isdir(tdir) and any(
            f.endswith(".parquet") for f in os.listdir(tdir)
        ):
            rows = store.read(spark, "tombstones").select("doc_id").collect()
            ids = np.unique(np.asarray([r["doc_id"] for r in rows], dtype=np.int64))
        ids.flags.writeable = False
        return ids

    return store.memo(spark, ("deleted_ids",), read)


def _deleted_mask(ids: np.ndarray, deleted: np.ndarray) -> np.ndarray | None:
    """Boolean keep-mask over sorted-or-not `ids` vs sorted `deleted`;
    None when nothing is masked (fast path)."""
    if deleted is None or not deleted.size or not ids.size:
        return None
    pos = np.minimum(np.searchsorted(deleted, ids), deleted.size - 1)
    keep = deleted[pos] != ids
    return None if keep.all() else keep


_MAX_ISIN_TOMBSTONES = 10_000


def filter_deleted(df: DataFrame, deleted: np.ndarray | None) -> DataFrame:
    """Drop tombstoned doc_ids from a per-doc DataFrame (positions-
    derived surfaces only — the decode-path kernels use the numpy mask
    instead). Small tombstone sets become a literal isin (no extra
    plan node); above _MAX_ISIN_TOMBSTONES a literal In-expression
    would blow up the plan size and driver memory, so the set ships as
    a broadcast left-anti join instead (same rows, bounded plan)."""
    if deleted is None or not deleted.size:
        return df
    if deleted.size <= _MAX_ISIN_TOMBSTONES:
        return df.filter(~F.col("doc_id").isin([int(d) for d in deleted]))
    spark = df.sparkSession
    tomb = spark.createDataFrame(
        ((int(d),) for d in deleted), "doc_id long"
    )
    return df.join(F.broadcast(tomb), "doc_id", "left_anti")


def match_all_docs(
    spark: SparkSession,
    store: IndexStore,
    k: int,
    where: str | None = None,
    after: tuple[float, int] | None = None,
    sort_by: str | None = None,
    sort_ascending: bool = False,
) -> DataFrame:
    """Lucene MatchAllDocsQuery / Solr `q=*:*`: every live (non-
    tombstoned) document matches with constant score 1.0. Default
    output is (doc_id, score) in doc_id-asc order — with a constant
    score, Lucene's (score desc, doc id asc) tie-break degenerates to
    doc order — so `after` (the searchAfter cursor) degenerates to an
    id cursor: the next k docs with doc_id > after[1]. `sort_by`
    switches to the sortby contract instead: (doc_id, <field>) rows in
    (value asc|desc, doc_id asc) order over ALL live docs. `where`
    restricts through the docs dictionary with the same predicate
    surface as filtered_topk (IndexConfig.meta_cols).

    Plan shape: the postings are never touched — one docs-dictionary
    scan (column-pruned to doc_id + the referenced fields, predicate
    pushed to parquet) -> tombstone anti-mask -> global
    TakeOrderedAndProject(k). The browse-everything query a search UI
    issues on an empty search box costs one bounded scan even at
    10^12 docs."""
    cfg = store.get_config()
    docs = filter_deleted(
        store.read(spark, "docs"), load_deleted_ids(spark, store)
    )
    if where is not None:
        docs = docs.filter(where)
    if sort_by is not None:
        if after is not None:
            raise ValueError("sort_by is not combinable with cursor paging")
        if sort_by not in cfg.meta_cols:
            raise ValueError(
                f"sort field {sort_by!r} not in the index's meta_cols "
                f"{cfg.meta_cols}"
            )
        order = (
            F.asc(sort_by) if sort_ascending else F.desc(sort_by),
            F.asc("doc_id"),
        )
        return docs.select("doc_id", sort_by).orderBy(*order).limit(k)
    out = docs.select("doc_id", F.lit(1.0).alias("score"))
    if after is not None:
        out = out.filter(F.col("doc_id") > int(after[1]))
    return out.orderBy(F.asc("doc_id")).limit(k)


def _score_shard(
    avgdl: float, cfg: IndexConfig, k: int, counter=None, deleted=None, after=None,
    doc_weights=None, dismax_tie=None,
):
    """Per-shard kernel: block-max pruning via an interval sweep.

    Input rows carry a precomputed `idf` column (_spec_kernel derives
    it from the rows' global df, _idf_from_g_df). Block intervals
    (known from metadata alone) partition doc-space into ranges; each range has upper bound = sum of covering
    blocks' idf*max_tfn. Ranges are scored in descending upper-bound
    order with a running top-k threshold; once the bound falls below
    the threshold every remaining range is skipped without decoding.
    This is block-max WAND restructured score-at-a-time — same skip
    guarantee, fully vectorizable.

    `cache` (decoded-block cache) may be passed in by a caller that
    scores several queries over the same rows (topk_batch): keys are
    (stable row id, block idx), where the stable id comes from a
    `_rid` column when present. `counter` is an optional Spark
    accumulator that receives the number of freshly decoded blocks.

    `after=(score, doc_id)` is the Lucene searchAfter cursor: only docs
    STRICTLY after the cursor in (score desc, doc_id asc) order may
    enter the top-k — i.e. score < after_score, or score == after_score
    and doc_id > after_doc. Deep paging at 10^12 docs cannot OFFSET
    (page N would move N*k rows per shard); with a cursor every page
    moves exactly <= k rows per shard, same as page 1. Exactness: the
    cursor score was produced by THIS kernel on the same cached rows,
    and every doc is scored exactly once (ranges partition doc space)
    by the same vectorized accumulation, so the float comparison at the
    boundary is bit-deterministic. Block-max pruning stays exact under
    the cursor — a range's upper bound also bounds its post-cursor
    docs' scores, so the threshold skip never drops a qualifying doc.

    `doc_weights=(sorted doc_ids, weights, missing)` multiplies every
    doc's summed BM25 score by its weight (Lucene FunctionScoreQuery /
    Solr boost= — boosted_topk builds recency weights); docs absent
    from the map score x `missing`. All weights and `missing` must lie
    in (0, 1] — then every unweighted range bound still upper-bounds
    the weighted scores, so the block-max threshold skip stays EXACT
    (merely looser); boosted_topk enforces the invariant.

    Synonym groups (Lucene SynonymQuery — bm25_topk_synonyms): when a
    `syn` column is present, rows sharing a group id are ONE pseudo-
    term: per doc the members' tfs are summed BEFORE tf-normalization
    (tfnorm(sum tf), never sum of tfnorms) and the row's `idf` is the
    group idf (from the group's max df, Lucene's SynonymQuery
    docFreq). Block-max stays exact: tfnorm is concave with f(0)=0,
    hence subadditive in tf, so the sum of member block bounds (each
    computed at the group idf) upper-bounds the merged contribution.
    The decoded-block cache stores raw (ids, tfs, dls) on this path —
    contributions are only defined per group after the merge.

    Dismax groups (Lucene DisjunctionMaxQuery — plans/fielded.
    dismax_topk): when `dismax_tie` is set and a `dmax` column is
    present, rows sharing a group id (one group per base query term,
    members = its per-field TermQueries) combine per doc as
    max(contrib) + tie * (sum(contrib) - max(contrib)) BEFORE the
    cross-group per-doc sum — edismax's default combiner. Block-max
    stays exact for tie in [0, 1]: contributions are >= 0, so
    max + tie*(sum-max) <= sum, and the range's summed block bounds
    upper-bound the plain sum. Each doc lives in exactly one range,
    so the per-range group max/sum see ALL of the doc's member
    contributions — the combine is exact, not an approximation.
    Mutually exclusive with `syn` (different query rewrites).
    """

    def kernel(pdf: pd.DataFrame, cache=None) -> pd.DataFrame:
        shard = int(pdf["shard"].iloc[0]) if len(pdf) else -1
        rids = (
            pdf["_rid"].to_numpy()
            if "_rid" in pdf.columns
            else np.arange(len(pdf), dtype=np.int64)
        )
        # per-row avgdl (fielded index: each field normalizes dl by its
        # OWN average length, Lucene per-field norms); plain indexes have
        # no such column and use the corpus scalar
        has_av = "avgdl" in pdf.columns
        # synonym groups (see docstring): rows sharing syn merge tfs
        # per doc before tf-normalization
        has_syn = "syn" in pdf.columns
        syn_ids = pdf["syn"].to_numpy(np.int64) if has_syn else None
        # dismax groups (see docstring): rows sharing dmax combine per
        # doc as max + tie * rest before the cross-group sum
        has_dmax = dismax_tie is not None and "dmax" in pdf.columns
        dmax_ids = pdf["dmax"].to_numpy(np.int64) if has_dmax else None
        # --- collect block metadata for every query-term row ---------------
        blocks = []  # (lo, hi, bound, row_idx, blk_idx)
        for ri in range(len(pdf)):
            row = pdf.iloc[ri]
            t_idf = float(row["idf"])
            row_avgdl = float(row["avgdl"]) if has_av else avgdl
            firsts = np.asarray(row["first_docs"], dtype=np.int64)
            # safe bound at the CURRENT avgdl: tfn increasing in tf,
            # decreasing in dl (see codec.encode_posting_list)
            bounds = t_idf * bm25_tf_norm(
                np.asarray(row["max_tfs"], dtype=np.int64),
                np.asarray(row["min_dls"], dtype=np.int64),
                row_avgdl, cfg.k1, cfg.b,
            )
            his = np.empty_like(firsts)
            his[:-1] = firsts[1:] - 1
            # the row's stored max doc id closes the last block: without
            # it a short list's single block would span ALL of doc space
            # and its bound would inflate every range's upper bound,
            # defeating the threshold skip entirely
            his[-1] = np.int64(row["max_doc"])
            for bi in range(firsts.size):
                blocks.append((firsts[bi], his[bi], bounds[bi], ri, bi))
        if not blocks:
            return pd.DataFrame(
                columns=["doc_id", "score", "shard", "blocks_decoded", "blocks_skipped", "docs_scored"]
            )

        lo = np.array([b[0] for b in blocks], dtype=np.int64)
        hi = np.array([b[1] for b in blocks], dtype=np.int64)
        bnd = np.array([b[2] for b in blocks], dtype=np.float64)

        # --- sweep: disjoint ranges + their summed upper bounds ------------
        points = np.unique(np.concatenate([lo, hi + 1]))
        starts = points[:-1]
        ends = points[1:] - 1
        ub = np.zeros(starts.size, dtype=np.float64)
        li = np.searchsorted(points, lo, side="right") - 1
        hj = np.searchsorted(points, hi + 1, side="right") - 1
        delta = np.zeros(points.size, dtype=np.float64)
        np.add.at(delta, li, bnd)
        np.add.at(delta, hj, -bnd)
        ub = np.cumsum(delta)[:-1]

        order = np.argsort(-ub, kind="stable")
        if cache is None:
            cache = {}
        top_scores = np.zeros(0, dtype=np.float64)
        top_docs = np.zeros(0, dtype=np.int64)
        decoded = 0
        skipped_after = 0
        docs_scored = 0
        threshold = -1.0

        # pre-index blocks by range coverage
        blk_lo, blk_hi = lo, hi

        for oi, r in enumerate(order):
            # strict <: a range whose bound EQUALS the threshold may still
            # hold a doc with score == threshold and a smaller doc_id, which
            # must win the tie (score desc, doc_id asc — mathindexbase.h:100)
            if top_scores.size >= k and ub[r] < threshold:
                skipped_after = order.size - oi
                break
            rlo, rhi = starts[r], ends[r]
            cover = np.flatnonzero((blk_lo <= rhi) & (blk_hi >= rlo))
            all_ids, all_contrib, all_gids = [], [], []
            syn_buf: dict = {}  # group id -> [(ids, tfs, dls, idf, row_avgdl)]
            for ci in cover:
                _, _, _, ri, bi = blocks[ci]
                key = (int(rids[ri]), bi)
                if key not in cache:
                    row = pdf.iloc[ri]
                    cnt = int(row["counts"][bi])
                    ids = decode_block(
                        row["docs_blob"], np.asarray(row["d_cuts"]), bi, cnt, True
                    ).astype(np.int64)
                    tfs = decode_block(
                        row["tfs_blob"], np.asarray(row["t_cuts"]), bi, cnt, False
                    ).astype(np.int64)
                    dls = decode_block(
                        row["dls_blob"], np.asarray(row["l_cuts"]), bi, cnt, False
                    ).astype(np.int64)
                    dm = _deleted_mask(ids, deleted)
                    if dm is not None:  # tombstoned docs never score
                        ids, tfs, dls = ids[dm], tfs[dm], dls[dm]
                    if has_syn:
                        # contributions only exist per GROUP after the
                        # tf merge — cache the raw decoded triplet
                        cache[key] = (ids, tfs, dls)
                    else:
                        contrib = float(row["idf"]) * bm25_tf_norm(
                            tfs,
                            dls,
                            float(row["avgdl"]) if has_av else avgdl,
                            cfg.k1,
                            cfg.b,
                        )
                        cache[key] = (ids, contrib)
                    decoded += 1
                if has_syn:
                    ids, tfs, dls = cache[key]
                    s = np.searchsorted(ids, rlo, side="left")
                    e = np.searchsorted(ids, rhi, side="right")
                    if e > s:
                        syn_buf.setdefault(int(syn_ids[ri]), []).append(
                            (
                                ids[s:e], tfs[s:e], dls[s:e],
                                float(pdf.iloc[ri]["idf"]),
                                float(pdf.iloc[ri]["avgdl"]) if has_av else avgdl,
                            )
                        )
                    continue
                ids, contrib = cache[key]
                s = np.searchsorted(ids, rlo, side="left")
                e = np.searchsorted(ids, rhi, side="right")
                if e > s:
                    all_ids.append(ids[s:e])
                    all_contrib.append(contrib[s:e])
                    if has_dmax:
                        all_gids.append(
                            np.full(e - s, dmax_ids[ri], dtype=np.int64)
                        )
            if has_syn:
                # per group: sum member tfs per doc, THEN normalize once
                for parts in syn_buf.values():
                    g_ids = np.concatenate([p[0] for p in parts])
                    g_tfs = np.concatenate([p[1] for p in parts])
                    g_dls = np.concatenate([p[2] for p in parts])
                    g_idf, g_avgdl = parts[0][3], parts[0][4]
                    guids, gfirst, ginv = np.unique(
                        g_ids, return_index=True, return_inverse=True
                    )
                    tf_sum = np.zeros(guids.size, dtype=np.int64)
                    np.add.at(tf_sum, ginv, g_tfs)
                    all_ids.append(guids)
                    all_contrib.append(
                        g_idf
                        * bm25_tf_norm(
                            tf_sum, g_dls[gfirst], g_avgdl, cfg.k1, cfg.b
                        )
                    )
            if not all_ids:
                continue
            cat_ids = np.concatenate(all_ids)
            cat_c = np.concatenate(all_contrib)
            if has_dmax:
                # per (doc, group): max + tie * (sum - max), then the
                # groups fall through to the plain cross-group sum
                # Grouping is a lexsort + reduceat over the two key
                # arrays — arithmetic packing (doc_id * n_groups + gid)
                # can overflow int64 for large doc ids (the _MAXDOC
                # sentinel admits ids up to 2^62), which would silently
                # merge distinct (doc, group) pairs. Locals are d_-
                # prefixed: the enclosing sweep owns `order`/`starts`.
                cat_g = np.concatenate(all_gids)
                d_order = np.lexsort((cat_g, cat_ids))
                d_ids = cat_ids[d_order]
                d_g = cat_g[d_order]
                d_c = cat_c[d_order]
                d_new = np.empty(d_ids.size, dtype=bool)
                d_new[0] = True
                d_new[1:] = (d_ids[1:] != d_ids[:-1]) | (d_g[1:] != d_g[:-1])
                d_starts = np.flatnonzero(d_new)
                ksum = np.add.reduceat(d_c, d_starts)
                kmax = np.maximum.reduceat(d_c, d_starts)
                cat_ids = d_ids[d_starts]
                cat_c = (1.0 - dismax_tie) * kmax + dismax_tie * ksum
            uids, inv = np.unique(cat_ids, return_inverse=True)
            sums = np.zeros(uids.size, dtype=np.float64)
            np.add.at(sums, inv, cat_c)
            docs_scored += uids.size
            if doc_weights is not None:
                w_ids, w_vals, w_missing = doc_weights
                wpos = np.minimum(
                    np.searchsorted(w_ids, uids), max(w_ids.size - 1, 0)
                )
                w_ok = (w_ids[wpos] == uids) if w_ids.size else np.zeros(
                    uids.size, bool
                )
                sums = sums * np.where(w_ok, w_vals[wpos], w_missing)
            if after is not None:
                # searchAfter cursor: keep docs strictly after (s, d) in
                # (score desc, doc_id asc) order; scores here are full
                # (each doc lives in exactly one range), so the mask is
                # exact
                keep = (sums < after[0]) | (
                    (sums == after[0]) & (uids > after[1])
                )
                uids, sums = uids[keep], sums[keep]
                if not uids.size:
                    continue
            top_docs = np.concatenate([top_docs, uids])
            top_scores = np.concatenate([top_scores, sums])
            if top_scores.size > k:
                # keep exactly top-k (score desc, doc asc) to tighten threshold
                ordk = np.lexsort((top_docs, -top_scores))[:k]
                top_docs, top_scores = top_docs[ordk], top_scores[ordk]
            if top_scores.size >= k:
                threshold = float(top_scores.min())

        ordk = np.lexsort((top_docs, -top_scores))[:k]
        top_docs, top_scores = top_docs[ordk], top_scores[ordk]
        if counter is not None and decoded:
            counter.add(decoded)
        return pd.DataFrame(
            {
                "doc_id": top_docs,
                "score": top_scores,
                "shard": shard,
                "blocks_decoded": decoded,
                "blocks_skipped": skipped_after,
                "docs_scored": docs_scored,
            }
        )

    return kernel


@dataclasses.dataclass(frozen=True)
class ScoreSpec:
    """One BM25 query for _bm25_plan. The constructor is the one place
    that checks the kernel's exactness preconditions: block-max bounds
    (idf * tfn(max_tf, min_dl), see _score_shard) only upper-bound the
    scores they stand for when every idf multiplier is >= 0, every doc
    weight lies in (0, 1] and the dismax tie in [0, 1] — a negative
    boost turns its block's bound into a lower bound, and the threshold
    skip then drops qualifying ranges.

    `terms` are the index terms the postings scan keeps. `boosts`
    ({term: idf multiplier}) is Lucene `term^2.5`; `syn` ({term: group})
    scores each group as one SynonymQuery pseudo-term; `clauses`
    ((term, dismax group, multiplier) rows) scores a fielded index with
    per-field docCount idf and per-row field avgdl, summing the rows'
    contributions — or, with `tie`, combining each group as Lucene's
    DisjunctionMaxQuery. `doc_weights` is (sorted doc ids, weights,
    missing); `exclude` ids are masked like tombstones; `after` is the
    searchAfter cursor (score, doc_id)."""

    terms: tuple
    k: int
    boosts: dict | None = None
    syn: dict | None = None
    clauses: tuple = ()
    tie: float | None = None
    doc_weights: tuple | None = None
    exclude: tuple = ()
    after: tuple | None = None
    with_metrics: bool = False

    def __post_init__(self):
        mults = [*(self.boosts or {}).values(), *(b for _, _, b in self.clauses)]
        if self.clauses and not all(b > 0 for b in mults):
            raise ValueError("field boosts must be strictly positive")
        if not all(b >= 0 for b in mults):
            raise ValueError("term boosts must be >= 0")
        if self.tie is not None:
            if not 0.0 <= self.tie <= 1.0:
                raise ValueError(f"tie must be in [0, 1], got {self.tie}")
            object.__setattr__(self, "tie", float(self.tie))
        if self.doc_weights is not None:
            w = np.append(self.doc_weights[1], self.doc_weights[2])
            if not np.all((w > 0.0) & (w <= 1.0)):
                raise ValueError("doc weights and the missing weight must be in (0, 1]")
        if self.after is not None:
            object.__setattr__(
                self, "after", (float(self.after[0]), int(self.after[1]))
            )


def _cold_sources(spark: SparkSession, store: IndexStore) -> dict:
    """The cold source of _bm25_plan and _boolean_plan: the postings
    handle, corpus n_docs and avgdl, the tombstone ids — all memoized
    per index generation, so a repeat query re-lists no parquet and runs
    no stats job — and a df lookup that is one <= |terms|-row collect of
    term_stats per query (the warm source answers it from its resident
    lexicon)."""
    cs = store.corpus_stats(spark)
    ts = store.read(spark, "term_stats")

    def df_lookup(terms: Sequence[str]) -> dict[str, int]:
        if not terms:
            return {}
        rows = ts.filter(F.col("term").isin(list(terms))).select("term", "df")
        return {r["term"]: int(r["df"]) for r in rows.collect()}

    return dict(
        postings=store.read(spark, "postings"),
        n_docs=int(cs["n_docs"]),
        avgdl=float(cs["avgdl"]) if cs["avgdl"] else 1.0,
        deleted=load_deleted_ids(spark, store),
        df_lookup=df_lookup,
    )


def _cold_tasks(n_postings: int) -> int | None:
    """The cold runner for a query whose index terms hold `n_postings`
    postings (their summed global df): 1 — one task that regroups the
    matched rows by shard in-partition, no exchange — when they fit the
    warm path's per-task budget (query_task_rows), else None — one
    shuffle of the matched compressed rows by shard."""
    return 1 if n_postings <= query_task_rows() else None


def _cold_rows(source: dict, spec: ScoreSpec):
    """(rows, tasks): the cold postings rows `spec` scores and the task
    count of their runner (_cold_tasks), or (None, None) when no query
    term is in the index. The df lookup (one <= |terms|-row collect)
    gives every present term's global df, which the rows then carry as
    `g_df`, exactly like the warm cache's rows — a synonym member
    carries its group's max df over the members present (Lucene
    SynonymQuery docFreq)."""
    dfs = source["df_lookup"](spec.terms)
    if not dfs:
        return None, None
    row_df = dfs
    if spec.syn:
        gdf: dict = {}
        for t, d in dfs.items():
            gdf[spec.syn[t]] = max(d, gdf.get(spec.syn[t], 0))
        row_df = {t: gdf[spec.syn[t]] for t in dfs}
    g_df = F.create_map(*[F.lit(x) for t in sorted(row_df) for x in (t, row_df[t])])
    rows = (
        source["postings"]
        .filter(F.col("term").isin(sorted(dfs)))
        .withColumn("g_df", g_df[F.col("term")])
    )
    return rows, _cold_tasks(sum(dfs.values()))


def _field_clauses(source: dict, spec: ScoreSpec) -> pd.DataFrame:
    """`spec`'s fielded clause rows as a frame: (term, dmax, boost) plus
    the clause field's docCount (`n_docs`, the idf's N) and avgdl
    (Lucene per-field norms). Clauses on a field without documents
    match nothing and are dropped."""
    from tangent_spark.plans.fielded import FIELD_SEP

    fs = source["field_stats"]
    rows = [
        (t, g, b, *fs[f])
        for t, g, b in spec.clauses
        if (f := t.split(FIELD_SEP, 1)[0]) in fs
    ]
    return pd.DataFrame(rows, columns=["term", "dmax", "boost", "n_docs", "avgdl"])


def _spec_kernel(source: dict, spec: ScoreSpec, cfg: IndexConfig, counter=None):
    """The per-shard block-max kernel for `spec` over `source`'s rows.
    Cold and warm rows alike carry their term's global df (`g_df`), so
    idf has one path (_idf_from_g_df) and cold and warm scores are
    bit-identical. `boosts` and fielded clause boosts multiply the idf;
    synonym rows get their group id, and each fielded row is repeated
    once per clause with the clause's field docCount and avgdl."""
    deleted = source["deleted"]
    if spec.exclude:
        deleted = np.unique(np.append(deleted, np.asarray(spec.exclude, np.int64)))
    kern = _score_shard(
        source["avgdl"], cfg, spec.k, counter=counter, deleted=deleted,
        after=spec.after, doc_weights=spec.doc_weights, dismax_tie=spec.tie,
    )
    add_idf = _idf_from_g_df(source["n_docs"])
    clauses = _field_clauses(source, spec) if spec.clauses else None

    def spec_kernel(pdf: pd.DataFrame, cache=None) -> pd.DataFrame:
        if clauses is not None:
            # inner merge keeps the rows' term order
            pdf = pdf.merge(clauses, on="term")
        pdf = add_idf(pdf)
        if spec.syn:
            pdf["syn"] = pdf["term"].map(spec.syn).to_numpy(np.int64)
        mult = pdf["boost"] if clauses is not None else (
            pdf["term"].map(spec.boosts).fillna(1.0) if spec.boosts else None
        )
        if mult is not None:
            pdf["idf"] = pdf["idf"].to_numpy() * mult.to_numpy(np.float64)
        return kern(pdf, cache)

    return spec_kernel


def _bm25_plan(
    source: dict, spec: ScoreSpec, cfg: IndexConfig, counter=None
) -> DataFrame:
    """Every BM25 variant's plan: `spec`'s kernel over `source`'s rows
    through the shared shard runner, then the global (score desc,
    doc_id asc) top-k. A warm source (Searcher._warm_sources) regroups
    the cached shard partitions in place — 1 job. A cold source
    (_cold_sources) runs the df lookup collect, then scores the matched
    compressed rows in one task that regroups them by shard when the
    query's postings (summed df) fit query_task_rows() — 2 jobs, no
    exchange — and shuffles them by shard above that budget — 3 jobs.
    `counter` (a Spark accumulator) receives the number of blocks
    decoded."""
    cols = ["doc_id", "score"] + (
        ["shard", "blocks_decoded", "blocks_skipped", "docs_scored"]
        if spec.with_metrics
        else []
    )
    spark = source["postings"].sparkSession
    if not spec.terms:
        return spark.createDataFrame([], "doc_id long, score double")
    warm = bool(source.get("shard_partitioned"))
    rows, tasks = (
        (source["postings"], source["tasks"]) if warm else _cold_rows(source, spec)
    )
    if rows is None:
        return spark.createDataFrame([], _WAND_SCHEMA).select(*cols)
    local = _boolean_rows(
        rows, list(spec.terms) if warm else None,
        _spec_kernel(source, spec, cfg, counter), warm, schema=_WAND_SCHEMA,
        tasks=tasks,
    )
    return local.select(*cols).orderBy(F.desc("score"), F.asc("doc_id")).limit(spec.k)


def bm25_topk_wand(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    k: int,
    with_metrics: bool = False,
    after: tuple[float, int] | None = None,
) -> DataFrame:
    """One-shot query straight off the parquet index (cold path).

    `after=(score, doc_id)` is the searchAfter cursor — see
    Searcher.topk for paging semantics. Lucene term-boost syntax
    (`matrix^2.5`) is honored — see split_term_boosts."""
    cfg = store.get_config()
    qts, boosts = split_term_boosts(query, cfg.tokenizer)
    spec = ScoreSpec(
        tuple(qts), k, boosts=boosts, after=after, with_metrics=with_metrics
    )
    return _bm25_plan(_cold_sources(spark, store), spec, cfg)


def boosted_topk(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    k: int,
    by: str,
    now,
    half_life_days: float = 30.0,
    missing: float = 1.0,
    after: tuple[float, int] | None = None,
) -> DataFrame:
    """Recency-boosted BM25 (Lucene FunctionScoreQuery / Solr
    `boost=recip(ms(NOW,date),...)`): final score = BM25 x
    1 / (1 + age_days / half_life_days), age taken from timestamp
    metadata column `by` (IndexConfig.meta_cols) against the caller-
    supplied `now` (explicit for determinism — pass
    datetime.now(timezone.utc) in production). Weights lie in (0, 1],
    so block-max pruning stays exact (see _score_shard.doc_weights);
    `missing` (also in (0, 1]) scores docs without the field. Future
    timestamps clamp to age 0 (weight 1.0). One single-stage job, same
    as bm25_topk_wand — the doc->weight map rides the same broadcast
    as the filter/facet machinery."""
    from tangent_spark.plans.boolean import _facet_map

    if half_life_days <= 0:
        raise ValueError("half_life_days must be > 0")
    cfg = store.get_config()
    if by not in cfg.meta_cols:
        raise ValueError(
            f"boost field {by!r} not in the index's meta_cols {cfg.meta_cols}"
        )
    qts = query_terms(query, cfg.tokenizer)
    if not qts:
        return spark.createDataFrame([], "doc_id long, score double")
    fmap = _facet_map(store.read(spark, "docs"), by, 1_000_000)
    if fmap is None:
        raise ValueError("docs dictionary too large to broadcast the boost map")
    ids, vals = fmap
    ts = pd.to_datetime(pd.Series(vals))
    age_days = (pd.Timestamp(now).tz_localize(None) - ts.dt.tz_localize(None)) \
        / pd.Timedelta(days=1)
    age = np.maximum(age_days.to_numpy(np.float64), 0.0)  # future -> age 0
    weights = 1.0 / (1.0 + age / float(half_life_days))
    ok = np.isfinite(weights)
    spec = ScoreSpec(
        tuple(qts), k, doc_weights=(ids[ok], weights[ok], float(missing)),
        after=after,
    )
    return _bm25_plan(_cold_sources(spark, store), spec, cfg)


def function_boosted_topk(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    k: int,
    boost_fn: str,
    missing: float = 1.0,
    after: tuple[float, int] | None = None,
    max_driver_docs: int = 1_000_000,
) -> DataFrame:
    """Function-query boosted BM25 (Solr `boost=<func>` / Lucene
    FunctionScoreQuery with an arbitrary ValueSource): final score =
    BM25 x f(doc), where `boost_fn` is any SQL expression over the
    docs dictionary's metadata columns (IndexConfig.meta_cols), e.g.
    `1.0 + 0.1 * ln(n_chars)` or `sqrt(popularity)`. The expression
    must evaluate positive and finite for every doc (a multiplicative
    boost of <= 0 is meaningless and raises); NULL results take the
    `missing` weight (> 0).

    Pruning stays exact under arbitrary positive weights: the kernel's
    block-max invariant needs weights in (0, 1], so the evaluated
    weights are divided by their max before entering the kernel
    (one global constant — rank-order unchanged) and the returned
    scores are multiplied back, so callers see true BM25 x f(doc).
    One single-stage job like bm25_topk_wand; the doc->weight map
    rides the same broadcast as the recency/filter/facet machinery.

    The reference had no function queries (Solr owned its text
    serving, SURVEY S12); this is the standard Solr boost surface
    re-expressed over our own kernel."""
    cfg = store.get_config()
    if not (0.0 < float(missing)) or not np.isfinite(float(missing)):
        raise ValueError("missing weight must be positive and finite")
    qts = query_terms(query, cfg.tokenizer)
    if not qts:
        return spark.createDataFrame([], "doc_id long, score double")
    docs = store.read(spark, "docs")
    head = (
        docs.select("doc_id", F.expr(boost_fn).cast("double").alias("__w"))
        .limit(max_driver_docs + 1)
        .toPandas()
    )
    if len(head) > max_driver_docs:
        raise ValueError(
            "docs dictionary too large to broadcast the boost map "
            f"(> {max_driver_docs} rows)"
        )
    ids = head["doc_id"].to_numpy(np.int64)
    weights = head["__w"].to_numpy(np.float64)
    present = ~np.isnan(weights)
    if not np.all(np.isfinite(weights[present])) or np.any(
        weights[present] <= 0.0
    ):
        raise ValueError(
            f"boost_fn {boost_fn!r} must evaluate positive and finite "
            "for every document (NULL -> `missing`)"
        )
    ids, weights = ids[present], weights[present]
    order = np.argsort(ids)
    ids, weights = ids[order], weights[order]
    # normalize by the next power of two >= max weight: division and
    # multiplication by 2^n are EXACT in binary floating point, so the
    # returned true scores and the `after` cursor round-trip
    # bit-identically through the normalized kernel space
    w_max = float(max(weights.max() if weights.size else 0.0, float(missing)))
    scale = float(2.0 ** np.ceil(np.log2(w_max))) if w_max > 1.0 else 1.0
    if scale < w_max:  # log2 can round 2^n + 1 ulp down to exactly n
        scale *= 2.0
    spec = ScoreSpec(
        tuple(qts), k, doc_weights=(ids, weights / scale, float(missing) / scale),
        after=(float(after[0]) / scale, after[1]) if after is not None else None,
    )
    scored = _bm25_plan(_cold_sources(spark, store), spec, cfg)
    # undo the normalization so callers see true BM25 x f(doc); the
    # ordering (score desc, doc_id asc) is unchanged by the constant
    return scored.select(
        "doc_id", (F.col("score") * F.lit(scale)).alias("score")
    )


def bm25_topk_synonyms(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    k: int,
    synonyms: dict[str, list[str]],
    after: tuple[float, int] | None = None,
) -> DataFrame:
    """Query-time synonym expansion (Lucene SynonymQuery / Solr
    query-time synonym filter, reference's Solr analysis chain SURVEY
    S12): each analyzed query term plus its synonyms scores as ONE
    pseudo-term — per doc, member tfs are summed before the BM25
    tf-normalization and the idf comes from the group's max df
    (Lucene's SynonymQuery docFreq = max over members). `synonyms`
    maps a query token to its expansion strings; both sides pass
    through the index's analysis chain, so {'fast': ['quick']} matches
    however 'fast'/'quick' stem. A term claimed by two groups stays in
    the first (query order) — a multiset union would double-score it.

    Scale shape: identical to bm25_topk_wand. The group df (max over
    the members present) comes from the same <= |members|-row df
    lookup, and every member row carries it; the kernel merges member
    postings per doc inside the shard (see _score_shard's synonym path) with block-max pruning
    intact (subadditive tf-norm keeps the bounds valid)."""
    cfg = store.get_config()
    # groups form in QUERY ORDER (query_terms sorts+dedups — that would
    # let a later token steal an earlier group's synonym and silently
    # split the group): analyzer-order dedup, first occurrence wins,
    # exactly like a Lucene synonym graph filter
    tok = tokenize_porter if cfg.tokenizer == "porter" else tokenize_simple
    qts = list(dict.fromkeys(tok(query)))
    assigned: dict[str, int] = {}
    for gi, t in enumerate(qts):
        members = [t] + [m for s in synonyms.get(t, ()) for m in tok(s)]
        for m in members:
            assigned.setdefault(m, gi)
    spec = ScoreSpec(tuple(sorted(assigned)), k, syn=assigned, after=after)
    return _bm25_plan(_cold_sources(spark, store), spec, cfg)


def elevated_topk(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    k: int,
    pinned: list[int],
) -> DataFrame:
    """Query elevation (Solr QueryElevationComponent / editorial
    pinning): `pinned` doc ids occupy the first ranks IN THE GIVEN
    ORDER — included whether or not they match the query, flagged
    `elevated` — and organic BM25 results (pinned docs removed) fill
    the remaining slots. Returns (rank, doc_id, score, elevated):
    elevated docs keep their real BM25 score when they match (NULL
    otherwise); organic ranks continue after the elevated block in the
    usual score desc, doc_id asc order. Deleted docs are never
    resurrected by elevation.

    Scale shape: scoring the elevated block reuses the boolean
    kernel's candidate route (ext_cand = the pinned ids — shard
    pruning + block skips, decode bounded by the pinned set); the
    organic tail is one standard block-max WAND job. The final rank
    stitch windows over <= k + |pinned| rows."""
    from pyspark.sql.window import Window

    from tangent_spark.plans.boolean import _boolean_plan

    deleted = load_deleted_ids(spark, store)

    def _is_deleted(d: int) -> bool:
        i = int(np.searchsorted(deleted, d))
        return i < deleted.size and int(deleted[i]) == d

    live = [
        d for d in dict.fromkeys(int(p) for p in pinned) if not _is_deleted(d)
    ]
    organic = bm25_topk_wand(spark, store, query, k + len(live))
    if not live:
        return organic.withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.desc("score"), F.asc("doc_id"))
            ),
        ).select("rank", "doc_id", "score", F.lit(False).alias("elevated")) \
            .filter(F.col("rank") <= k)
    cand = np.array(sorted(live), dtype=np.int64)
    pscores = _boolean_plan(
        spark, store, query, len(live), ext_cand=cand, **_cold_sources(spark, store)
    )
    pin_df = spark.createDataFrame(
        [(i + 1, d) for i, d in enumerate(live)], "rank int, doc_id long"
    )
    head = pin_df.join(pscores.select("doc_id", "score"), "doc_id", "left") \
        .select("rank", "doc_id", "score", F.lit(True).alias("elevated"))
    tail = (
        organic.join(pin_df.select("doc_id"), "doc_id", "left_anti")
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.desc("score"), F.asc("doc_id"))
            )
            + F.lit(len(live)),
        )
        .select("rank", "doc_id", "score", F.lit(False).alias("elevated"))
        .filter(F.col("rank") <= k)
    )
    return head.union(tail).orderBy("rank")


def explain_score(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    doc_ids: list[int],
) -> DataFrame:
    """Per-term BM25 score breakdown for specific docs — the Lucene
    `IndexSearcher.explain` / Solr `debug=results` surface the
    reference exposed through Solr (SURVEY S12). One row per
    (doc_id, query term present in the doc): tf, df, idf, and the
    term's BM25 contribution; sum(contribution) over a doc's rows ==
    the kernel's score for that doc bit-for-bit in formula (same
    float math, declarative JVM-side here).

    Scale shape: the doc-dictionary `terms` table is filtered on BOTH
    doc_id IN (bounded user list) and term IN (query terms) — both
    predicates push to the parquet scan; everything after the scan is
    |docs|x|terms| rows. No kernel, no decode: explain never needs
    the postings."""
    cfg = store.get_config()
    qts = query_terms(query, cfg.tokenizer)
    if not qts or not doc_ids:
        return spark.createDataFrame(
            [], "doc_id long, term string, tf int, df int, idf double, contribution double"
        )
    cs = store.corpus_stats(spark)
    N, avgdl = float(cs["n_docs"]), float(cs["avgdl"]) if cs["avgdl"] else 1.0
    k1, b = cfg.k1, cfg.b
    rows = (
        store.read(spark, "terms")
        .filter(F.col("doc_id").isin([int(d) for d in doc_ids]))
        .filter(F.col("term").isin(qts))
    )
    rows = filter_deleted(rows, load_deleted_ids(spark, store))
    stats = store.read(spark, "term_stats").filter(F.col("term").isin(qts))
    out = (
        rows.join(F.broadcast(stats.select("term", "df")), "term")
        .withColumn("idf", _idf_col(N))
        .withColumn(
            "contribution",
            F.col("idf")
            * F.col("tf")
            * (k1 + 1.0)
            / (
                F.col("tf")
                + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl))
            ),
        )
    )
    return out.select(
        "doc_id", "term", "tf", "df", "idf", "contribution"
    ).orderBy("doc_id", "term")


def _idf_from_g_df(n_docs: int):
    """Kernel-side idf from the rows' global-df column (same formula as
    idf()): the one idf path of every BM25 kernel, cold or warm. A
    per-row `n_docs` column (a fielded clause's field docCount)
    overrides the corpus scalar."""
    N = float(n_docs)

    def add_idf(all_rows: pd.DataFrame) -> pd.DataFrame:
        d = all_rows["g_df"].to_numpy(np.float64)
        n = (
            all_rows["n_docs"].to_numpy(np.float64)
            if "n_docs" in all_rows.columns
            else N
        )
        all_rows["idf"] = np.log(1.0 + (n - d + 0.5) / (d + 0.5))
        return all_rows

    return add_idf


QUERY_TASK_ROWS_DEFAULT = 100_000


def query_task_rows() -> int:
    """The per-task budget of a query, from $TANGENT_QUERY_TASK_ROWS:
    cached rows per warm query task (Searcher.query_tasks), and the
    postings (summed global df of its index terms) a cold query may
    hold and still be scored in one task without a shard shuffle
    (_cold_tasks). A value that is not a positive integer falls back
    to the default (with a warning) instead of failing Searcher
    start-up."""
    raw = os.environ.get("TANGENT_QUERY_TASK_ROWS")
    if raw is None:
        return QUERY_TASK_ROWS_DEFAULT
    try:
        rows = int(raw)
    except ValueError:
        rows = 0
    if rows <= 0:
        warnings.warn(
            f"TANGENT_QUERY_TASK_ROWS={raw!r} is not a positive integer; "
            f"using {QUERY_TASK_ROWS_DEFAULT}"
        )
        return QUERY_TASK_ROWS_DEFAULT
    return rows


class Searcher:
    """Warm query serving over an IndexStore.

    Caches what a long-lived serving cluster would keep resident:
    corpus stats (two scalars, driver-side), a BOUNDED head of the
    term->df dictionary (driver-side dict), and the postings DataFrame
    persisted PRE-PARTITIONED BY SHARD (MEMORY_AND_DISK — Spark keeps
    hot shards in executor memory and spills the rest, so this stays
    valid at 100 TB where the full index exceeds RAM).

    Lexicon scale story: the reference's C++ process holds its whole
    lexicon resident (mathindexbase.h:146-178) — fine at 300k docs,
    a driver OOM at a 100-TB vocabulary (O(10^8-10^9) terms once
    formula pair-tuples join the word terms). So each CACHED POSTINGS
    ROW CARRIES ITS TERM'S GLOBAL df (`g_df`, joined from the current
    term_stats once at warm-up): the scoring kernel derives idf from
    the rows themselves, so a query needs NO df lookup at all — head
    term, tail term, or 100%-tail query, it is always exactly ONE
    Spark job, with no driver lexicon on the scoring path (the
    round-3 review's tail-miss collect is gone). The bounded
    max_lexicon head dict remains only for the boolean planner's
    seed-selection lookup (rarest-must-term choice), where a miss
    costs one <=|must|-row filtered scan of the cluster-side
    term_stats cache. The warm-up join is one postings-by-term
    shuffle — the serving cluster's index-load step, the analog of
    the reference loading its binary index at startup
    (mathindex.cpp:120-157, 5-30 s) — paid once, amortized over
    every query served.

    The warm plan is ONE single-stage Spark job per query: scan of the
    cached shard partitions with the query-term filter -> per-shard
    block-max kernel (idf computed in-kernel from the rows' g_df; no
    join, no shuffle — shard grouping happens inside the partition) ->
    TakeOrderedAndProject of k rows per shard. At cluster scale this is
    one task wave over the shard executors plus a k-row driver merge;
    in local mode it bounds per-query latency by the bare Spark
    job-launch floor (see BENCH.md).

    With store_positions=True (and cache_positions not disabled) the
    positions table is persisted the same shard-partitioned way, so
    warm phrase / snippet / boolean-phrase clauses do zero file I/O."""

    def __init__(
        self,
        spark: SparkSession,
        store: IndexStore,
        max_lexicon: int = 1_000_000,
        cache_positions: bool = True,
    ):
        self.spark = spark
        self.store = store
        self.cfg = store.get_config()
        cs = store.corpus_stats(spark)
        self.n_docs = int(cs["n_docs"])
        self.avgdl = float(cs["avgdl"]) if cs["avgdl"] else 1.0
        # point-in-time tombstone snapshot (Lucene reader semantics):
        # deletes made after warm-up need a new Searcher to be seen
        self.deleted = load_deleted_ids(spark, store)
        self.term_stats = (
            store.read(spark, "term_stats")
            .select("term", "df")
            .persist()
        )
        n_terms = self.term_stats.count()  # materialize the cluster-side cache
        self._full_lexicon = n_terms <= max_lexicon
        if self._full_lexicon:
            head = self.term_stats.collect()
        else:
            head = (
                self.term_stats.orderBy(F.desc("df"), F.asc("term"))
                .limit(max_lexicon)
                .collect()
            )
        self.dfs = {r["term"]: int(r["df"]) for r in head}
        pr = (
            store.read(spark, "postings")
            # one-time warm-up join: every cached row carries the CURRENT
            # global df, making every query self-contained (no lexicon
            # lookup on the scoring path, ever)
            .join(self.term_stats.withColumnRenamed("df", "g_df"), "term")
            .withColumn("kind", F.lit(0).cast("int"))
        )
        self._has_positions = (
            cache_positions
            and self.cfg.store_positions
            and os.path.isdir(store.path("positions"))
        )
        if self._has_positions:
            # ONE combined serving cache: the shard's positions rows
            # (kind=1) live IN THE SAME PARTITION as its postings rows
            # (kind=0), so a boolean query with phrase clauses — and a
            # plain phrase query — completes inside the per-shard kernel
            # with no positional equi-join and no shuffle (round-5,
            # VERDICT r4 #4). Null-padded columns cost ~nothing in the
            # columnar cache.
            po = store.read(spark, "positions").withColumn(
                "kind", F.lit(1).cast("int")
            )
            serving = pr.unionByName(po, allowMissingColumns=True)
        else:
            serving = pr
        self.serving = (
            serving.repartition(self.cfg.n_shards, "shard")
            # term-sorted cached batches: the in-memory scan prunes whole
            # columnar batches by term min/max stats, so the per-query
            # filter touches only the batches holding query terms
            .sortWithinPartitions("term")
            .persist()
        )
        n_serving = self.serving.count()  # materialize the cache
        if self._has_positions:
            # narrow views of the one cache (filter is narrow — both
            # keep the shard partitioning and the columnar batch stats)
            self.postings = self.serving.filter(F.col("kind") == 0).drop(
                "kind", "doc_id", "positions"
            )
            self.positions = self.serving.filter(F.col("kind") == 1).select(
                "shard", "term", "doc_id", "positions"
            )
        else:
            self.postings = self.serving.drop("kind")
            self.positions = None
        # docs dictionary cache, filled lazily by the first filtered()
        self._docs = None
        # Lucene-style filter cache: predicate -> evaluated route
        # (bounded FIFO; valid for this Searcher's point-in-time view)
        self._filter_cache: dict = {}
        # facet (doc_id -> value) maps, cached per metadata column
        self._facet_maps: dict = {}
        # wildcard pattern / fuzzy target -> expanded term list
        # (point-in-time, like the filter cache: terms added after
        # warm-up need a new Searcher to enter an expansion)
        self._wildcard_cache: dict = {}
        self._fuzzy_cache: dict = {}
        # one task wave per query, SIZED TO THE CACHE: shards are merged
        # into at most defaultParallelism scan tasks (the kernel
        # regroups by shard in-partition, so correctness is unaffected),
        # and a small cache is merged further — every extra task costs a
        # fixed launch + Python-worker round trip per query (~10 ms
        # each in local mode), which dominates when the per-task slice
        # is tiny. Rows-per-task is parameterised (env
        # TANGENT_QUERY_TASK_ROWS, see query_task_rows); at production
        # sizes the row count drives this back to one task per shard, so
        # the cluster-scale plan is unchanged.
        self.query_tasks = min(
            self.cfg.n_shards,
            spark.sparkContext.defaultParallelism,
            max(2, math.ceil(n_serving / query_task_rows())),
        )
        # batches amortize the per-task launch cost across every query
        # in the batch and their kernel work is CPU-bound (one decode +
        # score pass PER QUERY per shard group), so they keep the full
        # task wave — merging a batch onto 2 tasks serializes 42
        # queries' compute (measured 0.9 s -> 2.4 s on the 42-query
        # bench batch before this split)
        self.batch_tasks = min(
            self.cfg.n_shards, spark.sparkContext.defaultParallelism
        )

    def _resolve_dfs(self, terms: Sequence[str]) -> dict[str, int]:
        """term -> df for the terms that exist in the index — used ONLY
        by the boolean planner's seed selection (scoring reads idf off
        the cached rows' g_df and needs no lookup). Head terms answer
        from the driver dict (no job); with a bounded lexicon, tail
        misses are resolved by ONE filtered scan of the persisted
        term_stats (columnar batch pruning; <= len(terms) rows return).
        A term absent from both has no postings and is dropped."""
        out = {t: self.dfs[t] for t in terms if t in self.dfs}
        if not self._full_lexicon:
            misses = [t for t in terms if t not in out]
            if misses:
                for r in self.term_stats.filter(F.col("term").isin(misses)).collect():
                    out[r["term"]] = int(r["df"])
        return out

    def _warm_sources(self) -> dict:
        """The warm source of _bm25_plan and _boolean_plan (the cached
        counterpart of _cold_sources): the shard-partitioned serving
        cache, its point-in-time corpus stats and tombstones, the
        resident lexicon lookup and the query task wave."""
        return dict(
            postings=self.postings,
            n_docs=self.n_docs,
            avgdl=self.avgdl,
            deleted=self.deleted,
            positions=self.positions,
            df_lookup=self._resolve_dfs,
            shard_partitioned=True,
            serving=self.serving if self._has_positions else None,
            tasks=self.query_tasks,
        )

    def topk(
        self, query: str, k: int, with_metrics: bool = False, decode_counter=None,
        terms: list[str] | None = None, after: tuple[float, int] | None = None,
    ) -> DataFrame:
        """Warm BM25 top-k. `terms` bypasses tokenization with an
        already-tokenized sorted term list (the wildcard, regexp and
        fuzzy expansions feed vocabulary terms here — re-stemming them
        could alter them, Porter is not idempotent on every stem).

        `after=(score, doc_id)` pages past a previous result's last row
        (Lucene IndexSearcher.searchAfter / Solr cursorMark): the next k
        docs strictly after the cursor in (score desc, doc_id asc)
        order. Every page is the same ONE single-stage job moving <= k
        rows per shard — deep page N costs what page 1 costs, the only
        paging discipline that survives 10^12 docs (OFFSET would move
        N*k rows per shard and re-rank them globally).

        Lucene term-boost syntax (`matrix^2.5`) is honored on parsed
        queries (not on a pre-tokenized `terms` list): the boost scales
        the term's idf inside the kernel, before the block-max bounds,
        so pruning stays exact."""
        boosts = {}
        if terms is not None:
            qts = terms
        else:
            qts, boosts = split_term_boosts(query, self.cfg.tokenizer)
        spec = ScoreSpec(
            tuple(qts), k, boosts=boosts, after=after, with_metrics=with_metrics
        )
        return _bm25_plan(self._warm_sources(), spec, self.cfg, decode_counter)

    def topk_batch(
        self, queries: dict[str, str], k: int, decode_counter=None
    ) -> DataFrame:
        """Serve a whole query BATCH in one single-stage job:
        (query_id, doc_id, score, rank). The per-query Spark job floor
        (~0.2-0.6 s in local mode, one task wave at cluster scale) is
        paid ONCE for the batch, so throughput scales with batch size —
        the shape the reference's own evaluation uses (40 NTCIR queries
        per run). Per (shard, query) the same block-max kernel runs
        with ONE decode cache per shard group (keyed by stable run row
        id + block idx), so a block touched by several queries of the
        batch is decoded exactly once. `decode_counter` may be a Spark
        accumulator; it receives the total number of blocks actually
        decoded (tested + benched: batch decodes < sum of the same
        queries run singly whenever terms overlap)."""
        for qid, q in queries.items():
            if any(_TERM_BOOST.match(tok) for tok in q.split()):
                # the shared decode cache stores idf-baked contributions
                # keyed by (row, block) — per-query boosts would poison
                # it across queries; reject instead of mis-scoring
                raise ValueError(
                    f"term boosts are not supported in batch queries ({qid!r})"
                )
        qterms = {
            str(qid): qts
            for qid, q in queries.items()
            if (qts := query_terms(q, self.cfg.tokenizer))
        }
        if not qterms:
            return self.spark.createDataFrame(
                [], "query_id string, doc_id long, score double, rank int"
            )
        all_terms = sorted({t for qts in qterms.values() for t in qts})
        kern = _spec_kernel(
            self._warm_sources(), ScoreSpec(tuple(all_terms), k), self.cfg,
            decode_counter,
        )

        def per_shard(grp: pd.DataFrame) -> pd.DataFrame:
            grp["_rid"] = np.arange(len(grp), dtype=np.int64)
            shared_cache: dict = {}
            outs = []
            for qid, qts in qterms.items():
                sub = grp[grp["term"].isin(qts)]
                if not len(sub):
                    continue
                out = kern(sub.reset_index(drop=True), cache=shared_cache)
                if len(out):
                    out = out[["doc_id", "score"]].copy()
                    out.insert(0, "query_id", qid)
                    outs.append(out)
            return pd.concat(outs, ignore_index=True) if outs else pd.DataFrame()

        local = _boolean_rows(
            self.postings, all_terms, per_shard, True,
            schema="query_id string, doc_id long, score double",
            tasks=self.batch_tasks,
        )
        from pyspark.sql import Window

        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            local.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "doc_id", "score", "rank")
        )

    def boolean(
        self, query: str, k: int, decode_counter=None, min_should_match=0,
        unordered_phrases: bool = False,
    ) -> DataFrame:
        """Warm boolean serving (`bare +must -not "phrase"`): the same
        plan as plans.boolean.boolean_topk, but postings, term_stats,
        and positions come from this Searcher's cached shard
        partitions — zero file I/O per query — and the rarest-must-term
        seed lookup answers from the resident head lexicon.
        `min_should_match` takes any Solr mm spec (boolean.resolve_mm)
        and is enforced inside the same one-job kernel;
        `unordered_phrases` switches phrase clauses to Lucene sloppy
        (reorder-tolerant) matching."""
        from tangent_spark.plans.boolean import _boolean_plan

        return _boolean_plan(
            self.spark,
            self.store,
            query,
            k,
            decode_counter=decode_counter,
            min_should_match=min_should_match,
            unordered_phrases=unordered_phrases,
            **self._warm_sources(),
        )

    def wildcard(
        self,
        query: str,
        k: int,
        max_expansions: int = 1024,
        decode_counter=None,
        after: tuple[float, int] | None = None,
    ) -> DataFrame:
        """Warm wildcard BM25 top-k (plans.wildcard — Lucene
        MultiTermQuery, top-terms scoring-boolean rewrite): each
        `te*t`/`?uery` token expands against the persisted term_stats
        cache (one bounded in-memory job per NEW pattern; repeats hit
        the expansion cache), then the expanded disjunction serves
        through the standard ONE-job warm kernel. Leading-wildcard
        patterns route their expansion to the store's reversed term
        dictionary (prefix pushdown on reverse(term) — Solr
        ReversedWildcardFilter) instead of scanning the cached
        vocabulary; repeats hit the expansion cache either way."""
        from tangent_spark.plans.wildcard import load_rev_terms, wildcard_terms

        qts = wildcard_terms(
            self.term_stats,
            query,
            self.cfg.tokenizer,
            max_expansions,
            expansion_cache=self._wildcard_cache,
            term_stats_rev=load_rev_terms(self.spark, self.store),
        )
        if not qts:
            return self.spark.createDataFrame([], "doc_id long, score double")
        return self.topk(
            "", k, decode_counter=decode_counter, terms=qts, after=after
        )

    def regexp(
        self,
        query: str,
        k: int,
        max_expansions: int = 1024,
        decode_counter=None,
        after: tuple[float, int] | None = None,
    ) -> DataFrame:
        """Warm regexp BM25 top-k (plans.wildcard — Lucene RegexpQuery,
        `/pattern/` tokens matched anchored against the vocabulary,
        top-terms scoring-boolean rewrite). Expansions share the
        wildcard cache under namespaced keys."""
        from tangent_spark.plans.wildcard import regexp_terms

        qts = regexp_terms(
            self.term_stats,
            query,
            self.cfg.tokenizer,
            max_expansions,
            expansion_cache=self._wildcard_cache,
        )
        if not qts:
            return self.spark.createDataFrame([], "doc_id long, score double")
        return self.topk(
            "", k, decode_counter=decode_counter, terms=qts, after=after
        )

    def fuzzy(
        self,
        query: str,
        k: int,
        max_expansions: int = 50,
        prefix_length: int = 0,
        transpositions: bool = False,
        decode_counter=None,
        after: tuple[float, int] | None = None,
    ) -> DataFrame:
        """Warm fuzzy BM25 top-k (plans.fuzzy — Lucene FuzzyQuery,
        scoring-boolean rewrite): each `term~`/`term~N` token expands
        to the vocabulary terms within N edits against the persisted
        term_stats cache (one bounded in-memory job per NEW target;
        repeats hit the expansion cache), then the expanded disjunction
        plus the query's literal terms serves through the standard
        ONE-job warm kernel."""
        from tangent_spark.plans.fuzzy import fuzzy_terms

        qts = fuzzy_terms(
            self.term_stats,
            query,
            self.cfg.tokenizer,
            max_expansions,
            prefix_length,
            transpositions,
            expansion_cache=self._fuzzy_cache,
        )
        if not qts:
            return self.spark.createDataFrame([], "doc_id long, score double")
        return self.topk(
            "", k, decode_counter=decode_counter, terms=qts, after=after
        )

    def suggest(self, prefix: str, k: int = 10) -> DataFrame:
        """Warm prefix completion: the cold suggest_terms plan (last
        token of the input, df desc) off the persisted term_stats
        cache — an in-memory columnar scan, no file I/O."""
        from tangent_spark.plans.suggest import suggest_plan, suggest_token

        tok = suggest_token(prefix, self.cfg.tokenizer)
        if tok is None:
            return self.spark.createDataFrame([], "term string, df int")
        return suggest_plan(self.term_stats, tok, k)

    def did_you_mean(self, term: str, k: int = 5, max_edits: int = 1) -> DataFrame:
        """Warm spelling correction: the cold did_you_mean plan
        (Levenshtein <= max_edits over the vocabulary, closest-then-
        most-popular) off the persisted term_stats cache."""
        from tangent_spark.plans.suggest import dym_plan, suggest_token

        tok = suggest_token(term, self.cfg.tokenizer)
        if tok is None:
            return self.spark.createDataFrame([], "term string, df int, dist int")
        return dym_plan(self.term_stats, tok, k, max_edits)

    def more_like_this(
        self, doc_id: int, k: int = 10, max_terms: int = 10
    ) -> DataFrame:
        """Warm Lucene-style MLT: BM25 over the source doc's top tf*idf
        terms, source masked in-kernel like a tombstone — rank-identical
        to the cold plans.suggest.more_like_this.
        Term selection uses this Searcher's POINT-IN-TIME snapshot
        (cached df lexicon + n_docs) so selection idf and scoring idf
        agree even after later appends; the only file I/O is the
        doc-pruned read of ONE doc's rows from the terms table
        (bounded by a single document's length). Scoring is one warm
        single-stage job."""
        rows = (
            self.store.read(self.spark, "terms")
            .filter(F.col("doc_id") == int(doc_id))
            .select("term", "tf")
            .collect()
        )
        if not rows:
            return self.spark.createDataFrame([], "doc_id long, score double")
        dfs = self._resolve_dfs(sorted({r["term"] for r in rows}))
        scored = sorted(
            (
                (float(r["tf"]) * idf(self.n_docs, dfs[r["term"]]), r["term"])
                for r in rows
                if r["term"] in dfs
            ),
            key=lambda x: (-x[0], x[1]),
        )
        qts = sorted(t for _, t in scored[:max_terms])
        spec = ScoreSpec(tuple(qts), k, exclude=(int(doc_id),))
        return _bm25_plan(self._warm_sources(), spec, self.cfg)

    def _route_filter_cached(self, where: str, max_driver_candidates: int):
        """Evaluate (or recall) a metadata predicate's candidate route —
        the Lucene filter-cache discipline: a repeated `where` costs
        ZERO jobs, the query runs straight on the remembered candidate
        set. Bounded FIFO; entries are valid for this Searcher's
        point-in-time view of the docs dictionary (which is cached
        cluster-side on first use)."""
        from tangent_spark.plans.boolean import _route_filter

        key = (where, max_driver_candidates)
        hit = self._filter_cache.get(key)
        if hit is None:
            if self._docs is None:
                self._docs = self.store.read(self.spark, "docs").persist()
            hit = _route_filter(self.spark, self._docs, where, max_driver_candidates)
            if len(self._filter_cache) >= 64:
                self._filter_cache.pop(next(iter(self._filter_cache)))
            self._filter_cache[key] = hit
        return hit

    def filtered(
        self,
        query: str,
        k: int,
        where: str,
        decode_counter=None,
        max_driver_candidates: int = 1_000_000,
        min_should_match=0,
        unordered_phrases: bool = False,
    ) -> DataFrame:
        """Warm metadata-filtered serving: boolean/BM25 top-k restricted
        to docs matching a SQL predicate over the docs dictionary
        (IndexConfig.meta_cols). Same semantics and routing as
        plans.boolean.filtered_topk (Lucene filter semantics — scores
        keep corpus-level stats); the docs dictionary is cached
        shard-agnostically on first use and the evaluated predicate is
        filter-cached, so a repeated filtered query is ONE job like
        plain warm serving."""
        from tangent_spark.plans.boolean import (
            _OUT_SCHEMA,
            _boolean_plan,
        )

        route, ids, cand_df = self._route_filter_cached(
            where, max_driver_candidates
        )
        if route == "empty":
            return self.spark.createDataFrame([], _OUT_SCHEMA)
        return _boolean_plan(
            self.spark,
            self.store,
            query,
            k,
            decode_counter=decode_counter,
            ext_cand=ids,
            cand_df=cand_df,
            min_should_match=min_should_match,
            unordered_phrases=unordered_phrases,
            **self._warm_sources(),
        )

    def facets(
        self,
        query: str,
        by: str,
        where: str | None = None,
        decode_counter=None,
        max_driver_candidates: int = 1_000_000,
        max_driver_docs: int = 1_000_000,
        rows_counter=None,
        min_should_match=0,
    ) -> DataFrame:
        """Warm facet counts: hit count per value of metadata column
        `by` for the boolean query's match set — same semantics and
        routing as plans.boolean.facet_counts, served off the cached
        postings and the cached docs dictionary. The (doc_id -> value)
        facet map is cached per column (like the filter cache), so a
        repeated facet costs zero dictionary jobs and moves only
        (value, count) partials out of the kernel; phrase clauses stay
        on the kernel route here because the serving cache co-locates
        positions."""
        from tangent_spark.plans.boolean import facet_empty

        out = self._facet_spine(
            query, None, by, (by,), where, decode_counter,
            max_driver_candidates, max_driver_docs, rows_counter,
            min_should_match,
        )
        return facet_empty(self._warm_docs(), by) if out is None else out

    def _warm_docs(self) -> DataFrame:
        if self._docs is None:
            self._docs = self.store.read(self.spark, "docs").persist()
        return self._docs

    def _facet_spine(
        self,
        query: str,
        vdocs,
        by: str,
        map_key: tuple,
        where,
        decode_counter,
        max_driver_candidates: int,
        max_driver_docs: int,
        rows_counter,
        min_should_match,
        mode: str = "counts",
    ):
        """Warm twin of plans.boolean._facet_values, served off the
        cached postings/positions and the per-key facet-map cache.
        `vdocs=None` facets the docs dictionary column `by` directly;
        a derived (doc_id, <by>) frame (range buckets, pivot pairs,
        stats values) otherwise. Returns None for a provably-empty
        match set — callers shape their own empty frame."""
        from tangent_spark.plans.boolean import (
            _boolean_plan,
            _facet_map,
            _stats_finish,
            _stats_per_doc,
            facet_aggregate,
            parse_boolean_query,
            resolve_mm,
        )

        docs = self._warm_docs()
        if vdocs is None:
            vdocs = docs.select("doc_id", by)
        ids, cand_df = None, None
        if where is not None:
            route, ids, cand_df = self._route_filter_cached(
                where, max_driver_candidates
            )
            if route == "empty":
                return None
        q = parse_boolean_query(query, self.cfg)
        if resolve_mm(min_should_match, len(set(q.should))) > len(set(q.should)):
            return None  # mm above the should count
        has_phrases = bool(q.phrases or q.not_phrases)
        facet = None
        if cand_df is None and (not has_phrases or self._has_positions):
            key = (*map_key, max_driver_docs)
            if key not in self._facet_maps:
                self._facet_maps[key] = _facet_map(vdocs, by, max_driver_docs)
            fmap = self._facet_maps[key]
            if fmap is not None:
                facet = (vdocs.schema[by], fmap[0], fmap[1], rows_counter, mode)
        matches = _boolean_plan(
            self.spark,
            self.store,
            query,
            0,
            decode_counter=decode_counter,
            ext_cand=ids,
            cand_df=cand_df,
            return_matches=True,
            facet=facet,
            min_should_match=min_should_match,
            **self._warm_sources(),
        )
        if facet is not None:
            return matches
        if mode == "stats":
            return _stats_finish(_stats_per_doc(matches, vdocs, by))
        return facet_aggregate(matches, vdocs, by)

    def facet_range(
        self,
        query: str,
        by: str,
        start: float,
        end: float,
        gap: float,
        where: str | None = None,
        decode_counter=None,
        max_driver_candidates: int = 1_000_000,
        max_driver_docs: int = 1_000_000,
        rows_counter=None,
        min_should_match=0,
    ) -> DataFrame:
        """Warm numeric range facet — same contract as
        plans.boolean.facet_range (zero-filled half-open buckets in
        range order), served off the cached postings; the bucket map is
        cached per (column, start, end, gap) like the filter cache."""
        from tangent_spark.plans.boolean import (
            _range_args,
            range_bucket_vdocs,
            range_shape,
        )

        s, e, g = _range_args(start, end, gap)
        vdocs = range_bucket_vdocs(self._warm_docs(), by, s, e, g)
        counts = self._facet_spine(
            query, vdocs, "bucket", ("range", by, s, e, g), where,
            decode_counter, max_driver_candidates, max_driver_docs,
            rows_counter, min_should_match,
        )
        return range_shape(self.spark, counts, s, e, g)

    def facet_date_histogram(
        self,
        query: str,
        by: str,
        start,
        end,
        interval_s: float,
        where: str | None = None,
        **kwargs,
    ) -> DataFrame:
        """Warm date histogram (ES date_histogram fixed_interval) over
        a TIMESTAMP metadata column — facet_range on the epoch axis
        with timestamp bucket labels; same contract as
        plans.boolean.facet_date_histogram, bucket map cached per
        (column, start, end, interval)."""
        from tangent_spark.plans.boolean import (
            _epoch_seconds,
            date_histogram_shape,
        )

        return date_histogram_shape(
            self.facet_range(
                query, by, _epoch_seconds(start), _epoch_seconds(end),
                float(interval_s), where, **kwargs,
            )
        )

    def facet_stats(
        self,
        query: str,
        by: str,
        where: str | None = None,
        decode_counter=None,
        max_driver_candidates: int = 1_000_000,
        max_driver_docs: int = 1_000_000,
        rows_counter=None,
        min_should_match=0,
    ) -> DataFrame:
        """Warm stats facet — same one-row moment contract as
        plans.boolean.facet_stats, one moment partial per shard on the
        kernel route."""
        from tangent_spark.plans.boolean import (
            _STATS_COLS,
            _stats_finish,
        )

        vdocs = self._warm_docs().select(
            "doc_id", F.col(by).cast("double").alias("val")
        )
        out = self._facet_spine(
            query, vdocs, "val", ("stats", by), where, decode_counter,
            max_driver_candidates, max_driver_docs, rows_counter,
            min_should_match, mode="stats",
        )
        if out is None:
            return _stats_finish(self.spark.createDataFrame([], _STATS_COLS))
        return out

    def facet_pivot(
        self,
        query: str,
        by: tuple[str, str],
        where: str | None = None,
        decode_counter=None,
        max_driver_candidates: int = 1_000_000,
        max_driver_docs: int = 1_000_000,
        rows_counter=None,
        min_should_match=0,
    ) -> DataFrame:
        """Warm two-level pivot facet — same flattened (parent, child,
        n_docs) contract as plans.boolean.facet_pivot."""
        from tangent_spark.plans.boolean import pivot_shape, pivot_vdocs

        c1, c2 = by
        docs = self._warm_docs()
        counts = self._facet_spine(
            query, pivot_vdocs(docs, c1, c2), "pv", ("pivot", c1, c2),
            where, decode_counter, max_driver_candidates, max_driver_docs,
            rows_counter, min_should_match,
        )
        return pivot_shape(docs, counts, c1, c2)

    def facet_percentiles(
        self,
        query: str,
        by: str,
        percentiles=(0.25, 0.5, 0.75, 0.95),
        where: str | None = None,
        decode_counter=None,
        max_driver_candidates: int = 1_000_000,
        max_driver_docs: int = 1_000_000,
        rows_counter=None,
        min_should_match=0,
    ) -> DataFrame:
        """Warm exact percentiles facet — same (pct, val) contract as
        plans.boolean.facet_percentiles(exact=True): the kernel's
        (value, count) histogram (rows ∝ distinct values) feeds the
        shared percentile_cont finisher."""
        from tangent_spark.plans.boolean import percentiles_from_hist

        vdocs = self._warm_docs().select(
            "doc_id", F.col(by).cast("double").alias("val")
        )
        hist = self._facet_spine(
            query, vdocs, "val", ("pcts", by), where, decode_counter,
            max_driver_candidates, max_driver_docs, rows_counter,
            min_should_match,
        )
        if hist is None:
            return self.spark.createDataFrame([], "pct double, val double")
        return percentiles_from_hist(hist, percentiles)

    def facet_cardinality(
        self,
        query: str,
        by: str,
        where: str | None = None,
        decode_counter=None,
        max_driver_candidates: int = 1_000_000,
        max_driver_docs: int = 1_000_000,
        rows_counter=None,
        min_should_match=0,
    ) -> DataFrame:
        """Warm exact cardinality facet — same one-row (n_distinct)
        contract as plans.boolean.facet_cardinality(exact=True)."""
        hist = self._facet_spine(
            query, None, by, ("card", by), where, decode_counter,
            max_driver_candidates, max_driver_docs, rows_counter,
            min_should_match,
        )
        if hist is None:
            return self.spark.createDataFrame([(0,)], "n_distinct long")
        return hist.filter(F.col(by).isNotNull()).agg(
            F.count("*").cast("long").alias("n_distinct")
        )

    def _warm_positions(self) -> DataFrame:
        if self.positions is not None:
            return self.positions
        if not self.cfg.store_positions:
            raise ValueError(
                "index was built without positions (IndexConfig.store_positions)"
            )
        return self.store.read(self.spark, "positions")

    def rescore(
        self,
        query: str,
        k: int,
        window: int = 100,
        weight: float = 1.0,
        slop: int = 0,
        in_order: bool = True,
        phrase: str | None = None,
        decode_counter=None,
    ) -> DataFrame:
        """Warm phrase rescoring (Lucene QueryRescorer / ES rescore —
        the edismax `pf` effect, plans/rescore.py): the base
        top-`window` comes from the warm ONE-job kernel, then the
        bounded phrase pass adds weight x phrase_bm25 over just those
        docs and re-sorts. The rescore pass reads the positions parquet
        with the window's doc ids pushed down (it is bounded by the
        window either way); the base window is where the corpus-scale
        work happens, and that stays the warm kernel."""
        from tangent_spark.plans.phrase import _phrase_terms
        from tangent_spark.plans.rescore import apply_phrase_rescore

        if weight < 0:
            raise ValueError("rescore weight must be >= 0")
        if window <= 0:
            raise ValueError("rescore window must be positive")
        if not self.cfg.store_positions:
            raise ValueError(
                "index was built without positions (IndexConfig.store_positions)"
            )
        window = max(int(window), int(k))
        base_rows = self.topk(
            query, window, decode_counter=decode_counter
        ).collect()
        p_terms = _phrase_terms(
            phrase if phrase is not None else query, self.cfg.tokenizer
        )
        return apply_phrase_rescore(
            self.spark, self.store, base_rows, k, weight, slop, in_order, p_terms
        )

    def phrase(
        self, phrase: str, k: int, slop: int = 0, in_order: bool = True
    ) -> DataFrame:
        """Warm phrase top-k (phrase_tf desc, doc_id asc) — with cached
        positions this is ONE single-stage job: the positions rows are
        shard-partitioned in the serving cache, so the whole positional
        intersection runs inside a per-shard kernel (numpy twin of the
        declarative fold — plans.phrase.phrase_docs_np) with no doc_id
        equi-join chain and no shuffle, exactly the warm WAND shape
        (round-5, VERDICT r4 #4). Without cached positions it falls
        back to the declarative fold off the parquet table. slop>0
        gives proximity semantics (`"a b"~slop`); in_order=False
        switches to Lucene sloppy/unordered matching (reordered terms
        count — plans.phrase._unordered_tf)."""
        from tangent_spark.plans.phrase import (
            _phrase_terms,
            phrase_docs_np,
            phrase_match_positions,
        )

        terms = _phrase_terms(phrase, self.cfg.tokenizer)
        if not terms:
            return self.spark.createDataFrame([], "doc_id long, phrase_tf int")
        if self.positions is None:
            return (
                filter_deleted(
                    phrase_match_positions(
                        self._warm_positions(), terms, slop, in_order=in_order
                    ),
                    self.deleted,
                )
                .orderBy(F.desc("phrase_tf"), F.asc("doc_id"))
                .limit(k)
            )
        deleted = self.deleted
        p_slop = int(slop)
        p_order = bool(in_order)
        p_terms = list(terms)

        def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            rows = [pdf for pdf in batches if len(pdf)]
            if not rows:
                return
            allp = pd.concat(rows, ignore_index=True)
            for _, grp in allp.groupby("shard", sort=False):
                ids, tfs = phrase_docs_np(grp, p_terms, p_slop, in_order=p_order)
                dm = _deleted_mask(ids, deleted)
                if dm is not None:
                    ids, tfs = ids[dm], tfs[dm]
                if ids.size:
                    yield pd.DataFrame(
                        {"doc_id": ids, "phrase_tf": tfs.astype(np.int32)}
                    )

        local = (
            self.positions.filter(F.col("term").isin(sorted(set(p_terms))))
            .coalesce(self.query_tasks)
            .mapInPandas(kernel, schema="doc_id long, phrase_tf int")
        )
        return local.orderBy(F.desc("phrase_tf"), F.asc("doc_id")).limit(k)

    def snippets(self, query: str, k: int) -> DataFrame:
        """Warm BM25 top-k + best highlight window per hit:
        (doc_id, score, win_start, win_end, n_terms_covered). The <=k
        top rows are materialized once (bounded collect) so the topk
        kernel doesn't run twice — once as the window candidate set and
        once as the join side."""
        from tangent_spark.plans.phrase import highlight_windows

        qts = query_terms(query, self.cfg.tokenizer)
        top_rows = self.topk(query, k).collect()
        top = self.spark.createDataFrame(top_rows, "doc_id long, score double")
        wins = highlight_windows(self._warm_positions(), qts, candidates=top)
        return top.join(wins, "doc_id", "left").orderBy(
            F.desc("score"), F.asc("doc_id")
        )

    def highlights(
        self,
        query: str,
        k: int,
        docs_text: DataFrame,
        pre: str = "<em>",
        post: str = "</em>",
        context: int = 0,
    ) -> DataFrame:
        """Warm BM25 top-k rendered as marked-up snippets (Solr
        highlighter, hl.simple.pre/post): snippets() for the windows,
        plans.phrase.snippet_render for the text slicing/wrapping.
        `docs_text` supplies (doc_id, text) — field storage lives
        outside the index. Returns (doc_id, score, snippet)."""
        from tangent_spark.plans.phrase import snippet_render

        return snippet_render(
            self.snippets(query, k), docs_text, query, self.cfg.tokenizer,
            pre=pre, post=post, context=context,
        )

    def close(self) -> None:
        self.serving.unpersist()
        self.term_stats.unpersist()
        if self._docs is not None:
            self._docs.unpersist()


def bm25_topk_index_full(
    spark: SparkSession, store: IndexStore, query: str, k: int
) -> DataFrame:
    """Pruning-free scorer over the same index (decodes every block) —
    the cross-check twin for bm25_topk_wand in tests."""
    cfg = store.get_config()
    qts = query_terms(query, cfg.tokenizer)
    if not qts:
        return spark.createDataFrame([], "doc_id long, score double")
    cs = store.corpus_stats(spark)
    N, avgdl = int(cs["n_docs"]), float(cs["avgdl"]) if cs["avgdl"] else 1.0
    k1, b = cfg.k1, cfg.b

    deleted = load_deleted_ids(spark, store)

    def decode_all(batches):
        from tangent_spark.codec import decode_posting_list

        for pdf in batches:
            out_docs, out_scores = [], []
            for _, row in pdf.iterrows():
                ids, tfs, dls = decode_posting_list(
                    row["docs_blob"], row["tfs_blob"], row["dls_blob"],
                    np.asarray(row["d_cuts"]), np.asarray(row["t_cuts"]),
                    np.asarray(row["l_cuts"]), row["counts"],
                )
                dm = _deleted_mask(ids.astype(np.int64), deleted)
                if dm is not None:
                    ids, tfs, dls = ids[dm], tfs[dm], dls[dm]
                out_docs.append(ids)
                out_scores.append(
                    float(row["idf"]) * bm25_tf_norm(tfs, dls, avgdl, k1, b)
                )
            if out_docs:
                yield pd.DataFrame(
                    {"doc_id": np.concatenate(out_docs), "part": np.concatenate(out_scores)}
                )

    qstats = (
        store.read(spark, "term_stats")
        .filter(F.col("term").isin(qts))
        .select(
            "term",
            F.log(
                F.lit(1.0) + (F.lit(float(N)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ).alias("idf"),
        )
    )
    postings = (
        store.read(spark, "postings")
        .filter(F.col("term").isin(qts))
        .join(F.broadcast(qstats), "term")
    )
    parts = postings.mapInPandas(decode_all, schema="doc_id long, part double")
    return (
        parts.groupBy("doc_id")
        .agg(F.sum("part").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
