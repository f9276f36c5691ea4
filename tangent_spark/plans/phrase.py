"""Phrase / proximity queries over the positional 'positions' table.

The reference served phrase-capable text search by keeping stemmed-term
positions in Solr term vectors (reference text/TextResult.py:29-52 pulls
them back per hit); we store them as a first-class doc-sharded parquet
table (plans/indexer.py 'positions' stage, behind
IndexConfig.store_positions) and match phrases with a fully declarative
fold — no Python in the hot path:

    acc_0 = positions(term_0)
    acc_i = array_intersect(transform(acc_{i-1}, p -> p+1), positions(term_i))

After the fold, acc holds the positions of the phrase's LAST token for
every complete occurrence; size(acc) is the per-doc phrase tf.

Scale shape: each step is an equi-join on doc_id between two scans that
are FILTERED TO ONE TERM each — pushed to parquet row groups (the table
is term-major sorted within files). Only docs containing every phrase
term survive past their join, so the join inputs shrink monotonically.
At 100 TB this is the standard positional-intersection plan: data moved
is proportional to the phrase terms' postings, never the corpus.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tangent_spark.sources.store import IndexStore


def _distinct_picks(options: list) -> bool:
    """True if a system of distinct representatives exists — one value
    per option list, all distinct (Hall check by backtracking; option
    lists here are repeated-term slot windows, never more than a few
    entries)."""
    order = sorted(range(len(options)), key=lambda i: len(options[i]))
    used: set = set()

    def bt(i: int) -> bool:
        if i == len(order):
            return True
        for v in options[order[i]]:
            if v not in used:
                used.add(v)
                if bt(i + 1):
                    return True
                used.discard(v)
        return False

    return bt(0)


def _unordered_tf(plists: list, slop: int, term_keys) -> int:
    """Lucene sloppy-phrase matching (SloppyPhraseMatcher criterion):
    with adjusted positions a_i = p_i - slot_i, a configuration matches
    iff max(a_i) - min(a_i) <= slop — so `b a` matches `"a b"~2` (the
    adjusted spread of the transposition is 2), exactly Lucene's
    documented example. Slots sharing a term must pick DISTINCT
    underlying positions (the Lucene repeats discipline). phrase_tf
    keeps this module's convention: distinct completion positions of
    the LAST query slot that participate in any valid configuration.

    Per completion position the window anchor L ranges over slop+1
    values and each slot costs one searchsorted — slops are single
    digits in practice, so the per-doc work stays proportional to the
    last term's tf."""
    k = len(plists)
    adj = [np.asarray(p, dtype=np.int64) - i for i, p in enumerate(plists)]
    groups: dict = {}
    if term_keys is not None:
        by_term: dict = {}
        for i, t in enumerate(term_keys):
            by_term.setdefault(t, []).append(i)
        groups = {t: s for t, s in by_term.items() if len(s) > 1}
    count = 0
    for p in adj[-1]:
        p = int(p)
        matched = False
        for L in range(p - slop, p + 1):
            hi = L + slop
            feasible = True
            for i in range(k - 1):
                a = adj[i]
                j = int(np.searchsorted(a, L, side="left"))
                if j >= a.size or a[j] > hi:
                    feasible = False
                    break
            if not feasible:
                continue
            if groups:
                ok = True
                for slots in groups.values():
                    options = []
                    for i in slots:
                        if i == k - 1:
                            options.append([p + (k - 1)])
                            continue
                        a = adj[i]
                        lo = int(np.searchsorted(a, L, side="left"))
                        hj = int(np.searchsorted(a, hi, side="right"))
                        options.append([int(v) + i for v in a[lo:hj]])
                    if not _distinct_picks(options):
                        ok = False
                        break
                if not ok:
                    continue
            matched = True
            break
        if matched:
            count += 1
    return count


def phrase_tf_np(
    plists: list[np.ndarray], slop: int, in_order: bool = True, term_keys=None
) -> int:
    """Per-doc phrase tf over one document's per-term position arrays
    (sorted ascending, distinct — token offsets), numpy twin of the
    declarative fold in phrase_match_positions: number of DISTINCT
    completion positions of the last term reachable by an in-order
    chain with total slack <= slop.

    in_order=False switches to Lucene sloppy-phrase semantics (see
    _unordered_tf — reordered terms match within the adjusted-position
    window; `term_keys` identifies repeated-term slots that must pick
    distinct positions). At slop=0 both modes are the exact consecutive
    phrase, matching Lucene.

    slop>0 (in-order) keeps (completion pos, min slack) partials exactly
    like the JVM fold's min-slack dedup: extending a fixed completion x
    from the partial maximizing (pos - slack) yields x's minimal slack,
    so a running max of (P - S) replaces the all-pairs expansion."""
    if not in_order and slop > 0:
        return _unordered_tf(plists, int(slop), term_keys)
    acc = plists[0]
    if slop == 0:
        for p in plists[1:]:
            acc = np.intersect1d(acc + 1, p)
            if not acc.size:
                return 0
        return int(acc.size)
    P, S = acc, np.zeros(acc.size, dtype=np.int64)
    for p in plists[1:]:
        best = np.maximum.accumulate(P - S)
        idx = np.searchsorted(P, p, side="left") - 1  # last pos STRICTLY < x
        slack = np.where(idx >= 0, p - 1 - best[np.maximum(idx, 0)], slop + 1)
        keep = slack <= slop
        P, S = p[keep], slack[keep]
        if not P.size:
            return 0
    return int(P.size)


def phrase_docs_np(pos_pdf, phrase_terms: list[str], slop: int, in_order: bool = True):
    """(sorted doc_ids, phrase_tfs) of the docs matching the phrase,
    from ONE shard's positions rows (pandas frame with doc_id/term/
    positions columns) — the in-kernel twin of phrase_match_positions
    used by the warm serving kernels (Searcher.phrase, warm boolean
    phrase clauses): the positions cache is shard-partitioned next to
    the postings, so the whole match runs inside the per-shard task
    with no doc_id equi-join chain (round-5, VERDICT r4 #4)."""
    z = np.zeros(0, dtype=np.int64)
    if pos_pdf is None or not len(pos_pdf):
        return z, z
    uniq = list(dict.fromkeys(phrase_terms))
    maps = {}
    docs = None
    for t in uniq:
        sub = pos_pdf[pos_pdf["term"] == t]
        if not len(sub):
            return z, z
        ids = sub["doc_id"].to_numpy(np.int64)
        order = np.argsort(ids, kind="stable")
        maps[t] = (ids[order], sub["positions"].to_numpy()[order])
        docs = maps[t][0] if docs is None else np.intersect1d(docs, maps[t][0])
        if not docs.size:
            return z, z
    out_ids, out_tfs = [], []
    for d in docs:
        plists = []
        for t in phrase_terms:  # in order, repeats included
            ids, poss = maps[t]
            i = int(np.searchsorted(ids, d))
            plists.append(np.asarray(poss[i], dtype=np.int64))
        tf = phrase_tf_np(plists, slop, in_order=in_order, term_keys=phrase_terms)
        if tf > 0:
            out_ids.append(int(d))
            out_tfs.append(tf)
    if not out_ids:
        return z, z
    return np.asarray(out_ids, dtype=np.int64), np.asarray(out_tfs, dtype=np.int64)


def phrase_match_positions(
    positions: DataFrame, phrase_terms: list[str], slop: int = 0,
    in_order: bool = True,
) -> DataFrame:
    """(doc_id, phrase_tf) for docs containing the phrase. slop=0:
    exact consecutive run (the array_intersect fold above). slop>0:
    proximity match (`"a b"~2`) — the terms IN ORDER with at most
    `slop` total extra tokens interleaved (sum over all gaps), i.e.
    positions p_1<..<p_k with p_k - p_1 - (k-1) <= slop; phrase_tf
    counts distinct completion positions of the last term.

    in_order=False gives Lucene sloppy-phrase semantics instead
    (SloppyPhraseMatcher: adjusted-position spread <= slop, so
    reordered terms match — `b a` matches `"a b"~2`; repeated-term
    slots must pick distinct positions; see _unordered_tf). The join
    shape is the same per-term equi-join chain; the window check runs
    in an Arrow-batched pandas UDF over the joined per-doc position
    arrays — bounded by docs containing EVERY phrase term, exactly the
    in-order fold's survivor set, never the corpus.

    The proximity fold carries (pos, slack) structs instead of bare
    positions: a step extends each partial match with every next-term
    position whose added gap keeps total slack within budget, then
    keeps the MINIMUM slack per completion position (sort_array +
    indexed filter — all JVM-side, no UDF). Per-doc state stays
    bounded by that dedup: <= |positions(term_i)| entries after step i,
    so the fold's data movement matches the exact path's.
    `positions` rows: (doc_id, term, positions array<int>)."""
    if not phrase_terms:
        raise ValueError("empty phrase")
    if slop < 0:
        raise ValueError("slop must be >= 0")
    if not in_order and slop > 0:
        return _unordered_match_positions(positions, phrase_terms, int(slop))
    # unordered at slop=0 IS the exact consecutive phrase (all adjusted
    # positions equal), so both modes share the fold below
    first = positions.filter(F.col("term") == phrase_terms[0])
    if slop == 0:
        acc = first.select("doc_id", F.col("positions").alias("acc"))
        for t in phrase_terms[1:]:
            nxt = positions.filter(F.col("term") == t).select(
                "doc_id", F.col("positions").alias("p")
            )
            acc = (
                acc.join(nxt, "doc_id")
                .select(
                    "doc_id",
                    F.array_intersect(
                        F.transform("acc", lambda x: x + F.lit(1)), F.col("p")
                    ).alias("acc"),
                )
                .filter(F.size("acc") > 0)
            )
        return acc.select("doc_id", F.size("acc").cast("int").alias("phrase_tf"))

    acc = first.select(
        "doc_id",
        F.expr("transform(positions, x -> struct(x AS pos, 0 AS slack))").alias("acc"),
    )
    for t in phrase_terms[1:]:
        nxt = positions.filter(F.col("term") == t).select(
            "doc_id", F.col("positions").alias("p")
        )
        acc = (
            acc.join(nxt, "doc_id")
            .select(
                "doc_id",
                F.expr(
                    "sort_array(flatten(transform(acc, a -> "
                    "transform("
                    f"  filter(p, x -> x > a.pos AND x - a.pos - 1 + a.slack <= {int(slop)}), "
                    "  x -> struct(x AS pos, a.slack + x - a.pos - 1 AS slack)))))"
                ).alias("raw"),
            )
            .select(
                "doc_id",
                # min slack per completion position: raw is sorted by
                # (pos, slack), keep each pos's first entry
                F.expr(
                    "filter(raw, (x, i) -> i = 0 OR raw[i-1].pos <> x.pos)"
                ).alias("acc"),
            )
            .filter(F.size("acc") > 0)
        )
    return acc.select("doc_id", F.size("acc").cast("int").alias("phrase_tf"))


def _unordered_match_positions(
    positions: DataFrame, phrase_terms: list[str], slop: int
) -> DataFrame:
    """Lucene-sloppy (unordered) phrase match: equi-join the UNIQUE
    terms' position arrays per doc (same monotone-shrinking join chain
    as the in-order fold), then one vectorized pandas UDF runs the
    adjusted-window check per doc (_unordered_tf). Python is bounded by
    the docs containing every phrase term."""
    from pyspark.sql.functions import pandas_udf

    uniq = list(dict.fromkeys(phrase_terms))
    acc = None
    for ui, t in enumerate(uniq):
        nxt = positions.filter(F.col("term") == t).select(
            "doc_id", F.col("positions").alias(f"_p{ui}")
        )
        acc = nxt if acc is None else acc.join(nxt, "doc_id")
    slot_of = [uniq.index(t) for t in phrase_terms]
    p_terms = list(phrase_terms)
    s = int(slop)

    @pandas_udf("int")
    def tf_udf(*cols: pd.Series) -> pd.Series:
        out = []
        for row in zip(*cols):
            plists = [
                np.asarray(row[slot_of[i]], dtype=np.int64)
                for i in range(len(p_terms))
            ]
            out.append(
                phrase_tf_np(plists, s, in_order=False, term_keys=p_terms)
            )
        return pd.Series(out, dtype="int32")

    return acc.select(
        "doc_id", tf_udf(*[F.col(f"_p{ui}") for ui in range(len(uniq))]).alias(
            "phrase_tf"
        )
    ).filter(F.col("phrase_tf") > 0)


def phrase_topk(
    spark: SparkSession, store: IndexStore, phrase: str, k: int, slop: int = 0,
    in_order: bool = True,
) -> DataFrame:
    """Top-k docs for a phrase (phrase_tf desc, doc_id asc) off the
    index's positions table; slop>0 gives proximity semantics
    (`"a b"~slop` — see phrase_match_positions; in_order=False = Lucene
    sloppy/unordered). Requires store_positions=True at build time."""
    cfg = store.get_config()
    if not cfg.store_positions:
        raise ValueError(
            "index was built without positions (IndexConfig.store_positions)"
        )
    terms = [t for t in _phrase_terms(phrase, cfg.tokenizer)]
    if not terms:
        return spark.createDataFrame([], "doc_id long, phrase_tf int")
    from tangent_spark.plans.search import filter_deleted, load_deleted_ids

    pos = store.read(spark, "positions")
    return (
        filter_deleted(
            phrase_match_positions(pos, terms, slop, in_order=in_order),
            load_deleted_ids(spark, store),
        )
        .orderBy(F.desc("phrase_tf"), F.asc("doc_id"))
        .limit(k)
    )


def span_first_match(
    positions: DataFrame, phrase_terms: list[str], end: int
) -> DataFrame:
    """Lucene SpanFirstQuery over a positions frame: (doc_id, span_tf)
    for docs where the consecutive phrase `phrase_terms` has >= 1
    occurrence whose span END (last token position + 1, 0-based) is
    <= `end` — the match lies entirely within the document's first
    `end` tokens (title-ish boosting, lead-paragraph matching).

    Plan shape: a qualifying span's positions ALL sit below `end`, so
    the per-(doc, term) position arrays are pruned to x < `end` BEFORE
    the exact-phrase fold — the fold then only touches each document's
    head, and every fold survivor qualifies automatically (no
    post-filter). Scale: data moved shrinks with `end`, never grows
    with document length."""
    if not phrase_terms:
        raise ValueError("empty phrase")
    if end <= 0:
        return positions.sparkSession.createDataFrame(
            [], "doc_id long, span_tf int"
        )
    pref = (
        positions.filter(F.col("term").isin(sorted(set(phrase_terms))))
        .select(
            "doc_id",
            "term",
            F.filter("positions", lambda x: x < F.lit(int(end))).alias(
                "positions"
            ),
        )
        .filter(F.size("positions") > 0)
    )
    return phrase_match_positions(pref, phrase_terms, 0).select(
        "doc_id", F.col("phrase_tf").alias("span_tf")
    )


def span_first_topk(
    spark: SparkSession, store: IndexStore, phrase: str, end: int, k: int
) -> DataFrame:
    """Top-k docs for a SpanFirstQuery (span_tf desc, doc_id asc) off
    the index's positions table — phrase_topk's windowed sibling.
    Requires store_positions=True at build time."""
    cfg = store.get_config()
    if not cfg.store_positions:
        raise ValueError(
            "index was built without positions (IndexConfig.store_positions)"
        )
    terms = _phrase_terms(phrase, cfg.tokenizer)
    if not terms:
        return spark.createDataFrame([], "doc_id long, span_tf int")
    from tangent_spark.plans.search import filter_deleted, load_deleted_ids

    pos = store.read(spark, "positions")
    return (
        filter_deleted(
            span_first_match(pos, terms, end), load_deleted_ids(spark, store)
        )
        .orderBy(F.desc("span_tf"), F.asc("doc_id"))
        .limit(k)
    )


_PREFIX_SENTINEL = "\x00prefix"  # cannot collide with tokenized terms


def phrase_prefix_match(
    positions: DataFrame,
    vocab: DataFrame,
    lead_terms: list[str],
    prefix: str,
    slop: int = 0,
    max_expansions: int = 50,
) -> DataFrame:
    """ES match_phrase_prefix (the search-as-you-type query): the
    consecutive phrase `lead_terms` followed by ANY term starting with
    `prefix`. Returns (doc_id, phrase_tf) where phrase_tf counts
    distinct completion positions across all expansions — the ES
    semantics of expanding the last position to a union of prefixed
    terms.

    `vocab` is any frame with a `term` column (term_stats, or the
    positions frame itself); the prefix expands against it in term
    order, capped at `max_expansions` (Lucene expands the term
    dictionary alphabetically — the cap is deterministic). The
    expansion is a pushed StartsWith scan; the expanded terms' position
    arrays merge into ONE pseudo-term per doc, then the standard
    exact/proximity fold runs unchanged — data moved is the expansions'
    postings, never the corpus."""
    spark = positions.sparkSession
    if not prefix:
        raise ValueError("empty prefix")
    empty = spark.createDataFrame([], "doc_id long, phrase_tf int")
    exps = [
        r["term"]
        for r in vocab.select("term")
        .filter(F.col("term").startswith(prefix))
        .distinct()
        .orderBy("term")
        .limit(int(max_expansions))
        .collect()
    ]
    if not exps:
        return empty
    last = (
        positions.filter(F.col("term").isin(exps))
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("positions")))
            ).alias("positions")
        )
        .select("doc_id", F.lit(_PREFIX_SENTINEL).alias("term"), "positions")
    )
    if lead_terms:
        lead = positions.filter(
            F.col("term").isin(sorted(set(lead_terms)))
        ).select("doc_id", "term", "positions")
        allpos = lead.unionByName(last)
    else:
        allpos = last
    return phrase_match_positions(
        allpos, [*lead_terms, _PREFIX_SENTINEL], slop
    )


def phrase_prefix_topk(
    spark: SparkSession,
    store: IndexStore,
    phrase: str,
    k: int,
    slop: int = 0,
    max_expansions: int = 50,
) -> DataFrame:
    """Top-k docs for a phrase-prefix query off the index (phrase_tf
    desc, doc_id asc): `phrase`'s LAST whitespace token (its trailing
    '*' optional) is the prefix — lowercased but NOT stemmed (a stemmed
    prefix would miss the surface forms it abbreviates); the lead
    tokens analyze with the index's tokenizer. Expansion runs against
    the stored vocabulary (term_stats, pushed StartsWith scan).
    Requires store_positions=True at build time."""
    cfg = store.get_config()
    if not cfg.store_positions:
        raise ValueError(
            "index was built without positions (IndexConfig.store_positions)"
        )
    parts = phrase.split()
    if not parts:
        return spark.createDataFrame([], "doc_id long, phrase_tf int")
    prefix = parts[-1].rstrip("*").lower()
    if not prefix:
        raise ValueError(f"no usable prefix in phrase {phrase!r}")
    lead = _phrase_terms(" ".join(parts[:-1]), cfg.tokenizer)
    from tangent_spark.plans.search import filter_deleted, load_deleted_ids

    pos = store.read(spark, "positions")
    out = phrase_prefix_match(
        pos, store.read(spark, "term_stats"), lead, prefix, slop,
        max_expansions,
    )
    return (
        filter_deleted(out, load_deleted_ids(spark, store))
        .orderBy(F.desc("phrase_tf"), F.asc("doc_id"))
        .limit(k)
    )


def _phrase_terms(phrase: str, tokenizer: str) -> list[str]:
    """Phrase tokens IN ORDER (query_terms sorts+dedups — wrong here)."""
    from tangent_spark.functions.tokenize import tokenize_porter, tokenize_simple

    return tokenize_porter(phrase) if tokenizer == "porter" else tokenize_simple(phrase)


def highlight_windows(
    positions: DataFrame, query_terms: list[str], candidates: DataFrame | None = None
) -> DataFrame:
    """Best snippet window per doc: the SMALLEST token-position window
    covering the MOST distinct query terms — the index-side half of
    snippet generation (the caller joins doc text by doc_id to render;
    the reference rendered snippets from Solr-returned term vectors,
    text/TextResult.py:29-52).

    Returns (doc_id, win_start, win_end, n_terms_covered). Deterministic
    tie-break: among windows covering the same number of terms, smallest
    span wins, then smallest start position.

    Scale shape: positions are filtered to the query terms (row-group
    pruned scan), optionally semi-joined to a candidate doc set (pass
    the top-k docs — never the corpus), then ONE groupBy(doc_id) feeds a
    per-doc pandas kernel running the classic two-pointer minimal-window
    sweep over the merged position list. Data moved is proportional to
    the candidates' matched positions only."""
    qts = sorted(set(query_terms))
    pos = positions.filter(F.col("term").isin(qts)).select(
        "doc_id", "term", "positions"
    )
    if candidates is not None:
        pos = pos.join(candidates.select("doc_id"), "doc_id", "left_semi")

    def kernel(pdf):
        import numpy as np
        import pandas as pd

        doc_id = int(pdf["doc_id"].iloc[0])
        events = []  # (pos, term_idx)
        tidx = {}
        for term, plist in zip(pdf["term"], pdf["positions"]):
            ti = tidx.setdefault(term, len(tidx))
            events.extend((int(p), ti) for p in plist)
        events.sort()
        ps = np.array([e[0] for e in events], dtype=np.int64)
        ts = np.array([e[1] for e in events], dtype=np.int64)
        n_terms = len(tidx)
        # two-pointer sweep: grow right, shrink left while all-covered
        best = (-1, 1 << 60, 1 << 60)  # (covered, span, start) to maximize/min/min
        counts = np.zeros(n_terms, dtype=np.int64)
        covered = 0
        left = 0
        for right in range(ps.size):
            counts[ts[right]] += 1
            if counts[ts[right]] == 1:
                covered += 1
            while counts[ts[left]] > 1:
                counts[ts[left]] -= 1
                left += 1
            cand = (covered, int(ps[right] - ps[left]), int(ps[left]))
            if (cand[0], -cand[1], -cand[2]) > (best[0], -best[1], -best[2]):
                best = cand
        return pd.DataFrame(
            {
                "doc_id": [doc_id],
                "win_start": [best[2]],
                "win_end": [best[2] + best[1]],
                "n_terms_covered": [best[0]],
            }
        )

    return pos.groupBy("doc_id").applyInPandas(
        kernel,
        schema="doc_id long, win_start long, win_end long, n_terms_covered int",
    )


def snippet_topk(
    spark: SparkSession, store: IndexStore, query: str, k: int
) -> DataFrame:
    """BM25 top-k + best highlight window per hit, off one IndexStore:
    (doc_id, score, win_start, win_end, n_terms_covered). Requires
    store_positions=True."""
    from tangent_spark.plans.search import bm25_topk_wand, query_terms

    cfg = store.get_config()
    if not cfg.store_positions:
        raise ValueError(
            "index was built without positions (IndexConfig.store_positions)"
        )
    qts = query_terms(query, cfg.tokenizer)
    # materialize the <=k top rows once (bounded collect) — the WAND
    # subtree would otherwise execute twice (window candidates + join)
    top_rows = bm25_topk_wand(spark, store, query, k).collect()
    top = spark.createDataFrame(top_rows, "doc_id long, score double")
    pos = store.read(spark, "positions")
    wins = highlight_windows(pos, qts, candidates=top)
    return top.join(wins, "doc_id", "left").orderBy(
        F.desc("score"), F.asc("doc_id")
    )


def snippet_render(
    snips: DataFrame,
    docs_text: DataFrame,
    query: str,
    tokenizer: str,
    pre: str = "<em>",
    post: str = "</em>",
    context: int = 0,
) -> DataFrame:
    """Render highlight windows into marked-up snippet strings — the
    Solr highlighter's output half (hl.simple.pre/post; the reference
    rendered hits from Solr term vectors, text/TextResult.py:29-52).

    `snips` is snippet_topk/Searcher.snippets output (doc_id, score,
    win_start, win_end, ...); `docs_text` supplies (doc_id, text) —
    field storage lives outside the index, as in any external-store
    search stack. Each hit's window tokens [win_start, win_end]
    (optionally widened by `context` tokens each side) are sliced out
    of the ORIGINAL text by character offset, and every token whose
    analyzed form is a query term is wrapped in pre/post. Returns
    (doc_id, score, snippet); hits with no window (NULL win_start)
    render NULL.

    Scale shape: one broadcast-size join (snips is <= k rows by
    construction) + a vectorized pandas UDF whose per-row work is one
    regex pass over one document's text — Python is fine here because
    the candidate set is bounded by k, never the corpus."""
    import re as _re

    from pyspark.sql.functions import pandas_udf

    from tangent_spark.functions.porter import stem as porter_stem
    from tangent_spark.plans.search import query_terms

    qts = set(query_terms(query, tokenizer))
    use_porter = tokenizer == "porter"
    ctx = int(context)
    tok_rx = _re.compile(r"[a-z0-9]+")

    # pandas is imported at module level so the stringified type
    # hints (`from __future__ import annotations`) resolve during the
    # pandas_udf eval-type inference
    @pandas_udf("string")
    def render(text: pd.Series, ws: pd.Series, we: pd.Series) -> pd.Series:
        out = []
        for t, a, b in zip(text, ws, we):
            if t is None or pd.isna(a) or pd.isna(b):
                out.append(None)
                continue
            toks = list(tok_rx.finditer(t.lower()))
            lo = max(0, int(a) - ctx)
            hi = min(len(toks) - 1, int(b) + ctx)
            if lo >= len(toks):
                out.append(None)
                continue
            parts, cur = [], toks[lo].start()
            for m in toks[lo:hi + 1]:
                parts.append(t[cur:m.start()])
                word = m.group(0)
                term = porter_stem(word) if use_porter else word
                raw = t[m.start():m.end()]
                parts.append(pre + raw + post if term in qts else raw)
                cur = m.end()
            out.append("".join(parts))
        return pd.Series(out)

    return (
        snips.join(docs_text.select("doc_id", "text"), "doc_id", "left")
        .select(
            "doc_id",
            "score",
            render(F.col("text"), F.col("win_start"), F.col("win_end")).alias(
                "snippet"
            ),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )
