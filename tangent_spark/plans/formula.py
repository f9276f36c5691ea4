"""Formula search: expression-level index + Dice top-k
(SURVEY.md §2.5 Q1-Q11 — the reference engine's actual scoring path).

Two-level index exactly as the reference keeps it in memory
(mathindexbase.h:201-261): postings point at unique *expressions*, a
second map expands expressions to (doc, positions). At web scale the
expression dedup is the big win: identical formulas across the corpus
collapse to one postings entry (the NTCIR corpus has ~2.6M unique
expressions over 319k docs; Common-Crawl math repeats far more).

Tables in the IndexStore:
  f_dict(expr_id, slt, expr_tc)        — id = deterministic rank of slt
  f_postings(fr, to, rel, expr_id, cnt) — split term columns so wildcard
                                          lookups are plain equi-joins
  f_postings_to(...)                    — to-major projection (A3 analog)
                                          so ?-from patterns prune too
  f_docs(expr_id, doc_id, positions)

Scoring: Dice/F-measure F = 2*cc/(expr_tc + query_tc), cc = count-capped
multiset overlap (mathindex.cpp:239-246). Wildcard query tuples (?x at
one end) are scored PER INSTANCE with shared per-tuple budgets — the
deterministic equivalent of the reference's IDIterPL/IND/ANY remainder
machinery (mathindexmid.h:100-167); see wildcard_cc for the exact rule
and its golden-agreement envelope. Ties break on ascending expr_id
(mathindexbase.h:100)."""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tangent_spark.config import IndexConfig
from tangent_spark.functions.ids import dense_ids
from tangent_spark.operators.pairs import exprs_df, expr_tuples_df
from tangent_spark.operators.slt import mathml_to_slt, pairs, parse_slt
from tangent_spark.sources.store import IndexStore


def build_formula_index(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    cfg: IndexConfig = IndexConfig(),
    id_col: str = "doc_id",
    html_col: str = "html",
) -> IndexStore:
    store = IndexStore(out_dir)
    store.set_config(cfg)

    if not store.stage_done("exprs"):
        t0 = time.time()
        exprs_df(pages, id_col, html_col).write.mode("overwrite").parquet(
            store.path("exprs")
        )
        n = spark.read.parquet(store.path("exprs")).count()
        store.commit_stage("exprs", ["exprs"], {"expr_doc_rows": n, "secs": time.time() - t0})

    exprs = spark.read.parquet(store.path("exprs"))

    if not store.stage_done("f_dict"):
        t0 = time.time()
        uniq = exprs.select("slt").distinct()
        tuples = expr_tuples_df(uniq, cfg)
        tc = tuples.groupBy("slt").agg(F.sum("cnt").cast("int").alias("expr_tc"))
        dense_ids(uniq.join(tc, "slt", "left"), "slt", "expr_id").na.fill(
            {"expr_tc": 0}
        ).write.mode("overwrite").parquet(store.path("f_dict"))
        n = spark.read.parquet(store.path("f_dict")).count()
        store.commit_stage("f_dict", ["f_dict"], {"unique_exprs": n, "secs": time.time() - t0})

    fdict = spark.read.parquet(store.path("f_dict"))

    if not store.stage_done("f_postings"):
        t0 = time.time()
        tuples = expr_tuples_df(fdict.select("slt"), cfg)
        (
            tuples.join(fdict.select("slt", "expr_id"), "slt")
            .select("fr", "to", "rel", "expr_id", "cnt")
            .repartition(
                max(cfg.n_shards, spark.sparkContext.defaultParallelism),
                "fr", "to", "rel",
            )
            .sortWithinPartitions("fr", "to", "rel", "expr_id")
            .write.mode("overwrite")
            .parquet(store.path("f_postings"))
        )
        n = spark.read.parquet(store.path("f_postings")).count()
        store.commit_stage(
            "f_postings", ["f_postings"], {"postings": n, "secs": time.time() - t0}
        )

    if not store.stage_done("f_postings_to"):
        # to-major projection of f_postings: `?x`-from wildcard patterns
        # filter on (to, rel), which the (fr, to, rel)-sorted primary
        # never prunes — this copy restores row-group pruning for them
        # (the reference's separate wildcard postings table, A3).
        t0 = time.time()
        (
            spark.read.parquet(store.path("f_postings"))
            .repartition(
                max(cfg.n_shards, spark.sparkContext.defaultParallelism),
                "to", "rel",
            )
            .sortWithinPartitions("to", "rel", "fr", "expr_id")
            .write.mode("overwrite")
            .parquet(store.path("f_postings_to"))
        )
        n = spark.read.parquet(store.path("f_postings_to")).count()
        store.commit_stage(
            "f_postings_to", ["f_postings_to"], {"postings": n, "secs": time.time() - t0}
        )

    if not store.stage_done("f_docs"):
        t0 = time.time()
        (
            exprs.join(fdict.select("slt", "expr_id"), "slt")
            .select("expr_id", "doc_id", "positions")
            .write.mode("overwrite")
            .parquet(store.path("f_docs"))
        )
        n = spark.read.parquet(store.path("f_docs")).count()
        store.commit_stage("f_docs", ["f_docs"], {"expr_docs": n, "secs": time.time() - t0})

    return store


def query_tuple_multiset(query_mathml: str, cfg: IndexConfig):
    """Driver-side Q2: query MathML -> (concrete, wildcard, query_tc).
    concrete: {(fr,to,rel): cnt}; wildcard: LIST of (fr,to,rel) tuple
    INSTANCES in generation order, '?' at exactly one end — repeats kept,
    exactly like the reference's doAddTupleVar (mathindex.cpp:180).
    Both-wildcard tuples are dropped (P7, mathindex.cpp:280-281)."""
    slt = mathml_to_slt(query_mathml)
    if slt is None:
        return {}, [], 0
    tree = parse_slt(slt)
    concrete: dict = {}
    wildcard: list = []
    qtc = 0
    for fr, to, rel, _loc in pairs(tree, cfg.window, cfg.eol_mode, max_pair_len=cfg.max_pair_len):
        fr_w, to_w = fr.startswith("?"), to.startswith("?")
        if fr_w and to_w:
            continue
        qtc += 1
        if fr_w or to_w:
            wildcard.append((fr, to, rel))
        else:
            concrete[(fr, to, rel)] = concrete.get((fr, to, rel), 0) + 1
    return concrete, wildcard, qtc


def _wild_matches(pattern: tuple, t: tuple) -> bool:
    fr, to, rel = pattern
    if fr.startswith("?"):
        return t[1] == to and t[2] == rel
    return t[0] == fr and t[2] == rel


# An instance whose matched posting mass covers at least this fraction
# of the index's unique expressions runs in short-circuit ("stop") mode;
# see wildcard_cc. 0.9 minimizes golden mismatches across all four
# tested (window, eol) conditions (tests/test_golden_parity.py).
WILDCARD_STOP_SELECTIVITY = 0.9


def wildcard_dense_flags(instances: list, sizes: dict, n_exprs: int) -> list:
    """Per-instance short-circuit flags: True where the instance's
    matched posting mass covers >= WILDCARD_STOP_SELECTIVITY of the
    index's unique expressions. O(len(sizes) * len(instances)) — compute
    ONCE per query and pass to wildcard_cc, not per candidate."""
    if not sizes or not n_exprs:
        return [False] * len(instances)
    return [
        sum(sz for t, sz in sizes.items() if _wild_matches(w, t)) / n_exprs
        >= WILDCARD_STOP_SELECTIVITY
        for w in instances
    ]


def wildcard_cc(
    concrete: dict,
    instances: list,
    expr_tuples: dict,
    sizes: dict | None = None,
    n_exprs: int | None = None,
    dense: list | None = None,
) -> int:
    """Wildcard contribution to the count-capped overlap for ONE
    expression — the deterministic equivalent of the reference's shared
    posting-list iterators (IDIterPL/IDIterIND/IDIterANY,
    mathindexmid.h:100-167):

    * each wildcard INSTANCE contributes at most 1 (IDIterANY max-cap);
    * instances draw from a shared per-tuple budget: a tuple's count is
      first consumed by the concrete query tuples (min(q_cnt, cnt)), the
      first instance whose pattern matches a non-concrete tuple owns one
      reserved unit of it (IDIterPL with qcount=1, reserved at first
      touch no matter who touches it), and every other draw takes
      min(1, remainder) (IDIterIND consuming pl->rem);
    * instances are processed in query-generation order; each instance
      scans its matching tuples in DESCENDING index-wide posting-size
      order (``sizes`` = tuple -> number of unique expressions containing
      it; the reference sorts its ANY iterators the same way,
      mathindex.cpp:211), ties on tuple ascending;
    * a DENSE instance — matched posting mass / n_exprs >=
      WILDCARD_STOP_SELECTIVITY — stops at the first unit found
      (IDIterANY's short-circuit, mathindexmid.h:165: with near-universal
      lists the next candidate is the adjacent expression ID, so the
      probe lands exactly and the right subtree is never advanced); a
      sparse instance draws from EVERY matching tuple (full advancement:
      with gaps in the union the probe overshoots, every leaf is
      advanced and every IND consumes its remainder unit).

    Without ``sizes``/``n_exprs`` every instance is treated as sparse
    (pure full-advancement rule). Golden agreement vs the reference's
    shipped NTCIR-12 result files (tests/test_golden_parity.py): EXACT
    on every query-candidate pair whose wildcard instances are uncoupled
    (5,073/5,073 rows across 7 conditions); on coupled rows, with sizes
    pooled over all 15 condition files, the density-gated rule
    mismatches 12/14/111/28 rows-of-2000 at
    w4-small/w0-none/w2-all/w1-small (vs 13/14/225/28 for the pure
    full-advancement rule). The eol=all residual is a balanced ±1 and
    is CLOSED as an information floor: it is the reference's overshoot
    pre-consumption — an IND advanced past the current candidate
    consumes a remainder unit at a FUTURE expression, which requires
    the index's posting-list contents, the quartile expression
    reordering (mathindex.cpp:87-114), and the threshold-pruned
    candidate evaluation sequence — none shipped. See the counting
    argument and exhaustive rule-space sweep recorded at
    tests/test_golden_parity.py (WILDCARD_BOUNDS)."""
    owner: dict = {}
    for i, w in enumerate(instances):
        for t in expr_tuples:
            if t not in concrete and t not in owner and _wild_matches(w, t):
                owner[t] = i
    rem = {}
    for t, cnt in expr_tuples.items():
        if t in concrete:
            rem[t] = cnt - min(concrete[t], cnt)
        elif t in owner:
            rem[t] = cnt - 1
        else:
            rem[t] = cnt
    sizes = sizes or {}
    if dense is None:
        dense = wildcard_dense_flags(instances, sizes, n_exprs or 0)
    cc = 0
    for i, w in enumerate(instances):
        contrib = 0
        leaves = sorted(
            (t for t in expr_tuples if _wild_matches(w, t)),
            key=lambda t: (-sizes.get(t, 0), t),
        )
        for t in leaves:
            if owner.get(t) == i:
                contrib = 1
            else:
                take = min(1, rem[t])
                rem[t] -= take
                contrib = max(contrib, take)
            if contrib and dense[i]:
                break
        cc += contrib
    return cc


def dice_topk_exprs(
    spark: SparkSession,
    store: IndexStore,
    query_mathml: str,
    k: int,
) -> DataFrame:
    """Top-k expressions by Dice score -> (expr_id, slt, score, expr_tc)."""
    cfg = store.get_config()
    concrete, wildcard, qtc = query_tuple_multiset(query_mathml, cfg)
    if qtc == 0:
        return spark.createDataFrame([], "expr_id long, slt string, score double, expr_tc int")
    postings = store.read(spark, "f_postings")
    parts = []
    if concrete:
        qdf = spark.createDataFrame(
            [(fr, to, rel, c) for (fr, to, rel), c in sorted(concrete.items())],
            "fr string, to string, rel string, q_cnt int",
        )
        parts.append(
            postings.join(F.broadcast(qdf), ["fr", "to", "rel"])
            .select("expr_id", F.least("q_cnt", "cnt").cast("double").alias("contrib"))
        )
    if wildcard:
        # Gather every posting row matched by ANY wildcard pattern, then
        # run the shared-budget accounting (wildcard_cc) per expression.
        # fr-concrete patterns scan f_postings (sorted fr,to,rel: pruned);
        # to-concrete patterns scan the to-major projection f_postings_to
        # (the reference's A3 wildcard postings table analog,
        # mathindexbase.h:228-234) so `?x`-from patterns prune as well.
        to_pats = sorted({(to, rel) for (fr, to, rel) in wildcard if fr.startswith("?")})
        fr_pats = sorted({(fr, rel) for (fr, to, rel) in wildcard if not fr.startswith("?")})
        matched = []
        if to_pats:
            src = (
                store.read(spark, "f_postings_to")
                if store.stage_done("f_postings_to")
                else postings
            )
            pdf_ = spark.createDataFrame(to_pats, "to string, rel string")
            matched.append(src.join(F.broadcast(pdf_), ["to", "rel"]))
        if fr_pats:
            pdf_ = spark.createDataFrame(fr_pats, "fr string, rel string")
            matched.append(postings.join(F.broadcast(pdf_), ["fr", "rel"]))
        m = matched[0]
        for x in matched[1:]:
            m = m.unionByName(x)
        m = m.select("expr_id", "fr", "to", "rel", "cnt").dropDuplicates(
            ["expr_id", "fr", "to", "rel"]
        )
        # Index-wide posting sizes of the matched tuples (= unique exprs
        # per tuple) drive the reference's ANY-iterator visit order and
        # its dense-list short-circuit; both are exactly reproducible
        # here because we hold the index (see wildcard_cc). One extra
        # small aggregate (|distinct matched tuples| rows to the driver);
        # m is deliberately NOT persisted — a second pruned broadcast-join
        # scan is cheaper than leaking a cache entry per served query.
        sizes = {
            (r["fr"], r["to"], r["rel"]): r["sz"]
            for r in m.groupBy("fr", "to", "rel")
            .agg(F.count("*").alias("sz"))
            .collect()
        }
        n_exprs = int(store.counters()["f_dict"]["unique_exprs"])
        dense = wildcard_dense_flags(wildcard, sizes, n_exprs)

        def wild_kernel(pdf):
            import pandas as pd

            etuples = {
                (fr, to, rel): int(cnt)
                for fr, to, rel, cnt in zip(pdf["fr"], pdf["to"], pdf["rel"], pdf["cnt"])
            }
            return pd.DataFrame(
                {
                    "expr_id": [int(pdf["expr_id"].iloc[0])],
                    "contrib": [
                        float(
                            wildcard_cc(
                                concrete, wildcard, etuples, sizes, dense=dense
                            )
                        )
                    ],
                }
            )

        parts.append(
            m.groupBy("expr_id").applyInPandas(
                wild_kernel, schema="expr_id long, contrib double"
            )
        )
    contribs = parts[0]
    for p in parts[1:]:
        contribs = contribs.unionByName(p)
    cc = contribs.groupBy("expr_id").agg(F.sum("contrib").alias("cc"))
    fdict = store.read(spark, "f_dict")
    scored = cc.join(fdict, "expr_id").withColumn(
        "score", 2.0 * F.col("cc") / (F.col("expr_tc") + F.lit(qtc))
    )
    return (
        scored.select("expr_id", "slt", "score", "expr_tc")
        .orderBy(F.desc("score"), F.asc("expr_id"))
        .limit(k)
    )


def dice_topk_docs(
    spark: SparkSession, store: IndexStore, query_mathml: str, k: int
) -> DataFrame:
    """Q11 + R10: expand top-k expressions to documents and rank docs by
    (best formula score, total score), ties on doc_id ascending."""
    exprs = dice_topk_exprs(spark, store, query_mathml, k)
    docs = store.read(spark, "f_docs")
    return (
        exprs.join(docs, "expr_id")
        .groupBy("doc_id")
        .agg(
            F.max("score").alias("best_score"),
            F.sum("score").alias("total_score"),
            F.count("*").alias("n_exprs"),
        )
        .orderBy(F.desc("best_score"), F.desc("total_score"), F.asc("doc_id"))
        .limit(k)
    )
