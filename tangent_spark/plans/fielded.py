"""Fielded (multi-field) index build + boosted per-field BM25 search.

Lucene keeps one inverted index PER FIELD — postings are keyed by
(field, term), every field carries its own length normalization
("norms": dl over that field's tokens only, normalized by that field's
average length) and its own docCount for IDF. Solr's fielded query
surface (`q=title:spark^2 OR body:spark`, the qf expansion of
edismax) scores a BooleanQuery SUM over the per-field TermQueries.
The reference exposed this entire surface through its Solr sidecar
(reference text/text_engine_client.py:15-52 builds fielded dismax
requests; SURVEY S12) — here it is the SAME doc-sharded engine:
fielded terms live in the one postings space as ``field:term`` rows
with per-field dl, so the build's shuffle inventory, the block codec,
block-max WAND pruning, tombstone masks and searchAfter paging all
apply unchanged.

Scoring (fielded_topk: Lucene BooleanQuery-sum semantics — a query
expanded to one boosted TermQuery per (field, term); dismax_topk:
DisjunctionMaxQuery max-plus-tie, edismax's default combiner):

    score(d) = sum_f sum_t boost_f * idf_f(t)
                             * tfnorm(tf_{f,t,d}, dl_f(d), avgdl_f)
    idf_f(t) = ln(1 + (N_f - df_{f,t} + 0.5) / (df_{f,t} + 0.5))

where N_f = docCount(field f) = docs with >= 1 token in f (Lucene's
per-field docCount, not the corpus size), and avgdl_f is the mean
token length of field f over those docs.

Scale shape — identical to plans/search.bm25_topk_wand: the df
lookup collect, then postings filtered to the |q| x |fields| prefixed
terms (term-major parquet sort order -> row-group pruning at the
scan); the kernel gives every postings row its clause's boosted
``idf`` (field docCount N_f) AND its field's ``avgdl``
(_score_shard's per-row-avgdl path) from the per-field stats read
once per index generation, runs the per-shard block-max interval
sweep, and a global TakeOrderedAndProject keeps <= k rows per shard. Correctness of the block-max bound under mixed fields:
each row's bound is computed with ITS OWN field's avgdl, and a doc's
rows for every field live in the same shard (shard = doc_id %
n_shards), so each doc is scored exactly once with its full
cross-field sum.

Limitation (documented): streaming appends (streaming/incremental)
re-tokenize a single text column and so do not yet understand fielded
term spaces; build fielded indexes with build_fielded_index only.
"""

from __future__ import annotations

import dataclasses
import re
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tangent_spark.config import IndexConfig
from tangent_spark.functions.tokenize import terms_df
from tangent_spark.sources.store import IndexStore

# Lucene's field:term postings key. Tokens are [a-z0-9]+ (both
# analysis chains), so the first ':' always delimits the field.
FIELD_SEP = ":"


def field_terms_df(
    docs: DataFrame,
    fields: tuple[str, ...],
    id_col: str = "doc_id",
    tokenizer: str = "porter",
) -> DataFrame:
    """Per-field term rows in the indexer's (doc_id, term, tf, dl)
    shape: term = 'field:token', dl = THAT field's token count for the
    doc (the per-field norm). One tokenize pass per field over the
    same scan; docs where a field is empty simply emit no rows for it
    (Lucene: the doc lacks the field)."""
    parts = [
        terms_df(docs, id_col, f, tokenizer).select(
            "doc_id",
            F.concat(F.lit(f + FIELD_SEP), F.col("term")).alias("term"),
            "tf",
            "dl",
        )
        for f in fields
    ]
    return reduce(lambda a, b: a.unionByName(b), parts)


def build_fielded_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    fields: tuple[str, ...] | list[str],
    cfg: IndexConfig = IndexConfig(),
    id_col: str = "doc_id",
    url_col: str | None = None,
) -> IndexStore:
    """Build (or resume) a fielded index: the standard build pipeline
    fed pre-fielded term rows (build_index's text_col=None path — no
    catch-all tokenization), plus a ``field_stats`` stage recording
    per-field docCount and avgdl for query-time IDF/norms. The fields
    tuple is persisted in the config so fielded_topk can validate
    boost keys and a config-mismatched resume is rejected."""
    from tangent_spark.plans.indexer import build_index

    fields = tuple(fields)
    if not fields:
        raise ValueError("fields must be non-empty")
    cfg = dataclasses.replace(cfg, fields=fields)
    store = build_index(
        spark,
        docs,
        out_dir,
        cfg,
        id_col=id_col,
        text_col=None,
        extra_terms=field_terms_df(docs, fields, id_col, cfg.tokenizer),
        url_col=url_col,
    )

    # ---- stage: field_stats (per-field docCount + avgdl) -------------------
    if not store.stage_done("field_stats"):
        import time

        t0 = time.time()
        terms = spark.read.parquet(store.path("terms"))
        fs = (
            terms.withColumn(
                "field", F.substring_index("term", FIELD_SEP, 1)
            )
            .groupBy("field")
            .agg(
                F.countDistinct("doc_id").cast("long").alias("n_docs"),
                F.sum("tf").cast("long").alias("total_tokens"),
            )
            .withColumn(
                "avgdl", F.col("total_tokens") / F.col("n_docs")
            )
        )
        fs.write.mode("overwrite").parquet(store.path("field_stats"))
        rows = spark.read.parquet(store.path("field_stats")).collect()
        store.commit_stage(
            "field_stats",
            ["field_stats"],
            {
                "fields": {r["field"]: int(r["n_docs"]) for r in rows},
                "secs": time.time() - t0,
            },
        )
    return store


def fielded_topk(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    k: int,
    boosts: dict[str, float],
    after: tuple[float, int] | None = None,
    tie: float | None = None,
) -> DataFrame:
    """Boosted multi-field BM25 top-k (Solr ``title:q^2 OR body:q``) —
    one single-stage job off the fielded postings; see the module
    docstring for semantics and the scale argument. ``after`` is the
    searchAfter cursor (plans/search.Searcher.topk): exact here for
    the same reason as the plain kernel — every doc's full cross-field
    score is produced in one shard pass.

    ``tie`` switches the cross-field combiner from BooleanQuery-sum to
    DisjunctionMaxQuery (use dismax_topk for the named surface)."""
    from tangent_spark.plans.search import query_terms

    cfg = store.get_config()
    unknown = set(boosts) - set(cfg.fields)
    if unknown:
        raise ValueError(
            f"unknown fields {sorted(unknown)}; index has {cfg.fields}"
        )
    qts = query_terms(query, cfg.tokenizer)
    if not qts or not boosts:
        return spark.createDataFrame([], "doc_id long, score double")
    # dismax group id = index of the base query term: the group's
    # members are that term's per-field TermQueries
    return _fielded_plan(
        spark, store, cfg, k,
        {(f"{f}{FIELD_SEP}{t}", g): b for f, b in boosts.items()
         for g, t in enumerate(qts)},
        after, tie,
    )


def _fielded_plan(spark, store, cfg, k, clauses, after, tie):
    """The fielded routes' one BM25 plan: `clauses` ({(field:term,
    dismax group): boost}) become the ScoreSpec's clause rows, served
    off the cold source plus the per-field stats ({field: (docCount,
    avgdl)}, collected once per index generation) — the kernel scores
    each clause with its field's docCount idf and avgdl."""
    from tangent_spark.plans.search import ScoreSpec, _bm25_plan, _cold_sources

    spec = ScoreSpec(
        tuple(sorted({t for t, _ in clauses})), k,
        clauses=tuple(sorted((t, g, b) for (t, g), b in clauses.items())),
        tie=tie, after=after,
    )
    field_stats = store.memo(spark, ("field_stats",), lambda: {
        r["field"]: (int(r["n_docs"]), float(r["avgdl"]))
        for r in store.read(spark, "field_stats").collect()
    })
    source = dict(_cold_sources(spark, store), field_stats=field_stats)
    return _bm25_plan(source, spec, cfg)


def dismax_topk(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    k: int,
    boosts: dict[str, float],
    tie: float = 0.0,
    after: tuple[float, int] | None = None,
) -> DataFrame:
    """Dismax multi-field BM25 top-k — Lucene DisjunctionMaxQuery /
    the edismax handler's DEFAULT combiner (the piece fielded_topk's
    BooleanQuery-sum diverges from; reference
    text/text_engine_client.py:15-52 issued exactly these requests to
    Solr). Each base query term t expands to one TermQuery per boosted
    field, and the per-field scores combine per doc as

        score_t(d) = max_f s_{f,t}(d) + tie * (sum_f s_{f,t}(d) - max_f)
        score(d)   = sum_t score_t(d)

    with s_{f,t} = boost_f * idf_f(t) * tfnorm(tf, dl_f, avgdl_f) —
    per-field docCount IDF and per-field norms, same as fielded_topk.
    tie=0 is pure dismax ("best matching field wins" — kills the
    stopword-stuffed-body pathology of the plain sum); tie=1 is
    exactly fielded_topk's sum (property-tested).

    Plan shape is identical to fielded_topk: the postings scan pruned
    to |q| x |fields| terms, per-(field, term) boosted idf + field
    avgdl + dismax group id attached in the shared block-max kernel (_score_shard's dmax path). The threshold
    skip stays EXACT for tie in [0, 1] because each range's summed
    block bounds upper-bound the plain cross-field sum, which
    upper-bounds the dismax combination."""
    return fielded_topk(spark, store, query, k, boosts, after=after, tie=tie)


# field-scoped clause: optional `field:` prefix, the raw chunk, an
# optional ^boost suffix (Lucene classic QueryParser term syntax)
_FIELD_CLAUSE = re.compile(
    r"^(?:([A-Za-z_][A-Za-z0-9_]*):)?(.+?)(?:\^(\d+(?:\.\d+)?))?$"
)


def parse_field_query(
    query: str, fields: tuple[str, ...], tokenizer: str = "porter"
) -> list[tuple[str | None, list[str], float]]:
    """Lucene classic-QueryParser field-scoped term syntax:
    ``title:spark body:proof^2 data`` -> one clause per whitespace
    token, each (field | None, analyzed tokens, boost). A ``field:``
    prefix names a KNOWN index field (unknown prefixes stay part of
    the term text, Lucene's behaviour for e.g. ``http://...``); the
    chunk is then analyzed with the index tokenizer (a chunk may
    yield several tokens — sorted distinct, the query_terms
    discipline: in-chunk query tf is ignored — all stay under the
    clause's field and boost); ``^N`` scales the clause. Bare clauses (field None) are
    the caller's to expand over its qf defaults. Scoring-only surface:
    +must/-not routing belongs to the boolean engine's catch-all
    index (documented divergence)."""
    from tangent_spark.plans.search import query_terms

    out: list[tuple[str | None, list[str], float]] = []
    for raw in query.split():
        m = _FIELD_CLAUSE.match(raw)
        if not m:
            continue
        field, chunk, boost_s = m.groups()
        if field is not None and field not in fields:
            chunk = f"{field}:{chunk}"  # not a field — keep the text
            field = None
        toks = query_terms(chunk, tokenizer)
        if toks:
            out.append((field, toks, float(boost_s) if boost_s else 1.0))
    return out


def field_query_topk(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    k: int,
    qf: dict[str, float],
    tie: float | None = None,
    after: tuple[float, int] | None = None,
) -> DataFrame:
    """Top-k BM25 for a field-scoped query string (Lucene classic
    QueryParser / edismax qf): ``title:spark body:proof^2 data``.
    Field-scoped clauses score as single boosted TermQueries against
    their field; bare clauses expand over the ``qf`` defaults — as a
    boosted per-field SUM when ``tie`` is None, as a
    DisjunctionMaxQuery (max + tie * rest, see dismax_topk) otherwise.
    Duplicate (field, term) clauses merge by summing boosts (BM25 is
    linear in boost * idf, so one merged posting row scores exactly
    like Lucene's two TermQueries while decoding each block once).

    Plan shape matches fielded_topk: the explicit clause table (a few
    rows) gives each pruned postings row its boosted idf / per-field
    avgdl / dismax group inside the kernel."""
    cfg = store.get_config()
    unknown = set(qf) - set(cfg.fields)
    if unknown:
        raise ValueError(f"unknown fields {sorted(unknown)}; index has {cfg.fields}")
    clauses = parse_field_query(query, cfg.fields, cfg.tokenizer)
    if not clauses or not qf:
        return spark.createDataFrame([], "doc_id long, score double")
    # expand to (prefixed term, group) -> boost; group = clause ordinal
    # so a bare term's per-field expansions dismax together while
    # field-scoped clauses are singleton groups (max == the score)
    rows: dict[tuple[str, int], float] = {}
    for gid, (field, toks, boost) in enumerate(clauses):
        targets = [(field, boost)] if field else [
            (f, boost * qb) for f, qb in qf.items()
        ]
        for f, b in targets:
            for t in toks:
                key = (f"{f}{FIELD_SEP}{t}", gid)
                rows[key] = rows.get(key, 0.0) + b
    return _fielded_plan(spark, store, cfg, k, rows, after, tie)
