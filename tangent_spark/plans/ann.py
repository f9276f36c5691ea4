"""Persisted ANN index: IVF + PQ state through the IndexStore mechanism.

Round-3 review item #7: the IVF coarse quantizer, PQ codebooks, and the
codes/vectors tables previously lived only in driver memory for the
duration of one call — a restart retrained and re-encoded everything.
This module gives ANN the same durability discipline as postings:

    <root>/manifest.json          -- stage ledger + ann params (counters)
    ann_centroids/   (parquet)    -- (cluster, c array<double>)  IVF
    ann_codebooks/   (parquet)    -- (sub, code, c array<double>) PQ
    ann_vectors/     (parquet)    -- (vec_id, cluster, v) float vectors,
                                     cluster-tagged (IVF lists; also the
                                     PQ exact-re-rank source)
    ann_codes/       (parquet)    -- (vec_id, codes array<short>) m-byte
                                     PQ codes — the 10^12-vector scan path

Every stage commits counters through the manifest and is skipped on
resume; appends use the SAME tagged-part-file protocol as the postings
incremental path (sources/store.py copy_tagged/clean_tagged), encoding
new vectors with the EXISTING centroids/codebooks (the FAISS append
discipline: quantizers train once on a sample, additions are encode-
only — no retrain, so appended state is exactly reproducible and
crash-idempotent per batch id).

Scale shape: training is sample-based (driver-side k-means over a
seeded xxhash64 sample); assignment/encode are single map-side passes;
serving reads only the stored tables (queries never touch raw
embeddings except for the <= refine re-rank rows per query).
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tangent_spark.operators.similarity import (
    _global_topk,
    _norm_rows,
    cosine_topk_pq,
    ivf_assign,
    kmeans_fit,
    pq_encode,
    pq_train,
)
from tangent_spark.sources.store import IndexStore


def build_ann_index(
    spark: SparkSession,
    embeddings: DataFrame,
    out_dir: str,
    n_centroids: int = 32,
    n_iter: int = 8,
    m: int = 8,
    n_codes: int = 256,
    pq_sample: int = 10_000,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> IndexStore:
    """Build (or resume) a persisted ANN index at out_dir. Stage-level
    checkpointing: a crashed build resumes after its last committed
    stage, like build_index."""
    store = IndexStore(out_dir)
    if not store.stage_done("ann_config"):
        store.commit_stage(
            "ann_config",
            [],
            {
                "n_centroids": n_centroids,
                "m": m,
                "n_codes": n_codes,
                "seed": seed,
                "n_iter": n_iter,
                "pq_sample": pq_sample,
            },
        )
    params = store.read_manifest()["stages"]["ann_config"]["counters"]

    if not store.stage_done("ann_centroids"):
        C = kmeans_fit(
            embeddings, params["n_centroids"], params["n_iter"], params["seed"],
            id_col, vec_col,
        )
        spark.createDataFrame(
            [(i, row.tolist()) for i, row in enumerate(C)],
            "cluster int, c array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(store.path("ann_centroids"))
        store.commit_stage("ann_centroids", ["ann_centroids"], {"k": int(C.shape[0])})

    if not store.stage_done("ann_codebooks"):
        B = pq_train(
            embeddings, params["m"], params["n_codes"], sample=params["pq_sample"],
            seed=params["seed"], id_col=id_col, vec_col=vec_col,
        )
        rows = [
            (s, c, B[s, c].tolist())
            for s in range(B.shape[0])
            for c in range(B.shape[1])
        ]
        spark.createDataFrame(rows, "sub int, code int, c array<double>").coalesce(
            1
        ).write.mode("overwrite").parquet(store.path("ann_codebooks"))
        store.commit_stage(
            "ann_codebooks", ["ann_codebooks"], {"m": int(B.shape[0]), "dsub": int(B.shape[2])}
        )

    if not store.stage_done("ann_vectors"):
        C = load_centroids(spark, store)
        # physically partitioned by IVF cluster (round-5, VERDICT r4
        # #5): an n_probe-cluster query lists/reads ONLY the probed
        # clusters' files (static partition filter in cosine_topk_ivf);
        # repartition("cluster") keeps it to one file per cluster here
        ivf_assign(embeddings, C, id_col, vec_col).repartition(
            "cluster"
        ).write.mode("overwrite").partitionBy("cluster").parquet(
            store.path("ann_vectors")
        )
        n = spark.read.parquet(store.path("ann_vectors")).count()
        store.commit_stage("ann_vectors", ["ann_vectors"], {"n_vectors": n})

    if not store.stage_done("ann_codes"):
        B = load_codebooks(spark, store)
        pq_encode(embeddings, B, id_col, vec_col).write.mode("overwrite").parquet(
            store.path("ann_codes")
        )
        n = spark.read.parquet(store.path("ann_codes")).count()
        store.commit_stage("ann_codes", ["ann_codes"], {"n_codes_rows": n})
    return store


def load_centroids(spark: SparkSession, store: IndexStore) -> np.ndarray:
    rows = store.read(spark, "ann_centroids").orderBy("cluster").collect()
    return np.stack([np.asarray(r["c"], dtype=np.float64) for r in rows])


def load_codebooks(spark: SparkSession, store: IndexStore) -> np.ndarray:
    rows = store.read(spark, "ann_codebooks").orderBy("sub", "code").collect()
    m = max(r["sub"] for r in rows) + 1
    n_codes = max(r["code"] for r in rows) + 1
    dsub = len(rows[0]["c"])
    B = np.zeros((m, n_codes, dsub))
    for r in rows:
        B[r["sub"], r["code"]] = np.asarray(r["c"], dtype=np.float64)
    return B


def _clean_ann_orphans(spark: SparkSession, store: IndexStore) -> None:
    """Remove tagged part files of every UNCOMMITTED ann batch from the
    live ann tables. IndexStore.orphan_tags only recognizes the
    postings 'b<id>' tag family, so the ann 'ab<id>' tags need their
    own sweep — without it, a batch that crashed between its two
    copy_tagged calls leaves vectors permanently without codes: a later
    batch's anti-join dedup would treat the orphaned vec_ids as
    indexed, making them IVF-visible but PQ-invisible forever."""
    import glob

    stages = store.read_manifest()["stages"]
    for t in ("ann_vectors", "ann_codes"):
        tags = set()
        for f in glob.glob(
            os.path.join(store.path(t), "**", "ab*-*.parquet"), recursive=True
        ):
            name = os.path.basename(f)[: -len(".parquet")]
            tag, _, suffix = name.rpartition("-")
            if not (tag.startswith("ab") and suffix.isdigit()):
                continue
            st = stages.get("ann_batch_" + tag[2:])
            if not st or st.get("status") != "committed":
                tags.add(tag)
        for tag in sorted(tags):
            store.clean_tagged(t, tag)
            spark.catalog.refreshByPath(store.path(t))


def ann_append(
    spark: SparkSession,
    store: IndexStore,
    embeddings: DataFrame,
    batch_id: int | str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Append new vectors: assign + encode with the STORED quantizers
    (no retrain) and add tagged part files to ann_vectors/ann_codes —
    idempotent per batch_id at any crash point, exactly the postings
    append protocol (including the orphan sweep: leftovers of ANY
    crashed, uncommitted batch are removed before the dedup reads the
    live tables)."""
    stage = f"ann_batch_{batch_id}"
    if store.stage_done(stage):
        return store.read_manifest()["stages"][stage]["counters"]
    _clean_ann_orphans(spark, store)
    tag = f"ab{batch_id}"
    existing = spark.read.parquet(store.path("ann_vectors")).select("vec_id")
    fresh = embeddings.join(
        existing, embeddings[id_col] == existing.vec_id, "left_anti"
    )
    staging = os.path.join(store.root, f"_staging_{stage}")
    C = load_centroids(spark, store)
    B = load_codebooks(spark, store)
    # same cluster-partitioned layout as the base table: copy_tagged
    # preserves the cluster=N subdirs, so appended rows stay physically
    # probe-prunable
    ivf_assign(fresh, C, id_col, vec_col).repartition("cluster").write.mode(
        "overwrite"
    ).partitionBy("cluster").parquet(staging + "/ann_vectors")
    pq_encode(fresh, B, id_col, vec_col).write.mode("overwrite").parquet(
        staging + "/ann_codes"
    )
    n_new = spark.read.parquet(staging + "/ann_vectors").count()
    for t in ("ann_vectors", "ann_codes"):
        store.copy_tagged(staging + "/" + t, t, tag)
        spark.catalog.refreshByPath(store.path(t))
    counters = {"new_vectors": int(n_new)}
    store.commit_stage(stage, ["ann_vectors", "ann_codes"], counters)
    import shutil

    shutil.rmtree(staging, ignore_errors=True)
    return counters


def ann_topk_ivf(
    spark: SparkSession,
    store: IndexStore,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 8,
    query_id_col: str = "query_id",
    query_vec_col: str = "q",
) -> DataFrame:
    """IVF ANN off the stored index: the standard cosine_topk_ivf
    operator fed the STORED centroids + assignment table (no refit, no
    reassign — ONE code path keeps the live and stored variants
    rank-identical). The scan touches only the probed clusters' rows
    (cluster is the join key; at scale ann_vectors is written
    partitioned by cluster so the probe prunes at file level)."""
    from tangent_spark.operators.similarity import cosine_topk_ivf

    indexed = store.read(spark, "ann_vectors")
    return cosine_topk_ivf(
        indexed,  # only `indexed`/`centroids` are read below
        queries,
        k=k,
        n_probe=n_probe,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        centroids=load_centroids(spark, store),
        indexed=indexed,
    )


def ann_topk_ivf_filtered(
    spark: SparkSession,
    store: IndexStore,
    queries: DataFrame,
    meta: DataFrame,
    where: str | None,
    k: int = 10,
    n_probe: int = 8,
    meta_id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "q",
    max_driver_candidates: int = 1_000_000,
    brute_force_threshold: int | None = None,
) -> DataFrame:
    """Filtered vector search: ES 8 `knn` with a `filter` clause — the
    metadata predicate restricts the candidate set BEFORE scoring, and
    every query is still guaranteed min(k, |allowed|-1) results.

    `meta` is any DataFrame carrying (meta_id_col + the predicate's
    columns) — e.g. the embeddings table itself, or the docs dictionary
    keyed by the same ids. Route selection mirrors the text path's
    filtered_topk (plans/boolean._route_filter):

    - tiny allowed set (<= brute_force_threshold, default max(64k,
      1024)): skip IVF entirely and score the survivors exactly — the
      ES "exact search when the filter is highly selective" rule; the
      probe machinery can only LOSE recall here and saves nothing.
    - otherwise: IVF probe with SELECTIVITY-SCALED over-probing —
      n_probe_eff = n_probe / (|allowed| / n_vectors), capped at
      n_centroids — so a 10%-selective filter probes ~10x the clusters
      and the expected number of allowed candidates scanned stays the
      same as the unfiltered query's. Queries still short of k after
      the probe (their neighbors hide in unprobed clusters) fall back
      to an exact pass over the allowed set — at most ONE escalation,
      and only for the under-filled queries.

    Scale shape: the allowed-id set travels as a broadcast semi-join
    when it fits the driver cap, else the predicate stays distributed
    and semi-joins the cluster-pruned scan (predicate pushdown on the
    meta scan either way); the probe scan itself keeps the static
    cluster partition filter, so file-level pruning survives the
    filter. All route decisions are driver-side functions of exact
    counts — the result is deterministic for a given (store, queries,
    where).

    Determinism note: satisfied queries keep their probe-pass results
    (exact within the probed clusters); escalated queries get exact
    results over the whole allowed set. Ranks recompute per query on
    (cos desc, vec_id asc) in both paths.
    """
    from tangent_spark.operators.similarity import _cos_cols

    if where is None:
        return ann_topk_ivf(
            spark, store, queries, k=k, n_probe=n_probe,
            query_id_col=query_id_col, query_vec_col=query_vec_col,
        )
    empty = spark.createDataFrame(
        [], "query_id long, rank int, vec_id long, cos double"
    )
    qrows = queries.select(
        F.col(query_id_col).cast("long").alias("query_id"),
        F.col(query_vec_col).cast("array<double>").alias("q"),
    ).collect()
    if not qrows:
        return empty
    cand = meta.filter(where).select(
        F.col(meta_id_col).cast("long").alias("vec_id")
    )
    # ONE bounded job decides the route: cap+1 rows prove "too big to
    # broadcast" without a count over the full match set
    head = cand.limit(max_driver_candidates + 1).toPandas()
    if len(head) == 0:
        return empty
    vectors = store.read(spark, "ann_vectors")
    qs = spark.createDataFrame(
        [(r["query_id"], r["q"]) for r in qrows], "query_id long, q array<double>"
    )

    def exact_over(allowed_vecs: DataFrame, queries_df: DataFrame) -> DataFrame:
        scored = (
            allowed_vecs.select("vec_id", "v")
            .join(F.broadcast(queries_df))
            .filter(F.col("query_id") != F.col("vec_id"))
            .withColumn("cos", _cos_cols("q", "v"))
            .select("query_id", "vec_id", "cos")
        )
        return _global_topk(scored, k)

    driver_route = len(head) <= max_driver_candidates
    if driver_route:
        ids = np.unique(head["vec_id"].to_numpy(np.int64))
        n_allowed = int(len(ids))
        allowed_df = F.broadcast(
            spark.createDataFrame([(int(i),) for i in ids], "vec_id long")
        )
        brute = (
            brute_force_threshold
            if brute_force_threshold is not None
            else max(64 * k, 1024)
        )
        if n_allowed <= brute:
            return exact_over(vectors.join(allowed_df, "vec_id", "left_semi"), qs)
    else:
        n_allowed = int(cand.count())
        allowed_df = cand  # distributed semi-join side
    n_vectors = int(vectors.count())
    C = load_centroids(spark, store)
    n_centroids = int(C.shape[0])
    selectivity = n_allowed / max(n_vectors, 1)
    n_probe_eff = min(
        n_centroids, int(np.ceil(min(n_probe, n_centroids) / max(selectivity, 1e-9)))
    )
    probes = []
    for r in qrows:
        qn = _norm_rows(np.asarray(r["q"], dtype=np.float64)[None, :])[0]
        for c in np.argsort(-(C @ qn), kind="stable")[:n_probe_eff]:
            probes.append((int(r["query_id"]), int(c)))
    probe_df = spark.createDataFrame(probes, "query_id long, cluster int")
    probed_clusters = sorted({c for _, c in probes})
    scored = (
        vectors.filter(F.col("cluster").isin(probed_clusters))
        .join(allowed_df, "vec_id", "left_semi")
        .join(F.broadcast(probe_df), "cluster")
        .filter(F.col("query_id") != F.col("vec_id"))
        .join(F.broadcast(qs), "query_id")
        .withColumn("cos", _cos_cols("q", "v"))
        .select("query_id", "vec_id", "cos")
    )
    topk = _global_topk(scored, k).persist()
    try:
        if n_probe_eff >= n_centroids:
            return spark.createDataFrame(topk.collect(), topk.schema)
        got = {
            int(r["query_id"]): int(r["n"])
            for r in topk.groupBy("query_id").agg(F.count("*").alias("n")).collect()
        }
        short = [int(r["query_id"]) for r in qrows if got.get(int(r["query_id"]), 0) < k]
        if not short:
            return spark.createDataFrame(topk.collect(), topk.schema)
        # exact fallback over the allowed set for the under-filled
        # queries only — the probe results for satisfied queries stand
        sq = qs.filter(F.col("query_id").isin(short))
        exact = exact_over(vectors.join(allowed_df, "vec_id", "left_semi"), sq)
        keep = topk.filter(~F.col("query_id").isin(short))
        return spark.createDataFrame(
            keep.unionByName(exact).collect(), topk.schema
        )
    finally:
        topk.unpersist()


def ann_topk_pq(
    spark: SparkSession,
    store: IndexStore,
    queries: DataFrame,
    k: int = 10,
    refine: int = 50,
    query_id_col: str = "query_id",
    query_vec_col: str = "q",
) -> DataFrame:
    """PQ-ADC ANN off the stored index: LUT scan over the stored m-byte
    codes, exact re-rank of the top `refine` candidates against the
    stored float vectors (id semi-join — never a float scan)."""
    B = load_codebooks(spark, store)
    codes = store.read(spark, "ann_codes")
    vectors = store.read(spark, "ann_vectors").select(
        "vec_id", F.col("v").alias("embedding")
    )
    return cosine_topk_pq(
        vectors,
        queries,
        k=k,
        refine=refine,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        codebooks=B,
        codes=codes,
    )
