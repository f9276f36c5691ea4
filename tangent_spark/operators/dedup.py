"""Deduplication operators for large-scale training-data pipelines.

Not present in the reference (it dedups only *formulas* by SLT string,
mathindex.cpp:339-342 — the P5 semantics our formula index reuses);
these are the document-level analogs a Common-Crawl-scale corpus needs:

  exact        : md5 grouping (one shuffle on the hash)
  minhash-LSH  : shingle -> minhash signature (vectorized permutation
                 trick) -> banded buckets -> candidate pairs -> verify
  simhash      : 64-bit weighted-bit fingerprint; near-dup = small
                 hamming distance, found via 4x16-bit band blocking
  ngram-jaccard: exact verification on candidate pairs via shingle join

Scale notes: every stage is a plain DataFrame shuffle keyed on a hash
(uniform by construction). Candidate generation never does a cross
join — pairs only form inside an LSH bucket / simhash band, the same
inverted-index-join pattern the text engine uses for postings.

Materialize what you read twice: a frame that a function reads more
than once is materialized once with an eager localCheckpoint(). Spark
does not reuse a subtree that sits under exchanges on different keys,
so a lazy input read by both sides of a join re-runs its whole
lineage, Python kernels included, once per read. Not persist(): these
functions return lazy frames, no caller holds a handle to unpersist,
and a CacheManager entry lives until it is unpersisted, while the
ContextCleaner frees a checkpointed RDD once it is unreachable. Not a
lazy checkpoint either: materializing one inside a larger job can log
"non-existent accumulator" warnings.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator, List

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tangent_spark.functions.tokenize import tokenize_simple

# deterministic 64-bit permutation parameters (fixed seed; odd multipliers)
_MERSENNE = (1 << 61) - 1


def _perm_params(n_hashes: int, seed: int = 42):
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, n_hashes, dtype=np.uint64) | np.uint64(1)
    b = rng.integers(0, _MERSENNE, n_hashes, dtype=np.uint64)
    return a, b


def _shingles(text: str, k: int) -> List[str]:
    toks = tokenize_simple(text)
    if len(toks) < k:
        return [" ".join(toks)] if toks else []
    return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]


def _release(checkpointed: DataFrame) -> None:
    """Free the blocks of a localCheckpoint() frame now. DataFrame.unpersist
    only drops CacheManager entries, so on a checkpoint it is a no-op;
    the stored rows belong to the RDD under the frame's LogicalRDD leaf."""
    checkpointed._jdf.logicalPlan().rdd().unpersist(False)


def _base_hash64(values: List[str]) -> np.ndarray:
    """Stable 64-bit hash per shingle (blake2b, process-independent —
    python's builtin hash() is salted per process and must never be
    used for cross-executor hashing)."""
    out = np.empty(len(values), dtype=np.uint64)
    for i, v in enumerate(values):
        out[i] = struct.unpack(
            "<Q", hashlib.blake2b(v.encode("utf-8"), digest_size=8).digest()
        )[0]
    return out


# --- exact -------------------------------------------------------------------

def exact_dup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(text_hash, n_docs, keep_id): groups of byte-identical texts."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col).alias("doc_id"))
        .groupBy("text_hash")
        .agg(F.count("*").cast("int").alias("n_docs"), F.min("doc_id").alias("keep_id"))
    )


# --- minhash + LSH -------------------------------------------------------------

def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 64,
    shingle_k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(doc_id, sig: array<long>) — MinHash over token-k-gram shingles.
    One blake2b per shingle, then all n_hashes permutations vectorized:
    sig_i = min over shingles of (a_i * h + b_i) mod p."""
    a, b = _perm_params(n_hashes, seed)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sigs = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                sh = _shingles(text if isinstance(text, str) else "", shingle_k)
                if not sh:
                    continue
                h = _base_hash64(sh)
                # (n_hashes, n_shingles) permuted values; min over shingles
                perm = (np.outer(a, h) + b[:, None]) % _MERSENNE
                sigs.append(perm.min(axis=1).astype(np.int64))
                ids.append(int(doc_id))
            yield pd.DataFrame({"doc_id": ids, "sig": [s.tolist() for s in sigs]})

    return df.select(id_col, text_col).mapInPandas(
        kernel, schema="doc_id long, sig array<long>"
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket_size: int = 10_000,
) -> DataFrame:
    """Banded LSH: docs sharing any band bucket become a candidate pair
    (doc_a < doc_b), with the estimated Jaccard = fraction of equal
    signature components. Bucket join is an equi-join on
    (band, band_hash) — no cross join anywhere.

    Scale shape: only (doc_id, band, bucket) rides through the bands-way
    explosion and self-join — the full signature array (8*n_hashes bytes
    per doc) joins back exactly once per side AFTER pair dedup, so shuffle
    weight is O(pairs * sig) not O(pairs * bands * sig). Degenerate buckets
    (e.g. every empty doc hashing identically) are capped at
    max_bucket_size docs — a bucket of size m emits m(m-1)/2 pairs, so one
    hot bucket would otherwise go quadratic; dropped buckets are those
    where MinHash has collapsed (near-identical boilerplate), which the
    surviving bands still pair up unless all 16 collapse together.

    Runs one Spark job when called: `signatures` is read three times
    (bucket explosion and both join-backs), so it is materialized first
    and the min-hash kernel runs once."""
    n = bands * rows_per_band
    signatures = signatures.select("doc_id", "sig").localCheckpoint(eager=True)
    buckets = signatures.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        F.lit(b),
                        F.concat_ws(",", F.slice("sig", b * rows_per_band + 1, rows_per_band)),
                    ).alias("bucket"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    small = buckets.join(
        buckets.groupBy("band", "bucket")
        .agg(F.count("*").alias("_bs"))
        .filter(F.col("_bs") <= max_bucket_size)
        .drop("_bs"),
        ["band", "bucket"],
        "left_semi",
    )
    x, y = small.alias("x"), small.alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    pairs = (
        pairs.join(signatures.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sig", "sig_a"), "doc_a")
        .join(signatures.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sig", "sig_b"), "doc_b")
    )
    est = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda p, q: p == q), lambda v: v)
    ) / F.lit(n)
    return pairs.select("doc_a", "doc_b", F.round(est, 4).alias("est_jaccard"))


def jaccard_verify(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs only (semi-join
    restricts the shingle explosion to docs that appear in a pair).

    Optional hot-shingle guard (OPT-IN; default None = exact Jaccard):
    a boilerplate shingle shared by D candidate docs contributes O(D^2)
    rows to the shingle⋈shingle equi-join and lands on one reducer.
    With max_shingle_df set, shingles with document frequency >
    max_shingle_df are dropped from BOTH the intersection and the set
    sizes, so the reported value is the exact Jaccard over
    non-boilerplate shingles — a documented, consistent estimator
    (biased toward the distinctive content, which is what near-dup
    detection wants) with per-shingle join fan-out bounded by
    max_shingle_df^2. At 100-TB scale you want the cap ON; it is opt-in
    so exact-threshold callers never silently change semantics.

    Runs Spark jobs when called: `candidates` (read three times) and the
    shingle rows (read by the set sizes and both sides of the shingle
    join) are each materialized once, so the shingle kernel runs once."""
    candidates = candidates.select("doc_a", "doc_b").localCheckpoint(eager=True)
    docs_in_pairs = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .union(candidates.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    relevant = df.join(docs_in_pairs, df[id_col] == docs_in_pairs.doc_id, "left_semi")

    def shingle_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, shs = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                for sh in set(_shingles(text if isinstance(text, str) else "", shingle_k)):
                    ids.append(int(doc_id))
                    shs.append(sh)
            yield pd.DataFrame({"doc_id": ids, "shingle": shs})

    g = (
        relevant.select(id_col, text_col)
        .mapInPandas(shingle_rows, schema="doc_id long, shingle string")
        .localCheckpoint(eager=True)
    )
    if max_shingle_df is not None:
        capped = g.join(
            g.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_shingle_df)
            .drop("_df"),
            "shingle",
            "left_semi",
        ).localCheckpoint(eager=True)
        _release(g)
        g = capped
    sizes = g.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        g.alias("p")
        .join(candidates, F.col("p.doc_id") == F.col("doc_a"))
        .join(
            g.alias("q"),
            (F.col("q.doc_id") == F.col("doc_b")) & (F.col("p.shingle") == F.col("q.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .withColumn("jaccard", F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 4))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# --- simhash -------------------------------------------------------------------

def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, simhash) — 64-bit SimHash over tokens weighted by tf."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fps = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = tokenize_simple(text if isinstance(text, str) else "")
                if not toks:
                    continue
                uniq, counts = np.unique(toks, return_counts=True)
                h = _base_hash64(list(uniq))
                bits = (h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
                votes = ((bits.astype(np.int64) * 2 - 1) * counts[:, None]).sum(axis=0)
                fp = np.uint64(0)
                for j in np.flatnonzero(votes > 0):
                    fp |= np.uint64(1) << np.uint64(j)
                ids.append(int(doc_id))
                fps.append(np.int64(fp))
            yield pd.DataFrame({"doc_id": ids, "simhash": fps})

    return df.select(id_col, text_col).mapInPandas(kernel, schema="doc_id long, simhash long")


def simhash_near_pairs(signatures: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by hamming distance <= max_hamming, blocked on
    4x16-bit bands (pigeonhole: distance <=3 -> at least one of 4 bands
    equal), so the join is again a bucket equi-join."""
    bands = [
        (F.shiftrightunsigned(F.col("simhash"), 16 * b).bitwiseAND(F.lit(0xFFFF))).alias(f"band{b}")
        for b in range(4)
    ]
    s = signatures.select("doc_id", "simhash", *bands)
    rows = s.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("key")) for b in range(4)])
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.key")
    x, y = rows.alias("x"), rows.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.key") == F.col("y.key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.simhash").alias("ha"),
            F.col("y.simhash").alias("hb"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# --- cluster + keep policy -------------------------------------------------------

def _large_star(e: DataFrame) -> DataFrame:
    """Large-star step: every node connects its LARGER neighbors to the
    minimum of its closed neighborhood. E' = {(v, min(Γ(u) ∪ {u})) :
    v ∈ Γ(u), v > u}. Output edges oriented big->small.

    min(closed neighborhood) is attached with a WINDOW min over
    partitionBy(u) — ONE exchange — instead of groupBy + self-join
    (which costs the same hash(u) exchange for the join probe side PLUS
    the groupBy exchange PLUS sort-merge sorts). The output is NOT
    deduped: _small_star's tail distinct dedups the round anyway, and
    row count stays bounded (exactly one output row per input edge)."""
    g = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    w = Window.partitionBy("u")
    m = F.least(F.min("v").over(w), F.col("u"))
    return (
        g.withColumn("m", m)
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(e: DataFrame, oriented: bool = False) -> DataFrame:
    """Small-star step: orient edges big->small, group each node's
    SMALLER neighbors, link them all (and the node) to the minimum.

    oriented=True skips the canonicalize + distinct pre-pass — valid
    when the input is already strictly big->small (what _large_star
    emits; duplicate rows are fine, the tail distinct owns dedup).

    Same window-min rewrite as _large_star (one exchange instead of
    groupBy + join), and the two output legs ((v, m) for non-min
    neighbors plus the (u, m) self edge) are emitted in ONE pass via
    explode, so the window is evaluated once — a union of two selects
    over the windowed frame would run the window subtree twice."""
    if oriented:
        g = e
    else:
        g = (
            e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
    g = g.withColumn("m", F.min("v").over(Window.partitionBy("u")))
    pair = F.when(
        F.col("v") != F.col("m"),
        F.array(
            F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
            F.struct(F.col("u").alias("u"), F.col("m").alias("v")),
        ),
    ).otherwise(F.array(F.struct(F.col("u").alias("u"), F.col("m").alias("v"))))
    return (
        g.select(F.explode(pair).alias("e"))
        .select(F.col("e.u").alias("u"), F.col("e.v").alias("v"))
        .distinct()
    )


def connected_components_star(pairs: DataFrame, max_iter: int = 30) -> tuple[DataFrame, int]:
    """(labels, n_rounds): connected components via alternating
    large-star / small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14). Converges in O(log^2 n) rounds on
    ANY graph shape — including long chains and billion-edge dedup
    graphs where plain min-label propagation needs O(diameter) rounds.

    Round cost (round-6 rewrite; labels bit-identical to the
    groupBy+join formulation, tested): THREE exchanges — large-star
    window min on u, small-star window min on u, tail distinct — and
    ONE job: the per-round localCheckpoint is lazy, so the convergence
    count() both materializes the checkpoint and reads the row count,
    instead of paying a separate eager-checkpoint job. Superseded
    checkpoints are released as rounds advance so executor storage
    stays bounded on billion-edge graphs; on return only the converged
    edge set, which the labels read, is still stored.

    Raises RuntimeError, after releasing every checkpoint it made, when
    the edge set has not converged within max_iter rounds: unconverged
    stars would label one component with several ids.

    Returns labels (doc_id, component) covering every node that appears
    in `pairs`, component = min doc_id of the node's component."""
    e = (
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    rounds = 0
    prev: DataFrame | None = None
    nxt: DataFrame | None = None
    converged = False
    try:
        n_e = e.count()
        while rounds < max_iter:
            rounds += 1
            nxt = _small_star(_large_star(e), oriented=True).localCheckpoint(eager=False)
            # converged iff the edge sets are identical (both canonical
            # big->small and deduped, so count + one-sided anti-join
            # suffice); the previous round's count is carried over, so
            # each round pays ONE count job, not two
            n_nxt = nxt.count()
            converged = (
                n_nxt == n_e
                and nxt.join(e, ["u", "v"], "left_anti").limit(1).count() == 0
            )
            if prev is not None:
                # two generations back: no longer referenced by any live
                # plan (nxt is materialized, the convergence join read e)
                _release(prev)
            prev, e, n_e = e, nxt, n_nxt
            if converged:
                break
    finally:
        if prev is not None:
            _release(prev)
        if not converged:
            _release(e)
            if nxt is not None:
                _release(nxt)
    if not converged:
        raise RuntimeError(
            f"connected_components_star: edge set not converged after "
            f"max_iter={max_iter} rounds"
        )
    # converged stars: every non-root points straight at its root, and
    # each non-root u appears exactly once as a left endpoint. Labels
    # come out of ONE groupBy-min over (edge rows + (v, v) self rows):
    # a non-root u contributes only (u, root) [min = root]; a root r
    # contributes only (r, r) [min = r] — identical rows to the old
    # two-distinct + anti-join + union tail, one exchange instead of
    # three plus a join.
    labels = (
        e.select(F.col("u").alias("doc_id"), F.col("v").alias("component"))
        .union(e.select(F.col("v").alias("doc_id"), F.col("v").alias("component")))
        .groupBy("doc_id")
        .agg(F.min("component").alias("component"))
    )
    return labels, rounds


def dedup_keep_list(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, keep): keep = True unless the doc is in a dup cluster
    and is not the cluster's minimum id. Clusters come from the
    O(log^2 n)-round large-star/small-star connected_components_star."""
    comps, _ = connected_components_star(pairs)
    losers = comps.filter(F.col("doc_id") != F.col("component")).select("doc_id")
    return df.select(F.col(id_col).alias("doc_id")).join(
        losers.withColumn("keep", F.lit(False)), "doc_id", "left"
    ).na.fill({"keep": True})
