"""Dedup family, ANN similarity, and multimodal plumbing tests with
planted duplicates / planted neighbors and numpy oracles."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tangent_spark.corpus import make_page
from tangent_spark.operators.dedup import (
    connected_components_star,
    dedup_keep_list,
    exact_dup_groups,
    jaccard_verify,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash_near_pairs,
    simhash_signatures,
)
from tangent_spark.operators.multimodal import (
    decode_images,
    sample_frames,
    synthetic_media,
)
from tangent_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
)


@pytest.fixture(scope="module")
def planted_docs(spark):
    """40 base docs + exact dup of #0 + near dup of #1 (one token swap)."""
    rows = []
    for i in range(40):
        rows.append((i, make_page(i)["text"]))
    rows.append((100, rows[0][1]))  # exact dup of doc 0
    toks = rows[1][1].split(" ")
    toks[5] = "zzz"
    rows.append((101, " ".join(toks)))  # near dup of doc 1
    return spark.createDataFrame(rows, "doc_id long, text string").persist()


def test_exact_dedup(spark, planted_docs):
    groups = exact_dup_groups(planted_docs).filter(F.col("n_docs") > 1).collect()
    assert len(groups) == 1
    assert groups[0]["n_docs"] == 2 and groups[0]["keep_id"] == 0


def test_minhash_lsh_finds_planted_pair(spark, planted_docs):
    sigs = minhash_signatures(planted_docs, n_hashes=64, shingle_k=3)
    cand = lsh_candidate_pairs(sigs, bands=16, rows_per_band=4)
    pairs = {(r["doc_a"], r["doc_b"]): r["est_jaccard"] for r in cand.collect()}
    assert (0, 100) in pairs and pairs[(0, 100)] == 1.0
    assert (1, 101) in pairs and pairs[(1, 101)] > 0.5


def test_jaccard_verify(spark, planted_docs):
    sigs = minhash_signatures(planted_docs)
    cand = lsh_candidate_pairs(sigs)
    verified = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_verify(planted_docs, cand, threshold=0.5).collect()
    }
    assert verified[(0, 100)] == 1.0
    assert 0.5 <= verified[(1, 101)] < 1.0
    # oracle check of the near-dup jaccard
    a = set(" ".join(w) for w in zip(*[make_page(1)["text"].lower().split()[i:] for i in range(3)]))
    assert len(a) > 0


def test_jaccard_verify_default_is_exact_and_cap_is_optin(spark, planted_docs):
    """Default (max_shingle_df=None) must be EXACT Jaccard; the hot-shingle
    cap is opt-in and only then may change values (ADVICE fix)."""
    sigs = minhash_signatures(planted_docs)
    cand = lsh_candidate_pairs(sigs)
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_verify(planted_docs, cand, threshold=0.0).collect()
    }
    # numpy oracle for the planted near pair (exact shingle Jaccard)
    def sh(text):
        toks = [t for t in "".join(c if c.isalnum() else " " for c in text.lower()).split()]
        return set(" ".join(toks[i : i + 3]) for i in range(len(toks) - 2))

    texts = {r["doc_id"]: r["text"] for r in planted_docs.collect()}
    a, b = sh(texts[1]), sh(texts[101])
    want = round(len(a & b) / len(a | b), 4)
    assert exact[(1, 101)] == want
    # opt-in cap with a tiny df threshold shrinks the shingle universe
    capped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_verify(
            planted_docs, cand, threshold=0.0, max_shingle_df=1
        ).collect()
    }
    assert capped != exact  # the planted exact-dup pair's shared shingles all have df>=2


def test_similarity_rejects_non_integral_ids(spark):
    docs = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])], "vec_id string, embedding array<double>"
    )
    qs = spark.createDataFrame([(0, [1.0, 0.0])], "query_id long, q array<double>")
    with pytest.raises(TypeError, match="integral id"):
        cosine_topk_bruteforce(docs, qs, k=1)


def test_simhash(spark, planted_docs):
    sigs = simhash_signatures(planted_docs)
    near = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_pairs(sigs, max_hamming=6).collect()
    }
    assert near.get((0, 100)) == 0
    assert (1, 101) in near


def test_connected_components_and_keep(spark, planted_docs):
    pairs = spark.createDataFrame(
        [(0, 100), (1, 101), (101, 102)], "doc_a long, doc_b long"
    )
    labels, _ = connected_components_star(pairs)
    comps = {r["doc_id"]: r["component"] for r in labels.collect()}
    assert comps[100] == 0 and comps[1] == 1 and comps[101] == 1 and comps[102] == 1
    keep = {r["doc_id"]: r["keep"] for r in dedup_keep_list(planted_docs, pairs).collect()}
    assert keep[0] is True and keep[100] is False and keep[101] is False
    assert keep[1] is True and all(keep[i] for i in range(2, 40))


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dedup_kernels_run_once_inside_checkpoints(spark, planted_docs):
    """Each Python kernel runs once, inside the eager checkpoint of the
    frame its function reads more than once: the executed plans the
    functions return read stored rows and hold no MapInPandas node."""
    cand = lsh_candidate_pairs(minhash_signatures(planted_docs))
    verified = jaccard_verify(planted_docs, cand)
    for df in (cand, verified):
        df.collect()
        assert "MapInPandas" not in _executed_plan(df)
    assert "MapInPandas" in _executed_plan(minhash_signatures(planted_docs))


def _persistent_rdd_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _checkpoint_rdd_ids(df) -> set:
    leaves = df._jdf.queryExecution().logical().collectLeaves()
    return {
        leaves.apply(i).rdd().id()
        for i in range(leaves.size())
        if leaves.apply(i).getClass().getSimpleName() == "LogicalRDD"
    }


def test_star_cc_releases_superseded_rounds(spark):
    """A converged call leaves no round checkpoint stored except the
    converged edge set that the returned labels read."""
    edges = [(i, i + 1) for i in range(200)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    before = _persistent_rdd_ids(spark)
    labels, rounds = connected_components_star(pairs)
    assert rounds > 2
    held = _persistent_rdd_ids(spark) - before
    assert held <= _checkpoint_rdd_ids(labels)
    assert {r["component"] for r in labels.collect()} == {0}


def test_star_cc_unconverged_raises_and_releases(spark):
    """Running out of max_iter on a long chain raises instead of
    returning unconverged labels, and frees every round checkpoint."""
    edges = [(i, i + 1) for i in range(200)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    before = _persistent_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="not converged after max_iter=2"):
        connected_components_star(pairs, max_iter=2)
    assert _persistent_rdd_ids(spark) <= before


def _uf_oracle(edges):
    """Pure-python union-find: doc_id -> min id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_star_cc_matches_union_find_oracle(spark):
    """Star CC on an adversarial mix: a long chain (diameter >> rounds —
    exactly where min-label propagation breaks), a big star, random
    small components, and singleton pairs."""
    rng = np.random.default_rng(11)
    edges = [(i, i + 1) for i in range(1000, 3000)]          # chain, diameter 2000
    edges += [(5000, 5000 + i) for i in range(1, 300)]        # star
    edges += [
        (int(a), int(b))
        for a, b in zip(rng.integers(9000, 9400, 500), rng.integers(9000, 9400, 500))
        if a != b
    ]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    labels, rounds = connected_components_star(pairs)
    got = {r["doc_id"]: r["component"] for r in labels.collect()}
    want = _uf_oracle(edges)
    assert got == want
    # O(log^2 n) convergence, far below the 2000-round diameter
    assert rounds <= 12, rounds
    # every node labeled exactly once
    assert labels.count() == len(want)


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(7)
    base = rng.standard_normal((60, 16)).astype(np.float32)
    base[10] = base[0] + 0.01 * rng.standard_normal(16).astype(np.float32)  # planted nbr
    rows = [(int(i), base[i].tolist()) for i in range(60)]
    return (
        spark.createDataFrame(rows, "vec_id long, embedding array<float>").persist(),
        base,
    )


def test_bruteforce_matches_numpy(spark, emb):
    df, base = emb
    queries = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    got = cosine_topk_bruteforce(df, queries, k=5).collect()
    m = base / np.linalg.norm(base, axis=1, keepdims=True)
    sims = m @ m.T
    for qid in (0, 1):
        order = [
            i for i in np.lexsort((np.arange(60), -np.round(sims[qid], 12))) if i != qid
        ][:5]
        mine = [r["vec_id"] for r in got if r["query_id"] == qid]
        assert mine == order
    top = [r for r in got if r["query_id"] == 0 and r["rank"] == 1][0]
    assert top["vec_id"] == 10  # the planted neighbor


def test_lsh_recall(spark, emb):
    df, _ = emb
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    exact = cosine_topk_bruteforce(df, queries, k=5).collect()
    approx = cosine_topk_lsh(df, queries, k=5, dim=16, n_tables=12, n_planes=6).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    hit = total = 0
    for r in approx:
        total += 1
        if r["vec_id"] in exact_sets[r["query_id"]]:
            hit += 1
    assert total > 0
    recall = hit / (5 * len(exact_sets))
    assert recall >= 0.5, f"LSH recall too low: {recall}"


@pytest.fixture(scope="module")
def clustered_emb(spark):
    """Mixture of 12 gaussian clusters — the data shape IVF targets
    (real embedding tables are clustered, not isotropic noise)."""
    rng = np.random.default_rng(19)
    centers = rng.standard_normal((12, 16)) * 4.0
    vecs = np.concatenate(
        [c + 0.3 * rng.standard_normal((50, 16)) for c in centers]
    ).astype(np.float64)
    rows = [(int(i), vecs[i].tolist()) for i in range(len(vecs))]
    return (
        spark.createDataFrame(rows, "vec_id long, embedding array<double>").persist(),
        vecs,
    )


def test_ivf_recall_on_clustered_corpus(spark, clustered_emb):
    """VERDICT item #7 'Done' bar: recall@10 >= 0.9 vs the brute-force
    oracle, plan is a bucket equi-join (no all-pairs)."""
    from tangent_spark.operators.similarity import cosine_topk_ivf

    df, _ = clustered_emb
    queries = df.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    nq = queries.count()
    exact = cosine_topk_bruteforce(df, queries, k=10).collect()
    approx = cosine_topk_ivf(
        df, queries, k=10, n_centroids=16, n_probe=4, seed=3
    ).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = sum(1 for r in approx if r["vec_id"] in exact_sets[r["query_id"]])
    recall = hits / (10 * nq)
    assert recall >= 0.9, f"IVF recall@10 too low: {recall}"
    # probing only 4/16 clusters must actually prune the candidate set
    assert len(approx) <= 10 * nq


def test_ivf_full_probe_equals_bruteforce(spark, emb):
    """n_probe == n_centroids probes every bucket -> EXACT results, even
    on isotropic random data (the recall knob's upper end)."""
    from tangent_spark.operators.similarity import cosine_topk_ivf

    df, _ = emb
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    exact = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["cos"])
        for r in cosine_topk_bruteforce(df, queries, k=5).collect()
    }
    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["cos"])
        for r in cosine_topk_ivf(
            df, queries, k=5, n_centroids=8, n_probe=8, seed=5
        ).collect()
    }
    assert got == exact


def test_ppm_bmp_decoders_pixel_exact():
    """The numpy decoders are REAL: PPM round-trips pixel-exactly, BMP
    (bottom-up, BGR, padded rows) reproduces the same pixels."""
    import struct

    import numpy as np

    from tangent_spark.operators.multimodal import (
        decode_bmp,
        decode_ppm,
        encode_ppm,
        image_features,
        make_test_image,
        resize_nearest,
    )

    img = make_test_image(7, w=13, h=9)  # odd width -> BMP row padding
    assert decode_ppm(encode_ppm(img)).tolist() == img.tolist()
    # PPM header grammar: comments + arbitrary whitespace
    wire = b"P6\n# comment\n 13\t9\n# more\n255\n" + img.tobytes()
    assert decode_ppm(wire).tolist() == img.tolist()

    # hand-built 24-bit BMP of the same pixels
    h, w = img.shape[:2]
    stride = (w * 3 + 3) & ~3
    body = b""
    for row in img[::-1]:  # bottom-up
        body += row[:, ::-1].tobytes() + b"\0" * (stride - w * 3)
    bmp = (
        b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0)
        + body
    )
    assert decode_bmp(bmp).tolist() == img.tolist()

    small = resize_nearest(img, 4, 4)
    assert small.shape == (4, 4, 3)
    f = image_features(img, 16)
    assert f.shape == (16,) and 0.0 <= float(f.min()) and float(f.max()) <= 1.0


def test_multimodal_pipeline(spark):
    from tangent_spark.corpus import generate_pages, pages_with_doc_ids
    from tangent_spark.operators.multimodal import (
        image_features,
        make_test_image,
    )

    pages = pages_with_doc_ids(generate_pages(spark, 20, partitions=3))
    media = synthetic_media(pages)
    feats = decode_images(media)
    rows = feats.collect()
    assert len(rows) == 20
    r = rows[0]
    # REAL decode of the generated PPMs — exact dims + features match a
    # local decode of the same deterministic image
    assert (r["width"], r["height"], r["channels"]) == (32, 24, 3)
    assert r["decoder"] == "ppm-numpy"
    local = image_features(make_test_image(int(r["doc_id"])), 16)
    assert [round(x, 6) for x in r["features"]] == [round(float(x), 6) for x in local]
    # deterministic across runs
    again = decode_images(media).collect()
    assert sorted((x["doc_id"], x["width"]) for x in again) == sorted(
        (x["doc_id"], x["width"]) for x in rows
    )
    # strict mode still passes: every payload decodes for real
    assert decode_images(media, strict=True).count() == 20
    frames = sample_frames(media, every_ms=500, max_frames=4)
    fr = frames.collect()
    assert len(fr) >= 20  # row explosion happened
    by_doc = {}
    for x in fr:
        by_doc.setdefault(x["doc_id"], []).append(x["ts_ms"])
    assert all(ts == sorted(ts) for ts in by_doc.values())
    # codec formats: stub in default mode, NotImplementedError when strict
    jpeg_like = media.withColumn(
        "media", F.concat(F.lit(bytearray(b"\xff\xd8\xff")), F.col("media"))
    )
    stub_rows = decode_images(jpeg_like).collect()
    assert all(x["decoder"] == "stub-blake2b" for x in stub_rows)
    with pytest.raises(Exception, match="codec"):
        decode_images(jpeg_like, strict=True).count()


def test_pq_recall_on_clustered_corpus(spark, clustered_emb):
    """PQ-ADC + exact refine: recall@10 >= 0.9 vs brute force on the
    clustered corpus (the 100-TB memory path: m bytes/vector scanned,
    floats touched only for `refine` candidates per query)."""
    from tangent_spark.operators.similarity import cosine_topk_pq

    df, _ = clustered_emb
    queries = df.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    nq = queries.count()
    exact = cosine_topk_bruteforce(df, queries, k=10).collect()
    approx = cosine_topk_pq(
        df, queries, k=10, m=8, n_codes=64, refine=60, seed=7
    ).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = sum(1 for r in approx if r["vec_id"] in exact_sets[r["query_id"]])
    recall = hits / (10 * nq)
    assert recall >= 0.9, f"PQ recall@10 too low: {recall}"
    # re-ranked scores are EXACT cosines: spot-check against brute force
    exact_scores = {(r["query_id"], r["vec_id"]): r["cos"] for r in exact}
    for r in approx:
        key = (r["query_id"], r["vec_id"])
        if key in exact_scores:
            assert abs(r["cos"] - exact_scores[key]) < 1e-6


def test_pq_encode_deterministic_and_compact(spark, clustered_emb):
    from tangent_spark.operators.similarity import pq_encode, pq_train

    df, vecs = clustered_emb
    books = pq_train(df, m=4, n_codes=32, seed=7)
    assert books.shape == (4, 32, 4)
    c1 = {r["vec_id"]: tuple(r["codes"]) for r in pq_encode(df, books).collect()}
    c2 = {r["vec_id"]: tuple(r["codes"]) for r in pq_encode(df, books).collect()}
    assert c1 == c2 and len(c1) == len(vecs)
    assert all(len(v) == 4 and all(0 <= c < 32 for c in v) for v in c1.values())


# --- embedding-cosine near-dup pairs ------------------------------------------

@pytest.fixture(scope="module")
def neardup_emb(spark):
    """Planted near-dup clusters: 30 bases x 4 noisy copies (cos >= ~0.97
    within a cluster) + 80 singletons — the web-scale embedding-dedup
    regime (tight duplicate groups in an otherwise spread space)."""
    rng = np.random.default_rng(7)
    rows = []
    vid = 0
    truth = []  # (a, b) same-cluster pairs
    for c in range(30):
        base = rng.standard_normal(16)
        base /= np.linalg.norm(base)
        members = []
        for _ in range(4):
            v = base + 0.08 * rng.standard_normal(16)
            rows.append((vid, (v / np.linalg.norm(v)).tolist()))
            members.append(vid)
            vid += 1
        truth += [(a, b) for i, a in enumerate(members) for b in members[i + 1:]]
    for _ in range(80):
        v = rng.standard_normal(16)
        rows.append((vid, (v / np.linalg.norm(v)).tolist()))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return df.persist(), truth


def test_embedding_near_dup_exact_matches_numpy(spark, neardup_emb):
    from tangent_spark.operators.similarity import embedding_near_dup_pairs_exact

    df, _ = neardup_emb
    local = {int(r["vec_id"]): np.asarray(r["embedding"]) for r in df.collect()}
    ids = sorted(local)
    M = np.stack([local[i] / np.linalg.norm(local[i]) for i in ids])
    C = M @ M.T
    exp = sorted(
        (ids[i], ids[j], round(float(C[i, j]), 4))
        for i in range(len(ids)) for j in range(i + 1, len(ids))
        if round(float(C[i, j]), 6) >= 0.9
    )
    got = sorted(
        (int(r["doc_a"]), int(r["doc_b"]), round(float(r["cos"]), 4))
        for r in embedding_near_dup_pairs_exact(df, 0.9).collect()
    )
    assert got == exp and len(got) >= 100  # most of 30 clusters x C(4,2)=6


def test_embedding_near_dup_lsh_precision_and_recall(spark, neardup_emb):
    """The LSH scale path: zero false positives by construction
    (exact verify), high recall on the planted clusters, and the
    emitted set is a subset of the exact operator's output with
    identical cosines."""
    from tangent_spark.operators.similarity import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_exact,
    )

    df, _ = neardup_emb
    exact = {
        (int(r["doc_a"]), int(r["doc_b"])): float(r["cos"])
        for r in embedding_near_dup_pairs_exact(df, 0.9).collect()
    }
    got = {
        (int(r["doc_a"]), int(r["doc_b"])): float(r["cos"])
        for r in embedding_near_dup_pairs(
            df, 0.9, dim=16, n_tables=12, n_planes=8
        ).collect()
    }
    assert set(got) <= set(exact)  # no false positives
    for p, c in got.items():
        assert c == exact[p], p  # verification scores identical
    recall = len(got) / len(exact)
    assert recall >= 0.95, f"near-dup LSH recall too low: {recall}"


def test_embedding_near_dup_bucket_cap_drops_recall_only(spark, neardup_emb):
    from tangent_spark.operators.similarity import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_exact,
    )

    df, _ = neardup_emb
    exact = {
        (int(r["doc_a"]), int(r["doc_b"]))
        for r in embedding_near_dup_pairs_exact(df, 0.9).collect()
    }
    capped = {
        (int(r["doc_a"]), int(r["doc_b"]))
        for r in embedding_near_dup_pairs(
            df, 0.9, dim=16, n_tables=12, n_planes=8, max_bucket=2
        ).collect()
    }
    assert capped <= exact  # a tiny cap loses pairs, never invents them
