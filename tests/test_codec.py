import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tangent_spark.codec import (
    bm25_tf_norm,
    decode_posting_list,
    delta_decode,
    delta_encode,
    encode_posting_list,
    varint_decode,
    varint_encode,
)


def test_varint_simple():
    vals = np.array([0, 1, 127, 128, 129, 16383, 16384, 2**32, 2**62], dtype=np.uint64)
    assert (varint_decode(varint_encode(vals)) == vals).all()


def test_varint_empty():
    assert varint_encode(np.array([], dtype=np.uint64)) == b""
    assert varint_decode(b"").size == 0


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(values):
    vals = np.array(values, dtype=np.uint64)
    assert (varint_decode(varint_encode(vals)) == vals).all()


@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=500, unique=True)
)
@settings(max_examples=100, deadline=None)
def test_delta_roundtrip(ids):
    arr = np.array(sorted(ids), dtype=np.uint64)
    assert (delta_decode(delta_encode(arr)) == arr).all()


@given(
    st.integers(min_value=1, max_value=700),  # n postings
    st.integers(min_value=1, max_value=200),  # block size
    st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=50, deadline=None)
def test_posting_list_roundtrip(n, block_size, base):
    rng = np.random.default_rng(base % 1000)
    ids = np.sort(rng.choice(np.arange(base, base + 10 * n, dtype=np.int64), n, replace=False))
    tfs = rng.integers(1, 50, n).astype(np.int64)
    dls = rng.integers(1, 500, n).astype(np.int64)
    enc = encode_posting_list(ids, tfs, dls, block_size=block_size)
    fd, mt, md, cnt, db, tb, lb, dc, tc, lc = enc
    got_ids, got_tfs, got_dls = decode_posting_list(db, tb, lb, dc, tc, lc, cnt)
    assert (got_ids == ids).all()
    assert (got_tfs == tfs).all()
    assert (got_dls == dls).all()
    # (max_tf, min_dl) gives a true per-block upper bound for ANY avgdl
    n_blocks = len(cnt)
    for avgdl in (10.0, 100.0, 1000.0):
        tfn = bm25_tf_norm(tfs, dls, avgdl, 1.2, 0.75)
        bound = bm25_tf_norm(
            np.asarray(mt, dtype=np.int64), np.asarray(md, dtype=np.int64),
            avgdl, 1.2, 0.75,
        )
        for i in range(n_blocks):
            lo, hi = i * block_size, min((i + 1) * block_size, n)
            assert bound[i] >= tfn[lo:hi].max() - 1e-12
            assert fd[i] == ids[lo]


def test_batch_run_encoder_matches_encode_posting_list():
    """The build's run encoder (codec.encode_runs under
    indexer._encode_runs) is byte-identical to encode_posting_list run
    by run: run lengths 1, block_size and block_size + 1, a run split
    across two Arrow batches, and doc ids near 2^62."""
    import pandas as pd

    from tangent_spark.config import IndexConfig
    from tangent_spark.plans.indexer import _encode_runs

    bs = 8
    rng = np.random.default_rng(11)
    lens = [1, bs, bs + 1, 3 * bs + 5, 1, bs, 2, bs + 1]
    frames = []
    for i, n in enumerate(lens):
        base = 2**62 - 20 * n if i % 3 == 0 else int(rng.integers(0, 10**6))
        ids = np.sort(rng.choice(np.arange(base, base + 10 * n), n, replace=False))
        frames.append(pd.DataFrame({
            "shard": np.int32(i % 2), "term": f"t{i // 2:02d}",
            "doc_id": ids.astype(np.int64),
            "tf": rng.integers(1, 300, n).astype(np.int32),
            "dl": rng.integers(1, 10**5, n).astype(np.int64),
        }))
    rows = pd.concat(frames, ignore_index=True)
    # split inside the 3*bs+5 run: it must be carried across the batches
    cut = sum(lens[:3]) + 2 * bs
    batches = [rows.iloc[:cut], rows.iloc[cut:]]
    out = pd.concat(list(_encode_runs(IndexConfig(block_size=bs))(iter(batches))),
                    ignore_index=True)
    assert len(out) == len(lens)
    names = ["first_docs", "max_tfs", "min_dls", "counts", "docs_blob",
             "tfs_blob", "dls_blob", "d_cuts", "t_cuts", "l_cuts"]
    for i, f in enumerate(frames):
        got = out.iloc[i]
        assert (got["shard"], got["term"]) == (f["shard"][0], f["term"][0])
        ids, tfs, dls = (f[c].to_numpy(np.int64) for c in ("doc_id", "tf", "dl"))
        want = encode_posting_list(ids, tfs, dls, bs)
        for name, w in zip(names, want):
            assert got[name] == (w if isinstance(w, bytes) else w.tolist()), (i, name)
        assert (got["df"], got["cf"], got["max_doc"]) == (
            len(ids), int(tfs.sum()), int(ids[-1])
        )
