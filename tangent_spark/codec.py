"""Delta-gap + varint postings codec with block-max metadata.

The reference engine keeps postings as in-memory C++ vectors of ints
(``mathindexbase.h:201-261``) and serializes them raw
(``mathindexbase.h:47-75``). At 10^12-document scale raw ints are not
viable; per the north_rule we store postings as delta-gap + varint
compressed blocks with per-block max-score bounds so the query side
can do block-max-WAND pruning.

All encode/decode paths are numpy-vectorized (no per-value Python
loops over postings): encoding loops only over the <=10 byte positions
of a varint; decoding uses reduceat over value boundaries.
"""

from __future__ import annotations

import numpy as np

_MASK7 = np.uint64(0x7F)
_CONT = np.uint8(0x80)


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode an array of non-negative ints (vectorized)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    return _leb128(v)[0].tobytes()


def _leb128(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(LEB128 bytes as a uint8 array, byte count per value) of a
    non-empty uint64 array."""
    # number of 7-bit groups per value (>=1)
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    nz = tmp > 0
    while nz.any():
        nbits[nz] += 1
        tmp >>= np.uint64(7)
        nz = tmp > 0
    nbytes = np.maximum(nbits, 1)
    offsets = np.concatenate(([0], np.cumsum(nbytes)))
    out = np.zeros(int(offsets[-1]), dtype=np.uint8)
    # fill byte position p of every value that has > p bytes
    max_b = int(nbytes.max())
    for p in range(max_b):
        sel = nbytes > p
        pos = offsets[:-1][sel] + p
        chunk = (v[sel] >> np.uint64(7 * p)) & _MASK7
        byte = chunk.astype(np.uint8)
        more = (nbytes[sel] - 1) > p
        byte[more] |= _CONT
        out[pos] = byte
    return out, nbytes


def varint_decode(buf: bytes, count: int | None = None) -> np.ndarray:
    """Decode LEB128 bytes to uint64 array (vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    ends = np.flatnonzero(b < 0x80)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    # per-byte: which value it belongs to, and its 7-bit position in it
    val_idx = np.searchsorted(ends, np.arange(b.size))
    pos_in_val = np.arange(b.size) - starts[val_idx]
    contrib = (b.astype(np.uint64) & _MASK7) << (
        np.uint64(7) * pos_in_val.astype(np.uint64)
    )
    values = np.bitwise_or.reduceat(contrib, starts)
    if count is not None and values.size != count:
        raise ValueError(f"varint_decode: expected {count} values, got {values.size}")
    return values


def delta_encode(sorted_ids: np.ndarray) -> np.ndarray:
    """Strictly-increasing ids -> first id + gaps-1 (all >=0)."""
    ids = np.ascontiguousarray(sorted_ids, dtype=np.uint64)
    out = ids.copy()
    out[1:] = ids[1:] - ids[:-1] - np.uint64(1)
    return out


def delta_decode(deltas: np.ndarray) -> np.ndarray:
    d = np.ascontiguousarray(deltas, dtype=np.uint64)
    if d.size == 0:
        return d
    out = d.copy()
    out[1:] += np.uint64(1)
    return np.cumsum(out, dtype=np.uint64)


def bm25_tf_norm(tf: np.ndarray, dl: np.ndarray, avgdl: float, k1: float, b: float) -> np.ndarray:
    """idf-independent BM25 term factor: tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))."""
    tf = tf.astype(np.float64)
    dl = dl.astype(np.float64)
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def encode_posting_list(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    block_size: int = 128,
):
    """Split a sorted posting list into compressed blocks.

    Block-max metadata is stored as (max_tf, min_dl) rather than a
    pre-multiplied score bound: tfn is increasing in tf and decreasing
    in dl, so idf * tfn(max_tf, min_dl, avgdl_at_query_time) is a safe
    upper bound for every posting in the block EVEN when corpus stats
    (avgdl, df) drift as incremental batches append — a baked-in float
    bound would silently become unsafe.

    Returns (first_docs, max_tfs, min_dls, counts,
             docs_blob, tfs_blob, dls_blob, d_cuts, t_cuts, l_cuts).
    """
    n = doc_ids.size
    n_blocks = (n + block_size - 1) // block_size
    first_docs = np.empty(n_blocks, dtype=np.int64)
    max_tfs = np.empty(n_blocks, dtype=np.int32)
    min_dls = np.empty(n_blocks, dtype=np.int32)
    counts = np.empty(n_blocks, dtype=np.int32)
    d_parts, t_parts, l_parts = [], [], []
    for i in range(n_blocks):
        lo, hi = i * block_size, min((i + 1) * block_size, n)
        ids = doc_ids[lo:hi]
        first_docs[i] = int(ids[0])
        counts[i] = hi - lo
        max_tfs[i] = int(tfs[lo:hi].max())
        min_dls[i] = int(dls[lo:hi].min())
        d_parts.append(varint_encode(delta_encode(ids)))
        t_parts.append(varint_encode(tfs[lo:hi]))
        l_parts.append(varint_encode(dls[lo:hi]))
    def cuts(parts):
        c = np.zeros(len(parts) + 1, dtype=np.int64)
        c[1:] = np.cumsum([len(p) for p in parts])
        return c
    return (
        first_docs,
        max_tfs,
        min_dls,
        counts,
        b"".join(d_parts),
        b"".join(t_parts),
        b"".join(l_parts),
        cuts(d_parts),
        cuts(t_parts),
        cuts(l_parts),
    )


def encode_runs(
    starts: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    block_size: int = 128,
) -> dict:
    """encode_posting_list over many posting lists at once: run r is
    rows [starts[r], starts[r + 1]) of the concatenated, per-run sorted
    arrays. Block and run boundaries come from the row positions, one
    LEB128 pass encodes every value, and reduceat gives each block's
    max_tf, min_dl and byte length. Returns per-run lists: df, cf,
    max_doc and encode_posting_list's ten outputs (as lists and bytes),
    byte-identical to it run by run."""
    ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    dls = np.ascontiguousarray(dls, dtype=np.int64)
    starts = np.asarray(starts, dtype=np.int64)
    n = ids.size
    ends = np.append(starts[1:], n)
    pos = np.arange(n) - np.repeat(starts, ends - starts)
    b_starts = np.flatnonzero(pos % block_size == 0)
    # delta gaps within each block; a block's first id is stored whole
    u = ids.astype(np.uint64)
    gaps = u.copy()
    gaps[1:] = u[1:] - u[:-1] - np.uint64(1)
    gaps[b_starts] = u[b_starts]
    # first block of each run, and byte offsets of every block per stream
    r_blocks = np.append(np.searchsorted(b_starts, starts), b_starts.size)
    streams = {}
    names = (("docs_blob", "d_cuts"), ("tfs_blob", "t_cuts"), ("dls_blob", "l_cuts"))
    for name, values in zip(names, (gaps, tfs, dls)):
        buf, nbytes = _leb128(values.astype(np.uint64))
        offsets = np.zeros(b_starts.size + 1, dtype=np.int64)
        offsets[1:] = np.cumsum(np.add.reduceat(nbytes, b_starts))
        streams[name] = (buf.tobytes(), offsets)
    per_block = {
        "first_docs": ids[b_starts],
        "max_tfs": np.maximum.reduceat(tfs, b_starts),
        "min_dls": np.minimum.reduceat(dls, b_starts),
        "counts": np.diff(np.append(b_starts, n)),
    }
    out = {
        "df": (ends - starts).tolist(),
        "cf": np.add.reduceat(tfs, starts).tolist(),
        "max_doc": ids[ends - 1].tolist(),
        **{k: [] for k in per_block},
        **{k: [] for name in names for k in name},
    }
    for b0, b1 in zip(r_blocks[:-1].tolist(), r_blocks[1:].tolist()):
        for k, v in per_block.items():
            out[k].append(v[b0:b1].tolist())
        for (blob, cut), (buf, offsets) in streams.items():
            out[blob].append(buf[offsets[b0]:offsets[b1]])
            out[cut].append((offsets[b0:b1 + 1] - offsets[b0]).tolist())
    return out


def decode_block(blob: bytes, cuts: np.ndarray, i: int, count: int, delta: bool) -> np.ndarray:
    raw = varint_decode(blob[int(cuts[i]) : int(cuts[i + 1])], count)
    return delta_decode(raw) if delta else raw


def decode_posting_list(docs_blob, tfs_blob, dls_blob, d_cuts, t_cuts, l_cuts, counts):
    """Decode every block of a posting list -> (doc_ids, tfs, dls)."""
    n_blocks = len(counts)
    ids = [decode_block(docs_blob, d_cuts, i, int(counts[i]), True) for i in range(n_blocks)]
    tfs = [decode_block(tfs_blob, t_cuts, i, int(counts[i]), False) for i in range(n_blocks)]
    dls = [decode_block(dls_blob, l_cuts, i, int(counts[i]), False) for i in range(n_blocks)]
    cat = lambda parts: (
        np.concatenate(parts) if parts else np.zeros(0, dtype=np.uint64)
    )
    return cat(ids).astype(np.int64), cat(tfs).astype(np.int64), cat(dls).astype(np.int64)
