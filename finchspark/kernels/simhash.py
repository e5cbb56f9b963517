"""SimHash (64-bit) over shingle hashes — short-document fallback path.

The reference has no SimHash; this is the north-star extension for documents
too short for stable MinHash signatures (SURVEY.md §7.1 step 6). Standard
Charikar construction: per-bit signed vote weighted by shingle count, bit set
when the vote is positive. Fully vectorized (no per-row Python in the UDF).
"""
from __future__ import annotations

import numpy as np

_BITS = np.arange(64, dtype=np.uint64)
_POPCOUNT8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def simhash64(hashes: np.ndarray, weights: np.ndarray | None = None) -> int:
    """SimHash of one document's shingle hash multiset. Empty input -> 0."""
    hashes = np.asarray(hashes, dtype=np.uint64)
    if len(hashes) == 0:
        return 0
    bits = ((hashes[:, None] >> _BITS) & np.uint64(1)).astype(np.int64)  # (n, 64)
    if weights is None:
        votes = (2 * bits - 1).sum(axis=0)
    else:
        w = np.asarray(weights, dtype=np.int64)[:, None]
        votes = ((2 * bits - 1) * w).sum(axis=0)
    out = np.uint64(0)
    set_bits = np.nonzero(votes > 0)[0]
    for b in set_bits:
        out |= np.uint64(1) << np.uint64(b)
    return int(out)


def simhash64_batch(
    hashes: np.ndarray, doc_offsets: np.ndarray, weights: np.ndarray | None = None
) -> np.ndarray:
    """Vectorized SimHash for many documents.

    `hashes` is the concatenated shingle-hash stream, `doc_offsets` the
    (n_docs+1,) boundaries (as from `batch_shingle_hashes`). One
    `np.add.reduceat` per call — no per-doc Python loop.
    """
    n_docs = len(doc_offsets) - 1
    out = np.zeros(n_docs, dtype=np.uint64)
    if len(hashes) == 0:
        return out
    hashes = np.asarray(hashes, dtype=np.uint64)
    if weights is None:
        # C fast path: one register-resident pass per doc instead of 64
        # bit-plane vector passes (bit-parity-tested vs the numpy form)
        from . import cmurmur

        got = cmurmur.simhash64_segments_c(hashes, np.asarray(doc_offsets, np.int64))
        if got is not None:
            return got
    # reduce only over non-empty documents: their starts are strictly
    # increasing and < len(hashes), and consecutive non-empty starts are
    # exactly the segment boundaries (empty docs have zero width)
    nonempty = np.nonzero(doc_offsets[:-1] < doc_offsets[1:])[0]
    starts = np.asarray(doc_offsets[:-1])[nonempty]
    w = None if weights is None else np.asarray(weights, dtype=np.int64)
    # vote_b = 2 * (weighted count of set bit b) - (total weight); process
    # one bit-plane at a time so peak memory stays O(n), not O(64 n)
    if w is None:
        totals = np.add.reduceat(np.ones(len(hashes), np.int64), starts)
    else:
        totals = np.add.reduceat(w, starts)
    sig = np.zeros(len(starts), dtype=np.uint64)
    for b in range(64):
        bit = ((hashes >> np.uint64(b)) & np.uint64(1)).astype(np.int64)
        if w is not None:
            bit = bit * w
        set_cnt = np.add.reduceat(bit, starts)
        sig |= ((2 * set_cnt - totals) > 0).astype(np.uint64) << np.uint64(b)
    out[nonempty] = sig
    return out


def hamming64(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Element-wise Hamming distance between uint64 arrays (popcount by table)."""
    x = (np.asarray(a, np.uint64) ^ np.asarray(b, np.uint64)).copy()
    total = np.zeros(x.shape, dtype=np.int64)
    for _ in range(8):
        total += _POPCOUNT8[(x & np.uint64(0xFF)).astype(np.uint8)]
        x >>= np.uint64(8)
    return total
