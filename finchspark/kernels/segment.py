"""Segmented (per-document) sketch kernel over whole Arrow batches.

`segment_count_distinct` computes, for EVERY document in a batch at once,
the same distinct (hash, count) list as `sketch.count_distinct`, plus each
hash's rank within its document, with one sort over the batch's entire
shingle-hash stream instead of a per-document Python loop. The signature
stage (`operators/signature.py`) applies the bottom-k or scaled keep rule to
those ranks. This is what keeps the signature UDF O(1) Python ops per Arrow
batch (north_rule: vectorized pandas/Arrow UDFs, never per-row Python).
"""
from __future__ import annotations

import numpy as np

_U32_MAX = np.int64(0xFFFFFFFF)


def segment_count_distinct(
    doc_idx: np.ndarray, hashes: np.ndarray, n_docs: int, return_first_idx: bool = False
) -> tuple[np.ndarray, ...]:
    """Per-document distinct (hash, count), hashes ascending within each doc.

    Returns (doc_of_group, group_hashes, group_counts, rank_in_doc) where
    groups are ordered by (doc, hash) and `rank_in_doc` is each group's
    0-based position among its document's sorted distinct hashes. With
    `return_first_idx`, appends each group's FIRST original occurrence index
    into the input stream (stable sorts keep original order within a group)
    — used to recover the shingle bytes of a retained hash (G3 info stats).
    """
    if len(hashes) == 0:
        z = np.empty(0, np.int64)
        out = (z, np.empty(0, np.uint64), z, z)
        return out + (z,) if return_first_idx else out
    order = None
    d = h = None
    if not return_first_idx:
        # C fast path: when docs are already contiguous ascending (the
        # signature-stage layout), an in-segment radix sort replaces the two
        # full argsort+gather passes — no permutation arrays materialized.
        # Skipped when first-occurrence indices are requested (diagnostics).
        from . import cmurmur

        doc_idx = np.asarray(doc_idx, dtype=np.int64)
        if cmurmur.available() and bool(np.all(doc_idx[1:] >= doc_idx[:-1])):
            off = np.zeros(n_docs + 1, dtype=np.int64)
            np.cumsum(np.bincount(doc_idx, minlength=n_docs), out=off[1:])
            h_sorted = np.ascontiguousarray(hashes, dtype=np.uint64).copy()
            if cmurmur.segment_sort_u64_c(h_sorted, off):
                d = doc_idx
                h = h_sorted
    if h is None:
        # two stable radix argsorts == lexsort((hashes, doc_idx)), measurably
        # faster than numpy's generic lexsort on 64-bit keys
        perm1 = np.argsort(hashes, kind="stable")
        perm2 = np.argsort(doc_idx[perm1], kind="stable")
        order = perm1[perm2]
        d = doc_idx[order]
        h = hashes[order]
    new_group = np.empty(len(h), dtype=bool)
    new_group[0] = True
    new_group[1:] = (d[1:] != d[:-1]) | (h[1:] != h[:-1])
    group_starts = np.nonzero(new_group)[0]
    counts = np.diff(np.append(group_starts, len(h))).astype(np.int64)
    counts = np.minimum(counts, _U32_MAX)  # u32 saturating_add parity
    gd = d[group_starts]
    gh = h[group_starts]
    # rank of each group within its doc
    new_doc = np.empty(len(gd), dtype=bool)
    new_doc[0] = True
    new_doc[1:] = gd[1:] != gd[:-1]
    doc_first_group = np.nonzero(new_doc)[0]
    rank = np.arange(len(gd), dtype=np.int64) - np.repeat(
        doc_first_group, np.diff(np.append(doc_first_group, len(gd)))
    )
    if return_first_idx:
        return gd, gh, counts, rank, order[group_starts]
    return gd, gh, counts, rank
