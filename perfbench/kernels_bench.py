"""Direct, single-core timings of the numpy/C kernels on a workload's own
content — no Spark. The sketch chain is the same sequence of kernel calls
the signature stage makes per Arrow batch, over chunks of the same byte
bound, so `signature.boundary_ratio` compares like with like."""
from __future__ import annotations

import time

import numpy as np

from finchspark.kernels import (
    band_hashes,
    blob_shingle_hashes,
    i64_to_u64_shifted,
    oph_signatures,
    raw_distance_many,
    segment_count_distinct,
    simhash64_batch,
)
from finchspark.kernels.murmur3 import murmur3_sliding_low64
from finchspark.operators.signature import MAX_CHUNK_BYTES

from harness import MB


def _first_chunk(contents: list[bytes]):
    """(blob, byte offsets) of the leading documents, up to the signature
    stage's MAX_CHUNK_BYTES of content per kernel call."""
    n, acc = 0, 0
    while n < len(contents) and acc < MAX_CHUNK_BYTES:
        acc += len(contents[n])
        n += 1
    contents = contents[:n]
    lens = np.fromiter((len(c) for c in contents), np.int64, len(contents))
    off = np.zeros(len(contents) + 1, np.int64)
    np.cumsum(lens, out=off[1:])
    return np.frombuffer(b"".join(contents), np.uint8), off


def _median_rate(fn, work: float, min_s: float = 0.3) -> float:
    """Work per second: the median of three timings, each repeating `fn`
    for at least `min_s`."""
    rates = []
    for _ in range(3):
        n, t0 = 0, time.perf_counter()
        while True:
            fn()
            n += 1
            el = time.perf_counter() - t0
            if el >= min_s:
                break
        rates.append(el / n)
    return work / sorted(rates)[1]


def kernel_metrics(contents: list[bytes], config, pair_hashes) -> dict:
    """Throughputs on the leading MAX_CHUNK_BYTES of `contents` (one
    signature-stage chunk). `pair_hashes`: (a_vals, a_off, b_vals, b_off)
    int64 segments of candidate pairs' sketches, as verify ships them."""
    k, seed = config.sketch.kmer_length, config.sketch.hash_seed
    size = min(config.sketch.kmers_to_sketch, config.sketch.final_size)
    lsh = config.lsh
    blob, off = _first_chunk(contents)
    mb = len(blob) / MB
    n = len(off) - 1

    def murmur():
        murmur3_sliding_low64(blob, k, seed)

    def shingle():
        blob_shingle_hashes(blob, off, k, seed)

    def sketch():
        hashes, doc_off = blob_shingle_hashes(blob, off, k, seed)
        doc_idx = np.repeat(np.arange(n, dtype=np.int64), np.diff(doc_off))
        _, gh, _, rank = segment_count_distinct(doc_idx, hashes, n)
        np.compress(rank < size, gh)
        simhash64_batch(hashes, doc_off, None)
        band_hashes(
            oph_signatures(hashes, doc_off, lsh.signature_len),
            lsh.n_bands, lsh.n_rows, seed,
        )

    out = {
        "kernels.murmur_mb_per_s": _median_rate(murmur, mb),
        "kernels.shingle_mb_per_s": _median_rate(shingle, mb),
        "kernels.sketch_mb_per_s": _median_rate(sketch, mb),
    }
    av, ao, bv, bo = pair_hashes
    ua, ub = i64_to_u64_shifted(av), i64_to_u64_shifted(bv)
    n_pairs = len(ao) - 1
    out["kernels.verify_pairs_per_s"] = _median_rate(
        lambda: raw_distance_many(ua, ao, ub, bo, 0.0), n_pairs
    ) if n_pairs else 0.0
    return out
