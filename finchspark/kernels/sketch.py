"""Sketch construction: bottom-k / scaled MinHash with abundance counts.

Batch-equivalent reimplementation of the reference's streaming sketchers
(`lib/src/sketch_schemes/mash.rs:10-113`, `scaled.rs:10-109` in
onecodex/finch-rs). Equivalence argument (SURVEY.md §4.2): a hash that
survives the reference's size-(k+1) heap is one of the k smallest distinct
hashes, is admitted on every occurrence, and is never evicted — so
"count occurrences per distinct hash, keep the k smallest distinct, sort
ascending" produces the identical sketch. For the scaled sketcher the final
retained set is {h <= max_hash} ∪ {smallest distinct hashes to reach `size`}
(confirmed by the reference's own eviction unit tests, `scaled.rs:163-176`).

Known, documented divergence: for a *scaled* sketch, an above-threshold hash
that is evicted and later readmitted ends with a partial count in the
reference (order-dependent streaming artifact); the batch form reports the
full occurrence count. This only affects above-`max_hash` hashes on
near-empty documents and no reference test pins the streaming artifact.
"""
from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

U64_MAX = 0xFFFFFFFFFFFFFFFF
_U32_MAX = np.int64(0xFFFFFFFF)


@dataclass(frozen=True)
class SketchParams:
    """Mirror of the reference `SketchParams` enum (`sketch_schemes/mod.rs:53-71`)."""

    sketch_type: str = "mash"  # mash | scaled | allcounts
    kmers_to_sketch: int = 1000
    final_size: int = 1000  # mash only: truncate after filtering
    no_strict: bool = True
    kmer_length: int = 21
    hash_seed: int = 0
    scale: float = 0.001  # scaled only

    def max_hash(self) -> int:
        """`u64::MAX / (1/scale) as u64` with Rust float->int truncation
        (`scaled.rs:23,31`)."""
        iscale = int(1.0 / self.scale)
        return U64_MAX // iscale


@dataclass
class FilterParams:
    """Mirror of `lib/src/filtering.rs:10-16`."""

    filter_on: bool | None = False
    abun_filter_low: int | None = None
    abun_filter_high: int | None = None
    err_filter: float = 0.0
    strand_filter: float = 0.0

    def to_serialized(self) -> dict[str, str]:
        """Same keys as `FilterParams::to_serialized` (`filtering.rs:89-108`)."""
        out: dict[str, str] = {}
        if self.filter_on is not True:
            return out
        if self.strand_filter > 0:
            out["strandFilter"] = repr(self.strand_filter)
        if self.err_filter > 0:
            out["errFilter"] = repr(self.err_filter)
        if self.abun_filter_low is not None:
            out["minCopies"] = str(self.abun_filter_low)
        if self.abun_filter_high is not None:
            out["maxCopies"] = str(self.abun_filter_high)
        return out


@dataclass
class KmerCounts:
    """Columnar sketch: sorted-ascending distinct hashes + counts.

    The columnar analogue of `Vec<KmerCount>` (`sketch_schemes/mod.rs:16-22`);
    `kmer` bytes are optional (parity tests only) and `extra_count` is the
    strand counter (always 0 for code payloads).
    """

    hashes: np.ndarray  # uint64, sorted ascending, distinct
    counts: np.ndarray  # int64 (u32-saturated)
    extra_counts: np.ndarray  # int64
    kmers: list[bytes] | None = None

    def __len__(self) -> int:
        return len(self.hashes)


def count_distinct(
    hashes: np.ndarray,
    extra_flags: np.ndarray | None = None,
    kmers: list[bytes] | None = None,
) -> KmerCounts:
    """Aggregate occurrence-order hashes into sorted distinct (hash, count,
    extra_count); counts saturate at u32::MAX like `saturating_add`
    (`mash.rs:46-50`)."""
    uh, first_idx, inv, cnt = np.unique(
        hashes, return_index=True, return_inverse=True, return_counts=True
    )
    counts = np.minimum(cnt.astype(np.int64), _U32_MAX)
    if extra_flags is None:
        extras = np.zeros(len(uh), dtype=np.int64)
    else:
        extras = np.zeros(len(uh), dtype=np.int64)
        np.add.at(extras, inv, np.asarray(extra_flags, dtype=np.int64))
        extras = np.minimum(extras, _U32_MAX)
    first_kmers = None
    if kmers is not None:
        first_kmers = [kmers[i] for i in first_idx]
    return KmerCounts(uh, counts, extras, first_kmers)


def _take(kc: KmerCounts, mask_or_idx) -> KmerCounts:
    kmers = None
    if kc.kmers is not None:
        if getattr(mask_or_idx, "dtype", None) is not None and mask_or_idx.dtype == bool:
            kmers = [km for km, m in zip(kc.kmers, mask_or_idx) if m]
        else:
            kmers = [kc.kmers[i] for i in mask_or_idx]
    return KmerCounts(
        kc.hashes[mask_or_idx], kc.counts[mask_or_idx], kc.extra_counts[mask_or_idx], kmers
    )


def bottom_k(kc: KmerCounts, size: int) -> KmerCounts:
    """Mash sketch: keep the `size` smallest distinct hashes (`mash.rs:34-63`)."""
    if len(kc) <= size:
        return kc
    return _take(kc, np.arange(size))


def scaled_keep(kc: KmerCounts, size: int, scale: float) -> KmerCounts:
    """Scaled sketch: {h <= max_hash} ∪ first-`size` smallest (`scaled.rs:37-61`)."""
    iscale = int(1.0 / scale)
    max_hash = np.uint64(U64_MAX // iscale)
    keep = (kc.hashes <= max_hash) | (np.arange(len(kc)) < size)
    return _take(kc, keep)


# ------------------------------- filtering -----------------------------------


def hist_dense(counts: np.ndarray) -> np.ndarray:
    """Dense depth histogram: index i = #hashes with count i+1
    (`lib/src/statistics.rs:30-47`)."""
    counts = np.asarray(counts, dtype=np.int64)
    if len(counts) == 0:
        return np.zeros(0, dtype=np.int64)
    return np.bincount(counts)[1:]


def guess_filter_threshold(counts: np.ndarray, filter_level: float) -> int:
    """Dynamic error-depth cutoff — operation-for-operation transcription of
    `guess_filter_threshold` (`lib/src/filtering.rs:147-195`), including the
    index-weighted cumsum and the lagging sliding-window minimum scan."""
    hist_data = hist_dense(counts)
    total_counts = float(
        sum((i + 1) * int(c) for i, c in enumerate(hist_data))
    )
    cutoff_amt = filter_level * total_counts

    wgt_cutoff = 0
    cum_count = 0
    for count in hist_data:
        cum_count += wgt_cutoff * int(count)
        if cum_count > cutoff_amt:
            break
        wgt_cutoff += 1

    if wgt_cutoff == 0:
        return 1

    win_size = max(1, wgt_cutoff // 20)
    s = int(hist_data[:win_size].sum())
    lowest_val = s
    lowest_idx = win_size - 1
    for i, j in zip(range(0, wgt_cutoff - win_size), range(win_size, wgt_cutoff)):
        if s <= lowest_val:
            lowest_val = s
            lowest_idx = j
        s -= int(hist_data[i])
        s += int(hist_data[j])
    return lowest_idx + 1


def filter_abundance(kc: KmerCounts, low: int | None, high: int | None) -> KmerCounts:
    """Inclusive abundance-range filter (`lib/src/filtering.rs:329-343`)."""
    lo = 0 if low is None else low
    hi = 0xFFFFFFFF if high is None else high
    return _take(kc, (kc.counts >= lo) & (kc.counts <= hi))


def filter_strands(kc: KmerCounts, ratio_cutoff: float) -> KmerCounts:
    """Strand-ratio filter (`lib/src/filtering.rs:409-432`): rows with
    count < 16 always pass; else min(extra, count-extra)/count >= cutoff."""
    lowest = np.minimum(kc.extra_counts, kc.counts - kc.extra_counts)
    with np.errstate(divide="ignore", invalid="ignore"):
        ratio = lowest.astype(np.float64) / kc.counts.astype(np.float64)
    keep = (kc.counts < 16) | (ratio >= ratio_cutoff)
    return _take(kc, keep)


def filter_counts(filters: FilterParams, kc: KmerCounts) -> KmerCounts:
    """Filter pipeline: strand → dynamic err cutoff → abundance, mutating
    `abun_filter_low` when the guessed cutoff is stricter
    (`FilterParams::filter_counts`, `lib/src/filtering.rs:56-87`)."""
    filter_on = filters.filter_on is True
    out = kc
    if filter_on and filters.strand_filter > 0.0:
        out = filter_strands(out, filters.strand_filter)
    if filter_on and filters.err_filter > 0.0:
        cutoff = guess_filter_threshold(out.counts, filters.err_filter)
        if filters.abun_filter_low is not None:
            if cutoff > filters.abun_filter_low:
                filters.abun_filter_low = cutoff
        else:
            filters.abun_filter_low = cutoff
    if filter_on and (
        filters.abun_filter_low is not None or filters.abun_filter_high is not None
    ):
        out = filter_abundance(out, filters.abun_filter_low, filters.abun_filter_high)
    return out


def apply_post_filter(kc: KmerCounts, params: SketchParams) -> tuple[KmerCounts, bool]:
    """Mash-type truncate to `final_size` + strict-size check
    (`sketch_schemes/mod.rs:115-128`). Returns (sketch, strict_violation)."""
    if params.sketch_type != "mash":
        return kc, False
    truncated = bottom_k(kc, params.final_size)
    violation = (not params.no_strict) and len(truncated) < params.final_size
    return truncated, violation


def sketch_hashes(
    hashes: np.ndarray,
    params: SketchParams,
    filters: FilterParams | None = None,
    extra_flags: np.ndarray | None = None,
    kmers: list[bytes] | None = None,
) -> KmerCounts:
    """Full per-document sketch pipeline over occurrence-order shingle hashes:
    count distinct → (over)sketch → filter → truncate. Mirrors
    `sketch_stream` (`lib/src/lib.rs:51-94`)."""
    kc = count_distinct(hashes, extra_flags, kmers)
    if params.sketch_type == "mash":
        kc = bottom_k(kc, params.kmers_to_sketch)
    elif params.sketch_type == "scaled":
        kc = scaled_keep(kc, params.kmers_to_sketch, params.scale)
    elif params.sketch_type == "allcounts":
        pass
    else:
        raise ValueError(f"unknown sketch type {params.sketch_type}")
    if filters is not None:
        kc = filter_counts(filters, kc)
    kc, _ = apply_post_filter(kc, params)
    return kc
