"""Pure-numpy kernels (no Spark imports) — the reference-faithful core.

Everything here is importable and testable without a SparkSession; the Spark
operators in `finchspark.operators` call these inside Arrow-batched UDFs.
"""

from .memtune import tune as _malloc_tune

# once per process (incl. each forked Spark Python worker): large-block
# reuse across Arrow batches — see memtune.py for the measured effect
_malloc_tune()

from .murmur3 import (
    U64_MAX,
    hash_one,
    i64_to_u64_shifted,
    murmur3_x64_128_low64,
    u64_to_i64_shifted,
)
from .shingles import (
    batch_shingle_hashes,
    blob_shingle_hashes,
    dna_canonical_kmers,
    shingle_hashes,
)
from .segment import segment_count_distinct
from .sketch import (
    FilterParams,
    KmerCounts,
    SketchParams,
    apply_post_filter,
    bottom_k,
    count_distinct,
    filter_abundance,
    filter_counts,
    filter_strands,
    guess_filter_threshold,
    hist_dense,
    scaled_keep,
    sketch_hashes,
)
from .distance import (
    cardinality,
    compare_counts,
    mash_distance,
    merge_sketches,
    min_scale,
    old_distance,
    raw_distance,
    raw_distance_many,
    raw_distance_walk,
)
from .simhash import hamming64, simhash64, simhash64_batch
from .oph import band_hashes, oph_signatures
from .suffix import common_spans, lcp_array, span_coverage, suffix_array

__all__ = [
    "U64_MAX",
    "hash_one",
    "murmur3_x64_128_low64",
    "u64_to_i64_shifted",
    "i64_to_u64_shifted",
    "shingle_hashes",
    "batch_shingle_hashes",
    "blob_shingle_hashes",
    "segment_count_distinct",
    "dna_canonical_kmers",
    "SketchParams",
    "FilterParams",
    "KmerCounts",
    "count_distinct",
    "bottom_k",
    "scaled_keep",
    "guess_filter_threshold",
    "filter_abundance",
    "filter_strands",
    "filter_counts",
    "apply_post_filter",
    "sketch_hashes",
    "hist_dense",
    "raw_distance",
    "raw_distance_many",
    "raw_distance_walk",
    "old_distance",
    "mash_distance",
    "min_scale",
    "merge_sketches",
    "compare_counts",
    "cardinality",
    "simhash64",
    "simhash64_batch",
    "hamming64",
    "oph_signatures",
    "band_hashes",
    "suffix_array",
    "lcp_array",
    "common_spans",
    "span_coverage",
]
