"""Exact set-similarity join: all pairs with Jaccard >= t, no approximation.

This is the exact-answer counterpart of the LSH candidate generator
(SURVEY.md §2.7): given signatures whose sketches are COMPLETE (i.e.
`kmers_to_sketch` >= every document's distinct-shingle count, so the hash
array IS the document's full shingle set), it returns every pair with
set-Jaccard >= threshold — recall 1.0 by construction, not empirically.

Algorithm (AllPairs / prefix filtering — Bayardo, Ma & Srikant, WWW'07;
Chaudhuri et al., ICDE'06):
- the stored hash arrays are sorted ascending (sign-shifted i64 order ==
  unsigned u64 order), which fixes a global canonical element order;
- any pair with J(A,B) >= t shares its SMALLEST common element within the
  first |A| - ceil(t*|A|) + 1 elements of A (and symmetrically B): everything
  in A before the smallest common element is outside B, and
  |A∩B| >= t*|A∪B| >= ceil(t*|A|);
- so indexing only each document's prefix finds every qualifying pair, with
  the inverted-index blow-up cut by ~(1-t)^2 per posting list;
- candidates are verified EXACTLY from the full arrays in one Arrow batch
  kernel (the same radix-sort intersection counter the LSH verify stage
  uses) — jaccard = |A∩B| / (|A|+|B|-|A∩B|), candidate-bounded work.

Scale notes: two shuffles (`lsh.bucket_pairs` over the prefix hash, then the
signature join for verification — AQE may broadcast the pair side). Postings
of a single hash are tiny for content shingles (a 21-byte gram shared by g
documents contributes g^2/2 candidate rows); the LSH path with bucket caps
remains the right tool for approximate dedup — this operator is the exact
gate used where recall must be provably 1.0 (and as the driver's oracle
bridge: set-Jaccard over murmur3-hashed shingles equals set-Jaccard over the
shingles themselves, so a SQL engine can reproduce it byte-for-byte).
"""
from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels import i64_to_u64_shifted
from ..kernels.distance import raw_distance_many
from .lsh import bucket_pairs


def _intersections_schema(key_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("key_a", key_type),
            T.StructField("key_b", key_type),
            T.StructField("inter", T.LongType()),
            T.StructField("size_a", T.LongType()),
            T.StructField("size_b", T.LongType()),
        ]
    )


def _segments(col: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    col = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    offsets = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    values = col.values.to_numpy(zero_copy_only=False)
    if len(offsets) and (offsets[0] != 0 or offsets[-1] != len(values)):
        values = values[offsets[0] : offsets[-1]]
        offsets = offsets - offsets[0]
    return values, offsets


def prefix_candidates(
    signatures: DataFrame, threshold: float, key_col: str = "doc_id"
) -> DataFrame:
    """Candidate pairs via the prefix-filtered inverted index.

    Returns (key_a, key_b) distinct with key_a < key_b; complete for
    set-Jaccard >= threshold when sketches are complete.
    """
    sized = signatures.select(
        F.col(key_col).alias("k"),
        "hashes",
        F.size("hashes").cast("long").alias("n"),
    ).filter(F.col("n") > 0)
    prefix_len = (F.col("n") - F.ceil(F.lit(float(threshold)) * F.col("n")) + 1).cast(
        "int"
    )
    index = sized.select(
        "k", F.explode(F.slice("hashes", F.lit(1), prefix_len)).alias("h")
    )
    pairs, _ = bucket_pairs(index, ("h",), "k")
    return pairs


def intersection_counts(
    pairs: DataFrame, signatures: DataFrame, key_col: str = "doc_id"
) -> DataFrame:
    """Exact |A∩B| + set sizes for each pair, batch-vectorized (zero per-pair
    Python): one radix sort over the batch finds all duplicate (pair, value)
    adjacencies — the `common` component of `raw_distance_many`."""
    sigs = signatures.select(key_col, "hashes")
    joined = (
        pairs.select("key_a", "key_b")
        .join(
            sigs.select(F.col(key_col).alias("key_a"), F.col("hashes").alias("ha")),
            "key_a",
        )
        .join(
            sigs.select(F.col(key_col).alias("key_b"), F.col("hashes").alias("hb")),
            "key_b",
        )
        .select("key_a", "key_b", "ha", "hb")
    )
    out_schema = _intersections_schema(pairs.schema["key_a"].dataType)

    def compute(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            va, oa = _segments(batch.column(2))
            vb, ob = _segments(batch.column(3))
            _, _, common, _ = raw_distance_many(
                i64_to_u64_shifted(va), oa, i64_to_u64_shifted(vb), ob, 0.0
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    batch.column(1),
                    pa.array(common, pa.int64()),
                    pa.array(np.diff(oa), pa.int64()),
                    pa.array(np.diff(ob), pa.int64()),
                ],
                ["key_a", "key_b", "inter", "size_a", "size_b"],
            )

    return joined.mapInArrow(compute, out_schema)


def exact_jaccard_pairs(
    signatures: DataFrame, threshold: float, key_col: str = "doc_id"
) -> DataFrame:
    """All pairs with exact set-Jaccard >= threshold.

    Output: (key_a, key_b, jaccard, containment_a) with key_a < key_b;
    jaccard = |A∩B|/|A∪B|, containment_a = |A∩B|/|A| (how much of A is in B).
    Documents with empty shingle sets never pair (their set-Jaccard vs
    anything non-empty is 0; empty-vs-empty is out of scope — exact dup
    handling owns that via sha256).

    Requires complete sketches for the exactness guarantee; with truncated
    sketches it degrades to "jaccard of the sketch sets" with the same
    recall-complete prefix index over those sets.
    """
    cands = prefix_candidates(signatures, threshold, key_col)
    counted = intersection_counts(cands, signatures, key_col)
    jac = F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter"))
    return (
        counted.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= float(threshold))
        .select(
            "key_a",
            "key_b",
            "jaccard",
            (F.col("inter") / F.col("size_a")).alias("containment_a"),
        )
    )
