"""Pair verification: exact containment/Jaccard/mash distance per candidate.

The verify kernel replicates the reference's `raw_distance` two-pointer stop
semantics exactly (`lib/src/distance.rs:66-126`) — NOT `array_intersect`
(whose `total` differs when the two hash lists cover different ranges, see
kernels.distance docstring). Candidate pairs are joined to signatures twice
(sort-merge or AQE-chosen broadcast), then verified inside one mapInArrow
over Arrow list columns via `raw_distance_many` — one radix sort + a few
bincounts for the WHOLE batch, zero per-pair Python.

mash_distance = -ln(2j/(1+j))/k clamped to [0,1] (`distance.rs:37-41`) is a
plain column expression (`functions.mash_distance`) — it stays in whole-stage
codegen.
"""
from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import PipelineConfig
from ..functions import mash_distance
from ..kernels import i64_to_u64_shifted
from ..kernels.distance import raw_distance_many


def _verify_schema(key_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("key_a", key_type),
            T.StructField("key_b", key_type),
            T.StructField("containment", T.DoubleType()),
            T.StructField("jaccard", T.DoubleType()),
            T.StructField("common_hashes", T.LongType()),
            T.StructField("total_hashes", T.LongType()),
        ]
    )


def _list_to_segments(col: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    col = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    offsets = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    values = col.values.to_numpy(zero_copy_only=False)
    # a sliced ListArray carries non-zero-based offsets over the parent's
    # values buffer; normalize so offsets[0] == 0 and values are exactly
    # covered (raw_distance_many builds pair ids with np.repeat over diffs)
    if len(offsets) and (offsets[0] != 0 or offsets[-1] != len(values)):
        values = values[offsets[0] : offsets[-1]]
        offsets = offsets - offsets[0]
    return values, offsets


def verify_pairs(
    pairs: DataFrame,
    signatures: DataFrame,
    config: PipelineConfig,
    key_col: str = "doc_id",
    assume_complete: bool = False,
) -> DataFrame:
    """pairs(key_a, key_b) × signatures → verified distances DataFrame with
    (key_a, key_b, containment, jaccard, mash_distance, common_hashes,
    total_hashes), where key_a is the QUERY and key_b the REFERENCE
    (containment is directional, `distance.rs:118`).

    `assume_complete=True` is for COMPLETE sketches (sketch size >= every
    doc's distinct shingle count): the reference's stop rule models the hash
    region two *truncated* bottom-k sketches both cover, which over complete
    sketches would still truncate the union at min(max_a, max_b) — a
    murmur-order artifact, not set semantics. Complete mode reports the true
    set quantities instead: total = |A ∪ B|, jaccard = |A∩B|/|A∪B|,
    containment = |A∩B|/|B| (the whole reference side is consumed). These
    are exactly the quantities a SQL oracle over the shingle sets computes.
    """
    scale = (
        config.sketch.scale if config.sketch.sketch_type == "scaled" else 0.0
    )
    k = config.sketch.kmer_length
    sigs = signatures.select(key_col, "hashes")
    key_type = pairs.schema["key_a"].dataType
    out_schema = _verify_schema(key_type)

    joined = (
        pairs.join(
            sigs.select(
                F.col(key_col).alias("key_a"), F.col("hashes").alias("hashes_a")
            ),
            "key_a",
        )
        .join(
            sigs.select(
                F.col(key_col).alias("key_b"), F.col("hashes").alias("hashes_b")
            ),
            "key_b",
        )
        .select("key_a", "key_b", "hashes_a", "hashes_b")
    )

    def compute(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            va, oa = _list_to_segments(batch.column(2))
            vb, ob = _list_to_segments(batch.column(3))
            ua = i64_to_u64_shifted(va)
            ub = i64_to_u64_shifted(vb)
            cont, jac, common, total = raw_distance_many(ua, oa, ub, ob, scale)
            if assume_complete:
                na = np.diff(oa)
                nb = np.diff(ob)
                total = na + nb - common
                with np.errstate(divide="ignore", invalid="ignore"):
                    cont = np.where(nb > 0, common / nb, 0.0)
                    jac = np.where(total > 0, common / total, 1.0)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    batch.column(1),
                    pa.array(cont, pa.float64()),
                    pa.array(jac, pa.float64()),
                    pa.array(common, pa.int64()),
                    pa.array(total, pa.int64()),
                ],
                ["key_a", "key_b", "containment", "jaccard", "common_hashes", "total_hashes"],
            )

    verified = joined.mapInArrow(compute, out_schema)
    out = verified.withColumn("mash_distance", mash_distance(F.col("jaccard"), k))
    if config.max_dist is not None:
        out = out.filter(F.col("mash_distance") <= config.max_dist)  # F8
    return out


def weighted_jaccard_pairs(
    pairs: DataFrame,
    signatures: DataFrame,
    key_col: str = "doc_id",
) -> DataFrame:
    """Abundance-weighted (histogram) Jaccard for given candidate pairs:
    wj(A, B) = Σ_h min(count_A(h), count_B(h)) / Σ_h max(count_A(h),
    count_B(h)) over the union of retained hashes — the count-aware
    companion to set-Jaccard, using the per-hash abundances finch sketches
    carry (`lib/src/sketch_schemes/counts.rs` semantics; identical docs →
    1.0, disjoint → 0.0, and duplicated content weighs by multiplicity).

    Pure Catalyst: each side's (hash, count) rows come from one
    explode-and-join of the signatures frame; a full-outer join on (pair,
    hash) aligns the two histograms so absent hashes count 0. One shuffle
    per side plus the outer-join exchange — candidate-bounded like verify,
    never all-pairs. Exact over complete sketches; with truncated sketches
    it is the weighted Jaccard OF THE SKETCHES (documented estimator).

    Output: (key_a, key_b, weighted_jaccard)."""
    toks = signatures.select(
        F.col(key_col).alias("k"),
        F.explode(F.arrays_zip("hashes", "counts")).alias("z"),
    ).select("k", F.col("z.hashes").alias("h"), F.col("z.counts").alias("c"))
    ta = pairs.join(toks.withColumnRenamed("k", "key_a"), "key_a").select(
        "key_a", "key_b", "h", F.col("c").alias("ca")
    )
    tb = pairs.join(toks.withColumnRenamed("k", "key_b"), "key_b").select(
        "key_a", "key_b", "h", F.col("c").alias("cb")
    )
    aligned = ta.join(tb, ["key_a", "key_b", "h"], "full_outer").select(
        "key_a",
        "key_b",
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
    )
    agg = aligned.groupBy("key_a", "key_b").agg(
        F.sum(F.least("ca", "cb")).alias("mins"),
        F.sum(F.greatest("ca", "cb")).alias("maxs"),
    )
    return agg.select(
        "key_a",
        "key_b",
        F.when(F.col("maxs") > 0, F.col("mins") / F.col("maxs"))
        .otherwise(F.lit(1.0))
        .alias("weighted_jaccard"),
    )


def pairwise_distances(
    signatures: DataFrame,
    config: PipelineConfig,
    key_col: str = "doc_id",
    max_distance: float = 1.0,
    max_inputs: int = 10_000,
    assume_complete: bool = False,
) -> DataFrame:
    """finch's true pairwise `dist` surface (D4, `calc_sketch_distances`,
    `cli/src/main.rs:315-334`): every ORDERED (query, reference) pair with
    query != reference, kept when mash_distance <= max_distance.
    Containment is directional, so both orientations are emitted — exactly
    the reference's O(Q×R) loop.

    This is deliberately the small-corpus surface (finch compares dozens of
    genomes; the CLI exposes it behind --pairwise): the crossJoin is O(n²)
    BY CONTRACT, so `max_inputs` hard-fails beyond a size where n² pairs is
    sane rather than letting a 10^6-doc table explode. The scale path for
    large corpora is LSH candidates + verify (`operators/lsh.py`).
    """
    n = signatures.count()
    if n > max_inputs:
        raise ValueError(
            f"pairwise_distances is the O(n²) small-corpus surface: got {n} "
            f"sketches > max_inputs={max_inputs}; use candidate_pairs + "
            "verify_pairs (LSH) for large corpora"
        )
    keys = signatures.select(key_col)
    pairs = (
        keys.select(F.col(key_col).alias("key_a"))
        .crossJoin(keys.select(F.col(key_col).alias("key_b")))
        .filter(F.col("key_a") != F.col("key_b"))
    )
    out = verify_pairs(
        pairs, signatures, config, key_col=key_col, assume_complete=assume_complete
    )
    return out.filter(F.col("mash_distance") <= max_distance)
