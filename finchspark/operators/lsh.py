"""LSH candidate generation: band explode → capped buckets → bucket pairs.

New design, no reference counterpart (SURVEY.md §2.7, §7.3): the reference
compares all pairs in a nested loop (`calc_sketch_distances`,
`cli/src/main.rs:315-334`) which is O(Q×R) and impossible at 10^12 files.
Here signatures carry `bands` (array<long>, index = band_id) from the
signature stage; candidates are pairs sharing ≥1 (band_id, band_hash).

Skew handling (north_rule):
- mega-buckets (license boilerplate, empty-ish files) are CAPPED: buckets
  with more than `bucket_cap` members are dropped from pair generation and
  surfaced in the metrics DataFrame instead (exact duplicates among them are
  still caught by the exact sha256 dedup operator, and the cap only kicks in
  for buckets whose members are near-identical to >cap partners anyway);
- pairs come from `bucket_pairs`, which shuffles the exploded bands once
  on (band_id, band_hash) and expands each bucket in-group (see its
  docstring for why the shape is not a self-join).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..config import LshConfig


def explode_bands(signatures: DataFrame, key_col: str = "doc_id") -> DataFrame:
    return signatures.select(
        F.col(key_col),
        F.posexplode("bands").alias("band_id", "band_hash"),
    )


def bucket_pairs(
    df: DataFrame,
    bucket_cols: tuple[str, ...],
    key: str,
    *,
    cap: int | None = None,
    payload: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame | None]:
    """All (key_a < key_b) pairs of rows of `df` that share a bucket.

    Returns (pairs, overflow). pairs: distinct (key_a, key_b[, p_a, p_b for
    each payload column p]), key_a < key_b strictly, so a key repeated in a
    bucket never pairs with itself and NULL keys never pair. overflow:
    (bucket_cols..., bucket_size) of the buckets larger than `cap`, dropped
    from pair generation; None when `cap` is None.

    Shape: one window count sizes each bucket over the bucket partitioning,
    and the member lists are collected by a groupBy on those same columns,
    so the exploded buckets are shuffled exactly once. The cap filters a
    mega-bucket out before any member list materializes. Pairs are expanded
    in-group, not by a self-join of the bucket frame: under AQE, broadcast
    conversion re-plans a self-join's build side, computing its whole
    subtree (explode, exchange, window) a second time. The expansion is per
    member: one row per member holding the later members of its sorted
    list, so no row holds more than O(g) items for a bucket of g members
    (the output stays O(g²) rows, as a join's probe output would be).
    """
    w = Window.partitionBy(*bucket_cols)
    sized = df.withColumn("bucket_size", F.count(F.lit(1)).over(w))
    overflow = None
    if cap is not None:
        overflow = (
            sized.filter(F.col("bucket_size") > cap)
            .select(*bucket_cols, "bucket_size")
            .distinct()
        )
        sized = sized.filter(F.col("bucket_size") <= cap)
    members = (
        sized.filter(F.col("bucket_size") > 1)
        .groupBy(*bucket_cols)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(key).alias("k"), *payload))
            ).alias("ms")
        )
    )
    carried = [
        F.col(f"{side}.{p}").alias(f"{p}_{suffix}")
        for p in payload
        for side, suffix in (("x", "a"), ("y", "b"))
    ]
    pairs = (
        members.select("ms", F.posexplode("ms").alias("i", "x"))
        .select("x", F.explode(F.expr("slice(ms, i + 2, size(ms))")).alias("y"))
        .filter(F.col("y.k") > F.col("x.k"))
        .select(F.col("x.k").alias("key_a"), F.col("y.k").alias("key_b"), *carried)
        .distinct()
    )
    return pairs, overflow


def candidate_pairs(
    signatures: DataFrame,
    lsh: LshConfig,
    key_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Return (pairs, bucket_metrics).

    pairs: (key_a, key_b) distinct, key_a < key_b.
    bucket_metrics: per-(band_id, band_hash) member counts for buckets that
    exceeded the cap (skew observability + lineage).
    """
    return bucket_pairs(
        explode_bands(signatures, key_col),
        ("band_id", "band_hash"),
        key_col,
        cap=lsh.bucket_cap,
    )


def candidate_pairs_incremental(
    new_signatures: DataFrame,
    all_signatures: DataFrame,
    lsh: LshConfig,
    key_col: str = "doc_id",
) -> DataFrame:
    """Candidates touching at least one NEW document: bands of the new batch
    joined against bands of the full store (old ∪ new).

    The incremental-dedup invariant: a pair is generated exactly once over a
    document's lifetime — when its LATER member first arrives — because
    old×old pairs were produced by earlier batches and never rejoin here.
    Both-new pairs appear from both direction-orderings of the asymmetric
    join, so pairs are min/max-normalized before the distinct.

    Scale shape: the store is never shuffled whole. The new batch's bucket
    keys are tiny (micro-batch × n_bands rows) and explicitly broadcast; a
    LEFT SEMI join prunes the store's exploded bands down to buckets the
    batch actually touches — untouched buckets cannot produce candidates —
    and only that touched subset is window-counted for the cap and joined.
    Per-epoch cost is one store scan + one small shuffle of the touched
    rows, independent of total store size in shuffle volume. Bucket sizes
    still count EVERY store member of a touched bucket, so the skew cap is
    exact as the store grows. Output: (key_a, key_b) distinct,
    key_a < key_b."""
    new_bands = explode_bands(new_signatures, key_col).select(
        "band_id", "band_hash", F.col(key_col).alias("nk")
    )
    touched_keys = F.broadcast(
        new_bands.select("band_id", "band_hash").distinct()
    )
    touched = explode_bands(all_signatures, key_col).join(
        touched_keys, ["band_id", "band_hash"], "left_semi"
    )
    w = Window.partitionBy("band_id", "band_hash")
    member = (
        touched.withColumn("bucket_size", F.count(F.lit(1)).over(w))
        .filter(F.col("bucket_size") <= lsh.bucket_cap)
        .select("band_id", "band_hash", F.col(key_col).alias("sk"))
    )
    return (
        new_bands.join(member, ["band_id", "band_hash"])
        .filter(F.col("nk") != F.col("sk"))
        .select(
            F.least("nk", "sk").alias("key_a"),
            F.greatest("nk", "sk").alias("key_b"),
        )
        .distinct()
    )


def exact_dup_pairs_sha(
    signatures: DataFrame, key_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicates via sha256 grouping — O(n) with one shuffle, and the
    safety net for members of capped LSH buckets. Pairs each doc with the
    group's minimum key (star edges) rather than emitting O(g^2) pairs.

    Shape: ONE exchange on sha256 with a window min+count — no join-back of
    the aggregate (the earlier groupBy+join form cost a second exchange of
    the signature keys plus a broadcast stage per call), and streaming/
    spillable per-group state, so a degenerate mega-group (10⁹ empty files)
    never materializes a member list."""
    w = Window.partitionBy("sha256")
    return (
        signatures.select(F.col(key_col).alias("key_b"), "sha256")
        # NULL shas never joined under the old equi-join form; a window
        # partition would lump them into one bogus group — keep them out
        .filter(F.col("sha256").isNotNull())
        .select(
            F.min("key_b").over(w).alias("key_a"),
            "key_b",
            F.count(F.lit(1)).over(w).alias("__n"),
        )
        .filter((F.col("__n") > 1) & (F.col("key_b") != F.col("key_a")))
        .select("key_a", "key_b")
    )
