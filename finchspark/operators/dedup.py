"""Dedup operator family over generic document tables.

Exact dedup (hash groupBy), character n-gram Jaccard (set ops in codegen),
best-match (D5, `lib/src/python.rs:196-216` as a max_by aggregation),
containment/threshold filters (F10/F8 analogues). MinHash+LSH and SimHash
dedup live in `finchspark.plans.pipeline`; these are the SQL-expressible
members of the family with DuckDB oracles in `__spark_entry__.py`.

Scale notes: exact dedup is one shuffle on the content hash; the banded
n-gram Jaccard restricts the self-join to a bounded key-distance band —
the exact-verification analogue for small windows, not the production
candidate generator (that's LSH).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .lsh import bucket_pairs


def exact_dup_pairs(
    docs: DataFrame,
    key: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """All (key_a < key_b) pairs with byte-identical text, from
    `lsh.bucket_pairs` over content-hash buckets: one shuffle, no self-join.

    The output is inherently O(g²) per duplicate group. For clustering use
    the star-edge forms (`exact_dup_clusters` / `lsh.exact_dup_pairs_sha`)
    instead — linear output, same components.
    """
    hashed = docs.select(F.sha2(F.col(text), 256).alias("h"), F.col(key))
    pairs, _ = bucket_pairs(hashed, ("h",), key)
    return pairs


def exact_dup_clusters(docs: DataFrame, key: str = "doc_id", text: str = "text") -> DataFrame:
    """(key, cluster_id) for every doc in a >1-member identical-text group;
    cluster_id = min key of the group. ONE shuffle: a window min+count over
    the content hash (the groupBy+join-back form cost a second exchange and
    a broadcast stage; the window streams with spill, so even a degenerate
    mega-group never builds per-group state)."""
    w = Window.partitionBy(F.sha2(F.col(text), 256))
    return (
        # NULL-text docs never joined under the old equi-join-on-hash form;
        # a window partition would lump them into one bogus cluster
        docs.filter(F.col(text).isNotNull())
        .select(
            F.col(key),
            F.min(key).over(w).alias("cluster_id"),
            F.count(F.lit(1)).over(w).alias("__n"),
        )
        .filter(F.col("__n") > 1)
        .select(F.col(key), "cluster_id")
    )


def _gram_array(text: str, n: int):
    # NB: Spark's sequence(1, 0) produces a DESCENDING [1, 0] rather than an
    # empty array, so short strings need an explicit guard
    return F.expr(
        f"case when length({text}) >= {n} then "
        f"array_distinct(transform(sequence(1, length({text}) - {n - 1}),"
        f" i -> substring({text}, i, {n}))) else array() end"
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    key_band: int = 3,
    key: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Character-n-gram Jaccard + containment for pairs within `key_band` of
    each other (bounded exact comparison; LSH is the scale path).

    Output: (key_a, key_b, jaccard, containment) — containment of A's grams
    in B, i.e. |A ∩ B| / |A|. `key` must be an integer column: the banded
    equi-join generates each doc's partner keys as
    `sequence(k + 1, k + key_band)`.
    """
    if key_band < 1:
        # sequence(k+1, k+key_band) with key_band < 1 is DESCENDING (the
        # line-80 pitfall), yielding a self-pair and band-violating pairs
        raise ValueError(f"key_band must be >= 1, got {key_band}")
    g = docs.select(F.col(key).alias("k"), _gram_array(text, n).alias("grams"))
    # EQUI-join on the exploded candidate keys, not a range predicate: a
    # `key_a < key_b <= key_a + band` condition forces a broadcast
    # nested-loop join, and any downstream value filter (e.g. max_dist)
    # gets conjoined into the join condition — Catalyst then evaluates the
    # ArrayIntersect for ALL O(n^2) row pairs instead of the 3n banded ones
    # (observed: the sf0.1 oracle sweep's max_dist_filter ran 45+ min of
    # single-task CPU inside BroadcastNestedLoopJoin before this fix).
    # Exploding the <=key_band candidate targets keeps it a shuffled hash
    # join: 3n rows, filter applied after the join, scale-safe.
    a = g.select(
        F.col("k").alias("key_a"),
        F.col("grams").alias("ga"),
        F.explode(
            F.sequence(F.col("k") + 1, F.col("k") + F.lit(key_band))
        ).alias("key_b"),
    )
    b = g.select(F.col("k").alias("key_b"), F.col("grams").alias("gb"))
    joined = a.join(b, "key_b")
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size(F.array_union("ga", "gb"))
    return joined.select(
        "key_a",
        "key_b",
        F.when(union > 0, inter / union).otherwise(F.lit(1.0)).alias("jaccard"),
        F.when(F.size("ga") > 0, inter / F.size("ga")).otherwise(F.lit(0.0)).alias(
            "containment"
        ),
    )


def best_match(
    pairs: DataFrame, query: str = "key_a", ref: str = "key_b", metric: str = "containment"
) -> DataFrame:
    """D5: per query, the reference with max containment (deterministic
    tiebreak on smaller ref key) — `best_match`, `lib/src/python.rs:196-216`."""
    w = Window.partitionBy(query).orderBy(F.col(metric).desc(), F.col(ref).asc())
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(query, ref, metric)
    )


def containment_filter(pairs: DataFrame, threshold: float) -> DataFrame:
    """F10: keep pairs with containment >= threshold
    (`filter_to_matches`, `lib/src/python.rs:223-234`)."""
    return pairs.filter(F.col("containment") >= threshold)


def max_dist_filter(pairs: DataFrame, max_dist: float, col: str = "mash_distance") -> DataFrame:
    """F8: drop pairs with mash_distance > max_dist (`cli/src/main.rs:327-330`)."""
    return pairs.filter(F.col(col) <= max_dist)


def dedup_corpus(
    docs: DataFrame,
    components: DataFrame,
    key: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Materialize the deduplicated corpus from a component map.

    `components` is a (node, component) frame as produced by
    `connected_components` — every clustered doc tagged with its cluster's
    min key. The surviving corpus keeps exactly ONE canonical
    representative per cluster (the min-key member, i.e. the doc whose key
    equals its component id) plus every doc that was never clustered.

    Output per kept doc: (key, cluster_size, sha256) — cluster_size is how
    many source docs the row stands for (1 for singletons), and sha256
    restates the per-row content-integrity invariant: a surviving row's
    content hash must equal the source table's (computed JVM-side here, so
    any corruption introduced by the dedup plumbing would surface).

    Scale: the only operation touching the full docs table is a LEFT ANTI
    join against the non-representative node list — AQE broadcasts it when
    the clustered fraction is small (the common case) and falls back to a
    single key-partitioned shuffle otherwise. The cluster-size aggregate
    runs over the components frame alone.
    """
    drop = components.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(key)
    )
    sizes = (
        components.groupBy("component")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .withColumnRenamed("component", key)
    )
    kept = docs.join(drop, key, "left_anti")
    return kept.join(sizes, key, "left").select(
        F.col(key),
        F.coalesce("cluster_size", F.lit(1)).cast("long").alias("cluster_size"),
        F.sha2(F.col(text), 256).alias("sha256"),
    )
