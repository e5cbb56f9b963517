"""Similarity search over embedding columns.

- `cosine_topk`: brute-force exact top-k in pure column expressions (the
  correctness baseline; all arithmetic in float64 with sequential folds so a
  DuckDB oracle reproduces it bit-for-bit).
- `cosine_topk_lsh`: random-hyperplane (sign) LSH bucketing — the scale
  path. Hyperplanes are derived deterministically from a seed with the same
  murmur3 kernel the engine uses everywhere; candidates are same-bucket
  pairs (multi-probe over `n_tables` independent tables), reranked exactly.

Scale notes: brute-force is O(Q×N) — fine for a broadcast-able query set,
impossible for all-pairs at 10^12; the LSH variant shuffles each table once
on the bucket key and never materializes the full cross product.
"""
from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..kernels import murmur3_x64_128_low64
from .lsh import bucket_pairs


def _dot(a: str, b: str):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: str):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_topk(
    embeddings: DataFrame,
    k: int = 5,
    query_mod: int = 100,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for the deterministic query subset
    {key % query_mod == 0}. Returns (query_id, neighbor_id, rank, cosine).

    Ties broken by neighbor_id ascending (deterministic)."""
    q = embeddings.filter((F.col(key) % query_mod) == 0).select(
        F.col(key).alias("query_id"), F.col(vec).alias("qv")
    )
    r = embeddings.select(F.col(key).alias("neighbor_id"), F.col(vec).alias("rv"))
    scored = (
        q.crossJoin(r)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot("qv", "rv") / (_norm("qv") * _norm("rv"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def _hyperplanes(dim: int, n_bits: int, table: int, seed: int = 0) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes from the murmur3 stream:
    component (b, d) = signed view of murmur3(bytes(table, b, d), seed),
    scaled to [-1, 1). Reproducible across executors with no RNG state."""
    idx = np.zeros((n_bits * dim, 12), dtype=np.uint8)
    coords = np.indices((n_bits, dim)).reshape(2, -1).T.astype(np.uint32)
    idx[:, 0:4] = np.frombuffer(
        np.full(n_bits * dim, table, dtype=np.uint32).tobytes(), dtype=np.uint8
    ).reshape(-1, 4)
    idx[:, 4:8] = np.frombuffer(coords[:, 0].copy().tobytes(), np.uint8).reshape(-1, 4)
    idx[:, 8:12] = np.frombuffer(coords[:, 1].copy().tobytes(), np.uint8).reshape(-1, 4)
    h = murmur3_x64_128_low64(idx, seed)
    return (h.view(np.int64).astype(np.float64) / 2**63).reshape(n_bits, dim)



def _bucketize(
    embeddings: DataFrame,
    n_bits: int,
    n_tables: int,
    key: str,
    vec: str,
    seed: int,
) -> DataFrame:
    """(key, table_id, bucket) — all tables' sign bits in ONE numpy matmul
    per Arrow batch (a literal expression tree of n_tables*n_bits*dim
    constants chokes Catalyst analysis; measured seconds of planning time
    at 64 hyperplanes). The vector dimension is derived inside the kernel
    from the first batch (len(values)/rows) and the hyperplanes built once
    per task — deterministic (murmur-derived), and it removes the driver's
    `select(size(vec)).first()` probe job each call used to pay."""
    powers = 1 << np.arange(n_bits, dtype=np.int64)

    import pyarrow as pa
    from pyspark.sql import types as T

    key_type = embeddings.schema[key].dataType
    out_schema = T.StructType(
        [
            T.StructField(key, key_type),
            T.StructField("buckets", T.ArrayType(T.LongType())),
        ]
    )

    def compute(batches):
        planes = None
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            col = batch.column(1)
            col = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
            # flatten() honors a sliced list array's offset window (same
            # pattern as the IVF assign kernel)
            vals = col.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            if planes is None:
                dim = len(vals) // n
                planes = np.concatenate(
                    [_hyperplanes(dim, n_bits, t, seed) for t in range(n_tables)],
                    axis=0,
                ).T  # (dim, n_tables * n_bits)
            mat = vals.reshape(n, planes.shape[0])
            bits = (mat @ planes) >= 0  # (n, n_tables*n_bits)
            buckets = (
                bits.reshape(n, n_tables, n_bits).astype(np.int64) * powers
            ).sum(axis=2)
            offs = np.arange(n + 1, dtype=np.int32) * n_tables
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pa.ListArray.from_arrays(
                        pa.array(offs, pa.int32()),
                        pa.array(buckets.reshape(-1), pa.int64()),
                    ),
                ],
                [key, "buckets"],
            )

    bucketed = embeddings.select(key, vec).mapInArrow(compute, out_schema)
    return bucketed.select(
        F.col(key), F.posexplode("buckets").alias("table_id", "bucket")
    )


def cosine_topk_lsh(
    embeddings: DataFrame,
    k: int = 5,
    query_mod: int = 100,
    n_bits: int = 12,
    n_tables: int = 4,
    key: str = "vec_id",
    vec: str = "embedding",
    seed: int = 0,
) -> DataFrame:
    """Approximate top-k cosine via sign-LSH buckets.

    Each vector gets one bucket id per table (sign bits of `n_bits`
    hyperplane projections); query/ref pairs sharing a (table, bucket) are
    exactly reranked. Output schema matches `cosine_topk` (rank may be
    < k when buckets recall fewer neighbors).

    Candidates come from one (table, bucket) shuffle of the bucketize
    output, expanded per query: one row per query holding its bucket's
    other members, so no row holds more than O(bucket) items. The output
    (queries_in_bucket × bucket) is controlled by `n_bits`."""
    tagged = _bucketize(embeddings, n_bits, n_tables, key, vec, seed)
    cand = (
        tagged.groupBy("table_id", "bucket")
        .agg(F.collect_list(key).alias("ks"))
        .select(
            "ks",
            F.explode(F.expr(f"filter(ks, q -> q % {int(query_mod)} = 0)")).alias(
                "query_id"
            ),
        )
        .select(
            "query_id",
            F.explode(F.expr("filter(ks, n -> n != query_id)")).alias("neighbor_id"),
        )
        .distinct()
    )
    qv = embeddings.select(F.col(key).alias("query_id"), F.col(vec).alias("qv"))
    rv = embeddings.select(F.col(key).alias("neighbor_id"), F.col(vec).alias("rv"))
    scored = (
        cand.join(qv, "query_id")
        .join(rv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (_dot("qv", "rv") / (_norm("qv") * _norm("rv"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def cosine_dup_pairs(
    embeddings: DataFrame,
    threshold: float,
    n_bits: int = 3,
    n_tables: int = 32,
    bucket_cap: int = 2000,
    key: str = "vec_id",
    vec: str = "embedding",
    seed: int = 0,
) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS: all (key_a < key_b) with
    cosine >= threshold — the dedup-family member over embeddings (vs the
    top-k search form above).

    Scale shape mirrors the MinHash LSH stage: sign-LSH buckets per table,
    candidates from `lsh.bucket_pairs` (one shuffle, mega-buckets capped at
    `bucket_cap`), exact rerank only on candidates, never the n^2 cross
    product. Defaults (3 bits, 32 tables) make a missed pair at cosine 0.45
    ~1e-4 likely per pair and measured recall 1.0 on the `cosine_dup_pairs`
    query's embeddings — tune bits up for higher thresholds.
    """
    tagged = _bucketize(embeddings, n_bits, n_tables, key, vec, seed)
    cand, _ = bucket_pairs(tagged, ("table_id", "bucket"), key, cap=bucket_cap)
    av = embeddings.select(F.col(key).alias("key_a"), F.col(vec).alias("qv"))
    bv = embeddings.select(F.col(key).alias("key_b"), F.col(vec).alias("rv"))
    return (
        cand.join(av, "key_a")
        .join(bv, "key_b")
        .select(
            "key_a",
            "key_b",
            (_dot("qv", "rv") / (_norm("qv") * _norm("rv"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= float(threshold))
    )


def _spherical_kmeans(
    vectors: np.ndarray, n_centroids: int, n_iters: int = 10
) -> np.ndarray:
    """Deterministic spherical k-means (no RNG): init = evenly strided
    sample rows; Lloyd iterations with cosine assignment (argmax dot over
    L2-normalized data); empty clusters reseeded from the vector farthest
    from its centroid. Returns (n_centroids, dim) L2-normalized."""
    v = vectors / np.maximum(np.linalg.norm(vectors, axis=1, keepdims=True), 1e-12)
    n = len(v)
    n_centroids = min(n_centroids, n)
    c = v[np.linspace(0, n - 1, n_centroids).astype(np.int64)].copy()
    for _ in range(n_iters):
        sims = v @ c.T  # (n, k)
        assign = sims.argmax(axis=1)
        best = sims[np.arange(n), assign]
        for j in range(n_centroids):
            members = v[assign == j]
            if len(members) == 0:
                c[j] = v[best.argmin()]  # farthest-from-fit vector reseeds
                best[best.argmin()] = 1.0
                continue
            m = members.sum(axis=0)
            norm = np.linalg.norm(m)
            if norm > 1e-12:
                c[j] = m / norm
    return c


def cosine_topk_ivf(
    embeddings: DataFrame,
    k: int = 5,
    query_mod: int = 100,
    n_centroids: int = 16,
    nprobe: int = 4,
    n_iters: int = 10,
    max_train_sample: int = 65536,
    train_mod: int = 1,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Approximate top-k cosine via an IVF (inverted-file) coarse quantizer
    — the centroid-partitioned counterpart of `cosine_topk_lsh`.

    Train: deterministic spherical k-means over a bounded driver-side
    sample ({key % train_mod == 0}, capped at `max_train_sample` rows by
    ascending key) — the centroid matrix is a small model (n_centroids ×
    dim floats), broadcast into the assignment kernel like any ML model.
    Assign: every vector gets its nearest-centroid `list_id` with ONE numpy
    matmul per Arrow batch; queries additionally get their `nprobe` nearest
    list ids. Search: candidates = vectors in any probed list (one
    equi-join shuffle on list_id, never the cross product), exactly
    reranked with the same float64 fold as `cosine_topk`.

    `nprobe >= n_centroids` probes every list — exhaustive search through
    the IVF machinery, equal to `cosine_topk` by construction (the driver
    oracle pins this); smaller nprobe trades recall for a ~nprobe/n_centroids
    candidate fraction (recall gated in tests). Output schema matches
    `cosine_topk`; rank may be < k when probed lists recall fewer
    neighbors."""
    train = (
        embeddings.filter((F.col(key) % train_mod) == 0)
        .select(key, vec)
        .orderBy(key)
        .limit(max_train_sample)
        .collect()
    )
    if not train:
        return cosine_topk(embeddings.limit(0), k, query_mod, key, vec)
    cents = _spherical_kmeans(
        np.array([r[1] for r in train], dtype=np.float64), n_centroids, n_iters
    )
    nprobe = min(nprobe, len(cents))

    import pyarrow as pa
    from pyspark.sql import types as T

    def _sims(batch):
        ct = cents.T  # (dim, n_centroids)
        n = batch.num_rows
        # zero-copy Arrow→numpy (same pattern as _bucketize above):
        # flatten() honors a sliced list array's offset window, then one
        # contiguous f64 cast — no per-row Python materialization
        col = batch.column(1)
        col = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
        mat = (
            col.flatten()
            .to_numpy(zero_copy_only=False)
            .astype(np.float64)
            .reshape(n, ct.shape[0])
        )
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        return mat @ ct

    # TWO slim kernels instead of one fat one joined to itself: the single
    # (key, list_id, probes) frame fed a q×r self-join whose sides AQE
    # re-planned separately, so the full-corpus assign matmul + argsort ran
    # TWICE per query (see operators/lsh.py). Split, the whole corpus pays
    # only the nearest-list argmax once, and the nprobe argsort runs only
    # on the 1/query_mod query fraction — pushed BELOW the Python boundary
    # so the kernel never sees non-query rows (guide-§4 column/row pruning
    # an opaque function defeats otherwise).
    def assign_lists(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            sims = _sims(batch)
            # argmax == first row of the stable argsort on -sims (ties →
            # lowest list id), the original ordering's top-1
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pa.array(sims.argmax(axis=1).astype(np.int32), pa.int32()),
                ],
                ["neighbor_id", "list_id"],
            )

    def assign_probes(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            # top-nprobe lists per row, ordered best-first (deterministic:
            # argsort on (-sim, list_id) via stable sort of negated sims)
            order = np.argsort(-_sims(batch), axis=1, kind="stable")
            offs = np.arange(n + 1, dtype=np.int32) * nprobe
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pa.ListArray.from_arrays(
                        pa.array(offs, pa.int32()),
                        pa.array(
                            order[:, :nprobe].astype(np.int32).reshape(-1),
                            pa.int32(),
                        ),
                    ),
                ],
                ["query_id", "probes"],
            )

    key_type = embeddings.schema[key].dataType
    r = embeddings.select(key, vec).mapInArrow(
        assign_lists,
        T.StructType(
            [
                T.StructField("neighbor_id", key_type),
                T.StructField("list_id", T.IntegerType()),
            ]
        ),
    )
    q = (
        embeddings.filter((F.col(key) % query_mod) == 0)
        .select(key, vec)
        .mapInArrow(
            assign_probes,
            T.StructType(
                [
                    T.StructField("query_id", key_type),
                    T.StructField("probes", T.ArrayType(T.IntegerType())),
                ]
            ),
        )
        .select("query_id", F.explode("probes").alias("list_id"))
    )
    cand = (
        q.join(r, "list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qv = embeddings.select(F.col(key).alias("query_id"), F.col(vec).alias("qv"))
    rv = embeddings.select(F.col(key).alias("neighbor_id"), F.col(vec).alias("rv"))
    scored = (
        cand.join(qv, "query_id")
        .join(rv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (_dot("qv", "rv") / (_norm("qv") * _norm("rv"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )
