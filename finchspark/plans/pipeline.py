"""End-to-end near-duplicate pipeline: documents → signatures → candidates →
verified pairs → components.

Spark shape (SURVEY.md §3.2): one embarrassingly-parallel signature pass,
banded in-group pair expansion for candidates, an Arrow verify kernel, then
O(log n) large-star/small-star rounds. With a `TableStore` every stage
checkpoints and a re-run resumes from the last completed stage (params-hash
validated).

Short documents (fewer than `short_doc_min_kmers` shingles) have unstable
MinHash signatures; they take the SimHash path: banded 16-bit chunks of the
64-bit SimHash generate candidates (pigeonhole-complete for Hamming
distance < 4), verified by exact Hamming distance. Exact duplicates
(including zero-shingle docs) are always caught by sha256 grouping.
"""
from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators.cc import connected_components
from ..operators.lsh import bucket_pairs, candidate_pairs, exact_dup_pairs_sha
from ..operators.signature import build_signatures
from ..operators.verify import verify_pairs
from .checkpoint import TableStore


@dataclass
class NearDupResult:
    signatures: DataFrame
    pairs: DataFrame  # verified near-dup pairs above threshold
    components: DataFrame  # (node, component)
    bucket_overflow: DataFrame  # capped LSH buckets (skew metrics)


def simhash_candidate_pairs(
    signatures: DataFrame,
    config: PipelineConfig,
    key_col: str = "doc_id",
    with_metrics: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Hamming-banded SimHash pairs for short documents. Any pair with
    Hamming distance < 4 shares one of the four 16-bit chunks; verified
    exactly with bit_count (JVM-side, whole-stage codegen).

    Pairs come from `lsh.bucket_pairs` over (chunk_id, chunk_val) buckets,
    with the MinHash LSH stage's skew discipline: buckets above
    `config.lsh.bucket_cap` are dropped from pair generation and surfaced as
    metrics — at 10^8 short docs a popular 16-bit chunk value would
    otherwise emit ~n²/2¹⁶ candidate rows before the Hamming filter. Near
    pairs lost to a capped chunk usually share one of their three other
    chunks; exact duplicates are always caught by the sha256 path.
    """
    short = signatures.filter(
        (F.col("n_kmers") > 0) & (F.col("n_kmers") < config.short_doc_min_kmers)
    ).select(key_col, "simhash")
    chunks = short.select(
        key_col,
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", i * 16).bitwiseAND(F.lit(0xFFFF))
                    for i in range(4)
                ]
            )
        ).alias("chunk_id", "chunk_val"),
    )
    pairs, overflow = bucket_pairs(
        chunks,
        ("chunk_id", "chunk_val"),
        key_col,
        cap=config.lsh.bucket_cap,
        payload=("simhash",),
    )
    pairs = pairs.filter(
        F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
        <= config.simhash_max_hamming
    ).select("key_a", "key_b")
    return (pairs, overflow) if with_metrics else pairs


def near_duplicates(
    documents: DataFrame,
    config: PipelineConfig | None = None,
    key_col: str = "doc_id",
    content_col: str = "content",
    store: TableStore | None = None,
    assume_complete: bool = False,
    collapse_exact: bool = False,
) -> NearDupResult:
    """`assume_complete=True`: the sketches are complete (sketch size >= any
    doc's distinct shingles) and verification reports true set quantities
    (see `verify_pairs`) — the exact-mode pipeline used by the value
    oracles.

    `collapse_exact=True`: collapse byte-identical documents to one min-key
    representative BEFORE sketching (one groupBy on a codegen sha256), run
    sketch → LSH → verify → SimHash on representatives only, and stitch the
    collapsed members back in as star edges (rep → member) for the
    component stage. Source-code corpora are dominated by exact duplicates
    (vendored files, unmodified forks), so at 10^12-file scale this removes
    them from every downstream stage: they are never sketched, never
    banded, never verified. The component map is the same as the default
    mode's whenever no LSH bucket cap fires (identical docs have identical
    sketches, so a member pair exists iff the rep pair exists, and members
    reach their rep's component through the star edges; with caps the
    collapsed run can only find MORE — collapsing shrinks buckets).
    `result.pairs` and `result.signatures` are representative-level in this
    mode (documented divergence; expand via the star map if per-member
    pairs are needed).

    MEASURED TRADEOFF (BENCH machine, 150k files / ~36% exact-dup rows, 4
    cores): collapsed 268 s vs default 164 s same-window — identical
    116,186 clustered nodes. The rep semi-join shuffles the content column
    once, while the default signature scan is shuffle-free, so collapsing
    only pays when the duplicated fraction's sketch+band+verify cost
    exceeds one corpus shuffle: high dup fractions, expensive configs
    (large sketches / oversketch+filter), or pipelines that re-read
    signatures repeatedly. Pick per corpus; the component map is the same
    either way."""
    config = config or PipelineConfig()

    prefix = "collapsed_" if collapse_exact else ""

    def _stage(name: str, compute):
        if store is None:
            return compute()
        return store.get_or_compute(prefix + name, compute)

    star_edges = None
    if collapse_exact:
        # coalesce-to-'' matches build_signatures' sha (signature.py): NULL
        # content must hash like the empty string, or the equi-join on __sha
        # below drops the null group and those docs silently vanish from
        # signatures AND components (they'd cluster in default mode).
        keyed = documents.select(
            F.col(key_col),
            F.sha2(F.coalesce(F.col(content_col), F.lit("")), 256).alias("__sha"),
        )
        grp = keyed.groupBy("__sha").agg(F.min(key_col).alias("__rep"))
        members = keyed.join(grp, "__sha").select(key_col, "__rep")
        star_edges = (
            members.filter(F.col(key_col) != F.col("__rep"))
            .select(F.col("__rep").alias("src"), F.col(key_col).alias("dst"))
        )
        documents = documents.join(
            grp.select(F.col("__rep").alias(key_col)), key_col, "left_semi"
        )

    signatures = _stage(
        "signatures",
        lambda: build_signatures(
            documents, config, key_cols=(key_col,), content_col=content_col
        ),
    )
    if store is None:
        # the candidate join + sha/simhash paths reference signatures several
        # times; without a checkpoint table the UDF stage would be recomputed
        # per reference (verified via .explain) — materialize it once
        signatures = signatures.persist()

    # one candidate_pairs invocation serves both the verify stage and the
    # overflow metrics frame (both lazy; a single band-explode subtree)
    cands, bucket_overflow = candidate_pairs(signatures, config.lsh, key_col)

    def compute_pairs():
        verified = verify_pairs(
            cands, signatures, config, key_col, assume_complete=assume_complete
        )
        return verified.filter(F.col("jaccard") >= config.jaccard_threshold)

    pairs = _stage("pairs", compute_pairs)

    edge_frames = [pairs.select(F.col("key_a").alias("src"), F.col("key_b").alias("dst"))]
    if collapse_exact:
        # the star map IS the exact path in collapsed mode (reps are
        # sha-distinct by construction, so exact_dup_pairs_sha finds nothing)
        edge_frames.append(star_edges)
    else:
        edge_frames.append(
            exact_dup_pairs_sha(signatures, key_col).select(
                F.col("key_a").alias("src"), F.col("key_b").alias("dst")
            )
        )
    edge_frames.append(
        simhash_candidate_pairs(signatures, config, key_col).select(
            F.col("key_a").alias("src"), F.col("key_b").alias("dst")
        )
    )
    edges = edge_frames[0]
    for f in edge_frames[1:]:
        edges = edges.unionByName(f)

    components = _stage("components", lambda: connected_components(edges))
    return NearDupResult(signatures, pairs, components, bucket_overflow)
