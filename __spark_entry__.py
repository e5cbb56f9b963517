"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship near-duplicate pipeline on sf0.001.
`queries()` exposes one entry per implemented operator family from
SURVEY.md §2 (+ the training-data extensions); `oracle_sql()` gives the
DuckDB-equivalent SQL for every SQL-expressible query. Column names and
types are aligned pairwise (the driver's compare sorts columns by name and
hashes values); doubles that pass through `ln`/`sqrt` are rounded to 9 (6
for cosine) decimals on BOTH sides, while pure int/int divisions are left
exact (IEEE-identical in both engines).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

K = 21  # shingle width (finch default k-mer size, `cli/src/cli.rs`)
SKETCH_SIZE = 128
FULL_SKETCH = 1024  # >= max distinct 21-grams per driver doc => complete sketch
NGRAM = 3
BAND = 3  # doc_id distance band for the exact n-gram oracles
JACC_T = 0.5  # flagship near-dup threshold on driver data
MAX_DIST = 0.015
CONT_T = 0.6
ABUN_LO, ABUN_HI = 2, 5
ANN_K, ANN_MOD = 5, 50
REPO_T = 0.02  # repo-level (merged-sketch) Jaccard threshold on driver data
COS_T = 0.45  # embedding near-dup threshold (driver data max cosine ~0.513)


def _cfg():
    from finchspark.config import PipelineConfig
    from finchspark.kernels import SketchParams

    return PipelineConfig(
        sketch=SketchParams(
            kmers_to_sketch=SKETCH_SIZE, final_size=SKETCH_SIZE, kmer_length=K
        ),
        jaccard_threshold=JACC_T,
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


_SIG_CACHE: dict[str, DataFrame] = {}


def _signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finchspark.operators.signature import build_signatures

    # persist + memoize per sf_dir: downstream queries reference the signature
    # frame multiple times (self-joins) and the driver runs many queries in
    # one session — one shared cached copy instead of one per query call
    key = f"default:{sf_dir}"
    if key not in _SIG_CACHE:
        _SIG_CACHE[key] = build_signatures(
            _docs(spark, sf_dir), _cfg(), key_cols=("doc_id",), content_col="text"
        ).persist()
    return _SIG_CACHE[key]


def _signatures_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLETE sketches (kmers_to_sketch >= any doc's distinct shingles): the
    hash array IS the document's full 21-gram set, so set-Jaccard over hashes
    equals set-Jaccard over the grams themselves — the bridge that lets a SQL
    oracle reproduce MinHash-path results byte-for-byte."""
    from finchspark.config import PipelineConfig
    from finchspark.kernels import SketchParams
    from finchspark.operators.signature import build_signatures

    key = f"full:{sf_dir}"
    if key not in _SIG_CACHE:
        cfg = PipelineConfig(
            sketch=SketchParams(
                kmers_to_sketch=FULL_SKETCH, final_size=FULL_SKETCH, kmer_length=K
            ),
            jaccard_threshold=JACC_T,
        )
        sigs = build_signatures(
            _docs(spark, sf_dir), cfg, key_cols=("doc_id",), content_col="text"
        ).persist()
        # the exactness of every *_full / *_exact oracle rests on the sketch
        # being COMPLETE for every doc; check the precondition where it is
        # relied on instead of letting a corpus change silently degrade the
        # queries to sketch-Jaccard (one tiny action, amortized by the cache)
        mx = sigs.agg(F.max("n_unique").alias("m")).first()["m"]
        if mx is not None and mx > FULL_SKETCH:
            raise AssertionError(
                f"corpus has a doc with {mx} distinct {K}-grams > FULL_SKETCH="
                f"{FULL_SKETCH}; complete-sketch oracles would be silently wrong"
            )
        _SIG_CACHE[key] = sigs
    return _SIG_CACHE[key]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: near-duplicate pairs + cluster ids on sf0.001."""
    from finchspark.plans.pipeline import near_duplicates

    docs = _docs(spark, "/root/testdata/sf0.001").withColumnRenamed("text", "content")
    res = near_duplicates(docs, _cfg(), key_col="doc_id", content_col="content")
    return res.pairs.join(
        res.components.withColumnRenamed("node", "key_a"), "key_a", "left"
    ).select(
        "key_a",
        "key_b",
        F.round("jaccard", 9).alias("jaccard"),
        F.round("containment", 9).alias("containment"),
        F.round("mash_distance", 9).alias("mash_distance"),
        F.col("component").alias("cluster_id"),
    )


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------


def _q_token_stats(spark, sf):
    from finchspark.operators.textops import token_stats

    out = token_stats(_docs(spark, sf), key="doc_id", text="text")
    return out.select(
        "doc_id", "n_chars", "n_tokens", F.round("avg_token_len", 9).alias("avg_token_len")
    )


def _q_quality(spark, sf):
    from finchspark.operators.textops import quality_scores

    out = quality_scores(_docs(spark, sf))
    return out.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        F.round("punct_ratio", 9).alias("punct_ratio"),
        F.round("upper_ratio", 9).alias("upper_ratio"),
        F.round("stopword_ratio", 9).alias("stopword_ratio"),
    )


def _q_lang_id(spark, sf):
    from finchspark.operators.textops import language_id

    return language_id(_docs(spark, sf))


def _q_fingerprint(spark, sf):
    from finchspark.operators.textops import fingerprints

    return fingerprints(_docs(spark, sf), n=NGRAM)


def _q_winnow(spark, sf):
    from finchspark.operators.textops import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf), k=5, w=4)


def _q_token_hist(spark, sf):
    from finchspark.operators.textops import token_freq_hist

    return token_freq_hist(_docs(spark, sf))


def _q_token_abundance(spark, sf):
    from finchspark.operators.textops import token_abundance_filter

    return token_abundance_filter(_docs(spark, sf), ABUN_LO, ABUN_HI)


def _docs_planted_dups(spark, sf):
    """Driver corpus + deterministically planted exact duplicates (every
    doc_id ≡ 0 mod 97 re-keyed at +10M). The raw driver corpus has ZERO
    byte-identical texts, which made the exact-dup oracle rows vacuous
    (0-vs-0); the planted twin — mirrored verbatim in the oracle SQL —
    makes them bite. Non-driver coverage with planted dups lives in
    tests/test_pipeline.py / test_ops.py."""
    d = _docs(spark, sf).select("doc_id", "text")
    dup = d.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    return d.unionByName(dup)


def _q_exact_dup_pairs(spark, sf):
    from finchspark.operators.dedup import exact_dup_pairs

    return exact_dup_pairs(_docs_planted_dups(spark, sf))


def _q_exact_dup_clusters(spark, sf):
    from finchspark.operators.dedup import exact_dup_clusters

    return exact_dup_clusters(_docs_planted_dups(spark, sf))


_NGRAM_CACHE: dict[str, DataFrame] = {}


def _ngram_pairs(spark, sf):
    """Banded n-gram pairs, persisted per sf_dir: five queries
    (ngram_jaccard, best_match, mash_distance, max_dist_filter,
    containment_filter) project the same joined frame — one shared
    materialization instead of five gram-join recomputes (same in-session
    discipline as _SIG_CACHE / _PAIRS_CACHE)."""
    from finchspark.operators.dedup import ngram_jaccard_pairs

    if sf not in _NGRAM_CACHE:
        _NGRAM_CACHE[sf] = ngram_jaccard_pairs(
            _docs(spark, sf), n=NGRAM, key_band=BAND
        ).persist()
    return _NGRAM_CACHE[sf]


def _q_ngram_jaccard(spark, sf):
    return _ngram_pairs(spark, sf)


def _q_best_match(spark, sf):
    from finchspark.operators.dedup import best_match

    return best_match(_ngram_pairs(spark, sf))


def _q_mash_distance(spark, sf):
    from finchspark.functions import mash_distance

    return _ngram_pairs(spark, sf).select(
        "key_a", "key_b", F.round(mash_distance(F.col("jaccard"), K), 9).alias("mash_distance")
    )


def _q_max_dist(spark, sf):
    return _q_mash_distance(spark, sf).filter(F.col("mash_distance") <= MAX_DIST)


def _q_containment_filter(spark, sf):
    from finchspark.operators.dedup import containment_filter

    return containment_filter(_ngram_pairs(spark, sf), CONT_T).select(
        "key_a", "key_b", "containment"
    )


def _q_cc_chain(spark, sf):
    """Generic CC operator exercised on a chain graph (so the transitive
    closure has an exact windowed-SQL oracle)."""
    from finchspark.operators.cc import connected_components

    e = _ngram_pairs(spark, sf).filter(
        (F.col("key_b") == F.col("key_a") + 1) & (F.col("jaccard") >= JACC_T)
    )
    # small_graph_threshold=0 pins the DISTRIBUTED star-rounds path so the
    # iterative operator itself stays value-checked (the auto single-task
    # path is value-checked by cc_neardup_full)
    return connected_components(
        e.select(F.col("key_a").alias("src"), F.col("key_b").alias("dst")),
        small_graph_threshold=0,
    )


def _q_signature_stats(spark, sf):
    return _signatures(spark, sf).select("doc_id", "n_bytes", "n_kmers", "sha256")


def _q_minhash_signatures(spark, sf):
    """A1 through the Spark surface, value-exact: the bottom-k sketch of a
    document has exactly min(SKETCH_SIZE, #distinct k-grams) entries."""
    return _signatures(spark, sf).select(
        "doc_id", F.size("hashes").alias("sig_size"), "n_unique"
    )


def _q_scaled_signatures(spark, sf):
    """A2 (scaled MinHash, `sketch_schemes/scaled.rs`) through the Spark
    surface, value-exact at scale=1.0: max_hash == u64::MAX keeps EVERY
    distinct k-gram, so sig_size == n_unique == |distinct 21-grams| and the
    retained counts sum back to the total k-mer count — both SQL-expressible.
    Real scales (<1) are murmur-bound and stay on the golden/hypothesis
    tests (the `scaled_*` goldens of kernels/sketch.py scaled_keep)."""
    from finchspark.config import PipelineConfig
    from finchspark.kernels import SketchParams
    from finchspark.operators.signature import build_signatures

    key = f"scaled:{sf}"
    if key not in _SIG_CACHE:
        cfg = PipelineConfig(
            sketch=SketchParams(sketch_type="scaled", scale=1.0, kmer_length=K)
        )
        _SIG_CACHE[key] = build_signatures(
            _docs(spark, sf), cfg, key_cols=("doc_id",), content_col="text"
        ).persist()
    return _SIG_CACHE[key].select(
        "doc_id",
        F.size("hashes").alias("sig_size"),
        "n_unique",
        F.aggregate("counts", F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "count_sum"
        ),
    )


def _q_signature_diagnostics(spark, sf):
    """Murmur-dependent diagnostics (no SQL twin): simhash bit pattern +
    mean retained-shingle depth (G3 mean)."""
    from finchspark.functions import mean_depth

    return _signatures(spark, sf).select(
        "doc_id", "simhash", F.round(mean_depth("counts"), 9).alias("mean_depth")
    )


def _q_depth_histogram(spark, sf):
    from finchspark.functions import depth_histogram

    return depth_histogram(_signatures(spark, sf))


def _q_depth_histogram_full(spark, sf):
    """G2 with an exact SQL twin: over COMPLETE sketches the depth histogram
    is the corpus's k-gram occurrence-count histogram."""
    from finchspark.functions import depth_histogram

    return depth_histogram(_signatures_full(spark, sf))


_EXACT_PAIRS_CACHE: dict[str, DataFrame] = {}


def _exact_pairs_full(spark, sf) -> DataFrame:
    """exact_jaccard_pairs over the complete sketches at the flagship
    threshold, persisted per sf_dir: seven queries (neardup_exact,
    lsh_recall, cc_exact, compare_counts_full, weighted_jaccard,
    dedup_corpus, cc_incremental_capped) consume this same pair set — one
    shared materialization instead of seven prefix-index recomputes (same
    in-session discipline as _SIG_CACHE / _PAIRS_CACHE)."""
    from finchspark.operators.allpairs import exact_jaccard_pairs

    if sf not in _EXACT_PAIRS_CACHE:
        _EXACT_PAIRS_CACHE[sf] = exact_jaccard_pairs(
            _signatures_full(spark, sf), JACC_T
        ).persist()
    return _EXACT_PAIRS_CACHE[sf]


def _q_neardup_exact(spark, sf):
    """Exact set-Jaccard near-dup pairs (AllPairs prefix filtering over
    complete sketches) — recall 1.0 by construction; int/int divisions are
    IEEE-identical in Spark and DuckDB, so no rounding is needed."""
    return _exact_pairs_full(spark, sf)


def _q_lsh_recall(spark, sf):
    """LSH banding end-to-end against exact truth: every exact pair (true
    21-gram Jaccard >= JACC_T) tagged with whether the OPH band join
    surfaced it as a candidate. The oracle asserts caught = true for every
    pair — recall 1.0 at this config on this data is a measured, determinist
    fact (fixed hashes, fixed bands, fixed corpus), so any banding
    regression flips a flag and fails the value-hash."""
    from finchspark.operators.lsh import candidate_pairs

    exact = _exact_pairs_full(spark, sf).select("key_a", "key_b")
    cands, _ = candidate_pairs(_signatures(spark, sf), _cfg().lsh, key_col="doc_id")
    tagged = cands.withColumn("caught", F.lit(True))
    return exact.join(tagged, ["key_a", "key_b"], "left").select(
        "key_a", "key_b", F.coalesce("caught", F.lit(False)).alias("caught")
    )


def _q_cc_exact(spark, sf):
    """Connected components over the exact near-dup graph — the general CC
    operator on a non-chain graph, value-checked against a recursive-CTE
    transitive closure."""
    from finchspark.operators.cc import connected_components

    e = _exact_pairs_full(spark, sf)
    # star path pinned here too (see _q_cc_chain)
    return connected_components(
        e.select(F.col("key_a").alias("src"), F.col("key_b").alias("dst")),
        small_graph_threshold=0,
    )


def _q_char_class_profile(spark, sf):
    """G3 info stats (`finch info` %GC analogue, `cli/src/main.rs:146-187`):
    count-weighted char-class fractions over retained k-mers. With the
    complete-sketch config every k-mer is retained, so the count-weighted
    distinct-gram aggregate equals a plain per-occurrence aggregate — which
    is exactly what the SQL twin computes (int-sum / int-sum divisions,
    IEEE-identical, no rounding)."""
    from finchspark.config import PipelineConfig
    from finchspark.kernels import SketchParams
    from finchspark.operators.infostats import char_class_profile

    cfg = PipelineConfig(
        sketch=SketchParams(
            kmers_to_sketch=FULL_SKETCH, final_size=FULL_SKETCH, kmer_length=K
        )
    )
    return char_class_profile(
        _docs(spark, sf), cfg, key_cols=("doc_id",), content_col="text"
    )


def _q_kmv_cardinality(spark, sf):
    from finchspark.functions import kmv_cardinality

    return _signatures(spark, sf).select(
        "doc_id", kmv_cardinality("hashes").alias("cardinality_est")
    )


def _q_lsh_candidates(spark, sf):
    from finchspark.operators.lsh import candidate_pairs

    pairs, _ = candidate_pairs(_signatures(spark, sf), _cfg().lsh, key_col="doc_id")
    return pairs


_PAIRS_CACHE: dict[str, DataFrame] = {}


def _q_near_dup_pairs(spark, sf):
    """Verified near-dup pairs, persisted per sf_dir so downstream queries
    (span_dedup) reuse the materialized result instead of recomputing the
    LSH+verify subtree (same discipline as _SIG_CACHE)."""
    from finchspark.operators.lsh import candidate_pairs
    from finchspark.operators.verify import verify_pairs

    if sf not in _PAIRS_CACHE:
        sigs = _signatures(spark, sf)
        cands, _ = candidate_pairs(sigs, _cfg().lsh, key_col="doc_id")
        v = verify_pairs(cands, sigs, _cfg(), key_col="doc_id")
        _PAIRS_CACHE[sf] = (
            v.filter(F.col("jaccard") >= JACC_T)
            .select(
                "key_a",
                "key_b",
                F.round("jaccard", 9).alias("jaccard"),
                F.round("containment", 9).alias("containment"),
                F.round("mash_distance", 9).alias("mash_distance"),
                "common_hashes",
                "total_hashes",
            )
            .persist()
        )
    return _PAIRS_CACHE[sf]


def _q_cc_neardup(spark, sf):
    from finchspark.plans.pipeline import near_duplicates

    docs = _docs(spark, sf).withColumnRenamed("text", "content")
    return near_duplicates(docs, _cfg(), key_col="doc_id").components


def _q_near_dup_pairs_full(spark, sf):
    """The flagship LSH→verify path, value-exact end-to-end: over COMPLETE
    sketches the OPH band join's candidate set equals the exact >= JACC_T
    pair set on this corpus (deterministic at fixed murmur3/band config;
    recall is separately value-gated by `lsh_recall`), and complete-mode
    verification reports true set quantities — so every output column has an
    ANSI-SQL twin over the raw 21-gram sets."""
    from finchspark.operators.lsh import candidate_pairs
    from finchspark.operators.verify import verify_pairs

    sigs = _signatures_full(spark, sf)
    cands, _ = candidate_pairs(sigs, _cfg().lsh, key_col="doc_id")
    v = verify_pairs(cands, sigs, _cfg(), key_col="doc_id", assume_complete=True)
    return v.filter(F.col("jaccard") >= JACC_T).select(
        "key_a",
        "key_b",
        "jaccard",
        "containment",
        F.round("mash_distance", 9).alias("mash_distance"),
        "common_hashes",
        "total_hashes",
    )


def _q_cc_neardup_full(spark, sf):
    """The ENTIRE flagship pipeline (signatures → LSH candidates → verify →
    sha/simhash side paths → connected components) in complete-sketch exact
    mode: the resulting component map is value-checked against a recursive-
    CTE transitive closure over the exact near-dup graph."""
    from finchspark.config import PipelineConfig
    from finchspark.kernels import SketchParams
    from finchspark.plans.pipeline import near_duplicates

    cfg = PipelineConfig(
        sketch=SketchParams(
            kmers_to_sketch=FULL_SKETCH, final_size=FULL_SKETCH, kmer_length=K
        ),
        jaccard_threshold=JACC_T,
    )
    docs = _docs(spark, sf).withColumnRenamed("text", "content")
    return near_duplicates(
        docs, cfg, key_col="doc_id", assume_complete=True
    ).components


def _q_cc_collapse_full(spark, sf):
    """`collapse_exact` mode's documented guarantee — byte-identical docs
    are collapsed to one representative before sketching and the component
    map is nevertheless IDENTICAL to default mode's — value-checked through
    the driver gate: the collapsed pipeline's components must equal the
    batch recursive-CTE closure over the exact near-dup graph (same oracle
    as `cc_exact`/`cc_neardup_full`)."""
    from finchspark.config import PipelineConfig
    from finchspark.kernels import SketchParams
    from finchspark.plans.pipeline import near_duplicates

    cfg = PipelineConfig(
        sketch=SketchParams(
            kmers_to_sketch=FULL_SKETCH, final_size=FULL_SKETCH, kmer_length=K
        ),
        jaccard_threshold=JACC_T,
    )
    docs = _docs(spark, sf).withColumnRenamed("text", "content")
    return near_duplicates(
        docs, cfg, key_col="doc_id", assume_complete=True, collapse_exact=True
    ).components


def _q_cc_incremental_full(spark, sf):
    """The continuously-maintained clustering path (the streaming mode's
    epoch fold, `cc.connected_components_incremental`) value-checked through
    the driver gate: the exact near-dup pair set is split into three
    deterministic epochs and folded incrementally — contract previous
    components to representatives, CC the delta graph, remap — and the
    final map must equal the batch transitive closure (same recursive-CTE
    oracle as `cc_exact`). This is the exactness claim
    `neardup_stream(components_path=...)` relies on, proven on driver data
    end-to-end rather than only property-tested."""
    from finchspark.operators.cc import connected_components_incremental

    pairs = _q_near_dup_pairs_full(spark, sf).select(
        F.col("key_a").alias("src"), F.col("key_b").alias("dst")
    )
    prev = None
    for epoch in range(3):
        ep = pairs.filter(
            F.pmod(F.col("src") + F.col("dst"), F.lit(3)) == epoch
        )
        prev, _ = connected_components_incremental(prev, ep)
    return prev


def _q_compare_counts_full(spark, sf):
    """D7 `Sketch.compare_counts` (`lib/src/python.rs:489-559`) through the
    Spark surface over exact near-dup pairs: intersection size, summed
    counts at common hashes, and population variance/skew/excess-kurtosis
    of the query's counts at common hashes. Over COMPLETE sketches the
    common hashes are exactly the common 21-grams and the counts their
    occurrence depths — all plain SQL over exploded grams. The two-pointer
    stop positions (ref_pos/query_pos) are murmur-ORDER-bound, and since
    round 6 the oracle carries the in-SQL murmur3 (`_mm3_subquery`), so
    they are value-checked too: each is the rank of the other sketch's max
    hash within this sketch. NaN moments (zero query-count variance) map
    to NULL on both sides — DuckDB's 0/0 is NULL, numpy's is NaN, and the
    gate must compare equal."""
    from finchspark.operators.countstats import compare_counts_pairs

    sigs = _signatures_full(spark, sf)
    pairs = _exact_pairs_full(spark, sf).select("key_a", "key_b")
    out = compare_counts_pairs(pairs, sigs, key_col="doc_id")

    def _nn(c):
        return F.when(F.isnan(F.col(c)), F.lit(None)).otherwise(
            F.round(F.col(c), 9)
        ).alias(c)

    return out.select(
        "key_a", "key_b", "common", "ref_pos", "query_pos",
        "ref_count", "query_count",
        _nn("var"), _nn("skew"), _nn("kurt"),
    )


def _q_minmer_hist(spark, sf):
    """D6 `Sketch.compare_matrix` / `minmer_matrix`
    (`lib/src/python.rs:560-615`, `lib/src/distance.rs:344-364`) through the
    Spark surface: the count matrix of every doc's sketch against doc 0's
    reference sketch, surfaced as its per-sketch value histogram (the
    position-free projection — column POSITIONS follow murmur hash order,
    the multiset of row values is exactly SQL-checkable; positional layout
    is pinned by tests/test_ops.py::test_compare_matrix_minmer and
    tests/test_countstats.py)."""
    from finchspark.operators.countstats import minmer_count_hist

    return minmer_count_hist(_signatures_full(spark, sf), 0, key_col="doc_id")


N_CAP_CLONES = 8  # identical-group size 9 (doc d* + 8 clones) > CAP_BUCKET
CAP_BUCKET = 4


def _q_cc_incremental_capped(spark, sf):
    """Cap-drop semantics UNDER INCREMENTAL ARRIVAL, value-checked: the
    corpus is augmented with 8 byte-identical clones of d* (the smallest
    doc in no exact near-dup pair), all arriving in the MIDDLE epoch of a
    three-epoch incremental fold run with bucket_cap=4. Every LSH bucket
    holding the 9-member identical group overflows the cap and is dropped
    mid-stream (hard-asserted: zero intra-group LSH candidates) — yet the
    final component map must still equal the batch transitive closure of
    the augmented corpus, because the sha256 exact-dup safety net
    (`lsh.exact_dup_pairs_sha`, the documented companion of the cap) unites
    the group. This is the one interaction the batch oracles could not see:
    caps firing against a store that accumulates across epochs.

    The oracle is `cc_exact`'s closure plus the clone group as one
    d*-labelled component (d* is isolated, so no other row changes)."""
    from dataclasses import replace

    from finchspark.config import PipelineConfig
    from finchspark.kernels import SketchParams
    from finchspark.operators.cc import connected_components_incremental
    from finchspark.operators.lsh import (
        candidate_pairs_incremental,
        exact_dup_pairs_sha,
    )
    from finchspark.operators.signature import build_signatures
    from finchspark.operators.verify import verify_pairs

    cfg = PipelineConfig(
        sketch=SketchParams(
            kmers_to_sketch=FULL_SKETCH, final_size=FULL_SKETCH, kmer_length=K
        ),
        jaccard_threshold=JACC_T,
    )
    base = _docs(spark, sf).select("doc_id", "text")
    ex = _exact_pairs_full(spark, sf)
    endpoints = (
        ex.select(F.col("key_a").alias("doc_id"))
        .unionByName(ex.select(F.col("key_b").alias("doc_id")))
        .distinct()
    )
    dstar = (
        base.select("doc_id")
        .join(endpoints, "doc_id", "left_anti")
        .agg(F.min("doc_id").alias("m"))
        .first()["m"]
    )
    clones = (
        spark.range(N_CAP_CLONES)
        .crossJoin(base.filter(F.col("doc_id") == dstar).select("text"))
        .select((F.col("id") + 20_000_000).alias("doc_id"), "text")
    )
    sigs = build_signatures(
        base.unionByName(clones), cfg, key_cols=("doc_id",), content_col="text"
    ).persist()
    lsh = replace(_cfg().lsh, bucket_cap=CAP_BUCKET)
    group = {dstar} | {20_000_000 + i for i in range(N_CAP_CLONES)}

    def _epoch(col):
        # clones (and d* itself) arrive in the MIDDLE epoch; the rest split
        # deterministically by id so pairs span the cap event on both sides
        return F.when(
            (col >= 20_000_000) | (col == dstar), F.lit(1)
        ).otherwise(F.pmod(col, F.lit(3)))

    prev = None
    store = None
    for e in range(3):
        new = sigs.filter(_epoch(F.col("doc_id")) == e)
        store = new if store is None else store.unionByName(new)
        cands = candidate_pairs_incremental(new, store, lsh, key_col="doc_id")
        if e == 1:
            # the cap must actually FIRE mid-stream, or this query is vacuous
            n_intra = cands.filter(
                F.col("key_a").isin(group) & F.col("key_b").isin(group)
            ).count()
            if n_intra != 0:
                raise AssertionError(
                    f"bucket_cap={CAP_BUCKET} failed to drop the "
                    f"{len(group)}-member identical group ({n_intra} intra-"
                    "group LSH candidates leaked)"
                )
        ver = verify_pairs(
            cands, store, cfg, key_col="doc_id", assume_complete=True
        ).filter(F.col("jaccard") >= JACC_T)
        edges = (
            ver.select("key_a", "key_b")
            .unionByName(exact_dup_pairs_sha(store, key_col="doc_id"))
            .select(F.col("key_a").alias("src"), F.col("key_b").alias("dst"))
        )
        prev, _ = connected_components_incremental(prev, edges)
    return prev


def _q_span_coverage(spark, sf):
    """Span-dedup coverage with an exact SQL twin: a byte of A is covered by
    a common substring >= 32 bytes iff some common 32-gram's window contains
    it, so coverage_a equals the union of windows of common 32-grams — which
    DuckDB can compute directly from the texts. Pairs come from the exact
    flagship path."""
    from finchspark.operators.spandedup import span_dedup_pairs

    pairs = _q_near_dup_pairs_full(spark, sf).select("key_a", "key_b")
    docs = _docs(spark, sf).withColumnRenamed("text", "content")
    out = span_dedup_pairs(pairs, docs, min_len=32)
    return out.select(
        "key_a", "key_b", F.round("coverage_a", 9).alias("coverage_a")
    )


def _q_span_islands(spark, sf):
    """Coverage ISLANDS of the span-dedup path — contiguous covered runs of
    A (count, longest, ratio). Pure string properties, so every column has
    an exact SQL twin (gaps-and-islands over the union of common 32-gram
    windows); the greedy bounded span list itself stays on `span_dedup`
    (rows-only, SA-heuristic-bound by design)."""
    from finchspark.operators.spandedup import span_island_pairs

    pairs = _q_near_dup_pairs_full(spark, sf).select("key_a", "key_b")
    docs = _docs(spark, sf).withColumnRenamed("text", "content")
    out = span_island_pairs(pairs, docs, min_len=32)
    return out.select(
        "key_a",
        "key_b",
        "n_islands",
        "longest_island",
        F.round("coverage_a", 9).alias("coverage_a"),
    )


def _q_pairwise_full(spark, sf):
    """finch's true pairwise dist surface (D4) in complete-sketch exact
    mode over a 40-doc subset: every ORDERED (query, reference) pair,
    directional containment — each column has an ANSI-SQL twin over the
    raw 21-gram sets (`calc_sketch_distances`, cli/src/main.rs:315-334)."""
    from finchspark.operators.verify import pairwise_distances

    sigs = _signatures_full(spark, sf).filter(F.col("doc_id") < 40)
    out = pairwise_distances(
        sigs, _cfg(), key_col="doc_id", max_distance=1.0, assume_complete=True
    )
    return out.select(
        "key_a",
        "key_b",
        "jaccard",
        "containment",
        F.round("mash_distance", 9).alias("mash_distance"),
        "common_hashes",
        "total_hashes",
    )


def _q_merged_exploded(spark, sf):
    """The size=None SCALE path of the repo-level merge: merged sets kept
    as (group, hash, count) rows, never assembled per-group. Hash values
    are murmur-bound, but the per-source aggregate (distinct-hash count +
    summed counts) is exactly SQL-expressible over complete sketches."""
    from finchspark.operators.merge import merge_signatures_exploded

    sigs = _signatures_full(spark, sf).join(
        _docs(spark, sf).select("doc_id", "source"), "doc_id"
    )
    rows = merge_signatures_exploded(sigs, "source")
    return rows.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_hashes"),
        F.sum("count").alias("total_count"),
    )


def _q_merged_signatures(spark, sf):
    from finchspark.operators.merge import merge_signatures_by

    sigs = _signatures(spark, sf).join(
        _docs(spark, sf).select("doc_id", "source"), "doc_id"
    )
    merged = merge_signatures_by(sigs, "source", size=SKETCH_SIZE)
    return merged.select("source", "n_members", F.size("hashes").alias("sig_size"))


def _q_repo_jaccard(spark, sf):
    """Repo-level dedup: merge each source's COMPLETE file sketches (D8,
    no clip) and run the exact set-similarity join between the merged
    sketches — the merged hash set IS the source's distinct 21-gram set, so
    jaccard/containment_a are true set quantities with an ANSI-SQL twin."""
    from finchspark.operators.merge import merged_jaccard_pairs

    sigs = _signatures_full(spark, sf).join(
        _docs(spark, sf).select("doc_id", "source"), "doc_id"
    )
    return merged_jaccard_pairs(sigs, "source", REPO_T).select(
        "key_a", "key_b", "jaccard", "containment_a"
    )


def _q_dedup_corpus(spark, sf):
    """Corpus materialization: the deduplicated keep-set (one min-key
    representative per exact near-dup cluster + all singletons) with the
    per-row sha256 content invariant recomputed on the surviving rows —
    the north-star's 'every row preserves content sha256 equality'
    requirement, value-checked end-to-end."""
    from finchspark.operators.cc import connected_components
    from finchspark.operators.dedup import dedup_corpus

    e = _exact_pairs_full(spark, sf)
    comps = connected_components(
        e.select(F.col("key_a").alias("src"), F.col("key_b").alias("dst"))
    )
    return dedup_corpus(_docs(spark, sf), comps)


def _q_simhash_pairs(spark, sf):
    """SimHash short-doc path; the driver corpus has no sub-28-char docs, so
    the query widens the short-doc cutoff (docs under ~220 chars) to put real
    rows through the Hamming-banded join."""
    from dataclasses import replace

    from finchspark.plans.pipeline import simhash_candidate_pairs

    cfg = replace(_cfg(), short_doc_min_kmers=200)
    return simhash_candidate_pairs(_signatures(spark, sf), cfg)


def _q_span_dedup(spark, sf):
    from finchspark.operators.spandedup import span_dedup_pairs

    pairs = _q_near_dup_pairs(spark, sf).select("key_a", "key_b")
    docs = _docs(spark, sf).withColumnRenamed("text", "content")
    out = span_dedup_pairs(pairs, docs, min_len=32)
    return out.select(
        "key_a",
        "key_b",
        "n_spans",
        "longest_span",
        F.round("coverage_a", 9).alias("coverage_a"),
    )


def _q_bpe_token_stats(spark, sf):
    from finchspark.operators.textops import bpe_token_stats

    return bpe_token_stats(_docs(spark, sf))


def _q_cosine_dup_pairs(spark, sf):
    """Embedding-cosine near-dup pairs (dedup-family form): sign-LSH buckets
    + exact rerank; at (3 bits, 32 tables) measured recall on the driver
    embeddings is 1.0 (deterministic hyperplanes from murmur3), so the exact
    all-pairs SQL is a valid value oracle — a recall regression drops rows
    and fails the hash."""
    from finchspark.operators.ann import cosine_dup_pairs

    out = cosine_dup_pairs(_embeddings(spark, sf), threshold=COS_T)
    return out.select("key_a", "key_b", F.round("cosine", 6).alias("cosine"))


def _q_cosine_topk(spark, sf):
    from finchspark.operators.ann import cosine_topk

    out = cosine_topk(_embeddings(spark, sf), k=ANN_K, query_mod=ANN_MOD)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("cosine", 6).alias("cosine"),
    )


def _q_ann_lsh(spark, sf):
    from finchspark.operators.ann import cosine_topk_lsh

    # 64 tables: measured recall@k = 1.0 vs exact top-k on the driver data
    # at BOTH sf0.01 and sf0.1 (32 tables missed one true rank-5 neighbor
    # at sf0.1 — caught by the round-6 full-scale sweep), so the exact
    # ranking SQL is a valid value-oracle (same determinism argument as
    # lsh_recall; a recall regression breaks the hash)
    out = cosine_topk_lsh(
        _embeddings(spark, sf), k=ANN_K, query_mod=ANN_MOD, n_bits=4, n_tables=64
    )
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
    )


def _q_weighted_jaccard(spark, sf):
    """Abundance-weighted Jaccard over the exact near-dup pair set, computed
    from complete sketches — there the retained counts ARE the per-gram
    occurrence counts, so DuckDB reproduces the histogram intersection
    exactly from the raw text."""
    from finchspark.operators.verify import weighted_jaccard_pairs

    sigs = _signatures_full(spark, sf)
    pairs = _exact_pairs_full(spark, sf).select("key_a", "key_b")
    return weighted_jaccard_pairs(pairs, sigs).select(
        "key_a",
        "key_b",
        F.round("weighted_jaccard", 9).alias("weighted_jaccard"),
    )


def _q_ann_ivf(spark, sf):
    """IVF coarse-quantizer ANN through the Spark surface, value-exact: with
    nprobe == n_centroids every inverted list is probed, so the search is
    exhaustive BY CONSTRUCTION (not by measured recall) and equals the exact
    ranking SQL — what the oracle checks is the IVF machinery itself
    (deterministic k-means, list assignment, probe join, rerank fold).
    Pruned-nprobe recall is gated in tests (`test_cosine_topk_ivf_*`)."""
    from finchspark.operators.ann import cosine_topk_ivf

    out = cosine_topk_ivf(
        _embeddings(spark, sf), k=ANN_K, query_mod=ANN_MOD, n_centroids=8, nprobe=8
    )
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "token_stats": _q_token_stats,
        "quality_scores": _q_quality,
        "lang_id": _q_lang_id,
        "fingerprint": _q_fingerprint,
        "winnow_fingerprints": _q_winnow,
        "token_freq_hist": _q_token_hist,
        "token_abundance": _q_token_abundance,
        "exact_dup_pairs": _q_exact_dup_pairs,
        "exact_dup_clusters": _q_exact_dup_clusters,
        "ngram_jaccard": _q_ngram_jaccard,
        "best_match": _q_best_match,
        "mash_distance": _q_mash_distance,
        "max_dist_filter": _q_max_dist,
        "containment_filter": _q_containment_filter,
        "cc_chain": _q_cc_chain,
        "signature_stats": _q_signature_stats,
        "minhash_signatures": _q_minhash_signatures,
        "scaled_signatures": _q_scaled_signatures,
        "signature_diagnostics": _q_signature_diagnostics,
        "depth_histogram": _q_depth_histogram,
        "depth_histogram_full": _q_depth_histogram_full,
        "neardup_exact": _q_neardup_exact,
        "lsh_recall": _q_lsh_recall,
        "cc_exact": _q_cc_exact,
        "char_class_profile": _q_char_class_profile,
        "kmv_cardinality": _q_kmv_cardinality,
        "lsh_candidates": _q_lsh_candidates,
        "near_dup_pairs": _q_near_dup_pairs,
        "near_dup_pairs_full": _q_near_dup_pairs_full,
        "cc_neardup": _q_cc_neardup,
        "cc_neardup_full": _q_cc_neardup_full,
        "cc_incremental_full": _q_cc_incremental_full,
        "cc_incremental_capped": _q_cc_incremental_capped,
        "cc_collapse_full": _q_cc_collapse_full,
        "compare_counts_full": _q_compare_counts_full,
        "minmer_hist": _q_minmer_hist,
        "span_coverage": _q_span_coverage,
        "span_islands": _q_span_islands,
        "merged_signatures": _q_merged_signatures,
        "merged_exploded": _q_merged_exploded,
        "pairwise_full": _q_pairwise_full,
        "repo_jaccard": _q_repo_jaccard,
        "dedup_corpus": _q_dedup_corpus,
        "simhash_pairs": _q_simhash_pairs,
        "span_dedup": _q_span_dedup,
        "bpe_token_stats": _q_bpe_token_stats,
        "cosine_dup_pairs": _q_cosine_dup_pairs,
        "cosine_topk": _q_cosine_topk,
        "ann_lsh": _q_ann_lsh,
        "ann_ivf": _q_ann_ivf,
        "weighted_jaccard": _q_weighted_jaccard,
    }


# --------------------------------------------------------------------------
# oracles (DuckDB dialect)
# --------------------------------------------------------------------------

_TOKS = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')"
_GRAMS = (
    f"case when length(text) >= {NGRAM} then "
    f"list_distinct(list_transform(generate_series(1, length(text) - {NGRAM - 1}),"
    f" i -> substring(text, i, {NGRAM}))) else [] end"
)
_NGRAM_PAIRS = f"""
with g as (
  select doc_id, {_GRAMS} as grams from documents
),
p as (
  select a.doc_id as key_a, b.doc_id as key_b,
         len(list_intersect(a.grams, b.grams)) as inter,
         len(list_distinct(list_concat(a.grams, b.grams))) as uni,
         len(a.grams) as na
  from g a join g b on b.doc_id > a.doc_id and b.doc_id <= a.doc_id + {BAND}
),
pairs as (
  select key_a, key_b,
         case when uni > 0 then inter / CAST(uni AS DOUBLE) else 1.0 end as jaccard,
         case when na > 0 then inter / CAST(na AS DOUBLE) else 0.0 end as containment
  from p
)
"""

_MASH = f"""
{_NGRAM_PAIRS}
select key_a, key_b,
  round(case when jaccard <= 0.0 then 1.0
        else least(1.0, greatest(0.0, -ln(2*jaccard/(1+jaccard))/{K})) end, 9)
  as mash_distance
from pairs
"""


# full-width (K=21) character shingles — identical to the signature kernel's
# byte shingles on this corpus (driver docs are ASCII; the kernel is
# byte-level, `finchspark/kernels/shingles.py`)
_KGRAMS_ALL = (
    f"list_transform(generate_series(1, greatest(length(text) - {K - 1}, 0)),"
    f" i -> substring(text, i, {K}))"
)
_KGRAMS = f"list_distinct({_KGRAMS_ALL})"

# exact set-Jaccard pairs over full 21-gram sets >= JACC_T — the SQL twin of
# operators/allpairs.exact_jaccard_pairs (inverted-index form, same plan
# shape DuckDB-side); int/int division needs no rounding (IEEE-identical)
_EXACT_PAIRS = f"""
with g as (select doc_id, {_KGRAMS} as grams from documents),
t as (select doc_id, len(grams) as n, unnest(grams) as gram from g where len(grams) > 0),
co as (
  select a.doc_id as key_a, b.doc_id as key_b, a.n as na, b.n as nb, count(*) as inter
  from t a join t b on a.gram = b.gram and b.doc_id > a.doc_id
  group by 1, 2, 3, 4
),
exact_pairs as (
  select key_a, key_b,
         inter / cast(na + nb - inter as double) as jaccard,
         inter / cast(na as double) as containment_a
  from co where inter / cast(na + nb - inter as double) >= {JACC_T}
)
"""


def _lang_id_oracle() -> str:
    from finchspark.operators.textops import STOPWORDS

    hits = []
    for lang in sorted(STOPWORDS):
        lst = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        hits.append(
            f"len(list_filter({_TOKS}, t -> list_contains([{lst}], lower(t)))) as hits_{lang}"
        )
    langs = sorted(STOPWORDS)
    gm = "greatest(" + ", ".join(f"hits_{lang}" for lang in langs) + ")"
    first_match = "case " + " ".join(
        f"when hits_{lang} = {gm} then '{lang}'" for lang in langs
    ) + " end"
    return f"""
with h as (
  select doc_id,
    length(text) - length(regexp_replace(text, '[\\x{{4e00}}-\\x{{9fff}}]', '', 'g')) as n_cjk,
    {', '.join(hits)}
  from documents
)
select doc_id,
  case when n_cjk > 0 then 'zh'
       when {gm} = 0 then 'und'
       else {first_match} end as pred_lang
from h
"""


# ---------------------------------------------------------------------------
# murmur3-x64-128 (low64, seed 0) expressed in pure DuckDB SQL.
#
# The engine's sketch hash (`finchspark/kernels/murmur3.py`, ref
# `lib/src/hashing.rs`) was previously oracle-unreachable — DuckDB has no
# murmur3-x64-128 — leaving the sketch-valued queries (kmv_cardinality,
# signature_diagnostics, depth_histogram, simhash_pairs, near_dup_pairs,
# cc_neardup) rows-only. This generator emits the full algorithm as ONE SQL
# statement (nested projections, no macros / multi-statement tricks, so any
# harness that can run `select` can run it), bit-exact against the numpy
# kernel (tests/test_oracle_parity.py::test_mm3_sql_bit_exact).
#
# Scope: inputs of a fixed byte length in (16, 24] — one 16-byte block plus
# a <=8-byte tail, exactly the K=21 shingle case. u64 arithmetic on DuckDB:
# UBIGINT for bitwise ops; multiplication decomposes into 32-bit halves
# (64x64 products overflow even HUGEINT) with partial products summed in
# HUGEINT mod 2^64; rotl's left shift becomes a HUGEINT multiply by 2^r
# (DuckDB `<<` raises on overflow instead of wrapping). Byte extraction is
# ascii(substring(...)) — valid for the driver's ASCII corpus, the same
# documented assumption every `_KGRAMS` oracle already makes.
# ---------------------------------------------------------------------------
_MM3_U64 = 1 << 64
_MM3_C1 = 0x87C37B91114253D5
_MM3_C2 = 0x4CF5AD432745937F


def _mm3_add(a: str, b: str) -> str:
    return (
        f"CAST((CAST({a} AS HUGEINT) + CAST({b} AS HUGEINT))"
        f" % {_MM3_U64} AS UBIGINT)"
    )


def _mm3_mul(a: str, c: int) -> str:
    """(a * c) mod 2^64 for a column `a` and constant c, via 32-bit halves."""
    ch, cl = c >> 32, c & 0xFFFFFFFF
    lo = f"CAST(({a} & 4294967295::UBIGINT) * {cl}::UBIGINT AS HUGEINT)"
    cross = (
        f"((CAST(({a} >> 32) * {cl}::UBIGINT AS HUGEINT)"
        f" + CAST(({a} & 4294967295::UBIGINT) * {ch}::UBIGINT AS HUGEINT))"
        f" % 4294967296) * 4294967296"
    )
    return f"CAST(({lo} + {cross}) % {_MM3_U64} AS UBIGINT)"


def _mm3_rotl(x: str, r: int) -> str:
    return (
        f"(CAST((CAST({x} AS HUGEINT) * {1 << r}) % {_MM3_U64} AS UBIGINT)"
        f" | ({x} >> {64 - r}))"
    )


def _mm3_sxor(x: str, s: int = 33) -> str:
    return f"xor({x}, ({x} >> {s}))"


def _mm3_word(col: str, j0: int, nbytes: int) -> str:
    """Little-endian u64 from bytes [j0, j0+nbytes) of an ASCII column."""
    return (
        "("
        + " + ".join(
            f"CAST(ascii(substring({col}, {j0 + t + 1}, 1)) AS UBIGINT)"
            f" * {1 << (8 * t)}::UBIGINT"
            for t in range(nbytes)
        )
        + ")"
    )


def _mm3_subquery(src_sql: str, length: int = K, carry: str = "gram") -> str:
    """`select {carry}, mm from ...` where mm = murmur3_x64_128(gram)[0:8]
    LE (the low64 the sketch kernel uses), seed 0, for `gram` values of
    exactly `length` bytes. Built as a chain of nested projections so every
    multiply/rotate argument is a plain column (expression size stays
    linear in the number of ops)."""
    if not 16 < length <= 24:
        raise ValueError("single-block + k1-tail layout requires 16 < len <= 24")
    g, tail = "gram", length - 16
    m, r, a, x, sx = _mm3_mul, _mm3_rotl, _mm3_add, "xor({}, {})".format, _mm3_sxor
    levels: list[dict[str, str]] = [
        {"k1": _mm3_word(g, 0, 8), "k2": _mm3_word(g, 8, 8), "tk": _mm3_word(g, 16, tail)},
        {"a1": m("k1", _MM3_C1), "d1": m("k2", _MM3_C2), "t1": m("tk", _MM3_C1)},
        {"a2": r("a1", 31), "d2": r("d1", 33), "t2": r("t1", 31)},
        {"a3": m("a2", _MM3_C2), "d3": m("d2", _MM3_C1), "t3": m("t2", _MM3_C2)},
        # h1 = rotl(0^a3, 27)*5 + 0x52dce729 ; h2 path folds in h1
        {"h1b": r("a3", 27), "e1": r("d3", 31)},
        {"h1c": a(m("h1b", 5), f"{0x52DCE729}::UBIGINT")},
        {"e2": a("e1", "h1c")},
        {"h2c": a(m("e2", 5), f"{0x38495AB5}::UBIGINT")},
        # tail (<=8 bytes -> k1 lane only), then finalization
        {"h1d": x("h1c", "t3")},
        {"h1e": x("h1d", f"{length}::UBIGINT"), "h2e": x("h2c", f"{length}::UBIGINT")},
        {"h1f": a("h1e", "h2e")},
        {"h2f": a("h2e", "h1f")},
        {"f1": sx("h1f"), "g1": sx("h2f")},
        {"f2": m("f1", 0xFF51AFD7ED558CCD), "g2": m("g1", 0xFF51AFD7ED558CCD)},
        {"f3": sx("f2"), "g3": sx("g2")},
        {"f4": m("f3", 0xC4CEB9FE1A85EC53), "g4": m("g3", 0xC4CEB9FE1A85EC53)},
        {"f5": sx("f4"), "g5": sx("g4")},
        {"mm": a("f5", "g5")},
    ]
    sql = src_sql
    for lvl in levels:
        cols = ", ".join(f"{e} AS {al}" for al, e in lvl.items())
        sql = f"select *, {cols} from ({sql})"
    return f"select {carry}, mm from ({sql})"


# shared CTE prefix for every sketch-valued oracle: per-doc gram counts,
# per-(doc, hash) depth (grams colliding on low64 merge, like the kernel),
# and the ascending bottom-SKETCH_SIZE sketch — hashed once over the
# corpus-wide DISTINCT gram set, not once per occurrence
_MM3_PREFIX = f"""
with occ as (select doc_id, unnest({_KGRAMS_ALL}) as gram from documents),
ug as (select distinct gram from occ),
hh as ({{hh}}),
dg as (select doc_id, gram, count(*) as cnt from occ group by 1, 2),
dh as (select d.doc_id, h.mm, CAST(sum(d.cnt) AS BIGINT) as cnt
       from dg d join hh h using (gram) group by 1, 2),
sk128 as (
  select doc_id, mm, cnt from (
    select doc_id, mm, cnt,
           row_number() over (partition by doc_id order by mm) as rn
    from dh
  ) where rn <= {SKETCH_SIZE}
)"""


def _mm3_prefix() -> str:
    return _MM3_PREFIX.format(hh=_mm3_subquery("select gram from ug"))


def _mm3_simhash_ctes() -> str:
    """CTEs sv/sh: per-doc total shingle occurrences and the Charikar
    SimHash over ALL occurrences (kernels/simhash.py: per-bit vote
    2*ones - total > 0), assembled as a UBIGINT bit pattern."""
    bits = ",\n       ".join(
        f"sum(CAST((mm >> {j}) & 1 AS BIGINT) * cnt) as s{j}" for j in range(64)
    )
    asm = "\n     + ".join(
        f"(CASE WHEN 2 * s{j} > n_occ THEN {1 << j}::UBIGINT ELSE 0::UBIGINT END)"
        for j in range(64)
    )
    return f""",
sv as (select doc_id, CAST(sum(cnt) AS BIGINT) as n_occ,
       {bits}
       from dh group by doc_id),
sh as (select doc_id, n_occ, ({asm}) as sim_u from sv)"""


# raw_distance stop rule (kernels/distance.py:35-73, ref distance.rs:66-126)
# over bottom-k sketches, as CTEs appended to _mm3_prefix(): candidate pairs
# share >= 1 sketch hash (est-jaccard > 0 requires it), i/j are the
# two-pointer stop positions, key_a = query / key_b = reference
_MM3_VERIFY_CTES = f""",
st as (select doc_id, count(*) as sz, max(mm) as mx from sk128 group by doc_id),
cand as (select a.doc_id as key_a, b.doc_id as key_b, count(*) as common
         from sk128 a join sk128 b on a.mm = b.mm and b.doc_id > a.doc_id
         group by 1, 2),
ble as (select c.key_a, c.key_b, count(*) as n
        from cand c
        join st sa on sa.doc_id = c.key_a
        join sk128 b on b.doc_id = c.key_b and b.mm <= sa.mx
        group by 1, 2),
ale as (select c.key_a, c.key_b, count(*) as n
        from cand c
        join st sb on sb.doc_id = c.key_b
        join sk128 a on a.doc_id = c.key_a and a.mm <= sb.mx
        group by 1, 2),
v as (
  select c.key_a, c.key_b,
    c.common / CAST(stops.i - c.common + stops.j AS DOUBLE) as jaccard,
    c.common / CAST(stops.j AS DOUBLE) as containment,
    CAST(c.common AS BIGINT) as common_hashes,
    CAST(stops.i - c.common + stops.j AS BIGINT) as total_hashes
  from cand c
  join st sa on sa.doc_id = c.key_a
  join st sb on sb.doc_id = c.key_b
  join ble bl on bl.key_a = c.key_a and bl.key_b = c.key_b
  join ale al on al.key_a = c.key_a and al.key_b = c.key_b,
  lateral (select
    CASE WHEN sa.mx <= sb.mx THEN sa.sz ELSE al.n END as i,
    CASE WHEN sa.mx = sb.mx THEN sb.sz
         WHEN sa.mx < sb.mx THEN bl.n ELSE sb.sz END as j) stops
)"""

_MM3_MASH = (
    "round(case when jaccard <= 0.0 then 1.0"
    " else least(1.0, greatest(0.0, -ln(2*jaccard/(1+jaccard))/{k})) end, 9)"
).format(k=K)


def _oracle_sql_mm3() -> dict[str, str]:
    """Exact SQL twins for the previously murmur-bound queries, built on the
    in-SQL murmur3 (see header comment above). Every value here is
    DETERMINISTIC given the pinned hash function — these are true value
    oracles, not statistical checks."""
    pfx = _mm3_prefix()
    sim = _mm3_simhash_ctes()
    i64 = (
        "CAST(CASE WHEN {u} >= 9223372036854775808::UBIGINT"
        " THEN CAST({u} AS HUGEINT) - 18446744073709551616"
        " ELSE CAST({u} AS HUGEINT) END AS BIGINT)"
    )
    # functions/__init__.py kmv_cardinality, replicated op-for-op: the
    # shifted-i64 last hash -> double + 2^63, / 2^64 (exact), truncate
    kmv = f"""{pfx},
agg as (select doc_id, count(*) as n,
        CAST(CAST(max(mm) AS HUGEINT) - 9223372036854775808 AS BIGINT) as last_i
        from sk128 group by doc_id)
select d.doc_id,
  coalesce(CAST(trunc(CAST(a.n - 1 AS DOUBLE)
    / ((CAST(a.last_i AS DOUBLE) + 9223372036854775808.0)
       / 18446744073709551616.0)) AS BIGINT), 0) as cardinality_est
from documents d left join agg a using (doc_id)
"""
    diagnostics = f"""{pfx}{sim},
md as (select doc_id, CAST(sum(cnt) AS BIGINT) as tot, count(*) as n
       from sk128 group by doc_id)
select d.doc_id,
  coalesce({i64.format(u='sh.sim_u')}, 0) as simhash,
  coalesce(round(CAST(md.tot AS DOUBLE) / md.n, 9), 0.0) as mean_depth
from documents d
left join sh using (doc_id)
left join md using (doc_id)
"""
    depth_hist = f"""{pfx}
select cnt as depth, count(*) as n_kmers from sk128 group by cnt
"""
    # plans/pipeline.simhash_candidate_pairs: 16-bit chunk buckets, bucket
    # cap 2000, Hamming <= 3 — parameterized by the short-doc cutoff
    def simhash_pair_ctes(cutoff: int) -> str:
        return f""",
chunks as (select doc_id, sim_u, i as chunk_id,
                  (sim_u >> (16 * i)) & 65535::UBIGINT as chunk_val
           from (select doc_id, sim_u from sh where n_occ < {cutoff})
           cross join (select unnest([0, 1, 2, 3]) as i)),
sized as (select *, count(*) over (partition by chunk_id, chunk_val) as bs
          from chunks),
member as (select * from sized where bs > 1 and bs <= 2000),
shp as (select key_a, key_b
        from (select distinct a.doc_id as key_a, b.doc_id as key_b,
                     a.sim_u as ua, b.sim_u as ub
              from member a
              join member b on a.chunk_id = b.chunk_id
                   and a.chunk_val = b.chunk_val and a.doc_id < b.doc_id)
        where bit_count(xor(ua, ub)) <= 3)"""

    simhash_pairs = f"""{pfx}{sim}{simhash_pair_ctes(200)}
select key_a, key_b from shp
"""
    near_dup = f"""{pfx}{_MM3_VERIFY_CTES}
select key_a, key_b, round(jaccard, 9) as jaccard,
  round(containment, 9) as containment,
  {_MM3_MASH} as mash_distance,
  common_hashes, total_hashes
from v where jaccard >= {JACC_T}
"""
    # plans/pipeline.near_duplicates edge set: sketch-verified pairs
    # >= threshold UNION sha-exact star pairs UNION SimHash short-doc pairs
    # (default cutoff 8 total shingles); components = closure, min label
    cc_neardup = f"""{pfx}{sim}{_MM3_VERIFY_CTES}{simhash_pair_ctes(8)},
mh as (select key_a, key_b from v where jaccard >= {JACC_T}),
ex as (
  select g.mn as key_a, d.doc_id as key_b
  from documents d
  join (select text, min(doc_id) as mn, count(*) as c
        from documents group by text) g
    on d.text = g.text
  where g.c > 1 and d.doc_id <> g.mn
),
und as (
  select key_a as a, key_b as b from mh
  union select key_b, key_a from mh
  union select key_a, key_b from ex
  union select key_b, key_a from ex
  union select key_a, key_b from shp
  union select key_b, key_a from shp
),
rec as (
  with recursive reach(a, b) as (
    select a, b from und
    union
    select r.a, u.b from reach r join und u on r.b = u.a
  ) select * from reach
)
select a as node, least(a, min(b)) as component from rec group by a
"""
    return {
        "kmv_cardinality": kmv,
        "signature_diagnostics": diagnostics,
        "depth_histogram": depth_hist,
        "simhash_pairs": simhash_pairs,
        "near_dup_pairs": near_dup,
        "cc_neardup": cc_neardup,
    }


def oracle_sql() -> dict[str, str]:
    out = _oracle_sql_base()
    out.update(_oracle_sql_mm3())
    # the complete-sketch pipeline's components equal the transitive closure
    # of the exact near-dup graph (same value oracle as the CC operator)
    out["cc_neardup_full"] = out["cc_exact"]
    # the incremental epoch fold is provably identical to the batch closure
    # (cc.connected_components_incremental docstring): same oracle again
    out["cc_incremental_full"] = out["cc_exact"]
    # collapse_exact mode's component map is documented identical to the
    # default mode's (plans/pipeline.py): same closure oracle again
    out["cc_collapse_full"] = out["cc_exact"]
    return out


def _oracle_sql_base() -> dict[str, str]:
    from finchspark.operators.textops import STOPWORDS

    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    dot = (
        "list_reduce(list_transform(generate_series(1, 64),"
        " i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y)"
    )
    norm_a = (
        "sqrt(list_reduce(list_transform(generate_series(1, 64),"
        " i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), (x, y) -> x + y))"
    )
    norm_b = (
        "sqrt(list_reduce(list_transform(generate_series(1, 64),"
        " i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y))"
    )
    return {
        "token_stats": f"""
with t as (
  select doc_id, length(text) as n_chars, len({_TOKS}) as n_tokens,
         length(regexp_replace(text, '\\s+', '', 'g')) as nonspace
  from documents
)
select doc_id, n_chars, n_tokens,
  round(case when n_tokens > 0 then nonspace / CAST(n_tokens AS DOUBLE) else 0.0 end, 9)
  as avg_token_len
from t
""",
        "quality_scores": f"""
with t as (
  select doc_id, length(text) as n_chars, len({_TOKS}) as n_tokens,
    length(regexp_replace(text, '\\s', '', 'g')) as nonspace,
    length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) as punct,
    length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) as upper_n,
    len(list_filter({_TOKS}, t -> list_contains([{en}], lower(t)))) as stop_hits
  from documents
)
select doc_id, n_chars, n_tokens,
  round(case when nonspace > 0 then punct / CAST(nonspace AS DOUBLE) else 0.0 end, 9) as punct_ratio,
  round(case when n_chars > 0 then upper_n / CAST(n_chars AS DOUBLE) else 0.0 end, 9) as upper_ratio,
  round(case when n_tokens > 0 then stop_hits / CAST(n_tokens AS DOUBLE) else 0.0 end, 9) as stopword_ratio
from t
""",
        "lang_id": _lang_id_oracle(),
        "fingerprint": f"""
select doc_id, list_min(list_transform({_GRAMS}, g -> md5(g))) as fingerprint
from documents
""",
        "winnow_fingerprints": """
with g as (
  select doc_id,
    list_transform(generate_series(1, greatest(length(text)-4, 0)),
                   i -> md5(substring(text, i, 5))) as hs
  from documents
)
select doc_id,
  unnest(list_distinct(
    list_transform(generate_series(1, greatest(len(hs)-3, 0)),
                   j -> list_min(hs[j:j+3]))
  )) as fingerprint
from g
""",
        "token_freq_hist": f"""
with tok as (
  select doc_id, unnest({_TOKS}) as token from documents
),
d as (
  select doc_id, token, count(*) as depth from tok group by doc_id, token
)
select depth, count(*) as n_kmers from d group by depth
""",
        "token_abundance": f"""
with tok as (
  select doc_id, unnest({_TOKS}) as token from documents
)
select doc_id, token, count(*) as depth from tok group by doc_id, token
having count(*) between {ABUN_LO} and {ABUN_HI}
""",
        "exact_dup_pairs": """
with d as (
  select doc_id, text from documents
  union all
  select doc_id + 10000000 as doc_id, text from documents where doc_id % 97 = 0
)
select a.doc_id as key_a, b.doc_id as key_b
from d a join d b on a.text = b.text and a.doc_id < b.doc_id
""",
        "exact_dup_clusters": """
with d as (
  select doc_id, text from documents
  union all
  select doc_id + 10000000 as doc_id, text from documents where doc_id % 97 = 0
)
select doc_id, min(doc_id) over (partition by md5(text)) as cluster_id
from d
qualify count(*) over (partition by md5(text)) > 1
""",
        "ngram_jaccard": _NGRAM_PAIRS + "select key_a, key_b, jaccard, containment from pairs",
        "best_match": _NGRAM_PAIRS
        + """
select key_a, key_b, containment from pairs
qualify row_number() over (partition by key_a order by containment desc, key_b asc) = 1
""",
        "mash_distance": _MASH,
        "max_dist_filter": f"with m as ({_MASH}) select * from m where mash_distance <= {MAX_DIST}",
        "containment_filter": _NGRAM_PAIRS
        + f"select key_a, key_b, containment from pairs where containment >= {CONT_T}",
        "cc_chain": f"""
-- chain-graph transitive closure via gaps-and-islands: an edge connects
-- doc_id and doc_id+1 iff their banded {NGRAM}-gram jaccard >= {JACC_T};
-- the component of a node is the start of its maximal run
{_NGRAM_PAIRS}
, chain as (
  select key_a, key_b from pairs
  where key_b = key_a + 1 and jaccard >= {JACC_T}
),
nodes as (
  select distinct n from (select key_a as n from chain union all select key_b from chain)
),
flagged as (
  select n,
    case when exists (select 1 from chain c where c.key_b = n and c.key_a = n - 1)
         then null else n end as run_start
  from nodes
)
select n as node,
  max(run_start) over (order by n rows between unbounded preceding and current row)
  as component
from flagged
""",
        "signature_stats": f"""
select doc_id,
  octet_length(encode(text)) as n_bytes,
  greatest(octet_length(encode(text)) - {K - 1}, 0) as n_kmers,
  sha256(text) as sha256
from documents
""",
        "scaled_signatures": f"""
select doc_id,
  len({_KGRAMS}) as sig_size,
  len({_KGRAMS}) as n_unique,
  cast(greatest(octet_length(encode(text)) - {K - 1}, 0) as bigint) as count_sum
from documents
""",
        "minhash_signatures": f"""
select doc_id, least({SKETCH_SIZE}, len({_KGRAMS})) as sig_size,
       len({_KGRAMS}) as n_unique
from documents
""",
        "depth_histogram_full": f"""
with gr as (
  select doc_id, unnest({_KGRAMS_ALL}) as gram
  from documents
),
d as (select doc_id, gram, count(*) as depth from gr group by 1, 2)
select depth, count(*) as n_kmers from d group by depth
""",
        "neardup_exact": _EXACT_PAIRS
        + "select key_a, key_b, jaccard, containment_a from exact_pairs",
        # the OPH band join emits EXACTLY the exact >= JACC_T pair set on
        # this corpus (deterministic at fixed murmur3 hashes / band config —
        # recall 1.0 is separately value-gated by `lsh_recall`, and the
        # planted corpus has no pair in (0.05, 0.88) to false-positive on);
        # a banding regression changes the row set and fails the hash
        "lsh_candidates": _EXACT_PAIRS
        + "select key_a, key_b from exact_pairs",
        "near_dup_pairs_full": f"""
with g as (select doc_id, {_KGRAMS} as grams from documents),
t as (select doc_id, len(grams) as n, unnest(grams) as gram from g where len(grams) > 0),
co as (
  select a.doc_id as key_a, b.doc_id as key_b, a.n as na, b.n as nb, count(*) as inter
  from t a join t b on a.gram = b.gram and b.doc_id > a.doc_id
  group by 1, 2, 3, 4
),
full_pairs as (
  select key_a, key_b,
         inter / cast(na + nb - inter as double) as jaccard,
         inter / cast(nb as double) as containment,
         inter as common_hashes,
         na + nb - inter as total_hashes
  from co where inter / cast(na + nb - inter as double) >= {JACC_T}
)
select key_a, key_b, jaccard, containment,
  round(case when jaccard <= 0.0 then 1.0
        else least(1.0, greatest(0.0, -ln(2*jaccard/(1+jaccard))/{K})) end, 9)
    as mash_distance,
  common_hashes, total_hashes
from full_pairs
""",
        # covered-run islands: same window-union position set as
        # span_coverage, folded to contiguous runs via gaps-and-islands
        "span_islands": _EXACT_PAIRS
        + """
, cov as (
  select p.key_a, p.key_b, length(a.text) as la,
         list_sort(list_distinct(flatten(
           list_transform(
             list_filter(generate_series(1, greatest(length(a.text) - 31, 0)),
                         i -> contains(b.text, substring(a.text, i, 32))),
             i -> generate_series(i, i + 31))))) as ps
  from exact_pairs p
  join documents a on a.doc_id = p.key_a
  join documents b on b.doc_id = p.key_b
),
u as (select key_a, key_b, unnest(ps) as pos from cov),
runs as (
  select key_a, key_b, pos,
         pos - row_number() over (partition by key_a, key_b order by pos) as grp
  from u
),
isl as (
  select key_a, key_b, count(*) as ilen
  from runs group by key_a, key_b, grp
),
agg as (
  select key_a, key_b, count(*) as n, max(ilen) as mx, sum(ilen) as tot
  from isl group by 1, 2
)
select c.key_a, c.key_b,
  coalesce(cast(agg.n as bigint), 0) as n_islands,
  coalesce(cast(agg.mx as bigint), 0) as longest_island,
  round(coalesce(agg.tot, 0) / cast(c.la as double), 9) as coverage_a
from cov c left join agg using (key_a, key_b)
""",
        "span_coverage": _EXACT_PAIRS
        + """
select p.key_a, p.key_b,
  round(
    coalesce(len(list_distinct(flatten(
      list_transform(
        list_filter(generate_series(1, greatest(length(a.text) - 31, 0)),
                    i -> contains(b.text, substring(a.text, i, 32))),
        i -> generate_series(i, i + 31))))), 0)
    / cast(length(a.text) as double), 9) as coverage_a
from exact_pairs p
join documents a on a.doc_id = p.key_a
join documents b on b.doc_id = p.key_b
""",
        "char_class_profile": f"""
with gr as (select doc_id, unnest({_KGRAMS_ALL}) as gram from documents),
s as (
  select doc_id, count(*) as n_occ, count(distinct gram) as n_ret,
    sum(length(regexp_replace(gram, '[^a-zA-Z]', '', 'g'))) as a,
    sum(length(regexp_replace(gram, '[^0-9]', '', 'g'))) as d,
    sum(length(gram) - length(regexp_replace(gram, '\\s', '', 'g'))) as w
  from gr group by doc_id
)
select doc.doc_id,
  coalesce(s.n_ret, 0) as n_retained,
  coalesce(s.a / cast({K} * s.n_occ as double), 0.0) as frac_alpha,
  coalesce(s.d / cast({K} * s.n_occ as double), 0.0) as frac_digit,
  coalesce(s.w / cast({K} * s.n_occ as double), 0.0) as frac_space,
  coalesce(({K} * s.n_occ - s.a - s.d - s.w) / cast({K} * s.n_occ as double), 0.0)
    as frac_other
from documents doc left join s using (doc_id)
""",
        "lsh_recall": _EXACT_PAIRS
        + """
-- recall of the OPH band join is 1.0 at this config on this corpus (a
-- deterministic, measured property: fixed murmur3 hashes, fixed bands);
-- the Spark side reports the actual caught flag per exact pair
select key_a, key_b, true as caught from exact_pairs
""",
        "cc_exact": _EXACT_PAIRS
        + """
, und as (
  select key_a as a, key_b as b from exact_pairs
  union
  select key_b, key_a from exact_pairs
),
rec as (
  with recursive reach(a, b) as (
    select a, b from und
    union
    select r.a, u.b from reach r join und u on r.b = u.a
  ) select * from reach
)
select a as node, least(a, min(b)) as component from rec group by a
""",
        # D7 compare_counts: population moments over the query's depths at
        # common grams; two-pass mean like the kernel; NaN-variance rows
        # (all-equal query counts) emit NULL on both sides. Since round 6
        # the prefix hashes every gram with the in-SQL murmur3, so the
        # complete sketch IS the per-doc mm set and the two-pointer stop
        # positions (ref_pos/query_pos = rank of the other sketch's max
        # hash within this sketch, kernels/distance.py:273-285) are
        # value-checked too. key_a = REFERENCE, key_b = QUERY.
        "compare_counts_full": f"""{_mm3_prefix()},
n as (select doc_id, count(*) as n, max(mm) as mx from dh group by 1),
co as (
  select a.doc_id as key_a, b.doc_id as key_b, a.cnt as ac, b.cnt as qc
  from dh a join dh b on a.mm = b.mm and b.doc_id > a.doc_id
),
m as (
  select key_a, key_b, count(*) as common,
         cast(sum(ac) as bigint) as ref_count,
         cast(sum(qc) as bigint) as query_count, avg(qc) as mean
  from co group by 1, 2
),
p as (
  select m.*, na.n as n_a, nb.n as n_b, na.mx as mx_a, nb.mx as mx_b
  from m
  join n na on na.doc_id = m.key_a
  join n nb on nb.doc_id = m.key_b
  where m.common / cast(na.n + nb.n - m.common as double) >= {JACC_T}
),
rp as (
  select p.key_a, p.key_b,
         count(*) filter (where a.mm <= p.mx_b) as a_le
  from p join dh a on a.doc_id = p.key_a group by 1, 2
),
qp as (
  select p.key_a, p.key_b,
         count(*) filter (where b.mm <= p.mx_a) as b_le
  from p join dh b on b.doc_id = p.key_b group by 1, 2
),
cm as (
  select c.key_a, c.key_b,
         sum(pow(c.qc - p.mean, 2)) as m2,
         sum(pow(c.qc - p.mean, 3)) as m3,
         sum(pow(c.qc - p.mean, 4)) as m4
  from co c join p using (key_a, key_b) group by 1, 2
)
select p.key_a, p.key_b, p.common,
  cast(case when p.mx_a <= p.mx_b then p.n_a else rp.a_le end as bigint)
    as ref_pos,
  cast(case when p.mx_b <= p.mx_a then p.n_b else qp.b_le end as bigint)
    as query_pos,
  p.ref_count, p.query_count,
  round(cm.m2 / p.common, 9) as var,
  case when cm.m2 > 0
       then round(sqrt(p.common) * cm.m3 / pow(cm.m2, 1.5), 9) end as skew,
  case when cm.m2 > 0
       then round(p.common * cm.m4 / (cm.m2 * cm.m2) - 3, 9) end as kurt
from p
join cm using (key_a, key_b)
join rp using (key_a, key_b)
join qp using (key_a, key_b)
""",
        # D6 minmer matrix as its position-free per-sketch value histogram:
        # entry (s, pos) = s's depth for ref gram at pos, 0 when absent —
        # histogram per sketch over all |ref| positions
        "minmer_hist": f"""
with rg as (
  select unnest({_KGRAMS}) as gram from documents where doc_id = 0
),
occ as (select doc_id, unnest({_KGRAMS_ALL}) as gram from documents),
dep as (select doc_id, gram, count(*) as c from occ group by 1, 2),
cell as (
  select docs.doc_id as key, coalesce(dep.c, 0) as "count"
  from (select doc_id from documents) docs
  cross join rg
  left join dep on dep.doc_id = docs.doc_id and dep.gram = rg.gram
)
select key, "count", count(*) as n_positions from cell group by 1, 2
""",
        # cap-under-incremental-arrival: the batch closure plus the planted
        # identical group as one component labelled by d* (the smallest doc
        # in no exact pair — isolated, so no other closure row changes)
        "cc_incremental_capped": _EXACT_PAIRS
        + f"""
, und as (
  select key_a as a, key_b as b from exact_pairs
  union
  select key_b, key_a from exact_pairs
),
rec as (
  with recursive reach(a, b) as (
    select a, b from und
    union
    select r.a, u.b from reach r join und u on r.b = u.a
  ) select * from reach
),
iso as (
  select min(doc_id) as dstar from documents
  where doc_id not in (
    select key_a from exact_pairs union select key_b from exact_pairs
  )
)
select a as node, least(a, min(b)) as component from rec group by a
union all
select dstar as node, dstar as component from iso
union all
select 20000000 + g.i as node, iso.dstar as component
from iso cross join (select unnest(generate_series(0, {N_CAP_CLONES - 1})) as i) g
""",
        "repo_jaccard": f"""
with gr as (select source, unnest({_KGRAMS}) as gram from documents),
t as (select source, gram from gr group by 1, 2),
n as (select source, count(*) as n from t group by 1),
co as (
  select a.source as key_a, b.source as key_b, count(*) as inter
  from t a join t b on a.gram = b.gram and b.source > a.source
  group by 1, 2
),
j as (
  select key_a, key_b, inter, na.n as na, nb.n as nb
  from co join n na on na.source = key_a join n nb on nb.source = key_b
)
select key_a, key_b,
  inter / cast(na + nb - inter as double) as jaccard,
  inter / cast(na as double) as containment_a
from j where inter / cast(na + nb - inter as double) >= {REPO_T}
""",
        "dedup_corpus": _EXACT_PAIRS
        + """
, und as (
  select key_a as a, key_b as b from exact_pairs
  union
  select key_b, key_a from exact_pairs
),
rec as (
  with recursive reach(a, b) as (
    select a, b from und
    union
    select r.a, u.b from reach r join und u on r.b = u.a
  ) select * from reach
),
comp as (select a as node, least(a, min(b)) as component from rec group by a),
sizes as (select component, count(*) as cluster_size from comp group by 1)
select d.doc_id, coalesce(s.cluster_size, 1) as cluster_size, sha256(d.text) as sha256
from documents d
left join comp c on c.node = d.doc_id
left join sizes s on s.component = d.doc_id
where c.node is null or c.component = d.doc_id
""",
        "pairwise_full": f"""
with g as (select doc_id, {_KGRAMS} as grams from documents where doc_id < 40),
p as (
  select a.doc_id as key_a, b.doc_id as key_b,
         len(list_intersect(a.grams, b.grams)) as inter,
         len(a.grams) as na, len(b.grams) as nb
  from g a join g b on a.doc_id != b.doc_id
),
q as (
  select key_a, key_b,
    case when na + nb - inter > 0
         then inter / cast(na + nb - inter as double) else 1.0 end as jaccard,
    case when nb > 0 then inter / cast(nb as double) else 0.0 end as containment,
    inter as common_hashes,
    na + nb - inter as total_hashes
  from p
)
select key_a, key_b, jaccard, containment,
  round(case when jaccard <= 0.0 then 1.0
        else least(1.0, greatest(0.0, -ln(2*jaccard/(1+jaccard))/{K})) end, 9)
    as mash_distance,
  common_hashes, total_hashes
from q
""",
        "merged_exploded": f"""
with g as (select doc_id, source, {_KGRAMS_ALL} as grams from documents),
t as (select source, unnest(grams) as gram from g)
select source, count(distinct gram) as n_hashes, count(*) as total_count
from t group by source
""",
        "merged_signatures": f"""
with g as (select doc_id, source, {_KGRAMS} as grams from documents),
u as (select source, count(*) as n_members from g group by source),
d as (
  select source, count(distinct gram) as nd
  from (select source, unnest(grams) as gram from g) group by source
)
-- bottom-k sketches are mergeable: bottom-k of a union of bottom-k sets ==
-- bottom-k of the union, so the merged sig size is min(k, |union of gram
-- sets|); sources whose docs have no grams at all never reach the merge
select u.source, u.n_members, least({SKETCH_SIZE}, d.nd) as sig_size
from u join d using (source)
""",
        "bpe_token_stats": """
select doc_id,
  len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\r\f]+|[ \t\n\r\f]+')) as n_tokens_bpe,
  len(regexp_extract_all(text, ' ?[A-Za-z]+')) as n_word_tokens,
  len(regexp_extract_all(text, ' ?[0-9]+')) as n_num_tokens,
  len(regexp_extract_all(text, ' ?[^A-Za-z0-9 \t\n\r\f]+')) as n_punct_tokens,
  round(case when len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\r\f]+|[ \t\n\r\f]+')) > 0
        then length(text) / cast(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\r\f]+|[ \t\n\r\f]+')) as double)
        else 0.0 end, 9) as chars_per_token
from documents
""",
        "cosine_dup_pairs": f"""
select a.vec_id as key_a, b.vec_id as key_b,
       round({dot} / ({norm_a} * {norm_b}), 6) as cosine
from embeddings a join embeddings b on b.vec_id > a.vec_id
where {dot} / ({norm_a} * {norm_b}) >= {COS_T}
""",
        "cosine_topk": f"""
with q as (select * from embeddings where vec_id % {ANN_MOD} = 0),
scored as (
  select a.vec_id as query_id, b.vec_id as neighbor_id,
         {dot} / ({norm_a} * {norm_b}) as cosine
  from q a join embeddings b on a.vec_id != b.vec_id
),
ranked as (
  select query_id, neighbor_id,
         row_number() over (partition by query_id order by cosine desc, neighbor_id asc) as rank,
         cosine
  from scored
)
select query_id, neighbor_id, rank, round(cosine, 6) as cosine
from ranked where rank <= {ANN_K}
""",
        "ann_lsh": f"""
-- exact ranking as the oracle: sign-LSH recall@k = 1.0 at (4 bits, 64
-- tables) on the driver embeddings at sf0.01 AND sf0.1 (measured,
-- deterministic) — a recall regression surfaces as missing/reordered rows
with q as (select * from embeddings where vec_id % {ANN_MOD} = 0),
scored as (
  select a.vec_id as query_id, b.vec_id as neighbor_id,
         {dot} / ({norm_a} * {norm_b}) as cosine
  from q a join embeddings b on a.vec_id != b.vec_id
),
ranked as (
  select query_id, neighbor_id,
         row_number() over (partition by query_id order by cosine desc, neighbor_id asc) as rank
  from scored
)
select query_id, neighbor_id, rank from ranked where rank <= {ANN_K}
""",
        "weighted_jaccard": _EXACT_PAIRS
        + f""",
gc as (
  select doc_id, gram, count(*) as c
  from (select doc_id, unnest({_KGRAMS_ALL}) as gram from documents)
  group by 1, 2
),
ta as (select p.key_a, p.key_b, g.gram, g.c as ca
       from exact_pairs p join gc g on g.doc_id = p.key_a),
tb as (select p.key_a, p.key_b, g.gram, g.c as cb
       from exact_pairs p join gc g on g.doc_id = p.key_b),
u as (
  select coalesce(ta.key_a, tb.key_a) as key_a,
         coalesce(ta.key_b, tb.key_b) as key_b,
         coalesce(ca, 0) as ca, coalesce(cb, 0) as cb
  from ta full outer join tb
    on ta.key_a = tb.key_a and ta.key_b = tb.key_b and ta.gram = tb.gram
)
select key_a, key_b,
       round(sum(least(ca, cb)) / cast(sum(greatest(ca, cb)) as double), 9)
         as weighted_jaccard
from u group by 1, 2
""",
        "ann_ivf": f"""
-- exhaustive-by-construction: nprobe == n_centroids searches every list,
-- so exact ranking is the oracle with NO recall assumption
with q as (select * from embeddings where vec_id % {ANN_MOD} = 0),
scored as (
  select a.vec_id as query_id, b.vec_id as neighbor_id,
         {dot} / ({norm_a} * {norm_b}) as cosine
  from q a join embeddings b on a.vec_id != b.vec_id
),
ranked as (
  select query_id, neighbor_id,
         row_number() over (partition by query_id order by cosine desc, neighbor_id asc) as rank
  from scored
)
select query_id, neighbor_id, rank from ranked where rank <= {ANN_K}
""",
    }
