"""Operator-level tests: ANN recall, Spark-native merge vs kernel merge,
finch-like API surface."""
import numpy as np
import pytest
from pyspark.sql import functions as F

from finchspark.api import Multisketch, Sketch, sketch_bytes
from finchspark.kernels import i64_to_u64_shifted, merge_sketches


def test_ann_lsh_recall_vs_exact(spark):
    from finchspark.operators.ann import cosine_topk, cosine_topk_lsh

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, k=5, query_mod=25).collect()
    }
    # driver embeddings are weakly structured (top-5 cosine ≈ 0.32), so the
    # bucket config must be shallow: P(candidate) = 1-(1-(1-θ/π)^bits)^tables
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_lsh(emb, k=5, query_mod=25, n_bits=4, n_tables=16).collect()
    }
    assert exact, "query set must be non-empty"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"sign-LSH recall too low: {recall}"


def test_merge_signatures_by_matches_kernel(spark, documents_df):
    from finchspark.config import PipelineConfig
    from finchspark.kernels import SketchParams, shingle_hashes, sketch_hashes
    from finchspark.operators.merge import merge_signatures_by
    from finchspark.operators.signature import build_signatures

    cfg = PipelineConfig(sketch=SketchParams(kmers_to_sketch=64, final_size=64))
    docs = documents_df.limit(40).withColumn("grp", F.col("doc_id") % 4)
    sigs = build_signatures(docs, cfg, key_cols=("doc_id", "grp"), content_col="content")
    merged = {
        r["grp"]: r for r in merge_signatures_by(sigs, "grp", size=64).collect()
    }
    rows = docs.select("doc_id", "grp", "content").collect()
    p = cfg.sketch
    by_grp: dict[int, list] = {}
    for r in rows:
        kc = sketch_hashes(shingle_hashes(r["content"].encode(), p.kmer_length, p.hash_seed), p)
        by_grp.setdefault(r["grp"], []).append(kc)
    for grp, sketches in by_grp.items():
        acc = sketches[0]
        h, c, e = acc.hashes, acc.counts, acc.extra_counts
        for nxt in sketches[1:]:
            h, c, e = merge_sketches(
                h, c, e, nxt.hashes, nxt.counts, nxt.extra_counts, size=64, scale=None
            )
        got = merged[grp]
        got_h = i64_to_u64_shifted(np.array(got["hashes"], dtype=np.int64))
        assert np.array_equal(got_h, h), grp
        assert got["counts"] == c.tolist()
        assert got["n_members"] == len(sketches)


def test_api_sketch_and_compare():
    a = sketch_bytes("a", b"the quick brown fox jumps over the lazy dog " * 20, n_hashes=64)
    b = sketch_bytes("b", b"the quick brown fox jumps over the lazy cat " * 20, n_hashes=64)
    c = sketch_bytes("c", bytes(range(256)) * 4, n_hashes=64)
    cont_ab, jac_ab = a.compare(b)
    _, jac_ac = a.compare(c)
    assert jac_ab > jac_ac
    cont_self, jac_self = a.compare(a)
    assert cont_self == 1.0 and jac_self == 1.0

    ms = Multisketch([b, c])
    ix, best = ms.best_match(a)
    assert best.name == "b"
    ms.filter_to_names(["c"])
    assert [s.name for s in ms.sketches] == ["c"]


def test_api_merge_matches_kernel():
    a = sketch_bytes("a", b"alpha beta gamma delta " * 30, n_hashes=32)
    b = sketch_bytes("b", b"epsilon zeta eta theta " * 30, n_hashes=32)
    m = a.merge(b, size=32)
    assert len(m.hashes.hashes) == 32
    assert np.all(np.diff(m.hashes.hashes.astype(np.uint64)) > 0)
    assert m.seq_length == a.seq_length + b.seq_length


def test_compare_matrix_minmer():
    import numpy as np

    from finchspark.kernels.distance import minmer_matrix

    ref = np.array([5, 10, 20, 30], dtype=np.uint64)
    s1 = (np.array([5, 20, 99], dtype=np.uint64), np.array([2, 7, 1]))
    s2 = (np.array([], dtype=np.uint64), np.array([], dtype=np.int64))
    s3 = (np.array([30], dtype=np.uint64), np.array([4]))
    m = minmer_matrix(ref, [s1[0], s2[0], s3[0]], [s1[1], s2[1], s3[1]])
    assert m.tolist() == [[2, 0, 7, 0], [0, 0, 0, 0], [0, 0, 0, 4]]

    a = sketch_bytes("a", b"common shared prefix body " * 20, n_hashes=16)
    mat = a.compare_matrix(a)
    assert np.array_equal(mat[0], a.hashes.counts.astype("int32"))


def test_char_class_profile_vs_scalar(spark, documents_df, corpus):
    """G3 info stats: batch operator == per-doc scalar recomputation with
    count weights over retained kmers (incl. TRUNCATED sketches)."""
    import numpy as np

    from finchspark.config import PipelineConfig
    from finchspark.kernels import SketchParams, shingle_hashes
    from finchspark.kernels.sketch import count_distinct
    from finchspark.operators.infostats import _LUT, char_class_profile

    cfg = PipelineConfig(sketch=SketchParams(kmers_to_sketch=8, final_size=8))
    rows = {
        r["doc_id"]: r
        for r in char_class_profile(
            documents_df, cfg, key_cols=("doc_id",)
        ).collect()
    }
    docs, _ = corpus
    for d in docs:
        content = d["content"].encode()
        h = shingle_hashes(content, 21, 0)
        got = rows[d["doc_id"]]
        if len(h) == 0:
            assert got["n_retained"] == 0
            assert got["frac_alpha"] == 0.0
            continue
        # scalar: retained = bottom-8 distinct, weight = count, bytes of the
        # kmer at each retained hash's first occurrence
        kc = count_distinct(h)
        order = np.arange(len(kc.hashes))[:8]
        first_pos = {}
        seen = {}
        for pos, hv in enumerate(h.tolist()):
            if hv not in seen:
                seen[hv] = pos
        totals = np.zeros(4)
        for gi in order:
            hv = int(kc.hashes[gi])
            cnt = int(kc.counts[gi])
            p = seen[hv]
            gram = content[p : p + 21]
            for b in gram:
                totals[_LUT[b]] += cnt
        tot = totals.sum()
        assert got["n_retained"] == len(order)
        for ci, name in enumerate(("alpha", "digit", "space", "other")):
            assert got[f"frac_{name}"] == totals[ci] / tot, (d["doc_id"], name)


def test_winnow_fingerprints_guarantee_and_scalar_parity(spark):
    """Winnowing: matches the scalar MOSS construction; any shared substring
    of length >= k+w-1 yields at least one shared fingerprint."""
    import hashlib

    from finchspark.operators.textops import winnow_fingerprints

    shared = "ROLLING-HASH-SHARED-SEGMENT-0123456789"
    docs = [
        (0, "prefix junk " + shared + " trailing body of doc zero"),
        (1, "totally different preamble |" + shared + "| and more"),
        (2, "no overlap with the others at all, none whatsoever"),
        (3, "tiny"),
        (4, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {}
    for r in winnow_fingerprints(df, k=5, w=4).collect():
        got.setdefault(r["doc_id"], set()).add(r["fingerprint"])

    def scalar(text, k=5, w=4):
        if len(text) < k + w - 1:
            return set()
        hs = [hashlib.md5(text[i : i + k].encode()).hexdigest() for i in range(len(text) - k + 1)]
        return {min(hs[j : j + w]) for j in range(len(hs) - w + 1)}

    for did, text in docs:
        assert got.get(did, set()) == scalar(text), did
    assert got[0] & got[1], "shared segment must share a fingerprint"
    assert not (got[2] & got[0])


def test_exact_dup_pairs_group_expansion(spark):
    """Single-shuffle in-group expansion: all C(g,2) ordered pairs per
    identical-text group, no self-join."""
    from itertools import combinations

    from finchspark.operators.dedup import exact_dup_pairs

    rows = (
        [(i, "groupA") for i in (3, 1, 7, 5)]
        + [(i, "groupB") for i in (10, 11)]
        + [(20, "unique")]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["key_a"], r["key_b"]) for r in exact_dup_pairs(docs).collect()}
    want = set(combinations(sorted((3, 1, 7, 5)), 2)) | {(10, 11)}
    assert got == want
    # plan shape: no SortMergeJoin/BroadcastHashJoin — expansion is join-free
    plan = exact_dup_pairs(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_cosine_dup_pairs_vs_brute_force(spark):
    """cosine_dup_pairs == brute-force all-pairs at the query config (3 bits,
    32 tables keeps P(miss) ~1e-4 per qualifying pair at cos 0.45)."""
    from finchspark.operators.ann import cosine_dup_pairs

    rng = np.random.default_rng(7)
    base = rng.normal(size=(12, 16))
    rows = []
    vid = 0
    for v in base:
        rows.append((vid, [float(x) for x in v])); vid += 1
        # planted near-dup: small perturbation -> cosine close to 1
        rows.append((vid, [float(x) for x in v + rng.normal(scale=0.05, size=16)])); vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = {
        (r["key_a"], r["key_b"])
        for r in cosine_dup_pairs(emb, threshold=0.8).collect()
    }
    mat = np.array([r[1] for r in rows])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cos = mat @ mat.T
    want = {
        (rows[i][0], rows[j][0])
        for i in range(len(rows))
        for j in range(i + 1, len(rows))
        if cos[i, j] >= 0.8
    }
    assert want, "fixture must plant qualifying pairs"
    assert got == want


def test_cosine_dup_pairs_bucket_cap_bounds_candidates(spark):
    """Mega-bucket (all-identical vectors) above bucket_cap is dropped from
    pair generation — no O(n^2) blowup from a single degenerate bucket."""
    from finchspark.operators.ann import cosine_dup_pairs

    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = cosine_dup_pairs(emb, threshold=0.9, bucket_cap=10)
    assert out.count() == 0  # every bucket holds all 50 -> capped out


def test_bpe_token_stats_known_strings(spark):
    from finchspark.operators.textops import bpe_token_stats

    docs = spark.createDataFrame(
        [
            (0, "hello world"),        # 2 word tokens
            (1, "a1b2"),               # a,1,b,2 -> 2 words + 2 nums
            (2, "x -- y!!"),           # words x,y + punct --, !!
            (3, ""),                   # empty -> all zero, cpt 0.0
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in bpe_token_stats(docs).collect()}
    assert got[0]["n_word_tokens"] == 2 and got[0]["n_tokens_bpe"] == 2
    assert got[1]["n_word_tokens"] == 2 and got[1]["n_num_tokens"] == 2
    assert got[2]["n_word_tokens"] == 2 and got[2]["n_punct_tokens"] == 2
    assert got[3]["n_tokens_bpe"] == 0 and got[3]["chars_per_token"] == 0.0
    assert got[0]["chars_per_token"] == round(11 / 2, 9)


def test_cosine_topk_ivf_exhaustive_equals_exact(spark):
    """nprobe >= n_centroids probes every inverted list -> IVF == exact
    brute force by construction (same rerank fold, same tie-break)."""
    from finchspark.operators.ann import cosine_topk, cosine_topk_ivf

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in
             cosine_topk(emb, k=5, query_mod=50).collect()}
    ivf = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in
           cosine_topk_ivf(emb, k=5, query_mod=50, n_centroids=8, nprobe=8).collect()}
    assert exact == ivf


def test_cosine_topk_ivf_pruned_recall(spark):
    """Pruned probes keep useful recall while searching a fraction of the
    lists (driver embeddings are weakly clustered, so the bar is modest)."""
    from finchspark.operators.ann import cosine_topk, cosine_topk_ivf

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {(r["query_id"], r["neighbor_id"]) for r in
             cosine_topk(emb, k=5, query_mod=50).collect()}
    ivf = {(r["query_id"], r["neighbor_id"]) for r in
           cosine_topk_ivf(emb, k=5, query_mod=50, n_centroids=8, nprobe=3).collect()}
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_spherical_kmeans_deterministic_and_separates():
    from finchspark.operators.ann import _spherical_kmeans

    rng = np.random.default_rng(3)
    # two well-separated cones
    a = rng.normal(loc=(5, 0, 0, 0), scale=0.2, size=(40, 4))
    b = rng.normal(loc=(0, 5, 0, 0), scale=0.2, size=(40, 4))
    v = np.vstack([a, b])
    c1 = _spherical_kmeans(v, 2)
    c2 = _spherical_kmeans(v.copy(), 2)
    assert np.array_equal(c1, c2)  # deterministic
    vn = v / np.linalg.norm(v, axis=1, keepdims=True)
    assign = (vn @ c1.T).argmax(axis=1)
    assert len(set(assign[:40])) == 1 and len(set(assign[40:])) == 1
    assert assign[0] != assign[40]


def test_weighted_jaccard_identities(spark):
    """Histogram-Jaccard identities through the Spark surface: identical
    docs -> 1.0; a doc vs its double-repetition -> 0.5 (every gram count
    doubles); disjoint docs -> 0.0."""
    from pyspark.sql import functions as F

    from finchspark.config import PipelineConfig
    from finchspark.kernels import SketchParams
    from finchspark.operators.signature import build_signatures
    from finchspark.operators.verify import weighted_jaccard_pairs

    base = "abcdefghijklmnopqrstuvwxyz0123456789" * 4  # 144 chars, k=21 ok
    rows = [(0, base), (1, base), (2, base + base), (3, "Z" * 100)]
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    cfg = PipelineConfig(sketch=SketchParams(kmers_to_sketch=4096, final_size=4096))
    sigs = build_signatures(docs, cfg, key_cols=("doc_id",))
    pairs = spark.createDataFrame([(0, 1), (0, 2), (0, 3)], "key_a long, key_b long")
    got = {
        (r["key_a"], r["key_b"]): r["weighted_jaccard"]
        for r in weighted_jaccard_pairs(pairs, sigs).collect()
    }
    assert got[(0, 1)] == 1.0
    assert got[(0, 3)] == 0.0
    # doubling the text doubles interior gram counts; boundary grams at the
    # seam add a few new ones, so wj is slightly under 0.5
    assert 0.4 < got[(0, 2)] <= 0.5


def test_dedup_corpus_materialization(spark):
    """dedup_corpus keeps exactly one min-key representative per cluster
    plus all singletons, reports how many docs each kept row stands for,
    and recomputes the content sha256 on the surviving rows."""
    import hashlib

    from finchspark.operators.dedup import dedup_corpus

    rows = [(i, f"doc-{i}-" + "x" * 30) for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # clusters {0,1,2} and {4,5}; doc 3 is a singleton
    comps = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (4, 4), (5, 4)], "node long, component long"
    )
    got = {r["doc_id"]: r for r in dedup_corpus(docs, comps).collect()}
    assert set(got) == {0, 3, 4}
    assert got[0]["cluster_size"] == 3
    assert got[3]["cluster_size"] == 1
    assert got[4]["cluster_size"] == 2
    for i, text in rows:
        if i in got:
            assert got[i]["sha256"] == hashlib.sha256(text.encode()).hexdigest()


def test_merged_jaccard_pairs_exact(spark):
    """Repo-level Jaccard: merged (unclipped) sketches are set unions, and
    the group-level set-similarity join reports exact set quantities."""
    from finchspark.operators.merge import merged_jaccard_pairs

    rows = [
        ("g1", [1, 2, 3], [1, 1, 1]),
        ("g1", [3, 4], [2, 1]),
        ("g2", [2, 3, 4], [1, 1, 1]),
        ("g3", [100, 200], [1, 1]),
    ]
    sigs = spark.createDataFrame(
        rows, "source string, hashes array<long>, counts array<int>"
    )
    out = {
        (r["key_a"], r["key_b"]): r
        for r in merged_jaccard_pairs(sigs, "source", 0.5).collect()
    }
    # g1 union = {1,2,3,4}; g2 = {2,3,4}: inter 3, union 4
    assert set(out) == {("g1", "g2")}
    assert out[("g1", "g2")]["jaccard"] == 0.75
    assert out[("g1", "g2")]["containment_a"] == 0.75


def test_dedup_corpus_partition_property(spark):
    """Randomized component maps: the keep-set is exactly {cluster minima}
    ∪ {unclustered docs}, each representative reports its cluster size,
    and singletons report 1 — for any forest of clusters."""
    import random
    from collections import Counter

    from finchspark.operators.dedup import dedup_corpus

    n = 200
    docs = spark.createDataFrame(
        [(i, f"t{i}" * 10) for i in range(n)], "doc_id long, text string"
    )
    for seed in range(3):
        rng = random.Random(seed)
        nodes = rng.sample(range(n), 80)
        clusters: dict[int, int] = {}
        while nodes:
            size = min(len(nodes), rng.randint(2, 6))
            grp, nodes = nodes[:size], nodes[size:]
            comp = min(grp)
            for g in grp:
                clusters[g] = comp
        comps = spark.createDataFrame(
            sorted(clusters.items()), "node long, component long"
        )
        out = {r["doc_id"]: r["cluster_size"] for r in dedup_corpus(docs, comps).collect()}
        reps = set(clusters.values())
        singletons = set(range(n)) - set(clusters)
        assert set(out) == reps | singletons
        want = Counter(clusters.values())
        assert all(out[r] == want[r] for r in reps)
        assert all(out[s] == 1 for s in singletons)


def test_merge_mega_group_salted_bottom_k(spark):
    """VERDICT r3 #1: the bottom-k clip must be the two-level salted
    selection, and its result must be identical to the unsalted clip —
    planted mega-group (40k distinct hashes, one group ≫ the others) with
    overlapping members to exercise count summing, checked against a pure
    python reference and across n_salts values."""
    import random
    from collections import Counter

    from finchspark.operators.merge import merge_signatures_by

    rng = random.Random(7)
    mega_hashes = list(
        {rng.randrange(-(2**62), 2**62) for _ in range(41_000)}
    )[:40_000]
    rows = []
    for i in range(80):
        chunk = sorted(mega_hashes[i * 500 : (i + 1) * 500])
        rows.append(("mega", chunk, [1] * 500))
    rows.append(("mega", sorted(mega_hashes[:500]), [2] * 500))  # overlap member
    small = sorted(rng.sample(range(0, 10**9), 100))
    rows.append(("small", small, [1] * 100))
    sigs = spark.createDataFrame(
        rows, "grp string, hashes array<long>, counts array<int>"
    )

    cnt = Counter()
    for g, h, c in rows:
        if g == "mega":
            for hh, cc in zip(h, c):
                cnt[hh] += cc
    want = sorted(cnt)[:128]

    got = {
        r["grp"]: r
        for r in merge_signatures_by(sigs, "grp", size=128, n_salts=8).collect()
    }
    assert got["mega"]["hashes"] == want
    assert got["mega"]["counts"] == [cnt[h] for h in want]
    assert got["mega"]["n_members"] == 81
    assert got["small"]["hashes"] == small  # only 100 distinct, all kept
    # salt-count invariance (mergeability property): 3 and 64 salts agree
    for s in (3, 64):
        alt = {
            r["grp"]: r["hashes"]
            for r in merge_signatures_by(sigs, "grp", size=128, n_salts=s).collect()
        }
        assert alt["mega"] == want


def test_merge_signatures_exploded_rows(spark):
    """size=None scale path: merged set as rows, counts summed, no per-group
    array assembly."""
    from finchspark.operators.merge import merge_signatures_exploded

    rows = [
        ("g1", [1, 5, 9], [1, 2, 3]),
        ("g1", [5, 9, 11], [10, 1, 1]),
        ("g2", [2], [7]),
    ]
    sigs = spark.createDataFrame(
        rows, "grp string, hashes array<long>, counts array<int>"
    )
    got = {
        (r["grp"], r["hash"]): r["count"]
        for r in merge_signatures_exploded(sigs, "grp").collect()
    }
    assert got == {
        ("g1", 1): 1,
        ("g1", 5): 12,
        ("g1", 9): 4,
        ("g1", 11): 1,
        ("g2", 2): 7,
    }


def test_merge_size_none_mega_group_guard(spark):
    """size=None hard-fails a group beyond max_group_hashes instead of
    silently concentrating it into one executor's collect_list."""
    from finchspark.operators.merge import merge_signatures_by

    rows = [("g", list(range(1000)), [1] * 1000)]
    sigs = spark.createDataFrame(
        rows, "grp string, hashes array<long>, counts array<int>"
    )
    with pytest.raises(Exception, match="exceeds"):
        merge_signatures_by(sigs, "grp", size=None, max_group_hashes=500).collect()
    ok = merge_signatures_by(sigs, "grp", size=None).collect()
    assert len(ok) == 1 and len(ok[0]["hashes"]) == 1000


def test_cli_pairwise_smoke(spark, tmp_path):
    """D4 CLI surface (`--pairwise`): finch-shaped SketchDistance JSON for a
    10-doc table — every ordered non-self pair at max_dist=1.0, camelCase
    keys, both orientations for planted identical docs, and the O(n²)
    input-size guard (`calc_sketch_distances`, cli/src/main.rs:315-334)."""
    import json
    import sys

    sys.path.insert(0, "/root/repo/scripts")
    import submit_pipeline

    base = "def f(x):\n    return x * 2\n" * 10
    rows = [(i, base + f"# tail {i}\n" * 3) for i in range(8)]
    rows += [(8, base), (9, base)]  # planted identical pair
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    inp = str(tmp_path / "docs.parquet")
    docs.write.parquet(inp)
    out = str(tmp_path / "run")
    rc = submit_pipeline.main(["--input", inp, "--output", out, "--pairwise"])
    assert rc == 0
    dist = json.loads((tmp_path / "run" / "distances.json").read_text())
    assert len(dist) == 10 * 9  # ordered, no self-pairs, max_dist=1.0
    assert set(dist[0]) == {
        "containment", "jaccard", "mashDistance", "commonHashes",
        "totalHashes", "query", "reference",
    }
    ident = [d for d in dist if d["jaccard"] == 1.0]
    assert {(d["query"], d["reference"]) for d in ident} == {("8", "9"), ("9", "8")}
    assert all(d["mashDistance"] == 0.0 for d in ident)
    # the guard hard-fails an oversized input
    with pytest.raises(ValueError, match="small-corpus"):
        submit_pipeline.main(
            ["--input", inp, "--output", out, "--pairwise",
             "--pairwise-max-inputs", "5"]
        )
