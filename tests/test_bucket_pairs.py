"""`lsh.bucket_pairs` through each of its callers: a key that appears twice
in one bucket must never pair with itself, and every pair is key_a < key_b."""
import pytest

from finchspark.config import LshConfig, PipelineConfig


def _lsh(spark):
    from finchspark.operators.lsh import candidate_pairs

    sigs = spark.createDataFrame(
        [(1, [10, 20]), (1, [10, 20]), (2, [10, 30]), (3, [40, 50])],
        "doc_id long, bands array<long>",
    )
    return candidate_pairs(sigs, LshConfig())[0]


def _simhash(spark):
    from finchspark.plans.pipeline import simhash_candidate_pairs

    near = (0x1234 << 48) | (0x5678 << 32) | (0x9ABC << 16) | 0xDEF0
    sigs = spark.createDataFrame(
        [(1, 5, near), (1, 5, near), (2, 5, near ^ 1), (3, 5, ~near)],
        "doc_id long, n_kmers long, simhash long",
    )
    return simhash_candidate_pairs(sigs, PipelineConfig())


def _cosine(spark):
    from finchspark.operators.ann import cosine_dup_pairs

    emb = spark.createDataFrame(
        [
            (1, [1.0, 2.0, 3.0, 4.0]),
            (1, [1.0, 2.0, 3.0, 4.0]),
            (2, [1.0, 2.0, 3.0, 4.1]),
            (3, [-1.0, -2.0, 3.0, -4.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    return cosine_dup_pairs(emb, threshold=0.9)


def _prefix(spark):
    from finchspark.operators.allpairs import prefix_candidates

    sigs = spark.createDataFrame(
        [(1, [1, 2, 3]), (1, [1, 2, 3]), (2, [1, 2, 4]), (3, [7, 8, 9])],
        "doc_id long, hashes array<long>",
    )
    return prefix_candidates(sigs, 0.5)


def _exact(spark):
    from finchspark.operators.dedup import exact_dup_pairs

    docs = spark.createDataFrame(
        [(1, "same"), (1, "same"), (2, "same"), (3, "other")],
        "doc_id long, text string",
    )
    return exact_dup_pairs(docs)


@pytest.mark.parametrize(
    "caller",
    [_lsh, _simhash, _cosine, _prefix, _exact],
    ids=["candidate_pairs", "simhash_candidate_pairs", "cosine_dup_pairs",
         "prefix_candidates", "exact_dup_pairs"],
)
def test_repeated_key_never_self_pairs(spark, caller):
    rows = [(r["key_a"], r["key_b"]) for r in caller(spark).collect()]
    assert all(a < b for a, b in rows), rows
    assert set(rows) == {(1, 2)}
