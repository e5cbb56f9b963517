"""Seeded input generators for the benchmark workloads.

Every corpus is a pure function of the seed and is written sequentially in
this process as parquet with the source-code table schema
``(doc_id, repo, path, commit, lang, content)``. The ground truth (planted
duplicate pairs) stays in memory here; the program only sees the parquet.
The parallel sharded writer in ``finchspark.sources.synth`` is deliberately
not used: it starts a process pool that re-imports ``__main__``.
"""
from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from finchspark.sources.synth import _gen_content, _mutate, synth_documents

SCHEMA = (("doc_id", "long"), ("repo", "string"), ("path", "string"),
          ("commit", "string"), ("lang", "string"), ("content", "string"))
COLUMNS = tuple(c for c, _ in SCHEMA)


@dataclass
class Corpus:
    docs: list[dict]
    planted: list[tuple[int, int]]  # planted duplicate pairs
    shards: list[list[dict]] = field(default_factory=list)

    def duplicates(self, config) -> list[tuple[int, int]]:
        """The planted pairs that are duplicates under `config`: identical
        content, or a Spark-free sketch Jaccard at or above the threshold.
        This is the reference the repository's own recall tests use; a
        planted containment pair whose sketches fall below the threshold is
        not a duplicate at that threshold."""
        import numpy as np

        from finchspark.kernels import raw_distance, shingle_hashes, sketch_hashes

        p = config.sketch
        memo: dict[int, np.ndarray] = {}

        def sketch(i: int) -> np.ndarray:
            if i not in memo:
                h = shingle_hashes(self.docs[i]["content"].encode(), p.kmer_length, p.hash_seed)
                memo[i] = sketch_hashes(h, p).hashes
            return memo[i]

        return [
            (a, b) for a, b in self.planted
            if self.docs[a]["content"] == self.docs[b]["content"]
            or raw_distance(sketch(a), sketch(b), 0.0)[1] >= config.jaccard_threshold
        ]


def write_parquet(rows: list[dict], path: str, n_files: int) -> None:
    """Write `rows` as `n_files` parquet files, one Spark partition each."""
    os.makedirs(path, exist_ok=True)
    table = pa.table({c: [r[c] for r in rows] for c in COLUMNS})
    per = -(-len(rows) // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * per, per), f"{path}/part-{i:05d}.parquet")


def write_shards(shards: list[list[dict]], path: str) -> None:
    """One parquet file per shard; modification times increase with the
    shard index so a file stream source replays them in order."""
    os.makedirs(path, exist_ok=True)
    for i, rows in enumerate(shards):
        f = f"{path}/shard-{i:05d}.parquet"
        pq.write_table(pa.table({c: [r[c] for r in rows] for c in COLUMNS}), f)
        os.utime(f, (1_000_000_000 + i, 1_000_000_000 + i))


def _row(doc_id: int, content: str, rng: random.Random, repo: str) -> dict:
    return {
        "doc_id": doc_id,
        "repo": repo,
        "path": f"src/pkg_{doc_id % 11}/file_{doc_id}.py",
        "commit": f"{rng.getrandbits(160):040x}",
        "lang": "python",
        "content": content,
    }


def fork_families(seed: int, n_families: int, max_family: int = 150,
                  big_family: int = 2100, n_short_groups: int = 600) -> Corpus:
    """Heavy-tailed families of short, lightly mutated copies.

    - `n_families` families whose sizes are the quantiles of a Pareto tail
      (2 to `max_family` members; the same sizes for every seed, so the candidate
      count does not depend on the seed): a root file of one or two
      functions plus forks (exact copies or light `_mutate` edits of it).
    - One family of `big_family` exact copies: above `LshConfig.bucket_cap`
      (2000), so every one of its LSH buckets is capped and only the
      sha256 path can join it.
    - `n_short_groups` groups of 2-9 identical files of 21-27 bytes (1-7
      shingles), below `short_doc_min_kmers`, so they take the SimHash path.
    Truth: a star (root, member) per family or group.
    """
    rng = random.Random(seed)
    items: list[tuple[int, str]] = []  # (group, content)
    group = 0
    for i in range(n_families):
        size = min(max_family, int(2 * ((i + 0.5) / n_families) ** (-1 / 1.1)))
        root = _gen_content(rng, rng.randint(1, 2))
        items.append((group, root))
        for _ in range(size - 1):
            if rng.random() < 0.3:
                items.append((group, root))
            else:
                items.append((group, _mutate(rng, root, rng.choice((0.02, 0.05)))))
        group += 1
    big = _gen_content(rng, 2)
    items.extend((group, big) for _ in range(big_family))
    group += 1
    for _ in range(n_short_groups):
        text = f"v_{rng.getrandbits(32):08x} = {rng.randint(10 ** 8, 10 ** 13)}"
        items.extend((group, text) for _ in range(rng.randint(2, 9)))
        group += 1
    rng.shuffle(items)
    docs, roots, truth = [], {}, []
    for doc_id, (g, content) in enumerate(items):
        docs.append(_row(doc_id, content, rng, f"fork{g % 97}/repo{g}"))
        if g in roots:
            truth.append((roots[g], doc_id))
        else:
            roots[g] = doc_id
    return Corpus(docs, truth)


def code_stream(seed: int, n_base: int, n_shards: int) -> Corpus:
    """The `synth_documents` code corpus (planted exact, near and
    containment copies, licence boilerplate, short/empty/non-ASCII rows) in
    a seeded random order, cut into `n_shards` equal micro-batch files so
    the planted copies mostly land in different micro-batches."""
    docs, truth = synth_documents(n_base=n_base, seed=seed)
    order = list(docs)
    random.Random(seed ^ 0x5EED).shuffle(order)
    per = -(-len(order) // n_shards)
    shards = [order[i * per:(i + 1) * per] for i in range(n_shards)]
    return Corpus(docs, [(a, b) for a, b, _ in truth], shards)
