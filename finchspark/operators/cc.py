"""Connected components: alternating large-star / small-star on DataFrames.

No reference counterpart (finch stops at pairwise distances); clustering is
the north-star extension. Implements the MapReduce CC algorithm of Kiveris et
al. ("Connected Components in MapReduce and Beyond", SoCC'14) with plain
DataFrame ops — converges in O(log n) rounds and tolerates high-degree nodes
(boilerplate mega-components) because both operations only ever attach nodes
to their neighborhood minimum rather than materializing components on one
reducer.

Scale notes:
- each round is two star operations (groupBy-min + equi-join on u, both
  shuffling on u); Spark's partial (map-side) aggregation already bounds the
  groupBy skew, and AQE skew-join splits the join side of a hub by default;
- `salt_buckets > 1` adds EXPLICIT hub salting (SURVEY.md §4.3): the
  neighbor-min is aggregated in two levels — (u, salt=hash(v) % S) then u —
  and the min-map is replicated S× so the equi-join runs on (u, salt). This
  bounds any single task to deg(hub)/S rows without relying on AQE, at the
  cost of an S× blow-up of the (node, min) map — turn it on for graphs with
  known mega-hubs (it changes no results, property-tested);
- the convergence check runs every `check_every` rounds, so one driver
  action (count + order-insensitive edge checksum) covers that many rounds
  of lazily-chained shuffles — at most check_every-1 extra rounds of work
  after the fixpoint, against half/third the job-launch latency;
- iteration state is truncated with localCheckpoint by default; pass
  `checkpoint_dir` to round-trip state through parquet instead — durable
  against executor loss on a real cluster (localCheckpoint lineage dies with
  an executor), and the restart point for a resumed job.
"""
from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# graphs with at most this many edge rows (4M, about 64 MB of keys: far
# below executor memory) are labelled in one task by `_single_task_cc`
SMALL_GRAPH_MAX_EDGES = 1 << 22


def cc_labels_numpy(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(nodes, component labels) by min-label propagation + pointer jumping —
    O(log n) vectorized passes, no per-edge Python. Used by the single-task
    small-graph path; also the test oracle for the distributed star rounds."""
    both = np.concatenate([src, dst])
    nodes, idx = np.unique(both, return_inverse=True)
    es, ed = idx[: len(src)], idx[len(src) :]
    label = np.arange(len(nodes), dtype=np.int64)
    while True:
        m = label.copy()
        # hook: everyone adopts the min label in their closed neighborhood
        np.minimum.at(m, es, label[ed])
        np.minimum.at(m, ed, label[es])
        changed = not np.array_equal(m, label)
        label = m
        while True:  # pointer jumping: label <- label[label] to fixpoint
            nxt = label[label]
            if np.array_equal(nxt, label):
                break
            label = nxt
        if not changed:
            break
    # nodes are sorted ascending, so index minima ARE node-id minima
    return nodes, nodes[label]


def _single_task_cc(edges: DataFrame) -> DataFrame:
    """CC for graphs that fit one task: ship all edges to a single executor
    partition and label with `cc_labels_numpy`. The edge list of a near-dup
    graph is tiny relative to the corpus (it only holds duplicate relations),
    so this path covers the common case with ONE job instead of O(log n)
    shuffle rounds; the guards in `connected_components` and
    `connected_components_incremental` bound its size."""
    import pandas as pd

    key_type = edges.schema["src"].dataType.simpleString()

    def compute(batches):
        srcs, dsts = [], []
        for pdf in batches:
            srcs.append(pdf["src"].to_numpy())
            dsts.append(pdf["dst"].to_numpy())
        if not srcs or not sum(len(s) for s in srcs):
            return
        nodes, comp = cc_labels_numpy(np.concatenate(srcs), np.concatenate(dsts))
        yield pd.DataFrame({"node": nodes, "component": comp})

    return edges.coalesce(1).mapInPandas(
        compute, f"node {key_type}, component {key_type}"
    )


def _min_map(und: DataFrame, salt_buckets: int) -> DataFrame:
    """(u, mn = min neighbor of u), optionally via two-level salted agg."""
    if salt_buckets > 1:
        part = und.withColumn(
            "__salt", F.pmod(F.xxhash64("v"), F.lit(salt_buckets))
        ).groupBy("u", "__salt").agg(F.min("v").alias("mn"))
        return part.groupBy("u").agg(F.min("mn").alias("mn"))
    return und.groupBy("u").agg(F.min("v").alias("mn"))


def _salted_join(und: DataFrame, m: DataFrame, salt_buckets: int) -> DataFrame:
    """und ⋈ m on u; with salting, m is replicated across salt buckets so a
    hub's join rows spread over `salt_buckets` tasks."""
    if salt_buckets > 1:
        spark = und.sparkSession
        salts = spark.range(salt_buckets).select(
            F.col("id").cast("long").alias("__salt")
        )
        m_rep = m.crossJoin(F.broadcast(salts))
        und_s = und.withColumn(
            "__salt", F.pmod(F.xxhash64("v"), F.lit(salt_buckets))
        )
        return und_s.join(m_rep, ["u", "__salt"]).drop("__salt")
    return und.join(m, "u")


def _large_star(edges: DataFrame, salt_buckets: int = 0) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u})."""
    und = edges.select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    ).union(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
    m = _min_map(und, salt_buckets).select(
        "u", F.least("mn", F.col("u")).alias("m")
    )
    # no distinct here: it cost one exchange per round, and the consuming
    # small-star dedups anyway — its min-map aggregation is duplicate-
    # insensitive (partial agg absorbs dups map-side) and its own output
    # distinct restores canonical form before the convergence check
    return (
        _salted_join(und, m, salt_buckets)
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame, salt_buckets: int = 0) -> DataFrame:
    """Orient edges large→small; connect all smaller neighbors (and self) of
    u to the minimum."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    )
    m = _min_map(oriented, salt_buckets).withColumnRenamed("mn", "m")
    out = (
        _salted_join(oriented, m, salt_buckets)
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .union(m.select(F.col("u").alias("src"), F.col("m").alias("dst")))
        .distinct()
    )
    return out


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    check_every: int = 2,
    salt_buckets: int = 0,
    checkpoint_dir: str | None = None,
    small_graph_threshold: int | None = SMALL_GRAPH_MAX_EDGES,
) -> DataFrame:
    """Return (node, component) where component = min node id reachable.

    `edges` must have two numeric/orderable columns; self-loops and
    duplicates are tolerated. Empty edge input returns an empty frame.

    Graphs with at most `small_graph_threshold` edge rows (default
    `SMALL_GRAPH_MAX_EDGES`) skip the star rounds and are
    labeled in ONE single-task job: a near-dup edge list is tiny relative to
    the corpus, and the iterative path costs O(log n) shuffle rounds of job
    latency even on 25 edges. The edge count that guards this reuses the
    same materialization the star loop needs, so the big-graph case pays
    nothing extra. Pass 0/None to force the distributed star path.

    No up-front `.distinct()`: it cost a full edge exchange before any work,
    while duplicate edges are absorbed for free one step later — the numpy
    labeler is duplicate-insensitive, and the first star round's min-map
    aggregation collapses them map-side. Counting raw rows also makes the
    single-task guard bound what is actually SHIPPED to the one task, which
    is the quantity the guard protects.
    """
    spark = edges.sparkSession
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).filter(
        F.col("src") != F.col("dst")
    )
    guarded = False
    if small_graph_threshold and checkpoint_dir is None:
        e = e.localCheckpoint(eager=False)
        guarded = True
        if e.count() <= small_graph_threshold:  # materializes the checkpoint
            return _single_task_cc(e)

    written: list[str] = []

    def _truncate(df: DataFrame, it: int, durable: bool) -> DataFrame:
        # durable parquet only on convergence-check rounds: writing every
        # round would launch one full job per round and void the
        # check_every batching of driver actions; skipped rounds stay lazy
        if checkpoint_dir is not None and durable:
            path = f"{checkpoint_dir}/cc_iter_{it:04d}"
            df.write.mode("overwrite").parquet(path)
            written.append(path)
            return spark.read.parquet(path)
        # lazy: materialized by the convergence action in the same job
        return df.localCheckpoint(eager=False)

    if checkpoint_dir is not None:
        e = _truncate(e, -1, durable=True)
    elif not guarded:
        e = e.localCheckpoint(eager=False)
    prev_sig = None
    for it in range(max_iter):
        is_check = not ((it + 1) % check_every) or it + 1 >= max_iter
        # _small_star output is already distinct; the self-loop filter is
        # narrow — no extra shuffle per iteration
        e = _small_star(_large_star(e, salt_buckets), salt_buckets)
        e = e.filter(F.col("src") != F.col("dst"))
        e = _truncate(e, it, durable=is_check)
        if not is_check:
            continue
        # convergence: edge set stable (order-insensitive checksum);
        # bit_xor is overflow-free under ANSI mode and edges are distinct.
        # ONE driver action per `check_every` rounds; a fixpoint is stable,
        # so sampling every k-th round still detects it (≤ k-1 extra rounds)
        sig = e.select(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
        ).first()
        if prev_sig == (sig["n"], sig["h"]):
            break
        prev_sig = (sig["n"], sig["h"])
    # drop superseded iteration checkpoints — only the converged state (the
    # lineage root of the returned frame) stays on disk as the resume point
    if len(written) > 1:
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        for p in written[:-1]:
            jp = jvm.org.apache.hadoop.fs.Path(p)
            jp.getFileSystem(hconf).delete(jp, True)
    # after convergence edges form stars child -> root(min)
    comp = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = e.select(F.col("dst").alias("node"), F.col("dst").alias("component"))
    return comp.union(roots).groupBy("node").agg(
        F.min("component").alias("component")
    )


# broadcast the remap only when the epoch's projected edge count bounds it
# safely: remap rows <= distinct delta endpoints <= 2 x projected edges, so
# 1M edges caps the broadcast at ~2M (long,long) rows (~32 MB per executor)
_BROADCAST_REMAP_MAX_EDGES = 1_000_000


def connected_components_incremental(
    prev: DataFrame | None, new_edges: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """(full, changed): fold `new_edges` = (src, dst) into `prev` = (node,
    component), the map of the corpus so far, or None before the first
    epoch (then both are `connected_components(new_edges)`). `full` is the
    exact map of the UNION graph at a per-epoch cost bounded by the delta,
    never a full recompute; `changed` holds the nodes first clustered this
    epoch and the previously clustered nodes whose label moved.

    Method: contract every previous component to its representative
    (component id == min member id), project the new edges onto
    representatives (nodes unknown to `prev` project to themselves), label
    that DELTA GRAPH only (in one task up to `SMALL_GRAPH_MAX_EDGES` edges,
    else by the star rounds), then remap previous assignments through the
    delta result and append newly clustered nodes.

    EXACTNESS (not an approximation): component ids are min member ids, so
    each prev rep is the min of its members; the delta CC's label for a
    merged group is the min over {touched reps, new node ids} = min over all
    underlying members = exactly the id batch CC assigns over the full edge
    set. Components untouched by new edges keep their labels (left-join
    miss). Property-tested against a full recompute over random epoch splits
    (tests/test_cc.py).

    `changed` is bounded by the total size of the delta-touched components,
    never the corpus, and it is precisely the row set a storage-level MERGE
    (or a delta-file write) needs: applying it over `prev` (override by
    node) reproduces `full` exactly
    (tests/test_cc.py::test_cc_incremental_delta_rows).

    Broadcast guard: the remap is delta-bounded (touched reps + new nodes)
    while `prev` is the whole corpus map, so the remap is broadcast and
    `prev` is never shuffled — at 10^12-node scale that shuffle would dwarf
    the epoch. A bulk epoch (initial backfill, large catch-up batch) can make
    the delta corpus-sized, and forcing the broadcast would OOM the
    executors, so it is broadcast only when the projected edge count is at
    most `_BROADCAST_REMAP_MAX_EDGES`.

    Driver actions: the projected edges are materialized and counted once,
    by an eager localCheckpoint carrying an `Observation`, so the delta CC
    reads the materialized blocks instead of re-running the caller's
    upstream plan. The delta labels are checkpointed lazily: the first job
    that reads them (for the remap or the new-node anti-join) labels the
    delta graph, and the other reader reads the same blocks.
    """
    if prev is None:
        full = connected_components(new_edges)
        return full, full
    # project endpoints onto previous representatives
    ra = prev.select(F.col("node").alias("src"), F.col("component").alias("__ra"))
    rb = prev.select(F.col("node").alias("dst"), F.col("component").alias("__rb"))
    proj = (
        new_edges.select("src", "dst")
        .join(ra, "src", "left")
        .join(rb, "dst", "left")
        .select(
            F.coalesce("__ra", F.col("src")).alias("src"),
            F.coalesce("__rb", F.col("dst")).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    seen = Observation()
    proj = proj.observe(seen, F.count(F.lit(1)).alias("n")).localCheckpoint(
        eager=True
    )
    n_proj = seen.get["n"]
    delta = (
        _single_task_cc(proj)
        if n_proj <= SMALL_GRAPH_MAX_EDGES
        else connected_components(proj, small_graph_threshold=None)
    ).localCheckpoint(eager=False)
    # remap previous components whose representative was merged
    remap = delta.select(
        F.col("node").alias("component"), F.col("component").alias("__new")
    )
    joined = prev.join(
        F.broadcast(remap) if n_proj <= _BROADCAST_REMAP_MAX_EDGES else remap,
        "component",
        "left",
    )
    kept = joined.select(
        "node", F.coalesce("__new", F.col("component")).alias("component")
    )
    moved = joined.filter(
        F.col("__new").isNotNull() & (F.col("__new") != F.col("component"))
    ).select("node", F.col("__new").alias("component"))
    # nodes first clustered this epoch (absent from prev)
    fresh = delta.join(prev.select("node"), "node", "left_anti").select(
        "node", "component"
    )
    return kept.unionByName(fresh), moved.unionByName(fresh)
