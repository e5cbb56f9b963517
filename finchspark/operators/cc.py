"""Connected components: alternating large-star / small-star on DataFrames.

No reference counterpart (finch stops at pairwise distances); clustering is
the north-star extension. Implements the MapReduce CC algorithm of Kiveris et
al. ("Connected Components in MapReduce and Beyond", SoCC'14) with plain
DataFrame ops — converges in O(log n) rounds and tolerates high-degree nodes
(boilerplate mega-components) because both operations only ever attach nodes
to their neighborhood minimum rather than materializing components on one
reducer.

Every call first materializes and counts its edges in one job
(`_counted`); a graph of at most `SMALL_GRAPH_MAX_EDGES` edge rows is then
labelled in one task (`_single_task_cc`), a larger one by the star rounds
(`_star_cc`). `connected_components` and the per-epoch
`connected_components_incremental` share these three steps.

Scale notes for the star rounds:
- each round is two star operations (groupBy-min + equi-join on u, both
  shuffling on u). Hub skew rides on Spark itself: partial (map-side)
  aggregation bounds the groupBy side of a hub, and AQE skew join splits
  its join side;
- the convergence check runs every `_CHECK_EVERY` (2) rounds, so one
  driver action (count + order-insensitive edge checksum) covers two rounds
  of lazily-chained shuffles, at the cost of at most one extra round after
  the fixpoint;
- round state is truncated with a lazy localCheckpoint, materialized by the
  next convergence check;
- at most `_MAX_ROUNDS` rounds run; a graph that has not converged by then
  raises instead of returning a partial map.
"""
from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# graphs with at most this many edge rows (4M, about 64 MB of keys: far
# below executor memory) are labelled in one task by `_single_task_cc`
SMALL_GRAPH_MAX_EDGES = 1 << 22
# star rounds `_star_cc` runs at most: they converge in O(log n) rounds
# (Kiveris et al.), so reaching the bound raises rather than returning a
# partial map
_MAX_ROUNDS = 50
# star rounds per convergence check (one driver action each)
_CHECK_EVERY = 2


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


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u})."""
    und = edges.select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    ).union(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
    m = und.groupBy("u").agg(F.min("v").alias("mn")).select(
        "u", F.least("mn", F.col("u")).alias("m")
    )
    # no distinct here: it cost one exchange per round, and the consuming
    # small-star dedups anyway — its min-map aggregation is duplicate-
    # insensitive (partial agg absorbs dups map-side) and its own output
    # distinct restores canonical form before the convergence check
    return (
        und.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges large→small; connect all smaller neighbors (and self) of
    u to the minimum."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    )
    m = oriented.groupBy("u").agg(F.min("v").alias("m"))
    return (
        oriented.join(m, "u")
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .union(m.select(F.col("u").alias("src"), F.col("m").alias("dst")))
        .distinct()
    )


def _counted(e: DataFrame) -> tuple[DataFrame, int]:
    """(`e` materialized, its row count) in ONE job: an eager localCheckpoint
    carrying an `Observation`, so the labelling reads the materialized blocks
    instead of re-running the caller's upstream plan, and the count needs no
    second action."""
    seen = Observation()
    e = e.observe(seen, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    return e, seen.get["n"]


def _star_cc(e: DataFrame) -> DataFrame:
    """(node, component) of the self-loop-free edges `e` by alternating
    large-star / small-star rounds, checked for convergence every
    `_CHECK_EVERY` rounds; raises when `_MAX_ROUNDS` rounds do not reach
    the fixpoint."""
    prev_sig = None
    for it in range(_MAX_ROUNDS):
        # _small_star output is already distinct; the self-loop filter is
        # narrow — no extra shuffle per round. The lazy checkpoint is
        # materialized by the next convergence check, in the same job
        e = _small_star(_large_star(e)).filter(F.col("src") != F.col("dst"))
        e = e.localCheckpoint(eager=False)
        if (it + 1) % _CHECK_EVERY:
            continue
        # convergence: edge set stable (order-insensitive checksum);
        # bit_xor is overflow-free under ANSI mode and edges are distinct.
        # ONE driver action per `_CHECK_EVERY` rounds; a fixpoint is
        # stable, so sampling the rounds still detects it
        row = e.select(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
        ).first()
        sig = (row["n"], row["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"connected components: the star rounds did not converge within "
            f"_MAX_ROUNDS={_MAX_ROUNDS} rounds"
        )
    # after convergence edges form stars child -> root(min)
    comp = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = e.select(F.col("dst").alias("node"), F.col("dst").alias("component"))
    return comp.union(roots).groupBy("node").agg(
        F.min("component").alias("component")
    )


def connected_components(
    edges: DataFrame, small_graph_threshold: int = SMALL_GRAPH_MAX_EDGES
) -> DataFrame:
    """Return (node, component) where component = min node id reachable.

    `edges` must have two orderable columns `src` and `dst`; self-loops and
    duplicates are tolerated. Empty edge input returns an empty frame.

    The self-loop-free edges are materialized and counted in one job
    (`_counted`). Graphs with at most `small_graph_threshold` edge rows are
    then labelled in ONE single-task job (`_single_task_cc`): a near-dup edge
    list is tiny relative to the corpus, and the star rounds cost O(log n)
    shuffle rounds of job latency even on 25 edges. Larger graphs go through
    the star rounds (`_star_cc`); a threshold of 0 pins that path.

    No up-front `.distinct()`: it cost a full edge exchange before any work,
    while duplicate edges are absorbed for free one step later — the numpy
    labeler is duplicate-insensitive, and the first star round's min-map
    aggregation collapses them map-side. Counting raw rows also makes the
    single-task guard bound what is actually SHIPPED to the one task, which
    is the quantity the guard protects.
    """
    e, n = _counted(edges.select("src", "dst").filter(F.col("src") != F.col("dst")))
    return _single_task_cc(e) if n <= small_graph_threshold else _star_cc(e)


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

    Driver actions: the projected edges are materialized and counted in one
    job (`_counted`). The delta labels are checkpointed lazily: the first job
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
    proj, n_proj = _counted(proj)
    delta = (
        _single_task_cc(proj) if n_proj <= SMALL_GRAPH_MAX_EDGES else _star_cc(proj)
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
