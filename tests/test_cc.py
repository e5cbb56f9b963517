"""Connected components vs a scalar union-find oracle on random graphs."""
import random

import pytest

from finchspark.operators.cc import connected_components
from tests.conftest import union_find_components
from tests.spark_jobs import jobs_run


@pytest.mark.parametrize("n,m,seed", [(30, 20, 1), (100, 80, 2), (200, 400, 3), (50, 0, 4)])
def test_cc_random_graph(spark, n, m, seed):
    rng = random.Random(seed)
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    df = spark.createDataFrame(edges or [(0, 0)], "src long, dst long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, small_graph_threshold=0).collect()
    }
    expect = union_find_components(n, edges)
    # restrict to nodes that appear in edges (isolated nodes never enter CC)
    nodes = {x for e in edges for x in e if e[0] != e[1]}
    for u in nodes:
        for v in nodes:
            assert (got[u] == got[v]) == (expect[u] == expect[v]), (u, v)
    # component labels are the min node id of the component
    for u in nodes:
        assert got[u] == expect[u]


def test_cc_chain_and_star(spark):
    # a long chain (worst case for label propagation; log rounds for star alg)
    chain = [(i, i + 1) for i in range(63)]
    df = spark.createDataFrame(chain, "src long, dst long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, small_graph_threshold=0).collect()
    }
    assert set(got.values()) == {0}
    assert len(got) == 64


@pytest.mark.parametrize("hub,check_every", [(4, 1), (8, 2), (0, 3)])
def test_cc_salting_and_check_interval_equivalence(
    spark, monkeypatch, hub, check_every
):
    """Hub skew and the convergence-check interval change the plan, never the
    result: the star rounds label a star graph (worst-case hub, which rides
    on partial aggregation and AQE skew join) plus a chain tail exactly,
    whether the hub is its component's minimum (0) or a node whose smaller
    leaves relabel it (4, 8), and whether `_CHECK_EVERY` samples every
    round, every second or every third."""
    from finchspark.operators import cc

    monkeypatch.setattr(cc, "_CHECK_EVERY", check_every)
    star = [(hub, i) for i in range(40) if i != hub]
    chain = [(100 + i, 101 + i) for i in range(10)]
    edges = star + chain
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["component"]
        for r in cc.connected_components(df, small_graph_threshold=0).collect()
    }
    expect = union_find_components(200, edges)
    nodes = {x for e in edges for x in e}
    assert set(got) == nodes
    for u in nodes:
        assert got[u] == expect[u]


def test_cc_star_round_bound_raises(spark, monkeypatch):
    """A star path that reaches `_MAX_ROUNDS` without converging raises and
    names the bound instead of returning a partial map (with two rounds the
    64-node chain would come back as 60 components)."""
    from finchspark.operators import cc

    chain = [(i, i + 1) for i in range(63)]
    df = spark.createDataFrame(chain, "src long, dst long")
    monkeypatch.setattr(cc, "_MAX_ROUNDS", 2)
    with pytest.raises(RuntimeError, match="_MAX_ROUNDS=2"):
        cc.connected_components(df, small_graph_threshold=0)


def test_cc_default_path_jobs(spark):
    """A default-path call counts its edges on the job that materializes
    them and labels them in one more: two jobs, collect included, with the
    exact map."""
    edges = [(i, i + 1) for i in range(20)] + [(50, 51), (51, 52), (52, 52)]
    df = spark.createDataFrame(edges, "src long, dst long")
    n_jobs, got = jobs_run(
        spark,
        lambda: {
            (r["node"], r["component"])
            for r in connected_components(df).collect()
        },
    )
    assert n_jobs <= 2
    expect = union_find_components(60, edges)
    assert got == {(u, expect[u]) for e in edges for u in e}


def test_cc_numpy_labels_vs_union_find():
    import random

    import numpy as np

    from finchspark.operators.cc import cc_labels_numpy

    for n, m, seed in [(50, 30, 1), (300, 500, 2), (64, 63, 3)]:
        rng = random.Random(seed)
        if seed == 3:
            edges = [(i, i + 1) for i in range(63)]  # worst-case chain
        else:
            edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        edges = [e for e in edges if e[0] != e[1]] or [(0, 1)]
        src = np.array([a for a, _ in edges])
        dst = np.array([b for _, b in edges])
        nodes, comp = cc_labels_numpy(src, dst)
        expect = union_find_components(n, edges)
        got = dict(zip(nodes.tolist(), comp.tolist()))
        for u in got:
            assert got[u] == expect[u], (u, got[u], expect[u])


def test_cc_small_graph_path_equals_star_path(spark):
    import random

    rng = random.Random(9)
    edges = [(rng.randrange(150), rng.randrange(150)) for _ in range(120)]
    df = spark.createDataFrame(edges, "src long, dst long")
    fast = {
        r["node"]: r["component"] for r in connected_components(df).collect()
    }
    star = {
        r["node"]: r["component"]
        for r in connected_components(df, small_graph_threshold=0).collect()
    }
    assert fast == star
    # the fast-path plan is a single stage: no star-round joins
    plan = connected_components(df)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_cc_incremental_delta_rows(spark):
    """connected_components_incremental's changed set: applying it over
    prev (override by node) reproduces the full map exactly, and rows of
    untouched components never appear in it."""
    from finchspark.operators.cc import connected_components_incremental

    prev = spark.createDataFrame(
        # components {1,2,3}->1, {10,11}->10, {20,21}->20 (untouched)
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20), (21, 20)],
        "node long, component long",
    )
    # merge {1..3} with {10,11} via a new node 5, plus a brand-new pair
    edges = spark.createDataFrame(
        [(3, 5), (5, 10), (30, 31)], "src long, dst long"
    )
    full, changed = connected_components_incremental(prev, edges)
    got_full = {(r["node"], r["component"]) for r in full.collect()}
    got_changed = {(r["node"], r["component"]) for r in changed.collect()}
    assert got_full == {
        (1, 1), (2, 1), (3, 1), (5, 1), (10, 1), (11, 1),
        (20, 20), (21, 20), (30, 30), (31, 30),
    }
    # changed = new nodes + relabelled members; 1,2,3 keep label 1 and the
    # 20-component is untouched, so none of them may appear
    assert got_changed == {(5, 1), (10, 1), (11, 1), (30, 30), (31, 30)}
    # override-apply changed over prev == full
    applied = {n: c for n, c in {r["node"]: r["component"] for r in prev.collect()}.items()}
    applied.update({n: c for n, c in got_changed})
    assert {(n, c) for n, c in applied.items()} == got_full


def test_cc_incremental_counts_once(spark):
    """connected_components_incremental counts the projected edges on the
    job that materializes them, not by a second action, and labels the delta
    graph without the batch CC re-checkpointing and re-counting it: the call
    runs only the projection's jobs (7 jobs with the count and the re-count),
    and the (full, changed) maps are the exact ones."""
    from finchspark.operators.cc import connected_components_incremental

    prev = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20), (21, 20)],
        "node long, component long",
    )
    edges = spark.createDataFrame(
        [(3, 5), (5, 10), (30, 31)], "src long, dst long"
    )
    n_jobs, (full, changed) = jobs_run(
        spark, lambda: connected_components_incremental(prev, edges)
    )
    assert n_jobs <= 4
    assert {(r["node"], r["component"]) for r in full.collect()} == {
        (1, 1), (2, 1), (3, 1), (5, 1), (10, 1), (11, 1),
        (20, 20), (21, 20), (30, 30), (31, 30),
    }
    assert {(r["node"], r["component"]) for r in changed.collect()} == {
        (5, 1), (10, 1), (11, 1), (30, 30), (31, 30)
    }


def test_cc_incremental_delta_broadcast_guard(spark, monkeypatch):
    """ADVICE r4: the remap broadcast is guarded, not forced. At the
    default bound a small epoch broadcasts the remap; with the bound at 0
    (a bulk epoch, where a corpus-sized remap would OOM a forced broadcast)
    the plan carries no broadcast hint and the shuffle-join fallback
    returns the identical map and changed set."""
    from finchspark.operators import cc

    prev = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20), (21, 20)],
        "node long, component long",
    )
    edges = spark.createDataFrame(
        [(3, 5), (5, 10), (30, 31)], "src long, dst long"
    )

    def run():
        full, changed = cc.connected_components_incremental(prev, edges)
        hinted = "ResolvedHint (strategy=broadcast)" in (
            full._jdf.queryExecution().logical().toString()
        )
        return hinted, (
            {(r["node"], r["component"]) for r in full.collect()},
            {(r["node"], r["component"]) for r in changed.collect()},
        )

    hinted, default = run()
    assert hinted
    monkeypatch.setattr(cc, "_BROADCAST_REMAP_MAX_EDGES", 0)
    hinted, guarded = run()
    assert not hinted
    assert guarded == default


@pytest.mark.parametrize("seed", [3, 17])
def test_cc_incremental_matches_full_recompute(spark, seed):
    """connected_components_incremental over random epoch splits equals the
    batch CC over the union edge set AFTER EVERY EPOCH — exactness, not
    approximation (min-id labels make the contracted delta graph's labels
    identical to the full graph's)."""
    import random

    from finchspark.operators.cc import (
        connected_components,
        connected_components_incremental,
    )

    rng = random.Random(seed)
    edges = [
        (rng.randrange(0, 120), rng.randrange(0, 120)) for _ in range(150)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    cuts = sorted(rng.sample(range(1, len(edges)), 3))
    epochs = [
        edges[i:j] for i, j in zip([0] + cuts, cuts + [len(edges)])
    ]

    prev = None
    seen: list = []
    for ep in epochs:
        seen.extend(ep)
        e = spark.createDataFrame(ep, "src long, dst long")
        prev, _ = connected_components_incremental(prev, e)
        got = {(r["node"], r["component"]) for r in prev.collect()}
        full = connected_components(
            spark.createDataFrame(seen, "src long, dst long")
        )
        want = {(r["node"], r["component"]) for r in full.collect()}
        assert got == want
        prev = spark.createDataFrame(sorted(got), "node long, component long")
