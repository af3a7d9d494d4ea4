"""Connected-components correctness on arbitrary random graphs —
the oracle query (q_graph_components) proves the session graph; this
proves general topologies (chains, stars, cycles, forests) against an
in-test union-find, on both branches of the operator: the driver-side
labelling of an edge list within ``CC_LOCAL_EDGES`` and the distributed
rounds above it."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from mapreduce_llm_spark.operators import graph
from mapreduce_llm_spark.operators.graph import connected_components
from tests.conftest import SMOKE_SF_DIR


def _on_both_branches(monkeypatch):
    """Loop body runs twice: under the module's bound (the graphs here
    take the driver-side branch), then under a bound of 0, which sends
    any non-empty edge list to the distributed rounds."""
    for bound in (graph.CC_LOCAL_EDGES, 0):
        monkeypatch.setattr(graph, "CC_LOCAL_EDGES", bound)
        yield bound


def _union_find(nodes, edges):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node of each set
    comp = {}
    for n in nodes:
        root = find(n)
        comp.setdefault(root, []).append(n)
    return {n: min(members) for root, members in comp.items() for n in members}


@pytest.mark.parametrize("seed", [1, 7, 42])
def test_cc_matches_union_find_on_random_graphs(spark, seed, monkeypatch):
    rng = random.Random(seed)
    n_nodes, n_edges = 120, 90  # sparse → many nontrivial components
    edges = [
        (rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    expected = _union_find(range(n_nodes), edges)

    edf = spark.createDataFrame(edges, "src long, dst long")
    # operator omits isolated nodes by contract; compare on edge-touched nodes
    touched = {a for a, _ in edges} | {b for _, b in edges}
    for bound in _on_both_branches(monkeypatch):
        got = {
            r["node"]: r["component"]
            for r in connected_components(edf).collect()
        }
        assert got == {n: expected[n] for n in touched}, f"bound={bound}"


def test_cc_long_chain_converges_fast(spark, monkeypatch):
    """A 64-node path needs ~log2(64) pointer-jump rounds, far under
    max_iter — the O(log diameter) claim, observed."""
    edges = [(i, i + 1) for i in range(63)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    for bound in _on_both_branches(monkeypatch):
        got = connected_components(edf, max_iter=12).collect()
        assert {r["component"] for r in got} == {0}, f"bound={bound}"
        assert len(got) == 64


def test_cc_raises_when_max_iter_runs_out(spark, monkeypatch):
    """Two rounds cannot label a 64-node path: the operator must fail
    loudly rather than return unconverged components. Only the
    distributed branch has rounds, so the bound forces it."""
    monkeypatch.setattr(graph, "CC_LOCAL_EDGES", 0)
    edges = [(i, i + 1) for i in range(63)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    with pytest.raises(RuntimeError, match="max_iter=2"):
        connected_components(edf, max_iter=2)


def _cc_run(spark, edf, bound, monkeypatch):
    """(sorted rows, schema, Spark jobs launched) of one
    connected_components call under edge bound ``bound``."""
    monkeypatch.setattr(graph, "CC_LOCAL_EDGES", bound)
    sc = spark.sparkContext
    group = f"test-cc-{bound}-{random.random()}"
    sc.setJobGroup(group, group)
    try:
        out = connected_components(edf)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return sorted(tuple(r) for r in out.collect()), out.schema, jobs


def test_cc_local_bound_and_branches_agree(spark, monkeypatch):
    """Exactly ``CC_LOCAL_EDGES`` edges are labelled on the driver after
    one probe job; one edge more runs the distributed rounds. Both give
    the same rows and schema on self-loops, duplicate and reversed
    edges, non-nullable ids and an empty edge list."""
    edges = [(1, 1), (1, 2), (2, 1), (1, 2), (3, 4), (4, 4), (9, 5), (5, 7), (8, 8)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    n = len(edges)
    local = _cc_run(spark, edf, n, monkeypatch)
    rounds = _cc_run(spark, edf, n - 1, monkeypatch)
    assert local[2] == 1, f"local branch launched {local[2]} jobs"
    assert rounds[2] > 1
    assert local[0] == rounds[0] == [
        (1, 1), (2, 1), (3, 3), (4, 3), (5, 5), (7, 5), (8, 8), (9, 5)
    ]
    assert local[1] == rounds[1]

    # spark.range ids are non-nullable, unlike createDataFrame's
    chain = spark.range(6).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    local = _cc_run(spark, chain, 6, monkeypatch)
    rounds = _cc_run(spark, chain, 5, monkeypatch)
    assert local[0] == rounds[0] == [(i, 0) for i in range(7)]
    assert local[1] == rounds[1]

    # an empty probe fits any bound >= 0; -1 forces the rounds
    empty = spark.createDataFrame([], "src long, dst long")
    local = _cc_run(spark, empty, 0, monkeypatch)
    rounds = _cc_run(spark, empty, -1, monkeypatch)
    assert local[0] == rounds[0] == []
    assert local[1] == rounds[1]


def test_pagerank_matches_numpy_power_iteration(spark):
    """Distributed PageRank == dense numpy power iteration with the
    same damping/dangling conventions, to 1e-9 per node, ranks summing
    to 1. Bipartite supplier→part graph from lineitem at sf0.001."""
    import numpy as np

    from mapreduce_llm_spark.io import load_table
    from mapreduce_llm_spark.operators.graph import pagerank

    li = load_table(spark, SMOKE_SF_DIR, "lineitem")
    edges = li.select(
        F.col("l_suppkey").alias("src"), (F.col("l_partkey") + 100000).alias("dst")
    ).distinct()
    got = {
        r["node"]: r["rank"]
        for r in pagerank(edges, iterations=10, damping=0.85).collect()
    }
    assert abs(sum(got.values()) - 1.0) < 1e-9

    pairs = [(r["src"], r["dst"]) for r in edges.collect()]
    nodes = sorted({x for p in pairs for x in p})
    ix = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = np.zeros(n)
    for s, _ in pairs:
        out[ix[s]] += 1
    r = np.full(n, 1.0 / n)
    d = 0.85
    for _ in range(10):
        inflow = np.zeros(n)
        for s, t in pairs:
            inflow[ix[t]] += r[ix[s]] / out[ix[s]]
        dangling = r[out == 0].sum()
        r = (1 - d) / n + d * (inflow + dangling / n)
    assert set(got) == set(ix)
    for node, i in ix.items():
        assert abs(got[node] - r[i]) < 1e-9, (node, got[node], r[i])


def _brute_kcore_trace(edges, k, iters):
    """Reference peel: nodes = endpoints; each round drop degree < k."""
    edges = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = {n for e in edges for n in e}
    trace = [(0, len(nodes), len(edges))]
    for it in range(1, iters):
        deg = {}
        for a, b in edges:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        nodes = {n for n, d in deg.items() if d >= k}
        edges = {(a, b) for a, b in edges if a in nodes and b in nodes}
        trace.append((it, len(nodes), len(edges)))
    return trace


@pytest.mark.parametrize("seed,k", [(3, 3), (11, 4), (23, 5)])
def test_kcore_trace_matches_brute_force_on_random_graphs(spark, seed, k):
    from mapreduce_llm_spark.operators.graph import kcore_peel_trace

    rng = random.Random(seed)
    n_nodes, n_edges = 80, 240  # dense enough that peeling has structure
    edges = list(
        {
            tuple(sorted((rng.randrange(n_nodes), rng.randrange(n_nodes))))
            for _ in range(n_edges)
        }
    )
    edges = [e for e in edges if e[0] != e[1]]
    expected = _brute_kcore_trace(edges, k, iters=5)

    edf = spark.createDataFrame(edges, "u long, v long")
    got = [
        (r["iter"], r["n_nodes"], r["n_edges"])
        for r in kcore_peel_trace(edf, k=k, iters=5).collect()
    ]
    assert got == expected


def test_kcore_iters_zero_returns_empty_trace(spark):
    """advisor round 14: iters <= 0 must yield an EMPTY trace (the old
    boundary semantics) and run no per-level jobs — the eager level-0
    stats previously executed even when no levels were requested."""
    from mapreduce_llm_spark.operators.graph import kcore_peel_trace

    edges = spark.createDataFrame([(1, 2), (2, 3)], "u LONG, v LONG")
    assert kcore_peel_trace(edges, k=1, iters=0).count() == 0
    assert kcore_peel_trace(edges, k=1, iters=-3).count() == 0
