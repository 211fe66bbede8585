"""The one min-propagation superstep (operators/iterate.min_superstep) that
drives connected components' distributed loop, weighted SSSP, BFS and
harmonic closeness.  Only the rows that changed last round send messages,
and the loop stops once nothing changes; the state after every round must
equal a full re-send's.  Each operator is pinned against a pure-Python
round-bounded reference on seeded random graphs, at every round bound
from 1 up to past convergence."""

from __future__ import annotations

import random

import pytest

from duckdb_age_spark.operators import dedup, graph

ROUNDS = range(1, 6)


def _random_graph(seed: int, n: int = 24) -> list[tuple[int, int, int | None]]:
    """A shuffled chain over half the nodes (its diameter outlasts the round
    bounds, and its ids arrive in adverse order), random chords, duplicate
    edges, a self-loop and a NULL-weight edge."""
    rng = random.Random(seed)
    ids = list(range(n))
    rng.shuffle(ids)
    chain = ids[: n // 2]
    rows = [(a, b, rng.randint(1, 9)) for a, b in zip(chain, chain[1:])]
    rows += [(rng.choice(ids), rng.choice(ids), rng.randint(1, 9)) for _ in range(n // 2)]
    rows += [rows[0], (ids[-1], ids[-1], 3)]
    a, b, _ = rows[len(rows) // 2]
    rows.append((a, b, None))
    return rows


def _neighbours(edges) -> dict:
    adj: dict = {}
    for a, b, *w in edges:
        w = w[0] if w else None
        adj.setdefault(a, []).append((b, w))
        adj.setdefault(b, []).append((a, w))
    return adj


def _ref_cc(edges, nodes, max_iter: int) -> dict:
    """Min-label propagation: the join-free first round, then max_iter - 1
    full rounds; untouched nodes label themselves."""
    adj = _neighbours(e for e in edges if e[0] is not None and e[1] is not None)
    label = {v: min([v] + [u for u, _ in adj[v]]) for v in adj}
    for _ in range(max_iter - 1):
        label = {v: min([label[v]] + [label[u] for u, _ in adj[v]]) for v in adj}
    return {v: label.get(v, v) for v in nodes}


def _ref_sssp(edges, rounds: int) -> dict:
    """Round-bounded Bellman-Ford from min(src), every reached node relaxing
    every edge each round; a NULL weight gives a NULL path cost, which the
    minimum skips."""
    adj = _neighbours(edges)
    dist = {min(a for a, _, _ in edges): 0}
    for _ in range(rounds):
        offers = {v: [d] for v, d in dist.items()}
        for u, d in dist.items():
            for v, w in adj.get(u, []):
                offers.setdefault(v, []).append(None if d is None or w is None else d + w)
        dist = {v: min((x for x in xs if x is not None), default=None) for v, xs in offers.items()}
    return dist


def _ref_bfs(edges, source: int, max_hops: int) -> dict:
    adj = _neighbours(edges)
    hops, frontier = {source: 0}, [source]
    for h in range(1, max_hops + 1):
        frontier = [v for u in frontier for v, _ in adj.get(u, []) if v not in hops]
        hops.update((v, h) for v in frontier)
    return hops


def _ref_harmonic(edges, n_seeds: int, max_hops: int) -> dict:
    nodes = sorted({v for a, b, _ in edges for v in (a, b)})
    out: dict = {}
    for seed in nodes[:n_seeds]:
        for v, h in _ref_bfs(edges, seed, max_hops).items():
            if h > 0:
                n, micro = out.get(v, (0, 0))
                out[v] = (n + 1, micro + 1_000_000 // h)
    return out


@pytest.mark.parametrize("seed", [3, 11])
@pytest.mark.parametrize("id_type", ["long", "string"])
def test_connected_components_loop_matches_reference(spark, broadcast_off, seed, id_type):
    """Distributed CC (broadcast off) at every ``max_iter`` bound equals
    round-bounded min-label propagation, for integral and string ids (the
    one changed-flag rule replaced the integral label-sum check and the
    string ids' anti-join count)."""
    edges = [(a, b) for a, b, _ in _random_graph(seed)] + [(5, None)]
    nodes = list(range(30))
    key = str if id_type == "string" else int
    edges = [(key(a), None if b is None else key(b)) for a, b in edges]
    nodes = [key(v) for v in nodes]
    e = spark.createDataFrame(edges, f"src {id_type}, dst {id_type}")
    n = spark.createDataFrame([(v,) for v in nodes], f"id {id_type}")
    for max_iter in ROUNDS:
        got = {r.id: r.cluster_id for r in dedup.connected_components(e, n, max_iter).collect()}
        assert got == _ref_cc(edges, nodes, max_iter), max_iter


@pytest.mark.parametrize("seed", [3, 11])
def test_weighted_sssp_matches_bounded_bellman_ford(spark, seed):
    edges = _random_graph(seed)
    e = spark.createDataFrame(edges, "src long, dst long, w long")
    for rounds in ROUNDS:
        got = {r.node: r.dist for r in graph.weighted_sssp(e, rounds=rounds).collect()}
        assert got == _ref_sssp(edges, rounds), rounds


@pytest.mark.parametrize("seed", [3, 11])
def test_bfs_and_harmonic_match_reference(spark, seed):
    edges = _random_graph(seed)
    e = spark.createDataFrame([(a, b) for a, b, _ in edges], "src long, dst long")
    source = min(v for a, b, _ in edges for v in (a, b))
    for max_hops in ROUNDS:
        got = {r.node: r.hops for r in graph.bfs_hops(e, max_hops=max_hops).collect()}
        assert got == _ref_bfs(edges, source, max_hops), max_hops
        got = {
            r.node: (r.n_seeds_reaching, r.harmonic_micro)
            for r in graph.harmonic_closeness(e, n_seeds=3, max_hops=max_hops).collect()
        }
        assert got == _ref_harmonic(edges, 3, max_hops), max_hops


def test_weighted_sssp_stops_once_converged(spark):
    """A 3-node path converges in three relaxation rounds (the third changes
    nothing).  The changed flag stops the loop there, so ``rounds=30`` runs
    exactly the Spark jobs ``rounds=4`` runs, not a round's worth per
    bound, and returns the same rows."""
    e = spark.createDataFrame([(0, 1, 4), (1, 2, 5)], "src long, dst long, w long")
    sc = spark.sparkContext

    def run(rounds: int):
        group = f"sssp-early-halt-{rounds}"
        sc.setJobGroup(group, f"weighted_sssp(rounds={rounds}) on a 3-node path")
        try:
            rows = [(r.node, r.dist) for r in graph.weighted_sssp(e, rounds=rounds).collect()]
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return rows, len(sc.statusTracker().getJobIdsForGroup(group))

    rows4, jobs4 = run(4)
    rows30, jobs30 = run(30)
    assert rows4 == rows30 == [(0, 0), (1, 4), (2, 9)]
    assert 0 < jobs30 == jobs4, (jobs30, jobs4)
