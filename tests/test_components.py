"""connected_components (large-star/small-star) vs a union-find model
on randomized graphs, plus shape checks on the registered query."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from meta_iterative_mapreduce_spark.cache import owned
from meta_iterative_mapreduce_spark.operators.components import (
    connected_components,
    q_dedup_components,
)


def _union_find_components(n_nodes: int, edges: list[tuple[int, int]]) -> dict:
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_connected_components_matches_union_find(spark):
    """Random sparse graphs of several shapes (chains force multi-round
    convergence; dense pockets force the star collapse)."""
    rng = random.Random(7)
    for trial in range(4):
        n = rng.choice([30, 80, 150])
        edges = []
        # random edges
        for _ in range(int(n * rng.uniform(0.3, 1.2))):
            edges.append((rng.randrange(n), rng.randrange(n)))
        # one long chain — worst case for naive propagation
        chain = rng.sample(range(n), min(20, n))
        edges += list(zip(chain, chain[1:]))
        expected = _union_find_components(n, edges)

        df = spark.createDataFrame(edges, "u long, v long")
        got = {
            r.node: r.component_id
            for r in connected_components(df).collect()
        }
        # model covers every node incident to an edge incl. self-loops;
        # spark result covers nodes incident to a non-self-loop edge
        for node, comp in got.items():
            assert expected[node] == comp, (trial, node)
        missing = {
            x for x, c in expected.items() if x != c or any(
                (a == x or b == x) and a != b for a, b in edges
            )
        } - set(got)
        assert not missing, (trial, missing)


def test_dedup_components_partition_properties(spark, sf_dir):
    out = q_dedup_components(spark, sf_dir)
    rows = out.collect()
    n_docs = len(rows)
    assert n_docs > 0
    assert len({r.doc_id for r in rows}) == n_docs  # one label per doc
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r.component_id, []).append(r)
    for comp_id, members in by_comp.items():
        assert comp_id == min(m.doc_id for m in members)  # min-id root
        keeps = [m for m in members if m.keep]
        assert len(keeps) == 1 and keeps[0].doc_id == comp_id
    # the fixture graph must contain at least one multi-doc component
    assert any(len(m) > 1 for m in by_comp.values())
    # idempotence of the keep-set: rerunning on kept docs only yields
    # all-singleton components is NOT asserted here (costly); covered
    # by the union-find property above.
    assert out.schema["keep"].dataType.typeName() == "boolean"


def test_pagerank_matches_power_iteration(spark):
    """3-round PageRank on random symmetric graphs vs a plain numpy
    power iteration with the identical update (teleport + damped
    in-neighbor sum over out-degree)."""
    import numpy as np

    rng = random.Random(11)
    for trial in range(3):
        n = rng.choice([12, 25, 40])
        und = set()
        for _ in range(n * 2):
            a, b = rng.randrange(n), rng.randrange(n)
            if a != b:
                und.add((min(a, b), max(a, b)))
        # keep every node incident to an edge (pagerank's node set)
        sym = [(a, b) for a, b in und] + [(b, a) for a, b in und]
        nodes = sorted({u for u, _ in sym})
        idx = {u: i for i, u in enumerate(nodes)}
        m = len(nodes)
        adj = np.zeros((m, m))
        for u, v in sym:
            adj[idx[v], idx[u]] = 1.0  # contribution u -> v
        deg = adj.sum(axis=0)
        pr = np.full(m, 1.0 / m)
        for _ in range(3):
            pr = 0.15 / m + 0.85 * (adj @ (pr / deg))

        from meta_iterative_mapreduce_spark.operators.components import pagerank

        df = spark.createDataFrame(sym, "u long, v long")
        with owned():
            ranks, got_n = pagerank(df, n_iter=3)
            got = {r.u: r.pr for r in ranks.collect()}
        assert got_n == m
        assert set(got) == set(nodes), trial
        for u in nodes:
            assert abs(got[u] - pr[idx[u]]) < 1e-9, (trial, u)


def test_link_predict_equals_brute_force(spark):
    """link_predict_pairs == a pure-Python brute force on a synthetic
    graph with a hub: two 4-cliques sharing no edge but bridged by
    common neighbors, plus a degree-9 hub that must be excluded as a
    wedge center by cap=8 (its wedges contribute no pairs) while still
    counting toward Jaccard denominators."""
    from meta_iterative_mapreduce_spark.operators.components import (
        link_predict_pairs,
    )

    und = set()
    for base in (0, 10):  # two 4-cliques
        for i in range(4):
            for j in range(i + 1, 4):
                und.add((base + i, base + j))
    # bridges: nodes 20, 21 adjacent to members of both cliques
    for b in (20, 21):
        und |= {(0, b), (1, b), (10, b), (11, b)}
    # hub 30: adjacent to 9 nodes -> degree 9 > cap 8, excluded center
    und |= {(n, 30) for n in (0, 1, 2, 3, 10, 11, 12, 13, 20)}
    cap = 8
    adj: dict[int, set[int]] = {}
    for u, v in und:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    nodes = sorted(adj)
    expect = {}
    for i, x in enumerate(nodes):
        for y in nodes[i + 1 :]:
            if y in adj[x]:
                continue
            common = {
                w for w in adj[x] & adj[y] if len(adj[w]) <= cap
            }
            if len(common) >= 2:
                c = len(common)
                expect[(x, y)] = (
                    c,
                    c * 10000 // (len(adj[x]) + len(adj[y]) - c),
                )
    sym = [(u, v) for u, v in und] + [(v, u) for u, v in und]
    edges = spark.createDataFrame(sym, "u long, v long")
    got = {
        (r.u, r.v): (r.n_common, r.jaccard_bp)
        for r in link_predict_pairs(edges, center_cap=cap).collect()
    }
    assert got == expect and len(expect) >= 3


def test_link_predict_leaves_nothing_cached(spark, sf_dir):
    """q_graph_link_predict persists its edge and neighbor tables for
    the plan, and must release both before returning: after the query
    (and a read of its checkpointed result) the session's cache is
    empty."""
    from meta_iterative_mapreduce_spark import registry

    spark.catalog.clearCache()
    out = registry.queries()["q_graph_link_predict"](spark, sf_dir)
    assert out.count() >= 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_cc_unposted_signature_falls_back_to_exact_test(spark, monkeypatch):
    """A round whose observed signature is not posted within the
    deadline is settled by the exact two-way set test instead of
    raising: with every signature withheld the labels equal the
    signature path's and the union-find model's."""
    import threading

    from pyspark.sql import Observation

    from meta_iterative_mapreduce_spark.operators import components as C

    rng = random.Random(11)
    n = 80
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(60)]
    chain = rng.sample(range(n), 20)
    edges += list(zip(chain, chain[1:]))
    df = spark.createDataFrame(edges, "u long, v long")
    want = {r.node: r.component_id for r in connected_components(df).collect()}
    model = _union_find_components(n, edges)
    assert want == {node: model[node] for node in want}

    release, rounds = threading.Event(), []
    monkeypatch.setattr(C, "_SIGNATURE_WAIT_S", 0.0)
    monkeypatch.setattr(
        Observation, "get", property(lambda self: release.wait() and {})
    )
    try:
        got = {
            r.node: r.component_id
            for r in connected_components(
                df, on_round=lambda i, n_edges, s: rounds.append(n_edges)
            ).collect()
        }
    finally:
        release.set()
    assert got == want
    assert len(rounds) >= 2 and all(n_edges is None for n_edges in rounds)


def test_cc_releases_superseded_round_state(spark):
    """Each superseded round's checkpoint is freed: on a shuffled chain
    that needs at least 3 rounds, the session gains at most one
    persistent RDD — the final edge set the labels read."""
    rng = random.Random(5)
    ids = rng.sample(range(1000), 120)
    df = spark.createDataFrame(list(zip(ids, ids[1:])), "u long, v long")
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    rounds = []
    labels = connected_components(
        df, on_round=lambda i, n_edges, s: rounds.append(i)
    ).collect()
    assert len(rounds) >= 3
    assert {r.component_id for r in labels} == {min(ids)}
    assert jsc.getPersistentRDDs().size() - before <= 1
