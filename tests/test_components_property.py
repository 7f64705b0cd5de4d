"""Property test: both connected-components paths — driver-side numpy
union-find and large-star/small-star contraction — vs brute-force
union-find on seeded random graphs (chains, cliques, stars, random
sparse)."""
import random

import numpy as np
import pytest

from wdd.operators import components
from wdd.operators.components import connected_components, label_components


def _brute_cc(edges, vertices):
    parent = {v: v for v in vertices}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # label = min of component
    comp = {}
    for v in vertices:
        comp.setdefault(find(v), []).append(v)
    out = {}
    for root, members in comp.items():
        m = min(members)
        for v in members:
            out[v] = m
    return out


def _cc(spark, edges, vertices):
    e_df = spark.createDataFrame(edges or [(0, 0)], ["a", "b"])
    if not edges:
        e_df = e_df.limit(0)
    v_df = spark.createDataFrame([(v,) for v in vertices], ["id"])
    res = connected_components(e_df, v_df)
    assert res.converged, "did not converge"
    got = {r.id: r.cluster_id for r in res.labels.collect()}
    assert got == _brute_cc(edges, vertices)
    return res.iterations


def _check(spark, edges, vertices, monkeypatch):
    """Both paths against brute force; returns the star path's rounds."""
    assert len(set(edges)) <= components.DRIVER_CC_MAX_EDGES
    _cc(spark, edges, vertices)
    with monkeypatch.context() as m:
        m.setattr(components, "DRIVER_CC_MAX_EDGES", 0)
        return _cc(spark, edges, vertices)


def test_cc_chain(spark, monkeypatch):
    # worst case for plain label propagation: a long chain with shuffled ids
    rng = random.Random(11)
    ids = list(range(100))
    rng.shuffle(ids)
    edges = list(zip(ids, ids[1:]))
    iters = _check(spark, edges, ids, monkeypatch)
    assert iters <= 10  # O(log n) rounds, not O(n)


def test_cc_random_sparse(spark, monkeypatch):
    rng = random.Random(7)
    vertices = list(range(200))
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    _check(spark, edges, vertices, monkeypatch)


def test_cc_cliques_and_isolated(spark, monkeypatch):
    edges = [(i, j) for i in range(10) for j in range(i + 1, 10)]
    edges += [(100 + i, 100 + i + 1) for i in range(5)]
    vertices = list(range(10)) + list(range(100, 106)) + [999]
    _check(spark, edges, vertices, monkeypatch)


def test_cc_empty_graph(spark):
    assert _cc(spark, [], [3, 1, 2]) == 0


def test_label_components_random_cycle_rounds():
    """Root hooking + pointer jumping labels a 1e5-edge cycle over random
    ids in O(log n) rounds (plain min-label propagation needs ~n/2)."""
    rng = np.random.default_rng(5)
    n = 100_000
    ids = rng.choice(10**12, size=n, replace=False).astype(np.int64)
    got_ids, labels, rounds = label_components(ids, np.roll(ids, 1))
    assert np.array_equal(got_ids, np.sort(ids))
    assert (labels == ids.min()).all()
    assert rounds <= 20


def test_driver_path_leaves_no_persisted_rdds(spark):
    """The driver path drops the edge list's checkpoint blocks: the set of
    persisted RDDs is the same before and after the call."""
    sc = spark.sparkContext
    e_df = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], ["a", "b"])

    def persisted():
        return set(sc._jsc.getPersistentRDDs().keys())

    before = persisted()
    res = connected_components(e_df)
    assert persisted() == before
    assert sorted(map(tuple, res.labels.collect())) == \
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)]


def test_hash_min_parity(spark, monkeypatch):
    """The plain hash-min reference implementation labels identically to the
    star-contraction path (and to brute force) on a mixed graph."""
    from wdd.operators.components import hash_min_components
    monkeypatch.setattr(components, "DRIVER_CC_MAX_EDGES", 0)
    rng = random.Random(23)
    vertices = list(range(120))
    edges = [(rng.randrange(120), rng.randrange(120)) for _ in range(90)]
    edges = [(a, b) for a, b in edges if a != b]
    e_df = spark.createDataFrame(edges, ["a", "b"])
    v_df = spark.createDataFrame([(v,) for v in vertices], ["id"])
    star = connected_components(e_df, v_df)
    hmin = hash_min_components(e_df, v_df)
    assert star.converged and hmin.converged
    got_star = {r.id: r.cluster_id for r in star.labels.collect()}
    got_hmin = {r.id: r.cluster_id for r in hmin.labels.collect()}
    assert got_star == got_hmin == _brute_cc(edges, vertices)


def test_cc_two_stars_bridged(spark, monkeypatch):
    edges = [(0, i) for i in range(1, 20)] + [(50, 50 + i) for i in range(1, 20)]
    edges.append((19, 69))
    vertices = list(range(20)) + list(range(50, 70))
    got_iters = _check(spark, edges, vertices, monkeypatch)
    assert got_iters <= 8
