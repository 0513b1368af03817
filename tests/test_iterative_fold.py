"""Focused value tests for the iterative operators
(operators/dedup.connected_components[_alternating], operators/graph
.bfs_hops / .sssp_bounded). Every value test runs on both paths
(the `finish_paths` fixture in conftest.py): the driver finish that
small graphs take, and the distributed rounds that larger graphs run.

The distributed rounds carry the r11 rewrite:

  * symmetrization by explode-of-2-structs (was: self-union, which
    evaluated the upstream edge pipeline twice on first
    materialization);
  * lazy localCheckpoint with the per-round convergence count as the
    materializing action (one Spark job per round instead of two);
  * alternating CC carries the previous round's cardinality as a
    scalar instead of recounting.

These change HOW each round executes, not what it computes -- pinned
here on hand-built graphs chosen for the rewrite's edge cases: chains
longer than the typical near-dup diameter (many rounds, so the
carried-count/lazy-fold path repeats), isolated self-loop nodes (kept
by the node set, absent from the canonical edge set), multi-component
graphs, and ties. The driver finish adds its own: empty edge sets,
null endpoints (the driver path must reproduce the distributed
output), seeds absent from the edges, and a weighted chain whose
hop-bounded distance is not the unbounded shortest path. The
operator-vs-oracle equality at query level is covered by
tests/test_queries_oracle.py; these are the fast operator-internal
pins.
"""

from __future__ import annotations

from etl_building_inspector_spark.operators import _cache
from etl_building_inspector_spark.operators._cache import release_persisted
from etl_building_inspector_spark.operators.dedup import (
    connected_components,
    connected_components_alternating,
)
from etl_building_inspector_spark.operators.graph import bfs_hops, sssp_bounded


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "id_a long, id_b long"
    )


def _cc_expected(pairs):
    """Reference union-find with min-label components."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)
    return {n: find(n) for n in parent}


CHAIN = [(i, i + 1) for i in range(10, 17)]  # diameter 7 > near-dup 2-3
GRAPH = CHAIN + [(1, 2), (2, 3), (1, 3), (50, 50), (40, 41), (41, 40)]


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_connected_components_chain_and_selfloop(spark, finish_paths):
    for path in finish_paths():
        got = {
            r["node"]: r["component"]
            for r in connected_components(_edges(spark, GRAPH)).collect()
        }
        assert got == _cc_expected(GRAPH), path


def test_connected_components_alternating_matches(spark, finish_paths):
    for path in finish_paths():
        got = {
            r["node"]: r["component"]
            for r in connected_components_alternating(
                _edges(spark, GRAPH)
            ).collect()
        }
        assert got == _cc_expected(GRAPH), path


def test_alternating_collapses_tail_after_distributed_round(spark, monkeypatch):
    """Bound one below the canonical edge count: round 1 runs
    distributed and turns the clique into a star (28 -> 7 edges), so
    the carried count drops under the bound and the rest finishes on
    the driver in one collect. (A chain alone never shrinks: a tree
    keeps n - 1 edges.)"""
    from etl_building_inspector_spark.operators import dedup

    clique = [(300 + a, 300 + b) for a in range(8) for b in range(a + 1, 8)]
    graph = [(i, i + 1) for i in range(100, 131)] + clique  # 59 edges
    collected = []
    stars_local = dedup._stars_local

    def spy(spark_, cur):
        collected.append(cur.num_rows)
        return stars_local(spark_, cur)

    monkeypatch.setattr(dedup, "_stars_local", spy)
    monkeypatch.setattr(_cache, "LOCAL_FINISH_ROWS", len(graph) - 1)
    got = {
        r["node"]: r["component"]
        for r in connected_components_alternating(_edges(spark, graph)).collect()
    }
    assert got == _cc_expected(graph)
    assert len(collected) == 1 and collected[0] < len(graph)
    release_persisted()


def test_bfs_hops_chain(spark, finish_paths):
    seeds = spark.createDataFrame([(10,)], "node long")
    for path in finish_paths():
        got = {
            r["node"]: r["hops"]
            for r in bfs_hops(_edges(spark, CHAIN), seeds, max_hops=3).collect()
        }
        # undirected chain from 10: exactly hops 0..3 survive the bound
        assert got == {10: 0, 11: 1, 12: 2, 13: 3}, path


def test_sssp_bounded_two_hop_beats_one(spark, finish_paths):
    # direct edge 1->3 costs 10; path 1->2->3 costs 3; both within bound
    e = spark.createDataFrame(
        [(1, 3, 10), (1, 2, 1), (2, 3, 2)], "id_a long, id_b long, w long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    for path in finish_paths():
        got = {
            r["node"]: r["dist"]
            for r in sssp_bounded(e, seeds, max_hops=3).collect()
        }
        assert got == {1: 0, 2: 1, 3: 3}, path


def test_sssp_converges_before_bound(spark, finish_paths):
    """Early-convergence branch: the improved-count hits zero before
    max_hops and returns the settled distances (the lazy-checkpoint
    fold must still have fully materialized the final state)."""
    e = spark.createDataFrame([(1, 2, 5)], "id_a long, id_b long, w long")
    seeds = spark.createDataFrame([(1,)], "node long")
    for path in finish_paths():
        got = {
            r["node"]: r["dist"]
            for r in sssp_bounded(e, seeds, max_hops=5).collect()
        }
        assert got == {1: 0, 2: 5}, path


def test_sssp_hop_bound_is_not_the_shortest_path(spark, finish_paths):
    """Weighted chain 0-1-2-3 (weight 1 each) beside a direct 0-3 edge
    of weight 100. Within 2 hops node 3 is only reachable directly, so
    its bounded distance is 100; the unbounded shortest path (3, what a
    Dijkstra finish returns) needs 3 hops."""
    e = spark.createDataFrame(
        [(0, 1, 1), (1, 2, 1), (2, 3, 1), (0, 3, 100)],
        "id_a long, id_b long, w long",
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    for path in finish_paths():
        got = {
            r["node"]: r["dist"]
            for r in sssp_bounded(e, seeds, max_hops=2).collect()
        }
        assert got == {0: 0, 1: 1, 2: 2, 3: 100}, path
        got = {
            r["node"]: r["dist"]
            for r in sssp_bounded(e, seeds, max_hops=3).collect()
        }
        assert got == {0: 0, 1: 1, 2: 2, 3: 3}, path


def test_empty_edge_set(spark, finish_paths):
    e = _edges(spark, [])
    we = spark.createDataFrame([], "id_a long, id_b long, w long")
    seeds = spark.createDataFrame([(7,)], "node long")
    for path in finish_paths():
        assert connected_components(e).collect() == [], path
        assert connected_components_alternating(e).collect() == [], path
        assert _rows(bfs_hops(e, seeds)) == [(7, 0)], path
        assert _rows(sssp_bounded(we, seeds)) == [(7, 0)], path


def test_seed_absent_and_selfloop_only_node(spark, finish_paths):
    """Seed 99 is in no edge; node 5's only edge is a self-loop. Both
    keep their own label / distance 0 when seeded, and the self-loop
    node is its own component."""
    pairs = [(1, 2), (2, 3), (5, 5)]
    e = _edges(spark, pairs)
    we = spark.createDataFrame(
        [(a, b, 4) for a, b in pairs], "id_a long, id_b long, w long"
    )
    seeds = spark.createDataFrame([(1,), (5,), (99,)], "node long")
    for path in finish_paths():
        assert _rows(connected_components(e)) == [
            (1, 1), (2, 1), (3, 1), (5, 5)
        ], path
        assert _rows(connected_components_alternating(e)) == [
            (1, 1), (2, 1), (3, 1), (5, 5)
        ], path
        assert _rows(bfs_hops(e, seeds, max_hops=3)) == [
            (1, 0), (2, 1), (3, 2), (5, 0), (99, 0)
        ], path
        assert _rows(sssp_bounded(we, seeds, max_hops=3)) == [
            (1, 0), (2, 4), (3, 8), (5, 0), (99, 0)
        ], path


def test_null_endpoints_match_distributed_output(spark, finish_paths):
    """Null endpoints and a null seed, pinned to what the distributed
    rounds return (the driver finish must not change it): a null
    node's edges join nothing; CC lists the null node once as
    (null, null); BFS/SSSP keep a null seed as (null, 0) and add one
    null-node row per round whose frontier has an edge to null; an
    edge with a null weight reaches its node at 2**62 ("no distance
    yet") without improving it."""
    e = spark.createDataFrame(
        [(1, 2), (2, None), (None, 3), (3, 4)], "id_a long, id_b long"
    )
    we = spark.createDataFrame(
        [(1, 2, 1), (2, None, 5), (1, None, 2), (2, 3, None), (1, 4, 9)],
        "id_a long, id_b long, w long",
    )
    seeds = spark.createDataFrame([(1,), (None,)], "node long")
    got = {}
    for path in finish_paths():
        got[path] = (
            _rows(connected_components(e)),
            _rows(connected_components_alternating(e)),
            _rows(bfs_hops(e, seeds, max_hops=3)),
            _rows(sssp_bounded(we, seeds, max_hops=3)),
        )
    assert got["driver"] == got["distributed"]
    cc, alt, bfs, sssp = got["driver"]
    assert cc == alt == [(1, 1), (2, 1), (3, 3), (4, 3), (None, None)]
    assert bfs == [(1, 0), (2, 1), (None, 0), (None, 2)]
    assert sssp == [
        (1, 0), (2, 1), (3, 2**62), (4, 9), (None, 0), (None, 2), (None, 6)
    ]


def test_random_multigraph_paths_agree(spark, finish_paths):
    """A seeded random multigraph (parallel edges with different
    weights, self-loops, several components): every operator returns
    the same rows on both paths, and CC matches union-find."""
    import random

    rng = random.Random(13)
    rows = [
        (rng.randrange(40), rng.randrange(40), rng.randrange(1, 9))
        for _ in range(70)
    ]
    e = _edges(spark, [(a, b) for a, b, _ in rows])
    we = spark.createDataFrame(rows, "id_a long, id_b long, w long")
    seeds = spark.createDataFrame([(0,), (17,), (33,)], "node long")
    got = {}
    for path in finish_paths():
        got[path] = (
            _rows(connected_components(e)),
            _rows(connected_components_alternating(e)),
            _rows(bfs_hops(e, seeds, max_hops=2)),
            _rows(sssp_bounded(we, seeds, max_hops=3)),
        )
    assert got["driver"] == got["distributed"]
    cc = dict(got["driver"][0])
    assert cc == _cc_expected([(a, b) for a, b, _ in rows])


def test_sssp_frees_superseded_rounds(spark, finish_paths):
    """Each round's checkpoint is freed once the next one is
    materialized, so the persistent RDDs an sssp_bounded call leaves
    behind do not grow with the number of rounds. The driver finish
    checkpoints nothing: only the symmetrized edge set stays held."""
    jsc = spark.sparkContext._jsc.sc()
    e = spark.createDataFrame(
        [(a, b, 1) for a, b in CHAIN], "id_a long, id_b long, w long"
    )
    seeds = spark.createDataFrame([(10,)], "node long")

    def held_after(max_hops):
        release_persisted()
        base = jsc.getPersistentRDDs().size()
        got = sssp_bounded(e, seeds, max_hops=max_hops).collect()
        held = jsc.getPersistentRDDs().size() - base
        release_persisted()
        assert jsc.getPersistentRDDs().size() == base
        return len(got), held

    for path in finish_paths():
        if path == "driver":
            assert held_after(2) == (3, 1)
            assert held_after(6) == (7, 1)
        else:
            # the chain keeps improving every round up to its length,
            # so both calls run exactly max_hops rounds
            assert held_after(2) == (3, 2)
            assert held_after(6) == (7, 2)


def test_many_seeds_over_small_graph_stay_distributed(spark, monkeypatch):
    """The driver finish collects the seed rows too, so it is gated on
    them as well: more seed rows than the bound run the distributed
    loop (which leaves its final checkpoint held next to the edge set)
    even when the edge set is within it."""
    jsc = spark.sparkContext._jsc.sc()
    e = _edges(spark, [(1, 2)])  # 2 symmetrized edges
    seeds = spark.createDataFrame([(1,), (7,), (8,)], "node long")
    for bound, held in ((3, 1), (2, 2)):
        monkeypatch.setattr(_cache, "LOCAL_FINISH_ROWS", bound)
        release_persisted()
        base = jsc.getPersistentRDDs().size()
        assert _rows(bfs_hops(e, seeds, max_hops=2)) == [
            (1, 0), (2, 1), (7, 0), (8, 0)
        ], bound
        assert jsc.getPersistentRDDs().size() - base == held, bound
        release_persisted()
