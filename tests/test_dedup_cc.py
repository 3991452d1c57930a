"""Connected-components dedup clustering (operators/dedup.py) vs a
driver-side union-find reference, on graph shapes that stress the
alternating large-star/small-star rounds: random graphs, long paths
(worst case for naive label propagation), stars, isolated nodes."""

import random

import pytest
from pyspark.sql import functions as F

from s2geo_spark.operators import spatial
from s2geo_spark.operators.dedup import connected_components


def _uf_components(n_nodes, edges):
    """Union-find reference: node -> min node id of its component."""
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in range(n_nodes)}


def _run(spark, n_nodes, edges, with_nodes=True):
    edf = spark.createDataFrame(
        [(int(u), int(v)) for u, v in edges] or [(0, 0)], "src long, dst long"
    )
    if not edges:
        edf = edf.where(F.lit(False))
    ndf = (
        spark.range(n_nodes).select(F.col("id").alias("doc_id"))
        if with_nodes
        else None
    )
    out = connected_components(edf, nodes=ndf)
    return {r["node"]: r["component"] for r in out.collect()}


class TestConnectedComponents:
    def test_two_triangles_and_bridge(self, spark):
        edges = [(0, 1), (1, 2), (2, 0), (10, 11), (11, 12), (12, 10)]
        got = _run(spark, 13, edges)
        ref = _uf_components(13, edges)
        assert got == ref
        assert got[12] == 10 and got[2] == 0 and got[5] == 5  # isolated

    def test_long_path_worst_case(self, spark):
        # a 300-node path needs log-many star rounds, not 300 label hops
        edges = [(i, i + 1) for i in range(299)]
        got = _run(spark, 300, edges)
        assert set(got.values()) == {0} and len(got) == 300

    def test_reversed_path_and_self_loops(self, spark):
        edges = [(i + 1, i) for i in range(49)] + [(7, 7), (20, 20)]
        got = _run(spark, 50, edges)
        assert set(got.values()) == {0}

    def test_star_high_degree(self, spark):
        edges = [(100, i) for i in range(100)]
        got = _run(spark, 101, edges)
        assert set(got.values()) == {0}

    @pytest.mark.parametrize("seed,n,m", [(1, 60, 40), (2, 80, 80), (3, 40, 200)])
    def test_random_graphs_match_union_find(self, spark, seed, n, m):
        rng = random.Random(seed)
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        got = _run(spark, n, edges)
        assert got == _uf_components(n, edges)

    @pytest.mark.parametrize("seed,n,m", [(11, 70, 60), (12, 50, 150)])
    def test_distributed_rounds_match_driver_finisher(self, spark, seed, n, m, monkeypatch):
        # both physical paths (size-gated driver union-find vs the
        # alternating-star rounds) must be label-identical
        rng = random.Random(seed)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        driver = _run(spark, n, edges)  # default gate: driver finisher
        monkeypatch.setattr(spatial, "SPATIAL_BCAST_LIMIT", 0)  # force rounds
        dist = _run(spark, n, edges)
        assert driver == dist == _uf_components(n, edges)

    def test_distributed_long_path(self, spark, monkeypatch):
        edges = [(i, i + 1) for i in range(199)]
        monkeypatch.setattr(spatial, "SPATIAL_BCAST_LIMIT", 0)  # force rounds
        got = _run(spark, 200, edges)
        assert set(got.values()) == {0} and len(got) == 200

    def test_no_nodes_df_only_edge_endpoints(self, spark):
        edges = [(5, 9), (9, 3)]
        got = _run(spark, 0, edges, with_nodes=False)
        assert got == {3: 3, 5: 3, 9: 3}

    def test_empty_edges_all_isolated(self, spark):
        got = _run(spark, 6, [])
        assert got == {i: i for i in range(6)}
