"""Degenerate / adversarial inputs a production pipeline WILL hit at 100 TB:
empty edge tables (a filter that matched nothing), isolated self-loop
vertices, two-vertex graphs, high-diameter paths, dangling-mass-only
PageRank graphs, triangle-free graphs, unreachable traversal sources.

The reference tolerates these shapes implicitly (its CSR loader produces
0-degree rows and the kernels no-op over them, inc/leiden.hxx:646-668);
here each entry point must return a well-formed, semantically right
DataFrame rather than crash inside a plan.
"""

import pytest
from pyspark.sql import functions as F

from leiden_communities_openmp_spark.operators import materialize
from leiden_communities_openmp_spark.operators.companions import (
    connected_components_with_stats,
    label_propagation,
    pagerank,
    triangle_count,
    triangle_count_per_vertex,
)
from leiden_communities_openmp_spark.operators.kernel import LeidenOptions
from leiden_communities_openmp_spark.operators.leiden import leiden_scale
from leiden_communities_openmp_spark.operators.transforms import bfs_levels, dfs_preorder

EDGE_SCHEMA = "src long, dst long, w double"


def _edges(spark, rows):
    return spark.createDataFrame(rows, EDGE_SCHEMA)


# ---------------------------------------------------------------------------
# empty edge table
# ---------------------------------------------------------------------------

def test_leiden_empty_graph(spark):
    res = leiden_scale(spark, _edges(spark, []))
    assert res.membership.count() == 0
    assert res.membership.columns == ["id", "community"]
    assert res.modularity == 0.0


def test_pagerank_empty_graph(spark):
    out = pagerank(_edges(spark, []), iterations=2)
    assert out.count() == 0
    assert out.columns == ["id", "rank"]


def test_connected_components_empty_graph(spark):
    labels, rounds = connected_components_with_stats(_edges(spark, []))
    assert labels.count() == 0


def test_triangle_count_empty_graph(spark):
    assert triangle_count(_edges(spark, [])).collect()[0][0] == 0


# ---------------------------------------------------------------------------
# single vertex / two vertices
# ---------------------------------------------------------------------------

def test_leiden_single_self_loop(spark):
    # one vertex, one self-loop: a single community holding the vertex;
    # modularity of the all-in-one partition with only a self-loop is 0
    # under the reference's convention (sigma == 2M).
    res = leiden_scale(spark, _edges(spark, [(7, 7, 2.0)]))
    rows = res.membership.collect()
    assert len(rows) == 1 and rows[0]["id"] == 7
    assert res.modularity == pytest.approx(0.0, abs=1e-9)


def test_leiden_two_vertices_one_edge(spark):
    # symmetric single edge: both endpoints end in ONE community and
    # modularity 0 (all edges internal, (sigma/2M)^2 sums to 1).
    e = _edges(spark, [(1, 2, 1.0), (2, 1, 1.0)])
    res = leiden_scale(spark, e)
    comms = {r["community"] for r in res.membership.collect()}
    assert len(comms) == 1
    assert res.modularity == pytest.approx(0.0, abs=1e-9)


def test_dfs_source_without_outedges(spark):
    out = dfs_preorder(_edges(spark, [(1, 2, 1.0)]), source=5).collect()
    assert [(r["id"], r["pos"]) for r in out] == [(5, 0)]


def test_bfs_unreachable_stays_absent(spark):
    # 1→2 and an island 3→4: BFS from 1 must never emit 3 or 4
    e = _edges(spark, [(1, 2, 1.0), (3, 4, 1.0)])
    seen = {r["id"] for r in bfs_levels(e, source=1).collect()}
    assert seen == {1, 2}


# ---------------------------------------------------------------------------
# structure stress: high diameter, dangling mass, triangle-free
# ---------------------------------------------------------------------------

def test_connected_components_path_graph_logarithmic(spark, monkeypatch):
    # 256-vertex path: one component; large-star/small-star (the DataFrame
    # route) must converge in O(log n) rounds, not O(diameter) — the
    # web-graph-diameter guard.
    monkeypatch.setattr(materialize, "DRIVER_ROWS", 0)
    n = 256
    rows = [(i, i + 1, 1.0) for i in range(n - 1)] + \
           [(i + 1, i, 1.0) for i in range(n - 1)]
    labels, rounds = connected_components_with_stats(_edges(spark, rows))
    got = labels.collect()
    assert {r["component"] for r in got} == {0}
    assert len(got) == n
    assert rounds <= 20  # log2(256)=8 star rounds + convergence probes


def test_pagerank_mass_conserved_with_dangling(spark):
    # 1→2, 2→3, 3 dangling: total rank must stay 1 (dangling mass is
    # redistributed every iteration, on both routes).
    e = _edges(spark, [(1, 2, 1.0), (2, 3, 1.0)])
    total = pagerank(e, iterations=4).agg(F.sum("rank")).collect()[0][0]
    assert total == pytest.approx(1.0, abs=1e-9)
    # and the chain end must outrank the start
    ranks = {r["id"]: r["rank"] for r in pagerank(e, iterations=4).collect()}
    assert ranks[3] > ranks[1]


def test_triangle_free_bipartite(spark):
    # complete bipartite K_{3,3} (symmetric): plenty of edges, zero triangles
    rows = []
    for u in range(3):
        for v in range(3, 6):
            rows += [(u, v, 1.0), (v, u, 1.0)]
    e = _edges(spark, rows)
    assert triangle_count(e).collect()[0][0] == 0
    per_v = triangle_count_per_vertex(e)
    assert per_v.agg(F.coalesce(F.sum("triangles"), F.lit(0))).collect()[0][0] == 0


def test_label_propagation_two_cliques(spark):
    # two 4-cliques joined by one bridge edge: LPA must not merge them
    rows = []
    for base in (0, 10):
        for u in range(base, base + 4):
            for v in range(base, base + 4):
                if u != v:
                    rows.append((u, v, 1.0))
    rows += [(3, 10, 1.0), (10, 3, 1.0)]
    out = label_propagation(_edges(spark, rows), rounds=4).collect()
    lab = {r["id"]: r["label"] for r in out}
    assert len({lab[i] for i in range(4)}) == 1
    assert len({lab[i] for i in range(10, 14)}) == 1
    assert lab[0] != lab[10]


@pytest.mark.parametrize("test", [
    test_pagerank_empty_graph, test_connected_components_empty_graph,
    test_triangle_count_empty_graph, test_pagerank_mass_conserved_with_dangling,
    test_triangle_free_bipartite, test_label_propagation_two_cliques,
], ids=lambda t: t.__name__)
def test_dataframe_route(spark, monkeypatch, test):
    """The companion tests above run as written on the driver route (their
    tables are small); here each runs again on the DataFrame route."""
    monkeypatch.setattr(materialize, "DRIVER_ROWS", 0)
    test(spark)


def test_leiden_rounds_strategy_empty_and_tiny(spark):
    # the pure-DataFrame strategy must share the degenerate contract
    res = leiden_scale(spark, _edges(spark, []), strategy="rounds")
    assert res.membership.count() == 0
    res2 = leiden_scale(spark, _edges(spark, [(1, 2, 1.0), (2, 1, 1.0)]),
                        strategy="rounds", driver_threshold=0,
                        driver_vertex_threshold=0)
    assert len({r["community"] for r in res2.membership.collect()}) == 1
