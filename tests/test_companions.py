"""Companion operators vs pure-Python oracles on deterministic graphs
(the DuckDB oracle gate re-checks these at sf0.01; here we verify against
independent Python implementations and known structure)."""

import math

import pytest
from pyspark.sql import functions as F

from leiden_communities_openmp_spark.operators import materialize
from leiden_communities_openmp_spark.operators.companions import (
    connected_components, connected_components_with_stats, label_propagation, pagerank,
    triangle_count, triangle_count_per_vertex,
)
from leiden_communities_openmp_spark.operators.graphgen import STEPS, block_circulant

from .conftest import spark_jobs

N, B = 256, 32


def _edges_py(n=N, b=B):
    es = set()
    for i in range(n):
        j = i % b
        for a, c in STEPS:
            d = (i - j) + (j * a + c) % b
            if d != i:
                es.add((i, d))
    return sorted(es)


def test_connected_components_blocks(spark):
    cc = {r["id"]: r["component"] for r in
          connected_components(block_circulant(spark, N, B)).collect()}
    assert cc == {i: (i // B) * B for i in range(N)}


def test_pagerank_matches_python(spark):
    edges = _edges_py()
    out = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    n = N
    ranks = {i: 1.0 / n for i in range(n)}
    for _ in range(5):
        nxt = {i: 0.15 / n for i in range(n)}
        for s, ds in out.items():
            share = 0.85 * ranks[s] / len(ds)
            for d in ds:
                nxt[d] += share
        ranks = nxt
    got = {r["id"]: r["rank"] for r in pagerank(block_circulant(spark, N, B), 5).collect()}
    assert all(math.isclose(got[i], ranks[i], abs_tol=1e-9) for i in range(n))
    assert math.isclose(sum(got.values()), 1.0, abs_tol=1e-9)


def test_connected_components_path_log_rounds(spark, monkeypatch):
    """High-diameter fixture: a 256-vertex path (diameter 255). The
    large-star/small-star alternation (the DataFrame route) must finish in
    O(log n) rounds — naive min-label exchange would need 255."""
    monkeypatch.setattr(materialize, "DRIVER_ROWS", 0)
    n = 256
    path = spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst"), F.lit(1.0).alias("w"))
    labels, rounds = connected_components_with_stats(path)
    got = {r["id"]: r["component"] for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}
    assert rounds <= 2 * math.ceil(math.log2(n)) + 2, rounds


def test_connected_components_driver_log_rounds(spark):
    """The driver route's hooking loop is O(log n) rounds on a 256-vertex
    path whose ids are scrambled (i -> 97i mod 256), so hooking to the
    smaller neighbour does not collapse it in one round."""
    n = 256
    pos = (F.col("id") * 97) % n
    path = spark.range(n - 1).select(
        pos.alias("src"), ((F.col("id") + 1) * 97 % n).alias("dst"), F.lit(1.0).alias("w"))
    labels, rounds = connected_components_with_stats(path)
    assert {r["component"] for r in labels.collect()} == {0}
    assert 1 < rounds <= math.ceil(math.log2(n)) + 1, rounds


def test_pagerank_no_driver_collect_in_loop(spark, monkeypatch):
    """The dangling-mass term is folded into the iteration DAG as a one-row
    broadcast relation — the DataFrame route must never round-trip through a
    driver .collect() (the old implementation collected the dangling sum
    every iteration: one extra full-|V| job per iteration)."""
    from pyspark.sql import DataFrame

    monkeypatch.setattr(materialize, "DRIVER_ROWS", 0)
    calls = {"n": 0}
    orig = DataFrame.collect

    def counting_collect(self):
        calls["n"] += 1
        return orig(self)

    g = block_circulant(spark, N, B).localCheckpoint(eager=True)
    monkeypatch.setattr(DataFrame, "collect", counting_collect)
    try:
        ranks = pagerank(g, iterations=5)
        assert calls["n"] == 0, f"pagerank collected {calls['n']}× on the driver"
    finally:
        monkeypatch.undo()
    assert ranks.count() == N


def test_triangles_match_python(spark):
    edges = _edges_py()
    und = set()
    for s, d in edges:
        und.add((min(s, d), max(s, d)))
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = 0
    for a, b in und:
        tri += len(adj[a] & adj[b] & {x for x in adj[a] if x > b})
    got = triangle_count(block_circulant(spark, N, B)).collect()[0]["triangles"]
    assert got == tri


def test_lpa_deterministic(spark):
    g = block_circulant(spark, N, B)
    a = {r["id"]: r["label"] for r in label_propagation(g, 3).collect()}
    b_ = {r["id"]: r["label"] for r in label_propagation(g, 3).collect()}
    assert a == b_
    # labels never cross block boundaries (blocks are components)
    assert all((lbl // B) == (i // B) for i, lbl in a.items())


@pytest.mark.parametrize("test", [
    test_connected_components_blocks, test_pagerank_matches_python,
    test_triangles_match_python, test_lpa_deterministic,
], ids=lambda t: t.__name__)
def test_dataframe_route(spark, monkeypatch, test):
    """The companion tests above run as written on the driver route (their
    tables are small); here each runs again on the DataFrame route."""
    monkeypatch.setattr(materialize, "DRIVER_ROWS", 0)
    test(spark)


# ---------------------------------------------------------------------------
# driver route vs DataFrame route
# ---------------------------------------------------------------------------

def _pages(spark, seed):
    from leiden_communities_openmp_spark.sources.fixtures import pages_spark_df
    from leiden_communities_openmp_spark.sources.pages import ingest

    return ingest(pages_spark_df(spark, 2000, seed))[0]


def _hub(spark):
    """test_plans.py's hub fixture: a 10^4-spoke star plus one triangle."""
    spokes = spark.range(1, 10_001).select(F.lit(0).alias("src"), F.col("id").alias("dst"))
    tri = spark.createDataFrame(
        [(20001, 20002), (20002, 20003), (20001, 20003)], "src int, dst int")
    return spokes.unionByName(tri).withColumn("w", F.lit(1.0))


def _path(spark):
    return spark.range(N - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst"), F.lit(1.0).alias("w"))


def _directed(spark):
    """Duplicate rows, self-loops (one on a vertex with no other edge) and
    the dangling vertex 4."""
    rows = [(1, 2), (1, 2), (2, 3), (3, 1), (1, 3), (2, 2), (2, 4), (3, 4), (9, 9), (5, 1)]
    return spark.createDataFrame([(a, b, 1.0) for a, b in rows], "src long, dst long, w double")


ROUTE_INPUTS = {
    "pages101": lambda s: _pages(s, 101),
    "pages102": lambda s: _pages(s, 102),
    "pages103": lambda s: _pages(s, 103),
    "block_circulant": lambda s: block_circulant(s, 512, 32),
    "hub": _hub,
    "path": _path,
    "directed": _directed,
    "directed_int": lambda s: _directed(s).select(
        F.col("src").cast("int"), F.col("dst").cast("int"), "w"),
    "empty": lambda s: s.createDataFrame([], "src long, dst long, w double"),
}

COMPANIONS = {
    "pagerank": lambda e: pagerank(e, 5),
    "cc": lambda e: connected_components_with_stats(e)[0],
    "lpa": lambda e: label_propagation(e, 3),
    "triangles": triangle_count,
    "triangles_per_vertex": triangle_count_per_vertex,
}


@pytest.mark.parametrize("name", list(ROUTE_INPUTS))
def test_routes_agree(spark, monkeypatch, name):
    """Both routes give the same rows and schema, on long and on int ids
    (PageRank: the same ids, ranks within 1e-12), and on the driver route
    each call runs exactly one Spark job: the bounded collect."""
    edges = ROUTE_INPUTS[name](spark).localCheckpoint(eager=True)
    got = {}
    for route, bound in (("driver", materialize.DRIVER_ROWS), ("dataframe", 0)):
        monkeypatch.setattr(materialize, "DRIVER_ROWS", bound)
        for op, fn in COMPANIONS.items():
            out, jobs = spark_jobs(spark, f"route-{name}-{route}-{op}", lambda: fn(edges))
            if route == "driver":
                assert jobs == 1, (op, jobs)
            got[route, op] = (out.schema.simpleString(), sorted(map(tuple, out.collect())))
    for op in COMPANIONS:
        (sd, rd), (sf, rf) = got["driver", op], got["dataframe", op]
        assert sd == sf, op
        if op == "pagerank":
            assert [r[0] for r in rd] == [r[0] for r in rf]
            assert max((abs(a[1] - b[1]) for a, b in zip(rd, rf)), default=0.0) <= 1e-12
        else:
            assert rd == rf, op


def test_route_bound_is_inclusive(spark, monkeypatch):
    """A table of exactly ``materialize.DRIVER_ROWS`` rows takes the driver route
    (the bounded collect is the call's only job); one row more takes the
    DataFrame route."""
    monkeypatch.setattr(materialize, "DRIVER_ROWS", 10)
    for rows, driver in ((10, True), (11, False)):
        edges = spark.range(rows).select(
            F.col("id").alias("src"), ((F.col("id") + 1) % rows).alias("dst"),
            F.lit(1.0).alias("w")).localCheckpoint(eager=True)
        _, jobs = spark_jobs(spark, f"route-bound-{rows}", lambda: pagerank(edges, 2))
        assert (jobs == 1) == driver, (rows, jobs)


def test_triangle_count_collects_without_job(spark):
    """The driver route's one-row triangle count is a local relation:
    collecting it starts no Spark job."""
    edges = block_circulant(spark, N, B).localCheckpoint(eager=True)
    tri = triangle_count(edges)
    rows, jobs = spark_jobs(spark, "triangles-collect", tri.collect)
    assert jobs == 0
    assert rows[0]["triangles"] > 0


def test_bfs_levels(spark):
    from leiden_communities_openmp_spark.operators.transforms import bfs_levels

    lv = {r["id"]: r["level"] for r in bfs_levels(block_circulant(spark, N, B), 0).collect()}
    assert lv[0] == 0
    assert set(lv) == set(range(B))  # reaches exactly its block
    # python BFS oracle
    edges = _edges_py()
    out = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    want = {0: 0}
    frontier = [0]
    depth = 0
    while frontier:
        depth += 1
        nxt = []
        for u in frontier:
            for v in out.get(u, []):
                if v not in want:
                    want[v] = depth
                    nxt.append(v)
        frontier = nxt
    assert lv == want


def test_dfs_preorder_matches_recursive_reference(spark):
    """V2: the single-task DFS preorder equals an independent recursive
    implementation of dfsVisitedForEachU (inc/dfs.hxx:19-25) with
    ascending-dst adjacency."""
    import sys

    from leiden_communities_openmp_spark.operators.graphgen import block_circulant
    from leiden_communities_openmp_spark.operators.transforms import dfs_preorder

    e = block_circulant(spark, 256, 64)
    got = [r["id"] for r in dfs_preorder(e, 0).orderBy("pos").collect()]

    adj = {}
    for r in e.collect():
        adj.setdefault(r["src"], []).append(r["dst"])
    for k in adj:
        adj[k].sort()
    sys.setrecursionlimit(10000)
    vis, order = set(), []

    def rec(u):
        if u in vis:
            return
        vis.add(u)
        order.append(u)
        for v in adj.get(u, []):
            rec(v)

    rec(0)
    assert got == order
    assert got[0] == 0 and len(set(got)) == len(got)
