"""JVM frontier feed of the sweep backend: parity + use.

The frontier feed replaces the full per-round Arrow feed with a broadcast
semi-join cut of `part_edges` down to the adjacency of vertices with a
moved/blocked neighbor (plus the seeds' own rows). It is a pure transport
optimization — which rows reach the sweep tasks — so with the SAME
aff-seeding, labels, modularity, and pass structure must be bit-identical
with the feed on or off; only Arrow volume changes. (Reference vaff
pruning: inc/leiden.hxx:656,661-662.)

A pass feeds when its edge rows reach ``_FRONTIER_FEED_EDGE_GATE``, and
then feeds every round seeded below ``_AFF_SEED_FRACTION`` of its vertices.
The tests monkeypatch both module constants: ``_AFF_SEED_FRACTION = 1.0``
seeds every post-first round so the feed engages on a small fixture (at
the default 0.02 only bench-scale graphs develop a frontier small enough —
e.g. the 1M-vertex planted graph's pass-2 rounds [424951, 1030, 702, 94]
feed from round 4), and the gate turns the feed on or off.
"""

import math

import pytest
from pyspark.sql import functions as F

from leiden_communities_openmp_spark.operators import leiden as L
from leiden_communities_openmp_spark.operators.graphgen import planted_hard
from leiden_communities_openmp_spark.operators.kernel import LeidenOptions
from leiden_communities_openmp_spark.operators.leiden import leiden_scale
from leiden_communities_openmp_spark.sources.edges import symmetricize_df

_NEVER = 1 << 62     # an edge gate no pass reaches


@pytest.fixture
def seed_all(monkeypatch):
    monkeypatch.setattr(L, "_AFF_SEED_FRACTION", 1.0)
    return monkeypatch


def _graph(spark):
    return symmetricize_df(planted_hard(spark, 4096)).localCheckpoint(eager=True)


def _labels(res):
    return {r["id"]: r["community"] for r in res.membership.collect()}


def _run(spark, edges, gate, monkeypatch, **kw):
    monkeypatch.setattr(L, "_FRONTIER_FEED_EDGE_GATE", gate)
    return leiden_scale(spark, edges, LeidenOptions(), driver_threshold=0,
                        num_partitions=4, **kw)


def _fed(res, passes=lambda p: True):
    return [r for m in res.metrics if "pass" in m and passes(m["pass"])
            for r in m.get("rounds", []) if r.get("fed")]


def test_frontier_feed_label_parity_and_engagement(spark, seed_all):
    """Every pass fed (gate 1) vs none fed (gate out of reach), identical
    aff-seeding: bit-identical labels, modularity, and per-pass round
    counts — and the fed leg must actually record fed rounds (guards
    against the feature silently never running — VERDICT r2 'missing #4')."""
    edges = _graph(spark)
    off = _run(spark, edges, _NEVER, seed_all)
    on = _run(spark, edges, 1, seed_all)
    assert _labels(off) == _labels(on)
    assert math.isclose(off.modularity, on.modularity, abs_tol=1e-12)
    rounds_off = [m.get("move_iterations") for m in off.metrics if "pass" in m]
    rounds_on = [m.get("move_iterations") for m in on.metrics if "pass" in m]
    assert rounds_off == rounds_on
    assert _fed(on), "no round used the frontier feed with the gate at 1"
    assert not _fed(off)


def test_lazy_multigraph_fed_rounds_survive_pass_boundary(spark, seed_all):
    """Regression: a fed round in a pass AFTER a lazy multigraph handoff
    re-serializes the cached part_edges lineage, which still references the
    previous pass's relabel broadcast. destroy()-ing that broadcast at the
    pass boundary crashed every such run with INTERNAL_ERROR_BROADCAST
    (reproduced on a 6k cycle graph — poor collapse keeps every pass a lazy
    multigraph); the boundary now only unpersist()s executor copies. The
    fixture must complete, take the lazy path, and actually feed rounds in
    passes >= 2."""
    n = 6000
    e = spark.range(n).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % n).alias("dst"),
        F.lit(1.0).alias("w"))
    e = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    ).localCheckpoint(eager=True)
    seed_all.setattr(L, "_FRONTIER_FEED_EDGE_GATE", 1)
    res = leiden_scale(spark, e, LeidenOptions(), driver_threshold=0,
                       driver_vertex_threshold=0, num_partitions=4)
    lazy_passes = [m["pass"] for m in res.metrics
                   if m.get("aggregate_multigraph")]
    assert lazy_passes, "cycle fixture no longer takes the lazy handoff"
    assert _fed(res, lambda p: p >= 2), "no fed round after a lazy pass boundary"
    assert res.modularity > 0.9


def test_auto_gate_engages_above_edge_gate(spark, seed_all):
    """The gate is compared with each pass's own edge rows. At the input's
    row count pass 1 feeds and a coarser pass (fewer rows; multigraph
    passes keep the input's rows) does not; one row higher no pass feeds.
    Labels, modularity and round structure stay bit-identical
    (transport-only)."""
    edges = _graph(spark)
    n = edges.count()
    at = _run(spark, edges, n, seed_all, driver_vertex_threshold=0)
    above = _run(spark, edges, n + 1, seed_all, driver_vertex_threshold=0)
    assert [m["edges"] for m in at.metrics if m.get("pass") == 1] == [n]
    assert _fed(at, lambda p: p == 1), "pass 1 did not feed at the edge gate"
    below = [m for m in at.metrics if m.get("strategy") == "sweep" and m["edges"] < n]
    assert below and all(len(m["rounds"]) >= 2 for m in below), \
        "no pass below the edge gate with a seeded round"
    assert not [r for m in below for r in m["rounds"] if r["fed"]], \
        "a pass below the edge gate fed"
    assert not _fed(above), "a pass fed below the edge gate"
    assert _labels(at) == _labels(above)
    assert math.isclose(at.modularity, above.modularity, abs_tol=1e-12)
    rounds_a = [m.get("move_iterations") for m in at.metrics if "pass" in m]
    rounds_b = [m.get("move_iterations") for m in above.metrics if "pass" in m]
    assert rounds_a == rounds_b
