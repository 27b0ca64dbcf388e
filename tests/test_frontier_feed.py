"""JVM frontier feed (leiden_scale frontier_threshold > 0): parity + use.

The frontier feed replaces the full per-round Arrow feed with a broadcast
semi-join cut of `part_edges` down to the adjacency of vertices with a
moved/blocked neighbor (plus the seeds' own rows). It is a pure transport
optimization — which rows reach the sweep tasks — so with the SAME
aff-seeding, labels, modularity, and pass structure must be bit-identical
with the feed on or off; only Arrow volume changes. (Reference vaff
pruning: inc/leiden.hxx:656,661-662.)

``aff_seed_fraction=1.0`` forces every post-first round to be aff-seeded so
the feed engages on a small fixture (at the default 0.02 only bench-scale
graphs develop a frontier small enough — e.g. the 1M-vertex planted graph's
pass-2 rounds [424951, 1030, 702, 94] feed from round 4).
"""

import math

from pyspark.sql import functions as F

from leiden_communities_openmp_spark.operators.graphgen import planted_hard
from leiden_communities_openmp_spark.operators.kernel import LeidenOptions
from leiden_communities_openmp_spark.operators.leiden import leiden_scale
from leiden_communities_openmp_spark.sources.edges import symmetricize_df


def _graph(spark):
    return symmetricize_df(planted_hard(spark, 4096)).localCheckpoint(eager=True)


def _labels(res):
    return {r["id"]: r["community"] for r in res.membership.collect()}


def _run(spark, edges, frontier):
    return leiden_scale(spark, edges, LeidenOptions(), driver_threshold=0,
                        num_partitions=4, aff_seed_fraction=1.0,
                        frontier_threshold=frontier)


def test_frontier_feed_label_parity_and_engagement(spark):
    """threshold=1.0 (feed every aff-seeded round) vs 0.0 (never feed),
    identical aff-seeding: bit-identical labels, modularity, and per-pass
    round counts — and the fed leg must actually record fed rounds (guards
    against the feature silently never running — VERDICT r2 'missing #4')."""
    edges = _graph(spark)
    off = _run(spark, edges, 0.0)
    on = _run(spark, edges, 1.0)
    assert _labels(off) == _labels(on)
    assert math.isclose(off.modularity, on.modularity, abs_tol=1e-12)
    rounds_off = [m.get("move_iterations") for m in off.metrics if "pass" in m]
    rounds_on = [m.get("move_iterations") for m in on.metrics if "pass" in m]
    assert rounds_off == rounds_on
    fed = [r for m in on.metrics if "pass" in m
           for r in m.get("rounds", []) if r.get("fed")]
    assert fed, "no round used the frontier feed at threshold=1.0"
    none_fed = [r for m in off.metrics if "pass" in m
                for r in m.get("rounds", []) if r.get("fed")]
    assert not none_fed


def test_aff_seed_fraction_default_unchanged(spark):
    """The default aff_seed_fraction must reproduce the previous hardcoded
    behavior (captured oracles depend on it): default run == explicit 0.02."""
    edges = _graph(spark)
    a = leiden_scale(spark, edges, LeidenOptions(), driver_threshold=0,
                     num_partitions=4)
    b = leiden_scale(spark, edges, LeidenOptions(), driver_threshold=0,
                     num_partitions=4, aff_seed_fraction=0.02)
    assert _labels(a) == _labels(b)


def test_lazy_multigraph_fed_rounds_survive_pass_boundary(spark):
    """Regression: a fed round in a pass AFTER a lazy multigraph handoff
    re-serializes the cached part_edges lineage, which still references the
    previous pass's relabel broadcast. destroy()-ing that broadcast at the
    pass boundary crashed every such run with INTERNAL_ERROR_BROADCAST
    (reproduced on a 6k cycle graph — poor collapse keeps every pass a lazy
    multigraph); the boundary now only unpersist()s executor copies. The
    fixture must complete, take the lazy path, and actually feed rounds in
    passes >= 2."""
    import pyspark.sql.functions as SF
    n = 6000
    e = spark.range(n).select(
        SF.col("id").alias("src"), ((SF.col("id") + 1) % n).alias("dst"),
        SF.lit(1.0).alias("w"))
    e = e.unionByName(
        e.select(SF.col("dst").alias("src"), SF.col("src").alias("dst"), "w")
    ).localCheckpoint(eager=True)
    res = leiden_scale(spark, e, LeidenOptions(), driver_threshold=0,
                       driver_vertex_threshold=0, num_partitions=4,
                       aff_seed_fraction=1.0, frontier_threshold=1.0)
    lazy_passes = [m["pass"] for m in res.metrics
                   if m.get("aggregate_multigraph")]
    assert lazy_passes, "cycle fixture no longer takes the lazy handoff"
    fed_late = [r for m in res.metrics
                if "pass" in m and m["pass"] >= 2
                for r in m.get("rounds", []) if r.get("fed")]
    assert fed_late, "no fed round after a lazy pass boundary"
    assert res.modularity > 0.9


def test_auto_gate_engages_above_edge_gate(spark, monkeypatch):
    """frontier_threshold=None decides per pass from the edge-row gate
    (_FRONTIER_FEED_EDGE_GATE): below it the run is bit-identical to a
    pinned-off run with zero fed rounds; with the gate lowered under the
    fixture's edge count the feed engages on seeded rounds — and labels,
    modularity, and round structure stay bit-identical (transport-only)."""
    from leiden_communities_openmp_spark.operators import leiden as L
    edges = _graph(spark)
    auto_small = _run(spark, edges, None)
    assert not [r for m in auto_small.metrics if "pass" in m
                for r in m.get("rounds", []) if r.get("fed")], \
        "auto gate fed a pass below the edge-row gate"
    monkeypatch.setattr(L, "_FRONTIER_FEED_EDGE_GATE", 1)
    auto_big = _run(spark, edges, None)
    assert [r for m in auto_big.metrics if "pass" in m
            for r in m.get("rounds", []) if r.get("fed")], \
        "auto gate never fed with the edge gate below the fixture size"
    assert _labels(auto_small) == _labels(auto_big)
    assert math.isclose(auto_small.modularity, auto_big.modularity,
                        abs_tol=1e-12)
    rounds_a = [m.get("move_iterations") for m in auto_small.metrics if "pass" in m]
    rounds_b = [m.get("move_iterations") for m in auto_big.metrics if "pass" in m]
    assert rounds_a == rounds_b
