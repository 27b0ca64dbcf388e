"""Distributed (scale-mode) Leiden: quality, determinism, invariants.

Exact label parity is the match kernel's contract (test_kernel_golden);
scale mode is held to: modularity within a small band of the oracle, zero
internally-disconnected communities, determinism, and correct pass
mechanics.
"""

import json
import math
import os
import pathlib

import numpy as np
import pandas as pd
import pytest

from leiden_communities_openmp_spark.operators.kernel import LeidenOptions
from leiden_communities_openmp_spark.operators.leiden import (
    leiden_scale, louvain_scale, modularity_df,
)
from leiden_communities_openmp_spark.operators.sweep import sweep_partition
from leiden_communities_openmp_spark.sources.mtx import read_mtx_spark

from .conftest import GOLD_DIR, MTX_DIR


def _gold(name, method="leiden"):
    lines = pathlib.Path(os.path.join(GOLD_DIR, f"{name}.{method}.txt")).read_text().splitlines()
    return json.loads(lines[0])


def test_driver_fastpath_matches_oracle_quality(spark):
    """Small graphs finish on the deterministic kernel — modularity equals
    the oracle's to 1e-6 (clean-dedup graph == reference graph for this
    fixture: no duplicate-edge quirks in karate)."""
    edges, _ = read_mtx_spark(spark, os.path.join(MTX_DIR, "karate.mtx"))
    res = leiden_scale(spark, edges, LeidenOptions())
    assert math.isclose(res.modularity, _gold("karate")["modularity"], abs_tol=1e-6)


def test_distributed_sweep_quality_and_structure(spark):
    """4-partition sweep on the planted SBM recovers the planted structure:
    same community count as the oracle, modularity within 1%."""
    edges, _ = read_mtx_spark(spark, os.path.join(MTX_DIR, "planted_sbm_s.mtx"))
    res = leiden_scale(spark, edges, LeidenOptions(), driver_threshold=0, num_partitions=4)
    gold = _gold("planted_sbm_s")
    ncomm = res.membership.select("community").distinct().count()
    assert ncomm == gold["communities"]
    assert abs(res.modularity - gold["modularity"]) < 0.01 * abs(gold["modularity"]) + 1e-9
    # the run ends in the driver kernel, whose Q on the aggregated graph is
    # returned: it must be the input graph's Q of the composed labels
    assert any(m.get("strategy") == "driver-kernel" for m in res.metrics)
    assert math.isclose(res.modularity, modularity_df(edges, res.membership, res.M),
                        abs_tol=1e-6)


def test_distributed_determinism(spark):
    """Same input + same partition count → bit-identical labels."""
    edges, _ = read_mtx_spark(spark, os.path.join(MTX_DIR, "planted_sbm_s.mtx"))
    a = leiden_scale(spark, edges, LeidenOptions(), driver_threshold=0, num_partitions=4)
    b = leiden_scale(spark, edges, LeidenOptions(), driver_threshold=0, num_partitions=4)
    ra = {r["id"]: r["community"] for r in a.membership.collect()}
    rb = {r["id"]: r["community"] for r in b.membership.collect()}
    assert ra == rb


def test_louvain_flag(spark):
    edges, _ = read_mtx_spark(spark, os.path.join(MTX_DIR, "karate.mtx"))
    res = louvain_scale(spark, edges, LeidenOptions())
    assert math.isclose(res.modularity, _gold("karate", "louvain")["modularity"], abs_tol=1e-6)


@pytest.mark.parametrize("strategy,counts", [
    ("sweep", "metadata"), ("sweep", "counted"),
    ("rounds", "metadata"), ("rounds", "counted"),
], ids=["metadata", "counted", "rounds-metadata", "rounds-counted"])
def test_checkpoint_resume(spark, tmp_path, strategy, counts):
    """Kill-and-resume (FIXTURES.md §5): a run resumed from the pass-1
    checkpoint produces identical final labels and Q to an uninterrupted
    run, and routes its remaining passes the same way — also from a pass
    whose _metrics.json lacks the written edge and vertex counts (an older
    checkpoint), which the resume then counts. The vertex threshold sits
    between pass 1's community count and the input's vertex count, so
    pass 2 goes to the driver kernel only if the resume restored the
    vertex count."""
    from leiden_communities_openmp_spark.plans.checkpoint import CheckpointManager

    edges, _ = read_mtx_spark(spark, os.path.join(MTX_DIR, "planted_sbm_s.mtx"))
    kw = dict(strategy=strategy, driver_threshold=0, driver_vertex_threshold=150,
              num_partitions=4)
    if strategy == "rounds":
        kw["local_iters"] = 4
    full = leiden_scale(spark, edges, LeidenOptions(),
                        checkpointer=CheckpointManager(str(tmp_path / "ck_full")), **kw)
    first = next(m for m in full.metrics if "pass" in m)
    assert first["communities"] <= 150 < first["vertices"]
    routes = [m["strategy"] for m in full.metrics if "pass" in m]
    assert routes == [strategy, "driver-kernel"]
    # "crashed" run: reuse the checkpoint dir written by the full run, but
    # only keep pass 1 — the resumed run must re-derive passes >= 2
    import shutil
    src = tmp_path / "ck_full"
    dst = tmp_path / "ck_resume"
    shutil.copytree(src, dst)
    for d in sorted(os.listdir(dst))[1:]:
        shutil.rmtree(dst / d)
    if counts == "counted":
        meta_path = dst / "pass_00001" / "_metrics.json"
        meta = json.loads(meta_path.read_text())
        del meta["edge_rows"], meta["vertices"]
        meta_path.write_text(json.dumps(meta))
    resumed = leiden_scale(spark, edges, LeidenOptions(),
                           checkpointer=CheckpointManager(str(dst)), **kw)
    ra = {r["id"]: r["community"] for r in full.membership.collect()}
    rb = {r["id"]: r["community"] for r in resumed.membership.collect()}
    assert ra == rb
    assert math.isclose(full.modularity, resumed.modularity, abs_tol=1e-12)
    assert [m["strategy"] for m in resumed.metrics if "pass" in m] == routes


_ASYMMETRIC = {
    # directed path: the last dst (40) sorts past every src id
    "dst-past-end": [(i, i + 1, 1.0) for i in range(40)],
    # symmetric even-id ring plus one directed edge 0→3: 3 sorts between
    # two src ids and would alias vertex 4's position
    "dst-between-ids": [(a, b, 1.0) for i in range(0, 40, 2)
                        for a, b in ((i, (i + 2) % 40), ((i + 2) % 40, i))] + [(0, 3, 1.0)],
    # directed cycle: every dst is also a src, so only the setup checksums
    # see it
    "directed-cycle": [(i, (i + 1) % 40, 1.0) for i in range(40)],
}
_ROUTES = {
    "sweep": dict(driver_threshold=0, driver_vertex_threshold=0, num_partitions=4),
    "rounds": dict(strategy="rounds", driver_threshold=0, driver_vertex_threshold=0,
                   num_partitions=4),
    "driver": {},
}


@pytest.mark.parametrize("rows,route", [
    pytest.param(rows, route, id=name if route == "sweep" else f"{name}-{route}")
    for name, rows in _ASYMMETRIC.items() for route in _ROUTES
])
def test_asymmetric_input_rejected(spark, rows, route):
    """An unsymmetrized edge table is rejected at setup with a
    ValueError naming symmetricize_df on every strategy and route — not a
    segfault in the C sweep, not a silent mis-read of a neighbour, not a
    silent run on a directed graph."""
    edges = spark.createDataFrame(rows, "src long, dst long, w double")
    with pytest.raises(ValueError, match="symmetricize_df"):
        leiden_scale(spark, edges, LeidenOptions(), **_ROUTES[route])


@pytest.mark.parametrize("name", ["dst-past-end", "dst-between-ids"])
def test_sweep_task_rejects_dangling_dst(name):
    """The in-task check behind the setup checksums (hash sums can
    collide): a sweep task whose partition holds a dst with no adjacency
    row raises instead of reading past the vertex array or aliasing a
    neighbour's position."""
    pdf = pd.DataFrame(_ASYMMETRIC[name], columns=["src", "dst", "w"]) \
        .sort_values(["src", "dst"]).reset_index(drop=True)
    vid = np.unique(pdf["src"].to_numpy(np.int64))
    vtot = np.bincount(np.searchsorted(vid, pdf["src"]), weights=pdf["w"], minlength=len(vid))
    state = {"vid": vid, "vtot": vtot, "comm": vid.copy(), "ctot": vtot.copy()}
    with pytest.raises(ValueError, match="symmetricize_df"):
        list(sweep_partition(iter([pdf]), state, M=float(pdf["w"].sum()) / 2, R=1.0,
                             E=1e-9, max_local_iters=4, refine=False, direction=0))


_PASS_KEYS = {"pass", "strategy", "move_iterations", "vertices", "communities", "edges",
              "tolerance", "move_seconds", "refine_seconds", "pass_seconds",
              "renumber_seconds", "aggregate_seconds", "rounds"}
_STRATEGY_KEYS = {
    "sweep": {"vt_seconds", "partition_seconds", "refine_job_seconds",
              "refine_apply_seconds", "driver_hop", "aggregate_salted",
              "aggregate_multigraph"},
    "rounds": {"refine_rounds"},
}


@pytest.mark.parametrize("strategy", ["sweep", "rounds"])
def test_metrics_schema(spark, strategy):
    """LeidenRunResult.metrics keeps the schema its docstring documents —
    every key perfbench/run.py::leiden_layers and sinks.py read included,
    so a refactor that drops one fails here instead of silently zeroing a
    per-layer benchmark metric. Karate (34 vertices) under auto strategy
    selection: one forced-distributed pass of the chosen backend, then the
    driver kernel (vertex threshold 30 > pass 1's communities)."""
    edges, _ = read_mtx_spark(spark, os.path.join(MTX_DIR, "karate.mtx"))
    res = leiden_scale(spark, edges, LeidenOptions(), strategy="auto",
                       rounds_vertex_threshold=0 if strategy == "rounds" else 10**9,
                       driver_threshold=0, driver_vertex_threshold=30,
                       num_partitions=4, local_iters=4)
    setup, chosen, distributed, finish, final_q = res.metrics
    assert setup.keys() == {"phase", "seconds"} and setup["phase"] == "setup"
    assert chosen.keys() == {"phase", "chosen", "v_estimate"} and chosen["chosen"] == strategy
    assert final_q.keys() == {"phase", "seconds"} and final_q["phase"] == "final_modularity"
    assert distributed["strategy"] == strategy
    assert distributed.keys() == _PASS_KEYS | _STRATEGY_KEYS[strategy]
    assert distributed["rounds"] and all(
        r.keys() == {"seconds", "movers", "blocked", "el", "fed"}
        for r in distributed["rounds"])
    if strategy == "sweep":
        assert distributed["driver_hop"].keys() == {"bcast", "job_collect", "rows_out", "apply"}
    assert finish.keys() == {"pass", "strategy", "vertices", "edges", "kernel_passes",
                             "pass_seconds"}
    assert finish["strategy"] == "driver-kernel"
