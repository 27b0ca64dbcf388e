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

import pytest

from leiden_communities_openmp_spark.operators.kernel import LeidenOptions
from leiden_communities_openmp_spark.operators.leiden import (
    leiden_scale, louvain_scale, modularity_df,
)
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


@pytest.mark.parametrize("counts", ["metadata", "counted"])
def test_checkpoint_resume(spark, tmp_path, counts):
    """Kill-and-resume (FIXTURES.md §5): a run resumed from the pass-1
    checkpoint produces identical final labels to an uninterrupted run —
    also from a pass whose _metrics.json lacks the written edge and vertex
    counts (an older checkpoint), which the resume then counts."""
    from leiden_communities_openmp_spark.plans.checkpoint import CheckpointManager

    edges, _ = read_mtx_spark(spark, os.path.join(MTX_DIR, "planted_sbm_s.mtx"))
    full = leiden_scale(spark, edges, LeidenOptions(), driver_threshold=0, num_partitions=4,
                        checkpointer=CheckpointManager(str(tmp_path / "ck_full")))
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
    resumed = leiden_scale(spark, edges, LeidenOptions(), driver_threshold=0, num_partitions=4,
                           checkpointer=CheckpointManager(str(dst)))
    ra = {r["id"]: r["community"] for r in full.membership.collect()}
    rb = {r["id"]: r["community"] for r in resumed.membership.collect()}
    assert ra == rb
    assert math.isclose(full.modularity, resumed.modularity, abs_tol=1e-12)


@pytest.mark.parametrize("rows", [
    # directed path: the last dst (40) sorts past every src id
    [(i, i + 1, 1.0) for i in range(40)],
    # symmetric even-id ring plus one directed edge 0→3: 3 sorts between
    # two src ids and would alias vertex 4's position
    [(a, b, 1.0) for i in range(0, 40, 2)
     for a, b in ((i, (i + 2) % 40), ((i + 2) % 40, i))] + [(0, 3, 1.0)],
], ids=["dst-past-end", "dst-between-ids"])
def test_asymmetric_input_rejected(spark, rows):
    """A dst with no edges of its own (an unsymmetrized table) is rejected
    inside the sweep task with an error that reaches the driver — not a
    segfault in the C sweep, not a silent mis-read of a neighbour."""
    edges = spark.createDataFrame(rows, "src long, dst long, w double")
    with pytest.raises(Exception, match="symmetricize_df"):
        leiden_scale(spark, edges, LeidenOptions(), driver_threshold=0,
                     driver_vertex_threshold=0, num_partitions=4)
