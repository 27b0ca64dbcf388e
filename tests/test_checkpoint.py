"""Checkpoint layer (plans/checkpoint.py): the Spark jobs a commit and a
read cost, the footer lineage, and the commit marker's atomicity under an
in-place overwrite that dies mid-write."""

import pytest
from pyspark.sql import functions as F

from leiden_communities_openmp_spark.operators.materialize import materialize
from leiden_communities_openmp_spark.plans.checkpoint import CheckpointManager


def _frames(spark):
    memb = materialize(spark.range(0, 500, numPartitions=3).select(
        "id", (F.col("id") % 7).alias("community")))
    edges = materialize(spark.range(0, 1200, numPartitions=5).select(
        (F.col("id") % 500).alias("src"), ((F.col("id") * 13) % 500).alias("dst"),
        F.lit(1.0).alias("w")))
    return memb, edges


def _jobs(spark, group, fn):
    """Run ``fn`` under job group ``group``; return (its result, the number
    of Spark jobs it started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_save_writes_once_and_reads_run_no_job(spark, tmp_path):
    memb, edges = _frames(spark)
    ck = CheckpointManager(str(tmp_path / "ck"))
    _, n_save = _jobs(spark, "ckpt-save", lambda: ck.save(1, memb, edges, 0.01, 4, [],
                                                          vertices=500))
    assert n_save == 2                      # the two Parquet writes, nothing else

    (m2, e2), n_load = _jobs(spark, "ckpt-load", lambda: ck.load(spark, 1))
    found, n_latest = _jobs(spark, "ckpt-latest", lambda: ck.latest(spark))
    assert n_load == 0 and n_latest == 0    # no schema inference, no counting
    assert found[0] == 1 and found[3:5] == (0.01, 4)

    meta = ck.meta(1)
    for rel, df in (("membership", memb), ("edges", edges)):
        assert sum(r["rows"] for r in meta["lineage"][rel]) == df.count()
    assert meta["edge_rows"] == edges.count() == e2.count()
    assert meta["vertices"] == 500
    assert m2.schema.simpleString() == "struct<id:bigint,community:bigint>"
    assert sorted(m2.collect()) == sorted(memb.collect())


def test_torn_overwrite_is_not_committed(spark, tmp_path):
    """An overwrite of a committed pass that dies mid-write (a rerun into
    the same root, or apply_batch_to_superstep) must not leave the old
    _COMMITTED marker over the torn files."""
    memb, edges = _frames(spark)
    ck = CheckpointManager(str(tmp_path / "ck"))
    ck.save(1, memb, edges, 0.01, 4, [])
    assert ck.latest(spark)[0] == 1

    @F.udf("double")
    def dies(w):
        raise RuntimeError("write dies mid-pass")

    with pytest.raises(Exception, match="write dies mid-pass"):
        ck.save(1, memb, edges.withColumn("w", dies("w")), 0.01, 4, [])
    assert ck.latest(spark) is None
