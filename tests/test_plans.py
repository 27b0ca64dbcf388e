"""Physical-plan audits: assert the plans we designed for 100 TB actually
materialize — broadcasts where intended, column pruning reaching the
parquet scan, no cartesian products, whole-stage codegen in the hot paths.

These guard against silent plan regressions (a config change or Spark
upgrade flipping a broadcast join to sort-merge, a new column reference
defeating pruning) that correctness tests cannot see.
"""

import contextlib
import io
import os

import pytest
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _plan(df, mode: str = "formatted") -> str:
    """Formatted physical plan as a string (public df.explain, captured)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def _simple_plan(df) -> str:
    return _plan(df, mode="simple")


@pytest.fixture(scope="module")
def sf(spark):
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"no testdata at {SF_DIR}")
    return SF_DIR


def test_join_regions_broadcasts_small_dims(spark, sf):
    """nation/region are tiny dims: the join must be broadcast, never a
    shuffled sort-merge of the fact table."""
    from leiden_communities_openmp_spark.queries import q_join_regions

    plan = _plan(q_join_regions(spark, sf))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_token_count_prunes_columns(spark, sf):
    """token_count projects (doc_id, text)-derived columns only: the parquet
    ReadSchema must not include unused columns like url or lang."""
    from leiden_communities_openmp_spark.queries import q_token_count

    plan = _plan(q_token_count(spark, sf))
    scan = plan[plan.index("Scan parquet"):]
    rs = scan[scan.index("ReadSchema"):].splitlines()[0]
    assert "text" in rs and "doc_id" in rs
    assert "url" not in rs and "lang" not in rs


def test_tpch_q1_pushes_filter_and_codegens(spark, sf):
    """The shipdate filter must reach the scan (PushedFilters) and the
    aggregate must run inside whole-stage codegen."""
    from leiden_communities_openmp_spark.queries import q_tpch_q1

    df = q_tpch_q1(spark, sf)
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split(
        "PushedFilters")[1].splitlines()[0]
    # AQE's pre-execution formatted plan hides codegen stages — ask the
    # codegen explain mode, which compiles the subtrees
    assert "WholeStageCodegen" in _plan(df, mode="codegen")


def test_exact_dupes_single_shuffle(spark, sf):
    """Exact dedup's core is one hash aggregation: exactly one exchange of
    the documents relation (partial agg map-side, final agg post-shuffle) —
    the registered query adds only presentation ordering on top."""
    from leiden_communities_openmp_spark.operators.dedup import exact_duplicates

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    plan = _simple_plan(exact_duplicates(docs))
    assert plan.count("Exchange") == 1
    assert "CartesianProduct" not in plan and "Join" not in plan


def test_minhash_lsh_no_cartesian(spark, sf):
    """LSH candidate generation must be a bucket equi-join, never a
    cross/cartesian of documents."""
    from leiden_communities_openmp_spark.queries import QUERIES

    plan = _plan(QUERIES["minhash_lsh"](spark, sf))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_banded_lsh_no_cartesian(spark, sf):
    """Banded hyperplane LSH candidates must come from (band, code)
    equi-joins — never a cross join of the corpus — and the signature
    computation must stay inside whole-stage codegen (no Python UDF)."""
    from leiden_communities_openmp_spark.queries import QUERIES

    plan = _plan(QUERIES["lsh_cosine_banded"](spark, sf))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ivf_assignment_broadcasts_centroids(spark, sf):
    """IVF coarse assignment must broadcast the centroid table (plan size
    O(1) in nlist), never shuffle the corpus against it."""
    from leiden_communities_openmp_spark.operators.dedup import ivf_cosine_topk
    from leiden_communities_openmp_spark.queries import _emb

    e = _emb(spark, sf)
    plan = _plan(ivf_cosine_topk(e, e.filter(F.col("vec_id") < 4), k=3,
                                 nlist=8, nprobe=2, lloyd_iters=1))
    assert "CartesianProduct" not in plan
    # centroid joins appear as broadcast nested-loop (hinted cross of a
    # 8-row table) or broadcast hash — either way the corpus side must not
    # be exchanged for them beyond its scan
    assert "BroadcastExchange" in plan


def test_aggregate_graph_broadcasts_membership(spark, sf):
    """A9 on a small membership: relabel joins must broadcast the
    membership map, not shuffle the edge relation twice."""
    from leiden_communities_openmp_spark.operators.aggregations import aggregate_graph
    from leiden_communities_openmp_spark.queries import _lineitem_sym

    e = _lineitem_sym(spark, sf)
    memb = e.select(F.col("src").alias("id")).distinct().select(
        "id", F.pmod("id", F.lit(100)).alias("community"))
    plan = _plan(aggregate_graph(e, F.broadcast(memb)))
    assert "BroadcastHashJoin" in plan


def test_pagerank_plan_constant_size(spark, sf, monkeypatch):
    """Iterative loops must go through the stats-resetting materialize:
    the per-iteration plan must not grow (no compounding lineage). Pinned on
    the DataFrame route, the one that loops in Spark."""
    from leiden_communities_openmp_spark.operators import materialize
    from leiden_communities_openmp_spark.operators.companions import pagerank
    from leiden_communities_openmp_spark.queries import _lineitem_sym

    monkeypatch.setattr(materialize, "DRIVER_ROWS", 0)
    e = _lineitem_sym(spark, sf).limit(2000)
    r3 = pagerank(e, iterations=3)
    r6 = pagerank(e, iterations=6)
    # a materialized loop yields a plan rooted at a scan leaf whose depth is
    # iteration-independent; compounding lineage would double plan length
    p3, p6 = _simple_plan(r3), _simple_plan(r6)
    assert len(p6) < 2 * max(len(p3), 500)


def test_aggregate_graph_salted_equals_plain_under_skew(spark, sf):
    """North-rule hub-skew handling: the salted two-stage aggregation must
    be value-identical to the plain path on a graph whose heaviest
    community covers ~90% of edges (the regime the salt exists for)."""
    from leiden_communities_openmp_spark.operators.aggregations import (
        aggregate_graph, aggregate_graph_salted)
    from leiden_communities_openmp_spark.queries import _lineitem_sym

    e = _lineitem_sym(spark, sf)
    # 90% of vertices land in community 0 → the (0,0) super-edge dominates
    memb = e.select(F.col("src").alias("id")).distinct().select(
        "id", F.when(F.pmod("id", F.lit(10)) < 9, F.lit(0))
               .otherwise(F.pmod("id", F.lit(10))).alias("community"))
    plain = {(r.src, r.dst): r.w for r in aggregate_graph(e, memb).collect()}
    salted = {(r.src, r.dst): r.w
              for r in aggregate_graph_salted(e, memb, salt=16).collect()}
    assert salted == plain
    assert (0, 0) in plain and plain[(0, 0)] > 0.5 * sum(plain.values())


def test_triangle_orientation_survives_hub_skew(spark, monkeypatch):
    """Round-4 verdict 'What's wrong' #2: triangle counting must orient by
    (degree, id), not id, or one high-degree hub keeps its whole degree as
    out-neighbors and the wedge join explodes deg(hub)^2.

    Fixture: a 10^4-degree hub at id 0 (the id-ordered worst case: every
    hub edge keeps the hub as source) plus a planted triangle. Degree
    orientation must (a) still count triangles exactly and (b) keep the
    hub's oriented out-degree at 0 — every spoke has degree 1 < 10^4, so
    all hub edges must point INTO the hub. Pinned on the DataFrame route,
    the one that runs the wedge join (tests/test_companions.py checks the
    driver route on the same fixture)."""
    from leiden_communities_openmp_spark.operators import materialize
    from leiden_communities_openmp_spark.operators.companions import (
        _oriented, triangle_count, triangle_count_per_vertex)

    monkeypatch.setattr(materialize, "DRIVER_ROWS", 0)
    hub_deg = 10_000
    spokes = spark.range(1, hub_deg + 1).select(
        F.lit(0).alias("src"), F.col("id").alias("dst"))
    # one planted triangle among leaf-degree vertices (ids beyond spokes)
    tri = spark.createDataFrame(
        [(20001, 20002), (20002, 20003), (20001, 20003)], "src int, dst int")
    edges = spokes.unionByName(tri).withColumn("w", F.lit(1.0))

    got = triangle_count(edges).collect()[0]["triangles"]
    assert got == 1

    # the wedge-explosion witness: with degree orientation the hub (degree
    # 10^4, larger than every spoke's 1) is never a source, so the wedge
    # join generates ZERO rows through it; id orientation would have kept
    # all 10^4 spokes as hub out-neighbors → ~5*10^7 wedge rows.
    o = _oriented(edges)
    hub_out = o.filter(F.col("src") == 0).count()
    assert hub_out == 0
    ab = o.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = o.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    wedges = ab.join(bc, "b").count()
    assert wedges <= 3  # only the planted triangle's wedges

    per = {r.id: r.triangles for r in triangle_count_per_vertex(edges).collect()}
    assert per == {20001: 1, 20002: 1, 20003: 1}


def test_renumber_operator_has_no_single_task_exchange(spark):
    """Round-4 verdict 'What's wrong' #3: the standalone renumber operator
    must use the distributed two-phase rank, never a global window whose
    empty PARTITION BY executes as one task (SinglePartition exchange)."""
    from leiden_communities_openmp_spark.operators.aggregations import (
        renumber_communities)

    memb = spark.range(5000).select(
        F.col("id"), (F.col("id") * 7 % 997).alias("community"))
    out = renumber_communities(memb)
    plan = _plan(out)
    assert "SinglePartition" not in plan
    assert "Window" not in plan
    # order-preserving dense 0..C-1 semantics
    rows = out.collect()
    comms = sorted({r.community for r in rows})
    assert comms == list(range(len(comms)))


def test_range_partition_bucket_bijection(spark):
    """Regression guard (round 5): the range-bucket tag must be LONG so the
    solved labels place bucket i exactly in partition i — with int32 tags
    Murmur3 hashes differently and 64 buckets silently landed in ~40
    partitions, making 2-3-bucket tasks the move-round straggler."""
    import numpy as np

    from leiden_communities_openmp_spark.operators.leiden import (
        _range_partition_edges)

    n, p = 64_000, 64
    df = spark.range(n).select(
        F.col("id").alias("src"), ((F.col("id") * 7) % n).alias("dst"),
        F.lit(1.0).alias("w"))
    vid = np.arange(n)
    out = _range_partition_edges(spark, df, vid, np.ones(n), p)
    rows = (out.select(F.spark_partition_id().alias("pid"), "src")
            .groupBy("pid")
            .agg(F.min("src").alias("lo"), F.max("src").alias("hi"))
            .orderBy("pid").collect())
    assert len(rows) == p, f"expected {p} non-empty partitions, got {len(rows)}"
    # contiguous ascending src ranges in pid order = bucket i -> partition i
    for a, b in zip(rows, rows[1:]):
        assert a.hi < b.lo


def test_range_partition_bucket_is_compiled(spark):
    """The range-bucket expression must compile: no lambda or higher-order
    function in the partition projection. ``F.aggregate`` over the cuts runs
    an interpreted lambda per row per cut — at 1M vertices and p=64 the
    partition job took ~4x as long as with a compiled comparison tree."""
    import numpy as np

    from leiden_communities_openmp_spark.operators.leiden import (
        _range_partition_edges)

    n, p = 64_000, 64
    df = spark.range(n).select(
        F.col("id").alias("src"), ((F.col("id") * 7) % n).alias("dst"),
        F.lit(1.0).alias("w"))
    plan = _simple_plan(_range_partition_edges(spark, df, np.arange(n), np.ones(n), p))
    project = [ln for ln in plan.splitlines() if "Project" in ln and "_part" in ln]
    assert project, plan
    assert not any("lambda" in ln for ln in project), project
