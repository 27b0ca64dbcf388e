"""Graph transforms — SURVEY.md §2.2 (T1-T9) and §2.6 (V1, V4).

Thin, composable DataFrame expressions; Catalyst handles pushdown/pruning.
All operate on the canonical edges(src, dst, w) relation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.edges import dedup_keep_last, symmetricize_df  # T1/S5 re-export
from ._worker import task_entry


def transpose(edges: DataFrame) -> DataFrame:
    """T2 (inc/transpose.hxx:44-65): reverse all edges."""
    return edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")


def transpose_with_degree(edges: DataFrame) -> DataFrame:
    """T3 (inc/transpose.hxx:110-134): transpose, carrying each (new-src)
    vertex's original out-degree as a vertex value column."""
    deg = edges.groupBy(F.col("src").alias("dst")).agg(F.count("*").alias("out_degree"))
    return transpose(edges).join(deg, "dst", "left").na.fill({"out_degree": 0})


def filter_graph(edges: DataFrame, vertex_pred=None, edge_pred=None) -> DataFrame:
    """T4 duplicateIf (inc/duplicate.hxx:49-72): keep vertices/edges passing
    predicates. ``vertex_pred``/``edge_pred`` are Column expressions over
    (id) / (src, dst, w)."""
    e = edges
    if edge_pred is not None:
        e = e.filter(edge_pred)
    if vertex_pred is not None:
        keep = (
            e.select(F.col("src").alias("id")).unionByName(e.select(F.col("dst").alias("id")))
            .distinct().filter(vertex_pred)
        )
        e = (
            e.join(keep.select(F.col("id").alias("src")), "src", "left_semi")
            .join(keep.select(F.col("id").alias("dst")), "dst", "left_semi")
            .select("src", "dst", "w")
        )
    return e


def add_self_loops(edges: DataFrame, w: float = 1.0, vertex_pred=None) -> DataFrame:
    """T5 addSelfLoops (inc/selfLoop.hxx:60-66)."""
    verts = (
        edges.select(F.col("src").alias("id")).unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    if vertex_pred is not None:
        verts = verts.filter(vertex_pred)
    loops = verts.select(F.col("id").alias("src"), F.col("id").alias("dst"), F.lit(float(w)).alias("w"))
    return edges.unionByName(loops)


def count_self_loops(edges: DataFrame) -> DataFrame:
    """T6 countSelfLoops (inc/selfLoop.hxx:15-19)."""
    return edges.filter(F.col("src") == F.col("dst")).agg(F.count("*").alias("self_loops"))


def dfs_preorder(edges: DataFrame, source: int) -> DataFrame:
    """V2 dfsVisitedForEachU (inc/dfs.hxx:19-25) → (id, pos): depth-first
    PREORDER from ``source``, children explored in ascending dst order (the
    reference's sorted LazyBitset adjacency, inc/_bitset.hxx:235).

    DFS is inherently sequential — every visit depends on the entire prior
    visit history — so like the reference (a recursive validation utility,
    not a parallel path) this executes as ONE task over the (src, dst)-
    sorted edge feed; use ``bfs_levels`` for distributed reachability. The
    recursion is replicated with an explicit iterator stack (no Python
    recursion limit)."""
    import pandas as pd

    src_v = int(source)

    @task_entry
    def run(pdfs):
        parts = [p for p in pdfs]
        adj: dict[int, list[int]] = {}
        if parts:
            # sort HERE, not upstream: row order delivered into a coalesced
            # single task is an implementation detail, not a contract — the
            # visit order must not depend on it
            rows = pd.concat(parts, ignore_index=True).sort_values(["src", "dst"])
            for s, d in zip(rows["src"].tolist(), rows["dst"].tolist()):
                adj.setdefault(int(s), []).append(int(d))
        visited = {src_v}
        order = [src_v]
        stack = [iter(adj.get(src_v, []))]
        while stack:
            advanced = False
            for v in stack[-1]:
                if v not in visited:
                    visited.add(v)
                    order.append(v)
                    stack.append(iter(adj.get(v, [])))
                    advanced = True
                    break
            if not advanced:
                stack.pop()
        yield pd.DataFrame({"id": pd.Series(order, dtype="int64"),
                            "pos": pd.Series(range(len(order)), dtype="int32")})

    return (
        edges.select("src", "dst").coalesce(1)
        .mapInPandas(run, "id long, pos int")
    )


def bfs_levels(edges: DataFrame, source: int, max_depth: int = 50) -> DataFrame:
    """V1 BFS (inc/bfs.hxx:22-55) → (id, level): iterative frontier joins."""
    spark = edges.sparkSession
    visited = spark.createDataFrame([(int(source), 0)], "id long, level int").localCheckpoint()
    frontier = visited
    for depth in range(1, max_depth + 1):
        nxt = (
            edges.join(frontier.select(F.col("id").alias("src")), "src", "left_semi")
            .select(F.col("dst").alias("id")).distinct()
            .join(visited, "id", "left_anti")
            .withColumn("level", F.lit(depth))
        )
        nxt = nxt.localCheckpoint()
        if nxt.count() == 0:
            break
        visited = visited.unionByName(nxt).localCheckpoint()
        frontier = nxt
    return visited
