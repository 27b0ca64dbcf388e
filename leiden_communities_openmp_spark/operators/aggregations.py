"""Graph aggregations — SURVEY.md §2.3 (A1-A16), §2.5 (R1-R3), §2.6 (V3-V5).

Each function documents the reference operator it re-expresses. These are
also the building blocks of the correctness-gated queries in
__spark_entry__.py (every one has a DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._worker import task_entry


def total_edge_weight(edges: DataFrame) -> DataFrame:
    """A1 edgeWeight (inc/properties.hxx:96-106) → one row (total_w);
    M = total_w / 2 on a symmetric graph."""
    return edges.agg(F.sum("w").alias("total_w"))


def vertex_weights(edges: DataFrame) -> DataFrame:
    """A2 leidenVertexWeights (inc/leiden.hxx:216-224) → (id, vtot)."""
    return edges.groupBy(F.col("src").alias("id")).agg(F.sum("w").alias("vtot"))


def community_weights(edges: DataFrame, memb: DataFrame) -> DataFrame:
    """A3 (inc/leiden.hxx:252-263) → (community, ctot)."""
    return (
        vertex_weights(edges).join(memb, "id")
        .groupBy("community").agg(F.sum("vtot").alias("ctot"))
    )


def scan_communities(edges: DataFrame, memb: DataFrame) -> DataFrame:
    """A4 leidenScanCommunities (inc/leiden.hxx:412-463) → (id, community,
    vcout): per-vertex edge weight to each neighbor community, self-edges
    skipped."""
    md = memb.select(F.col("id").alias("dst"), F.col("community"))
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .join(md, "dst")
        .groupBy(F.col("src").alias("id"), "community")
        .agg(F.sum("w").alias("vcout"))
    )


def count_communities(memb: DataFrame) -> DataFrame:
    """A5/A13 (inc/leiden.hxx:728-743, inc/properties.hxx:352-364)."""
    return memb.agg(F.countDistinct("community").alias("communities"))


def community_sizes(memb: DataFrame) -> DataFrame:
    """A7/A11 (inc/leiden.hxx:812-823, inc/properties.hxx:289-300)."""
    return memb.groupBy("community").agg(F.count("*").alias("size"))


def community_members(memb: DataFrame) -> DataFrame:
    """A8/A12 (inc/leiden.hxx:860-873): community → sorted member list."""
    return memb.groupBy("community").agg(F.sort_array(F.collect_list("id")).alias("members"))


def aggregate_graph(edges: DataFrame, memb: DataFrame) -> DataFrame:
    """A9/A10 graph coarsening (inc/leiden.hxx:957-973): relabel both
    endpoints, sum parallel super-edges, keep intra-community self-loops."""
    ms = memb.select(F.col("id").alias("src"), F.col("community").alias("cs"))
    md = memb.select(F.col("id").alias("dst"), F.col("community").alias("cd"))
    return (
        edges.join(ms, "src").join(md, "dst")
        .groupBy(F.col("cs").alias("src"), F.col("cd").alias("dst"))
        .agg(F.sum("w").alias("w"))
    )


def aggregate_graph_salted(edges: DataFrame, memb: DataFrame, salt: int = 16) -> DataFrame:
    """A9 with explicit hub salting (O7, SURVEY §7 hard-part 6): giant
    communities concentrate the (comm_src, comm_dst) key space, so the final
    aggregation is split into ``salt`` sub-keys first (partial sums spread
    across reducers), then combined. Same result as aggregate_graph; use for
    graphs whose largest community covers a large fraction of edges when AQE
    skew handling alone is not enough."""
    ms = memb.select(F.col("id").alias("src"), F.col("community").alias("cs"))
    md = memb.select(F.col("id").alias("dst"), F.col("community").alias("cd"))
    partial = (
        edges.join(ms, "src").join(md, "dst")
        .withColumn("_salt", F.pmod(F.xxhash64("src"), F.lit(salt)))
        .groupBy("cs", "cd", "_salt")
        .agg(F.sum("w").alias("w"))
    )
    return (
        partial.groupBy(F.col("cs").alias("src"), F.col("cd").alias("dst"))
        .agg(F.sum("w").alias("w"))
    )


def modularity_per_community(edges: DataFrame, memb: DataFrame, resolution: float = 1.0) -> DataFrame:
    """A14 (inc/properties.hxx:205-233) → (community, cin, ctot, q_c);
    Σ q_c is the graph modularity."""
    ms = memb.select(F.col("id").alias("src"), F.col("community").alias("cs"))
    md = memb.select(F.col("id").alias("dst"), F.col("community").alias("cd"))
    total = edges.agg(F.sum("w")).collect()[0][0]
    m2 = float(total)  # 2M
    return (
        edges.join(ms, "src").join(md, "dst")
        .groupBy(F.col("cs").alias("community"))
        .agg(
            F.sum(F.when(F.col("cs") == F.col("cd"), F.col("w")).otherwise(0.0)).alias("cin"),
            F.sum("w").alias("ctot"),
        )
        .withColumn(
            "q_c",
            F.col("cin") / F.lit(m2) - F.lit(resolution) * F.pow(F.col("ctot") / F.lit(m2), F.lit(2.0)),
        )
    )


def delta_modularity_candidates(edges: DataFrame, memb: DataFrame, M: float,
                                resolution: float = 1.0) -> DataFrame:
    """L1+L2 as one declarative relation → (id, community_from, community_to,
    gain): the strictly-positive best-gain move per vertex (scan + argmax),
    tie-break smallest target id. This IS one synchronous move round's
    decision set (deltaModularity inc/properties.hxx:253-256,
    leidenChooseCommunity inc/leiden.hxx:492-502)."""
    vt = vertex_weights(edges)
    ct = community_weights(edges, memb)
    sc_ = scan_communities(edges, memb)
    own = memb.select("id", F.col("community").alias("d"))
    vdout = (
        sc_.join(own, "id").filter(F.col("community") == F.col("d"))
        .select("id", F.col("vcout").alias("vdout"))
    )
    cand = (
        sc_.join(own, "id")
        .join(vt, "id")
        .join(ct.select(F.col("community"), F.col("ctot").alias("ctot_c")), "community")
        .join(ct.select(F.col("community").alias("d"), F.col("ctot").alias("ctot_d")), "d")
        .join(vdout, "id", "left").na.fill({"vdout": 0.0})
        .filter(F.col("community") != F.col("d"))
        .withColumn(
            "gain",
            (F.col("vcout") - F.col("vdout")) / F.lit(M)
            - F.lit(resolution) * F.col("vtot")
            * (F.col("vtot") + F.col("ctot_c") - F.col("ctot_d")) / F.lit(2.0 * M * M),
        )
        .filter(F.col("gain") > 0)
    )
    return cand.groupBy("id").agg(
        F.first("d").alias("community_from"),
        F.expr("max_by(community, struct(gain, -community))").alias("community_to"),
        F.max("gain").alias("gain"),
    )


def renumber_map_distributed(memb: DataFrame, num_partitions: int = 32):
    """Order-preserving dense rank of distinct communities WITHOUT a global
    window (R1 exclusive scan, inc/_vector.hxx:1496-1536): distinct ids are
    range-partitioned ascending, ranked locally per partition, and offset by
    an exclusive scan of the (one-row-per-partition) partition counts.
    Returns ((community, cnew) relabel map, distinct community count).

    Scale: the only driver traffic is ``num_partitions`` count rows; the
    heavy work is one range shuffle over the distinct-community set. A
    ``dense_rank().over(Window.orderBy(...))`` — an empty PARTITION BY —
    would funnel every distinct community through ONE task."""
    import numpy as np
    import pandas as pd

    comms = (
        memb.select("community").distinct()
        .repartitionByRange(num_partitions, "community")
        .localCheckpoint(eager=True)       # pin sampled range boundaries
    )
    with_pid = comms.withColumn("pid", F.spark_partition_id())
    counts = {int(r["pid"]): int(r["n"]) for r in
              with_pid.groupBy("pid").agg(F.count("*").alias("n")).collect()}
    cn = sum(counts.values())
    offsets = {}
    acc = 0
    for pid in range(max(counts) + 1 if counts else 0):
        offsets[pid] = acc
        acc += counts.get(pid, 0)

    @task_entry
    def rank(batches):
        rows = [b for b in batches]
        if not rows:
            return
        df = pd.concat(rows, ignore_index=True).sort_values("community")
        base = offsets.get(int(df["pid"].iloc[0]), 0)
        yield pd.DataFrame({
            "community": df["community"].to_numpy(),
            "cnew": np.arange(base, base + len(df), dtype="int64"),
        })

    relab = with_pid.mapInPandas(rank, "community long, cnew long")
    return relab, cn


def renumber_communities(memb: DataFrame) -> DataFrame:
    """R2 order-preserving dense renumber (inc/leiden.hxx:1000-1005) →
    (id, community) with communities 0..C-1 ranked by old id.

    Routed through the distributed two-phase rank — the same plan shape the
    Leiden pass loop uses — so no single-task global-window exchange appears
    even at 10^8+ distinct communities."""
    relabel, _ = renumber_map_distributed(memb)
    return memb.join(relabel, "community").select("id", F.col("cnew").alias("community"))


def flatten_dendrogram(outer: DataFrame, inner: DataFrame) -> DataFrame:
    """R3 lookupCommunities (inc/leiden.hxx:898-904)."""
    m = inner.select(F.col("id").alias("community"), F.col("community").alias("cnew"))
    return outer.join(m, "community").select("id", F.col("cnew").alias("community"))


def degrees(edges: DataFrame) -> DataFrame:
    """V4 degreesW (inc/properties.hxx:26-55)."""
    return edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("degree"))


def count_value(df: DataFrame, col: str, value) -> DataFrame:
    """A15 countValue (inc/_vector.hxx:742-760)."""
    return df.filter(F.col(col) == F.lit(value)).agg(F.count("*").alias("n"))


def disconnected_communities(edges: DataFrame, memb: DataFrame) -> DataFrame:
    """V3 communitiesDisconnected (inc/properties.hxx:379-401) → one row
    (disconnected, total): communities whose induced subgraph is not
    connected. Runs connected components restricted to intra-community
    edges, then compares per-community label counts to 1."""
    from .companions import connected_components

    ms = memb.select(F.col("id").alias("src"), F.col("community").alias("cs"))
    md = memb.select(F.col("id").alias("dst"), F.col("community").alias("cd"))
    intra = (
        edges.join(ms, "src").join(md, "dst")
        .filter(F.col("cs") == F.col("cd")).select("src", "dst", "w")
    )
    cc = connected_components(intra)
    labels_per_comm = (
        memb.join(cc, "id", "left")
        .groupBy("community")
        .agg(F.countDistinct(F.coalesce(F.col("component"), F.col("id"))).alias("n_cc"))
    )
    return labels_per_comm.agg(
        F.sum(F.when(F.col("n_cc") > 1, 1).otherwise(0)).alias("disconnected"),
        F.count("*").alias("total"),
    )
