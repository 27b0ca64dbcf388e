"""North-rule companion operators sharing the canonical edge table:
PageRank, connected components, label propagation, triangle count
(SURVEY.md §2.6).

Routing, the rule pages ingestion and ``leiden_scale`` apply too: every
public operator first collects at most ``materialize.DRIVER_ROWS + 1``
rows of (src, dst) through Arrow (``materialize.collect_small``). A table
of at most ``materialize.DRIVER_ROWS`` rows is finished in numpy on the driver and
returned through ``spark.createDataFrame``; on such a table the DataFrame
loops below cost a Spark job per step for milliseconds of work. A larger
table runs the pure-DataFrame loops (no Python in their hot path), which
are the scale path. Both routes give the same rows and schema
(tests/test_companions.py pins the parity).

Every operator is deterministic (fixed iteration counts or fixed-point with
deterministic tie-breaks) so the DuckDB oracles in __spark_entry__.py can
match values exactly.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .materialize import collect_small
from .materialize import materialize as _materialize_reset


def _vertices(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def _materialize(df: DataFrame) -> DataFrame:
    # stats-resetting checkpoint: see operators/materialize.py — without it
    # every iteration of these loops gets slower (compounding join stats)
    return _materialize_reset(df)


# closed-wedge lookups per triangle chunk: bounds the driver's scratch arrays
# (a few int64 arrays of this length) whatever the wedge count
_WEDGE_CHUNK = 1 << 21


def _small_graph(edges: DataFrame):
    """The routing probe: one limited collect of (src, dst). Returns
    ``(vid, s, d)`` — the sorted distinct ids and each row's endpoints as
    positions into them — when the table takes the driver route, else
    None. Positions preserve id order, so every smallest-id rule below
    compares positions."""
    pdf = collect_small(edges.select("src", "dst"))
    if pdf is None:
        return None
    src, dst = pdf["src"].to_numpy(), pdf["dst"].to_numpy()
    vid = np.unique(np.concatenate([src, dst]))
    return vid, np.searchsorted(vid, src), np.searchsorted(vid, dst)


def _driver_frame(edges: DataFrame, cols: dict, ddl: str) -> DataFrame:
    """The driver route's result. ``ddl`` may name ``{id}``: the type the
    DataFrame route gives ids (src and dst's common type)."""
    import pandas as pd

    id_type = _vertices(edges).schema["id"].dataType.simpleString()
    return edges.sparkSession.createDataFrame(pd.DataFrame(cols), ddl.format(id=id_type))


def pagerank(edges: DataFrame, iterations: int = 5, damping: float = 0.85) -> DataFrame:
    """Fixed-iteration PageRank on the directed edge table → (id, rank).

    rank_{t+1}(v) = (1-d)/N + d * (Σ_{u→v} rank_t(u)/outdeg(u) + dangling_t/N)

    Scale design: ``ranks`` is the small relation (|V|), re-joined to the
    static ``edges``; contributions aggregate with map-side combine; AQE
    splits hub-destination skew. The dangling-mass term is a one-row
    aggregate folded into the same iteration DAG via a broadcast
    nested-loop join — NO per-iteration driver collect, so each iteration
    is exactly one action (the eager materialization); at 1000 executors
    that removes a full |V|-scan job + driver round-trip per iteration.
    Deterministic for a fixed iteration count.
    """
    small = _small_graph(edges)
    if small is not None:
        vid, s, d = small
        n = len(vid)
        rank = np.full(n, 1.0 / max(n, 1))
        outdeg = np.bincount(s, minlength=n)      # duplicates and self-loops count
        dangling = outdeg == 0
        for _ in range(iterations if n else 0):
            inflow = np.bincount(d, weights=rank[s] / outdeg[s], minlength=n)
            rank = (1.0 - damping) / n + damping * (inflow + rank[dangling].sum() / float(n))
        return _driver_frame(edges, {"id": vid, "rank": rank}, "id {id}, rank double")
    verts = _materialize(_vertices(edges))
    n = verts.count()
    if n == 0:  # empty edge table (e.g. a filter matched nothing)
        return verts.withColumn("rank", F.lit(0.0))
    outdeg = _materialize(
        edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("outdeg")))
    ranks = verts.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iterations):
        rd = ranks.join(outdeg, "id", "left")
        # dangling mass as a 1-row relation inside the plan (not collected)
        dang = rd.filter(F.col("outdeg").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm"))
        contrib = (
            edges.join(rd.select(F.col("id").alias("src"), "rank", "outdeg"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("inflow"))
        )
        ranks = _materialize(
            verts.join(contrib, "id", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "id",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce(F.col("inflow"), F.lit(0.0)) + F.col("_dm") / F.lit(float(n)))
                ).alias("rank"),
            )
        )
    return ranks


def connected_components(edges: DataFrame, max_rounds: int = 60) -> DataFrame:
    """Connected components → (id, component = smallest member id)."""
    labels, _ = connected_components_with_stats(edges, max_rounds)
    return labels


def _edge_sig(e: DataFrame):
    """(count, checksum1, checksum2) of a distinct edge set in ONE
    aggregation action — the convergence probe. Two independent modular
    hash sums make a silent collision (set changed, all three equal)
    astronomically unlikely; no second join+count job per round."""
    c1, c2 = e.columns[:2]
    row = e.agg(
        F.count("*").alias("n"),
        F.sum(F.pmod(F.xxhash64(c1, c2), F.lit(2**40))).alias("h1"),
        F.sum(F.pmod(F.xxhash64(c2, c1, F.lit(7)), F.lit(2**40))).alias("h2"),
    ).collect()[0]
    return (int(row["n"]), int(row["h1"] or 0), int(row["h2"] or 0))


def connected_components_with_stats(edges: DataFrame, max_rounds: int = 60):
    """Alternating large-star/small-star connected components → ((id,
    component), rounds). O(log n) rounds on ANY diameter (road networks,
    kmer graphs, paths) vs O(diameter) for naive min-label exchange — the
    reference's own benchmark set includes europe_osm/asia_osm with
    diameters in the thousands, where the naive exchange would run
    thousands of shuffle rounds.

    Invariant: the working edge set ``ee`` holds ordered pairs (u, v) with
    u > v. large-star hooks every big neighbor of u to u's min neighbor;
    small-star re-points all small neighbors (and u) at the min. At the
    fixed point every edge is (member, component-min) — a star forest.
    Convergence is detected from the SAME materialized result via a single
    (count, checksum, checksum) aggregation, not a second join+count job.

    Scale: each round = 2 shuffles (groupBy min + distinct) over a set that
    only shrinks after the first rounds; AQE handles the star-root skew
    (the component-min key concentrates, exactly what skew-join splitting
    is for).

    Driver route: min-root hooking plus pointer jumping, which is not
    bounded by the diameter either (each round leaves one root per local
    minimum of the contracted graph); ``rounds`` counts its hooking rounds.
    """
    small = _small_graph(edges)
    if small is not None:
        vid, s, d = small
        keep = s != d
        u, v = s[keep], d[keep]
        root = np.arange(len(vid))
        rounds = 0
        while rounds < max_rounds:
            ru, rv = root[u], root[v]
            if np.array_equal(ru, rv):
                break
            rounds += 1
            # every root with a smaller neighbouring root hooks onto the
            # smallest one; a component's minimum is never hooked, so it
            # ends as the component's root
            np.minimum.at(root, np.maximum(ru, rv), np.minimum(ru, rv))
            while True:                           # pointer jumping to stars
                nxt = root[root]
                if np.array_equal(nxt, root):
                    break
                root = nxt
        labels = _driver_frame(edges, {"id": vid, "component": vid[root]},
                               "id {id}, component {id}")
        return labels, rounds
    ee = _materialize(
        edges.filter(F.col("src") != F.col("dst"))
        .select(F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v"))
        .distinct()
    )
    rounds = 0
    prev_sig = _edge_sig(ee)
    for _ in range(max_rounds):
        # large-star: group neighborhoods over BOTH orientations; attach
        # strictly-larger neighbors to m = min(N(u) ∪ {u})
        nbrs = ee.select("u", "v").unionByName(
            ee.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mm = nbrs.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        ls = (
            nbrs.join(mm, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: group by the big endpoint; re-point u and all its
        # smaller neighbors at m = min of the group
        sm = ls.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            ls.join(sm, "u")
            .select(
                F.array(
                    F.struct(F.col("u").alias("u"), F.col("m").alias("v")),
                    F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
                ).alias("pairs")
            )
            .select(F.explode("pairs").alias("p"))
            .select(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        ee = _materialize(ss)
        rounds += 1
        sig = _edge_sig(ee)
        if sig == prev_sig:
            break
        prev_sig = sig
    labels = (
        _vertices(edges)
        .join(ee.select(F.col("u").alias("id"), F.col("v").alias("root")), "id", "left")
        .select("id", F.coalesce(F.col("root"), F.col("id")).alias("component"))
    )
    return labels, rounds


def label_propagation(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """Synchronous LPA, fixed round count → (id, label).

    Each round every vertex takes the most frequent label among its
    neighbors (previous round's labels), ties broken by the smallest label —
    fully deterministic, and exactly expressible in SQL for the oracle.
    Vertices keep their label when they have no neighbors.
    """
    small = _small_graph(edges)
    if small is not None:
        vid, s, d = small
        n = len(vid)
        label = np.arange(n)
        for _ in range(rounds):
            pair, cnt = np.unique(s * n + label[d], return_counts=True)
            ps, pl = np.divmod(pair, n)
            # per src: the highest count first, then the smallest label
            order = np.lexsort((pl, -cnt, ps))
            ps, pl = ps[order], pl[order]
            _, first = np.unique(ps, return_index=True)
            label[ps[first]] = pl[first]
        return _driver_frame(edges, {"id": vid, "label": vid[label]}, "id {id}, label {id}")
    labels = _vertices(edges).withColumn("label", F.col("id"))
    labels = _materialize(labels)
    for _ in range(rounds):
        counted = (
            edges.join(labels.select(F.col("id").alias("dst"), "label"), "dst")
            .groupBy(F.col("src").alias("id"), "label")
            .agg(F.count("*").alias("cnt"))
        )
        w = Window.partitionBy("id").orderBy(F.desc("cnt"), F.asc("label"))
        top = counted.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
        labels = _materialize(
            labels.select("id", F.col("label").alias("old"))
            .join(top.select("id", "label"), "id", "left")
            .select("id", F.coalesce("label", "old").alias("label"))
        )
    return labels


def _oriented(edges: DataFrame) -> DataFrame:
    """Undirected edge set oriented low→high by (degree, id) → (src, dst).

    Degree ordering (not id ordering) is what makes the wedge self-join
    survive web-graph hubs: every vertex's oriented out-degree is bounded by
    ~sqrt(2m), so the join on the middle vertex generates O(m^1.5) wedge
    rows in the worst case instead of deg(hub)^2 — a 10^5-degree hub under
    id ordering keeps up to its full degree as out-neighbors and alone
    yields 10^10 wedges. Same triangle set either way."""
    und = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().filter(F.col("src") != F.col("dst"))
    deg = und.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("deg"))
    keyed = (
        und.join(deg.select(F.col("id").alias("src"), F.col("deg").alias("ds")), "src")
        .join(deg.select(F.col("id").alias("dst"), F.col("deg").alias("dd")), "dst")
    )
    lower = (F.col("ds") < F.col("dd")) | (
        (F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst")))
    # each undirected pair appears in BOTH directions in `und`; keep the one
    # where src is the (degree, id)-smaller endpoint
    return keyed.filter(lower).select("src", "dst")


def _driver_triangles(s, d, n: int):
    """Per-position triangle counts of the driver route: the ``_oriented``
    edge set in positions, then every oriented wedge a→b→c looked up as the
    edge a→c by ``searchsorted`` on the sorted oriented keys, at most
    ``_WEDGE_CHUNK`` wedges at a time."""
    keep = s != d
    lo, hi = np.divmod(np.unique(np.minimum(s[keep], d[keep]) * n
                                 + np.maximum(s[keep], d[keep])), n)
    deg = np.bincount(lo, minlength=n) + np.bincount(hi, minlength=n)
    flip = deg[lo] > deg[hi]          # equal degrees: lo < hi already orders by id
    key = np.sort(np.where(flip, hi, lo) * n + np.where(flip, lo, hi))
    a, b = np.divmod(key, n)          # sorted by a: out(x) = b[ptr[x]:ptr[x+1]]
    ptr = np.searchsorted(a, np.arange(n + 1))
    fan = ptr[b + 1] - ptr[b]         # wedges a→b→c through each oriented a→b
    before = np.concatenate(([0], np.cumsum(fan)))
    per = np.zeros(n, dtype=np.int64)
    e0 = 0
    while e0 < len(key):
        e1 = max(e0 + 1, int(np.searchsorted(before, before[e0] + _WEDGE_CHUNK,
                                             side="right")) - 1)
        f = fan[e0:e1]
        # wedge t of the chunk is wedge t - (before[e] - before[e0]) of its
        # edge e, whose c's are b[ptr[b[e]]:ptr[b[e] + 1]]
        c = b[np.repeat(ptr[b[e0:e1]] - (before[e0:e1] - before[e0]), f)
              + np.arange(int(f.sum()))]
        wa, wb = np.repeat(a[e0:e1], f), np.repeat(b[e0:e1], f)
        wk = wa * n + c
        hit = key[np.minimum(np.searchsorted(key, wk), len(key) - 1)] == wk
        for x in (wa[hit], wb[hit], c[hit]):
            per += np.bincount(x, minlength=n)
        e0 = e1
    return per


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count → single row (triangles long).

    Orient each undirected edge once by (degree, id), then count length-2
    oriented paths a→b→c closed by (a,c): each triangle counted exactly
    once. Two shuffle joins; the wedge join's per-middle-vertex fan-out is
    bounded by the oriented out-degree ≈ sqrt(2m) (see _oriented)."""
    small = _small_graph(edges)
    if small is not None:
        vid, s, d = small
        tri = int(_driver_triangles(s, d, len(vid)).sum()) // 3
        return _driver_frame(edges, {"triangles": [tri]}, "triangles long")
    o = _oriented(edges)
    ab = o.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = o.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ac = o.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    paths = ab.join(bc, "b")
    tri = paths.join(ac, ["a", "c"], "left_semi")
    return tri.agg(F.count("*").alias("triangles"))


def triangle_count_per_vertex(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle participation → (id, triangles), vertices in at
    least one triangle only."""
    small = _small_graph(edges)
    if small is not None:
        vid, s, d = small
        per = _driver_triangles(s, d, len(vid))
        nz = per > 0
        return _driver_frame(edges, {"id": vid[nz], "triangles": per[nz]},
                             "id {id}, triangles long")
    o = _oriented(edges)
    ab = o.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = o.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ac = o.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tris = ab.join(bc, "b").join(ac, ["a", "c"], "left_semi")  # (a,b,c) triangles
    per = (
        tris.select(F.col("a").alias("id"))
        .unionByName(tris.select(F.col("b").alias("id")))
        .unionByName(tris.select(F.col("c").alias("id")))
        .groupBy("id").agg(F.count("*").alias("triangles"))
    )
    return per
