"""Distributed Leiden/Louvain (scale mode) — idiomatic PySpark.

This is the 100 TB path. Exact-label parity with the reference is the job of
the deterministic-match kernel (operators/kernel.py); this module preserves
the *pass-level contract* of the reference pipeline
(inc/leiden.hxx:1192-1305):

- tolerance schedule: E = 1e-2, E /= 10 per pass (inc/leiden.hxx:1295)
- round convergence when the gain l1-norm <= E (inc/leiden.hxx:1228)
- refinement: singleton re-init + one constrained sweep bounded by the
  local-move result (inc/leiden.hxx:1259-1268)
- aggregation-tolerance early exit CN/GN >= 0.8 (inc/leiden.hxx:1271-1275)
- order-preserving dense renumbering (inc/leiden.hxx:1276-1277)
- dendrogram flattening ucom[u] = vcom[ucom[u]] (inc/leiden.hxx:1278-1279)
- max 20 move rounds / pass, max 10 passes (inc/leiden.hxx:62)

ONE pass loop (``leiden_scale``) owns that contract — resume, driver-finish
routing, the stop rule, the tolerance schedule, the checkpoint handoff, the
final modularity and cleanup — and runs each distributed pass through one
of two move backends, each supplying only its move + refine, renumber and
aggregate steps:

1. ``sweep`` (``_SweepPass``, default while the graph is big): partitioned
   Gauss-Seidel — edges range-partitioned into contiguous degree-balanced
   vertex-id blocks (CSR-style adjacency partitions; web link graphs and
   every renumbered super-graph have id locality, so most neighborhoods are
   partition-local), one ``mapInPandas`` job per coarse round sweeping
   every partition against a broadcast state snapshot (operators/sweep.py,
   C-accelerated hot loop in operators/_ckernel.py). The Spark analogue of
   the reference's per-thread async loop (inc/leiden.hxx:646-668).
2. ``rounds`` (``_RoundsPass``): pure-DataFrame bulk-synchronous rounds (A4
   join-agg + argmax via max_by). Unbounded state (no broadcast), one
   shuffle chain per round; the fallback beyond ~10^9 vertices, and the
   reference plan for the correctness-gated operator queries.

Either backend hands over to the driver finish once the aggregated graph
fits trivially in the driver (late passes — super-graphs shrink
geometrically): the deterministic kernel finishes it. Mirrors the
reference's own switch from DiGraph to packed CSR after pass 1
(inc/leiden.hxx:1249-1250).

Physical design per sweep round: the only big relation (edges) is shuffled
ONCE per pass (range repartition, then reused persisted, int32/float32
transport when ids fit); each round ships O(|V|) broadcast state out and
O(net movers) rows back, with rounds after a small frontier aff-seeded so
the in-task work is O(frontier). Per-pass driver state (vtot) is carried
from the previous pass's community weights instead of recomputed. Degree
skew is handled by degree-balanced range cuts; giant-community aggregation
skew by AQE (the groupBy(cs,cd) shuffle).
"""

from __future__ import annotations

import logging
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._worker import task_entry
from .aggregations import renumber_map_distributed, vertex_weights
from .kernel import CsrGraph, LeidenOptions, leiden_exact
from .materialize import DRIVER_ROWS, materialize
from .sweep import DriverState, sweep_partition

_MOVES_SCHEMA = "id long, community_new long, gain double, blocked int"

log = logging.getLogger(__name__)

_PART_LABELS: dict[int, list[int]] = {}


def _partition_labels(spark: SparkSession, p: int) -> list[int]:
    """For each target partition i in 0..p-1, a long label L_i with
    ``pmod(hash(L_i), p) == i`` under Spark's Murmur3 ``hash``. Tagging each
    edge with the label of its range bucket and hash-repartitioning on the
    tag places bucket i exactly in partition i — explicit, deterministic
    range placement through the stock HashPartitioning (no sampling, so
    results are bit-identical across core counts, unlike
    ``repartitionByRange`` whose reservoir-sampled boundaries may shift with
    upstream parallelism)."""
    if p not in _PART_LABELS:
        rows = (
            spark.range(0, 64 * p)
            .select(F.col("id"), F.pmod(F.hash(F.col("id")), F.lit(p)).alias("h"))
            .groupBy("h").agg(F.min("id").alias("label"))
            .collect()
        )
        by_h = {int(r["h"]): int(r["label"]) for r in rows}
        assert len(by_h) == p, f"hash label search incomplete: {len(by_h)}/{p}"
        _PART_LABELS[p] = [by_h[i] for i in range(p)]
    return _PART_LABELS[p]


def _range_partition_edges(spark: SparkSession, g: DataFrame, vid, weight, p: int) -> DataFrame:
    """CSR-style adjacency partitions: contiguous vertex-id ranges with
    ~equal total degree per partition. Web link graphs (and every renumbered
    super-graph) have strong id locality, so range placement keeps most of a
    vertex's neighborhood partition-local — the partition sweep then runs
    fresh Gauss-Seidel instead of damped stale rounds. Boundaries come from
    the driver's exact degree-cumsum percentiles (deterministic), applied as
    a pure column expression (a balanced comparison tree over the cut ids —
    no join).

    When ids fit, (src,dst) ship as int32 and w as float32 through the
    Arrow feed — halves the per-round executor transfer. The float32 edge
    weight matches the reference's TYPE=float input width
    (main.cxx:16-19); all accumulation stays float64 in the kernel."""
    import numpy as np

    vid = np.asarray(vid, dtype=np.int64)
    if len(vid) == 0:                                # no vertices: nothing to cut
        return g.repartition(p)
    cum = np.cumsum(weight)
    total = float(cum[-1]) if len(cum) else 0.0
    targets = np.linspace(0, total, p + 1)[1:-1]
    bounds_idx = np.searchsorted(cum, targets)       # vid index upper bounds
    cuts = vid[np.minimum(bounds_idx, len(vid) - 1)]
    labels = _partition_labels(spark, p)
    # bucket(src) = #{j : src >= cuts[j]} (cuts ascending) — identical to
    # "first i with src < cuts[i], else p-1" including duplicate-cut ties —
    # as a balanced binary search: log2(p) compiled compares per row. A
    # higher-order function (F.aggregate over the cuts) is interpreted, a
    # lambda call per row per cut: at 1M vertices and p=64 it made the
    # partition job ~4x slower; a (p-1)-deep nested CASE cost ~1-1.5s of
    # driver-side Column construction and analysis per pass. The cuts are
    # inlined literals: reading them with element_at from one array literal
    # gives the same plan, as Catalyst constant-folds each element_at.

    def bucket_in(lo: int, hi: int):
        # bucket(src), given that it lies in [lo, hi]
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(F.col("src") >= int(cuts[mid]), bucket_in(mid + 1, hi)) \
            .otherwise(bucket_in(lo, mid))

    bucket = bucket_in(0, len(cuts))
    # the tag must be LONG: _partition_labels solves pmod(hash(long), p)==i,
    # and Murmur3 hashes int32 and int64 differently. The old nested-CASE
    # emitted int32 tags, so the solved bucket→partition bijection silently
    # never held — 64 buckets landed in ~40 partitions, and a task carrying
    # 2-3 buckets was the move-round straggler on every witness run.
    expr = F.element_at(F.lit(labels).cast("array<long>"), bucket + F.lit(1))
    cols = [F.col("src"), F.col("dst"), F.col("w")]
    if int(vid[-1]) < 2**31 - 1:
        cols = [F.col("src").cast("int"), F.col("dst").cast("int"),
                F.col("w").cast("float")]
    return (
        g.select(*cols, expr.alias("_part"))
        .repartition(p, "_part").drop("_part")
        # "w" in the sort key: multigraph passes (poor-collapse aggregation)
        # can carry duplicate (src,dst) rows with distinct weights, and
        # float accumulation order must be deterministic across core counts
        .sortWithinPartitions("src", "dst", "w")
    )


@dataclass
class LeidenRunResult:
    """One ``leiden_scale`` run. ``metrics`` is a list of flat records, in
    run order (a resumed run's list starts with the committed run's records
    up to its resume pass); tests/test_scale_mode.py pins the schema.

    Phase records carry ``phase``:

    - ``setup``: ``seconds`` (edge projection, M, the weight and symmetry
      checks and, under ``strategy="auto"``, the vertex estimate);
    - ``strategy`` (``strategy="auto"`` only): ``chosen``, ``v_estimate``;
    - ``final_modularity``: ``seconds`` (0-ish when the driver kernel's Q is
      returned).

    Pass records carry ``pass`` (1-based, after the pass) and ``strategy``:

    - every distributed pass (``sweep`` or ``rounds``): ``move_iterations``,
      ``vertices``, ``communities``, ``edges`` (edge rows in), ``tolerance``,
      ``move_seconds``, ``refine_seconds``, ``pass_seconds`` (start of pass
      through refine), ``renumber_seconds``, ``aggregate_seconds`` (passes
      that continue only), and ``rounds``: one
      ``{seconds, movers, blocked, el, fed}`` per move round (``fed``: the
      round read only the frontier's edges);
    - ``sweep`` adds ``vt_seconds``, ``partition_seconds``,
      ``refine_job_seconds``, ``refine_apply_seconds``, ``driver_hop``
      (``{bcast, job_collect, rows_out, apply}``) and, on passes that
      continue, ``aggregate_salted`` and ``aggregate_multigraph``;
    - ``rounds`` adds ``refine_rounds``;
    - ``driver-kernel`` (the finish): ``vertices``, ``edges``,
      ``kernel_passes``, ``pass_seconds``."""
    membership: DataFrame                  # (id: long, community: long)
    modularity: float
    passes: int
    iterations: int
    M: float
    metrics: list[dict] = field(default_factory=list)


def community_weights(memb: DataFrame, vtot: DataFrame) -> DataFrame:
    """A3 (inc/leiden.hxx:252-263): ctot[c] = Σ member vtot."""
    return memb.join(vtot, "id").groupBy("community").agg(F.sum("vtot").alias("ctot"))


def modularity_df(edges: DataFrame, memb: DataFrame, M: float, resolution: float = 1.0,
                  n_vertices: int | None = None) -> float:
    """A14 (inc/properties.hxx:205-233): Q = Σ_c cin/(2M) − R·(ctot/(2M))²
    over the directed edge scan (each undirected edge twice).

    ``n_vertices`` (membership row count, when the caller knows it) lets the
    relabel joins take the broadcast-hash path instead of sort-merging the
    big edge relation twice — same plan-shape rule as the pass aggregation."""
    ms = _maybe_broadcast(
        memb.select(F.col("id").alias("src"), F.col("community").alias("cs")), n_vertices)
    md = _maybe_broadcast(
        memb.select(F.col("id").alias("dst"), F.col("community").alias("cd")), n_vertices)
    per_comm = (
        edges.join(ms, "src").join(md, "dst")
        .groupBy("cs")
        .agg(
            F.sum(F.when(F.col("cs") == F.col("cd"), F.col("w")).otherwise(0.0)).alias("cin"),
            F.sum("w").alias("ctot"),
        )
    )
    row = per_comm.select(
        F.sum(F.col("cin") / (2.0 * M) - resolution * F.pow(F.col("ctot") / (2.0 * M), F.lit(2.0))).alias("q")
    ).collect()[0]
    return float(row["q"] or 0.0)


_BROADCAST_VERTEX_LIMIT = 2_000_000   # rows; above this a per-task hash
                                      # build costs more than a shuffle join

# Relabel maps (id → community, two packed longs) are far narrower than the
# 48 B/row worst case the generic broadcast budget assumes: 8 M rows is a
# ~128 MB hash relation — one torrent ship per executor per PASS, vs THREE
# full shuffles of the big edge relation (sort by src, sort by dst, group)
# that the sort-merge plan costs. Measured on the 86 M-edge / 4 M-vertex
# witness (BENCH/profile_4m_unfed_8c.json): the pass-1 aggregate is the
# second-largest non-scaling phase precisely because 4 M rows fell past the
# generic limit. Executors smaller than ~4 GB should lower this.
_BROADCAST_RELABEL_LIMIT = 8_000_000

# Frontier-feed auto gate (edge rows per pass). The JVM frontier cut costs
# a fixed ~2 s/round of broadcast/distinct/job machinery regardless of data
# size (Amdahl fit in BENCH/BASELINE.md), while the full-feed round it
# replaces costs O(edge rows) Arrow transport (~0.3 s per M rows at 8
# cores). Below ~50 M rows the floor is a material fraction of the saving
# and hurts small-cluster core-scaling (measured 0.55 composed efficiency
# at 21.6 M edges, BENCH/scaling_frontier.json); above it the saving
# dominates (12 tail rounds × 6-32 s each on ≤12 k movers at 86 M rows,
# BENCH/profile_4m_unfed_8c.json). A pass at or above the gate feeds every
# round seeded below _AFF_SEED_FRACTION; a pass below it never feeds. Both
# constants are read at call time.
_FRONTIER_FEED_EDGE_GATE = 50_000_000

# A move round is aff-seeded (rescans only the recent movers, blocked
# vertices and their neighbors) when that union is below this fraction of
# the pass's vertices. A perf heuristic, not a correctness knob: a big
# frontier converges faster with a full re-equilibration round. The sweep
# seeds from a 2-round window (both directions of one cycle), rounds from a
# 4-round window (one full color x direction cycle).
_AFF_SEED_FRACTION = 0.02

# ``strategy="auto"`` picks the rounds backend when the estimated vertex
# count exceeds this: 3×10⁸ vertices ≈ 10 GB of driver/broadcast state at
# 4×8 B per vertex — beyond that the sweep's state shipping IS the
# bottleneck. Read at call time.
_ROUNDS_VERTEX_THRESHOLD = 300_000_000


def _broadcast_row_limit(spark: SparkSession, bytes_per_row: int = 48) -> int:
    """Row cutoff for force-broadcasting a 2-long-column relation, derived
    from spark.sql.autoBroadcastJoinThreshold (≈48B/row serialized: 16B data
    + object/container overhead). Forcing far past the session threshold
    ships 100MB+ through the driver per round — worse than the shuffle join
    it replaces."""
    try:
        raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "33554432")
        mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
        raw = raw.strip().lower().removesuffix("b")
        thr = int(raw[:-1]) * mult[raw[-1]] if raw[-1:] in mult else int(raw)
    except Exception:
        thr = 32 << 20
    if thr <= 0:                      # auto-broadcast disabled entirely
        return 0
    return max(thr // bytes_per_row, 100_000)


def _memb_from_positions_fn(bc):
    """mapInPandas generator over spark.range(|V|): position → (vid[pos],
    dense[pos]) — builds the pass-1 membership relation in parallel from
    the broadcast arrays instead of a driver-serial createDataFrame of
    |V| rows."""
    import pandas as pd

    @task_entry
    def gen(batches):
        v = bc.value
        vid, dense = v["vid"], v["dense"]
        for b in batches:
            pos = b["id"].to_numpy()
            yield pd.DataFrame({"id": vid[pos], "community": dense[pos]})

    return gen


def _compose_np_fn(bc):
    """mapInPandas generator: dendrogram flatten R3 — map ucom.community
    (pass-p vertex ids) through the broadcast (vid → dense) arrays; the
    numpy replacement for the _compose broadcast-join exchange."""
    import pandas as pd

    @task_entry
    def gen(batches):
        v = bc.value
        vid, dense = v["vid"], v["dense"]
        n = len(vid)
        for b in batches:
            ids = b["id"].to_numpy()
            c = b["community"].to_numpy().astype(np.int64, copy=False)
            ci = np.minimum(np.searchsorted(vid, c), n - 1)
            ok = vid[ci] == c
            if not ok.all():           # inner-join parity (never in practice)
                ids, ci = ids[ok], ci[ok]
            yield pd.DataFrame({"id": ids, "community": dense[ci]})

    return gen


def _maybe_broadcast(df: DataFrame, n_rows: int | None) -> DataFrame:
    """Broadcast-hint relabel maps up to _BROADCAST_RELABEL_LIMIT rows (two
    packed longs each — see the constant's sizing note); past the limit let
    AQE plan the join (sort-merge / shuffled-hash with skew handling)."""
    if n_rows is not None and n_rows <= _BROADCAST_RELABEL_LIMIT:
        return F.broadcast(df)
    return df


def _compose(outer: DataFrame, inner: DataFrame, n_inner: int | None = None) -> DataFrame:
    """Dendrogram flattening R3 (inc/leiden.hxx:898-904):
    outer.community := inner[outer.community]."""
    m = _maybe_broadcast(
        inner.select(F.col("id").alias("community"), F.col("community").alias("cnew")),
        n_inner)
    return outer.join(m, "community").select("id", F.col("cnew").alias("community"))


def _move_round(edges: DataFrame, memb: DataFrame, vtot: DataFrame, ctot: DataFrame,
                M: float, R: float, aff: DataFrame | None = None,
                bound: DataFrame | None = None, refine: bool = False,
                direction: int = 0, broadcast_ctot: bool = True,
                src_pred=None) -> DataFrame:
    """One bulk-synchronous local-move round (``rounds`` strategy) → moves
    (id, community_new, gain): strictly-positive-gain argmax over scanned
    communities (L1+L2: inc/properties.hxx:253-256, inc/leiden.hxx:492-502)
    against the round-start snapshot; ties broken by smallest target id.

    ``direction``: -1/+1 restricts moves to strictly smaller/larger target
    community ids — alternating the sign per round makes synchronous
    two-vertex swap cycles impossible (a swap needs one down- AND one
    up-move in the same round). With direction != 0, a vertex whose ONLY
    positive candidates are direction-blocked is still emitted, with
    ``gain`` NULL (and community_new = its best blocked target) — callers
    filter those out of the applied moves but keep them in the affected
    seed so the move is retried when the direction flips.
    ``broadcast_ctot=False`` lets AQE plan the ctot joins instead of
    forcing a broadcast — required past ~10⁸ communities where the
    broadcast itself is the ceiling. ``src_pred``: an arithmetic per-vertex
    predicate (a Column over ``src``, e.g. a hash-color class) applied as a
    whole-stage-codegen FILTER on the edge scan — set membership that is a
    pure function of the id needs no materialized table and no semi-join."""
    # O(|V|) state relations (membership, weights, bounds) are explicitly
    # broadcast under the same budget flag as ctot: stats-reset checkpoints
    # carry DEFAULT size estimates, so without the hint Catalyst shuffle-
    # joins the (huge) edge relation against each tiny state table — the
    # exact join shape this strategy exists to avoid below ~10⁸ vertices
    hint = F.broadcast if broadcast_ctot else (lambda df: df)
    ms = hint(memb.select(F.col("id").alias("src"), F.col("community").alias("d")))
    md = hint(memb.select(F.col("id").alias("dst"), F.col("community").alias("cd")))

    e = edges.filter(F.col("src") != F.col("dst"))  # scan skips self (inc/leiden.hxx:414)
    if src_pred is not None:
        e = e.filter(src_pred)
    if aff is not None:
        e = e.join(hint(aff.select(F.col("id").alias("src"))), "src", "left_semi")
    if refine and bound is not None:
        bs = hint(bound.select(F.col("id").alias("src"), F.col("bound").alias("bs")))
        bd = hint(bound.select(F.col("id").alias("dst"), F.col("bound").alias("bd")))
        e = e.join(bs, "src").join(bd, "dst").filter(F.col("bs") == F.col("bd")).drop("bs", "bd")

    vcout = e.join(md, "dst").groupBy("src", "cd").agg(F.sum("w").alias("vcout"))  # A4
    cand = (
        vcout.join(ms, "src")
        .join(hint(vtot.select(F.col("id").alias("src"), "vtot")), "src")
        .join(hint(ctot.select(F.col("community").alias("cd"), F.col("ctot").alias("ctot_c"))), "cd")
        .join(hint(ctot.select(F.col("community").alias("d"), F.col("ctot").alias("ctot_d"))), "d")
    )
    # vdout (the tally of u's own community) via a per-vertex window over the
    # SAME scan result — NOT a second join against the A4 subtree: the tally
    # is the round's dominant cost and a re-join would recompute it
    w_src = Window.partitionBy("src")
    cand = cand.withColumn(
        "vdout",
        F.max(F.when(F.col("cd") == F.col("d"), F.col("vcout")).otherwise(F.lit(0.0))).over(w_src),
    )
    if refine:
        cand = cand.filter(F.col("ctot_d") <= F.col("vtot"))  # singleton source (inc/leiden.hxx:590)

    gain = (
        (F.col("vcout") - F.col("vdout")) / F.lit(M)
        - F.lit(R) * F.col("vtot") * (F.col("vtot") + F.col("ctot_c") - F.col("ctot_d")) / F.lit(2.0 * M * M)
    )
    scored = (
        cand.filter(F.col("cd") != F.col("d"))
        .withColumn("gain", gain).filter(F.col("gain") > 0)
    )
    if direction > 0:
        allowed = F.col("cd") > F.col("d")
    elif direction < 0:
        allowed = F.col("cd") < F.col("d")
    else:
        allowed = F.lit(True)
    # one aggregation serves both outputs: allowed candidates outrank
    # blocked ones in the argmax, and gain aggregates over allowed only —
    # so gain NULL ⟺ every positive candidate was direction-blocked;
    # gain_blocked (best blocked gain) keeps the pending improvement
    # visible to the caller's convergence measure
    return scored.withColumn("allowed", allowed).groupBy("src").agg(
        F.expr("max_by(cd, struct(allowed, gain, -cd))").alias("community_new"),
        F.max(F.when(F.col("allowed"), F.col("gain"))).alias("gain"),
        F.max(F.when(~F.col("allowed"), F.col("gain"))).alias("gain_blocked"),
    ).select(F.col("src").alias("id"), "community_new", "gain", "gain_blocked")


def _driver_finish(spark: SparkSession, g: DataFrame, R: float, E: float,
                   o: LeidenOptions, refine: bool, passes_used: int):
    """Finish a small (post-coarsening) graph with the deterministic kernel
    on the driver — mirrors the reference's own switch to a packed CSR after
    pass 1 (inc/leiden.hxx:1249-1250). Returns (memb_df, n_vertices, sub)."""
    import pandas as pd

    pdf = g.toPandas()
    src, dst = pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64)
    w = pdf["w"].to_numpy(np.float64)
    vid = np.unique(np.concatenate([src, dst]))
    src_i = np.searchsorted(vid, src)
    dst_i = np.searchsorted(vid, dst)
    # CSR rows in (src, dst, w) order — the kernel's adjacency order
    order = np.lexsort((w, dst_i, src_i))
    indptr = np.concatenate(([0], np.cumsum(np.bincount(src_i, minlength=len(vid)))))
    csr = CsrGraph(len(vid), indptr.tolist(), dst_i[order].tolist(), w[order].tolist(),
                   [True] * len(vid))
    sub = leiden_exact(csr, LeidenOptions(
        resolution=R, tolerance=E, aggregation_tolerance=o.aggregation_tolerance,
        tolerance_drop=o.tolerance_drop, max_iterations=o.max_iterations,
        max_passes=max(o.max_passes - passes_used, 1)), refine=refine)
    memb_df = spark.createDataFrame(
        pd.DataFrame({"id": vid, "community": np.asarray(sub.membership, dtype=np.int64)}),
        "id long, community long")
    return memb_df, len(vid), sub


def _committed_counts(checkpointer, p: int, g: DataFrame) -> tuple[int, int]:
    """(edge rows, vertices) of committed pass ``p``'s graph ``g``, from its
    ``_metrics.json``; a key the pass was written without is counted."""
    meta = checkpointer.meta(p)
    n_edges = meta.get("edge_rows")
    n_vertices = meta.get("vertices")
    if n_edges is None:
        n_edges = g.count()
    if n_vertices is None:
        n_vertices = g.select("src").distinct().count()
    return int(n_edges), int(n_vertices)


def _checkpoint_handoff(spark: SparkSession, checkpointer, p: int, ucom: DataFrame,
                        g: DataFrame, E: float, total_iters: int, metrics: list,
                        n_vertices: int):
    """The pass handoff of a resumable run: commit pass ``p`` from the
    UNMATERIALIZED dendrogram and aggregate plans — each Parquet write is
    the one Spark job that computes its relation — and continue from the
    committed files, exactly as a resume from ``p`` would. Returns
    (ucom, g, n_edges, n_vertices) for the next pass."""
    checkpointer.save(p, ucom, g, E, total_iters, metrics, vertices=n_vertices)
    ucom, g = checkpointer.load(spark, p)
    return (ucom, g) + _committed_counts(checkpointer, p, g)


class _PassStep:
    """One move backend's part of a distributed pass; the pass loop in
    ``leiden_scale`` owns the rest of the pass contract. Per pass the loop
    calls ``move`` (vertex weights, local-move rounds, refinement → move
    iterations, vertices, metrics fields), ``renumber`` (dense order-
    preserving labels composed onto the dendrogram → its plan and the
    community count) and, on a pass that continues, ``aggregate`` (→ the
    next pass's graph plan, its row count when handed over lazily, metrics
    fields), then ``end_pass`` after the aggregate is materialized or
    committed. ``close`` runs on every exit path."""

    def __init__(self, spark: SparkSession, M: float, o: LeidenOptions, refine: bool,
                 num_partitions: int, local_iters: int):
        self.spark, self.M, self.o, self.refine = spark, M, o, refine
        self.num_partitions, self.local_iters = num_partitions, local_iters

    def end_pass(self):
        pass

    def close(self):
        pass


class _SweepPass(_PassStep):
    """``sweep`` backend: broadcast-state partitioned Gauss-Seidel. The
    driver holds the per-vertex state (vid, vtot, comm, ctot) as numpy
    arrays; pass ≥ 2 vertex weights are the previous pass's community
    weights, carried across the pass boundary instead of recomputed."""

    name = "sweep"

    def __init__(self, *args):
        super().__init__(*args)
        self.carried: tuple | None = None          # (vid, vtot) for passes ≥ 2
        self.part_edges: DataFrame | None = None
        self.pending_unpersist: DataFrame | None = None  # prev pass's part_edges feeding a lazy g
        self.lazy = False                          # was the last handoff lazy?
        # per-pass relabel broadcasts: a LAZY multigraph g references its
        # pass's broadcast from inside a pickled mapInPandas function, so the
        # Python Broadcast object must stay referenced until that plan has
        # executed — dropping it would let the ContextCleaner destroy it
        # under the deferred plan. Drained once the next pass's shuffle has
        # consumed the plan; destroyed in close().
        self.rel_keepalive: list = []

    def move(self, g: DataFrame, n_edges: int, E: float, p: int):
        # plain locals: the task lambda below must not capture self, which
        # holds the SparkSession
        spark, M, R = self.spark, self.M, self.o.resolution
        sc, num_partitions = spark.sparkContext, self.num_partitions
        local_iters = self.local_iters
        self.n_edges = n_edges
        t_ph = time.time()
        if self.carried is None:
            # A2 from the edge table (first pass / resume). Arrow
            # collect + numpy argsort: skips the pandas block
            # consolidation and sort_values copy of the |V|-row collect
            # (src is unique, so a stable argsort is exactly
            # sort_values' order — values bit-identical)
            vt = (
                g.groupBy("src")
                .agg(F.sum("w").alias("vtot"), F.count(F.lit(1)).alias("deg"))
                .toArrow()
            )
            src_col = vt.column("src").to_numpy(zero_copy_only=False)
            order = np.argsort(src_col, kind="stable")
            vid_arr = src_col[order].astype(np.int64, copy=False)
            vtot_arr = vt.column("vtot").to_numpy(zero_copy_only=False)[order]
            bal = vt.column("deg").to_numpy(zero_copy_only=False)[order].astype(np.float64)
        else:
            # passes ≥ 2: the super-vertex weight IS the previous pass's
            # community weight (Σ member vtot, self-loops included) — the
            # driver already holds it, no Spark job needed
            vid_arr, vtot_arr = self.carried
            bal = vtot_arr
        t_vt = time.time() - t_ph
        state = self.state = DriverState(vid_arr, vtot_arr)
        t_ph = time.time()
        part_edges = self.part_edges = _range_partition_edges(
            spark, g, state.vid, bal, num_partitions
        ).persist()
        part_edges.count()                     # materialize the pass shuffle
        if self.pending_unpersist is not None:
            # the lazy multigraph relabel has now been folded into this
            # shuffle's map stage; its input (last pass's partitions) can go
            self.pending_unpersist.unpersist()
            self.pending_unpersist = None
        # previous passes' relabel broadcasts are fully consumed now
        # (lazy g executed by this shuffle; ucom composes materialize
        # within their own pass) — release the EXECUTOR copies only.
        # destroy() here would be a latent crash: the cached part_edges
        # lineage (kept for lost-block recompute) still references the
        # lazy relabel's mapInPandas closure, and any later job that
        # re-serializes that lineage (e.g. a fed round's frontier
        # semi-join) dies with INTERNAL_ERROR_BROADCAST. unpersist()
        # keeps the driver copy re-fetchable; destroy happens once at
        # run teardown (close()).
        for _bc in self.rel_keepalive:
            try:
                _bc.unpersist()
            except Exception:
                pass
        t_part = time.time() - t_ph
        gn = len(state.vid)

        # vid/vtot are pass-constant: broadcast them ONCE per pass; each
        # round ships only the mutable half (comm, ctot, seed/bound) — half
        # the per-round driver serialization and torrent traffic, and the
        # static blocks stay warm in every reused Python worker
        # per-pass frontier-feed threshold: coarse passes shrink below the
        # gate and drop back to the full feed of their (small) cached table
        fthr = _AFF_SEED_FRACTION if n_edges >= _FRONTIER_FEED_EDGE_GATE else 0.0
        # task-side affected-neighbor emission cap (= the feed gate): a
        # round whose global mover count clears it hands the NEXT round's
        # frontier src set to the driver for free — see
        # sweep_partition._emit and the feed construction below
        fcap = int(fthr * gn)
        bc_static = sc.broadcast({"vid": state.vid, "vtot": state.vtot,
                                  "emit_affected": fcap})
        # per-pass driver-hop accounting: the sweep's only non-executor
        # segments are (a) the per-round dyn-state broadcast build, (b) the
        # blocking job+mover-collect action, (c) the numpy state apply —
        # recorded so scaling runs can attribute core-independent time
        # (the s + p/c fit of tools/witness.py) to a measured segment
        # instead of a guess
        hop = {"bcast": 0.0, "job_collect": 0.0, "rows_out": 0, "apply": 0.0}

        def run_sweep(dyn_dict, refine_flag, E_cur, direction=0, feed=None):
            # the in-task sweep sees ~1/P of the graph, so its share of the
            # global gain budget is E/P — a task that compares its local
            # gain sum to the GLOBAL E quits ~P× too early and pushes the
            # convergence work into many more (expensive) coarse rounds
            E_task = E_cur / max(num_partitions, 1)
            t_b = time.time()
            bc = sc.broadcast(dyn_dict)
            hop["bcast"] += time.time() - t_b
            try:
                t_j = time.time()
                out = (feed if feed is not None else part_edges).mapInPandas(
                    lambda it: sweep_partition(it, {**bc_static.value, **bc.value},
                                               M, R, E_task,
                                               1 if refine_flag else local_iters,
                                               refine_flag, direction),
                    schema=_MOVES_SCHEMA,
                ).toPandas()
                hop["job_collect"] += time.time() - t_j
                hop["rows_out"] += int(len(out))
            finally:
                bc.destroy()
            return out

        def feed_from_srcs(src_ids):
            """Frontier cut for aff-seeded rounds: ship through Arrow only
            the full adjacency of vertices with a moved neighbor (plus the
            seeds' own rows — seeds self-activate in-task). The src set
            arrived with the previous rounds' mover collect (task-emitted
            blocked==2 rows — neighbors of movers, already distinct per
            task), so the feed is ONE map-side broadcast semi-join on a
            driver-local list: the range-bucket partitioning and (src,dst)
            order are preserved, no extra scan of the edge table, no
            distinct shuffle. At 100 TB this is what makes late rounds
            ~free."""
            import pandas as pd
            adf = spark.createDataFrame(
                pd.DataFrame({"src": np.asarray(src_ids, dtype="int64")}))
            return part_edges.join(F.broadcast(adf), "src", "left_semi")

        move_iters = 0
        t_move0 = time.time()
        el_prev = float("inf")
        round_log: list[dict] = []
        changed_pos = None            # aff seed (union of last 2 rounds' movers)
        prev_pos = None               # movers of the immediately previous round
        aff_ids: list = []            # last 2 rounds' task-emitted affected srcs
        prev_sigs: list[tuple] = []   # limit-cycle detection (period ≤ 2)
        for rnd in range(self.o.max_iterations):
            # alternate move direction across coarse rounds to break
            # cross-partition swap cycles (see sweep_partition docstring);
            # a single partition has no stale state and sweeps freely
            direction = 0 if num_partitions <= 1 else (-1 if rnd % 2 == 0 else 1)
            t_rnd = time.time()
            snap = state.snapshot(static=False)
            feed = None
            if changed_pos is not None and len(changed_pos):
                snap["changed_pos"] = changed_pos
                # frontier cut only below the threshold fraction (default:
                # every seeded round once the pass's edge table clears the
                # auto gate — see _FRONTIER_FEED_EDGE_GATE). The feed src
                # set mirrors the seed union EXACTLY: neighbors(seed)∪seed =
                # the union of the seeded rounds' affected sets, and below
                # the threshold each of those rounds had at most fcap
                # movers, so every task emitted and no set is None
                if len(changed_pos) < fthr * gn:
                    feed = feed_from_srcs(np.unique(np.concatenate(aff_ids)))
            out = run_sweep(snap, False, E, direction, feed=feed)
            move_iters += 1
            # blocked==2 rows are task-emitted affected neighbors (feed
            # bookkeeping, not moves): split them off before anything
            # reads mover counts, seeds, or stop signatures
            if len(out):
                nbr_ids = out.loc[out["blocked"] == 2, "id"].to_numpy(np.int64)
                out = out[out["blocked"] != 2]
            else:
                nbr_ids = np.empty(0, dtype=np.int64)
            # the union is complete only when the GLOBAL mover count is
            # within the task emission cap (then every task emitted)
            aff_now_ids = (
                np.union1d(np.unique(nbr_ids), out["id"].to_numpy(np.int64))
                if 0 < len(out) <= fcap
                else (np.empty(0, dtype=np.int64) if len(out) == 0 else None))
            # split movers from direction-blocked pending moves (blocked=1
            # rows carry an unchanged label; they are applied nowhere but
            # stay in the aff seed so the flipped direction releases them)
            mv = out[out["blocked"] == 0] if len(out) else out
            n_blocked = int(len(out) - len(mv))
            if len(mv):
                t_ap = time.time()
                state.apply_moves(mv["id"].to_numpy(np.int64),
                                  mv["community_new"].to_numpy(np.int64))
                hop["apply"] += time.time() - t_ap
            if len(out):
                # aff-seed the next round only when the frontier is small:
                # a big mover set needs a full re-equilibration round (frontier
                # waves otherwise keep el hovering at the tolerance), while a
                # small one makes the next round O(frontier) — the 100 TB tail.
                # Seed with the UNION of the last two rounds' movers AND
                # blocked vertices: rounds alternate direction, so a vertex
                # activated by a round-r move must stay scannable through r+1
                # AND r+2 (one round of each direction), and a vertex whose
                # only positive move was direction-blocked (blocked=1 row)
                # must be rescanned after the flip (unlike the reference's
                # direction-free vaff pruning, inc/leiden.hxx:656,661-662)
                pos = state.pos(out["id"].to_numpy(np.int64))
                seed = pos if prev_pos is None else np.union1d(pos, prev_pos)
                changed_pos = seed if len(seed) < _AFF_SEED_FRACTION * gn else None
                prev_pos = pos
            else:
                changed_pos = np.empty(0, dtype=np.int64)
                prev_pos = changed_pos
            aff_ids = [aff_now_ids] + aff_ids[:1]
            el = float(mv["gain"].sum()) if len(mv) else 0.0
            round_log.append({"seconds": round(time.time() - t_rnd, 2),
                              "movers": int(len(mv)), "blocked": n_blocked,
                              "el": round(el, 6), "fed": feed is not None})
            # a direction-constrained round sees only half the move space, so
            # convergence needs two consecutive below-tolerance rounds; a
            # tiny-churn stop bounds synchronous label noise that never
            # crosses E (the async reference has no such noise floor); a
            # repeated (movers, gain, id-sum) signature means a period-≤2
            # limit cycle that will never descend below E — stop
            sig = (len(mv), round(el, 10),
                   int(mv["id"].sum()) if len(mv) else 0)
            cycle = sig in prev_sigs
            prev_sigs = (prev_sigs + [sig])[-2:]
            tiny = len(mv) <= max(8, gn // 2000)
            # plateau: alternating-direction sweeps can descend very slowly
            # near a swap-rich fixed point (el improves <30% per 3-round
            # window) — aggregation + the next pass converges the residue
            # far cheaper than more same-level rounds, so hand off instead
            # of grinding to the iteration cap (deterministic rule)
            els = [r["el"] for r in round_log]
            plateau = len(els) >= 6 and min(els[-3:]) > 0.7 * min(els[-6:-3])
            # pending blocked moves veto the tiny/tolerance stops (the next
            # round's flipped direction releases them); cycle and plateau
            # remain hard stops (bounded work)
            if len(out) == 0 or cycle or plateau or (
                    n_blocked == 0 and (tiny or (
                        el <= E and (direction == 0 or el_prev <= E)))):
                break
            el_prev = el
        t_move = time.time() - t_move0

        t_ref0 = time.time()
        t_ref_job = t_ref_apply = 0.0
        if self.refine:
            bound = state.comm.copy()
            state.comm = state.vid.copy()          # singleton re-init
            state.ctot = state.vtot.copy()
            state.comm_pos = np.arange(gn, dtype=np.int64)
            out = run_sweep(state.snapshot(bound, static=False), True, E)
            t_ref_job = time.time() - t_ref0
            if len(out):
                # Ascending-id sequential acceptance (the source-still-
                # singleton recheck, inc/leiden.hxx:536-548) — vectorized.
                # After singleton re-init every mover's source community is
                # itself, so the sequential semantics reduce to: a move u→c
                # is rejected iff some ACCEPTED mover w < u targeted
                # community u (ctot[u] then exceeds vtot[u] when u is
                # processed). Dependencies only point from smaller to larger
                # ids, so the unique fixpoint is reached by iterating the
                # rejection map — each numpy pass settles one more stratum
                # of the (short in practice) dependency chains; O(movers)
                # work per pass instead of a per-mover Python loop.
                out = out.sort_values("id")
                uid = out["id"].to_numpy(np.int64)          # ascending
                tgt = out["community_new"].to_numpy(np.int64)
                ups = state.pos(uid)
                tps = state.pos(tgt)
                uvt = state.vtot[ups]
                INF = np.iinfo(np.int64).max
                order = np.argsort(tgt, kind="stable")
                tgt_s = tgt[order]
                uid_s = uid[order]
                seg = np.flatnonzero(np.concatenate([[True], tgt_s[1:] != tgt_s[:-1]]))
                seg_tgt = tgt_s[seg]                        # distinct targets
                u_seg = np.minimum(np.searchsorted(seg_tgt, uid), len(seg) - 1)
                has_in = seg_tgt[u_seg] == uid              # u is someone's target
                acc = np.ones(len(uid), dtype=bool)
                for _ in range(len(uid) + 1):
                    # per-target min id among currently-accepted in-movers
                    # (zero-weight movers leave ctot at vtot — not a
                    # rejection), then: u rejected iff that min < u
                    cand_id = np.where(acc[order] & (uvt[order] > 0), uid_s, INF)
                    seg_min = np.minimum.reduceat(cand_id, seg)
                    min_in = np.where(has_in, seg_min[u_seg], INF)
                    new_acc = ~(min_in < uid)
                    if np.array_equal(new_acc, acc):
                        break
                    acc = new_acc
                a = np.flatnonzero(acc)
                state.comm[ups[a]] = tgt[a]
                np.add.at(state.ctot, ups[a], -uvt[a])
                np.add.at(state.ctot, tps[a], uvt[a])
            t_ref_apply = time.time() - t_ref0 - t_ref_job
        t_ref = time.time() - t_ref0
        bc_static.destroy()
        return move_iters, gn, {
            "move_seconds": round(t_move, 3),
            "refine_seconds": round(t_ref, 3),
            "refine_job_seconds": round(t_ref_job, 3),
            "refine_apply_seconds": round(t_ref_apply, 3),
            "vt_seconds": round(t_vt, 3),
            "partition_seconds": round(t_part, 3),
            "driver_hop": {k: (round(v, 3) if isinstance(v, float) else v)
                           for k, v in hop.items()},
            "rounds": round_log}

    def renumber(self, ucom: DataFrame | None):
        # dense, order-preserving (R2)
        state, gn = self.state, len(self.state.vid)
        uniq = np.unique(state.comm)
        dense = np.searchsorted(uniq, state.comm)
        self.cn = int(uniq.size)
        # next pass's dense vertex universe + carried vertex weights
        self.carried = (np.arange(uniq.size, dtype=np.int64),
                        state.ctot[state.pos(uniq)].copy())
        # ONE torrent broadcast of the (vid → dense community) arrays
        # replaces the driver-serial createDataFrame(|V| rows) plus the
        # THREE broadcast-exchange builds it used to feed (two aggregate
        # relabel joins + the dendrogram compose join) — each an O(|V|)
        # driver collect + hash-relation build per pass, together the
        # largest block of the measured Amdahl serial intercept. Size is
        # 2×8B×|V|, the same order as the sweep's per-round state
        # broadcast, so it holds wherever the sweep strategy itself does
        # (≤ the documented 3×10⁸-vertex auto-switch to rounds).
        bc_rel = self.spark.sparkContext.broadcast(
            {"vid": state.vid.astype(np.int64), "dense": dense.astype(np.int64)})
        self.rel_keepalive.append(bc_rel)
        # membership relation built in PARALLEL from the broadcast
        # arrays (position → (vid[pos], dense[pos])) instead of a
        # driver-serial createDataFrame of |V| rows; consumed by the
        # pass-1 ucom and the aggregate relabel joins
        self.memb_df = (
            self.spark.range(0, gn, numPartitions=self.num_partitions)
            .mapInPandas(_memb_from_positions_fn(bc_rel), "id long, community long"))
        if ucom is None:
            return self.memb_df, self.cn
        return ucom.mapInPandas(_compose_np_fn(bc_rel), "id long, community long"), self.cn

    def aggregate(self, lazy_ok: bool):
        # A9: relabel both endpoints, sum — self-loops kept. The relabel
        # stays a JVM broadcast-hash join: routing the O(E) edge relation
        # through an Arrow/Python map instead was measured 2.5× slower on
        # the 83M-row pass-2 multigraph (the per-row JVM join beats the
        # Python hop by far more than the exchange-build saves) — the
        # serial win is taken on the BUILD side instead, with memb_df
        # produced in parallel from the broadcast arrays.
        state, gn = self.state, len(self.state.vid)
        ms = _maybe_broadcast(
            self.memb_df.select(F.col("id").alias("src"), F.col("community").alias("cs")), gn)
        md = _maybe_broadcast(
            self.memb_df.select(F.col("id").alias("dst"), F.col("community").alias("cd")), gn)
        joined = self.part_edges.join(ms, "src").join(md, "dst")
        # giant-community skew (O7, SURVEY §7 hard-part 6): when the
        # heaviest community holds a big share of total weight, the
        # (cs, cd) grouping key concentrates on one reducer — measured
        # from the driver's ctot (free), remedied with a two-stage salted
        # partial aggregation instead of trusting AQE alone
        heavy = bool(state.ctot.max() / (2.0 * self.M) > 0.2) if len(state.ctot) else False
        # poor-collapse passes (CN within ~10× of GN — e.g. a noisy pass 1
        # where 21.6M edges would "aggregate" to 20M rows) skip the
        # (cs,cd) groupBy entirely: every downstream consumer SUMS edge
        # weights (kernel tallies, vertex/community weights, modularity,
        # the next aggregation), so a relabeled multigraph is semantically
        # identical, and with a broadcast relabel map the whole aggregation
        # becomes map-side — no shuffle of the big relation at all
        # (measured: 37.5s grouped → 13.0s relabel-only at 2 cores on the
        # 21.6M-edge planted graph). Good-collapse passes keep the groupBy
        # (18.8M → 52k rows is worth a shuffle); skewed passes keep the
        # salted two-stage variant.
        multigraph = (not heavy and gn <= _BROADCAST_VERTEX_LIMIT
                      and self.cn >= 0.1 * gn)
        if heavy:
            g = (
                joined.withColumn("_salt", F.pmod(F.xxhash64("src"), F.lit(16)))
                .groupBy("cs", "cd", "_salt").agg(F.sum("w").alias("w"))
                .groupBy(F.col("cs").alias("src"), F.col("cd").alias("dst"))
                .agg(F.sum("w").alias("w"))
            )
        elif multigraph:
            g = joined.select(F.col("cs").alias("src"), F.col("cd").alias("dst"),
                              F.col("w").cast("double").alias("w"))
        else:
            g = (
                joined.groupBy(F.col("cs").alias("src"), F.col("cd").alias("dst"))
                .agg(F.sum("w").alias("w"))
            )
        # LAZY handoff (no checkpoint write to run the plan): the relabel is
        # a map-side broadcast join with the SAME row count as its input —
        # every dst has a membership row, since the input was checked
        # symmetric at setup and later passes' vid is the dense 0..C-1
        # universe — and its only consumer is the next pass's
        # range-partition shuffle, so materializing it would cost a full
        # O(E) block-manager write + re-read purely to truncate lineage. The
        # join fuses into the next shuffle's map stage instead (one O(E)
        # scan, zero intermediate writes), the known row count rides along
        # (no count job), and the persisted input partitions stay alive
        # until that shuffle has consumed them. Consecutive lazy handoffs
        # are capped at 1: a chain of unmaterialized broadcast joins means a
        # lost/evicted cache block on a real cluster recomputes through
        # every unpersisted previous pass (the 100 TB-cluster guard). In
        # practice only the noisy pass 1 takes this path.
        self.lazy = lazy_ok and multigraph and not self.lazy
        if self.lazy:
            self.pending_unpersist = self.part_edges
        return g, (int(self.n_edges) if self.lazy else None), {
            "aggregate_salted": heavy, "aggregate_multigraph": multigraph}

    def end_pass(self):
        if not self.lazy:
            self.part_edges.unpersist()

    def close(self):
        # unpersist is idempotent: exit paths that already released their
        # blocks are no-ops, and an exception between a lazy handoff and
        # the next pass no longer leaks part_edges for the session lifetime
        for df in (self.pending_unpersist, self.part_edges):
            if df is not None:
                try:
                    df.unpersist()
                except Exception:
                    pass
        for bc in self.rel_keepalive:
            try:
                bc.destroy()
            except Exception:
                pass
        self.rel_keepalive.clear()


class _RoundsPass(_PassStep):
    """``rounds`` backend — the ≥10⁹-vertex fallback with NO driver-side
    per-vertex state: membership, vertex weights, and community weights all
    live as DataFrames; the driver holds only scalars (M, E, counts) and one
    count-per-shuffle-partition map for the renumber scan. The move phase
    is bulk-synchronous rounds (_move_round) with alternating direction to
    break swap cycles — the same parallel-Leiden family as the reference's
    racy OpenMP loop (inc/leiden.hxx:646-668), traded per-round latency for
    unbounded state.

    Refinement (one constrained round, inc/leiden.hxx:1259-1268) resolves
    synchronous conflicts with a connectivity-preserving acceptance rule:
    a singleton move u→c is accepted only if anchor vertex c has no
    candidate move of its own — every refined community is then a star
    around its anchor (each accepted mover shares an edge with c inside the
    bound), so the well-connectedness guarantee survives without the
    reference's sequential rollback (inc/leiden.hxx:536-548)."""

    name = "rounds"

    def __init__(self, *args):
        super().__init__(*args)
        self.cached: list[DataFrame] = []   # persisted move outputs pending release

    def move(self, g: DataFrame, n_edges: int, E: float, p: int):
        spark, M, R = self.spark, self.M, self.o.resolution
        self.g = g
        vt = materialize(vertex_weights(g))               # A2
        gn = vt.count()
        big = gn > _BROADCAST_VERTEX_LIMIT
        # pure projections of the checkpointed vt — no extra materialization
        memb = vt.select("id", F.col("id").alias("community"))
        ctot = vt.select(F.col("id").alias("community"), F.col("vtot").alias("ctot"))

        # red-black rounds: each round only one deterministic hash-color
        # class may move against the frozen complement. Colors split
        # CROSS-color decision pairs across rounds; a random 2-coloring
        # still leaves ~half of adjacent pairs same-color, so a move
        # DIRECTION (only smaller / only larger target community ids,
        # alternating each full color cycle) handles the rest: a
        # synchronous two-vertex swap needs one down- AND one up-move in
        # the same round, which the direction constraint makes impossible.
        # Direction-blocked positive movers are re-seeded (gain-NULL rows
        # from _move_round) so the move is retried when the sign flips.
        # The color class is a pure hash of the vertex id, so it is a
        # codegen FILTER on the edge scan (src_pred) — no materialized
        # color tables, no semi-join.
        color_preds = [
            F.pmod(F.xxhash64(F.col("src")), F.lit(2)) == c for c in (0, 1)
        ]
        move_iters = 0
        rounds_log: list[dict] = []   # per-round movers (S7 sink accounting)
        seed_nbrs = None              # affected-set pruning (L6) across rounds
        recent: list[DataFrame] = []  # last 4 rounds' movers+blocked (one
                                      # full color × direction cycle)
        recent_els: list[float] = []
        recent_nm: list[int] = []
        for rnd in range(self.local_iters):
            t_rnd = time.time()
            direction = -1 if (rnd // 2) % 2 == 0 else 1
            # one action materializes the move job AND collects the
            # convergence stats (persist + agg) — applied movers have a
            # gain, direction-blocked positive movers carry gain NULL
            moves = _move_round(g, memb, vt, ctot, M, R, aff=seed_nbrs,
                                direction=direction,
                                broadcast_ctot=not big,
                                src_pred=color_preds[rnd % 2]).persist()
            self.cached.append(moves)
            row = moves.agg(
                F.count("gain").alias("n"),
                F.count("*").alias("n_all"),
                F.coalesce(F.sum(F.coalesce("gain", "gain_blocked")),
                           F.lit(0.0)).alias("el")).collect()[0]
            move_iters += 1
            nm, n_all, el = int(row["n"]), int(row["n_all"]), float(row["el"])
            log.debug("rounds pass=%d rnd=%d dir=%d movers=%d blocked=%d el=%.5f "
                      "(move_job=%.1fs)", p + 1, rnd, direction, nm, n_all - nm, el,
                      time.time() - t_rnd)
            recent = (recent + [moves.select("id")])[-4:]
            if nm:
                # stats-reset leaves don't auto-broadcast — hint explicitly
                # while the mover set fits the session's broadcast budget
                # (~48B/row serialized through the driver + torrent); a huge
                # early set falls back to a shuffle join, which is the whole
                # point of this no-driver-state strategy
                mv_sel = moves.filter(F.col("gain").isNotNull()) \
                    .select("id", "community_new")
                if nm <= _broadcast_row_limit(spark):
                    mv_sel = F.broadcast(mv_sel)
                # materialized every round: an un-checkpointed broadcast-join
                # chain re-BUILDS its broadcast relations (a nested job each)
                # at every reference — measured 2× slower than the one
                # localCheckpoint per round it would save
                memb = materialize(
                    memb.join(mv_sel, "id", "left")
                    .select("id", F.coalesce("community_new", "community").alias("community")))
                # materialized: the next round's plan reads ctot twice
                ctot = materialize(community_weights(memb, vt))
            # affected-set pruning once the frontier is small: rescan only
            # the last full cycle's movers + direction-blocked vertices and
            # their neighbors — a vertex activated (or blocked) in round r
            # stays scannable through both color phases and both direction
            # signs (4 rounds), so no positive move is ever dropped
            recent_nm = (recent_nm + [n_all])[-4:]
            fed = seed_nbrs is not None
            if max(recent_nm) < _AFF_SEED_FRACTION * gn and len(recent) == 4:
                seed = recent[0]
                for r_ in recent[1:]:
                    seed = seed.unionByName(r_)
                nb = g.join(seed.select(F.col("id").alias("dst")), "dst",
                            "left_semi").select(F.col("src").alias("id"))
                seed_nbrs = materialize(seed.unionByName(nb).distinct())
            else:
                seed_nbrs = None
            while len(self.cached) > 4:   # keep the seed window computable
                self.cached.pop(0).unpersist()
            # a (color, direction) round sees a quarter of the move space:
            # converged only when a FULL cycle (4 rounds — both colors,
            # both directions) stays under tolerance; el counts blocked
            # candidates' gains, so pending blocked moves delay convergence
            recent_els.append(el)
            rounds_log.append({"seconds": round(time.time() - t_rnd, 2),
                               "movers": nm, "blocked": n_all - nm,
                               "el": round(el, 6), "fed": fed})
            if rnd >= 3 and max(recent_els[-4:]) <= E:
                break
        self.close()

        t_ref0 = time.time()
        refine_rounds_done = 0
        if self.refine:
            # Gain-based refinement (inc/leiden.hxx:1259-1268) as bounded
            # bulk-synchronous rounds: re-init every vertex as a singleton,
            # then a few constrained move rounds — targets must share the
            # local-move community (bound), sources must still be singletons
            # (inc/leiden.hxx:590), and a synchronous move u→c is accepted
            # only if anchor community c emitted no allowed move of its own
            # this round (STAR acceptance). Every accepted mover has an edge
            # into its target community (vcout > 0) and anchors never leave,
            # so each refined community is connected BY CONSTRUCTION — the
            # invariant the refine phase exists for (README.md:19) holds
            # without a separate connectivity-repair CC pass. Alternating
            # the direction sign breaks mutual-preference deadlocks (u→v
            # and v→u both star-rejected forever): with direction fixed,
            # exactly one side is allowed to move. Sequential chain-forming
            # acceptance (inc/leiden.hxx:588-597) remains the sweep/kernel
            # paths' job; three rounds capture star+chain merges to depth 3,
            # and unmerged singletons are re-examined next pass.
            bound_df = memb.select("id", F.col("community").alias("bound"))
            # singleton re-init is a pure projection of the checkpointed vt
            # — no materialization needed
            memb_r = vt.select("id", F.col("id").alias("community"))
            ctot_r = vt.select(F.col("id").alias("community"), F.col("vtot").alias("ctot"))
            for rr in range(3):
                rdir = -1 if rr % 2 == 0 else 1
                sing = memb_r.filter(F.col("id") == F.col("community")).select("id")
                mv = _move_round(g, memb_r, vt, ctot_r, M, R, aff=sing,
                                 bound=bound_df, refine=True, direction=rdir,
                                 broadcast_ctot=not big).persist()
                self.cached.append(mv)
                movers = mv.filter(F.col("gain").isNotNull())
                # star acceptance: targets of accepted moves must be anchors
                # that are not themselves moving this round
                acc = movers.join(
                    movers.select(F.col("id").alias("community_new")).distinct(),
                    "community_new", "left_anti").select("id", "community_new")
                n_acc = acc.count()
                refine_rounds_done += 1
                if n_acc == 0:
                    self.close()
                    break
                acc_sel = (F.broadcast(acc)
                           if n_acc <= _broadcast_row_limit(spark) else acc)
                memb_r = materialize(
                    memb_r.join(acc_sel, "id", "left")
                    .select("id", F.coalesce("community_new", "community").alias("community")))
                # ctot_r feeds the NEXT refine round only — skip it after
                # the last one (one fewer action per pass)
                if rr < 2:
                    ctot_r = materialize(community_weights(memb_r, vt))
                self.close()
            memb = memb_r
        self.memb = memb
        return move_iters, gn, {
            "move_seconds": round(sum(r["seconds"] for r in rounds_log), 3),
            "refine_seconds": round(time.time() - t_ref0, 3),
            "refine_rounds": refine_rounds_done, "rounds": rounds_log}

    def renumber(self, ucom: DataFrame | None):
        relab, cn = renumber_map_distributed(self.memb, self.num_partitions)   # R1+R2
        relab = materialize(relab)
        self.memb_dense = materialize(
            self.memb.join(relab, "community").select("id", F.col("cnew").alias("community")))
        return (self.memb_dense if ucom is None
                else _compose(ucom, self.memb_dense, None)), cn

    def aggregate(self, lazy_ok: bool):
        # A9 with the dense relabel
        ms = self.memb_dense.select(F.col("id").alias("src"), F.col("community").alias("cs"))
        md = self.memb_dense.select(F.col("id").alias("dst"), F.col("community").alias("cd"))
        g = (
            self.g.join(ms, "src").join(md, "dst")
            .groupBy(F.col("cs").alias("src"), F.col("cd").alias("dst"))
            .agg(F.sum("w").alias("w")))
        return g, None, {}

    def close(self):
        for df in self.cached:
            df.unpersist()
        self.cached.clear()


# ---------------------------------------------------------------------------
# scale-mode driver loop
# ---------------------------------------------------------------------------

def leiden_scale(spark: SparkSession, edges: DataFrame, options: LeidenOptions | None = None,
                 refine: bool = True, checkpointer=None,
                 num_partitions: int = 32, local_iters: int = 20,
                 driver_threshold: int = DRIVER_ROWS,
                 driver_vertex_threshold: int = 20000,
                 strategy: str = "auto") -> LeidenRunResult:
    """Distributed Leiden (``refine=True``) / Louvain (``refine=False``).

    ``edges`` must be symmetric and deduplicated (sources/edges.py); an
    edge table whose (src, dst) and (dst, src) checksums differ raises
    ``ValueError`` at setup, and a distributed pass also raises on a dst
    with no edges of its own. Weights must be finite and non-negative: a
    NaN, infinite or negative weight raises ``ValueError`` at setup, giving
    the count of such rows. Zero weights are accepted.
    ``num_partitions`` fixes the sweep partitioning (determinism across core
    counts). ``driver_threshold``: aggregated graphs at or below this many
    edge rows finish on the driver with the deterministic kernel.
    ``checkpointer``: plans.checkpoint.CheckpointManager for per-super-step
    persistence + resume; its committed files are the run's state between
    passes (each pass's checkpoint write is its materialization).

    Aff-seeding of move rounds and the sweep's frontier feed are set by
    the module constants ``_AFF_SEED_FRACTION`` and
    ``_FRONTIER_FEED_EDGE_GATE`` (sizing notes there).

    ``strategy``: ``"sweep"`` (broadcast-state partitioned Gauss-Seidel,
    O(|V|) driver+broadcast arrays — the fast path to ~10⁸-10⁹ vertices),
    ``"rounds"`` (pure-DataFrame bulk-synchronous rounds, no per-vertex
    driver state — the unbounded-scale fallback), or ``"auto"``: pick
    ``rounds`` when the estimated vertex count exceeds the module constant
    ``_ROUNDS_VERTEX_THRESHOLD`` (sizing note there). Under ``"auto"`` the
    same estimate also routes pass 1:
    at or below ``driver_vertex_threshold`` (and ``driver_threshold > 0``)
    the run goes straight to the driver kernel, whichever backend was
    picked.
    """
    o = options or LeidenOptions()
    R = o.resolution
    metrics: list[dict] = []

    t_setup = time.time()
    # NOT persisted: the raw edge relation is scanned a handful of times
    # (setup aggregate, pass-1 vertex weights, pass-1 repartition, and the
    # final modularity of a run whose last pass is distributed) and each
    # scan is column-pruned off the caller's source (parquet /
    # localCheckpoint). Caching it costs a full block-manager
    # write — measurably the largest non-scaling chunk of the pass loop at
    # bench scale — and at the 100 TB target the edge relation cannot be
    # cached at all; the per-pass materialized `part_edges` is the real
    # working set. Callers with expensive lineage should checkpoint first.
    edges0 = edges.select(
        F.col("src").cast("long"), F.col("dst").cast("long"),
        F.col("w").cast("double"))
    # A1 (main.cxx:61). The same single aggregation counts the rows whose
    # weight is NaN, ±inf or negative (one NaN makes M NaN, and `M <= 0`
    # is False for it; Spark orders NaN above +inf, so `w >= 0` would pass
    # it), and fingerprints the symmetric-edge-table invariant (every
    # (a,b) paired with (b,a)) that every route relies on: two salted
    # order-sensitive checksums, forward vs reversed. A directed table whose
    # every dst is also a src (e.g. a directed cycle) passes the in-task dst
    # check but not these. Sum values are < 1e6 · |E| so they stay in int64
    # territory up to ~9×10^12 edges. Under strategy="auto" it also takes
    # the strategy probe: an HLL estimate of the vertex count (no distinct
    # shuffle; HLL registers merge by max, so the estimate is the one a
    # separate aggregation would give).
    w = F.col("w")
    setup_cols = [
        F.sum("w").alias("sw"),
        F.sum(F.when(F.isnan(w) | (w < 0) | (w == float("inf")), 1).otherwise(0)).alias("bad_w"),
        F.sum(F.pmod(F.xxhash64("src", "dst"), F.lit(1_000_000))).alias("hf"),
        F.sum(F.pmod(F.xxhash64("dst", "src"), F.lit(1_000_000))).alias("hr"),
        F.sum(F.pmod(F.xxhash64("src", "dst", F.lit(7)), F.lit(1_000_000))).alias("hf7"),
        F.sum(F.pmod(F.xxhash64("dst", "src", F.lit(7)), F.lit(1_000_000))).alias("hr7"),
    ]
    if strategy == "auto":
        setup_cols.append(F.approx_count_distinct("src").alias("n_est"))
    _mrow = edges0.agg(*setup_cols).collect()[0]
    if _mrow["bad_w"]:
        raise ValueError(
            f"leiden_scale: {_mrow['bad_w']} edge rows have a NaN, infinite or negative "
            "weight; weights must be finite and >= 0")
    if (_mrow["hf"], _mrow["hf7"]) != (_mrow["hr"], _mrow["hr7"]):
        raise ValueError(
            "leiden_scale: the edge table is not symmetric (some (src, dst) row has "
            "no (dst, src) partner); run it through sources.edges.symmetricize_df first")
    M = float(_mrow["sw"] or 0.0) / 2.0
    metrics.append({"phase": "setup", "seconds": round(time.time() - t_setup, 3)})
    if M <= 0:
        empty = spark.createDataFrame([], "id long, community long")
        return LeidenRunResult(empty, 0.0, 0, 0, 0.0, [])

    v_estimate: int | None = None
    if strategy == "auto":
        n_est = int(_mrow["n_est"])
        strategy = "rounds" if n_est > _ROUNDS_VERTEX_THRESHOLD else "sweep"
        v_estimate = n_est
        metrics.append({"phase": "strategy", "chosen": strategy, "v_estimate": n_est})
    step = (_RoundsPass if strategy == "rounds" else _SweepPass)(
        spark, M, o, refine, num_partitions, local_iters)

    g = edges0
    ucom: DataFrame | None = None
    total_iters = 0
    p = 0
    E = o.tolerance
    # seed the pass-1 routing decision with the strategy probe's HLL vertex
    # estimate (deterministic for a given input): a small-vertex graph takes
    # the driver kernel IMMEDIATELY instead of paying a full distributed
    # pass's fixed costs (broadcast + mapInPandas machinery) on a graph the
    # kernel finishes in milliseconds — the round-2 leiden_pages regression
    # (62,902 edges > driver_threshold but only ~8k vertices; 33s for what
    # the kernel does in <1s). HLL ±2% error only moves the routing of
    # borderline graphs between two correct paths. driver_threshold=0 is
    # the "force distributed" contract (tests/benchmarks) — honor it by
    # not seeding.
    n_vertices: int | None = v_estimate if driver_threshold > 0 else None
    n_orig: int | None = None  # exact original-V row count (final-Q broadcast hint)
    carried_edges: int | None = None    # known row count of g (lazy multigraph
                                        # relabel or committed pass)
    q: float | None = None              # the driver kernel's Q, if it finishes
    if checkpointer is not None:
        resumed = checkpointer.latest(spark)
        if resumed is not None:
            p, ucom, g, E, total_iters, metrics = resumed
            # restore the strategy-selection state so a resumed run takes
            # the same execution path (and thus produces identical labels)
            carried_edges, n_vertices = _committed_counts(checkpointer, p, g)
            log.info("leiden_scale resumed at pass=%d", p)
    try:
        while True:
            t0 = time.time()
            # a lazy multigraph relabel preserves the row count, and a
            # committed pass records it, so the previous pass (or the
            # resume) already knows this pass's n_edges — no count job
            n_edges = carried_edges if carried_edges is not None else g.count()

            # ---- driver fast path: finish small super-graphs with the kernel ----
            # (few edges, or few vertices — dense coarsened graphs converge far
            # faster under the sequential kernel than under bounded sync rounds)
            if n_edges <= driver_threshold or (
                    n_vertices is not None and n_vertices <= driver_vertex_threshold):
                memb_df, n_vid, sub = _driver_finish(spark, g, R, E, o, refine, p)
                ucom = materialize(memb_df if ucom is None else _compose(ucom, memb_df, n_vid))
                # exact: aggregation keeps every intra-community weight and
                # every community total, and the super-graph's M is the input's
                q = sub.modularity
                total_iters += sub.iterations
                p += sub.passes
                metrics.append({"pass": p, "strategy": "driver-kernel",
                                "vertices": n_vid, "edges": int(n_edges),
                                "kernel_passes": sub.passes,
                                "pass_seconds": round(time.time() - t0, 3)})
                log.info("leiden_scale driver-kernel finish: +%d passes (%.1fs)",
                         sub.passes, time.time() - t0)
                break

            # ---- distributed pass: the backend's move + refine ----
            move_iters, gn, fields = step.move(g, n_edges, E, p)
            t_ren = time.time()
            if ucom is None:
                n_orig = gn
            ucom_plan, cn = step.renumber(ucom)
            total_iters += max(move_iters, 1)
            p += 1
            rec = {"pass": p, "strategy": step.name, "move_iterations": move_iters,
                   "vertices": gn, "communities": cn, "edges": int(n_edges),
                   "tolerance": E, **fields, "pass_seconds": round(t_ren - t0, 3)}
            metrics.append(rec)
            log.info("leiden_scale pass=%d %s iters=%d GN=%d CN=%d E=%g (%.1fs)",
                     p, step.name, move_iters, gn, cn, E, t_ren - t0)
            stop = move_iters <= 1 or p >= o.max_passes or float(cn) / gn >= o.aggregation_tolerance
            # a resumable run's checkpoint write materializes ucom (handoff
            # below); a stop pass writes nothing after it
            ucom = materialize(ucom_plan) if stop or checkpointer is None else ucom_plan
            rec["renumber_seconds"] = round(time.time() - t_ren, 3)
            if stop:
                break

            t_agg = time.time()
            g, carried_edges, agg_fields = step.aggregate(checkpointer is None)
            if checkpointer is None and carried_edges is None:
                # a lazy handoff carries its row count; every other
                # aggregate is materialized (or, resumable, committed below)
                g = materialize(g)
            rec.update(agg_fields, aggregate_seconds=round(time.time() - t_agg, 3))
            E /= o.tolerance_drop
            n_vertices = cn
            if checkpointer is not None:
                ucom, g, carried_edges, n_vertices = _checkpoint_handoff(
                    spark, checkpointer, p, ucom, g, E, total_iters, metrics, cn)
            step.end_pass()
    finally:
        step.close()

    t_q = time.time()
    if q is None:
        q = modularity_df(edges0, ucom, M, R, n_vertices=n_orig)
    metrics.append({"phase": "final_modularity", "seconds": round(time.time() - t_q, 3)})
    return LeidenRunResult(ucom, q, p, total_iters, M, metrics)


def louvain_scale(spark: SparkSession, edges: DataFrame, options: LeidenOptions | None = None,
                  checkpointer=None, **kw) -> LeidenRunResult:
    """Louvain ablation = Leiden minus refinement (inc/louvain.hxx:1010-1110)."""
    return leiden_scale(spark, edges, options, refine=False,
                        checkpointer=checkpointer, **kw)
