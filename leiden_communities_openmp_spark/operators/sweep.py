"""Partitioned Gauss-Seidel sweep — the engine's scale-mode move kernel.

Spark analogue of the reference's per-thread asynchronous local-moving
(leidenMoveOmpW, inc/leiden.hxx:646-668): the edge table is range-partitioned
by ``src`` into contiguous, degree-balanced vertex-id blocks
(operators/leiden.py ``_range_partition_edges``), so every vertex's full
adjacency lives in exactly one partition, sorted by (src, dst, w);
each partition task runs a Gauss-Seidel sweep over its own vertices
against a broadcast snapshot of (membership, vtot, ctot), applying moves to
its *local* copy as it goes (the same stale-read tolerance as the
reference's racy OpenMP loop); the driver then reconciles all emitted label
changes exactly and recomputes community weights. One coarse round == one
Spark job.

Kernel shape: one task sweeps its vertices in ascending id order, one at a
time — community tally A4 (inc/leiden.hxx:412-463), gain L1
(inc/properties.hxx:253-256), strictly-positive argmax L2, and the move
applied at once to the task's live community weights (inc/leiden.hxx:588-597)
— then rescans only vertices with a moved neighbor (L6). The loop is
operators/_ckernel.py ``sweep_c``, compiled at first use, or its Python
transliteration ``sweep_py`` where no C toolchain is available; both give
the same labels.

Scale notes: edges (the 100 TB relation) never leave the executors; the
broadcast state is O(|V|) and works to ~10^8-10^9 vertices — beyond that the
pure-DataFrame rounds mode (operators/leiden.py _move_round) is the fallback,
trading per-round latency for unbounded state. Partition count is a fixed
parameter independent of core count, so results are bit-identical between
local[8] and local[32] — the scaling-efficiency experiment changes only
parallelism, never the computation.
"""

from __future__ import annotations

from functools import partial

import numpy as np

from ._ckernel import get_kernel, sweep_py
from ._worker import task_entry


class DriverState:
    """Dense driver-side state over the sorted vertex-id universe.

    Community ids live in the same id space as vertices (every community is
    anchored at a vertex id), exactly like the reference's vcom/ctot vectors
    (inc/leiden.hxx:1206-1217).
    """

    def __init__(self, vid: np.ndarray, vtot: np.ndarray):
        self.vid = np.asarray(vid, dtype=np.int64)      # sorted unique ids
        self.vtot = np.asarray(vtot, dtype=np.float64)
        self.comm = self.vid.copy()   # singleton init (inc/leiden.hxx:274-279)
        self.ctot = self.vtot.copy()
        # comm as vid positions, maintained incrementally by apply_moves —
        # avoids an O(V log V) searchsorted per recompute (driver-serial)
        self.comm_pos = np.arange(len(self.vid), dtype=np.int64)

    def pos(self, ids: np.ndarray) -> np.ndarray:
        return np.searchsorted(self.vid, ids)

    def apply_moves(self, ids: np.ndarray, new_comm: np.ndarray) -> None:
        """Apply a round's net moves and refresh ctot. bincount iterates its
        input sequentially exactly like np.add.at, so the per-bucket float
        addition order (and therefore ctot, and therefore every downstream
        gain decision) is bit-identical to the full scatter recompute —
        just ~10× faster and without the per-round searchsorted."""
        p = self.pos(ids)
        self.comm[p] = new_comm
        self.comm_pos[p] = self.pos(new_comm)
        self.ctot = np.bincount(
            self.comm_pos, weights=self.vtot, minlength=len(self.vtot))

    def snapshot(self, bound: np.ndarray | None = None, static: bool = True) -> dict:
        """State dict for sweep_partition. ``static=False`` omits the
        pass-constant half (vid/vtot) — the driver loop broadcasts it once
        per pass and merges it back before the task sees the dict, halving
        per-round broadcast traffic."""
        s = {"comm": self.comm, "ctot": self.ctot}
        if static:
            s["vid"] = self.vid
            s["vtot"] = self.vtot
        if bound is not None:
            s["bound"] = bound
        return s


def _run_c_sweep(ck, nu, nv, u_start, dstp, w, upos, commp, vtot, ctot,
                 bound, is_local, max_iters, refine, direction, M, R, E,
                 active, moved_mask, ever_moved, acc_gain, blocked):
    """Marshal numpy buffers into the compiled sweep (operators/_ckernel.py).
    Mutates commp/ctot/active/moved_mask/ever_moved/acc_gain/blocked in
    place and returns the total accepted gain, as ``sweep_py`` does."""
    def p(a):
        return a.ctypes.data if a is not None else None

    vcout = np.zeros(nv, dtype=np.float64)
    tkeys = np.empty(nv, dtype=np.int64)
    intouch = np.zeros(nv, dtype=np.uint8)
    moved_list = np.empty(max(nu, 1), dtype=np.int64)
    args = [u_start, dstp, w, upos, commp, vtot, ctot]
    for i, a in enumerate(args):
        if not a.flags["C_CONTIGUOUS"]:
            args[i] = np.ascontiguousarray(a)
    u_start, dstp, w, upos, commp_x, vtot, ctot_x = args
    assert commp_x is commp and ctot_x is ctot, "in/out arrays must be contiguous"
    bnd = None
    if refine:
        bnd = np.ascontiguousarray(np.asarray(bound, dtype=np.int64))
    return ck(nu, nv, p(u_start), p(dstp), p(w), p(upos),
              p(commp), p(vtot), p(ctot), p(bnd), p(is_local),
              int(max_iters), 1 if refine else 0, int(direction),
              float(M), float(R), float(E),
              p(vcout), p(tkeys), p(intouch),
              p(active), p(moved_mask), p(moved_list),
              p(ever_moved), p(acc_gain), p(blocked))


@task_entry
def sweep_partition(pdf_iter, state: dict, M: float, R: float, E: float,
                    max_local_iters: int, refine: bool, direction: int = 0):
    """Executor-side sweep over one adjacency partition.

    ``pdf_iter``: iterator of pandas batches with columns (src, dst, w),
    sorted by (src, dst) within the partition. Yields one pandas DataFrame
    of (id, community_new, gain) for vertices that moved (final label;
    gain accumulated over accepted moves).

    ``direction``: cross-partition oscillation damping. 0 = unconstrained
    (single partition — fresh state, no races). -1/+1 = only moves to a
    community id lower/higher than the current one are allowed this coarse
    round for *remote* targets (community anchor not owned by this
    partition); alternating the sign each round makes a two-vertex swap
    cycle impossible (a swap needs one down-move AND one up-move in the
    same round, both remote from their own partition's view), the standard
    deterministic remedy for bulk-synchronous label ping-pong between
    stale partitions. Local targets see fresh Gauss-Seidel state and sweep
    freely.
    """
    import pandas as pd

    empty = pd.DataFrame({"id": pd.Series([], dtype="int64"),
                          "community_new": pd.Series([], dtype="int64"),
                          "gain": pd.Series([], dtype="float64"),
                          "blocked": pd.Series([], dtype="int32")})
    parts = [p for p in pdf_iter if len(p)]
    if not parts:
        yield empty
        return
    edf = pd.concat(parts, ignore_index=True)

    vid = state["vid"]
    nv = len(vid)
    vtot = state["vtot"]                                   # by vid position
    ctot = np.array(state["ctot"], dtype=np.float64)       # live local copy
    commp = np.searchsorted(vid, state["comm"])            # comm as position
    bound = state.get("bound") if refine else None         # raw ids, by pos

    src = edf["src"].to_numpy(np.int64)
    dst = edf["dst"].to_numpy(np.int64)
    dstp = np.searchsorted(vid, dst)
    # vid is the src set, so on a symmetric edge table every dst has a
    # position; otherwise an id past the end reads out of bounds in the C
    # sweep and one between two ids silently takes its neighbour's position
    bad = vid[np.minimum(dstp, nv - 1)] != dst
    if bad.any():
        raise ValueError(
            f"leiden_scale: {int(bad.sum())} edge rows point at vertices with no "
            f"edges of their own (e.g. dst={int(dst[bad][0])}); the edge table "
            "must be symmetric — run it through sources.edges.symmetricize_df first")
    w = edf["w"].to_numpy(np.float64)

    u_ids, u_counts = np.unique(src, return_counts=True)
    nu = len(u_ids)
    u_start = np.concatenate([[0], np.cumsum(u_counts)])
    upos = np.searchsorted(vid, u_ids)                     # local u → vid pos
    row_u = np.repeat(np.arange(nu), u_counts)             # local u per row
    is_local = np.zeros(nv, dtype=bool)
    is_local[upos] = True

    ever_moved = np.zeros(nu, dtype=bool)
    acc_gain = np.zeros(nu, dtype=np.float64)

    # affected-vertex pruning (L6, inc/leiden.hxx:656,661-662): after the
    # first local iteration only vertices with a moved neighbor (or that
    # moved themselves) are rescanned — late iterations touch O(frontier)
    # instead of O(partition edges). ``changed_pos`` in the broadcast state
    # seeds the FIRST iteration the same way from the previous coarse
    # round's global movers, so later rounds are O(frontier) end to end.
    moved_vpos_mask = np.zeros(nv, dtype=bool)
    seed = state.get("changed_pos") if not refine else None
    if seed is not None:
        active = np.zeros(nu, dtype=bool)
        moved_vpos_mask[seed] = True
        active[row_u[moved_vpos_mask[dstp]]] = True
        # seeds self-activate: a direction-blocked vertex needs ITSELF
        # rescanned when the direction flips, not just its neighbors
        active |= moved_vpos_mask[upos]
        moved_vpos_mask[:] = False
    else:
        active = np.ones(nu, dtype=bool)

    blocked_u = np.zeros(nu, dtype=np.uint8)

    def _emit(commp0):
        """Net movers (final label != round-start) plus direction-blocked
        positive movers that did NOT net-move — the driver applies only
        blocked==0 rows and unions blocked==1 ids into the next round's
        seed so the flipped direction releases the pending move.

        When ``state["emit_affected"]`` (a row cap = the driver's frontier
        gate) is set and this task's mover+blocked count is within it,
        blocked==2 rows carry the distinct NEIGHBOR ids of this task's
        movers — the next coarse round's affected-src set, computed here
        for free from the adjacency already in-task. A mover's full
        adjacency is always present (a fed round ships every row of each
        seeded src, and a mover is by definition seeded), and the graph is
        symmetric, so the union of these rows across tasks equals exactly
        the JVM semi-join frontier scan they replace — the driver builds
        the next feed from them without re-scanning the edge table. Tasks
        whose count exceeds the cap skip emission; the driver only trusts
        the union when the GLOBAL count is within the cap (which implies
        every task emitted)."""
        net = ever_moved & (commp[upos] != np.searchsorted(vid, commp0)[upos])
        mk = np.flatnonzero(net)
        bk = np.flatnonzero(blocked_u.astype(bool) & ~net)
        nbr = np.empty(0, dtype=np.int64)
        cap = int(state.get("emit_affected", 0))
        nm = len(mk) + len(bk)
        if cap and not refine and 0 < nm <= cap:
            sel = np.zeros(nu, dtype=bool)
            sel[mk] = True
            sel[bk] = True
            nbr = vid[np.unique(dstp[sel[row_u]])]
        return pd.DataFrame({
            "id": pd.Series(np.concatenate([u_ids[mk], u_ids[bk], nbr]), dtype="int64"),
            "community_new": pd.Series(
                np.concatenate([vid[commp[upos[mk]]], vid[commp[upos[bk]]], nbr]),
                dtype="int64"),
            "gain": pd.Series(
                np.concatenate([acc_gain[mk], acc_gain[bk],
                                np.zeros(len(nbr), np.float64)]), dtype="float64"),
            "blocked": pd.Series(
                np.concatenate([np.zeros(len(mk), np.int32),
                                np.ones(len(bk), np.int32),
                                np.full(len(nbr), 2, np.int32)]), dtype="int32"),
        })

    ck = get_kernel()
    sweep = sweep_py if ck is None else partial(_run_c_sweep, ck)
    sweep(nu, nv, u_start, dstp, w, upos, commp, vtot, ctot, bound, is_local,
          max(max_local_iters, 1), refine, direction, M, R, E,
          active, moved_vpos_mask, ever_moved, acc_gain, blocked_u)
    # emit only NET movers (final label != round-start label): the driver
    # applies labels and recomputes ctot, so internal ping-pong that lands
    # back home carries no information and would only inflate the collect
    yield _emit(state["comm"])
