"""Partitioned Gauss-Seidel sweep — the engine's scale-mode move kernel.

Spark analogue of the reference's per-thread asynchronous local-moving
(leidenMoveOmpW, inc/leiden.hxx:646-668): the edge table is range-partitioned
by ``src`` into contiguous, degree-balanced vertex-id blocks
(operators/leiden.py ``_range_partition_edges``), so every vertex's full
adjacency lives in exactly one partition, sorted by (src, dst, w);
each partition task runs a block-Gauss-Seidel sweep over its own vertices
against a broadcast snapshot of (membership, vtot, ctot), applying moves to
its *local* copy as it goes (the same stale-read tolerance as the
reference's racy OpenMP loop); the driver then reconciles all emitted label
changes exactly and recomputes community weights. One coarse round == one
Spark job.

Kernel shape (vectorized, numpy): vertices are processed in blocks. Per
block, the community tally A4 (inc/leiden.hxx:412-463) runs as one
lexsort + add.reduceat over the block's adjacency rows, the gain L1
(inc/properties.hxx:253-256) and argmax L2 as array expressions, and the
winning candidates are then *accepted sequentially in ascending vertex
order against live community weights* — the Spark-side equivalent of the
reference's immediate-apply loop (inc/leiden.hxx:588-597), with the
acceptance recheck standing in for its atomics. Later blocks see earlier
blocks' moves (fresh labels), so within a partition this is Gauss-Seidel at
block granularity and exact at the community-weight level.

Scale notes: edges (the 100 TB relation) never leave the executors; the
broadcast state is O(|V|) and works to ~10^8-10^9 vertices — beyond that the
pure-DataFrame rounds mode (operators/leiden.py _move_round) is the fallback,
trading per-round latency for unbounded state. Partition count is a fixed
parameter independent of core count, so results are bit-identical between
local[8] and local[32] — the scaling-efficiency experiment changes only
parallelism, never the computation.
"""

from __future__ import annotations

import numpy as np

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

    def n_communities(self) -> int:
        return int(np.unique(self.comm).size)


def _run_c_sweep(ck, nu, nv, u_start, dstp, w, upos, commp, vtot, ctot,
                 bound, is_local, max_iters, refine, direction, M, R, E,
                 active, moved_mask, ever_moved, acc_gain, blocked):
    """Marshal numpy buffers into the compiled sweep (operators/_ckernel.py).
    Mutates commp/ctot/active/ever_moved/acc_gain in place."""
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
    ck(nu, nv, p(u_start), p(dstp), p(w), p(upos),
       p(commp), p(vtot), p(ctot), p(bnd), p(is_local),
       int(max(max_iters, 1)), 1 if refine else 0, int(direction),
       float(M), float(R), float(E),
       p(vcout), p(tkeys), p(intouch),
       p(active), p(moved_mask), p(moved_list),
       p(ever_moved), p(acc_gain), p(blocked))


@task_entry
def sweep_partition(pdf_iter, state: dict, M: float, R: float, E: float,
                    max_local_iters: int, refine: bool, direction: int = 0,
                    block: int = 8192):
    """Executor-side vectorized sweep over one adjacency partition.

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
    parts = list(pdf_iter)
    if not parts:
        yield empty
        return
    edf = pd.concat(parts, ignore_index=True)
    if len(edf) == 0:
        yield empty
        return

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

    two_mm = 2.0 * M * M
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

    from ._ckernel import get_kernel
    ck = get_kernel()
    if ck is not None:
        _run_c_sweep(ck, nu, nv, u_start, dstp, w, upos, commp, vtot, ctot,
                     bound, is_local, max_local_iters, refine, direction, M, R, E,
                     active, moved_vpos_mask, ever_moved, acc_gain, blocked_u)
        yield _emit(state["comm"])
        return

    for it_no in range(max(max_local_iters, 1)):
        el = 0.0
        any_move = False
        if it_no > 0:
            np.logical_and(active, False, out=active)
            touched = moved_vpos_mask[dstp]          # row's dst moved last iter
            active[row_u[touched]] = True
            moved_vpos_mask[:] = False
        if not active.any():
            break
        act_idx = np.flatnonzero(active)
        for b0 in range(0, len(act_idx), block):
            blk = act_idx[b0:b0 + block]
            blocked_u[blk] = 0               # per-scan verdict overwrite
            # ragged gather of the block's adjacency rows
            lens = u_start[blk + 1] - u_start[blk]
            tot = int(lens.sum())
            if tot == 0:
                continue
            step = np.ones(tot, dtype=np.int64)
            step[0] = u_start[blk[0]]
            cs = np.cumsum(lens)[:-1]
            if len(cs):
                step[cs] = u_start[blk[1:]] - (u_start[blk[:-1]] + lens[:-1] - 1)
            rows = np.cumsum(step)
            ru = row_u[rows]
            rv = dstp[rows]
            rw = w[rows]
            rup = upos[ru]
            mask = rv != rup                    # skip self (inc/leiden.hxx:414)
            if refine:
                mask &= bound[rv] == bound[rup]  # bound constraint (hxx:415)
            if not mask.any():
                continue
            ru, rv, rw, rup = ru[mask], rv[mask], rw[mask], rup[mask]
            rc = commp[rv]
            # A4 tally: vcout[(u, c)] = Σ w — one lexsort + reduceat
            order = np.lexsort((rc, ru))
            gu = ru[order]
            gc = rc[order]
            gw = rw[order]
            newgrp = np.empty(len(gu), dtype=bool)
            newgrp[0] = True
            np.logical_or(gu[1:] != gu[:-1], gc[1:] != gc[:-1], out=newgrp[1:])
            starts = np.flatnonzero(newgrp)
            vcout = np.add.reduceat(gw, starts)
            g_u = gu[starts]
            g_c = gc[starts]
            g_up = upos[g_u]
            g_d = commp[g_up]
            # vdout: the tally of u's own community
            g_ui = np.searchsorted(blk, g_u)        # dense index within block
            vd = np.zeros(len(blk), dtype=np.float64)
            own = g_c == g_d
            vd[g_ui[own]] = vcout[own]
            vdout = vd[g_ui]
            uvt = vtot[g_up]
            gain = (vcout - vdout) / M - R * uvt * (uvt + ctot[g_c] - ctot[g_d]) / two_mm
            cand = (g_c != g_d) & (gain > 0.0)
            if refine:
                cand &= ctot[g_d] <= uvt        # singleton source (hxx:590)
            if direction != 0:
                rem = ~is_local[g_c]
                if direction > 0:
                    dir_ok = ~rem | (vid[g_c] > vid[g_d])
                else:
                    dir_ok = ~rem | (vid[g_c] < vid[g_d])
                # positive moves rejected purely by the direction rule:
                # flag their source vertices (cleared below if they move)
                blocked_u[g_u[cand & ~dir_ok]] = 1
                cand &= dir_ok
            idx = np.flatnonzero(cand)
            if idx.size == 0:
                continue
            # L2 argmax per u, deterministic tie-break (max gain, min comm id)
            cu = g_u[idx]
            o2 = np.lexsort((-vid[g_c[idx]], gain[idx], cu))
            cu_s = cu[o2]
            last = np.flatnonzero(np.append(cu_s[1:] != cu_s[:-1], True))
            pick = idx[o2[last]]                # one winner per u, u ascending
            # sequential acceptance against LIVE ctot (the reference's
            # immediate-apply, inc/leiden.hxx:588-597): block-start values
            # pre-gathered vectorized; in-loop freshness via a sparse delta
            # map of communities touched within the block (plain-Python
            # scalars in the hot loop — ~10× numpy scalar indexing)
            p_u = g_u[pick].tolist()
            p_up = g_up[pick].tolist()
            p_cp = g_c[pick].tolist()
            p_dp = g_d[pick].tolist()
            p_vc = vcout[pick].tolist()
            p_vd = vdout[pick].tolist()
            p_uv = vtot[g_up[pick]].tolist()
            p_g0 = gain[pick].tolist()
            ct_c0 = ctot[g_c[pick]].tolist()
            ct_d0 = ctot[g_d[pick]].tolist()
            delta: dict[int, float] = {}
            mv_up: list[int] = []
            mv_cp: list[int] = []
            dget = delta.get
            gains_l: list[float] = []
            ks: list[int] = []
            for t in range(len(p_u)):
                dp = p_dp[t]
                cp = p_cp[t]
                uv = p_uv[t]
                if dp in delta or cp in delta:
                    ctd = ct_d0[t] + dget(dp, 0.0)
                    if refine and ctd > uv:
                        continue
                    g = (p_vc[t] - p_vd[t]) / M \
                        - R * uv * (uv + ct_c0[t] + dget(cp, 0.0) - ctd) / two_mm
                    if g <= 0.0:
                        continue
                else:
                    if refine and ct_d0[t] > uv:
                        continue
                    g = p_g0[t]          # untouched communities → the
                                          # vectorized gain is already live
                delta[dp] = dget(dp, 0.0) - uv
                delta[cp] = dget(cp, 0.0) + uv
                mv_up.append(p_up[t])
                mv_cp.append(cp)
                ks.append(p_u[t])
                gains_l.append(g)
                el += g
                any_move = True
            if mv_up:
                mv_up_a = np.asarray(mv_up, dtype=np.int64)
                commp[mv_up_a] = np.asarray(mv_cp, dtype=np.int64)
                moved_vpos_mask[mv_up_a] = True
                ks_a = np.asarray(ks, dtype=np.int64)
                blocked_u[ks_a] = 0              # a mover is not blocked
                ever_moved[ks_a] = True
                np.add.at(acc_gain, ks_a, np.asarray(gains_l, dtype=np.float64))
                dk = np.fromiter(delta.keys(), dtype=np.int64, count=len(delta))
                dv = np.fromiter(delta.values(), dtype=np.float64, count=len(delta))
                np.add.at(ctot, dk, dv)
        if refine or not any_move or el <= E:
            break

    # emit only NET movers (final label != round-start label): the driver
    # applies labels and recomputes ctot, so internal ping-pong that lands
    # back home carries no information and would only inflate the collect
    yield _emit(state["comm"])
