"""The two sweep kernels (no Spark needed).

``_ckernel.sweep_c`` (compiled) and ``_ckernel.sweep_py`` (its Python
transliteration, run where no C toolchain exists) are one algorithm: on the
same inputs ``sweep_partition`` must emit the same frame whichever runs.
Each must also emit valid moves that improve modularity on a planted
two-clique graph, and the two signatures must stay twins.
"""

import inspect
import os
import re

import numpy as np
import pandas as pd
import pytest

from leiden_communities_openmp_spark.operators import _ckernel
from leiden_communities_openmp_spark.operators import sweep as sweep_mod
from leiden_communities_openmp_spark.operators.sweep import DriverState, sweep_partition
from leiden_communities_openmp_spark.sources.mtx import parse_mtx_text

from .conftest import MTX_DIR


def _two_cliques(k: int = 6):
    """Two k-cliques joined by one bridge edge; symmetric directed rows."""
    rows = []
    for base in (0, k):
        for i in range(k):
            for j in range(k):
                if i != j:
                    rows.append((base + i, base + j, 1.0))
    rows.append((k - 1, k, 1.0))
    rows.append((k, k - 1, 1.0))
    df = pd.DataFrame(rows, columns=["src", "dst", "w"]).sort_values(["src", "dst"])
    return df.reset_index(drop=True)


def _planted():
    """planted_sbm_m.mtx (1000 vertices in planted blocks) as symmetric,
    deduplicated rows sorted by (src, dst)."""
    with open(os.path.join(MTX_DIR, "planted_sbm_m.mtx")) as f:
        _, _, edges, _ = parse_mtx_text(f.read())
    e = pd.DataFrame(edges, columns=["src", "dst", "w"])
    e = pd.concat([e, e.rename(columns={"src": "dst", "dst": "src"})])
    e = e[e["src"] != e["dst"]].drop_duplicates(["src", "dst"])
    return e.sort_values(["src", "dst"]).reset_index(drop=True)


def _state(df):
    vt = df.groupby("src")["w"].sum()
    state = DriverState(vt.index.to_numpy(np.int64), vt.to_numpy(np.float64))
    return state, float(df["w"].sum()) / 2.0


def _sweep(use_c: bool, part, snapshot: dict, M: float, iters: int = 20,
           refine: bool = False, direction: int = 0):
    """One ``sweep_partition`` call on ``part`` with the chosen kernel."""
    _ckernel._tried, _ckernel._kernel = (False, None) if use_c else (True, None)
    try:
        return list(sweep_partition(iter([part]), snapshot, M, 1.0, 1e-4,
                                    iters, refine, direction))[0]
    finally:
        _ckernel._tried = False
        _ckernel._kernel = None


def _run(df, use_c: bool, direction: int = 0):
    state, M = _state(df)
    out = _sweep(use_c, df, state.snapshot(), M, direction=direction)
    return out.sort_values("id").reset_index(drop=True), M


def _modularity(df, memb: dict, M: float) -> float:
    q_in = sum(w for s, d, w in df.itertuples(index=False) if memb[s] == memb[d])
    ctot = {}
    for s, _, w in df.itertuples(index=False):
        ctot[memb[s]] = ctot.get(memb[s], 0.0) + w
    return q_in / (2 * M) - sum((c / (2 * M)) ** 2 for c in ctot.values())


@pytest.mark.parametrize("use_c", [False, True])
def test_backend_valid_and_improving(use_c):
    if use_c and _ckernel.get_kernel() is None:
        pytest.skip("no C toolchain")
    df = _two_cliques()
    out, M = _run(df, use_c)
    assert list(out.columns) == ["id", "community_new", "gain", "blocked"]
    assert (out["gain"] > 0).all()
    # apply moves; modularity must beat singletons and find the two cliques
    memb = {int(v): int(v) for v in pd.unique(df[["src", "dst"]].values.ravel())}
    for r in out.itertuples(index=False):
        memb[int(r.id)] = int(r.community_new)
    q0 = _modularity(df, {v: v for v in memb}, M)
    q1 = _modularity(df, memb, M)
    assert q1 > q0
    assert len(set(memb.values())) == 2


@pytest.mark.parametrize("use_c", [False, True])
def test_backend_deterministic(use_c):
    if use_c and _ckernel.get_kernel() is None:
        pytest.skip("no C toolchain")
    df = _two_cliques(8)
    a, _ = _run(df, use_c, direction=-1)
    b, _ = _run(df, use_c, direction=-1)
    pd.testing.assert_frame_equal(a, b)


def _split_rounds(n_rounds: int):
    """The planted graph split at id 525 (inside a planted block, so the
    halves link) into two partitions, after ``n_rounds`` coarse rounds with
    the driver's alternating directions (-1 first). Returns the full-universe
    state, M, the two halves and the rows the last round emitted."""
    full = _planted()
    state, M = _state(full)
    halves = [full[full["src"] < 525].reset_index(drop=True),
              full[full["src"] >= 525].reset_index(drop=True)]
    last = None
    for r in range(n_rounds):
        snap = state.snapshot()
        last = pd.concat([_sweep(False, h, dict(snap), M, direction=-1 if r % 2 == 0 else 1)
                          for h in halves])
        movers = last[last["blocked"] == 0]
        state.apply_moves(movers["id"].to_numpy(), movers["community_new"].to_numpy())
    return state, M, halves, last


def _parity_case(case: str):
    """(partition rows, state snapshot, M, sweep_partition keywords, the
    blocked kinds the case must emit) for one parity case."""
    if case == "two-cliques":
        df = _two_cliques()
        state, M = _state(df)
        return df, state.snapshot(), M, {}, {0}
    if case == "half-down":        # round 1: remote moves up are blocked
        state, M, (low, _), _ = _split_rounds(0)
        return low, state.snapshot(), M, {"direction": -1}, {0, 1}
    if case == "half-up":          # round 2: remote moves down are blocked
        state, M, (_, high), _ = _split_rounds(1)
        return high, state.snapshot(), M, {"direction": 1}, {0, 1}
    if case == "refine-bound":
        full = _planted()
        state, M = _state(full)
        bound = state.vid // 50    # a bound community per 50-id range
        return full, state.snapshot(bound), M, {"iters": 1, "refine": True}, {0}
    # round 3, seeded with round 2's movers and blocked vertices; the task
    # also emits its movers' neighbors (blocked == 2)
    state, M, (_, high), last = _split_rounds(2)
    snap = state.snapshot()
    snap["changed_pos"] = state.pos(np.unique(last["id"].to_numpy()))
    snap["emit_affected"] = 10**6
    return high, snap, M, {"direction": -1}, {0, 1, 2}


def _sweep_recorded(use_c: bool, monkeypatch, part, snapshot, M, **kw):
    """``_sweep``, also returning the kernel's return value and every
    argument buffer as the kernel left it."""
    name = "_run_c_sweep" if use_c else "sweep_py"
    kernel = getattr(sweep_mod, name)
    seen = {}

    def spy(*args):
        seen["ret"] = kernel(*args)
        # the C entry point's first argument is the ctypes function
        seen["args"] = [a.copy() if isinstance(a, np.ndarray) else a
                        for a in args[1 if use_c else 0:]]
        return seen["ret"]

    with monkeypatch.context() as m:
        m.setattr(sweep_mod, name, spy)
        out = _sweep(use_c, part, dict(snapshot), M, **kw)
    return out, seen


@pytest.mark.parametrize("case", ["two-cliques", "half-down", "half-up",
                                  "refine-bound", "seeded-affected"])
def test_c_and_python_kernels_emit_the_same_frame(case, monkeypatch):
    if _ckernel.get_kernel() is None:
        pytest.skip("no C toolchain")
    part, snap, M, kw, kinds = _parity_case(case)
    c_out, c_seen = _sweep_recorded(True, monkeypatch, part, snap, M, **kw)
    py_out, py_seen = _sweep_recorded(False, monkeypatch, part, snap, M, **kw)
    pd.testing.assert_frame_equal(c_out, py_out, check_exact=True)
    assert set(c_out["blocked"]) == kinds
    # bit for bit: the total gain and every buffer the kernels wrote
    assert c_seen["ret"] == py_seen["ret"]
    names = list(inspect.signature(_ckernel.sweep_py).parameters)
    for name, a, b in zip(names, c_seen["args"], py_seen["args"], strict=True):
        np.testing.assert_array_equal(a, b, err_msg=name)


def test_sweep_py_signature_matches_sweep_c():
    """sweep_py takes sweep_c's parameters in order, minus the C-only
    scratch buffers — an edit to one kernel's contract must reach both."""
    params = re.search(r"double sweep_c\((.*?)\)", _ckernel._SRC, re.S).group(1)
    c_names = [re.findall(r"\w+", p)[-1] for p in params.split(",")]
    scratch = ["vcout", "tkeys", "intouch", "moved_list"]
    assert set(scratch) <= set(c_names)
    assert list(inspect.signature(_ckernel.sweep_py).parameters) == [
        n for n in c_names if n not in scratch]


def test_refine_respects_bound_and_singletons():
    """Refine mode: moves only within the bound community, only while the
    source is still a singleton (inc/leiden.hxx:415,590)."""
    df = _two_cliques()
    state, M = _state(df)
    # bound: clique A -> 0, clique B -> 1 (positions aligned with vid)
    bound = (state.vid >= 6).astype(np.int64)
    out = list(sweep_partition(iter([df]), state.snapshot(bound), M, 1.0,
                               1e-4, 1, True, 0))[0]
    memb = dict(zip(state.vid.tolist(), state.vid.tolist()))
    for r in out.itertuples(index=False):
        memb[int(r.id)] = int(r.community_new)
    # no vertex may end up in a community anchored across the bound
    for v, c in memb.items():
        assert (v >= 6) == (c >= 6)
