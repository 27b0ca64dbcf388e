"""Independent output checks, computed with numpy on the driver from the
tables the program returned. None of them calls into the package under test.

Each check returns a list of failure messages; an empty list means pass.
"""

from __future__ import annotations

import hashlib

import numpy as np

Q_TOL = 1e-6
RANK_MASS_TOL = 1e-9


def _collect(df, *cols) -> list[np.ndarray]:
    pdf = df.select(*cols).toPandas()
    return [pdf[c].to_numpy() for c in cols]


def edge_arrays(edges_df) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    src, dst, w = _collect(edges_df, "src", "dst", "w")
    return src.astype(np.int64), dst.astype(np.int64), w.astype(np.float64)


def label_arrays(memb_df, label_col: str = "community") -> tuple[np.ndarray, np.ndarray]:
    ids, lab = _collect(memb_df, "id", label_col)
    order = np.argsort(ids, kind="stable")
    return ids[order].astype(np.int64), lab[order].astype(np.int64)


def labels_md5(ids: np.ndarray, lab: np.ndarray) -> str:
    return hashlib.md5(ids.tobytes() + lab.tobytes()).hexdigest()


def modularity(src, dst, w, ids, lab, resolution: float = 1.0) -> float:
    """Q = Σ_c in_c/(2M) − R·(tot_c/(2M))² over the directed scan of a
    symmetric edge table (each undirected edge appears twice)."""
    _, comm = np.unique(lab, return_inverse=True)
    cs = comm[np.searchsorted(ids, src)]
    cd = comm[np.searchsorted(ids, dst)]
    two_m = w.sum()
    tot = np.bincount(cs, weights=w, minlength=comm.max() + 1)
    inside = w[cs == cd].sum()
    return float(inside / two_m - resolution * np.square(tot / two_m).sum())


def check_leiden(src, dst, w, ids, lab, reported_q: float) -> list[str]:
    errs = []
    vert = np.unique(np.concatenate([src, dst]))
    if len(ids) != len(vert) or not np.array_equal(ids, vert):
        errs.append(f"membership covers {len(ids)} ids, edge table has {len(vert)} vertices")
        return errs
    q = modularity(src, dst, w, ids, lab)
    if abs(q - reported_q) > Q_TOL:
        errs.append(f"modularity {reported_q!r} differs from recomputed {q!r}")
    return errs


def check_edge_table(src, dst) -> list[str]:
    """Symmetric and free of duplicate rows."""
    span = int(max(src.max(), dst.max())) + 1
    fwd = src * span + dst
    rev = dst * span + src
    errs = []
    if len(np.unique(fwd)) != len(fwd):
        errs.append("edge table has duplicate rows")
    if not np.array_equal(np.sort(fwd), np.sort(rev)):
        errs.append("edge table is not symmetric")
    return errs


def check_components(src, dst, ids, comp) -> list[str]:
    """Every edge joins equal labels, and the labelling equals an
    independent min-label propagation (label = smallest member id)."""
    errs = []
    s, d = np.searchsorted(ids, src), np.searchsorted(ids, dst)
    if not np.array_equal(comp[s], comp[d]):
        errs.append("component labels differ across an edge")
    root = np.arange(len(ids))
    while True:
        nxt = root.copy()
        np.minimum.at(nxt, s, root[d])
        nxt = nxt[nxt]
        if np.array_equal(nxt, root):
            break
        root = nxt
    if not np.array_equal(comp, ids[root]):
        errs.append("component labels differ from an independent min-label propagation")
    return errs


def triangles(src, dst) -> int:
    """Triangles of the undirected simple graph, each counted once."""
    keep = src < dst
    nbrs: dict[int, set[int]] = {}
    for a, b in zip(src[keep].tolist(), dst[keep].tolist()):
        nbrs.setdefault(a, set()).add(b)
    return sum(len(vs & nbrs.get(b, set())) for vs in nbrs.values() for b in vs)


def check_pagerank(rank_sum: float) -> list[str]:
    if abs(rank_sum - 1.0) > RANK_MASS_TOL:
        return [f"PageRank mass {rank_sum!r} is not 1 within {RANK_MASS_TOL}"]
    return []
