"""The partition sweep hot loop, compiled (C) and interpreted (Python).

The in-task local-moving sweep is the reference's innermost loop
(leidenMoveOmpW, inc/leiden.hxx:646-668): per-vertex neighbor-community
tally into a dense accumulator with O(touched) clearing
(inc/leiden.hxx:158-188, 471-476), strictly-positive argmax, immediate
move. That loop is scalar by nature. This module compiles a ~100-line C
translation of it at first use (gcc -O3, cached per source hash) and loads
it via ctypes; ``sweep_py`` is a line-for-line Python transliteration of
the same function, used when no toolchain is available and by the tests as
the readable reference the C kernel must match bit for bit. Both do the
same float operations in the same order, so every host computes the same
labels whichever it runs; the Python one is only slower.

On a real cluster each executor compiles lazily on first task (same
pattern as cffi/numba JIT caches); no toolchain → ``sweep_py``.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile

_SRC = r"""
#include <stdint.h>
typedef int64_t i64;
typedef unsigned char u8;

/* One partitioned Gauss-Seidel sweep (ascending-id order, immediate
   apply). Arrays over the global vid universe are position-indexed;
   position order == id order (vid sorted), so id comparisons use
   positions directly. Returns total accepted gain. */
double sweep_c(
    i64 nu, i64 nv,
    const i64* u_start, const i64* row_dstp, const double* row_w,
    const i64* upos,
    i64* commp, const double* vtot, double* ctot,
    const i64* bound,
    const u8* is_local,
    i64 max_iters, int refine, int direction,
    double M, double R, double E,
    double* vcout, i64* tkeys, u8* intouch,
    u8* active, u8* moved_mask, i64* moved_list,
    u8* ever_moved, double* acc_gain, u8* blocked)
{
    double el_total = 0.0;
    const double two_mm = 2.0 * M * M;
    for (i64 it = 0; it < max_iters; ++it) {
        double el = 0.0;
        i64 n_moved = 0;
        for (i64 k = 0; k < nu; ++k) {
            if (!active[k]) continue;
            const i64 up = upos[k];
            const double uvt = vtot[up];
            const i64 dp = commp[up];
            if (refine && ctot[dp] > uvt) continue;
            blocked[k] = 0;  /* per-scan verdict overwrite */
            i64 nt = 0;
            const i64 b = refine ? bound[up] : 0;
            const i64 r0 = u_start[k], r1 = u_start[k + 1];
            for (i64 r = r0; r < r1; ++r) {
                const i64 vp = row_dstp[r];
                if (vp == up) continue;
                if (refine && bound[vp] != b) continue;
                const i64 c = commp[vp];
                if (!intouch[c]) { intouch[c] = 1; tkeys[nt++] = c; }
                vcout[c] += row_w[r];
            }
            const double vdout = intouch[dp] ? vcout[dp] : 0.0;
            const double ctd = ctot[dp];
            i64 best = -1;
            double emax = 0.0;
            for (i64 t = 0; t < nt; ++t) {
                const i64 c = tkeys[t];
                if (c == dp) continue;
                const double g = (vcout[c] - vdout) / M
                    - R * uvt * (uvt + ctot[c] - ctd) / two_mm;
                if (direction != 0 && !is_local[c] &&
                    ((direction > 0 && c <= dp) || (direction < 0 && c >= dp))) {
                    /* positive move rejected purely by the direction rule:
                       flag so the driver keeps u in the next round's aff
                       seed (the flip releases it) */
                    if (g > 0.0) blocked[k] = 1;
                    continue;
                }
                if (g > emax || (g == emax && best >= 0 && c < best)) {
                    emax = g; best = c;
                }
            }
            for (i64 t = 0; t < nt; ++t) { vcout[tkeys[t]] = 0.0; intouch[tkeys[t]] = 0; }
            if (best >= 0 && emax > 0.0) {
                blocked[k] = 0;  /* a mover is not blocked */
                ctot[dp] -= uvt;
                ctot[best] += uvt;
                commp[up] = best;
                moved_mask[up] = 1;
                moved_list[n_moved++] = up;   /* u unique per iteration */
                ever_moved[k] = 1;
                acc_gain[k] += emax;
                el += emax;
            }
        }
        el_total += el;
        if (refine || n_moved == 0 || el <= E) break;
        /* next iteration: active = vertices with a moved neighbor (L6) */
        for (i64 k = 0; k < nu; ++k) {
            u8 a = 0;
            for (i64 r = u_start[k]; r < u_start[k + 1]; ++r)
                if (moved_mask[row_dstp[r]]) { a = 1; break; }
            active[k] = a;
        }
        for (i64 m = 0; m < n_moved; ++m) moved_mask[moved_list[m]] = 0;
    }
    return el_total;
}
"""


def sweep_py(nu, nv, u_start, row_dstp, row_w, upos, commp, vtot, ctot, bound,
             is_local, max_iters, refine, direction, M, R, E,
             active, moved_mask, ever_moved, acc_gain, blocked):
    """``sweep_c`` in Python, step for step: same arguments minus
    the C-only scratch buffers (vcout, tkeys, intouch, moved_list), same
    in-place updates of commp/ctot/active/moved_mask/ever_moved/acc_gain/
    blocked, same return value. The tally is a dict, whose insertion order
    is the C kernel's first-touch ``tkeys`` order. The numpy arrays are
    worked on as Python lists (scalar numpy indexing is ~10x slower) and
    written back."""
    out = (commp, ctot, active, moved_mask, ever_moved, acc_gain, blocked)
    u_start, row_dstp, row_w, upos, vtot, is_local = (
        a.tolist() for a in (u_start, row_dstp, row_w, upos, vtot, is_local))
    commp, ctot, active, moved_mask, ever_moved, acc_gain, blocked = (
        a.tolist() for a in out)
    if refine:
        bound = bound.tolist()
    el_total = 0.0
    two_mm = 2.0 * M * M
    for _ in range(max_iters):
        el = 0.0
        moved_list = []
        for k in range(nu):
            if not active[k]:
                continue
            up = upos[k]
            uvt = vtot[up]
            dp = commp[up]
            if refine and ctot[dp] > uvt:
                continue
            blocked[k] = 0  # per-scan verdict overwrite
            vcout = {}
            b = bound[up] if refine else 0
            for r in range(u_start[k], u_start[k + 1]):
                vp = row_dstp[r]
                if vp == up or (refine and bound[vp] != b):
                    continue
                c = commp[vp]
                vcout[c] = vcout.get(c, 0.0) + row_w[r]
            vdout = vcout.get(dp, 0.0)
            ctd = ctot[dp]
            best = -1
            emax = 0.0
            for c, vc in vcout.items():
                if c == dp:
                    continue
                g = (vc - vdout) / M - R * uvt * (uvt + ctot[c] - ctd) / two_mm
                if direction != 0 and not is_local[c] and (
                        (direction > 0 and c <= dp) or (direction < 0 and c >= dp)):
                    # positive move rejected purely by the direction rule
                    if g > 0.0:
                        blocked[k] = 1
                    continue
                if g > emax or (g == emax and best >= 0 and c < best):
                    emax = g
                    best = c
            if best >= 0 and emax > 0.0:
                blocked[k] = 0  # a mover is not blocked
                ctot[dp] -= uvt
                ctot[best] += uvt
                commp[up] = best
                moved_mask[up] = 1
                moved_list.append(up)
                ever_moved[k] = 1
                acc_gain[k] += emax
                el += emax
        el_total += el
        if refine or not moved_list or el <= E:
            break
        # next iteration: active = vertices with a moved neighbor (L6)
        for k in range(nu):
            active[k] = any(moved_mask[vp] for vp in row_dstp[u_start[k]:u_start[k + 1]])
        for m in moved_list:
            moved_mask[m] = 0
    for a, v in zip(out, (commp, ctot, active, moved_mask, ever_moved, acc_gain, blocked)):
        a[:] = v
    return el_total


_kernel = None
_tried = False


def get_kernel():
    """The compiled sweep entry, or None (``sweep_py`` runs instead)."""
    global _kernel, _tried
    if _tried:
        return _kernel
    _tried = True
    try:
        h = hashlib.md5(_SRC.encode()).hexdigest()[:16]
        so_path = os.path.join(tempfile.gettempdir(), f"leiden_csweep_{h}.so")
        if not os.path.exists(so_path):
            with tempfile.TemporaryDirectory() as td:
                c_path = os.path.join(td, "sweep.c")
                with open(c_path, "w") as f:
                    f.write(_SRC)
                tmp_so = os.path.join(td, "sweep.so")
                subprocess.run(
                    ["gcc", "-O3", "-shared", "-fPIC", "-o", tmp_so, c_path],
                    check=True, capture_output=True)
                os.replace(tmp_so, so_path)      # atomic vs concurrent workers
        lib = ctypes.CDLL(so_path)
        fn = lib.sweep_c
        c_i64 = ctypes.c_int64
        c_p = ctypes.c_void_p
        fn.restype = ctypes.c_double
        fn.argtypes = [
            c_i64, c_i64,                         # nu nv
            c_p, c_p, c_p,                        # u_start dstp w
            c_p,                                  # upos
            c_p, c_p, c_p,                        # commp vtot ctot
            c_p,                                  # bound
            c_p,                                  # is_local
            c_i64, ctypes.c_int, ctypes.c_int,    # max_iters refine direction
            ctypes.c_double, ctypes.c_double, ctypes.c_double,  # M R E
            c_p, c_p, c_p,                        # vcout tkeys intouch
            c_p, c_p, c_p,                        # active moved_mask moved_list
            c_p, c_p, c_p,                        # ever_moved acc_gain blocked
        ]
        _kernel = fn
    except (OSError, subprocess.CalledProcessError) as exc:
        # Narrow except: a missing gcc / full tmpfs / loader error falls back
        # to sweep_py — the same labels, interpreted. The warning lands in
        # executor stderr; callers can assert the compiled kernel run-wide
        # via kernel_backend().
        import warnings
        warnings.warn(
            f"leiden C sweep kernel unavailable ({exc!r}); falling back to "
            "the Python sweep — same labels, slower run",
            RuntimeWarning, stacklevel=2)
        _kernel = None
    return _kernel


def kernel_backend() -> str:
    """'c' if the compiled sweep is (or will be) used on this worker,
    'python' otherwise. Drivers can spark-collect this from every executor
    (e.g. via mapPartitions on a probe range) to assert the fast path
    run-wide."""
    return "c" if get_kernel() is not None else "python"
