#!/usr/bin/env python3
"""Add extra reps for ONE leg of an existing scaling report and re-derive
the estimators.

Why this exists: the steal-robust protocol in tools/scaling.py treats each
leg's MINIMUM (and per-phase minima) as the clean-floor estimate, because
host CPU-steal only ever ADDS time. When a window contaminates one side
asymmetrically — e.g. BENCH/scaling_8m_r5.json: 2-core reps 1526.7/1527.8/
2067.4s (two reps agree to 0.1%, the floor is found) vs 8-core reps
618.9/837.3/725.6s (35% spread, floor clearly not found) — the efficiency
ratio is biased against the contaminated side. Extra reps on THAT side only
let its min/per-phase-minima converge to the same floor the other side
already reached; they cannot move the clean side. The asymmetry is
disclosed in the output (`reps_seconds` keeps every rep).

Usage: python3 tools/extra_reps.py BENCH/scaling_8m_r5.json 8 8000000 3
       (report, cpus-of-the-leg-to-extend, n_vertices, extra reps)
"""

from __future__ import annotations

import json
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
from scaling import run_once  # noqa: E402


def main():
    path = pathlib.Path(sys.argv[1])
    cpus = int(sys.argv[2])
    size = int(sys.argv[3])
    extra = int(sys.argv[4]) if len(sys.argv) > 4 else 3

    report = json.loads(path.read_text())
    sec = report["leiden"]
    leg_key = f"local{cpus}"
    other_key = next(k for k in sec if k.startswith("local") and k != leg_key)
    leg, other = sec[leg_key], sec[other_key]
    cpu_hi = max(cpus, other["cpus"])
    cpu_lo = min(cpus, other["cpus"])

    runs = [dict(leg)]  # current best carries its phases; reps list below
    all_secs = list(leg["reps_seconds"])
    # per-phase floors: the best rep's phases plus the minima already
    # recorded over the interleaved pass's other reps
    all_phases = [leg["phases"], leg.get("phases_composed", leg["phases"])]
    for i in range(extra):
        r = run_once("leiden", cpus, size)
        assert r["labels_md5"] == leg["labels_md5"], "nondeterministic run!"
        print(f"extra rep {i + 1}/{extra}: {r['seconds']}s "
              f"(prev min {min(all_secs)}s)")
        all_secs.append(r["seconds"])
        all_phases.append(r["phases"])
        runs.append(r)

    best = min(runs, key=lambda r: r["seconds"])
    best = dict(best)
    best["reps_seconds"] = all_secs
    # composed = per-phase minima across every rep whose phases we hold
    keys = set().union(*all_phases)
    comp = {k: min(p[k] for p in all_phases if k in p) for k in keys}
    best["phases_composed"] = {k: round(v, 3) for k, v in sorted(comp.items())}
    best["seconds_composed"] = round(sum(comp.values()), 3)
    best["edges_per_sec_end2end"] = round(
        best["edges"] * best["passes"] / best["seconds"])
    best["edges_per_sec_per_superstep"] = (
        round(best["edges"] * best["sweep_passes"] / best["move_seconds"])
        if best["move_seconds"] else None)
    sec[leg_key] = best

    hi = sec[f"local{cpu_hi}"]
    lo = sec[f"local{cpu_lo}"]
    sec["eff_end2end"] = round(
        (hi["edges_per_sec_end2end"] / lo["edges_per_sec_end2end"]) / (cpu_hi / cpu_lo), 3)
    sec["eff_move_phase"] = (
        round((hi["edges_per_sec_per_superstep"] / lo["edges_per_sec_per_superstep"])
              / (cpu_hi / cpu_lo), 3)
        if hi.get("edges_per_sec_per_superstep") and lo.get("edges_per_sec_per_superstep")
        else None)
    sec["eff_composed"] = round(
        (lo["seconds_composed"] / hi["seconds_composed"]) / (cpu_hi / cpu_lo), 3)
    # pair_effs from the original interleaved pass are kept as-is (they
    # describe that window); note the extension
    sec["extra_reps_note"] = (
        f"local{cpus} extended by {extra} reps after the interleaved pass "
        "(one-sided steal: see reps_seconds spreads); min/composed re-derived "
        "over all reps")
    path.write_text(json.dumps(report, indent=1))
    print(json.dumps({k: sec[k] for k in
                      ("eff_end2end", "eff_move_phase", "eff_composed")},
                     indent=1))


if __name__ == "__main__":
    main()
