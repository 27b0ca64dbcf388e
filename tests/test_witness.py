"""tools/witness.py: its numbers are correctness claims, so they are tested.

The in-process leg must report the same labels md5 as a direct
``leiden_scale`` run, phases that fit inside the call's wall time, and the
efficiency and ``s + p/c`` figures a hand calculation gives.
"""

import hashlib
import json
import math
import os
import sys
import time

from leiden_communities_openmp_spark.operators.graphgen import planted_hard
from leiden_communities_openmp_spark.operators.kernel import LeidenOptions
from leiden_communities_openmp_spark.operators.leiden import leiden_scale
from leiden_communities_openmp_spark.sources.edges import symmetricize_df

from .conftest import REPO

sys.path.insert(0, os.path.join(REPO, "tools"))
import witness  # noqa: E402


def test_leg_md5_matches_direct_run_and_phases_fit_wall(spark, monkeypatch):
    edges = symmetricize_df(planted_hard(spark, 4096)).localCheckpoint(eager=True)
    # a small forced-distributed run: 4 partitions, no driver-kernel pass 1
    monkeypatch.setattr(witness, "NUM_PARTITIONS", 4)
    monkeypatch.setitem(witness.STRATEGY_KW, "sweep", {"driver_threshold": 0})
    t0 = time.time()
    leg = witness.run_leg(spark, edges, "sweep")
    outer_s = time.time() - t0

    res = leiden_scale(spark, edges, LeidenOptions(), driver_threshold=0, num_partitions=4)
    labels = sorted((r["id"], r["community"]) for r in res.membership.collect())
    assert leg["labels_md5"] == hashlib.md5(json.dumps(labels).encode()).hexdigest()
    assert leg["modularity"] == res.modularity

    # a distributed pass ran, so the phases below are real timers
    assert leg["layers"]["leiden.move_s"] > 0
    timed = sum(leg["layers"][f"leiden.{k}"] for k in witness.PHASES
                if k != "unattributed_s")
    # `seconds` is rounded to the millisecond
    assert timed <= leg["seconds"] + 1e-3 and leg["seconds"] <= outer_s
    assert math.isclose(sum(leg["layers"][f"leiden.{k}"] for k in witness.PHASES),
                        leg["seconds"], abs_tol=1e-3)
    assert math.isclose(leg["layers"]["leiden.edges_per_s"] * leg["seconds"],
                        leg["layers"]["leiden.edge_rows_total"], rel_tol=1e-3)
    assert leg["steal_s"] >= 0 and leg["cpu_s"]["jvm"] > 0
    assert leg["busy_cores"] == round(sum(leg["cpu_s"].values()) / leg["seconds"], 3) > 0


def test_efficiency_and_fit_hand_worked():
    # 2 -> 4 cores, 10 s -> 6 s: speedup 10/6 over a core ratio of 2
    assert math.isclose(witness.efficiency(10.0, 6.0, 2, 4), 10.0 / 12.0)
    # s + p/2 = 10 and s + p/4 = 6  =>  p = 16, s = 2
    s, p = witness.amdahl_fit(10.0, 6.0, 2, 4)
    assert math.isclose(s, 2.0) and math.isclose(p, 16.0)
    # perfectly parallel: 2 -> 8 cores, 40 s -> 10 s
    assert math.isclose(witness.efficiency(40.0, 10.0, 2, 8), 1.0)
    s, p = witness.amdahl_fit(40.0, 10.0, 2, 8)
    assert math.isclose(s, 0.0, abs_tol=1e-12) and math.isclose(p, 80.0)
    assert witness.efficiency(0.0, 0.0, 2, 4) is None
    # a local[2] leg whose tree used 27.6 CPU-s in 12 s kept 2.3 cores busy
    assert math.isclose(witness.busy_cores({"driver": 1.2, "jvm": 22.4, "py_worker": 4.0},
                                           12.0), 2.3)


def test_compare_two_legs():
    def leg(cores, move_s, seconds, md5, busy=None):
        layers = {f"leiden.{k}": 0.0 for k in witness.PHASES}
        layers["leiden.move_s"] = move_s
        layers["leiden.unattributed_s"] = seconds - move_s
        return {"cores": cores, "seconds": seconds, "layers": layers,
                "busy_cores": busy or cores, "labels_md5": md5, "steal_s": 0.5}

    # local[2] kept 2.4 cores busy, local[4] 3.6: a busy-core ratio of 1.5
    out = witness.compare(leg(2, 10.0, 12.0, "a", 2.4), leg(4, 6.0, 8.0, "a", 3.6))
    assert out["cores"] == [2, 4] and out["busy_cores"] == [2.4, 3.6]
    assert out["labels_identical"]
    # move: speedup 10/6 over 2 nominal (0.833), over 1.5 busy (1.111)
    move = out["phases"]["move_s"]
    assert move == {"t": [10.0, 6.0], "eff": 0.833, "eff_busy": 1.111, "s": 2.0, "p": 16.0}
    # unattributed 2 s on both legs: all serial
    assert out["phases"]["unattributed_s"] == {
        "t": [2.0, 2.0], "eff": 0.5, "eff_busy": 0.667, "s": 2.0, "p": 0.0}
    # end to end: speedup 1.5 over 2 nominal, over 1.5 busy
    e2e = out["phases"]["end_to_end"]
    assert e2e == {"t": [12.0, 8.0], "eff": 0.75, "eff_busy": 1.0, "s": 4.0, "p": 16.0}
    assert out["phases"]["vt_s"]["eff"] is None and out["phases"]["vt_s"]["eff_busy"] is None
    assert not witness.compare(leg(2, 1.0, 2.0, "a"), leg(4, 1.0, 2.0, "b"))["labels_identical"]
