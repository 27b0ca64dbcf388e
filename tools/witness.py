#!/usr/bin/env python3
"""Scaling witness: one named graph at one or more ``local[N]`` core counts.

    python3 tools/witness.py planted 1000000 2 4
    python3 tools/witness.py pages 8000 4 --strategy rounds

Graphs: ``planted N`` is ``symmetricize_df(planted_hard(spark, N))`` (21.6
symmetric edge rows per vertex); ``pages N`` is ``N`` generated pages run
through ``sources.pages.ingest``. Each core count runs in its own child
process and JVM, one after another, with the same input and the same
partitioning (``num_partitions=64``, 64 shuffle partitions), so the labels
must be bit-identical across core counts.

``--strategy sweep`` (default) runs ``leiden_scale`` with its defaults.
``--strategy rounds`` runs the pure-DataFrame backend at the reference's
full budget, forced distributed (no driver-kernel finish).

Prints one JSON line per leg as it finishes:

- ``seconds``: wall time of the ``leiden_scale`` call (input built, Python
  workers forked and the session warm before it starts);
- ``layers``: ``perfbench/run.py::leiden_layers`` of the call, so phases
  and ``leiden.edges_per_s`` are the benchmark's definitions;
- ``cpu_s``: driver / JVM / Python-worker CPU over the call
  (``perfbench/probes.py::cpu_split``), ``steal_s``: host steal over it;
- ``busy_cores``: Σ ``cpu_s`` / ``seconds``, the cores the leg's process
  tree kept busy. A ``local[N]`` leg can use more than N: JVM GC and JIT
  threads and the Arrow-fed Python workers run beside the N task slots;
- ``labels_md5``: md5 of ``json.dumps(sorted((id, community)))``;
- ``metrics``: the raw ``LeidenRunResult.metrics``.

With two or more core counts a last line compares the lowest and highest:
per phase and end to end, the efficiency ``eff`` = ``(t_lo/t_hi)/(c_hi/c_lo)``
over the nominal core counts, ``eff_busy`` = ``(t_lo/t_hi)/(busy_hi/busy_lo)``
over the two legs' call-wide ``busy_cores``, and the exact two-point fit
``t(c) = s + p/c`` (serial ``s``, parallel ``p``; a negative ``s`` means the
phase ran super-linear in that window). The tool exits non-zero when the
legs' ``labels_md5`` differ.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pathlib
import subprocess
import sys
import time

REPO = pathlib.Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from perfbench.probes import cpu_split, steal_seconds  # noqa: E402
from perfbench.run import leiden_layers  # noqa: E402

NUM_PARTITIONS = 64
# leiden.* phases of leiden_layers that partition the call's wall time
PHASES = ("setup_phase_s", "vt_s", "partition_s", "move_s", "refine_s", "renumber_s",
          "aggregate_s", "driver_kernel_s", "final_modularity_s", "unattributed_s")
# leiden_scale keywords per strategy, on top of num_partitions
STRATEGY_KW = {
    "sweep": {},
    "rounds": {"strategy": "rounds", "driver_threshold": 0, "driver_vertex_threshold": 0},
}


def labels_md5(membership) -> str:
    labels = sorted((r["id"], r["community"]) for r in membership.collect())
    return hashlib.md5(json.dumps(labels).encode()).hexdigest()


def run_leg(spark, edges, strategy: str = "sweep") -> dict:
    """Time one ``leiden_scale`` call on ``edges`` in this process and return
    its leg record (without ``cores``)."""
    from leiden_communities_openmp_spark.operators.kernel import LeidenOptions
    from leiden_communities_openmp_spark.operators.leiden import leiden_scale

    kw = {"num_partitions": NUM_PARTITIONS, **STRATEGY_KW[strategy]}
    cpu0, steal0 = cpu_split(), steal_seconds()
    t0 = time.time()
    res = leiden_scale(spark, edges, LeidenOptions(), **kw)
    call_s = time.time() - t0
    cpu1, steal1 = cpu_split(), steal_seconds()
    seconds = round(call_s, 3)
    cpu_s = {k: round(cpu1[k] - cpu0[k], 2) for k in cpu1}
    return {
        "strategy": strategy, "seconds": seconds,
        "passes": res.passes, "iterations": res.iterations,
        "modularity": res.modularity, "labels_md5": labels_md5(res.membership),
        "layers": leiden_layers(res, call_s),
        "cpu_s": cpu_s, "busy_cores": round(busy_cores(cpu_s, seconds), 3),
        "steal_s": round(steal1 - steal0, 2),
        "metrics": res.metrics,
    }


def _build_graph(spark, graph: str, size: int):
    if graph == "planted":
        from leiden_communities_openmp_spark.operators.graphgen import planted_hard
        from leiden_communities_openmp_spark.sources.edges import symmetricize_df
        return symmetricize_df(planted_hard(spark, size)).localCheckpoint(eager=True)
    from leiden_communities_openmp_spark.sources.fixtures import pages_spark_df
    from leiden_communities_openmp_spark.sources.pages import ingest
    edges, _ = ingest(pages_spark_df(spark, size).localCheckpoint(eager=True))
    return edges.localCheckpoint(eager=True)


def child_leg(graph: str, size: int, cores: int, strategy: str) -> None:
    """One leg in a fresh session: build the input, fork the Python workers,
    then print the record as a ``RESULT`` line."""
    from leiden_communities_openmp_spark.session import get_spark

    spark = get_spark(f"witness-{graph}-{cores}", cpus=cores,
                      shuffle_partitions=NUM_PARTITIONS)
    spark.sparkContext.setLogLevel("ERROR")
    edges = _build_graph(spark, graph, size)
    n_edges = edges.count()
    # Python-worker spin-up is session start-up cost: pay it before the call
    spark.range(100000).repartition(NUM_PARTITIONS).mapInPandas(
        lambda it: it, "id long").count()
    rec = {"graph": graph, "size": size, "cores": cores, "edges": n_edges,
           **run_leg(spark, edges, strategy)}
    print("RESULT " + json.dumps(rec), flush=True)
    spark.stop()


def spawn_leg(graph: str, size: int, cores: int, strategy: str) -> dict:
    code = (f"import sys; sys.path.insert(0, {str(REPO / 'tools')!r}); import witness; "
            f"witness.child_leg({graph!r}, {size}, {cores}, {strategy!r})")
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (str(REPO), env.get("PYTHONPATH")) if p)
    out = subprocess.run([sys.executable, "-u", "-c", code], cwd=REPO, env=env,
                         capture_output=True, text=True)
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"leg local[{cores}] gave no RESULT line (exit {out.returncode}):\n"
                       f"{out.stdout[-2000:]}\n{out.stderr[-4000:]}")


def busy_cores(cpu_s: dict[str, float], seconds: float) -> float:
    """Cores a leg kept busy: its process tree's CPU seconds over wall seconds."""
    return sum(cpu_s.values()) / seconds


def efficiency(t_lo: float, t_hi: float, c_lo: float, c_hi: float) -> float | None:
    """Speedup over core ratio: (t_lo/t_hi)/(c_hi/c_lo); None if t_hi is 0."""
    return (t_lo / t_hi) / (c_hi / c_lo) if t_hi > 0 else None


def amdahl_fit(t_lo: float, t_hi: float, c_lo: int, c_hi: int) -> tuple[float, float]:
    """The (s, p) with s + p/c_lo = t_lo and s + p/c_hi = t_hi."""
    p = (t_lo - t_hi) / (1.0 / c_lo - 1.0 / c_hi)
    return t_lo - p / c_lo, p


def compare(lo: dict, hi: dict) -> dict:
    """Per-phase and end-to-end efficiency (over nominal and busy cores)
    and s + p/c fit of two legs."""
    c_lo, c_hi = lo["cores"], hi["cores"]
    b_lo, b_hi = lo["busy_cores"], hi["busy_cores"]
    rows = {k: (lo["layers"][f"leiden.{k}"], hi["layers"][f"leiden.{k}"]) for k in PHASES}
    rows["end_to_end"] = (lo["seconds"], hi["seconds"])
    table = {}
    for name, (t_lo, t_hi) in rows.items():
        s, p = amdahl_fit(t_lo, t_hi, c_lo, c_hi)
        eff = efficiency(t_lo, t_hi, c_lo, c_hi)
        eff_busy = efficiency(t_lo, t_hi, b_lo, b_hi)
        table[name] = {"t": [round(t_lo, 3), round(t_hi, 3)],
                       "eff": None if eff is None else round(eff, 3),
                       "eff_busy": None if eff_busy is None else round(eff_busy, 3),
                       "s": round(s, 3), "p": round(p, 3)}
    return {"cores": [c_lo, c_hi], "busy_cores": [b_lo, b_hi],
            "labels_identical": lo["labels_md5"] == hi["labels_md5"],
            "steal_s": [lo["steal_s"], hi["steal_s"]], "phases": table}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("graph", choices=("planted", "pages"))
    ap.add_argument("size", type=int, help="vertices (planted) or pages (pages)")
    ap.add_argument("cores", type=int, nargs="+", help="local[N] core counts, one leg each")
    ap.add_argument("--strategy", choices=tuple(STRATEGY_KW), default="sweep")
    args = ap.parse_args(argv)
    legs = []
    for cores in args.cores:
        legs.append(spawn_leg(args.graph, args.size, cores, args.strategy))
        print(json.dumps(legs[-1]), flush=True)
    md5s = {leg["labels_md5"] for leg in legs}
    if len(legs) >= 2:
        by_cores = sorted(legs, key=lambda leg: leg["cores"])
        print(json.dumps({"compare": compare(by_cores[0], by_cores[-1])}), flush=True)
    if len(md5s) > 1:
        print(f"labels_md5 differs across core counts: {sorted(md5s)}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
