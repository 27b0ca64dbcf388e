#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the seeded input once per seed,
starts one Spark session with a fixed set-up, warms it, repeats the
workload's timed section while the time budget lasts (at least once),
checks every repetition's outputs without timing them, and prints one JSON
line as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (with the Spark event log on). DESIGN.md lists every metric, the
workload it is meant for and the end-to-end metric it should move.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "leiden_communities_openmp_spark"
WORK = os.path.join(HERE, ".work")

# local[CORES] leaves one of the host's four vCPUs to the driver Python and
# the JVM's GC; the heap is fixed so it does not follow MemAvailable
CORES = 3
DRIVER_MEM = "2g"
# listed here, not taken from workloads.SECTIONS, so arguments parse before
# the package is imported
WORKLOADS = ("planted-sweep", "web-pipeline")

END_TO_END = {
    "setup_s": "s", "run_s": "s", "cpu_s": "s",
    "driver_peak_rss_mb": "MiB", "modularity": "Q",
}
_EVENT_LAYERS = ("sources.pages", "leiden", "companions")
_EVENT_FIELDS = {"jobs": "count", "tasks": "count", "exec_run_s": "s",
                 "exec_cpu_s": "s", "gc_s": "s", "shuffle_read_mb": "MiB",
                 "shuffle_write_mb": "MiB", "task_skew": "ratio"}
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "sources.pages.ingest_s": "s", "sources.pages.edge_rows": "count",
    "sources.pages.link_dedup_ratio": "ratio",
    "leiden.call_s": "s", "leiden.setup_phase_s": "s", "leiden.vt_s": "s",
    "leiden.partition_s": "s", "leiden.move_s": "s", "leiden.refine_s": "s",
    "leiden.renumber_s": "s", "leiden.aggregate_s": "s",
    "leiden.driver_kernel_s": "s", "leiden.final_modularity_s": "s",
    "leiden.unattributed_s": "s",
    "leiden.hop_bcast_s": "s", "leiden.hop_job_collect_s": "s", "leiden.hop_apply_s": "s",
    "leiden.passes": "count", "leiden.move_rounds": "count",
    "leiden.edge_rows_total": "count", "leiden.edges_per_s": "1/s",
    "leiden.mover_ratio": "ratio", "leiden.fed_round_share": "ratio",
    "leiden.jobs_per_round": "count", "leiden.driver_only_s": "s",
    "companions.pagerank_s": "s", "companions.cc_s": "s", "companions.cc_rounds": "count",
    "companions.lpa_s": "s", "companions.triangles_s": "s",
    "checkpoint.save_s": "s", "checkpoint.saves": "count",
    "checkpoint.bytes_written_mb": "MiB", "checkpoint.latest_s": "s",
    "checkpoint.resume_s": "s", "checkpoint.resumed_pass": "count",
    **{f"{layer}.{k}": u for layer in _EVENT_LAYERS for k, u in _EVENT_FIELDS.items()},
    "proc.driver_cpu_s": "s", "proc.jvm_cpu_s": "s", "proc.py_worker_cpu_s": "s",
    "host.steal_s": "s",
    "trace.run_s": "s", "trace.overhead_s": "s", "trace.untraced_runs": "count",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(run_dir: str, trace: bool) -> None:
    """Everything the session reads from the environment, fixed before the
    JVM starts: heap, scratch dirs inside the checkout, worker import path,
    and (traced runs only) the event log."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(run_dir, "local"))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # the C sweep kernel is compiled into and cached under the temp dir
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    submit = [
        "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events)
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", shlex.quote(f"spark.eventLog.dir=file:{events}"),
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])


def _kernel_probe(batches):
    import pandas as pd

    from leiden_communities_openmp_spark.operators._ckernel import kernel_backend

    for b in batches:
        yield pd.DataFrame({"backend": [kernel_backend()] * len(b)})


def warm_up(spark) -> None:
    """Compile the C kernel and fork the Python workers, each loading the
    kernel, so the timed section does not pay for them."""
    from leiden_communities_openmp_spark.operators._ckernel import get_kernel

    get_kernel()
    backends = {r.backend for r in spark.range(0, 4 * CORES, numPartitions=2 * CORES)
                .mapInPandas(_kernel_probe, "backend string").collect()}
    if backends != {"c"}:
        raise RuntimeError(f"sweep kernel backends on workers: {backends}")


def leiden_layers(res, call_s: float) -> dict[str, float]:
    """Phase times and counts summed over the passes of one leiden_scale
    call, read from the LeidenRunResult.metrics it returned."""
    v = {k: 0.0 for k in ("setup_phase_s", "vt_s", "partition_s", "move_s", "refine_s",
                          "renumber_s", "aggregate_s", "driver_kernel_s",
                          "final_modularity_s", "hop_bcast_s", "hop_job_collect_s",
                          "hop_apply_s", "move_rounds", "edge_rows_total")}
    movers = scanned = rounds = fed = 0
    for m in res.metrics:
        phase = m.get("phase")
        if phase == "setup":
            v["setup_phase_s"] += m["seconds"]
        elif phase == "final_modularity":
            v["final_modularity_s"] += m["seconds"]
        if "pass" not in m:
            continue
        v["edge_rows_total"] += m.get("edges", 0)
        if m["strategy"] == "driver-kernel":
            v["driver_kernel_s"] += m["pass_seconds"]
            continue
        for key, field in (("vt_s", "vt_seconds"), ("partition_s", "partition_seconds"),
                           ("move_s", "move_seconds"), ("refine_s", "refine_seconds"),
                           ("renumber_s", "renumber_seconds"),
                           ("aggregate_s", "aggregate_seconds")):
            v[key] += m.get(field, 0.0)
        for k, x in (m.get("driver_hop") or {}).items():
            if f"hop_{k}_s" in v:
                v[f"hop_{k}_s"] += x
        v["move_rounds"] += m["move_iterations"]
        for r in m.get("rounds", []):
            rounds += 1
            movers += r["movers"]
            scanned += m["vertices"]
            fed += bool(r.get("fed"))
    phases = sum(v[k] for k in ("setup_phase_s", "vt_s", "partition_s", "move_s", "refine_s",
                                "renumber_s", "aggregate_s", "driver_kernel_s",
                                "final_modularity_s"))
    v["unattributed_s"] = call_s - phases
    v["passes"] = float(res.passes)
    v["edges_per_s"] = v["edge_rows_total"] / call_s
    v["mover_ratio"] = movers / scanned if scanned else 0.0
    v["fed_round_share"] = fed / rounds if rounds else 0.0
    return {f"leiden.{k}": float(x) for k, x in v.items()}


def event_layers(events, rep) -> dict[str, float]:
    import probes

    out = {}
    for layer in _EVENT_LAYERS:
        st = probes.layer_stats(events, rep.group(layer))
        out.update({f"{layer}.{k}": st[k] for k in _EVENT_FIELDS})
        if layer == "leiden":
            rounds = rep.values.get("leiden.move_rounds", 0.0)
            out["leiden.jobs_per_round"] = st["jobs"] / rounds if rounds else 0.0
            out["leiden.driver_only_s"] = rep.values["leiden.call_s"] - st["job_wall_s"]
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _record_untraced(workload: str, run_s: float) -> None:
    state = os.path.join(WORK, "state")
    os.makedirs(state, exist_ok=True)
    with open(os.path.join(state, f"{workload}.jsonl"), "a") as f:
        f.write(json.dumps({"run_s": run_s}) + "\n")


def _untraced_run_s(workload: str) -> list[float]:
    path = os.path.join(WORK, "state", f"{workload}.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line)["run_s"] for line in f if line.strip()]


def main(argv) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ beside {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    configure_env(run_dir, bool(args.trace))
    # the JVM and the Python workers inherit fd 1: send everything but the
    # result line to stderr
    result_fd = os.dup(1)
    os.dup2(2, 1)
    sys.path[:0] = [ROOT, HERE]
    try:
        result = measure(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0 if result["metrics"] else 1


def measure(args, run_dir: str) -> dict:
    import probes
    import workloads

    generated = workloads.generate(args.workload, args.seed)
    t0 = time.time()
    from leiden_communities_openmp_spark.session import get_spark
    spark = get_spark("perfbench", cpus=CORES, shuffle_partitions=workloads.PARTITIONS)
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.time() - t0
    try:
        t1 = time.time()
        warm_up(spark)
        inp = workloads.load_input(spark, args.workload, generated,
                                   os.path.join(run_dir, "input"))
        warmup_s = time.time() - t1
        reps, failed, timed = [], 0, 0.0
        while not reps or timed + reps[-1]["run_s"] <= args.seconds:
            rep = workloads.Rep(spark.sparkContext, len(reps))
            gc.collect()
            probes.reset_peak_rss()
            cpu0, steal0 = probes.cpu_split(), probes.steal_seconds()
            t = time.time()
            try:
                out = workloads.SECTIONS[args.workload](spark, rep, inp, run_dir)
            except Exception:
                traceback.print_exc()
                failed += 1
                reps.append(None)
                break
            run_s = time.time() - t
            timed += run_s
            cpu1, steal1 = probes.cpu_split(), probes.steal_seconds()
            rep.values.update({
                "run_s": run_s,
                "cpu_s": sum(cpu1.values()) - sum(cpu0.values()),
                "driver_peak_rss_mb": probes.peak_rss_mb(),
                "host.steal_s": steal1 - steal0,
                **{f"proc.{k}_cpu_s": cpu1[k] - cpu0[k] for k in cpu0},
            })
            if args.trace:
                rep.values.update(leiden_layers(out["leiden"], rep.values["leiden.call_s"]))
                # checkpoint writes happen inside the call, outside every phase
                rep.values["leiden.unattributed_s"] -= rep.values.get("checkpoint.save_s", 0.0)
            try:
                errs = workloads.check(args.workload, rep, out)
            except Exception:
                traceback.print_exc()
                errs = ["output check raised"]
            for e in errs:
                print(f"perfbench: check failed: {e}", file=sys.stderr)
            failed += bool(errs)
            reps.append({"run_s": run_s, "rep": rep})
            del out
    finally:
        stop_spark(spark)

    done = [r["rep"] for r in reps if r is not None]
    metrics = {}
    if done:
        def med(key):
            return statistics.median(r.values.get(key, 0.0) for r in done)

        if args.trace:
            events = probes.read_event_log(os.path.join(run_dir, "events"))
            for r in done:
                r.values.update(event_layers(events, r))
            untraced = _untraced_run_s(args.workload)
            values = {k: med(k) for k in PER_LAYER}
            values["session.start_s"] = start_s
            values["session.warmup_s"] = warmup_s
            values["trace.run_s"] = med("run_s")
            values["trace.untraced_runs"] = float(len(untraced))
            values["trace.overhead_s"] = (
                values["trace.run_s"] - statistics.median(untraced) if untraced else 0.0)
            units = PER_LAYER
        else:
            values = {k: med(k) for k in END_TO_END}
            values["setup_s"] = start_s + warmup_s
            _record_untraced(args.workload, values["run_s"])
            units = END_TO_END
        metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    return {"correct": failed == 0 and bool(done), "attempted": len(reps),
            "failed": failed, "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
