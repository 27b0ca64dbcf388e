"""The two workloads: seeded input generation, the timed section, and the
untimed output checks of each.

Every call into the package goes through ``Rep.span``, which sets the Spark
job group (so the event log attributes each job to a layer) and times the
call from outside. Sizes are fixed here; the seed only changes the input.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from contextlib import contextmanager

import checks
import numpy as np
from pyspark.sql import functions as F

from leiden_communities_openmp_spark.operators import companions
from leiden_communities_openmp_spark.operators.graphgen import planted_hard
from leiden_communities_openmp_spark.operators.leiden import leiden_scale
from leiden_communities_openmp_spark.plans import tables
from leiden_communities_openmp_spark.plans.checkpoint import CheckpointManager
from leiden_communities_openmp_spark.sources.edges import symmetricize_df
from leiden_communities_openmp_spark.sources.fixtures import gen_pages
from leiden_communities_openmp_spark.sources.pages import ingest

# num_partitions of every leiden_scale call, and spark.sql.shuffle.partitions
PARTITIONS = 8

# planted-sweep: 32 planted blocks of 256 vertices. Passes go to the driver
# kernel by vertex count only (driver_threshold=0), at 1000 vertices instead
# of the default 20000, so that pass 2 also runs distributed: pass 1 leaves
# ~7k communities, which the default would hand straight to the driver
# kernel. Passes 1 and 2 then commit a checkpoint, so the resume can start
# after pass 1.
BLOCK = 256
SWEEP_N = 8192
SWEEP_DRIVER_VERTICES = 1000
# web-pipeline: pages in the crawl table
WEB_PAGES = 2000


class Rep:
    """Timings and counts of one timed repetition of a workload."""

    def __init__(self, sc, index: int):
        self.sc = sc
        self.index = index
        self.values: dict[str, float] = {}

    def group(self, layer: str) -> str:
        return f"r{self.index}:{layer}"

    @contextmanager
    def span(self, layer: str, metric: str):
        """Time one call into ``layer`` and tag its Spark jobs with it."""
        self.sc.setJobGroup(self.group(layer), metric)
        t0 = time.time()
        try:
            yield
        finally:
            self.values[metric] = self.values.get(metric, 0.0) + time.time() - t0
            self.sc.setJobGroup(self.group("bench"), "perfbench")


class TimedCheckpoint(CheckpointManager):
    """The package's CheckpointManager, with its calls timed from outside."""

    def __init__(self, root: str):
        super().__init__(root)
        self.save_s = 0.0
        self.saves = 0
        self.latest_s = 0.0
        self.resumed_pass = 0

    def save(self, p, *args, **kwargs):
        t0 = time.time()
        super().save(p, *args, **kwargs)
        self.save_s += time.time() - t0
        self.saves += 1

    def latest(self, spark):
        t0 = time.time()
        found = super().latest(spark)
        self.latest_s += time.time() - t0
        if found is not None:
            self.resumed_pass = found[0]
        return found

    def committed(self) -> list[str]:
        return sorted(d for d in os.listdir(self.root)
                      if os.path.exists(os.path.join(self.root, d, "_COMMITTED")))

    def bytes_written(self) -> int:
        return sum(os.path.getsize(os.path.join(dp, n))
                   for dp, _, names in os.walk(self.root) for n in names)


# ---------------------------------------------------------------------------
# seeded inputs: generated before the session starts, loaded into a
# plans.tables snapshot during set-up
# ---------------------------------------------------------------------------

def generate(workload: str, seed: int):
    """The seed's input in plain Python: page rows, or the relabel of the
    planted graph."""
    if workload == "web-pipeline":
        return gen_pages(WEB_PAGES, seed=seed)
    rng = random.Random(seed)
    blocks = SWEEP_N // BLOCK
    return {"block": rng.randrange(blocks), "a": 2 * rng.randrange(BLOCK // 2) + 1,
            "c": rng.randrange(BLOCK)}


def planted_edges(spark, n: int, relabel: dict):
    """``planted_hard`` with the ids inside one block of 256 relabelled:
    offset j becomes (a·j + c) mod 256. The seed picks the block, a (odd)
    and c, so each seed gives an isomorphic graph whose vertex order, and
    so the sweep's trajectory, differ in that block only. Symmetric and
    deduplicated, as leiden_scale requires."""
    lo = relabel["block"] * BLOCK

    def ids(col):
        x = F.col(col)
        j = x - lo
        inside = (x >= lo) & (x < lo + BLOCK)
        return F.when(inside, lo + (j * relabel["a"] + relabel["c"]) % BLOCK).otherwise(x)

    base = planted_hard(spark, n, b=BLOCK)
    return symmetricize_df(base.select(ids("src").alias("src"), ids("dst").alias("dst"), "w"))


def pages_frame(spark, rows):
    """The crawl table (url, warc_ts, html, lang) from generated page rows."""
    data = [(r["url"], r["warc_ts"], r["html"], r["lang"]) for r in rows]
    df = spark.createDataFrame(data, "url string, warc_ts_epoch long, html binary, lang string")
    return df.withColumn("warc_ts", F.timestamp_seconds("warc_ts_epoch")).drop("warc_ts_epoch")


def load_input(spark, workload: str, generated, root: str) -> dict:
    """Write the generated input as a plans.tables snapshot under ``root``."""
    if workload == "web-pipeline":
        tables.write_snapshot(pages_frame(spark, generated), root)
        return {"root": root, "outlinks": sum(len(r["outlinks"]) for r in generated)}
    tables.write_snapshot(planted_edges(spark, SWEEP_N, generated), root)
    return {"root": root}


# ---------------------------------------------------------------------------
# timed sections: each returns what its checks need
# ---------------------------------------------------------------------------

def section_planted_sweep(spark, rep: Rep, inp: dict, scratch: str) -> dict:
    g = tables.read_snapshot(spark, inp["root"])
    ckpt = TimedCheckpoint(os.path.join(scratch, f"ckpt-{rep.index}"))
    kw = dict(num_partitions=PARTITIONS, driver_threshold=0,
              driver_vertex_threshold=SWEEP_DRIVER_VERTICES, checkpointer=ckpt)
    with rep.span("leiden", "leiden.call_s"):
        full = leiden_scale(spark, g, **kw)
    rep.values["checkpoint.save_s"] = ckpt.save_s
    rep.values["checkpoint.saves"] = float(ckpt.saves)
    # interrupt: the run dies while writing the pass after the newest
    # committed one, leaving a partial directory without _COMMITTED that
    # the resume must skip
    newest = ckpt.committed()[-1]
    torn = os.path.join(ckpt.root, f"pass_{int(newest[5:]) + 1:05d}")
    shutil.copytree(os.path.join(ckpt.root, newest, "membership"),
                    os.path.join(torn, "membership"))
    with rep.span("checkpoint", "checkpoint.resume_s"):
        resumed = leiden_scale(spark, g, **kw)
    rep.values["checkpoint.latest_s"] = ckpt.latest_s
    rep.values["checkpoint.resumed_pass"] = float(ckpt.resumed_pass)
    return {"edges": g, "leiden": full, "resumed": resumed, "ckpt": ckpt}


def section_web_pipeline(spark, rep: Rep, inp: dict, scratch: str) -> dict:
    pages = tables.read_snapshot(spark, inp["root"])
    with rep.span("sources.pages", "sources.pages.ingest_s"):
        edges, _ = ingest(pages)
        edges = edges.localCheckpoint(eager=True)
    with rep.span("leiden", "leiden.call_s"):
        res = leiden_scale(spark, edges, num_partitions=PARTITIONS)
    with rep.span("companions", "companions.pagerank_s"):
        ranks = companions.pagerank(edges, 5)
    with rep.span("companions", "companions.cc_s"):
        comp, cc_rounds = companions.connected_components_with_stats(edges)
        comp = comp.localCheckpoint(eager=True)
    with rep.span("companions", "companions.lpa_s"):
        companions.label_propagation(edges, 3)
    with rep.span("companions", "companions.triangles_s"):
        tri = companions.triangle_count(edges).collect()[0]["triangles"]
    rep.values["companions.cc_rounds"] = float(cc_rounds)
    return {"edges": edges, "leiden": res, "ranks": ranks, "components": comp,
            "triangles": int(tri), "outlinks": inp["outlinks"]}


SECTIONS = {
    "planted-sweep": section_planted_sweep,
    "web-pipeline": section_web_pipeline,
}


# ---------------------------------------------------------------------------
# untimed checks (also fill the per-layer counts they measure)
# ---------------------------------------------------------------------------

def check(workload: str, rep: Rep, out: dict) -> list[str]:
    src, dst, w = checks.edge_arrays(out["edges"])
    res = out["leiden"]
    ids, lab = checks.label_arrays(res.membership)
    errs = checks.check_leiden(src, dst, w, ids, lab, res.modularity)
    rep.values["modularity"] = res.modularity
    if workload == "web-pipeline":
        rep.values["sources.pages.edge_rows"] = float(len(src))
        rep.values["sources.pages.link_dedup_ratio"] = len(src) / out["outlinks"]
        errs += checks.check_edge_table(src, dst)
        errs += checks.check_pagerank(out["ranks"].agg(F.sum("rank")).collect()[0][0])
        cids, comp = checks.label_arrays(out["components"], "component")
        if not np.array_equal(cids, ids):
            errs.append("components do not cover the edge table's vertices")
        else:
            errs += checks.check_components(src, dst, cids, comp)
        want = checks.triangles(src, dst)
        if out["triangles"] != want:
            errs.append(f"triangle_count {out['triangles']} != independent count {want}")
    if workload == "planted-sweep":
        ckpt = out["ckpt"]
        rep.values["checkpoint.bytes_written_mb"] = ckpt.bytes_written() / 2**20
        rids, rlab = checks.label_arrays(out["resumed"].membership)
        if checks.labels_md5(rids, rlab) != checks.labels_md5(ids, lab):
            errs.append("resumed labels differ from the uninterrupted run's")
        errs += checks.check_leiden(src, dst, w, rids, rlab, out["resumed"].modularity)
        if ckpt.resumed_pass < 2:
            errs.append(f"resume started from pass {ckpt.resumed_pass}, not after pass 1")
    return errs

