#!/usr/bin/env python3
"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

The headline metric is the north-rule one: edges/sec per Leiden super-step
on the link graph (directed edge rows × passes / leiden seconds), reported
in "extra"; "value" is total wall seconds across the headline queries.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from pyspark.sql import functions as F

    from leiden_communities_openmp_spark.operators.companions import (
        connected_components, pagerank, triangle_count,
    )
    from leiden_communities_openmp_spark.operators.dedup import cosine_topk, exact_duplicates
    from leiden_communities_openmp_spark.operators.kernel import LeidenOptions
    from leiden_communities_openmp_spark.operators.leiden import leiden_scale
    from leiden_communities_openmp_spark.queries import (
        _lineitem_sym, q_tpch_q1, q_token_count,
    )
    from leiden_communities_openmp_spark.session import get_spark
    from leiden_communities_openmp_spark.sources.fixtures import pages_spark_df
    from leiden_communities_openmp_spark.sources.pages import ingest

    spark = get_spark("bench", cpus=cpus, shuffle_partitions=max(cpus, 16))
    spark.sparkContext.setLogLevel("ERROR")

    queries: dict[str, float] = {}
    extra: dict = {"cpus": cpus}
    reps_log: dict[str, list[float]] = {}
    extra["reps"] = reps_log
    n_reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

    def timed(name, fn, reps=None):
        """min-of-reps timing: the sandbox host shows ~3× CPU-steal swings
        on identical code, so single-rep deltas are undiagnosable — the
        minimum is the standard steal-robust estimator. All rep times are
        recorded in extra.reps as error bars."""
        out = None
        times = []
        for _ in range(reps or n_reps):
            t0 = time.time()
            out = fn()
            times.append(round(time.time() - t0, 3))
        queries[name] = min(times)
        reps_log[name] = times
        return out

    # ---- ingestion slice: synthetic pages → extracted edge table ----
    n_pages = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "8000"))
    pages = pages_spark_df(spark, n_pages)
    pages = pages.localCheckpoint(eager=True)  # exclude generation cost

    def _ingest():
        edges, _ = ingest(pages)
        return edges.localCheckpoint(eager=True)

    page_edges = timed("ingest_pages", _ingest)
    extra["page_edges"] = page_edges.count()

    # ---- Leiden on the ingested link graph (headline) ----
    res_holder = {}

    def _leiden():
        res = leiden_scale(spark, page_edges, LeidenOptions(),
                           num_partitions=max(cpus, 16))
        res_holder["pages"] = res
        return res.membership.count()

    timed("leiden_pages", _leiden)
    rp = res_holder["pages"]
    extra["leiden_pages"] = {"modularity": round(rp.modularity, 6), "passes": rp.passes,
                             "iterations": rp.iterations}

    # ---- rounds-strategy fallback witness (unbounded-state path) ----
    def _leiden_rounds():
        res = leiden_scale(spark, page_edges, LeidenOptions(max_passes=2),
                           strategy="rounds", local_iters=6,
                           driver_threshold=0, driver_vertex_threshold=0)
        res_holder["rounds"] = res
        return res.membership.count()

    timed("leiden_rounds_fallback", _leiden_rounds)
    rr = res_holder["rounds"]
    extra["leiden_rounds_fallback"] = {
        "modularity": round(rr.modularity, 6), "passes": rr.passes,
        "iterations": rr.iterations,
        "note": "pure-DataFrame strategy, no per-vertex driver state (>=1e9-vertex path)",
    }

    # ---- Leiden on the lineitem-derived graph at the target SF ----
    li_edges = _lineitem_sym(spark, sf_dir).localCheckpoint(eager=True)
    n_li = li_edges.count()
    extra["lineitem_edges"] = n_li

    def _leiden_li():
        res = leiden_scale(spark, li_edges, LeidenOptions(),
                           num_partitions=max(cpus, 16))
        res_holder["li"] = res
        return res.membership.count()

    timed("leiden_lineitem", _leiden_li)
    rl = res_holder["li"]
    leiden_secs = queries["leiden_lineitem"]
    # work-normalized (perfbench's leiden.edges_per_s): each pass's own edge
    # rows, summed, so the rate does not move with the pass count
    work = sum(m["edges"] for m in rl.metrics if "pass" in m)
    eps = work / leiden_secs if leiden_secs > 0 else 0.0
    extra["leiden_lineitem"] = {"modularity": round(rl.modularity, 6), "passes": rl.passes,
                                "iterations": rl.iterations, "edges_per_s": round(eps)}

    # ---- companion operators on the ingested graph ----
    timed("pagerank", lambda: pagerank(page_edges, 5).count())
    timed("connected_components", lambda: connected_components(page_edges).count())
    timed("triangle_count", lambda: triangle_count(page_edges).collect())

    # ---- relational + pipeline ops at the target SF ----
    timed("tpch_q1", lambda: q_tpch_q1(spark, sf_dir).collect())
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    timed("exact_dedup", lambda: exact_duplicates(docs).count())
    timed("token_count", lambda: q_token_count(spark, sf_dir).count())
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    timed("cosine_topk", lambda: cosine_topk(emb, emb.filter(F.col("vec_id") < 8), 5).count())

    total = round(sum(queries.values()), 3)
    extra["timing"] = f"min of {n_reps} reps per query (steal-robust); all reps in extra.reps"
    print(json.dumps({
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "extra": extra,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
