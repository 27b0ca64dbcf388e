"""Per-super-step checkpoint/resume (north rule; SURVEY.md §7 P4).

Every Leiden pass (super-step) persists to an Iceberg-style directory
layout under ``root``:

    root/
      pass_00001/
        membership/   parquet (id, community)      — dendrogram so far
        edges/        parquet (src, dst, w)        — aggregated graph
        _metrics.json                              — pass metrics + lineage
        _COMMITTED                                 — atomic completion marker

The committed files are the pass's working state, not a copy of it: the
pass loops (operators/leiden.py) hand ``save()`` the unmaterialized
membership and aggregate plans, so each Parquet write is the one Spark job
that computes its relation, and the next pass reads the files back through
``load()`` — the same read a resume uses, so a resumed run continues from
exactly what an uninterrupted one continued from. Do not ``localCheckpoint``
them again.

A pass directory is only considered complete once ``_COMMITTED`` exists.
``save()`` deletes an existing marker before it writes and writes the marker
last, so an overwrite of a pass in place (a rerun into the same root,
streaming/batch_updates.apply_batch_to_superstep) that dies mid-write leaves
a pass ``latest()`` skips, never torn files that read as committed.

``_metrics.json`` holds the loop's resume state (``pass``, ``tolerance``,
``total_iterations``), the run's ``metrics`` so far, and:

- ``lineage``: for each written relation, per-partition row counts
  (``partition`` is the index in the ``part-NNNNN`` file name), read from
  the written files' Parquet footers through the JVM's parquet-hadoop — no
  Spark job — plus ``derived_from_pass``, the upstream super-step;
- ``edge_rows``: the written edge row count (the edges lineage sum);
- ``vertices``: the written graph's vertex count, i.e. the next pass's,
  when the caller knows it.

The loops take the next pass's edge and vertex counts from these two keys
instead of counting; a pass written without them (older checkpoints, or
``save()`` called without ``vertices``) is counted on resume.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

MEMBERSHIP_SCHEMA = "id long, community long"
EDGES_SCHEMA = "src long, dst long, w double"


class CheckpointManager:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- helpers ---------------------------------------------------------
    def _pass_dir(self, p: int) -> str:
        return os.path.join(self.root, f"pass_{p:05d}")

    @staticmethod
    def _footer_lineage(spark: SparkSession, path: str) -> list[dict]:
        """Per-partition row counts of the Parquet files written at ``path``,
        from their footers (the driver opens each file's footer only)."""
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        rows: dict[int, int] = {}
        for st in jpath.getFileSystem(conf).listStatus(jpath):
            name = st.getPath().getName()
            if not (name.startswith("part-") and name.endswith(".parquet")):
                continue
            reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
                jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
            try:
                n = int(reader.getRecordCount())
            finally:
                reader.close()
            part = int(name.split("-")[1])
            rows[part] = rows.get(part, 0) + n
        return [{"partition": k, "rows": v} for k, v in sorted(rows.items())]

    # -- write -----------------------------------------------------------
    def save(self, p: int, membership: DataFrame, edges: DataFrame,
             tolerance: float, total_iters: int, metrics: list[dict],
             vertices: int | None = None) -> None:
        """Commit pass ``p``: one Spark job per relation (its Parquet write).
        ``vertices``: the written graph's vertex count, when known."""
        d = self._pass_dir(p)
        marker = os.path.join(d, "_COMMITTED")
        if os.path.exists(marker):
            os.remove(marker)
        membership.write.mode("overwrite").parquet(os.path.join(d, "membership"))
        edges.write.mode("overwrite").parquet(os.path.join(d, "edges"))
        spark = edges.sparkSession
        lineage = {rel: self._footer_lineage(spark, os.path.join(d, rel))
                   for rel in ("membership", "edges")}
        meta = {
            "pass": p,
            "tolerance": tolerance,
            "total_iterations": total_iters,
            "written_at": time.time(),
            "derived_from_pass": p - 1,
            "edge_rows": sum(r["rows"] for r in lineage["edges"]),
            "metrics": metrics,
            "lineage": lineage,
        }
        if vertices is not None:
            meta["vertices"] = int(vertices)
        with open(os.path.join(d, "_metrics.json"), "w") as f:
            json.dump(meta, f, indent=1)
        with open(marker, "w") as f:
            f.write("ok\n")

    # -- read ------------------------------------------------------------
    def meta(self, p: int) -> dict:
        """The ``_metrics.json`` of pass ``p``."""
        with open(os.path.join(self._pass_dir(p), "_metrics.json")) as f:
            return json.load(f)

    def load(self, spark: SparkSession, p: int) -> tuple[DataFrame, DataFrame]:
        """(membership, edges) of pass ``p`` as lazy reads with explicit
        schemas — no Spark job (no schema inference)."""
        d = self._pass_dir(p)
        return (spark.read.schema(MEMBERSHIP_SCHEMA).parquet(os.path.join(d, "membership")),
                spark.read.schema(EDGES_SCHEMA).parquet(os.path.join(d, "edges")))

    def latest(self, spark: SparkSession):
        """Return (pass, membership, edges, tolerance, total_iters, metrics)
        for the newest complete pass, or None."""
        if not os.path.isdir(self.root):
            return None
        done = sorted(
            d for d in os.listdir(self.root)
            if d.startswith("pass_") and os.path.exists(os.path.join(self.root, d, "_COMMITTED"))
        )
        if not done:
            return None
        p = int(done[-1][len("pass_"):])
        meta = self.meta(p)
        membership, edges = self.load(spark, p)
        return (meta["pass"], membership, edges, meta["tolerance"],
                meta["total_iterations"], list(meta.get("metrics", [])))
