"""Common-Crawl-style pages ingestion (BASELINE.json input_hint; SURVEY §7 P1).

Input table: ``pages(url string, warc_ts timestamp, html binary, lang string)``
(Iceberg-style storage; see plans/tables.py for the layout writer).

Pipeline:
  1. vectorized Arrow UDF extraction: ``html`` → extracted ``text`` (byte-
     identical per url to the deterministic template semantics — anchors
     dropped whole, all other tags stripped, whitespace collapsed) and
     ``outlinks`` (href targets in document order).
  2. url → dense vertex id (rank over sorted distinct urls — deterministic
     across runs and cluster sizes).
  3. deduplicated ``edges(src, dst, w=1.0)`` restricted to crawled targets,
     then symmetricized for the Leiden pipeline (main.cxx:94 analogue).

No per-row Python: extraction uses pandas string vector ops inside
``pandas_udf`` batches (Arrow transfer), ids/edges are pure DataFrame ops.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from ..operators._worker import task_entry

_ANCHOR_RE = r"(?s)<a\s[^>]*>.*?</a>"
_TAG_RE = r"(?s)<[^>]+>"
_WS_RE = r"\s+"
_HREF_RE = r'<a\s+href="([^"]+)"'


def _decode(html: pd.Series) -> pd.Series:
    """bytes → str, vectorized (no per-row Python lambda)."""
    return html.str.decode("utf-8", errors="replace").fillna("")


@pandas_udf(StringType())
@task_entry
def extract_text_udf(html: pd.Series) -> pd.Series:
    """html (binary) → visible text: anchor elements removed entirely,
    remaining tags stripped, whitespace collapsed, ends trimmed. The
    per-url byte-identity invariant is pinned by tests against the
    fixture generator's expected text."""
    s = _decode(html)
    s = s.str.replace(_ANCHOR_RE, " ", regex=True)
    s = s.str.replace(_TAG_RE, " ", regex=True)
    s = s.str.replace(_WS_RE, " ", regex=True)
    return s.str.strip()


@pandas_udf(ArrayType(StringType()))
@task_entry
def extract_outlinks_udf(html: pd.Series) -> pd.Series:
    """html (binary) → list of href targets in document order."""
    return _decode(html).str.findall(_HREF_RE)


def extract(pages: DataFrame) -> DataFrame:
    """Add ``text`` and ``outlinks`` columns to the pages table."""
    return pages.withColumn("text", extract_text_udf("html")).withColumn(
        "outlinks", extract_outlinks_udf("html")
    )


def url_ids(pages: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """(url, id): dense 0-based rank over sorted distinct urls.

    Deterministic and reproducible — the id of a url depends only on the
    url set, never on partitioning or parallelism — and fully distributed:
    a range shuffle sorts urls, per-partition row_number ranks locally, and
    the (tiny) per-partition counts become rank offsets via a driver-side
    cumulative sum. (A bare ``row_number().over(orderBy(url))`` window has
    an empty PARTITION BY, which Spark executes as ONE task — the classic
    global-rank scaling trap.)
    """
    p = num_partitions or pages.sparkSession.sparkContext.defaultParallelism
    ranked = (
        pages.select("url").distinct()
        .repartitionByRange(p, "url")
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_rn", F.row_number().over(
            Window.partitionBy("_pid").orderBy("url")))
    ).localCheckpoint(eager=True)
    counts = {int(r["_pid"]): int(r["n"]) for r in
              ranked.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_df = F.broadcast(pages.sparkSession.createDataFrame(
        [(pid, off) for pid, off in offsets.items()], "_pid int, _off long"))
    return (
        ranked.join(off_df, "_pid")
        .select("url", (F.col("_off") + F.col("_rn") - 1).alias("id"))
    )


def build_edge_table(pages: DataFrame, keep_dangling: bool = False) -> tuple[DataFrame, DataFrame]:
    """pages → (edges(src, dst, w), ids(url, id)).

    - one row per (page, outlink) via explode (S2 analogue)
    - targets not in the crawl are dropped unless ``keep_dangling``
      (dangling urls get no vertex id — they were never crawled)
    - exact dedup of repeated links (S5, w≡1 ⇒ dropDuplicates semantics)
    """
    # materialize the UDF output and the id map once: both feed two join
    # branches below, and an unmaterialized plan re-runs the extraction UDF
    # per branch (measured 5x slower at bench scale)
    ext = extract(pages).select("url", "outlinks").localCheckpoint(eager=True)
    ids = url_ids(pages).localCheckpoint(eager=True)
    links = ext.select("url", F.explode("outlinks").alias("target"))
    src = ids.withColumnRenamed("url", "url").withColumnRenamed("id", "src")
    dst = ids.select(F.col("url").alias("target"), F.col("id").alias("dst"))
    e = links.join(src, "url").join(dst, "target", "left" if keep_dangling else "inner")
    edges = (
        e.select("src", "dst")
        .where(F.col("dst").isNotNull())
        .distinct()
        .withColumn("w", F.lit(1.0))
    )
    return edges, ids


def ingest(pages: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Full ingestion slice: deduplicated symmetric edge table + url ids."""
    from .edges import symmetricize_df

    edges, ids = build_edge_table(pages)
    return symmetricize_df(edges), ids
