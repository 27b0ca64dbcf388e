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
``pandas_udf`` batches (Arrow transfer), and is materialized once.

Routing (``ingest``), by the rule the companions apply too
(``materialize.fits_driver``): after the extraction, one narrow aggregate
over it counts the (url, outlink) rows, a page without outlinks counting
as one. A crawl of at most ``materialize.DRIVER_ROWS`` such rows is
collected, and its ids and edges are built in numpy on the driver and
returned through ``spark.createDataFrame``; on it the DataFrame joins cost
about ten Spark jobs for milliseconds of work. A larger crawl is never
collected: it runs the DataFrame joins of ``build_edge_table`` (steps 2 and
3 as pure DataFrame ops), which are the scale path. Both routes give the
same rows and schema (tests/test_ingestion.py pins the parity).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from ..operators._worker import task_entry
from ..operators.materialize import fits_driver

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


def _extracted(pages: DataFrame) -> DataFrame:
    """(url, outlinks), materialized: the extraction UDF runs here once,
    and every later plan reads the checkpoint (an unmaterialized plan
    re-runs the UDF per branch; measured 5x slower at bench scale)."""
    return extract(pages).select("url", "outlinks").localCheckpoint(eager=True)


def _join_edges(pages: DataFrame, ext: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``build_edge_table`` from the materialized extraction ``ext``."""
    ids = url_ids(pages).localCheckpoint(eager=True)
    links = ext.select("url", F.explode("outlinks").alias("target"))
    src = ids.withColumnRenamed("id", "src")
    dst = ids.select(F.col("url").alias("target"), F.col("id").alias("dst"))
    edges = (
        links.join(src, "url").join(dst, "target")
        .select("src", "dst")
        .distinct()
        .withColumn("w", F.lit(1.0))
    )
    return edges, ids


def build_edge_table(pages: DataFrame) -> tuple[DataFrame, DataFrame]:
    """pages → (edges(src, dst, w), ids(url, id)) by DataFrame joins.

    - one row per (page, outlink) via explode (S2 analogue)
    - targets not in the crawl are dropped (they get no vertex id — they
      were never crawled)
    - exact dedup of repeated links (S5, w≡1 ⇒ dropDuplicates semantics)
    """
    return _join_edges(pages, _extracted(pages))


def _driver_tables(spark, links: pd.DataFrame) -> tuple[DataFrame, DataFrame]:
    """``ingest``'s driver route, from the collected (url, target) rows of
    every crawled page (target null for a page without outlinks). Ids and
    edges equal the DataFrame route's: ids rank the sorted distinct urls
    (Python orders str by code point, which is Spark's UTF-8 byte order; a
    null url ranks first, as Spark sorts nulls first, and gets no edges),
    and edges are the crawled (src, dst) pairs, deduplicated and
    symmetricized."""
    urls = links["url"]
    crawled = pd.Index(np.unique(urls.dropna().to_numpy(dtype=object)))
    null_url = bool(urls.isna().any())
    s = crawled.get_indexer(urls)
    d = crawled.get_indexer(links["target"])      # -1: null or not crawled
    keep = (s >= 0) & (d >= 0)
    n = len(crawled)
    s, d = s[keep].astype(np.int64), d[keep].astype(np.int64)
    key = np.unique(np.concatenate([s * n + d, d * n + s]))
    src, dst = np.divmod(key, n)
    off = int(null_url)
    edges = spark.createDataFrame(
        pd.DataFrame({"src": src + off, "dst": dst + off, "w": np.ones(len(key))}),
        "src long, dst long, w double")
    ids = spark.createDataFrame(
        pd.DataFrame({"url": ([None] if null_url else []) + list(crawled),
                      "id": np.arange(n + off, dtype=np.int64)}),
        "url string, id long")
    return edges, ids


def ingest(pages: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Full ingestion slice: deduplicated symmetric edge table + url ids.
    Finished on the driver when the crawl has at most
    ``materialize.DRIVER_ROWS`` (url, outlink) rows (module docstring)."""
    from .edges import symmetricize_df

    ext = _extracted(pages)
    # counted, not probed with a limit collect: above the bound that would
    # shuffle up to DRIVER_ROWS + 1 rows per partition (materialize.collect_small)
    rows = ext.agg(F.sum(F.greatest(F.size("outlinks"), F.lit(1)))).first()[0] or 0
    if fits_driver(rows):
        links = ext.select("url", F.explode_outer("outlinks").alias("target")).toPandas()
        return _driver_tables(pages.sparkSession, links)
    edges, ids = _join_edges(pages, ext)
    return symmetricize_df(edges), ids
