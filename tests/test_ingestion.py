"""Ingestion slice (north rule): byte-identical text extraction per url,
outlink extraction, deterministic url→id mapping, edge-table invariants."""

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from leiden_communities_openmp_spark.operators import materialize
from leiden_communities_openmp_spark.operators._worker import task_entry
from leiden_communities_openmp_spark.sources.fixtures import pages_spark_df
from leiden_communities_openmp_spark.sources.pages import (
    build_edge_table, extract, ingest, url_ids,
)

from .conftest import spark_jobs

N_PAGES = 200


def test_text_extraction_byte_identical(spark):
    """input_hint invariant: extracted text == expected text, byte for byte,
    for every url."""
    pages = pages_spark_df(spark, N_PAGES, with_expected=True)
    got = extract(pages).select("url", "text", "expected_text").collect()
    assert len(got) == N_PAGES
    for r in got:
        assert r["text"] == r["expected_text"], f"extraction mismatch for {r['url']}"


def test_outlink_extraction_exact(spark):
    pages = pages_spark_df(spark, N_PAGES, with_expected=True)
    got = extract(pages).select("outlinks", "expected_outlinks").collect()
    for r in got:
        assert list(r["outlinks"]) == list(r["expected_outlinks"])


def test_url_ids_dense_and_deterministic(spark):
    pages = pages_spark_df(spark, N_PAGES)
    ids1 = {r["url"]: r["id"] for r in url_ids(pages).collect()}
    ids2 = {r["url"]: r["id"] for r in url_ids(pages.repartition(7)).collect()}
    assert ids1 == ids2  # partitioning-independent
    assert sorted(ids1.values()) == list(range(N_PAGES))  # dense 0-based
    assert [u for u, _ in sorted(ids1.items(), key=lambda kv: kv[1])] == sorted(ids1)


def test_edge_table_invariants(spark):
    pages = pages_spark_df(spark, N_PAGES)
    edges, ids = build_edge_table(pages)
    n = edges.count()
    assert n > 0
    assert edges.dropDuplicates(["src", "dst"]).count() == n  # S5 dedup
    mx = edges.agg(F.max("src"), F.max("dst")).collect()[0]
    assert max(mx) < N_PAGES
    sym, _ = ingest(pages)
    pairs = {(r["src"], r["dst"]) for r in sym.collect()}
    assert all((b, a) in pairs for (a, b) in pairs)  # symmetric closure


def test_end_to_end_pages_leiden(spark):
    """pages → edges → Leiden: communities roughly recover the planted
    blocks (>= half the blocks distinguishable, modularity positive)."""
    from leiden_communities_openmp_spark.operators.kernel import LeidenOptions
    from leiden_communities_openmp_spark.operators.leiden import leiden_scale

    pages = pages_spark_df(spark, N_PAGES)
    edges, _ = ingest(pages)
    res = leiden_scale(spark, edges, LeidenOptions())
    assert res.modularity > 0.3
    ncomm = res.membership.select("community").distinct().count()
    assert 4 <= ncomm <= 40


@pytest.mark.parametrize("test", [
    test_edge_table_invariants, test_end_to_end_pages_leiden,
], ids=lambda t: t.__name__)
def test_dataframe_route(spark, monkeypatch, test):
    """The ingest tests above run as written on the driver route (their
    crawls are small); here each runs again on the DataFrame route."""
    monkeypatch.setattr(materialize, "DRIVER_ROWS", 0)
    test(spark)


# ---------------------------------------------------------------------------
# driver route vs DataFrame route
# ---------------------------------------------------------------------------

def _page(url, html):
    return (url, None if html is None else html.encode("utf-8"))


def _links(*targets):
    return "".join(f'<p>see <a href="{t}">{t}</a></p>' for t in targets)


def _crafted(spark):
    """Non-ASCII urls (U+FF5A sorts before U+1F600 by code point and by
    UTF-8 bytes, after it by UTF-16 units), a null url, a url crawled twice,
    a page without outlinks and one with null html, a self-link, a link to
    an uncrawled url and a repeated link."""
    u = {k: f"http://ex.com/{k}" for k in ("a", "b", "c", "z", "é", "ｚ", "😀")}
    rows = [
        _page(u["a"], _links(u["b"], u["a"], "http://elsewhere.org/x")),
        _page(u["a"], _links(u["c"], u["é"])),
        _page(u["b"], _links(u["c"], u["c"], u["ｚ"])),
        _page(u["c"], "<p>no links here</p>"),
        _page(u["z"], None),
        _page(u["é"], _links(u["😀"], u["a"])),
        _page(u["ｚ"], _links(u["😀"])),
        _page(u["😀"], _links(u["ｚ"], u["z"])),
        _page(None, _links(u["a"], u["b"])),
    ]
    return spark.createDataFrame(rows, "url string, html binary")


PAGE_INPUTS = {
    "pages101": lambda s: pages_spark_df(s, 2000, 101),
    "pages102": lambda s: pages_spark_df(s, 2000, 102),
    "pages103": lambda s: pages_spark_df(s, 2000, 103),
    "crafted": _crafted,
    "empty": lambda s: s.createDataFrame([], "url string, html binary"),
}


def _counted(spark, pages):
    """``pages`` whose html passes through an identity UDF that counts the
    rows it sees: the count is the number of rows the extraction read."""
    acc = spark.sparkContext.accumulator(0)

    @pandas_udf("binary")
    @task_entry
    def count_rows(html: pd.Series) -> pd.Series:
        acc.add(len(html))
        return html

    return pages.withColumn("html", count_rows("html")), acc


@pytest.mark.parametrize("name", list(PAGE_INPUTS))
def test_routes_agree(spark, monkeypatch, name):
    """Both routes of ``ingest`` give the same edge and id rows and the same
    schemas; each runs the extraction UDF once per page, and the driver
    route runs four Spark jobs (the extraction's checkpoint, the row count's
    two stages and the collect)."""
    pages = PAGE_INPUTS[name](spark).localCheckpoint(eager=True)
    n_pages = pages.count()
    got = {}
    for route, bound in (("driver", materialize.DRIVER_ROWS), ("dataframe", 0)):
        monkeypatch.setattr(materialize, "DRIVER_ROWS", bound)
        counted, acc = _counted(spark, pages)
        (edges, ids), jobs = spark_jobs(spark, f"ingest-{name}-{route}",
                                        lambda: ingest(counted))
        e_rows = sorted(map(tuple, edges.collect()))
        i_rows = sorted(map(tuple, ids.collect()), key=lambda r: r[1])
        assert acc.value == n_pages, (route, acc.value)
        if route == "driver":
            assert jobs == 4, jobs
        got[route] = (edges.schema.simpleString(), ids.schema.simpleString(),
                      e_rows, i_rows)
    assert got["driver"] == got["dataframe"]
    if name != "empty":
        assert got["driver"][2]


def test_route_bound_is_inclusive(spark, monkeypatch):
    """A crawl of exactly ``materialize.DRIVER_ROWS`` (url, outlink) rows
    takes the driver route; one row more takes the DataFrame route, and a
    page without outlinks counts as one row."""
    from leiden_communities_openmp_spark.sources import pages as pages_mod

    monkeypatch.setattr(materialize, "DRIVER_ROWS", 10)
    calls = []
    driver_tables = pages_mod._driver_tables
    monkeypatch.setattr(pages_mod, "_driver_tables",
                        lambda *a: calls.append(1) or driver_tables(*a))
    urls = [f"http://ring.org/{i}" for i in range(5)]
    ring = [_page(u, _links(urls[(i + 1) % 5], urls[(i + 2) % 5]))
            for i, u in enumerate(urls)]
    cases = {
        "10 links": (ring, True),
        "10 links and a page without": (ring + [_page("http://ring.org/x", None)], False),
        "11 links": ([_page(urls[0], _links(*urls[1:4]))] + ring[1:], False),
    }
    for case, (rows, driver) in cases.items():
        calls.clear()
        df = spark.createDataFrame(rows, "url string, html binary")
        edges, _ = ingest(df)
        assert edges.count() > 0
        assert bool(calls) == driver, case
