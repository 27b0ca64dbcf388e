"""Loop-safe materialization for iterative DataFrame algorithms.

``localCheckpoint(eager=True)`` truncates the LINEAGE but (Spark 4.x)
preserves the origin plan's *statistics* inside the resulting LogicalRDD
leaf. In an iterative algorithm whose per-round plan joins the previous
round's checkpoint several times, the size-in-bytes estimate therefore
COMPOUNDS: visitJoin multiplies child sizes, so S_{n+1} ≈ S_n^k and the
number of BigInteger digits grows geometrically — by round ~8 the driver
spends minutes inside Toom-Cook multiplications in
SizeInBytesOnlyStatsPlanVisitor (observed: 1 s rounds degrading to 80 s+
with constant-size plans). The classic symptom is "each iteration of my
Spark loop gets slower even though I checkpoint".

``materialize`` fixes this by re-wrapping the checkpointed RDD as a fresh
leaf with default statistics (bounded, non-compounding). The cost is that
Catalyst sees the leaf as default-sized and will not auto-broadcast it —
iterative loops must place explicit ``F.broadcast`` hints on relations
they know are small. The Leiden loops (operators/leiden.py) do. The
companions' DataFrame loops (operators/companions.py) hint only
PageRank's one-row dangling-mass join, so their other joins against
materialized relations plan as shuffle joins.

The other way to finish a relation is not to materialize it at all. The
routing rule the companions and pages ingestion (sources/pages.py) share
is ``fits_driver``, and ``DRIVER_ROWS`` is also ``leiden_scale``'s default
``driver_threshold``: a relation of at most ``DRIVER_ROWS`` rows is
finished in numpy on the driver and its result returned through
``spark.createDataFrame``; on such a relation a DataFrame plan costs a
Spark job per step for milliseconds of work. Above the bound the caller
runs its DataFrame plan, which is the scale path. Each caller counts its
own input rows (edge rows for Leiden and the companions, (url, outlink)
rows for ingestion), so one graph may take different routes in different
stages. ``collect_small`` is the companions' probe: a
``limit(DRIVER_ROWS + 1)`` collect that returns the rows when they fit.
Ingestion counts its rows in an aggregate first instead (see
``collect_small`` for why).
"""

from __future__ import annotations

import warnings

import pyspark
from pyspark.sql import DataFrame

# internalCreateDataFrame / queryExecution().toRdd() are private JVM APIs;
# verified against these major lines (tests/test_scale_mode.py exercises the
# reset path). On any other version the fallback below still returns a
# correct checkpoint — just without the stats reset.
_KNOWN_GOOD_MAJORS = ("3.", "4.")

_warned_fallback = False

# The driver-route bound, in rows of the caller's own input; read at call
# time, so 0 (tests monkeypatch it) forces the DataFrame route. It is also
# leiden_scale's default driver_threshold.
DRIVER_ROWS = 250_000


def fits_driver(rows: int) -> bool:
    """The routing rule: whether a relation of ``rows`` rows takes the
    driver route."""
    return 0 < DRIVER_ROWS and rows <= DRIVER_ROWS


def collect_small(df: DataFrame):
    """``df`` as a pandas frame when it fits the driver route, else None, in
    one Arrow collect of ``limit(DRIVER_ROWS + 1)`` and no count job first
    (on a small relation a count costs more than the collect). Above the
    bound that collect is not cheap: its map side keeps up to
    ``DRIVER_ROWS + 1`` rows per partition and shuffles them to one
    reducer, so a relation with fewer rows per partition is copied whole
    before the limit applies."""
    if DRIVER_ROWS <= 0:
        return None
    pdf = df.limit(DRIVER_ROWS + 1).toPandas()
    return pdf if fits_driver(len(pdf)) else None


def materialize(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint + stats reset: cut lineage AND stop the
    checkpoint-carried size statistics from compounding across rounds."""
    global _warned_fallback
    ck = df.localCheckpoint(eager=True)
    try:
        if not pyspark.__version__.startswith(_KNOWN_GOOD_MAJORS):
            raise RuntimeError(f"untested Spark {pyspark.__version__}")
        jdf = ck._jdf
        spark = df.sparkSession
        fresh = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False)
        return DataFrame(fresh, spark)
    except Exception as exc:
        # non-classic backends (e.g. Spark Connect) lack the internal API;
        # plain checkpoint is correct, just slower in long loops — warn ONCE
        # so a long-loop slowdown is attributable instead of silent
        if not _warned_fallback:
            _warned_fallback = True
            warnings.warn(
                "materialize(): stats-reset unavailable "
                f"({type(exc).__name__}: {exc}); falling back to plain "
                "localCheckpoint — iterative loops re-joining their own "
                "checkpoints may slow down geometrically (compounding plan "
                "statistics).", RuntimeWarning, stacklevel=2)
        return ck
