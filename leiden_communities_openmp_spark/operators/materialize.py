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
they know are small. The Leiden loops (operators/leiden.py) do; the
companion loops (operators/companions.py) hint only PageRank's one-row
dangling-mass join, so their other joins against materialized relations
plan as shuffle joins.
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
