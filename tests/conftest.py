import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MTX_DIR = os.path.join(REPO, "tests", "data", "mtx")
GOLD_DIR = os.path.join(REPO, "tests", "golden")


@pytest.fixture(scope="session")
def spark():
    from leiden_communities_openmp_spark.session import get_spark

    s = get_spark("pytest", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")),
                  shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def spark_jobs(spark, group, fn):
    """Run ``fn`` under job group ``group``; return (its result, the number
    of Spark jobs it started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def load_golden(name: str, method: str):
    import json
    import pathlib

    lines = pathlib.Path(os.path.join(GOLD_DIR, f"{name}.{method}.txt")).read_text().splitlines()
    hdr = json.loads(lines[0])
    memb = {int(a): int(b) for a, b in (ln.split("\t") for ln in lines[1:])}
    return hdr, memb
