"""Plan-shape pins for the headline queries (``bench.HEADLINE``) at sf0.01.

Per query: Exchange nodes and Python-evaluation nodes in the physical
plan, and the Spark jobs fired while the DataFrame is built (before any
action).  These counts do not depend on the host, so a change that adds
a shuffle, a Python stage or an eager driver-side job fails here on any
machine.  A pin moves only with a stated reason."""

import re

import __spark_entry__ as entrymod
from bench import HEADLINE

# the node rules of perfbench's plan.* metrics, so the pins and the
# benchmark count the same nodes
_NODE = re.compile(r"^\(\d+\) (\w+)", re.M)
_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")

# query -> (Exchange nodes, Python nodes, jobs during build)
PINS = {
    # 1 Exchange (was 3): the zone id is rect_zone arithmetic on the COO
    # rows, so no tiles are packed and no zone-tile join runs; the one
    # shuffle is the aggregate's.  bench.py's north metric divides
    # tiles+pages by this query's seconds, and it now builds no tiles:
    # a bench.py figure across this change compares two algorithms.
    "zonal_stats_rect": (1, 0, 4),
    # (was 3, 1, 4): the zone id is zone_expr, the ray-cast kernel
    # compiled into one CASE on the COO rows, so no tiles are packed or
    # burned in pandas, no join runs and the raster's extent is not read.
    "zonal_stats_poly": (1, 0, 1),
    "pip_grid": (2, 1, 1),
    "pip_grid_salted": (6, 1, 1),
    "focal_mean_sum": (3, 1, 4),
    "raster_add": (3, 0, 4),
    "count_pixels": (1, 0, 1),
    "knn": (2, 0, 15),
    "dedup_exact": (1, 0, 1),
    "ann_bruteforce_topk": (4, 0, 1),
    "corpus_freeze": (9, 0, 1),
    "dup_span_dedup": (6, 0, 1),
}


def _shape(spark, query, sf_dir, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    df = query(spark, sf_dir)
    sc.setLocalProperty("spark.jobGroup.id", None)
    build_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    text = sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    nodes = _NODE.findall(text)
    return (
        sum("Exchange" in n for n in nodes),
        sum(bool(_PYTHON_NODE.search(n)) for n in nodes),
        build_jobs,
    )


def test_headline_plan_shapes_pinned(spark, sf_correct):
    assert set(PINS) == set(HEADLINE)
    qs = entrymod.queries()
    got = {
        name: _shape(spark, qs[name], sf_correct, f"plan-shape:{name}")
        for name in HEADLINE
    }
    assert got == PINS
