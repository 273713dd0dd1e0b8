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
    "zonal_stats_rect": (3, 0, 4),
    "zonal_stats_poly": (3, 1, 4),
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
