"""Headline benchmark.

Runs the 12 headline queries once each at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS] (default: one task slot per CPU) after
an untimed warm-up, and prints ONE JSON line:

  {"metric": "tiles_pages_per_sec", "value": N, "unit": "sec",
   "queries": {...per-query seconds...}, "sf": ..., "host": {},
   "scaling": {}}

North metric (BASELINE.json): tiles+pages processed/sec over the
zonal-stats + PIP-join pair.  ``host`` and ``scaling`` stay in the line
as empty objects for readers of earlier artifacts.  Per-layer timings,
plan shapes and executor CPU utilisation (the serial fraction) come from
``perfbench/``; an N-vs-4N comparison by hand runs
``tools/scale_smoke.py <cores>`` at each core count.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from scidbgeo_spark.model import CHUNK
from scidbgeo_spark.session import DEFAULT_CPUS as CPUS

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINE = [
    "zonal_stats_rect",
    "zonal_stats_poly",
    "pip_grid",
    "pip_grid_salted",
    "focal_mean_sum",
    "raster_add",
    "count_pixels",
    "knn",
    "dedup_exact",
    "ann_bruteforce_topk",
    "corpus_freeze",
    "dup_span_dedup",
]


def _session(cores: int) -> SparkSession:
    from scidbgeo_spark.session import get_spark

    spark = get_spark(f"bench-{cores}", cores=cores, shuffle_partitions=cores)
    spark.range(1000).select(F.sum("id")).collect()  # JVM/codegen warmup
    return spark


def main() -> None:
    spark = _session(CPUS)
    qs = entrymod.queries()
    # untimed warmup with NON-headline queries (codegen, python workers,
    # parquet footers) so the timed numbers are warm-engine one-shots
    qs["zonal_stats_sortmerge"](spark, SF_DIR).collect()
    qs["pip_poly"](spark, SF_DIR).collect()
    times: dict[str, float] = {}
    for name in HEADLINE:
        t0 = time.time()
        qs[name](spark, SF_DIR).collect()
        times[name] = round(time.time() - t0, 3)

    # north metric at the sf dir: tiles+pages over the zonal+PIP pair
    n_events = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    n_tiles = -(-(n_events // 100) // CHUNK) * -(-100 // CHUNK)
    pair_sec = times["zonal_stats_rect"] + times["pip_grid"]
    throughput = (n_tiles + n_docs) / pair_sec if pair_sec > 0 else 0.0

    print(json.dumps({
        "metric": "tiles_pages_per_sec",
        "value": round(throughput, 2),
        "unit": "sec",
        "queries": times,
        "sf": SF_DIR,
        "host": {},
        "scaling": {},
    }))


if __name__ == "__main__":
    main()
