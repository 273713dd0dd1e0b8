"""Scale-adaptive scan fan-out.

A single small parquet file yields one (or, under a union, a handful of)
scan partition(s), so every CPU-heavy per-row operator upstream of the
first exchange — gram/shingle hashing, ray-cast refinement, distance
kernels — runs nearly serial no matter how many cores the cluster has
(measured: dup_span_dedup wall 2.8 s with 2.5 core-seconds of executor
time spread over 3 tasks at sf0.1).  This is the optimization guide's
"input skew: one huge unsplittable file ... repartition immediately
after the read" (§2.5), made conditional so it is a no-op whenever the
source already provides enough parallelism (many files / large splits /
spark.range) — the repartition must never add a shuffle to inputs that
do not need it, and the condition derives from the actual scan inputs,
not a constant tuned to this sandbox.

The under-parallelism probe is PLANNING-LIGHT (r6): ``inputFiles()``
plus the optimizer's size estimate, never ``df.rdd`` — materializing
the RDD lineage just to read its partition count cost ~0.4 s of
physical planning per call inside the query's own timed region (4
headline queries each paid it).  Scan-task count for splittable
columnar sources is bounded below by ceil(bytes / maxPartitionBytes),
so "estimate >= target/2 partitions" certifies the scan is already
parallel; non-file sources (spark.range, in-memory) are partitioned by
construction and pass through untouched.  fan_out is meant for
PRE-SHUFFLE scan pipelines — downstream of an exchange the data
already has shuffle-partition parallelism and callers do not (and must
not) route it here.

Correctness: every operator this feeds is partitioning-independent
(pinned by the partitioning-invariance tests), and the repartition
hash-distributes on caller-named DETERMINISTIC key columns (never
rand(); guide §2.5 on retry-safety under fetch failure).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

# Spark's byte-size strings: an integer plus an optional b/k/m/g/t/p
# unit, each unit with an optional trailing "b" (JavaUtils.byteStringAs)
_SIZE = re.compile(r"(\d+)([kmgtp]?)b?")
_SHIFT = {"": 0, "k": 10, "m": 20, "g": 30, "t": 40, "p": 50}


def _bytes_conf(spark, key: str, default: int) -> int:
    """Parse a Spark size conf ("134217728", "134217728b", "128m", "1tb"...);
    ``default`` when unset or unparseable."""
    m = _SIZE.fullmatch(str(spark.conf.get(key, str(default))).strip().lower())
    if m is None:
        return default
    return int(m.group(1)) << _SHIFT[m.group(2)]


def fan_out(df: DataFrame, *key_cols: str, min_bytes: int = 0) -> DataFrame:
    """Repartition ``df`` to the session's default parallelism iff its
    file-scan inputs cannot offer at least half that — otherwise return
    it untouched.  ``key_cols`` pick the deterministic hash-distribution
    key (a unique id spreads evenly); with none given, round-robin is
    used (pays the sort-before-repartition safety sort — prefer a key).

    ``min_bytes`` gates the whole decision on the optimizer's size
    estimate: operators whose per-row cost is modest (e.g. the
    vectorized PIP refine) only benefit once the input is large enough
    that serial execution actually binds, and below the gate the
    repartition's own exchange costs more than it saves (measured at
    sf0.1: pip_grid +0.3 s with an unconditional fan-out).  CPU-dense
    operators (gram/shingle hashing, cosine sweeps) pass
    ``min_bytes=0`` — they win even on sub-MB inputs.

    The decision reads ``df.inputFiles()``, so a source that is not a
    file scan is NEVER repartitioned — ``spark.range``, an in-memory
    relation, even a single-partition ``createDataFrame`` is returned as
    is, however few partitions it has."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if not files:
        # spark.range / in-memory relations: partitioned by
        # construction (defaultParallelism slices) — never repartition
        return df
    est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    if min_bytes > 0 and est < min_bytes:
        return df
    maxpb = _bytes_conf(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
    scan_parts = max(1, -(-est // max(1, maxpb)))
    if scan_parts * 2 >= target:
        # splittable columnar scans get at least ceil(bytes/split)
        # tasks — already parallel enough, a repartition would only
        # add a shuffle
        return df
    if key_cols:
        return df.repartition(target, *key_cols)
    return df.repartition(target)
