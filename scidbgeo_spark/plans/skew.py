"""Explicit skew handling: deterministic salting + adaptive splitting.

The reference's ingest planner fixes work imbalance by splitting the
ragged tail tile into per-instance row slices so every SciDB instance
always has work (`ConfigureParallelReads`, SciDBParallel.py:294-360).
The web-scale analog is a *dense cell*: one grid cell holding a huge
share of the pages (the fixture pins 10% of points into one cell —
FIXTURES.md F1).  AQE's skew-join splitting is the backstop; these
helpers make the skew handling explicit and deterministic so results and
assignments are identical across parallelism levels and resumes
(north rule).

Salt keys are derived from the row's own id (``pmod(hash(id), k)``), not
from randomness, so a re-run or a resume assigns every row to the same
salt bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hot_keys(df: DataFrame, key: str, cap: int) -> DataFrame:
    """Keys whose row count exceeds ``cap`` with the salt factor needed to
    bring each slice under it.  One cheap pre-aggregation (map-side
    combined) — the 'adaptive' part of adaptive splitting."""
    return (
        df.groupBy(key)
        .count()
        .filter(F.col("count") > cap)
        .select(key, F.ceil(F.col("count") / cap).cast("int").alias("n_salt"))
    )


def with_adaptive_salt(
    df: DataFrame, key: str, id_col: str, cap: int, hot: DataFrame | None = None
) -> DataFrame:
    """Add a ``salt`` column: 0 for cold keys, pmod(hash(id), k) for hot
    keys (k sized so each (key, salt) slice holds <= cap rows).  The hot
    map is broadcast (it is small by construction — only outliers).

    ``hot`` overrides the detection pass with a caller-supplied
    (key, n_salt) table.  Any table whose counts UPPER-BOUND the true
    per-key counts is sound — the result is identical for every salt
    assignment (pinned by tests) — so callers can size salts from a
    cheap proxy (e.g. the pre-refine candidate join) instead of
    re-running an expensive ``df`` subtree just to count it (guide §1.2:
    don't compute things you throw away)."""
    hk = hot_keys(df, key, cap) if hot is None else hot
    return (
        df.join(F.broadcast(hk), key, "left")
        .withColumn(
            "salt",
            F.when(
                F.col("n_salt").isNotNull(),
                F.pmod(F.hash(F.col(id_col)), F.col("n_salt")),
            ).otherwise(F.lit(0)),
        )
        .drop("n_salt")
    )


def salted_counts(
    df: DataFrame,
    key: str,
    id_col: str,
    cap: int = 100_000,
    hot: DataFrame | None = None,
) -> DataFrame:
    """Two-phase count per key that never shuffles a hot key into one
    task: phase 1 aggregates (key, salt), phase 2 rolls up the (few)
    salted partials.  Result is identical to a direct groupBy(key).count()
    — pinned by tests.  ``hot`` forwards a caller-supplied upper-bound
    hot-key table to skip the detection pass (see with_adaptive_salt)."""
    salted = with_adaptive_salt(df, key, id_col, cap, hot=hot)
    phase1 = salted.groupBy(key, "salt").agg(F.count("*").alias("c"))
    return phase1.groupBy(key).agg(F.sum("c").alias("count"))


def split_oversized_groups(
    df: DataFrame, key_cols: list[str], id_col: str, cap: int
) -> DataFrame:
    """Generic adaptive split for grouped-kernel inputs (e.g. a chunk that
    accumulated too many COO points): appends a ``sub`` column that
    subdivides any group larger than ``cap`` deterministically.  Kernels
    then group by key_cols + sub and merge partials — the engine-side
    port of the reference's tail-tile row slicing."""
    counts = df.groupBy(*key_cols).count()
    hot = counts.filter(F.col("count") > cap).select(
        *key_cols, F.ceil(F.col("count") / cap).cast("int").alias("n_sub")
    )
    return (
        df.join(F.broadcast(hot), key_cols, "left")
        .withColumn(
            "sub",
            F.when(
                F.col("n_sub").isNotNull(),
                F.pmod(F.hash(F.col(id_col)), F.col("n_sub")),
            ).otherwise(F.lit(0)),
        )
        .drop("n_sub")
    )
