"""Per-stage lineage + idempotent checkpointed writes (resume support).

The reference tracks array versions after repeated redimension-inserts
and GCs them (`versions`/`remove_versions` — scidb.py:126-156,
SciDBParallel.py:964-983); its long ingests print per-loop progress/ETA.
This module is the Spark-native replacement (north rule: "per-partition
lineage rows and counters checkpointed ... so any stage resumes
idempotently"):

- every stage writes to its own parquet dir, then a `_LINEAGE.json`
  manifest is committed atomically (tmp + rename) recording the stage
  name, an input fingerprint, total rows, per-file row counts, and
  wall time;
- re-running a pipeline skips stages whose manifest matches the
  fingerprint (the resume path);
- a mismatched fingerprint or a missing/partial manifest recomputes the
  stage (overwrite is idempotent — the failed attempt leaves no state
  the rerun can see).

Local parquet stands in for an Iceberg table; the manifest plays the
snapshot's role (a catalog switch, not a code dependency — SURVEY §7).
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_LINEAGE.json"


@dataclass
class StageResult:
    name: str
    path: str
    rows: int
    skipped: bool
    seconds: float
    partitions: dict[str, int] = field(default_factory=dict)


class CheckpointedPipeline:
    """Run named stages with resume-on-rerun semantics."""

    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.workdir = workdir
        os.makedirs(workdir, exist_ok=True)
        self.log: list[StageResult] = []

    def _stage_dir(self, name: str) -> str:
        return os.path.join(self.workdir, name)

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self.workdir, f"{name}{MANIFEST}")

    def stage(
        self,
        name: str,
        fingerprint: str,
        build: Callable[[], DataFrame],
    ) -> DataFrame:
        """Return the stage's output DataFrame, recomputing only when the
        checkpoint is absent or stale."""
        t0 = time.time()
        sdir = self._stage_dir(name)
        mpath = self._manifest_path(name)
        if os.path.exists(mpath):
            with open(mpath) as f:
                m = json.load(f)
            if m.get("fingerprint") == fingerprint and os.path.exists(
                os.path.join(sdir, "_SUCCESS")
            ):
                self.log.append(
                    StageResult(name, sdir, m["rows"], True, time.time() - t0, m["partitions"])
                )
                return self.spark.read.parquet(sdir)
            os.remove(mpath)  # stale: force recompute

        df = build()
        df.write.mode("overwrite").parquet(sdir)
        out = self.spark.read.parquet(sdir)
        # per-partition (per-file) lineage rows — the resume/ETA telemetry
        parts = {
            os.path.basename(r["f"]): r["n"]
            for r in out.groupBy(F.input_file_name().alias("f"))
            .agg(F.count("*").alias("n"))
            .collect()
        }
        rows = sum(parts.values())
        manifest = {
            "stage": name,
            "fingerprint": fingerprint,
            "rows": rows,
            "partitions": parts,
            "wall_seconds": round(time.time() - t0, 3),
            "engine": "scidbgeo_spark",
        }
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, mpath)  # atomic commit
        self.log.append(StageResult(name, sdir, rows, False, time.time() - t0, parts))
        return out

    def counters(self) -> dict[str, dict]:
        return {
            r.name: {"rows": r.rows, "skipped": r.skipped, "seconds": round(r.seconds, 3)}
            for r in self.log
        }


def zonal_pipeline(
    spark: SparkSession, sf_dir: str, workdir: str, chunk: int | None = None
) -> tuple[DataFrame, CheckpointedPipeline]:
    """The flagship zonal-stats workload as a 3-stage checkpointed
    pipeline: redimension -> rasterize -> join+aggregate.  Stage names and
    phase split mirror the reference's timing vocabulary
    (SciDB_analysis.py:57-63)."""
    from scidbgeo_spark import fixtures, model, tiling
    from scidbgeo_spark.operators import zonal

    chunk = chunk or model.CHUNK
    h, w = model.raster_dims(spark, sf_dir)
    fp = f"{sf_dir}|{h}x{w}|chunk={chunk}|v1"
    pipe = CheckpointedPipeline(spark, workdir)

    tiles = pipe.stage(
        "redimension",
        fp,
        lambda: tiling.pack_tiles(model.raster_coo(spark, sf_dir), chunk, h, w),
    )
    zones = pipe.stage(
        "rasterize",
        fp,
        lambda: zonal.rasterize_rect_grid(
            spark, h, w, chunk, fixtures.ZONE_H, fixtures.ZONE_W
        ),
    )
    stats = pipe.stage(
        "zonal_join",
        fp,
        lambda: zonal.zonal_stats_tiles(tiles, zones),
    )
    return stats, pipe
