"""Traced run: per-layer metrics, taken from outside the program.

The benchmark times calls into each module's public functions, gives
each call its own Spark job group, reads stage metrics from Spark's
status store (it works with the UI off) and counts plan-shape nodes in
``explain("formatted")``.  No program code changes.

Three parts, all in one session on the workload's inputs:

1. **Queries.**  One pass over TRACED_QUERIES, the union of every
   workload's queries, so every workload reports the same metric names.
   Each query is split into build (the ``queries()`` callable: DataFrame
   construction and any jobs it fires), Catalyst planning
   (``executedPlan``) and execution into the ``noop`` sink.  Then a
   traced warm pass between two untraced ones; ``trace.overhead`` is the
   traced pass over the mean of the untraced two.
   The ``exec.*`` metrics sum the stages of the workload's own queries
   in the traced warm pass.
2. **Layer spans.**  Each layer's public function runs on cached inputs
   and is materialized on its own (persist + count where a later span
   reuses the result, ``noop`` otherwise), in the reference's phase
   vocabulary: redimension, rasterize, join, focal, overlay, ingest.
   Staged materialization gives up cross-layer fusion, so the spans need
   not sum to a query's time.
3. **Oracle gate**, as in the untraced run (``run.Gate``).

End-to-end metrics come only from the untraced run (perfbench/run.py).
"""

from __future__ import annotations

import os
import re
import time

import run

TRACED_QUERIES = run.RASTER_QUERIES + run.VECTOR_QUERIES
_NODE = re.compile(r"^\(\d+\) (\w+)", re.M)
_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")

EXEC_METRICS = [
    ("exec.tasks", "count", "lower"),
    ("exec.run_s", "s", "lower"),
    ("exec.cpu_s", "s", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("exec.shuffle_write_mb", "MB", "lower"),
    ("exec.shuffle_read_mb", "MB", "lower"),
    ("exec.spill_mb", "MB", "lower"),
    ("exec.failed_tasks", "count", "lower"),
    ("exec.cpu_util", "ratio", "higher"),
]
SPAN_METRICS = [
    "tiling.redimension_s",
    "zonal.rasterize_rect_s", "zonal.rasterize_poly_s", "zonal.rasterize_layer_s",
    "zonal.join_s",
    "focal.mean_sum_s",
    "pixel.overlay_add_s", "pixel.count_s",
    "pip.prepare_layer_s", "pip.join_prepared_s", "pip.join_df_s",
    "skew.salted_counts_s",
    "knn.s",
    "geotiff.read_s", "shapefile.parse_s",
    "catalog.create_s", "catalog.merge_s", "catalog.read_s",
]
# (name, unit, better) of every metric a traced run prints
METRICS = (
    [("session.get_spark_s", "s", "lower")]
    + [(f"query.{q}.{p}_s", "s", "lower") for q in TRACED_QUERIES for p in ("cold", "warm")]
    + [
        ("model.build_s", "s", "lower"),
        ("model.build_jobs", "count", "lower"),
        ("catalyst.plan_s", "s", "lower"),
        ("plan.exchanges", "count", "lower"),
        ("plan.python_nodes", "count", "lower"),
        ("plan.jobs", "count", "lower"),
    ]
    + [(name, "s", "lower") for name in SPAN_METRICS]
    + [
        ("pip.candidates_per_hit", "ratio", "lower"),
        ("fanout.repartitions", "count", "lower"),
        ("knn.jobs", "count", "lower"),
        ("catalog.bytes_written_mb", "MB", "lower"),
        ("catalog.write_amp", "ratio", "lower"),
    ]
    + EXEC_METRICS
    + [("trace.overhead", "ratio", "lower")]
)


class Tracer:
    """Job groups per layer call, read back through the status tracker
    and the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.n = 0

    def group(self, label: str) -> str:
        self.n += 1
        g = f"{label}#{self.n}"
        self.sc.setJobGroup(g, label)
        return g

    def jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stages(self, group: str) -> list:
        ids = set()
        for j in self.jobs(group):
            info = self.sc.statusTracker().getJobInfo(j)
            if info is not None:
                ids.update(info.stageIds)
        return [self.store.lastStageAttempt(s) for s in sorted(ids)]


def plan_shape(df) -> tuple[int, int]:
    """(Exchange nodes, Python-evaluation nodes) of the physical plan."""
    sc = df.sparkSession.sparkContext
    text = sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    nodes = _NODE.findall(text)
    return (sum("Exchange" in n for n in nodes),
            sum(bool(_PYTHON_NODE.search(n)) for n in nodes))


class FanOutCount:
    """Counts the ``plans.fanout.fan_out`` calls that added a
    repartition.  Callers import ``fan_out`` at call time, so wrapping
    the module attribute sees every call."""

    def __init__(self):
        from scidbgeo_spark.plans import fanout

        self.module, self.orig, self.repartitions = fanout, fanout.fan_out, 0

        def counted(df, *args, **kwargs):
            out = self.orig(df, *args, **kwargs)
            self.repartitions += out is not df
            return out

        fanout.fan_out = counted

    def close(self) -> None:
        self.module.fan_out = self.orig


def exec_metrics(stages: list, wall_s: float, cores: int) -> dict[str, float]:
    mb = 1 << 20
    cpu_s = sum(s.executorCpuTime() for s in stages) / 1e9
    return {
        "exec.tasks": sum(s.numCompleteTasks() for s in stages),
        "exec.run_s": sum(s.executorRunTime() for s in stages) / 1e3,
        "exec.cpu_s": cpu_s,
        "exec.gc_s": sum(s.jvmGcTime() for s in stages) / 1e3,
        "exec.shuffle_write_mb": sum(s.shuffleWriteBytes() for s in stages) / mb,
        "exec.shuffle_read_mb": sum(s.shuffleReadBytes() for s in stages) / mb,
        "exec.spill_mb": sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in stages) / mb,
        "exec.failed_tasks": sum(s.numFailedTasks() for s in stages),
        "exec.cpu_util": cpu_s / (wall_s * cores),
    }


def untraced_pass(spark, qs, in_dir: str) -> float:
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    failures: list[str] = []
    seconds = sum(run.run_pass(spark, qs, TRACED_QUERIES, in_dir, failures))
    if failures:
        raise RuntimeError(f"warm pass failed: {failures}")
    return seconds


def trace_queries(spark, tr: Tracer, qs, in_dir: str, own: list[str], m: dict) -> int:
    """Part 1; returns the query executions attempted."""
    fan = FanOutCount()
    build_s = plan_s = 0.0
    build_jobs = exec_jobs = exchanges = python_nodes = 0
    try:
        for name in TRACED_QUERIES:
            t0 = time.perf_counter()
            g = tr.group(f"build:{name}")
            df = qs[name](spark, in_dir)
            t1 = time.perf_counter()
            build_jobs += len(tr.jobs(g))
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            ex, py = plan_shape(df)
            g = tr.group(f"exec:{name}")
            run.noop(df)
            m[f"query.{name}.cold_s"] = time.perf_counter() - t0
            build_s += t1 - t0
            plan_s += t2 - t1
            exec_jobs += len(tr.jobs(g))
            exchanges += ex
            python_nodes += py
    finally:
        fan.close()
    m.update({
        "model.build_s": build_s, "model.build_jobs": build_jobs,
        "catalyst.plan_s": plan_s, "plan.exchanges": exchanges,
        "plan.python_nodes": python_nodes, "plan.jobs": exec_jobs,
        "fanout.repartitions": fan.repartitions,
    })

    # untraced passes bracket the traced one, so the warm-up drift from
    # pass to pass cancels out of trace.overhead
    untraced = untraced_pass(spark, qs, in_dir)
    stages, own_wall = [], 0.0
    for name in TRACED_QUERIES:
        t0 = time.perf_counter()
        g = tr.group(f"warm:{name}")
        df = qs[name](spark, in_dir)
        plan_shape(df)  # reading the plan is part of what tracing costs
        run.noop(df)
        m[f"query.{name}.warm_s"] = dt = time.perf_counter() - t0
        if name in own:
            stages += tr.stages(g)
            own_wall += dt
    untraced = (untraced + untraced_pass(spark, qs, in_dir)) / 2
    traced = sum(m[f"query.{q}.warm_s"] for q in TRACED_QUERIES)
    m["trace.overhead"] = traced / untraced
    m.update(exec_metrics(stages, own_wall, run.cores()))
    return 4 * len(TRACED_QUERIES)


def _executed(df):
    run.noop(df)
    return df


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs)


def trace_layers(spark, tr: Tracer, in_dir: str, fx: str, m: dict) -> int:
    """Part 2; returns the spans run."""
    import numpy as np
    from pyspark.sql import functions as F

    from scidbgeo_spark import fixtures, model, tiling
    from scidbgeo_spark.catalog import SnapshotCatalog
    from scidbgeo_spark.model import CHUNK, VALUE_MOD, VALUE_MULT
    from scidbgeo_spark.operators import focal, knn, pip, pixel, zonal
    from scidbgeo_spark.plans import skew
    from scidbgeo_spark.sources import geotiff, shapefile

    kept, groups = [], {}

    def keep(df):
        df = df.persist()
        df.count()
        kept.append(df)
        return df

    def timed(name, call):
        groups[name] = tr.group(f"layer:{name}")
        t0 = time.perf_counter()
        out = call()
        m[name] = time.perf_counter() - t0
        return out

    def span(name, build, cache=False):
        """Build and materialize one layer call; ``cache`` keeps the
        result for later spans."""
        return timed(name, lambda: (keep if cache else _executed)(build()))

    try:
        # raster: redimension -> rasterize -> join / focal / overlay
        h, w = model.raster_dims(spark, in_dir)
        coo = keep(model.raster_coo(spark, in_dir))
        tiles = span("tiling.redimension_s", lambda: tiling.pack_tiles(coo, CHUNK, h, w), True)
        zr = span("zonal.rasterize_rect_s", lambda: zonal.rasterize_rect_grid(
            spark, h, w, CHUNK, fixtures.ZONE_H, fixtures.ZONE_W), True)
        span("zonal.rasterize_poly_s", lambda: zonal.rasterize_polygons(
            spark, fixtures.MIXED_POLYGONS, h, w, CHUNK))
        span("zonal.join_s", lambda: zonal.zonal_stats_tiles(tiles, zr))
        span("focal.mean_sum_s", lambda: focal.focal_mean_sum36(tiles, h, w, CHUNK))
        span("pixel.overlay_add_s", lambda: pixel.overlay_add_tiles(tiles, tiles))
        span("pixel.count_s", lambda: pixel.count_pixels(coo, 42))

        # ingest: GeoTIFF and shapefile sources, catalog writes; the
        # fixture files are the ones geotiff_ingest / zonal_stats_shp write
        eid = np.arange(h * w, dtype=np.int64)
        arr = ((eid * VALUE_MULT) % VALUE_MOD).astype(np.int32).reshape(h, w)
        os.makedirs(f"{fx}/tiff")
        with open(f"{fx}/tiff/raster.tif", "wb") as f:
            f.write(geotiff.write_tiff(arr, tile=(64, 64), compression="deflate", predictor=2))
        span("geotiff.read_s", lambda: geotiff.geotiff_coo(spark, f"{fx}/tiff"))
        os.makedirs(f"{fx}/shp")
        shapefile.write_shp_fixture(
            f"{fx}/shp/zones.shp",
            [(zid, [ring]) for zid, ring in fixtures.rect_grid_polygons(h, w)],
        )
        layer = span("shapefile.parse_s",
                        lambda: shapefile.polygons_from_shp(spark, f"{fx}/shp/zones.shp"), True)
        span("zonal.rasterize_layer_s",
             lambda: zonal.rasterize_layer_df(spark, layer, h, w, CHUNK))
        cat = SnapshotCatalog(spark, f"{fx}/catalog")
        timed("catalog.create_s", lambda: cat.create("raster", tiles))
        window = pixel.reclassify(pixel.between(coo, 0, 0, 49, 99), 87, 1000, other=-99)
        updates = keep(tiling.pack_tiles(window, CHUNK, h, w, value_col="newvalue"))
        timed("catalog.merge_s", lambda: cat.merge("raster", updates))
        span("catalog.read_s", lambda: cat.read("raster"))
        written = dir_bytes(f"{fx}/catalog/raster/data")
        current = cat._read_manifest("raster", cat.current_version("raster"))["partitions"]
        table = sum(dir_bytes(f"{fx}/catalog/raster/{p}") for p in current.values())
        m["catalog.bytes_written_mb"] = written / (1 << 20)
        m["catalog.write_amp"] = written / table

        # vector: prepare -> candidate join + refine -> salted counts, kNN
        pts = keep(model.points(spark, in_dir))
        prepared = timed("pip.prepare_layer_s",
                         lambda: pip.prepare_layer(spark, fixtures.geo_grid_polygons()))
        joined = span("pip.join_prepared_s", lambda: pip.pip_join_prepared(pts, prepared), True)
        span("pip.join_df_s", lambda: pip.pip_join_df(
            spark, pts, pip.polygons_df(spark, fixtures.GEO_POLYGONS)))
        cand = pts.withColumn("ccell", pip.cell_col(res=pip.CAND_RES, nx=pip.CAND_NX)).join(
            F.broadcast(prepared.cand), "ccell")
        m["pip.candidates_per_hit"] = cand.count() / max(1, joined.count())
        hot = skew.hot_keys(cand, "zone_id", cap=50).withColumn(
            "zone_id", F.col("zone_id").cast("long"))
        span("skew.salted_counts_s",
             lambda: skew.salted_counts(joined, "zone_id", "doc_id", cap=50, hot=hot))
        span("knn.s", lambda: knn.knn(
            spark, pts, knn.knn_queries_from_nation(spark, in_dir), k=10))
        m["knn.jobs"] = len(tr.jobs(groups["knn.s"]))
    finally:
        for df in kept:
            df.unpersist()
    return len(SPAN_METRICS)


def run_traced(entry, workload: str, seed: int) -> dict:
    from scidbgeo_spark.session import get_spark

    in_dir = run.inputs(workload, seed, run.WORKLOADS[workload]["sizes"])
    own = run.WORKLOADS[workload]["queries"]
    gate = run.Gate(entry, run.gate_dirs(workload, seed, in_dir))
    fx = os.path.join(run.RUN, "trace")
    m: dict[str, float] = {}
    t0 = time.perf_counter()
    spark = get_spark("perfbench-trace", cores=run.cores())
    m["session.get_spark_s"] = time.perf_counter() - t0
    try:
        tr = Tracer(spark)
        attempted = trace_queries(spark, tr, entry.queries(), in_dir, own, m)
        attempted += trace_layers(spark, tr, in_dir, fx, m)
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        gate.write(spark, list(gate.dirs))
    finally:
        run.shutdown(spark)
    bad = gate.check()
    units = {name: unit for name, unit, _ in METRICS}
    return {
        "correct": not bad,
        "attempted": attempted + len(gate.dirs),
        "failed": len(bad),
        "metrics": {k: {"value": m[k], "unit": units[k]} for k in units},
    }
