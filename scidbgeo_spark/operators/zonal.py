"""Zonal statistics: the reference's flagship workload.

Reference pipeline (SciDBParallel.py:675-715 `GlobalJoin_SummaryStats`):
rasterize polygons to a zone-id grid (gdal.RasterizeLayer), redimension it
into a mask array aligned with the raster, positional-join raster x mask,
then ``grouped_aggregate(min,max,avg,count by id)``.

Spark-native re-expression: two front ends produce zoned cells
``(id, v[, band])`` for one aggregate, :func:`zonal_stats`.

1. **driver-side layers**: the zone id is a Catalyst column on the COO
   rows, :func:`rect_zone` for the rect grid, :func:`zone_expr` for a
   ``(zone_id, ring)`` list — no rasterize, no zone tiles, no join
   (Raptor, VLDB 2019: zonal statistics need no rasterized layer).
2. **DataFrame layers**: a per-tile ray-cast kernel burns zone tiles;
   :func:`zone_cells` equi-joins them to the raster tiles on chunk
   keys — the positional join becomes chunk join + array-index math.

The aggregate is partial before the shuffle, so the shuffle carries
per-(task, zone) partials, never pixels — the reason the reference runs
grouped_aggregate server-side.

A broadcast COO variant mirrors the reference's
``equi_join(..., algorithm=hash_replicate_right)`` mode
(SciDB_ZonalStats_CL.py:319-321): hash_replicate_right *is* a
broadcast-right hash join.
"""

from __future__ import annotations

import math
from collections.abc import Callable
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from scidbgeo_spark import tiling
from scidbgeo_spark.kernels import NODATA_ZONE, rasterize_tile
from scidbgeo_spark.tiling import TILE_KEYS

ZONE_TILE_SCHEMA = "tile_y int, tile_x int, y0 long, x0 long, h int, w int, zid array<int>"


def zone_expr(polygons, y: Column | str = "y", x: Column | str = "x") -> Column:
    """Zone id (BIGINT) of cell (y, x) under a driver-side polygon layer
    ``[(zone_id, ring), ...]``: ``kernels.rasterize_tile`` compiled into
    one ``CASE``, equal to it on every cell.  Branches run in reverse burn
    order, so the last polygon wins; each is the kernel's integer bbox
    crop, then ``points_in_ring`` unrolled at (x + 0.5, y + 0.5) in
    double literals and NumPy's operation order, so every comparison sees
    the kernel's bits."""
    y = F.col(y) if isinstance(y, str) else y
    x = F.col(x) if isinstance(x, str) else x
    px, py = x.cast("double") + 0.5, y.cast("double") + 0.5
    zone = None
    for zid, ring in reversed(polygons):
        ring = np.asarray(ring, dtype=np.float64)
        inside = F.lit(False)
        for (a, b), (c, d) in zip(ring, np.roll(ring, -1, axis=0)):
            if b != d:  # a horizontal edge never crosses the ray; with b
                # and d known, (b > py) != (d > py) is a range test
                xint = float(a) + (py - float(b)) * float(c - a) / float(d - b)
                crosses = (py >= float(min(b, d))) & (py < float(max(b, d)))
                inside = inside != (crosses & (px < xint))
        (xmin, ymin), (xmax, ymax) = ring.min(axis=0), ring.max(axis=0)
        cond = (x >= math.floor(xmin - 1)) & (x < math.ceil(xmax + 1))
        cond &= (y >= math.floor(ymin - 1)) & (y < math.ceil(ymax + 1)) & inside
        zone = F.when(cond, int(zid)) if zone is None else zone.when(cond, int(zid))
    return (F.lit(NODATA_ZONE) if zone is None else zone.otherwise(NODATA_ZONE)).cast("long")


def _zone_tiles(
    spark: SparkSession,
    height: int,
    width: int,
    chunk: int,
    zone: Callable[[Column, Column], Column],
) -> DataFrame:
    """Zone tiles (``ZONE_TILE_SCHEMA``) of the zone column ``zone(y, x)``
    over every cell of each tile, in one higher-order ``transform``."""
    grid = tiling.tile_grid(spark, height, width, chunk)
    cells = F.sequence(F.lit(0), F.col("h") * F.col("w") - 1)

    def zid(i: Column) -> Column:
        y = F.col("y0") + F.call_function("div", i, F.col("w"))
        x = F.col("x0") + i % F.col("w")
        return zone(y, x).cast("int")

    return grid.withColumn("zid", F.transform(cells, zid))


def rasterize_polygons(
    spark: SparkSession,
    polygons,
    height: int,
    width: int,
    chunk: int,
) -> DataFrame:
    """Polygon layer ``[(zone_id, ring), ...]`` -> zone-id tile table
    (pixel-center inclusion): :func:`zone_expr` over every cell of each
    tile.  Replaces ParallelRasterization/BigRasterization
    (SciDBParallel.py:935-961, 795-897), whose mp.Pool workers wrote
    per-instance COO files.  No registered query builds these tiles:
    zonal queries put :func:`zone_expr` on their COO rows."""
    return _zone_tiles(spark, height, width, chunk, partial(zone_expr, polygons))


def rect_zone(
    height: int,
    width: int,
    zone_h: int,
    zone_w: int,
    y: Column | str = "y",
    x: Column | str = "x",
) -> Column:
    """Zone id (BIGINT) of cell (y, x) in the FULL-GRID rectangle layer
    ``fixtures.rect_grid_polygons`` — the engine's one copy of the
    rect-grid rule.

    Pixel centers sit at half-integers and rect edges at integers, so
    ``points_in_ring``'s half-open [a,b)×[c,d) inclusion reduces exactly
    to ``(y div zone_h) * nzx + (x div zone_w)`` inside the covered
    extent, and NODATA_ZONE below the last full zone row or right of the
    last full zone column (partial trailing zones are not part of the
    layer).  Equal to the ray-cast kernel's zone tiles on ragged shapes
    (pinned by tests) and to the oracle's ``_RECT_ZONE3`` CASE."""
    y = F.col(y) if isinstance(y, str) else y
    x = F.col(x) if isinstance(x, str) else x
    nzx = width // zone_w
    nzy = height // zone_h

    def div(c: Column, k: int) -> Column:
        return F.call_function("div", c, F.lit(k))

    return (
        F.when(
            (y < nzy * zone_h) & (x < nzx * zone_w),
            div(y, zone_h) * nzx + div(x, zone_w),
        )
        .otherwise(F.lit(NODATA_ZONE))
        .cast("long")
    )


def rasterize_rect_grid(
    spark: SparkSession,
    height: int,
    width: int,
    chunk: int,
    zone_h: int,
    zone_w: int,
) -> DataFrame:
    """Zone tiles for the full-grid rectangle layer: :func:`rect_zone`
    over every cell of each tile.  Zonal queries put the zone column on
    COO rows instead; this serves the callers that want zone TILES:
    ``cli.run_zonal``, ``plans.lineage``, ``tools/scale_smoke.py`` and
    perfbench."""
    zone = partial(rect_zone, height, width, zone_h, zone_w)
    return _zone_tiles(spark, height, width, chunk, zone)


def zonal_stats(cells: DataFrame, keys: list[str]) -> DataFrame:
    """(keys..., min_value, max_value, avg_value, count_value) over
    zoned cells ``(keys..., v)``: one codegen hash aggregate (map-side
    partials, so the shuffle carries one row per task x group) and the
    exact avg = sum / count division.  Output schema matches the printed
    header "geoid, min, max, average, count" (scidb.py:64); the 2-D
    (zone) and 3-D (zone, band) forms share it, so they never drift in
    column names or avg semantics."""
    return (
        cells.groupBy(*keys)
        .agg(
            F.min("v").alias("min_value"),
            F.max("v").alias("max_value"),
            F.sum("v").alias("_s"),
            F.count("v").alias("count_value"),
        )
        .select(
            *keys,
            "min_value",
            "max_value",
            (F.col("_s") / F.col("count_value")).alias("avg_value"),
            "count_value",
        )
    )


def zone_cells(raster_tiles: DataFrame, zone_tiles: DataFrame) -> DataFrame:
    """Zoned cells ``(id, v[, band])`` of a raster under a zone-tile
    layer: the front end for DataFrame layers (:func:`rasterize_layer_df`)
    and other zone tiles; driver-side layers need none (module docstring).

    The positional join is an equi-join at chunk granularity (a 3-D
    raster's every band joins the one 2-D zone raster by the spatial
    tile key, so the band dimension never inflates the rasterize cost);
    cell alignment is array-index math.  posexplode + O(1) element_at
    beats arrays_zip-then-explode: the zip materializes a 65k-struct
    array per tile before generating, while this generates straight off
    the px array and indexes the (by-reference) zid array per row inside
    codegen.  Integral px (stored array<int>) surface as BIGINT so the
    stats schemas are type-stable; float rasters keep their double
    type."""
    band = ["band"] if "band" in raster_tiles.columns else []
    zt = zone_tiles.select(*TILE_KEYS, "zid")
    e = raster_tiles.join(zt, TILE_KEYS).select(
        *band, "zid", F.posexplode("px").alias("pos", "v")
    )
    elem = raster_tiles.schema["px"].dataType.elementType.simpleString()
    v = (
        F.col("v").cast("long")
        if elem in ("tinyint", "smallint", "int", "bigint")
        else F.col("v")
    )
    return e.select(
        F.element_at("zid", F.col("pos") + 1).cast("long").alias("id"),
        *band,
        v.alias("v"),
    )


def zonal_stats_tiles(raster_tiles: DataFrame, zone_tiles: DataFrame) -> DataFrame:
    """Zonal statistics of a raster under a zone-tile layer (all JVM):
    :func:`zone_cells` then :func:`zonal_stats`.  No Arrow transfer, so
    it scales with cores."""
    return zonal_stats(zone_cells(raster_tiles, zone_tiles), ["id"])


def zonal_variance(cells: DataFrame) -> DataFrame:
    """(id, var_value, std_value, count_value) over zoned cells (id, v):
    exact population variance per zone via the all-integer identity
    (c*Σv² − (Σv)²) / c², with the sums carried in DECIMAL(38,0) — the
    analogue of DuckDB's HUGEINT sum widening.  BIGINT sums would silently wrap: two int32-extreme
    cells already push Σv² past 2^63 (r3 advice).  Exactness domain:
    per-cell v² ≤ 2^62 needs pixels within int32 (the tile int_values
    contract), and c·Σv² < 10^38 holds for zones up to ~4.7e9 cells even
    at the int32 extreme (far larger for realistic pixel magnitudes);
    beyond the decimal domain Spark yields NULL and DuckDB's HUGEINT
    errors — loud on both engines, never silent corruption.  The single
    closing division (and IEEE-exact sqrt) is bitwise reproducible
    across partitionings and engines.  Same single-shuffle shape as
    zonal_stats."""
    dec = "decimal(38,0)"
    v = F.col("v").cast("long")
    g = cells.groupBy("id").agg(
        F.sum(v.cast(dec)).alias("s"),
        F.sum((v * v).cast(dec)).alias("ss"),
        F.count("v").alias("c"),
    )
    cd = F.col("c").cast(dec)
    num = (cd * F.col("ss") - F.col("s") * F.col("s")).cast("double")
    var = num / (cd * cd).cast("double")
    return g.select(
        "id",
        var.alias("var_value"),
        F.sqrt(var).alias("std_value"),
        F.col("c").alias("count_value"),
    )


def zonal_mode(cells: DataFrame) -> DataFrame:
    """(id, mode_value, n_pixels) over zoned cells (id, v): the MAJORITY
    pixel value per zone (the GIS "zonal majority" statistic),
    deterministic ties broken toward the smaller value.  The (zone,
    value) histogram shuffles as counts (map-side partials), then one
    per-zone window picks the argmax — the full pixel stream never
    reaches the window."""
    counts = cells.groupBy("id", "v").agg(F.count("*").alias("n"))
    win = Window.partitionBy("id").orderBy(F.desc("n"), F.asc("v"))
    return (
        counts.withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") == 1)
        .select("id", F.col("v").alias("mode_value"), F.col("n").alias("n_pixels"))
    )


def zonal_stats_broadcast(raster_coo: DataFrame, zones_coo: DataFrame) -> DataFrame:
    """equi_join(..., 'algorithm=hash_replicate_right') variant
    (SciDB_ZonalStats_CL.py:290-328): zone COO stays 'vector-shaped'
    (never redimensioned), broadcast to every task, value-based join on
    the named coordinate attributes."""
    cells = raster_coo.join(F.broadcast(zones_coo), ["y", "x"]).select(
        F.col("id").cast("long").alias("id"), F.col("value").alias("v")
    )
    return zonal_stats(cells, ["id"])


def join_reclass(
    raster_coo: DataFrame,
    zones_coo: DataFrame,
    target_zone: int,
    new_value: int,
) -> DataFrame:
    """JoinReclass (SciDBParallel.py:717-754): zone-conditioned reclassify
    — apply(join(between(R,...), between(M,...)), newvalue, <expr>).
    Cells in the target zone take new_value, others keep their value."""
    return (
        raster_coo.join(zones_coo, ["y", "x"])
        .select(
            "y",
            "x",
            F.when(F.col("id") == target_zone, F.lit(new_value))
            .otherwise(F.col("value"))
            .cast("long")
            .alias("newvalue"),
        )
    )


def zonal_stats_time(cells: DataFrame) -> DataFrame:
    """Temporal zonal statistics: per-(zone, band) stats over zoned
    cells (id, band, v) of a 3-D raster time series — the SciDB "zonal
    stats over every time slice" workload ([band;y;x] arrays,
    SciDBParallel.py:188-192), one query instead of a per-slice loop.

    The zone layer is resolved once for every band (the zone id depends
    on (y, x) alone), then the same codegen hash aggregate as
    zonal_stats, grouped by (zone, band).  The shuffle carries one row
    per task x zone x band; pixels never leave their scan task."""
    return zonal_stats(cells.withColumn("band", F.col("band").cast("int")), ["id", "band"])


def rasterize_layer_df(
    spark: SparkSession,
    layer: DataFrame,
    height: int,
    width: int,
    chunk: int,
) -> DataFrame:
    """Distributed rasterize for a DataFrame polygon layer ``(zone_id,
    xs, ys)`` — the millions-of-polygons shape `zone_expr`'s one
    whole-layer ``CASE`` cannot reach: every tile joins ONLY
    the rings whose bbox overlaps it (rings explode to overlapped tile
    keys, then a hash equi-join), and each task burns its tile from
    that pruned set.  Burn
    order is ascending zone_id (the driver-list path burns in list
    order; fixtures list zones ascending, pinned by the parity test).
    Tiles no ring overlaps burn straight to the nodata zone."""
    nty = -(-height // chunk)
    ntx = -(-width // chunk)
    grid = tiling.tile_grid(spark, height, width, chunk)
    # EQUI-join shape, not an inequality join: each ring explodes into
    # the tile keys its bbox overlaps (fan-out = bbox area / chunk², the
    # same bound the PIP covering-cell gate uses), then a plain hash
    # join on (tile_y, tile_x).  An inequality bbox condition would plan
    # as BroadcastNestedLoopJoin — the whole layer to the driver and
    # O(tiles x rings) comparisons, the exact bottleneck this function
    # exists to avoid.
    ty0 = F.greatest(F.lit(0), F.floor(F.array_min("ys") / chunk).cast("int"))
    ty1 = F.least(F.lit(nty - 1), F.floor(F.array_max("ys") / chunk).cast("int"))
    tx0 = F.greatest(F.lit(0), F.floor(F.array_min("xs") / chunk).cast("int"))
    tx1 = F.least(F.lit(ntx - 1), F.floor(F.array_max("xs") / chunk).cast("int"))
    rings = (
        layer.select(
            F.col("zone_id").cast("long").alias("zid_in"),
            "xs",
            "ys",
            ty0.alias("ty0"),
            ty1.alias("ty1"),
            tx0.alias("tx0"),
            tx1.alias("tx1"),
        )
        .filter((F.col("ty0") <= F.col("ty1")) & (F.col("tx0") <= F.col("tx1")))
        .select(
            "zid_in",
            "xs",
            "ys",
            F.explode(F.sequence("ty0", "ty1")).alias("tile_y"),
            F.col("tx0"),
            F.col("tx1"),
        )
        .select(
            "zid_in",
            "xs",
            "ys",
            "tile_y",
            F.explode(F.sequence("tx0", "tx1")).alias("tile_x"),
        )
    )
    j = grid.join(rings, ["tile_y", "tile_x"], "left")

    def _burn(key, pdf):
        first = pdf.iloc[0]
        y0, x0, h, w = int(first.y0), int(first.x0), int(first.h), int(first.w)
        hit = pdf[pdf.zid_in.notna()].sort_values("zid_in")
        polys = [
            (int(r.zid_in), np.column_stack((np.asarray(r.xs), np.asarray(r.ys))))
            for r in hit.itertuples()
        ]
        zid = rasterize_tile(y0, x0, h, w, polys)
        return pd.DataFrame(
            {
                "tile_y": [int(key[0])],
                "tile_x": [int(key[1])],
                "y0": [y0],
                "x0": [x0],
                "h": [h],
                "w": [w],
                "zid": [zid],
            }
        )

    return j.groupBy("tile_y", "tile_x").applyInPandas(_burn, schema=ZONE_TILE_SCHEMA)


def zonal_ivm_apply(
    base_agg: DataFrame, delta_coo: DataFrame, zones_coo: DataFrame
) -> DataFrame:
    """INCREMENTAL VIEW MAINTENANCE for zonal statistics: merge an
    ADDITIVE cell delta ``(y, x, dv)`` into a materialized per-zone
    aggregate ``(id, sum_value, count_value)`` without rescanning the
    base raster — the update path a 100 TB store needs when 0.1% of
    cells change (re-aggregable measures only: sum/count/avg compose;
    min/max do not survive removals and stay on the recompute path).

    Scale shape: ALL work is delta-sized — the delta joins the
    broadcast zone layer, one map-side-combinable per-zone sum, then a
    broadcast-able merge join against the (zone-count-sized) base
    aggregate.  The base raster is never read.  Identity pinned by
    test: apply(base_agg, delta) == recompute(base ⊎ delta)."""
    dsum = (
        delta_coo.join(F.broadcast(zones_coo), ["y", "x"])
        .groupBy("id")
        .agg(F.sum("dv").alias("dsum"))
    )
    # dsum has one row per zone; without the hint the planner, lacking
    # column statistics, reads the zone-COO join as GiB-sized and plans
    # a sort-merge join that only adaptive execution undoes at run time
    merged = base_agg.join(F.broadcast(dsum), "id", "left")
    s = F.col("sum_value") + F.coalesce(F.col("dsum"), F.lit(0))
    return merged.select(
        F.col("id").cast("long").alias("id"),
        s.cast("long").alias("sum_value"),
        F.col("count_value").cast("long").alias("count_value"),
        (s.cast("double") / F.col("count_value").cast("double")).alias(
            "avg_value"
        ),
    )


def zonal_sums(raster_coo: DataFrame, zones_coo: DataFrame) -> DataFrame:
    """(id, sum_value, count_value): the materialized additive base
    aggregate zonal_ivm_apply maintains."""
    return (
        raster_coo.join(F.broadcast(zones_coo), ["y", "x"])
        .groupBy("id")
        .agg(
            F.sum("value").alias("sum_value"),
            F.count("value").alias("count_value"),
        )
    )


def zonal_weighted(coo_multi: DataFrame, h: int, w: int, zh: int = 20, zw: int = 20) -> DataFrame:
    """WEIGHTED zonal mean (population-weighted aggregation — the
    census-style variant the plain zonal family lacks): value band va
    weighted by band vb per rectangular zone.  wavg = sum(va*vb) /
    sum(vb) with exact long numerator/denominator and ONE final
    division (NULL where the zone's weight mass is zero, identical
    CASE on both engines).  Cells outside the full zone grid fall into
    the -999 catch-all zone (:func:`rect_zone`) like zonal_stats_rect.

    Scale shape: both bands ride the SAME row (the multi-attribute COO
    — no second raster join), the zone id is closed-form column
    algebra, and the whole operator is ONE map-side-combinable
    groupBy."""
    g = coo_multi.groupBy(rect_zone(h, w, zh, zw).alias("id")).agg(
        F.sum(F.col("va") * F.col("vb")).alias("wsum"),
        F.sum("vb").alias("wtot"),
        F.count("*").alias("n"),
    )
    return g.select(
        "id",
        "wsum",
        "wtot",
        "n",
        F.when(F.col("wtot") > 0, F.col("wsum") / F.col("wtot")).alias("wavg"),
    )


def zonal_argmax(coo: DataFrame, h: int, w: int, zh: int = 20, zw: int = 20) -> DataFrame:
    """HOTSPOT LOCATION per zone — the zonal family's argmax: not just
    the max value (zonal_stats has it) but WHERE it is, under the exact
    (max value, then min y, then min x) tie rule: one row per rect-grid
    zone (id, max_value, max_y, max_x).  Cells outside the full zone
    grid fold into the -999 nodata zone, same as the rasterized layer.

    Scale shape: one map-side-combinable struct-max aggregate keyed by
    the ARITHMETIC zone id — no zone layer join at all for rect grids
    (the layer IS the arithmetic); the struct packs (v, -y, -x) so the
    combiner resolves ties without a second pass."""
    zone = rect_zone(h, w, zh, zw).alias("id")
    m = coo.select(zone, "y", "x", "value").groupBy("id").agg(
        F.max(
            F.struct(
                F.col("value").alias("v"),
                (-F.col("y")).alias("ny"),
                (-F.col("x")).alias("nx"),
            )
        ).alias("m")
    )
    return m.select(
        "id",
        F.col("m.v").alias("max_value"),
        (-F.col("m.ny")).alias("max_y"),
        (-F.col("m.nx")).alias("max_x"),
    )
