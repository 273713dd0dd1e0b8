"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship zonal-statistics pipeline on sf0.001.
``queries()`` exposes every implemented operator from SURVEY.md §2 as a
(spark, sf_dir) -> DataFrame callable; ``oracle_sql()`` provides the
DuckDB twin (scidbgeo_spark.oracle) for the value-hash correctness gate.

All geo tables are deterministic arithmetic derivations of the driver's
testdata parquet (see scidbgeo_spark.model), so Spark and DuckDB compute
from identical rows.
"""

from __future__ import annotations

import atexit
import os
import sys
import tempfile
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:  # driver-side import when loaded by file path
    sys.path.insert(0, _REPO)

from scidbgeo_spark import fixtures, model, oracle, session, tiling
from scidbgeo_spark.model import CHUNK
from scidbgeo_spark.operators import (
    curation,
    dedup,
    graph,
    focal,
    knn as knn_mod,
    multimodal,
    pip,
    pixel,
    similarity,
    text,
    zonal,
)


def _ensure_pyfiles(spark: SparkSession) -> None:
    """Ship scidbgeo_spark to executors (the spark-submit --py-files idiom):
    the driver's SparkSession may not have /root/repo on the workers'
    PYTHONPATH, and pandas-UDF closures reference the package."""
    sc = spark.sparkContext
    if getattr(sc, "_scidbgeo_pyfiles", False):
        return
    # one zip per driver process, deleted as it exits; in the private dir
    # the zips of processes that died before they could are swept
    d = session.private_dir()
    if d is not None:
        session.sweep(d)
    # always rebuild: a recycled pid (or an edited package) must never
    # ship a stale zip to the workers
    zpath = os.path.join(d or tempfile.gettempdir(), f"scidbgeo_spark_pyfiles_{os.getpid()}.zip")
    atexit.register(session.remove_file, zpath)
    sc.addPyFile(session.zip_package(zpath))
    sc._scidbgeo_pyfiles = True


def _fixture_dir(kind: str, sf_dir: str, fresh: bool = False) -> str:
    """Deterministic per-(kind, sf_dir) scratch dir, OVERWRITTEN on every
    call — repeated driver/bench invocations must not accumulate temp
    dirs (the 3-D raster fixture alone can be 200 MB).  ``fresh`` wipes
    the dir first (for catalog fixtures whose create() is create-if-
    absent)."""
    import hashlib
    import shutil

    h = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = os.path.join(tempfile.gettempdir(), f"scidbgeo_fixture_{kind}_{h}")
    if fresh:
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    return d


def _wrap(fn: Callable[[SparkSession, str], DataFrame]):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_pyfiles(spark)
        return fn(spark, sf_dir)

    return run


# ---------------------------------------------------------------------------
# building blocks shared by the query callables
# ---------------------------------------------------------------------------

def _raster_tiles(spark: SparkSession, sf_dir: str):
    coo = model.raster_coo(spark, sf_dir)
    h, w = model.raster_dims(spark, sf_dir)
    return tiling.pack_tiles(coo, CHUNK, h, w), h, w


def _rect_zone(h: int, w: int):
    """Zone id of the fixtures.rect_grid_polygons layer on COO rows."""
    return zonal.rect_zone(h, w, fixtures.ZONE_H, fixtures.ZONE_W)


def _zoned_cells(coo: DataFrame, zone: Column, *cols: str) -> DataFrame:
    """Zoned cells (id, *cols, v) of a COO raster under a driver-side
    layer: the zone column (``zonal.rect_zone`` or ``zonal.zone_expr``)
    is evaluated on each row — no zone tiles, no join."""
    return coo.select(zone.alias("id"), *cols, F.col("value").alias("v"))


def _rect_zones_coo(spark: SparkSession, h: int, w: int) -> DataFrame:
    """The rect-grid layer as a zone COO (y, x, id), one row per cell:
    the zone relation the join-algorithm queries (broadcast, sort-merge,
    IVM, reclass) exist to exercise."""
    cells = spark.range(h * w).select(
        F.expr(f"id DIV {w}").alias("y"), (F.col("id") % w).alias("x")
    )
    return cells.select("y", "x", _rect_zone(h, w).alias("id"))


# ---------------------------------------------------------------------------
# query callables (names match oracle.SQL keys)
# ---------------------------------------------------------------------------

def q_count_pixels(spark, sf_dir):
    return pixel.count_pixels(model.raster_coo(spark, sf_dir), 42)


def q_count_pixels_tiles(spark, sf_dir):
    tiles, _, _ = _raster_tiles(spark, sf_dir)
    return pixel.count_pixels_tiles(tiles, 42)


def q_count_pixels_true(spark, sf_dir):
    return pixel.count_pixels_true_count(model.raster_coo(spark, sf_dir), 42)


def q_reclassify_sum(spark, sf_dir):
    return pixel.reclassify_sum(model.raster_coo(spark, sf_dir), 87, 1000)


def q_count_pixels_sql(spark, sf_dir):
    """AQL form (SciDB_analysis.py:130-131 'SELECT count(value) FROM A
    WHERE value = k'; runner scidb.py:107-124): the engine exposes the
    same queries through spark.sql over registered views."""
    model.raster_coo(spark, sf_dir).createOrReplaceTempView("raster_coo_v")
    return spark.sql(
        "SELECT count(value) AS pixel_count FROM raster_coo_v WHERE value = 42"
    )


def q_merge_insert(spark, sf_dir):
    """insert(redimension(...)) upsert: reclassify one window of the
    raster, pack it, merge into the existing tile table, read back COO.
    Oracle: CASE over the window bounds."""
    from pyspark.sql import functions as F

    tiles, h, w = _raster_tiles(spark, sf_dir)
    window = pixel.between(model.raster_coo(spark, sf_dir), 0, 0, 49, 99)
    updated = pixel.reclassify(window, 87, 1000, other=-99)
    up_tiles = tiling.pack_tiles(updated, CHUNK, h, w, value_col="newvalue")
    merged = tiling.merge_into_tiles(tiles, up_tiles)
    return tiling.tiles_to_coo(merged, "value")


def q_snapshot_diff(spark, sf_dir):
    """Incremental CHANGELOG SCAN between two catalog snapshots
    (Iceberg changed-data analog / raster change detection): create v1
    from the raster, merge a negated chunk (0,0) as v2, then diff —
    only partitions whose data file changed between the manifests are
    read at all.  Oracle: the update rule re-derived arithmetically."""
    from pyspark.sql import functions as F

    from scidbgeo_spark.catalog import SnapshotCatalog

    tiles, h, w = _raster_tiles(spark, sf_dir)
    cat = SnapshotCatalog(spark, _fixture_dir("snapdiff", sf_dir, fresh=True))
    cat.create("d", tiles)
    upd = (
        model.raster_coo(spark, sf_dir)
        .filter((F.col("y") < CHUNK) & (F.col("x") < CHUNK))
        .select("y", "x", (-F.col("value") - 1).alias("value"))
    )
    cat.merge("d", tiling.pack_tiles(upd, CHUNK, CHUNK, CHUNK))
    return cat.diff("d", 1, 2)


def q_merge_insert_catalog(spark, sf_dir):
    """The merge_insert upsert routed through the transactional
    SnapshotCatalog (MERGE INTO + snapshot commit + read-back): same
    oracle as merge_insert — the catalog layer must not change results.
    Exercises the real write path: copy-on-write parquet partitions, an
    atomic manifest commit, then a snapshot read."""
    from scidbgeo_spark.catalog import SnapshotCatalog

    tiles, h, w = _raster_tiles(spark, sf_dir)
    window = pixel.between(model.raster_coo(spark, sf_dir), 0, 0, 49, 99)
    updated = pixel.reclassify(window, 87, 1000, other=-99)
    up_tiles = tiling.pack_tiles(updated, CHUNK, h, w, value_col="newvalue")
    cat = SnapshotCatalog(spark, _fixture_dir("snapcat", sf_dir, fresh=True))
    cat.create("raster", tiles)
    cat.merge("raster", up_tiles)
    return tiling.tiles_to_coo(cat.read("raster"), "value")


def q_snapshot_rollback(spark, sf_dir):
    """Create -> destructive merge -> rollback(1): the catalog's
    metadata-only undo (Iceberg rollback_to_snapshot analog) must
    restore the ORIGINAL raster bit-for-bit, with the undone snapshot
    still time-travelable.  Oracle: the raw COO itself."""
    from scidbgeo_spark.catalog import SnapshotCatalog

    tiles, h, w = _raster_tiles(spark, sf_dir)
    window = pixel.between(model.raster_coo(spark, sf_dir), 0, 0, 49, 99)
    updated = pixel.reclassify(window, 87, 1000, other=-99)
    up_tiles = tiling.pack_tiles(updated, CHUNK, h, w, value_col="newvalue")
    cat = SnapshotCatalog(spark, _fixture_dir("snaproll", sf_dir, fresh=True))
    cat.create("raster", tiles)
    cat.merge("raster", up_tiles)
    cat.rollback("raster", 1)
    return tiling.tiles_to_coo(cat.read("raster"), "value")


def q_reclassify_persist(spark, sf_dir):
    return pixel.reclassify(model.raster_coo(spark, sf_dir), 87, 1000, other=-99)


def q_downsample(spark, sf_dir):
    """regrid(A, 2, 2, avg) analog: block-mean overview pyramid level."""
    return pixel.downsample(model.raster_coo(spark, sf_dir), 2)


def q_focal_mean_time(spark, sf_dir):
    """3-D focal mean (spatial window per time slice, band radius 0):
    band rides the halo-message key, so one exchange covers every
    slice — zero extra shuffles for the time dimension."""
    from scidbgeo_spark.model import RASTER3_W

    coo3 = model.raster3_coo(spark, sf_dir)
    _, h3, _ = model.raster3_dims(spark, sf_dir)
    tiles3 = tiling.pack_tiles_3d(coo3, CHUNK, h3, RASTER3_W)
    return focal.focal_mean_time(tiles3, h3, RASTER3_W, CHUNK)


def q_raster_pyramid(spark, sf_dir):
    """Full overview pyramid (levels 1-3, factors 2/4/8) in one query:
    pixels aggregate once, coarser levels cascade from (sum, count)
    partials — true base-block means, base never rescanned."""
    return pixel.raster_pyramid(model.raster_coo(spark, sf_dir), levels=3)


def q_raster_histogram(spark, sf_dir):
    return pixel.histogram(model.raster_coo(spark, sf_dir))


def q_transpose(spark, sf_dir):
    """transpose(A): dimension swap, shuffle-free projection."""
    return pixel.transpose(model.raster_coo(spark, sf_dir))


def q_upsample(spark, sf_dir):
    """xgrid(A, 2, 2): shuffle-free cell expansion (SciDB upsample)."""
    return pixel.upsample(model.raster_coo(spark, sf_dir))


def q_bernoulli_sample(spark, sf_dir):
    """bernoulli(A, 0.25, seed): deterministic seeded cell sampling —
    reproducible across runs, executors, and partitionings."""
    return pixel.bernoulli_sample(model.raster_coo(spark, sf_dir))


def q_region_label(spark, sf_dir):
    """Distributed connected-component labeling (raster -> vector region
    extraction): per-tile NumPy label kernel + cross-tile boundary merge
    + iterative label-graph min-propagation.  Oracle: DuckDB recursive
    min-propagation CTE over the adjacency graph — exact, because region
    ids are deterministic component minima."""
    from scidbgeo_spark.operators import regions

    coo = model.raster_coo(spark, sf_dir)
    h, w = model.raster_dims(spark, sf_dir)
    return regions.region_label(spark, coo, h, w, CHUNK)


def q_region_sieve(spark, sf_dir):
    """One-pass GDAL SieveFilter analog: regions under 3 pixels flip to
    the class of their largest 4-adjacent neighbor region (ties to the
    smallest region id) — region CC + a perimeter-only adjacency join +
    broadcast-size region joins."""
    from scidbgeo_spark.operators import regions

    coo = model.raster_coo(spark, sf_dir)
    h, w = model.raster_dims(spark, sf_dir)
    return regions.region_sieve(spark, coo, h, w, CHUNK)


def q_region_stats(spark, sf_dir):
    """Vector-feature attribute table over the extracted regions (pixel
    count + bbox per region) — the raster->vector conversion's output."""
    from scidbgeo_spark.operators import regions

    coo = model.raster_coo(spark, sf_dir)
    h, w = model.raster_dims(spark, sf_dir)
    return regions.region_stats(regions.region_label(spark, coo, h, w, CHUNK))


def q_region_vectorize(spark, sf_dir):
    """Raster -> vector FEATURES: each labeled region becomes its
    world-coordinate envelope polygon (WKT) under an integer affine
    geotransform — the vectorize half of the reference's rasterize /
    vectorize pair (SciDBGDAL.py:12-56 affine; output ring format is the
    one pip_poly_wkt ingests)."""
    from scidbgeo_spark.operators import regions

    coo = model.raster_coo(spark, sf_dir)
    h, w = model.raster_dims(spark, sf_dir)
    return regions.region_vectorize(regions.region_label(spark, coo, h, w, CHUNK))


def q_between_window(spark, sf_dir):
    return pixel.between(model.raster_coo(spark, sf_dir), 25, 10, 75, 60)


def q_subarray(spark, sf_dir):
    return pixel.subarray(model.raster_coo(spark, sf_dir), 25, 10, 75, 60)


def q_slice_band(spark, sf_dir):
    return pixel.slice_band(model.raster3_coo(spark, sf_dir), 2)


def q_raster_add(spark, sf_dir):
    tiles, _, _ = _raster_tiles(spark, sf_dir)
    added = pixel.overlay_add_tiles(tiles, tiles)
    return tiling.tiles_to_coo(added, "result")


def q_geotiff_ingest(spark, sf_dir):
    """REAL raster ingest end-to-end: serialize the deterministic raster
    as an actual GeoTIFF file (pure-NumPy writer) in GDAL's production
    layout — TILED=YES 64x64, COMPRESS=DEFLATE, PREDICTOR=2 — then ingest
    it through the binaryFile -> tile-windowed parse path
    (GDALtoSciDB_multiprocessing.py:300-320 analog; the striped layout is
    driver-covered by geotiff_ingest_3d and pytest).  Oracle: the plain
    COO derivation — bytes on disk must round-trip exactly."""
    import os

    import numpy as np

    from scidbgeo_spark.model import VALUE_MOD, VALUE_MULT
    from scidbgeo_spark.sources import geotiff

    h, w = model.raster_dims(spark, sf_dir)
    if h * w > 50_000_000:
        raise ValueError("fixture writer is driver-side; raster too large")
    eid = np.arange(h * w, dtype=np.int64)
    arr = ((eid * VALUE_MULT) % VALUE_MOD).astype(np.int32).reshape(h, w)
    d = _fixture_dir("tiff", sf_dir)
    with open(os.path.join(d, "raster.tif"), "wb") as f:
        f.write(
            geotiff.write_tiff(arr, tile=(64, 64), compression="deflate", predictor=2)
        )
    return geotiff.geotiff_coo(spark, d)


def q_geotiff_ingest_big(spark, sf_dir):
    """geotiff_ingest through the BIGTIFF layout (magic 43, 64-bit
    offsets, 20-byte IFD entries — the only TIFF variant that exists
    past 4 GB, i.e. the production raster size): same tiled
    Deflate/Predictor-2 image, same oracle — the header format must be
    invisible to the windowed parse path."""
    import os

    import numpy as np

    from scidbgeo_spark.model import VALUE_MOD, VALUE_MULT
    from scidbgeo_spark.sources import geotiff

    h, w = model.raster_dims(spark, sf_dir)
    if h * w > 50_000_000:
        raise ValueError("fixture writer is driver-side; raster too large")
    eid = np.arange(h * w, dtype=np.int64)
    arr = ((eid * VALUE_MULT) % VALUE_MOD).astype(np.int32).reshape(h, w)
    d = _fixture_dir("bigtiff", sf_dir)
    with open(os.path.join(d, "raster.tif"), "wb") as f:
        f.write(
            geotiff.write_tiff(
                arr, tile=(64, 64), compression="deflate", predictor=2, bigtiff=True
            )
        )
    return geotiff.geotiff_coo(spark, d)


def q_geotiff_ingest_3d(spark, sf_dir):
    """Multiband raster ingest end-to-end: serialize the deterministic
    3-D raster as a REAL pixel-interleaved multiband GeoTIFF, ingest it
    through binaryFile -> strip-windowed parse -> (band, y, x, value)
    (the reference's 3-D [band;y;x] load,
    GDALtoSciDB_multiprocessing.py:145-148).  Oracle: the plain 3-D COO
    derivation — the multiband byte layout must round-trip exactly."""
    import os

    import numpy as np

    from scidbgeo_spark.model import VALUE_MOD, VALUE_MULT
    from scidbgeo_spark.sources import geotiff

    bands, h3, w3 = model.raster3_dims(spark, sf_dir)
    if bands * h3 * w3 > 50_000_000:
        raise ValueError("fixture writer is driver-side; raster too large")
    # raster3_coo: band = e % bands, (y, x) = divmod(e DIV bands, w3)
    e = np.arange(bands * h3 * w3, dtype=np.int64)
    arr = np.zeros((bands, h3, w3), dtype=np.int32)
    arr[e % bands, (e // bands) // w3, (e // bands) % w3] = (e * VALUE_MULT) % VALUE_MOD
    d = _fixture_dir("tiff3", sf_dir)
    with open(os.path.join(d, "raster3.tif"), "wb") as f:
        f.write(geotiff.write_tiff(arr))
    return geotiff.geotiff_coo_3d(spark, d)


def q_redimension_roundtrip(spark, sf_dir):
    tiles, _, _ = _raster_tiles(spark, sf_dir)
    return tiling.tiles_to_coo(tiles, "value")


def q_redimension_roundtrip_3d(spark, sf_dir):
    """3-D chunked array (band dimension): pack per (band, tile) and
    vectorize back (SciDB multiband [band;y;x] analog)."""
    from pyspark.sql import functions as F

    from scidbgeo_spark.model import RASTER3_W

    coo3 = model.raster3_coo(spark, sf_dir)
    _, h3, _ = model.raster3_dims(spark, sf_dir)
    tiles3 = tiling.pack_tiles_3d(coo3, CHUNK, h3, RASTER3_W)
    e = tiles3.select(
        "band", "y0", "x0", "w", F.posexplode("px").alias("pos", "value")
    )
    return e.select(
        "band",
        (F.col("y0") + F.expr("pos DIV w")).alias("y"),
        (F.col("x0") + (F.col("pos") % F.col("w"))).alias("x"),
        "value",
    )


def q_zonal_stats_rect(spark, sf_dir):
    h, w = model.raster_dims(spark, sf_dir)
    cells = _zoned_cells(model.raster_coo(spark, sf_dir), _rect_zone(h, w))
    return zonal.zonal_stats(cells, ["id"])


def q_zonal_stats_poly(spark, sf_dir):
    zone = zonal.zone_expr(fixtures.MIXED_POLYGONS)
    return zonal.zonal_stats(_zoned_cells(model.raster_coo(spark, sf_dir), zone), ["id"])


def q_matmul(spark, sf_dir):
    """Sparse COO matrix multiply (60x50 @ 50x40, small signed
    entries): one inner-dim equi-join + one groupBy; oracle is the
    identical relational form."""
    from pyspark.sql import functions as F

    from scidbgeo_spark.operators import pixel

    a = spark.range(3000).select(
        F.expr("id DIV 50").alias("i"),
        (F.col("id") % 50).alias("k"),
        ((F.col("id") * 2654435761) % 97 - 48).alias("v"),
    )
    b = spark.range(2000).select(
        F.expr("id DIV 40").alias("k"),
        (F.col("id") % 40).alias("j"),
        ((F.col("id") * 2246822519) % 89 - 44).alias("w"),
    )
    return pixel.matmul_coo(a, b)


def q_events_ohlc(spark, sf_dir):
    """15-minute OHLC candles per event type: first/high/low/last value
    under the deterministic (ts, event_id) order — picked doubles, no
    float arithmetic."""
    from scidbgeo_spark.operators import temporal

    return temporal.events_ohlc(model.load_table(spark, sf_dir, "events"))


def q_orc_ingest(spark, sf_dir):
    """ORC source coverage: the documents table round-trips through
    Spark's built-in ORC writer/reader (fixture dir, overwrite), then
    aggregates per lang — the oracle aggregates the same rows from
    parquet, so schema and values must survive the format."""
    from pyspark.sql import functions as F

    d = _fixture_dir("orc", sf_dir)
    docs = _docs(spark, sf_dir)
    docs.write.mode("overwrite").orc(d)
    back = spark.read.orc(d)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
        F.countDistinct("source").alias("n_sources"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


def q_zonal_weighted(spark, sf_dir):
    """Population-weighted zonal mean: band va weighted by band vb on
    the multi-attribute COO — exact long sums, one groupBy, single
    final division (NULL on zero weight mass)."""
    coo = model.raster_coo_multi(spark, sf_dir)
    h, w = model.raster_dims(spark, sf_dir)
    return zonal.zonal_weighted(coo, h, w)


def q_gaussian_blur(spark, sf_dir):
    """Separable 3x3 binomial blur, zero-padded, output 16x-scaled
    exact integers; engine runs the two-pass separable form, the
    oracle the direct 9-fan form — the identity is part of the
    check."""
    from scidbgeo_spark.operators import pixel

    coo = model.raster_coo(spark, sf_dir)
    h, w = model.raster_dims(spark, sf_dir)
    return pixel.gaussian_blur(coo, h, w)


def q_zonal_stats_time(spark, sf_dir):
    """Temporal zonal stats: per-(zone, band) min/max/avg/count over the
    3-D raster time series; the 2-D zone id is (y, x) arithmetic, so
    every band reuses it."""
    from scidbgeo_spark.model import RASTER3_W

    coo3 = model.raster3_coo(spark, sf_dir)
    _, h3, _ = model.raster3_dims(spark, sf_dir)
    return zonal.zonal_stats_time(_zoned_cells(coo3, _rect_zone(h3, RASTER3_W), "band"))


def q_zonal_change(spark, sf_dir):
    """Per-zone CHANGE DETECTION between two time slices of the 3-D
    array (band 1 - band 0): a positional join on (y, x) aligns the
    slices, then the zonal aggregate summarizes the delta — the classic
    SciDB-style raster time-series analysis, zero extra machinery."""
    from scidbgeo_spark.model import RASTER3_W

    coo3 = model.raster3_coo(spark, sf_dir)
    _, h3, _ = model.raster3_dims(spark, sf_dir)
    a = pixel.slice_band(coo3, 0)
    b = pixel.slice_band(coo3, 1)
    delta = a.alias("a").join(b.alias("b"), ["y", "x"]).select(
        "y", "x", (F.col("b.value") - F.col("a.value")).alias("value")
    )
    return zonal.zonal_stats(_zoned_cells(delta, _rect_zone(h3, RASTER3_W)), ["id"])


def q_traffic_spikes(spark, sf_dir):
    """Hourly traffic-spike score per event type: this hour's count
    versus the trailing 24-hour window (spike = cnt * window_hours /
    trailing_sum, ONE exact division on integer counts).  Keyed window
    — partitions bounded by event types, frames by 24 rows."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window as W

    ev = model.load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.count("*").alias("cnt"))
        .withColumn("epoch", F.unix_timestamp("hour"))
    )
    # RANGE frame over event-time seconds, not a rows frame: an hourly
    # series with silent hours must not stretch the baseline window in
    # wall-clock time (a rows frame would pull counts from arbitrarily
    # old hours across the gap)
    w = (
        W.partitionBy("event_type")
        .orderBy("epoch")
        .rangeBetween(-24 * 3600, -3600)
    )
    trail_sum = F.sum("cnt").over(w)
    trail_n = F.count("cnt").over(w)
    # sentinels, not NULLs: nullable sum/score columns decay to NaN in
    # Arrow consumers, which no value-hash compares stably.  0 means
    # "no trailing baseline yet" (real scores are always > 0).
    return hourly.select(
        "event_type",
        "hour",
        "cnt",
        F.coalesce(trail_sum, F.lit(0)).alias("trailing_sum"),
        trail_n.cast("long").alias("trailing_hours"),
        F.when(trail_sum > 0, (F.col("cnt") * trail_n).cast("double") / trail_sum)
        .otherwise(F.lit(0.0))
        .alias("spike_score"),
    )


def q_zonal_stats_shp(spark, sf_dir):
    """The reference's ACTUAL zonal workflow end-to-end (SciDB_ZonalStats
    _CL.py: boundary shapefile -> rasterize -> zonal stats), fully
    distributed: the layer parses from binary .shp/.dbf executor-side,
    every tile burns only bbox-overlapping rings (broadcast range join —
    no whole-layer driver broadcast), then the chunk-join zonal
    aggregate.  Oracle identical to zonal_stats_rect: neither the
    binary round-trip nor the distributed rasterize may change a value."""
    import os

    from scidbgeo_spark.sources import shapefile

    tiles, h, w = _raster_tiles(spark, sf_dir)
    d = _fixture_dir("shp_zones", sf_dir)
    shapefile.write_shp_fixture(
        os.path.join(d, "zones.shp"),
        [(zid, [ring]) for zid, ring in fixtures.rect_grid_polygons(h, w)],
    )
    layer = shapefile.polygons_from_shp(spark, os.path.join(d, "zones.shp"))
    zt = zonal.rasterize_layer_df(spark, layer, h, w, CHUNK)
    return zonal.zonal_stats_tiles(tiles, zt)


def q_between_3d(spark, sf_dir):
    """between() on the 3-D array: the 2-D inclusive-window operator
    composed with a band-range filter — predicate pruning along every
    dimension of [band;y;x], window semantics defined once."""
    from pyspark.sql import functions as F

    coo3 = model.raster3_coo(spark, sf_dir)
    return (
        pixel.between(coo3, 10, 5, 40, 30)
        .filter(F.col("band").between(1, 2))
        .select("band", "y", "x", "value")
    )


def q_zonal_stats_broadcast(spark, sf_dir):
    coo = model.raster_coo(spark, sf_dir)
    h, w = model.raster_dims(spark, sf_dir)
    return zonal.zonal_stats_broadcast(coo, _rect_zones_coo(spark, h, w))


def q_zonal_ivm(spark, sf_dir):
    """Incremental zonal-view maintenance: a materialized per-zone
    (sum, count) aggregate absorbs an additive 1-in-97-cell delta with
    DELTA-SIZED work (broadcast zone join + merge join) — the base
    raster is never rescanned.  Oracle: the closed-form base+delta
    recompute."""
    coo = model.raster_coo(spark, sf_dir)
    h, w = model.raster_dims(spark, sf_dir)
    zones_coo = _rect_zones_coo(spark, h, w)
    base = zonal.zonal_sums(coo, zones_coo)
    eid = F.col("y") * w + F.col("x")
    delta = coo.filter(eid % 97 == 0).select(
        "y", "x", ((eid * 31) % 11).alias("dv")
    )
    return zonal.zonal_ivm_apply(base, delta, zones_coo)


def q_coregister(spark, sf_dir):
    """Co-registration scan vs a deterministically wrap-shifted copy of
    the raster (planted shift (+1,+2), recovered at offset (-1,-2) with
    a full in-range match).  On this fixture every OTHER offset scores
    zero — the multiplicative-hash raster is collision-free under
    constant id deltas (any affine reclass of it is structurally
    correlated, so a fake "1/3 noise floor" would be a lie); real
    scenes put a noise floor under the peak, the argmax machinery is
    identical."""
    from pyspark.sql import functions as F

    from scidbgeo_spark.model import VALUE_MOD, VALUE_MULT

    coo = model.raster_coo(spark, sf_dir)
    h, w = model.raster_dims(spark, sf_dir)
    vb = (
        (((F.col("y") + 1) % h) * w + (F.col("x") + 2) % w) * VALUE_MULT
    ) % VALUE_MOD
    b = coo.select("y", "x", vb.alias("value"))
    return pixel.coregister_shift(coo, b)


def q_path_cells(spark, sf_dir):
    """LINE rasterization: integer-DDA supercover walk of every
    consecutive trajectory step -> per-cell traversal counts (the
    vector->raster pair's missing LINE half)."""
    from scidbgeo_spark.operators import temporal

    return temporal.path_rasterize(model.load_table(spark, sf_dir, "events"))


def q_coverage_gaps(spark, sf_dir):
    """Coverage audit: fixed-grid cells no event ever visited —
    generated grid dimension anti-joined against the distinct visited
    cells (both sides grid-bounded)."""
    from scidbgeo_spark.operators import temporal

    return temporal.coverage_gaps(spark, model.load_table(spark, sf_dir, "events"))


def q_colocation_pairs(spark, sf_dir):
    """Co-location contact graph: user pairs sharing >= 10 distinct
    grid cells, hub cells (> 15 visitors) dropped before pairing with
    the cap mirrored in the oracle."""
    return knn_mod.colocation_pairs(model.load_table(spark, sf_dir, "events"))


def q_join_reclass(spark, sf_dir):
    coo = model.raster_coo(spark, sf_dir)
    h, w = model.raster_dims(spark, sf_dir)
    zones_coo = _rect_zones_coo(spark, h, w)
    return zonal.join_reclass(coo, zones_coo, target_zone=7, new_value=500)


def q_focal_mean_sum(spark, sf_dir):
    tiles, h, w = _raster_tiles(spark, sf_dir)
    return focal.focal_mean_sum36(tiles, h, w, CHUNK)


def q_focal_mean_cells(spark, sf_dir):
    """Materialized focal means (per-cell), the window(...) output array."""
    tiles, h, w = _raster_tiles(spark, sf_dir)
    means = focal.focal_mean_tiles(tiles, h, w, CHUNK)
    return tiling.tiles_to_coo(means, "value_avg")


def q_terrain(spark, sf_dir):
    """Horn 3x3 terrain derivatives over the raster in ONE halo
    exchange: integer gradients (gx, gy), bit-exact slope, 45-degree
    aspect octant (d8), and az-315/alt-45 integer hillshade — the
    classic raster-DB surface-analysis family (the reference's
    window(...) shape with a derivative kernel).  Interior cells only
    (all 8 neighbors present), matching GDAL's edge handling."""
    tiles, h, w = _raster_tiles(spark, sf_dir)
    return focal.terrain_coo(tiles, h, w, CHUNK)


def q_moran_i(spark, sf_dir):
    """Global Moran's I of point counts on occupied 1-degree cells
    (queen adjacency, binary weights): is the geotag density spatially
    clustered?  All-integer algebra (n*z_i = n*x_i - S cancels the
    mean's denominator) with decimal-38 sums; the only floats are the
    final int->double casts and one division (zonal_var precedent)."""
    return knn_mod.moran_i(model.points(spark, sf_dir))


def q_local_moran(spark, sf_dir):
    """LISA (Anselin local Moran) per occupied 10-degree cell: exact
    n-scaled deviation, queen-lag sum, and their product — the hot/
    cold-spot map whose global average is moran_i; same broadcast x8
    scatter scale shape."""
    return knn_mod.local_moran(model.points(spark, sf_dir))


def q_mk_trend(spark, sf_dir):
    """Mann-Kendall monotone-trend S per cell across the band/time
    axis (emerging-hot-spot screen): constant-length array fold inside
    codegen, one map-side-combinable shuffle, exact integers.  Oracle:
    the literal band-pair join."""
    from scidbgeo_spark.operators import temporal

    return temporal.mk_trend(model.raster3_coo(spark, sf_dir))


def q_gi_star(spark, sf_dir):
    """Getis-Ord Gi* hot-spot z-map per occupied 10-degree cell (queen
    + self): exact integer interior, one sqrt-only double expression —
    the third member of the spatial-autocorrelation family (moran_i,
    local_moran, gi_star), same x9-scatter scale shape."""
    return knn_mod.gi_star(model.points(spark, sf_dir))


def q_cost_reach(spark, sf_dir):
    """K-step cost propagation from the zero-valued source cells
    (bounded-K Dijkstra prefix): per reached cell, the cheapest
    8-connected path cost within 4 steps — exact integers, one
    map-side-combinable x8 scatter + min-agg per round, K fixed.
    Oracle: the SAME four rounds unrolled as chained CTEs."""
    return focal.cost_reach_coo(model.raster_coo(spark, sf_dir))


def q_rotate90(spark, sf_dir):
    """90-degree clockwise raster rotation via the unimodular integer
    affine warp ((y,x) -> (x, H-1-y)) — pure projection, zero shuffle,
    the lattice-exact GDAL-warp analog (transpose is the (0,1,1,0)
    special case)."""
    coo = model.raster_coo(spark, sf_dir)
    h, _ = model.raster_dims(spark, sf_dir)
    return pixel.affine_warp(coo, 0, 1, -1, 0, ty=0, tx=h - 1)


def q_join_counts(spark, sf_dir):
    """Join-count statistics (Cliff & Ord): rook-adjacent pair counts
    by binary color (black = value >= 126) — the categorical complement
    of Moran's I, exact integers, ONE halo exchange, no raster
    self-join."""
    tiles, h, w = _raster_tiles(spark, sf_dir)
    return focal.join_counts_coo(tiles, h, w, CHUNK)


def q_flow_accum(spark, sf_dir):
    """D8 flow accumulation — hydrology's iterative raster workload.
    One halo exchange derives each cell's steepest-descent outflow edge
    (strict descent => acyclic), then a distributed topological peel
    counts, per cell, exactly how many cells drain through it; rounds =
    drainage depth, one emptiness boolean to the driver per round.
    Oracle: recursive path-pair CTE over the same edge rule."""
    tiles, h, w = _raster_tiles(spark, sf_dir)
    return focal.flow_accum_coo(tiles, h, w, CHUNK)


def q_watershed_basins(spark, sf_dir):
    """Watershed/basin decomposition of the D8 flow graph: every cell
    labeled with its terminal sink via pointer jumping (ancestor
    doubling) — O(log drainage-depth) self-joins of a constant-size
    pointer table, the scale companion to flow_accum's peel.  Oracle:
    recursive walk down the same edge rule, keeping the step whose
    position has no out-edge."""
    tiles, h, w = _raster_tiles(spark, sf_dir)
    return focal.watershed_basins_coo(
        model.raster_coo(spark, sf_dir), tiles, h, w, CHUNK
    )


def q_point_density(spark, sf_dir):
    """Smoothed point-density heatmap on the 1-degree grid: cell counts
    convolved with the integer 3x3 binomial kernel.  The kernel runs on
    the aggregated cell table (constant x9 scatter), never the points."""
    return knn_mod.point_density(model.points(spark, sf_dir))


def q_focal_minmax(spark, sf_dir):
    """window(A,1,1,1,1,min/max): per-cell shrinking-window extrema in
    one halo-exchange pass (separable sliding-extreme kernel)."""
    tiles, h, w = _raster_tiles(spark, sf_dir)
    return focal.focal_extrema_coo(tiles, h, w, CHUNK)


def q_hist_equalize(spark, sf_dir):
    """Histogram equalization: the raster remapped through its own
    integer CDF — one <=256-row histogram agg + a broadcast remap join;
    the raster shuffles never.  Exact integer formula on both sides."""
    return pixel.hist_equalize(model.raster_coo(spark, sf_dir))


def q_los_visibility(spark, sf_dir):
    """West-edge line-of-sight per raster row (1-D viewshed scan):
    segmented prefix max — chunk maxes first, so no partition ever
    holds a whole raster row — exact integers.  Oracle: the plain
    row window."""
    return pixel.los_visibility(model.raster_coo(spark, sf_dir))


def q_upsample_bilinear(spark, sf_dir):
    """2x bilinear resample on the quarter-shifted lattice: constant
    16-message scatter + one map-side-combinable sum, exact x16
    integers, one IEEE division — the GDAL-warp bilinear analog
    (upsample/xgrid is its nearest-neighbor sibling)."""
    coo = model.raster_coo(spark, sf_dir)
    h, w = model.raster_dims(spark, sf_dir)
    return pixel.upsample_bilinear(coo, h, w)


def q_focal_mode(spark, sf_dir):
    """window(A,1,1,1,1,mode): 3x3 categorical majority filter, ties to
    the smallest value — one halo exchange + sorted-stack run-length
    kernel.  Oracle: neighbor join + count rank."""
    tiles, h, w = _raster_tiles(spark, sf_dir)
    return focal.focal_mode_coo(tiles, h, w, CHUNK)


def q_focal_mean_r2(spark, sf_dir):
    """window(A, 2, 2, 2, 2, avg(value)): ARBITRARY-radius focal window
    (5x5 shrinking box; 2-cell halo strips in the same 9-message JVM
    exchange)."""
    tiles, h, w = _raster_tiles(spark, sf_dir)
    means = focal.focal_mean_tiles(tiles, h, w, CHUNK, radius=2)
    return tiling.tiles_to_coo(means, "value_avg")


def q_between_tiles(spark, sf_dir):
    """between via two-level pruning: chunk-key range filter (partition
    pruning analog) + exact cell filter on the cropped remainder."""
    tiles, h, w = _raster_tiles(spark, sf_dir)
    pruned = pixel.between_tiles(tiles, CHUNK, 25, 10, 75, 60)
    return pixel.between(tiling.tiles_to_coo(pruned, "value"), 25, 10, 75, 60)


def q_overlay_add_bands(spark, sf_dir):
    """Multiband overlay: slice bands 0 and 1 of the 3-D raster, pack
    each, chunk-join + cellwise add (SciDBParallel.py:743-748 shape)."""
    from scidbgeo_spark.model import RASTER3_W

    coo3 = model.raster3_coo(spark, sf_dir)
    _, h3, _ = model.raster3_dims(spark, sf_dir)
    a = tiling.pack_tiles(pixel.slice_band(coo3, 0), CHUNK, h3, RASTER3_W)
    b = tiling.pack_tiles(pixel.slice_band(coo3, 1), CHUNK, h3, RASTER3_W)
    return tiling.tiles_to_coo(pixel.overlay_add_tiles(a, b), "result")


def q_extract_geotags(spark, sf_dir):
    """Page -> point-feature extraction (the north-star step: geotags
    embedded in page text become point features).  Documents get the
    deterministic geotag token appended, html-wrapped, then the engine
    extracts text and parses coordinates back — all JVM-side regex +
    integer arithmetic."""
    from pyspark.sql import functions as F

    from scidbgeo_spark.operators.text import HTML_PREFIX, HTML_SUFFIX
    from scidbgeo_spark.sources import pages as pages_src

    docs = _docs(spark, sf_dir)
    lat_m, lon_m = pages_src._lat_lon_milli(F.col("doc_id"))
    text = F.concat(
        F.col("text"), F.lit(" geo:"), lat_m.cast("string"), F.lit(","), lon_m.cast("string")
    )
    html = F.encode(F.concat(F.lit(HTML_PREFIX), text, F.lit(HTML_SUFFIX)), "utf-8")
    pages = docs.select("doc_id", html.alias("html"))
    return pages_src.extract_geotags(pages, id_col="doc_id")


def q_zonal_stats_sortmerge(spark, sf_dir):
    """Mode-2 analog: zone COO too big to replicate -> sort-merge join on
    the coordinate attributes (the reference's non-equi_join global-join
    path chooses this shape; we force the merge hint)."""
    coo = model.raster_coo(spark, sf_dir)
    h, w = model.raster_dims(spark, sf_dir)
    cells = coo.join(_rect_zones_coo(spark, h, w).hint("merge"), ["y", "x"])
    return zonal.zonal_stats(cells.select("id", F.col("value").alias("v")), ["id"])


def q_zonal_stats_float(spark, sf_dir):
    """Float-attribute raster (value = events.value, double): zonal
    min/max/count (exact for doubles; sums are order-dependent so the
    float path reports order-free stats)."""
    ev = model.load_table(spark, sf_dir, "events")
    coo = ev.select(
        F.expr("event_id DIV 100").alias("y"),
        (F.col("event_id") % 100).alias("x"),
        F.col("value"),
    )
    h, w = model.raster_dims(spark, sf_dir)
    return _zoned_cells(coo, _rect_zone(h, w)).groupBy("id").agg(
        F.min("v").alias("min_value"),
        F.max("v").alias("max_value"),
        F.count("v").alias("count_value"),
    )


def q_zonal_median(spark, sf_dir):
    """Exact per-zone ORDERED statistics (median + p90) — Spark's exact
    `percentile` aggregate over the zoned cells; interpolation matches
    DuckDB quantile_cont bitwise on integer inputs.  An aggregate class
    the reference's grouped_aggregate surface lacks."""
    h, w = model.raster_dims(spark, sf_dir)
    cells = _zoned_cells(model.raster_coo(spark, sf_dir), _rect_zone(h, w))
    return cells.groupBy("id").agg(
        F.expr("percentile(v, 0.5)").alias("median_value"),
        F.expr("percentile(v, 0.9)").alias("p90_value"),
    )


def q_zonal_var(spark, sf_dir):
    """Per-zone exact population variance + stddev — all-integer sums
    with one closing division (and IEEE-exact sqrt), so the float
    results are bitwise across engines."""
    h, w = model.raster_dims(spark, sf_dir)
    return zonal.zonal_variance(_zoned_cells(model.raster_coo(spark, sf_dir), _rect_zone(h, w)))


def q_zonal_mode(spark, sf_dir):
    """Zonal MAJORITY (mode) per zone — the (zone, value) histogram
    shuffles as counts, one window picks the argmax."""
    h, w = model.raster_dims(spark, sf_dir)
    return zonal.zonal_mode(_zoned_cells(model.raster_coo(spark, sf_dir), _rect_zone(h, w)))


def q_zonal_histogram(spark, sf_dir):
    """Per-zone pixel-value HISTOGRAM (grouped_aggregate over (zone,
    value) — the distribution view of zonal statistics)."""
    h, w = model.raster_dims(spark, sf_dir)
    cells = _zoned_cells(model.raster_coo(spark, sf_dir), _rect_zone(h, w))
    return cells.groupBy("id", F.col("v").alias("value")).agg(F.count("*").alias("n"))


def q_zonal_stats_multi(spark, sf_dir):
    """Zonal statistics over a MULTI-ATTRIBUTE array (reference
    arrayType == 2, SciDBParallel.py:55-83): each cell row carries two
    value attributes, aggregated per zone in a single pass — stats on
    attribute a, sum of attribute b."""
    coo = model.raster_coo_multi(spark, sf_dir)
    h, w = model.raster_dims(spark, sf_dir)
    flat = coo.select(_rect_zone(h, w).alias("id"), "va", "vb")
    return flat.groupBy("id").agg(
        F.min("va").alias("min_a"),
        F.max("va").alias("max_a"),
        F.avg("va").alias("avg_a"),
        F.count("va").alias("count_a"),
        F.sum("vb").alias("sum_b"),
    )


def q_cell_index(spark, sf_dir):
    pts = model.points(spark, sf_dir)
    return pts.select("doc_id", pip.cell_col().alias("cell"))


def q_zorder_cell(spark, sf_dir):
    """Morton/Z-order bit-interleaved cell ids (quadkey hierarchy)."""
    pts = model.points(spark, sf_dir)
    return pts.select("doc_id", pip.zorder_cell_col().alias("zcell"))


def q_hilbert_cell(spark, sf_dir):
    """Hilbert-curve cell ids (locality-optimal space-filling index):
    a linear-size Morton-quad fold through the 4-state orientation LUT
    — consecutive ids are always grid 4-neighbors, unlike Z-order."""
    pts = model.points(spark, sf_dir)
    return pts.select("doc_id", pip.hilbert_cell_col().alias("hcell"))


def q_rect_join(spark, sf_dir):
    """Rectangle-overlap join (R-tree-style bbox intersection) with the
    responsible-cell rule: each pair reported exactly once with ZERO
    dedup shuffle.  Oracle: brute cross join with the overlap
    predicate."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    a = docs.select(
        F.col("doc_id").alias("a_id"),
        ((F.col("doc_id") * 9973) % 340000).alias("ax0"),
        ((F.col("doc_id") * 7919) % 160000).alias("ay0"),
    ).select(
        "a_id",
        "ax0",
        "ay0",
        (F.col("ax0") + 100 + (F.col("a_id") % 199) * 100).alias("ax1"),
        (F.col("ay0") + 100 + (F.col("a_id") % 193) * 100).alias("ay1"),
    )
    b = spark.range(60).select(
        F.col("id").alias("b_id"),
        ((F.col("id") * 77777) % 340000).alias("bx0"),
        ((F.col("id") * 33333) % 160000).alias("by0"),
    ).select(
        "b_id",
        "bx0",
        "by0",
        (F.col("bx0") + (1 + F.col("b_id") % 4) * 5000).alias("bx1"),
        (F.col("by0") + (1 + F.col("b_id") % 5) * 4000).alias("by1"),
    )
    return knn_mod.rect_join(a, b)


def q_quadtree_split(spark, sf_dir):
    """Adaptive tile splitting (north-rule dense-cell answer): quadtree
    leaves holding <= 20 points each, computed in ONE pass via the
    count-monotonicity shortcut — no driver split loop."""
    return pip.quadtree_split(model.points(spark, sf_dir))


def q_cell_rollup(spark, sf_dir):
    """Zoom-pyramid cell rollup: point counts at quadkey resolutions
    16/8/4 in one GROUPING SETS pass (single shuffle, map-side partials)
    — the multi-resolution density surface a web-scale tile pipeline
    derives from page geotags."""
    return pip.cell_rollup(model.points(spark, sf_dir))


def q_zorder_range_count(spark, sf_dir):
    """Quadkey/Z-order RANGE PRUNING: a quadkey-aligned 2^k x 2^k block
    of 0.01-deg cells is one contiguous zcell interval, so the spatial
    box query becomes a single range predicate over the Z-order index —
    at scale this is a min/max-zone-pruned scan, no join at all.  The
    oracle verifies the SEMANTICS (range == lon/lat box) independently.
    Block chosen to contain the fixture's hot cell."""
    from pyspark.sql import functions as F

    pts = model.points(spark, sf_dir)
    z0, z1 = pip.zorder_block_range(16384, 8192, 12)  # 40.96-deg block
    return (
        pts.select(pip.zorder_cell_col().alias("zcell"))
        .filter((F.col("zcell") >= z0) & (F.col("zcell") < z1))
        .agg(F.count("*").alias("n_points"))
    )


def q_hilbert_range_count(spark, sf_dir):
    """Hilbert RANGE PRUNING: the same aligned block as
    zorder_range_count expressed as one contiguous Hilbert id interval
    — same independent lon/lat-box oracle, so the two curves'
    range-scan semantics are pinned against each other."""
    from pyspark.sql import functions as F

    pts = model.points(spark, sf_dir)
    d0, d1 = pip.hilbert_block_range(16384, 8192, 12)
    return (
        pts.select(pip.hilbert_cell_col().alias("hcell"))
        .filter((F.col("hcell") >= d0) & (F.col("hcell") < d1))
        .agg(F.count("*").alias("n_points"))
    )


def q_focal_mean_sum_overlap(spark, sf_dir):
    """Focal mean via materialized chunk overlap (the reference's
    'overlap' benchmark mode) — same oracle as focal_mean_sum."""
    coo = model.raster_coo(spark, sf_dir)
    h, w = model.raster_dims(spark, sf_dir)
    return focal.focal_mean_sum36_overlap(coo, h, w, CHUNK)


def q_pip_grid(spark, sf_dir):
    pts = model.points(spark, sf_dir)
    return pip.pip_counts(spark, pts, fixtures.geo_grid_polygons())


def q_pip_poly(spark, sf_dir):
    pts = model.points(spark, sf_dir)
    return pip.pip_join(spark, pts, fixtures.GEO_POLYGONS).select("doc_id", "zone_id")


def q_pip_unmatched(spark, sf_dir):
    """Coverage-gap audit: points inside NO polygon of the layer (the
    'which pages have no admin zone' question every geo pipeline asks
    before rollups).  LEFT ANTI join against the PIP hit set — the hit
    side is the candidate-pruned refine output, so the anti join costs
    one doc_id-keyed exchange, never a second ray-cast pass."""
    pts = model.points(spark, sf_dir)
    hits = pip.pip_join(spark, pts, fixtures.GEO_POLYGONS).select("doc_id")
    return pts.join(hits, "doc_id", "left_anti")


def q_pip_poly_df(spark, sf_dir):
    """pip_poly with the polygon layer as a DataFrame (no driver-side
    polygon structures — the millions-of-polygons shape); same oracle as
    pip_poly: the layer representation must not change results."""
    pts = model.points(spark, sf_dir)
    poly = pip.polygons_df(spark, fixtures.GEO_POLYGONS)
    return pip.pip_join_df(spark, pts, poly).select("doc_id", "zone_id")


def q_pip_poly_wkt(spark, sf_dir):
    """pip_poly with the polygon layer read from a WKT parquet FILE and
    parsed distributed (regexp/split column algebra — the reference's OGR
    shapefile load, SciDB_ZonalStats_CL.py:443-445, re-expressed as a
    vector-format reader).  File content is the deterministic fixture
    layer, so the oracle is pip_poly's: the serialization round-trip must
    not change results."""
    import os

    from scidbgeo_spark.sources import vector

    d = _fixture_dir("wkt", sf_dir)
    vector.write_wkt_fixture(os.path.join(d, "layer.parquet"), fixtures.GEO_POLYGONS)
    poly = vector.polygons_from_wkt(spark.read.parquet(d))
    pts = model.points(spark, sf_dir)
    return pip.pip_join_df(spark, pts, poly).select("doc_id", "zone_id")


def q_pip_poly_shp(spark, sf_dir):
    """pip_poly with the layer read from a binary ESRI shapefile
    (.shp + .dbf) parsed by the pure-NumPy distributed reader
    (sources/shapefile.py) — the reference's ACTUAL vector format
    (SciDB_ZonalStats_CL.py:443-445 OGR driver.Open) without OGR.  Same
    oracle as pip_poly: the binary round-trip must not change results."""
    import os

    from scidbgeo_spark.sources import shapefile

    d = _fixture_dir("shp", sf_dir)
    shapefile.write_shp_fixture(
        os.path.join(d, "layer.shp"),
        [(zid, [ring]) for zid, ring in fixtures.GEO_POLYGONS],
    )
    poly = shapefile.polygons_from_shp(spark, os.path.join(d, "layer.shp"))
    pts = model.points(spark, sf_dir)
    return pip.pip_join_df(spark, pts, poly).select("doc_id", "zone_id")


def q_pip_poly_gpkg(spark, sf_dir):
    """pip_poly with the layer read from a GeoPackage (.gpkg) via the
    pure-stdlib sqlite3 + WKB reader (sources/geopackage.py), rowid-
    range SPLITTABLE scan forced to split the 3-feature fixture.  Same
    oracle as pip_poly: the SQLite round-trip must not change results."""
    import os

    from scidbgeo_spark.sources import geopackage

    d = _fixture_dir("gpkg", sf_dir)
    p = os.path.join(d, "layer.gpkg")
    geopackage.write_gpkg_fixture(
        p, [(zid, [ring]) for zid, ring in fixtures.GEO_POLYGONS]
    )
    poly = geopackage.polygons_from_gpkg(spark, p, n_splits=2)
    pts = model.points(spark, sf_dir)
    return pip.pip_join_df(spark, pts, poly).select("doc_id", "zone_id")


def q_pip_poly_shp_indexed(spark, sf_dir):
    """pip_poly via the .shx-indexed SPLITTABLE shapefile scan
    (record-range batches -> per-task range reads), forced to split the
    5-record fixture across batches.  Same oracle as pip_poly: the scan
    strategy must not change results."""
    import os

    from scidbgeo_spark.sources import shapefile

    d = _fixture_dir("shpix", sf_dir)
    p = shapefile.write_shp_fixture(
        os.path.join(d, "layer.shp"),
        [(zid, [ring]) for zid, ring in fixtures.GEO_POLYGONS],
    )
    poly = shapefile.polygons_from_shp_indexed(spark, p, records_per_task=2)
    pts = model.points(spark, sf_dir)
    return pip.pip_join_df(spark, pts, poly).select("doc_id", "zone_id")


def q_pip_poly_holes(spark, sf_dir):
    """Multi-ring PIP: a POLYGON with a hole and a two-part MULTIPOLYGON,
    written as WKT, parsed distributed into (zone_id, ring_no, xs, ys)
    rows and recombined under even-odd semantics in the refinement
    (holes subtract, disjoint parts union)."""
    import os

    from scidbgeo_spark.sources import vector

    d = _fixture_dir("wktrings", sf_dir)
    vector.write_wkt_rings_fixture(
        os.path.join(d, "layer.parquet"), fixtures.GEO_POLYGONS_HOLED
    )
    poly = vector.rings_from_wkt(spark.read.parquet(d))
    pts = model.points(spark, sf_dir)
    return pip.pip_join_df(spark, pts, poly).select("doc_id", "zone_id")


def q_zone_geometry(spark, sf_dir):
    """Vector-layer geometry audit: every fixture polygon (single-ring
    layer + holed/multi layer) serialized as WKT, parsed distributed
    into ring rows, then per-ring shoelace area / centroid / bbox —
    zero shuffles, pure array-fold codegen."""
    import os

    from scidbgeo_spark.sources import vector

    from scidbgeo_spark.operators import regions

    d = _fixture_dir("wktgeom", sf_dir)
    layer = [(z, [r], False) for z, r in fixtures.GEO_POLYGONS] + [
        (z, rs, m) for z, rs, m in fixtures.GEO_POLYGONS_HOLED
    ]
    vector.write_wkt_rings_fixture(os.path.join(d, "layer.parquet"), layer)
    rings = vector.rings_from_wkt(spark.read.parquet(d))
    return regions.zone_geometry(rings)


def q_pip_grid_salted(spark, sf_dir):
    """pip_grid with explicit two-phase salted aggregation over the hot
    cell (oracle identical to pip_grid: salting must not change results).

    r6: salt sizing needs only an UPPER BOUND of the per-zone counts, so
    the hot-key table comes from the pre-refine CANDIDATE join (pure JVM
    cell arithmetic) instead of a second full ray-cast pass — the r5
    plan evaluated the ArrowEvalPython refine subtree twice (once for
    hot_keys, once for the salted aggregation).  Candidate counts >=
    refined counts per zone, and the salted result is identical for any
    salt assignment (pinned by tests), so results are unchanged."""
    from pyspark.sql import functions as F

    from scidbgeo_spark.plans import skew

    pts = model.points(spark, sf_dir)
    layer = pip.prepare_layer(spark, fixtures.geo_grid_polygons())
    joined = pip.pip_join_prepared(pts, layer)
    cand = pts.withColumn(
        "ccell", pip.cell_col(res=pip.CAND_RES, nx=pip.CAND_NX)
    ).join(F.broadcast(layer.cand), "ccell")
    hot = skew.hot_keys(cand, "zone_id", cap=50).withColumn(
        "zone_id", F.col("zone_id").cast("long")
    )
    counts = skew.salted_counts(joined, "zone_id", "doc_id", cap=50, hot=hot)
    return counts.select("zone_id", F.col("count").alias("n_points"))


def q_pages_geo_rollup(spark, sf_dir):
    """NORTH-STAR composite, end-to-end: html pages -> byte-identical
    text extraction -> geotag point features -> PIP join against the
    polygon layer (DataFrame path, plan-metadata strategy pick) ->
    per-zone page counts + token totals.  The exact pipeline
    BASELINE.json's north_star describes, as ONE query with an exact
    oracle (every stage is deterministic integer arithmetic)."""
    from pyspark.sql import functions as F

    from scidbgeo_spark.operators.text import HTML_PREFIX, HTML_SUFFIX
    from scidbgeo_spark.sources import pages as pages_src

    docs = _docs(spark, sf_dir)
    lat_m, lon_m = pages_src._lat_lon_milli(F.col("doc_id"))
    body = F.concat(
        F.col("text"), F.lit(" geo:"), lat_m.cast("string"), F.lit(","), lon_m.cast("string")
    )
    html = F.encode(F.concat(F.lit(HTML_PREFIX), body, F.lit(HTML_SUFFIX)), "utf-8")
    pts = pages_src.extract_geotags(
        docs.select("doc_id", html.alias("html")), id_col="doc_id"
    )
    poly = pip.polygons_df(spark, fixtures.GEO_POLYGONS)
    hits = pip.pip_join_df(spark, pts, poly).select("doc_id", "zone_id")
    toks = text.token_count(docs)
    return (
        hits.join(toks, "doc_id")
        .groupBy("zone_id")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
        )
    )


def q_knn(spark, sf_dir):
    pts = model.points(spark, sf_dir)
    queries = knn_mod.knn_queries_from_nation(spark, sf_dir)
    return knn_mod.knn(spark, pts, queries, k=10)


def q_distance_join(spark, sf_dir):
    """Within-radius spatial range join: points vs 10 nation-derived
    POIs at 12-degree radius, via 3x3 cell-neighborhood replication +
    exact distance filter (operators/knn.distance_join).  Oracle:
    brute-force cross join with the same distance arithmetic."""
    pts = model.points(spark, sf_dir)
    pois = knn_mod.knn_queries_from_nation(spark, sf_dir, limit=10)
    return knn_mod.distance_join(pts, pois, radius=12.0)


def q_distance_join_geo(spark, sf_dir):
    """Geodesic-corrected range join (1500 km): latitude-adaptive POI
    cell fan + banded-cosine equirectangular metric from a shared
    driver-side LUT — no engine trig anywhere.  Oracle: brute-force
    cross join under the identical metric."""
    pts = model.points(spark, sf_dir)
    pois = knn_mod.knn_queries_from_nation(spark, sf_dir, limit=10)
    return knn_mod.distance_join_geo(pts, pois, radius_km=1500.0)


def q_grid_dbscan(spark, sf_dir):
    """Grid-DBSCAN density clustering on the 10-degree occupied grid:
    core cells, queen-reachability merge (min-label propagation over
    the bounded cell graph), border attachment, NULL noise.  Oracle:
    recursive reachability CTE."""
    return knn_mod.grid_dbscan(model.points(spark, sf_dir))


def q_idw_interp(spark, sf_dir):
    """Distance-decay (IDW-style) interpolation at the 10 nation POIs
    from in-radius points on the milli-degree lattice: exact integer
    weight sums (w = R^2 - d^2), one double division — the
    point-sample -> site interpolation workload, distance_join's
    aggregate sibling."""
    from pyspark.sql import functions as F

    pts = model.points(spark, sf_dir).withColumn(
        "v", F.col("doc_id") % 997
    )
    pois = knn_mod.knn_queries_from_nation(spark, sf_dir, limit=10)
    return knn_mod.idw_interp(pts, pois, radius=12.0)


def q_knn_bulk(spark, sf_dir):
    """Many-query kNN join (all 25 nation-derived query points, no
    broadcast/driver loop — the sort-merge path)."""
    pts = model.points(spark, sf_dir)
    queries = knn_mod.knn_queries_from_nation(spark, sf_dir, limit=25)
    return knn_mod.knn_join_bulk(spark, pts, queries, k=10)


def q_knn_classify(spark, sf_dir):
    """Majority-vote kNN classification: dominant language among the 10
    nearest geotagged pages per nation-derived query point (certified
    ring-expansion path + one label join; ties to smallest lang)."""
    from pyspark.sql import functions as F

    pts = model.points(spark, sf_dir)
    queries = knn_mod.knn_queries_from_nation(spark, sf_dir, limit=25)
    labels = model.load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("label")
    )
    return knn_mod.knn_classify(spark, pts, queries, labels, k=10)


def _docs(spark, sf_dir):
    return model.load_table(spark, sf_dir, "documents")


def q_extract_text(spark, sf_dir):
    return text.extract_text(text.pages_from_documents(_docs(spark, sf_dir)))


def q_token_count(spark, sf_dir):
    return text.token_count(_docs(spark, sf_dir))


def q_token_count_bpe(spark, sf_dir):
    return text.token_count_bpe(_docs(spark, sf_dir))


def q_quality_filter(spark, sf_dir):
    return text.quality_filter(_docs(spark, sf_dir))


def q_repetition_stats(spark, sf_dir):
    return text.repetition_stats(_docs(spark, sf_dir))


def q_text_quality(spark, sf_dir):
    return text.text_quality(_docs(spark, sf_dir))


def q_lang_id(spark, sf_dir):
    return text.lang_id(_docs(spark, sf_dir))


def q_tfidf_top_terms(spark, sf_dir):
    """Per-language top-5 corpus TF-IDF terms (two hash aggs + window —
    the term dictionary shuffles as counts, never token streams)."""
    return text.tfidf_top_terms(_docs(spark, sf_dir))


def q_doc_fingerprint(spark, sf_dir):
    return text.doc_fingerprint(_docs(spark, sf_dir))


def q_lm_quality_score(spark, sf_dir):
    """CCNet-style unigram-LM quality proxy: per-doc mean corpus token
    frequency + rare-token fraction (integer counts, two single exact
    divisions — the bitwise-reproducible stand-in for a KenLM score)."""
    return text.lm_quality_score(_docs(spark, sf_dir))


def q_vocab_growth(spark, sf_dir):
    """Heaps-law vocabulary-growth curve over doc-id deciles: new terms
    per slice + cumulative vocabulary — the diminishing-returns screen
    for crawl expansion.  One term-keyed min-agg, constant-size final
    window, exact integers."""
    return text.vocab_growth(_docs(spark, sf_dir))


def q_phrase_search(spark, sf_dir):
    """Positional-index phrase query ("table key"): posting-list
    intersection via an adjacent-position equi-join — per matching doc
    the occurrence count and first position."""
    return text.phrase_search(_docs(spark, sf_dir))


def q_doc_chunks(spark, sf_dir):
    """Training-window chunking: 64-token windows every 48 tokens per
    doc (LM-pipeline context windows with continuity overlap) — pure
    codegen column algebra, zero shuffle; md5 window fingerprints."""
    return text.doc_chunks(_docs(spark, sf_dir))


def q_event_cooccurrence(spark, sf_dir):
    """Event-type co-occurrence within 5 minutes per user — the
    distance_join pattern in TIME (x2 bucket replication, equi-join,
    exact dt filter); |types|^2 map-side-combinable count."""
    from scidbgeo_spark.operators import temporal

    return temporal.event_cooccurrence(
        model.load_table(spark, sf_dir, "events")
    )


def q_event_transitions(spark, sf_dir):
    """First-order Markov transition matrix of user behavior:
    consecutive (prev_type -> event_type) counts + conditional
    probabilities; one keyed-window shuffle + constant-size normalize."""
    from scidbgeo_spark.operators import temporal

    return temporal.event_transitions(model.load_table(spark, sf_dir, "events"))


def q_band_argmax(spark, sf_dir):
    """Per-cell argmax composite across the band axis (max-NDVI
    greenest-pixel mosaic): struct-max inside ONE map-side-combinable
    hash agg, ties to the smallest band."""
    from scidbgeo_spark.operators import temporal

    return temporal.band_argmax(model.raster3_coo(spark, sf_dir))


def q_gap_fill(spark, sf_dir):
    """Temporal LOCF gap-fill along the band axis (cloud-mask
    compositing): value-derived miss mask, one keyed growing window —
    leading gaps stay NULL."""
    from scidbgeo_spark.operators import temporal

    return temporal.gap_fill(model.raster3_coo(spark, sf_dir))


def q_focal_var(spark, sf_dir):
    """window(A,1,1,1,1,var): local-variance texture filter — the
    focal halo exchange + two cumsum box passes (v, v^2); exact-integer
    nvar = n*S2 - S1^2 plus the one-double var_pop finish."""
    tiles, h, w = _raster_tiles(spark, sf_dir)
    return focal.focal_var_coo(tiles, h, w, CHUNK)


def q_integral_image(spark, sf_dir):
    """Distributed summed-area table: per-tile marginals + a 2-D tile
    prefix + one finishing pass — a global dependency with no halo
    exchange and no raster self-join (oracle: the 2-window closed
    form)."""
    tiles, h, w = _raster_tiles(spark, sf_dir)
    return pixel.integral_image(tiles, h, w, CHUNK)


def q_host_triangles(spark, sf_dir):
    """Triangle count + global clustering coefficient of the host
    graph via degree-ordered orientation (out-degree bounded by
    sqrt(2m) — the celebrity-host-proof wedge join)."""
    from scidbgeo_spark.operators import graph

    return graph.host_triangles(_docs(spark, sf_dir))


def q_ripley_k(spark, sf_dir):
    """Ripley's K point-pattern statistic at three radii: the
    distance_join cell pattern turned self-join (x9 replication of one
    side, never a cross join), exact milli-degree pair tests, one
    map-side-combinable conditional-sum aggregate."""
    from scidbgeo_spark.operators import knn as knn_ops

    return knn_ops.ripley_k(model.points(spark, sf_dir))


def q_winnow_fingerprints(spark, sf_dir):
    """MOSS winnowing fingerprints (min 3-gram hash per 4-hash window,
    ties to the rightmost position via the packed int64 key) — sparse
    guaranteed-coverage near-dup index; all in-array codegen, the only
    shuffle is the per-doc distinct over selected fingerprints."""
    return text.winnow_fingerprints(_docs(spark, sf_dir))


def q_edge_density(spark, sf_dir):
    """Landscape edge/adjacency matrix: rook-adjacent unordered class
    pairs (value DIV 86) — one halo exchange + a constant-key-space
    map-side-combinable sum; no raster self-join."""
    tiles, h, w = _raster_tiles(spark, sf_dir)
    return focal.edge_density_coo(tiles, h, w, CHUNK)


def q_geary_c(spark, sf_dir):
    """Global Geary's C spatial autocorrelation (queen adjacency on
    occupied 10-degree cells) — the difference-based sibling of
    moran_i, same broadcast x8 scatter over the bounded cell table."""
    from scidbgeo_spark.operators import knn as knn_ops

    return knn_ops.geary_c(model.points(spark, sf_dir))


def q_semivariogram(spark, sf_dir):
    """Empirical semivariogram at 3 distance lags (v = doc_id % 997):
    the ripley_k cell-candidate machinery with per-bin conditional
    sums; exact integer ssd, one double division per lag."""
    from scidbgeo_spark.operators import knn as knn_ops

    return knn_ops.semivariogram(model.points(spark, sf_dir))


def q_simpson_diversity(spark, sf_dir):
    """Per-language Simpson source-concentration index — the
    domain-dominance curation screen; two map-side-combinable aggs,
    exact rational D."""
    from scidbgeo_spark.operators import curation

    return curation.simpson_diversity(_docs(spark, sf_dir))


def q_user_burst(spark, sf_dir):
    """Per-user burstiness (peak events-per-minute, active minutes,
    totals) — the rate-limit / bot screen; two map-side-combinable
    aggregates."""
    from scidbgeo_spark.operators import temporal

    return temporal.user_burst(model.load_table(spark, sf_dir, "events"))


def q_winnow_dup_pairs(spark, sf_dir):
    """MOSS near-dup pairs from winnowing fingerprints (>= 2 shared
    hashes, 200-doc hot-hash cap mirrored by the oracle) — the fourth
    near-dup family, sensitive to local copied spans."""
    return text.winnow_dup_pairs(_docs(spark, sf_dir))


def q_session_stats(spark, sf_dir):
    """Corpus-wide session-length distribution (count, exact
    median/p90 duration, events/session) — sessionize + one rollup,
    all shuffles sharing the user key."""
    from scidbgeo_spark.operators import temporal

    return temporal.session_stats(model.load_table(spark, sf_dir, "events"))


def q_lang_confusion(spark, sf_dir):
    """Confusion matrix of the lang_id heuristic vs the labeled lang
    column (+ per-actual recall shares) — the classifier-eval harness;
    one |langs|^2 map-side-combinable count."""
    return text.lang_confusion(_docs(spark, sf_dir))


def q_proximity_search(spark, sf_dir):
    """Proximity query 'table ... key' within slop=2: posting-list
    intersection with a constant (slop+1)-fan band join — never a
    range/theta join."""
    return text.proximity_search(_docs(spark, sf_dir))


def q_doc_novelty(spark, sf_dir):
    """Per-doc novelty: fraction of its distinct shingles first seen in
    this doc (pointwise vocab_growth) — the add-new-language curation
    signal.  One shingle-keyed min-agg + probe join, exact integers."""
    return text.doc_novelty(_docs(spark, sf_dir))


def q_boilerplate_spans(spark, sf_dir):
    """Per-source template-boilerplate removal over the planted-chrome
    corpus: coverage by source-frequent 5-grams + cleaned fingerprint."""
    return text.boilerplate_spans(text.boiler_corpus(_docs(spark, sf_dir)))


def q_multimodal_meta(spark, sf_dir):
    return multimodal.media_metadata(text.pages_from_documents(_docs(spark, sf_dir)))


def q_media_features(spark, sf_dir):  # exact oracle: stub features are byte stats
    return multimodal.extract_media_features(text.pages_from_documents(_docs(spark, sf_dir)))


def q_media_resize(spark, sf_dir):
    """Image-resize plumbing: block-8 downsample of the binary payload in
    Arrow-batched mapInPandas (zero shuffles); outputs are exact integer
    block-sum summaries so DuckDB matches bitwise."""
    return multimodal.resize_blob(text.pages_from_documents(_docs(spark, sf_dir)))


def q_frame_sample(spark, sf_dir):
    """Video frame-sampling plumbing: every 4th 16-byte frame, one output
    row per sampled frame — the variable-fan-out mapInPandas shape a real
    keyframe extractor has."""
    return multimodal.frame_sample(text.pages_from_documents(_docs(spark, sf_dir)))


def q_events_cube(spark, sf_dir):
    """CUBE rollup over (event_type, hour): the grouping-sets operator
    class (absent in the reference; Spark/OLAP completeness)."""
    from pyspark.sql import functions as F

    ev = model.load_table(spark, sf_dir, "events")
    hour = F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00").alias("hour")
    return (
        ev.select("event_type", hour)
        .cube("event_type", "hour")
        .agg(F.count("*").alias("n"))
    )


def q_trajectory_stats(spark, sf_dir):
    """Per-user trajectory rollup: order each user's geotagged events,
    difference consecutive milli-degree lattice positions, aggregate
    exact integer path/displacement/bbox stats — one user-keyed shuffle
    (the lag window and the groupBy share the hash partitioning)."""
    from scidbgeo_spark.operators import temporal

    return temporal.trajectory_stats(model.load_table(spark, sf_dir, "events"))


def q_trajectory_rose(spark, sf_dir):
    """Per-user 8-octant direction rose over consecutive trajectory
    steps — integer sign tests only, one keyed-window shuffle + a
    map-side-combinable (user, octant) count."""
    from scidbgeo_spark.operators import temporal

    return temporal.trajectory_rose(model.load_table(spark, sf_dir, "events"))


def q_events_asof(spark, sf_dir):
    """AS-OF join (custom operator Spark lacks natively): every event
    picks up the user's most recent signup-state row at or before its
    timestamp, via operators/temporal.asof_join's one-shuffle
    union + last-non-null window plan.  Oracle: DuckDB's NATIVE
    ASOF LEFT JOIN — the semantics are pinned engine-to-engine."""
    from pyspark.sql import functions as F

    from scidbgeo_spark.operators import temporal

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    left = ev.select("event_id", "user_id", "ts")
    right = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("state_id"))
    )
    out = temporal.asof_join(left, right, on="user_id")
    # events before any signup have no state row: -1 sentinel keeps the
    # result column integral (a null BIGINT degrades to float NaN in
    # arrow/pandas comparisons)
    return out.select(
        "event_id", "user_id", F.coalesce("state_id", F.lit(-1)).alias("state_id")
    )


def q_retention_cohorts(spark, sf_dir):
    """Weekly retention cohorts: users keyed by signup week; per
    (cohort_week, weeks_since) distinct active users.  Two user-keyed
    aggregates + one user-keyed join — co-partitioned, no windows.
    Oracle: identical date_trunc('week') buckets (both engines use ISO
    Monday weeks)."""
    from pyspark.sql import functions as F

    ev = model.load_table(spark, sf_dir, "events")
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.date_trunc("week", "ts")).alias("cohort"))
    )
    ac = ev.select("user_id", F.date_trunc("week", "ts").alias("wk")).distinct()
    j = ac.join(su, "user_id").filter(F.col("wk") >= F.col("cohort"))
    return j.groupBy(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
        F.expr("CAST(datediff(wk, cohort) / 7 AS INT)").alias("weeks_since"),
    ).agg(F.countDistinct("user_id").alias("n_active"))


def q_props_rollup(spark, sf_dir):
    """Semi-structured rollup: the JSON ``props`` payload is parsed
    in-plan (get_json_object — Spark's native JSON path engine, no UDF)
    and aggregated per event_type.  Oracle: DuckDB json_extract_string
    over the same path."""
    from pyspark.sql import functions as F

    ev = model.load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).alias("k_sum"),
        F.min(k).alias("k_min"),
        F.max(k).alias("k_max"),
    )


def q_funnel(spark, sf_dir):
    """Ordered funnel (signup -> view -> click -> purchase): first-touch
    stage times, strictly-increasing chain, per-stage user counts.
    Oracle: identical stage-CTE chain."""
    from scidbgeo_spark.operators import temporal

    return temporal.funnel(model.load_table(spark, sf_dir, "events"))


def q_funnel_chain(spark, sf_dir):
    """Per-user funnel COMPLETION chain: the earliest strictly
    increasing (signup -> view -> click -> purchase) timestamp chain,
    one row per completing user, computed by a single-shuffle
    sort_array + F.aggregate fold.  Oracle: the chained-min recursive
    definition (stage i = min ts of type i strictly after stage i-1),
    which the greedy fold provably equals."""
    from scidbgeo_spark.operators import temporal

    return temporal.funnel_steps(
        model.load_table(spark, sf_dir, "events"),
        steps=("signup", "view", "click", "purchase"),
    )


def q_robots_gate(spark, sf_dir):
    """Longest-prefix-match rule join (robots.txt politeness gate):
    each synthetic url binds to the most specific rule whose path
    prefix matches at a segment boundary; rules broadcast.  Oracle
    states the SPEC declaratively (prefix-or-boundary match + argmax by
    prefix length) rather than re-deriving the explosion."""
    from pyspark.sql import functions as F

    from scidbgeo_spark.operators import curation

    docs = _docs(spark, sf_dir)
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("h"), (F.col("doc_id") % 20).cast("string"), F.lit(".example")
        ).alias("host"),
        F.concat(
            F.lit("/s"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("/t"),
            (F.col("doc_id") % 5).cast("string"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit("/p"), (F.col("doc_id") % 11).cast("string")),
            ).otherwise(F.lit("")),
        ).alias("path"),
    )
    k = F.col("id")
    rules = (
        spark.range(20)
        .select(
            F.concat(F.lit("h"), k.cast("string"), F.lit(".example")).alias("host"),
            F.array(
                F.struct(
                    F.lit("/").alias("prefix"), (k % 2 == 0).alias("allow")
                ),
                F.struct(
                    F.concat(F.lit("/s"), (k % 7).cast("string")).alias("prefix"),
                    F.lit(False).alias("allow"),
                ),
                F.struct(
                    F.concat(
                        F.lit("/s"),
                        ((k + 1) % 7).cast("string"),
                        F.lit("/t"),
                        (k % 5).cast("string"),
                    ).alias("prefix"),
                    F.lit(True).alias("allow"),
                ),
            ).alias("rs"),
        )
        .select("host", F.explode("rs").alias("r"))
        .select("host", "r.prefix", "r.allow")
    )
    return curation.longest_prefix_join(urls, rules)


def q_regrid_area(spark, sf_dir):
    """Area-weighted regrid to a 5/4-ratio target grid: exact integer
    overlap weights, one constant-fan explode + one groupBy; the single
    final division keeps the oracle bit-exact."""
    from scidbgeo_spark.operators import pixel

    return pixel.regrid_area(model.raster_coo(spark, sf_dir), p=5, q=4)


def q_interval_join(spark, sf_dir):
    """Event-to-interval overlap join (maintenance-window attribution):
    intervals replicate to bounded hour buckets, events compute one
    bucket, equi-join + exact containment — never a theta join."""
    from pyspark.sql import functions as F

    from scidbgeo_spark.operators import temporal

    iv = spark.range(40).select(
        F.col("id").alias("iv_id"),
        (
            F.lit(1704067200000000)
            + ((F.col("id") * 6133) % 720) * F.lit(3600000000)
        ).alias("t0_us"),
        (
            F.lit(1704067200000000)
            + ((F.col("id") * 6133) % 720) * F.lit(3600000000)
            + (1 + F.col("id") % 4) * F.lit(3600000000)
        ).alias("t1_us"),
    )
    return temporal.interval_join(model.load_table(spark, sf_dir, "events"), iv)


def q_theil_sen(spark, sf_dir):
    """Theil-Sen robust trend per event type over the last 167 dense
    hours: median of pairwise slopes (odd pair count -> exact middle,
    no interpolation); missing hours densified to zero."""
    from scidbgeo_spark.operators import temporal

    return temporal.theil_sen(model.load_table(spark, sf_dir, "events"))


def q_decayed_counts(spark, sf_dir):
    """Time-decayed activity counters (half-life 1 h, dyadic weights):
    summed as an exact integer numerator — order-independent unlike a
    float sum — divided once by 2^40."""
    from scidbgeo_spark.operators import temporal

    return temporal.decayed_counts(model.load_table(spark, sf_dir, "events"))


def q_bm25_topk(spark, sf_dir):
    """BM25 top-20 for the query {hash, join, vector}: log-free
    Robertson-odds idf (documented variant — libm ln differs across
    engines), pre-folded constants, fixed-order per-term blend."""
    from scidbgeo_spark.operators import text

    return text.bm25_topk(_docs(spark, sf_dir), ["hash", "join", "vector"], k=20)


def q_host_split(spark, sf_dir):
    """Leakage-safe train/val/test GROUP split: the shared polynomial
    host hash routes every doc of a host into exactly one split; output
    per-split doc/host/char totals."""
    from pyspark.sql import functions as F

    from scidbgeo_spark.operators import curation

    docs = _docs(spark, sf_dir)
    return curation.host_split(
        docs.select(
            "doc_id",
            F.concat(
                F.lit("h"), (F.col("doc_id") % 20).cast("string"), F.lit(".example")
            ).alias("host"),
            "n_chars",
        )
    )


def q_crawl_schedule(spark, sf_dir):
    """Per-host politeness scheduler: k-th url of a host fetches at
    k * delay_s(host); delay table broadcasts, one keyed window."""
    from pyspark.sql import functions as F

    from scidbgeo_spark.operators import curation

    docs = _docs(spark, sf_dir)
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("h"), (F.col("doc_id") % 20).cast("string"), F.lit(".example")
        ).alias("host"),
    )
    delays = spark.range(20).select(
        F.concat(F.lit("h"), F.col("id").cast("string"), F.lit(".example")).alias(
            "host"
        ),
        (1 + F.col("id") % 5).cast("long").alias("delay_s"),
    )
    return curation.crawl_schedule(urls, delays)


def q_pareto_docs(spark, sf_dir):
    """2-D Pareto frontier over (distinct tokens, chars): per-q-level
    reduction first, strict-dominance window over the reduced levels
    only, broadcast verdict join back — the corpus is never sorted."""
    from scidbgeo_spark.operators import curation

    return curation.pareto_frontier(_docs(spark, sf_dir))


def q_sessionize(spark, sf_dir):
    """Sessionization: per-user session count with a 1-hour inactivity
    gap (lag + cumulative gap-sum — the ordered-window operator class;
    no reference analog, Spark/OLAP completeness)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = model.load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = ev.withColumn("prev_ts", F.lag("ts").over(w))
    # microsecond diff: timestamps carry sub-second precision, and the
    # oracle's epoch() diff is fractional — SECOND would truncate and
    # misclassify gaps in (3600, 3601)
    gap_us = F.expr("timestampdiff(MICROSECOND, prev_ts, ts)")
    marked = prev.withColumn(
        "new_sess",
        F.when(F.col("prev_ts").isNull() | (gap_us > 3600 * 1000000), 1).otherwise(0),
    )
    return (
        marked.groupBy("user_id")
        .agg(F.sum("new_sess").alias("n_sessions"), F.count("*").alias("n_events"))
    )


def q_top_events_per_user(spark, sf_dir):
    """Top-3 events per user by value (top-k-per-group window pattern),
    ties broken on event_id."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = model.load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.col("event_id"))
    return (
        ev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("user_id", "event_id", "rank")
    )


def q_events_hourly(spark, sf_dir):
    from pyspark.sql import functions as F

    ev = model.load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00").alias("hour"),
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


def q_corpus_curation(spark, sf_dir):
    """Composite training-data curation pipeline: dedup-exact keep-list ->
    NEAR-dup removal (MinHash+LSH pairs -> transitive clusters -> keep
    one canonical per cluster, dedup.cluster_drop_ids — never the
    exploded ngram self-join) -> quality filter (lexical diversity +
    length band) -> per-language kept doc and token totals.  The shape of
    a real pretraining-data job."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    corpus = dedup.dup_corpus(docs)
    keep = dedup.dedup_exact(corpus).select(F.col("keep_id").alias("doc_id"))
    kept = (
        corpus.join(keep, "doc_id")
        .join(dedup.cluster_drop_ids(corpus), "doc_id", "left_anti")
        .join(docs.select("doc_id", "lang"), "doc_id", "left")
    )
    toks = F.size(F.split("text", " "))
    distinct_ratio = F.size(F.array_distinct(F.split("text", " "))) / toks
    good = kept.filter((toks >= 10) & (distinct_ratio >= F.lit(0.3)))
    return good.groupBy(F.coalesce("lang", F.lit("unk")).alias("lang")).agg(
        F.count("*").alias("n_docs"), F.sum(toks).cast("long").alias("n_tokens")
    )


def _variant_url_col():
    """Deterministic url variants (scheme case, http/https, www.,
    trailing slash) derived from doc_id: each canonical url has exactly
    two variant spellings (docs 2p and 2p+1)."""
    from pyspark.sql import functions as F

    i = F.col("doc_id")
    scheme = F.element_at(
        F.array(
            F.lit("https://"),
            F.lit("http://"),
            F.lit("HTTPS://www."),
            F.lit("https://www."),
        ),
        (i % 4 + 1).cast("int"),
    )
    p = F.floor(i / 2)
    url = F.concat(
        scheme,
        F.lit("site"),
        (p % 7).cast("string"),
        F.lit(".example/p/"),
        p.cast("string"),
        F.when(i % 2 == 0, F.lit("/")).otherwise(F.lit("")),
    )
    return url


def q_url_dedup(spark, sf_dir):
    """URL-canonicalization dedup: the two variant spellings of each
    canonical url must collapse to one keep row."""
    docs = _docs(spark, sf_dir)
    return dedup.url_dedup(docs.select("doc_id", _variant_url_col().alias("url")))


def q_url_dedup_latest(spark, sf_dir):
    """Crawl-freshness url dedup: same variant urls, but each capture
    carries a deterministic epoch timestamp (9973 is coprime with the
    31,536,000-second year, so timestamps are tie-free for any corpus
    below 31M docs) and the NEWEST capture wins via max_by."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    ts = (F.lit(1735689600) + (F.col("doc_id") * 9973) % 31536000).alias("warc_ts")
    return dedup.url_dedup_latest(
        docs.select("doc_id", _variant_url_col().alias("url"), ts)
    )


def q_crawl_delta(spark, sf_dir):
    """URL-level snapshot diff on deterministic synthetic snapshots:
    old = every doc at url /p/<id>; new = old minus doc_id%4==0
    ('removed'), text mutated where doc_id%3==0 ('changed'), plus
    fresh urls from doc_id%5==0 ('added'); the rest 'unchanged'."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    url = F.concat(F.lit("https://site.example/p/"), F.col("doc_id"))
    old = docs.select("doc_id", url.alias("url"), "text")
    new_same = docs.filter(F.col("doc_id") % 4 != 0).select(
        "doc_id",
        url.alias("url"),
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit("edited "), "text"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.concat(F.lit("https://site.example/new/"), F.col("doc_id")).alias("url"),
        "text",
    )
    return dedup.crawl_delta(old, new_same.unionAll(added))


def q_lang_drift(spark, sf_dir):
    """Language-share drift between two crawl snapshots (doc_id parity
    split): per-lang doc share in each half and the share delta — the
    distribution-shift audit run on every refresh before training-mix
    decisions.  Two map-side-combined aggs + one tiny join; shares are
    single exact divisions."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)

    def half(pred, tag):
        d = docs.filter(pred)
        n = d.agg(F.count("*").alias("n"))
        return (
            d.groupBy("lang")
            .agg(F.count("*").alias(f"n_{tag}"))
            .join(F.broadcast(n))
            .select(
                "lang",
                f"n_{tag}",
                (F.col(f"n_{tag}").cast("double") / F.col("n")).alias(f"share_{tag}"),
            )
        )

    a = half(F.col("doc_id") % 2 == 0, "old")
    b = half(F.col("doc_id") % 2 == 1, "new")
    return (
        a.join(b, "lang", "full_outer")
        .select(
            "lang",
            F.coalesce("n_old", F.lit(0)).alias("n_old"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
            F.coalesce("share_old", F.lit(0.0)).alias("share_old"),
            F.coalesce("share_new", F.lit(0.0)).alias("share_new"),
            (
                F.coalesce("share_new", F.lit(0.0))
                - F.coalesce("share_old", F.lit(0.0))
            ).alias("drift"),
        )
    )


def q_dup_rate_by_source(spark, sf_dir):
    """Duplicate burden per source over the planted-dup corpus: docs,
    distinct texts, and the duplicate fraction — the per-site dashboard
    a curation team watches (template-heavy sites stand out).  One
    map-side-combined agg on (source, md5); the rate is one exact
    division."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    corpus = dedup.dup_corpus(docs).join(
        docs.select("doc_id", "source"), "doc_id", "left"
    ).select(
        F.coalesce("source", F.lit("injected")).alias("source"),
        F.md5("text").alias("h"),
    )
    per = corpus.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("h").alias("n_distinct"),
    )
    return per.select(
        "source",
        "n_docs",
        "n_distinct",
        (
            (F.col("n_docs") - F.col("n_distinct")).cast("double") / F.col("n_docs")
        ).alias("dup_rate"),
    )


def q_dedup_exact(spark, sf_dir):
    return dedup.dedup_exact(dedup.dup_corpus(_docs(spark, sf_dir)))


def q_dedup_incremental(spark, sf_dir):
    """Rolling-crawl exact dedup: the next batch (crawl_batch) checked
    against the FROZEN documents corpus — digest anti-join drops
    re-crawls, min-id groupBy collapses batch-internal copies.
    Oracle: NOT EXISTS over md5(text) + GROUP BY."""
    docs = _docs(spark, sf_dir)
    return dedup.incremental_dedup(docs, dedup.crawl_batch(docs))


def q_bloom_prefilter(spark, sf_dir):
    """Bloom-prefilter probe of the crawl batch against the frozen
    corpus bitmap (1024 x 63-bit words, k=3 double hashing), with exact
    ground truth alongside so false positives are visible in-result.
    Oracle: the identical integer bitmap via DuckDB bit_or."""
    docs = _docs(spark, sf_dir)
    return dedup.bloom_prefilter(docs, dedup.crawl_batch(docs))


def q_minhash_signatures(spark, sf_dir):
    return dedup.minhash_signatures(dedup.dup_corpus(_docs(spark, sf_dir)))


def q_minhash_bands(spark, sf_dir):
    return dedup.minhash_bands(dedup.dup_corpus(_docs(spark, sf_dir)))


def q_minhash_dup_pairs(spark, sf_dir):
    return dedup.minhash_dup_pairs(dedup.dup_corpus(_docs(spark, sf_dir)))


def q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTER extraction: transitive closure over the verified
    MinHash pair graph (cluster = min doc_id = canonical representative,
    singletons included) — the distributed min-propagation engine shared
    with region_label, here on text instead of raster adjacency."""
    return dedup.dedup_clusters(dedup.dup_corpus(_docs(spark, sf_dir)))


def q_cluster_survivors(spark, sf_dir):
    """Quality-aware near-dup survivor per transitive cluster (keep
    the LONGEST member, ties to smallest doc_id) — the
    most-complete-copy curation rule; pair-scale clustering + one
    probe join + struct-max argmax."""
    return dedup.cluster_survivors(dedup.dup_corpus(_docs(spark, sf_dir)))


def q_ngram_jaccard_pairs(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(dedup.dup_corpus(_docs(spark, sf_dir)))


def q_minhash_recall(spark, sf_dir):
    """Quality gauge for the near-dup family: fraction of the exact
    ngram-Jaccard baseline's pairs the capped MinHash+LSH route
    recovers at the same threshold (ann_lsh_recall's shape on text)."""
    return dedup.minhash_recall(dedup.dup_corpus(_docs(spark, sf_dir)))


def q_simhash(spark, sf_dir):
    return dedup.simhash(dedup.dup_corpus(_docs(spark, sf_dir)))


def q_simhash_dup_pairs(spark, sf_dir):
    return dedup.simhash_dup_pairs(dedup.dup_corpus(_docs(spark, sf_dir)))


def _emb(spark, sf_dir):
    return model.load_table(spark, sf_dir, "embeddings")


def q_ann_bruteforce_topk(spark, sf_dir):
    return similarity.ann_bruteforce_topk(_emb(spark, sf_dir))


def q_kmeans_assign(spark, sf_dir):
    """Two deterministic Lloyd rounds over embeddings (scaled-integer
    distances round 1, exact-integer-sum rational centroids round 2).
    Oracle: the identical two rounds as list_reduce folds."""
    return similarity.kmeans_assign(_emb(spark, sf_dir))


def _warc_ingest(spark, sf_dir, gzip_members: bool):
    """Shared body for the WARC ingest queries: serialize documents as
    4 real WARC files (html-wrapped payloads), scan them back through
    binaryFile -> mapInPandas, parse doc_id from the target URI and
    strip the wrapper.  Oracle: SELECT doc_id, text FROM documents —
    the bytes must round-trip exactly."""
    import os

    from pyspark.sql import functions as F

    from scidbgeo_spark.operators.text import HTML_PREFIX, HTML_SUFFIX
    from scidbgeo_spark.sources import warc

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    n = docs.count()
    if n > 100_000:
        raise ValueError("fixture writer is driver-side; corpus too large")
    rows = docs.collect()
    kind = "warcgz" if gzip_members else "warc"
    d = _fixture_dir(kind, sf_dir)
    shards: dict[int, list] = {k: [] for k in range(4)}
    for r in sorted(rows, key=lambda r: r["doc_id"]):
        payload = (HTML_PREFIX + r["text"] + HTML_SUFFIX).encode("utf-8")
        shards[r["doc_id"] % 4].append(
            (f"http://corpus.example/doc/{r['doc_id']}", "2025-06-01T00:00:00Z", payload)
        )
    ext = "warc.gz" if gzip_members else "warc"
    for k, recs in shards.items():
        warc.write_warc(os.path.join(d, f"part-{k}.{ext}"), recs, gzip_members)
    scanned = warc.warc_scan(spark, os.path.join(d, f"*.{ext}"))
    body = F.decode(F.col("payload"), "utf-8")
    text_col = F.substring(
        body,
        len(HTML_PREFIX) + 1,
        F.length(body) - len(HTML_PREFIX) - len(HTML_SUFFIX),
    )
    return scanned.select(
        F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long").alias("doc_id"),
        text_col.alias("text"),
    )


def q_jsonl_ingest(spark, sf_dir):
    """JSON-lines ingest round-trip, fully DISTRIBUTED both ways (write
    and read are executor-side, unlike the driver-written WARC
    fixtures): JSONL is the interchange format most curation stacks
    feed Spark.  Oracle: the documents table itself — escaping and
    unicode must survive the round trip exactly."""
    import os

    docs = _docs(spark, sf_dir)
    out = os.path.join(_fixture_dir("jsonl", sf_dir), "docs")
    docs.write.mode("overwrite").json(out)
    return spark.read.schema(docs.schema).json(out).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


def q_url_filter(spark, sf_dir):
    """RefinedWeb/C4-style URL gate over the variant urls: blocklisted
    host, path keyword, scheme, length — auditable reason bits.
    Oracle: identical rules in SQL (shared constants)."""
    docs = _docs(spark, sf_dir)
    return curation.url_filter(docs.select("doc_id", _variant_url_col().alias("url")))


def q_warc_ingest(spark, sf_dir):
    """Plain-WARC ingest round-trip (records parsed per the ISO 28500
    layout from real files)."""
    return _warc_ingest(spark, sf_dir, gzip_members=False)


def q_warc_ingest_gz(spark, sf_dir):
    """Common-Crawl-layout ingest: per-record gzip members concatenated
    into .warc.gz, sniffed and inflated in the same scan."""
    return _warc_ingest(spark, sf_dir, gzip_members=True)


def q_inverted_index(spark, sf_dir):
    """Serving-side inverted index: per-term df/cf + capped posting-list
    head (cap applied BEFORE collect_list via a same-exchange window).
    Oracle: identical rank-filtered list aggregation."""
    return text.inverted_index(_docs(spark, sf_dir))


def q_host_pagerank(spark, sf_dir):
    """Integer PageRank (3 damped power iterations) of the deterministic
    host link graph — crawl-frontier host ranking.  Oracle: the same
    three iterations unrolled as CTEs with identical floor divisions."""
    return graph.host_pagerank(_docs(spark, sf_dir))


def q_host_degree_stats(spark, sf_dir):
    """Host-graph degree/weight/reciprocity profile (link-farm screen):
    two host-keyed aggregates + one reversed-key self-join of the small
    edge list — exact integers."""
    return graph.host_degree_stats(_docs(spark, sf_dir))


def q_cms_heavy_hitters(spark, sf_dir):
    """Count-min sketch probed for the true top-10 tokens (overestimate
    visible in-result).  Oracle: identical affine cell hashing and
    4096-cell counter grid in pure integers."""
    return text.cms_heavy_hitters(_docs(spark, sf_dir))


def q_hll_shingle_ndv(spark, sf_dir):
    """HyperLogLog vocabulary-cardinality sketch (distinct 3-word
    shingles of the dup-injected corpus — tens of thousands, inside the
    raw estimator's valid regime), exact ground truth alongside.
    Oracle: identical register algebra (bin-length ranks, exact
    power-of-two Z scaled by 2^51)."""
    return dedup.hll_shingle_ndv(dedup.dup_corpus(_docs(spark, sf_dir)))


def q_ann_lsh_topk(spark, sf_dir):
    return similarity.ann_lsh_topk(_emb(spark, sf_dir))


def q_ann_ivf_topk(spark, sf_dir):
    return similarity.ann_ivf_topk(_emb(spark, sf_dir))


def _ann_recall(approx: DataFrame, exact: DataFrame, k: int = 5) -> DataFrame:
    """(q_id, recall_at_k): fraction of the exact top-k the approximate
    index recovered — the in-engine quality gauge for ANN (judge-suggested
    shape); deterministic, so its oracle is exact SQL."""
    from pyspark.sql import functions as F

    hits = exact.join(approx, ["q_id", "vec_id"], "left_semi")
    return hits.groupBy("q_id").agg((F.count("*") / k).alias(f"recall_at_{k}"))


def q_ann_sq8_topk(spark, sf_dir):
    """int8 scalar-quantized top-k (FAISS SQ8 scheme): exact integer L2
    over per-dim min/max codes.  Oracle: identical quantization and
    distance algebra."""
    return similarity.ann_sq8_topk(_emb(spark, sf_dir))


def q_ann_pq_topk(spark, sf_dir):
    """Product-quantization ADC top-k: per-subspace codebooks, corpus
    encoded to PQ_M small codes, distance = broadcast LUT sum — the
    raw vectors never re-enter the query.  All-integer, bitwise twin."""
    return similarity.ann_pq_topk(_emb(spark, sf_dir))


def q_ann_pq_recall(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    return _ann_recall(
        similarity.ann_pq_topk(emb), similarity.ann_bruteforce_topk(emb)
    )


def q_ann_sq8_recall(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    return _ann_recall(
        similarity.ann_sq8_topk(emb), similarity.ann_bruteforce_topk(emb)
    )


def q_ann_lsh_recall(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    return _ann_recall(
        similarity.ann_lsh_topk(emb), similarity.ann_bruteforce_topk(emb)
    )


def q_ann_ivf_recall(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    return _ann_recall(
        similarity.ann_ivf_topk(emb), similarity.ann_bruteforce_topk(emb)
    )


def q_embedding_neardup_pairs(spark, sf_dir):
    return similarity.embedding_neardup_pairs(_emb(spark, sf_dir))


def q_contamination_check(spark, sf_dir):
    """Train-test decontamination: dup_corpus docs sharing a 5-word
    shingle with the 'benchmark' docs (doc_id % 23 == 5 of the base
    table, removed from the corpus side).  The exact-copy (+200000) and
    'mutated ' (+100000) variants of benchmark docs are the planted
    contamination; the eval n-gram set broadcasts."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    eval_docs = docs.filter(F.col("doc_id") % curation.EVAL_MOD == curation.EVAL_REM)
    corpus = dedup.dup_corpus(docs).filter(
        ~((F.col("doc_id") % curation.EVAL_MOD == curation.EVAL_REM) & (F.col("doc_id") < 100000))
    )
    return curation.contamination_check(corpus, eval_docs.select("doc_id", "text"))


def q_pii_redact(spark, sf_dir):
    """PII redaction audit over a deterministically PII-injected corpus
    (docs %3==0 gain an email + phone, docs %5==1 a second email) —
    construction mirrored in the oracle's `pii` CTE."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    i = F.col("doc_id")
    ds = i.cast("string")
    extra1 = F.when(
        i % 3 == 0,
        F.concat(
            F.lit(" Contact user"), ds, F.lit("@mail.example or call +1-555-"),
            (1000 + i % 9000).cast("string"),
        ),
    ).otherwise(F.lit(""))
    extra2 = F.when(
        i % 5 == 1, F.concat(F.lit(" alt"), ds, F.lit("@example.org"))
    ).otherwise(F.lit(""))
    pii = docs.select("doc_id", F.concat("text", extra1, extra2).alias("text"))
    return curation.pii_redact(pii)


def q_stratified_sample(spark, sf_dir):
    return curation.stratified_sample(_docs(spark, sf_dir))


def q_corpus_freeze(spark, sf_dir):
    """End-to-end training-data FREEZE, one query: raw corpus (with
    planted dups) -> benchmark docs leave the corpus -> exact dedup ->
    5-gram decontamination vs those benchmark docs -> seeded stratified
    sample -> token-budget sequence packing.  The output is the frozen
    shard/chunk manifest a dataloader would consume; every stage is
    deterministic, so the whole pipeline holds an exact oracle.

    r6 plan shape (results bit-identical, proven vs the unchanged
    oracle): contamination is a PER-DOCUMENT property (does this doc
    share a 5-gram with the eval set), so it commutes with every other
    per-doc filter — the expensive shingle hashing therefore runs LAST,
    over only the dedup+sample survivors (~1/3 of the corpus) instead of
    the full corpus.  The decontamination step is expressed as a left
    join + IS NULL rather than a left-anti join because Catalyst pushes
    LeftAnti through Union (PushLeftSemiLeftAntiThroughJoin family),
    which TRIPLED the whole contamination subtree (one copy per
    dup_corpus branch, 3x the shingle hashing + 3x the codegen) in the
    r5 plan.  ``lang`` rides the corpus union (NULL on injected
    branches, exactly what the old left join against docs resolved),
    saving one scan + broadcast join."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    is_eval = (F.col("doc_id") % curation.EVAL_MOD == curation.EVAL_REM) & (
        F.col("doc_id") < 100000
    )
    eval_docs = docs.filter(
        F.col("doc_id") % curation.EVAL_MOD == curation.EVAL_REM
    ).select("doc_id", "text")
    corp = dedup.dup_corpus(docs, extra_cols=("lang",)).filter(~is_eval)
    keep = dedup.dedup_exact(corp).select(F.col("keep_id").alias("doc_id"))
    kept = corp.join(keep, "doc_id").withColumn(
        "lang", F.coalesce("lang", F.lit("unk"))
    )
    pre = curation.sample_keep(kept).select("doc_id", "text")
    contam = curation.contamination_check(pre, eval_docs).select(
        "doc_id", "n_hits"
    )
    sampled = (
        pre.join(contam, "doc_id", "left")
        .filter(F.col("n_hits").isNull())
        .select("doc_id", "text")
    )
    return curation.pack_sequences(sampled)


def q_crawl_refresh(spark, sf_dir):
    """End-to-end ROLLING-INGEST refresh, one query — the incremental
    twin of corpus_freeze: next crawl batch -> URL gate -> C4 quality
    gate -> incremental dedup against the FROZEN corpus (digest
    anti-join + batch collapse) -> token-budget packing of the
    survivors.  Every stage deterministic; the whole pipeline holds an
    exact oracle."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    batch = dedup.crawl_batch(docs)
    ug = (
        curation.url_filter(batch.select("doc_id", _variant_url_col().alias("url")))
        .filter("keep")
        .select("doc_id")
    )
    qg = text.quality_filter(batch).filter("keep").select("doc_id")
    gated = batch.join(ug, "doc_id").join(qg, "doc_id")
    inc = dedup.incremental_dedup(docs, gated).select(
        F.col("keep_id").alias("doc_id")
    )
    kept = gated.join(inc, "doc_id").select("doc_id", "text")
    return curation.pack_sequences(kept)


def q_quality_deciles(spark, sf_dir):
    """Exact corpus-wide decile bucketing of the LM quality score —
    pure integer arithmetic on the score key, value-based deciles
    (tied scores share a bucket), partitioning-independent."""
    return curation.quality_deciles(_docs(spark, sf_dir))


def q_pack_sequences(spark, sf_dir):
    return curation.pack_sequences(_docs(spark, sf_dir))


def q_dup_span_dedup(spark, sf_dir):
    """Exact-substring dedup (Lee et al. 2022 semantics via positional
    8-gram hashing) over the planted-dup corpus: per-doc covered-token
    stats + the fingerprint of the text with duplicated spans removed
    (planted exact copies collapse to md5(''))."""
    return dedup.dup_span_dedup(dedup.dup_corpus(_docs(spark, sf_dir)))


def q_token_budget_sample(spark, sf_dir):
    """Sharded greedy token-budget selection per language (seeded-hash
    priority, 4 sub-windows x 800 tokens per domain)."""
    return curation.token_budget_sample(_docs(spark, sf_dir))


def q_domain_mix_weights(spark, sf_dir):
    """DoReMi-style (lang, source) mixture audit: token share + the
    uniform-target resampling weight per domain."""
    return curation.domain_mix_weights(_docs(spark, sf_dir))


def q_areal_interp(spark, sf_dir):
    """Areal interpolation between INCOMPATIBLE zone systems: per-zone
    pixel sums on the 20x20 'states' grid transferred onto an offset
    30x30 'weather' grid by exact intersection-area weights — the
    vector-vector overlay direction (regions.areal_interpolate:
    covering-cell equi-join, never a cross join; one exact bigint sum
    divided once by the uniform source-zone area)."""
    from scidbgeo_spark.kernels import NODATA_ZONE
    from scidbgeo_spark.operators import regions

    coo = model.raster_coo(spark, sf_dir)
    h, w = model.raster_dims(spark, sf_dir)
    zh, zw = fixtures.ZONE_H, fixtures.ZONE_W
    nzx, nzy = w // zw, h // zh
    a = (
        _zoned_cells(coo, _rect_zone(h, w))
        .filter(F.col("id") != NODATA_ZONE)
        .groupBy(F.col("id").alias("zid_a"))
        .agg(F.sum("v").alias("value"))
        .select(
            "zid_a",
            (F.expr(f"zid_a DIV {nzx}") * zh).alias("y0"),
            (F.expr(f"zid_a DIV {nzx}") * zh + zh).alias("y1"),
            (F.col("zid_a") % nzx * zw).alias("x0"),
            (F.col("zid_a") % nzx * zw + zw).alias("x1"),
            "value",
        )
    )
    off, span = 10, 30
    ext_y = nzy * zh
    nby = (ext_y - off - 1) // span + 1
    nbx = (w - off - 1) // span + 1
    b = spark.range(nby * nbx).select(
        F.col("id").alias("zid_b"),
        (F.expr(f"id DIV {nbx}") * span + off).alias("y0"),
        F.least(
            F.expr(f"id DIV {nbx}") * span + off + span, F.lit(ext_y)
        ).alias("y1"),
        (F.col("id") % nbx * span + off).alias("x0"),
        F.least(F.col("id") % nbx * span + off + span, F.lit(w)).alias("x1"),
    )
    return regions.areal_interpolate(a, b, cell=60, area_a=zh * zw)


def q_max_drawdown(spark, sf_dir):
    """Max drawdown of the cumulative value series per event type
    (running peak minus current, first-time-at-max tie rule)."""
    from scidbgeo_spark.operators import temporal

    return temporal.max_drawdown(model.load_table(spark, sf_dir, "events"))


def q_quantile_normalize(spark, sf_dir):
    """Cross-source quantile normalization of the length score:
    within-source rank maps to the global score at nearest rank
    ceil(r*N/n_s) — exact integers."""
    return curation.quantile_normalize(_docs(spark, sf_dir))


def q_flow_distance(spark, sf_dir):
    """Downstream flow length per cell (steps to the drained-to sink):
    WEIGHTED pointer doubling — d(u) += d(ptr(u)) then ptr <- ptr(ptr)
    — over the same D8 edge set as watershed/flow_accum.  Oracle:
    recursive walk, max(steps)."""
    tiles, h, w = _raster_tiles(spark, sf_dir)
    return focal.flow_distance_coo(
        model.raster_coo(spark, sf_dir), tiles, h, w, CHUNK
    )


def q_zonal_argmax(spark, sf_dir):
    """Hotspot location per zone: (max value, min y, min x) via ONE
    struct-max aggregate keyed by the arithmetic rect-zone id — no zone
    layer join at all."""
    h, w = model.raster_dims(spark, sf_dir)
    return zonal.zonal_argmax(model.raster_coo(spark, sf_dir), h, w)


def q_iet_histogram(spark, sf_dir):
    """Inter-event-time power-of-two histogram per type (bucket = bit
    length of the microsecond gap — exact, no libm log)."""
    from scidbgeo_spark.operators import temporal

    return temporal.iet_histogram(model.load_table(spark, sf_dir, "events"))


def q_peak_concurrency(spark, sf_dir):
    """Sweep-line peak concurrent sessions per event type (+1/-1
    boundary deltas, running-sum max, closings before openings)."""
    from scidbgeo_spark.operators import temporal

    return temporal.peak_concurrency(
        model.load_table(spark, sf_dir, "events")
    )


def q_hourly_acf(spark, sf_dir):
    """Lag-1 autocorrelation of the densified hourly count series per
    event type (exact sums, double boundary)."""
    from scidbgeo_spark.operators import temporal

    return temporal.hourly_acf(model.load_table(spark, sf_dir, "events"))


def q_host_coupling(spark, sf_dir):
    """Bibliographic coupling + co-citation per host pair (shared
    out-targets / shared in-sources) — wedge self-joins of the distinct
    host edge list, merged full-outer on the pair key."""
    return graph.host_coupling(_docs(spark, sf_dir))


def q_diurnal_profile(spark, sf_dir):
    """Hour-of-day traffic profile per event type with floor mean cents
    and the (max n, min hour) modal-hour flag."""
    from scidbgeo_spark.operators import temporal

    return temporal.diurnal_profile(model.load_table(spark, sf_dir, "events"))


def q_centroid_separation(spark, sf_dir):
    """Pairwise exact squared distance between rational k-means
    centroids — the between-cluster half of the cluster_quality pair."""
    return similarity.centroid_separation(
        model.load_table(spark, sf_dir, "embeddings")
    )


def q_cusum_max(spark, sf_dir):
    """One-sided CUSUM drift per event type, de-recursed into running
    sum minus running min (one type-keyed shuffle, exact cents)."""
    from scidbgeo_spark.operators import temporal

    return temporal.cusum_max(model.load_table(spark, sf_dir, "events"))


def q_host_assortativity(spark, sf_dir):
    """Degree assortativity of the undirected host graph (symmetrized
    Pearson over edge endpoint degrees; exact sums, double boundary)."""
    return graph.host_assortativity(_docs(spark, sf_dir))


def q_raster_sample_points(spark, sf_dir):
    """Bilinear raster sampling at page-geotag points (extract values to
    points) — x4 constant point replication, one cell-keyed equi-join,
    fixed-order float sum for cross-engine bitwise doubles."""
    from scidbgeo_spark.operators import pixel

    h, w = model.raster_dims(spark, sf_dir)
    return pixel.raster_sample_points(
        model.points(spark, sf_dir), model.raster_coo(spark, sf_dir), h, w
    )


def q_boundary_distance(spark, sf_dir):
    """Distance-to-boundary join: per point, min squared point-to-segment
    distance over the broadcast GEO_POLYGONS edge table with the
    deterministic (d2, zone, edge) tie rule."""
    pts = model.points(spark, sf_dir)
    return pip.boundary_distance_join(
        pts, pip.boundary_edges(spark, fixtures.GEO_POLYGONS)
    )


def q_mad_outliers(spark, sf_dir):
    """Median-absolute-deviation outlier screen per event type (exact
    percentile medians, |x-med| > 3*MAD)."""
    from scidbgeo_spark.operators import temporal

    return temporal.mad_outliers(model.load_table(spark, sf_dir, "events"))


def q_hll_by_source(spark, sf_dir):
    """Per-source HLL shingle-NDV sketches + the register-wise-max 'ALL'
    merge — sketch mergeability as a query (ALL is bit-identical to the
    direct global sketch; a pytest pins it)."""
    return dedup.hll_by_source(_docs(spark, sf_dir))


def q_band_correlation(spark, sf_dir):
    """Pearson correlation matrix between raster bands: one (y,x)-keyed
    pivot + one constant-width global agg; covariance algebra exact in
    decimal, double at the boundary (zonal_var discipline)."""
    from scidbgeo_spark.operators import temporal

    return temporal.band_correlation(model.raster3_coo(spark, sf_dir))


def q_outlink_extract(spark, sf_dir):
    """Anchor-href extraction from page html binaries (regex group
    capture, zero exchanges) with off-site link counts."""
    return text.outlink_extract(_docs(spark, sf_dir))


def q_cell_dwell(spark, sf_dir):
    """Time-weighted cell heat map: LOCF dwell microseconds + visit
    counts per world-grid cell."""
    from scidbgeo_spark.operators import temporal

    return temporal.cell_dwell(model.load_table(spark, sf_dir, "events"))


def q_simhash_precision(spark, sf_dir):
    """Precision gauge for the Hamming-verified SimHash pair route:
    fraction of emitted pairs that clear the exact Jaccard threshold
    (MinHash needs no such gauge — it Jaccard-verifies by construction)."""
    return dedup.simhash_precision(dedup.dup_corpus(_docs(spark, sf_dir)))


def q_pip_poly_winding(spark, sf_dir):
    """Winding-number vs even-odd PIP on a pentagram (self-overlapping
    ring: the star core has winding number 2 — inside under nonzero,
    outside under even-odd) + a square control zone where both rules
    agree.  Broadcast directed-edge crossings, both rules from the same
    join."""
    pts = model.points(spark, sf_dir)
    return pip.winding_join(pts, pip.winding_edges(spark))


def q_trajectory_segments(spark, sf_dir):
    """Gaps-and-islands GPS-track segmentation: split at squared jumps
    > SEG_JUMP2, roll up per segment — one user-keyed shuffle shared by
    both windows and the agg."""
    from scidbgeo_spark.operators import temporal

    return temporal.trajectory_segments(
        model.load_table(spark, sf_dir, "events")
    )


def q_od_flows(spark, sf_dir):
    """Origin-destination cell flow matrix (consecutive-point
    transitions on the 6x12 world grid) — constant-size output, one
    keyed window + map-side-combined count."""
    from scidbgeo_spark.operators import temporal

    return temporal.od_flows(model.load_table(spark, sf_dir, "events"))


def q_cluster_quality(spark, sf_dir):
    """Per-cluster WCSS/mean-squared-distance diagnostics over the
    deterministic k-means assignment — exact rational-centroid algebra
    (n*ssq - ||s||^2) in decimal(38,0), HUGEINT in the oracle."""
    return similarity.cluster_quality(
        model.load_table(spark, sf_dir, "embeddings")
    )


def q_dup_source_matrix(spark, sf_dir):
    """Cross-SOURCE duplication matrix: MinHash near-dup pairs rolled up
    to unordered (source_a, source_b) counts — the who-copies-whom
    curation signal (intra-source templating vs cross-source mirrors)."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_dup_pairs(dedup.dup_corpus(docs))
    src = docs.select("doc_id", "source")
    # injected dup ids map back to their original document (+100000 /
    # +200000 offsets), whose source they inherit
    j = (
        pairs.select(
            (F.col("a") % 100000).alias("oa"), (F.col("b") % 100000).alias("ob")
        )
        .join(
            src.select(F.col("doc_id").alias("oa"), F.col("source").alias("sa")),
            "oa",
        )
        .join(
            src.select(F.col("doc_id").alias("ob"), F.col("source").alias("sb")),
            "ob",
        )
    )
    return (
        j.select(
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
        )
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_pairs"))
    )


def q_cell_skew_stats(spark, sf_dir):
    """One-row skew profile of the point grid: per-cell occupancy
    histogram reduced to exact-integer Gini (rank form over the compact
    cell table — bounded by the 64,800-cell 1-degree grid, not by points) plus the
    hottest-cell count: the number that justifies pip_grid_salted."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window as W

    pts = model.points(spark, sf_dir)
    counts = pts.select(pip.cell_col().alias("cell")).groupBy("cell").agg(
        F.count("*").alias("c")
    )
    w = W.orderBy("c", "cell")
    r = counts.select("c", F.row_number().over(w).cast("long").alias("rk"))
    return r.agg(
        F.count("*").alias("n_cells"),
        F.sum("c").alias("n_points"),
        F.max("c").alias("max_cell_n"),
        (2 * F.sum(F.col("rk") * F.col("c"))
         - (F.count("*") + 1) * F.sum("c")).alias("gini_num"),
        (F.count("*") * F.sum("c")).alias("gini_den"),
    ).select(
        "n_cells",
        "n_points",
        "max_cell_n",
        "gini_num",
        "gini_den",
        (F.col("gini_num").cast("double") / F.col("gini_den").cast("double")
         ).alias("gini"),
    )


def q_trajectory_simplify(spark, sf_dir):
    """Distributed Douglas-Peucker over every user trajectory at once:
    one argmax + one reassignment join per recursion LEVEL (bounded at
    28, fixture depth 19), exact integer cross-product tests in
    decimal(38,0).  Oracle: the same rounds unrolled as CTEs in
    HUGEINT."""
    from scidbgeo_spark.operators import temporal

    return temporal.trajectory_simplify(
        model.load_table(spark, sf_dir, "events")
    )


def q_geohash_cell(spark, sf_dir):
    """Standard geohash (30-bit integer + 6-char base32 text) — the
    third cell family next to Z-order and Hilbert; prefix truncation by
    5-bit steps is the parent-cell operation."""
    from pyspark.sql import functions as F

    pts = model.points(spark, sf_dir)
    code = pip.geohash_cell_col()
    return pts.select(
        "doc_id", code.alias("gcell"), pip.geohash_str_col(code).alias("gh")
    )


def q_simhash_recall(spark, sf_dir):
    """Quality gauge for the SimHash banding path: fraction of the exact
    ngram-Jaccard baseline's pairs it recovers (minhash_recall's twin
    for the other near-dup family)."""
    return dedup.simhash_recall(dedup.dup_corpus(_docs(spark, sf_dir)))


def q_bigram_lm_score(spark, sf_dir):
    """Bigram-LM fluency proxy: scaled-integer mean corpus conditional
    probability p(w2|w1) over each document's adjacent token pairs —
    the KenLM-style signal in engine-portable rationals."""
    return text.bigram_lm_score(_docs(spark, sf_dir))


def q_curriculum_shards(spark, sf_dir):
    """Deterministic training-shard assignment + short-to-long curriculum
    position per shard, computed as the decomposed distributed rank
    (bucket counts + per-shard prefix + intra-bucket row_number); the
    oracle states the spec as one plain row_number."""
    return curation.curriculum_shards(_docs(spark, sf_dir))


def q_zonal_iqr(spark, sf_dir):
    """Per-zone exact quartiles + Tukey-fence outlier count: p25/p75 via
    the exact percentile aggregate, then one broadcast join-back of the
    tiny per-zone fence table to count pixels beyond 1.5 IQR."""
    h, w = model.raster_dims(spark, sf_dir)
    flat = _zoned_cells(model.raster_coo(spark, sf_dir), _rect_zone(h, w))
    q = flat.groupBy("id").agg(
        F.expr("percentile(v, 0.25)").alias("p25"),
        F.expr("percentile(v, 0.75)").alias("p75"),
    )
    iqr = F.col("p75") - F.col("p25")
    out = (
        flat.join(F.broadcast(q), "id")
        .filter(
            (F.col("v") < F.col("p25") - 1.5 * iqr)
            | (F.col("v") > F.col("p75") + 1.5 * iqr)
        )
        .groupBy("id")
        .agg(F.count("*").alias("n_outliers"))
    )
    return q.join(out, "id", "left").select(
        "id",
        "p25",
        "p75",
        iqr.alias("iqr"),
        F.coalesce("n_outliers", F.lit(0)).alias("n_outliers"),
    )


def q_host_hits(spark, sf_dir):
    """HITS hubs/authorities (2 max-normalized integer iterations) of
    the deterministic host graph — the directory-vs-authority screen
    next to host_pagerank.  Oracle: identical half-steps unrolled as
    CTEs, HUGEINT where Spark runs decimal(38,0)."""
    return graph.host_hits(_docs(spark, sf_dir))


def q_anchor_text_agg(spark, sf_dir):
    """Per-target-host anchor-text aggregation: in-link counts, distinct
    anchor phrases, and the modal anchor under the exact
    (count DESC, anchor ASC) tie rule."""
    return graph.anchor_text_agg(_docs(spark, sf_dir))


def q_time_weighted_avg(spark, sf_dir):
    """LOCF time-weighted mean of event value per user, exact integer
    cents x epoch-microsecond durations: (num, den, floor quotient)."""
    from scidbgeo_spark.operators import temporal

    return temporal.time_weighted_avg(model.load_table(spark, sf_dir, "events"))


# Ordered so the driver's per-round correctness window (the FIRST 50
# entries) always holds the queries with the FEWEST driver rows: any
# query with zero rows outranks any query with >= 1 (round-3 verdict
# policy).  r6 rotation: the late-r5 additions lead (max_drawdown,
# quantile_normalize, ..., corpus_freeze) — they held only TAILCHECK
# rows until now, and several carry r6 optimization/correctness fixes
# (quantile_normalize decomposition, centroid_separation/simhash
# widenings, corpus_freeze restructure) that deserve the driver's
# stricter value-hash gate; the r5-window block (terrain, ...) follows
# with fresh r5 driver rows.  The demoted tail still has exact oracles,
# checked each round by tools/check_oracle.py (artifact:
# history/TAILCHECK_r{N}.json) + pytest.
_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # --- r6 window: late-r5 additions, never driver-checked before
    # (tail rows only: history/TAILCHECK_r05.json); first 50 of these form the
    # r6 driver correctness window ---
    "max_drawdown": q_max_drawdown,
    "quantile_normalize": q_quantile_normalize,
    "flow_distance": q_flow_distance,
    "zonal_argmax": q_zonal_argmax,
    "iet_histogram": q_iet_histogram,
    "peak_concurrency": q_peak_concurrency,
    "hourly_acf": q_hourly_acf,
    "host_coupling": q_host_coupling,
    "diurnal_profile": q_diurnal_profile,
    "centroid_separation": q_centroid_separation,
    "cusum_max": q_cusum_max,
    "host_assortativity": q_host_assortativity,
    "raster_sample_points": q_raster_sample_points,
    "boundary_distance": q_boundary_distance,
    "mad_outliers": q_mad_outliers,
    "hll_by_source": q_hll_by_source,
    "band_correlation": q_band_correlation,
    "outlink_extract": q_outlink_extract,
    "cell_dwell": q_cell_dwell,
    "simhash_precision": q_simhash_precision,
    "pip_poly_winding": q_pip_poly_winding,
    "trajectory_segments": q_trajectory_segments,
    "od_flows": q_od_flows,
    "cluster_quality": q_cluster_quality,
    "dup_source_matrix": q_dup_source_matrix,
    "cell_skew_stats": q_cell_skew_stats,
    "trajectory_simplify": q_trajectory_simplify,
    "geohash_cell": q_geohash_cell,
    "simhash_recall": q_simhash_recall,
    "bigram_lm_score": q_bigram_lm_score,
    "curriculum_shards": q_curriculum_shards,
    "zonal_iqr": q_zonal_iqr,
    "host_hits": q_host_hits,
    "anchor_text_agg": q_anchor_text_agg,
    "time_weighted_avg": q_time_weighted_avg,
    "contamination_check": q_contamination_check,
    "pii_redact": q_pii_redact,
    "stratified_sample": q_stratified_sample,
    "pack_sequences": q_pack_sequences,
    "corpus_freeze": q_corpus_freeze,
    "url_dedup_latest": q_url_dedup_latest,
    "watershed_basins": q_watershed_basins,
    "gi_star": q_gi_star,
    "mk_trend": q_mk_trend,
    "vocab_growth": q_vocab_growth,
    "idw_interp": q_idw_interp,
    "grid_dbscan": q_grid_dbscan,
    "focal_mode": q_focal_mode,
    "upsample_bilinear": q_upsample_bilinear,
    "los_visibility": q_los_visibility,
    "hist_equalize": q_hist_equalize,
    "host_degree_stats": q_host_degree_stats,
    "region_sieve": q_region_sieve,
    "doc_novelty": q_doc_novelty,
    "trajectory_rose": q_trajectory_rose,
    "phrase_search": q_phrase_search,
    "doc_chunks": q_doc_chunks,
    "event_transitions": q_event_transitions,
    "band_argmax": q_band_argmax,
    "gap_fill": q_gap_fill,
    "focal_var": q_focal_var,
    "ripley_k": q_ripley_k,
    "winnow_fingerprints": q_winnow_fingerprints,
    "edge_density": q_edge_density,
    "geary_c": q_geary_c,
    "semivariogram": q_semivariogram,
    "simpson_diversity": q_simpson_diversity,
    "user_burst": q_user_burst,
    "winnow_dup_pairs": q_winnow_dup_pairs,
    "session_stats": q_session_stats,
    "cluster_survivors": q_cluster_survivors,
    "integral_image": q_integral_image,
    "host_triangles": q_host_triangles,
    "pip_poly_gpkg": q_pip_poly_gpkg,
    "geotiff_ingest_big": q_geotiff_ingest_big,
    "zonal_ivm": q_zonal_ivm,
    "lang_confusion": q_lang_confusion,
    "proximity_search": q_proximity_search,
    "event_cooccurrence": q_event_cooccurrence,
    "coregister": q_coregister,
    "path_cells": q_path_cells,
    "coverage_gaps": q_coverage_gaps,
    "colocation_pairs": q_colocation_pairs,
    "funnel_chain": q_funnel_chain,
    "robots_gate": q_robots_gate,
    "host_split": q_host_split,
    "crawl_schedule": q_crawl_schedule,
    "pareto_docs": q_pareto_docs,
    "hilbert_cell": q_hilbert_cell,
    "distance_join_geo": q_distance_join_geo,
    "quadtree_split": q_quadtree_split,
    "rect_join": q_rect_join,
    "hilbert_range_count": q_hilbert_range_count,
    "bm25_topk": q_bm25_topk,
    "zonal_weighted": q_zonal_weighted,
    "gaussian_blur": q_gaussian_blur,
    "matmul": q_matmul,
    "events_ohlc": q_events_ohlc,
    "orc_ingest": q_orc_ingest,
    "regrid_area": q_regrid_area,
    "interval_join": q_interval_join,
    "theil_sen": q_theil_sen,
    "decayed_counts": q_decayed_counts,
    # --- r5-window block (driver rows: r5) ---
    "terrain": q_terrain,
    "flow_accum": q_flow_accum,
    "join_counts": q_join_counts,
    "rotate90": q_rotate90,
    "moran_i": q_moran_i,
    "minhash_recall": q_minhash_recall,
    "trajectory_stats": q_trajectory_stats,
    "point_density": q_point_density,
    "lm_quality_score": q_lm_quality_score,
    "boilerplate_spans": q_boilerplate_spans,
    "zonal_stats_time": q_zonal_stats_time,
    "pip_unmatched": q_pip_unmatched,
    "crawl_delta": q_crawl_delta,
    "zone_geometry": q_zone_geometry,
    "knn_classify": q_knn_classify,
    "quality_deciles": q_quality_deciles,
    "raster_pyramid": q_raster_pyramid,
    "focal_mean_time": q_focal_mean_time,
    "zonal_stats_shp": q_zonal_stats_shp,
    "between_3d": q_between_3d,
    "snapshot_rollback": q_snapshot_rollback,
    "ann_pq_topk": q_ann_pq_topk,
    "ann_pq_recall": q_ann_pq_recall,
    "zonal_change": q_zonal_change,
    "traffic_spikes": q_traffic_spikes,
    "lang_drift": q_lang_drift,
    "dup_rate_by_source": q_dup_rate_by_source,
    "areal_interp": q_areal_interp,
    "dedup_incremental": q_dedup_incremental,
    "bloom_prefilter": q_bloom_prefilter,
    "kmeans_assign": q_kmeans_assign,
    "hll_shingle_ndv": q_hll_shingle_ndv,
    "cms_heavy_hitters": q_cms_heavy_hitters,
    "host_pagerank": q_host_pagerank,
    "inverted_index": q_inverted_index,
    "jsonl_ingest": q_jsonl_ingest,
    "crawl_refresh": q_crawl_refresh,
    "funnel": q_funnel,
    "props_rollup": q_props_rollup,
    "retention_cohorts": q_retention_cohorts,
    "ann_sq8_topk": q_ann_sq8_topk,
    "ann_sq8_recall": q_ann_sq8_recall,
    "url_filter": q_url_filter,
    "warc_ingest": q_warc_ingest,
    "warc_ingest_gz": q_warc_ingest_gz,
    "media_resize": q_media_resize,
    "frame_sample": q_frame_sample,
    "dup_span_dedup": q_dup_span_dedup,
    "token_budget_sample": q_token_budget_sample,
    "domain_mix_weights": q_domain_mix_weights,
    # --- r4 tail rotation (last driver rows: r3) ---
    "cost_reach": q_cost_reach,
    "local_moran": q_local_moran,
    "dedup_exact": q_dedup_exact,
    "ann_bruteforce_topk": q_ann_bruteforce_topk,
    "focal_mean_sum": q_focal_mean_sum,
    "geotiff_ingest": q_geotiff_ingest,
    "merge_insert_catalog": q_merge_insert_catalog,
    "snapshot_diff": q_snapshot_diff,
    "corpus_curation": q_corpus_curation,
    "dedup_clusters": q_dedup_clusters,
    "upsample": q_upsample,
    "bernoulli_sample": q_bernoulli_sample,
    "region_label": q_region_label,
    "region_stats": q_region_stats,
    "region_vectorize": q_region_vectorize,
    "zonal_histogram": q_zonal_histogram,
    "geotiff_ingest_3d": q_geotiff_ingest_3d,
    "redimension_roundtrip_3d": q_redimension_roundtrip_3d,
    "zonal_mode": q_zonal_mode,
    "focal_mean_r2": q_focal_mean_r2,
    "focal_minmax": q_focal_minmax,
    "cell_rollup": q_cell_rollup,
    "pip_poly_wkt": q_pip_poly_wkt,
    "pip_grid_salted": q_pip_grid_salted,
    "pages_geo_rollup": q_pages_geo_rollup,
    "extract_text": q_extract_text,
    "token_count": q_token_count,
    "text_quality": q_text_quality,
    "lang_id": q_lang_id,
    "doc_fingerprint": q_doc_fingerprint,
    "multimodal_meta": q_multimodal_meta,
    "media_features": q_media_features,
    "top_events_per_user": q_top_events_per_user,
    "minhash_signatures": q_minhash_signatures,
    "minhash_bands": q_minhash_bands,
    "minhash_dup_pairs": q_minhash_dup_pairs,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "simhash": q_simhash,
    "simhash_dup_pairs": q_simhash_dup_pairs,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "ann_lsh_recall": q_ann_lsh_recall,
    "ann_ivf_recall": q_ann_ivf_recall,
    "embedding_neardup_pairs": q_embedding_neardup_pairs,
    # --- filler to 50: an r4-window representative whose operator
    # carries an r5 fix (repetition_stats short-doc guard) ---
    "repetition_stats": q_repetition_stats,
    # --- tail: every query below holds an r4 driver row; exact oracles
    # retained, checked via tools/check_oracle.py each round ---
    "distance_join": q_distance_join,
    "events_asof": q_events_asof,
    "pip_poly_shp_indexed": q_pip_poly_shp_indexed,
    "zonal_stats_rect": q_zonal_stats_rect,
    "pip_grid": q_pip_grid,
    "count_pixels": q_count_pixels,
    "transpose": q_transpose,
    "sessionize": q_sessionize,
    "events_hourly": q_events_hourly,
    "events_cube": q_events_cube,
    "downsample": q_downsample,
    "raster_histogram": q_raster_histogram,
    "count_pixels_tiles": q_count_pixels_tiles,
    "count_pixels_true": q_count_pixels_true,
    "count_pixels_sql": q_count_pixels_sql,
    "merge_insert": q_merge_insert,
    "reclassify_sum": q_reclassify_sum,
    "subarray": q_subarray,
    "slice_band": q_slice_band,
    "redimension_roundtrip": q_redimension_roundtrip,
    "zonal_stats_broadcast": q_zonal_stats_broadcast,
    "zonal_stats_sortmerge": q_zonal_stats_sortmerge,
    "zonal_stats_float": q_zonal_stats_float,
    "zonal_stats_multi": q_zonal_stats_multi,
    "zonal_median": q_zonal_median,
    "focal_mean_sum_overlap": q_focal_mean_sum_overlap,
    "focal_mean_cells": q_focal_mean_cells,
    "zorder_cell": q_zorder_cell,
    "zorder_range_count": q_zorder_range_count,
    "knn_bulk": q_knn_bulk,
    "extract_geotags": q_extract_geotags,
    "raster_add": q_raster_add,
    "reclassify_persist": q_reclassify_persist,
    "overlay_add_bands": q_overlay_add_bands,
    "pip_poly": q_pip_poly,
    "join_reclass": q_join_reclass,
    "between_window": q_between_window,
    "between_tiles": q_between_tiles,
    "cell_index": q_cell_index,
    "pip_poly_shp": q_pip_poly_shp,
    "pip_poly_holes": q_pip_poly_holes,
    "token_count_bpe": q_token_count_bpe,
    "quality_filter": q_quality_filter,
    "url_dedup": q_url_dedup,
    "tfidf_top_terms": q_tfidf_top_terms,
    "zonal_var": q_zonal_var,
    "zonal_stats_poly": q_zonal_stats_poly,
    "pip_poly_df": q_pip_poly_df,
    "knn": q_knn,
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: zonal statistics over the sf0.001 raster (mixed-polygon
    layer; at this scale only the nodata zone is populated — driver checks
    rows >= 0 and a stable schema)."""
    _ensure_pyfiles(spark)
    return q_zonal_stats_poly(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _wrap(fn) for name, fn in _QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {k: oracle.SQL[k] for k in _QUERIES if k in oracle.SQL}
