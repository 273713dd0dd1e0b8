"""Benchmark/analysis CLI — the engine's port of the reference's driver
(`SciDB_analysis.py`): same subcommands (zonal | count | reclassify |
focal | overlap | add), same per-run timing dictionaries, same CSV
column names, written with csv.DictWriter exactly like the reference's
WriteFile (SciDB_analysis.py:243-263).

Datasets are (sf_dir x chunk) cells, mirroring the reference's
(raster x chunk_size) matrix from config.ini.  ``overlap`` runs the focal
query like the reference's overlap mode (same query over arrays built
with chunk overlap; our halo join computes the overlap at query time, so
the workload is identical by construction).

Usage:
  python -m scidbgeo_spark.cli zonal --sf-dir /root/testdata/sf0.01 \
      --chunks 50 100 --runs 1 --csv /tmp/timings.csv
"""

from __future__ import annotations

import argparse
import csv
import sys
import time
from collections import OrderedDict

from scidbgeo_spark import fixtures, model, tiling
from scidbgeo_spark.operators import focal, pixel, zonal
from scidbgeo_spark.session import get_spark


def _dataset_name(sf_dir: str, chunk: int) -> str:
    return f"{sf_dir.rstrip('/').split('/')[-1]}_{chunk}"


def run_zonal(spark, sf_dir: str, chunk: int, run: int, stats_csv: str | None) -> OrderedDict:
    """Phase-timed zonal statistics — field names match
    SciDB_analysis.py:57-63."""
    start = time.time()
    coo = model.raster_coo(spark, sf_dir)
    h, w = model.raster_dims(spark, sf_dir)

    t0 = time.time()
    zones = zonal.rasterize_rect_grid(
        spark, h, w, chunk, fixtures.ZONE_H, fixtures.ZONE_W
    ).cache()
    zones.count()
    rasterize_time = time.time() - t0

    t0 = time.time()
    tiles = tiling.pack_tiles(coo, chunk, h, w).cache()
    tiles.count()
    redimension_time = time.time() - t0  # load is the parallel parquet scan

    t0 = time.time()
    stats = zonal.zonal_stats_tiles(tiles, zones)
    rows = stats.collect()
    join_time = time.time() - t0
    if stats_csv:
        from scidbgeo_spark.export import write_zonal_csv

        write_zonal_csv(stats, stats_csv)
    tiles.unpersist()
    zones.unpersist()
    full_time = time.time() - start
    return OrderedDict(
        [
            ("connectionInfo", "local-spark"),
            ("run", run),
            ("array_table", _dataset_name(sf_dir, chunk)),
            ("boundary_table", "rect_grid"),
            ("full_time", full_time),
            ("join_time", join_time),
            ("redimension_time", redimension_time),
            ("rasterize_time", rasterize_time),
            ("dataset", sf_dir),
            ("chunk", chunk),
            ("load_time", 0.0),
            ("n_zones", len(rows)),
        ]
    )


def _simple(run: int, analytic: str, seconds: float, sf_dir: str, chunk: int) -> OrderedDict:
    """count/focal/add timing row — SciDB_analysis.py:86-87 field names
    (the reference labels focal's analytic 'count' too; quirk preserved
    via the caller's choice)."""
    return OrderedDict(
        [
            ("run", run),
            ("analytic", analytic),
            ("time", seconds),
            ("array_table", _dataset_name(sf_dir, chunk)),
            ("dataset", sf_dir),
            ("chunk", chunk),
        ]
    )


def run_count(spark, sf_dir, chunk, run):
    t0 = time.time()
    res = pixel.count_pixels(model.raster_coo(spark, sf_dir), 42).collect()
    print(f"Sum of pixel values {res[0].pixel_sum} for array: {_dataset_name(sf_dir, chunk)}")
    return _simple(run, "count", time.time() - t0, sf_dir, chunk)


def run_reclassify(spark, sf_dir, chunk, run):
    t0 = time.time()
    pixel.reclassify_sum(model.raster_coo(spark, sf_dir), 87, 1000).collect()
    stop = time.time()
    insert_time = 0.0
    if run == 1:  # persisted redimension path, first run only (quirk preserved)
        coo = model.raster_coo(spark, sf_dir)
        h, w = model.raster_dims(spark, sf_dir)
        reclassed = pixel.reclassify(coo, 87, 1000, other=-99)
        tiling.pack_tiles(reclassed, chunk, h, w, value_col="newvalue", int_values=False).count()
        insert_time = time.time() - stop
    d = _simple(run, "reclassify", stop - t0, sf_dir, chunk)
    d["redimensionInsertTime"] = insert_time
    return d


def run_focal(spark, sf_dir, chunk, run):
    t0 = time.time()
    coo = model.raster_coo(spark, sf_dir)
    h, w = model.raster_dims(spark, sf_dir)
    tiles = tiling.pack_tiles(coo, chunk, h, w)
    focal.focal_mean_sum36(tiles, h, w, chunk).collect()
    # analytic label 'count' matches the reference quirk (SciDB_analysis.py:86)
    return _simple(run, "count", time.time() - t0, sf_dir, chunk)


def run_add(spark, sf_dir, chunk, run):
    t0 = time.time()
    coo = model.raster_coo(spark, sf_dir)
    h, w = model.raster_dims(spark, sf_dir)
    tiles = tiling.pack_tiles(coo, chunk, h, w)
    pixel.overlay_add_tiles(tiles, tiles).count()
    return _simple(run, "raster_add", time.time() - t0, sf_dir, chunk)


def run_ingest(spark, tiff_path: str, chunk: int, run: int, warehouse: str | None) -> OrderedDict:
    """Real-file ingest driver — the engine's `GDALtoSciDB` CLI analog
    (GDALtoSciDB_multiprocessing.py:504-513 load+redimension timing):
    GeoTIFF bytes -> windowed parse -> chunk pack, optionally committed
    as snapshot 1 of a SnapshotCatalog table."""
    from scidbgeo_spark.sources import geotiff as gt

    row = spark.read.format("binaryFile").load(tiff_path).select("content").first()
    hdr = gt.parse_tiff(bytes(row.content))

    t0 = time.time()
    coo = gt.geotiff_coo(spark, tiff_path)
    n_cells = coo.count()
    load_time = time.time() - t0

    t0 = time.time()
    tiles = tiling.pack_tiles(coo, chunk, hdr["height"], hdr["width"])
    # one table per (chunk, run): repeated runs / chunk sweeps must not
    # collide with an existing snapshot 1 (create is create-if-absent)
    table = f"ingested_{chunk}_r{run}"
    if warehouse:
        from scidbgeo_spark.catalog import SnapshotCatalog

        SnapshotCatalog(spark, warehouse).create(table, tiles)
    else:
        tiles.count()
    redimension_time = time.time() - t0
    return OrderedDict(
        [
            ("run", run),
            ("analytic", "ingest"),
            ("array_table", table),
            ("loadTime", load_time),
            ("redimensionTime", redimension_time),
            ("n_cells", n_cells),
            ("height", hdr["height"]),
            ("width", hdr["width"]),
            ("chunk", chunk),
        ]
    )


COMMANDS = {
    "zonal": run_zonal,
    "count": run_count,
    "reclassify": run_reclassify,
    "focal": run_focal,
    "overlap": run_focal,  # same query; overlap is a storage-layout axis in the reference
    "add": run_add,
    "ingest": run_ingest,
}


def write_file(file_path: str, timings: dict) -> None:
    """csv.DictWriter output, one row per (run, dataset) — the reference's
    WriteFile (SciDB_analysis.py:243-263)."""
    keys = list(timings.keys())
    with open(file_path, "w") as f:
        fields = list(timings[keys[0]].keys())
        w = csv.DictWriter(f, fieldnames=fields)
        w.writeheader()
        for k in keys:
            w.writerow(timings[k])


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="scidbgeo-spark")
    p.add_argument("command", choices=sorted(COMMANDS))
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p.add_argument("--chunks", type=int, nargs="+", default=[model.CHUNK])
    p.add_argument("--runs", type=int, default=1)
    p.add_argument("--csv", default=None, help="timing CSV output path")
    p.add_argument("--stats-csv", default=None, help="zonal stats CSV output path")
    p.add_argument("--cores", type=int, default=None)
    p.add_argument("--tiff", default=None, help="GeoTIFF path/glob (ingest)")
    p.add_argument("--warehouse", default=None, help="SnapshotCatalog dir (ingest)")
    args = p.parse_args(argv)

    spark = get_spark("scidbgeo-cli", cores=args.cores)
    timings: dict = OrderedDict()
    for chunk in args.chunks:
        for r in range(1, args.runs + 1):
            if args.command == "zonal":
                timed = run_zonal(spark, args.sf_dir, chunk, r, args.stats_csv)
            elif args.command == "ingest":
                if not args.tiff:
                    p.error("ingest requires --tiff")
                timed = run_ingest(spark, args.tiff, chunk, r, args.warehouse)
            else:
                timed = COMMANDS[args.command](spark, args.sf_dir, chunk, r)
            timings[(r, _dataset_name(args.sf_dir, chunk))] = timed
            print(dict(timed))
    if args.csv:
        write_file(args.csv, timings)
    print("Finished")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
