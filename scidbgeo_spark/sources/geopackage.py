"""Minimal GeoPackage (OGC 12-128r19) polygon source — pure stdlib
``sqlite3`` + ``struct``/NumPy, no GDAL/OGR.

The reference opens every vector layer through OGR
(SciDB_ZonalStats_CL.py:443-445 ``driver.Open``), whose GeoPackage
driver is the modern sibling of the shapefile path this engine already
ships (sources/shapefile.py).  This module implements the same contract
for .gpkg: the GeoPackage Binary (GPB) geometry header + WKB
Polygon/MultiPolygon parsing, and a SPLITTABLE scan that partitions the
feature table by rowid ranges so one huge layer file fans out across
tasks (the .shx-indexed shapefile scan's shape — each task opens the
shared-filesystem path and range-reads its slice through SQLite's own
B-tree, never the whole table).

Exactly one driver-side metadata action (max fid + geometry column
lookup — a few B-tree pages, the header-only precedent of
``sources.geotiff.tiff_dims``); feature bytes only ever parse executor-side.

Ring arrays follow the engine's OPEN-ring convention (sources/vector.py
drops the closing vertex); multi-ring geometries (holes / multipolygon
parts) emit one (zone_id, ring_no, xs, ys) row per ring and join under
the even-odd semantics pip_join_df already implements.
"""

from __future__ import annotations

import sqlite3
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

GPB_MAGIC = b"GP"
# envelope indicator (flags bits 1-3) -> envelope byte length
_ENV_LEN = {0: 0, 1: 32, 2: 48, 3: 48, 4: 64}

_SCHEMA = "zone_id int, ring_no int, xs array<double>, ys array<double>"


def _wkb_rings(buf: bytes, off: int) -> tuple[list[np.ndarray], int]:
    """Parse a WKB Polygon/MultiPolygon at ``off``; returns (rings, end).
    Each ring is an (n, 2) float64 array, closing vertex still present."""
    bo = "<" if buf[off] == 1 else ">"
    (gtype,) = struct.unpack_from(bo + "I", buf, off + 1)
    gtype &= 0xFF  # 2-D layer contract: Z/M flags off (we reject below)
    if gtype == 3:  # Polygon
        (nrings,) = struct.unpack_from(bo + "I", buf, off + 5)
        p = off + 9
        rings = []
        for _ in range(nrings):
            (npts,) = struct.unpack_from(bo + "I", buf, p)
            p += 4
            arr = (
                np.frombuffer(buf, dtype=np.dtype(bo + "f8"), count=npts * 2, offset=p)
                .reshape(npts, 2)
                .astype(np.float64)
            )
            p += npts * 16
            rings.append(arr)
        return rings, p
    if gtype == 6:  # MultiPolygon: concatenate part rings (even-odd join)
        (nparts,) = struct.unpack_from(bo + "I", buf, off + 5)
        p = off + 9
        rings = []
        for _ in range(nparts):
            sub, p = _wkb_rings(buf, p)
            rings.extend(sub)
        return rings, p
    raise ValueError(f"unsupported WKB geometry type {gtype}")


def parse_gpb(blob: bytes) -> list[np.ndarray]:
    """GeoPackage Binary blob -> OPEN rings (closing vertex dropped)."""
    if blob[:2] != GPB_MAGIC:
        raise ValueError("not a GeoPackage geometry blob (bad magic)")
    flags = blob[3]
    if flags & 0b00100000:
        raise ValueError("extended (non-standard) GPB not supported")
    env_len = _ENV_LEN[(flags >> 1) & 0b111]
    rings, _ = _wkb_rings(blob, 8 + env_len)
    out = []
    for r in rings:
        if len(r) > 1 and r[0][0] == r[-1][0] and r[0][1] == r[-1][1]:
            r = r[:-1]
        out.append(r)
    return out


def gpkg_layer_meta(path: str) -> tuple[str, str, str, int]:
    """(table, geom_col, fid_col, max_fid) from the GeoPackage metadata
    tables — the one driver-side action, metadata pages only."""
    con = sqlite3.connect(path)
    try:
        row = con.execute(
            "SELECT table_name, column_name FROM gpkg_geometry_columns LIMIT 1"
        ).fetchone()
        if row is None:
            raise ValueError(f"{path}: no gpkg_geometry_columns entry")
        table, geom_col = row
        (fid_col,) = (
            c[1]
            for c in con.execute(f'PRAGMA table_info("{table}")')
            if c[5] == 1  # pk flag
        )
        (max_fid,) = con.execute(f'SELECT max("{fid_col}") FROM "{table}"').fetchone()
        return table, geom_col, fid_col, int(max_fid)
    finally:
        con.close()


def polygons_from_gpkg(
    spark: SparkSession,
    path: str,
    zone_field: str = "zone_id",
    n_splits: int = 4,
) -> DataFrame:
    """GeoPackage layer -> ``(zone_id, ring_no, xs, ys)`` DataFrame via a
    rowid-range SPLITTABLE scan: ``n_splits`` fid ranges fan out as
    tasks, each opening ``path`` read-only and range-reading its slice
    through the primary-key B-tree (no task touches another's pages).
    At cluster scale ``path`` is a shared filesystem; locally it is the
    same file."""
    table, geom_col, fid_col, max_fid = gpkg_layer_meta(path)
    step = -(-(max_fid + 1) // max(1, n_splits))
    ranges = [(lo, min(lo + step - 1, max_fid)) for lo in range(0, max_fid + 1, step)]
    rdf = spark.createDataFrame(ranges, "lo long, hi long")

    def _scan(it):
        for pdf in it:
            frames = []
            for r in pdf.itertuples():
                con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
                try:
                    rows = con.execute(
                        f'SELECT "{zone_field}", "{geom_col}" FROM "{table}" '
                        f'WHERE "{fid_col}" BETWEEN ? AND ?',
                        (int(r.lo), int(r.hi)),
                    ).fetchall()
                finally:
                    con.close()
                out = []
                for zid, blob in rows:
                    for ring_no, ring in enumerate(parse_gpb(blob)):
                        out.append(
                            (
                                int(zid),
                                ring_no,
                                ring[:, 0].tolist(),
                                ring[:, 1].tolist(),
                            )
                        )
                if out:
                    frames.append(
                        pd.DataFrame(out, columns=["zone_id", "ring_no", "xs", "ys"])
                    )
            yield (
                pd.concat(frames)
                if frames
                else pd.DataFrame(
                    {
                        "zone_id": pd.Series([], dtype="int64"),
                        "ring_no": pd.Series([], dtype="int64"),
                        # object dtype: Arrow needs list columns, and an
                        # empty float64 ndarray fails list<double> conversion
                        "xs": pd.Series([], dtype="object"),
                        "ys": pd.Series([], dtype="object"),
                    }
                )
            )

    return rdf.mapInPandas(_scan, _SCHEMA)


def _gpb_blob(rings: list[np.ndarray]) -> bytes:
    """Encode CLOSED rings as a GPB(WKB Polygon) blob (fixture writer)."""
    parts = [GPB_MAGIC, bytes([0, 0b00000001]), struct.pack("<i", 4326)]
    wkb = [struct.pack("<BII", 1, 3, len(rings))]
    for r in rings:
        closed = np.vstack([r, r[:1]])
        wkb.append(struct.pack("<I", len(closed)))
        wkb.append(closed.astype("<f8").tobytes())
    return b"".join(parts + wkb)


def write_gpkg_fixture(path: str, polys) -> None:
    """Write a minimal standard-compliant-enough GeoPackage: the two
    required metadata tables plus a ``layer`` feature table.  ``polys``
    is [(zone_id, [rings])] with OPEN ring arrays (fixture shape).
    Overwrites an existing file — sqlite3.connect APPENDS to an
    existing database (unlike the 'wb' file writers every other fixture
    uses), so repeated fixture builds would hit 'table already
    exists'."""
    import os

    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    try:
        con.executescript(
            """
            PRAGMA application_id = 1196444487;  -- 'GPKG'
            CREATE TABLE gpkg_contents (
              table_name TEXT PRIMARY KEY, data_type TEXT,
              identifier TEXT, srs_id INTEGER);
            CREATE TABLE gpkg_geometry_columns (
              table_name TEXT, column_name TEXT, geometry_type_name TEXT,
              srs_id INTEGER, z TINYINT, m TINYINT);
            CREATE TABLE layer (
              fid INTEGER PRIMARY KEY, zone_id INTEGER, geom BLOB);
            INSERT INTO gpkg_contents VALUES
              ('layer', 'features', 'layer', 4326);
            INSERT INTO gpkg_geometry_columns VALUES
              ('layer', 'geom', 'POLYGON', 4326, 0, 0);
            """
        )
        for fid, (zid, rings) in enumerate(polys, start=1):
            con.execute(
                "INSERT INTO layer VALUES (?, ?, ?)",
                (fid, int(zid), _gpb_blob([np.asarray(r) for r in rings])),
            )
        con.commit()
    finally:
        con.close()
