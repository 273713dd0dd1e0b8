"""Vector-native point-in-polygon join over page geotag points.

Generalizes the reference's zonal pattern: instead of rasterizing zones
and positionally joining (SciDBParallel.py:675-715), or value-joining a
COO mask with ``equi_join(..., 'algorithm=hash_replicate_right')``
(SciDB_ZonalStats_CL.py:319-321), the polygon layer is turned into a
**covering-cell candidate table** at a coarse grid resolution, broadcast
(the Spark analog of hash_replicate_right), equi-joined on the point's
cell id, and refined with an exact vectorized ray-cast kernel.

Cell ids are row-major grid cells over lon/lat — a quadkey-style integer
encoding computed by pure column arithmetic (no native geo deps), so the
candidate join is a plain broadcast hash join that Catalyst can push the
cell filter of.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from scidbgeo_spark.kernels import points_in_ring

CAND_RES = 15.0  # candidate-cell size in degrees
CAND_NX = int(360 / CAND_RES)  # cells per lon row

POINT_RES = 1.0  # fine cell index resolution (cell_index operator)
POINT_NX = 360


def cell_col(lon: str = "lon", lat: str = "lat", res: float = POINT_RES, nx: int = POINT_NX):
    """Integer grid-cell id: floor((lat+90)/res)*nx + floor((lon+180)/res)."""
    return (
        F.floor((F.col(lat) + 90.0) / res) * nx + F.floor((F.col(lon) + 180.0) / res)
    ).cast("long")


ZORDER_RES = 0.01  # 0.01 deg -> cx < 36000, cy < 18000: 16 bits each
ZORDER_BITS = 16


def zorder_cell_col(lon: str = "lon", lat: str = "lat"):
    """Morton / Z-order cell id: bit-interleave of the 16-bit grid
    coordinates at 0.01-degree resolution.  Prefix truncation of a Z-order
    id is a coarser spatial cell — the quadkey hierarchy used for prefix
    joins.  Pure JVM bit arithmetic (identical expression in the DuckDB
    oracle)."""
    cx = F.floor((F.col(lon) + 180.0) / ZORDER_RES).cast("long")
    cy = F.floor((F.col(lat) + 90.0) / ZORDER_RES).cast("long")
    z = F.lit(0).cast("long")
    for i in range(ZORDER_BITS):
        z = z + F.shiftleft(F.shiftright(cx, i) % 2, 2 * i)
        z = z + F.shiftleft(F.shiftright(cy, i) % 2, 2 * i + 1)
    return z


def cell_rollup(pts: DataFrame) -> DataFrame:
    """(res, cell, n_points): point counts at three quadkey resolutions
    (res 16 = the full 0.01-deg Z-order cell, res 8 / res 4 = its 16- and
    24-bit-truncated quadtree ancestors) in ONE pass — GROUPING SETS give
    the zoom-pyramid rollup a tile server or density map needs with a
    single shuffle and map-side partials, instead of three scans.
    Prefix truncation is the H3/S2 parent-cell operation on Z-order ids
    (see :func:`zorder_block_range` for why ancestors are contiguous)."""
    z = zorder_cell_col()
    base = pts.select(
        z.alias("z16"),
        F.shiftright(z, 16).alias("z8"),
        F.shiftright(z, 24).alias("z4"),
    )
    g = base.groupingSets([["z16"], ["z8"], ["z4"]], "z16", "z8", "z4").agg(
        F.count("*").alias("n_points")
    )
    res = (
        F.when(F.col("z16").isNotNull(), 16)
        .when(F.col("z8").isNotNull(), 8)
        .otherwise(4)
        .cast("long")
    )
    return g.select(
        res.alias("res"),
        F.coalesce("z16", "z8", "z4").alias("cell"),
        "n_points",
    )


def zorder_block_range(cx0: int, cy0: int, k: int) -> tuple[int, int]:
    """[z0, z1) of the quadkey-aligned block ``cx in [cx0, cx0+2^k), cy
    in [cy0, cy0+2^k)``: because Z-order interleaves bits, an aligned
    2^k x 2^k block is ONE CONTIGUOUS id range of length 4^k — the
    property that turns a spatial box into a single min/max-prunable
    range predicate (the H3/S2 prefix-join scan shape)."""
    if cx0 % (1 << k) or cy0 % (1 << k):
        raise ValueError(f"block origin ({cx0},{cy0}) not aligned to 2^{k}")
    z0 = 0
    for i in range(ZORDER_BITS):
        z0 |= ((cx0 >> i) & 1) << (2 * i)
        z0 |= ((cy0 >> i) & 1) << (2 * i + 1)
    return z0, z0 + 4**k


def covering_cells(ring: np.ndarray, res: float = CAND_RES, nx: int = CAND_NX) -> list[int]:
    """Candidate cells overlapping the polygon bbox (driver-side; polygon
    layers are the small dimension).  Over-covering is fine — refinement
    removes false candidates."""
    x0, x1 = ring[:, 0].min(), ring[:, 0].max()
    y0, y1 = ring[:, 1].min(), ring[:, 1].max()
    cells = []
    for cy in range(int(math.floor((y0 + 90) / res)), int(math.floor((y1 + 90) / res)) + 1):
        for cx in range(int(math.floor((x0 + 180) / res)), int(math.floor((x1 + 180) / res)) + 1):
            cells.append(cy * nx + cx)
    return cells


class PreparedLayer:
    """One-time spatial index over a SMALL polygon layer: the bare
    ``(zone_id, ccell)`` covering-cell table plus the ring coordinates
    broadcast to executors.  Build once per layer, join many point sets
    against it — the analogue of zonal's rasterized zone layer, and of
    the reference loading its shapefile once up front
    (SciDB_ZonalStats_CL.py:443-445).  For layers too large to enumerate
    driver-side, use :func:`pip_join_df` instead."""

    def __init__(self, cand: DataFrame, bc_polys) -> None:
        self.cand = cand
        self.bc_polys = bc_polys


def prepare_layer(
    spark: SparkSession, polygons: list
) -> PreparedLayer:
    """``polygons``: list of (zone_id, ring) or (zone_id, [rings]) —
    multi-ring entries (holes / multipolygon parts) recombine under
    even-odd semantics in the refinement.  Candidate cells are the
    UNION of each ring's bbox cells (tighter than the combined bbox for
    disjoint parts)."""
    norm = [
        (int(zid), [np.asarray(r, dtype=np.float64) for r in rings]
         if isinstance(rings, (list, tuple))
         else [np.asarray(rings, dtype=np.float64)])
        for zid, rings in polygons
    ]
    cand_rows = [
        (zid, int(c))
        for zid, rings in norm
        for c in sorted({c for ring in rings for c in covering_cells(ring)})
    ]
    cand = spark.createDataFrame(cand_rows, "zone_id int, ccell long")
    bc_polys = spark.sparkContext.broadcast({zid: rings for zid, rings in norm})
    return PreparedLayer(cand, bc_polys)


def pip_join_prepared(points: DataFrame, layer: PreparedLayer) -> DataFrame:
    """Points x prepared-layer inner join -> one row per (point,
    containing polygon).  Broadcast candidate join + exact ray-cast
    refinement; only ``(lon, lat, zone_id)`` cross the Arrow boundary —
    ring coordinates come from the layer broadcast, once per executor.
    Multi-ring zones XOR the crossing test across rings (even-odd)."""
    bc_polys = layer.bc_polys

    @F.pandas_udf(T.BooleanType())
    def _refine(lon: pd.Series, lat: pd.Series, zone: pd.Series) -> pd.Series:
        out = np.zeros(len(lon), dtype=bool)
        lo = lon.to_numpy(dtype=np.float64)
        la = lat.to_numpy(dtype=np.float64)
        for zid, idx in zone.groupby(zone).groups.items():
            ii = np.asarray(idx)
            acc = np.zeros(len(ii), dtype=bool)
            for ring in bc_polys.value[int(zid)]:
                acc ^= points_in_ring(lo[ii], la[ii], ring)
            out[ii] = acc
        return pd.Series(out)

    # fan the point scan out to session parallelism when the source
    # under-partitions (single-file parquet — guide §2.5), gated on the
    # optimizer's size estimate: the vectorized refine is cheap per row,
    # so fanning out only pays once the point set is large enough that
    # serial execution binds (measured: unconditional fan-out cost
    # pip_grid +0.3 s at sf0.1).  Well-partitioned sources (spark.range,
    # many files) pass through untouched, so the scaling workload's
    # partitioning is unchanged.
    from scidbgeo_spark.plans.fanout import fan_out

    points = fan_out(
        points,
        *(c for c in ("doc_id",) if c in points.columns),
        min_bytes=4 << 20,
    )
    pts = points.withColumn("ccell", cell_col(res=CAND_RES, nx=CAND_NX))
    candidates = pts.join(F.broadcast(layer.cand), "ccell")
    return (
        candidates.filter(_refine("lon", "lat", "zone_id"))
        .select(points["*"], F.col("zone_id").cast("long").alias("zone_id"))
    )


def pip_join(
    spark: SparkSession,
    points: DataFrame,
    polygons: list[tuple[int, np.ndarray]],
) -> DataFrame:
    """Points x polygons inner join -> one row per (point, containing
    polygon).  One-shot convenience over prepare_layer +
    pip_join_prepared."""
    return pip_join_prepared(points, prepare_layer(spark, polygons))


def polygons_df(spark: SparkSession, polygons: list[tuple[int, np.ndarray]]) -> DataFrame:
    """Polygon layer as a DataFrame ``(zone_id, xs, ys)`` — the shape a
    GeoJSON/WKT parquet reader produces.  For fixture-sized layers this is
    a createDataFrame; a real deployment reads it with spark.read."""
    rows = [
        (int(zid), [float(v) for v in ring[:, 0]], [float(v) for v in ring[:, 1]])
        for zid, ring in polygons
    ]
    return spark.createDataFrame(
        rows, "zone_id int, xs array<double>, ys array<double>"
    )


def _layer_bbox(poly_df: DataFrame) -> DataFrame:
    """Per-zone bbox (zone_id, x0, x1, y0, y1).  A multi-ring layer
    (``ring_no`` column: holes / multipolygon parts as extra rows)
    aggregates the bbox across its rings — one hash agg on the SMALL
    side, no ring arrays in the output."""
    per_ring = poly_df.select(
        "zone_id",
        F.array_min("xs").alias("x0"),
        F.array_max("xs").alias("x1"),
        F.array_min("ys").alias("y0"),
        F.array_max("ys").alias("y1"),
    )
    if "ring_no" not in poly_df.columns:
        return per_ring
    return per_ring.groupBy("zone_id").agg(
        F.min("x0").alias("x0"),
        F.max("x1").alias("x1"),
        F.min("y0").alias("y0"),
        F.max("y1").alias("y1"),
    )


def covering_cell_estimate(poly_df: DataFrame) -> int:
    """Total covering-cell CANDIDATE ROWS the layer would broadcast —
    the bbox-derived fan-out that plan byte estimates cannot see (a
    continent-extent polygon is a few ring bytes but hundreds of cells).
    One cheap aggregate over the polygon layer only (never the points);
    callers invoke it only once the layer is already known-small by plan
    bytes, so the job it runs is bounded by the broadcast threshold."""
    bbox = _layer_bbox(poly_df)
    ncell = (
        F.floor((F.col("x1") + 180.0) / CAND_RES)
        - F.floor((F.col("x0") + 180.0) / CAND_RES)
        + 1
    ) * (
        F.floor((F.col("y1") + 90.0) / CAND_RES)
        - F.floor((F.col("y0") + 90.0) / CAND_RES)
        + 1
    )
    row = bbox.agg(F.sum(ncell).alias("n")).first()
    return int(row.n or 0)


def _covering_cand(poly_df: DataFrame) -> DataFrame:
    """Distributed BARE covering-cell candidate table (zone_id, ccell):
    each polygon's bbox expands to its coarse cells via sequence+explode
    (pure column algebra).  Ring arrays never ride the expansion — the
    cell fan-out multiplies rows, and rings attach in a later zone-keyed
    join in both strategies."""
    bbox = _layer_bbox(poly_df)
    cy = F.explode(
        F.sequence(
            F.floor((F.col("y0") + 90.0) / CAND_RES),
            F.floor((F.col("y1") + 90.0) / CAND_RES),
        )
    ).alias("cy")
    return (
        bbox.select("zone_id", "x1", "x0", cy)
        .select(
            "zone_id",
            "cy",
            F.explode(
                F.sequence(
                    F.floor((F.col("x0") + 180.0) / CAND_RES),
                    F.floor((F.col("x1") + 180.0) / CAND_RES),
                )
            ).alias("cx"),
        )
        .select(
            "zone_id",
            (F.col("cy") * CAND_NX + F.col("cx")).cast("long").alias("ccell"),
        )
    )


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for a DataFrame (optimized-plan stats) —
    pure metadata, runs NO job: for file sources it is the pruned scan
    size, for local relations the serialized rows."""
    return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))


def pip_join_df(
    spark: SparkSession,
    points: DataFrame,
    poly_df: DataFrame,
    mode: str = "auto",
    broadcast_bytes: int = 8 << 20,
    broadcast_cand_rows: int = 4_000_000,
) -> DataFrame:
    """Points x polygons PIP join with the polygon layer as a DATAFRAME —
    no driver-side polygon loop, so it holds for millions of polygons.

    The join strategy mirrors the reference's mode-2/mode-3 choice
    (SciDB_ZonalStats_CL.py:290-360) and is picked from the layer's
    Catalyst size estimate — plan metadata only, NO extra job:

    - ``broadcast`` (small layer): two broadcast joins, zero shuffles —
      a BARE (zone_id, ccell) candidate table (the covering-cell
      expansion multiplies ROWS, so rings must not ride it: a
      continent-bbox polygon expands to hundreds of cells), then the
      ring arrays broadcast-attach on zone_id just before refinement.
      Broadcast payload is ring bytes (measured from plan stats) plus
      ~16 bytes per covering cell — and the CELL COUNT is bounded by
      the fan-out gate below, not by ring bytes.
    - ``shuffle`` (huge layer): same bare-candidate shape but shuffled;
      rings attach in a zone-keyed shuffle join before refinement.

    Exact ray-cast refinement runs on candidate rows only, with ring
    coordinates converted once per zone per Arrow batch.

    A layer whose plan stats are UNKNOWN (Catalyst's Long.Max sentinel,
    e.g. a parallelized createDataFrame) routes to shuffle: broadcasting
    an unbounded layer risks executor OOM, a shuffled small one is merely
    slower.  File-backed layers (the production shape) carry real scan
    sizes and broadcast when small.

    The broadcast gate is TWO-STAGE (r3 advice): ring bytes alone cannot
    bound the candidate table — the covering-cell fan-out scales with
    bbox AREA, not payload, so ~100k small-payload continent-extent
    polygons under 8 MB could expand to tens of millions of broadcast
    rows.  If plan bytes pass, a cheap aggregate over the (already
    known-small) layer computes the exact bbox-derived candidate-row
    count and must also pass ``broadcast_cand_rows`` (~16 bytes/row:
    4M rows ~ 64 MB).  The big-layer path stays action-free: oversized
    plan bytes route to shuffle without running anything.

    A multi-ring layer (``ring_no`` column: holes / multipolygon parts
    as extra (zone_id, ring_no, xs, ys) rows) joins under EVEN-ODD
    semantics: a point is inside a zone iff it crosses an odd number of
    that zone's rings — XOR across rings, which is exactly the crossing
    test the single-ring kernel already implements, so holes subtract
    and disjoint parts union with no orientation bookkeeping."""
    if mode == "auto":
        if plan_size_bytes(poly_df) > broadcast_bytes:
            mode = "shuffle"
        else:
            # the fan-out gate's 1-row aggregate is the only job a
            # query BUILDER may run, and a polygon layer is static
            # across the queries that join against it — so the estimate
            # caches on the layer DataFrame itself: repeated pip_join_df
            # calls on the same layer object (the prepared-layer usage
            # pattern) build their plans with ZERO jobs after the first
            est = getattr(poly_df, "_scidbgeo_ccell_estimate", None)
            if est is None:
                est = covering_cell_estimate(poly_df)
                poly_df._scidbgeo_ccell_estimate = est
            mode = "broadcast" if est <= broadcast_cand_rows else "shuffle"
    if "ring_no" in poly_df.columns:
        return _pip_join_rings(points, poly_df, mode)

    @F.pandas_udf(T.BooleanType())
    def _refine_arrays(
        lon: pd.Series, lat: pd.Series, zone: pd.Series, xs: pd.Series, ys: pd.Series
    ) -> pd.Series:
        out = np.zeros(len(lon), dtype=bool)
        lo = lon.to_numpy(dtype=np.float64)
        la = lat.to_numpy(dtype=np.float64)
        for _zid, idx in zone.groupby(zone).groups.items():
            ii = np.asarray(idx)
            ring = np.column_stack(
                (np.asarray(xs.iloc[ii[0]]), np.asarray(ys.iloc[ii[0]]))
            )
            out[ii] = points_in_ring(lo[ii], la[ii], ring)
        return pd.Series(out)

    rings = poly_df.select("zone_id", "xs", "ys")
    return _candidates(points, poly_df, rings, mode).filter(
        _refine_arrays("lon", "lat", "zone_id", "xs", "ys")
    ).select(points["*"], F.col("zone_id").cast("long").alias("zone_id"))


def _candidates(
    points: DataFrame, poly_df: DataFrame, rings: DataFrame, mode: str
) -> DataFrame:
    """Candidate (point, zone) rows of the DataFrame-layer PIP join: the
    points' candidate cell joins the bare covering-cell table, then the
    zone-keyed ``rings`` frame attaches — both joins broadcast or both
    shuffled, per ``mode``."""
    pts = points.withColumn("ccell", cell_col(res=CAND_RES, nx=CAND_NX))
    if mode == "broadcast":
        hits = pts.join(F.broadcast(_covering_cand(poly_df)), "ccell")
        return hits.join(F.broadcast(rings), "zone_id")
    if mode == "shuffle":
        # explicit: a layer too big to replicate must not be broadcast
        # even if Catalyst's size estimate would allow it
        cand = _covering_cand(poly_df).hint("shuffle_hash")
        hits = pts.join(cand, "ccell")
        return hits.join(rings.hint("shuffle_hash"), "zone_id")
    raise ValueError(f"unknown pip mode {mode!r}")


def _pip_join_rings(points: DataFrame, poly_df: DataFrame, mode: str) -> DataFrame:
    """Even-odd PIP join for multi-ring layers (holes / MULTIPOLYGON).

    Rings arrive as (zone_id, ring_no, xs, ys) rows; they group to one
    (zone_id, rings_xs, rings_ys) row per zone on the SMALL side before
    attaching, so the candidate EXPANSION stays bare (cells multiply
    rows without ring payload).  After the zone-keyed attach each
    candidate row does carry its zone's full ring set through the Arrow
    boundary (the same trade as the single-ring _refine_arrays path —
    coordinates convert once per zone per batch, but transfer is
    per-row); for driver-enumerable layers where that dominates,
    pip_join_prepared ships rings via broadcast instead (it accepts
    multi-ring entries too).  The refinement XORs the crossing test
    across rings: odd crossings = inside (holes subtract, disjoint
    parts union)."""
    grouped = poly_df.groupBy("zone_id").agg(
        F.array_sort(F.collect_list(F.struct("ring_no", "xs", "ys"))).alias("rs")
    )
    rings = grouped.select(
        "zone_id",
        F.transform("rs", lambda r: r["xs"]).alias("rings_xs"),
        F.transform("rs", lambda r: r["ys"]).alias("rings_ys"),
    )

    @F.pandas_udf(T.BooleanType())
    def _refine_rings(
        lon: pd.Series, lat: pd.Series, zone: pd.Series, rxs: pd.Series, rys: pd.Series
    ) -> pd.Series:
        out = np.zeros(len(lon), dtype=bool)
        lo = lon.to_numpy(dtype=np.float64)
        la = lat.to_numpy(dtype=np.float64)
        for _zid, idx in zone.groupby(zone).groups.items():
            ii = np.asarray(idx)
            zxs, zys = rxs.iloc[ii[0]], rys.iloc[ii[0]]
            acc = np.zeros(len(ii), dtype=bool)
            for xs_, ys_ in zip(zxs, zys):
                ring = np.column_stack((np.asarray(xs_), np.asarray(ys_)))
                acc ^= points_in_ring(lo[ii], la[ii], ring)
            out[ii] = acc
        return pd.Series(out)

    return _candidates(points, poly_df, rings, mode).filter(
        _refine_rings("lon", "lat", "zone_id", "rings_xs", "rings_ys")
    ).select(points["*"], F.col("zone_id").cast("long").alias("zone_id"))


def pip_counts(spark: SparkSession, points: DataFrame, polygons) -> DataFrame:
    """Zonal rollup over the PIP join: points per zone."""
    return (
        pip_join(spark, points, polygons)
        .groupBy("zone_id")
        .agg(F.count("*").alias("n_points"))
    )


# Morton-quad -> Hilbert-digit state machine, derived from the classic
# xy2d rotation loop (the public-domain algorithm on the "Hilbert
# curve" Wikipedia page) by composing its reflect/swap mutations into 4
# orientation states; exhaustively verified bijective on small grids
# and pinned against the reference loop in tests.  Indexed by
# state*4 + morton_quad where quad = x_bit<<1 | y_bit.
HILBERT_DLUT = (0, 1, 3, 2, 0, 3, 1, 2, 2, 1, 3, 0, 2, 3, 1, 0)
HILBERT_TLUT = (1, 0, 2, 0, 0, 3, 1, 1, 2, 2, 0, 3, 3, 1, 3, 2)


def hilbert_cell_col(lon: str = "lon", lat: str = "lat", bits: int = ZORDER_BITS):
    """HILBERT-curve cell id on the same 0.01-degree grid as
    :func:`zorder_cell_col` — the locality-optimal space-filling index:
    consecutive ids are ALWAYS grid 4-neighbors (no Z-order seam jumps),
    so range scans touch compact spatial blobs and sort-based
    clustering packs parquet files tighter.

    Shape: a linear-size FOLD (``F.aggregate``) over the 16 Morton
    quads MSB-first, threading (digit-accumulator, orientation-state)
    through the 4-state LUT — the naive per-level rotate expression
    nests x/y references and grows EXPONENTIALLY in the plan tree; the
    fold stays linear and whole-stage-codegens.  The DuckDB oracle is
    the identical ``list_reduce``."""
    cx = F.floor((F.col(lon) + 180.0) / ZORDER_RES).cast("long")
    cy = F.floor((F.col(lat) + 90.0) / ZORDER_RES).cast("long")
    dlut = F.array(*[F.lit(v) for v in HILBERT_DLUT])
    tlut = F.array(*[F.lit(v) for v in HILBERT_TLUT])
    quads = F.array(
        *[
            (F.shiftright(cx, b) % 2 * 2 + F.shiftright(cy, b) % 2).cast("int")
            for b in range(bits - 1, -1, -1)
        ]
    )
    init = F.struct(
        F.lit(0).cast("long").alias("d"), F.lit(0).cast("int").alias("t")
    )
    return F.aggregate(
        quads,
        init,
        lambda acc, q: F.struct(
            (
                acc["d"] * 4
                + F.element_at(dlut, acc["t"] * 4 + q + 1).cast("long")
            ).alias("d"),
            F.element_at(tlut, acc["t"] * 4 + q + 1).alias("t"),
        ),
        lambda acc: acc["d"],
    )


QT_R0, QT_RMAX = 4, 16  # quadtree depth range (bits per axis)
QT_CAP = 20  # split a cell while it holds more points than this


def quadtree_split(
    pts: DataFrame, cap: int = QT_CAP, r0: int = QT_R0, rmax: int = QT_RMAX
) -> DataFrame:
    """ADAPTIVE TILE SPLITTING (the north rule's dense-cell answer,
    beyond salting): quadtree leaves over the point set — a cell splits
    into its four Z-order children while it holds more than ``cap``
    points, from ``r0`` bits/axis down to ``rmax``.  Output one row per
    LEAF: (res, cell, n_points); leaves tile the space without overlap
    and every leaf holds <= cap points unless it bottomed out at rmax
    (the documented floor — the hot cell stays identifiable).

    NO driver loop: point counts are MONOTONE down the tree (a child
    never outcounts its parent), so "the shallowest ancestor with count
    <= cap" IS the split-until-under-cap leaf — computable in one pass:
    a constant (rmax - r0 + 1)-fan explode of each point's ancestor
    prefixes, ONE map-side-combinable (res, cell) count, one equi-join
    back, and a min_by per point.  The iterative split loop every
    quadtree builder writes becomes pure relational algebra, which is
    exactly what survives a 1000-executor scale-up (compare
    plans/skew.hot_keys for the 1-D salting analog)."""
    if not (0 < r0 <= rmax <= ZORDER_BITS):
        raise ValueError(f"bad quadtree depth range [{r0}, {rmax}]")
    levels = F.array(*[F.lit(r) for r in range(r0, rmax + 1)])
    lv = pts.select(
        "doc_id", zorder_cell_col().alias("z16")
    ).select(
        "doc_id",
        "z16",
        F.explode(levels).alias("r"),
    ).select(
        "doc_id",
        "r",
        F.expr(f"shiftright(z16, cast(2 * ({ZORDER_BITS} - r) as int))").alias(
            "cell"
        ),
    )
    counts = lv.groupBy("r", "cell").agg(F.count("*").alias("n"))
    elig = lv.join(counts, ["r", "cell"]).filter(
        (F.col("n") <= cap) | (F.col("r") == rmax)
    )
    leaf = elig.groupBy("doc_id").agg(
        F.min("r").alias("res"), F.expr("min_by(cell, r)").alias("cell")
    )
    return leaf.groupBy("res", "cell").agg(F.count("*").alias("n_points"))


def hilbert_block_range(cx0: int, cy0: int, k: int) -> tuple[int, int]:
    """[d0, d1) of the quadtree-aligned block ``cx in [cx0, cx0+2^k),
    cy in [cy0, cy0+2^k)`` on the HILBERT curve: like Z-order, any
    aligned 2^k x 2^k block is one contiguous id range of length 4^k
    (the curve visits a quadtree node's subtree before leaving it), so
    box queries stay single range predicates — but with Hilbert the
    RANGES of adjacent blocks are also spatially adjacent, so multi-
    block boxes need fewer ranges than Z-order's seam-jumping ids.
    The block's id prefix is the Hilbert index of the block corner at
    depth bits-k, via the same DLUT/TLUT machine as the cell fold."""
    if cx0 % (1 << k) or cy0 % (1 << k):
        raise ValueError(f"block origin ({cx0},{cy0}) not aligned to 2^{k}")
    bx, by = cx0 >> k, cy0 >> k
    bits = ZORDER_BITS - k
    d, t = 0, 0
    for i in range(bits - 1, -1, -1):
        quad = (((bx >> i) & 1) << 1) | ((by >> i) & 1)
        d = d * 4 + HILBERT_DLUT[t * 4 + quad]
        t = HILBERT_TLUT[t * 4 + quad]
    return d << (2 * k), (d << (2 * k)) + 4**k


GEOHASH_BITS = 15  # per axis -> 30-bit code = 6 base32 chars
GEOHASH_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_cell_col(lon: str = "lon", lat: str = "lat"):
    """Standard GEOHASH code (30-bit integer form) — the third cell
    family next to Z-order and Hilbert: identical bisection semantics to
    the textbook algorithm via integer quantization (lon_q =
    floor((lon+180)/360 * 2^15), lat likewise), with longitude taking
    the even bit positions from the MSB exactly as Niemeyer's encoding
    interleaves.  Pure JVM bit algebra; prefix truncation by 5-bit
    steps is the parent-cell operation (each base32 char = one level)."""
    scale = 1 << GEOHASH_BITS
    qx = F.least(
        F.floor((F.col(lon) + 180.0) / 360.0 * scale), F.lit(scale - 1)
    ).cast("long")
    qy = F.least(
        F.floor((F.col(lat) + 90.0) / 180.0 * scale), F.lit(scale - 1)
    ).cast("long")
    g = F.lit(0).cast("long")
    for j in range(GEOHASH_BITS):
        g = g + F.shiftleft(F.shiftright(qx, j) % 2, 2 * j + 1)
        g = g + F.shiftleft(F.shiftright(qy, j) % 2, 2 * j)
    return g


def geohash_str_col(code):
    """Base32 text form of a 30-bit geohash code (6 chars, standard
    alphabet)."""
    abc = F.array(*[F.lit(ch) for ch in GEOHASH_B32])
    parts = [
        F.element_at(abc, (F.shiftright(code, 25 - 5 * c) % 32 + 1).cast("int"))
        for c in range(6)
    ]
    return F.concat(*parts)


def winding_join(pts: DataFrame, edges: DataFrame) -> DataFrame:
    """WINDING-NUMBER point-in-polygon in pure column algebra — the
    semantics the even-odd ray cast cannot express: self-overlapping
    rings (a pentagram's center has winding number 2) count as INSIDE
    under the nonzero rule and OUTSIDE under even-odd.  Returns one row
    per zone: (zone_id, n_winding, n_evenodd) — both rules computed
    from the SAME directed-edge crossings so the divergence is visible
    in one result.

    ``edges``: (zone_id, x1, y1, x2, y2) directed ring edges — a layer
    table orders of magnitude smaller than the points, so it
    BROADCASTS; the crossing test per (point, edge) is the standard
    half-open rule (y1 <= py < y2 upward with the point strictly left;
    reversed for downward), summed signed for winding and unsigned for
    parity.  One broadcast join + one agg per key pair: no shuffle of
    the point table beyond the final zone-keyed count."""
    cross = (F.col("x2") - F.col("x1")) * (F.col("lat") - F.col("y1")) - (
        F.col("lon") - F.col("x1")
    ) * (F.col("y2") - F.col("y1"))
    up = (F.col("y1") <= F.col("lat")) & (F.col("lat") < F.col("y2")) & (cross > 0)
    dn = (F.col("y2") <= F.col("lat")) & (F.col("lat") < F.col("y1")) & (cross < 0)
    per_pt = (
        pts.crossJoin(F.broadcast(edges))
        .select(
            "doc_id",
            "zone_id",
            (F.when(up, 1).when(dn, -1).otherwise(0)).alias("w"),
            (up | dn).cast("int").alias("c"),
        )
        .groupBy("doc_id", "zone_id")
        .agg(F.sum("w").alias("wn"), F.sum("c").alias("cr"))
    )
    return per_pt.groupBy("zone_id").agg(
        F.sum((F.col("wn") != 0).cast("long")).alias("n_winding"),
        F.sum((F.col("cr") % 2 == 1).cast("long")).alias("n_evenodd"),
    )


# Pentagram star ring (self-overlapping: winding number 2 in the core) +
# a plain square control zone where winding and even-odd agree.  Integer
# template scaled by /200 around (10.05, 10.05) so the layer covers the
# fixture's hot cell.
STAR_TEMPLATE = [(0, 100), (59, -81), (-95, 31), (95, 31), (-59, -81)]
WINDING_ZONES = [
    (1, [(10.05 + x / 200.0, 10.05 + y / 200.0) for x, y in STAR_TEMPLATE]),
    (2, [(9.9, 9.9), (10.3, 9.9), (10.3, 10.3), (9.9, 10.3)]),
]


def winding_zone_edges() -> list[tuple]:
    """(zone_id, x1, y1, x2, y2) directed edges of WINDING_ZONES —
    shared verbatim by the Spark layer and the oracle's VALUES list."""
    rows = []
    for zid, ring in WINDING_ZONES:
        for i, (x1, y1) in enumerate(ring):
            x2, y2 = ring[(i + 1) % len(ring)]
            rows.append((zid, x1, y1, x2, y2))
    return rows


def winding_edges(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        winding_zone_edges(),
        "zone_id long, x1 double, y1 double, x2 double, y2 double",
    )


def boundary_edges(spark: SparkSession, polygons: list) -> DataFrame:
    """(zone_id, eidx, x1, y1, x2, y2) directed ring edges of a
    driver-side polygon list (rings close implicitly) — the layer table
    for :func:`boundary_distance_join`."""
    rows = []
    for zid, ring in polygons:
        r = [(float(x), float(y)) for x, y in np.asarray(ring)]
        for i, (x1, y1) in enumerate(r):
            x2, y2 = r[(i + 1) % len(r)]
            rows.append((int(zid), i, x1, y1, x2, y2))
    return spark.createDataFrame(
        rows,
        "zone_id long, eidx long, x1 double, y1 double, x2 double, y2 double",
    )


def boundary_distance_join(pts: DataFrame, edges: DataFrame) -> DataFrame:
    """Distance-to-BOUNDARY join — the proximity/buffer primitive
    (how far is each page's geotag from the nearest zone edge): per
    point, the minimum squared point-to-segment distance over the
    layer's edges plus the owning zone/edge under the deterministic
    (d2, zone_id, eidx) tie rule.  Output (doc_id, d2, zone_id, eidx).

    Segment distance via the standard clamped projection, branchless in
    column algebra: t = (P-A)·(B-A) clamped to [0, len2], d2 =
    |P-A|^2 - 2t(P-A)·(B-A)/len2 + t^2/len2 computed in its cross/dot
    closed forms — endpoint cases reduce to |PA|^2 / |PB|^2 exactly.
    Doubles are deterministic (same arithmetic both engines).

    Scale shape: the edge table BROADCASTS (layers are the small side);
    the min is a map-side-combinable struct-min keyed by doc — the
    point table never shuffles beyond that agg.  For web-scale layers,
    gate candidates through the covering-cell index first (pip_join_df
    pattern) — the exact kernel below is unchanged."""
    px, py = F.col("lon"), F.col("lat")
    ax, ay, bx, by = F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2")
    dx, dy = bx - ax, by - ay
    len2 = dx * dx + dy * dy
    dot = (px - ax) * dx + (py - ay) * dy
    pa2 = (px - ax) * (px - ax) + (py - ay) * (py - ay)
    pb2 = (px - bx) * (px - bx) + (py - by) * (py - by)
    cross = dx * (py - ay) - dy * (px - ax)
    d2 = (
        F.when(len2 == 0, pa2)
        .when(dot <= 0, pa2)
        .when(dot >= len2, pb2)
        .otherwise(cross * cross / len2)
    )
    scored = pts.crossJoin(F.broadcast(edges)).select(
        "doc_id",
        F.struct(
            d2.alias("d2"), F.col("zone_id").alias("zone_id"), F.col("eidx")
        ).alias("cand"),
    )
    m = scored.groupBy("doc_id").agg(F.min("cand").alias("m"))
    return m.select(
        "doc_id", F.col("m.d2").alias("d2"), F.col("m.zone_id").alias("zone_id"),
        F.col("m.eidx").alias("eidx"),
    )
