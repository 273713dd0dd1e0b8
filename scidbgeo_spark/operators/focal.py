"""Focal / moving-window operator: AFL ``window(A,1,1,1,1,avg(value))``
(SciDB_analysis.py:81), the reference's chunk-*overlap* workload
(SciDBParallel.py:182-185 materializes halo cells at load time; README
notes "Adding overlap increases data loading time").

Spark design: **compute-time halo instead of storage-time halo.**  Each
chunk row emits up to 9 messages — itself plus the one-cell border strips
its 8 neighbors need — entirely with JVM array expressions (slice /
transform / flatten, codegen'd).  One shuffle groups messages by recipient
chunk; a pandas kernel assembles the (h+2)x(w+2) padded array and runs the
vectorized 3x3 shrinking-window mean.  Shuffle volume is ~ (1 + 4/chunk) x
the raster, vs 9x for the naive COO 2-D self-join.

Every per-cell focal operator runs through ONE path, :func:`_halo_run`:
halo messages, the recipient-chunk ``applyInPandas``, padded-array
assembly, then the operator's NumPy kernel ``kernel(key, vals, mask,
interior)``.  An operator is its kernel, its output schema and any
closing aggregate; kernels that emit cells build their rows with
:func:`_cell_frame`.  Only the materialized-halo reference mode
(:func:`focal_mean_sum36_overlap`) has no exchange and its own path.

The headline aggregate ``sum(value_avg)`` is returned in the exact integer
encoding sum36 = sum(box_sum * 36/box_count) (see kernels.focal_sum36), so
the result is bitwise reproducible across partitionings and engines.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scidbgeo_spark.kernels import focal_mean, focal_sum36, steepest_descent

_OFFSETS = [(oy, ox) for oy in (-1, 0, 1) for ox in (-1, 0, 1)]


def _message_expr(oy: int, ox: int, nty: int, ntx: int, r: int, extra: str) -> str:
    """SQL expression for the halo message a chunk sends to neighbor
    (tile_y+oy, tile_x+ox): the r-cell border strip of px adjacent to
    it (r = window radius; the 8-neighbor scheme needs every tile to be
    >= r cells in each dimension, validated by the caller).  ``extra``
    prepends additional key fields into the message struct (the 3-D
    path routes 'band' through it so slices never mix)."""
    ry0 = f"(h-{r})" if oy == 1 else "0"
    nr = str(r) if oy != 0 else "h"
    cx0 = f"(w-{r})" if ox == 1 else "0"
    nc = str(r) if ox != 0 else "w"
    if oy == 0 and ox == 0:
        frag = "px"
    else:
        frag = (
            f"flatten(transform(sequence({ry0}, {ry0} + {nr} - 1), "
            f"r -> slice(px, r * w + {cx0} + 1, {nc})))"
        )
    cond = (
        f"tile_y + {oy} >= 0 AND tile_y + {oy} < {nty} "
        f"AND tile_x + {ox} >= 0 AND tile_x + {ox} < {ntx}"
    )
    s = (
        f"named_struct({extra}'rty', tile_y + {oy}, 'rtx', tile_x + {ox}, "
        f"'sy', {-oy}, 'sx', {-ox}, 'fh', {nr}, 'fw', {nc}, 'frag', {frag})"
    )
    return f"CASE WHEN {cond} THEN {s} END"


def _check_radius(height: int, width: int, chunk: int, r: int) -> None:
    """The 8-neighbor halo exchange sends strips from ADJACENT tiles
    only, so every tile (incl. ragged edges) must span >= r cells."""
    if r < 1 or r > chunk:
        raise ValueError(f"radius {r} must be in [1, chunk={chunk}]")
    for dim in (height, width):
        rag = dim % chunk
        if rag and rag < r:
            raise ValueError(
                f"radius {r} > ragged edge tile span {rag} "
                f"(dim {dim}, chunk {chunk}): pick a chunk that divides "
                "the raster or leaves an edge >= radius"
            )


def _halo_messages(
    tiles: DataFrame, height: int, width: int, chunk: int, r: int, extra: str
) -> DataFrame:
    """One exchange of border strips; ``extra`` prepends key fields into
    every message struct (the 3-D path routes 'band' through it)."""
    _check_radius(height, width, chunk, r)
    nty = -(-height // chunk)
    ntx = -(-width // chunk)
    msgs = ", ".join(
        _message_expr(oy, ox, nty, ntx, r, extra) for oy, ox in _OFFSETS
    )
    return (
        tiles.select(F.expr(f"filter(array({msgs}), m -> m IS NOT NULL)").alias("ms"))
        .select(F.explode("ms").alias("m"))
        .select("m.*")
    )


def _assemble(pdf: pd.DataFrame, r: int):
    """Paste center + halo fragments into an r-padded array; returns
    (vals, mask, interior) for the kernel."""
    center = pdf[(pdf.sy == 0) & (pdf.sx == 0)].iloc[0]
    h, w = int(center.fh), int(center.fw)
    vals = np.zeros((h + 2 * r, w + 2 * r), dtype=np.int64)
    mask = np.zeros((h + 2 * r, w + 2 * r), dtype=bool)
    for row in pdf.itertuples():
        fh, fw = int(row.fh), int(row.fw)
        r0 = 0 if row.sy == -1 else (r if row.sy == 0 else r + h)
        c0 = 0 if row.sx == -1 else (r if row.sx == 0 else r + w)
        frag = np.asarray(row.frag, dtype=np.int64).reshape(fh, fw)
        vals[r0 : r0 + fh, c0 : c0 + fw] = frag
        mask[r0 : r0 + fh, c0 : c0 + fw] = True
    return vals, mask, (slice(r, r + h), slice(r, r + w))


def _halo_run(
    tiles: DataFrame,
    height: int,
    width: int,
    chunk: int,
    r: int,
    kernel,
    schema: str,
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """The focal path: one halo exchange, one pandas group per recipient
    chunk, ``kernel(key, vals, mask, interior)`` on its r-padded array.
    ``key`` is ``(*keys, tile_y, tile_x)``; ``keys`` ride the message
    struct, so a 3-D raster's bands share the one exchange and never mix."""
    extra = "".join(f"'{k}', {k}, " for k in keys)
    msgs = _halo_messages(tiles, height, width, chunk, r, extra)

    def _tile(key, pdf):
        return kernel(key, *_assemble(pdf, r))

    return msgs.groupBy(*keys, "rty", "rtx").applyInPandas(_tile, schema=schema)


def _cell_frame(key, chunk: int, interior, keep=None, **cols) -> pd.DataFrame:
    """Per-cell rows (y, x, **cols) of the tile ``key`` ends with, in
    row-major order over ``interior``; ``keep`` (interior-shaped bool)
    drops cells, and ``cols`` are then given for the kept cells only."""
    iy, ix = interior
    th, tw = iy.stop - iy.start, ix.stop - ix.start
    y = np.repeat(np.arange(th, dtype=np.int64) + int(key[-2]) * chunk, tw)
    x = np.tile(np.arange(tw, dtype=np.int64) + int(key[-1]) * chunk, th)
    if keep is not None:
        y, x = y[keep.ravel()], x[keep.ravel()]
    return pd.DataFrame({"y": y, "x": x, **{k: np.ravel(v) for k, v in cols.items()}})


def focal_mean_sum36(
    tiles: DataFrame, height: int, width: int, chunk: int
) -> DataFrame:
    """aggregate(window(A,1,1,1,1,avg(value)), sum(value_avg)) — exact
    integer encoding; divide by 36.0 for the float value."""

    def _partial(key, vals, mask, interior):
        return pd.DataFrame({"ps": [focal_sum36(vals, mask, interior)]})

    partials = _halo_run(tiles, height, width, chunk, 1, _partial, "ps long")
    return partials.agg(F.sum("ps").alias("focal_sum36"))


def focal_mean_sum36_overlap(
    coo: DataFrame, height: int, width: int, chunk: int
) -> DataFrame:
    """Materialized-halo variant: the reference's chunk *overlap* storage
    model (``create array ... [y,chunk,overlap]`` — SciDBParallel.py:182-185;
    README: "Adding overlap increases data loading time").

    Each COO cell is redimensioned into every chunk whose 1-cell halo
    window contains it (~1 + 4/chunk storage blow-up), so the focal kernel
    needs no neighbor exchange at query time — the load-time/query-time
    trade the reference benchmarks as its 'overlap' mode.  Same result as
    focal_mean_sum36 (pinned by tests/oracle)."""
    bias = 2147483648
    cands = []
    for oy in (-1, 0, 1):
        for ox in (-1, 0, 1):
            cands.append(
                F.struct(
                    F.expr(f"CAST((y + {oy}) DIV {chunk} AS INT)").alias("ty"),
                    F.expr(f"CAST((x + {ox}) DIV {chunk} AS INT)").alias("tx"),
                )
            )
    nty = -(-height // chunk)
    ntx = -(-width // chunk)
    t = (
        coo.select("y", "x", "value", F.explode(F.array_distinct(F.array(*cands))).alias("t"))
        .select("y", "x", "value", F.col("t.ty").alias("ty"), F.col("t.tx").alias("tx"))
        .filter(
            (F.col("ty") >= 0) & (F.col("ty") < nty) & (F.col("tx") >= 0) & (F.col("tx") < ntx)
        )
    )
    w_t = F.least(F.lit(chunk), F.lit(width) - F.col("tx") * chunk).cast("long")
    h_t = F.least(F.lit(chunk), F.lit(height) - F.col("ty") * chunk).cast("long")
    off = (F.col("y") - (F.col("ty").cast("long") * chunk - 1)) * (w_t + 2) + (
        F.col("x") - (F.col("tx").cast("long") * chunk - 1)
    )
    enc = off * F.lit(4294967296).cast("long") + (F.col("value") + bias)
    g = t.select("ty", "tx", enc.alias("enc"), h_t.alias("ht"), w_t.alias("wt")).groupBy(
        "ty", "tx"
    ).agg(
        F.array_sort(F.collect_list("enc")).alias("cells"),
        F.first("ht").alias("ht"),
        F.first("wt").alias("wt"),
    )

    def _partial(pdf):
        out = []
        for row in pdf.itertuples():
            ph, pw = int(row.ht) + 2, int(row.wt) + 2
            cells = np.asarray(row.cells, dtype=np.int64)
            offs = cells >> 32
            vals = (cells & 0xFFFFFFFF) - 2147483648
            grid = np.zeros(ph * pw, dtype=np.int64)
            mask = np.zeros(ph * pw, dtype=bool)
            grid[offs] = vals
            mask[offs] = True
            out.append(
                focal_sum36(
                    grid.reshape(ph, pw),
                    mask.reshape(ph, pw),
                    (slice(1, ph - 1), slice(1, pw - 1)),
                )
            )
        return pd.DataFrame({"ps": out})

    partials = g.mapInPandas(lambda it: (_partial(pdf) for pdf in it), schema="ps long")
    return partials.agg(F.sum("ps").alias("focal_sum36"))


def focal_extrema_coo(
    tiles: DataFrame, height: int, width: int, chunk: int, radius: int = 1
) -> DataFrame:
    """``window(A, r, r, r, r, min(value)) / max(value)`` in ONE pass:
    per-cell shrinking-window min and max as COO rows
    (y, x, min_value, max_value) — same halo exchange as the mean, a
    separable sliding-extreme kernel instead of the cumsum."""
    from scidbgeo_spark.kernels import box_extrema

    def _tile(key, vals, mask, interior):
        mn, mx = box_extrema(vals, mask, interior, radius)
        return _cell_frame(key, chunk, interior, min_value=mn, max_value=mx)

    return _halo_run(
        tiles, height, width, chunk, radius, _tile,
        "y long, x long, min_value long, max_value long",
    )


def focal_var_coo(
    tiles: DataFrame, height: int, width: int, chunk: int, radius: int = 1
) -> DataFrame:
    """``window(A, r, r, r, r, var(value))`` — the local-variance
    (texture / edge-energy) filter, the screening layer GIS stacks run
    before segmentation.  Exact-integer interior: per cell the
    shrinking-window count ``n_cells``, sum ``sum_v`` and the scaled
    population variance ``nvar = n*sum(v^2) - sum(v)^2`` (= n^2 * var,
    always a non-negative integer), plus ``var_pop = nvar / n^2`` as
    the one double finish — both engines divide the same exact
    integers, so the double matches bitwise.

    Scale shape: the focal_mean halo exchange (9 border-strip messages,
    one shuffle) + two cumsum box passes per tile (value and value^2 —
    values < 2^9 so v^2 box sums sit far inside int64); no extra
    exchange over the mean filter.
    """
    from scidbgeo_spark.kernels import box_sum_count

    def _tile(key, vals, mask, interior):
        s1, n = box_sum_count(vals, mask, radius)
        s2, _ = box_sum_count(vals * vals, mask, radius)
        s1, s2, n = s1[interior], s2[interior], n[interior]
        nvar = n * s2 - s1 * s1
        return _cell_frame(
            key, chunk, interior,
            n_cells=n, sum_v=s1, nvar=nvar, var_pop=nvar / (n * n),
        )

    return _halo_run(
        tiles, height, width, chunk, radius, _tile,
        "y long, x long, n_cells long, sum_v long, nvar long, var_pop double",
    )


def focal_mode_coo(
    tiles: DataFrame, height: int, width: int, chunk: int
) -> DataFrame:
    """``window(A, 1, 1, 1, 1, mode(value))`` — the categorical
    majority/mode smoothing filter (the resampling kernel GIS stacks
    call "majority filter"), ties broken to the SMALLEST value so the
    result is deterministic on any cluster: (y, x, mode_value) rows.
    Same single halo exchange as every focal op here; the kernel is a
    sorted-stack run-length argmax (kernels.box_mode), no Python loop
    over cells."""
    from scidbgeo_spark.kernels import box_mode

    def _tile(key, vals, mask, interior):
        m = box_mode(vals, mask, interior)
        return _cell_frame(key, chunk, interior, mode_value=m)

    return _halo_run(
        tiles, height, width, chunk, 1, _tile, "y long, x long, mode_value long"
    )


def focal_mean_tiles(
    tiles: DataFrame, height: int, width: int, chunk: int, radius: int = 1
) -> DataFrame:
    """Full focal-mean raster as chunk rows (float payload) — the
    materialized form of ``window(A, r, r, r, r, avg(value))`` for any
    window radius (the reference's AFL window op takes arbitrary bounds;
    the halo exchange sends r-cell strips, the kernel slides a
    (2r+1)^2 shrinking box)."""
    def _tile(key, vals, mask, interior):
        m = focal_mean(vals, mask, interior, radius)
        th, tw = m.shape
        return pd.DataFrame(
            {
                "tile_y": [int(key[0])],
                "tile_x": [int(key[1])],
                "y0": [int(key[0]) * chunk],
                "x0": [int(key[1]) * chunk],
                "h": [th],
                "w": [tw],
                "px": [m.ravel()],
            }
        )

    return _halo_run(
        tiles, height, width, chunk, radius, _tile,
        "tile_y int, tile_x int, y0 long, x0 long, h int, w int, px array<double>",
    )


def terrain_coo(
    tiles: DataFrame, height: int, width: int, chunk: int
) -> DataFrame:
    """Horn (1981) 3x3 terrain derivatives in ONE halo exchange: per-cell
    integer gradients, slope, aspect octant, and hillshade — the classic
    raster-DB surface-analysis family (the reference's ``window(...)``
    workload shape, SciDB_analysis.py:81, with a derivative kernel in
    place of the mean).

    Exactness contract (hash-comparable to a closed-form SQL oracle):

    - ``gx``/``gy``: integer Horn sums, x increasing east and y
      increasing SOUTH (array order) — gx = (NE+2E+SE)-(NW+2W+SW),
      gy = (SW+2S+SE)-(NW+2N+NE).
    - ``slope`` = sqrt(gx^2+gy^2)/8 at cell size 1: the int->double
      conversion is exact, IEEE sqrt is correctly rounded, /8 is a
      power of two — bit-reproducible across engines.
    - ``d8``: gradient octant, 45-degree wedges between the compass
      rays, counterclockwise from east; boundary angles belong to the
      higher octant; 0 = flat.  Pure integer comparisons.
    - ``hillshade``: sun azimuth 315 (NW) / altitude 45, derived
      algebraically from (gx, gy) — no trig beyond sqrt — and rounded
      to an int in [0, 255], collapsing any residual ULP risk.

    Only INTERIOR cells (all 8 neighbors present) are emitted: edge
    gradients are undefined, exactly like GDAL's default edge handling.

    Scale shape: identical to every focal op here — one JVM-side border
    exchange (~(1 + 4/chunk) x the raster, never 9x), vectorized NumPy
    per tile, output stays distributed COO.
    """
    def _tile(key, vals, mask, interior):
        iy, ix = interior
        th = iy.stop - iy.start
        tw = ix.stop - ix.start

        def n(dy, dx):
            return vals[1 + dy : 1 + dy + th, 1 + dx : 1 + dx + tw]

        a, b, c = n(-1, -1), n(-1, 0), n(-1, 1)
        d, f = n(0, -1), n(0, 1)
        g, s, e = n(1, -1), n(1, 0), n(1, 1)
        gx = (c + 2 * f + e) - (a + 2 * d + g)
        gy = (g + 2 * s + e) - (a + 2 * b + c)
        valid = np.ones((th, tw), dtype=bool)
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                valid &= mask[1 + dy : 1 + dy + th, 1 + dx : 1 + dx + tw]
        gx, gy = gx[valid], gy[valid]
        ax, ay = np.abs(gx), np.abs(gy)
        d8 = np.select(
            [
                (gx == 0) & (gy == 0),
                (gx > 0) & (gy >= 0) & (gy < gx),
                (gy > 0) & (gx > 0),  # gy >= gx implied by CASE order
                (gy > 0) & (gx <= 0) & (ax < gy),
                (gy > 0) & (gx < 0),
                (gx < 0) & (gy <= 0) & (ay < ax),
                (gy < 0) & (gx < 0),
                (gy < 0) & (gx >= 0) & (gx < ay),
            ],
            [0, 1, 2, 3, 4, 5, 6, 7],
            default=8,
        )
        sq = (gx * gx + gy * gy).astype(np.float64)
        slope = np.sqrt(sq) / 8.0
        hs = np.floor(
            np.maximum(
                0.0,
                255.0
                * ((gx + gy) / 16.0 + np.sqrt(0.5))
                / np.sqrt(1.0 + sq / 64.0),
            )
            + 0.5
        )
        return _cell_frame(
            key, chunk, interior, valid,
            gx=gx, gy=gy, slope=slope,
            d8=d8.astype(np.int32), hillshade=hs.astype(np.int32),
        )

    return _halo_run(
        tiles, height, width, chunk, 1, _tile,
        "y long, x long, gx long, gy long, slope double, d8 int, hillshade int",
    )


def focal_mean_time(
    tiles3: DataFrame, height: int, width: int, chunk: int, radius: int = 1
) -> DataFrame:
    """3-D focal mean: the spatial shrinking-window average applied to
    EVERY slice of a [band;y;x] time-series array (AFL
    ``window(A, 0,0, 1,1, 1,1, avg)`` — band radius 0), one query for
    all slices.

    Scale shape: 'band' rides the halo-message KEY (the runner's
    ``keys``), so the ONE existing exchange covers every time slice —
    slices can never mix (grouping is (band, tile)), the time dimension
    adds zero extra shuffles, and a 1000-step series costs the same
    shuffle count as one raster.  Kernel and assembly are the verified
    2-D ones, unchanged."""

    def _tile(key, vals, mask, interior):
        out = focal_mean(vals, mask, interior, radius)
        return pd.DataFrame(
            {
                "band": [int(key[0])],
                "y0": [int(key[1]) * chunk],
                "x0": [int(key[2]) * chunk],
                "w": [out.shape[1]],
                "px": [out.ravel()],
            }
        )

    t = _halo_run(
        tiles3, height, width, chunk, radius, _tile,
        "band int, y0 long, x0 long, w int, px array<double>", keys=("band",),
    )
    e = t.select("band", "y0", "x0", "w", F.posexplode("px").alias("pos", "value_avg"))
    return e.select(
        "band",
        (F.col("y0") + F.expr("pos DIV w")).alias("y"),
        (F.col("x0") + F.expr("pos % w")).alias("x"),
        "value_avg",
    )


# ---------------------------------------------------------------------------
# D8 flow accumulation: hydrology's classic iterative raster workload
# (the reference's window(...) family stops at one-shot kernels; flow
# accumulation chains them — each cell drains to its steepest-descent
# neighbor and the engine counts, per cell, how many cells drain
# through it.  SciDB ships this shape as stream()/iterate loops; here
# it is a halo-exchange edge kernel + a distributed topological peel).
# ---------------------------------------------------------------------------


def flow_edges_coo(
    tiles: DataFrame, height: int, width: int, chunk: int
) -> DataFrame:
    """(uy, ux, ty, tx): each cell's single D8 outflow edge — the
    in-grid 8-neighbor with the smallest value, ties broken by smallest
    (ty, tx) — emitted only where that neighbor's value is STRICTLY
    below the cell's own (otherwise the cell is a pit/sink and has no
    edge).  Strict descent makes the flow graph acyclic by
    construction, so the downstream peel always terminates.

    One JVM-side halo exchange (the same ~(1 + 4/chunk) border-strip
    shuffle every focal op here uses), then a vectorized NumPy argmin
    per tile; output is edge rows, never a dense matrix."""
    def _tile(key, vals, mask, interior):
        # scan order (dy, dx) == target (ty, tx) order, and the strict <
        # keeps the FIRST minimum — exactly ORDER BY value, ty, tx.
        sel, bdy, bdx = steepest_descent(vals, mask)
        c = _cell_frame(key, chunk, interior, sel)
        return pd.DataFrame(
            {"uy": c.y, "ux": c.x, "ty": c.y + bdy[sel], "tx": c.x + bdx[sel]}
        )

    return _halo_run(
        tiles, height, width, chunk, 1, _tile, "uy long, ux long, ty long, tx long"
    )


def flow_accum_coo(
    tiles: DataFrame,
    height: int,
    width: int,
    chunk: int,
    max_rounds: int = 512,
) -> DataFrame:
    """(y, x, acc): D8 flow accumulation — for every cell with at least
    one upstream cell, the exact count of cells whose iterated
    steepest-descent path passes through it.

    Distributed topological peel: LIVE nodes carry (pend = unresolved
    in-edges, acc so far); each round the pend==0 frontier pushes acc+1
    down its out-edge, leaves the loop for good (appended to the result
    parts — finished nodes are never rescanned), and the remaining live
    set subtracts the resolved in-edges.  Rounds = drainage depth, each
    round two key-partitioned shuffles over a MONOTONICALLY SHRINKING
    live set plus ONE emptiness boolean to the driver (no collected
    graph).  On pseudo-random fields the depth is tiny (pits
    everywhere); real DEMs with continental rivers would want the
    O(log depth) ancestor-doubling variant of regions._resolve_roots —
    the state here stays O(cells) either way, never O(paths)."""
    edges = flow_edges_coo(tiles, height, width, chunk).localCheckpoint()
    indeg = edges.groupBy(
        F.col("ty").alias("y"), F.col("tx").alias("x")
    ).agg(F.count("*").alias("pend"))
    nodes = (
        edges.select(F.col("uy").alias("y"), F.col("ux").alias("x"))
        .unionByName(indeg.select("y", "x"))
        .distinct()
    )
    live = (
        nodes.join(indeg, ["y", "x"], "left")
        .select(
            "y",
            "x",
            F.coalesce("pend", F.lit(0)).alias("pend"),
            F.lit(0).cast("long").alias("acc"),
        )
        .localCheckpoint()
    )
    parts: list[DataFrame] = [live.select("y", "x", "acc").limit(0)]
    for _ in range(max_rounds):
        if live.isEmpty():
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out.filter(F.col("acc") > 0).select("y", "x", "acc")
        front = live.filter(F.col("pend") == 0)
        if front.isEmpty():
            raise RuntimeError("flow graph has a cycle (broken edge rule)")
        parts.append(front.select("y", "x", "acc"))
        contrib = (
            front.join(
                edges,
                (front.y == edges.uy) & (front.x == edges.ux),
            )
            .groupBy(F.col("ty").alias("y"), F.col("tx").alias("x"))
            .agg(
                F.sum(F.col("acc") + 1).alias("add"),
                F.count("*").alias("k"),
            )
        )
        live = (
            live.filter(F.col("pend") > 0)
            .join(contrib, ["y", "x"], "left")
            .select(
                "y",
                "x",
                (F.col("pend") - F.coalesce("k", F.lit(0))).alias("pend"),
                (F.col("acc") + F.coalesce("add", F.lit(0))).alias("acc"),
            )
            .localCheckpoint()
        )
    raise RuntimeError(f"flow peel did not drain in {max_rounds} rounds")


def join_counts_coo(
    tiles: DataFrame, height: int, width: int, chunk: int, threshold: int = 126
) -> DataFrame:
    """Join-count statistics — the binary/categorical complement of
    Moran's I: classify each cell black (value >= threshold) or white,
    then count rook-adjacent unordered pairs by color (n_bb, n_bw,
    n_ww).  Classic lattice autocorrelation screen (Cliff & Ord);
    exact integers end to end.

    Scale shape: ONE halo exchange (right and down neighbors come from
    the same border strips every focal op ships), a vectorized NumPy
    pair count per tile, and a single-row global sum — no self-join of
    the raster at any scale."""
    def _tile(key, vals, mask, interior):
        iy, ix = interior
        th = iy.stop - iy.start
        tw = ix.stop - ix.start
        b = (vals >= threshold).astype(np.int64)
        cm = mask[1 : 1 + th, 1 : 1 + tw]
        bc = b[1 : 1 + th, 1 : 1 + tw]
        out = np.zeros(3, dtype=np.int64)  # bb, bw, ww
        for dy, dx in ((0, 1), (1, 0)):
            nb = b[1 + dy : 1 + dy + th, 1 + dx : 1 + dx + tw]
            nm = mask[1 + dy : 1 + dy + th, 1 + dx : 1 + dx + tw]
            ok = cm & nm
            s = bc[ok] + nb[ok]
            out[0] += int((s == 2).sum())
            out[1] += int((s == 1).sum())
            out[2] += int((s == 0).sum())
        return pd.DataFrame(
            {"bb": [out[0]], "bw": [out[1]], "ww": [out[2]]}
        )

    parts = _halo_run(tiles, height, width, chunk, 1, _tile, "bb long, bw long, ww long")
    return parts.agg(
        F.sum("bb").alias("n_bb"),
        F.sum("bw").alias("n_bw"),
        F.sum("ww").alias("n_ww"),
    )


def cost_reach_coo(coo: DataFrame, rounds: int = 4) -> DataFrame:
    """K-step cost propagation (accessibility / cost-distance screen):
    cells with value 0 are sources (cost 0); entering any other cell
    costs its value; after ``rounds`` relaxations every cell knows the
    cheapest 8-connected path of <= ``rounds`` steps from a source —
    (y, x, cost) for the reached cells, exact integers (the bounded-K
    prefix of Dijkstra that a tile-local accessibility pass uses).

    Pure DataFrame algebra, no kernel: each round scatters the current
    frontier to its 9 neighbor offsets (constant x9, like
    point_density) and min-aggregates — one map-side-combinable shuffle
    per round, K fixed and small.  The oracle unrolls the SAME K
    rounds as chained CTEs, so the semantics are pinned exactly."""
    msgs = ", ".join(
        f"named_struct('y2', y + {dy}, 'x2', x + {dx}, 'c', cost)"
        for dy in (-1, 0, 1)
        for dx in (-1, 0, 1)
        if (dy, dx) != (0, 0)
    )
    vals = coo.select("y", "x", "value")
    dist = coo.where(F.col("value") == 0).select(
        "y", "x", F.lit(0).cast("long").alias("cost")
    )
    for _ in range(rounds):
        best = (
            dist.select(F.explode(F.expr(f"array({msgs})")).alias("m"))
            .select("m.*")
            .groupBy(F.col("y2").alias("y"), F.col("x2").alias("x"))
            .agg(F.min("c").alias("best_in"))
        )
        cand = best.join(vals, ["y", "x"]).select(
            "y",
            "x",
            F.when(F.col("value") == 0, F.lit(0).cast("long"))
            .otherwise(F.col("best_in") + F.col("value"))
            .alias("cost"),
        )
        dist = (
            dist.unionByName(cand)
            .groupBy("y", "x")
            .agg(F.min("cost").alias("cost"))
        )
    return dist


def watershed_basins_coo(
    coo: DataFrame,
    tiles: DataFrame,
    height: int,
    width: int,
    chunk: int,
    max_rounds: int = 64,
) -> DataFrame:
    """(y, x, basin_y, basin_x): every cell labeled with the terminal
    D8 sink its iterated steepest-descent path drains to — the
    watershed/basin decomposition of the same flow graph
    :func:`flow_accum_coo` peels (sinks and any cell with no strict
    descent label themselves).

    Pointer jumping (ancestor doubling), the O(log depth) companion the
    flow-accumulation docstring promises: ptr starts as the single
    out-edge (self for sinks), and each round rewrites
    ptr(u) <- ptr(ptr(u)).  Because sinks self-loop, ptr(u) is the
    2^k-step ancestor after k rounds and freezes at the sink, so a
    continental-scale river network converges in ~log2(path length)
    rounds.  Per round: ONE key-partitioned self-join of the
    constant-size pointer table (never O(paths) state) plus one
    emptiness boolean to the driver.  Reference analog: none —
    SciDBGeo stops at one-shot window kernels (SciDB_analysis.py
    window family); this is the iterative drainage workload SciDB
    would hand to stream()/iterate."""
    edges = flow_edges_coo(tiles, height, width, chunk)
    ptr = (
        coo.select("y", "x")
        .join(edges, (F.col("y") == edges.uy) & (F.col("x") == edges.ux), "left")
        .select(
            "y",
            "x",
            F.coalesce("ty", F.col("y")).alias("by"),
            F.coalesce("tx", F.col("x")).alias("bx"),
        )
        .localCheckpoint()
    )
    for _ in range(max_rounds):
        hop = ptr.select(
            F.col("y").alias("hy"),
            F.col("x").alias("hx"),
            F.col("by").alias("nby"),
            F.col("bx").alias("nbx"),
        )
        nxt = (
            ptr.join(hop, (ptr.by == hop.hy) & (ptr.bx == hop.hx))
            .select("y", "x", "by", "bx", "nby", "nbx")
            .localCheckpoint()
        )
        if nxt.filter(
            (F.col("nby") != F.col("by")) | (F.col("nbx") != F.col("bx"))
        ).isEmpty():
            break
        ptr = nxt.select(
            "y", "x", F.col("nby").alias("by"), F.col("nbx").alias("bx")
        )
    else:
        raise RuntimeError(f"pointer jumping did not converge in {max_rounds} rounds")
    return ptr.select(
        "y",
        "x",
        F.col("by").alias("basin_y"),
        F.col("bx").alias("basin_x"),
    )


def edge_density_coo(
    tiles: DataFrame, height: int, width: int, chunk: int, class_div: int = 86
) -> DataFrame:
    """Landscape-ecology EDGE/adjacency matrix: classify cells
    (``value DIV class_div``, the region-labeling reclass) and count
    rook-adjacent unordered cell pairs per (class, class) combination —
    the contagion/fragmentation input (diagonal = interior adjacency,
    off-diagonal = boundary length between the two classes).  Rows
    (cls_a <= cls_b, n_edges), exact integers.

    Scale shape: the join_counts generalization — ONE halo exchange,
    per-tile vectorized pair encoding + bincount, then a
    map-side-combinable (cls_a, cls_b) sum whose key space is
    |classes|^2, constant in the raster."""
    def _tile(key, vals, mask, interior):
        iy, ix = interior
        th = iy.stop - iy.start
        tw = ix.stop - ix.start
        cls = vals // class_div
        out = {}
        for dy, dx in ((0, 1), (1, 0)):
            cm = mask[1 : 1 + th, 1 : 1 + tw]
            nm = mask[1 + dy : 1 + dy + th, 1 + dx : 1 + dx + tw]
            ok = cm & nm
            a = cls[1 : 1 + th, 1 : 1 + tw][ok]
            b = cls[1 + dy : 1 + dy + th, 1 + dx : 1 + dx + tw][ok]
            lo = np.minimum(a, b)
            hi = np.maximum(a, b)
            pairs, counts = np.unique(
                np.stack([lo, hi], axis=1), axis=0, return_counts=True
            )
            for (pa, pb), c in zip(pairs, counts):
                out[(int(pa), int(pb))] = out.get((int(pa), int(pb)), 0) + int(c)
        return pd.DataFrame(
            {
                "cls_a": [p[0] for p in out],
                "cls_b": [p[1] for p in out],
                "n": list(out.values()),
            }
        )

    parts = _halo_run(
        tiles, height, width, chunk, 1, _tile, "cls_a long, cls_b long, n long"
    )
    return parts.groupBy("cls_a", "cls_b").agg(F.sum("n").alias("n_edges"))


def flow_distance_coo(
    coo: DataFrame,
    tiles: DataFrame,
    height: int,
    width: int,
    chunk: int,
    max_rounds: int = 64,
) -> DataFrame:
    """(y, x, dist): DOWNSTREAM FLOW LENGTH — how many D8 steps each
    cell is from the sink it drains to (hydrology's flow-length grid,
    the erosion/time-of-concentration input next to accumulation).

    WEIGHTED pointer doubling — the additive companion of
    :func:`watershed_basins_coo`'s label doubling: carry (ptr, d) and
    each round do d(u) += d(ptr(u)) THEN ptr(u) <- ptr(ptr(u)); sinks
    self-loop with d = 0, so d freezes at the exact path length after
    ~log2(longest path) rounds.  Same per-round cost as watershed: one
    key-partitioned self-join of the constant-size pointer table + one
    emptiness boolean.  The oracle walks the same acyclic edge set with
    a recursive CTE and takes max(steps) — structural agreement at any
    path length (64 doubling rounds cover 2^64-step paths)."""
    edges = flow_edges_coo(tiles, height, width, chunk)
    st = (
        coo.select("y", "x")
        .join(edges, (F.col("y") == edges.uy) & (F.col("x") == edges.ux), "left")
        .select(
            "y",
            "x",
            F.coalesce("ty", F.col("y")).alias("py"),
            F.coalesce("tx", F.col("x")).alias("px"),
            F.when(F.col("ty").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("d"),
        )
        .localCheckpoint()
    )
    for _ in range(max_rounds):
        hop = st.select(
            F.col("y").alias("hy"),
            F.col("x").alias("hx"),
            F.col("py").alias("npy"),
            F.col("px").alias("npx"),
            F.col("d").alias("hd"),
        )
        nxt = (
            st.join(hop, (st.py == hop.hy) & (st.px == hop.hx))
            .select(
                "y",
                "x",
                (F.col("d") + F.col("hd")).alias("d"),
                F.col("npy").alias("py"),
                F.col("npx").alias("px"),
            )
            .localCheckpoint()
        )
        moved = nxt.alias("n").join(
            st.select(
                F.col("y"), F.col("x"),
                F.col("py").alias("opy"), F.col("px").alias("opx"),
            ).alias("o"),
            ["y", "x"],
        ).filter(
            (F.col("py") != F.col("opy")) | (F.col("px") != F.col("opx"))
        )
        st = nxt
        if moved.isEmpty():
            break
    return st.select("y", "x", F.col("d").alias("dist"))
