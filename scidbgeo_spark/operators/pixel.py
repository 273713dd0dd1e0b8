"""Cell-level AFL operators: filter/apply/iif/between/subarray/slice,
count-pixels, reclassify, overlay add.

Every operator here is pure DataFrame algebra (whole-stage codegen, no
Python in the hot path).  Tile-payload variants use Spark's higher-order
array functions (``transform`` / ``zip_with`` / ``aggregate``) which also
run JVM-side.

Reference semantics cited per function (file:line into /root/reference).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from scidbgeo_spark.tiling import TILE_KEYS


# -- O1 + O10: aggregate(filter(A, value = v), sum(value)) ------------------

def count_pixels(coo: DataFrame, v: int) -> DataFrame:
    """"CountPixels" — reference computes the *sum* of matching pixel
    values and labels it count (SciDB_analysis.py:116-143; quirk pinned in
    SURVEY §2.13).  Returns one row ``(pixel_sum)``."""
    return coo.filter(F.col("value") == v).agg(F.sum("value").alias("pixel_sum"))


def count_pixels_true_count(coo: DataFrame, v: int) -> DataFrame:
    """The count the reference *says* it computes."""
    return coo.filter(F.col("value") == v).agg(
        F.count("value").alias("pixel_count")
    )


def count_pixels_tiles(tiles: DataFrame, v: int) -> DataFrame:
    """Tile-payload variant: per-chunk partial sums via JVM higher-order
    functions, then a global sum — the map-side-combine shape SciDB gets by
    aggregating inside chunks."""
    part = F.aggregate(
        F.filter(F.col("px"), lambda e: e == v),
        F.lit(0).cast("long"),
        lambda acc, e: acc + e,
    )
    return tiles.select(part.alias("p")).agg(F.sum("p").alias("pixel_sum"))


# -- O2 + O3 + O10: reclassify ----------------------------------------------

def reclassify_sum(coo: DataFrame, old: int, new: int, other: int = 0) -> DataFrame:
    """aggregate(apply(A, value2, iif(value=old,new,0)), sum(value2))
    — SciDB_analysis.py:162."""
    v2 = F.when(F.col("value") == old, F.lit(new)).otherwise(F.lit(other))
    return coo.agg(F.sum(v2).alias("reclass_sum"))


def reclassify(coo: DataFrame, old: int, new: int, other: int = -99) -> DataFrame:
    """Persisted reclassify: iif(value=old,new,-99) over every cell
    (SciDB_analysis.py:168-170; the -99 vs 0 constant quirk is deliberate,
    SURVEY §2.13)."""
    return coo.select(
        "y",
        "x",
        F.when(F.col("value") == old, F.lit(new))
        .otherwise(F.lit(other))
        .cast("long")
        .alias("newvalue"),
    )


# -- O6 / O7 / O8: dimension-range ops ---------------------------------------

def between(coo: DataFrame, y_min: int, x_min: int, y_max: int, x_max: int) -> DataFrame:
    """between(A, minY, minX, maxY, maxX): inclusive rectangular window,
    coordinates preserved (SciDB_ZonalStats_CL.py:150-151)."""
    return coo.filter(
        F.col("y").between(y_min, y_max) & F.col("x").between(x_min, x_max)
    )


def between_tiles(
    tiles: DataFrame, chunk: int, y_min: int, x_min: int, y_max: int, x_max: int
) -> DataFrame:
    """Tile-level pruning form of ``between``: a chunk-key range filter that
    Catalyst can push to partition pruning, keeping interior tiles intact
    (edge tiles are cropped downstream).  This is the reference's
    'window both join inputs before joining' optimization
    (SciDBParallel.py:700-706) expressed as scan pruning."""
    return tiles.filter(
        F.col("tile_y").between(y_min // chunk, y_max // chunk)
        & F.col("tile_x").between(x_min // chunk, x_max // chunk)
    )


def subarray(coo: DataFrame, y_min: int, x_min: int, y_max: int, x_max: int) -> DataFrame:
    """subarray(...): like between but re-origins dims to 0
    (SciDB_ZonalStats_CL.py:351-352)."""
    return between(coo, y_min, x_min, y_max, x_max).select(
        (F.col("y") - y_min).alias("y"),
        (F.col("x") - x_min).alias("x"),
        "value",
    )


def slice_band(coo3: DataFrame, band: int) -> DataFrame:
    """slice(A, band, k): fix + drop the band dimension
    (SciDBParallel.py:700-702)."""
    return coo3.filter(F.col("band") == band).drop("band")


# -- O4 self-join + O2: raster overlay add -----------------------------------

def overlay_add_tiles(a: DataFrame, b: DataFrame) -> DataFrame:
    """Tile-native overlay: equi-join on chunk keys, then a JVM ``zip_with``
    cellwise add.  One shuffle at chunk granularity instead of per-cell —
    the plan a 100 TB raster needs (cell alignment is array-index math,
    not join work)."""
    bb = b.select(*TILE_KEYS, F.col("px").alias("px_b"))
    return a.join(bb, TILE_KEYS).withColumn(
        # widen before adding: two int32 payloads can overflow int32
        "px", F.zip_with("px", "px_b", lambda u, v: u.cast("long") + v)
    ).drop("px_b")


# -- O16: sort + save ---------------------------------------------------------

def sorted_export(coo: DataFrame) -> DataFrame:
    """save(sort(Q, y, x), 'out', 0, 'csv') — SciDBParallel.py:750-754.
    Returns the ordered frame; callers chain ``.write.csv``."""
    return coo.orderBy("y", "x")


def downsample(coo: DataFrame, factor: int = 2) -> DataFrame:
    """Block-mean downsample (the GDAL overview / `regrid(A, f, f, avg)`
    shape): each factor x factor block becomes one coarse cell holding
    the mean of its members.  Pure groupBy on integer-divided
    coordinates — one map-side-combined shuffle, no kernel needed; ragged
    edge blocks average their actual members (regrid semantics)."""
    return (
        coo.groupBy(
            F.expr(f"y DIV {factor}").alias("y"),
            F.expr(f"x DIV {factor}").alias("x"),
        )
        .agg(F.avg("value").alias("value_avg"))
        .select("y", "x", "value_avg")
    )


def transpose(coo: DataFrame) -> DataFrame:
    """``transpose(A)``: swap the dimension order (SciDB core AFL op).
    Pure projection — no shuffle; downstream re-chunking happens lazily
    at the next pack_tiles if tile layout matters."""
    return coo.select(
        F.col("x").alias("y"), F.col("y").alias("x"), "value"
    )


def upsample(coo: DataFrame, ry: int = 2, rx: int = 2) -> DataFrame:
    """``xgrid(A, ry, rx)``: each cell expands to an ry x rx block of its
    value (SciDB's upsample operator — the inverse direction of
    :func:`downsample`).  A single generate per input row (posexplode of
    a constant-length sequence) — no shuffle at all; output cardinality
    ry*rx times the input, exactly SciDB's xgrid dimensionality."""
    d = F.explode(F.sequence(F.lit(0), F.lit(ry * rx - 1))).alias("d")
    e = coo.select("y", "x", "value", d)
    return e.select(
        (F.col("y") * ry + F.expr(f"d DIV {rx}")).alias("y"),
        (F.col("x") * rx + F.col("d") % rx).alias("x"),
        "value",
    )


def bernoulli_sample(coo: DataFrame, permille: int = 250, seed: int = 42) -> DataFrame:
    """``bernoulli(A, p, seed)``: deterministic cell sampling — a cell
    survives iff a seeded md5 hash of its linear id lands under the
    ``permille``/1000 threshold.  Reproducible across runs, executors,
    and partitionings (the property SciDB's seeded bernoulli guarantees
    and a training-data pipeline needs for stable corpus subsets);
    integer arithmetic end-to-end so the DuckDB oracle is bitwise."""
    # hash the coordinate STRING "y_x" — no linear-id arithmetic, so no
    # collision cap on raster width at any scale
    lin = F.concat_ws("_", F.col("y").cast("string"), F.col("x").cast("string"))
    h = F.conv(
        F.substring(F.md5(F.concat(lin, F.lit(f":{seed}"))), 1, 15), 16, 10
    ).cast("long")
    return coo.filter(h % 1000 < permille)


def histogram(coo: DataFrame) -> DataFrame:
    """Pixel-value histogram (the classification QA companion of
    count_pixels): one row per distinct value with its frequency."""
    return (
        coo.groupBy("value")
        .agg(F.count("*").alias("n_pixels"))
        .select("value", "n_pixels")
    )


def raster_pyramid(coo: DataFrame, levels: int = 3, factor: int = 2) -> DataFrame:
    """Overview PYRAMID (GDAL BuildOverviews / repeated `regrid(A, f, f,
    avg)`): every level's cell holds the true mean of its base-raster
    block, all levels in ONE query — (level, y, x, value_avg).

    Scale shape: pixels are aggregated ONCE (map-side-combined (sum,
    count) partials at the finest level); every coarser level cascades
    from the previous level's partials — sums and counts compose
    exactly, so level L's mean is the true base-block mean (including
    ragged edges), not a mean-of-means, and the base raster is never
    rescanned.  Each cascade shuffles the previous level's cell table
    (4x smaller each step)."""
    cur = coo.groupBy(
        F.expr(f"y DIV {factor}").alias("y"), F.expr(f"x DIV {factor}").alias("x")
    ).agg(F.sum("value").alias("s"), F.count("*").alias("c"))
    out = []
    for lv in range(1, levels + 1):
        out.append(
            cur.select(
                F.lit(lv).cast("int").alias("level"),
                "y",
                "x",
                (F.col("s") / F.col("c")).alias("value_avg"),
            )
        )
        if lv < levels:
            cur = cur.groupBy(
                F.expr(f"y DIV {factor}").alias("y"),
                F.expr(f"x DIV {factor}").alias("x"),
            ).agg(F.sum("s").alias("s"), F.sum("c").alias("c"))
    res = out[0]
    for df in out[1:]:
        res = res.unionAll(df)
    return res


def affine_warp(
    coo: DataFrame,
    a: int,
    b: int,
    c: int,
    d: int,
    ty: int = 0,
    tx: int = 0,
    out_h: int | None = None,
    out_w: int | None = None,
) -> DataFrame:
    """Integer affine warp (y', x') = (a*y + b*x + ty, c*y + d*x + tx)
    — the GDAL-warp / SciDB reshape family for lattice-exact transforms.
    The matrix must be UNIMODULAR (|ad - bc| = 1: all rotations, flips,
    shears, translations and their compositions), which makes the map
    bijective on the integer lattice — every output cell has exactly
    one source, so nearest-neighbor resampling is exact, not an
    approximation.  Non-unimodular zooms are upsample()/downsample().

    Pure projection (+ an optional bounds filter): NO shuffle, no
    kernel, no gather join — the same scale shape as transpose().
    transpose() itself is affine_warp(0,1,1,0)."""
    if abs(a * d - b * c) != 1:
        raise ValueError(
            f"affine matrix [[{a},{b}],[{c},{d}]] is not unimodular "
            "(|det| must be 1 for a lattice-exact warp)"
        )
    out = coo.select(
        (F.col("y") * a + F.col("x") * b + ty).alias("y"),
        (F.col("y") * c + F.col("x") * d + tx).alias("x"),
        "value",
    )
    if out_h is not None:
        out = out.where(
            (F.col("y") >= 0)
            & (F.col("y") < out_h)
            & (F.col("x") >= 0)
            & (F.col("x") < out_w)
        )
    return out


def upsample_bilinear(coo: DataFrame, height: int, width: int) -> DataFrame:
    """2x bilinear upsample (the GDAL-warp ``bilinear`` resample on the
    integer lattice): output cell (Y, X) samples the input at
    (Y/2 - 0.25, X/2 - 0.25), edge-clamped — quarter-lattice sample
    points make every bilinear weight a multiple of 1/16, so the engine
    emits ``value16`` = the EXACT integer 16x-scaled result (and
    ``value`` = value16/16.0, one IEEE division) — no float
    accumulation anywhere.

    Scale shape: pure scatter — each input cell sends a CONSTANT 16
    messages (4 vertical x 4 horizontal contributions, out-of-lattice
    neighbors folded back onto the clamped edge cell), one
    map-side-combinable sum per output cell; no join, no kernel, no
    halo.  Every output cell's weights sum to 16 exactly (pinned by
    test), so borders never renormalize."""
    v_msgs = []
    for dy, wy in ((0, 3), (1, 3), (-1, 1), (2, 1)):
        for dx, wx in ((0, 3), (1, 3), (-1, 1), (2, 1)):
            ty = f"greatest(least(y * 2 + {dy}, {2 * height - 1}), 0)"
            tx = f"greatest(least(x * 2 + {dx}, {2 * width - 1}), 0)"
            v_msgs.append(
                f"named_struct('ty', {ty}, 'tx', {tx}, "
                f"'c', value * {wy * wx})"
            )
    msgs = ", ".join(v_msgs)
    return (
        coo.select(F.explode(F.expr(f"array({msgs})")).alias("m"))
        .select("m.*")
        .groupBy(F.col("ty").alias("y"), F.col("tx").alias("x"))
        .agg(F.sum("c").alias("value16"))
        .select(
            "y",
            "x",
            "value16",
            (F.col("value16").cast("double") / F.lit(16.0)).alias("value"),
        )
    )


def los_visibility(coo: DataFrame, chunk: int = 50) -> DataFrame:
    """West-edge line-of-sight along each raster row: cell (y, x) is
    VISIBLE iff its value strictly exceeds every value at x' < x in its
    row (the 1-D viewshed scan terrain stacks run per azimuth); also
    emits the ``horizon`` (running prefix max, -1 for x = 0).

    Scale shape: a single row-partitioned window would put a WHOLE
    raster row in one partition — fine at test widths, a straggler at a
    10^6-cell-wide mosaic.  Instead the prefix max is SEGMENTED: (1)
    per-(row, x-chunk) max — map-side combinable; (2) a window over the
    CHUNK maxes only (width/chunk rows per raster row); (3) one
    chunk-key join back + a chunk-local window whose partitions are
    bounded by ``chunk`` cells regardless of raster width.  Exact
    integers."""
    tx = (F.col("x") / chunk).cast("long")  # x DIV chunk for non-neg x
    seg = coo.groupBy(F.col("y"), tx.alias("tx")).agg(
        F.max("value").alias("tmax")
    )
    wseg = (
        Window.partitionBy("y")
        .orderBy("tx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = seg.select(
        "y", "tx", F.coalesce(F.max("tmax").over(wseg), F.lit(-1)).alias("carry")
    )
    wloc = (
        Window.partitionBy("y", "tx")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        coo.withColumn("tx", tx)
        .join(carry, ["y", "tx"])
        .select(
            "y",
            "x",
            "value",
            F.greatest(
                F.col("carry"),
                F.coalesce(F.max("value").over(wloc), F.lit(-1)),
            ).alias("horizon"),
        )
        .select(
            "y",
            "x",
            "horizon",
            (F.col("value") > F.col("horizon")).alias("visible"),
        )
    )


def hist_equalize(coo: DataFrame, levels: int = 256) -> DataFrame:
    """Histogram equalization (contrast stretch): every cell's value is
    remapped through the raster's own cumulative distribution,
    eq = ((cdf(v) - cdf_min) * (levels-1)) DIV (N - cdf_min) — the
    classic integer formula, so the result is EXACT (no float CDF).
    A constant raster (N == cdf_min) maps to 0 by convention on both
    engines.

    Scale shape: the value histogram is one map-side-combinable agg to
    <= ``levels`` rows; the CDF window and the remap table stay that
    size forever and broadcast back onto the scan — the raster itself
    is touched exactly twice (histogram + remap), shuffled never."""
    hist = coo.groupBy("value").agg(F.count("*").alias("cnt"))
    stats = hist.agg(
        F.min(F.struct("value", "cnt")).getField("cnt").alias("cdf_min"),
        F.sum("cnt").alias("n"),
    )
    wc = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    cdf = hist.select("value", F.sum("cnt").over(wc).alias("cum")).crossJoin(
        F.broadcast(stats)
    )
    remap = cdf.select(
        "value",
        F.when(
            F.col("n") > F.col("cdf_min"),
            F.expr(f"(cum - cdf_min) * {levels - 1} DIV (n - cdf_min)"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("eq_value"),
    )
    return coo.join(F.broadcast(remap), "value").select("y", "x", "eq_value")


def integral_image(
    tiles: DataFrame, height: int, width: int, chunk: int
) -> DataFrame:
    """Distributed SUMMED-AREA TABLE (integral image): every cell's
    exact 2-D prefix sum ``sat(y,x) = sum(v[y'<=y, x'<=x])`` — the O(1)
    box-query index (any-rectangle sums, adaptive-window filters) GIS
    and vision stacks precompute.  A genuinely GLOBAL dependency made
    scale-shaped by tile decomposition:

        sat = local_SAT(tile)                       (per-tile kernel)
            + rowLeft[yl]   (tiles left, same tile row:  cum row totals)
            + colAbove[xl]  (tiles above, same tile col: cum col totals)
            + corner        (tiles strictly above-left:  grand totals)

    Scale shape: pass 1 extracts per-tile MARGINALS (two cumsum vectors
    per tile — HW/chunk rows, 1/chunk of the raster); the corner matrix
    is a 2-D prefix over the ntiles-row totals table (two keyed
    windows); the vector prefixes are one keyed-window cumsum each over
    the marginal rows; pass 2 re-reads the tiles once, joins the three
    small aux tables on the tile key and finishes with a vectorized
    NumPy kernel.  No halo exchange, no raster self-join — total
    exchange volume ~ the tile scan + three tile-keyed small shuffles.
    """
    import numpy as np
    import pandas as pd

    def _marginals(it):
        for pdf in it:
            out = []
            for r in pdf.itertuples():
                arr = np.asarray(r.px, dtype=np.int64).reshape(r.h, r.w)
                out.append(
                    (
                        int(r.tile_y),
                        int(r.tile_x),
                        np.cumsum(arr.sum(axis=1)).tolist(),
                        np.cumsum(arr.sum(axis=0)).tolist(),
                    )
                )
            yield pd.DataFrame(
                out, columns=["tile_y", "tile_x", "rowcum", "colcum"]
            )

    marg = tiles.mapInPandas(
        _marginals,
        "tile_y int, tile_x int, rowcum array<long>, colcum array<long>",
    ).cache()

    # corner matrix: 2-D prefix over tile grand totals (ntiles rows)
    tot = marg.select(
        "tile_y", "tile_x", F.element_at("rowcum", -1).alias("tot")
    )
    wx = (
        Window.partitionBy("tile_y")
        .orderBy("tile_x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wy = (
        Window.partitionBy("tile_x")
        .orderBy("tile_y")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    p2d = tot.withColumn("rp", F.sum("tot").over(wx)).withColumn(
        "p", F.sum("rp").over(wy)
    )
    corner = p2d.select(
        (F.col("tile_y") + 1).alias("tile_y"),
        (F.col("tile_x") + 1).alias("tile_x"),
        F.col("p").alias("corner"),
    )

    def _vector_prefix(col: str, part: str, order: str):
        ex = marg.select(
            "tile_y", "tile_x", F.posexplode(col).alias("i", "v")
        )
        w = (
            Window.partitionBy(part, "i")
            .orderBy(order)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        cum = ex.withColumn("c", F.coalesce(F.sum("v").over(w), F.lit(0)))
        return cum.groupBy("tile_y", "tile_x").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "c"))),
                lambda s: s["c"],
            ).alias(col + "_above")
        )

    col_above = _vector_prefix("colcum", "tile_x", "tile_y")
    row_left = _vector_prefix("rowcum", "tile_y", "tile_x")

    joined = (
        tiles.join(col_above.withColumnRenamed("colcum_above", "ca"), TILE_KEYS)
        .join(row_left.withColumnRenamed("rowcum_above", "rl"), TILE_KEYS)
        .join(corner, TILE_KEYS, "left")
        .select(
            "tile_y", "tile_x", "y0", "x0", "h", "w", "px",
            "ca", "rl", F.coalesce("corner", F.lit(0)).alias("corner"),
        )
    )

    def _finish(it):
        for pdf in it:
            frames = []
            for r in pdf.itertuples():
                h, w = int(r.h), int(r.w)
                arr = np.asarray(r.px, dtype=np.int64).reshape(h, w)
                sat = arr.cumsum(axis=0).cumsum(axis=1)
                sat += np.asarray(r.rl, dtype=np.int64)[:, None]
                sat += np.asarray(r.ca, dtype=np.int64)[None, :]
                sat += int(r.corner)
                frames.append(
                    pd.DataFrame(
                        {
                            "y": np.repeat(
                                np.arange(h, dtype=np.int64) + int(r.y0), w
                            ),
                            "x": np.tile(
                                np.arange(w, dtype=np.int64) + int(r.x0), h
                            ),
                            "sat": sat.ravel(),
                        }
                    )
                )
            yield pd.concat(frames) if frames else pd.DataFrame(
                {"y": [], "x": [], "sat": []}
            )

    return joined.mapInPandas(_finish, "y long, x long, sat long")


def coregister_shift(a: DataFrame, b: DataFrame, max_shift: int = 2) -> DataFrame:
    """Integer CO-REGISTRATION scan: for every candidate offset
    (dy, dx) in [-max_shift, max_shift]^2, the count of cells where
    raster ``b`` shifted by that offset agrees exactly with raster
    ``a`` — the alignment-recovery step run before any multi-temporal
    analysis when two acquisitions are off by a few pixels (the
    brute-force stand-in for FFT phase correlation, exact and
    distributed; a real pipeline would narrow with image pyramids
    first — raster_pyramid provides them).  One row per offset:
    (dy, dx, n_match, is_best) with ties broken to the smallest
    (dy, dx).

    Scale shape: ``b`` replicates by a CONSTANT (2*max_shift+1)^2
    factor carrying only its aligned target coordinate, the comparison
    is ONE coordinate equi-join against ``a`` (never a theta join),
    and the per-offset counts are map-side-combinable with a
    constant-size result; the argmax is a window over (2s+1)^2 rows."""
    shifts = [
        (dy, dx)
        for dy in range(-max_shift, max_shift + 1)
        for dx in range(-max_shift, max_shift + 1)
    ]
    msgs = ", ".join(
        f"named_struct('dy', {dy}, 'dx', {dx}, "
        f"'y', y - ({dy}), 'x', x - ({dx}))"
        for dy, dx in shifts
    )
    brep = b.select(
        F.col("value").alias("vb"), F.explode(F.expr(f"array({msgs})")).alias("m")
    ).select("vb", "m.dy", "m.dx", "m.y", "m.x")
    counts = (
        a.join(brep, ["y", "x"])
        .filter(F.col("value") == F.col("vb"))
        .groupBy("dy", "dx")
        .agg(F.count("*").alias("n_match"))
    )
    w = Window.orderBy(F.desc("n_match"), F.asc("dy"), F.asc("dx"))
    return counts.select(
        F.col("dy").cast("long").alias("dy"),
        F.col("dx").cast("long").alias("dx"),
        "n_match",
        (F.row_number().over(w) == 1).alias("is_best"),
    )


def regrid_area(coo: DataFrame, p: int = 5, q: int = 4) -> DataFrame:
    """AREA-WEIGHTED REGRID to a rational-ratio target grid (gdalwarp
    -r average with target cells p/q source units wide, e.g. 5/4):
    each source cell distributes into the target cells it overlaps with
    EXACT integer overlap weights, closing the gap between the
    integer-factor :func:`downsample`/:func:`upsample` pair and
    arbitrary-resolution regridding.

    All arithmetic is integer until ONE final division: scale both
    grids by q, source cell i covers [i*q, (i+1)*q), target cell j
    covers [j*p, (j+1)*p); 1-D overlap = min(ends) - max(starts), and
    the 2-D weight is the product.  value_avg = sum(v*wy*wx) /
    sum(wy*wx) — numerator/denominator are exact longs, so the oracle
    comparison is bit-exact and the sum is order-independent.

    Scale shape: a constant per-row fan (a source cell overlaps at most
    q/p + 1 target cells per axis) followed by ONE map-side-combinable
    groupBy on the target cell — the same single-shuffle class as
    downsample; ragged world edges fall out of the weights."""
    if p <= 0 or q <= 0:
        raise ValueError(f"regrid ratio {p}/{q} must be positive")
    ey = coo.select(
        "y",
        "x",
        "value",
        F.explode(
            F.sequence(
                F.expr(f"(y * {q}) DIV {p}"),
                F.expr(f"(y * {q} + {q - 1}) DIV {p}"),
            )
        ).alias("ty"),
    )
    wy = F.least(F.col("y") * q + q, (F.col("ty") + 1) * p) - F.greatest(
        F.col("y") * q, F.col("ty") * p
    )
    ex = ey.select(
        "x",
        "value",
        "ty",
        wy.alias("wy"),
        F.explode(
            F.sequence(
                F.expr(f"(x * {q}) DIV {p}"),
                F.expr(f"(x * {q} + {q - 1}) DIV {p}"),
            )
        ).alias("tx"),
    )
    wx = F.least(F.col("x") * q + q, (F.col("tx") + 1) * p) - F.greatest(
        F.col("x") * q, F.col("tx") * p
    )
    w = ex.select(
        "ty", "tx", "value", (F.col("wy") * wx).alias("w")
    )
    return (
        w.groupBy(F.col("ty").alias("y"), F.col("tx").alias("x"))
        .agg(
            F.sum(F.col("value") * F.col("w")).alias("num"),
            F.sum("w").alias("den"),
        )
        .select("y", "x", (F.col("num") / F.col("den")).alias("value_avg"))
    )


def gaussian_blur(coo: DataFrame, h: int, w: int) -> DataFrame:
    """SEPARABLE 3x3 binomial blur ([1,2,1] x [1,2,1], the discrete
    Gaussian every pyramid/pre-filter uses) with zero-padding at the
    edges.  Output ``blur16`` = 16x the blurred value — EXACT integers,
    no division, so the oracle compares bitwise and edge cells keep
    their partial sums honestly.

    Scale shape: SEPARABILITY as a plan property — two 3-message
    scatter+groupBy passes (vertical then horizontal, 3x fan each)
    instead of one 9-message 2-D pass: at a k x k kernel that is
    2k messages vs k^2, the same reason separable convolution wins on
    any dense engine.  Both passes are map-side-combinable groupBys on
    integer keys; the oracle intentionally uses the NON-separated 9-fan
    form, so the test pins the algebraic identity too."""
    wts = F.array(
        F.struct(F.lit(-1).alias("d"), F.lit(1).alias("wt")),
        F.struct(F.lit(0).alias("d"), F.lit(2).alias("wt")),
        F.struct(F.lit(1).alias("d"), F.lit(1).alias("wt")),
    )
    v = (
        coo.select("y", "x", "value", F.explode(wts).alias("m"))
        .select(
            (F.col("y") + F.col("m.d")).alias("y"),
            "x",
            (F.col("value") * F.col("m.wt")).alias("v"),
        )
        .filter((F.col("y") >= 0) & (F.col("y") < h))
        .groupBy("y", "x")
        .agg(F.sum("v").alias("v"))
    )
    out = (
        v.select("y", "x", "v", F.explode(wts).alias("m"))
        .select(
            "y",
            (F.col("x") + F.col("m.d")).alias("x"),
            (F.col("v") * F.col("m.wt")).alias("v"),
        )
        .filter((F.col("x") >= 0) & (F.col("x") < w))
        .groupBy("y", "x")
        .agg(F.sum("v").alias("blur16"))
    )
    return out


def matmul_coo(a: DataFrame, b: DataFrame) -> DataFrame:
    """SPARSE MATRIX MULTIPLY over COO frames — C(i,j) = sum_k
    A(i,k)*B(k,j) as ONE equi-join on the inner dimension plus one
    map-side-combinable groupBy (the SUMMA inner product as relational
    algebra; the co-registration and SAT kernels are its dense
    siblings).  Inputs (i, k, v) and (k, j, w), integer values so the
    oracle compares bitwise; zero-product cells are absent (sparse
    semantics — a fully-dense C needs a spine join, deliberately not
    done here).

    Scale note: a hot inner index k fans |A_k| x |B_k| pairs — the
    skew story of every join; at scale, block the inner dimension
    (tile k into chunks and pre-aggregate per block, exactly the zonal
    chunk-key pattern) or salt the hot k like plans/skew.hot_keys.
    The relational shape itself is the textbook distributed matmul."""
    return (
        a.join(b, "k")
        .groupBy("i", "j")
        .agg(F.sum(F.col("v") * F.col("w")).alias("val"))
    )


def raster_sample_points(
    pts: DataFrame, coo: DataFrame, h: int, w: int
) -> DataFrame:
    """BILINEAR raster sampling at point locations — "extract values to
    points", the raster->vector read the north-star names next to
    rasterize/vectorize: each page geotag maps into continuous grid
    space and reads the 2x2 neighborhood, weights (1-fy)(1-fx) etc.
    Output (doc_id, v).

    Float determinism by CONSTRUCTION, not by luck: the four corner
    terms pivot into fixed columns and sum in one left-associated
    expression ((t00+t01)+t10)+t11 — a floating sum inside a groupBy
    would add in partition order and drift a ulp between engines.
    Top/right edge points degrade to the boundary row/column (y1 =
    min(y0+1, h-1)), weights unchanged.

    Scale shape: points explode x4 (constant), ONE equi-join against
    the raster on the cell key (the raster never replicates), then a
    doc-keyed 4-wide conditional pivot — the same join discipline as
    the zonal family."""
    gy = (F.col("lat") + 90.0) / 180.0 * F.lit(float(h - 1))
    gx = (F.col("lon") + 180.0) / 360.0 * F.lit(float(w - 1))
    base = pts.select(
        "doc_id",
        F.floor(gy).cast("long").alias("y0"),
        F.floor(gx).cast("long").alias("x0"),
        (gy - F.floor(gy)).alias("fy"),
        (gx - F.floor(gx)).alias("fx"),
    )
    one = F.lit(1.0)
    corners = F.array(
        *[
            F.struct(
                F.lit(k).alias("k"),
                F.least(F.col("y0") + dy, F.lit(h - 1)).alias("y"),
                F.least(F.col("x0") + dx, F.lit(w - 1)).alias("x"),
                (
                    (one - F.col("fy") if dy == 0 else F.col("fy"))
                    * (one - F.col("fx") if dx == 0 else F.col("fx"))
                ).alias("wt"),
            )
            for k, (dy, dx) in enumerate([(0, 0), (0, 1), (1, 0), (1, 1)])
        ]
    )
    ex = base.select("doc_id", F.explode(corners).alias("c")).select(
        "doc_id", "c.k", "c.y", "c.x", "c.wt"
    )
    j = ex.join(coo, ["y", "x"])
    piv = j.groupBy("doc_id").agg(
        *[
            F.max(
                F.when(F.col("k") == k, F.col("wt") * F.col("value"))
            ).alias(f"t{k}")
            for k in range(4)
        ],
        F.count("*").alias("_nc"),
    )
    # r6 (ADVICE r5): oracle alignment on SPARSE rasters — the oracle's
    # four inner joins drop a point entirely when any corner cell is
    # absent from coo, while the pivot used to emit (doc_id, NULL).
    # Require all 4 corner hits so both engines drop the row.  (Edge
    # points clamp two corners onto the same cell; the join then yields
    # that cell twice — count stays 4 — so clamping is unaffected.)
    return piv.filter(F.col("_nc") == 4).select(
        "doc_id",
        (
            ((F.col("t0") + F.col("t1")) + F.col("t2")) + F.col("t3")
        ).alias("v"),
    )
