"""Pure-NumPy kernels used inside Arrow/pandas UDFs.

These are the compute bodies that the reference delegates to SciDB's
engine or to client-side GDAL/NumPy; here they are unit-testable without
Spark and are only ever invoked on vectorized batches (never per row).
"""

from __future__ import annotations

import numpy as np

NODATA_ZONE = -999  # pixels outside all polygons (SciDB_ZonalStats_CL.py:74-77)


# ---------------------------------------------------------------------------
# focal / moving window  (AFL window(A,1,1,1,1,avg(value)) — SciDB_analysis.py:81)
# ---------------------------------------------------------------------------

def box_sum_count(
    vals: np.ndarray, mask: np.ndarray | None = None, radius: int = 1
):
    """(2r+1)x(2r+1) neighborhood sum and valid-cell count with
    *shrinking* windows (AFL ``window(A, r, r, r, r, ...)``).

    ``vals`` is a 2-D array that may include halo rows/cols from neighbor
    tiles; ``mask`` marks valid cells (False = outside the raster — SciDB
    windows truncate at array borders).  Returns (sum, count) arrays of the
    same shape; callers slice out the interior region.
    """
    v = vals.astype(np.int64, copy=False)
    if mask is None:
        mask = np.ones_like(v, dtype=bool)
    v = np.where(mask, v, 0)
    m = mask.astype(np.int64)
    k = 2 * radius + 1

    def box(a):
        # box sums via a zero-prefixed 2-D cumsum (inclusion-exclusion)
        p = np.pad(a, radius)
        s = np.zeros((p.shape[0] + 1, p.shape[1] + 1), dtype=np.int64)
        s[1:, 1:] = p.cumsum(0).cumsum(1)
        return s[k:, k:] - s[:-k, k:] - s[k:, :-k] + s[:-k, :-k]

    return box(v), box(m)


def box3_sum_count(vals: np.ndarray, mask: np.ndarray | None = None):
    """3×3 case of :func:`box_sum_count` (kept as the named fast path the
    sum36 exact encoding is defined over)."""
    return box_sum_count(vals, mask, radius=1)


def focal_sum36(vals: np.ndarray, mask: np.ndarray, interior: tuple[slice, slice]):
    """Exact integer encoding of sum(avg_3x3): sum over interior cells of
    ``box_sum * (36 // box_count)``.

    36 is lcm(4,6,9) — the only possible shrinking-window counts for a
    3×3 window — so the per-cell term is an exact integer and the global
    sum is order-independent (bitwise reproducible across partitionings).
    """
    s, c = box3_sum_count(vals, mask)
    si, ci = s[interior], c[interior]
    mi = mask[interior]
    ci = np.where(ci == 0, 1, ci)
    return int(np.sum(np.where(mi, si * (36 // ci), 0)))


def _slide_extreme(a: np.ndarray, r: int, axis: int, fn, fill) -> np.ndarray:
    """Sliding (2r+1)-window extreme along one axis via shifted slices —
    min/max are separable, so a 2-D box extreme is two 1-D passes
    (2*(2r+1) vectorized ops, never a per-cell loop)."""
    pad = [(0, 0), (0, 0)]
    pad[axis] = (r, r)
    p = np.pad(a, pad, constant_values=fill)
    n = a.shape[axis]
    out = None
    for off in range(2 * r + 1):
        sl: list = [slice(None), slice(None)]
        sl[axis] = slice(off, off + n)
        win = p[tuple(sl)]
        out = win.copy() if out is None else fn(out, win, out=out)
    return out


def box_extrema(
    vals: np.ndarray,
    mask: np.ndarray,
    interior: tuple[slice, slice],
    radius: int = 1,
):
    """(min, max) over the (2r+1)x(2r+1) shrinking window for every
    interior cell (AFL ``window(A, r..., min/max)``).  Masked/outside
    cells are neutral-element filled so borders shrink exactly like the
    sum/count kernel."""
    neg, pos = np.iinfo(np.int64).min, np.iinfo(np.int64).max
    v = vals.astype(np.int64, copy=False)
    vmax = np.where(mask, v, neg)
    vmin = np.where(mask, v, pos)
    for axis in (0, 1):
        vmax = _slide_extreme(vmax, radius, axis, np.maximum, neg)
        vmin = _slide_extreme(vmin, radius, axis, np.minimum, pos)
    return vmin[interior], vmax[interior]


def box_mode(
    vals: np.ndarray,
    mask: np.ndarray,
    interior: tuple[slice, slice],
):
    """Majority value over the 3x3 shrinking window for every interior
    cell (ties -> SMALLEST value; masked/outside cells drop out) — the
    categorical smoothing filter (majority/mode resample).

    Vectorized: the 9 shifted copies stack to (9, h, w) with invalid
    entries at int64-max sentinel, sort along the stack axis, compute
    per-position run lengths in 8 vector passes (runs of the sentinel
    are forced to 0), and argmax picks the FIRST maximal run — which,
    on a sorted stack, is exactly max-count-then-smallest-value."""
    pos = np.iinfo(np.int64).max
    iy, ix = interior
    h = iy.stop - iy.start
    w = ix.stop - ix.start
    stack = np.empty((9, h, w), dtype=np.int64)
    k = 0
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            sy = slice(iy.start + dy, iy.stop + dy)
            sx = slice(ix.start + dx, ix.stop + dx)
            stack[k] = np.where(mask[sy, sx], vals[sy, sx], pos)
            k += 1
    stack.sort(axis=0)
    rl = np.ones((9, h, w), dtype=np.int64)
    for i in range(7, -1, -1):
        rl[i] = np.where(stack[i] == stack[i + 1], rl[i + 1] + 1, 1)
    rl[stack == pos] = 0
    best = np.argmax(rl, axis=0)
    gy, gx = np.ogrid[:h, :w]
    return stack[best, gy, gx]


def focal_mean(
    vals: np.ndarray,
    mask: np.ndarray,
    interior: tuple[slice, slice],
    radius: int = 1,
):
    """Float (2r+1)x(2r+1) shrinking-window mean over the interior."""
    s, c = box_sum_count(vals, mask, radius)
    si, ci = s[interior].astype(np.float64), c[interior]
    return np.where(ci > 0, si / np.maximum(ci, 1), np.nan)


# ---------------------------------------------------------------------------
# point-in-polygon (even-odd ray cast) — replaces gdal.RasterizeLayer
# (SciDB_ZonalStats_CL.py:37-82) and refines the cell-prefix PIP join
# ---------------------------------------------------------------------------

def points_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized even-odd crossing test.

    ``ring`` is (k,2) float [(x,y)...], closed or open (closure implied).
    Half-open semantics fall out of the strict/non-strict comparison pair:
    for an axis-aligned rectangle [a,b]×[c,d] the inside set is exactly
    [a,b)×[c,d) — which is what makes pixel-center rasterization match the
    integer-arithmetic oracles.
    """
    x0, y0 = ring[:, 0], ring[:, 1]
    x1, y1 = np.roll(x0, -1), np.roll(y0, -1)
    inside = np.zeros(px.shape, dtype=bool)
    for i in range(len(ring)):
        a, b, c, d = x0[i], y0[i], x1[i], y1[i]
        if b == d:  # horizontal edge: never crosses the horizontal ray
            continue
        crosses = (b > py) != (d > py)
        # x coordinate where the edge crosses the ray y=py
        with np.errstate(invalid="ignore"):
            xint = a + (py - b) * (c - a) / (d - b)
        inside ^= crosses & (px < xint)
    return inside


def rasterize_tile(
    y0: int, x0: int, h: int, w: int, polygons: list[tuple[int, np.ndarray]]
) -> np.ndarray:
    """Burn zone ids into an h×w tile at pixel centers (row-major int32).

    Mirrors gdal.RasterizeLayer(..., ATTRIBUTE=ID) center-inclusion
    semantics; pixels outside every polygon get NODATA_ZONE.  Later
    polygons overwrite earlier ones (GDAL burn order).  Work per polygon
    is cropped to the polygon-bbox x tile intersection, so dense polygon
    layers (many small zones) cost O(covered pixels), not O(tile pixels),
    and rings outside the tile cost nothing.
    """
    out = np.full(h * w, NODATA_ZONE, dtype=np.int32)
    for zid, ring in polygons:
        ring = np.asarray(ring, dtype=np.float64)
        (xmin, ymin), (xmax, ymax) = ring.min(axis=0), ring.max(axis=0)
        xa = max(x0, int(np.floor(xmin - 1)))
        xb = min(x0 + w, int(np.ceil(xmax + 1)))
        ya = max(y0, int(np.floor(ymin - 1)))
        yb = min(y0 + h, int(np.ceil(ymax + 1)))
        if xa >= xb or ya >= yb:
            continue
        yy, xx = np.mgrid[ya:yb, xa:xb]
        hit = points_in_ring(
            (xx + 0.5).ravel().astype(np.float64),
            (yy + 0.5).ravel().astype(np.float64),
            ring,
        )
        idx = ((yy - y0) * w + (xx - x0)).ravel()[hit]
        out[idx] = zid
    return out


# ---------------------------------------------------------------------------
# document fingerprint (rolling polynomial hash)
# ---------------------------------------------------------------------------

FP_BASE = 257
FP_MOD = 2147483647  # 2^31 - 1


def rolling_fingerprint(texts) -> np.ndarray:
    """Polynomial rolling hash over utf-8 bytes, mod 2^31-1.

    Vectorized across documents via a Horner step over the byte columns of
    a padded matrix (documents in a batch are hashed in lockstep).
    """
    bs = [np.frombuffer(t.encode("utf-8"), dtype=np.uint8) for t in texts]
    if not bs:
        return np.array([], dtype=np.int64)
    maxlen = max(len(b) for b in bs)
    mat = np.zeros((len(bs), maxlen), dtype=np.int64)
    lens = np.array([len(b) for b in bs])
    for i, b in enumerate(bs):
        mat[i, : len(b)] = b
    acc = np.zeros(len(bs), dtype=np.int64)
    for j in range(maxlen):
        live = lens > j
        acc[live] = (acc[live] * FP_BASE + mat[live, j]) % FP_MOD
    return acc


def label_tile(cls_arr: np.ndarray, y0: int, x0: int, width: int) -> np.ndarray:
    """Per-tile connected-component labels, 4-connectivity over equal
    class values: each cell's label is the MIN global linear id
    (y * width + x) within its tile-local component.  Vectorized Jacobi
    min-propagation to fixpoint — O(tile area) per sweep, sweeps bounded
    by the largest in-tile component diameter.  Global ids make labels
    directly mergeable across tiles (regions.region_label)."""
    h, w = cls_arr.shape
    ys = (np.arange(h, dtype=np.int64) + y0)[:, None]
    xs = (np.arange(w, dtype=np.int64) + x0)[None, :]
    lab = ys * width + xs
    same_v = cls_arr[1:, :] == cls_arr[:-1, :]
    same_h = cls_arr[:, 1:] == cls_arr[:, :-1]
    while True:
        new = lab.copy()
        np.minimum(
            new[1:, :], np.where(same_v, lab[:-1, :], lab[1:, :]), out=new[1:, :]
        )
        np.minimum(
            new[:-1, :], np.where(same_v, lab[1:, :], lab[:-1, :]), out=new[:-1, :]
        )
        np.minimum(
            new[:, 1:], np.where(same_h, lab[:, :-1], lab[:, 1:]), out=new[:, 1:]
        )
        np.minimum(
            new[:, :-1], np.where(same_h, lab[:, 1:], lab[:, :-1]), out=new[:, :-1]
        )
        if np.array_equal(new, lab):
            return lab
        lab = new


def steepest_descent(vals: np.ndarray, mask: np.ndarray):
    """Per-cell D8 steepest-descent target over a 1-padded array: for
    every interior cell of ``vals`` (shape (h+2, w+2), ``mask`` marks
    present cells), find the masked 8-neighbor with the smallest value
    — ties broken by smallest (dy, dx) scan order, i.e. smallest target
    (ty, tx) — and keep it only where STRICTLY below the cell's own
    value.  Returns (sel, bdy, bdx) for the (h, w) interior: a boolean
    outflow mask and the step offsets."""
    th, tw = vals.shape[0] - 2, vals.shape[1] - 2
    center = vals[1 : 1 + th, 1 : 1 + tw]
    cmask = mask[1 : 1 + th, 1 : 1 + tw]
    big = np.iinfo(np.int64).max
    bv = np.full((th, tw), big, dtype=np.int64)
    bdy = np.zeros((th, tw), dtype=np.int64)
    bdx = np.zeros((th, tw), dtype=np.int64)
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            if dy == 0 and dx == 0:
                continue
            nv = vals[1 + dy : 1 + dy + th, 1 + dx : 1 + dx + tw]
            nm = mask[1 + dy : 1 + dy + th, 1 + dx : 1 + dx + tw]
            better = nm & (nv < bv)
            bv[better] = nv[better]
            bdy[better] = dy
            bdx[better] = dx
    return cmask & (bv < center), bdy, bdx
