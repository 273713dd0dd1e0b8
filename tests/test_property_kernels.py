"""Property-based kernel tests (hypothesis; no Spark)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from scidbgeo_spark.kernels import (
    box3_sum_count,
    points_in_ring,
    rasterize_tile,
    rolling_fingerprint,
)


@settings(max_examples=30, deadline=None)
@given(
    h=st.integers(2, 24),
    w=st.integers(2, 24),
    seed=st.integers(0, 2**31 - 1),
)
def test_box3_matches_bruteforce_property(h, w, seed):
    rng = np.random.default_rng(seed)
    a = rng.integers(0, 251, size=(h, w)).astype(np.int64)
    mask = rng.random((h, w)) > 0.3
    s, c = box3_sum_count(a, mask)
    av = np.where(mask, a, 0)
    for _ in range(5):
        i, j = rng.integers(0, h), rng.integers(0, w)
        ys, ye = max(0, i - 1), min(h, i + 2)
        xs, xe = max(0, j - 1), min(w, j + 2)
        assert s[i, j] == av[ys:ye, xs:xe][mask[ys:ye, xs:xe]].sum()
        assert c[i, j] == mask[ys:ye, xs:xe].sum()


@settings(max_examples=50, deadline=None)
@given(
    x0=st.integers(-50, 50),
    y0=st.integers(-50, 50),
    dx=st.integers(1, 40),
    dy=st.integers(1, 40),
    seed=st.integers(0, 2**31 - 1),
)
def test_rect_ring_is_half_open_property(x0, y0, dx, dy, seed):
    """Axis-aligned integer rectangles: ray-cast membership == the
    half-open arithmetic the DuckDB oracles use (the exactness the whole
    oracle strategy rests on)."""
    x1, y1 = x0 + dx, y0 + dy
    ring = np.array(
        [(x0, y0), (x1, y0), (x1, y1), (x0, y1)], dtype=np.float64
    )
    rng = np.random.default_rng(seed)
    px = rng.uniform(x0 - 2, x1 + 2, 64)
    py = rng.uniform(y0 - 2, y1 + 2, 64)
    # include exact boundary points
    px[:4] = [x0, x1, x0 + dx / 2, x0 + dx / 2]
    py[:4] = [y0 + dy / 2, y0 + dy / 2, y0, y1]
    got = points_in_ring(px, py, ring)
    want = (px >= x0) & (px < x1) & (py >= y0) & (py < y1)
    np.testing.assert_array_equal(got, want)


@settings(max_examples=20, deadline=None)
@given(seed=st.integers(0, 2**31 - 1), n=st.integers(1, 12))
def test_rasterize_burn_order_last_wins_property(seed, n):
    rng = np.random.default_rng(seed)
    polys = []
    for zid in range(1, n + 1):
        x0, y0 = rng.integers(0, 30, 2)
        x1, y1 = x0 + rng.integers(1, 20), y0 + rng.integers(1, 20)
        polys.append(
            (zid, np.array([(x0, y0), (x1, y0), (x1, y1), (x0, y1)], dtype=np.float64))
        )
    out = rasterize_tile(0, 0, 40, 40, polys).reshape(40, 40)
    # NumPy oracle: paint in order
    want = np.full((40, 40), -999, dtype=np.int32)
    yy, xx = np.mgrid[0:40, 0:40]
    for zid, ring in polys:
        x0, y0 = ring[0]
        x1, y1 = ring[2]
        want[(xx >= x0) & (xx < x1) & (yy >= y0) & (yy < y1)] = zid
    np.testing.assert_array_equal(out, want)


@settings(max_examples=30, deadline=None)
@given(st.lists(st.text(min_size=0, max_size=200), min_size=1, max_size=8))
def test_rolling_fingerprint_property(texts):
    def scalar(t):
        acc = 0
        for b in t.encode("utf-8"):
            acc = (acc * 257 + b) % 2147483647
        return acc

    got = rolling_fingerprint(texts)
    assert list(got) == [scalar(t) for t in texts]


@settings(max_examples=30, deadline=None)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    seed=st.integers(0, 2**31 - 1),
    ox=st.floats(-180, 180, allow_nan=False),
    oy=st.floats(-90, 90, allow_nan=False),
)
def test_geotiff_roundtrip_property(h, w, seed, ox, oy):
    """write_tiff -> parse/decode is the identity for any int32 array."""
    from scidbgeo_spark.sources import geotiff

    rng = np.random.default_rng(seed)
    a = rng.integers(-(2**31), 2**31, size=(h, w), dtype=np.int64).astype(np.int32)
    data = geotiff.write_tiff(a, origin=(ox, oy), pixel_size=(0.25, 0.5))
    hdr = geotiff.parse_tiff(data)
    assert (hdr["height"], hdr["width"]) == (h, w)
    assert hdr["origin"] == (ox, oy)
    assert np.array_equal(geotiff.tiff_to_array(data), a)


@settings(max_examples=50, deadline=None)
@given(
    k=st.integers(0, 10),
    bx=st.integers(0, 60),
    by=st.integers(0, 60),
    seed=st.integers(0, 2**31 - 1),
)
def test_zorder_block_range_equals_box_property(k, bx, by, seed):
    """Membership in the [z0, z1) Z-order interval == membership in the
    aligned (cx, cy) box, for random cells (the range-pruning soundness
    property behind zorder_range_count)."""
    from scidbgeo_spark.operators.pip import ZORDER_BITS, zorder_block_range

    cx0, cy0 = bx << k, by << k
    if cx0 >= (1 << ZORDER_BITS) or cy0 >= (1 << ZORDER_BITS):
        return
    z0, z1 = zorder_block_range(cx0, cy0, k)

    def interleave(cx, cy):
        z = 0
        for i in range(ZORDER_BITS):
            z |= ((cx >> i) & 1) << (2 * i)
            z |= ((cy >> i) & 1) << (2 * i + 1)
        return z

    rng = np.random.default_rng(seed)
    for _ in range(20):
        cx = int(rng.integers(0, 1 << ZORDER_BITS))
        cy = int(rng.integers(0, 1 << ZORDER_BITS))
        in_box = cx0 <= cx < cx0 + (1 << k) and cy0 <= cy < cy0 + (1 << k)
        in_range = z0 <= interleave(cx, cy) < z1
        assert in_box == in_range, (cx, cy, k)
    # the block's own corners are always inside
    assert z0 <= interleave(cx0, cy0) < z1
    assert z0 <= interleave(cx0 + (1 << k) - 1, cy0 + (1 << k) - 1) < z1


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 12),
    w=st.integers(1, 12),
    n_cls=st.integers(1, 3),
    y0=st.integers(0, 50),
    x0=st.integers(0, 50),
    seed=st.integers(0, 2**31 - 1),
)
def test_label_tile_equals_union_find_property(h, w, n_cls, y0, x0, seed):
    """Per-tile labeling kernel == union-find ground truth on random
    class rasters of every shape, including 1-row/1-column tiles."""
    from scidbgeo_spark.kernels import label_tile

    width = x0 + w + 5
    rng = np.random.default_rng(seed)
    cls = rng.integers(0, n_cls, size=(h, w))
    lab = label_tile(cls, y0, x0, width)

    n = h * w
    parent = list(range(n))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for y in range(h):
        for x in range(w):
            if x + 1 < w and cls[y, x] == cls[y, x + 1]:
                union(y * w + x, y * w + x + 1)
            if y + 1 < h and cls[y, x] == cls[y + 1, x]:
                union(y * w + x, (y + 1) * w + x)

    def gid(local):
        ly, lx = divmod(local, w)
        return (y0 + ly) * width + (x0 + lx)

    for y in range(h):
        for x in range(w):
            assert lab[y, x] == gid(find(y * w + x)), (y, x, cls.tolist())


@given(
    st.binary(max_size=4096),
)
@settings(max_examples=200, deadline=None)
def test_lzw_roundtrip_any_bytes(data):
    """TIFF-variant LZW encode->decode is the identity on arbitrary
    byte strings (early-change width schedule, 12-bit table resets)."""
    from scidbgeo_spark.sources.geotiff import _lzw_decode, _lzw_encode

    assert _lzw_decode(_lzw_encode(data)) == data


@given(st.binary(max_size=4096))
@settings(max_examples=200, deadline=None)
def test_packbits_roundtrip_any_bytes(data):
    """PackBits encode->decode is the identity on arbitrary byte strings
    (replicate runs, 128-byte literal caps, run/literal boundaries)."""
    from scidbgeo_spark.sources.geotiff import _packbits_decode, _packbits_encode

    enc = _packbits_encode(data)
    assert _packbits_decode(enc) == data
    # worst case is bounded: one control byte per 128 literals
    assert len(enc) <= len(data) + (len(data) // 128) + 1


@given(st.binary(max_size=2048), st.integers(1, 64), st.integers(0, 255))
@settings(max_examples=100, deadline=None)
def test_packbits_roundtrip_with_runs(data, runlen, byte):
    """Mixed literal/run content (the raster common case) round-trips and
    long runs actually compress."""
    from scidbgeo_spark.sources.geotiff import _packbits_decode, _packbits_encode

    mixed = data + bytes([byte]) * (runlen * 4) + data[::-1]
    assert _packbits_decode(_packbits_encode(mixed)) == mixed
    long_run = bytes([byte]) * 1000
    assert len(_packbits_encode(long_run)) <= 2 * (1000 // 128 + 1)


@given(
    h=st.integers(2, 16),
    w=st.integers(2, 16),
    r=st.integers(1, 3),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_box_extrema_matches_bruteforce(h, w, r, seed):
    """Separable sliding min/max == brute-force window scan for any
    array, radius, and shrink-at-border geometry."""
    from scidbgeo_spark.kernels import box_extrema

    rng = np.random.default_rng(seed)
    a = rng.integers(-(2**31), 2**31, size=(h, w), dtype=np.int64)
    pad = np.pad(a, r)
    mask = np.pad(np.ones((h, w), bool), r)
    mn, mx = box_extrema(pad, mask, (slice(r, r + h), slice(r, r + w)), r)
    for y in range(h):
        for x in range(w):
            y0, y1 = max(0, y - r), min(h, y + r + 1)
            x0, x1 = max(0, x - r), min(w, x + r + 1)
            win = a[y0:y1, x0:x1]
            assert mn[y, x] == win.min()
            assert mx[y, x] == win.max()


@given(
    st.integers(1, 6),
    st.integers(1, 6),
    st.integers(0, 10**6),
)
@settings(max_examples=60, deadline=None)
def test_steepest_descent_matches_bruteforce(h, w, seed):
    """kernels.steepest_descent on random small grids (values drawn mod
    7 to force heavy ties, random holes in the mask) == scalar argmin
    with (value, ty, tx) tie-break and strict-descent edge rule."""
    import numpy as np

    from scidbgeo_spark.kernels import steepest_descent

    rng = np.random.RandomState(seed % 2**31)
    vals = np.zeros((h + 2, w + 2), dtype=np.int64)
    mask = np.zeros((h + 2, w + 2), dtype=bool)
    inner = rng.randint(0, 7, size=(h, w))
    vals[1 : 1 + h, 1 : 1 + w] = inner
    mask[1 : 1 + h, 1 : 1 + w] = rng.rand(h, w) < 0.9
    sel, bdy, bdx = steepest_descent(vals, mask)

    for y in range(h):
        for x in range(w):
            best = None
            for dy in (-1, 0, 1):
                for dx in (-1, 0, 1):
                    if (dy, dx) == (0, 0):
                        continue
                    yy, xx = 1 + y + dy, 1 + x + dx
                    if not mask[yy, xx]:
                        continue
                    key = (int(vals[yy, xx]), dy, dx)
                    if best is None or key < best:
                        best = key
            expect = (
                mask[1 + y, 1 + x]
                and best is not None
                and best[0] < int(vals[1 + y, 1 + x])
            )
            assert bool(sel[y, x]) == expect
            if expect:
                assert (bdy[y, x], bdx[y, x]) == (best[1], best[2])


@given(
    seed=st.integers(0, 2**31 - 1),
    n_polys=st.integers(1, 5),
    bigendian_probe=st.booleans(),
)
@settings(max_examples=30, deadline=None)
def test_gpb_wkb_roundtrip_property(seed, n_polys, bigendian_probe):
    """Random multi-ring polygons survive the GPB(WKB) encode/parse
    round-trip exactly (the fixture writer closes rings; the parser
    re-opens them)."""
    from scidbgeo_spark.sources.geopackage import _gpb_blob, parse_gpb

    rng = np.random.default_rng(seed)
    for _ in range(n_polys):
        rings = [
            rng.uniform(-180, 180, (int(rng.integers(3, 9)), 2)).round(6)
            for _ in range(int(rng.integers(1, 4)))
        ]
        got = parse_gpb(_gpb_blob(rings))
        assert len(got) == len(rings)
        for g, r in zip(got, rings):
            assert np.array_equal(g, r)


@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_sat_decomposition_property(h, w, seed):
    """The tile decomposition identity integral_image relies on:
    local SAT + rowLeft + colAbove + corner == the global cumsum, for a
    random array split at a random tile boundary."""
    rng = np.random.default_rng(seed)
    a = rng.integers(-100, 100, (h, w)).astype(np.int64)
    sat = a.cumsum(0).cumsum(1)
    ty = int(rng.integers(0, h))
    tx = int(rng.integers(0, w))
    tile = a[ty:, tx:]
    local = tile.cumsum(0).cumsum(1)
    row_left = a[ty:, :tx].sum(axis=1).cumsum() if tx else np.zeros(h - ty, np.int64)
    col_above = a[:ty, tx:].sum(axis=0).cumsum() if ty else np.zeros(w - tx, np.int64)
    corner = int(a[:ty, :tx].sum())
    rebuilt = local + row_left[:, None] + col_above[None, :] + corner
    assert np.array_equal(rebuilt, sat[ty:, tx:])


@given(
    hashes=st.lists(st.integers(0, (1 << 60) - 1), min_size=4, max_size=40),
)
@settings(max_examples=60, deadline=None)
def test_winnow_packed_key_tie_rule_property(hashes):
    """min over packed keys (h40 << 20 | ~pos) == (smallest 40-bit hash,
    rightmost position among ties) for every 4-window."""
    keys = [
        ((h % (1 << 40)) << 20) + ((1 << 20) - 1 - i)
        for i, h in enumerate(hashes)
    ]
    for j in range(len(keys) - 3):
        k = min(keys[j : j + 4])
        pos = (1 << 20) - 1 - (k % (1 << 20))
        h40 = k >> 20
        window = [(hashes[i] % (1 << 40), i) for i in range(j, j + 4)]
        want_h = min(x for x, _ in window)
        want_pos = max(i for x, i in window if x == want_h)
        assert (h40, pos) == (want_h, want_pos)


def test_geohash_prefix_is_parent_cell(spark):
    """Quadkey-hierarchy property: two points share their first c base32
    chars iff they share the level-c geohash cell (5c interleaved bits)
    — prefix truncation IS the parent-cell operation."""
    from pyspark.sql import functions as F

    from scidbgeo_spark.operators import pip

    pts = spark.range(400).select(
        (F.col("id") * 1.37 % 360 - 180.0).alias("lon"),
        (F.col("id") * 0.73 % 180 - 90.0).alias("lat"),
    )
    code = pip.geohash_cell_col()
    rows = pts.select(
        "lon", "lat", code.alias("g"), pip.geohash_str_col(code).alias("gh")
    ).collect()
    for r in rows:
        for c in (1, 2, 3, 4, 5):
            # decode the first c chars back to the top 5c bits
            dec = 0
            for ch in r.gh[:c]:
                dec = dec * 32 + pip.GEOHASH_B32.index(ch)
            assert dec == r.g >> (30 - 5 * c), (r.gh, c)


def test_trajectory_simplify_eps_monotone(spark):
    """Douglas-Peucker tolerance property: a larger eps can only DROP
    vertices (kept sets nest downward), and every kept set contains the
    endpoints."""
    from scidbgeo_spark import model
    from scidbgeo_spark.operators import temporal

    ev = model.load_table(spark, "/root/testdata/sf0.001", "events")
    small = {
        (r.user_id, r.idx)
        for r in temporal.trajectory_simplify(ev, eps=9000).collect()
    }
    large = {
        (r.user_id, r.idx)
        for r in temporal.trajectory_simplify(ev, eps=40000).collect()
    }
    assert large <= small
    assert len(large) < len(small)
    ends = {(r.user_id, 0) for r in ev.select("user_id").distinct().collect()}
    assert ends <= large
