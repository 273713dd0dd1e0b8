"""End-to-end operator tests on the sf0.001 fixture (fast) — each §2.2
workload evaluated two ways: engine pipeline vs a NumPy evaluation of the
AFL semantics (SURVEY §5 item 2)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from scidbgeo_spark import fixtures, model, tiling
from scidbgeo_spark.model import CHUNK, RASTER_W, VALUE_MOD, VALUE_MULT
from scidbgeo_spark.operators import focal, pixel, zonal


@pytest.fixture(scope="module")
def dense(spark, sf_smoke):
    """NumPy twin of the derived raster at sf0.001 (H=10, W=100)."""
    n = spark.read.parquet(f"{sf_smoke}/events.parquet").count()
    ids = np.arange(n, dtype=np.int64)
    vals = (ids * VALUE_MULT) % VALUE_MOD
    return vals.reshape(n // RASTER_W, RASTER_W)


@pytest.fixture(scope="module")
def coo(spark, sf_smoke):
    return model.raster_coo(spark, sf_smoke)


@pytest.fixture(scope="module")
def tiles(spark, sf_smoke, coo, dense):
    h, w = dense.shape
    return tiling.pack_tiles(coo, CHUNK, h, w).cache()


def test_raster_derivation(coo, dense):
    rows = coo.collect()
    assert len(rows) == dense.size
    for r in rows[:50]:
        assert dense[r.y, r.x] == r.value


def test_pack_unpack_roundtrip(tiles, coo, dense):
    back = tiling.tiles_to_coo(tiles)
    a = {(r.y, r.x): r.value for r in back.collect()}
    b = {(r.y, r.x): r.value for r in coo.collect()}
    assert a == b
    # double payloads take the struct-sort path (int_values=False)
    h, w = dense.shape
    fcoo = coo.select("y", "x", (F.col("value") / 7).alias("value"))
    fback = tiling.tiles_to_coo(tiling.pack_tiles(fcoo, CHUNK, h, w, int_values=False))
    assert {(r.y, r.x): r.value for r in fback.collect()} == {
        (r.y, r.x): r.value for r in fcoo.collect()
    }


def test_tile_shapes_ragged_edges(tiles, dense):
    h, w = dense.shape  # 10 x 100 at sf0.001: tiles are 10 x 50
    for t in tiles.collect():
        assert t.h == min(CHUNK, h - t.tile_y * CHUNK)
        assert t.w == min(CHUNK, w - t.tile_x * CHUNK)
        assert len(t.px) == t.h * t.w


def test_count_pixels_sum_semantics(coo, dense):
    got = pixel.count_pixels(coo, 42).collect()[0].pixel_sum
    want = int(dense[dense == 42].sum())
    assert (got or 0) == want


def test_count_pixels_tiles_vs_numpy(tiles, dense):
    """Tile-payload filter+sum equals the NumPy sum, for an absent value
    and a present one."""
    for v in (42, int(dense[3, 7])):
        got = pixel.count_pixels_tiles(tiles, v).collect()[0].pixel_sum
        assert (got or 0) == int(dense[dense == v].sum()), v


def test_reclassify_sum(coo, dense):
    got = pixel.reclassify_sum(coo, 87, 1000).collect()[0].reclass_sum
    assert got == 1000 * int((dense == 87).sum())


def test_between_subarray(coo, dense):
    got = pixel.between(coo, 2, 10, 5, 20).collect()
    assert len(got) == 4 * 11
    sub = pixel.subarray(coo, 2, 10, 5, 20).collect()
    assert {(r.y, r.x) for r in sub} == {(y, x) for y in range(4) for x in range(11)}
    for r in sub:
        assert dense[r.y + 2, r.x + 10] == r.value


def test_overlay_add_tiles(tiles, dense):
    added = pixel.overlay_add_tiles(tiles, tiles)
    back = tiling.tiles_to_coo(added, "result").collect()
    for r in back[:100]:
        assert r.result == 2 * dense[r.y, r.x]


def test_focal_sum36_vs_numpy(spark, tiles, dense):
    h, w = dense.shape
    got = focal.focal_mean_sum36(tiles, h, w, CHUNK).collect()[0].focal_sum36
    # NumPy oracle: shrinking-window 3x3 means over the whole raster
    from scidbgeo_spark.kernels import focal_sum36

    want = focal_sum36(
        np.pad(dense, 1), np.pad(np.ones_like(dense, bool), 1), (slice(1, h + 1), slice(1, w + 1))
    )
    assert got == want


def test_focal_extrema_vs_numpy(tiles, coo, dense):
    """Shrinking-window min/max at every cell equals NumPy, at radius 1
    and 2, and at a ragged chunk (3) whose halos cross every tile edge."""
    h, w = dense.shape
    for radius, ch in ((1, CHUNK), (1, 3), (2, CHUNK)):
        t = tiles if ch == CHUNK else tiling.pack_tiles(coo, ch, h, w)
        got = {
            (r.y, r.x): (r.min_value, r.max_value)
            for r in focal.focal_extrema_coo(t, h, w, ch, radius).collect()
        }
        want = {}
        for y in range(h):
            for x in range(w):
                win = dense[max(0, y - radius) : y + radius + 1,
                            max(0, x - radius) : x + radius + 1]
                want[(y, x)] = (int(win.min()), int(win.max()))
        assert got == want, (radius, ch)


def test_focal_chunk_size_invariance(spark, coo, dense):
    """Chunk size is a physical knob, not a semantic one (config.ini:5
    sweeps it): results must be identical across chunkings."""
    h, w = dense.shape
    outs = []
    for chunk in (5, 10, 50):
        t = tiling.pack_tiles(coo, chunk, h, w)
        outs.append(focal.focal_mean_sum36(t, h, w, chunk).collect()[0].focal_sum36)
    assert outs[0] == outs[1] == outs[2]


@pytest.mark.parametrize("impl", [zonal.zonal_stats_tiles])
def test_zonal_stats_tiles_vs_numpy(spark, sf_correct, impl):
    coo = model.raster_coo(spark, sf_correct)
    h, w = model.raster_dims(spark, sf_correct)
    tiles = tiling.pack_tiles(coo, CHUNK, h, w)
    zt = zonal.rasterize_polygons(spark, fixtures.MIXED_POLYGONS, h, w, CHUNK)
    got = {r.id: r for r in impl(tiles, zt).collect()}

    n = h * w
    ids = np.arange(n, dtype=np.int64)
    dense = ((ids * VALUE_MULT) % VALUE_MOD).reshape(h, w)
    zones = fixtures.mixed_zone_numpy(h, w)
    for zid in np.unique(zones):
        sel = dense[zones == zid]
        r = got[int(zid)]
        assert r.min_value == sel.min()
        assert r.max_value == sel.max()
        assert r.count_value == sel.size
        assert abs(r.avg_value - sel.mean()) < 1e-9


def test_zonal_includes_nodata_group(spark, sf_correct):
    """Pixels outside all polygons join as zone -999 (SURVEY §2.13,
    SciDB_ZonalStats_CL.py:74-77)."""
    coo = model.raster_coo(spark, sf_correct)
    h, w = model.raster_dims(spark, sf_correct)
    tiles = tiling.pack_tiles(coo, CHUNK, h, w)
    zt = zonal.rasterize_polygons(spark, fixtures.MIXED_POLYGONS, h, w, CHUNK)
    ids = [r.id for r in zonal.zonal_stats_tiles(tiles, zt).select("id").collect()]
    assert -999 in ids


def test_pack_tiles_multi_roundtrip(spark, sf_correct):
    """Multi-attribute pack -> unpack is the identity on (y, x, va, vb)."""
    coo = model.raster_coo_multi(spark, sf_correct)
    h, w = model.raster_dims(spark, sf_correct)
    tiles = tiling.pack_tiles_multi(coo, CHUNK, h, w, ["va", "vb"])
    back = tiling.tiles_multi_to_coo(tiles, ["va", "vb"])
    want = sorted((r.y, r.x, r.va, r.vb) for r in coo.collect())
    got = sorted((r.y, r.x, r.va, r.vb) for r in back.collect())
    assert got == want


def test_pack_tiles_multi_attrs_share_cell_order(spark, sf_correct):
    """Both payload arrays of a chunk must be in the SAME row-major cell
    order (one struct sort orders all attributes together)."""
    coo = model.raster_coo_multi(spark, sf_correct)
    h, w = model.raster_dims(spark, sf_correct)
    t = tiling.pack_tiles_multi(coo, CHUNK, h, w, ["va", "vb"]).first()
    assert len(t.px_va) == len(t.px_vb) == t.h * t.w
    # cell (0,0) of the first tile: event_id = y0*W + x0
    eid = t.y0 * w + t.x0
    assert t.px_va[0] == (eid * VALUE_MULT) % VALUE_MOD
    from scidbgeo_spark.model import VALUE_MOD_B, VALUE_MULT_B

    assert t.px_vb[0] == (eid * VALUE_MULT_B) % VALUE_MOD_B


def test_region_label_matches_union_find(spark, sf_correct):
    """Distributed block-wise CC == driver union-find ground truth."""
    import numpy as np

    from scidbgeo_spark import model
    from scidbgeo_spark.model import CHUNK
    from scidbgeo_spark.operators import regions

    coo = model.raster_coo(spark, sf_correct)
    h, w = model.raster_dims(spark, sf_correct)
    got = {
        (r.y, r.x): (r.cls, r.region)
        for r in regions.region_label(spark, coo, h, w, CHUNK).collect()
    }
    n = h * w
    cls = (((np.arange(n) * model.VALUE_MULT) % model.VALUE_MOD) // regions.CLASS_DIV).reshape(h, w)
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
    want = {
        (y, x): (int(cls[y, x]), find(y * w + x))
        for y in range(h)
        for x in range(w)
    }
    assert got == want


def test_region_label_chunk_invariant(spark, sf_correct):
    """Region ids must not depend on the chunking (tiny chunks maximize
    cross-tile merges; the label graph does the work)."""
    from scidbgeo_spark import model
    from scidbgeo_spark.operators import regions

    coo = model.raster_coo(spark, sf_correct)
    h, w = model.raster_dims(spark, sf_correct)
    a = sorted(
        (r.y, r.x, r.region)
        for r in regions.region_label(spark, coo, h, w, 13).collect()
    )
    b = sorted(
        (r.y, r.x, r.region)
        for r in regions.region_label(spark, coo, h, w, 50).collect()
    )
    assert a == b


def test_region_vectorize_envelopes_cover_regions(spark, sf_correct):
    """region_vectorize emits world-coordinate WKT envelopes that (a)
    parse back through the vector-layer reader (the raster->vector->PIP
    loop) and (b) exactly cover their region's pixel bbox under the
    integer geotransform."""
    import numpy as np

    from scidbgeo_spark import model
    from scidbgeo_spark.model import CHUNK
    from scidbgeo_spark.operators import regions
    from scidbgeo_spark.sources import vector

    coo = model.raster_coo(spark, sf_correct)
    h, w = model.raster_dims(spark, sf_correct)
    labeled = regions.region_label(spark, coo, h, w, CHUNK)
    feats = regions.region_vectorize(labeled)
    stats = {r.region: r for r in regions.region_stats(labeled).collect()}
    rows = feats.collect()
    assert len(rows) == len(stats)
    assert all(r.wkt.startswith("POLYGON((") for r in rows)
    layer = vector.polygons_from_wkt(
        feats.select(F.col("region").alias("zone_id"), "wkt")
    ).collect()
    assert len(layer) == len(stats)
    by_zone = {r.zone_id: r for r in layer}
    for r in rows:
        s = stats[r.region]
        ring = by_zone[r.region]
        xs, ys = np.array(ring.xs), np.array(ring.ys)
        assert xs.min() == regions.VEC_UL_X + regions.VEC_X_DIST * s.x_min
        assert xs.max() == regions.VEC_UL_X + regions.VEC_X_DIST * (s.x_max + 1)
        # y_dist negative: max world y at y_min
        assert ys.max() == regions.VEC_UL_Y + regions.VEC_Y_DIST * s.y_min
        assert ys.min() == regions.VEC_UL_Y + regions.VEC_Y_DIST * (s.y_max + 1)
        assert len(xs) == 4  # closed ring stored open: 4 corners


def test_upsample_inverts_through_downsample(spark, sf_correct):
    """xgrid then regrid(avg) is the identity on the original grid (each
    2x2 block holds one constant value), and cardinality is exactly 4x."""
    coo = model.raster_coo(spark, sf_correct)
    up = pixel.upsample(coo, 2, 2)
    assert up.count() == coo.count() * 4
    back = pixel.downsample(up, 2)
    got = {(r.y, r.x): r.value_avg for r in back.collect()}
    want = {(r.y, r.x): float(r.value) for r in coo.collect()}
    assert got == want


def test_bernoulli_sample_deterministic_and_partition_invariant(spark, sf_correct):
    """The seeded sample is identical across partitionings and repeated
    runs, disjoint across seeds ~ at the expected rate."""
    coo = model.raster_coo(spark, sf_correct)
    a = sorted((r.y, r.x) for r in pixel.bernoulli_sample(coo).collect())
    b = sorted(
        (r.y, r.x)
        for r in pixel.bernoulli_sample(coo.repartition(7, "x")).collect()
    )
    assert a == b
    n = coo.count()
    assert 0.2 * n < len(a) < 0.3 * n  # permille=250
    other = sorted((r.y, r.x) for r in pixel.bernoulli_sample(coo, seed=7).collect())
    assert other != a


def test_focal_radius2_vs_numpy_and_chunk_invariance(spark, sf_correct):
    """Arbitrary-radius window op: r=2 equals the NumPy 5x5 shrinking-
    window mean, identically across chunkings; undersized ragged edge
    tiles are rejected up front."""
    coo = model.raster_coo(spark, sf_correct)
    h, w = model.raster_dims(spark, sf_correct)
    n = h * w
    dense = ((np.arange(n, dtype=np.int64) * VALUE_MULT) % VALUE_MOD).reshape(h, w)
    from scidbgeo_spark.kernels import focal_mean

    pad = np.pad(dense, 2)
    mask = np.pad(np.ones_like(dense, bool), 2)
    want = focal_mean(pad, mask, (slice(2, h + 2), slice(2, w + 2)), radius=2)
    outs = []
    for chunk in (25, 50):
        t = tiling.pack_tiles(coo, chunk, h, w)
        means = focal.focal_mean_tiles(t, h, w, chunk, radius=2)
        got = {(r.y, r.x): r.value_avg for r in tiling.tiles_to_coo(means, "value_avg").collect()}
        outs.append(got)
    assert outs[0] == outs[1]
    assert len(outs[0]) == n
    for (y, x), v in outs[0].items():
        assert abs(v - want[y, x]) < 1e-12
    # h=100, chunk=33 -> ragged edge tile spans 1 cell < radius 2
    t = tiling.pack_tiles(coo, 33, h, w)
    with pytest.raises(ValueError, match="ragged edge"):
        focal.focal_mean_tiles(t, h, w, 33, radius=2)


def test_zonal_mode_vs_numpy(spark, sf_correct):
    """Majority value per zone equals the NumPy bincount argmax, with
    ties broken toward the smaller value."""
    coo = model.raster_coo(spark, sf_correct)
    h, w = model.raster_dims(spark, sf_correct)
    tiles = tiling.pack_tiles(coo, CHUNK, h, w)
    zt = zonal.rasterize_polygons(spark, fixtures.MIXED_POLYGONS, h, w, CHUNK)
    got = {
        r.id: (r.mode_value, r.n_pixels)
        for r in zonal.zonal_mode(zonal.zone_cells(tiles, zt)).collect()
    }
    n = h * w
    dense = ((np.arange(n, dtype=np.int64) * VALUE_MULT) % VALUE_MOD).reshape(h, w)
    zones = fixtures.mixed_zone_numpy(h, w)
    for zid in np.unique(zones):
        sel = dense[zones == zid]
        vals, counts = np.unique(sel, return_counts=True)
        best = counts.max()
        want_v = vals[counts == best].min()  # tie -> smaller value
        assert got[int(zid)] == (int(want_v), int(best))


def test_zonal_variance_vs_numpy(spark, tiles, dense):
    """Population variance and stddev per zone (nodata zone included)
    equal NumPy's over the mixed rect/poly zones."""
    h, w = dense.shape
    zt = zonal.rasterize_polygons(spark, fixtures.MIXED_POLYGONS, h, w, CHUNK)
    got = {r.id: r for r in zonal.zonal_variance(zonal.zone_cells(tiles, zt)).collect()}
    zones = fixtures.mixed_zone_numpy(h, w)
    assert set(got) == {int(z) for z in np.unique(zones)}
    for zid in np.unique(zones):
        sel = dense[zones == zid]
        r = got[int(zid)]
        assert r.count_value == sel.size
        assert abs(r.var_value - sel.var()) < 1e-9
        assert abs(r.std_value - sel.std()) < 1e-9


def test_transpose_involution(coo):
    a = sorted(tuple(r) for r in pixel.transpose(pixel.transpose(coo)).collect())
    b = sorted(tuple(r) for r in coo.collect())
    assert a == b


def test_zonal_variance_int32_extreme_no_overflow(spark):
    """Four int32-extreme pixels push the sum of squares past 2^63: a
    BIGINT accumulator silently wraps (r3 advice); the DECIMAL(38,0)
    path must return the true variance."""
    from scidbgeo_spark.kernels import PolyPack

    big = 2**31 - 1
    coo = spark.createDataFrame(
        [(0, 0, big), (0, 1, big), (1, 0, -big), (1, 1, big)],
        "y long, x long, value long",
    )
    tiles = tiling.pack_tiles(coo, 2, 2, 2)
    zt = zonal.rasterize_polygons(spark, PolyPack.rect_grid(2, 2, 2, 2), 2, 2, 2)
    row = zonal.zonal_variance(zonal.zone_cells(tiles, zt)).collect()[0]
    assert row.count_value == 4
    # s = 2*big, ss = 4*big^2 (~1.8e19 > int64 max), var = 12*big^2/16
    assert row.var_value == pytest.approx(0.75 * big * big, rel=1e-12)
    assert row.std_value == pytest.approx((0.75 * big * big) ** 0.5, rel=1e-12)


def test_zonal_stats_time_matches_per_band_2d(spark, sf_correct):
    """The 3-D temporal zonal stats equal running the 2-D zonal operator
    on each band slice separately — one query replaces the per-slice
    loop without changing a value."""
    from scidbgeo_spark.model import RASTER3_W
    from scidbgeo_spark.operators import pixel as px

    coo3 = model.raster3_coo(spark, sf_correct)
    bands, h3, w3 = model.raster3_dims(spark, sf_correct)
    tiles3 = tiling.pack_tiles_3d(coo3, CHUNK, h3, RASTER3_W)
    zt = zonal.rasterize_polygons(
        spark, fixtures.rect_grid_polygons(h3, w3), h3, w3, CHUNK
    )
    got = {
        (r["id"], r["band"]): (r["min_value"], r["max_value"], r["avg_value"], r["count_value"])
        for r in zonal.zonal_stats_time(zonal.zone_cells(tiles3, zt)).collect()
    }
    for b in range(bands):
        t2 = tiling.pack_tiles(px.slice_band(coo3, b), CHUNK, h3, w3)
        want = {
            r["id"]: (r["min_value"], r["max_value"], r["avg_value"], r["count_value"])
            for r in zonal.zonal_stats_tiles(t2, zt).collect()
        }
        per_band = {z: v for (z, bb), v in got.items() if bb == b}
        assert per_band == want, f"band {b}"


def test_pip_unmatched_partitions_the_point_set(spark, sf_correct):
    """Matched + unmatched exactly partition the points: disjoint ids,
    union = all, and no unmatched point ray-casts into any polygon."""
    from scidbgeo_spark.operators import pip as pip_ops

    pts = model.points(spark, sf_correct)
    hits = pip_ops.pip_join(spark, pts, fixtures.GEO_POLYGONS)
    un = pts.join(hits.select("doc_id"), "doc_id", "left_anti")
    hit_ids = {r["doc_id"] for r in hits.select("doc_id").distinct().collect()}
    un_ids = {r["doc_id"] for r in un.select("doc_id").collect()}
    all_ids = {r["doc_id"] for r in pts.select("doc_id").collect()}
    assert hit_ids | un_ids == all_ids
    assert not (hit_ids & un_ids)


def test_raster_pyramid_cascades_exact_base_means(spark, sf_correct):
    """Every pyramid level equals the direct base-raster block mean
    (cascading (sum, count) partials is exact, NOT a mean-of-means —
    ragged edge blocks included), and level 1 equals downsample(2)."""
    coo = model.raster_coo(spark, sf_correct)
    got = {}
    for r in pixel.raster_pyramid(coo, levels=3).collect():
        got[(r["level"], r["y"], r["x"])] = r["value_avg"]
    rows = coo.collect()
    from collections import defaultdict

    for lv, f in [(1, 2), (2, 4), (3, 8)]:
        acc = defaultdict(lambda: [0, 0])
        for r in rows:
            k = (r["y"] // f, r["x"] // f)
            acc[k][0] += r["value"]
            acc[k][1] += 1
        assert sum(k[0] == lv for k in got) == len(acc), lv
        for (y, x), (s, c) in acc.items():
            assert got[(lv, y, x)] == s / c, (lv, y, x)
    ds = {(1, r["y"], r["x"]): r["value_avg"] for r in pixel.downsample(coo, 2).collect()}
    assert {k: v for k, v in got.items() if k[0] == 1} == ds


def test_focal_mean_time_matches_per_band_2d(spark, sf_correct):
    """3-D focal mean == the verified 2-D focal operator run per slice,
    including at a chunk size that fragments each band into many tiles
    (band-keyed halo messages must never mix slices)."""
    from scidbgeo_spark.model import RASTER3_W

    coo3 = model.raster3_coo(spark, sf_correct)
    bands, h3, w3 = model.raster3_dims(spark, sf_correct)
    for ch in (CHUNK, 2):  # single tile per band, then 2x2-cell tiles
        tiles3 = tiling.pack_tiles_3d(coo3, ch, h3, RASTER3_W)
        got = {
            (r["band"], r["y"], r["x"]): r["value_avg"]
            for r in focal.focal_mean_time(tiles3, h3, RASTER3_W, ch).collect()
        }
        for b in range(bands):
            t2 = tiling.pack_tiles(pixel.slice_band(coo3, b), ch, h3, w3)
            means = tiling.tiles_to_coo(focal.focal_mean_tiles(t2, h3, w3, ch), "value_avg")
            want = {(r["y"], r["x"]): r["value_avg"] for r in means.collect()}
            per_band = {(y, x): v for (bb, y, x), v in got.items() if bb == b}
            assert per_band == want, (ch, b)


def test_rasterize_layer_df_matches_driver_list_path(spark, sf_correct):
    """DataFrame-layer rasterize (per-tile bbox-pruned broadcast range
    join) == whole-layer broadcast rasterize, on the rect grid AND the
    overlapping MIXED layer (burn order by ascending zone_id == list
    order for the fixtures); tiles with no overlapping ring burn to the
    nodata zone."""
    from scidbgeo_spark.kernels import NODATA_ZONE

    h = w = 100
    for polys in (fixtures.rect_grid_polygons(h, w), fixtures.MIXED_POLYGONS):
        rows = [
            (int(z), [float(v) for v in r[:, 0]], [float(v) for v in r[:, 1]])
            for z, r in polys
        ]
        layer = spark.createDataFrame(rows, "zone_id int, xs array<double>, ys array<double>")
        got = {
            (r.tile_y, r.tile_x): list(r.zid)
            for r in zonal.rasterize_layer_df(spark, layer, h, w, 50).collect()
        }
        want = {
            (r.tile_y, r.tile_x): list(r.zid)
            for r in zonal.rasterize_polygons(spark, polys, h, w, 50).collect()
        }
        assert got == want
    # MIXED covers only the upper-left: some tiles are pure nodata
    nodata_tiles = [k for k, v in got.items() if set(v) == {NODATA_ZONE}]
    assert nodata_tiles


def test_zonal_change_zero_when_slices_equal(spark, sf_correct):
    """Change detection sanity: diffing a slice against ITSELF yields
    all-zero deltas in every zone; band1-band0 matches a per-pixel
    Python diff aggregated per zone."""
    from collections import defaultdict

    from scidbgeo_spark.model import RASTER3_W

    coo3 = model.raster3_coo(spark, sf_correct)
    _, h3, w3 = model.raster3_dims(spark, sf_correct)
    a = pixel.slice_band(coo3, 0)
    same = a.alias("p").join(a.alias("q"), ["y", "x"]).select(
        "y", "x", (F.col("q.value") - F.col("p.value")).alias("value")
    )
    tiles = tiling.pack_tiles(same, CHUNK, h3, RASTER3_W)
    zt = zonal.rasterize_polygons(
        spark, fixtures.rect_grid_polygons(h3, w3), h3, w3, CHUNK
    )
    for r in zonal.zonal_stats_tiles(tiles, zt).collect():
        assert r["min_value"] == r["max_value"] == 0
        assert r["avg_value"] == 0.0
    # real diff vs python reference
    av = {(r["y"], r["x"]): r["value"] for r in a.collect()}
    bv = {(r["y"], r["x"]): r["value"] for r in pixel.slice_band(coo3, 1).collect()}
    import __spark_entry__ as e

    got = {r["id"]: (r["min_value"], r["max_value"], r["count_value"])
           for r in e.queries()["zonal_change"](spark, sf_correct).collect()}
    zones = defaultdict(list)
    from scidbgeo_spark.fixtures import ZONE_H, ZONE_W

    nzx = w3 // ZONE_W
    for (y, x), v in av.items():
        zid = (y // ZONE_H) * nzx + (x // ZONE_W)
        if y >= (h3 // ZONE_H) * ZONE_H or x >= nzx * ZONE_W:
            zid = -999
        zones[zid].append(bv[(y, x)] - v)
    want = {z: (min(d), max(d), len(d)) for z, d in zones.items()}
    assert got == want


def test_traffic_spikes_window_arithmetic(spark):
    """Hand-built hourly stream: the trailing sum/count and the spike
    ratio follow the 24-row frame exactly; the no-baseline sentinel is
    0, never NULL."""
    import datetime as dt

    base = dt.datetime(2026, 1, 1)
    rows = []
    # 26 hours of 'click', hour h has h+1 events
    eid = 0
    for h in range(26):
        for _ in range(h + 1):
            rows.append((eid, base + dt.timedelta(hours=h, minutes=1), 7, "click", 0.0, "{}"))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    import __spark_entry__ as e
    from unittest import mock

    with mock.patch.object(model, "load_table", return_value=ev):
        out = {r["hour"].hour + (r["hour"].day - 1) * 24: r
               for r in e.queries()["traffic_spikes"](spark, "ignored").collect()}
    assert out[0]["trailing_sum"] == 0 and out[0]["spike_score"] == 0.0
    # hour 5: trailing = hours 0..4 -> sum 1+2+3+4+5=15, n=5, cnt=6
    assert out[5]["trailing_sum"] == 15
    assert out[5]["trailing_hours"] == 5
    assert out[5]["spike_score"] == 6 * 5 / 15
    # hour 25: frame = hours 1..24 (24 rows) -> sum 2..25 = 324, cnt 26
    assert out[25]["trailing_hours"] == 24
    assert out[25]["trailing_sum"] == sum(range(2, 26))
    assert out[25]["spike_score"] == 26 * 24 / sum(range(2, 26))


def test_traffic_spikes_time_range_not_rows(spark):
    """The baseline is a TIME range, not a rows frame: after a 36-hour
    silent gap, the burst hour has NO baseline (old hours must not leak
    across the gap the way a trailing-24-ROWS frame would)."""
    import datetime as dt
    from unittest import mock

    base = dt.datetime(2026, 1, 1)
    rows = []
    eid = 0
    for h in [0, 1, 2, 3, 40, 41]:
        for _ in range(5):
            rows.append((eid, base + dt.timedelta(hours=h), 7, "buy", 0.0, "{}"))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    import __spark_entry__ as e

    with mock.patch.object(model, "load_table", return_value=ev):
        out = {r["hour"].hour + (r["hour"].day - 1) * 24: r
               for r in e.queries()["traffic_spikes"](spark, "ignored").collect()}
    assert out[40]["trailing_hours"] == 0 and out[40]["trailing_sum"] == 0
    assert out[40]["spike_score"] == 0.0
    assert out[41]["trailing_hours"] == 1 and out[41]["trailing_sum"] == 5


def test_areal_interpolate_exact_and_deduped(spark):
    """Hand-checkable areal interpolation: two 10x10 source zones with
    values 100 / 200, one 10x10 target straddling them evenly plus one
    partially-covered target.  cell=8 forces every rect to span
    SEVERAL covering cells, so the same (a, b) pair meets in more than
    one cell and the pre-rollup dedup is load-bearing; the plan must
    stay an equi-join (no cartesian/nested-loop from the overlap
    filter)."""
    from scidbgeo_spark.operators import regions

    a = spark.createDataFrame(
        [(0, 0, 10, 0, 10, 100), (1, 0, 10, 10, 20, 200)],
        "zid_a long, y0 long, y1 long, x0 long, x1 long, value long",
    )
    b = spark.createDataFrame(
        # b0 straddles a0|a1 evenly; b1 hangs off the covered extent
        [(0, 0, 10, 5, 15), (1, 5, 15, 15, 25)],
        "zid_b long, y0 long, y1 long, x0 long, x1 long",
    )
    out = regions.areal_interpolate(a, b, cell=8, area_a=100)
    rows = {r.zid_b: r for r in out.collect()}
    assert rows[0].n_parts == 2 and rows[0].covered_area == 100
    # 100 * 50/100 + 200 * 50/100 = 150
    assert rows[0].est_value == 150.0
    # b1 overlaps only a1: 5x5 = 25 px -> 200 * 25/100 = 50
    assert rows[1].n_parts == 1 and rows[1].covered_area == 25
    assert rows[1].est_value == 50.0

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "NestedLoop" not in plan

    # float path (no uniform area): same numbers via per-pair division
    outf = {r.zid_b: r for r in regions.areal_interpolate(a, b, cell=8).collect()}
    assert outf[0].est_value == 150.0 and outf[1].est_value == 50.0


def test_terrain_vs_numpy_and_chunk_invariance(spark, coo, dense):
    """Horn terrain derivatives == a scalar brute-force evaluation on the
    dense NumPy twin (gx/gy/d8 integer-exact; slope/hillshade bit-exact
    IEEE), at the default chunk AND a ragged chunk (3) that forces halo
    strips across every tile edge."""
    import math

    a = dense.astype(np.int64)
    h, w = a.shape
    exp = {}
    for y in range(1, h - 1):
        for x in range(1, w - 1):
            nw, n_, ne = int(a[y-1, x-1]), int(a[y-1, x]), int(a[y-1, x+1])
            w_, e_ = int(a[y, x-1]), int(a[y, x+1])
            sw, s_, se = int(a[y+1, x-1]), int(a[y+1, x]), int(a[y+1, x+1])
            gx = (ne + 2 * e_ + se) - (nw + 2 * w_ + sw)
            gy = (sw + 2 * s_ + se) - (nw + 2 * n_ + ne)
            if gx == 0 and gy == 0:
                d8 = 0
            elif gx > 0 and gy >= 0 and gy < gx:
                d8 = 1
            elif gy > 0 and gx > 0:
                d8 = 2
            elif gy > 0 and gx <= 0 and abs(gx) < gy:
                d8 = 3
            elif gy > 0 and gx < 0:
                d8 = 4
            elif gx < 0 and gy <= 0 and abs(gy) < abs(gx):
                d8 = 5
            elif gy < 0 and gx < 0:
                d8 = 6
            elif gy < 0 and gx >= 0 and gx < abs(gy):
                d8 = 7
            else:
                d8 = 8
            sq = gx * gx + gy * gy
            slope = math.sqrt(float(sq)) / 8.0
            hs = math.floor(
                max(
                    0.0,
                    255.0
                    * ((gx + gy) / 16.0 + math.sqrt(0.5))
                    / math.sqrt(1.0 + sq / 64.0),
                )
                + 0.5
            )
            exp[(y, x)] = (gx, gy, slope, d8, int(hs))
    for ch in (CHUNK, 3):  # 3 leaves ragged 1-cell edge tiles both dims
        t = tiling.pack_tiles(coo, ch, h, w)
        got = {
            (r["y"], r["x"]): (r["gx"], r["gy"], r["slope"], r["d8"], r["hillshade"])
            for r in focal.terrain_coo(t, h, w, ch).collect()
        }
        assert got == exp, ch


def test_point_density_vs_python(spark, sf_smoke):
    """Binomial-smoothed density == a scalar convolution of Python-float
    cell counts (same doubles end to end)."""
    from scidbgeo_spark.operators import knn as knn_mod

    pts = model.points(spark, sf_smoke)
    counts = {}
    for r in pts.collect():
        key = (math_floor(r["lat"] + 90.0), math_floor(r["lon"] + 180.0))
        counts[key] = counts.get(key, 0) + 1
    exp = {}
    for (cy, cx), n in counts.items():
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                ty, tx = cy + dy, cx + dx
                if 0 <= ty < 180 and 0 <= tx < 360:
                    exp[(ty, tx)] = exp.get((ty, tx), 0) + n * (2 - abs(dy)) * (
                        2 - abs(dx)
                    )
    got = {
        (r["cy"], r["cx"]): r["density"]
        for r in knn_mod.point_density(pts).collect()
    }
    assert got == exp


def math_floor(v: float) -> int:
    import math

    return int(math.floor(v))


def _flow_bruteforce(dense):
    """Pure-Python twin: D8 steepest-descent edges (ties: smallest
    (ty, tx)), then walk every cell's path to its sink, counting
    pass-throughs."""
    h, w = dense.shape
    tgt = {}
    for y in range(h):
        for x in range(w):
            best = None
            for dy in (-1, 0, 1):
                for dx in (-1, 0, 1):
                    if dy == 0 and dx == 0:
                        continue
                    ny, nx = y + dy, x + dx
                    if not (0 <= ny < h and 0 <= nx < w):
                        continue
                    key = (int(dense[ny, nx]), ny, nx)
                    if best is None or key < best:
                        best = key
            if best is not None and best[0] < int(dense[y, x]):
                tgt[(y, x)] = (best[1], best[2])
    acc = {}
    for start in tgt:
        cur = start
        while cur in tgt:
            cur = tgt[cur]
            acc[cur] = acc.get(cur, 0) + 1
    return acc


def test_flow_accum_vs_bruteforce(spark, tiles, dense):
    h, w = dense.shape
    got = {
        (r.y, r.x): r.acc
        for r in focal.flow_accum_coo(tiles, h, w, CHUNK).collect()
    }
    assert got == _flow_bruteforce(dense)


def test_flow_accum_chunk_invariant(spark, coo, dense):
    h, w = dense.shape
    base = None
    for chunk in (7, 50):
        t = tiling.pack_tiles(coo, chunk, h, w)
        cur = sorted(
            map(tuple, focal.flow_accum_coo(t, h, w, chunk).collect())
        )
        base = cur if base is None else base
        assert cur == base


def test_join_counts_vs_numpy(spark, tiles, dense):
    h, w = dense.shape
    b = (dense >= 126).astype(int)
    bb = bw = ww = 0
    for dy, dx in ((0, 1), (1, 0)):
        a = b[: h - dy, : w - dx]
        t = b[dy:, dx:]
        s = a + t
        bb += int((s == 2).sum())
        bw += int((s == 1).sum())
        ww += int((s == 0).sum())
    row = focal.join_counts_coo(tiles, h, w, CHUNK).collect()[0]
    assert (row.n_bb, row.n_bw, row.n_ww) == (bb, bw, ww)
    # every rook pair counted exactly once
    assert row.n_bb + row.n_bw + row.n_ww == h * (w - 1) + (h - 1) * w


def test_flow_accum_constant_raster_is_empty(spark):
    """A constant field has no strictly-descending neighbor anywhere:
    zero flow edges, zero accumulation rows (and no crash on the
    empty-forest path)."""
    coo = spark.range(100).selectExpr(
        "id DIV 10 AS y", "id % 10 AS x", "CAST(7 AS BIGINT) AS value"
    )
    t = tiling.pack_tiles(coo, 5, 10, 10)
    assert focal.flow_edges_coo(t, 10, 10, 5).count() == 0
    assert focal.flow_accum_coo(t, 10, 10, 5).count() == 0


def test_affine_warp_rotation_identity_and_unimodular_guard(coo, dense):
    h, w = dense.shape
    # four 90-degree rotations compose to the identity (dims swap each
    # turn, so the translation alternates h-1 / w-1)
    r1 = pixel.affine_warp(coo, 0, 1, -1, 0, ty=0, tx=h - 1)
    r2 = pixel.affine_warp(r1, 0, 1, -1, 0, ty=0, tx=w - 1)
    r3 = pixel.affine_warp(r2, 0, 1, -1, 0, ty=0, tx=h - 1)
    r4 = pixel.affine_warp(r3, 0, 1, -1, 0, ty=0, tx=w - 1)
    assert sorted(map(tuple, r4.collect())) == sorted(map(tuple, coo.collect()))
    # one rotation spot-check against the dense twin
    got = {(r.y, r.x): r.value for r in r1.collect()}
    assert got[(0, h - 1)] == dense[0, 0]
    assert got[(w - 1, 0)] == dense[h - 1, w - 1]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unimodular"):
        pixel.affine_warp(coo, 2, 0, 0, 1)


def test_cost_reach_vs_python_dijkstra_prefix(spark, coo, dense):
    """cost_reach == the bounded-K Bellman-Ford prefix computed
    scalar-side (which for K rounds equals cheapest <=K-step paths)."""
    h, w = dense.shape
    INF = float("inf")
    dist = {
        (y, x): (0 if dense[y, x] == 0 else INF)
        for y in range(h)
        for x in range(w)
    }
    for _ in range(4):
        new = dict(dist)
        for (y, x), d0 in dist.items():
            if dense[y, x] == 0:
                continue
            best = min(
                (
                    dist.get((y + dy, x + dx), INF)
                    for dy in (-1, 0, 1)
                    for dx in (-1, 0, 1)
                    if (dy, dx) != (0, 0)
                ),
                default=INF,
            )
            if best + dense[y, x] < new[(y, x)]:
                new[(y, x)] = best + int(dense[y, x])
        dist = new
    want = {c: d for c, d in dist.items() if d < INF}
    got = {
        (r.y, r.x): r.cost
        for r in focal.cost_reach_coo(coo).collect()
    }
    assert got == want


def _watershed_bruteforce(dense):
    """Pure-Python twin: walk every cell's D8 steepest-descent path to
    its terminal sink (cells with no strict descent are their own)."""
    h, w = dense.shape
    tgt = {}
    for y in range(h):
        for x in range(w):
            best = None
            for dy in (-1, 0, 1):
                for dx in (-1, 0, 1):
                    if dy == 0 and dx == 0:
                        continue
                    ny, nx = y + dy, x + dx
                    if not (0 <= ny < h and 0 <= nx < w):
                        continue
                    key = (int(dense[ny, nx]), ny, nx)
                    if best is None or key < best:
                        best = key
            if best is not None and best[0] < int(dense[y, x]):
                tgt[(y, x)] = (best[1], best[2])
    out = {}
    for y in range(h):
        for x in range(w):
            cur = (y, x)
            while cur in tgt:
                cur = tgt[cur]
            out[(y, x)] = cur
    return out


def test_watershed_vs_bruteforce(spark, coo, tiles, dense):
    h, w = dense.shape
    got = {
        (r.y, r.x): (r.basin_y, r.basin_x)
        for r in focal.watershed_basins_coo(coo, tiles, h, w, CHUNK).collect()
    }
    assert got == _watershed_bruteforce(dense)
    # every basin label is a genuine sink: it maps to itself
    for sink in set(got.values()):
        assert got[sink] == sink


def test_watershed_constant_raster_self_basins(spark):
    """A constant field has no flow edges: every cell is its own basin
    (and pointer jumping converges on round one)."""
    c = spark.range(100).selectExpr(
        "id DIV 10 AS y", "id % 10 AS x", "CAST(7 AS BIGINT) AS value"
    )
    t = tiling.pack_tiles(c, 5, 10, 10)
    rows = focal.watershed_basins_coo(c, t, 10, 10, 5).collect()
    assert len(rows) == 100
    assert all((r.basin_y, r.basin_x) == (r.y, r.x) for r in rows)


def test_mk_trend_vs_python(spark, sf_smoke):
    """Pure-Python twin of the per-cell Mann-Kendall fold on the smoke
    3-D raster: exact pairwise signs over the band axis."""
    from scidbgeo_spark.operators import temporal

    coo3 = model.raster3_coo(spark, sf_smoke)
    series = {}
    for r in coo3.collect():
        series.setdefault((r.y, r.x), []).append((r.band, r.value))
    want = {}
    for c, tv in series.items():
        tv.sort()
        s = sum(
            (0 if b[1] == a[1] else (1 if b[1] > a[1] else -1))
            for i, a in enumerate(tv)
            for b in tv[i + 1 :]
        )
        n = len(tv)
        want[c] = (n, n * (n - 1) // 2, s)
    got = {
        (r.y, r.x): (r.n_bands, r.n_pairs, r.s_stat)
        for r in temporal.mk_trend(coo3).collect()
    }
    assert got == want
    # the multiplicative-hash field is non-degenerate: both signs occur
    assert min(v[2] for v in want.values()) < 0 < max(v[2] for v in want.values())


def test_focal_mode_vs_bruteforce(spark, tiles, dense):
    """Python twin of the 3x3 majority filter (max count, ties to the
    smallest value, borders shrink)."""
    from collections import Counter

    h, w = dense.shape
    want = {}
    for y in range(h):
        for x in range(w):
            c = Counter(
                int(dense[y + dy, x + dx])
                for dy in (-1, 0, 1)
                for dx in (-1, 0, 1)
                if 0 <= y + dy < h and 0 <= x + dx < w
            )
            best = max(c.items(), key=lambda kv: (kv[1], -kv[0]))
            want[(y, x)] = best[0]
    got = {
        (r.y, r.x): r.mode_value
        for r in focal.focal_mode_coo(tiles, h, w, CHUNK).collect()
    }
    assert got == want


def test_focal_mode_chunk_invariant_and_constant(spark, coo, dense):
    h, w = dense.shape
    base = None
    for chunk in (7, 50):
        t = tiling.pack_tiles(coo, chunk, h, w)
        cur = sorted(map(tuple, focal.focal_mode_coo(t, h, w, chunk).collect()))
        base = cur if base is None else base
        assert cur == base
    # constant field: mode is the constant everywhere
    c = spark.range(100).selectExpr(
        "id DIV 10 AS y", "id % 10 AS x", "CAST(7 AS BIGINT) AS value"
    )
    t = tiling.pack_tiles(c, 5, 10, 10)
    rows = focal.focal_mode_coo(t, 10, 10, 5).collect()
    assert len(rows) == 100 and all(r.mode_value == 7 for r in rows)


def test_upsample_bilinear_vs_numpy(spark, coo, dense):
    """Python gather twin: every output cell samples the input at
    (Y/2 - 0.25, X/2 - 0.25) with edge clamp — exact x16 integers —
    plus mass conservation (each input scatters total weight 64)."""
    h, w = dense.shape
    got = {
        (r.y, r.x): r.value16
        for r in pixel.upsample_bilinear(coo, h, w).collect()
    }
    assert len(got) == 4 * h * w
    d = dense.astype(np.int64)

    def cl(i, n):
        return min(max(i, 0), n - 1)

    def vert(Y):
        # (near cell, weight 3), (far cell, weight 1), x4 scale
        if Y % 2 == 0:
            return ((Y // 2, 3), (Y // 2 - 1, 1))
        return ((Y // 2, 3), (Y // 2 + 1, 1))

    for Y in range(2 * h):
        for X in range(2 * w):
            want = sum(
                int(d[cl(yy, h), cl(xx, w)]) * wy * wx
                for yy, wy in vert(Y)
                for xx, wx in vert(X)
            )
            assert got[(Y, X)] == want, (Y, X)
    assert sum(got.values()) == 64 * int(d.sum())


def test_upsample_bilinear_constant_and_mass(spark):
    c = spark.range(100).selectExpr(
        "id DIV 10 AS y", "id % 10 AS x", "CAST(5 AS BIGINT) AS value"
    )
    rows = pixel.upsample_bilinear(c, 10, 10).collect()
    assert len(rows) == 400
    assert all(r.value16 == 80 and r.value == 5.0 for r in rows)


def test_los_visibility_vs_python_and_chunk_invariant(spark, coo, dense):
    """Python prefix-max twin, plus invariance of the segmented scan to
    the chunk size (1 -> trivial segments, width -> single segment)."""
    h, w = dense.shape
    want = {}
    for y in range(h):
        best = -1
        for x in range(w):
            v = int(dense[y, x])
            want[(y, x)] = (best, v > best)
            best = max(best, v)
    for chunk in (1, 7, w):
        got = {
            (r.y, r.x): (r.horizon, r.visible)
            for r in pixel.los_visibility(coo, chunk=chunk).collect()
        }
        assert got == want
    # x == 0 is always visible (horizon -1, values are non-negative)
    assert all(want[(y, 0)][1] for y in range(h))


def test_hist_equalize_vs_python(spark, coo, dense):
    """Python CDF twin plus the classic invariants: order-preserving
    (monotone in the input value), full range hit (max maps to 255),
    constant raster maps to all-zero."""
    import collections

    h, w = dense.shape
    cnt = collections.Counter(int(v) for v in dense.ravel())
    n = h * w
    cdf_min = cnt[min(cnt)]
    cum, run = {}, 0
    for v in sorted(cnt):
        run += cnt[v]
        cum[v] = run
    remap = {
        v: (cum[v] - cdf_min) * 255 // (n - cdf_min) if n > cdf_min else 0
        for v in cnt
    }
    got = {
        (r.y, r.x): r.eq_value for r in pixel.hist_equalize(coo).collect()
    }
    assert got == {
        (y, x): remap[int(dense[y, x])] for y in range(h) for x in range(w)
    }
    assert max(got.values()) == 255 and min(got.values()) == 0
    ks = sorted(remap)
    assert all(remap[a] <= remap[b] for a, b in zip(ks, ks[1:]))
    c = spark.range(100).selectExpr(
        "id DIV 10 AS y", "id % 10 AS x", "CAST(7 AS BIGINT) AS value"
    )
    rows = pixel.hist_equalize(c).collect()
    assert len(rows) == 100 and all(r.eq_value == 0 for r in rows)


def test_region_sieve_vs_python(spark, sf_correct):
    """Python twin of the one-pass sieve on the union-find ground
    truth: small regions flip to the class of the largest 4-adjacent
    neighbor region (ties -> smallest region id), others are
    untouched."""
    from scidbgeo_spark import model
    from scidbgeo_spark.model import CHUNK as MCHUNK
    from scidbgeo_spark.operators import regions

    coo = model.raster_coo(spark, sf_correct)
    h, w = model.raster_dims(spark, sf_correct)
    lbl = {
        (r.y, r.x): (r.cls, r.region)
        for r in regions.region_label(spark, coo, h, w, MCHUNK).collect()
    }
    from collections import Counter, defaultdict

    n_px = Counter(v[1] for v in lbl.values())
    rcls = {v[1]: v[0] for v in lbl.values()}
    adj = defaultdict(set)
    for (y, x), (_, ra) in lbl.items():
        for dy, dx in ((0, 1), (1, 0)):
            nb = lbl.get((y + dy, x + dx))
            if nb and nb[1] != ra:
                adj[ra].add(nb[1])
                adj[nb[1]].add(ra)
    flip = {}
    for r, cnt in n_px.items():
        if cnt < 3 and adj[r]:
            best = max(adj[r], key=lambda b: (n_px[b], -b))
            flip[r] = rcls[best]
    want = {
        c: flip.get(reg, cls) for c, (cls, reg) in lbl.items()
    }
    got = {
        (r.y, r.x): r.cls_out
        for r in regions.region_sieve(spark, coo, h, w, MCHUNK).collect()
    }
    assert got == want
    # the fixture actually exercises the flip path
    assert flip and any(want[c] != lbl[c][0] for c in want)


def test_focal_var_vs_bruteforce(spark, tiles, dense):
    """Python twin of the local-variance filter: shrinking 3x3 windows,
    nvar = n*S2 - S1^2 exact, var_pop the same double division."""
    h, w = dense.shape
    want = {}
    for y in range(h):
        for x in range(w):
            vs = [
                int(dense[y + dy, x + dx])
                for dy in (-1, 0, 1)
                for dx in (-1, 0, 1)
                if 0 <= y + dy < h and 0 <= x + dx < w
            ]
            n, s1 = len(vs), sum(vs)
            nvar = n * sum(v * v for v in vs) - s1 * s1
            want[(y, x)] = (n, s1, nvar, nvar / (n * n))
    got = {
        (r.y, r.x): (r.n_cells, r.sum_v, r.nvar, r.var_pop)
        for r in focal.focal_var_coo(tiles, h, w, CHUNK).collect()
    }
    assert got == want
    assert all(v[2] >= 0 for v in want.values())


def test_focal_var_constant_field_zero(spark):
    """A constant field has zero variance everywhere (and nvar == 0
    exactly — no cancellation residue in the integer encoding)."""
    c = spark.range(100).selectExpr(
        "id DIV 10 AS y", "id % 10 AS x", "CAST(7 AS BIGINT) AS value"
    )
    t = tiling.pack_tiles(c, 5, 10, 10)
    rows = focal.focal_var_coo(t, 10, 10, 5).collect()
    assert len(rows) == 100
    assert all(r.nvar == 0 and r.var_pop == 0.0 for r in rows)


def test_band_argmax_vs_python_and_ties(spark, sf_smoke):
    """Python twin of the max-value composite + a constructed tie frame
    pinning the ties-to-smallest-band contract."""
    from scidbgeo_spark.operators import temporal

    coo3 = model.raster3_coo(spark, sf_smoke)
    series = {}
    for r in coo3.collect():
        series.setdefault((r.y, r.x), []).append((r.band, r.value))
    want = {}
    for c, tv in series.items():
        best_v = max(v for _, v in tv)
        best_b = min(b for b, v in tv if v == best_v)
        want[c] = (best_b, best_v)
    got = {
        (r.y, r.x): (r.best_band, r.best_value)
        for r in temporal.band_argmax(coo3).collect()
    }
    assert got == want
    # explicit tie: bands 0..3 all value 5 except band 2 dips -> band 0
    tie = spark.createDataFrame(
        [(b, 0, 0, 5 if b != 2 else 1) for b in range(4)],
        "band long, y long, x long, value long",
    )
    [r] = temporal.band_argmax(tie).collect()
    assert (r.best_band, r.best_value) == (0, 5)


def test_gap_fill_vs_python(spark, sf_smoke):
    """Python LOCF twin on the smoke 3-D raster: mask value%10==0,
    carry the last unmasked value along bands, -1 before any
    observation; non-gap rows pass their own value through."""
    from scidbgeo_spark.operators import temporal

    coo3 = model.raster3_coo(spark, sf_smoke)
    series = {}
    for r in coo3.collect():
        series.setdefault((r.y, r.x), []).append((r.band, r.value))
    want = {}
    for (y, x), tv in series.items():
        tv.sort()
        carry = -1
        for b, v in tv:
            if v % 10 != 0:
                carry = v
            want[(b, y, x)] = (carry, v % 10 == 0)
    got = {
        (r.band, r.y, r.x): (r.filled, r.is_gap)
        for r in temporal.gap_fill(coo3).collect()
    }
    assert got == want
    # the fixture exercises all three regimes
    assert any(f == -1 for f, _ in want.values())
    assert any(g for _, g in want.values()) and any(
        not g for _, g in want.values()
    )


def test_edge_density_vs_bruteforce(spark, tiles, dense):
    """Python twin of the rook class-adjacency matrix + the edge-total
    identity sum(n_edges) == h*(w-1) + (h-1)*w."""
    h, w = dense.shape
    want = {}
    for y in range(h):
        for x in range(w):
            for dy, dx in ((0, 1), (1, 0)):
                yy, xx = y + dy, x + dx
                if yy < h and xx < w:
                    a, b = int(dense[y, x]) // 86, int(dense[yy, xx]) // 86
                    k = (min(a, b), max(a, b))
                    want[k] = want.get(k, 0) + 1
    got = {
        (r.cls_a, r.cls_b): r.n_edges
        for r in focal.edge_density_coo(tiles, h, w, CHUNK).collect()
    }
    assert got == want
    assert sum(got.values()) == h * (w - 1) + (h - 1) * w


def test_integral_image_vs_numpy(spark, coo, dense):
    """NumPy cumsum twin of the distributed summed-area table + the
    grand-total identity and chunk invariance (the tile decomposition
    must be invisible)."""
    h, w = dense.shape
    sat = dense.astype(np.int64).cumsum(axis=0).cumsum(axis=1)
    base = None
    for chunk in (7, 50):
        t = tiling.pack_tiles(coo, chunk, h, w)
        got = {
            (r.y, r.x): r.sat
            for r in pixel.integral_image(t, h, w, chunk).collect()
        }
        assert got == {
            (y, x): int(sat[y, x]) for y in range(h) for x in range(w)
        }
        base = got if base is None else base
        assert got == base
    assert got[(h - 1, w - 1)] == int(dense.sum())


def test_zonal_ivm_apply_equals_recompute(spark, sf_smoke):
    """The IVM contract: applying an additive delta to the materialized
    base aggregate == full recompute over the updated raster; the merge
    plan never rescans the base raster (single base scan)."""
    coo = model.raster_coo(spark, sf_smoke)
    h, w = model.raster_dims(spark, sf_smoke)
    zt = zonal.rasterize_polygons(
        spark, fixtures.rect_grid_polygons(h, w), h, w, CHUNK
    )
    zones_coo = tiling.tiles_to_coo(zt.withColumnRenamed("zid", "px"), "id")
    base = zonal.zonal_sums(coo, zones_coo)
    eid = F.col("y") * w + F.col("x")
    delta = coo.filter(eid % 7 == 0).select(
        "y", "x", ((eid * 31) % 11).alias("dv")
    )
    got = {
        r.id: (r.sum_value, r.count_value, r.avg_value)
        for r in zonal.zonal_ivm_apply(base, delta, zones_coo).collect()
    }
    updated = (
        coo.alias("c")
        .join(delta.alias("d"), ["y", "x"], "left")
        .select(
            "y",
            "x",
            (F.col("value") + F.coalesce(F.col("dv"), F.lit(0))).alias("value"),
        )
    )
    want = {
        r.id: (r.sum_value, r.count_value)
        for r in zonal.zonal_sums(updated, zones_coo).collect()
    }
    assert {k: (v[0], v[1]) for k, v in got.items()} == want
    assert all(abs(v[2] - v[0] / v[1]) < 1e-12 for v in got.values())
    # at least one zone actually changed
    before = {r.id: r.sum_value for r in base.collect()}
    assert any(before[k] != v[0] for k, v in got.items())


def test_coregister_recovers_planted_shift(spark, sf_smoke):
    """Python twin of the 25-offset agreement scan + recovery identity:
    the planted (+1,+2) wrap-shift is found at offset (-1,-2) with a
    full in-range match (every other offset scores zero on the
    collision-free hash raster)."""
    from scidbgeo_spark.model import VALUE_MOD, VALUE_MULT

    coo = model.raster_coo(spark, sf_smoke)
    h, w = model.raster_dims(spark, sf_smoke)
    eid = np.arange(h * w, dtype=np.int64)
    a = ((eid * VALUE_MULT) % VALUE_MOD).reshape(h, w)
    sid = ((eid // w + 1) % h) * w + (eid % w + 2) % w
    b = ((sid * VALUE_MULT) % VALUE_MOD).reshape(h, w)
    want = {}
    for dy in range(-2, 3):
        for dx in range(-2, 3):
            ys = np.arange(h)
            xs = np.arange(w)
            yy, xx = np.meshgrid(ys, xs, indexing="ij")
            by, bx = yy + dy, xx + dx
            ok = (by >= 0) & (by < h) & (bx >= 0) & (bx < w)
            n = int((a[yy[ok], xx[ok]] == b[by[ok], bx[ok]]).sum())
            if n:
                want[(dy, dx)] = n
    av = spark.createDataFrame(
        [(int(y), int(x), int(v)) for (y, x), v in np.ndenumerate(a)],
        "y long, x long, value long",
    )
    bv = spark.createDataFrame(
        [(int(y), int(x), int(v)) for (y, x), v in np.ndenumerate(b)],
        "y long, x long, value long",
    )
    rows = pixel.coregister_shift(av, bv).collect()
    got = {(r.dy, r.dx): r.n_match for r in rows}
    assert got == want
    best = [(r.dy, r.dx) for r in rows if r.is_best]
    assert best == [(-1, -2)]
    # full in-range match: b's (y-1, x-2) target exists for y>=1, x>=2
    assert got[(-1, -2)] == (h - 1) * (w - 2)


def test_regrid_area_vs_python(spark):
    """Exact parity with a pure-Python area-weighted regrid on a ragged
    7x9 raster at ratio 5/4, plus mass conservation: sum(value*w) over
    all targets equals sum(value)*q*q (every source unit of area lands
    somewhere)."""
    import random as _r

    rng = _r.Random(4113)
    h, w, p, q = 7, 9, 5, 4
    vals = {(y, x): rng.randint(-50, 100) for y in range(h) for x in range(w)}
    coo = spark.createDataFrame(
        [(y, x, v) for (y, x), v in vals.items()], "y long, x long, value long"
    )
    got = {
        (r.y, r.x): r.value_avg
        for r in pixel.regrid_area(coo, p=p, q=q).collect()
    }
    num, den = {}, {}
    for (y, x), v in vals.items():
        for ty in range((y * q) // p, (y * q + q - 1) // p + 1):
            wy = min(y * q + q, (ty + 1) * p) - max(y * q, ty * p)
            for tx in range((x * q) // p, (x * q + q - 1) // p + 1):
                wx = min(x * q + q, (tx + 1) * p) - max(x * q, tx * p)
                num[(ty, tx)] = num.get((ty, tx), 0) + v * wy * wx
                den[(ty, tx)] = den.get((ty, tx), 0) + wy * wx
    assert set(got) == set(num)
    for k in got:
        assert got[k] == num[k] / den[k], k
    assert sum(den.values()) == h * w * q * q  # mass conservation


def test_interval_join_vs_bruteforce_and_broadcast(spark):
    """Bucket replication recovers exactly the brute-force containment
    pair set — boundary semantics [t0, t1) included — and the interval
    side reaches the events via broadcast."""
    import random as _r

    from scidbgeo_spark.operators import temporal

    rng = _r.Random(4114)
    B = temporal.IV_BUCKET_US
    evs = []
    for i in range(200):
        t = 1704067200000000 + rng.randrange(0, 50 * B)
        evs.append((i, t // 1000000, i % 7, t))
    # force exact-boundary events
    evs.append((200, 0, 0, 1704067200000000 + 3 * B))
    ev_df = spark.createDataFrame(
        [(e, u, t) for e, _s, u, t in evs], "event_id long, user_id long, t long"
    ).select(
        "event_id",
        "user_id",
        F.expr("timestampadd(MICROSECOND, t, TIMESTAMP_NTZ '1970-01-01 00:00:00')").alias(
            "ts"
        ),
    )
    ivs = []
    for j in range(15):
        t0 = 1704067200000000 + rng.randrange(0, 48 * B)
        ivs.append((j, t0, t0 + rng.randrange(1, temporal.IV_MAX_LEN_US)))
    ivs.append((15, 1704067200000000 + 3 * B, 1704067200000000 + 4 * B))
    iv_df = spark.createDataFrame(ivs, "iv_id long, t0_us long, t1_us long")
    out = temporal.interval_join(ev_df, iv_df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    got = {(r.event_id, r.iv_id) for r in out.collect()}
    expect = {
        (e, j)
        for e, _s, _u, t in evs
        for j, t0, t1 in ivs
        if t0 <= t < t1
    }
    assert got == expect
    assert (200, 15) in got  # t == t0 boundary included


def test_theil_sen_and_decayed_counts_vs_python(spark):
    """Dense-spine pairwise-slope median and the dyadic decay numerator
    both match a pure-Python fold on a small synthetic stream with
    missing hours and >40h-old events."""
    from scidbgeo_spark.operators import temporal

    import random as _r

    rng = _r.Random(4115)
    rows = []
    eid = 0
    base_us = 1704067200000000
    for _ in range(500):
        ty = rng.choice(["a", "b"])
        h = rng.choice(list(range(0, 30)) + list(range(100, 230)))  # gaps + old
        rows.append((eid, ty, base_us + h * 3600000000 + rng.randrange(3600000000)))
        eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, t long"
    ).select(
        "event_id",
        "event_type",
        F.expr("timestampadd(MICROSECOND, t, TIMESTAMP_NTZ '1970-01-01 00:00:00')").alias(
            "ts"
        ),
    )
    hours = [(ty, t // 3600000000) for _e, ty, t in rows]
    hmax = max(h for _t, h in hours)
    # --- theil_sen twin
    W = temporal.TS_WINDOW_H
    got_ts = {
        r.event_type: (r.slope_per_hour, r.n_pairs)
        for r in temporal.theil_sen(ev).collect()
    }
    import statistics

    for ty in ("a", "b"):
        cnt = [0] * W
        for t, h in hours:
            if t == ty and h > hmax - W:
                cnt[hmax - h] += 1
        slopes = sorted(
            (cnt[i] - cnt[j]) / (j - i) for i in range(W) for j in range(i + 1, W)
        )
        assert len(slopes) % 2 == 1
        med = slopes[len(slopes) // 2]
        assert got_ts[ty] == (med, len(slopes)), ty
    # --- decayed_counts twin
    got_dc = {
        r.event_type: (r.decayed, r.n_events)
        for r in temporal.decayed_counts(ev).collect()
    }
    for ty in ("a", "b"):
        num = sum(
            1 << (40 - min(hmax - h, 40)) for t, h in hours if t == ty
        )
        n = sum(1 for t, _h in hours if t == ty)
        assert got_dc[ty] == (num / float(1 << 40), n), ty


def test_gaussian_blur_separable_equals_direct_numpy(spark):
    """The two-pass separable plan equals a NumPy 2-D binomial
    convolution with zero padding, bit-exactly, including all four
    edges and corners."""
    import random as _r

    rng = _r.Random(4119)
    h, w = 9, 13
    arr = np.array(
        [[rng.randint(-100, 100) for _ in range(w)] for _ in range(h)],
        dtype=np.int64,
    )
    coo = spark.createDataFrame(
        [(y, x, int(arr[y, x])) for y in range(h) for x in range(w)],
        "y long, x long, value long",
    )
    got = {
        (r.y, r.x): r.blur16 for r in pixel.gaussian_blur(coo, h, w).collect()
    }
    k = np.array([1, 2, 1], dtype=np.int64)
    pad = np.zeros((h + 2, w + 2), dtype=np.int64)
    pad[1:-1, 1:-1] = arr
    expect = np.zeros((h, w), dtype=np.int64)
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            expect += (
                k[dy + 1] * k[dx + 1] * pad[1 + dy : 1 + dy + h, 1 + dx : 1 + dx + w]
            )
    assert got == {
        (y, x): int(expect[y, x]) for y in range(h) for x in range(w)
    }
    # interior mass: a constant raster blurs to 16x itself away from edges
    const = spark.createDataFrame(
        [(y, x, 7) for y in range(5) for x in range(5)], "y long, x long, value long"
    )
    gc = {(r.y, r.x): r.blur16 for r in pixel.gaussian_blur(const, 5, 5).collect()}
    assert gc[(2, 2)] == 112  # 16 * 7


def test_zonal_weighted_vs_python_and_zero_mass(spark):
    """Weighted zonal mean and zonal argmax match a python fold over the
    ray-cast kernel's zone ids; a zone whose weight mass is zero yields
    NULL wavg (no division blow-up).  At h=45, w=50 the zone size (20)
    divides neither side: cells below the last full zone row or right
    of the last full zone column are -999, never the next zone row."""
    h, w = 45, 50
    rows = []
    for y in range(h):
        for x in range(w):
            va = (y * w + x) * 7 % 50
            vb = 0 if (y < 20 and x < 20) else (y + x) % 9
            rows.append((y, x, va, vb))
    coo = spark.createDataFrame(rows, "y long, x long, va long, vb long")
    zt = zonal.rasterize_polygons(spark, fixtures.rect_grid_polygons(h, w), h, w, CHUNK)
    zone = {
        (r.y, r.x): r.id
        for r in tiling.tiles_to_coo(zt.withColumnRenamed("zid", "px"), "id").collect()
    }
    agg, best = {}, {}
    for y, x, va, vb in rows:
        zid = zone[(y, x)]
        s = agg.setdefault(zid, [0, 0, 0])
        s[0] += va * vb
        s[1] += vb
        s[2] += 1
        best[zid] = max(best.get(zid, (va, -y, -x)), (va, -y, -x))
    got = {
        r.id: (r.wsum, r.wtot, r.n, r.wavg)
        for r in zonal.zonal_weighted(coo, h, w).collect()
    }
    expect = {
        z: (s[0], s[1], s[2], (s[0] / s[1]) if s[1] > 0 else None)
        for z, s in agg.items()
    }
    assert got == expect
    assert got[0][3] is None  # the all-zero-weight zone
    got = {
        r.id: (r.max_value, -r.max_y, -r.max_x)
        for r in zonal.zonal_argmax(coo.withColumnRenamed("va", "value"), h, w).collect()
    }
    assert got == best


def test_matmul_coo_vs_numpy(spark):
    """Sparse COO matmul equals the dense NumPy product on random
    small signed matrices (zero cells dropped = sparse semantics)."""
    import random as _r

    rng = _r.Random(4120)
    m, kk, n = 7, 9, 6
    A = np.array([[rng.randint(-9, 9) for _ in range(kk)] for _ in range(m)])
    B = np.array([[rng.randint(-9, 9) for _ in range(n)] for _ in range(kk)])
    a = spark.createDataFrame(
        [(i, k, int(A[i, k])) for i in range(m) for k in range(kk)],
        "i long, k long, v long",
    )
    b = spark.createDataFrame(
        [(k, j, int(B[k, j])) for k in range(kk) for j in range(n)],
        "k long, j long, w long",
    )
    got = {(r.i, r.j): r.val for r in pixel.matmul_coo(a, b).collect()}
    C = A @ B
    expect = {
        (i, j): int(C[i, j]) for i in range(m) for j in range(n)
    }
    assert got == expect


def test_events_ohlc_tiebreak_on_event_id(spark):
    """Two events at the IDENTICAL timestamp: open/close pick by
    event_id under the total order, matching the oracle's row_number
    twins."""
    from scidbgeo_spark.operators import temporal

    rows = [
        (2, "a", 1000, 5.0),   # same ts, higher id
        (1, "a", 1000, 3.0),   # same ts, lower id -> open
        (3, "a", 1100, 9.0),   # latest in the same 15-min bucket -> close
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, sec long, value double"
    ).select(
        "event_id",
        "event_type",
        F.col("sec").cast("timestamp").cast("timestamp_ntz").alias("ts"),
        "value",
    )
    [r] = temporal.events_ohlc(ev).collect()
    assert (r.open, r.high, r.low, r.close, r.n) == (3.0, 9.0, 3.0, 9.0, 3)


def test_rasterize_rect_grid_jvm_matches_kernel_path(spark):
    """The JVM codegen fast path for the full-grid rectangle layer is
    bit-identical to the ray-cast kernel on rasterize_polygons — tile
    keys, geometry columns, and every zid element, including rasters
    whose extent does not divide evenly by the zone size (trailing
    pixels burn to the nodata zone on both paths).  The shared rule,
    rect_zone over every (y, x), equals the kernel tiles unpacked."""
    for h, w, ch in [(100, 100, 50), (130, 97, 50), (45, 60, 32), (20, 20, 50)]:
        kernel = zonal.rasterize_polygons(
            spark, fixtures.rect_grid_polygons(h, w), h, w, ch
        )
        want = {
            (r.tile_y, r.tile_x, r.y0, r.x0, r.h, r.w): list(r.zid)
            for r in kernel.collect()
        }
        got = {
            (r.tile_y, r.tile_x, r.y0, r.x0, r.h, r.w): list(r.zid)
            for r in zonal.rasterize_rect_grid(
                spark, h, w, ch, fixtures.ZONE_H, fixtures.ZONE_W
            ).collect()
        }
        assert got == want, (h, w, ch)
        cells = spark.range(h * w).select(
            F.expr(f"id DIV {w}").alias("y"), (F.col("id") % w).alias("x")
        )
        zone = zonal.rect_zone(h, w, fixtures.ZONE_H, fixtures.ZONE_W)
        got = {(r.y, r.x): r.id for r in cells.select("y", "x", zone.alias("id")).collect()}
        want = {
            (r.y, r.x): r.id
            for r in tiling.tiles_to_coo(kernel.withColumnRenamed("zid", "px"), "id").collect()
        }
        assert got == want, (h, w)
